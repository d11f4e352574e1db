package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** `catalog`: a fixed set of `SparkEntry.queries` leaves on the seed-42
  * sf0.01 fixture, in seed-shuffled order, each timed from the query call
  * through `.count()`.
  */
final class CatalogWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val fixture = Paths.get("perfbench", "fixture", "sf0.01")
  private val sf = ctx.dir("sf")
  private val out = ctx.dir("leaf-out")

  private val leaves: Seq[String] = {
    val set = if (ctx.opts.tiny) CatalogWorkload.TinyLeaves else CatalogWorkload.Leaves
    new scala.util.Random(ctx.opts.seed).shuffle(set)
  }

  def setup(): Unit = {
    ctx.deleteTree(sf)
    Files.createDirectories(Paths.get(sf))
    Files.list(fixture).iterator().asScala.foreach { f =>
      Files.copy(f, Paths.get(sf).resolve(f.getFileName),
        StandardCopyOption.REPLACE_EXISTING)
    }
    spark.read.parquet(s"$sf/lineitem.parquet").count()
  }

  /** Writes every leaf's output for the oracle check (run by `run.py` with
    * `tools/check_oracle.py`); leaves without an oracle get a row count.
    * Leaves run `nproc` at a time: the gate is untimed, and this first
    * execution of each plan is mostly single-threaded driver work.
    */
  def gate(): Unit = {
    val oracle = SparkEntry.oracleSql
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.nproc)
    val results = try {
      leaves.map { name =>
        name -> pool.submit[Option[Long]] { () =>
          try {
            SparkEntry.queries(name)(spark, sf).coalesce(1).write
              .mode("overwrite").parquet(s"$out/$name")
            Some(spark.read.parquet(s"$out/$name").count())
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $name FAILED: $e")
            None
          }
        }
      }.map { case (name, f) => name -> f.get() }
    } finally pool.shutdown()
    results.foreach { case (name, rows) =>
      if (!oracle.contains(name)) {
        val want = CatalogWorkload.RowCounts(name)
        ctx.check(s"catalog.$name.rows", rows.contains(want),
          s"${rows.getOrElse(-1L)} rows, expected $want")
      } else if (rows.isEmpty) {
        ctx.check(s"catalog.$name", ok = false, "query failed")
      }
    }
    val sql = leaves.filter(oracle.contains)
      .map(n => s"${Json.str(n)}: ${Json.str(oracle(n))}").mkString("{", ",", "}")
    Files.writeString(Paths.get(out, "oracle_sql.json"), sql)
    ctx.oracle = Some(
      s"""{"sf":${Json.str(sf)},"out":${Json.str(out)},""" +
        s""""leaves":${leaves.filter(oracle.contains).map(Json.str).mkString("[", ",", "]")}}""")
  }

  /** The gate already ran every leaf once. */
  override def warm(): Unit = ()

  def pass(iter: Int): Unit = leaves.foreach { name =>
    val fn = SparkEntry.queries(name)
    ctx.op(name, iter) { s =>
      val df = s.construct(fn(spark, sf))
      s.action(df.count())
      1L
    }
  }

  def traceLayers(): Unit = CatalogWorkload.Named.foreach { name =>
    ctx.layer(s"leaf.${name}_s",
      Layers.median(ctx.ops.filter(_.kind == name).map(_.seconds).toSeq))
  }
}

object CatalogWorkload {
  /** Leaves that ROADMAP directions D2-D5 target. */
  val Named = Seq("q_fill_gs_biggrid", "q_fill_loess_ref", "q_akima_biggrid",
    "q_bicubic3d_biggrid", "q_ngram_jaccard", "q_simhash_neardup",
    "q_streaming_binning", "q_streaming_sessions", "q_stats_moments",
    "q_knn_join")

  /** The four leaves without a DuckDB oracle, checked by row count. */
  val RowCounts: Map[String, Long] = Map(
    "q_akima_grid" -> 15000L, "q_bicubic_grid" -> 15000L,
    "q_image_features" -> 64L, "q_simhash" -> 500L)

  /** The named leaves and the leaves without an oracle. */
  val Leaves: Seq[String] = Named ++ RowCounts.keys.toSeq.sorted

  /** The smoke test's leaves: one with an oracle, one checked by row count. */
  val TinyLeaves: Seq[String] = Seq("q_stats_moments", "q_image_features")
}
