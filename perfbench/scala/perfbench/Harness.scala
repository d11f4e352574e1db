package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Options passed by `run.py`. `scale` is `full` for the benchmark and
  * `tiny` for the smoke test; `injectFault` makes the first correctness
  * check of the workload fail, to prove that failures are counted.
  */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: Path, scale: String,
                      injectFault: Boolean) {
  def tiny: Boolean = scale == "tiny"
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")),
      m.getOrElse("--scale", "full"), m.getOrElse("--inject-fault", "0") == "1")
  }
}

/** One completed timed operation. */
final case class Op(kind: String, seconds: Double, items: Long,
                    constructS: Double, actionS: Double)

/** A timed operation with its engine totals and wall-clock window. */
final case class TracedOp(op: Op, stats: OpStats, startMs: Long, endMs: Long,
                          constructEndMs: Long)

/** Marks the construction and action parts of one operation. */
final class OpScope(ctx: Ctx, val opSpan: Int, val iter: Int) {
  var constructS = 0.0
  var actionS = 0.0
  var constructEndMs = 0L

  def construct[T](f: => T): T = {
    val (v, s) = ctx.span("construct", opSpan, iter)(f)
    constructS += s
    constructEndMs = System.currentTimeMillis()
    v
  }

  def action[T](f: => T): T = {
    val (v, s) = ctx.span("action", opSpan, iter)(f)
    actionS += s
    v
  }
}

/** State shared by the workloads: the session, the option set, the timed
  * operations, the correctness checks, and (traced run) the engine totals
  * and per-layer metrics.
  */
final class Ctx(val spark: SparkSession, val opts: Opts) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val spans = new Spans
  val rootSpan: Int = spans.add("run", System.currentTimeMillis(), 0L, 0, 0)
  val setupS = ArrayBuffer[Double]()
  val ops = ArrayBuffer[Op]()
  var failedOps = 0
  var checks = 0
  val checkFailures = ArrayBuffer[String]()
  /** Per-layer metrics of the traced run, by name. */
  val layers = mutable.LinkedHashMap[String, Double]()
  /** Catalog outputs for `run.py` to check with the DuckDB oracle (JSON). */
  var oracle: Option[String] = None
  var tracer: Option[EngineTracer] = None
  /** Engine totals of every traced operation. */
  val traced = ArrayBuffer[TracedOp]()
  var tracedPasses = 0
  /** Set during the untimed warm-up pass. */
  var warming = false
  private var faultInjected = false
  private var opSeq = 0

  def span[T](name: String, parent: Int, iter: Int)(f: => T): (T, Double) = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val v = f
    val s = (System.nanoTime() - t0) / 1e9
    spans.add(name, ms0, System.currentTimeMillis(), parent, iter)
    (v, s)
  }

  /** Times one set-up repetition. */
  def setup[T](f: => T): T = {
    val (v, s) = span("setup", rootSpan, setupS.size)(f)
    setupS += s
    v
  }

  /** A correctness check. Failures are counted, never timed. */
  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    checks += 1
    val pass = ok && !(opts.injectFault && !faultInjected)
    if (opts.injectFault) faultInjected = true
    if (!pass) {
      checkFailures += s"$name: $detail"
      System.err.println(s"[perfbench] check FAILED $name: $detail")
    }
    pass
  }

  /** Runs one timed operation; `body` returns the items it completed. A
    * thrown operation counts as failed and records no latency.
    */
  def op(kind: String, iter: Int)(body: OpScope => Long): Option[Long] = {
    opSeq += 1
    val group = s"perfbench-$opSeq"
    val sc = spark.sparkContext
    sc.setJobGroup(group, s"$kind#$iter", interruptOnCancel = false)
    val ms0 = System.currentTimeMillis()
    val opSpan = spans.add(kind, ms0, 0L, rootSpan, iter)
    val scope = new OpScope(this, opSpan, iter)
    val compile0 = CodeGenerator.compileTime
    val compilations0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    tracer.foreach(_.begin(group))
    val t0 = System.nanoTime()
    val result = try Some(body(scope)) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $kind#$iter FAILED: $e")
        None
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    sc.clearJobGroup()
    spans.close(opSpan, ms1)
    val stats = tracer.map(_.end())
    if (!warming) result match {
      case Some(items) =>
        val op = Op(kind, seconds, items, scope.constructS, scope.actionS)
        ops += op
        stats.foreach { st =>
          st.compileNs = CodeGenerator.compileTime - compile0
          st.compilations =
            CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compilations0
          st.stages.foreach { case (s, e, _) =>
            spans.add("stage", s, e, opSpan, iter)
          }
          traced += TracedOp(op, st, ms0, ms1, scope.constructEndMs)
        }
      case None => failedOps += 1
    }
    result
  }

  /** Repeats `pass` until `opts.seconds` have elapsed and at least
    * `minPasses` passes ran.
    */
  def timedPasses(minPasses: Int)(pass: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < minPasses || (System.nanoTime() - t0) / 1e9 < opts.seconds) {
      pass(n)
      n += 1
    }
    n
  }

  def dir(name: String): String = opts.work.resolve(name).toString

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
  }

  def layer(name: String, v: Double): Unit = layers(name) = v
}

object Harness {

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    Files.createDirectories(opts.work)
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = session(nproc, opts.work)
    val ctx = new Ctx(spark, opts)
    val workload: Workload = opts.workload match {
      case "tile" => new TileWorkload(ctx)
      case "join" => new JoinWorkload(ctx)
      case "catalog" => new CatalogWorkload(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    def phase(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      System.err.println(f"[perfbench] $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    phase("setup") {
      // one untimed set-up loads classes and compiles the hot code, so the
      // timed repetitions measure set-up work rather than JVM warm-up
      workload.setup()
      (0 until 3).foreach(_ => ctx.setup(workload.setup()))
    }
    phase("gate") {
      try workload.gate() catch {
        case e: Exception => ctx.check("gate", ok = false, e.toString)
      }
    }
    phase("warm-up") {
      ctx.warming = true
      workload.warm()
      ctx.warming = false
    }
    phase("timed") {
      if (opts.trace) {
        // Alternate untraced and traced passes so the tracing overhead is
        // measured on the same host window as the traced figures.
        val tracer = new EngineTracer(spark)
        var untracedS = 0.0
        var untracedItems = 0L
        var tracedS = 0.0
        var tracedItems = 0L
        ctx.timedPasses(minPasses = 2) { i =>
          val before = ctx.ops.size
          val traced = i % 2 == 1
          if (traced) { tracer.attach(); ctx.tracer = Some(tracer) }
          workload.pass(i)
          if (traced) {
            tracer.detach(); ctx.tracer = None; ctx.tracedPasses += 1
          }
          val done = ctx.ops.drop(before)
          if (traced) {
            tracedS += done.map(_.seconds).sum; tracedItems += done.map(_.items).sum
          } else {
            untracedS += done.map(_.seconds).sum
            untracedItems += done.map(_.items).sum
          }
        }
        ctx.layer("engine.trace_overhead",
          if (untracedItems == 0 || tracedItems == 0) 0.0
          else (untracedItems / untracedS) / (tracedItems / tracedS))
        Layers.engine(ctx)
        workload.traceLayers()
      } else {
        ctx.timedPasses(minPasses = 1)(workload.pass)
      }
    }
    ctx.spans.close(ctx.rootSpan, System.currentTimeMillis())
    if (opts.trace)
      Files.writeString(opts.work.resolve("spans.json"), ctx.spans.toJson)
    println("PERFBENCH " + resultJson(ctx))
    try spark.stop() catch { case _: Throwable => () }
  }

  private def resultJson(ctx: Ctx): String = {
    val ops = ctx.ops.map { o =>
      s"""{"kind":${Json.str(o.kind)},"s":${o.seconds},"items":${o.items}}"""
    }.mkString("[", ",", "]")
    val layers = ctx.layers.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    val failures = ctx.checkFailures.map(Json.str).mkString("[", ",", "]")
    s"""{"setup_s":${ctx.setupS.mkString("[", ",", "]")},"ops":$ops,""" +
      s""""failed_ops":${ctx.failedOps},"checks":${ctx.checks},""" +
      s""""check_failures":$failures,"layers":$layers,""" +
      ctx.oracle.map(o => s""""oracle":$o,""").getOrElse("") +
      s""""nproc":${ctx.nproc}}"""
  }
}

/** A benchmark workload: set-up, a correctness gate and a warm-up outside
  * the timed passes, then timed passes.
  */
trait Workload {
  /** Writes the workload's inputs; repeated, and timed as `setup_s`. */
  def setup(): Unit
  def gate(): Unit
  /** One untimed pass, so the timed passes start with compiled hot code. */
  def warm(): Unit = pass(-1)
  def pass(iter: Int): Unit
  def traceLayers(): Unit
}
