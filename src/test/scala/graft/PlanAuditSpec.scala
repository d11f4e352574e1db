package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SparkTestSession

/** Physical-plan hygiene: filters and projections reach the parquet
  * scan, small sides broadcast, aggregations run partial+final, and the
  * cell-codec expressions stay inside WholeStageCodegen.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("binning scan prunes columns and codegens the aggregation") {
    val p = plan("q_binning2d_simple")
    // only the three needed columns are read
    assert(p.contains("ReadSchema"))
    assert(p.contains("l_partkey") && p.contains("l_quantity"))
    assert(!p.contains("l_shipdate"), "unneeded column not pruned:\n" + p)
    // (AQE wraps the plan pre-execution, hiding codegen-id markers;
    // the non-AQE geohash test below covers codegen directly)
    // partial + final aggregation with one exchange; the declarative
    // moments aggregate runs as codegen-capable HashAggregate, not the
    // object-buffer ObjectHashAggregate
    assert(p.split("HashAggregate").length >= 3, p)
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(p.split("Exchange").length >= 2, p)

    // stats_agg is the same declarative aggregate: codegen-capable
    // HashAggregate, and the struct's fields read one aggregate whose
    // buffer holds the 9 moment slots once
    val moments = SparkEntry.queries("q_stats_moments")(spark, dir)
    val mp = plan("q_stats_moments")
    assert(mp.contains("HashAggregate") && !mp.contains("ObjectHashAggregate"), mp)
    val aggs = moments.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.size == 2 && aggs.forall(a => a.aggregateExpressions.size == 1 &&
      a.aggregateExpressions.head.aggregateFunction.aggBufferAttributes.size == 9), mp)
  }

  test("geohash expression stays inside whole-stage codegen") {
    val p = plan("q_geohash_encode")
    assert(p.contains("codegen id"), p.take(2000))
    assert(p.toLowerCase.contains("geohashencode"), p.take(2000))
  }

  test("topk cosine broadcasts the item side") {
    val p = plan("q_topk_cosine")
    assert(p.contains("Broadcast"), p.take(3000))
  }

  test("dedup exact pushes the projection to the scan") {
    val p = plan("q_dedup_exact")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("n_chars"), "documents scan should prune n_chars")
  }

  test("range filter is pushed to the parquet scan") {
    val p = plan("q_binning1d_weighted")
    assert(p.contains("PushedFilters") || p.contains("Filter"), p.take(2000))
  }

  test("distributed crossover joins on cells — no cartesian product") {
    val p = plan("q_crossover")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // segments come from an idx+1 self equi-join, cells equi-join after
    assert(p.split("Join").length >= 3, p.take(3000))
  }

  test("linear binning materializes the frame once below the explode") {
    val p = plan("q_binning2d_linear")
    // the Generate's child projects the t/u frame columns, so the
    // floor/pmod chains are not inlined 4x into the generator array
    val gi = p.indexOf("Generate")
    assert(gi >= 0, p.take(2000))
    assert(p.contains(" t#") || p.contains("[t#") || p.contains(", t#"),
      "frame column t not materialized:\n" + p.take(3000))
  }

  test("minhash doc filter is pushed to the documents scan") {
    val p = plan("q_minhash_lsh")
    assert(p.contains("PushedFilters") &&
      p.contains("LessThan(doc_id,200)"), p.take(3000))
  }

  test("hot-bucket guards are partial aggregation, not a count-window") {
    // r3 VERDICT item 2: the guard must plan as HashAggregate (map-side
    // combine -> few hot-bucket rows -> broadcast anti-join), never as a
    // Window over the full banded table (single-task hot-bucket shuffle)
    val simhashPlan = graft.operators.Dedup.simhashPairs(
      spark.read.parquet(dir + "/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id") < 200),
      "doc_id", "text").queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val plans = Seq("q_minhash_lsh", "q_embedding_neardup")
      .map(q => q -> plan(q)) :+ ("simhashPairs" -> simhashPlan)
    for ((q, p) <- plans) {
      assert(!p.contains("Window"), s"$q guard still a window:\n" +
        p.take(3000))
      assert(p.contains("HashAggregate"), s"$q:\n" + p.take(2000))
      assert(p.contains("LeftAnti"), s"$q missing anti-join:\n" +
        p.take(2000))
    }
  }

  test("period ops are window + single-shuffle aggregates, no cartesian") {
    for (q <- Seq("q_period_intersect", "q_period_cross",
        "q_period_duration")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(2000))
    }
  }

  test("geodesic distance query is a single narrow map stage") {
    val p = plan("q_geodesic_distance")
    assert(!p.contains("Exchange"), "unexpected shuffle:\n" + p.take(3000))
  }

  test("grid-as-table bilinear is a distributed join plan, no grid scan") {
    // the logical plan must be pure joins/aggregates over the cell table —
    // proof the lattice is never collected: a driver collect would appear
    // as a LocalRelation/LocalTableScan of lattice rows instead
    val df = SparkEntry.queries("q_bilinear_biggrid")(spark, dir)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.split("Join").length >= 3, p.take(3000)) // corner join + reassembly
    assert(!p.contains("LocalTableScan"), "lattice was collected:\n" +
      p.take(3000))
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      p.take(3000))
  }

  test("grid-as-table windowed paths: tile-halo cogroup, NO per-probe " +
      "stencil explode, no grid collect") {
    // the windowed table paths co-group probes and cells by window tile:
    // the plan must show the CoGroup and must NOT fan each probe out to
    // its 36/72/144 stencil keys (a Generate/explode over the probe
    // table — the r4 shuffle-amplification shape this replaced)
    for (q <- Seq("q_bicubic_biggrid", "q_bicubic_biggrid_seam",
        "q_bicubic_irregular", "q_bicubic3d_biggrid",
        "q_bicubic3d_irregular", "q_bicubic4d_biggrid",
        "q_bicubic4d_irregular")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!p.contains("LocalTableScan"), s"$q lattice was collected:\n" +
        p.take(3000))
      assert(p.contains("CoGroup"), s"$q tile-halo cogroup missing:\n" +
        p.take(3000))
      assert(!p.contains("Generate"), s"$q per-probe stencil explode " +
        "reappeared:\n" + p.take(3000))
    }
  }

  test("GEOMETRIC grid-as-table paths keep the small corner join") {
    // 4/8/16-corner fan-out is the right shape for the geometric paths;
    // the seam variants must keep the same join shape (pmod keys only)
    for (q <- Seq("q_quadrilinear_biggrid", "q_trilinear_biggrid",
        "q_trilinear_biggrid_seam", "q_quadrilinear_seam")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.split("Join").length >= 3, s"$q:\n" + p.take(3000))
      assert(!p.contains("LocalTableScan"), s"$q lattice was collected:\n" +
        p.take(3000))
      assert(p.contains("Generate"), s"$q corner explode missing:\n" +
        p.take(3000))
    }
  }

  test("big-probe ANN carries no user broadcast hint (shuffle-join shape)") {
    // broadcastQueryBytes = 0 must produce a plan whose joins were chosen
    // by Catalyst, not forced by broadcast(): no ResolvedHint survives
    // analysis, and the physical joins are hash/sort-merge equi-joins
    val df = SparkEntry.queries("q_ann_lsh_big_probe")(spark, dir)
    val analyzed = df.queryExecution.analyzed.toString()
    assert(!analyzed.contains("ResolvedHint"),
      "explicit broadcast hint in big-probe ANN:\n" + analyzed.take(2000))
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("small-probe ANN still broadcasts the query side") {
    val df = SparkEntry.queries("q_ann_lsh_cosine")(spark, dir)
    val analyzed = df.queryExecution.analyzed.toString()
    assert(analyzed.contains("ResolvedHint"),
      "small-probe ANN lost its broadcast fast path")
  }
}
