package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Moments
import graft.operators.SparkTestSession
import graft.functions.aggregators.stats_agg

class MomentsDeclarativeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val fields = Seq("count", "sum_of_weights", "mean", "min", "max",
    "sum", "variance", "std", "skewness", "kurtosis")

  /** The scalar reference: (value, weight) rows pushed into one
    * local `core.Moments`, skipping the rows `stats_agg` skips.
    */
  private def reference(rows: Seq[(Double, Double)], ddof: Int): Seq[Double] = {
    val m = new Moments()
    rows.foreach { case (v, w) =>
      if (!v.isNaN && !w.isNaN) { if (w == 1.0) m.add(v) else m.add(v, w) }
    }
    Seq(m.count.toDouble, m.sumW, m.meanOrNaN, m.minOrNaN, m.maxOrNaN,
      if (m.count == 0) Double.NaN else m.sum, m.variance(ddof), m.std(ddof),
      m.skewness, m.kurtosis)
  }

  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  test("declarative moments equal the scalar Moments fold") {
    val rng = new scala.util.Random(13)
    // groups 0-5 hold 5000 weighted rows; group 6 holds only NaN values
    val rows = Seq.fill(5000)((rng.nextInt(6), rng.nextDouble() * 100 - 20,
      1.0 + rng.nextInt(3))) ++ Seq.fill(20)((6, Double.NaN, 1.0))
    val df = rows.toDF("g", "z", "w").repartition(7)
    for ((weight, unit, ddof) <- Seq((col("w"), false, 0), (col("w"), false, 1),
        (lit(1.0), true, 0), (lit(1.0), true, 1))) {
      val got = df.groupBy("g").agg(stats_agg(col("z"), weight, ddof).as("st"))
        .select(col("g") +: fields.map(f => col(s"st.$f").cast("double")): _*)
        .collect().map(r => r.getInt(0) -> (1 to fields.size).map(r.getDouble))
        .toMap
      assert(got.keySet == (0 to 6).toSet)
      got.foreach { case (g, stats) =>
        val want = reference(rows.collect {
          case (`g`, z, w) => (z, if (unit) 1.0 else w)
        }, ddof)
        fields.indices.foreach { i =>
          assert(close(stats(i), want(i)),
            s"g=$g ${fields(i)} unit=$unit ddof=$ddof: ${stats(i)} vs ${want(i)}")
        }
      }
      assert(got(6).head == 0.0 && got(6).drop(2).forall(_.isNaN), got(6))
    }
  }

  test("declarative moments run as codegen'd HashAggregate") {
    val df = spark.range(1000).select((col("id") % 7).as("g"),
      col("id").cast("double").as("z"))
    val agg = df.groupBy("g").agg(stats_agg(col("z"), lit(1.0)))
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("ObjectHashAggregate"), p)
  }

  test("NaN skipped, empty group yields NaN stats") {
    // a NaN value, a NaN weight, a null weight and a null value are all
    // skipped; group 2 has no row left
    val df = Seq[(Int, java.lang.Double, java.lang.Double)](
      (1, Double.NaN, 1.0), (1, 2.0, 1.0), (1, 4.0, 1.0),
      (1, 8.0, Double.NaN), (1, 16.0, null), (1, null, 1.0),
      (2, Double.NaN, 1.0), (2, null, 2.0)).toDF("g", "z", "w")
    val r = df.groupBy("g").agg(stats_agg(col("z"), col("w")).as("st"))
      .select("g", "st.count", "st.sum_of_weights", "st.mean", "st.sum")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(r(1).getLong(1) == 2L && r(1).getDouble(2) == 2.0 &&
      r(1).getDouble(3) == 3.0 && r(1).getDouble(4) == 6.0, r(1))
    assert(r(2).getLong(1) == 0L && r(2).getDouble(2) == 0.0 &&
      r(2).getDouble(3).isNaN && r(2).getDouble(4).isNaN, r(2))
  }
}
