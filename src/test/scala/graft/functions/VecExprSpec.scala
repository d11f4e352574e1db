package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import graft.operators.{Dedup, Similarity, SparkTestSession}

/** Bit-exactness of the fused vector kernels (r7 optimization) against
  * the higher-order-function Column forms they replaced: same IEEE op
  * order, same null/empty behavior — the frozen DuckDB oracles depend
  * on the results being IDENTICAL, not merely close.
  */
class VecExprSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def h(a: Long, b: Long): Double = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)).toDouble / Long.MaxValue.toDouble
  }

  private def vecs(n: Int, dims: Int) =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dims)(d => (h(i, d) * 3.7).toFloat))
    }.toDF("id", "embedding")

  test("CosineSimilarity is bit-identical to the dot/norm HOF chain") {
    val df = vecs(200, 64)
    val pairs = df.select(col("id").as("ia"), col("embedding").as("ea"))
      .crossJoin(df.select(col("id").as("ib"), col("embedding").as("eb")))
      .filter(col("ia") < col("ib") && (col("ib") - col("ia")) % 37 === 0)
    val hof = Similarity.dot(col("ea").cast("array<double>"),
        col("eb").cast("array<double>")) /
      (Similarity.norm(col("ea").cast("array<double>")) *
        Similarity.norm(col("eb").cast("array<double>")))
    val bad = pairs.select(
        Similarity.cosine(col("ea"), col("eb")).as("fused"), hof.as("hof"))
      .filter(col("fused") =!= col("hof")).count()
    assert(bad == 0L)
  }

  test("LshBucket is bit-identical to the per-plane HOF form") {
    val df = vecs(500, 48)
    val planes = 6; val dims = 48
    for (seed <- Seq(42L, 42L + 7919L, 42L + 3 * 7919L)) {
      val m = Similarity.planeMatrix(planes, dims, seed)
      val hof = (0 until planes).map { p =>
        val proj = aggregate(
          zip_with(col("embedding").cast("array<double>"),
            typedLit(m(p).toSeq), (x, hh) => x * hh),
          lit(0.0d), (acc, x) => acc + x)
        when(proj >= 0, lit(1L << p)).otherwise(0L)
      }.reduce(_ + _)
      val bad = df.select(
          Similarity.lshBucket(col("embedding"), planes, dims, seed)
            .as("fused"), hof.as("hof"))
        .filter(col("fused") =!= col("hof")).count()
      assert(bad == 0L, s"seed $seed")
    }
  }

  test("JaccardCoeff equals intersect/union ratio on distinct arrays") {
    // NOTE: no pair of BOTH-empty shingle arrays here — that divides by
    // zero, which ANSI mode turns into an error in the Column form and
    // in the fused kernel alike (pinned separately below)
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g x"),
      (3L, "p q r s"), (4L, "x y"), (6L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(col("text"), 2)
    val withSh = docs.select(col("doc_id").as("id"), sh.as("sh"))
    val pairs = withSh.select(col("id").as("ia"), col("sh").as("sa"))
      .crossJoin(withSh.select(col("id").as("ib"), col("sh").as("sb")))
      .filter(col("ia") < col("ib"))
    val hof = size(array_intersect(col("sa"), col("sb"))).cast("double") /
      size(array_union(col("sa"), col("sb")))
    val fused = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.JaccardCoeff(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("sa")),
        org.apache.spark.sql.graft.ColumnBridge.expression(col("sb"))))
    val rows = pairs.select(hof.as("h"), fused.as("f")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getDouble(0); val f = r.getDouble(1)
      assert(h.isNaN == f.isNaN && (h.isNaN || h == f), s"$h vs $f")
    }
    // both-empty: the ANSI divide-by-zero contract is preserved
    val empty = Seq((1L, ""), (2L, "")).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(col("text"), 2).as("sh"))
    val ep = empty.select(col("doc_id").as("ia"), col("sh").as("sa"))
      .crossJoin(empty.select(col("doc_id").as("ib"), col("sh").as("sb")))
      .filter(col("ia") < col("ib"))
    intercept[Exception] {
      ep.select(fused.as("f")).collect()
    }
  }

  test("null inputs: LshBucket -> 0, MinhashFromHashes -> k null slots") {
    import org.apache.spark.sql.graft.ColumnBridge
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, null))
      .toDF("id", "embedding")
    // HOF form on a null embedding: null projection -> `when` false
    // branch -> 0 per plane; the fused expression must match
    val buckets = df.select(col("id"),
        Similarity.lshBucket(col("embedding"), 4, 2).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets.keySet == Set(1L, 2L))
    assert(buckets(2L) == 0L)
    val hofBucket = {
      val m = Similarity.planeMatrix(4, 2, 42L)
      (0 until 4).map { p =>
        val proj = aggregate(
          zip_with(col("embedding").cast("array<double>"),
            typedLit(m(p).toSeq), (x, hh) => x * hh),
          lit(0.0d), (acc, x) => acc + x)
        when(proj >= 0, lit(1L << p)).otherwise(0L)
      }.reduce(_ + _)
    }
    val hofB = df.select(col("id"), hofBucket.as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets == hofB)
    // null hash array -> k null slots (array(array_min(transform(null))))
    val hd = Seq((1L, Array(7L, 9L)), (2L, null)).toDF("id", "hashes")
    val sig = hd.select(
        Dedup.minhashSignatureFromHashes(col("hashes"), 3).as("s"))
      .collect()
    assert(sig.forall(!_.isNullAt(0)))
    assert(sig.exists(_.getSeq[Any](0) == Seq(null, null, null)))
  }

  /** The `array_min(transform(...))` minhash form MinhashFromHashes
    * replaced — the bit-exactness reference.
    */
  private def hofSignature(hashes: Column, k: Int): Column = {
    def mix(seed: Long): Long = {
      var z = seed + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    array((0 until k).map { i =>
      val r = 1 + (mix(2L * i).toInt & 62)
      val b = mix(2L * i + 1)
      array_min(transform(hashes, hh =>
        shiftleft(hh, r).bitwiseOR(shiftrightunsigned(hh, 64 - r))
          .bitwiseXOR(lit(b))))
    }: _*)
  }

  test("shingleHashes / minhashSignature match the HOF forms, incl. empty") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely different text with other words entirely here"),
      (4L, "xy"), // fewer tokens than shingleN -> empty shingles
      (5L, "a b c")).toDF("doc_id", "text")
    val k = 16
    val sh = Dedup.shingles(col("text"), 3)
    val hofHashes = transform(sh, s => xxhash64(s))
    val rows = docs.select(
        Dedup.shingleHashes(sh).as("fh"), hofHashes.as("hh"),
        Dedup.minhashSignatureFromHashes(Dedup.shingleHashes(sh), k)
          .as("fs"),
        hofSignature(hofHashes, k).as("hs"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
      assert(r.getSeq[Any](2) == r.getSeq[Any](3))
    }
  }

  /** The higher-order-function shingle form the fused NgramShingles
    * kernel replaced — kept here as the bit-exactness reference.
    */
  private def hofShingles(text: Column, n: Int): Column = {
    val tokens = split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")
    if (n == 1) array_distinct(tokens)
    else {
      val idx = sequence(lit(0), size(tokens) - n)
      when(size(tokens) < n, array().cast("array<string>"))
        .otherwise(array_distinct(transform(idx, i =>
          concat_ws(" ",
            (0 until n).map(j => element_at(tokens, i + j + 1)): _*))))
    }
  }

  private def rootMessages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  test("NgramShingles is bit-identical to the HOF shingle form") {
    val words = Seq("the", "Quick", "BROWN", "fox", "jumps", "över",
      "ÉCLAIR", "straße", "the", "lazy", "DOG", "ǅemal", "a", "b")
    val seps = Seq(" ", "  ", "\t", "\t\t ", "\r\n", " \r\n\t")
    val rnd = new scala.util.Random(20071)
    val corpus = (0 until 300).map { i =>
      val len = rnd.nextInt(40)
      val toks = Seq.fill(len)(words(rnd.nextInt(words.size)))
      (i.toLong, toks.map(_ + seps(rnd.nextInt(seps.size))).mkString)
    }
    val edges = Seq(
      "\tleading tab gives an empty token",
      "",
      null,
      "one",
      "two words",
      "a b a b a b a b c a b",
      "x y z x y z x y z",
      "crlf\r\nand\t\ttab\t \r\nruns",
      "  Ünïcödé ÀÉÎ  ǅ straße İstanbul  ",
      "A a A a")
      .zipWithIndex.map { case (t, i) => (1000L + i, t) }
    val docs = (corpus ++ edges).toDF("id", "text")
    for (n <- Seq(1, 2, 3, 5)) {
      val fused = Dedup.shingles(col("text"), n)
      val out = docs.select(col("id"), fused.as("f"),
        hofShingles(col("text"), n).as("h"))
      assert(out.schema("f").dataType ==
        ArrayType(StringType, containsNull = true))
      val rows = out.collect()
      assert(rows.length == corpus.size + edges.size)
      rows.foreach { r =>
        val id = r.getLong(0)
        assert(r.isNullAt(1) == r.isNullAt(2), s"n=$n id=$id null-ness")
        if (!r.isNullAt(1))
          assert(r.getSeq[String](1) == r.getSeq[String](2), s"n=$n id=$id")
      }
      val byId = rows.map(r => r.getLong(0) -> r).toMap
      assert(byId(1002L).isNullAt(1)) // null text -> null
      if (n > 1) assert(byId(1003L).getSeq[String](1).isEmpty) // < n tokens
    }
    // first-occurrence order of repeated n-grams, and the leading
    // empty token a tab (not trimmed) leaves behind
    val pinned = docs.filter(col("id").isin(1000L, 1005L))
      .select(col("id"), Dedup.shingles(col("text"), 2).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(pinned(1005L) == Seq("a b", "b a", "b c", "c a"))
    assert(pinned(1000L).head == " leading")
    // the all-pairs verification plan carries no interpreted lambda
    val plan = Dedup.ngramJaccardPairs(docs, "id", "text", shingleN = 3,
        threshold = 0.2, allPairs = true).queryExecution
    Seq(plan.optimizedPlan.toString, plan.executedPlan.toString)
      .foreach(p => assert(!p.toLowerCase.contains("lambdafunction")))
    assert(docs.select(hofShingles(col("text"), 3)).queryExecution
      .optimizedPlan.toString.toLowerCase.contains("lambdafunction"))
  }

  test("MinhashFromHashes skips null hash elements like array_min") {
    val hd = spark.sql(
      """SELECT 1L AS id, array(7L, CAST(NULL AS BIGINT), -9L) AS hashes
        |UNION ALL SELECT 2L, array(CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))
        |UNION ALL SELECT 3L, array(CAST(NULL AS BIGINT), 123456789L)
        |UNION ALL SELECT 4L, CAST(array() AS ARRAY<BIGINT>)""".stripMargin)
    val k = 8
    val rows = hd.select(col("id"),
        Dedup.minhashSignatureFromHashes(col("hashes"), k).as("f"),
        hofSignature(col("hashes"), k).as("h"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Any](1), r.getSeq[Any](2)))
      .toMap
    rows.foreach { case (id, (f, h)) => assert(f == h, s"id=$id") }
    assert(rows(1L)._1.forall(_ != null))
    assert(rows(2L)._1 == Seq.fill(k)(null))
    assert(rows(3L)._1.forall(_ != null))
  }

  test("cosine and lshBucket throw on a length mismatch") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("ea", "eb")
    val ce = intercept[Exception] {
      df.select(Similarity.cosine(col("ea"), col("eb"))).collect()
    }
    assert(rootMessages(ce).contains("different lengths: 3 vs 2"))
    val le = intercept[Exception] {
      df.select(Similarity.lshBucket(col("ea"), 4, 2)).collect()
    }
    assert(rootMessages(le).contains("length 3, expected 2"))
  }

  test("a both-empty shingle pair throws DIVIDE_BY_ZERO at any threshold") {
    // two docs with fewer tokens than shingleN: at threshold > 0 the
    // size bound divides 0 by 0 (ANSI error), at threshold <= 0 the
    // prefilter is skipped and the Jaccard kernel throws — the pair is
    // never dropped silently
    val docs = Seq((1L, "solo"), (2L, "pair"), (3L, "a b c d"))
      .toDF("id", "text")
    for (t <- Seq(0.5, 0.0, -1.0)) {
      val e = intercept[Exception] {
        Dedup.ngramJaccardPairs(docs, "id", "text", shingleN = 3,
          threshold = t, allPairs = true).collect()
      }
      assert(rootMessages(e).contains("DIVIDE_BY_ZERO"), s"threshold $t")
    }
  }
}
