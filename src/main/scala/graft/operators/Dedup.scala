package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale training-data pipelines, all
  * expressed as Catalyst plans (shingle/minhash/band computation stays in
  * whole-stage codegen; the only shuffles are the band-bucket join and the
  * final candidate-pair aggregation).
  *
  *  - exact: hash-groupBy on a normalized fingerprint
  *  - MinHash+LSH: word-shingle -> k minhashes -> b bands -> bucket join
  *  - SimHash: 64-bit sign-aggregated token hashes, hamming candidates
  *  - n-gram Jaccard: exact verification on candidate pairs
  */
object Dedup {

  /** Normalized word tokens: lower-cased, trimmed of spaces, whitespace
    * runs collapsed to one space, split on it.
    */
  private def tokens(text: Column): Column =
    split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")

  /** Normalized word n-gram shingles of a text column (distinct, in
    * first-occurrence order). The built-in tokenizer runs once per row;
    * the fused [[graft.functions.NgramShingles]] kernel then joins every
    * window of n tokens in one pass. Null text gives null; fewer than n
    * tokens give an empty array.
    */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.NgramShingles(
      ColumnBridge.expression(tokens(text)), n))
  }

  /** Hot-bucket guard as PARTIAL aggregation (r3 VERDICT item 2). The
    * previous count-window form shuffled the full banded table with no
    * map-side combine and landed every hot bucket's rows on one window
    * task — the guard itself was the 100-TB straggler it existed to
    * prevent. Here `groupBy(keys).count()` combines map-side down to one
    * row per bucket, the `> max` filter keeps only the (few, bounded by
    * total/max) hot bucket keys, and a broadcast LEFT ANTI join drops
    * their rows without re-shuffling the banded table at all.
    */
  private[operators] def dropHotBuckets(df: DataFrame, keys: Seq[String],
                                        maxBucketSize: Long): DataFrame = {
    // Pin the banded/chunked table ONCE before it fans out. Without this
    // the upstream pipeline (text scan -> shingle/token hash -> signature
    // -> band explode) is recomputed by every branch — the hot count,
    // the anti-join probe, and BOTH sides of the caller's self-join: four
    // full corpus scans (measured in the executed plan). The pinned rows
    // are only (id, key..) — a fraction of the text being scanned, and
    // the same bytes the self-join must shuffle anyway — so one
    // materialization replaces three recomputations. Same lost-block
    // trade as GridInterpolator.withStableId: fails loudly, never
    // silently recomputes divergent buckets.
    val pinned = df.localCheckpoint()
    val hot = pinned.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") > maxBucketSize)
      .select(keys.map(col): _*)
    pinned.join(broadcast(hot), keys, "left_anti")
  }

  /** Exact dedup: keep one representative per normalized fingerprint.
    * Returns (fingerprint, n_dups, keep_id) — smallest id wins, making the
    * choice deterministic under any partitioning.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count("*").as("n_dups"), min("id").as("keep_id"))

  /** MinHash signature over an already-materialized shingle array column.
    * Universal-hashing family: ONE xxhash64 per shingle, then k affine
    * permutations h_i(x) = a_i*x + b_i (odd multipliers from splitmix64)
    * — the per-row cost drops from k string hashes per shingle to one
    * string hash plus k multiply-adds over a long array.
    */
  private def mix(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One xxhash64 per shingle — materialize this ONCE (its own projected
    * column) and feed [[minhashSignatureFromHashes]], so the k
    * permutations don't re-inline the string hashing. Fused codegen
    * kernel (VecKernels.hashStrings) — same xxhash64(seed 42) per
    * element as the `transform(sh, s => xxhash64(s))` chain it replaces.
    */
  def shingleHashes(sh: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.HashStringArray(
      ColumnBridge.expression(sh)))
  }

  /** Signature from the materialized hash array. Permutation family:
    * rotate-xor bijections (overflow-free under ANSI mode — wraparound
    * multiply would throw in Spark 4). One fused loop over (k × hashes)
    * instead of k `array_min(transform(...))` interpreted chains; the
    * rotation/xor constants and min semantics are unchanged (empty
    * hash array -> all-null slots, as array_min(empty) is null).
    */
  def minhashSignatureFromHashes(hashes: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val rots = Array.tabulate(k)(i => 1 + (mix(2L * i).toInt & 62))
    val xors = Array.tabulate(k)(i => mix(2L * i + 1))
    ColumnBridge.column(graft.functions.MinhashFromHashes(
      ColumnBridge.expression(hashes), rots, xors))
  }

  def minhashSignatureFromShingles(sh: Column, k: Int): Column =
    minhashSignatureFromHashes(shingleHashes(sh), k)

  def minhashSignature(text: Column, n: Int, k: Int): Column =
    minhashSignatureFromShingles(shingles(text, n), k)

  /** MinHash LSH candidate pairs: signatures banded into `bands` groups of
    * `rowsPerBand`; docs sharing any band bucket become candidates; exact
    * n-gram Jaccard then filters at `threshold`.
    * Output: (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Scale shape: shingles materialized once per doc; candidate id pairs
    * deduplicated across bands BEFORE the (expensive) shingle-array join
    * + exact Jaccard, so each surviving pair is verified exactly once.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
                 threshold: Double = 0.7,
                 maxBucketSize: Long = 100000L): DataFrame = {
    val k = bands * rowsPerBand
    val withSh = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh"))
    val withSig = withSh
      .withColumn("_hb", shingleHashes(col("sh")))
      .select(col("id"), col("sh"),
        minhashSignatureFromHashes(col("_hb"), k).as("sig"))
    // hot-bucket guard: a band bucket shared by >maxBucketSize docs is
    // boilerplate/empty-doc mass whose self-join is quadratic; such
    // docs still meet through their OTHER bands (and true near-dups of
    // a hot doc share several bands), so dropping the hot bucket
    // bounds the join without dropping the doc
    val banded = dropHotBuckets(
      withSig.select(col("id"),
        posexplode(array((0 until bands).map { b =>
          xxhash64(concat_ws(",",
            (0 until rowsPerBand).map(r =>
              element_at(col("sig"), b * rowsPerBand + r + 1)): _*))
        }: _*)).as(Seq("band", "bucket"))),
      Seq("band", "bucket"), maxBucketSize)
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    scoredPairs(candidates
      .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b"),
      threshold)
  }

  /** Exact-Jaccard scoring of (sh_a, sh_b) pairs at `threshold`: a
    * conservative SIZE BOUND — jac <= min(|a|,|b|) / (|a|+|b|-min) —
    * prunes pairs that cannot reach the threshold BEFORE the per-pair
    * hash-set intersection (guide §2.3: don't compute what a cheap
    * bound already rejects; at threshold 0.9 the bound kills almost
    * every candidate), then one fused intersect pass scores survivors.
    * Results identical: pruned pairs fail the jaccard filter by
    * construction, and the fused coefficient is bit-equal to the
    * intersect/union size ratio on distinct shingle arrays. A pair of
    * two EMPTY shingle arrays (both docs shorter than n tokens) fails
    * the query with DIVIDE_BY_ZERO at every threshold, as the
    * intersect/union form did: at threshold > 0 the size bound's 0/0
    * throws under ANSI mode, at threshold <= 0 the Jaccard kernel does.
    * Such a pair is never dropped silently.
    */
  private def scoredPairs(pairs: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val jac = ColumnBridge.column(graft.functions.JaccardCoeff(
      ColumnBridge.expression(col("sh_a")),
      ColumnBridge.expression(col("sh_b"))))
    val sizeBound = least(size(col("sh_a")), size(col("sh_b")))
      .cast("double") /
      (size(col("sh_a")) + size(col("sh_b")) -
        least(size(col("sh_a")), size(col("sh_b")))).cast("double")
    val pre =
      if (threshold > 0.0) pairs.filter(sizeBound >= threshold) else pairs
    pre.select(col("id_a"), col("id_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact pairwise n-gram Jaccard — the VERIFICATION kernel, not a
    * discovery operator. Two safe call shapes:
    *
    *  - `candidates = Some(pairs)` (id_a, id_b): score only those pairs —
    *    the shape LSH discovery feeds (candidate count bounds the work).
    *  - `candidates = None` requires `allPairs = true` AND the input's
    *    optimizer size estimate under `maxAllPairsRows` rows — an O(N²)
    *    crossJoin can no longer be planned by accident at scale.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3,
                        threshold: Double = 0.0,
                        candidates: Option[DataFrame] = None,
                        allPairs: Boolean = false,
                        maxAllPairsRows: Long = 100000L): DataFrame = {
    val withSh = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh"))
    val pairs = candidates match {
      case Some(cand) =>
        cand.select(col("id_a"), col("id_b"))
          .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")),
            "id_a")
          .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")),
            "id_b")
      case None =>
        require(allPairs, "ngramJaccardPairs without candidates is O(N²); " +
          "pass candidates (e.g. from minhashLsh/simhash) or set " +
          "allPairs = true for a small verification fixture")
        // no counting scan: gate on Catalyst's size estimate at a
        // conservative 64 B/row — real documents are ~KBs, so this
        // OVERestimates the row count and the gate rejects early
        val estRows = df.queryExecution.optimizedPlan.stats.sizeInBytes /
          BigInt(64)
        require(estRows <= BigInt(maxAllPairsRows),
          s"all-pairs n-gram Jaccard refused: ~$estRows rows estimated > " +
            s"maxAllPairsRows=$maxAllPairsRows")
        val a = withSh.select(col("id").as("id_a"), col("sh").as("sh_a"))
        val b = withSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
        a.crossJoin(b).filter(col("id_a") < col("id_b"))
    }
    scoredPairs(pairs, threshold)
  }

  /** 64-bit SimHash per document: tokens hashed, each bit position summed
    * +1/-1 across tokens, sign -> bit. Pure aggregation (explode + 64
    * conditional sums + recombine) — no UDF.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("tok"))
      .withColumn("th", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(col("th"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val agg = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until 64).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col("id"), hash.as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` bits, pruned by matching
    * on 4 16-bit chunks (any equal chunk => candidate; complete for
    * maxHamming <= 3).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Long = 100000L): DataFrame = {
    val sh = simhash(df, idCol, textCol)
    // chunk-value skew guard (e.g. the 0x0000 chunk of short docs):
    // pairs in an over-full chunk still meet via their other 3 chunks
    // whenever hamming <= 3, so the pigeonhole completeness is kept
    // unless a pair's differing bits concentrate OUTSIDE every
    // non-hot shared chunk — log-scale corpora accept that bound
    val chunked = dropHotBuckets(
      sh.select(col("id"), col("simhash"),
        posexplode(array((0 until 4).map(c =>
          shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFF)): _*))
          .as(Seq("chunk", "ckey"))),
      Seq("chunk", "ckey"), maxBucketSize)
    val a = chunked.select(col("chunk"), col("ckey"), col("id").as("id_a"),
      col("simhash").as("h_a"))
    val b = chunked.select(col("chunk"), col("ckey"), col("id").as("id_b"),
      col("simhash").as("h_b"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
