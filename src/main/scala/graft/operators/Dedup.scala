package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

import graft.functions.{Hashes, Text}
import graft.warehouse.{Materialized, Pins}

/** Deduplication family for LLM-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design: nothing here is O(n^2) in Spark. Candidate pairs come
  * from equality joins on LSH bands (MinHash), bit-chunks (SimHash), or
  * shared rare shingles (Jaccard, with a document-frequency cap), so the
  * shuffles are keyed and bounded. The DuckDB oracles compute the same
  * final pair sets with quadratic joins — affordable at test scale and
  * provably equivalent.
  *
  * All hashing is md5-derived (graft.functions.Hashes) — portable across
  * engines, deterministic across partitionings.
  */
object Dedup {

  val MinhashK = 16 // signature length
  val MinhashBands = 4 // 4 bands x 4 rows
  val SimhashBits = 60 // fits a signed BIGINT via 15 hex chars
  val SimhashChunks = 5 // 12-bit chunks; pigeonhole covers hamming <= 4
  val SimhashMaxHamming = 4
  val JaccardDocFreqCap = 50 // drop shingles present in more docs (stop-shingles)
  val JaccardThreshold = 0.05
  val ContainmentThreshold = 0.10
  val EditBlockCap = 50 // max docs per edit-distance blocking key (pre/post refinement)
  val EditLenBucket = 20 // chars per length bucket when refining hot blocks

  /** Exact dedup: group identical texts by content hash, keep the lowest
    * id as representative. One hash-shuffle; at 100 TB group by the md5
    * (never the raw text) so shuffle keys stay 16 bytes.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min("doc_id").as("kept_doc_id"), count(lit(1)).as("n_copies"))

  /** Per-document DISTINCT shingle sets (doc_id, sh_arr) — the shared
    * subtree for compositions that run MORE THAN ONE shingle-derived
    * generator over the same corpus (q137 calibration: MinHash + exact
    * Jaccard). Callers cache the returned frame so the shingling pass
    * runs once per composition instead of once per generator.
    */
  def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_distinct(Text.shingles(col("text"))).as("sh_arr"))

  /** Per-document MinHash signature: k independent md5-derived hash
    * functions, min over the document's shingle set. Single explode +
    * one hash-aggregation (k mins computed in the same pass).
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesFrom(shingleSets(docs))

  private[graft] def minhashSignaturesFrom(shArr: DataFrame): DataFrame = {
    // Per-doc shingle dedup happens map-side (array_distinct before the
    // explode) — the old explode-then-distinct shape shuffled every
    // (doc, shingle) row just to dedup within the doc.
    val sh = shArr.select(col("doc_id"), explode(col("sh_arr")).as("shingle"))
    val mins = (0 until MinhashK).map(i =>
      min(Hashes.md5Long32(concat(lit(s"$i:"), col("shingle")))).as(s"h$i"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs: documents sharing at least one full band of the
    * signature, with the estimated Jaccard (fraction of matching minhash
    * components). Bands are joined by equality — the candidate join is
    * keyed, not quadratic.
    */
  /** (doc_id, band_id, band_val) rows from a signature table — the LSH
    * bucketing shared by pair generation and incremental flagging.
    */
  private def bandTable(sig: DataFrame): DataFrame = {
    val rows = MinhashK / MinhashBands
    val bandCols = (0 until MinhashBands).map { b =>
      struct(lit(b).as("band_id"),
        concat_ws("|", (0 until rows).map(r => col(s"h${b * rows + r}")): _*).as("band_val"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_val"))
  }

  def minhashPairs(docs: DataFrame): DataFrame =
    minhashPairsFrom(shingleSets(docs))

  private[graft] def minhashPairsFrom(shArr: DataFrame): DataFrame = {
    val sig = minhashSignaturesFrom(shArr).cache()
    val banded = bandTable(sig)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val matches = (0 until MinhashK)
      .map(i => when(col(s"s1.h$i") === col(s"s2.h$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sig.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sig.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), round(matches / lit(MinhashK.toDouble), 6).as("est_jaccard"))
  }

  /** b-BIT minwise hashing (Li & König 2010, WWW — "b-Bit Minwise
    * Hashing"): keep only the lowest `b` bits of every minhash
    * component, shrinking the stored signature 16× at b=2 (16
    * components × 2 bits = 4 BYTES per document — the storage knob
    * that lets a 100 TB corpus keep its dedup signatures in memory).
    * Random collisions now matter (two unrelated mins agree on b bits
    * with probability 2^−b), so the raw match fraction m̂ is debiased
    * with the closed form Ĵ = (m̂ − 2^−b)/(1 − 2^−b), clamped at 0.
    * Per LSH candidate pair this reports the full-width estimate
    * beside the b-bit one — the audit that prices the compression
    * (how much estimator variance do 4 bytes buy back?).
    *
    * Determinism: matches are integer counts off the SAME md5
    * signatures as q43; the debias arithmetic is two IEEE ops on
    * dyadic literals (2^−b is exact), identical in both engines.
    */
  def bbitMinhashPairs(pairs: DataFrame, sig: DataFrame, b: Int = 2): DataFrame = {
    require(b >= 1 && b <= 16, s"b=$b bits out of the sensible range")
    val mask = (1L << b) - 1
    val matchesB = (0 until MinhashK)
      .map(i => when(col(s"s1.h$i").bitwiseAND(lit(mask)) ===
        col(s"s2.h$i").bitwiseAND(lit(mask)), 1).otherwise(0))
      .reduce(_ + _)
    val pRand = 1.0 / (1L << b)
    pairs
      .join(sig.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sig.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), col("est_jaccard"),
        matchesB.cast("int").as("n_match_bbit"),
        round(greatest(lit(0.0),
          (matchesB.cast("double") / lit(MinhashK.toDouble) - lit(pRand))
            / lit(1.0 - pRand)), 6).as("est_jaccard_bbit"))
  }

  /** Analytic LSH S-curve collision probability 1-(1-t^r)^b, computed
    * by explicit IEEE multiplication chains so the Scala value and any
    * engine replaying the same chain agree bit-for-bit.
    */
  private[graft] def lshCollisionProb(t: Double, b: Int, r: Int): Double = {
    val tr = (1 to r).foldLeft(1.0)((a, _) => a * t)
    1.0 - (1 to b).foldLeft(1.0)((a, _) => a * (1.0 - tr))
  }

  /** LSH band-configuration TUNING curve — the (bands, rows) knob
    * priced the way q206 prices the Matryoshka d and q281 prices the
    * rerank m: from the SAME 16-component MinHash signatures, each
    * config with b·r = MinhashK builds its band join, and is scored
    * against the exact-Jaccard truth set (pairs ≥ `truthThreshold`
    * from the df-capped q42 generator): candidate volume (the cost
    * axis), precision, recall, plus the analytic collision probability
    * at the threshold. Signatures are computed once; every candidate
    * join is banded equality; the truth set is near-dup-sized and
    * joins keyed — no pair space beyond each config's own candidates.
    */
  def lshTuningCurve(docs: DataFrame,
      configs: Seq[(Int, Int)] = Seq((2, 8), (4, 4), (8, 2)),
      truthThreshold: Double = 0.5): DataFrame = {
    require(configs.forall { case (b, r) => b * r == MinhashK },
      s"each (bands, rows) config must factor MinhashK = $MinhashK")
    // the truth set derives from ngramJaccardPairs, which pre-filters
    // at JaccardThreshold — below it the truth set would silently lose
    // pairs a from-scratch oracle keeps (engine-parity break)
    require(truthThreshold >= JaccardThreshold,
      s"truthThreshold=$truthThreshold below the pair generator's floor " +
        s"$JaccardThreshold — the truth set would be silently incomplete")
    val sig = minhashSignatures(docs).cache()
    val truth = ngramJaccardPairs(docs)
      .filter(col("jaccard") >= truthThreshold)
      .select("d1", "d2")
      .cache()
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val perConfig = configs.map { case (b, r) =>
      val bandCols = (0 until b).map { bi =>
        struct(lit(bi).as("band_id"),
          concat_ws("|", (0 until r).map(j => col(s"h${bi * r + j}")): _*).as("band_val"))
      }
      val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
        .select(col("doc_id"), col("band.band_id"), col("band.band_val"))
      val cand = banded.as("a")
        .join(banded.as("b"),
          col("a.band_id") === col("b.band_id") && col("a.band_val") === col("b.band_val") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
        .cache()
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(cand.join(truth, Seq("d1", "d2"), "left_semi")
          .agg(count(lit(1)).as("n_hits")))
        .withColumn("bands", lit(b))
        .withColumn("rows_per_band", lit(r))
        .withColumn("p_collision",
          lit(BigDecimal(lshCollisionProb(truthThreshold, b, r))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.reduce(_ unionByName _)
    perConfig.crossJoin(broadcast(nTrue))
      .select(col("bands"), col("rows_per_band"),
        col("n_candidates"), col("n_hits"), col("n_true"),
        round(when(col("n_candidates") > 0,
          col("n_hits").cast("double") / col("n_candidates")), 6).as("pair_precision"),
        round(when(col("n_true") > 0,
          col("n_hits").cast("double") / col("n_true")), 6).as("pair_recall"),
        col("p_collision"))
      .orderBy("bands")
  }

  /** Per-document 60-bit SimHash: md5 token hashes, per-bit majority vote
    * computed as 60 conditional sums in one aggregation pass (no bit
    * explosion).
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), Hashes.md5Long60(col("t")).as("h"))
    val bitSums = (0 until SimhashBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val agg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until SimhashBits)
      .map(b => when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
      .reduce(_ + _)
    agg.select(col("doc_id"), simhash.as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance <= 4 over the 60-bit
    * signatures. Candidates come from a keyed join on 12-bit chunks
    * (pigeonhole: distance <= 4 implies >= 1 of 5 chunks equal), then the
    * exact hamming filter.
    */
  def simhashPairs(docs: DataFrame): DataFrame = {
    val sig = simhashSignatures(docs).cache()
    val chunks = (0 until SimhashChunks).map(j =>
      struct(lit(j).as("chunk_id"),
        shiftright(col("simhash"), j * 12).bitwiseAND(4095).as("chunk_val")))
    val chunked = sig.select(col("doc_id"), col("simhash"), explode(array(chunks: _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk_id"), col("c.chunk_val"))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk_id") === col("b.chunk_id") && col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.simhash").as("s1"), col("b.simhash").as("s2"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(s1 ^ s2) AS INT)"))
      .filter(col("hamming") <= SimhashMaxHamming)
  }

  /** n-gram Jaccard near-dup pairs: distinct word-3-gram shingles,
    * document-frequency cap on join keys (drops stop-shingles that would
    * create quadratic hot keys at scale — the cap is part of the operator
    * contract, mirrored in the oracle), keyed self-join, exact Jaccard
    * against the UNCAPPED shingle-set sizes.
    */
  def ngramJaccardPairs(docs: DataFrame): DataFrame =
    ngramJaccardPairs(docs, LocalOverlapMaxDocs)

  /** [[ngramJaccardPairs]]; specs force the distributed pair count with
    * `localMaxDocs = 0`.
    */
  private[graft] def ngramJaccardPairs(docs: DataFrame, localMaxDocs: Int): DataFrame = {
    // Shingles are hashed to 32-bit ints before the joins: the shuffle
    // key shrinks from ~25-byte strings to 8-byte longs (the standard
    // hashed-shingling approximation; the oracle hashes identically, so
    // any collision affects both engines the same way). Per-doc dedup
    // runs map-side (array_distinct pre-explode) — no corpus-wide
    // distinct shuffle. Dedup over the HASHED values: a rare in-doc
    // md5Long32 collision would otherwise survive and shift n_shingles
    // vs the oracle's hashed-distinct count.
    // The per-doc set size rides along through the explode (it is
    // functionally dependent on doc_id, so grouping by it is free):
    // no separate `sizes` aggregation, and no post-pair lookup joins.
    overlapPairs(docs, localMaxDocs)
      .withColumn("jaccard",
        round(col("n_common").cast("double") / (col("n1") + col("n2") - col("n_common")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("d1", "d2", "n_common", "n1", "n2", "jaccard")
  }

  /** [[ngramJaccardPairs]] over a pre-built (cached) shingle-set frame
    * from [[shingleSets]] — for compositions that also feed the same
    * shingles to another generator.
    */
  private[graft] def ngramJaccardPairsFrom(shArr: DataFrame): DataFrame =
    overlapPairsFrom(shArr, LocalOverlapMaxDocs)
      .withColumn("jaccard",
        round(col("n_common").cast("double") / (col("n1") + col("n2") - col("n_common")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("d1", "d2", "n_common", "n1", "n2", "jaccard")

  /** Directed n-gram CONTAINMENT pairs — |A∩B| / min(|A|,|B|), the
    * asymmetric near-dup detector Jaccard misses: a paragraph fully
    * embedded in a much longer document scores ~1.0 here but near 0 on
    * Jaccard (the union is dominated by the long doc). The standard
    * second pass for sub-document duplication in pretraining corpora.
    * Same scale-safe candidate generation as Jaccard (shared
    * `overlapPairs`): keyed equality join on hashed shingles with the
    * doc-frequency cap — never all-pairs.
    */
  def containmentPairs(docs: DataFrame): DataFrame =
    containmentPairs(docs, LocalOverlapMaxDocs)

  /** [[containmentPairs]]; specs force the distributed pair count with
    * `localMaxDocs = 0`.
    */
  private[graft] def containmentPairs(docs: DataFrame, localMaxDocs: Int): DataFrame =
    overlapPairs(docs, localMaxDocs)
      .withColumn("containment",
        round(col("n_common").cast("double") / least(col("n1"), col("n2")), 6))
      .filter(col("containment") >= ContainmentThreshold)
      .select("d1", "d2", "n_common", "n1", "n2", "containment")

  /** The end-to-end dedup DECISION: near-dup clusters → ONE canonical
    * member per cluster (longest text by n_chars, tie lowest doc_id) →
    * a keep/drop verdict for EVERY corpus document (singletons keep
    * themselves). This is what an ingestion pipeline actually applies;
    * the cluster labels only explain it.
    *
    * Scale: clustering as in connectedComponents; canonical selection
    * is one keyed window per cluster (row_number over a cluster-keyed
    * shuffle, linear state); the final verdict is a left join back to
    * the corpus on doc_id.
    */
  def canonicalKeep(docs: DataFrame): DataFrame =
    canonicalKeepFrom(docs, connectedComponents(ngramJaccardPairs(docs)))

  /** [[canonicalKeep]] over an already-solved cluster map (the
    * [[connectedComponents]] output frame) — the artifact-reuse path:
    * a pipeline that stores the cluster map once per corpus snapshot
    * (see graft.warehouse.Materialized) derives the decision list from
    * the stored table without re-running pair generation + the
    * component solve.
    */
  def canonicalKeepFrom(docs: DataFrame, solved: DataFrame): DataFrame = {
    val clusters = solved
      .select("doc_id", "cluster_rep", "cluster_size")
    val w = Window.partitionBy("cluster_rep").orderBy(desc("n_chars"), col("doc_id"))
    val ranked = clusters.join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .withColumn("rnk", row_number().over(w))
    docs.select("doc_id")
      .join(ranked.select("doc_id", "cluster_rep", "cluster_size", "rnk"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        (coalesce(col("rnk"), lit(1)) === 1).as("keep"))
  }

  /** Shared candidate generation for the set-overlap family: per-doc
    * hashed distinct shingles → doc-frequency cap → keyed self-join →
    * (d1, d2, n1, n2, n_common) per intersecting pair. A corpus of at
    * most `localMaxDocs` documents is counted on the driver
    * ([[localOverlapPairs]]); a larger one, or one the local count
    * declines, runs the distributed join.
    */
  private def overlapPairs(docs: DataFrame, localMaxDocs: Int): DataFrame =
    overlapPairsFrom(shingleSets(docs), localMaxDocs)

  private def overlapPairsFrom(shArr: DataFrame, localMaxDocs: Int): DataFrame = {
    // hashing the already-distinct string set then re-distincting over
    // the hashes is set-identical to the historical transform-then-
    // distinct order (a rare md5Long32 collision collapses either way)
    val hashed = shArr.select(col("doc_id"),
      array_distinct(transform(col("sh_arr"), s => Hashes.md5Long32(s))).as("arr"))
    def distributed(pin: DataFrame => DataFrame): DataFrame = {
      val sh = pin(hashed
        .select(col("doc_id"), size(col("arr")).cast("long").as("n"), explode(col("arr")).as("sh")))
      val rare = sh.groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") <= JaccardDocFreqCap)
      // pinned: the self-join below reads it twice (sh is pinned, but
      // the df-cap join would still run once per side)
      val filtered = pin(sh.join(rare.select("sh"), "sh"))
      filtered.as("a")
        .join(filtered.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          col("a.n").as("n1"), col("b.n").as("n2"))
        .agg(count(lit(1)).as("n_common"))
    }
    // the unpinned plan only supplies the schema (analysis, no job)
    localOverlapPairs(hashed, distributed(identity).schema, localMaxDocs)
      .getOrElse(distributed(Pins.cache))
  }

  /** Document ceiling of the driver-local overlap count: the collect
    * holds at most this many (doc_id, hashed shingle set) rows.
    */
  private[graft] val LocalOverlapMaxDocs = 8192

  /** Set-size ceiling of one collected document (a text of about 514
    * words); a larger document sends the corpus to the distributed
    * join. Memory math: with [[LocalOverlapMaxDocs]] the collect holds
    * at most 4M hashes, 8 B each, and the sorted (hash, doc) keys as
    * many again: ≤ 64 MiB. The 5,000-document sf0.1 corpus (at most 100
    * words a document) holds about 0.26M.
    */
  private[graft] val LocalOverlapMaxSetSize = 512

  /** Distinct-pair ceiling of the local count, checked while counting.
    * Memory math: the pair map is a `LongMap[Int]` (an 8 B key and a
    * 4 B reference a slot, at most 4 slots a pair: ≤ 96 MiB at 2M
    * pairs); while the local frame is built each pair is held as a
    * `Row` and its converted internal row, about 150 B (≤ 300 MiB at
    * 2M pairs). The sf0.1 corpus has about 1.1M candidate pairs, the
    * sf0.01 one about 12k. A pair graph past the cap (a corpus whose
    * rare shingles are shared widely) goes to the distributed join.
    */
  private[graft] val LocalOverlapMaxPairs = 2097152

  /** The distributed overlap count done on the driver: one bounded
    * collect of (doc_id, hashed shingle set), a document-frequency count
    * per hash, and n_common per pair of documents sharing a hash whose
    * frequency is at most [[JaccardDocFreqCap]]. Returns a local frame
    * with the distributed `schema`, or None when the corpus passes a
    * cap, `localMaxDocs` ≤ 0, or an input the local count does not
    * reproduce exactly: a doc_id that is not an int or long, null, or
    * repeated, or a null hash. Oversized sets are refused on the
    * executors, so the collect itself stays bounded.
    */
  private def localOverlapPairs(hashed: DataFrame, schema: StructType,
      localMaxDocs: Int): Option[DataFrame] = {
    require(localMaxDocs <= LocalOverlapMaxDocs, s"the packed keys hold at most $LocalOverlapMaxDocs docs")
    val idType = hashed.schema("doc_id").dataType
    if (localMaxDocs <= 0 || !(idType == IntegerType || idType == LongType)) return None
    val spark = hashed.sparkSession
    import spark.implicits._
    val arr = col("arr")
    val ok = col("doc_id").isNotNull &&
      coalesce(size(arr) <= LocalOverlapMaxSetSize && forall(arr, _.isNotNull), lit(true))
    val rows = hashed
      .select(coalesce(col("doc_id").cast("long"), lit(0L)), ok, when(ok, arr))
      .limit(localMaxDocs + 1)
      .as[(Long, Boolean, Array[Long])]
      .collect()
    if (rows.length > localMaxDocs || rows.exists(!_._2)) return None
    val sorted = rows.sortBy(_._1)
    val ids = sorted.map(_._1)
    if ((1 until ids.length).exists(i => ids(i) == ids(i - 1))) return None
    // a null set (null text) emits no shingle rows on the distributed path
    val sets = sorted.map(r => if (r._3 == null) Array.emptyLongArray else r._3)
    val nEntries = sets.iterator.map(_.length).sum

    // (hash << 14 | doc index), sorted: each hash's run lists its
    // documents in doc_id order; md5Long32 hashes are 32-bit
    val docBits = 14
    val docMask = (1L << docBits) - 1
    val keys = new Array[Long](nEntries)
    var k = 0
    var d = 0
    while (d < sets.length) {
      val set = sets(d)
      var j = 0
      while (j < set.length) {
        if (set(j) < 0L || set(j) >= (1L << 32)) return None
        keys(k) = set(j) << docBits | d
        k += 1
        j += 1
      }
      d += 1
    }
    java.util.Arrays.sort(keys)
    val common = scala.collection.mutable.LongMap.empty[Int] // (d1 << 14 | d2) -> n_common
    var i = 0
    while (i < keys.length) {
      var end = i + 1
      while (end < keys.length && (keys(end) >>> docBits) == (keys(i) >>> docBits)) end += 1
      if (end - i <= JaccardDocFreqCap) {
        var a = i
        while (a < end) {
          var b = a + 1
          while (b < end) {
            val pair = (keys(a) & docMask) << docBits | (keys(b) & docMask)
            common(pair) = common.getOrElse(pair, 0) + 1
            b += 1
          }
          a += 1
        }
        if (common.size > LocalOverlapMaxPairs) return None
      }
      i = end
    }
    val id: Long => Any = if (idType == IntegerType) _.toInt else identity
    val pairs = common.keysIterator.toArray
    java.util.Arrays.sort(pairs)
    val out = new java.util.ArrayList[Row](pairs.length)
    pairs.foreach { p =>
      val (a, b) = ((p >>> docBits).toInt, (p & docMask).toInt)
      out.add(Row(id(ids(a)), id(ids(b)), sets(a).length.toLong, sets(b).length.toLong,
        common(p).toLong))
    }
    Some(spark.createDataFrame(out, schema))
  }

  /** Edit-distance near-dup pairs — the fuzzy-match family member the
    * hash families can't express (they see token SETS; Levenshtein sees
    * character EDITS, catching typo-level duplication). Quadratic cost
    * is tamed the same way as every other pair generator here: a cheap
    * equality blocking key (the first two words) keys the join, and the
    * O(len²) distance only runs on pairs sharing a block, over a bounded
    * prefix.
    *
    * Block-size cap (part of the operator contract, mirrored in the
    * oracle): a boilerplate opener ("the quick", a license header) can
    * put millions of documents behind ONE blocking key, and an uncapped
    * block is O(m²) pairs on one hot reducer. Blocks whose document
    * frequency exceeds [[EditBlockCap]] are refined by a text-length
    * bucket ([[EditLenBucket]] chars — typo-level duplicates have
    * near-identical lengths, so refinement keeps recall); refined
    * buckets STILL over the cap are dropped, like the Jaccard family's
    * stop-shingles. Every joined block is therefore ≤ EditBlockCap
    * docs, so pair fan-out per block is bounded at all scales.
    */
  def editDistancePairs(docs: DataFrame, prefixLen: Int = 60, maxDist: Int = 25): DataFrame = {
    val k = editBlocks(docs, prefixLen)
    k.as("a")
      .join(k.as("b"), col("a.blk") === col("b.blk") && col("a.grp") === col("b.grp")
        && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        levenshtein(col("a.pfx"), col("b.pfx")).as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }

  /** The capped (first-two-words ∧ length-bucket) blocking shared by
    * the character-level fuzzy family — see [[editDistancePairs]] for
    * the contract.
    */
  private def editBlocks(docs: DataFrame, prefixLen: Int): DataFrame = {
    val t = docs.select(
      col("doc_id"),
      substring(col("text"), 1, prefixLen).as("pfx"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("blk"),
      floor(length(col("text")) / lit(EditLenBucket)).as("lb"))
    val df0 = t.groupBy("blk").agg(count(lit(1)).as("df0"))
    // cached at both levels: `refined` feeds the cap aggregate AND the
    // keep join, and every caller SELF-JOINS the returned frame — each
    // reference would otherwise recompute the scan + df0 join (guide
    // §1.2). Narrow (id, 60-char prefix, block keys) at any scale.
    val refined = t.join(df0, "blk")
      .withColumn("grp", when(col("df0") <= EditBlockCap, lit(-1L)).otherwise(col("lb")))
      .cache()
    val keep = refined.groupBy("blk", "grp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= EditBlockCap)
    refined.join(keep.select("blk", "grp"), Seq("blk", "grp")).cache()
  }

  /** Jaro–Winkler near-dup pairs over the same capped blocks as
    * [[editDistancePairs]] — the record-linkage metric beside the edit
    * counter: positional agreement + common-prefix bonus, so
    * transposed/typo'd openers score high where Levenshtein charges
    * per edit. Similarity is rounded at 6 dp BEFORE the threshold so
    * both engines gate identical values.
    */
  val JwMinSim = 0.88
  def jaroWinklerPairs(docs: DataFrame, prefixLen: Int = 60,
      minSim: Double = JwMinSim): DataFrame = {
    val k = editBlocks(docs, prefixLen)
    k.as("a")
      .join(k.as("b"), col("a.blk") === col("b.blk") && col("a.grp") === col("b.grp")
        && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        round(Text.jaroWinkler(col("a.pfx"), col("b.pfx")), 6).as("jw_sim"))
      .filter(col("jw_sim") >= minSim)
  }

  /** Damerau–Levenshtein pairs over the capped blocks, priced AGAINST
    * plain Levenshtein: `transposition_savings` is the per-pair edit
    * count the swap-aware metric recovers (a pure-typo duplicate with
    * transposed characters halves its distance). Same blocking and
    * threshold contract as [[editDistancePairs]].
    */
  def damerauPairs(docs: DataFrame, prefixLen: Int = 60, maxDist: Int = 25): DataFrame = {
    val k = editBlocks(docs, prefixLen)
    k.as("a")
      .join(k.as("b"), col("a.blk") === col("b.blk") && col("a.grp") === col("b.grp")
        && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        levenshtein(col("a.pfx"), col("b.pfx")).as("edit_dist"),
        Text.damerauLevenshtein(col("a.pfx"), col("b.pfx")).as("dl_dist"))
      .filter(col("dl_dist") <= maxDist)
      .withColumn("transposition_savings", col("edit_dist") - col("dl_dist"))
  }

  /** Connected components over a near-dup pair graph: min-label
    * propagation accelerated with pointer jumping (each round a node
    * takes the min of its own label, its neighbors' labels, AND its
    * label's label — chains halve every round, so convergence is
    * O(log diameter), not O(diameter)). Every iteration is
    * localCheckpoint'ed: lineage stays shallow (no exponential
    * re-computation as plans deepen) and superseded generations are
    * reclaimed by the ContextCleaner once unreferenced. Exits with an
    * IllegalStateException if maxIters is hit before convergence — a
    * silently non-converged labeling would diverge from the oracle's
    * full reachability closure.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIters: Int = 25,
      localEdgeThreshold: Long = LocalSolveMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .distinct()
    // Adaptive local solve: the pair graph is orders of magnitude
    // smaller than the corpus that produced it. Below the threshold a
    // driver union-find (one bounded collect, exact, microseconds)
    // beats an O(log n)-round distributed loop whose every round pays
    // several Spark jobs of fixed latency — the same small-side
    // adaptivity as a broadcast join.
    val local =
      if (localEdgeThreshold <= 0) None
      else {
        val bound = math.min(localEdgeThreshold, LocalSolveMaxEdges).toInt
        Some(edges.limit(bound + 1).as[(Long, Long)].collect()).filter(_.length <= bound)
      }
    local.map(localSolve(spark, _)).getOrElse {
      // Above the threshold the distributed pointer-jumping loop runs.
      // Iterate at parallelism scaled to the edge count, not the
      // corpus' shuffle setting — via explicit repartition of the loop
      // frames, never by mutating the session conf (a shared session's
      // concurrent queries must keep their own shuffle sizing). The
      // loop-internal groupBy/join exchanges still start at the session
      // partition count, but AQE's coalescePartitions (on in
      // GraftSession/tune) merges them down to the data's actual size
      // each round, so a 2000-partition production session doesn't pay
      // 2000 near-empty tasks per iteration.
      val sym = edges.localCheckpoint(true)
      val nEdges = sym.count()
      val sessionShuffle = spark.conf.get("spark.sql.shuffle.partitions").toLong
      val p = math.max(2L, math.min(sessionShuffle, nEdges / 100000L + 1L)).toInt
      connectedComponentsLoop(sym.repartition(p, col("dst")).localCheckpoint(true), maxIters, p)
    }
  }

  /** Edge-count ceiling for the driver-local union-find fast path of
    * [[connectedComponents]]. Memory math: each collected edge is one
    * (Long, Long) tuple (16 B payload, ~48 B with object headers), so
    * 2M edges is ~32 MB payload / well under 100 MB resident on the
    * driver — negligible against the multi-GB driver of any cluster
    * this runs on, while covering every near-dup pair graph a blocked/
    * banded generator emits at 100 TB (pair graphs are near-dup-sized,
    * not corpus-sized). Above it the distributed pointer-jumping loop
    * takes over unchanged; specs force it with `localEdgeThreshold = 0`.
    */
  private[graft] val LocalSolveMaxEdges: Long = 2000000L

  /** Driver union-find with path compression + union by min label. */
  private def localSolve(spark: org.apache.spark.sql.SparkSession, edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val labels = parent.keys.map(d => (d, find(d))).toSeq
    val sizes = labels.groupBy(_._2).map { case (rep, xs) => rep -> xs.size.toLong }
    labels.toSeq
      .map { case (doc, rep) => (doc, rep, sizes(rep), doc == rep) }
      .toDF("doc_id", "cluster_rep", "cluster_size", "is_kept")
      .repartition(col("cluster_rep"))
  }

  private def connectedComponentsLoop(sym: DataFrame, maxIters: Int, p: Int): DataFrame = {
    var labels = sym.select(col("src").as("doc")).distinct()
      .withColumn("lbl", col("doc"))
      .repartition(p, col("doc"))
      .localCheckpoint(true)
    var held = labels
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      val neighborMin = sym
        .join(labels.withColumnRenamed("doc", "dst2"), col("dst") === col("dst2"))
        .groupBy(col("src").as("doc"))
        .agg(min(col("lbl")).as("nlbl"))
      // Pointer jumping: the label of my label. Labels are always node
      // ids present in `labels`, so this inner join never drops rows.
      val viaParent = labels.as("l")
        .join(
          labels.select(col("doc").as("p_doc"), col("lbl").as("p_lbl")),
          col("l.lbl") === col("p_doc"))
        .select(col("l.doc").as("doc"), col("p_lbl"))
      val updated = labels.withColumnRenamed("lbl", "old_lbl")
        .join(neighborMin, Seq("doc"), "left")
        .join(viaParent, Seq("doc"))
        .select(col("doc"),
          least(col("old_lbl"), coalesce(col("nlbl"), col("old_lbl")), col("p_lbl")).as("lbl"),
          col("old_lbl"))
        .repartition(p, col("doc"))
        .localCheckpoint(true)
      changed = updated.filter(col("lbl") =!= col("old_lbl")).count()
      // `labels` projects the previous round's checkpoint, which only
      // the frame itself owns: release that, not the projection
      Materialized.release(held)
      held = updated
      labels = updated.select("doc", "lbl")
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIters iterations ($changed labels still changing)")
    val sizes = labels.groupBy(col("lbl").as("cluster_rep")).agg(count(lit(1)).as("cluster_size"))
    labels
      .select(col("doc").as("doc_id"), col("lbl").as("cluster_rep"))
      .join(sizes, "cluster_rep")
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"),
        (col("doc_id") === col("cluster_rep")).as("is_kept"))
  }

  /** Incremental ingest dedup: flag each NEW document (doc_id >=
    * splitId) as an exact and/or LSH-band near duplicate of the EXISTING
    * corpus (doc_id < splitId) — the nightly-batch question ("is this
    * new crawl already in the corpus?") that pairwise dedup answers
    * quadratically. Exact is a semi join on the 16-byte content md5;
    * near is a semi join of the new side's bands against the old side's
    * distinct band set — both keyed, both broadcast-friendly when the
    * new batch is small relative to the corpus.
    */
  def incrementalFlags(docs: DataFrame, splitId: Long): DataFrame = {
    // cache: the band table feeds BOTH sides of the semi join (old
    // distinct bands and new probes) — without it the full shingling +
    // min-hash aggregation runs twice (same reason minhashPairs caches).
    // Lifecycle contract (shared by every caching operator here): the
    // CALLER owns the pin — unpersist or spark.catalog.clearCache()
    // after materializing the result in long-lived sessions (Verify
    // clears between queries; a lazy unpersist here would race the
    // caller's first action).
    val banded = bandTable(minhashSignatures(docs)).cache()
    val oldBands = banded.filter(col("doc_id") < splitId)
      .select("band_id", "band_val").distinct()
    val near = banded.filter(col("doc_id") >= splitId)
      .join(oldBands, Seq("band_id", "band_val"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("near", lit(true))
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("ch"))
    val oldHashes = hashed.filter(col("doc_id") < splitId).select("ch").distinct()
    val exact = hashed.filter(col("doc_id") >= splitId)
      .join(oldHashes, Seq("ch"), "left_semi")
      .select("doc_id")
      .withColumn("exact", lit(true))
    docs.filter(col("doc_id") >= splitId).select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("exact"), lit(false)).as("is_exact_dup"),
        coalesce(col("near"), lit(false)).as("is_near_dup"))
  }

  val SpanGramLen = 8 // L: duplicate-substring resolution, in words

  /** SOFT deduplication — duplicate-cluster down-weighting instead of
    * removal (the SoftDeDup idea: keep every copy but give each member
    * of an n-way duplicate cluster weight 1/n, so the training
    * distribution matches the deduplicated corpus while retaining the
    * full data for curriculum/shuffling freedom). Input `clusters` is
    * any (doc_id, cluster_size) table — here the near-dup connected
    * components; docs outside every cluster weigh 1. Reported per
    * source: doc counts, duplicate-cluster membership, raw vs
    * EFFECTIVE token mass (Σ n_tokens/cluster_size) and their ratio —
    * the "how much of this source is really there" read that prices a
    * mixture BEFORE sampling weights are chosen.
    *
    * Scale shape: one doc-keyed left join (the cluster table is the
    * pair-graph's node set, orders of magnitude smaller than the
    * corpus) + one keyed aggregation; per-row effective masses are
    * deterministic scalar divisions riding a decimal-backed sum.
    */
  def softDedupWeights(docs: DataFrame, clusters: DataFrame,
      textCol: String = "text"): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      size(Text.words(col(textCol))).as("n_tokens"))
    base.join(clusters.select("doc_id", "cluster_size"), Seq("doc_id"), "left")
      .withColumn("csz", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("eff", col("n_tokens").cast("double") / col("csz"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("csz") > 1, 1L).otherwise(0L)).as("n_in_dup_clusters"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("eff").cast("decimal(38,6)")).cast("double").as("eff_tokens"))
      .withColumn("dedup_ratio", round(col("eff_tokens") / col("n_tokens"), 6))
      .orderBy("source")
  }

  /** Exact duplicate-substring spans at L-word resolution: for each
    * document, the maximal word ranges covered by L-grams that also
    * occur in at least one OTHER document — the span-level exact-dedup
    * pass (remove the repeated boilerplate, keep the novel prose) that
    * document-level dedup cannot express.
    *
    * Scale design: positions shuffle on the 16-byte gram md5, never the
    * gram text; the cross-doc test is a two-stage keyed aggregation
    * (distinct (gram, doc) then count), and span assembly is one lag +
    * running-sum window per document (linear state). A boilerplate gram
    * shared by a million docs costs its own position rows and nothing
    * more — no pair set is ever materialized.
    */
  def duplicateSpans(docs: DataFrame, L: Int = SpanGramLen,
      textCol: String = "text"): DataFrame = {
    val g = docs
      .select(col("doc_id"), posexplode(Text.shingles(col(textCol), L)).as(Seq("pos0", "g")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), md5(col("g")).as("gk"))
    // "gram appears in ≥2 distinct docs" as a gk-keyed window test
    // (min(doc_id) ≠ max(doc_id)) instead of distinct + groupBy + join
    // back — one gram shuffle and one gram-table computation instead of
    // two of each (guide §2.4; identical row set)
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val wG = Window.partitionBy("gk")
    g.withColumn("d_lo", min(col("doc_id")).over(wG))
      .withColumn("d_hi", max(col("doc_id")).over(wG))
      .filter(col("d_lo") =!= col("d_hi"))
      .select("doc_id", "pos")
      .withColumn("prev", lag(col("pos"), 1).over(wDoc))
      // merge overlapping or adjacent spans: position p covers words
      // p..p+L-1, so the next dup position continues the span iff it
      // starts at or before prev+L
      .withColumn("brk", when(col("prev").isNull || col("pos") > col("prev") + L, 1).otherwise(0))
      .withColumn("island",
        sum(col("brk")).over(wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + (L - 1)).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select("doc_id", "span_start", "span_end", "n_dup_grams")
  }

  /** Exact substring-level DEDUPLICATION at L-word resolution — the
    * cleaning pass over [[duplicateSpans]]'s census (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": remove
    * every copy of a repeated substring except the first). An
    * occurrence (doc, pos) of an L-gram is redundant iff a strictly
    * earlier occurrence of the same gram exists anywhere in the corpus
    * (earlier = smaller (doc_id, pos) lexicographically — covers both
    * cross-document boilerplate and within-document loops); redundant
    * windows are erased from the token stream and the surviving text is
    * fingerprinted. Exactly one copy of every duplicated L-gram's first
    * window survives, so corpus-wide repeated substrings keep one
    * canonical occurrence — the suffix-array dedup result re-expressed
    * as two keyed aggregations, no suffix array needed.
    *
    * Scale design: the first-occurrence fold is one keyed min over the
    * 16-byte gram md5 (never the gram text); the redundant set joins
    * back by the same key; erased positions explode L rows per
    * redundant window (bounded) and dedup per doc; the surviving text
    * reassembles with one per-doc sort — all linear, no pair space.
    * Occurrence order is the struct-min over (doc_id, pos) — exact for
    * ANY document length and id range (the round-13 spelling encoded
    * doc_id·2^20 + pos, silently wrong past 2^20 words per doc).
    */
  def substringRemoval(docs: DataFrame, L: Int = SpanGramLen,
      textCol: String = "text"): DataFrame = {
    val occKey = struct(col("doc_id"), col("pos"))
    val g = hashedGramPositions(docs, L, textCol)
    // first occurrence via a gk-keyed window MIN (guide §2.4: a window
    // keyed like the aggregation shares its one shuffle): the previous
    // groupBy + self-join spelling shuffled the corpus-sized gram table
    // TWICE and computed it twice (its subtree appeared under both join
    // sides). Identical rows: filter occKey > min(occKey) over gk.
    val erased = g
      .withColumn("first_occ", min(occKey).over(Window.partitionBy("gk")))
      .filter(occKey > col("first_occ"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + lit(L - 1))).as("pos"))
      .distinct()
    erasureCensus(docs, erased, textCol)
  }

  /** (doc_id, pos, gk) hashed L-gram positions — shared by the removal
    * pass and the gate.
    */
  private def hashedGramPositions(docs: DataFrame, L: Int,
      textCol: String): DataFrame =
    docs
      .select(col("doc_id"), posexplode(Text.shingles(col(textCol), L)).as(Seq("pos0", "g")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), md5(col("g")).as("gk"))

  /** Per-doc census after erasing `erased` (doc_id, pos) token
    * positions: kept/removed counts and the md5 of the surviving text.
    */
  private def erasureCensus(docs: DataFrame, erased: DataFrame,
      textCol: String): DataFrame = {
    val tok = docs
      .select(col("doc_id"), posexplode(Text.words(col(textCol))).as(Seq("pos0", "word")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("word"))
    val keptAgg = tok.join(erased, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")))).as("kept_md5"))
    docs.select(col("doc_id"), size(Text.words(col(textCol))).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        round((col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("double")
          / col("n_tokens"), 6).as("removed_frac"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
  }

  /** Directed boilerplate-flow matrix — WHO COPIES WHOM at substring
    * granularity: every redundant L-gram occurrence (the
    * [[substringRemoval]] definition) is attributed to the SOURCE of
    * its corpus-wide first occurrence, and the census counts redundant
    * occurrences by (from_source → in_source) — the provenance read
    * that tells a curation team which feed originates the duplication
    * a downstream feed re-serves. Diagonal = within-source
    * duplication. Same keyed first-occurrence struct-min as the
    * removal pass; the first doc reads from the occurrence struct and
    * joins the doc→source map by id.
    */
  def boilerplateFlow(docs: DataFrame, L: Int = SpanGramLen,
      textCol: String = "text"): DataFrame = {
    val occKey = struct(col("doc_id"), col("pos"))
    val g = hashedGramPositions(docs, L, textCol)
    val srcOf = docs.select(col("doc_id"), col("source"))
    // gk-keyed window MIN instead of groupBy + self-join — one gram
    // shuffle, one gram-table computation (see substringRemoval)
    g.withColumn("first_occ", min(occKey).over(Window.partitionBy("gk")))
      .filter(occKey > col("first_occ"))
      .withColumn("first_doc", col("first_occ").getField("doc_id"))
      .join(srcOf.withColumnRenamed("source", "in_source"), "doc_id")
      .join(srcOf.withColumnRenamed("doc_id", "first_doc")
        .withColumnRenamed("source", "from_source"), "first_doc")
      .groupBy("from_source", "in_source")
      .agg(count(lit(1)).as("n_redundant_grams"),
        countDistinct(col("doc_id")).as("n_docs_hit"))
      .orderBy("from_source", "in_source")
  }

  /** Distinct hashed L-gram set of a base corpus — the frozen artifact
    * [[substringGate]] cleans arriving documents against (persist it
    * via Materialized/IndexStore like any other index table; it is the
    * text-side analogue of the dhash base).
    */
  def gramSet(docs: DataFrame, L: Int = SpanGramLen,
      textCol: String = "text"): DataFrame =
    docs
      .select(explode(array_distinct(Text.shingles(col(textCol), L))).as("g"))
      .select(md5(col("g")).as("gk"))
      .distinct()

  /** The incremental/serving half of [[substringRemoval]] — the Lee et
    * al. cleaning applied at INGEST: erase from each arriving document
    * every window whose L-gram already exists in the base corpus's
    * [[gramSet]]. Stream-static shape (the q184/knGate discipline):
    * the batch tokenizes and joins the frozen artifact by the 16-byte
    * gram key — no state store, no watermark, no batch-vs-batch state.
    * Within-batch novelty is deliberately NOT deduped here (that is
    * the batch pass's job at the next compaction); the gate's contract
    * is "nothing the corpus already contains survives ingestion".
    */
  def substringGate(batch: DataFrame, baseGrams: DataFrame,
      L: Int = SpanGramLen, textCol: String = "text"): DataFrame = {
    // NOT cached here: the batch text feeds three tokenizing subtrees
    // (gram positions, the kept-census explode, the token-count
    // projection), but this operator also runs per MICRO-BATCH in the
    // streaming gates, where an operator-owned cache would accumulate
    // one pin per batch with no release point. Batch-side callers that
    // want the one-scan shape pass a cached frame (q302/q310/q312 do).
    val b = batch.select(col("doc_id"), col(textCol))
    val erased = hashedGramPositions(b, L, textCol)
      .join(baseGrams, "gk")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + lit(L - 1))).as("pos"))
      .distinct()
    erasureCensus(b, erased, textCol)
  }

  val WinnowK = 3 // fingerprint gram size (words)
  val WinnowW = 4 // winnowing window (grams)
  val WinnowDfCap = 50 // hot-fingerprint cap in overlap candidate generation

  /** Selected winnowing fingerprints — the MOSS selection (Schleimer et
    * al. 2003, SIGMOD): per window of [[WinnowW]] consecutive
    * [[WinnowK]]-gram hashes keep the minimum, ties to the RIGHTMOST
    * position; dedup selections across overlapping windows. Guarantees
    * every shared substring of ≥ W+K−1 words shares a fingerprint —
    * the detection floor MinHash cannot promise.
    *
    * Shape: position rows (the CDC lesson — array-building generators
    * re-evaluate per output row), lag-window grams (one md5 per
    * position), a 4-way window-membership explode of SCALARS, and one
    * (doc, window) aggregation whose min(struct(g, −i)) implements
    * min-hash-then-rightmost deterministically on both engines.
    */
  private[graft] def winnowSelected(docs: DataFrame, textCol: String): DataFrame = {
    val wd = Window.partitionBy("doc_id").orderBy("p")
    val grams = docs
      .select(col("doc_id"), posexplode(Text.words(col(textCol))).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("word"))
      .withColumn("gram", concat_ws(" ",
        lag(col("word"), 2).over(wd), lag(col("word"), 1).over(wd), col("word")))
      .filter(col("p") >= WinnowK)
      .select(col("doc_id"), (col("p") - (WinnowK - 1)).as("i"),
        Hashes.md5Long32(col("gram")).as("g"))
    val withN = grams.withColumn("ng", max(col("i")).over(Window.partitionBy("doc_id")))
    withN
      .select(col("doc_id"), col("i"), col("g"), col("ng"),
        explode(sequence(col("i"),
          least(col("i") + (WinnowW - 1), col("ng")))).as("e"))
      .filter(col("e") >= WinnowW)
      .groupBy("doc_id", "e")
      .agg(min(struct(col("g"), (-col("i")).as("ni"))).as("sel"), min(col("ng")).as("ng"))
      .select(col("doc_id"), col("sel.g").as("g"), (-col("sel.ni")).as("i"), col("ng"))
      .distinct()
  }

  /** Per-doc winnowing profile: gram/window/fingerprint counts and the
    * md5 of the ordered (position, hash) fingerprint set. Docs shorter
    * than K+W−1 words have no window and are absent (mirrored).
    */
  def winnowFingerprints(docs: DataFrame, textCol: String = "text"): DataFrame =
    winnowSelected(docs, textCol)
      .groupBy("doc_id")
      .agg(
        min(col("ng")).cast("int").as("n_grams"),
        (min(col("ng")) - (WinnowW - 1)).cast("int").as("n_windows"),
        count(lit(1)).as("n_fingerprints"),
        md5(concat_ws(",", transform(
          array_sort(collect_list(struct(col("i"), col("g")))),
          s => concat_ws(":", s.getField("i").cast("string"), s.getField("g").cast("string")))))
          .as("fp_md5"))

  /** Cross-doc fingerprint-overlap pairs (the MOSS report): candidate
    * pairs share a fingerprint hash (keyed join, [[WinnowDfCap]] drops
    * corpus-boilerplate hashes — the stop-shingle precedent);
    * overlap = shared DISTINCT hashes / min(distinct_a, distinct_b)
    * over the full (pre-cap) fingerprint sets — a true overlap
    * coefficient in [0, 1].
    */
  def winnowOverlapPairs(docs: DataFrame, threshold: Double = 0.2,
      textCol: String = "text"): DataFrame = {
    // DISTINCT (doc, hash): a phrase repeated through one doc selects
    // the same hash at many positions — the multiset join would count
    // those positions as a cross product (overlap >> 1, one repetitive
    // doc alone defeating the DF cap). Set semantics bound the metric
    // and the join. Materialized once: the selection subtree feeds the
    // totals, the DF cap, AND both join sides.
    val fps = winnowSelected(docs, textCol).select("doc_id", "g")
      .distinct().localCheckpoint()
    val totals = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val keep = fps.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowDfCap).select("g")
    val kept = fps.join(keep, "g")
    val shared = kept.select(col("doc_id").as("d1"), col("g"))
      .join(kept.select(col("doc_id").as("d2"), col("g")), "g")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_shared"))
    shared
      .join(totals.select(col("doc_id").as("d1"), col("n_fp").as("n1")), "d1")
      .join(totals.select(col("doc_id").as("d2"), col("n_fp").as("n2")), "d2")
      .withColumn("overlap",
        round(col("n_shared").cast("double") / least(col("n1"), col("n2")), 6))
      .filter(col("overlap") >= threshold)
      .select("d1", "d2", "n_shared", "overlap")
  }

  /** DuckDB oracle SQL builders (quadratic but equivalent pair sets). */
  object O {

    /** CTE chain ending in `sel(doc_id, g, i, ng)` — the bit-identical
      * twin of [[Dedup.winnowSelected]] (gram hashes, window
      * membership, min-struct rightmost-tie selection, distinct).
      */
    private def winnowSelCtes: String =
      s"""base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |gr AS (SELECT doc_id, CAST(i AS INT) AS i,
         |         ${Hashes.O.md5Long32(s"w[i] || ' ' || w[i+1] || ' ' || w[i+2]")} AS g,
         |         CAST(len(w) - ${WinnowK - 1} AS INT) AS ng
         |       FROM base, unnest(range(1, len(w) - ${WinnowK - 2})) t(i)
         |       WHERE len(w) >= $WinnowK),
         |mem AS (SELECT doc_id, i, g, ng, CAST(e AS INT) AS e
         |        FROM gr, unnest(range(i, least(i + $WinnowW, ng + 1))) s(e)
         |        WHERE e >= $WinnowW),
         |sel AS (SELECT DISTINCT doc_id, (m).g AS g, -((m).ni) AS i, ng FROM (
         |        SELECT doc_id, e, MIN({'g': g, 'ni': -i}) AS m, MIN(ng) AS ng
         |        FROM mem GROUP BY doc_id, e))""".stripMargin

    /** Mirrors winnowFingerprints. */
    def winnowFingerprints: String =
      s"""WITH $winnowSelCtes
         |SELECT doc_id, CAST(MIN(ng) AS INT) AS n_grams,
         |  CAST(MIN(ng) - ${WinnowW - 1} AS INT) AS n_windows,
         |  CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
         |  md5(string_agg(CAST(i AS VARCHAR) || ':' || CAST(g AS VARCHAR), ',' ORDER BY i, g)) AS fp_md5
         |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin

    /** Mirrors winnowOverlapPairs (set semantics: DISTINCT (doc, g)). */
    def winnowOverlapPairs(threshold: Double = 0.2): String =
      s"""WITH $winnowSelCtes,
         |fps AS (SELECT DISTINCT doc_id, g FROM sel),
         |tot AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id),
         |keep AS (SELECT g FROM fps GROUP BY g HAVING COUNT(*) <= $WinnowDfCap),
         |kept AS (SELECT fps.* FROM fps JOIN keep USING (g)),
         |sh AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS n_shared
         |       FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT d1, d2, n_shared,
         |  round(CAST(n_shared AS DOUBLE) / least(t1.n_fp, t2.n_fp), 6) AS overlap
         |FROM sh JOIN tot t1 ON t1.doc_id = d1 JOIN tot t2 ON t2.doc_id = d2
         |WHERE round(CAST(n_shared AS DOUBLE) / least(t1.n_fp, t2.n_fp), 6) >= $threshold
         |ORDER BY d1, d2""".stripMargin

    /** Mirrors duplicateSpans: identical gram hashing, island merge. */
    def duplicateSpans(l: Int = SpanGramLen): String =
      s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, w, CAST(unnest(range(1, len(w) - ${l - 2})) AS INT) AS pos
         |      FROM wl WHERE len(w) >= $l),
         |g AS (SELECT doc_id, pos, md5(array_to_string(w[pos:pos+${l - 1}], ' ')) AS gk FROM p),
         |dup AS (SELECT gk FROM (SELECT DISTINCT gk, doc_id FROM g) GROUP BY gk HAVING COUNT(*) > 1),
         |h AS (SELECT doc_id, pos FROM g JOIN dup USING (gk)),
         |i AS (SELECT doc_id, pos,
         |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL THEN 1
         |             WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $l THEN 1
         |             ELSE 0 END AS brk
         |      FROM h),
         |isl AS (SELECT doc_id, pos,
         |          SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
         |        FROM i)
         |SELECT doc_id, MIN(pos) AS span_start, CAST(MAX(pos) + ${l - 1} AS INT) AS span_end,
         |  COUNT(*) AS n_dup_grams
         |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin

    /** Shared erasure tail: given CTEs `$wl` (doc_id, w) and `er`
      * (doc_id, pos), reassemble surviving text and census per doc.
      */
    private def erasureTailCtes(wl: String): String =
      s"""tok AS (SELECT doc_id, pos, w[pos] AS word FROM (
         |          SELECT doc_id, w, CAST(unnest(range(1, len(w) + 1)) AS INT) AS pos FROM $wl)),
         |kept AS (SELECT t.doc_id, t.pos, t.word FROM tok t
         |         ANTI JOIN er ON er.doc_id = t.doc_id AND er.pos = t.pos),
         |ka AS (SELECT doc_id, COUNT(*) AS n_kept,
         |         md5(string_agg(word, ' ' ORDER BY pos)) AS kept_md5
         |       FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM $wl)""".stripMargin

    private val erasureSelect: String =
      s"""SELECT tot.doc_id, tot.n_tokens,
         |  COALESCE(ka.n_kept, 0) AS n_kept,
         |  tot.n_tokens - COALESCE(ka.n_kept, 0) AS n_removed,
         |  round(CAST(tot.n_tokens - COALESCE(ka.n_kept, 0) AS DOUBLE) / tot.n_tokens, 6)
         |    AS removed_frac,
         |  COALESCE(ka.kept_md5, md5('')) AS kept_md5
         |FROM tot LEFT JOIN ka USING (doc_id) ORDER BY doc_id""".stripMargin

    /** Mirrors substringRemoval: identical gram hashing, first-occurrence
      * keyed min, window erasure, per-doc reassembly.
      */
    def substringRemoval(l: Int = SpanGramLen): String =
      s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, w, CAST(unnest(range(1, len(w) - ${l - 2})) AS INT) AS pos
         |      FROM wl WHERE len(w) >= $l),
         |g AS (SELECT doc_id, pos, md5(array_to_string(w[pos:pos+${l - 1}], ' ')) AS gk FROM p),
         |f AS (SELECT gk, doc_id AS f_doc, pos AS f_pos FROM (
         |      SELECT gk, doc_id, pos,
         |             ROW_NUMBER() OVER (PARTITION BY gk ORDER BY doc_id, pos) AS rn FROM g)
         |      WHERE rn = 1),
         |er AS (SELECT DISTINCT g.doc_id, CAST(unnest(range(g.pos, g.pos + $l)) AS INT) AS pos
         |       FROM g JOIN f USING (gk) WHERE (g.doc_id, g.pos) > (f.f_doc, f.f_pos)),
         |${erasureTailCtes("wl")}
         |$erasureSelect""".stripMargin

    /** Mirrors [[Dedup.boilerplateFlow]]: same first-occurrence keyed
      * min, first-doc decode, source attribution.
      */
    def boilerplateFlow(l: Int = SpanGramLen): String =
      s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, w, CAST(unnest(range(1, len(w) - ${l - 2})) AS INT) AS pos
         |      FROM wl WHERE len(w) >= $l),
         |g AS (SELECT doc_id, pos, md5(array_to_string(w[pos:pos+${l - 1}], ' ')) AS gk FROM p),
         |f AS (SELECT gk, doc_id AS f_doc, pos AS f_pos FROM (
         |      SELECT gk, doc_id, pos,
         |             ROW_NUMBER() OVER (PARTITION BY gk ORDER BY doc_id, pos) AS rn FROM g)
         |      WHERE rn = 1),
         |r AS (SELECT g.doc_id, f.f_doc AS first_doc
         |      FROM g JOIN f USING (gk)
         |      WHERE (g.doc_id, g.pos) > (f.f_doc, f.f_pos))
         |SELECT df.source AS from_source, di.source AS in_source,
         |  COUNT(*) AS n_redundant_grams,
         |  CAST(COUNT(DISTINCT r.doc_id) AS BIGINT) AS n_docs_hit
         |FROM r JOIN documents di ON di.doc_id = r.doc_id
         |JOIN documents df ON df.doc_id = r.first_doc
         |GROUP BY 1, 2 ORDER BY from_source, in_source""".stripMargin

    /** Mirrors substringGate over a base/delta split of `documents`:
      * base grams = the frozen artifact, delta docs = the arriving
      * batch (the complement of the base by default; pass
      * `deltaPredSql` when the two are not complements — e.g. an
      * erased cohort belongs to neither side, q312).
      */
    def substringGate(basePredSql: String, l: Int = SpanGramLen,
        deltaPredSql: Option[String] = None): String =
      s"""WITH dwl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |             WHERE ${deltaPredSql.getOrElse(s"NOT ($basePredSql)")}),
         |bg AS (SELECT DISTINCT md5(array_to_string(w[pos:pos+${l - 1}], ' ')) AS gk FROM (
         |        SELECT w, CAST(unnest(range(1, len(w) - ${l - 2})) AS INT) AS pos
         |        FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE $basePredSql)
         |        WHERE len(w) >= $l)),
         |p AS (SELECT doc_id, w, CAST(unnest(range(1, len(w) - ${l - 2})) AS INT) AS pos
         |      FROM dwl WHERE len(w) >= $l),
         |g AS (SELECT doc_id, pos, md5(array_to_string(w[pos:pos+${l - 1}], ' ')) AS gk FROM p),
         |er AS (SELECT DISTINCT g.doc_id, CAST(unnest(range(g.pos, g.pos + $l)) AS INT) AS pos
         |       FROM g JOIN bg USING (gk)),
         |${erasureTailCtes("dwl")}
         |$erasureSelect""".stripMargin

    private val shingleCte =
      """WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, sh FROM (
        |         SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |         FROM wl WHERE len(w) >= 3) t)""".stripMargin

    /** Hashed-shingle variant used by the Jaccard oracle (matches the
      * Spark side's md5Long32 join keys).
      */
    private val hashedShingleCte =
      """WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(sh_str), 1, 8))::BIGINT AS sh FROM (
        |         SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh_str
        |         FROM wl WHERE len(w) >= 3) t)""".stripMargin

    def exact: String =
      """SELECT md5(text) AS content_md5, min(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_md5""".stripMargin

    /** Mirrors the two-level block cap: hot first-two-word blocks are
      * refined by the length bucket; still-hot refined buckets drop.
      */
    def editDistancePairs(prefixLen: Int = 60, maxDist: Int = 25): String =
      s"""WITH t AS (SELECT doc_id, substring(text, 1, $prefixLen) AS pfx,
         |             array_to_string(string_split(text, ' ')[1:2], ' ') AS blk,
         |             length(text) // $EditLenBucket AS lb
         |           FROM documents),
         |d0 AS (SELECT blk, COUNT(*) AS df0 FROM t GROUP BY blk),
         |r AS (SELECT t.doc_id, t.pfx, t.blk,
         |        CASE WHEN d0.df0 <= $EditBlockCap THEN -1 ELSE t.lb END AS grp
         |      FROM t JOIN d0 USING (blk)),
         |keep AS (SELECT blk, grp FROM r GROUP BY blk, grp HAVING COUNT(*) <= $EditBlockCap),
         |k AS (SELECT r.* FROM r JOIN keep USING (blk, grp))
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(levenshtein(a.pfx, b.pfx) AS INT) AS edit_dist
         |FROM k a JOIN k b ON a.blk = b.blk AND a.grp = b.grp AND a.doc_id < b.doc_id
         |WHERE levenshtein(a.pfx, b.pfx) <= $maxDist
         |ORDER BY d1, d2""".stripMargin

    /** Mirrors jaroWinklerPairs: DuckDB's native jaro_winkler_similarity
      * IS the algorithm twin of the custom expression (fuzz-verified at
      * 6 dp), over the identical capped blocks.
      */
    /** Shared CTE list ending in jwp(d1, d2, jw_sim) — the q194 pair
      * generator, reusable by composition oracles (q222).
      */
    def jwPairsCtes(prefixLen: Int = 60, minSim: Double = JwMinSim): String =
      s"""t AS (SELECT doc_id, substring(text, 1, $prefixLen) AS pfx,
         |             array_to_string(string_split(text, ' ')[1:2], ' ') AS blk,
         |             length(text) // $EditLenBucket AS lb
         |           FROM documents),
         |d0 AS (SELECT blk, COUNT(*) AS df0 FROM t GROUP BY blk),
         |r AS (SELECT t.doc_id, t.pfx, t.blk,
         |        CASE WHEN d0.df0 <= $EditBlockCap THEN -1 ELSE t.lb END AS grp
         |      FROM t JOIN d0 USING (blk)),
         |keep AS (SELECT blk, grp FROM r GROUP BY blk, grp HAVING COUNT(*) <= $EditBlockCap),
         |k AS (SELECT r.* FROM r JOIN keep USING (blk, grp)),
         |jwp AS (SELECT d1, d2, jw_sim FROM (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    round(jaro_winkler_similarity(a.pfx, b.pfx), 6) AS jw_sim
         |  FROM k a JOIN k b ON a.blk = b.blk AND a.grp = b.grp AND a.doc_id < b.doc_id)
         |WHERE jw_sim >= $minSim)""".stripMargin

    def jaroWinklerPairs(prefixLen: Int = 60, minSim: Double = JwMinSim): String =
      s"""WITH ${jwPairsCtes(prefixLen, minSim)}
         |SELECT d1, d2, jw_sim FROM jwp ORDER BY d1, d2""".stripMargin

    /** Mirrors damerauPairs (DuckDB's damerau_levenshtein is the FULL
      * Lowrance–Wagner variant — the custom expression's twin).
      */
    def damerauPairs(prefixLen: Int = 60, maxDist: Int = 25): String =
      s"""WITH t AS (SELECT doc_id, substring(text, 1, $prefixLen) AS pfx,
         |             array_to_string(string_split(text, ' ')[1:2], ' ') AS blk,
         |             length(text) // $EditLenBucket AS lb
         |           FROM documents),
         |d0 AS (SELECT blk, COUNT(*) AS df0 FROM t GROUP BY blk),
         |r AS (SELECT t.doc_id, t.pfx, t.blk,
         |        CASE WHEN d0.df0 <= $EditBlockCap THEN -1 ELSE t.lb END AS grp
         |      FROM t JOIN d0 USING (blk)),
         |keep AS (SELECT blk, grp FROM r GROUP BY blk, grp HAVING COUNT(*) <= $EditBlockCap),
         |k AS (SELECT r.* FROM r JOIN keep USING (blk, grp))
         |SELECT d1, d2, edit_dist, dl_dist, edit_dist - dl_dist AS transposition_savings
         |FROM (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    CAST(levenshtein(a.pfx, b.pfx) AS INT) AS edit_dist,
         |    CAST(damerau_levenshtein(a.pfx, b.pfx) AS INT) AS dl_dist
         |  FROM k a JOIN k b ON a.blk = b.blk AND a.grp = b.grp AND a.doc_id < b.doc_id)
         |WHERE dl_dist <= $maxDist
         |ORDER BY d1, d2""".stripMargin

    private def minhashHs: String = (0 until MinhashK)
      .map(i => s"min(('0x' || substr(md5('$i:' || sh), 1, 8))::BIGINT) AS h$i")
      .mkString(",\n         ")

    private def minhashBandsEq: String = {
      val rows = MinhashK / MinhashBands
      (0 until MinhashBands).map { b =>
        (0 until rows).map(r => s"a.h${b * rows + r} = b.h${b * rows + r}").mkString("(", " AND ", ")")
      }.mkString(" OR ")
    }

    /** Mirrors incrementalFlags (band equality as the OR of per-band
      * component conjunctions — equivalent to the concat key, since the
      * separator is outside the digit alphabet).
      */
    def incrementalFlags(splitId: Long): String =
      s"""$shingleCte,
         |sig AS (SELECT doc_id,
         |         $minhashHs
         |        FROM sh GROUP BY doc_id),
         |near AS (SELECT DISTINCT a.doc_id FROM sig a JOIN sig b
         |         ON b.doc_id < $splitId AND a.doc_id >= $splitId AND ($minhashBandsEq)),
         |ch AS (SELECT doc_id, md5(text) AS ch FROM documents),
         |ex AS (SELECT DISTINCT a.doc_id FROM ch a JOIN ch b
         |       ON b.doc_id < $splitId AND a.doc_id >= $splitId AND a.ch = b.ch)
         |SELECT d.doc_id,
         |  (d.doc_id IN (SELECT doc_id FROM ex)) AS is_exact_dup,
         |  (d.doc_id IN (SELECT doc_id FROM near)) AS is_near_dup
         |FROM documents d WHERE d.doc_id >= $splitId ORDER BY doc_id""".stripMargin

    /** Shared CTE list ending in mhp(d1, d2, est_jaccard) — the q43
      * LSH-candidate generator, reusable by the pair-metric oracles
      * (BLEU/ROUGE) exactly like [[jwPairsCtes]].
      */
    def minhashPairCtes: String = {
      val hs = minhashHs
      val bands = minhashBandsEq
      val matches = (0 until MinhashK)
        .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""$shingleCte,
         |sig AS (SELECT doc_id,
         |         $hs
         |        FROM sh GROUP BY doc_id),
         |mhp AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |          round(($matches) / ${MinhashK}.0, 6) AS est_jaccard
         |        FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bands))""".stripMargin
    }

    def minhashPairs: String =
      s"""$minhashPairCtes
         |SELECT d1, d2, est_jaccard FROM mhp ORDER BY d1, d2""".stripMargin

    /** Mirrors [[Dedup.bbitMinhashPairs]]: the same signature/pair CTEs,
      * low-b-bit masked matches, the Li–König debias with the identical
      * dyadic literals and op order.
      */
    def bbitMinhashPairs(b: Int = 2): String = {
      val mask = (1L << b) - 1
      val matchesB = (0 until MinhashK)
        .map(i => s"CASE WHEN (a.h$i & $mask) = (b.h$i & $mask) THEN 1 ELSE 0 END")
        .mkString(" + ")
      val pRand = 1.0 / (1L << b)
      s"""$minhashPairCtes
         |SELECT p.d1, p.d2, p.est_jaccard,
         |  CAST(($matchesB) AS INT) AS n_match_bbit,
         |  round(greatest(0.0,
         |    (CAST(($matchesB) AS DOUBLE) / ${MinhashK}.0 - $pRand) / ${1.0 - pRand}), 6)
         |    AS est_jaccard_bbit
         |FROM mhp p JOIN sig a ON a.doc_id = p.d1 JOIN sig b ON b.doc_id = p.d2
         |ORDER BY p.d1, p.d2""".stripMargin
    }

    /** Mirrors [[Dedup.lshTuningCurve]]: one signature table, one
      * hashed-shingle truth set (the q42 df-capped generator at the
      * tuning threshold), per-config band-equality candidate CTEs, and
      * the shared Scala-computed analytic collision literal.
      */
    def lshTuningCurve(configs: Seq[(Int, Int)] = Seq((2, 8), (4, 4), (8, 2)),
        truthThreshold: Double = 0.5): String = {
      val cfgCtes = configs.map { case (b, r) =>
        val bands = (0 until b).map { bi =>
          (0 until r).map(j => s"a.h${bi * r + j} = b.h${bi * r + j}")
            .mkString("(", " AND ", ")")
        }.mkString(" OR ")
        s"""cand_${b}_$r AS (SELECT a.doc_id AS d1, b.doc_id AS d2
           |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bands))""".stripMargin
      }.mkString(",\n")
      val rows = configs.map { case (b, r) =>
        val p = BigDecimal(lshCollisionProb(truthThreshold, b, r))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        s"""SELECT CAST($b AS INT) AS bands, CAST($r AS INT) AS rows_per_band,
           |  (SELECT COUNT(*) FROM cand_${b}_$r) AS n_candidates,
           |  (SELECT COUNT(*) FROM cand_${b}_$r c JOIN truth t
           |     ON t.d1 = c.d1 AND t.d2 = c.d2) AS n_hits,
           |  (SELECT COUNT(*) FROM truth) AS n_true,
           |  CAST($p AS DOUBLE) AS p_collision""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$shingleCte,
         |sig AS MATERIALIZED (SELECT doc_id,
         |         $minhashHs
         |        FROM sh GROUP BY doc_id),
         |hsh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h FROM sh),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM hsh GROUP BY 1),
         |rare AS (SELECT h FROM hsh GROUP BY h HAVING COUNT(*) <= $JaccardDocFreqCap),
         |filt AS (SELECT hsh.doc_id, hsh.h FROM hsh JOIN rare USING (h)),
         |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
         |          FROM filt a JOIN filt b ON a.h = b.h AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |truth AS MATERIALIZED (SELECT d1, d2 FROM inter
         |         JOIN sizes za ON d1 = za.doc_id JOIN sizes zb ON d2 = zb.doc_id
         |         WHERE round(CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common), 6)
         |           >= $truthThreshold),
         |$cfgCtes
         |SELECT bands, rows_per_band, n_candidates, n_hits, n_true,
         |  round(CASE WHEN n_candidates > 0
         |             THEN CAST(n_hits AS DOUBLE) / n_candidates END, 6) AS pair_precision,
         |  round(CASE WHEN n_true > 0
         |             THEN CAST(n_hits AS DOUBLE) / n_true END, 6) AS pair_recall,
         |  p_collision
         |FROM (
         |$rows
         |) ORDER BY bands""".stripMargin
    }

    def simhashPairs: String = {
      val bitSums = (0 until SimhashBits)
        .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
        .mkString(",\n         ")
      val simhash = (0 until SimhashBits)
        .map(b => s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      val chunks = (0 until SimhashChunks)
        .map(j => s"((a.simhash >> ${j * 12}) & 4095) = ((b.simhash >> ${j * 12}) & 4095)")
        .mkString(" OR ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
         |bits AS (SELECT doc_id,
         |         $bitSums
         |        FROM th GROUP BY doc_id),
         |sim AS (SELECT doc_id, ($simhash) AS simhash FROM bits)
         |SELECT a.doc_id AS d1, b.doc_id AS d2, a.simhash AS s1, b.simhash AS s2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) <= $SimhashMaxHamming
         |  AND ($chunks)
         |ORDER BY d1, d2""".stripMargin
    }

    private val jaccardCtes =
      s"""$hashedShingleCte,
         |sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
         |rare AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= $JaccardDocFreqCap),
         |filt AS (SELECT sh.doc_id, sh.sh FROM sh JOIN rare ON sh.sh = rare.sh),
         |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
         |          FROM filt a JOIN filt b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)""".stripMargin

    def containmentPairs: String =
      s"""$jaccardCtes
         |SELECT d1, d2, n_common, za.n_shingles AS n1, zb.n_shingles AS n2,
         |  round(CAST(n_common AS DOUBLE) / least(za.n_shingles, zb.n_shingles), 6) AS containment
         |FROM inter
         |JOIN sizes za ON d1 = za.doc_id
         |JOIN sizes zb ON d2 = zb.doc_id
         |WHERE round(CAST(n_common AS DOUBLE) / least(za.n_shingles, zb.n_shingles), 6) >= $ContainmentThreshold
         |ORDER BY d1, d2""".stripMargin

    def ngramJaccardPairs: String =
      s"""$jaccardCtes
         |SELECT d1, d2, n_common, za.n_shingles AS n1, zb.n_shingles AS n2,
         |  round(CAST(n_common AS DOUBLE) / (za.n_shingles + zb.n_shingles - n_common), 6) AS jaccard
         |FROM inter
         |JOIN sizes za ON d1 = za.doc_id
         |JOIN sizes zb ON d2 = zb.doc_id
         |WHERE round(CAST(n_common AS DOUBLE) / (za.n_shingles + zb.n_shingles - n_common), 6) >= $JaccardThreshold
         |ORDER BY d1, d2""".stripMargin

    /** Cluster resolution over the Jaccard pair graph: reachability
      * closure (recursive CTE) → per-node component min label and size —
      * semantically identical to the Spark min-label propagation.
      */
    /** The q52 component replay's shared prefix, ending in
      * `reach(src, dst)` — the transitive closure of the thresholded
      * Jaccard pair graph.
      */
    private def reachCtes: String =
      s"""${jaccardCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |pairs AS (SELECT d1, d2 FROM inter
         |          JOIN sizes za ON d1 = za.doc_id
         |          JOIN sizes zb ON d2 = zb.doc_id
         |          WHERE round(CAST(n_common AS DOUBLE) / (za.n_shingles + zb.n_shingles - n_common), 6) >= $JaccardThreshold),
         |sym AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM sym) t
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)""".stripMargin

    def clusters: String =
      s"""$reachCtes
         |SELECT src AS doc_id, min(dst) AS cluster_rep, COUNT(DISTINCT dst) AS cluster_size,
         |  (src = min(dst)) AS is_kept
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

    /** The closure plus `cl(doc_id, cluster_rep)` — the cluster-map
      * prefix a consumer joins by doc (q334's leakage-safe split key).
      * Starts with WITH RECURSIVE; append further CTEs with commas.
      */
    def clusterRepCtes: String =
      s"""$reachCtes,
         |cl AS (SELECT src AS doc_id, min(dst) AS cluster_rep FROM reach GROUP BY src)""".stripMargin

    /** Mirrors [[Dedup.softDedupWeights]] over the replayed component
      * sizes: same coalesce-to-1 for unclustered docs, same per-row
      * effective-mass division riding the decimal sum.
      */
    def softDedupWeights: String =
      s"""$reachCtes,
         |cl AS (SELECT src AS doc_id, COUNT(DISTINCT dst) AS cluster_size
         |       FROM reach GROUP BY src),
         |base AS (SELECT doc_id, source,
         |           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents),
         |wts AS (SELECT b.source, b.n_tokens,
         |          COALESCE(cl.cluster_size, 1) AS csz,
         |          CAST(b.n_tokens AS DOUBLE) / COALESCE(cl.cluster_size, 1) AS eff
         |        FROM base b LEFT JOIN cl USING (doc_id))
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_dup_clusters,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CAST(eff AS DECIMAL(38,6))) AS DOUBLE) AS eff_tokens,
         |  round(CAST(SUM(CAST(eff AS DECIMAL(38,6))) AS DOUBLE) / SUM(n_tokens), 6) AS dedup_ratio
         |FROM wts GROUP BY source ORDER BY source""".stripMargin

    /** The end-to-end dedup DECISION list (mirrors canonicalKeep): the
      * q52 closure, then the canonical member per cluster by
      * (n_chars DESC, doc_id), then every corpus doc left-joined in so
      * singletons keep themselves.
      */
    def canonicalKeep: String =
      s"""${jaccardCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |pairs AS (SELECT d1, d2 FROM inter
         |          JOIN sizes za ON d1 = za.doc_id
         |          JOIN sizes zb ON d2 = zb.doc_id
         |          WHERE round(CAST(n_common AS DOUBLE) / (za.n_shingles + zb.n_shingles - n_common), 6) >= $JaccardThreshold),
         |sym AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM sym) t
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
         |cl AS (SELECT src AS doc_id, min(dst) AS cluster_rep, COUNT(DISTINCT dst) AS cluster_size
         |       FROM reach GROUP BY src),
         |ranked AS (SELECT cl.doc_id, cl.cluster_rep, cl.cluster_size,
         |    row_number() OVER (PARTITION BY cl.cluster_rep ORDER BY d.n_chars DESC, cl.doc_id) AS rnk
         |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(r.cluster_rep, d.doc_id) AS cluster_rep,
         |  COALESCE(r.cluster_size, CAST(1 AS BIGINT)) AS cluster_size,
         |  (COALESCE(r.rnk, 1) = 1) AS keep
         |FROM documents d LEFT JOIN ranked r ON r.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
  }
}
