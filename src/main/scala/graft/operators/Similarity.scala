package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, Vec}

/** Approximate-nearest-neighbor search over an embedding column
  * (ArrayType(FloatType)).
  *
  * Two paths:
  *  - bruteForceTopK: exact cosine top-k; the query set is broadcast so
  *    the candidate side streams — the correct baseline shape when the
  *    query set is small (scoring is a codegen'd zip_with/aggregate
  *    fold, no UDF).
  *  - lshTopK: random-hyperplane (sign) LSH — vectors bucketed by the
  *    sign pattern of dot products with deterministic md5-derived
  *    hyperplanes; candidates come from an equality join on the bucket
  *    id. At 100 TB this is the scale path: the bucket join replaces the
  *    cartesian product, and buckets can be made hierarchical (IVF-style)
  *    by adding planes.
  *
  * Hyperplane coefficients are derived from md5 (portable), so the DuckDB
  * oracle reproduces the identical buckets bit-for-bit.
  */
object Similarity {

  val LshPlanes = 5 // 2^5 = 32 buckets
  val Dim = 64 // testdata embedding dimension

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** coef(h,d) = (first32bits(md5("h:d")) % 2001 - 1000) / 1000 in [-1, 1]. */
  def planeCoef(h: Int, d: Int): Double =
    (java.lang.Long.parseLong(md5Hex(s"$h:$d").take(8), 16) % 2001 - 1000) / 1000.0

  private def planeLit(h: Int): Column =
    array((1 to Dim).map(d => lit(planeCoef(h, d))): _*)

  /** Sign-LSH bucket id for an embedding column. */
  def bucketOf(emb: Column): Column =
    (0 until LshPlanes)
      .map(h => when(Vec.dot(planeLit(h), emb) >= 0, shiftleft(lit(1L), h)).otherwise(0L))
      .reduce(_ + _)

  /** Rank a scored (query_id, cand_id, <scoreCol>) frame down to the
    * per-query top-k via the mergeable
    * [[graft.functions.expressions.TopKByScore]] aggregate instead of a
    * row_number window: map-side partial heaps ship ≤k candidates per
    * (task, query) into the shuffle, so the exact audit branches —
    * |Q|·n scored rows once the recall audits sample real query sets —
    * stay one partial aggregation at ANY corpus size, where the window
    * idiom shuffles and SORTS the whole scored frame. Order contract is
    * identical to the window it replaces ((score best-first, cand_id
    * ASC); the aggregate's comparator replicates Spark's double
    * ordering bit-for-bit), so results — and the DuckDB window oracles
    * — are unchanged.
    *
    * Degenerate-score contract: NULL and NaN scores are EXCLUDED from
    * ranking — a query with fewer than k rankable candidates returns
    * fewer rows. NULL arises from Spark's x/0 → NULL (a zero-norm
    * embedding under cosine); NaN could arise from a future distance
    * metric, and would otherwise rank FIRST on the ascending path (the
    * negation trick maps NaN to NaN, which Spark's double ordering
    * places greatest). The exclusion lives INSIDE TopKByScore.update,
    * not in a Filter here: a filter on the score column gets
    * predicate-pushed through the scoring projection and re-evaluates
    * the score expression — an interpreted HOF distance or the
    * 16-term decimal ADC tree — once per pair for the filter and again
    * for the aggregate (~2.5× on q160, the round-9 regression).
    */
  private def topKRanked(scored: DataFrame, scoreCol: String, k: Int,
      ascending: Boolean): DataFrame = {
    val s = if (ascending) -col(scoreCol) else col(scoreCol)
    scored
      .groupBy("query_id")
      .agg(graft.functions.Sketch.topKByScore(s, col("cand_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("cand_id"),
        (if (ascending) -col("t.score") else col("t.score")).as(scoreCol),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Exact cosine top-k for a small query set (broadcast). Norms are
    * precomputed per vector (one fold instead of three per pair; the
    * dot/(n1*n2) arithmetic is bit-identical to inline cosine).
    */
  /** `candPred`: restricts the CANDIDATE side (the exact reference for
    * filtered ANN — "top-k among vectors WHERE <metadata>"); queries
    * are untouched. Default keeps the unfiltered behavior.
    */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int,
      candPred: Column = lit(true)): DataFrame = {
    val q = emb.filter(queryPred).select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("qn"))
    val c = emb.filter(candPred).select(col("vec_id").as("cand_id"),
      col("embedding").as("ce"), sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("cn"))
    val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("cosine_sim", round(Vec.dotFast(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    topKRanked(scored, "cosine_sim", k, ascending = false)
      .select("query_id", "cand_id", "cosine_sim", "rank")
  }

  /** [[bruteForceTopK]] over only the FIRST `d` dimensions — the
    * Matryoshka-truncation probe (Kusupati et al. 2022, NeurIPS):
    * cosine is recomputed on the slice (truncated vectors are no
    * longer unit-norm), same rounding and (sim DESC, cand_id) ranking.
    */
  def truncatedTopK(emb: DataFrame, queryPred: Column, k: Int, d: Int): DataFrame = {
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), slice(col("embedding"), 1, d).as("qe"))
      .withColumn("qn", sqrt(Vec.dotFast(col("qe"), col("qe"))))
    val c = emb
      .select(col("vec_id").as("cand_id"), slice(col("embedding"), 1, d).as("ce"))
      .withColumn("cn", sqrt(Vec.dotFast(col("ce"), col("ce"))))
    val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("cosine_sim", round(Vec.dotFast(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    topKRanked(scored, "cosine_sim", k, ascending = false)
      .select("query_id", "cand_id", "cosine_sim", "rank")
  }

  /** Two-stage ADAPTIVE retrieval — Matryoshka truncation as a SERVING
    * strategy, not just an audit (Kusupati et al. 2022 §4, "adaptive
    * retrieval"): a COARSE pass ranks every candidate with only the
    * first `d` dimensions and keeps `m` per query; the EXACT pass
    * re-scores just those m with the full vectors. This is the shape
    * that makes prefix truncation pay at 100 TB: the corpus-wide scan
    * reads the d/Dim-sized PREFIX artifact (pass `prefix` — the
    * persisted truncated index, built once), and full-width vectors
    * are reduced to m·|Q| rows by a broadcast join of the coarse
    * candidate list BEFORE any pairwise math — the full-dim pair space
    * is never materialized. Both stages rank round(cos, 6) DESC with
    * the cand_id tie-break, so the m-boundary cut is
    * engine-deterministic; q206's recall curve prices d, q281's prices
    * m.
    */
  def adaptiveTopK(emb: DataFrame, queryPred: Column, k: Int, d: Int, m: Int,
      prefix: Option[DataFrame] = None): DataFrame = {
    val pre = prefix.getOrElse(
      emb.select(col("vec_id"), slice(col("embedding"), 1, d).as("pe")))
    val q = pre.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("pe").as("qe"))
      .withColumn("qn", sqrt(Vec.dotFast(col("qe"), col("qe"))))
    val c = pre.select(col("vec_id").as("cand_id"), col("pe").as("ce"))
      .withColumn("cn", sqrt(Vec.dotFast(col("ce"), col("ce"))))
    val coarse = topKRanked(
      c.join(broadcast(q), col("cand_id") =!= col("query_id"))
        .withColumn("coarse_sim",
          round(Vec.dotFast(col("qe"), col("ce")) / (col("qn") * col("cn")), 6)),
      "coarse_sim", m, ascending = false)
      .select("query_id", "cand_id")
    val full = emb.select(col("vec_id"), col("embedding"),
      sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("nrm"))
    val rescored = full
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("nrm").as("cn"))
      .join(broadcast(coarse), "cand_id")
      .join(broadcast(full.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))),
        "query_id")
      .withColumn("cosine_sim",
        round(Vec.dotFast(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    topKRanked(rescored, "cosine_sim", k, ascending = false)
      .select("query_id", "cand_id", "cosine_sim", "rank")
  }

  /** Sign-BINARIZED embedding sketch (the binary-hashing limit of
    * Charikar 2002's hyperplane LSH with the coordinate axes as
    * planes): bit d = [e_d > 0], packed into dim/32 little-endian
    * 32-bit words carried as BIGINTs. 64 dims → 8 bytes per vector vs
    * 256 for float32 — a 32× index-memory shrink, and the matching
    * distance (Hamming = Σ popcount(xor)) is the cheapest pairwise
    * scan a CPU can run. 32-bit words rather than 64 so the packing is
    * a plain SUM of distinct powers of two — exact, overflow-free, and
    * engine-identical (a 64th bit would need signed-wraparound
    * semantics DuckDB refuses).
    */
  def binarySketch(emb: DataFrame, dim: Int = 64): DataFrame = {
    require(dim % 32 == 0, s"dim=$dim must pack whole 32-bit words")
    val words = (0 until dim / 32).map { wi =>
      expr(s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
        (acc, j) -> acc + IF(element_at(embedding, ${wi * 32} + j + 1) > 0,
                             shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))""")
        .as(s"w$wi")
    }
    emb.select(col("vec_id") +: words: _*)
  }

  /** Two-stage BINARY-sketch retrieval: the coarse pass ranks the whole
    * corpus by Hamming distance over the [[binarySketch]] words
    * (ties by cand_id — integer distance, bit-deterministic), keeps
    * `m` per query, and the exact full-width cosine re-scores just
    * those m — the [[adaptiveTopK]] harness with the prefix artifact
    * swapped for an 8-byte binary one. The scan that touches every
    * candidate reads two BIGINTs; full vectors are only paired with
    * the broadcast m-list.
    */
  def binaryTopK(emb: DataFrame, queryPred: Column, k: Int, m: Int,
      dim: Int = 64, sketch: Option[DataFrame] = None): DataFrame = {
    val nW = dim / 32
    val sk = sketch.getOrElse(binarySketch(emb, dim))
    val q = sk.filter(queryPred).select(
      col("vec_id").as("query_id") +: (0 until nW).map(i => col(s"w$i").as(s"qw$i")): _*)
    val c = sk.select(
      col("vec_id").as("cand_id") +: (0 until nW).map(i => col(s"w$i")): _*)
    val ham = (0 until nW).map(i => expr(s"bit_count(qw$i ^ w$i)"))
      .reduce(_ + _).cast("double")
    val coarse = topKRanked(
      c.join(broadcast(q), col("cand_id") =!= col("query_id"))
        .withColumn("hamming", ham),
      "hamming", m, ascending = true)
      .select("query_id", "cand_id")
    val full = emb.select(col("vec_id"), col("embedding"),
      sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("nrm"))
    val rescored = full
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("nrm").as("cn"))
      .join(broadcast(coarse), "cand_id")
      .join(broadcast(full.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))),
        "query_id")
      .withColumn("cosine_sim",
        round(Vec.dotFast(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    topKRanked(rescored, "cosine_sim", k, ascending = false)
      .select("query_id", "cand_id", "cosine_sim", "rank")
  }

  /** Expected Reciprocal Rank (Chapelle et al. 2009, CIKM) of a served
    * ranking against a relevant-set anchor, binary relevance R = 1/2 —
    * the CASCADE user model: a relevant result at rank r is only
    * reached with probability Π_{i<r}(1 − R_i), so each relevant item
    * above it halves the payoff: term = 0.5^(c+1)/r with c = relevant
    * items ranked earlier. pow-of-half is dyadic exact and the one
    * division is a single IEEE op, so per-query ERR is engine-exact
    * through the decimal-backed sum.
    *
    * `exact`: (query_id, cand_id) relevant pairs; `approx`:
    * (query_id, cand_id, rank) the served ranking.
    */
  def errAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    import graft.functions.Num
    val wb = Window.partitionBy("query_id").orderBy("arank")
      .rowsBetween(Window.unboundedPreceding, -1)
    approx.select(col("query_id"), col("cand_id"), col("rank").as("arank"))
      .join(exact.withColumn("rel", lit(1)), Seq("query_id", "cand_id"), "left")
      .withColumn("r", coalesce(col("rel"), lit(0)))
      .withColumn("cb", coalesce(sum(col("r")).over(wb), lit(0L)))
      .withColumn("term", when(col("r") === 1,
        pow(lit(0.5), col("cb") + 1) / col("arank")).otherwise(lit(0.0)))
      .groupBy("query_id")
      .agg(sum(col("r")).cast("long").as("n_rel"),
        round(Num.dsum(col("term")), 6).as("err_at_10"))
      .orderBy("query_id")
  }

  /** Kendall's τ-b RANK AGREEMENT (Kendall 1938, Biometrika) between
    * two per-query rankings over their COMMON candidates — the
    * retrieval-curation read that prices a fusion decision: τ near 1
    * means the lexical and semantic rankers already agree (fusion buys
    * little), τ near 0/negative means they rank the shared candidates
    * in genuinely different orders (RRF has signal to combine). RBO
    * (q217's cousin) weights top-heavy OVERLAP of possibly-disjoint
    * lists; τ is the complementary read on the candidates both sides
    * retrieved.
    *
    * Engine-exact by construction: concordant/discordant are INTEGER
    * pair counts (ranks are row_number ties-free, so no tie terms and
    * τ-b = τ-a), and τ = (C − D) / (n(n−1)/2) is one integer-operand
    * IEEE division, rounded. Pair space is k² per query — alert-sized,
    * never corpus-sized.
    *
    * `a`: (query_id, cand_id, rank_a); `b`: (query_id, cand_id,
    * rank_b). EVERY query appearing in either ranking reports (the
    * percolator census discipline); queries with < 2 common candidates
    * report NULL τ.
    */
  def kendallTauB(a: DataFrame, b: DataFrame): DataFrame = {
    val ids = a.select("query_id").union(b.select("query_id")).distinct()
    val common = a.select(col("query_id"), col("cand_id"), col("rank_a"))
      .join(b.select(col("query_id"), col("cand_id"), col("rank_b")),
        Seq("query_id", "cand_id"))
    val l = common.select(col("query_id"), col("cand_id").as("c1"),
      col("rank_a").as("a1"), col("rank_b").as("b1"))
    val r = common.select(col("query_id"), col("cand_id").as("c2"),
      col("rank_a").as("a2"), col("rank_b").as("b2"))
    val pairs = l.join(r, Seq("query_id")).filter(col("c1") < col("c2"))
      .withColumn("agree",
        (col("a1") - col("a2")).cast("long") * (col("b1") - col("b2")) > 0)
    val counts = pairs.groupBy("query_id")
      .agg(sum(when(col("agree"), 1L).otherwise(0L)).as("concordant"),
        sum(when(col("agree"), 0L).otherwise(1L)).as("discordant"))
    ids
      .join(common.groupBy("query_id").agg(count(lit(1)).as("n_common")),
        Seq("query_id"), "left")
      .join(counts, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_common", "concordant", "discordant"))
      .withColumn("tau", when(col("n_common") < 2, lit(null).cast("double"))
        .otherwise(round(
          (col("concordant") - col("discordant")).cast("double") /
            (col("n_common") * (col("n_common") - 1) / 2).cast("double"), 6)))
      .select("query_id", "n_common", "concordant", "discordant", "tau")
      .orderBy("query_id")
  }

  /** Exact KNN-Shapley data VALUATION (Jia et al. 2019, PVLDB 12(11) —
    * "Efficient Task-Specific Data Valuation for Nearest Neighbor
    * Algorithms"): the Shapley value of every training point for a
    * K-NN classifier has a closed form over the per-query distance
    * ranking — rank train points nearest-first per validation point
    * (cosine here, round-then-rank with the id tie-break), then the
    * recursion s_N = hit_N/N, s_i = s_{i+1} + (hit_i − hit_{i+1})/K ·
    * min(K,i)/i, and a point's value is its mean s over the validation
    * set. Negative values mark mislabeled/harmful training docs — the
    * data-cleaning signal that actually prices a POINT, not a cluster.
    *
    * Execution shape: the validation sample broadcasts against the
    * train side (the q143/q206 audit-contract pair space — quadratic
    * in (sample × corpus) BY DESIGN, the sample pct fixed); the
    * recursion is a reverse cumulative window sum per validation
    * point over terms cast to DECIMAL(38,18), so the fold is exact
    * and order-independent in both engines; the final mean is one
    * keyed decimal aggregation. Verified against brute-force subset
    * enumeration of the Shapley definition in RerankSpec.
    */
  def knnShapley(emb: DataFrame, valPred: Column, k: Int = 5): DataFrame = {
    val e = withNorm(emb)
    val va = e.filter(valPred).select(col("vec_id").as("val_id"),
      col("embedding").as("qe"), col("nrm").as("qn"), col("label").as("val_label"))
    val tr = e.filter(!valPred).select(col("vec_id"),
      col("embedding").as("ce"), col("nrm").as("cn"), col("label"))
    shapleyClosedForm(va, tr, k)
  }

  /** Count-capped KNN-Shapley — the PRODUCTION spelling of [[knnShapley]]'s
    * validation sample (round-13 verdict #3): the q285 contract samples a
    * fixed hash PERCENTAGE of the corpus, so its pair space is 0.0p·n² —
    * quadratic, right for an audit that must scale its power with the
    * corpus, wrong for a standing cleaning signal. Here the validation
    * set is the `nVal` vec_ids with the smallest (md5-hash, id) key — a
    * deterministic fixed-COUNT sample, so the ranking pair space is
    * nVal·n: LINEAR in the corpus at constant statistical power. The
    * Shapley estimate per point is the mean over a fixed-size i.i.d.-ish
    * validation set, exactly the Jia et al. estimator. Top-N-by-hash =
    * one TakeOrderedAndProject (per-partition heaps of N rows, driver
    * merge of N) + a broadcast semi/anti split of the corpus.
    */
  def knnShapleyCapped(emb: DataFrame, nVal: Int = 40, k: Int = 5): DataFrame = {
    val e = withNorm(emb)
    val valIds = e
      .select(col("vec_id"), Hashes.md5Long32(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(nVal)
      .select("vec_id")
    val va = e.join(broadcast(valIds), "vec_id")
      .select(col("vec_id").as("val_id"),
        col("embedding").as("qe"), col("nrm").as("qn"), col("label").as("val_label"))
    val tr = e.join(broadcast(valIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("embedding").as("ce"), col("nrm").as("cn"), col("label"))
    shapleyClosedForm(va, tr, k)
  }

  private def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"), col("label"),
      sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("nrm"))

  /** The shared Jia-et-al closed form over a (validation, train) split:
    * one broadcast-validation ranking + the reverse cumulative
    * DECIMAL(38,18) window + one keyed mean.
    */
  private def shapleyClosedForm(va: DataFrame, tr: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRank = Window.partitionBy("val_id").orderBy(col("sim").desc, col("vec_id"))
    // n_tr is a CONSTANT (train and validation are disjoint, so the
    // self-exclusion never bites): one broadcast scalar instead of a
    // per-val count window — drops a whole pass over the pair space
    val nTr = tr.agg(count(lit(1)).as("n_tr"))
    val ranked = tr.join(broadcast(va), col("vec_id") =!= col("val_id"))
      .crossJoin(broadcast(nTr))
      .withColumn("sim", round(Vec.dotFast(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("hit", when(col("label") === col("val_label"), 1.0).otherwise(0.0))
    val terms = ranked
      .withColumn("nxt", lead(col("hit"), 1).over(wRank))
      .withColumn("term",
        when(col("nxt").isNull, col("hit") / col("n_tr"))
          .otherwise((col("hit") - col("nxt")) / k *
            least(lit(k), col("rank")).cast("double") / col("rank")))
      // suffix sum spelled as (partition total − EXCLUSIVE prefix):
      // Spark's WindowExec evaluates a currentRow→unboundedFollowing
      // frame by re-scanning to the partition end for every row —
      // O(n²) per validation point (measured: the frame alone was ~12 s
      // of q321's 13 s at sf0.1) — while whole-partition and running
      // frames are both O(n). Decimal addition is exact, so
      // total − prefix ≡ the suffix sum bit-for-bit and the oracle's
      // CURRENT ROW..UNBOUNDED FOLLOWING spelling still hash-matches.
      .withColumn("td", col("term").cast("decimal(38,18)"))
      .withColumn("s",
        sum(col("td")).over(Window.partitionBy("val_id")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          - coalesce(sum(col("td"))
              .over(wRank.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0).cast("decimal(38,18)")))
    terms.groupBy("vec_id", "label")
      .agg(
        count(lit(1)).as("n_val"),
        round(sum(col("s")).cast("double") / count(lit(1)), 6).as("shap_value"))
      .orderBy("vec_id")
  }

  /** LSH-bucketed cosine top-k: candidates share the query's bucket. */
  def lshTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val bucketed = emb.withColumn("bucket", bucketOf(col("embedding")))
      .withColumn("nrm", sqrt(Vec.dotFast(col("embedding"), col("embedding"))))
    val q = bucketed.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"), col("bucket"))
    val c = bucketed.select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("nrm").as("cn"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cosine_sim", round(Vec.dotFast(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine_sim"), col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "bucket", "cosine_sim", "rank")
  }

  /** Hard-negative mining for contrastive/retrieval training data: per
    * query, the top-k most-similar candidates with a DIFFERENT label —
    * near-misses semantically close to the query but not true positives,
    * the negatives that actually move a bi-encoder (random negatives are
    * trivially separable). Candidates come from the query's sign-LSH
    * bucket (the [[lshTopK]] scale path: a keyed equality join, never
    * all-pairs); the label disequality filters positives BEFORE ranking,
    * so every returned rank is a usable negative.
    */
  def hardNegatives(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val bucketed = emb.withColumn("bucket", bucketOf(col("embedding")))
      .withColumn("nrm", sqrt(Vec.dotFast(col("embedding"), col("embedding"))))
    val q = bucketed.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qe"), col("nrm").as("qn"), col("bucket"))
    val c = bucketed.select(col("vec_id").as("cand_id"), col("label").as("clabel"),
      col("embedding").as("ce"), col("nrm").as("cn"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("clabel") =!= col("qlabel"))
      .withColumn("cosine_sim", round(Vec.dotFast(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine_sim"), col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cosine_sim", "rank")
  }

  val IvfNlist = 16 // FIXED coarse-list count — independent of corpus size
  val IvfIters = 2 // Lloyd refinement rounds on the training sample
  val IvfTrainPct = 25 // hash-sampled share of the corpus used to train
  val IvfProbes = 4 // coarse lists searched per query

  /** IVF-style ANN with a TRAINED coarse quantizer: `IvfNlist` centroids
    * (a constant, NOT a function of corpus size) are hash-seeded and
    * Lloyd-refined on a `IvfTrainPct`% hash sample of the corpus
    * (Clustering.kmeans); each vector is then assigned to its nearest
    * centroid and a query scores only the vectors in its `IvfProbes`
    * nearest lists. The centroid table broadcasts at O(nlist·dim) and
    * assignment costs O(n·nlist) — a billion vectors still broadcast 16
    * centroids, where round-2's `vec_id % 31` quantizer would have
    * broadcast 32M and paid O(n²/31) dot products. The only big shuffle
    * is the candidate join keyed on cent_id. Every step (hash seeding,
    * decimal-exact means, argmax ties on cent_id) is bit-reproducible,
    * so the DuckDB oracle replays the identical training trajectory.
    */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int,
      probes: Int = IvfProbes, trained: Option[DataFrame] = None): DataFrame = {
    val n = emb.select(col("vec_id"), col("embedding"),
      sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("nrm"))
    // `trained`: a stored quantizer (the Clustering.kmeans output frame)
    // — the index-artifact reuse path (see warehouse.Materialized);
    // None trains the same trajectory inline.
    val centroids = trained
      .getOrElse(Clustering.kmeans(emb, IvfNlist, IvfIters, IvfTrainPct))
      .select(col("cluster_id").as("cent_id"), col("cemb"),
        sqrt(Vec.dotFast(col("cemb"), col("cemb"))).as("cnrm"))
    val toCent = n.crossJoin(broadcast(centroids))
      .withColumn("cos_c", Vec.dotFast(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm")))
    // corpus-side assignment is a struct-ordered MAX (same winner as the
    // former desc-window: max cos_c, ties -> lowest cent_id via the
    // negated id), so the O(n x nlist) frame partial-aggregates (the
    // array payload makes it a SortAggregate, still partial + final)
    // instead of riding a full window shuffle; only the QUERY rows - a
    // bounded set - still rank their probe lists through a window
    val assigned = toCent.groupBy("vec_id")
      .agg(max(struct(col("cos_c"), (-col("cent_id")).as("neg_id"),
        col("embedding"), col("nrm"))).as("best"))
      .select(col("vec_id").as("cand_id"), col("best.embedding").as("ce"),
        col("best.nrm").as("cn"), (-col("best.neg_id")).as("cent_id"))
    val wAssign = Window.partitionBy("vec_id").orderBy(desc("cos_c"), col("cent_id"))
    val probeRows = toCent.filter(queryPred)
      .withColumn("crn", row_number().over(wAssign))
      .filter(col("crn") <= probes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("cent_id"))
    val scored = assigned.join(broadcast(probeRows), Seq("cent_id"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cosine_sim", round(Vec.dotFast(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine_sim"), col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cent_id", "cosine_sim", "rank")
  }

  /** Probe-budget sweep over ONE trained quantizer: the IVF pipeline up
    * through the corpus-to-centroid assignment is shared across every
    * probe budget — training (eager Lloyd jobs) and the O(n·nlist)
    * assignment window run once, and each budget's candidate set is a
    * `crn <= p` filter over the single cached scored frame (a candidate
    * reached at probe rank `crn` is exactly the candidate the p-probe
    * run scores iff crn <= p, so each budget's rows are bit-identical
    * to an independent `ivfTopK(_, _, k, p)` call). The cache holds
    * only (ids, crn, cosine) — the embedding arrays are projected away
    * before materialization, so its footprint is the candidate id set,
    * not the vectors.
    *
    * Returns the union of per-budget top-k rankings tagged `nprobe`.
    */
  def ivfSweep(emb: DataFrame, queryPred: Column, k: Int,
      probesList: Seq[Int], trained: Option[DataFrame] = None): DataFrame = {
    require(probesList.nonEmpty, "ivfSweep needs at least one probe budget")
    val maxP = probesList.max
    val n = emb.select(col("vec_id"), col("embedding"),
      sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("nrm"))
    val centroids = trained
      .getOrElse(Clustering.kmeans(emb, IvfNlist, IvfIters, IvfTrainPct))
      .select(col("cluster_id").as("cent_id"), col("cemb"),
        sqrt(Vec.dotFast(col("cemb"), col("cemb"))).as("cnrm"))
    val toCent = n.crossJoin(broadcast(centroids))
      .withColumn("cos_c", Vec.dotFast(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm")))
    // same split as ivfTopK: corpus assignment = struct-MAX partial
    // aggregation, probe ranking = window over the bounded query rows
    val assigned = toCent.groupBy("vec_id")
      .agg(max(struct(col("cos_c"), (-col("cent_id")).as("neg_id"),
        col("embedding"), col("nrm"))).as("best"))
      .select(col("vec_id").as("cand_id"), col("best.embedding").as("ce"),
        col("best.nrm").as("cn"), (-col("best.neg_id")).as("cent_id"))
    val wAssign = Window.partitionBy("vec_id").orderBy(desc("cos_c"), col("cent_id"))
    val probeRows = toCent.filter(queryPred)
      .withColumn("crn", row_number().over(wAssign))
      .filter(col("crn") <= maxP)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("cent_id"), col("crn"))
    val scored = assigned.join(broadcast(probeRows), Seq("cent_id"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), col("cent_id"), col("crn"),
        round(Vec.dotFast(col("qe"), col("ce")) / (col("qn") * col("cn")), 6).as("cosine_sim"))
      .cache()
    val w = Window.partitionBy("query_id").orderBy(desc("cosine_sim"), col("cand_id"))
    probesList.map { p =>
      scored.filter(col("crn") <= p)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(lit(p).as("nprobe"), col("query_id"), col("cand_id"),
          col("cent_id"), col("cosine_sim"), col("rank"))
    }.reduce(_ unionByName _)
  }

  /** (cent_id, cemb, cnrm) of a trained quantizer frame — the probe
    * table every IVF path broadcasts (nlist rows at any corpus size).
    */
  private def centsOf(trained: DataFrame): DataFrame =
    trained.select(col("cluster_id").as("cent_id"), col("cemb"),
      sqrt(Vec.dotFast(col("cemb"), col("cemb"))).as("cnrm"))

  /** The corpus-side IVF assignment — the INVERTED LISTS an ANN index
    * actually stores: every vector labeled with its nearest coarse
    * centroid (the same struct-MAX partial aggregation as [[ivfTopK]],
    * ties → lowest cent_id), carrying the embedding and its
    * precomputed norm so a probe join scores candidates without ever
    * touching the corpus table again. Persist this partitioned BY
    * cent_id ([[graft.warehouse.Materialized.onDisk]] with
    * partitionCols) and a query's probe join scans only its probe
    * centroids' files — partition pruning doing at the file level what
    * the inverted index does logically.
    */
  /** `carryCols`: metadata columns stored IN the lists (the filtered-ANN
    * shape — a candidate-side predicate lands on the lists scan as a
    * pushed data filter instead of a join back to the corpus). Values
    * are constant per vec_id, so the MAX in the assignment aggregation
    * is just the value.
    */
  def ivfAssignments(emb: DataFrame, trained: DataFrame,
      carryCols: Seq[String] = Nil): DataFrame = {
    val n = emb.select((Seq(col("vec_id"), col("embedding"),
      sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("nrm")) ++
      carryCols.map(col)): _*)
    val toCent = n.crossJoin(broadcast(centsOf(trained)))
      .withColumn("cos_c", Vec.dotFast(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm")))
    toCent.groupBy("vec_id")
      .agg(max(struct(col("cos_c"), (-col("cent_id")).as("neg_id"),
        col("embedding"), col("nrm"))).as("best"),
        carryCols.map(c => max(col(c)).as(c)): _*)
      .select((Seq(col("vec_id").as("cand_id"), col("best.embedding").as("ce"),
        col("best.nrm").as("cn"), (-col("best.neg_id")).as("cent_id")) ++
        carryCols.map(col)): _*)
  }

  /** IVF search over a STORED inverted-list artifact: `lists` is a
    * persisted [[ivfAssignments]] table (cand_id, ce, cn, cent_id).
    * Only the probe ROWS (a bounded query set × nlist) are computed
    * live; the candidate side is the stored index — at 100 TB the
    * corpus parquet is read zero times on that side, and with the
    * artifact partitioned by cent_id the probe join prunes to the
    * probe lists' files. Arithmetic is expression-for-expression the
    * [[ivfTopK]] tail, so results are bit-identical to the inline
    * re-derivation — one shared oracle proves stored-index ≡
    * re-deriver (the q252-vs-q149 discipline, for vectors).
    */
  def ivfTopKFromLists(lists: DataFrame, emb: DataFrame, queryPred: Column,
      k: Int, trained: DataFrame, probes: Int = IvfProbes): DataFrame = {
    val cents = centsOf(trained)
    val q = emb.filter(queryPred).select(col("vec_id"), col("embedding"),
      sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("nrm"))
    val toCentQ = q.crossJoin(broadcast(cents))
      .withColumn("cos_c", Vec.dotFast(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm")))
    val wAssign = Window.partitionBy("vec_id").orderBy(desc("cos_c"), col("cent_id"))
    val probeRows = toCentQ
      .withColumn("crn", row_number().over(wAssign))
      .filter(col("crn") <= probes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("cent_id"))
    val scored = lists.join(broadcast(probeRows), Seq("cent_id"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cosine_sim", round(Vec.dotFast(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine_sim"), col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cent_id", "cosine_sim", "rank")
  }

  // deliberately below the q45 label-block threshold (0.40): the
  // (cluster ∧ bucket) blocking is stricter than a curated label, so
  // the pair generator already prunes far pairs — 0.35 keeps the
  // duplicate-group branch exercised at every test SF
  val SemDedupThreshold = 0.35

  /** SemDeDup — semantic deduplication by cluster-then-prune (the
    * published curation method of Abbas et al. 2023, arXiv:2303.09540):
    * every vector is assigned to its trained k-means cluster (the same
    * coarse quantizer as [[ivfTopK]]), near-duplicate pairs are
    * generated WITHIN (cluster ∧ sign-LSH bucket) blocks under the
    * [[GraphBlockCap]] size cap, duplicate groups are the connected
    * components of that pair graph, and each group keeps exactly ONE
    * member — the vector FARTHEST from its cluster centroid (the
    * paper's low-centroid-similarity heuristic: boilerplate hugs the
    * centroid, the outlier carries the information), ties by vec_id.
    * Singletons keep themselves.
    *
    * Scale design: assignment is O(n·nlist) against a broadcast
    * constant-size centroid table; pair generation is the capped keyed
    * join of [[bucketedNearDupPairs]]; components ride
    * Dedup.connectedComponents (threshold-gated solve); the verdict is
    * one window per group plus a left join back to the corpus. No
    * uncapped quadratic anywhere.
    *
    * Output: (vec_id, cent_id, cent_cos, group_rep, group_size, keep).
    */
  /** The slim (vec_id, cent_id, cent_cos) trained-quantizer assignment,
    * materialized once: it feeds pair generation, the keep ranking, and
    * the final verdict join — recomputing it would replay the
    * O(n·nlist) window per consumer.
    */
  private[graft] def semDedupAssigned(emb: DataFrame,
      trained: Option[DataFrame] = None): DataFrame = {
    val n = emb.select(col("vec_id"), col("embedding"),
      sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("nrm"))
    val centroids = trained
      .getOrElse(Clustering.kmeans(emb, IvfNlist, IvfIters, IvfTrainPct))
      .select(col("cluster_id").as("cent_id"), col("cemb"),
        sqrt(Vec.dotFast(col("cemb"), col("cemb"))).as("cnrm"))
    val toCent = n.crossJoin(broadcast(centroids))
      .withColumn("cos_c", Vec.dotFast(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm")))
    // struct-MAX assignment (see ivfTopK): hash agg, no corpus sort
    toCent.groupBy("vec_id")
      .agg(max(struct(col("cos_c"), (-col("cent_id")).as("neg_id"))).as("best"))
      .select(col("vec_id"), (-col("best.neg_id")).as("cent_id"),
        round(col("best.cos_c"), 6).as("cent_cos"))
      .localCheckpoint()
  }

  /** Capped (cluster ∧ sign-bucket) near-dup pair generation over the
    * assignment — exposed so the plan audit can assert the join keys
    * (the eager component solve hides this subtree from semDedup's
    * final plan).
    */
  private[graft] def semDedupPairs(emb: DataFrame, assigned: DataFrame,
      threshold: Double): DataFrame = {
    val n = emb.select(col("vec_id"), col("embedding"),
      sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("nrm"))
    val b = n.join(assigned.select("vec_id", "cent_id"), "vec_id")
      .withColumn("bucket", bucketOf(col("embedding")))
      // cached: the bucketed assignment feeds the block-size gate AND
      // both sides of the pair join — three evaluations of the corpus
      // join plus 16 hyperplane dots per row without the pin
      .cache()
    val ok = b.groupBy("cent_id", "bucket").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= GraphBlockCap).select("cent_id", "bucket")
    val k = b.join(ok, Seq("cent_id", "bucket"))
    val pa = k.select(col("cent_id"), col("bucket"), col("vec_id").as("d1"),
      col("embedding").as("e1"), col("nrm").as("n1"))
    val pb = k.select(col("cent_id"), col("bucket"), col("vec_id").as("d2"),
      col("embedding").as("e2"), col("nrm").as("n2"))
    pa.join(pb, Seq("cent_id", "bucket"))
      .filter(col("d1") < col("d2"))
      .filter(round(Vec.dotFast(col("e1"), col("e2")) / (col("n1") * col("n2")), 6) >= threshold)
      .select("d1", "d2")
  }

  def semDedup(emb: DataFrame, threshold: Double = SemDedupThreshold,
      trained: Option[DataFrame] = None): DataFrame = {
    val assigned = semDedupAssigned(emb, trained)
    val pairs = semDedupPairs(emb, assigned, threshold)
    val groups = Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_rep").as("group_rep"),
        col("cluster_size").as("group_size"))
    // keep = farthest from centroid: ascending cent_cos, ties by vec_id
    val wk = Window.partitionBy("group_rep").orderBy(col("cent_cos"), col("vec_id"))
    val ranked = groups.join(assigned, "vec_id")
      .withColumn("rnk", row_number().over(wk))
    assigned
      .join(ranked.select("vec_id", "group_rep", "group_size", "rnk"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"), col("cent_cos"),
        coalesce(col("group_rep"), col("vec_id")).as("group_rep"),
        coalesce(col("group_size"), lit(1L)).as("group_size"),
        (coalesce(col("rnk"), lit(1)) === 1).as("keep"))
  }

  /** Symmetric int8 vector quantization (absmax scaling) — the standard
    * 4× compression for embedding storage/ANN at scale. Deterministic by
    * construction: floor(x/scale·127 + 0.5) instead of round(), so both
    * engines resolve .5 boundaries identically (dyadic float ratios DO
    * land on exact halves). Narrow projection, no shuffle.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val scale = array_max(transform(col("embedding"), x => abs(x))).cast("double")
    emb
      .withColumn("scale", scale)
      .withColumn("q", transform(col("embedding"), x =>
        when(col("scale") === 0d, lit(0L))
          .otherwise(floor(x.cast("double") / col("scale") * 127 + lit(0.5)).cast("long"))))
      .select(
        col("vec_id"), col("scale"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        md5(concat_ws(",", transform(col("q"), _.cast("string")))).as("q_md5"))
  }

  /** Per-dimension corpus standardization (z-score feature scaling) —
    * the whitening-diagonal preprocessing step ANN indexes and k-means
    * apply so no single high-variance dimension dominates the metric.
    *
    * Scale design: ONE posexplode pass → 64 per-dim groups with exact
    * decimal sums (order-independent), packed into a single 1-row
    * broadcast of (mean[], sigma[]) — the corpus then streams through a
    * narrow zip-transform, no second shuffle. Population sigma
    * (sqrt is IEEE-exact, so both engines agree bit-for-bit); constant
    * dimensions (sigma = 0) map to 0 rather than NaN.
    */
  def standardize(emb: DataFrame, dim: Int = Dim): DataFrame = {
    import graft.functions.Num
    val d = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("i"), col("xf").cast("double").as("x"))
    val stats = d.groupBy("i").agg(
        count(lit(1)).cast("double").as("n"),
        Num.dsum(col("x")).as("s"),
        Num.dsum(col("x") * col("x")).as("s2"))
      .select(col("i"), (col("s") / col("n")).as("mu"),
        sqrt(greatest(col("s2") - col("s") * col("s") / col("n"), lit(0d)) / col("n"))
          .as("sigma"))
    val packed = stats
      .agg(array_sort(collect_list(struct(col("i"), col("mu"), col("sigma")))).as("p"))
      .select(
        transform(col("p"), s => s.getField("mu")).as("mus"),
        transform(col("p"), s => s.getField("sigma")).as("sigmas"))
    emb.crossJoin(broadcast(packed))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          when(element_at(col("sigmas"), i + 1) > 0d,
            round((element_at(col("embedding"), i + 1).cast("double") -
              element_at(col("mus"), i + 1)) / element_at(col("sigmas"), i + 1), 6))
            .otherwise(lit(0.0))).as("z"))
  }

  val MmrLambda = 0.7 // relevance weight; (1-λ) penalizes similarity to picks
  val MmrPool = 20 // exact-top-N candidate pool re-ranked per query

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell &
    * Goldstein 1998): greedily pick k results that are relevant to the
    * query BUT dissimilar to what's already picked —
    * score(c) = λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s). The re-ranker a
    * retrieval pipeline runs on its candidate pool to avoid returning
    * k near-copies.
    *
    * Scale design: the quadratic lives ONLY inside the fixed-size pool
    * (MmrPool² pairwise sims per query, broadcast-joined); the corpus-
    * side cost is the candidate generator itself (here exact top-N —
    * swap in lshTopK/ivfTopK at scale, the contract is just
    * (query_id, cand_id, qsim)). k unrolled greedy rounds = k keyed
    * aggregations over pool-bounded frames.
    */
  def mmrTopK(emb: DataFrame, queryPred: Column, k: Int = 5,
      pool: Int = MmrPool, lambda: Double = MmrLambda): DataFrame = {
    // Exact-decimal scoring: qsim/div are 6-dp rounded, λ and 1−λ are
    // 1-dp decimals, so λ·qsim − (1−λ)·div is EXACT at 7 dp — score
    // ranking and output can never land on a cross-engine round-half
    // boundary (a double-rounded score did, in testing).
    val lamD = lit(lambda).cast("decimal(2,1)")
    val muD = lit(1.0 - lambda).cast("decimal(2,1)")
    val cand = bruteForceTopK(emb, queryPred, pool)
      .select(col("query_id"), col("cand_id"), col("cosine_sim").as("qsim"))
      .cache()
    val e = emb.select(col("vec_id"), col("embedding"),
      sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("nrm"))
    val a = cand.select(col("query_id"), col("cand_id"))
      .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("e1"), col("nrm").as("n1")),
        "cand_id")
    val b = cand.select(col("query_id"), col("cand_id").as("other_id"))
      .join(e.select(col("vec_id").as("other_id"), col("embedding").as("e2"), col("nrm").as("n2")),
        "other_id")
    val pairs = a.join(b, Seq("query_id"))
      .filter(col("cand_id") =!= col("other_id"))
      .select(col("query_id"), col("cand_id"), col("other_id"),
        round(Vec.dotFast(col("e1"), col("e2")) / (col("n1") * col("n2")), 6).as("csim"))
      .cache()
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("cand_id"))
    // each greedy round references `selected` TWICE (exclusion anti-join
    // + diversity join), so without truncation the lazy plan doubles per
    // step (2^k subtree copies — measured 42 s for k=5 at sf0.1); the
    // per-step localCheckpoint pins the tiny (queries x step) frame and
    // keeps every round O(pool)
    val first = cand
      .withColumn("score", lamD * col("qsim").cast("decimal(18,6)"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("cand_id"), col("score").cast("double").as("score"),
        lit(1).as("step"))
      .localCheckpoint(true)
    (2 to k).foldLeft(first) { (selected, step) =>
      val div = pairs
        .join(selected.select(col("query_id"), col("cand_id").as("other_id")),
          Seq("query_id", "other_id"))
        .groupBy("query_id", "cand_id").agg(max(col("csim")).as("div"))
      val pick = cand
        .join(selected.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_anti")
        .join(div, Seq("query_id", "cand_id"))
        .withColumn("score",
          lamD * col("qsim").cast("decimal(18,6)") - muD * col("div").cast("decimal(18,6)"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id"), col("score").cast("double").as("score"),
          lit(step).as("step"))
      selected.unionByName(pick).localCheckpoint(true)
    }.select("query_id", "step", "cand_id", "score")
  }

  val KCenterK = 8 // coreset size — constant in the corpus size

  /** k-center coreset selection by farthest-point sampling (Gonzalez
    * 1985; Sener & Savarese 2018 use it for training-data selection):
    * greedily pick the point farthest (squared L2) from everything
    * picked so far. The k picks cover the corpus within 2× the optimal
    * k-center radius — the diversity-first complement to [[mmrTopK]]
    * (which re-ranks a relevance pool; this selects corpus-wide).
    *
    * Scale design: each of the k rounds is ONE aggregation over the
    * corpus — min-distance to the ≤k selected vectors is computed
    * against LITERAL arrays (k·dim constants in the plan, no join at
    * all), and the argmax is the struct-ordered MAX of design rule 7.
    * Only the single winning (id, vector) row ever reaches the driver.
    * Deterministic: hash-seeded start, IEEE-exact distance folds,
    * ties on lowest vec_id — the DuckDB oracle replays every round.
    */
  def kCenterCoreset(emb: DataFrame, k: Int = KCenterK): DataFrame = {
    import graft.functions.Hashes
    val spark = emb.sparkSession
    val seed = emb
      .orderBy(Hashes.md5Long32(col("vec_id").cast("string")), col("vec_id"))
      .limit(1).select(col("vec_id"), col("embedding")).head()
    var picked = Vector[(Long, Seq[Float], Option[Double])](
      (seed.getLong(0), seed.getSeq[Float](1), None))
    var exhausted = false
    for (_ <- 2 to k if !exhausted) {
      val dists = picked.map { case (_, v, _) =>
        Vec.l2sq(col("embedding"), lit(v.toArray)) }
      val mind = dists.reduce((a, b) => least(a, b))
      // max(struct) over an EMPTY remainder (corpus smaller than k)
      // yields a null struct, not a row error — stop with what we have
      // the struct-MAX selects on the UNROUNDED distance (like the
      // oracle's ORDER BY mind DESC); only the REPORTED value is
      // rounded, in-plan with the same round() both engines run
      // everywhere else (driver-side BigDecimal would be a third
      // rounding path)
      val row = emb
        .filter(!col("vec_id").isin(picked.map(_._1): _*))
        .select(col("vec_id"), col("embedding"), mind.as("mind"))
        .agg(max(struct(col("mind"), (-col("vec_id")).as("nid"), col("embedding"))).as("b"))
        .select(round(col("b.mind"), 6).as("mind"), (-col("b.nid")).as("vec_id"), col("b.embedding"))
        .head()
      if (row.isNullAt(0)) exhausted = true
      else picked :+= ((row.getLong(1), row.getSeq[Float](2), Some(row.getDouble(0))))
    }
    import spark.implicits._
    picked.zipWithIndex.map { case ((id, _, d), i) => (i + 1, id, d) }
      .toDF("step", "vec_id", "dist_to_selected")
  }

  val PqM = 16 // subspaces — each Dim/PqM = 4 dims
  val PqSubDim = Dim / PqM
  val PqK = 16 // codewords per subspace: 4-bit codes → 64 floats become 16 nibbles (8 B, 32×)

  /** Product-quantization codebooks (Jégou et al. 2011, TPAMI 33(1)):
    * the embedding space is split into [[PqM]] contiguous subspaces and
    * a [[PqK]]-codeword codebook is trained per subspace with
    * squared-L2 Lloyd iterations under the same hash-seeded,
    * hash-sampled, decimal-exact discipline as the IVF coarse
    * quantizer (Clustering.kmeansL2 is the one-subspace form; here all
    * PqM subspaces train jointly in one set of Lloyd jobs — identical
    * trajectories, the subspaces never interact — so the DuckDB oracle
    * replays each one bit-for-bit). Codes densify to 0..K-1 by seed
    * order.
    *
    * Scale: the whole codebook is PqM·PqK rows of PqSubDim floats (256
    * rows here) — constant in the corpus size, always broadcastable;
    * training touches only the hash sample. A stored corpus shrinks
    * Dim·4 bytes → PqM 4-bit codes (256 B → 8 B, 32× at these
    * constants), which is the difference between an in-RAM ANN index
    * and a disk-bound one at 100 TB. M trades recall for bits: the q160
    * audit measured recall@10 0.14 / 0.275 / 0.385 at M = 4 / 8 / 16 on
    * the testdata embeddings (K is capped by the sf0.001 training
    * sample; at real scale prefer K = 256-byte codes).
    */
  def pqCodebooks(emb: DataFrame): DataFrame = {
    import graft.functions.{Hashes, Num}
    val train = Sampling.hashSample(emb, "vec_id", IvfTrainPct).select("vec_id", "embedding")
    val subs = train.select(col("vec_id"),
      posexplode(array((0 until PqM).map(m =>
        slice(col("embedding"), m * PqSubDim + 1, PqSubDim)): _*)).as(Seq("m", "sub")))
    // ONE hash draw seeds every subspace (the seed key ignores m, so the
    // per-subspace seed sets coincide by construction) and all PqM
    // codebooks share each Lloyd round's jobs: assignment is one window
    // over the joint (vec_id, m) frame, the mean update one aggregation
    // keyed (m, cluster_id, dim) — 4× fewer eager rounds than training
    // the subspaces sequentially, same trajectory bit-for-bit (the
    // subspace computations never interact).
    val seedIds = train
      .orderBy(Hashes.md5Long32(col("vec_id").cast("string")), col("vec_id"))
      .limit(PqK).select(col("vec_id").as("cluster_id"))
    var cents = subs.join(broadcast(seedIds), col("vec_id") === col("cluster_id"))
      .select(col("m"), col("cluster_id"), col("sub").as("cemb"))
      .localCheckpoint(true)
    for (_ <- 1 to IvfIters) {
      val prev = cents
      // argmin by struct-ordered MIN (ties -> lowest cluster_id; the sub
      // payload is never compared) - partial-aggregated (SortAggregate,
      // the array payload bars HashAggregate) instead of a full window
      // shuffle of the (sample x M x K) frame per round
      val assigned = subs.join(broadcast(cents), Seq("m"))
        .withColumn("d2", Vec.l2sq(col("sub"), col("cemb")))
        .groupBy("vec_id", "m")
        .agg(min(struct(col("d2"), col("cluster_id"), col("sub"))).as("best"))
        .select(col("m"), col("best.cluster_id").as("cluster_id"), col("best.sub").as("sub"))
      // fused mean update (the Clustering.meanVectors shape at
      // PqSubDim width): one keyed aggregation with per-dimension
      // decimal sums — bit-identical values to the former
      // posexplode → (m,cluster,dim) agg → collect_list reassembly,
      // at half the shuffles per Lloyd round
      val sums = (1 to PqSubDim).map(i =>
        sum(element_at(col("sub"), i).cast("double")
          .cast(org.apache.spark.sql.types.DecimalType(38, 6))).as(s"s_$i"))
      cents = assigned
        .groupBy(col("m"), col("cluster_id"))
        .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
        .select(col("m"), col("cluster_id"),
          array((1 to PqSubDim).map(i =>
            (col(s"s_$i").cast("double") / col("n").cast("double")).cast("float")): _*).as("cemb"))
        .localCheckpoint(true)
      prev.unpersist()
    }
    val w = Window.partitionBy("m").orderBy("cluster_id")
    cents.select(col("m"), (row_number().over(w) - 1).as("code"), col("cemb"))
  }

  /** Per-(vector, subspace) nearest-codeword assignment: (vec_id, m,
    * code, d2) plus any `carry` columns passed through untouched (so a
    * caller holding per-vector metadata — IVF-PQ's cent_id — need not
    * re-join the corpus to get it back). The codebook join broadcasts
    * (constant size); argmin ties break on code — both mirrored in the
    * oracle.
    */
  private[graft] def pqEncodedLong(emb: DataFrame, cb: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val subs = emb.select(col("vec_id") +: carry.map(col) :+
      posexplode(array((0 until PqM).map(m =>
        slice(col("embedding"), m * PqSubDim + 1, PqSubDim)): _*)).as(Seq("m", "sub")): _*)
    // argmin via struct-ordered MIN (ties -> lowest code): the corpus
    // encode pass becomes one partial-aggregated hash agg instead of a
    // full sort shuffle of the n x M x K scored frame
    subs.join(broadcast(cb), Seq("m"))
      .withColumn("d2", Vec.l2sq(col("sub"), col("cemb")))
      .groupBy(col("vec_id") +: carry.map(col) :+ col("m"): _*)
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id") +: carry.map(col) :+ col("m") :+ col("best.code").as("code") :+
        col("best.d2").as("d2"): _*)
  }

  /** PQ encoding of the corpus: per vector the [[PqM]] code ids (as a
    * comma string, the array-output convention) and the reconstruction
    * error — the per-subspace quantization distances folded as doubles
    * in subspace (`m`) order, so partitioning cannot reorder the
    * addition and the oracle replays the same fold. No per-row decimal
    * cast: Spark rounds a double's shortest decimal string, DuckDB its
    * exact binary value, so the two disagree on values such as
    * 0.0163183249065 (binary 0.016318324906499998...).
    */
  def pqEncode(emb: DataFrame, codebooks: Option[DataFrame] = None): DataFrame =
    pqSummary(pqEncodedLong(emb, codebooks.getOrElse(pqCodebooks(emb))))

  /** (vec_id, m, code, d2) rows → one (vec_id, codes, recon_err) row per
    * vector, both in `m` order.
    */
  private[graft] def pqSummary(long: DataFrame): DataFrame =
    long.groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("code"), col("d2")))).as("per_m"))
      .select(col("vec_id"),
        concat_ws(",", transform(col("per_m"), x => x.getField("code").cast("string"))).as("codes"),
        aggregate(col("per_m"), lit(0d), (acc, x) => acc + x.getField("d2")).as("recon_err"))
      .orderBy("vec_id")

  /** Exact squared-L2 top-k for a small broadcast query set — the
    * [[pqAdcTopK]] audit baseline (ADC approximates THIS metric;
    * auditing against the cosine ranking would score a different
    * question). Same shape as [[bruteForceTopK]]: queries broadcast,
    * candidates stream.
    */
  def bruteForceL2TopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
    val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("l2_dist", round(Vec.l2sq(col("qe"), col("ce")), 6))
    topKRanked(scored, "l2_dist", k, ascending = true)
      .select("query_id", "cand_id", "l2_dist", "rank")
  }

  /** PQ top-k by asymmetric distance computation (ADC): the query keeps
    * full precision; each candidate is its [[PqM]] codes, and the
    * distance is the sum of precomputed (query-subvector ↔ codeword)
    * distances. The classic PQ search shape, PACKED (round 8): each
    * candidate carries its codes as ONE m-ordered array row and each
    * query its full M×K lookup table as ONE flat array (index
    * m·PqK+code), so scoring is a |corpus|×|Q| broadcast join with a
    * 16-lookup in-row fold — the former long-form join on (m, code)
    * pushed |corpus|·PqM·|Q| rows through the shuffle, PqM× more. The
    * 16 lookups sum through a BALANCED tree of exact decimal adds
    * (terms cast DECIMAL(25,12), the 12-dp scale of the former
    * sum(cast) aggregate; tree depth 4 grows precision only to 29, so
    * no add ever hits the 38-digit cap where Spark would shave scale —
    * and decimal addition is associative-exact, so the tree equals any
    * aggregation order) — ADC values, ties (break on cand_id), and the
    * oracle are unchanged.
    */
  /** The packed-ADC scoring expression over `codes` (m-ordered code
    * array) and `lut` (flat m·PqK+code lookup array): 16 in-row lookups
    * summed through a balanced tree of exact decimal adds — see
    * [[pqAdcTopK]]'s scaladoc for the precision argument.
    */
  private def adcDist: Column = {
    def balancedSum(xs: Seq[Column]): Column =
      if (xs.size == 1) xs.head
      else balancedSum(xs.grouped(2).map(g =>
        if (g.size == 2) g(0) + g(1) else g(0)).toSeq)
    balancedSum((0 until PqM).map(m =>
      element_at(col("lut"),
        (lit(m * PqK) + element_at(col("codes"), m + 1) + 1).cast("int"))
        .cast("decimal(25,12)"))).cast("double")
  }

  /** Packs long-form (…, m, code) rows into one m-ordered `codes` array
    * per group — the candidate side of packed ADC.
    */
  private def packCodes(long: DataFrame, keys: Seq[String]): DataFrame =
    long.groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        x => x.getField("code")).as("codes"))

  /** Packs long-form (…, m, code, d2) LUT rows into one flat
    * (m·PqK+code)-indexed `lut` array per group — the query side. The
    * array is padded to the FULL PqM·PqK domain (a Lloyd run on a tiny
    * training set can leave a subspace with fewer than PqK live
    * codewords, which would make a sorted-concatenation layout ragged);
    * the pad positions are NULL and are never referenced, because
    * candidate codes come from the same codebook. The map lookup runs
    * once per GROUP at pack time, not per scored pair.
    */
  private def packLut(long: DataFrame, keys: Seq[String]): DataFrame =
    long.groupBy(keys.map(col): _*)
      .agg(map_from_entries(collect_list(
        struct((col("m") * PqK + col("code")).as("k"), col("d2")))).as("lm"))
      .select(keys.map(col) :+
        transform(sequence(lit(0), lit(PqM * PqK - 1)),
          i => element_at(col("lm"), i)).as("lut"): _*)

  def pqAdcTopK(emb: DataFrame, queryPred: Column, k: Int,
      codebooks: Option[DataFrame] = None): DataFrame = {
    val cb = codebooks.getOrElse(pqCodebooks(emb))
    val cand = packCodes(
      pqEncodedLong(emb, cb).withColumnRenamed("vec_id", "cand_id"), Seq("cand_id"))
    val qsubs = emb.filter(queryPred).select(col("vec_id").as("query_id"),
      posexplode(array((0 until PqM).map(m =>
        slice(col("embedding"), m * PqSubDim + 1, PqSubDim)): _*)).as(Seq("m", "qsub")))
    val lut = packLut(
      qsubs.join(cb, Seq("m"))
        .select(col("query_id"), col("m"), col("code"),
          Vec.l2sq(col("qsub"), col("cemb")).as("d2")),
      Seq("query_id"))
    val scored = cand.join(broadcast(lut), col("cand_id") =!= col("query_id"))
      .withColumn("adc_dist", adcDist)
      .select("query_id", "cand_id", "adc_dist")
    topKRanked(scored, "adc_dist", k, ascending = true)
      .select("query_id", "cand_id", "adc_dist", "rank")
  }

  /** IVF-PQ (Jégou et al. 2011 §V — the canonical billion-scale ANN
    * index, faiss's IndexIVFPQ): a coarse squared-L2 quantizer
    * partitions the corpus into [[IvfNlist]] inverted lists, each
    * vector stores only the PQ codes of its RESIDUAL (x − centroid) —
    * residuals are tighter around zero than raw vectors, so the same
    * code budget quantizes them with less error — and a query scans
    * its `probes` nearest lists with a PER-LIST ADC lookup table built
    * from (query − centroid).
    *
    * Scale: the index state per vector is cent_id + PqM nibbles; the
    * coarse table and per-query LUTs (|Q|·probes·PqM·PqK rows) are
    * broadcast constants; the only corpus-sized shuffle is the
    * candidate join keyed (cent_id, m, code). Training (coarse Lloyd +
    * joint PQ Lloyd on sampled residuals) is all hash-seeded and
    * decimal-exact, so the DuckDB oracle replays both trajectories.
    */
  def ivfPqTopK(emb: DataFrame, queryPred: Column, k: Int,
      probes: Int = IvfProbes, trained: Option[DataFrame] = None): DataFrame = {
    val residual = (x: Column, c: Column) =>
      zip_with(x, c, (a, b) => (a.cast("double") - b.cast("double")).cast("float"))
    // only the coarse quantizer is a reusable artifact here — the PQ
    // codebooks below train on RESIDUALS (x − centroid), a different
    // corpus from the raw-vector codebooks other callers store
    val coarse = trained
      .getOrElse(Clustering.kmeansL2(emb, IvfNlist, IvfIters, IvfTrainPct))
      .select(col("cluster_id").as("cent_id"), col("cemb"))
    val w = Window.partitionBy("vec_id").orderBy(col("d2c"), col("cent_id"))
    // corpus-side coarse assignment is a struct-ordered MIN partial
    // aggregation (same winner as the former asc-window; the payload
    // fields are never compared because cent_id is unique),
    // checkpointed once for the two encode consumers; only the bounded
    // QUERY rows rank their probe lists through a window
    val scoredC = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(coarse))
      .withColumn("d2c", Vec.l2sq(col("embedding"), col("cemb")))
    val assigned = scoredC.groupBy("vec_id")
      .agg(min(struct(col("d2c"), col("cent_id"), col("embedding"), col("cemb"))).as("best"))
      .select(col("vec_id"), col("best.cent_id").as("cent_id"),
        residual(col("best.embedding"), col("best.cemb")).as("embedding"))
      .localCheckpoint()
    val cb = pqCodebooks(assigned.select("vec_id", "embedding"))
    // cent_id rides through the encode (no second corpus join to
    // re-attach it) — the candidate join stays the one corpus shuffle
    val cand = pqEncodedLong(assigned, cb, carry = Seq("cent_id"))
      .select(col("vec_id").as("cand_id"), col("cent_id"), col("m"), col("code"))
    val qres = scoredC.filter(queryPred)
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= probes)
      .select(col("vec_id").as("query_id"), col("cent_id"),
        residual(col("embedding"), col("cemb")).as("qres"))
    val qsubs = qres.select(col("query_id"), col("cent_id"),
      posexplode(array((0 until PqM).map(m =>
        slice(col("qres"), m * PqSubDim + 1, PqSubDim)): _*)).as(Seq("m", "qsub")))
    // packed ADC (the pqAdcTopK shape, per probed list): candidates
    // carry (cent_id, codes); each (query, probed list) carries one
    // flat LUT — the candidate join streams |list-matched pairs| rows
    // with an in-row 16-lookup fold, PqM× fewer shuffle rows than the
    // former long-form (cent_id, m, code) join
    val candP = packCodes(cand, Seq("cand_id", "cent_id"))
    val lutP = packLut(
      qsubs.join(cb, Seq("m"))
        .select(col("query_id"), col("cent_id"), col("m"), col("code"),
          Vec.l2sq(col("qsub"), col("cemb")).as("d2")),
      Seq("query_id", "cent_id"))
    val scored = candP.join(broadcast(lutP), Seq("cent_id"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("adc_dist", adcDist)
      .select("query_id", "cand_id", "adc_dist")
    topKRanked(scored, "adc_dist", k, ascending = true)
      .select("query_id", "cand_id", "adc_dist", "rank")
  }

  val JlDim = 16 // projected dimension — 1/sqrt(16) = 0.25 is exact in binary

  /** sign(j,d) = ±1 from md5("jl:j:d") parity — the Achlioptas (2003)
    * ±1 variant of the JL projection matrix, portable to the oracle.
    */
  def jlSign(j: Int, d: Int): Double =
    if (java.lang.Long.parseLong(md5Hex(s"jl:$j:$d").take(8), 16) % 2 == 0) 1.0 else -1.0

  private def jlPlane(j: Int): Column =
    array((1 to Dim).map(d => lit(jlSign(j, d) * 0.25)): _*)

  /** Johnson–Lindenstrauss random projection to [[JlDim]] dims: y_j =
    * Σ_d x_d · s(j,d) / √JlDim with deterministic md5-derived ±1 signs
    * — the standard cheap preprocessing that shrinks every downstream
    * distance computation (LSH, k-means, dedup cosines) 4× while
    * preserving pairwise distances to (1±ε). Each output dim is one
    * [[Vec.dot]] fold against a literal ±0.25 plane (the [[bucketOf]]
    * shape — the double-literal planes rule out the float-only
    * DotProductD): zero shuffle, zero state, embarrassingly parallel.
    * The 1/√16 scale is exactly 0.25 (dyadic), so both engines compute
    * identical doubles.
    */
  def jlProject(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      array((0 until JlDim).map(j =>
        Vec.dot(jlPlane(j), col("embedding"))): _*).as("proj"))

  /** JL distortion audit over the query-pair set: the squared-distance
    * ratio ||y_a − y_b||² / ||x_a − x_b||² per pair, summarized as
    * min/mean/max and the share within the ε = 0.5 JL band. The
    * measured twin of the lemma's guarantee, and the acceptance test
    * before routing dedup/clustering through the projected space.
    */
  def jlDistortion(emb: DataFrame, pred: Column): DataFrame = {
    import graft.functions.Num
    val p = jlProject(emb.filter(pred))
    val base = emb.filter(pred).join(p, "vec_id")
    val a = base.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("proj").as("p1"))
    val b = base.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("proj").as("p2"))
    a.join(broadcast(b), col("v1") < col("v2"))
      // identical originals have no defined ratio — excluded both sides
      .filter(Vec.l2sq(col("e1"), col("e2")) > 0)
      .select((Vec.l2sq(col("p1"), col("p2")) / Vec.l2sq(col("e1"), col("e2"))).as("ratio"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(min(col("ratio")), 6).as("min_ratio"),
        round(Num.davg(col("ratio")), 6).as("mean_ratio"),
        round(max(col("ratio")), 6).as("max_ratio"),
        round(Num.davg((col("ratio") >= 0.5 && col("ratio") <= 1.5).cast("int").cast("double")), 6)
          .as("within_band"))
  }

  /** Rand-index agreement between full-dim and JL-projected squared-L2
    * k-means — the acceptance test for running CLUSTERING (not just
    * distances) in the projected space: both trainings use the same
    * seeding/sampling/iteration discipline, and the index counts
    * pair-level agreement ((same, same) + (split, split)) over all
    * vector pairs, computed exactly from the contingency table's
    * integer sums — no pair materialization. One 1-row result:
    * (n_vectors, k_full, k_proj, rand_index).
    */
  def jlKmeansAgreement(emb: DataFrame,
      trainedFull: Option[DataFrame] = None): DataFrame = {
    import graft.functions.Num
    val full = Clustering.assignL2(emb,
      trainedFull.getOrElse(Clustering.kmeansL2(emb, IvfNlist, IvfIters, IvfTrainPct)))
      .select(col("vec_id"), col("cluster_id").as("cf"))
    val proj = jlProject(emb).select(col("vec_id"), col("proj").as("embedding"))
    val pc = Clustering.assignL2(proj,
      Clustering.kmeansL2(proj, IvfNlist, IvfIters, IvfTrainPct, dim = JlDim))
      .select(col("vec_id"), col("cluster_id").as("cp"))
    val cells = full.join(pc, "vec_id")
      .groupBy("cf", "cp").agg(count(lit(1)).as("nij"))
      .localCheckpoint() // feeds the cell, row, and column sums
    val rows = cells.groupBy("cf").agg(sum(col("nij")).as("ni"))
      .agg(sum(col("ni") * (col("ni") - 1)).as("r2"), count(lit(1)).as("k_full"))
    val cols = cells.groupBy("cp").agg(sum(col("nij")).as("nj"))
      .agg(sum(col("nj") * (col("nj") - 1)).as("c2"), count(lit(1)).as("k_proj"))
    val tot = cells.agg(sum(col("nij")).as("n"),
      sum(col("nij") * (col("nij") - 1)).as("a2"))
    tot.crossJoin(broadcast(rows)).crossJoin(broadcast(cols))
      .select(
        col("n"), col("k_full"), col("k_proj"),
        round((((col("n") * (col("n") - 1)) + lit(2) * col("a2") - col("r2") - col("c2"))
          .cast("double") / (col("n") * (col("n") - 1))), 6).as("rand_index"))
  }

  val GraphBlockCap = 1000 // max vectors per (label, bucket) block in graph candidate generation

  /** Bounded near-dup pair generation for similarity-GRAPH building
    * (PageRank / triangles / cross-modal agreement): candidate pairs
    * come from (label ∧ sign-LSH bucket) equality blocks, and blocks
    * still holding more than [[GraphBlockCap]] vectors are dropped
    * (the stop-shingle precedent from the Jaccard family — both steps
    * are part of the operator contract and mirrored in the oracle).
    *
    * Why not [[nearDupPairs]]: that operator is all-pairs WITHIN a
    * label, which is the right contract for a small curated block
    * but quadratic in a hot label when a whole corpus routes
    * through it to build the similarity graph. Adding the LSH bucket
    * to the key splits every label ~[[LshPlanes]]²-ways, and the cap
    * guarantees no block goes quadratic regardless of the corpus.
    * Near-identical vectors agree on every hyperplane sign, so
    * duplicate-level edges — the graph signal — land in the same
    * bucket by construction; only far-apart same-label pairs are
    * pruned with the candidate space.
    */
  /** [[bucketedNearDupPairs]] WITHOUT the label in the blocking key —
    * candidate pairs from sign-LSH bucket equality alone, cap per
    * bucket. The pair generator label-noise auditing REQUIRES: the
    * (label ∧ bucket) graph can only connect same-label vectors, so a
    * neighborhood-disagreement audit over it is blind by construction;
    * here cross-label near-neighbors surface, which is the signal.
    * Same cap discipline (an over-cap bucket is dropped, mirrored in
    * the oracle); at 2^[[LshPlanes]] buckets the cap holds the pair
    * space to cap²·2^planes regardless of corpus size.
    */
  def bucketedCrossPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val n = emb.select(col("vec_id"), col("embedding"))
      .withColumn("bucket", bucketOf(col("embedding")))
      .withColumn("nrm", sqrt(Vec.dotFast(col("embedding"), col("embedding"))))
    val ok = n.groupBy("bucket").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= GraphBlockCap).select("bucket")
    val k = n.join(ok, Seq("bucket"))
    val a = k.select(col("bucket"), col("vec_id").as("v1"),
      col("embedding").as("e1"), col("nrm").as("n1"))
    val b = k.select(col("bucket"), col("vec_id").as("v2"),
      col("embedding").as("e2"), col("nrm").as("n2"))
    a.join(b, Seq("bucket"))
      .filter(col("v1") < col("v2"))
      .withColumn("cosine_sim",
        round(Vec.dotFast(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("cosine_sim") >= threshold)
      .select("v1", "v2", "cosine_sim")
  }

  def bucketedNearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    // NOT cached: the bucketed frame feeds the size aggregation and both
    // join sides, but a cache here measured neutral at sf0.1 (columnar
    // (de)serialization of the embedding arrays offsets the recompute
    // saving) — and recomputing a codegen'd narrow projection is the
    // default-right call at scale, where caching a corpus-wide frame
    // costs cluster memory a 3× projection does not
    val n = emb.select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("bucket", bucketOf(col("embedding")))
      .withColumn("nrm", sqrt(Vec.dotFast(col("embedding"), col("embedding"))))
    val ok = n.groupBy("label", "bucket").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= GraphBlockCap).select("label", "bucket")
    val k = n.join(ok, Seq("label", "bucket"))
    val a = k.select(col("label"), col("bucket"), col("vec_id").as("v1"),
      col("embedding").as("e1"), col("nrm").as("n1"))
    val b = k.select(col("label"), col("bucket"), col("vec_id").as("v2"),
      col("embedding").as("e2"), col("nrm").as("n2"))
    a.join(b, Seq("label", "bucket"))
      .filter(col("v1") < col("v2"))
      .withColumn("cosine_sim", round(Vec.dotFast(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("cosine_sim") >= threshold)
      .select("label", "v1", "v2", "cosine_sim")
  }

  /** Embedding near-duplicate pairs within a blocking key (label):
    * cosine above threshold, ALL pairs within the label. Library API
    * for curated blocks whose sizes the caller owns and has verified
    * small — quadratic in a block, so it is deliberately OFF the query
    * surface (every `queries()` entry, q45 included, routes through
    * the capped [[bucketedNearDupPairs]]).
    */
  def nearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val n = emb.withColumn("nrm", sqrt(Vec.dotFast(col("embedding"), col("embedding"))))
    val a = n.select(col("label"), col("vec_id").as("v1"), col("embedding").as("e1"), col("nrm").as("n1"))
    val b = n.select(col("label"), col("vec_id").as("v2"), col("embedding").as("e2"), col("nrm").as("n2"))
    a.join(b, Seq("label"))
      .filter(col("v1") < col("v2"))
      .withColumn("cosine_sim", round(Vec.dotFast(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("cosine_sim") >= threshold)
      .select("label", "v1", "v2", "cosine_sim")
  }

  /** DuckDB oracle fragments. */
  object O {
    import graft.functions.{Hashes, Num, Vec => V}

    /** Bucket expression over embedding column `e` (md5-derived planes
      * computed inline in SQL — identical doubles to planeCoef).
      */
    def bucket(e: String): String =
      (0 until LshPlanes).map { h =>
        val coef = s"((('0x' || substr(md5('$h:' || d), 1, 8))::BIGINT % 2001 - 1000) / 1000.0)"
        val dot = s"list_reduce(list_transform(range(1, ${Dim + 1}), d -> $coef * CAST($e[d] AS DOUBLE)), (x, y) -> x + y)"
        s"(CASE WHEN $dot >= 0 THEN (CAST(1 AS BIGINT) << $h) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")

    /** CTE chain ending in `pairs(label, v1, v2)` — the bit-identical
      * twin of [[bucketedNearDupPairs]] (bucket, block-size cap,
      * rounded cosine threshold).
      */
    def bucketedPairsCte(threshold: Double): String =
      s"""bkt AS (SELECT vec_id, label, embedding, (${bucket("embedding")}) AS bucket FROM embeddings),
         |bsz AS (SELECT label, bucket FROM bkt GROUP BY label, bucket HAVING COUNT(*) <= $GraphBlockCap),
         |blk AS (SELECT bkt.* FROM bkt JOIN bsz USING (label, bucket)),
         |pairs AS (SELECT a.label, a.vec_id AS v1, b.vec_id AS v2
         |  FROM blk a JOIN blk b ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(${graft.functions.Vec.O.cosine("a.embedding", "b.embedding")}, 6) >= $threshold)""".stripMargin

    /** [[bucketedPairsCte]] with the rounded cosine carried as `w` —
      * the weighted-graph consumers' edge list (q339).
      */
    /** Mirrors [[Similarity.bucketedCrossPairs]] — bucket-only blocks
      * (cross-label neighbors), cap per bucket, emits `pairs (v1, v2, w)`.
      */
    def bucketedCrossPairsCte(threshold: Double): String =
      s"""xbkt AS (SELECT vec_id, embedding, (${bucket("embedding")}) AS bucket FROM embeddings),
         |xbsz AS (SELECT bucket FROM xbkt GROUP BY bucket HAVING COUNT(*) <= $GraphBlockCap),
         |xblk AS (SELECT xbkt.* FROM xbkt JOIN xbsz USING (bucket)),
         |pairs AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
         |    round(${graft.functions.Vec.O.cosine("a.embedding", "b.embedding")}, 6) AS w
         |  FROM xblk a JOIN xblk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(${graft.functions.Vec.O.cosine("a.embedding", "b.embedding")}, 6) >= $threshold)""".stripMargin

    def bucketedWeightedPairsCte(threshold: Double): String =
      s"""bkt AS (SELECT vec_id, label, embedding, (${bucket("embedding")}) AS bucket FROM embeddings),
         |bsz AS (SELECT label, bucket FROM bkt GROUP BY label, bucket HAVING COUNT(*) <= $GraphBlockCap),
         |blk AS (SELECT bkt.* FROM bkt JOIN bsz USING (label, bucket)),
         |pairs AS (SELECT a.label, a.vec_id AS v1, b.vec_id AS v2,
         |    round(${graft.functions.Vec.O.cosine("a.embedding", "b.embedding")}, 6) AS w
         |  FROM blk a JOIN blk b ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(${graft.functions.Vec.O.cosine("a.embedding", "b.embedding")}, 6) >= $threshold)""".stripMargin

    /** Full IVF oracle: replays the quantizer training (hash-sampled
      * training set, hash-seeded c0, `IvfIters` unrolled Lloyd rounds
      * with decimal-exact means cast to FLOAT) and then the
      * assignment/probe/score pipeline — every arithmetic step is the
      * bit-identical twin of the Spark side.
      */
    /** CTE chain `e, samp, c0, a1..cN, cent` — the trained coarse
      * quantizer (hash-sampled training set, hash-seeded c0, unrolled
      * Lloyd rounds with decimal-exact means cast to FLOAT), ending in
      * `cent(cent_id, cemb, cnrm)`. Shared by the IVF and SemDeDup
      * oracles; every arithmetic step is the bit-identical twin of
      * Clustering.kmeans.
      */
    /** Generalized form: CTE names carry prefix `p` (so two trainings
      * compose in one query — the retrain oracle), the corpus comes
      * from `src` (a table or an upstream CTE), and `trainPredSql`
      * restricts the training set (the stale-quantizer replay trains
      * on the pre-drift rows only). `cent` is MATERIALIZED: it is tiny
      * (nlist rows) and referenced from several consumers, and DuckDB
      * would otherwise re-run the whole Lloyd chain per reference.
      */
    private def centroidCtes(p: String, src: String,
        trainPredSql: String = "TRUE"): String = {
      val iterCtes = (1 to IvfIters).map { i =>
        val prev = s"${p}c${i - 1}"
        s"""${p}a$i AS (SELECT vec_id, embedding, cluster_id FROM (
           |  SELECT s.vec_id, s.embedding, c.cluster_id,
           |    row_number() OVER (PARTITION BY s.vec_id ORDER BY
           |      (${V.O.dot("s.embedding", "c.cemb")} / (s.nrm * sqrt(${V.O.dot("c.cemb", "c.cemb")}))) DESC, c.cluster_id) AS rn
           |  FROM ${p}samp s CROSS JOIN $prev c) WHERE rn = 1),
           |${p}m$i AS (SELECT cluster_id, CAST(i AS INT) AS dim, ${Num.O.avg("CAST(embedding[i] AS DOUBLE)")} AS avg_val
           |  FROM ${p}a$i, range(1, ${Dim + 1}) t(i) GROUP BY cluster_id, i),
           |${p}c$i AS (SELECT cluster_id, list(CAST(avg_val AS FLOAT) ORDER BY dim) AS cemb FROM ${p}m$i GROUP BY cluster_id)""".stripMargin
      }.mkString(",\n")
      s"""${p}e AS (SELECT vec_id, embedding, sqrt(${V.O.dot("embedding", "embedding")}) AS nrm FROM $src),
         |${p}samp AS (SELECT vec_id, embedding, nrm FROM ${p}e WHERE ${Sampling.O.hashBucket("vec_id")} < $IvfTrainPct AND ($trainPredSql)),
         |${p}c0 AS (SELECT vec_id AS cluster_id, embedding AS cemb FROM ${p}samp
         |       ORDER BY ${Hashes.O.md5Long32("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT $IvfNlist),
         |$iterCtes,
         |${p}cent AS MATERIALIZED (SELECT cluster_id AS cent_id, cemb, sqrt(${V.O.dot("cemb", "cemb")}) AS cnrm FROM ${p}c$IvfIters)""".stripMargin
    }

    private def trainedCentroidCtes: String = centroidCtes("", "embeddings")

    /** Bit-identical twin of [[Similarity.semDedup]]: trained-quantizer
      * assignment (rounded centroid cosine carried), capped
      * (cluster ∧ bucket) pair generation, recursive-CTE reachability
      * for the duplicate groups, farthest-from-centroid keep.
      */
    def semDedup(threshold: Double = SemDedupThreshold): String =
      s"""WITH RECURSIVE $trainedCentroidCtes,
         |rk AS (SELECT v.vec_id, v.embedding, v.nrm, c.cent_id,
         |         round(${V.O.dot("v.embedding", "c.cemb")} / (v.nrm * c.cnrm), 6) AS cent_cos,
         |         row_number() OVER (PARTITION BY v.vec_id
         |           ORDER BY (${V.O.dot("v.embedding", "c.cemb")} / (v.nrm * c.cnrm)) DESC, c.cent_id) AS crn
         |       FROM e v CROSS JOIN cent c),
         |asg AS (SELECT vec_id, embedding, nrm, cent_id, cent_cos FROM rk WHERE crn = 1),
         |bkt AS (SELECT vec_id, embedding, nrm, cent_id, cent_cos,
         |          (${bucket("embedding")}) AS bucket FROM asg),
         |bsz AS (SELECT cent_id, bucket FROM bkt GROUP BY cent_id, bucket
         |        HAVING COUNT(*) <= $GraphBlockCap),
         |blk AS (SELECT bkt.* FROM bkt JOIN bsz USING (cent_id, bucket)),
         |prs AS (SELECT a.vec_id AS d1, b.vec_id AS d2
         |        FROM blk a JOIN blk b ON a.cent_id = b.cent_id AND a.bucket = b.bucket
         |          AND a.vec_id < b.vec_id
         |        WHERE round(${V.O.dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) >= $threshold),
         |sym AS (SELECT d1 AS src, d2 AS dst FROM prs UNION SELECT d2, d1 FROM prs),
         |reach(src, dst) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM sym) t
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
         |grp AS (SELECT src AS vec_id, min(dst) AS group_rep, COUNT(DISTINCT dst) AS group_size
         |        FROM reach GROUP BY src),
         |rnkd AS (SELECT g.vec_id, g.group_rep, g.group_size,
         |           row_number() OVER (PARTITION BY g.group_rep
         |             ORDER BY a.cent_cos, g.vec_id) AS rnk
         |         FROM grp g JOIN asg a ON a.vec_id = g.vec_id)
         |SELECT a.vec_id, a.cent_id, a.cent_cos,
         |  COALESCE(r.group_rep, a.vec_id) AS group_rep,
         |  COALESCE(r.group_size, 1) AS group_size,
         |  (COALESCE(r.rnk, 1) = 1) AS keep
         |FROM asg a LEFT JOIN rnkd r ON r.vec_id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin

    /** CTE chain ending in `cb(m, code, cemb)` — the trained PQ
      * codebooks: per subspace, the hash-sampled training slice,
      * hash-seeded c0, `IvfIters` unrolled squared-L2 Lloyd rounds with
      * decimal-exact means cast to FLOAT (the bit-identical twin of
      * Clustering.kmeansL2 over pqCodebooks' slices), then the dense
      * 0..K-1 code remap by seed order.
      */
    private def pqCodebookCtes(src: String = "embeddings"): String = {
      val subCtes = (0 until PqM).map { m =>
        val off = m * PqSubDim
        val seed =
          s"""s${m}samp AS (SELECT vec_id, list_slice(embedding, ${off + 1}, ${off + PqSubDim}) AS embedding
             |  FROM $src WHERE ${Sampling.O.hashBucket("vec_id")} < $IvfTrainPct),
             |s${m}c0 AS (SELECT vec_id AS cluster_id, embedding AS cemb FROM s${m}samp
             |  ORDER BY ${Hashes.O.md5Long32("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT $PqK)""".stripMargin
        val iters = (1 to IvfIters).map { i =>
          val prev = s"s${m}c${i - 1}"
          s"""s${m}a$i AS (SELECT vec_id, embedding, cluster_id FROM (
             |  SELECT s.vec_id, s.embedding, c.cluster_id,
             |    row_number() OVER (PARTITION BY s.vec_id ORDER BY
             |      ${V.O.l2sq("s.embedding", "c.cemb", PqSubDim)} ASC, c.cluster_id) AS rn
             |  FROM s${m}samp s CROSS JOIN $prev c) WHERE rn = 1),
             |s${m}m$i AS (SELECT cluster_id, CAST(i AS INT) AS dim, ${Num.O.avg("CAST(embedding[i] AS DOUBLE)")} AS avg_val
             |  FROM s${m}a$i, range(1, ${PqSubDim + 1}) t(i) GROUP BY cluster_id, i),
             |s${m}c$i AS (SELECT cluster_id, list(CAST(avg_val AS FLOAT) ORDER BY dim) AS cemb FROM s${m}m$i GROUP BY cluster_id)""".stripMargin
        }.mkString(",\n")
        s"$seed,\n$iters"
      }.mkString(",\n")
      val union = (0 until PqM)
        .map(m => s"SELECT CAST($m AS INT) AS m, cluster_id, cemb FROM s${m}c$IvfIters")
        .mkString(" UNION ALL ")
      s"""$subCtes,
         |cbraw AS ($union),
         |cb AS (SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY cluster_id) - 1 AS INT) AS code, cemb FROM cbraw)""".stripMargin
    }

    /** CTE pair `sub, enc` — per-(vector, subspace) slices and the
      * nearest-codeword assignment, the twin of pqEncodedLong.
      */
    private def pqEncCtes(src: String = "embeddings"): String =
      s"""sub AS (SELECT vec_id, CAST(m AS INT) AS m,
         |    list_slice(embedding, m * $PqSubDim + 1, (m + 1) * $PqSubDim) AS sub
         |  FROM $src, range(0, $PqM) t(m)),
         |enc AS (SELECT vec_id, m, code, d2 FROM (
         |  SELECT s.vec_id, s.m, c.code, ${V.O.l2sq("s.sub", "c.cemb", PqSubDim)} AS d2,
         |    row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |      ${V.O.l2sq("s.sub", "c.cemb", PqSubDim)} ASC, c.code) AS rn
         |  FROM sub s JOIN cb c ON s.m = c.m) WHERE rn = 1)""".stripMargin

    /** Bit-identical twin of [[Similarity.pqEncode]]. */
    def pqCodes: String =
      s"""WITH ${pqCodebookCtes()},
         |${pqEncCtes()}
         |SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY m) AS codes,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list(d2 ORDER BY m)), (a, b) -> a + b) AS recon_err
         |FROM enc GROUP BY vec_id ORDER BY vec_id""".stripMargin

    /** CTE chain ending in `${p}cent(cent_id, cemb)` — the generic
      * squared-L2 Lloyd replay (the bit-identical twin of
      * Clustering.kmeansL2 at `IvfNlist`/`IvfIters`/`IvfTrainPct`)
      * over any (vec_id, embedding) relation `src` of width `dim`.
      */
    private[graft] def kmeansL2Ctes(p: String, src: String, dim: Int): String = {
      val iterCtes = (1 to IvfIters).map { i =>
        val prev = s"${p}c${i - 1}"
        s"""${p}a$i AS (SELECT vec_id, embedding, cluster_id FROM (
           |  SELECT s.vec_id, s.embedding, c.cluster_id,
           |    row_number() OVER (PARTITION BY s.vec_id ORDER BY
           |      ${V.O.l2sq("s.embedding", "c.cemb", dim)} ASC, c.cluster_id) AS rn
           |  FROM ${p}samp s CROSS JOIN $prev c) WHERE rn = 1),
           |${p}m$i AS (SELECT cluster_id, CAST(i AS INT) AS dim, ${Num.O.avg("CAST(embedding[i] AS DOUBLE)")} AS avg_val
           |  FROM ${p}a$i, range(1, ${dim + 1}) t(i) GROUP BY cluster_id, i),
           |${p}c$i AS (SELECT cluster_id, list(CAST(avg_val AS FLOAT) ORDER BY dim) AS cemb FROM ${p}m$i GROUP BY cluster_id)""".stripMargin
      }.mkString(",\n")
      s"""${p}samp AS (SELECT vec_id, embedding FROM $src WHERE ${Sampling.O.hashBucket("vec_id")} < $IvfTrainPct),
         |${p}c0 AS (SELECT vec_id AS cluster_id, embedding AS cemb FROM ${p}samp
         |        ORDER BY ${Hashes.O.md5Long32("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT $IvfNlist),
         |$iterCtes,
         |${p}cent AS (SELECT cluster_id AS cent_id, cemb FROM ${p}c$IvfIters)""".stripMargin
    }

    // prefix "c" yields c0/c1 iteration CTEs named cc0/cc1 and the
    // final `ccent` the ivfPq oracle consumes
    private def coarseL2Ctes: String = kmeansL2Ctes("c", "embeddings", Dim)

    /** Projection expression for output dim j (1-based): the JL fold
      * with inline md5-parity signs — the twin of jlPlane/dotFast.
      */
    private def jlVal(j: String, e: String): String = {
      val sign = s"(CASE WHEN (('0x' || substr(md5('jl:' || CAST($j - 1 AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 2) = 0 THEN 1.0 ELSE -1.0 END)"
      s"list_reduce(list_transform(range(1, ${Dim + 1}), d -> ($sign * 0.25) * CAST($e[d] AS DOUBLE)), (x, y) -> x + y)"
    }

    /** Bit-identical twin of the q162 long-form [[Similarity.jlProject]]. */
    /** Mirrors kCenterCoreset: hash-seeded start, k−1 unrolled
      * farthest-point rounds (MIN over the selected set ≡ the Spark
      * side's least() over the same literals; argmax = ORDER BY mind
      * DESC, vec_id LIMIT 1 ≡ the struct-MAX).
      */
    def kCenterCoreset(k: Int = KCenterK): String = {
      val seedKey = Hashes.O.md5Long32("CAST(vec_id AS VARCHAR)")
      val rounds = (2 to k).map { t =>
        val prev = s"p${t - 1}"
        s"""m$t AS (SELECT v.vec_id, ANY_VALUE(v.embedding) AS embedding,
           |  MIN(${V.O.l2sq("v.embedding", "s.embedding")}) AS mind
           |  FROM e v CROSS JOIN $prev s
           |  WHERE v.vec_id NOT IN (SELECT vec_id FROM $prev)
           |  GROUP BY v.vec_id),
           |w$t AS (SELECT vec_id, embedding, mind FROM m$t ORDER BY mind DESC, vec_id LIMIT 1),
           |p$t AS (SELECT vec_id, embedding FROM $prev UNION ALL SELECT vec_id, embedding FROM w$t),
           |sel$t AS (SELECT * FROM sel${t - 1} UNION ALL
           |  SELECT CAST($t AS INT), vec_id, round(mind, 6) FROM w$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |s1 AS (SELECT vec_id, embedding FROM e ORDER BY $seedKey, vec_id LIMIT 1),
         |p1 AS (SELECT vec_id, embedding FROM s1),
         |sel1 AS (SELECT CAST(1 AS INT) AS step, vec_id, CAST(NULL AS DOUBLE) AS dist_to_selected FROM s1),
         |$rounds
         |SELECT step, vec_id, dist_to_selected FROM sel$k ORDER BY step""".stripMargin
    }

    /** Mirrors standardize ∘ posexplode: same decimal per-dim sums,
      * same population-sigma expression shape, same sigma=0 guard.
      */
    def standardize: String =
      s"""WITH d AS (SELECT vec_id, CAST(i AS INT) AS i, CAST(embedding[i + 1] AS DOUBLE) AS x
         |           FROM embeddings, range(0, $Dim) t(i)),
         |st AS (SELECT i, CAST(COUNT(*) AS DOUBLE) AS n, ${Num.O.sum("x")} AS s,
         |              ${Num.O.sum("x * x")} AS s2 FROM d GROUP BY i),
         |ms AS (SELECT i, (s / n) AS mu, sqrt(greatest(s2 - s * s / n, 0.0) / n) AS sigma FROM st)
         |SELECT d.vec_id, (d.i + 1) AS dim,
         |  CASE WHEN ms.sigma > 0 THEN round((d.x - ms.mu) / ms.sigma, 6) ELSE 0.0 END AS z
         |FROM d JOIN ms USING (i)
         |ORDER BY vec_id, dim""".stripMargin

    /** Mirrors mmrTopK: the bruteForceTopK pool (rounded cosine,
      * row_number tie on cand_id), pool-internal pairwise sims, and k
      * unrolled greedy selection rounds ranking on the UNROUNDED score
      * with the identical interpolated λ / (1−λ) doubles.
      */
    def mmrTopK(predSql: String, k: Int = 5, pool: Int = MmrPool,
        lambda: Double = MmrLambda): String = {
      val mu = BigDecimal(1.0 - lambda).setScale(1, BigDecimal.RoundingMode.HALF_UP)
      val lam = s"CAST($lambda AS DECIMAL(2,1))"
      val muD = s"CAST($mu AS DECIMAL(2,1))"
      def d6(c: String) = s"CAST($c AS DECIMAL(18,6))"
      val cos = s"round(${V.O.dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6)"
      val pcos = s"round(${V.O.dot("x.embedding", "y.embedding")} / (x.nrm * y.nrm), 6)"
      val steps = (2 to k).map { t =>
        val prev = s"sel${t - 1}"
        s"""all$t AS (SELECT query_id, cand_id FROM $prev),
           |div$t AS (SELECT p.query_id, p.cand_id, MAX(p.csim) AS div
           |  FROM pairs p JOIN all$t s ON s.query_id = p.query_id AND s.cand_id = p.other_id
           |  GROUP BY 1, 2),
           |pick$t AS (SELECT c.query_id, c.cand_id, ($lam * ${d6("c.qsim")} - $muD * ${d6("d.div")}) AS score
           |  FROM cand c JOIN div$t d ON d.query_id = c.query_id AND d.cand_id = c.cand_id
           |  WHERE NOT EXISTS (SELECT 1 FROM all$t s WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id)),
           |sel$t AS (SELECT * FROM $prev UNION ALL
           |  SELECT query_id, cand_id, CAST(score AS DOUBLE) AS score, CAST($t AS INT) AS step FROM (
           |    SELECT query_id, cand_id, score,
           |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rn
           |    FROM pick$t) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding, sqrt(${V.O.dot("embedding", "embedding")}) AS nrm FROM embeddings),
         |pool AS (SELECT query_id, cand_id, qsim FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, $cos AS qsim,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rnk
         |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |  WHERE $predSql) WHERE rnk <= $pool),
         |cand AS (SELECT query_id, cand_id, qsim FROM pool),
         |pairs AS (SELECT a.query_id, a.cand_id, b.cand_id AS other_id, $pcos AS csim
         |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
         |  JOIN e x ON x.vec_id = a.cand_id JOIN e y ON y.vec_id = b.cand_id),
         |sel1 AS (SELECT query_id, cand_id, CAST(($lam * ${d6("qsim")}) AS DOUBLE) AS score, CAST(1 AS INT) AS step FROM (
         |  SELECT query_id, cand_id, qsim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY ($lam * ${d6("qsim")}) DESC, cand_id) AS rn
         |  FROM cand) WHERE rn = 1),
         |$steps
         |SELECT query_id, step, cand_id, score
         |FROM sel$k ORDER BY query_id, step""".stripMargin
    }

    def jlProjection: String =
      s"""SELECT vec_id, CAST(j AS INT) AS dim, ${jlVal("j", "embedding")} AS val
         |FROM embeddings, range(1, ${JlDim + 1}) t(j)
         |ORDER BY vec_id, dim""".stripMargin

    /** Bit-identical twin of [[Similarity.jlDistortion]]. */
    def jlDistortion(predSql: String): String =
      s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE $predSql),
         |p AS (SELECT vec_id, embedding,
         |        list_transform(range(1, ${JlDim + 1}), j -> ${jlVal("j", "embedding")}) AS proj
         |      FROM q),
         |pr AS (SELECT ${V.O.l2sq("a.proj", "b.proj", JlDim)} / ${V.O.l2sq("a.embedding", "b.embedding", Dim)} AS ratio
         |       FROM p a JOIN p b ON a.vec_id < b.vec_id
         |       WHERE ${V.O.l2sq("a.embedding", "b.embedding", Dim)} > 0)
         |SELECT COUNT(*) AS n_pairs,
         |  round(MIN(ratio), 6) AS min_ratio,
         |  round(${Num.O.avg("ratio")}, 6) AS mean_ratio,
         |  round(MAX(ratio), 6) AS max_ratio,
         |  round(${Num.O.avg("CAST(CASE WHEN ratio >= 0.5 AND ratio <= 1.5 THEN 1 ELSE 0 END AS DOUBLE)")}, 6) AS within_band
         |FROM pr""".stripMargin

    /** Bit-identical twin of [[Similarity.jlKmeansAgreement]]: both
      * kmeansL2 trajectories replayed (full-dim over embeddings,
      * 16-dim over the projected CTE), assignments, contingency
      * sums, exact-integer Rand index.
      */
    def jlKmeansAgreement: String = {
      def assign(p: String, src: String, dim: Int) =
        s"""${p}asg AS (SELECT vec_id, cluster_id FROM (
           |  SELECT v.vec_id, c.cent_id AS cluster_id,
           |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
           |      ${V.O.l2sq("v.embedding", "c.cemb", dim)} ASC, c.cent_id) AS rn
           |  FROM $src v CROSS JOIN ${p}cent c) WHERE rn = 1)""".stripMargin
      s"""WITH ${kmeansL2Ctes("f", "embeddings", Dim)},
         |${assign("f", "embeddings", Dim)},
         |pemb AS (SELECT vec_id,
         |    list_transform(range(1, ${JlDim + 1}), j -> ${jlVal("j", "embedding")}) AS embedding
         |  FROM embeddings),
         |${kmeansL2Ctes("p", "pemb", JlDim)},
         |${assign("p", "pemb", JlDim)},
         |cells AS (SELECT f.cluster_id AS cf, p.cluster_id AS cp, CAST(COUNT(*) AS BIGINT) AS nij
         |          FROM fasg f JOIN pasg p USING (vec_id) GROUP BY 1, 2),
         |rws AS (SELECT CAST(SUM(ni * (ni - 1)) AS BIGINT) AS r2, COUNT(*) AS k_full
         |        FROM (SELECT cf, SUM(nij) AS ni FROM cells GROUP BY cf)),
         |cls AS (SELECT CAST(SUM(nj * (nj - 1)) AS BIGINT) AS c2, COUNT(*) AS k_proj
         |        FROM (SELECT cp, SUM(nij) AS nj FROM cells GROUP BY cp)),
         |tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n, CAST(SUM(nij * (nij - 1)) AS BIGINT) AS a2 FROM cells)
         |SELECT n, k_full, k_proj,
         |  round(CAST((n * (n - 1)) + 2 * a2 - r2 - c2 AS DOUBLE) / (n * (n - 1)), 6) AS rand_index
         |FROM tot CROSS JOIN rws CROSS JOIN cls""".stripMargin
    }

    /** Bit-identical twin of [[Similarity.ivfPqTopK]]: coarse-L2
      * training, per-vector assignment + float residuals, the joint PQ
      * trajectory replayed over the residual relation, per-(query,
      * probed-list) LUTs, ADC within probed lists.
      */
    def ivfPq(queryPredSql: String, k: Int, probes: Int = IvfProbes): String = {
      def res(x: String, c: String) =
        s"list_transform(range(1, ${Dim + 1}), i -> CAST(CAST($x[i] AS DOUBLE) - CAST($c[i] AS DOUBLE) AS FLOAT))"
      s"""WITH $coarseL2Ctes,
         |rkd AS (SELECT v.vec_id, v.embedding AS orig, c.cent_id, c.cemb AS ccemb,
         |          row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |            ${V.O.l2sq("v.embedding", "c.cemb", Dim)} ASC, c.cent_id) AS crn
         |        FROM embeddings v CROSS JOIN ccent c),
         |asg AS (SELECT vec_id, cent_id, ${res("orig", "ccemb")} AS embedding FROM rkd WHERE crn = 1),
         |${pqCodebookCtes("asg")},
         |${pqEncCtes("asg")},
         |qr AS (SELECT vec_id AS query_id, cent_id, ${res("orig", "ccemb")} AS qres
         |       FROM rkd WHERE ($queryPredSql) AND crn <= $probes),
         |qs AS (SELECT query_id, cent_id, CAST(m AS INT) AS m,
         |         list_slice(qres, m * $PqSubDim + 1, (m + 1) * $PqSubDim) AS qsub
         |       FROM qr, range(0, $PqM) t(m)),
         |lut AS (SELECT q.query_id, q.cent_id, q.m, c.code, ${V.O.l2sq("q.qsub", "c.cemb", PqSubDim)} AS d2
         |        FROM qs q JOIN cb c ON q.m = c.m),
         |cnd AS (SELECT e.vec_id AS cand_id, e.m, e.code, a.cent_id
         |        FROM enc e JOIN asg a ON a.vec_id = e.vec_id),
         |prs AS (SELECT l.query_id, cn.cand_id,
         |          CAST(SUM(CAST(l.d2 AS DECIMAL(38,12))) AS DOUBLE) AS adc_dist
         |        FROM cnd cn JOIN lut l ON cn.cent_id = l.cent_id AND cn.m = l.m AND cn.code = l.code
         |          AND cn.cand_id != l.query_id
         |        GROUP BY l.query_id, cn.cand_id)
         |SELECT query_id, cand_id, adc_dist, rank FROM (
         |  SELECT query_id, cand_id, adc_dist,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, cand_id) AS INT) AS rank
         |  FROM prs)
         |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
    }

    /** Bit-identical twin of [[Similarity.pqAdcTopK]]. */
    def pqAdc(queryPredSql: String, k: Int): String =
      s"""WITH ${pqCodebookCtes()},
         |${pqEncCtes()},
         |q AS (SELECT vec_id AS query_id, CAST(m AS INT) AS m,
         |    list_slice(embedding, m * $PqSubDim + 1, (m + 1) * $PqSubDim) AS qsub
         |  FROM embeddings, range(0, $PqM) t(m) WHERE $queryPredSql),
         |lut AS (SELECT q.query_id, q.m, c.code, ${V.O.l2sq("q.qsub", "c.cemb", PqSubDim)} AS d2
         |  FROM q JOIN cb c ON q.m = c.m),
         |prs AS (SELECT l.query_id, e.vec_id AS cand_id,
         |    CAST(SUM(CAST(l.d2 AS DECIMAL(38,12))) AS DOUBLE) AS adc_dist
         |  FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code AND e.vec_id != l.query_id
         |  GROUP BY l.query_id, e.vec_id)
         |SELECT query_id, cand_id, adc_dist, rank FROM (
         |  SELECT query_id, cand_id, adc_dist,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, cand_id) AS INT) AS rank
         |  FROM prs)
         |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

    /** `candPredSql`: restricts the CANDIDATE lists (the q268 deletion
      * path — entries removed from the stored index); queries and the
      * trained quantizer are untouched, mirroring the Spark side where
      * a deletion is an anti-filter on the lists artifact.
      */
    def ivf(queryPredSql: String, k: Int, probes: Int = IvfProbes,
        candPredSql: String = "TRUE"): String = {
      s"""WITH $trainedCentroidCtes,
         |ranked AS (SELECT v.vec_id, v.embedding, v.nrm, c.cent_id,
         |             CAST(row_number() OVER (PARTITION BY v.vec_id
         |               ORDER BY (${V.O.dot("v.embedding", "c.cemb")} / (v.nrm * c.cnrm)) DESC, c.cent_id) AS INT) AS crn
         |           FROM e v CROSS JOIN cent c),
         |assigned AS (SELECT vec_id AS cand_id, embedding AS ce, nrm AS cn, cent_id FROM ranked
         |             WHERE crn = 1 AND ($candPredSql)),
         |probes AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, cent_id FROM ranked
         |           WHERE ($queryPredSql) AND crn <= $probes)
         |SELECT query_id, cand_id, cent_id, cosine_sim, rank FROM (
         |  SELECT p.query_id, a.cand_id, a.cent_id,
         |    round(${V.O.dot("p.qe", "a.ce")} / (p.qn * a.cn), 6) AS cosine_sim,
         |    CAST(row_number() OVER (PARTITION BY p.query_id
         |      ORDER BY round(${V.O.dot("p.qe", "a.ce")} / (p.qn * a.cn), 6) DESC, a.cand_id) AS INT) AS rank
         |  FROM assigned a JOIN probes p ON a.cent_id = p.cent_id AND a.cand_id != p.query_id)
         |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
    }

    /** Mirrors [[Similarity.knnShapley]]: the same rounded-cosine
      * ranking, the closed-form recursion as a reverse cumulative
      * window sum over DECIMAL(38,18) terms (exact fold — the window
      * order can't change the value), the same decimal mean.
      */
    def knnShapley(valPredSql: String, k: Int): String =
      s"""WITH e AS (SELECT vec_id, embedding, label,
         |       sqrt(${V.O.dot("embedding", "embedding")}) AS nrm FROM embeddings),
         |v AS (SELECT vec_id AS val_id, embedding AS qe, nrm AS qn, label AS vlabel
         |      FROM e WHERE $valPredSql),
         |t AS (SELECT vec_id, embedding AS ce, nrm AS cn, label FROM e
         |      WHERE NOT ($valPredSql)),
         |${shapleyTailCtes(k)}""".stripMargin

    /** Mirrors [[Similarity.knnShapleyCapped]]: the validation set is
      * the `n` smallest (md5-hash, id) vec_ids, train = the rest; the
      * closed-form tail is shared with the pct variant.
      */
    def knnShapleyCapped(n: Int, k: Int): String =
      s"""WITH e AS (SELECT vec_id, embedding, label,
         |       sqrt(${V.O.dot("embedding", "embedding")}) AS nrm FROM embeddings),
         |vi AS MATERIALIZED (SELECT vec_id FROM e
         |      ORDER BY ${graft.functions.Hashes.O.md5Long32("CAST(vec_id AS VARCHAR)")}, vec_id
         |      LIMIT $n),
         |v AS (SELECT e.vec_id AS val_id, e.embedding AS qe, e.nrm AS qn, e.label AS vlabel
         |      FROM e JOIN vi USING (vec_id)),
         |t AS (SELECT vec_id, embedding AS ce, nrm AS cn, label FROM e
         |      WHERE vec_id NOT IN (SELECT vec_id FROM vi)),
         |${shapleyTailCtes(k)}""".stripMargin

    private def shapleyTailCtes(k: Int): String =
      s"""p AS (SELECT t.vec_id, t.label, v.val_id, v.vlabel,
         |        round(${V.O.dot("v.qe", "t.ce")} / (v.qn * t.cn), 6) AS sim
         |      FROM t JOIN v ON t.vec_id != v.val_id),
         |nt AS (SELECT COUNT(*) AS n_tr FROM t),
         |r AS (SELECT vec_id, label, val_id, n_tr,
         |        CAST(row_number() OVER w AS INT) AS rank,
         |        CAST(CASE WHEN label = vlabel THEN 1 ELSE 0 END AS DOUBLE) AS hit,
         |        lead(CAST(CASE WHEN label = vlabel THEN 1 ELSE 0 END AS DOUBLE), 1) OVER w AS nxt
         |      FROM p CROSS JOIN nt WINDOW w AS (PARTITION BY val_id ORDER BY sim DESC, vec_id)),
         |s AS (SELECT vec_id, label,
         |        SUM(CAST(CASE WHEN nxt IS NULL THEN hit / n_tr
         |              ELSE (hit - nxt) / $k * CAST(least($k, rank) AS DOUBLE) / rank END
         |            AS DECIMAL(38,18)))
         |          OVER (PARTITION BY val_id ORDER BY rank
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sv
         |      FROM r)
         |SELECT vec_id, label, COUNT(*) AS n_val,
         |  round(CAST(SUM(sv) AS DOUBLE) / COUNT(*), 6) AS shap_value
         |FROM s GROUP BY vec_id, label ORDER BY vec_id""".stripMargin

    /** CTE chain ending in `asg(doc_id, cent_id)` — the full-corpus
      * trained-quantizer assignment, exposed for cross-domain oracles
      * that join cluster ids against the text corpus (doc_id = vec_id;
      * the q282 topic-labeling replay). Distinct CTE names (`rkda`) so
      * it composes beside the other quantizer consumers.
      */
    def assignmentCtes: String =
      s"""$trainedCentroidCtes,
         |rkda AS (SELECT v.vec_id, c.cent_id,
         |    CAST(row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY (${V.O.dot("v.embedding", "c.cemb")} / (v.nrm * c.cnrm)) DESC, c.cent_id) AS INT) AS crn
         |  FROM e v CROSS JOIN cent c),
         |asg AS (SELECT vec_id AS doc_id, cent_id FROM rkda WHERE crn = 1)""".stripMargin

    /** Mirrors [[Similarity.adaptiveTopK]]: the coarse stage ranks on
      * the d-dim truncated cosine (round-then-rank, cand_id tie-break —
      * the m-boundary cut is deterministic in both engines), the exact
      * stage re-scores ONLY the coarse survivors with the full-width
      * cosine. The coarse CTE is MATERIALIZED (referenced by both rerank
      * joins).
      */
    def adaptive(queryPredSql: String, k: Int, d: Int, m: Int): String =
      s"""WITH qs AS (SELECT vec_id, embedding FROM embeddings WHERE $queryPredSql),
         |co AS MATERIALIZED (SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      CAST(row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(${V.O.cosine("q.embedding", "c.embedding", d)}, 6) DESC, c.vec_id) AS INT) AS rank
         |    FROM qs q JOIN embeddings c ON c.vec_id != q.vec_id)
         |  WHERE rank <= $m)
         |SELECT query_id, cand_id, cosine_sim, rank FROM (
         |  SELECT co.query_id, co.cand_id,
         |    round(${V.O.cosine("q.embedding", "c.embedding")}, 6) AS cosine_sim,
         |    CAST(row_number() OVER (PARTITION BY co.query_id
         |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, co.cand_id) AS INT) AS rank
         |  FROM co JOIN embeddings q ON q.vec_id = co.query_id
         |  JOIN embeddings c ON c.vec_id = co.cand_id)
         |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

    /** The [[Similarity.binarySketch]] word `wi` rebuilt in SQL: sum of
      * distinct powers of two over the sign bits — exact, overflow-free
      * 32-bit packing in a BIGINT.
      */
    def binaryWord(wi: Int): String =
      s"""CAST(list_sum(list_transform(range(0, 32), j ->
         |    CASE WHEN embedding[CAST(${wi * 32} + j + 1 AS INT)] > 0
         |         THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)) AS BIGINT)""".stripMargin

    /** Mirrors [[Similarity.binaryTopK]]: the sketch CTE, the
      * Hamming-ascending coarse cut (ties by cand_id), the full-width
      * cosine rerank — the [[adaptive]] harness over binary words.
      */
    def binaryTopK(queryPredSql: String, k: Int, m: Int, dim: Int = 64): String = {
      val nW = dim / 32
      val words = (0 until nW).map(i => s"${binaryWord(i)} AS w$i").mkString(",\n    ")
      val ham = (0 until nW).map(i => s"bit_count(xor(q.w$i, c.w$i))").mkString(" + ")
      s"""WITH bs AS MATERIALIZED (SELECT vec_id,
         |    $words
         |  FROM embeddings),
         |qb AS (SELECT * FROM bs WHERE $queryPredSql),
         |co AS MATERIALIZED (SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      CAST(row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ($ham) ASC, c.vec_id) AS INT) AS rank
         |    FROM qb q JOIN bs c ON c.vec_id != q.vec_id)
         |  WHERE rank <= $m)
         |SELECT query_id, cand_id, cosine_sim, rank FROM (
         |  SELECT co.query_id, co.cand_id,
         |    round(${V.O.cosine("q.embedding", "c.embedding")}, 6) AS cosine_sim,
         |    CAST(row_number() OVER (PARTITION BY co.query_id
         |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, co.cand_id) AS INT) AS rank
         |  FROM co JOIN embeddings q ON q.vec_id = co.query_id
         |  JOIN embeddings c ON c.vec_id = co.cand_id)
         |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
    }

    /** Mirrors the q269 list-size audit: the same trained-quantizer
      * assignment, one group-by over the lists. Every centroid emits a
      * row (empty lists count 0), shares sum to 1 by construction.
      */
    def ivfListSizes(): String =
      s"""WITH $trainedCentroidCtes,
         |ranked AS (SELECT v.vec_id, c.cent_id,
         |             CAST(row_number() OVER (PARTITION BY v.vec_id
         |               ORDER BY (${V.O.dot("v.embedding", "c.cemb")} / (v.nrm * c.cnrm)) DESC, c.cent_id) AS INT) AS crn
         |           FROM e v CROSS JOIN cent c),
         |sz AS (SELECT cent_id, COUNT(*) AS n_vecs FROM ranked WHERE crn = 1 GROUP BY cent_id),
         |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS t FROM sz)
         |SELECT c.cent_id, COALESCE(sz.n_vecs, 0) AS n_vecs,
         |  round(CAST(COALESCE(sz.n_vecs, 0) AS DOUBLE) / tot.t, 6) AS share
         |FROM cent c LEFT JOIN sz ON c.cent_id = sz.cent_id CROSS JOIN tot
         |ORDER BY c.cent_id""".stripMargin

    /** One (exact, ivf, recall-row) stage of the retrain oracle: the
      * q143 recall harness over `corpus` (a CTE name) with the
      * `centP`-prefixed quantizer, queries = `qPredSql` (over vec_id).
      */
    private def recallStageCtes(tag: String, label: String, corpus: String,
        centP: String, qPredSql: String, k: Int, probes: Int): String =
      s"""${tag}ex AS (SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      CAST(row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
         |    FROM $corpus q JOIN $corpus c ON c.vec_id != q.vec_id
         |    WHERE (${qPredSql.replace("vec_id", "q.vec_id")})) WHERE rank <= $k),
         |${tag}rk AS (SELECT v.vec_id, v.embedding, v.nrm, c.cent_id,
         |    CAST(row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY (${V.O.dot("v.embedding", "c.cemb")} / (v.nrm * c.cnrm)) DESC, c.cent_id) AS INT) AS crn
         |  FROM (SELECT vec_id, embedding, sqrt(${V.O.dot("embedding", "embedding")}) AS nrm FROM $corpus) v
         |  CROSS JOIN ${centP}cent c),
         |${tag}iv AS (SELECT query_id, cand_id FROM (
         |  SELECT p.vec_id AS query_id, a.vec_id AS cand_id,
         |    CAST(row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY round(${V.O.dot("p.embedding", "a.embedding")} / (p.nrm * a.nrm), 6) DESC, a.vec_id) AS INT) AS rank
         |  FROM (SELECT * FROM ${tag}rk WHERE crn = 1) a
         |  JOIN (SELECT * FROM ${tag}rk WHERE ($qPredSql) AND crn <= $probes) p
         |    ON a.cent_id = p.cent_id AND a.vec_id != p.vec_id)
         |  WHERE rank <= $k),
         |${tag}row AS (SELECT '$label' AS stage,
         |  (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM ${tag}ex) AS n_queries,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ${tag}ex) AS n_exact_pairs,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ${tag}ex JOIN ${tag}iv USING (query_id, cand_id)) AS n_hits,
         |  round(CAST((SELECT COUNT(*) FROM ${tag}ex JOIN ${tag}iv USING (query_id, cand_id)) AS DOUBLE)
         |    / (SELECT COUNT(*) FROM ${tag}ex), 6) AS recall_at_10)""".stripMargin

    /** q275 oracle: the full retrain-rotation replay — the drifted
      * corpus (vectors at/after `split` shift by +driftScale·mean|x|
      * per component; list_reduce/list_transform are the bit-identical
      * twins of the Spark aggregate/transform fold), BOTH Lloyd
      * trajectories (stale = trained on the pre-drift rows, fresh =
      * the current corpus), and the three recall stages.
      */
    def retrainRecall(split: Long, driftScale: Double, k: Int = 10,
        probes: Int = IvfProbes): String = {
      val mixed = s"(vec_id < 10 OR (vec_id >= $split AND vec_id < ${split + 10}))"
      s"""WITH draw AS (SELECT vec_id, embedding,
         |    list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), (a, b) -> a + b) / $Dim AS absmean
         |  FROM embeddings),
         |drift AS MATERIALIZED (SELECT vec_id,
         |  CASE WHEN vec_id >= $split
         |    THEN list_transform(embedding, (x, i) -> CAST(
         |      (CASE WHEN (i - 1) % 2 = 0 THEN CAST(x AS DOUBLE) ELSE -CAST(x AS DOUBLE) END)
         |      + $driftScale * absmean AS FLOAT))
         |    ELSE embedding END AS embedding
         |  FROM draw),
         |dbase AS MATERIALIZED (SELECT vec_id, embedding FROM drift WHERE vec_id < $split),
         |${centroidCtes("st", "drift", s"vec_id < $split")},
         |${centroidCtes("fr", "drift")},
         |${recallStageCtes("s1", "1_before_drift", "dbase", "st", "vec_id < 10", k, probes)},
         |${recallStageCtes("s2", "2_stale_after_drift", "drift", "st", mixed, k, probes)},
         |${recallStageCtes("s3", "3_after_retrain", "drift", "fr", mixed, k, probes)}
         |SELECT * FROM s1row UNION ALL SELECT * FROM s2row UNION ALL SELECT * FROM s3row
         |ORDER BY stage""".stripMargin
    }

    /** q277 oracle: filtered-IVF recall vs the exact FILTERED top-k —
      * both candidate sets restricted to `candPredSql` (over the
      * embeddings table's columns), IVF with the widened probe budget.
      */
    def filteredRecall(queryPredSql: String, candPredSql: String, k: Int,
        probes: Int): String =
      s"""WITH ex AS (SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      CAST(row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
         |    FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
         |      AND c.vec_id IN (SELECT vec_id FROM embeddings WHERE $candPredSql)
         |    WHERE (${queryPredSql.replace("vec_id", "q.vec_id")})) WHERE rank <= $k),
         |iv AS (SELECT query_id, cand_id
         |  FROM (${ivf(queryPredSql, k, probes,
                 s"vec_id IN (SELECT vec_id FROM embeddings WHERE $candPredSql)")})),
         |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM ex JOIN iv USING (query_id, cand_id))
         |SELECT (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM ex) AS n_queries,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact_pairs,
         |       h.n_hits,
         |       round(CAST(h.n_hits AS DOUBLE) / (SELECT COUNT(*) FROM ex), 6) AS recall_at_10
         |FROM h""".stripMargin
  }
}
