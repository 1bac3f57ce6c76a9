package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, Num, Vec}
import graft.warehouse.Materialized

/** Distributed embedding clustering: element-wise centroid aggregation
  * and Lloyd's k-means over DataFrames — the missing piece between the
  * near-dup family (pairwise) and IVF ANN (which needs a trained coarse
  * quantizer).
  *
  * Scale design: centroids are always the small side — broadcast to the
  * assignment join (no shuffle of the corpus). The mean update is
  * posexplode → one hash aggregation keyed by (cluster, dim): shuffle
  * volume is k × dim rows of partial sums per executor (map-side
  * combine), NOT the corpus. Per-dimension sums are decimal-backed
  * (graft.Num) so centroids are bit-reproducible under any
  * partitioning — iteration trajectories can be replayed exactly.
  */
object Clustering {

  /** Nearest-centroid assignment by cosine (ties → lowest cluster_id).
    * `centroids`: (cluster_id, cemb) with unit-free vectors.
    */
  def assign(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val n = emb.select(col("vec_id"), col("embedding"),
      sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("nrm"))
    val c = centroids.select(col("cluster_id"), col("cemb"),
      sqrt(Vec.dotFast(col("cemb"), col("cemb"))).as("cnrm"))
    // argmax as a struct-ordered MAX aggregation, not a row_number
    // window: same winner bit-for-bit (max cos_c, ties -> negated id
    // picks the LOWEST cluster_id; the embedding payload is never
    // compared because cluster_id is unique per group). The array
    // payload keeps Max off HashAggregate (immutable buffer type -> the
    // planner picks SortAggregate, a per-partition sort on vec_id), but
    // the agg is still PARTIAL + final: each partition collapses to one
    // row per key before the exchange, vs a Window's full shuffle-and-
    // sort of the n x k scored frame - the shuffle-volume win is what
    // matters at 100 TB (PlanAuditSpec asserts the actual node and the
    // absence of Window).
    n.crossJoin(broadcast(c))
      .withColumn("cos_c", Vec.dotFast(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm")))
      .groupBy("vec_id")
      .agg(max(struct(col("cos_c"), (-col("cluster_id")).as("neg_id"), col("embedding"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        (-col("best.neg_id")).as("cluster_id"), col("best.cos_c").as("cos_c"))
  }

  /** Element-wise mean per group in long form: one row per (group, dim)
    * with a decimal-exact mean — the deterministic centroid shape (also
    * the oracle-checkable one).
    */
  def centroidsLong(emb: DataFrame, groupCol: String): DataFrame =
    emb
      .select(col(groupCol), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col(groupCol), (col("pos") + 1).as("dim"))
      .agg(count(lit(1)).as("n_vecs"), Num.davg(col("v").cast("double")).as("avg_val"))

  /** Testdata embedding dimension — the default width for the fused
    * mean update; callers clustering other widths (the JL-projected
    * corpus) pass theirs explicitly.
    */
  val EmbDim = 64

  /** FUSED mean update: the per-cluster centroid recompute as ONE keyed
    * aggregation carrying `dim` per-dimension decimal sums + the count,
    * instead of posexplode → (cluster, dim) aggregation → reassemble
    * collect_list (two shuffles and a sort per Lloyd round). Values are
    * bit-identical to centroidsLong+reassemble: same float→double→
    * DECIMAL(38,6) cast chain per element, same double division by the
    * group count, same final float cast — so trained trajectories (and
    * their DuckDB oracle replays) are unchanged; only the plan shape
    * is (half the shuffles per round, fixed-width HashAggregate
    * buffers instead of array collect).
    */
  private def meanVectors(assigned: DataFrame, dim: Int): DataFrame = {
    // `dim` is an UPPER BOUND on the vector width: positions past the
    // actual width aggregate NULL sums and are trimmed by the final
    // slice to the group's true width (vectors narrower than dim — the
    // unit-test frames — centroid correctly). Wider vectors would
    // silently truncate to dim-wide centroids, so they FAIL the job
    // instead (raise_error below): a caller clustering >dim-wide
    // embeddings must pass the real dim.
    val sums = (1 to dim).map(i =>
      sum(try_element_at(col("embedding"), lit(i)).cast("double")
        .cast(org.apache.spark.sql.types.DecimalType(38, 6))).as(s"s_$i"))
    assigned.groupBy(col("cluster_id"))
      .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")
        :+ max(size(col("embedding"))).as("d")): _*)
      .select(col("cluster_id"),
        when(col("d") <= lit(dim),
          slice(array((1 to dim).map(i =>
            (col(s"s_$i").cast("double") / col("n").cast("double")).cast("float")): _*),
            lit(1), col("d")))
          .otherwise(raise_error(concat(
            lit(s"meanVectors: embedding width "), col("d").cast("string"),
            lit(s" exceeds dim=$dim — pass the real dim")))).as("cemb"))
  }

  /** One Lloyd iteration: assign to nearest centroid, recompute means. */
  def step(emb: DataFrame, centroids: DataFrame, dim: Int = EmbDim): DataFrame =
    meanVectors(assign(emb, centroids), dim)

  /** Deterministic FIXED-SIZE seeding: the k members with the smallest
    * portable key hash (md5-derived, ties by vec_id) — a hash-random
    * draw both engines reproduce bit-for-bit. k is a constant (or
    * sublinear) in the corpus size, so everything downstream that
    * broadcasts the centroid table stays O(k·dim) no matter how large
    * the corpus grows — a billion vectors still yield exactly k seeds.
    * (Round-2's `vec_id % step` seeding made k linear in n: an O(n)
    * broadcast and O(n²/step) assignment at scale.)
    */
  def seedCentroids(emb: DataFrame, k: Int): DataFrame =
    emb
      .orderBy(Hashes.md5Long32(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("cemb"))

  /** Lloyd's k-means with deterministic hash seeding and an optional
    * hash-sampled training subset (`trainPct` < 100): the quantizer is
    * trained on a sample — the full corpus is only ever ASSIGNED, never
    * used to update means — which is how a real IVF coarse quantizer is
    * fit at scale. Returns the final (cluster_id, cemb).
    */
  def kmeans(emb: DataFrame, k: Int = 16, iters: Int = 5, trainPct: Int = 100,
      dim: Int = EmbDim): DataFrame =
    kmeansWith(cosine = true, emb, k, iters, trainPct, dim)

  /** The shared Lloyd scaffold (hash seeding, optional hash-sampled
    * training subset) — the variants differ only in their metric
    * (cosine or squared L2). A sample of at most `localMaxRows` rows trains on the
    * driver ([[LocalLloyd]], one collect, bit-identical); a larger one
    * runs the distributed loop, which localCheckpoints every round so
    * the plan does not grow (same lesson as Dedup.connectedComponents).
    * `localMaxRows` = 0 forces the distributed loop.
    */
  private[graft] def kmeansWith(cosine: Boolean, emb: DataFrame, k: Int, iters: Int,
      trainPct: Int, dim: Int, localMaxRows: Int = LocalLloyd.LocalTrainMaxRows): DataFrame = {
    val train = (if (trainPct >= 100) emb else Sampling.hashSample(emb, "vec_id", trainPct))
      .select("vec_id", "embedding")
    LocalLloyd.kmeans(train, k, iters, dim, cosine, localMaxRows).getOrElse {
      val stepFn: (DataFrame, DataFrame) => DataFrame =
        if (cosine) step(_, _, dim) else stepL2(_, _, dim)
      // cached for the loop only: seeding + every Lloyd round re-reads
      // the training sample (iters+1 corpus scans without the pin); the
      // loop is eager (localCheckpoint per round), so the pin is
      // released as soon as the final centroids are materialized — no
      // cache outlives the call
      train.cache()
      var centroids = seedCentroids(train, k).localCheckpoint(true)
      for (_ <- 1 to iters) {
        val prev = centroids
        centroids = stepFn(train, centroids).localCheckpoint(true)
        Materialized.release(prev)
      }
      train.unpersist()
      centroids
    }
  }

  /** Nearest-centroid assignment by SQUARED L2 distance (ties → lowest
    * cluster_id) — the product-quantization metric: a subvector
    * codeword must reproduce magnitude, which cosine is blind to.
    */
  def assignL2(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val c = centroids.select(col("cluster_id"), col("cemb"))
    // argmin via struct-ordered MIN (see assign): identical winner,
    // partial-aggregated (SortAggregate - the array payload bars
    // HashAggregate) instead of a full-frame window shuffle
    emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(c))
      .withColumn("d2", Vec.l2sq(col("embedding"), col("cemb")))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cluster_id"), col("embedding"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.cluster_id").as("cluster_id"), col("best.d2").as("d2"))
  }

  /** One squared-L2 Lloyd iteration (assign, recompute decimal-exact
    * means) — same update as [[step]], different metric.
    */
  def stepL2(emb: DataFrame, centroids: DataFrame, dim: Int = EmbDim): DataFrame =
    meanVectors(assignL2(emb, centroids), dim)

  /** [[kmeans]] under squared-L2 assignment — identical seeding,
    * sampling and driver-local/distributed split; only the metric differs.
    * Used per subspace by Similarity's product quantizer.
    */
  def kmeansL2(emb: DataFrame, k: Int = 16, iters: Int = 5, trainPct: Int = 100,
      dim: Int = EmbDim): DataFrame =
    kmeansWith(cosine = false, emb, k, iters, trainPct, dim)

  val PcaIters = 4

  /** Top principal direction of the (uncentered) embedding corpus by
    * power iteration on X^T X, computed WITHOUT materializing the
    * covariance matrix: each round is t = X·v (per-row sequential-fold
    * dot product — never a d×d intermediate) followed by u = X^T·t (one
    * posexplode + per-dimension decimal-backed sum) and a normalize.
    * Per round the corpus is touched twice with word-count shuffle
    * shapes; v is a 1-row array broadcast.
    *
    * Deterministic BY CONSTRUCTION, so a DuckDB oracle replays the
    * identical trajectory: the init is constant (1/8 — exact in
    * binary), row dots fold sequentially (matching list_reduce),
    * per-dim sums ride decimals (order-independent), and
    * sqrt/divide are correctly-rounded IEEE ops. Eigenvector sign
    * follows the deterministic init. Returns (dim, loading,
    * eigenvalue): loading the unit direction, eigenvalue the last
    * pre-normalization norm (the Rayleigh estimate of λ_max).
    */
  def topPrincipalComponent(emb: DataFrame, iters: Int = PcaIters): DataFrame = {
    require(iters >= 1, s"power iteration needs at least one round, got $iters")
    val spark = emb.sparkSession
    val dims = emb.select(size(col("embedding")).as("d")).limit(1)
    // v as a 1-row array frame; init 1/8 = exact dyadic constant
    var v = dims.select(transform(sequence(lit(1), col("d")),
      _ => lit(0.125)).as("v"))
    var lastNorm: org.apache.spark.sql.DataFrame = null
    for (_ <- 1 to iters) {
      val t = emb.crossJoin(broadcast(v))
        .select(col("embedding"),
          aggregate(
            zip_with(col("embedding"), col("v"), (x, y) => x.cast("double") * y),
            lit(0d), (acc, x) => acc + x).as("t"))
      val u = t
        .select(posexplode(col("embedding")).as(Seq("pos", "x")), col("t"))
        .groupBy((col("pos") + 1).as("dim"))
        .agg(sum((col("x").cast("double") * col("t")).cast("decimal(38,12)"))
          .cast("double").as("ud"))
      val uArr = u
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("ud")))),
          x => x.getField("ud")).as("u"))
      val withNorm = uArr.select(col("u"),
        sqrt(aggregate(col("u"), lit(0d), (acc, x) => acc + x * x)).as("nrm"))
      lastNorm = withNorm.select(col("nrm"))
      v = withNorm.select(transform(col("u"), x => x / col("nrm")).as("v"))
    }
    v.crossJoin(broadcast(lastNorm))
      .select(posexplode(col("v")).as(Seq("pos", "loading")), col("nrm"))
      .select(
        (col("pos") + 1).as("dim"),
        round(col("loading"), 6).as("loading"),
        round(col("nrm"), 6).as("eigenvalue"))
  }

  /** Embedding isotropy audit (Mu & Viswanath 2018, ICLR — "All-but-
    * the-top": embedding sets concentrate energy in a common direction
    * and a few dominant components, and downstream cosine similarity
    * degrades with that anisotropy). One row of diagnostics for the
    * corpus second-moment structure:
    *   - `trace` — total energy Σ‖x‖² (= trace of XᵀX),
    *   - `lambda_max` — the [[topPrincipalComponent]] power-iteration
    *     Rayleigh estimate of the dominant eigenvalue,
    *   - `top_pc_share` — λ_max / trace (1/d is perfectly isotropic;
    *     →1 means one direction carries everything),
    *   - `mean_energy` — n·‖μ‖² (the energy the common mean direction
    *     explains; All-but-the-top removes exactly this),
    *   - `mean_dir_share` — mean_energy / trace.
    *
    * Scale shape: ONE posexplode + per-dimension decimal sums (the
    * q109 dim-stats shuffle shape) + the PCA trajectory's
    * corpus-touching rounds — no d×d matrix ever materializes, no
    * driver state beyond d-row aggregates. Determinism: every
    * cross-partition sum rides decimal(38,12); the only doubles are
    * per-row products and final IEEE divides, identical in the oracle.
    */
  def isotropyAudit(emb: DataFrame, iters: Int = PcaIters): DataFrame =
    isotropyAuditFrom(emb, topPrincipalComponent(emb, iters))

  /** [[isotropyAudit]] with the power trajectory supplied as a
    * PRECOMPUTED [[topPrincipalComponent]] frame — the artifact-reuse
    * spelling: the trajectory is the expensive corpus-touching part
    * (iters × two corpus passes), and q129/q246/q253 all need the SAME
    * raw-corpus trajectory, so they share one session-materialized
    * solve instead of re-running it per query. Value-identical to the
    * inline form (the trajectory is deterministic), so oracle hashes
    * cannot tell the difference.
    */
  def isotropyAuditFrom(emb: DataFrame, pc: DataFrame): DataFrame = {
    val lambda = pc
      .agg(max(col("eigenvalue")).as("lambda_max")) // constant per row
    // keyed per-dim sums: sx (for the mean direction), sxx (for trace)
    val ds = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).as("dim"), col("x").cast("double").as("x"))
      .groupBy("dim")
      .agg(
        sum(col("x").cast("decimal(38,12)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).as("sxx"),
        count(lit(1)).as("n"))
    val one = ds
      .select(col("sxx"),
        ((col("sx").cast("double") * col("sx").cast("double")) / col("n"))
          .as("m2term"))
      .agg(
        sum(col("sxx")).cast("double").as("trace"),
        sum(col("m2term").cast("decimal(38,12)")).cast("double").as("mean_energy"))
    one.crossJoin(broadcast(lambda))
      .select(
        round(col("trace"), 6).as("trace"),
        col("lambda_max"),
        round(col("lambda_max") / col("trace"), 6).as("top_pc_share"),
        round(col("mean_energy"), 6).as("mean_energy"),
        round(col("mean_energy") / col("trace"), 6).as("mean_dir_share"))
  }

  /** All-but-the-top embedding post-processing (Mu & Viswanath 2018,
    * ICLR): subtract the corpus mean, then project out the dominant
    * principal component of the CENTERED corpus — the two energy
    * concentrations the [[isotropyAudit]] measures are exactly what
    * this removes, so auditing the output shows `mean_dir_share` → ~0
    * and `top_pc_share` dropping to the second eigenvalue's share.
    *
    * Scale shape: the mean is ONE d-row keyed aggregation folded into a
    * 1-row broadcast array; the direction is the [[topPrincipalComponent]]
    * power trajectory over the centered frame (corpus-touching rounds,
    * d-row driver-free state); the transform itself is a per-row
    * zip_with — no d×d matrix, no collect. Determinism: cross-partition
    * sums ride decimal(38,12) (mean + trajectory), per-row arithmetic
    * is order-fixed IEEE, identical in the oracle.
    */
  def allButTheTop(emb: DataFrame, iters: Int = PcaIters): DataFrame = {
    val centered = centeredCorpus(emb)
    projectOut(centered, topPrincipalComponent(centered, iters))
  }

  /** The mean-centered corpus — step 1 of All-but-the-top, factored out
    * so the deflated top-D pipeline can materialize it once and iterate
    * over it. The mean is ONE d-row keyed aggregation folded into a
    * 1-row broadcast array; centering is a per-row zip_with.
    */
  def centeredCorpus(emb: DataFrame): DataFrame = {
    val mu = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).as("dim"), col("x").cast("double").as("x"))
      .groupBy("dim")
      .agg((sum(col("x").cast("decimal(38,12)")).cast("double") /
        count(lit(1))).as("m"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("m")))),
        x => x.getField("m")).as("mu"))
    emb.crossJoin(broadcast(mu))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("mu"),
          (x, m) => x.cast("double") - m).as("embedding"))
  }

  /** Project the component in `pc` (a [[topPrincipalComponent]] output
    * frame — the ROUNDED loadings, i.e. the engine-exact transform
    * input both engines share) out of every row: x ← x − (x·v)v. The
    * deflation step of top-D All-but-the-top (the paper's recipe
    * removes the top D ≈ d/100 components, not one): after projecting
    * out v₁, the dominant direction of the residual is v₂, so
    * alternating trajectory → projectOut yields successive components
    * at O(iters) corpus passes per component — provided the caller
    * materializes each residual before the next trajectory (the q253
    * lineage lesson: an unpersisted residual nests the whole chain
    * inside every later corpus pass).
    */
  def projectOut(corpus: DataFrame, pc: DataFrame): DataFrame = {
    val v = pc.agg(transform(
      array_sort(collect_list(struct(col("dim"), col("loading")))),
      x => x.getField("loading")).as("v"))
    corpus.crossJoin(broadcast(v))
      .select(col("vec_id"), col("embedding"), col("v"),
        aggregate(
          zip_with(col("embedding"), col("v"), (x, vi) => x * vi),
          lit(0d), (acc, x) => acc + x).as("t"))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("v"),
          (x, vi) => x - col("t") * vi).as("embedding"))
  }

  /** Σ‖x‖² of a double-array corpus via per-dimension decimal sums (the
    * q246 trace staging) as a 1-row frame — the energy accounting the
    * top-D deflation audit reports against.
    */
  def corpusTrace(corpus: DataFrame): DataFrame =
    corpus.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).as("dim"), col("x").cast("double").as("x"))
      .groupBy("dim")
      .agg(sum((col("x") * col("x")).cast("decimal(38,12)")).as("sxx"))
      .agg(sum(col("sxx")).cast("double").as("trace"))

  /** Mean pairwise cosine of the corpus WITHOUT the pair space (the
    * anisotropy statistic of Ethayarajh 2019, "How Contextual are
    * Contextualized Word Representations?" — isotropic corpora average
    * ~0, anisotropic ones are uniformly positive): with x̂ = x/‖x‖,
    * Σ_{i≠j} cos(xᵢ,xⱼ) = ‖Σx̂‖² − Σ‖x̂‖², so n(n−1) pairs are priced by
    * ONE pass of per-dimension decimal sums — no pair ever
    * materializes, at any corpus size. Zero-norm vectors are excluded
    * (their cosine is undefined). Output: n_vecs, mean_pairwise_cos.
    */
  def meanPairwiseCosine(emb: DataFrame): DataFrame = {
    val nrmed = emb
      .select(col("embedding"),
        sqrt(aggregate(
          transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0d), (a, x) => a + x)).as("nrm"))
      .filter(col("nrm") > 0)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")), col("nrm"))
      .select((col("pos") + 1).as("dim"),
        (col("x").cast("double") / col("nrm")).as("xh"))
    nrmed.groupBy("dim")
      .agg(
        sum(col("xh").cast("decimal(38,12)")).as("sx"),
        sum((col("xh") * col("xh")).cast("decimal(38,12)")).as("sxx"),
        count(lit(1)).as("n"))
      .select(
        ((col("sx").cast("double") * col("sx").cast("double"))
          .cast("decimal(38,12)")).as("sx2"),
        col("sxx"), col("n"))
      .agg(
        sum(col("sx2")).cast("double").as("s2"),
        sum(col("sxx")).cast("double").as("u"),
        max(col("n")).as("n"))
      .select(col("n").as("n_vecs"),
        // degenerate guard: with 0 or 1 usable vectors there are no
        // pairs — emit an explicit NULL instead of the unguarded
        // division's silent NaN (DuckDB's x/0) / NULL (Spark's x/0);
        // for n > 1 the branch is the identical expression, so hashes
        // are unchanged
        when(col("n") > 1,
          round((col("s2") - col("u")) /
            (col("n") * (col("n") - lit(1L))).cast("double"), 6))
          .as("mean_pairwise_cos"))
  }

  /** Incremental index maintenance — the operational ANN pattern at
    * 100 TB: the coarse quantizer trains ONCE on the historical corpus
    * and is then FROZEN; newly-ingested vectors are only ASSIGNED to
    * the existing lists (one broadcast join — never a retrain, which
    * would invalidate every stored code). The audit output prices when
    * a retrain becomes due: per centroid, the historical vs new-batch
    * assignment counts and the share drift — a new-data distribution
    * that no longer matches the trained lists shows up as mass moving
    * between rows (hot lists degrade probe recall long before anything
    * errors).
    *
    * Scale/determinism: training = [[kmeansL2]] on the old split
    * (hash-bucket predicate — the stable membership primitive);
    * assignment = the struct-MIN partial aggregation; counts = one
    * keyed aggregation. Every centroid emits a row (empty lists
    * count 0), so drifts sum to ~0 by construction.
    */
  /** n/t as a double, 0.0 when t = 0 (identical to the unguarded
    * division whenever t > 0, so oracle hashes are unchanged).
    */
  private def rawShare(n: Column, t: Column): Column =
    when(t > 0, n.cast("double") / t.cast("double")).otherwise(lit(0.0))

  private def shareOf(n: Column, t: Column): Column = round(rawShare(n, t), 6)

  def incrementalAssignment(emb: DataFrame, newPred: Column, k: Int = 16,
      iters: Int = 2, trainPct: Int = 25): DataFrame = {
    val cents = kmeansL2(emb.filter(!newPred), k, iters, trainPct)
    val asg = assignL2(emb.select(col("vec_id"), col("embedding")), cents)
      .select(col("vec_id"), col("cluster_id"))
      .join(emb.select(col("vec_id"), newPred.as("is_new")), "vec_id")
    // cached: the ≤k-row count table feeds the grand-total aggregate
    // AND the per-centroid join — without the pin the whole assignment
    // chain (corpus × k distance argmin + is_new join) runs twice
    val counts = asg.groupBy(col("cluster_id").as("cent_id")).agg(
      sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_old"),
      sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"))
      .cache()
    val tot = counts.agg(
      sum(col("n_old")).as("told"), sum(col("n_new")).as("tnew"))
    cents.select(col("cluster_id").as("cent_id"))
      .join(counts, Seq("cent_id"), "left")
      .na.fill(0L, Seq("n_old", "n_new"))
      .crossJoin(broadcast(tot))
      // degenerate-split guard: an empty old or new split makes the
      // share 0.0 on BOTH engines (unguarded, Spark's x/0 → NULL while
      // DuckDB's IEEE division → inf — the oracle would diverge exactly
      // on the all-new / all-old corpus an ops audit is likely to hit)
      .select(col("cent_id"), col("n_old"), col("n_new"),
        shareOf(col("n_old"), col("told")).as("old_share"),
        shareOf(col("n_new"), col("tnew")).as("new_share"),
        round(rawShare(col("n_new"), col("tnew"))
          - rawShare(col("n_old"), col("told")), 6).as("share_drift"))
      .orderBy("cent_id")
  }

  /** DuckDB oracle builders. */
  object O {

    /** Mirrors topPrincipalComponent: the same power-iteration
      * trajectory unrolled as CTEs (generated, so the iteration count
      * and expression shapes cannot drift from the Spark side).
      *
      * `dim` defaults to the ONE shared embedding-width constant
      * ([[Similarity.Dim]]) — the Spark side derives the width from the
      * data, so an oracle pinned to a stale literal would silently
      * truncate/pad the replayed trajectory if the generator's width
      * ever moved.
      */
    /** The unrolled power-iteration CTE chain (v0 … v$iters/n$iters) —
      * shared by the loading listing and the isotropy audit so the
      * trajectories cannot drift. `src` is the (vec_id, embedding)
      * table the iteration reads; `pfx` namespaces the CTE names so
      * two trajectories (the q253 before/after audits) can coexist in
      * one WITH chain. Defaults reproduce the historical SQL byte for
      * byte.
      */
    private def pcaCtes(iters: Int, dim: Int,
        src: String = "embeddings", pfx: String = ""): String = {
      val d1 = dim + 1
      val sb = new StringBuilder(
        s"v${pfx}0 AS (SELECT list_transform(range(1, $d1), i -> 0.125) AS v)")
      for (k <- 1 to iters) {
        val p = k - 1
        sb.append(s""",
          |t$pfx$k AS (SELECT e.embedding,
          |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |    list_transform(range(1, $d1), i -> CAST(e.embedding[i] AS DOUBLE) * w.v[i])),
          |    (a, b) -> a + b) AS t
          |  FROM $src e CROSS JOIN v$pfx$p w),
          |u$pfx$k AS (SELECT i AS dim,
          |  CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * t AS DECIMAL(38,12))) AS DOUBLE) AS ud
          |  FROM t$pfx$k CROSS JOIN (SELECT unnest(range(1, $d1)) AS i) GROUP BY i),
          |n$pfx$k AS (SELECT u, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |    list_transform(u, x -> x * x)), (a, b) -> a + b)) AS nrm
          |  FROM (SELECT list(ud ORDER BY dim) AS u FROM u$pfx$k)),
          |v$pfx$k AS (SELECT list_transform(u, x -> x / nrm) AS v FROM n$pfx$k)""".stripMargin)
      }
      sb.toString
    }

    def topPrincipalComponent(iters: Int = PcaIters, dim: Int = Similarity.Dim): String = {
      val d1 = dim + 1
      s"""WITH ${pcaCtes(iters, dim)}
         |SELECT CAST(i AS INT) AS dim, round(v[i], 6) AS loading, round(nrm, 6) AS eigenvalue
         |FROM v$iters CROSS JOIN n$iters CROSS JOIN (SELECT unnest(range(1, $d1)) AS i)
         |ORDER BY dim""".stripMargin
    }

    /** Mirrors isotropyAudit: same decimal per-dim sums, same staging
      * (λ rounded BEFORE the share divide, trace/mean_energy rounded
      * only for display), same PCA trajectory via [[pcaCtes]].
      */
    def isotropyAudit(iters: Int = PcaIters, dim: Int = Similarity.Dim): String = {
      val d1 = dim + 1
      s"""WITH ${pcaCtes(iters, dim)},
         |ds AS (SELECT i AS dim,
         |    SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12))) AS sx,
         |    SUM(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12))) AS sxx,
         |    COUNT(*) AS n
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, $d1)) AS i) GROUP BY i),
         |one AS (SELECT CAST(SUM(sxx) AS DOUBLE) AS trace,
         |    CAST(SUM(CAST((CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / n AS DECIMAL(38,12))) AS DOUBLE) AS mean_energy
         |  FROM ds)
         |SELECT round(trace, 6) AS trace, round(nrm, 6) AS lambda_max,
         |  round(round(nrm, 6) / trace, 6) AS top_pc_share,
         |  round(mean_energy, 6) AS mean_energy,
         |  round(mean_energy / trace, 6) AS mean_dir_share
         |FROM one CROSS JOIN n$iters""".stripMargin
    }

    /** Mirrors [[Clustering.allButTheTop]] + before/after
      * [[Clustering.isotropyAudit]]: the same mean (decimal per-dim
      * sums), the same centered power trajectory (prefix `a`), the same
      * ROUNDED loadings feeding the projection (the q129 display
      * rounding — shared by both engines, so the transform input is
      * engine-exact), then a second full audit trajectory (prefix `b`)
      * over the transformed corpus.
      */
    /** The transform CTE chain `mu → c → (prefix-a trajectory) → vr →
      * ab(vec_id, embedding)` — the from-scratch replay of
      * [[Clustering.allButTheTop]], shared by the q253 audit and the
      * q256 cosine-shift oracle so the transform cannot drift.
      */
    private def abttCtes(iters: Int, dim: Int): String = {
      val d1 = dim + 1
      s"""mu AS (SELECT list(m ORDER BY dim) AS mu FROM (
         |  SELECT i AS dim,
         |    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, $d1)) AS i) GROUP BY i)),
         |c AS MATERIALIZED (SELECT vec_id,
         |    list_transform(range(1, $d1), i -> CAST(e.embedding[i] AS DOUBLE) - w.mu[i]) AS embedding
         |  FROM embeddings e CROSS JOIN mu w),
         |${pcaCtes(iters, dim, "c", "a")},
         |vr AS (SELECT list_transform(v, x -> round(x, 6)) AS v FROM va$iters),
         |ab AS MATERIALIZED (SELECT vec_id,
         |    list_transform(range(1, $d1), i -> embedding[i] - t * v[i]) AS embedding
         |  FROM (SELECT e.vec_id, e.embedding, w.v,
         |          list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |            list_transform(range(1, $d1), i -> e.embedding[i] * w.v[i])),
         |            (a, b) -> a + b) AS t
         |        FROM c e CROSS JOIN vr w))""".stripMargin
    }

    def allButTheTopAudit(iters: Int = PcaIters, dim: Int = Similarity.Dim): String = {
      val d1 = dim + 1
      def sums(src: String, ds: String, one: String) =
        s"""$ds AS (SELECT i AS dim,
           |    SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12))) AS sx,
           |    SUM(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12))) AS sxx,
           |    COUNT(*) AS n
           |  FROM $src CROSS JOIN (SELECT unnest(range(1, $d1)) AS i) GROUP BY i),
           |$one AS (SELECT CAST(SUM(sxx) AS DOUBLE) AS trace,
           |    CAST(SUM(CAST((CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / n AS DECIMAL(38,12))) AS DOUBLE) AS mean_energy
           |  FROM $ds)""".stripMargin
      def audit(stage: String, one: String, n: String) =
        s"""SELECT '$stage' AS stage, round(trace, 6) AS trace, round(nrm, 6) AS lambda_max,
           |  round(round(nrm, 6) / trace, 6) AS top_pc_share,
           |  round(mean_energy, 6) AS mean_energy,
           |  round(mean_energy / trace, 6) AS mean_dir_share
           |FROM $one CROSS JOIN $n""".stripMargin
      s"""WITH ${pcaCtes(iters, dim)},
         |${sums("embeddings", "ds", "one")},
         |${abttCtes(iters, dim)},
         |${pcaCtes(iters, dim, "ab", "b")},
         |${sums("ab", "dsb", "oneb")}
         |${audit("after", "oneb", s"nb$iters")}
         |UNION ALL
         |${audit("before", "one", s"n$iters")}
         |ORDER BY stage""".stripMargin
    }

    /** Mirrors the q263 top-D deflation chain: the centered corpus,
      * then per level the unrolled power trajectory (prefix `l<d>`),
      * the ROUNDED loadings, and the projection residual — plus a
      * per-level decimal trace sum. Every residual is MATERIALIZED
      * (each is read by the next trajectory's iters CTEs AND its trace
      * CTE — inlining would blow up exponentially, the q199 lesson).
      */
    def abttTopD(levels: Int = 3, iters: Int = PcaIters,
        dim: Int = Similarity.Dim): String = {
      val d1 = dim + 1
      val sb = new StringBuilder(
        s"""mu AS (SELECT list(m ORDER BY dim) AS mu FROM (
           |  SELECT i AS dim,
           |    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
           |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, $d1)) AS i) GROUP BY i)),
           |r0 AS MATERIALIZED (SELECT vec_id,
           |    list_transform(range(1, $d1), i -> CAST(e.embedding[i] AS DOUBLE) - w.mu[i]) AS embedding
           |  FROM embeddings e CROSS JOIN mu w)""".stripMargin)
      for (l <- 1 to levels) {
        val src = s"r${l - 1}"
        sb.append(",\n" + pcaCtes(iters, dim, src, s"l$l"))
        sb.append(s""",
          |vr$l AS (SELECT list_transform(v, x -> round(x, 6)) AS v FROM vl$l$iters),
          |r$l AS MATERIALIZED (SELECT vec_id,
          |    list_transform(range(1, $d1), i -> embedding[i] - t * v[i]) AS embedding
          |  FROM (SELECT e.vec_id, e.embedding, w.v,
          |          list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |            list_transform(range(1, $d1), i -> e.embedding[i] * w.v[i])),
          |            (a, b) -> a + b) AS t
          |        FROM $src e CROSS JOIN vr$l w))""".stripMargin)
      }
      for (l <- 0 to levels) {
        sb.append(s""",
          |tr$l AS (SELECT CAST(SUM(sxx) AS DOUBLE) AS trace FROM (
          |  SELECT SUM(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12))) AS sxx
          |  FROM r$l CROSS JOIN (SELECT unnest(range(1, $d1)) AS i) GROUP BY i))""".stripMargin)
      }
      val rows = (1 to levels).map { l =>
        s"""SELECT $l AS comp, round(nrm, 6) AS eigenvalue,
           |  round(t$l.trace, 6) AS resid_trace,
           |  round(t$l.trace / t0.trace, 6) AS resid_share
           |FROM nl$l$iters CROSS JOIN tr$l t$l CROSS JOIN tr0 t0""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH ${sb.toString}\n$rows\nORDER BY comp"
    }

    /** Mirrors [[Clustering.meanPairwiseCosine]] over `src`, CTE names
      * suffixed with `pfx` so the q256 oracle runs it twice in one
      * WITH chain.
      */
    private def mpcCtes(src: String, pfx: String, dim: Int): String = {
      val d1 = dim + 1
      s"""nr$pfx AS (SELECT embedding,
         |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, $d1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
         |      (a, b) -> a + b)) AS nrm
         |  FROM $src e),
         |xh$pfx AS (SELECT i AS dim, CAST(embedding[i] AS DOUBLE) / nrm AS xh
         |  FROM nr$pfx CROSS JOIN (SELECT unnest(range(1, $d1)) AS i) WHERE nrm > 0),
         |dsx$pfx AS (SELECT dim,
         |    SUM(CAST(xh AS DECIMAL(38,12))) AS sx,
         |    SUM(CAST(xh * xh AS DECIMAL(38,12))) AS sxx,
         |    COUNT(*) AS n
         |  FROM xh$pfx GROUP BY dim),
         |one$pfx AS (SELECT
         |    CAST(SUM(CAST(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS s2,
         |    CAST(SUM(sxx) AS DOUBLE) AS u, MAX(n) AS n
         |  FROM dsx$pfx)""".stripMargin
    }

    /** Mirrors the q256 before/after cosine-shift query: the shared
      * [[abttCtes]] transform + [[mpcCtes]] on the raw and transformed
      * corpus.
      */
    def abttCosineShift(iters: Int = PcaIters, dim: Int = Similarity.Dim): String = {
      def row(stage: String, pfx: String) =
        s"""SELECT '$stage' AS stage, n AS n_vecs,
           |  CASE WHEN n > 1
           |    THEN round((s2 - u) / CAST(n * (n - 1) AS DOUBLE), 6) END AS mean_pairwise_cos
           |FROM one$pfx""".stripMargin
      s"""WITH ${abttCtes(iters, dim)},
         |${mpcCtes("embeddings", "r", dim)},
         |${mpcCtes("ab", "t", dim)}
         |${row("after", "t")}
         |UNION ALL
         |${row("before", "r")}
         |ORDER BY stage""".stripMargin
    }
  }

  /** SAMPLED SILHOUETTE (Rousseeuw 1987, J. Comput. Appl. Math.) over a
    * clustered embedding table — the per-POINT cluster-quality read
    * that complements modularity (q317, per community) and the recall
    * audits (per query): a(i) = mean cosine distance to i's own
    * cluster, b(i) = the nearest other cluster's mean, s = (b−a)/max.
    * Points near 1 sit deep in their cluster; negative points are
    * assigned wrong — the quantizer-health signal read per point.
    *
    * Exact silhouette is O(n²); this runs the audit-contract shape
    * (q285/q143): a fixed hash-percentage SAMPLE of points, each
    * scored against the FULL corpus — distances ride one broadcast of
    * the sample, means are decimal-backed then rounded, min/compare
    * over rounded values so both engines cut ties identically.
    * Singleton convention: a cluster containing only the sampled point
    * has no intra distance → s = 0 (Rousseeuw's definition).
    *
    * `points`: (vec_id, ce, cn, cent_id) — the stored
    * [[Similarity.ivfAssignments]] artifact, so the audit prices the
    * quantizer the pipeline actually serves.
    */
  def sampledSilhouette(points: DataFrame, samplePred: Column): DataFrame = {
    val smp = points.filter(samplePred).select(col("vec_id").as("sid"),
      col("ce").as("se"), col("cn").as("sn"), col("cent_id").as("scent"))
    val pd = points
      .join(broadcast(smp), col("vec_id") =!= col("sid"))
      .withColumn("dist",
        round(lit(1.0) - Vec.dotFast(col("se"), col("ce")) / (col("sn") * col("cn")), 6))
    val mcd = pd.groupBy("sid", "scent", "cent_id")
      .agg(round(Num.dsum(col("dist")) / count(lit(1)), 6).as("mean_dist"))
    val a = mcd.filter(col("cent_id") === col("scent"))
      .select(col("sid"), col("mean_dist").as("a_intra"))
    val b = mcd.filter(col("cent_id") =!= col("scent"))
      .groupBy("sid").agg(min(col("mean_dist")).as("b_inter"))
    smp.select(col("sid"), col("scent"))
      .join(a, Seq("sid"), "left").join(b, Seq("sid"), "left")
      .select(col("sid").as("vec_id"), col("scent").as("cent_id"),
        col("a_intra"), col("b_inter"),
        when(col("a_intra").isNull || col("b_inter").isNull, lit(0.0))
          .otherwise(when(greatest(col("a_intra"), col("b_inter")) > 0,
            round((col("b_inter") - col("a_intra"))
              / greatest(col("a_intra"), col("b_inter")), 6))
            .otherwise(lit(0.0))).as("silhouette"))
      .orderBy("vec_id")
  }
}
