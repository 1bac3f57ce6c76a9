package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.warehouse.Materialized

/** Graph analytics over edge lists — the quality-signal family for
  * web-scale pretraining corpora (PageRank-style centrality is the
  * canonical page-quality weight for crawl data, and the same iterative
  * join/agg shape covers label propagation and hub scoring).
  *
  * Scale design: one iteration = one keyed equi-join (rank → out-edges)
  * plus one keyed aggregation (sum of contributions by destination) —
  * the Pregel message-passing shuffle shape, linear in |E| per round,
  * with NO driver-side state and no O(|V|) broadcast. The edge list and
  * its degrees are localCheckpoint'd once and reused; each iteration's
  * rank frame is localCheckpoint'd so the plan stays constant-size
  * instead of growing by two joins per round (the round-2 lesson from
  * connectedComponents: Catalyst re-optimizes the WHOLE lineage each
  * action, so iterative operators must cut it).
  *
  * Determinism: the rank is a FIXED-POINT BIGINT in micro-units (6
  * implied decimals) and every step is integer arithmetic — truncating
  * division by out-degree, damping as the rational dampingNum/
  * dampingDen — so the result is exact and engine-independent by
  * construction. Double arithmetic is unusable here even with rounding:
  * rank/degree is a 6-dp rational over a small integer, which lands
  * EXACTLY on 6-dp halves, where Spark (BigDecimal of the shortest
  * string, HALF_UP) and other engines (binary-value rounding) disagree
  * by 1 ulp — observed on ~4% of nodes before the fixed-point rewrite.
  */
object Graph {

  /** Normalized PageRank (mean ≈ 1.0) over a DIRECTED edge list, fixed
    * `iters` power-iteration rounds, in micro-units:
    *
    *   m'(v) = teleportMicro
    *         + (dampingNum · Σ_{(u,v) ∈ E} (m(u) div outdeg(u))) div dampingDen
    *
    * This is |V|-scaled PageRank (divide by |V| for the probability
    * form) — the scaled recursion keeps values near 10^6 micro-units,
    * where truncation loses < 1e-6 relative signal at ANY graph size
    * (the probability form would underflow once |V| passes ~1e6).
    * Reported `pagerank` = m / 1e6 (one exact BIGINT→DOUBLE division).
    *
    * Simple-variant semantics: nodes = endpoints of `edges`; dangling
    * mass is not redistributed (on a symmetrized similarity graph every
    * node has out-degree ≥ 1, so no mass leaks); a node with no
    * in-edges settles at the teleport mass.
    *
    * Overflow headroom: per-node inbound sums stay ≤ indeg · 10^6, so
    * dampingNum · sum fits BIGINT up to ~5·10^11 in-edges per node.
    */
  def pageRank(edges: DataFrame, iters: Int = 5, dampingNum: Long = 17,
      dampingDen: Long = 20, teleportMicro: Long = 150000L): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val withDeg = e.join(deg, "src").localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().localCheckpoint()
    var r = nodes.withColumn("m", lit(1000000L))
    for (_ <- 1 to iters) {
      val prev = r
      r = step(withDeg, nodes, prev, dampingNum, dampingDen, teleportMicro)
        .localCheckpoint(true)
      // superseded iterations are dead weight in executor storage: free
      // their checkpoint blocks as the loop advances (Dataset.unpersist
      // would not touch them) instead of waiting for a driver GC to
      // trigger ContextCleaner
      Materialized.release(prev)
    }
    r.join(deg.select(col("src").as("id"), col("deg")), Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("out_degree"),
        (col("m") / lit(1000000.0)).as("pagerank"))
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004) — PERSONALIZED
    * PageRank whose teleport mass lands only on a trusted SEED set:
    * trust flows outward from known-good documents along the
    * similarity graph, so a page (document) scores high only if the
    * seed neighborhood reaches it — the quality-propagation signal
    * web-scale curation attaches beside raw centrality (q101). Same
    * integer micro-rank arithmetic as [[pageRank]] (per-seed teleport
    * = teleportMicro·N/|S| by integer division, zero elsewhere), so
    * the trajectory is engine-exact. `seeds` is an id frame; it must
    * intersect the graph for trust to flow — ENFORCED below (a
    * non-intersecting seed set would integer-divide by zero into
    * all-NULL trust; failing fast beats a silently-NULL board).
    */
  def trustRank(edges: DataFrame, seeds: DataFrame, iters: Int = 5,
      dampingNum: Long = 17, dampingDen: Long = 20,
      teleportMicro: Long = 150000L): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val withDeg = e.join(deg, "src").localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .join(seeds.select(col("id"), lit(true).as("sd")), Seq("id"), "left")
      .select(col("id"), coalesce(col("sd"), lit(false)).as("is_seed"))
      .localCheckpoint()
    val cnt = nodes.agg(count(lit(1)).as("nn"),
      sum(when(col("is_seed"), 1L).otherwise(0L)).as("ns"))
    // fail fast on a seed set disjoint from the graph: one 1-row
    // collect (the frames above are localCheckpointed, so this costs
    // no recomputation) guards the integer division in the teleport
    val nSeedsInGraph = cnt.select(coalesce(col("ns"), lit(0L))).head().getLong(0)
    require(nSeedsInGraph > 0,
      "trustRank: the seed set does not intersect the graph's nodes — " +
        "teleport mass has nowhere to land")
    val tele = nodes.crossJoin(broadcast(cnt))
      .select(col("id"), col("is_seed"),
        when(col("is_seed"), expr(s"(${teleportMicro}L * nn) div ns"))
          .otherwise(lit(0L)).as("tpt"))
      .localCheckpoint()
    var r = nodes.select(col("id")).withColumn("m", lit(1000000L))
    for (_ <- 1 to iters) {
      val prev = r
      val contrib = withDeg
        .join(prev.select(col("id").as("src"), col("m")), "src")
        .select(col("dst").as("id"), expr("m div deg").as("c"))
      r = tele
        .join(contrib.groupBy("id").agg(sum(col("c")).as("s")), Seq("id"), "left")
        .select(col("id"),
          (col("tpt") +
            expr(s"(${dampingNum}L * coalesce(s, 0L)) div ${dampingDen}L")).as("m"))
        .localCheckpoint(true)
      Materialized.release(prev)
    }
    r.join(tele.select("id", "is_seed"), "id")
      .join(deg.select(col("src").as("id"), col("deg")), Seq("id"), "left")
      .select(col("id"), col("is_seed"),
        coalesce(col("deg"), lit(0L)).as("out_degree"),
        (col("m") / lit(1000000.0)).as("trust"))
  }

  /** HITS hubs & authorities (Kleinberg 1999, JACM — "Authoritative
    * sources in a hyperlinked environment") over a DIRECTED edge list,
    * fixed `iters` rounds of the mutual recursion
    *
    *   a'(v) = Σ_{(u,v) ∈ E} h(u)      h'(v) = Σ_{(v,w) ∈ E} a(w)
    *
    * with L∞ (max) normalization each half-step in integer micro-units:
    * x(v) = (x'(v) · 10^6) div max_v x'(v) — the max node lands exactly
    * at 10^6, everything else truncates deterministically, so the
    * trajectory is engine-exact (the [[pageRank]] discipline; max
    * normalization instead of the classic L2 precisely because a sqrt
    * cannot be replayed integer-exactly).
    *
    * On the provenance-DIRECTED near-dup graph (each pair pointed
    * newer → older doc: late copies "cite" their earlier source),
    * authorities are the canonical originals that copies converge on
    * and hubs are the serial re-packagers — the two curation reads a
    * dedup owner wants beside plain centrality (keep authorities,
    * down-weight hub output).
    *
    * Scale: per round, two keyed join+agg passes (the Pregel shape,
    * linear in |E|) plus one 1-row max broadcast each;
    * localCheckpoint cuts lineage per half-step. Overflow headroom:
    * x' ≤ deg · 10^6 and the normalization multiplies by 10^6, so
    * per-node degree must stay ≤ ~9.2·10^6 — comfortably above any
    * df-capped near-dup pair generator (documents this engine feeds it
    * are band-join candidates, never the raw corpus).
    */
  def hits(edges: DataFrame, iters: Int = 5): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    // Fail-fast on the documented overflow bound (the kCore/trustRank
    // discipline): raw ≤ deg·10^6 and normalization multiplies by 10^6,
    // so per-node degree must stay ≤ ~9.2e6 or the bigint product wraps
    // silently in non-ANSI Spark while DuckDB errors — a silent engine
    // divergence. One cheap agg over the edge list, same shape as the
    // per-round max broadcast.
    val maxDeg = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .agg(coalesce(max(col("deg")), lit(0L))).head().getLong(0)
    require(maxDeg <= 9200000L,
      s"hits: max node degree $maxDeg exceeds the bigint micro-unit headroom " +
        "(deg * 10^6 * 10^6 must fit a BIGINT; cap per-node degree at 9.2e6 upstream)")
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().localCheckpoint()
    val Micro = "CAST(1000000 AS BIGINT)"
    def normalized(raw: DataFrame, c: String): DataFrame = {
      val mx = raw.agg(max(col("raw")).as("mx"))
      nodes.join(raw, Seq("id"), "left").crossJoin(broadcast(mx))
        .select(col("id"),
          expr(s"(coalesce(raw, CAST(0 AS BIGINT)) * $Micro) div mx").as(c))
        .localCheckpoint(true)
    }
    var h = nodes.withColumn("h", expr(Micro)).localCheckpoint(true)
    var a: DataFrame = null
    for (i <- 1 to iters) {
      val aPrev = a
      a = normalized(
        e.join(h.select(col("id").as("src"), col("h")), "src")
          .groupBy(col("dst").as("id")).agg(sum(col("h")).as("raw")), "a")
      val hPrev = h
      h = normalized(
        e.join(a.select(col("id").as("dst"), col("a")), "dst")
          .groupBy(col("src").as("id")).agg(sum(col("a")).as("raw")), "h")
      Materialized.release(hPrev)
      if (aPrev != null) Materialized.release(aPrev)
    }
    h.join(a, "id")
      .select(col("id"),
        (col("h") / lit(1000000.0)).as("hub"),
        (col("a") / lit(1000000.0)).as("authority"))
  }

  /** k-CORE decomposition at a FIXED k (Seidman 1983, Social Networks —
    * "Network structure and minimum degree"): the maximal subgraph in
    * which every node keeps degree ≥ k, computed by iterative PEELING —
    * drop every node whose within-subgraph degree is < k, recompute,
    * repeat to fixpoint. On the near-dup similarity graph the k-core is
    * the DENSE DUPLICATION NUCLEUS: template farms and mass-reposted
    * boilerplate concentrate there, while one-off near-dup pairs peel
    * away — a stronger cleaning target than raw degree (degree counts
    * neighbors, coreness requires the neighborhood itself to be dense).
    *
    * Scale: each round is two semi-joins (edge endpoints against the
    * alive set) + one keyed count — linear in |E|, Pregel-shaped,
    * lineage cut per round; rounds needed = peel depth, typically
    * O(10) on power-law graphs. Exits with IllegalStateException if
    * `maxIters` rounds don't reach the fixpoint (a silently
    * non-converged core would diverge from the oracle's full peel —
    * the connectedComponents discipline).
    */
  def kCore(pairs: DataFrame, k: Int, maxIters: Int = 15): DataFrame = {
    val e = pairs.select(col("v1").as("src"), col("v2").as("dst"))
      .unionByName(pairs.select(col("v2").as("src"), col("v1").as("dst")))
      .distinct().localCheckpoint(true)
    def coreEdges(alive: DataFrame): DataFrame = e
      .join(alive.select(col("id").as("src")), "src")
      .join(alive.select(col("id").as("dst")), "dst")
    var alive = e.select(col("src").as("id")).distinct().localCheckpoint(true)
    var nAlive = alive.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      iter += 1
      val next = coreEdges(alive)
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("id"))
        .localCheckpoint(true)
      val nNext = next.count()
      converged = nNext == nAlive
      Materialized.release(alive)
      alive = next
      nAlive = nNext
    }
    if (!converged)
      throw new IllegalStateException(
        s"$k-core peeling did not converge in $maxIters rounds")
    coreEdges(alive)
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("core_deg"))
  }

  /** Semi-supervised LABEL PROPAGATION (Zhu & Ghahramani 2002, CMU
    * tech report): seed nodes carry trusted labels; each synchronous
    * round, every non-seed node takes the MAJORITY label of its
    * currently-labeled neighbors (ties → smallest label; no labeled
    * neighbor → stays unlabeled). The weak-supervision primitive for
    * corpus curation: spread a small trusted label set (human-audited
    * docs) over the similarity graph and read labels for the rest —
    * and, run against a masked holdout, the audit of how label-coherent
    * the graph is. Deterministic by construction (integer votes, total
    * tie order), so both engines replay the rounds exactly.
    *
    * Scale: per round one keyed join (labels → edges) + one
    * (node, label)-keyed count + one per-node argmax via the same
    * total order — linear in |E|; lineage cut per round.
    */
  def labelProp(edges: DataFrame, seedLabels: DataFrame,
      iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .join(seedLabels.select(col("id"), col("label").as("seed_label")),
        Seq("id"), "left")
      .select(col("id"), col("seed_label"),
        col("seed_label").isNotNull.as("is_seed"))
      .localCheckpoint(true)
    var lbl = nodes.select(col("id"), col("seed_label").as("lbl"))
      .localCheckpoint(true)
    val wVote = Window.partitionBy("id").orderBy(desc("votes"), col("lbl"))
    for (_ <- 1 to iters) {
      val votes = e
        .join(lbl.select(col("id").as("src"), col("lbl")), "src")
        .filter(col("lbl").isNotNull)
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("votes"))
      val winner = votes.withColumn("rn", row_number().over(wVote))
        .filter(col("rn") === 1).select(col("id"), col("lbl").as("maj"))
      val prev = lbl
      lbl = nodes.join(winner, Seq("id"), "left")
        .select(col("id"),
          when(col("is_seed"), col("seed_label")).otherwise(col("maj")).as("lbl"))
        .localCheckpoint(true)
      Materialized.release(prev)
    }
    nodes.select(col("id"), col("is_seed")).join(lbl, "id")
      .select(col("id"), col("is_seed"), col("lbl").as("pred_label"))
  }

  /** CONFIDENCE-WEIGHTED label propagation — [[labelProp]] with each
    * neighbor's vote weighted by the edge's (rounded) similarity
    * instead of counted: a 0.9-cosine near-duplicate should pull a
    * label harder than a 0.15 acquaintance (Zhu & Ghahramani's W
    * matrix, argmax spelling). Weights are 6-dp-rounded upstream, vote
    * sums ride DECIMAL(38,6) (exact, order-free), ties by smallest
    * label — the trajectory is engine-exact like the unweighted twin.
    */
  def labelPropWeighted(edges: DataFrame, seedLabels: DataFrame,
      iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("src"), col("dst"),
      col("w").cast("decimal(38,6)").as("w")).localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .join(seedLabels.select(col("id"), col("label").as("seed_label")),
        Seq("id"), "left")
      .select(col("id"), col("seed_label"),
        col("seed_label").isNotNull.as("is_seed"))
      .localCheckpoint(true)
    var lbl = nodes.select(col("id"), col("seed_label").as("lbl"))
      .localCheckpoint(true)
    val wVote = Window.partitionBy("id").orderBy(desc("votes"), col("lbl"))
    for (_ <- 1 to iters) {
      val votes = e
        .join(lbl.select(col("id").as("src"), col("lbl")), "src")
        .filter(col("lbl").isNotNull)
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(sum(col("w")).as("votes"))
      val winner = votes.withColumn("rn", row_number().over(wVote))
        .filter(col("rn") === 1).select(col("id"), col("lbl").as("maj"))
      val prev = lbl
      lbl = nodes.join(winner, Seq("id"), "left")
        .select(col("id"),
          when(col("is_seed"), col("seed_label")).otherwise(col("maj")).as("lbl"))
        .localCheckpoint(true)
      Materialized.release(prev)
    }
    nodes.select(col("id"), col("is_seed")).join(lbl, "id")
      .select(col("id"), col("is_seed"), col("lbl").as("pred_label"))
  }

  /** Per-community MODULARITY contributions (Newman & Girvan 2004)
    * over an undirected pair list (v1 < v2) and a node→community
    * assignment: internal-edge share minus the squared degree share;
    * Σ over communities = the classic Q. Exact integer edge/degree
    * counts, one rounded double per community.
    */
  def modularity(pairs: DataFrame, asg: DataFrame): DataFrame = {
    val e = pairs.select(col("v1"), col("v2"))
      .join(asg.select(col("id").as("v1"), col("cent_id").as("c1")), "v1")
      .join(asg.select(col("id").as("v2"), col("cent_id").as("c2")), "v2")
      .localCheckpoint()
    val m = e.agg(count(lit(1)).as("m_edges"))
    val internal = e.filter(col("c1") === col("c2"))
      .groupBy(col("c1").as("cent_id")).agg(count(lit(1)).as("internal_edges"))
    val degs = e.select(col("c1").as("cent_id"))
      .unionByName(e.select(col("c2").as("cent_id")))
      .groupBy("cent_id").agg(count(lit(1)).as("degree_sum"))
    val degShare = col("degree_sum").cast("double") / (lit(2L) * col("m_edges"))
    degs.join(internal, Seq("cent_id"), "left")
      .crossJoin(broadcast(m))
      .select(col("cent_id"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        round(coalesce(col("internal_edges"), lit(0L)).cast("double") / col("m_edges")
          - degShare * degShare, 6).as("q_contribution"))
      .orderBy("cent_id")
  }

  /** LABEL-NOISE neighborhood audit (Brodley & Friedl 1999, JAIR —
    * "Identifying Mislabeled Training Data", the neighborhood-filter
    * member): for every labeled point with at least one near-neighbor,
    * the fraction of its neighborhood carrying a DIFFERENT label and
    * the neighborhood's majority label (ties → smallest) — a point
    * whose neighborhood disagrees at ≥ `minDisagree` AND whose
    * majority label differs is a mislabeling SUSPECT, the per-point
    * cleaning signal label propagation (q327/q339) cannot give (prop
    * trusts seeds; this audits them). Neighbors must come from a
    * label-FREE pair generator ([[Similarity.bucketedCrossPairs]]) —
    * a label-blocked graph is blind to disagreement by construction.
    *
    * Scale: one edge-list join against the label table + two keyed
    * aggregations + one per-node top-1 window over vote rows (≤
    * #labels per node) — linear in |E|. Counts are integer; the rate
    * is one IEEE division.
    *
    * `pairs`: (v1, v2) undirected; `labels`: (id, label).
    */
  def labelNoiseAudit(pairs: DataFrame, labels: DataFrame,
      minDisagree: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = pairs.select(col("v1").as("id"), col("v2").as("nb"))
      .unionByName(pairs.select(col("v2").as("id"), col("v1").as("nb")))
    val nb = e
      .join(labels.select(col("id").as("nb"), col("label").as("nb_label")), "nb")
      .join(labels, "id")
    val agg = nb.groupBy("id", "label").agg(
      count(lit(1)).as("n_neighbors"),
      sum(when(col("nb_label") =!= col("label"), 1L).otherwise(0L)).as("n_disagree"))
    val wv = Window.partitionBy("id").orderBy(desc("v"), col("nb_label"))
    val maj = nb.groupBy("id", "nb_label").agg(count(lit(1)).as("v"))
      .withColumn("rn", row_number().over(wv)).filter(col("rn") === 1)
      .select(col("id"), col("nb_label").as("majority_label"))
    agg.join(maj, "id")
      .withColumn("disagree_rate",
        round(col("n_disagree").cast("double") / col("n_neighbors").cast("double"), 6))
      .withColumn("suspect",
        col("disagree_rate") >= minDisagree && col("majority_label") =!= col("label"))
      .select("id", "label", "n_neighbors", "n_disagree", "disagree_rate",
        "majority_label", "suspect")
      .orderBy("id")
  }

  /** One power-iteration round, pre-checkpoint — exposed so the plan
    * audit can assert the contribution aggregate combines map-side
    * (inside `pageRank` every round hides behind a localCheckpoint, so
    * the final explain shows only the last join).
    */
  private[graft] def step(withDeg: DataFrame, nodes: DataFrame, r: DataFrame,
      dampingNum: Long = 17, dampingDen: Long = 20,
      teleportMicro: Long = 150000L): DataFrame = {
    val contrib = withDeg
      .join(r.select(col("id").as("src"), col("m")), "src")
      .select(col("dst").as("id"), expr("m div deg").as("c"))
    nodes
      .join(contrib.groupBy("id").agg(sum(col("c")).as("s")), Seq("id"), "left")
      .select(col("id"),
        (lit(teleportMicro) +
          expr(s"(${dampingNum}L * coalesce(s, 0L)) div ${dampingDen}L")).as("m"))
  }

  /** DuckDB oracle fragment: the `iters` unrolled rank CTEs over
    * prepared CTEs `edges(src, dst)` / `deg(src, deg)` / `nodes(id)`,
    * ending with CTE `r$iters(id, m)` — the caller appends its SELECT
    * (report `m / 1000000.0` to mirror the Spark output).
    */
  /** Per-node triangle counts and local clustering coefficient over an
    * UNDIRECTED edge list (src < dst, no self-loops, deduped).
    *
    * Scale design: the classic degree-ordered orientation — each edge
    * points from its lower-(degree, id) endpoint to the higher one, so
    * every wedge is enumerated at exactly one apex and a hub of degree d
    * contributes only the wedges of its ORIENTED out-degree (bounded by
    * O(sqrt(|E|)) on real graphs), never d². Wedge generation is one
    * self-join keyed on the apex; closure is one keyed join against the
    * oriented edge set. Counts are exact integers; the coefficient is
    * one double division rounded at 6 dp.
    */
  def triangles(edges: DataFrame): DataFrame = {
    // materialize the deduped edge list once: `und` feeds the degree
    // count, the orientation join, and (via `oriented`) three more join
    // sides — without the checkpoint each subtree re-evaluates the
    // caller's edge GENERATION (for the similarity graph, a corpus-wide
    // bucket join + cosine filter) instead of a compact 2-column list.
    // Same pattern as pageRank's edge checkpoint above.
    val und = edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient: lower (deg, id) -> higher (deg, id)
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    // also materialized: the wedge self-join and the closure join read
    // `oriented` three times, and each read would otherwise replay the
    // two degree joins
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("w"), col("db").as("dw")))
        .otherwise(struct(col("b").as("u"), col("a").as("w"), col("da").as("dw"))).as("e"))
      .select(col("e.u"), col("e.w"), col("e.dw"))
      .localCheckpoint()
    // wedges at apex u: pairs of out-neighbors ordered by the SAME
    // (deg, id) key used for orientation — raw-id ordering would lose
    // any triangle whose closing edge runs against id order. The
    // orientation is a total order on (deg, id), so the closing edge
    // between the two out-neighbors, if present, always runs lo -> hi
    // under THIS ordering.
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          struct(col("x.dw"), col("x.w")) < struct(col("y.dw"), col("y.w")))
      .select(col("x.u").as("apex"), col("x.w").as("lo"), col("y.w").as("hi"))
    val tris = wedges.join(
      oriented.select(col("u").as("lo"), col("w").as("hi")), Seq("lo", "hi"))
    // every triangle counted once; credit all three corners
    val perNode = tris
      .select(explode(array(col("apex"), col("lo"), col("hi"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("v"), "left")
      .select(
        col("v").as("id"),
        col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
            / (col("deg") * (col("deg") - 1)), 6))
          .as("clustering_coeff"))
  }

  object O {

    /** Mirrors triangles over the same edge CTE (`edges(src, dst)`). */
    def trianglesSql: String =
      """und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM edges WHERE src <> dst GROUP BY 1, 2),
        |tdeg AS (SELECT v, COUNT(*) AS deg FROM (
        |          SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
        |ori AS (SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
        |               CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS w,
        |               CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dw
        |        FROM (SELECT und.a, und.b, x.deg AS da, y.deg AS db
        |              FROM und JOIN tdeg x ON x.v = und.a JOIN tdeg y ON y.v = und.b)),
        |tri AS (SELECT x.u AS apex, x.w AS lo, y.w AS hi
        |        FROM ori x JOIN ori y ON x.u = y.u AND (x.dw, x.w) < (y.dw, y.w)
        |        JOIN ori z ON z.u = x.w AND z.w = y.w),
        |pn AS (SELECT v, COUNT(*) AS n_triangles FROM (
        |        SELECT apex AS v FROM tri UNION ALL SELECT lo FROM tri
        |        UNION ALL SELECT hi FROM tri) GROUP BY 1)""".stripMargin

    def pageRankCtes(iters: Int = 5, dampingNum: Long = 17,
        dampingDen: Long = 20, teleportMicro: Long = 150000L): String = {
      val steps = (1 to iters).map { i =>
        s"""r$i AS (
           |  SELECT n.id,
           |    CAST($teleportMicro AS BIGINT)
           |      + ($dampingNum * COALESCE(SUM(p.m // d.deg), 0)) // $dampingDen AS m
           |  FROM nodes n
           |  LEFT JOIN edges e ON e.dst = n.id
           |  LEFT JOIN r${i - 1} p ON p.id = e.src
           |  LEFT JOIN deg d ON d.src = e.src
           |  GROUP BY n.id)""".stripMargin
      }
      (Seq("r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS m FROM nodes)") ++ steps)
        .mkString(",\n")
    }

    /** Mirrors [[Graph.hits]]: `iters` unrolled (authority, hub)
      * half-step pairs over prepared CTEs `edges(src, dst)` and
      * `nodes(id)`; each half-step is the same LEFT JOIN + keyed sum as
      * [[pageRankCtes]] followed by the integer max-normalization.
      * Ends with h$iters(id, h) and a$iters(id, a).
      */
    def hitsCtes(iters: Int = 5): String = {
      val micro = "CAST(1000000 AS BIGINT)"
      // every CTE here is referenced twice (the value row and its MAX
      // scalar) — without MATERIALIZED DuckDB inlines the chain and
      // re-evaluates the whole prefix 2^rounds times (the q199 lesson)
      val steps = (1 to iters).map { i =>
        s"""ar$i AS MATERIALIZED (SELECT n.id, COALESCE(SUM(p.h), 0) AS raw
           |  FROM nodes n LEFT JOIN edges e ON e.dst = n.id
           |  LEFT JOIN h${i - 1} p ON p.id = e.src GROUP BY n.id),
           |a$i AS MATERIALIZED (SELECT id, (raw * $micro) // (SELECT MAX(raw) FROM ar$i) AS a FROM ar$i),
           |hr$i AS MATERIALIZED (SELECT n.id, COALESCE(SUM(p.a), 0) AS raw
           |  FROM nodes n LEFT JOIN edges e ON e.src = n.id
           |  LEFT JOIN a$i p ON p.id = e.dst GROUP BY n.id),
           |h$i AS MATERIALIZED (SELECT id, (raw * $micro) // (SELECT MAX(raw) FROM hr$i) AS h FROM hr$i)""".stripMargin
      }
      (Seq(s"h0 AS (SELECT id, $micro AS h FROM nodes)") ++ steps).mkString(",\n")
    }

    /** Mirrors [[Graph.kCore]]: `rounds` unrolled peel steps over a
      * prepared symmetric `edges(src, dst)` CTE. Peeling is monotone
      * and idempotent at the fixpoint, so `rounds` only needs to be ≥
      * the Spark side's actual peel depth (which [[Graph.kCore]]
      * enforces is ≤ its maxIters = the same 15). Ends with
      * al$rounds(id). Each step referenced twice → MATERIALIZED.
      */
    def kCoreCtes(k: Int, rounds: Int = 15): String = {
      val steps = (1 to rounds).map { i =>
        s"""al$i AS MATERIALIZED (SELECT e.src AS id FROM edges e
           |  JOIN al${i - 1} a ON a.id = e.src JOIN al${i - 1} b ON b.id = e.dst
           |  GROUP BY e.src HAVING COUNT(*) >= $k)""".stripMargin
      }
      (Seq("al0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges)") ++ steps)
        .mkString(",\n")
    }

    /** Mirrors [[Graph.labelProp]]: `iters` unrolled vote/argmax/update
      * rounds over prepared CTEs `edges(src, dst)` and
      * `nl(id, seed_label, is_seed)`. Ends with l$iters(id, lbl).
      */
    def labelPropCtes(iters: Int = 3): String = {
      val steps = (1 to iters).map { i =>
        s"""v$i AS (SELECT e.dst AS id, p.lbl, COUNT(*) AS votes
           |  FROM edges e JOIN l${i - 1} p ON p.id = e.src
           |  WHERE p.lbl IS NOT NULL GROUP BY 1, 2),
           |w$i AS (SELECT id, lbl AS maj FROM (
           |  SELECT id, lbl,
           |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY votes DESC, lbl) AS rn
           |  FROM v$i) WHERE rn = 1),
           |l$i AS MATERIALIZED (SELECT n.id,
           |  CASE WHEN n.is_seed THEN n.seed_label ELSE w.maj END AS lbl
           |  FROM nl n LEFT JOIN w$i w USING (id))""".stripMargin
      }
      (Seq("l0 AS MATERIALIZED (SELECT id, seed_label AS lbl FROM nl)") ++ steps)
        .mkString(",\n")
    }

    /** Mirrors [[Graph.labelPropWeighted]]: the [[labelPropCtes]] shape
      * with DECIMAL(38,6) weighted vote sums over prepared
      * `edges(src, dst, w)` and `nl(id, seed_label, is_seed)`.
      */
    def labelPropWeightedCtes(iters: Int = 3): String = {
      val steps = (1 to iters).map { i =>
        s"""v$i AS (SELECT e.dst AS id, p.lbl,
           |    SUM(CAST(e.w AS DECIMAL(38,6))) AS votes
           |  FROM edges e JOIN l${i - 1} p ON p.id = e.src
           |  WHERE p.lbl IS NOT NULL GROUP BY 1, 2),
           |w$i AS (SELECT id, lbl AS maj FROM (
           |  SELECT id, lbl,
           |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY votes DESC, lbl) AS rn
           |  FROM v$i) WHERE rn = 1),
           |l$i AS MATERIALIZED (SELECT n.id,
           |  CASE WHEN n.is_seed THEN n.seed_label ELSE w.maj END AS lbl
           |  FROM nl n LEFT JOIN w$i w USING (id))""".stripMargin
      }
      (Seq("l0 AS MATERIALIZED (SELECT id, seed_label AS lbl FROM nl)") ++ steps)
        .mkString(",\n")
    }

    /** [[pageRankCtes]]'s TrustRank twin: expects the extra prepared
      * CTE `tele(id, is_seed, tpt)` (seed-concentrated integer
      * teleport) beside edges/deg/nodes; ends with
      * `$prefix$iters(id, m)` (prefix the CTE names when composing
      * with [[pageRankCtes]] in one query — q319).
      */
    def trustRankCtes(iters: Int = 5, dampingNum: Long = 17,
        dampingDen: Long = 20, prefix: String = "r"): String = {
      val steps = (1 to iters).map { i =>
        s"""$prefix$i AS (
           |  SELECT t.id,
           |    t.tpt + ($dampingNum * COALESCE(SUM(p.m // d.deg), 0)) // $dampingDen AS m
           |  FROM tele t
           |  LEFT JOIN edges e ON e.dst = t.id
           |  LEFT JOIN $prefix${i - 1} p ON p.id = e.src
           |  LEFT JOIN deg d ON d.src = e.src
           |  GROUP BY t.id, t.tpt)""".stripMargin
      }
      (Seq(s"${prefix}0 AS (SELECT id, CAST(1000000 AS BIGINT) AS m FROM nodes)") ++ steps)
        .mkString(",\n")
    }
  }
}
