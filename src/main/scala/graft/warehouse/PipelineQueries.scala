package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.operators._
import graft.sources.Tables

/** LLM-data-pipeline operator queries (the north-star extensions beyond
  * the reference surface): dedup family, similarity search, text
  * analysis, multimodal metadata. Each has a DuckDB oracle reproducing
  * the identical (md5-derived) hashing and (sequential-fold) vector math.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Tables(s, dir, "embeddings")

  // ---------------------------------------------------------------------
  // Corpus-snapshot artifacts (see [[Materialized]]): the deterministic
  // derived frames several queries share, solved once per (session, dir)
  // and read as stored tables by every consumer — exactly what a
  // production pipeline writes per corpus snapshot (the cluster map, the
  // trained quantizers/codebooks, the audit rankings). Every builder is
  // hash-seeded and decimal-exact, so a consumer reading the artifact is
  // bit-identical to one re-deriving it; only the job count changes.
  // ---------------------------------------------------------------------

  /** Near-dup cluster map (pair gen + connected components) — feeds
    * q52/q105/q133/q146/q191.
    */
  /** N-gram Jaccard near-dup pair list — the generator under the
    * cluster map, ALSO consumed directly by q42/q134/q136/q141: one
    * shingling + band join per corpus snapshot instead of five
    * (round-15; deterministic, so consumers are bit-identical).
    */
  private def mNgramPairs(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "ngram_pairs")(Dedup.ngramJaccardPairs(docs(s, dir)))

  private def mClusters(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "ngram_cc")(
      Dedup.connectedComponents(mNgramPairs(s, dir)))

  /** The full per-document quality gate (every signal column) — feeds
    * q100 (the gate itself), q133 (the funnel) and q146 (the decision
    * table). The four signal subtrees each scan the corpus, so the
    * build pins it; the pin is released once the gate is checkpointed.
    */
  private def mQualityGate(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "quality_gate")(
      TextAnalysis.qualityGate(Pins.cache(docs(s, dir))))

  /** Substring-removal census (the Lee et al. 2022 cleaning pass) —
    * feeds q294 (the per-doc list), q308 (the dataset card's
    * dup_token_share), and q313 (the per-source burden): one
    * first-occurrence solve per corpus snapshot instead of three
    * (round-15; the op is deterministic, so consumers are bit-identical
    * to inline re-derivation).
    */
  private def mSubstring(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "substring_removal")(
      Dedup.substringRemoval(docs(s, dir)))

  /** Near-dup pair graph at the graph-family threshold (0.15) — feeds
    * the centrality/trust/HITS/k-core/label-prop/modularity family
    * (q153-area consumers through q339): one bucketed pair generation
    * per corpus snapshot instead of one per consumer query (round-15;
    * the generator is deterministic, so consumers are bit-identical).
    */
  private def mNearDup15(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "neardup_pairs_15")(
      Similarity.bucketedNearDupPairs(emb(s, dir), threshold = 0.15))

  /** Trained cosine coarse quantizer — feeds q65/q144/q147 and the IVF
    * audit ranking below.
    */
  private def mKmeansCos(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "kmeans_cos")(
      Clustering.kmeans(emb(s, dir),
        Similarity.IvfNlist, Similarity.IvfIters, Similarity.IvfTrainPct))

  /** Trained squared-L2 coarse quantizer — feeds q161 (IVF-PQ coarse
    * lists) and q166 (full-dim clustering side).
    */
  private def mKmeansL2(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "kmeans_l2")(
      Clustering.kmeansL2(emb(s, dir),
        Similarity.IvfNlist, Similarity.IvfIters, Similarity.IvfTrainPct))

  /** Raw-vector PQ codebooks — feed q155/q156/q160 (q161 trains its own
    * residual codebooks; residuals are a different corpus).
    */
  private def mPqCodebooks(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "pq_codebooks")(Similarity.pqCodebooks(emb(s, dir)))

  /** Exact cosine top-10 over the audit query sample — the reference
    * ranking for q143/q206/q207/q224.
    */
  private def mExactTop10(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "audit_exact_top10")(
      Similarity.bruteForceTopK(emb(s, dir), annAuditPred, k = 10))

  /** IVF top-10 over the audit query sample (searched with the stored
    * quantizer) — the approximate ranking for q143/q192/q207/q224.
    */
  private def mIvfTop10(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "audit_ivf_top10")(
      Similarity.ivfTopK(emb(s, dir), annAuditPred, k = 10,
        trained = Some(mKmeansCos(s, dir))))

  val dedupExact: Q = (s, dir) =>
    Dedup.exact(docs(s, dir)).orderBy("content_md5")

  val fingerprint: Q = (s, dir) =>
    TextAnalysis
      .withFingerprint(docs(s, dir))
      .select("doc_id", "content_fp", "rolling_fp")
      .orderBy("doc_id")

  val ngramJaccard: Q = (s, dir) =>
    mNgramPairs(s, dir).orderBy("d1", "d2")

  /** MinHash-LSH candidate pairs as a session artifact — feeds
    * q43/q295/q296 (one signature + band pass per session, the
    * mClusters discipline).
    */
  private def mMinhashPairs(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "minhash_pairs")(
      Dedup.minhashPairs(docs(s, dir)))

  val minhashLsh: Q = (s, dir) =>
    mMinhashPairs(s, dir).orderBy("d1", "d2")

  val simhash: Q = (s, dir) =>
    Dedup.simhashPairs(docs(s, dir)).orderBy("d1", "d2")

  val dedupClusters: Q = (s, dir) =>
    mClusters(s, dir).orderBy("doc_id")

  /** q45: embedding near-duplicate pairs at the dedup-audit operating
    * point (cosine ≥ 0.30 — the tightest threshold that still yields
    * pairs through the bucket-agreement gate at every test scale;
    * 0.40-similar pairs differing on one hyperplane sign are the capped
    * contract's documented trade), through the BOUNDED (label ∧ sign-bucket)
    * candidate generator — the same [[Similarity.GraphBlockCap]]-capped
    * contract as the graph family, so a hot label can never send the
    * pair space quadratic (the round-7 verdict's last uncapped
    * all-pairs on the query surface). Near-identical vectors agree on
    * every hyperplane sign, so duplicate-level pairs land in the same
    * bucket by construction; the capped contract trades only far-apart
    * same-label candidates away. The uncapped within-label generator
    * ([[Similarity.nearDupPairs]]) stays a library API for curated
    * blocks whose sizes the caller owns, off the query surface.
    */
  val embedNearDup: Q = (s, dir) =>
    Similarity.bucketedNearDupPairs(emb(s, dir), threshold = 0.30)
      .orderBy("label", "v1", "v2")

  /** Cluster resolution over the embedding near-dup graph — the same
    * connected-components operator composed with the BOUNDED
    * (label ∧ sign-bucket) pair generator (v1/v2 renamed to the d1/d2
    * contract). Like the other corpus-scale graph builders
    * (q101/q132/q134), candidate blocks are capped at
    * [[Similarity.GraphBlockCap]], so one hot label can never send the
    * pair space quadratic; near-identical vectors agree on every
    * hyperplane sign, so duplicate-level edges — the cluster signal —
    * land in the same bucket by construction. (Since round 8, q45
    * shares this capped contract too — no query-surface all-pairs
    * remain.) Threshold 0.15 is the GRAPH-family operating point shared
    * with q101/q132: cluster resolution runs over the same edge set
    * PageRank and the triangle census read.
    */
  val embedClusters: Q = (s, dir) =>
    Dedup
      .connectedComponents(
        mNearDup15(s, dir)
          .select(col("v1").as("d1"), col("v2").as("d2")))
      .orderBy("doc_id")

  val annBruteForce: Q = (s, dir) =>
    Similarity
      .bruteForceTopK(emb(s, dir), col("vec_id") < 20, k = 10)
      .orderBy("query_id", "rank")

  val annLsh: Q = (s, dir) =>
    Similarity
      .lshTopK(emb(s, dir), col("vec_id") < 20, k = 3)
      .orderBy("query_id", "rank")

  val annIvf: Q = (s, dir) =>
    Similarity
      .ivfTopK(emb(s, dir), col("vec_id") < 20, k = 5,
        trained = Some(mKmeansCos(s, dir)))
      .orderBy("query_id", "rank")

  /** q264: the q65 search served from a STORED inverted-list artifact —
    * the file layout an ANN index deploys at 100 TB: the corpus-side
    * assignment ([[Similarity.ivfAssignments]]) is parquet-persisted
    * ONCE, hive-partitioned by cent_id, and the probe join reads only
    * the probe centroids' partition directories (partition pruning =
    * the inverted index at the file level); the corpus parquet is
    * never scanned on the candidate side. Deliberately the SAME query
    * set/k/probes as q65 with the SAME oracle: identical hashes are
    * the stored-index ≡ inline-re-derivation proof (the q252-vs-q149
    * discipline, for vectors). The partition column reads back as int;
    * normalize to the quantizer's long before searching.
    */
  val annIvfIndexed: Q = (s, dir) => {
    val lists = Materialized.onDisk(s, dir, "ivf_lists", partitionCols = Seq("cent_id"))(
        Similarity.ivfAssignments(emb(s, dir), mKmeansCos(s, dir)))
      .withColumn("cent_id", col("cent_id").cast("long"))
    Similarity.ivfTopKFromLists(lists, emb(s, dir), col("vec_id") < 20, k = 5,
        trained = mKmeansCos(s, dir))
      .orderBy("query_id", "rank")
  }

  /** q266: incremental IVF-list MAINTENANCE — the vector member of the
    * index-maintenance family (q239 media, q260 text): the existing
    * corpus's inverted lists are the cent_id-partitioned disk artifact
    * built ONCE (vec_id < [[IncrementalSplit]]); an arriving batch is
    * assigned ALONE against the same frozen quantizer and unioned at
    * query time — per-vector assignment is independent given the
    * quantizer, so (stored lists ∪ delta) ≡ a full re-assignment
    * EXACTLY, and the query shares q65/q264's from-scratch oracle: the
    * hash gate proves an ANN index never needs a rebuild to absorb new
    * vectors (quantizer-retrain DUE-ness is the separate
    * incrementalAssignment drift audit, q235).
    */
  val annIvfIncremental: Q = (s, dir) => {
    val quant = mKmeansCos(s, dir)
    val base = Materialized.onDisk(s, dir, "ivf_lists_base", partitionCols = Seq("cent_id"))(
        Similarity.ivfAssignments(
          emb(s, dir).filter(col("vec_id") < IncrementalSplit), quant))
      .withColumn("cent_id", col("cent_id").cast("long"))
      .select("cent_id", "cand_id", "ce", "cn")
    val delta = Similarity.ivfAssignments(
        emb(s, dir).filter(col("vec_id") >= IncrementalSplit), quant)
      .select("cent_id", "cand_id", "ce", "cn")
    Similarity.ivfTopKFromLists(base.unionByName(delta), emb(s, dir),
        col("vec_id") < 20, k = 5, trained = quant)
      .orderBy("query_id", "rank")
  }

  /** q268: DELETION maintenance on the stored ANN index — the CRUD
    * counterpart to q266's insert: a deletion cohort (a data-derived
    * predicate, the GDPR/erasure shape) is an ANTI-FILTER on the lists
    * artifact — no rebuild, no retrain, the quantizer and every other
    * list entry untouched. The oracle re-derives the whole index from
    * scratch WITH the candidates removed, so the hash gate proves
    * filter-on-read ≡ rebuild-without-them.
    */
  val annIvfDeletion: Q = (s, dir) => {
    val lists = Materialized.onDisk(s, dir, "ivf_lists", partitionCols = Seq("cent_id"))(
        Similarity.ivfAssignments(emb(s, dir), mKmeansCos(s, dir)))
      .withColumn("cent_id", col("cent_id").cast("long"))
      .filter(col("cand_id") % 7 =!= 3) // the erased cohort
    Similarity.ivfTopKFromLists(lists, emb(s, dir), col("vec_id") < 20, k = 5,
        trained = mKmeansCos(s, dir))
      .orderBy("query_id", "rank")
  }

  /** q269: inverted-list BALANCE audit over the stored index — list
    * sizes and corpus share per centroid (every centroid emits a row;
    * empty lists count 0). THE operational ANN signal: a hot list
    * degrades probe latency and recall long before anything errors,
    * and the read prices when a quantizer retrain is due (beside
    * q235's drift audit). One group-by of the artifact + the
    * nlist-row centroid table.
    */
  val annListSizes: Q = (s, dir) => {
    val lists = Materialized.onDisk(s, dir, "ivf_lists", partitionCols = Seq("cent_id"))(
        Similarity.ivfAssignments(emb(s, dir), mKmeansCos(s, dir)))
      .withColumn("cent_id", col("cent_id").cast("long"))
    val sz = lists.groupBy("cent_id").agg(count(lit(1)).as("n_vecs"))
    val tot = sz.agg(sum(col("n_vecs")).as("t"))
    mKmeansCos(s, dir).select(col("cluster_id").as("cent_id"))
      .join(sz, Seq("cent_id"), "left")
      .na.fill(0L, Seq("n_vecs"))
      .crossJoin(broadcast(tot))
      .select(col("cent_id"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("t").cast("double"), 6).as("share"))
      .orderBy("cent_id")
  }

  /** Process-scoped generation-store roots: each (corpus, store) is
    * BUILT once per JVM — base generation, ingest fragments, tombstones,
    * one compaction — and every query/bench pass after that READS the
    * committed store (the Materialized.onDisk discipline, for stores
    * whose LIFECYCLE is the thing under test).
    */
  private val storeRoots =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private lazy val storeTmpRoot: String =
    java.nio.file.Files.createTempDirectory("graft-ixstore-").toString
  private def builtStore(dir: String, name: String)(build: String => Unit): String =
    storeRoots.synchronized {
      storeRoots.getOrElseUpdate((dir, name), {
        val corpus = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
        val root = s"$storeTmpRoot/$corpus-$name"
        build(root)
        root
      })
    }

  /** The q266 delta split again into two ingest "micro-batches", so
    * compaction provably merges MULTIPLE fragments, not one.
    */
  private val FragmentSplit = 450L

  private def ivfStoreFragments(s: SparkSession, dir: String, root: String,
      quant: DataFrame): Unit = {
    def asg(pred: Column) = Similarity.ivfAssignments(emb(s, dir).filter(pred), quant)
      .select("cent_id", "cand_id", "ce", "cn")
    graft.warehouse.IndexStore.writeBase(
      asg(col("vec_id") < IncrementalSplit), root, Seq("cent_id"))
    graft.warehouse.IndexStore.addFragment(
      asg(col("vec_id") >= IncrementalSplit && col("vec_id") < FragmentSplit), root, 0L)
    graft.warehouse.IndexStore.addFragment(asg(col("vec_id") >= FragmentSplit), root, 1L)
  }

  private def postStoreFragments(s: SparkSession, dir: String, root: String): Unit = {
    def posts(pred: Column) =
      TextAnalysis.positionalPostings(docs(s, dir).filter(pred))
    graft.warehouse.IndexStore.writeBase(posts(col("doc_id") < IncrementalSplit), root)
    graft.warehouse.IndexStore.addFragment(
      posts(col("doc_id") >= IncrementalSplit && col("doc_id") < FragmentSplit), root, 0L)
    graft.warehouse.IndexStore.addFragment(posts(col("doc_id") >= FragmentSplit), root, 1L)
  }

  /** q271: index COMPACTION, vector family — the missing lifecycle op
    * the streaming ingest twins create a need for: each micro-batch
    * leaves one `batch_id=<id>` parquet fragment forever (the classic
    * small-file death at production trigger rates); compaction merges
    * (base generation ∪ fragments) into generation g+1 behind the
    * atomic `_CURRENT` pointer — the Lucene segment merge, as a parquet
    * layout — PRESERVING the cent_id hive partitioning, so the probe
    * join's dynamic partition pruning fires on the compacted base
    * exactly as on q264's artifact (plan-audited in PlanAuditSpec).
    * Shares q65/q264/q266's from-scratch oracle: compacted ≡
    * (base ∪ fragments) ≡ full re-assignment — one hash gate.
    */
  val annIvfCompacted: Q = (s, dir) => {
    val quant = mKmeansCos(s, dir)
    val root = builtStore(dir, "ivf_store") { r =>
      ivfStoreFragments(s, dir, r, quant)
      graft.warehouse.IndexStore.compact(s, r,
        graft.streaming.StreamIvfLists.ListsSchema, Seq("cent_id"))
    }
    val lists = graft.warehouse.IndexStore.read(s, root,
      graft.streaming.StreamIvfLists.ListsSchema)
    Similarity.ivfTopKFromLists(lists, emb(s, dir), col("vec_id") < 20, k = 5,
        trained = quant)
      .orderBy("query_id", "rank")
  }

  /** q272: index COMPACTION, text family — q271's posting-side twin:
    * the postings base generation absorbs two tokenized ingest
    * fragments into one compacted generation, and BM25 served from the
    * compacted store shares q252's from-scratch oracle (re-tokenize
    * everything): one hash gate proves merge-then-swap loses no
    * posting and duplicates none.
    */
  val textCompacted: Q = (s, dir) => {
    val root = builtStore(dir, "post_store") { r =>
      postStoreFragments(s, dir, r)
      graft.warehouse.IndexStore.compact(s, r,
        graft.streaming.StreamPostings.PostingsSchema)
    }
    TextAnalysis.bm25FromPostings(
      graft.warehouse.IndexStore.read(s, root,
        graft.streaming.StreamPostings.PostingsSchema))
  }

  /** q273: TOMBSTONE-TABLE deletion, vector family — the GDPR shape
    * q268's predicate cohort stood in for: erasure arrives as a KEY
    * TABLE (here a data-derived cohort, label = 7, but the mechanism
    * accepts arbitrary ids, batch- or stream-delivered — see
    * StreamTombstones), the serving read anti-joins it (erased the
    * moment the tombstone commits), and COMPACTION applies it
    * PHYSICALLY — the new generation contains no tombstoned row
    * (IndexStoreSpec asserts it on the parquet itself). The oracle
    * rebuilds the whole index from scratch without the cohort.
    */
  /** The tombstoned-and-compacted store roots, shared by the per-family
    * serving reads (q273/q274) and the q278 lifecycle capstone — ONE
    * build definition per store, so every consumer provably reads the
    * same lived-in artifact.
    */
  private def tsIvfStoreRoot(s: SparkSession, dir: String, quant: DataFrame): String =
    builtStore(dir, "ivf_store_ts") { r =>
      ivfStoreFragments(s, dir, r, quant)
      graft.warehouse.IndexStore.addTombstones(
        emb(s, dir).filter(col("label") === 7).select(col("vec_id").as("cand_id")), r, 0L)
      graft.warehouse.IndexStore.compact(s, r,
        graft.streaming.StreamIvfLists.ListsSchema, Seq("cent_id"),
        tombstoneKeys = Seq("cand_id"))
    }

  private def tsPostStoreRoot(s: SparkSession, dir: String): String =
    builtStore(dir, "post_store_ts") { r =>
      postStoreFragments(s, dir, r)
      graft.warehouse.IndexStore.addTombstones(
        docs(s, dir).filter(col("lang") === "de").select("doc_id"), r, 0L)
      graft.warehouse.IndexStore.compact(s, r,
        graft.streaming.StreamPostings.PostingsSchema, tombstoneKeys = Seq("doc_id"))
    }

  val annIvfTombstoned: Q = (s, dir) => {
    val quant = mKmeansCos(s, dir)
    val lists = graft.warehouse.IndexStore.read(s, tsIvfStoreRoot(s, dir, quant),
      graft.streaming.StreamIvfLists.ListsSchema, tombstoneKeys = Seq("cand_id"))
    Similarity.ivfTopKFromLists(lists, emb(s, dir), col("vec_id") < 20, k = 5,
        trained = quant)
      .orderBy("query_id", "rank")
  }

  /** q274: TOMBSTONE-TABLE deletion, text family — q273's posting-side
    * twin (the q270 predicate cohort upgraded to the key-table
    * mechanism): erased doc_ids (the lang = 'de' cohort) anti-join the
    * serving read and are physically purged by compaction; BM25's
    * corpus statistics (N, Σdl, df) shift with the erasure. Oracle
    * re-tokenizes the surviving corpus from scratch.
    */
  val textTombstoned: Q = (s, dir) => {
    TextAnalysis.bm25FromPostings(
      graft.warehouse.IndexStore.read(s, tsPostStoreRoot(s, dir),
        graft.streaming.StreamPostings.PostingsSchema, tombstoneKeys = Seq("doc_id")))
  }

  /** Deterministic corpus drift for the retrain audit: vectors at/after
    * [[IncrementalSplit]] shift by +[[DriftScale]]·mean(|x|) per
    * component (self-scaling, so the construction works at every SF).
    * The left-fold double sum and the float cast are bit-identical in
    * DuckDB's list_reduce/list_transform replay. The absMean
    * subexpression rides inside the per-element lambda (interpreted,
    * re-evaluated per element — acceptable: the drift transform runs
    * once per session into a Materialized artifact, over ≤2k vectors
    * at the driver SFs; a 100 TB run would project absMean first).
    */
  val DriftScale = 0.5
  private def mEmbDrifted(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "emb_drifted") {
      val absMean = aggregate(transform(col("embedding"), x => abs(x.cast("double"))),
        lit(0.0), (a, x) => a + x) / lit(Similarity.Dim)
      // alternating sign flip (an orthogonal reflection: pairwise
      // cosines WITHIN the delta are exactly preserved, but the drifted
      // vectors decorrelate from every stale centroid) plus the offset
      // (gives the retrained quantizer a coherent region to resolve)
      emb(s, dir).select(col("vec_id"),
        when(col("vec_id") >= IncrementalSplit,
          transform(col("embedding"),
            (x, i) => (when(i % 2 === 0, x.cast("double"))
              .otherwise(-x.cast("double"))
              + lit(DriftScale) * absMean).cast("float")))
          .otherwise(col("embedding")).as("embedding"))
    }
  private def mRetrainStale(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "retrain_stale")(
      Clustering.kmeans(mEmbDrifted(s, dir).filter(col("vec_id") < IncrementalSplit),
        Similarity.IvfNlist, Similarity.IvfIters, Similarity.IvfTrainPct))
  private def mRetrainFresh(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "retrain_fresh")(
      Clustering.kmeans(mEmbDrifted(s, dir),
        Similarity.IvfNlist, Similarity.IvfIters, Similarity.IvfTrainPct))

  /** q275: quantizer RETRAIN ROTATION with measured recovery — the last
    * index-lifecycle op: q235 audits assignment drift but nothing acted
    * on it. Three stages of the q143 recall harness: (1) the healthy
    * operating point (base corpus, its own quantizer); (2) the corpus
    * absorbs a SHIFTED delta and the STALE quantizer serves it;
    * (3) retrain on the current corpus. The query-sampling rule is
    * constant (vec_id < 10 plus the first 10 delta ids); which queries
    * exist depends only on the stage's corpus snapshot. Oracle replays
    * BOTH Lloyd trajectories and all three exact/IVF rankings from
    * scratch.
    *
    * Honest exhibit (the q263 discipline): the driver corpus is
    * near-isotropic, so ANY 16-centroid quantizer partitions it about
    * equally well — the stale-vs-healthy recall DIFFERENCE sits inside
    * sampling noise here (measured −0.03..+0.03 across scales and
    * drift constructions). What the rotation demonstrably buys on this
    * data is the RECOVERY GAP: retrained − stale ≈ +0.07..+0.12 on the
    * SAME corpus and query set — the decision signal a retrain
    * scheduler prices. RetrainSpec proves the full drop-AND-recover
    * ordering on a separated synthetic corpus where a stale quantizer
    * is structurally wrong (the delta straddles stale list boundaries),
    * and pins the recovery gap on the driver data at both test scales.
    */
  val retrainRecall: Q = (s, dir) => {
    val drifted = mEmbDrifted(s, dir)
    val base = drifted.filter(col("vec_id") < IncrementalSplit)
    val mixedPred = col("vec_id") < 10 ||
      (col("vec_id") >= IncrementalSplit && col("vec_id") < IncrementalSplit + 10)
    def stageRow(stage: String, corpus: DataFrame, trained: DataFrame,
        queryPred: Column): DataFrame = {
      val exact = Similarity.bruteForceTopK(corpus, queryPred, 10)
        .select("query_id", "cand_id")
      val approx = Similarity.ivfTopK(corpus, queryPred, 10, trained = Some(trained))
        .select("query_id", "cand_id")
      val hits = exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      exact.agg(
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_exact_pairs"))
        .crossJoin(broadcast(hits))
        .select(lit(stage).as("stage"), col("n_queries"), col("n_exact_pairs"),
          col("n_hits"),
          round(col("n_hits").cast("double") / col("n_exact_pairs"), 6).as("recall_at_10"))
    }
    stageRow("1_before_drift", base, mRetrainStale(s, dir), col("vec_id") < 10)
      .unionByName(stageRow("2_stale_after_drift", drifted, mRetrainStale(s, dir), mixedPred))
      .unionByName(stageRow("3_after_retrain", drifted, mRetrainFresh(s, dir), mixedPred))
      .orderBy("stage")
  }

  /** The metadata cohort served by filtered ANN (labels 1/4/7, ~30% of
    * the corpus) and the widened probe budget that keeps recall when a
    * filter thins every probed list.
    */
  val FilteredAnnLabels: Seq[Int] = Seq(1, 4, 7)
  val FilteredAnnProbes = 8
  private def mIvfListsMeta(s: SparkSession, dir: String): DataFrame =
    Materialized.onDisk(s, dir, "ivf_lists_meta", partitionCols = Seq("cent_id"))(
        Similarity.ivfAssignments(emb(s, dir), mKmeansCos(s, dir), carryCols = Seq("label")))
      .withColumn("cent_id", col("cent_id").cast("long"))

  /** q276: FILTERED ANN — the hot production vector-search shape
    * ("top-k among docs WHERE <metadata>"): post-filtering a k-list
    * returns fewer than k, so the filter must hit the CANDIDATE side.
    * The lists artifact carries the metadata column (ivfAssignments
    * `carryCols`), so the predicate lands ON THE LISTS SCAN as a pushed
    * data filter — beside the cent_id dynamic partition pruning, both
    * plan-audited — and the probe budget widens 4→8 to keep recall
    * (each probed list thins to ~30%). Oracle: the same from-scratch
    * trajectory replay with the candidate set restricted to the cohort.
    */
  val annFiltered: Q = (s, dir) => {
    val lists = mIvfListsMeta(s, dir)
      .filter(col("label").isin(FilteredAnnLabels.map(Integer.valueOf): _*))
      .select("cent_id", "cand_id", "ce", "cn")
    Similarity.ivfTopKFromLists(lists, emb(s, dir), col("vec_id") < 20, k = 5,
        trained = mKmeansCos(s, dir), probes = FilteredAnnProbes)
      .orderBy("query_id", "rank")
  }

  /** q277: filtered-ANN RECALL — the accuracy audit that prices q276's
    * widened-probe trade: filtered-IVF top-10 vs the exact filtered
    * brute-force top-10 over the same cohort, one row (the q143
    * harness, candidate-filtered on both sides).
    */
  val annFilteredRecall: Q = (s, dir) => {
    val candPred = col("label").isin(FilteredAnnLabels.map(Integer.valueOf): _*)
    val exact = Similarity.bruteForceTopK(emb(s, dir), col("vec_id") < 20, 10,
        candPred = candPred)
      .select("query_id", "cand_id")
    val lists = mIvfListsMeta(s, dir).filter(candPred)
      .select("cent_id", "cand_id", "ce", "cn")
    val approx = Similarity.ivfTopKFromLists(lists, emb(s, dir), col("vec_id") < 20,
        k = 10, trained = mKmeansCos(s, dir), probes = FilteredAnnProbes)
      .select("query_id", "cand_id")
    val hits = exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    exact.agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact_pairs"))
      .crossJoin(broadcast(hits))
      .select(col("n_queries"), col("n_exact_pairs"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_exact_pairs"), 6).as("recall_at_10"))
  }

  val langId: Q = (s, dir) =>
    TextAnalysis
      .withLanguageId(docs(s, dir))
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted_lang")

  val textQuality: Q = (s, dir) =>
    TextAnalysis
      .withTextStats(docs(s, dir))
      // No rounding: these are per-row deterministic doubles with identical
      // expression shapes in both engines (bit-equal), and small-denominator
      // rationals can land exactly on round-half boundaries where engine
      // rounding semantics differ.
      .select("doc_id", "n_tokens", "avg_token_len", "stopword_ratio",
        "bpe_token_estimate", "quality_score")
      .orderBy("doc_id")

  val tokenCount: Q = (s, dir) =>
    TextAnalysis
      .withTextStats(docs(s, dir))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        sum(col("bpe_token_estimate")).as("total_bpe_tokens"),
        round(Num.davg(col("n_tokens")), 6).as("avg_tokens_per_doc"))
      .orderBy("source")

  val multimodalMeta: Q = (s, dir) =>
    Multimodal
      .withMediaMeta(docs(s, dir))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        round(Num.davg(col("width")), 6).as("avg_width"),
        round(Num.davg(col("height")), 6).as("avg_height"),
        sum(col("n_frames").cast("long")).as("total_frames"))
      .orderBy("source")

  val frameSample: Q = (s, dir) =>
    Multimodal
      .sampleFrames(docs(s, dir))
      .select(
        col("doc_id"), col("n_frames"), col("frame_idx"),
        octet_length(col("frame_bytes")).as("frame_len"),
        md5(col("frame_bytes")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  val embedCentroids: Q = (s, dir) =>
    Clustering
      .centroidsLong(emb(s, dir), "label")
      .orderBy("label", "dim")

  val hashSample: Q = (s, dir) =>
    Sampling
      .hashSample(docs(s, dir), "doc_id", keepPct = 20)
      .select("doc_id", "source", "bucket")
      .orderBy("doc_id")

  val splitAssign: Q = (s, dir) =>
    Sampling
      .withSplit(docs(s, dir), "doc_id")
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "split")

  /** q82: Gopher-style repetition quality filter over the corpus. */
  val repetition: Q = (s, dir) =>
    TextAnalysis.repetitionStats(docs(s, dir)).orderBy("doc_id")

  /** q83: stratified hash sampling — per-source keep rates. */
  val StrataRates = Map("src0" -> 50, "src1" -> 20)
  val StrataDefaultPct = 10
  val stratified: Q = (s, dir) =>
    Sampling
      .stratifiedSample(docs(s, dir), "doc_id", "source", StrataRates, StrataDefaultPct)
      .select("doc_id", "source", "bucket", "keep_pct")
      .orderBy("doc_id")

  /** q84: bloom-prefiltered exact semi join — events of users who made
    * a high-value purchase. Contract: identical to a plain semi join.
    */
  val bloomSemi: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val highValue = ev
      .filter(col("event_type") === "purchase" && col("value") > 200)
      .select("user_id")
    BloomJoin.semiJoin(ev, highValue, "user_id", estimatedItems = 10000L, numBits = 1L << 17)
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** q85: TF-IDF top-3 terms per document. */
  val tfidf: Q = (s, dir) =>
    TextAnalysis.tfidfTopTerms(docs(s, dir), k = 3).orderBy("doc_id", "rank")

  /** q94: edit-distance (typo-level) near-dup pairs, blocked. */
  val fuzzyPairs: Q = (s, dir) =>
    Dedup.editDistancePairs(docs(s, dir)).orderBy("d1", "d2")

  /** q222: entity resolution end-to-end — the record-linkage
    * composition: blocked Jaro–Winkler match pairs (q194's generator)
    * → connected components → a COMPLETE canonical entity table (every
    * document assigned; docs with no match are their own entity). The
    * merge/purge read a dedup pipeline actually ships — q52 resolves
    * the near-dup graph, this one also carries the singleton majority
    * so the output is a total doc_id → entity mapping.
    */
  val entityResolution: Q = (s, dir) => {
    val d = docs(s, dir)
    val cc = Dedup.connectedComponents(
      Dedup.jaroWinklerPairs(d).select("d1", "d2"))
    d.select("doc_id").join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("entity_rep"),
        coalesce(col("cluster_size"), lit(1L)).as("entity_size"),
        (coalesce(col("cluster_rep"), col("doc_id")) === col("doc_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** q95: benchmark decontamination — shared 3-grams vs an eval set. */
  val contamination: Q = (s, dir) =>
    Corpus.contamination(docs(s, dir), col("doc_id") < 10).orderBy("doc_id")

  /** q96: PMI collocations — corpus-level top-50 associated pairs. */
  val pmi: Q = (s, dir) =>
    TextAnalysis.pmiCollocations(docs(s, dir))

  /** q99: per-vector element statistics — the higher-order-function
    * surface (array_min/max, filter, exists, sequential aggregate fold)
    * as pure narrow codegen'd projections.
    */
  val vecStats: Q = (s, dir) =>
    emb(s, dir).select(
      col("vec_id"),
      array_min(col("embedding")).as("min_v"),
      array_max(col("embedding")).as("max_v"),
      size(filter(col("embedding"), x => x > lit(0f))).as("n_pos"),
      (aggregate(col("embedding"), lit(0d), (a, x) => a + x.cast("double"))
        / size(col("embedding"))).as("mean_v"),
      exists(col("embedding"), x => abs(x) > lit(0.9f)).as("has_large"))
      .orderBy("vec_id")

  /** q100: the composed quality gate over every text signal family. */
  val qualityGate: Q = (s, dir) =>
    mQualityGate(s, dir).orderBy("doc_id")

  /** q98: character-entropy degenerate-text detector. */
  val entropy: Q = (s, dir) =>
    TextAnalysis.charEntropy(docs(s, dir)).orderBy("doc_id")

  /** q86: bigram-LM (perplexity-style) quality score per doc. */
  val bigramLm: Q = (s, dir) =>
    TextAnalysis.bigramLmScore(docs(s, dir)).orderBy("doc_id")

  /** q265: the GLOBAL-order twin of q87 — one packing stream over the
    * whole corpus via the two-level prefix sum (per-bucket keyed
    * windows + a tiny bucket-offset frame; never a corpus-wide
    * single-partition window), censused per training chunk: docs
    * starting there, token mass, boundary straddlers.
    */
  val globalPacking: Q = (s, dir) =>
    Corpus.globalPackingCensus(docs(s, dir))

  /** q87: concat-then-chunk sequence packing per source. */
  val packSeqs: Q = (s, dir) =>
    Corpus.packSequences(docs(s, dir), tokenBudget = 256).orderBy("source", "doc_id")

  /** q88: sliding-window token chunking with overlap. */
  val chunks: Q = (s, dir) =>
    Corpus.chunkTokens(docs(s, dir), chunkTokens = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")

  /** q89: int8 absmax quantization of the embedding corpus. */
  val quantize: Q = (s, dir) =>
    Similarity.quantizeInt8(emb(s, dir)).orderBy("vec_id")

  val textClean: Q = (s, dir) =>
    TextAnalysis
      .withCleanText(docs(s, dir))
      .select(
        col("doc_id"),
        md5(col("clean_text")).as("clean_md5"),
        col("clean_len"), col("clean_tokens"))
      .orderBy("doc_id")

  /** q101: normalized PageRank over the symmetrized embedding
    * similarity graph — centrality as a document-quality weight, the
    * web-graph signal pretraining pipelines attach to crawl data.
    */
  val pagerank: Q = (s, dir) => {
    // 0.15 (vs the near-dup 0.40) keeps most of the corpus connected:
    // centrality needs the broad similarity graph, not just duplicates.
    // Bounded generator: the whole corpus feeds the edge join, so the
    // candidate blocks must be capped (label ∧ LSH bucket).
    val pairs = mNearDup15(s, dir)
    Graph.pageRank(
      pairs.select(col("v1").as("src"), col("v2").as("dst"))
        .unionByName(pairs.select(col("v2").as("src"), col("v1").as("dst"))))
      .orderBy("id")
  }

  /** q320: PHRASE percolation — standing match_phrase queries (ordered
    * adjacency, completing the percolator family: conjunctive q289,
    * boolean q293, positional q320), with the streaming twin in
    * StreamPercolate.phraseAlerts.
    */
  val phrasePercolatorQ: Q = (s, dir) =>
    TextAnalysis.percolatePhraseCensus(mPostings(s, dir))

  /** q318: fill-in-the-middle example generation — the causal-infilling
    * transform beside q154's T5 span corruption, with md5-derived
    * deterministic cut points and both PSM/SPM canonical orders.
    */
  val fimQ: Q = (s, dir) =>
    Corpus.fimExamples(docs(s, dir)).orderBy("doc_id")

  /** q319: relative SPAM MASS (Gyöngyi et al. — the detection signal
    * TrustRank exists for): the share of a node's PageRank NOT
    * accounted for by trust flowing from the good seeds,
    * (pr − trust)/pr. Both trajectories ride the exact integer
    * micro-rank arithmetic and the total teleport mass is identical
    * (0.15e6·N, uniform vs seed-concentrated), so the subtraction is
    * meaningful; seed-adjacent nodes go NEGATIVE (over-trusted) — the
    * sign is the read.
    */
  val spamMassQ: Q = (s, dir) => {
    val pairs = mNearDup15(s, dir)
    val edges = pairs.select(col("v1").as("src"), col("v2").as("dst"))
      .unionByName(pairs.select(col("v2").as("src"), col("v1").as("dst")))
      .localCheckpoint()
    val qs = TextAnalysis.withTextStats(docs(s, dir))
      .select(col("doc_id"), col("quality_score"))
    val cut = qs.agg(round(percentile(col("quality_score"), lit(2.0 / 3)), 6).as("c2"))
    val seeds = qs.crossJoin(broadcast(cut))
      .filter(col("quality_score") > col("c2"))
      .select(col("doc_id").as("id"))
    Graph.pageRank(edges).select(col("id"), col("pagerank"))
      .join(Graph.trustRank(edges, seeds)
        .select(col("id"), col("is_seed"), col("trust")), "id")
      .withColumn("spam_mass",
        round((col("pagerank") - col("trust")) / col("pagerank"), 6))
      .select(col("id"), col("is_seed"),
        round(col("pagerank"), 6).as("pagerank"),
        round(col("trust"), 6).as("trust"), col("spam_mass"))
      .orderBy("id")
  }

  /** q323: HITS hubs & authorities (Kleinberg 1999) on the
    * provenance-DIRECTED near-dup graph — every pair pointed newer doc
    * → older doc, the dedup family's first-occurrence convention
    * (q313/q314) read as citation: AUTHORITIES are the canonical
    * originals near-dup mass converges on (keep, weight up),
    * HUBS are the serial re-packagers whose output is mostly copies
    * (down-weight at ingest). Same bounded pair generator as
    * q101/q316/q319; integer max-normalized trajectory, both engines
    * replay all five rounds exactly.
    */
  val hitsQ: Q = (s, dir) => {
    val pairs = mNearDup15(s, dir)
    Graph.hits(pairs.select(col("v2").as("src"), col("v1").as("dst")))
      .select(col("id"), round(col("hub"), 6).as("hub"),
        round(col("authority"), 6).as("authority"))
      .orderBy("id")
  }

  /** q326: k-CORE of the near-dup graph (Seidman 1983) — the dense
    * duplication NUCLEUS: nodes whose neighborhoods are themselves
    * dense (template farms, mass-reposted boilerplate), found by
    * iterative peeling to a fixpoint. Complements degree (q101 in/out
    * mass) and clustering (q132 triangles): coreness is the signal
    * that survives when a high-degree node's neighbors are all
    * one-off. Same bounded pair generator as the rest of the family.
    */
  val KCoreK = 2
  val kCoreQ: Q = (s, dir) =>
    Graph.kCore(
      mNearDup15(s, dir)
        .select(col("v1"), col("v2")), k = KCoreK)
      .orderBy("id")

  /** q327: semi-supervised LABEL PROPAGATION (Zhu & Ghahramani 2002)
    * over the similarity graph — the trusted half of the corpus
    * (hash-split seeds, the q141 discipline) spreads its labels 3
    * synchronous majority rounds; the masked half reads back predicted
    * vs true label. The weak-supervision primitive (label the corpus
    * from a small audited set) doubling as the graph-coherence audit
    * (how label-pure are near-dup neighborhoods?).
    */
  val labelPropQ: Q = (s, dir) => {
    val pairs = mNearDup15(s, dir)
    val edges = pairs.select(col("v1").as("src"), col("v2").as("dst"))
      .unionByName(pairs.select(col("v2").as("src"), col("v1").as("dst")))
    val seeds = emb(s, dir)
      .filter(Sampling.hashBucket(col("vec_id")) < RecallAuditPct)
      .select(col("vec_id").as("id"), col("label"))
    Graph.labelProp(edges, seeds)
      .join(emb(s, dir).select(col("vec_id").as("id"),
        col("label").as("true_label")), "id")
      .select(col("id"), col("is_seed"), col("pred_label"), col("true_label"),
        when(col("pred_label").isNotNull,
          col("pred_label") === col("true_label")).as("correct"))
      .orderBy("id")
  }

  /** q339: CONFIDENCE-WEIGHTED label propagation — q327 with each
    * vote weighted by the edge's rounded cosine (Zhu & Ghahramani's W
    * matrix): a 0.9-similar neighbor pulls harder than a 0.15 one, so
    * spread respects how close each neighborhood actually is. Same seeds,
    * same holdout readback; decimal vote sums keep the trajectory
    * engine-exact.
    */
  val labelPropWeightedQ: Q = (s, dir) => {
    val pairs = mNearDup15(s, dir)
    val edges = pairs.select(col("v1").as("src"), col("v2").as("dst"),
        col("cosine_sim").as("w"))
      .unionByName(pairs.select(col("v2").as("src"), col("v1").as("dst"),
        col("cosine_sim").as("w")))
    val seeds = emb(s, dir)
      .filter(Sampling.hashBucket(col("vec_id")) < RecallAuditPct)
      .select(col("vec_id").as("id"), col("label"))
    Graph.labelPropWeighted(edges, seeds)
      .join(emb(s, dir).select(col("vec_id").as("id"),
        col("label").as("true_label")), "id")
      .select(col("id"), col("is_seed"), col("pred_label"), col("true_label"),
        when(col("pred_label").isNotNull,
          col("pred_label") === col("true_label")).as("correct"))
      .orderBy("id")
  }

  /** q317: MODULARITY of the quantizer partition over the similarity
    * graph (Newman & Girvan 2004) — DOES the trained clustering carve
    * the corpus at its joints? Per cluster: internal-edge share minus
    * the squared degree share (the null-model expectation); Σ = the
    * classic Q. Edge and degree counts are exact integers off the
    * SAME bounded pair generator as q101/q316; the assignment is the
    * q282 quantizer map — so this audits an artifact the pipeline
    * already ships, with no new candidate generation.
    */
  val modularityQ: Q = (s, dir) =>
    Graph.modularity(
      mNearDup15(s, dir)
        .select(col("v1"), col("v2")),
      Similarity.ivfAssignments(emb(s, dir), mKmeansCos(s, dir))
        .select(col("cand_id").as("id"), col("cent_id")))

  /** q316: TrustRank over the similarity graph — personalized PageRank
    * whose teleport mass lands only on the quality-head tercile (the
    * q284 cutoff convention): trust flows outward from known-good docs,
    * the quality-PROPAGATION signal beside q101's raw centrality.
    */
  val trustRankQ: Q = (s, dir) => {
    val pairs = mNearDup15(s, dir)
    val edges = pairs.select(col("v1").as("src"), col("v2").as("dst"))
      .unionByName(pairs.select(col("v2").as("src"), col("v1").as("dst")))
    val qs = TextAnalysis.withTextStats(docs(s, dir))
      .select(col("doc_id"), col("quality_score"))
    val cut = qs.agg(round(percentile(col("quality_score"), lit(2.0 / 3)), 6).as("c2"))
    val seeds = qs.crossJoin(broadcast(cut))
      .filter(col("quality_score") > col("c2"))
      .select(col("doc_id").as("id"))
    Graph.trustRank(edges, seeds).orderBy("id")
  }

  /** q102: VARIANT semi-structured shred — one parse_json per event,
    * typed path extraction, then a per-type rollup over the extracted
    * field (exact decimal-backed mean).
    */
  val variantShred: Q = (s, dir) =>
    SemiStructured.shredProps(Tables(s, dir, "events"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("prop_k")).as("min_k"),
        max(col("prop_k")).as("max_k"),
        sum(col("prop_k").cast("long")).as("sum_k"),
        round(Num.davg(col("prop_k")), 6).as("avg_k"))
      .orderBy("event_type")

  /** q103: directed n-gram containment — sub-document duplication. */
  val containment: Q = (s, dir) =>
    Dedup.containmentPairs(docs(s, dir)).orderBy("d1", "d2")

  /** q104: deterministic weighted sample (A-ES, weight = n_chars). */
  val weightedSample: Q = (s, dir) =>
    Sampling.weightedSample(docs(s, dir), "doc_id", "n_chars", k = 100)
      .select("doc_id", "source", "n_chars", "es_key")

  /** q105: the end-to-end dedup decision list — keep/drop verdict for
    * every corpus doc, canonical member per near-dup cluster.
    */
  val canonicalKeep: Q = (s, dir) =>
    // the decision list derives from the STORED cluster map; the corpus
    // pin covers the n_chars ranking + full-doc-id left join re-reads
    Dedup.canonicalKeepFrom(docs(s, dir).cache(), mClusters(s, dir)).orderBy("doc_id")

  /** q109: per-dimension embedding diagnostics (mean/std/min/max) —
    * the drift/collapse check run before indexing an embedding corpus.
    * One posexplode + keyed agg: the word-count shuffle shape.
    */
  val dimStats: Q = (s, dir) =>
    emb(s, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + 1).cast("int").as("dim"), col("v").cast("double").as("v"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        round(Num.davg(col("v")), 6).as("mean_v"),
        round(Num.dstddev(col("v")), 6).as("std_v"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .orderBy("dim")

  /** q110: Zipf-law fit over corpus word frequencies. */
  val zipf: Q = (s, dir) => TextAnalysis.zipfFit(docs(s, dir))

  /** Audit-sampling contract for the recall/calibration queries
    * (q111/q143/q144/q160): an accuracy audit inherently needs an EXACT
    * reference — all-pairs within label blocks, or a brute-force
    * ranking per query point — which is affordable only over a
    * deterministic hash-sample of the vectors. [[RecallAuditPct]]
    * samples the pair-recall audit's vectors (pairs of sampled points
    * are an unbiased sample of the pair population);
    * [[AnnAuditPct]] samples the top-k audits' QUERY points (each
    * sampled query is still ranked against the FULL corpus — the side
    * under audit is never sampled). Both knobs are part of the query
    * contract, mirrored in the oracles; at production scale they are
    * what keeps the exact branch linear in the sample, not the corpus.
    */
  val RecallAuditPct = 50
  val AnnAuditPct = 4
  private def annAuditPred = Sampling.hashBucket(col("vec_id")) < AnnAuditPct
  private val annAuditPredSql = s"${Sampling.O.hashBucket("vec_id")} < $AnnAuditPct"

  /** q111: ANN candidate-generation RECALL — the share of exact
    * near-dup pairs the sign-LSH bucketing reproduces, plus the
    * candidate volume it pays for them. The evaluation a pipeline runs
    * before trusting approximate dedup at scale; one row out, so the
    * scalar cross-joins are single-row broadcasts. The exact branch
    * runs over the [[RecallAuditPct]] hash-sample; the bucket table and
    * candidate-volume cost metric stay full-corpus (they price the
    * PRODUCTION index, not the audit). Threshold 0.15 is the
    * graph-family operating point (q53/q101/q132) — the pair
    * population the LSH candidate generation actually serves.
    */
  val lshRecall: Q = (s, dir) => {
    val e = emb(s, dir)
    val sampled = e.filter(Sampling.hashBucket(col("vec_id")) < RecallAuditPct)
    val exact = Similarity.nearDupPairs(sampled, threshold = 0.15).select("v1", "v2")
    val b = e.select(col("vec_id"), Similarity.bucketOf(col("embedding")).as("bucket"))
    // candidate VOLUME needs no pair materialization: Σ C(size,2) over
    // buckets (s·(s−1) is even, so the integer division is exact)
    val nCand = b.groupBy("bucket").agg(count(lit(1)).as("s"))
      .agg(sum(expr("(s * (s - 1)) div 2")).as("n_candidates"))
    // a pair is a HIT when both sides share a bucket: two keyed joins
    // of the (small) exact pair set against the bucket table — the
    // bucket table is O(corpus), NEVER broadcast; AQE broadcasts the
    // pair side when it fits. n_exact and n_hit then come from the SAME
    // single-pass aggregation (an earlier version semi-joined a
    // materialized candidate pair set, evaluating the cosine self-join
    // and the bucket join twice each)
    exact
      .join(b.select(col("vec_id").as("v1"), col("bucket").as("b1")), "v1")
      .join(b.select(col("vec_id").as("v2"), col("bucket").as("b2")), "v2")
      .agg(count(lit(1)).as("n_exact"),
        count(when(col("b1") === col("b2"), 1)).as("n_hit"))
      .crossJoin(nCand)
      .select(col("n_exact"), col("n_candidates"), col("n_hit"),
        round(col("n_hit") / col("n_exact"), 6).as("recall"))
  }

  /** q113: Count-Min-Sketch heavy hitters — the exact top-20 corpus
    * words priced against the mergeable CMS frequency estimate (min over
    * the word's Depth buckets; always an overcount). The sketch is ONE
    * 8 KB array aggregated with map-side partials and broadcast back —
    * at 100 TB the exact branch is the cost, the sketch is free; in a
    * real pipeline the sketch REPLACES the exact count and this query is
    * the calibration run that justifies it.
    */
  val cmsHeavyHitters: Q = (s, dir) => {
    import graft.functions.{Sketch, Text}
    val words = docs(s, dir).select(explode(Text.words(col("text"))).as("w"))
    val sketch = words.agg(Sketch.cmsMd5(col("w")).as("cms"))
    val top = words.groupBy("w").agg(count(lit(1)).as("exact_c"))
      .orderBy(desc("exact_c"), col("w")).limit(20)
    top.crossJoin(broadcast(sketch))
      .select(col("w"), col("exact_c"),
        Sketch.cmsEstimate(col("cms"), col("w")).as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("exact_c"))
      .orderBy(desc("exact_c"), col("w"))
  }

  /** q114: exact duplicate-substring spans — the word ranges of each
    * document whose 8-grams also occur in another document (span-level
    * boilerplate removal, the pass document-level dedup can't express).
    */
  val dupSpans: Q = (s, dir) =>
    Dedup.duplicateSpans(docs(s, dir)).orderBy("doc_id", "span_start")

  /** q294: exact substring-level dedup CLEANING — q114's census turned
    * into the Lee et al. 2022 removal pass (keep the corpus-wide first
    * occurrence of every duplicated 8-gram, erase the rest), with the
    * surviving text fingerprinted per doc.
    */
  val substringRemovalQ: Q = (s, dir) =>
    mSubstring(s, dir).orderBy("doc_id")

  /** q295: BLEU over the MinHash-LSH candidate pairs — the exact
    * evaluation-metric verification stage after approximate candidate
    * generation (the q94 two-stage shape, with the metric the
    * generation-eval literature standardizes on).
    */
  val bleuPairsQ: Q = (s, dir) =>
    TextAnalysis.bleuPairs(docs(s, dir), pairs = Some(mMinhashPairs(s, dir)))

  /** q296: ROUGE-1/2 precision/recall/F1 over the same LSH pairs. */
  val rougePairsQ: Q = (s, dir) =>
    TextAnalysis.rougePairs(docs(s, dir), pairs = Some(mMinhashPairs(s, dir)))

  /** q297: Flesch reading-ease + Flesch–Kincaid grade per document. */
  val readabilityQ: Q = (s, dir) =>
    TextAnalysis.readability(docs(s, dir)).orderBy("doc_id")

  /** q298: mixture diversity census — Shannon/Simpson/Gini over the
    * token mass by source and by lang.
    */
  val diversityQ: Q = (s, dir) =>
    Sampling.diversityCensus(docs(s, dir))

  /** q299: seeded deterministic resumable training order — per-batch
    * manifest with an order fingerprint (two-level prefix-sum rank,
    * never a corpus-wide single-partition window).
    */
  val trainingOrderQ: Q = (s, dir) =>
    Corpus.trainingOrder(docs(s, dir))

  /** q300: curriculum training order — quality-tercile phases
    * (easy→hard), seeded shuffle inside each phase, phase-mix audit
    * per batch.
    */
  val curriculumOrderQ: Q = (s, dir) =>
    Corpus.curriculumOrder(docs(s, dir))

  /** q301: n-gram novelty curve along the q299 training order — new
    * distinct 3-grams per batch + the cumulative Heaps growth.
    */
  val noveltyCurveQ: Q = (s, dir) =>
    Corpus.noveltyCurve(docs(s, dir))

  /** q302: substring-dedup gate at ingest — the arriving delta
    * (doc_id >= [[IncrementalSplit]]) cleaned against the frozen
    * 8-gram set of the base corpus, the stream-static serving half of
    * q294 (same operator the StreamCuration twin runs per
    * micro-batch).
    */
  val substringGateQ: Q = (s, dir) => {
    val d = docs(s, dir)
    // the gate tokenizes its batch in three subtrees — hand it a cached
    // narrow frame so one scan feeds all three (the operator itself
    // must not pin: it also runs per streaming micro-batch)
    Dedup.substringGate(
      d.filter(col("doc_id") >= IncrementalSplit)
        .select(col("doc_id"), col("text")).cache(),
      Dedup.gramSet(d.filter(col("doc_id") < IncrementalSplit)))
      .orderBy("doc_id")
  }

  /** The lived-in GRAM-SET store — the third IndexStore family (q271's
    * vector lists, q272's postings, now the substring-dedup gram set):
    * base generation = grams of the base corpus; batch A arrives via
    * the gate-then-absorb discipline (StreamGramSet, batch-side — its
    * verdicts gated against base only); compaction merges base ∪ A
    * into generation 1 behind the atomic pointer.
    */
  private def gramStoreRoot(s: SparkSession, dir: String): String =
    builtStore(dir, "gram_store") { r =>
      val d = docs(s, dir)
      graft.warehouse.IndexStore.writeBase(
        Dedup.gramSet(d.filter(col("doc_id") < IncrementalSplit)), r)
      graft.streaming.StreamGramSet.gateAndAbsorb(
        d.filter(col("doc_id") >= IncrementalSplit && col("doc_id") < FragmentSplit),
        r, 0L)
      graft.warehouse.IndexStore.compact(s, r,
        graft.streaming.StreamGramSet.GramSchema)
    }

  /** q310: the gram-store LIFECYCLE gate — batch B scrubbed against the
    * lived-in store (base generation, one absorbed gate-then-absorb
    * fragment, a compaction swap) ≡ the from-scratch gram set of
    * everything before B: the q302 oracle at the moved split, one hash
    * gate over the whole ingest × compaction × serving composition.
    */
  val gramStoreGateQ: Q = (s, dir) => {
    val root = gramStoreRoot(s, dir)
    // cached narrow batch: see substringGateQ
    Dedup.substringGate(
      docs(s, dir).filter(col("doc_id") >= FragmentSplit)
        .select(col("doc_id"), col("text")).cache(),
      graft.warehouse.IndexStore.read(s, root,
        graft.streaming.StreamGramSet.GramSchema))
      .orderBy("doc_id")
  }

  /** The gram store AFTER a corpus erasure — the set-keyed family's
    * GDPR path (q273/q274's tombstones don't apply: gram keys are not
    * doc-owned, a shared gram must survive if ANY surviving doc
    * contains it): the lived-in q310 store (base + absorbed fragment +
    * compaction) followed by `IndexStore.rebase` with the gram set
    * RE-DERIVED from the surviving corpus (lang ≠ 'de'), swapped in as
    * the next generation behind the atomic pointer.
    */
  private def gramStoreErasedRoot(s: SparkSession, dir: String): String =
    builtStore(dir, "gram_store_erased") { r =>
      val d = docs(s, dir)
      graft.warehouse.IndexStore.writeBase(
        Dedup.gramSet(d.filter(col("doc_id") < IncrementalSplit)), r)
      graft.streaming.StreamGramSet.gateAndAbsorb(
        d.filter(col("doc_id") >= IncrementalSplit && col("doc_id") < FragmentSplit),
        r, 0L)
      graft.warehouse.IndexStore.compact(s, r,
        graft.streaming.StreamGramSet.GramSchema)
      graft.warehouse.IndexStore.rebase(
        Dedup.gramSet(d.filter(
          col("doc_id") < FragmentSplit && col("lang") =!= "de")), r)
    }

  /** q312: the erasure-rebuilt gram store serves the gate — batch B
    * scrubbed against the REBASED store ≡ the from-scratch gram set of
    * the SURVIVING pre-B corpus: grams whose only carriers were erased
    * docs stop gating (their reuse is novel again), shared grams keep
    * gating — the semantics only rebuild-from-survivors gives.
    */
  val gramStoreErasedQ: Q = (s, dir) => {
    val root = gramStoreErasedRoot(s, dir)
    // cached narrow batch: see substringGateQ
    Dedup.substringGate(
      docs(s, dir).filter(col("doc_id") >= FragmentSplit)
        .select(col("doc_id"), col("text")).cache(),
      graft.warehouse.IndexStore.read(s, root,
        graft.streaming.StreamGramSet.GramSchema))
      .orderBy("doc_id")
  }

  /** q313: per-source substring-dedup burden — q294's census grouped
    * by source: raw vs surviving token mass per feed, the "who carries
    * the duplication" read beside q283's doc-level soft-dedup.
    */
  val sourceDupBurdenQ: Q = (s, dir) => {
    val d = docs(s, dir)
    mSubstring(s, dir)
      .join(d.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_removed")).as("n_removed"))
      .withColumn("removed_share",
        round(col("n_removed").cast("double") / col("n_tokens"), 6))
      .orderBy("source")
  }

  /** q314: the directed boilerplate-flow matrix — redundant substring
    * occurrences attributed to the SOURCE of their first occurrence
    * (who copies whom; diagonal = within-feed duplication).
    */
  val boilerplateFlowQ: Q = (s, dir) =>
    Dedup.boilerplateFlow(docs(s, dir))

  /** q303: deterministic systematic resampling — k quality-weighted
    * with-replacement draws, exactly proportional, zero randomness.
    */
  val systematicResampleQ: Q = (s, dir) =>
    Sampling.systematicResample(docs(s, dir))

  /** q304: LSH band-configuration tuning curve — candidate volume,
    * precision, recall vs the exact-Jaccard truth set for each
    * (bands, rows) factorization of the 16-component signature.
    */
  val lshTuningQ: Q = (s, dir) =>
    Dedup.lshTuningCurve(docs(s, dir))

  /** q305: mixture-balanced interleaved training order (stride
    * scheduling) — every batch reproduces the corpus source mix,
    * deterministically, with the per-batch deviation audited.
    */
  val mixtureInterleaveQ: Q = (s, dir) =>
    Corpus.mixtureInterleave(docs(s, dir))

  /** q307: ROUGE-L over the LSH pairs — LCS subsequence overlap via
    * the codegen'd word_lcs kernel (order-sensitive where q296's
    * n-gram multisets are not).
    */
  val rougeLQ: Q = (s, dir) =>
    TextAnalysis.rougeLPairs(docs(s, dir), pairs = Some(mMinhashPairs(s, dir)))

  /** q306: windowed KN-perplexity localization — the q279 quality
    * signal resolved to the worst window INSIDE each doc ("trim here",
    * not just "drop this").
    */
  val knWindowLocalizeQ: Q = (s, dir) =>
    TextAnalysis.knWindowLocalize(docs(s, dir), col("source") =!= "src0")
      .orderBy("doc_id")

  /** q309: chrF2 over the LSH pairs — the character-level MT metric
    * (tokenization-robust where word n-grams are brittle).
    */
  val chrfQ: Q = (s, dir) =>
    TextAnalysis.chrfPairs(docs(s, dir), pairs = Some(mMinhashPairs(s, dir)))

  /** q311: WER over the LSH pairs — word-level edit distance /
    * reference length, the edit-based complement to q307's
    * subsequence view.
    */
  val werQ: Q = (s, dir) =>
    TextAnalysis.werPairs(docs(s, dir), pairs = Some(mMinhashPairs(s, dir)))

  /** q315: pair-metric agreement — Spearman between BLEU / ROUGE-L /
    * chrF2 / WER over the shared pairs (the q201 discipline for the
    * eval family; WER anti-correlates by construction).
    */
  val metricAgreementQ: Q = (s, dir) =>
    TextAnalysis.metricAgreement(docs(s, dir), pairs = Some(mMinhashPairs(s, dir)))

  /** q308: the DATASET CARD — the one-row datasheet (Gebru et al.
    * 2021) a corpus release ships: volume, composition, duplication
    * (exact-doc AND substring-level), diversity, and quality summary,
    * each number the same machinery its dedicated query hash-gates.
    * Every component is a 1-row aggregate; the card is their broadcast
    * cross-join — one pass per signal family, no new shuffle shapes.
    */
  val datasetCardQ: Q = (s, dir) => {
    import graft.functions.Num
    val d = docs(s, dir)
    val stats = TextAnalysis.withTextStats(d)
    val basic = stats.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens").cast("long")).as("n_tokens"),
      round(Num.davg(col("quality_score")), 6).as("mean_quality"),
      round(percentile(col("n_tokens"), lit(0.5)), 6).as("median_doc_tokens"))
    val dims = d.agg(
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"))
    val dup = d.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("c"))
      .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_exact_dup_docs"))
    val span = mSubstring(s, dir)
      .agg((sum(col("n_removed")).cast("double") / sum(col("n_tokens"))).as("r"))
      .select(round(col("r"), 6).as("dup_token_share"))
    val div = Sampling.diversityCensus(d)
      .filter(col("dim") === "source")
      .select(col("shannon").as("source_shannon"), col("gini").as("source_gini"))
    basic.crossJoin(broadcast(dims)).crossJoin(broadcast(dup))
      .crossJoin(broadcast(span)).crossJoin(broadcast(div))
  }

  /** q115: sharded inverted index — per term, doc-id posting lists cut
    * into fixed-size shards (row size is bounded by ShardSize no matter
    * how hot the term). Document frequency is decided BEFORE any list
    * materializes (distinct pairs → keyed count → df filter → join
    * back), so a stop word past MaxDf costs one counter, never an
    * unbounded collect buffer. Posting arrays are emitted as scalars
    * (md5 of the csv + count + endpoints) per the array-output
    * convention (cf. q89).
    */
  val InvIdxMinDf = 5
  val InvIdxMaxDf = 10000
  val InvIdxShard = 64
  val invertedIndex: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Text
    val pairs = docs(s, dir)
      .select(col("doc_id"), explode(Text.words(col("text"))).as("term"))
      .distinct()
    val terms = pairs.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df").between(InvIdxMinDf, InvIdxMaxDf))
    val w = Window.partitionBy("term").orderBy("doc_id")
    pairs.join(terms, "term")
      .withColumn("shard", ((row_number().over(w) - 1) / InvIdxShard).cast("int"))
      .groupBy("term", "df", "shard")
      .agg(
        count(lit(1)).as("n"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        md5(concat_ws(",", sort_array(collect_list(col("doc_id"))).cast("array<string>")))
          .as("postings_md5"))
      .orderBy("term", "shard")
  }

  /** q116: key-skew diagnostic profile — the one-row report (key count,
    * max/avg/percentile key sizes, hottest key, skew ratio) a pipeline
    * reads before choosing salting / AQE-skew settings for a join or
    * aggregation. One keyed count + one scalar aggregate; the top key is
    * a TakeOrderedAndProject single row, cross-joined as a broadcast
    * scalar.
    */
  val keySkew: Q = (s, dir) => {
    val counts = Tables(s, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("c"))
    val top = counts.orderBy(desc("c"), col("user_id")).limit(1)
      .select(col("user_id").as("top_key"), col("c").as("top_c"))
    counts
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("max_c"),
        round(Num.davg(col("c")), 6).as("avg_c"),
        round(percentile(col("c"), lit(0.5)), 6).as("p50_c"),
        round(percentile(col("c"), lit(0.99)), 6).as("p99_c"))
      .crossJoin(broadcast(top))
      .withColumn("skew_ratio", round(col("max_c") / col("avg_c"), 6))
  }

  /** q123: training-mixture composer — given target corpus shares per
    * source, the per-source keep rate and expected token yield that hit
    * the mixture. The planning step before a weighted-sampling pass; one
    * keyed token count + a broadcast scalar total.
    */
  val MixtureTargets = Map("src0" -> 20, "src1" -> 15) // % of the mix
  val MixtureDefaultPct = 5
  val mixture: Q = (s, dir) => {
    import graft.functions.Text
    val perSource = docs(s, dir)
      .select(col("source"), size(Text.words(col("text"))).as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("actual_tokens"))
    val total = perSource.agg(sum(col("actual_tokens")).as("total_tokens"))
    val share = MixtureTargets.foldRight(lit(MixtureDefaultPct)) {
      case ((src, pct), els) => when(col("source") === src, lit(pct)).otherwise(els)
    }
    perSource.crossJoin(broadcast(total))
      .withColumn("target_pct", share)
      .withColumn("target_tokens",
        col("total_tokens").cast("double") * col("target_pct") / 100.0)
      .withColumn("keep_pct", round(
        least(lit(1.0), col("target_tokens") / col("actual_tokens").cast("double")) * 100.0, 6))
      .withColumn("expected_tokens", round(
        col("actual_tokens").cast("double") *
          least(lit(1.0), col("target_tokens") / col("actual_tokens").cast("double")), 6))
      .select("source", "n_docs", "actual_tokens", "target_pct",
        "keep_pct", "expected_tokens")
      .orderBy("source")
  }

  /** q124: vocabulary coverage curve — the top-20 words ranked by
    * frequency with cumulative corpus share (the tokenizer-vocab sizing
    * read: how small a vocab covers 90% of tokens). TakeOrdered top-k,
    * then a constant-size window.
    */
  val vocabCoverage: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Text
    val words = docs(s, dir).select(explode(Text.words(col("text"))).as("w"))
    val total = words.agg(count(lit(1)).as("total"))
    val top = words.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("w")).limit(20)
    val wRank = Window.orderBy(desc("c"), col("w"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("cum_c",
        sum(col("c")).over(wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_share", round(col("cum_c").cast("double") / col("total"), 6))
      .withColumn("covers_90pct", col("cum_share") >= 0.9)
      .select("rank", "w", "c", "cum_c", "cum_share", "covers_90pct")
      .orderBy("rank")
  }

  /** q126: declarative expectations gate — constraint report (row
    * volume, PK uniqueness, null rate, value range, future timestamps)
    * evaluated in ONE aggregation pass; the publish/quarantine decision
    * an ingestion batch runs before its output becomes visible.
    */
  val expectationsGate: Q = (s, dir) => {
    import graft.operators.QualityChecks.{expectations, Expect}
    val e = Tables(s, dir, "events")
    expectations(e, Seq(
      Expect("min_rows", -count(lit(1)), -1000.0),
      Expect("pk_duplicates", count(lit(1)) - count_distinct(col("event_id")), 0.0),
      Expect("null_user_pct",
        lit(100.0) * count(when(col("user_id").isNull, 1)) / count(lit(1)), 1.0),
      Expect("value_out_of_range",
        count(when(col("value") < 0 || col("value") > 1000, 1)), 0.0),
      Expect("future_ts",
        count(when(col("ts") > lit("2026-01-01 00:00:00").cast("timestamp"), 1)), 0.0)))
      .orderBy("check_name")
  }

  /** q129: top principal direction of the embedding corpus — power
    * iteration without materializing the covariance matrix, every step
    * deterministic so the oracle replays the identical trajectory.
    */
  /** The RAW corpus's power trajectory as a session artifact: q129
    * returns it, and q246 / q253's "before" audit both need exactly
    * this frame for their lambda_max — one solve instead of three
    * identical O(iters × corpus-pass) trajectories (the mAbtt
    * discipline; values are deterministic, so consumer hashes are
    * unchanged vs re-deriving).
    */
  private def mPcaRaw(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "pca_raw")(
      Clustering.topPrincipalComponent(emb(s, dir)))

  val topPc: Q = (s, dir) =>
    mPcaRaw(s, dir).orderBy("dim")

  /** q246: embedding isotropy audit (All-but-the-top diagnostics) —
    * how much corpus energy the dominant direction and the common mean
    * carry; the health check run before trusting cosine retrieval on a
    * new embedding source.
    */
  val isotropy: Q = (s, dir) =>
    Clustering.isotropyAuditFrom(emb(s, dir), mPcaRaw(s, dir))

  /** q253: the All-but-the-top TRANSFORM closing the q246 loop — run
    * the isotropy audit, apply [[Clustering.allButTheTop]] (remove the
    * mean, project out the centered corpus's dominant component), and
    * audit again: `mean_dir_share` collapses to ~0 and `top_pc_share`
    * drops to the next eigenvalue's share. Two rows, before/after —
    * the measured proof the post-processing does what Mu & Viswanath
    * promise, decimal-deterministic like q246.
    */
  /** The transformed corpus as a session artifact ([[Materialized]]):
    * the transform's lineage nests the centered frame inside every
    * power-iteration step, so consumers re-reading the RAW plan would
    * re-run O(iters²) corpus passes per audit pass (measured: 20 s at
    * sf0.1 for q253 unpersisted, ~6 s persisted). Solved once per
    * (session, corpus), both q253 and q256 read the solved frame —
    * exactly the materialized-artifact discipline of mClusters/mDhashFp.
    */
  /** The deflation chain as session artifacts (q253/q256/q263 share
    * every link): `abtt_centered` is the mean-centered corpus;
    * `abtt_pc<l>` is the power trajectory over the (l−1)-residual;
    * `abtt_resid<l>` is the corpus with the top l components projected
    * out. Level 1 IS [[Clustering.allButTheTop]] (identical arithmetic,
    * so q253/q256 hashes are unchanged), and each trajectory/residual
    * is solved once per session however many queries consume it.
    */
  private def mAbttCentered(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "abtt_centered")(
      Clustering.centeredCorpus(emb(s, dir)))

  private def mAbttResid(s: SparkSession, dir: String, level: Int): DataFrame =
    if (level == 0) mAbttCentered(s, dir)
    else Materialized.of(s, dir, s"abtt_resid$level")(
      Clustering.projectOut(mAbttResid(s, dir, level - 1), mAbttPc(s, dir, level)))

  private def mAbttPc(s: SparkSession, dir: String, level: Int): DataFrame =
    Materialized.of(s, dir, s"abtt_pc$level")(
      Clustering.topPrincipalComponent(mAbttResid(s, dir, level - 1)))

  private def mAbtt(s: SparkSession, dir: String): DataFrame =
    mAbttResid(s, dir, 1)

  val abttTransform: Q = (s, dir) => {
    // the "before" audit is the identical raw-corpus trajectory q246
    // runs, and the "after" trajectory over the transformed corpus is
    // exactly the level-2 component of the q263 deflation chain — both
    // read shared artifacts; no trajectory runs twice in a session
    Clustering.isotropyAuditFrom(mAbtt(s, dir), mAbttPc(s, dir, 2))
      .select(lit("after").as("stage"), col("*"))
      .unionByName(
        Clustering.isotropyAuditFrom(emb(s, dir), mPcaRaw(s, dir))
          .select(lit("before").as("stage"), col("*")))
      .orderBy("stage")
  }

  /** q270: DELETION maintenance on the TEXT index — the posting-side
    * twin of q268: an erased doc cohort is an ANTI-FILTER on the
    * postings artifact (no re-tokenization of anything), and BM25's
    * corpus statistics (N, Σdl, df) shift with the erasure because
    * they derive from the filtered postings. The oracle re-tokenizes
    * the surviving corpus from scratch, so the hash gate proves
    * filter-on-read ≡ rebuild-without-them for ranked retrieval. With
    * q260 (insert) this completes CRUD on the text index.
    */
  val textDeletion: Q = (s, dir) => {
    val posts = mPostings(s, dir)
      .filter(col("doc_id") % 7 =!= 3) // the erased cohort
    TextAnalysis.bm25FromPostings(posts)
  }

  /** q263: All-but-the-top generalized to TOP-D components by deflated
    * power iteration — project out v₁, iterate on the residual for v₂,
    * project, iterate for v₃ ([[Clustering.projectOut]]). One row per
    * removed component D = 1..3: the trajectory's Rayleigh eigenvalue
    * estimate and the residual corpus's energy (trace) — absolute and
    * as a share of the centered corpus's total. The resid_share column
    * decays STRICTLY monotonically by construction (every deflation
    * removes ‖Xv̂‖² > 0 of energy, for any unit v̂), which is the audit
    * a flat-spectrum corpus still supports: the driver testdata is
    * deliberately near-isotropic after centering (λ₂/λ₁ ≈ 0.99), so
    * per-component Rayleigh estimates land within each other's
    * convergence error — the energy accounting, not the eigenvalue
    * ordering, is the monotone exhibit.
    *
    * Scale/determinism: O(D·iters) corpus passes total — the centered
    * frame and every residual are session artifacts (materialized
    * once), each trajectory reads a SOLVED frame; all cross-partition
    * sums ride decimal(38,12) and the loadings feeding each projection
    * are the 6-dp-rounded values both engines share, so the oracle
    * replays the identical chain.
    */
  val abttTopD: Q = (s, dir) => {
    val t0 = Clustering.corpusTrace(mAbttCentered(s, dir))
    (1 to 3).map { d =>
      mAbttPc(s, dir, d).agg(max(col("eigenvalue")).as("eigenvalue"))
        .crossJoin(broadcast(
          Clustering.corpusTrace(mAbttResid(s, dir, d))
            .select(col("trace").as("rt"))))
        .crossJoin(broadcast(t0))
        .select(lit(d).as("comp"), col("eigenvalue"),
          round(col("rt"), 6).as("resid_trace"),
          round(col("rt") / col("trace"), 6).as("resid_share"))
    }.reduce(_ unionByName _).orderBy("comp")
  }

  /** q130: n-gram novelty — per document, the share of its distinct
    * 3-grams never seen in any EARLIER document (doc_id order): the
    * incremental-crawl value signal (a doc that is 90% old grams adds
    * little). First-occurrence attribution is one keyed min + one keyed
    * join — no pair set.
    */
  val novelty: Q = (s, dir) => {
    import graft.functions.Text
    val g = docs(s, dir)
      .select(col("doc_id"), explode(array_distinct(Text.shingles(col("text")))).as("g"))
    val firstSeen = g.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
    g.join(firstSeen, "g")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        count(when(col("first_doc") < col("doc_id"), 1)).as("n_seen_before"))
      .withColumn("novelty",
        round((col("n_grams") - col("n_seen_before")).cast("double") / col("n_grams"), 6))
      .orderBy("doc_id")
  }

  /** q131: incremental ingest dedup — new batch (doc_id >= 400) flagged
    * exact / band-near-dup against the existing corpus.
    */
  val IncrementalSplit = 400L
  val incrementalDedup: Q = (s, dir) =>
    Dedup.incrementalFlags(docs(s, dir), IncrementalSplit).orderBy("doc_id")

  /** q132: triangle counts + local clustering coefficient over the
    * similarity graph — the community-density signal (a crawl cluster
    * that is all triangles is one source template; a sparse star is
    * genuine variety). Degree-ordered orientation bounds wedge
    * generation at hubs.
    */
  val triangleStats: Q = (s, dir) =>
    Graph.triangles(
      mNearDup15(s, dir)
        .select(col("v1").as("src"), col("v2").as("dst")))
      .orderBy("id")

  /** q133: end-to-end curation yield funnel — docs and tokens surviving
    * near-dup canonical keep AND the composed quality gate, as one
    * report row. Each stage is independently oracle-verified (q105,
    * q100); this query proves the COMPOSITION stays hash-checkable and
    * is the number a data lead actually asks for ("how much survives?").
    */
  val dedupFunnel: Q = (s, dir) => {
    import graft.functions.Text
    val d = docs(s, dir)
    val qual = mQualityGate(s, dir).select(col("doc_id"), col("pass_quality"))
    val kept = Dedup.canonicalKeepFrom(d, mClusters(s, dir)).select(col("doc_id"), col("keep"))
    d.select(col("doc_id"), size(Text.words(col("text"))).as("toks"))
      .join(kept, "doc_id")
      .join(qual, "doc_id")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("keep"), 1)).as("n_after_dedup"),
        count(when(col("pass_quality"), 1)).as("n_pass_quality"),
        count(when(col("keep") && col("pass_quality"), 1)).as("n_final"),
        sum(col("toks")).as("tokens_in"),
        sum(when(col("keep") && col("pass_quality"), col("toks"))).as("tokens_final"))
      .withColumn("yield_pct",
        round(lit(100.0) * col("tokens_final") / col("tokens_in"), 6))
  }

  /** q233: data-constrained epoch allocation — the Muennighoff
    * effective-data law priced over this corpus's actual dedup profile:
    * per source, the effective-token yield of a naive (raw-share)
    * training budget vs a dedup-aware (unique-share) one. See
    * [[Sampling.epochAllocation]].
    */
  val epochAllocationQ: Q = (s, dir) =>
    // artifact-reuse: the keep list derives from the shared ngram_cc
    // cluster map (bit-identical to the inline re-solve — one CC solve
    // per corpus snapshot instead of two; round-15 q233 3.9→~1s)
    Sampling.epochAllocationFrom(docs(s, dir).cache(),
      Dedup.canonicalKeepFrom(docs(s, dir), mClusters(s, dir)))

  /** q234: k-anonymity release-risk audit — per source, the
    * quasi-identifier equivalence classes below k=5 and the documents
    * inside them. See [[TextAnalysis.kAnonymity]].
    */
  val kAnonymityQ: Q = (s, dir) =>
    TextAnalysis.kAnonymity(docs(s, dir))

  /** q235: incremental ANN index maintenance — coarse quantizer frozen
    * on the historical 80% hash split, the new 20% only ASSIGNED; per
    * centroid the historical-vs-new share drift that prices when a
    * retrain becomes due. See [[Clustering.incrementalAssignment]].
    */
  val indexMaintenance: Q = (s, dir) =>
    graft.operators.Clustering.incrementalAssignment(
      emb(s, dir), Sampling.hashBucket(col("vec_id")) >= 80)

  /** q134: cross-modal dedup agreement — how often the text near-dup
    * pairs (n-gram Jaccard) and the embedding near-dup pairs (blocked
    * cosine) claim the SAME pairs. The calibration read before trusting
    * one modality to stand in for the other.
    */
  val crossModalAgreement: Q = (s, dir) => {
    val tp = mNgramPairs(s, dir)
      .select(col("d1"), col("d2")).withColumn("t", lit(true))
    val ep = Similarity.bucketedNearDupPairs(emb(s, dir), threshold = 0.40)
      .select(col("v1").as("d1"), col("v2").as("d2")).withColumn("e", lit(true))
    tp.join(ep, Seq("d1", "d2"), "full_outer")
      .agg(
        count(when(col("t") && col("e"), 1)).as("n_both"),
        count(when(col("t") && col("e").isNull, 1)).as("n_text_only"),
        count(when(col("t").isNull && col("e"), 1)).as("n_emb_only"))
      .withColumn("agreement", round(
        col("n_both").cast("double")
          / (col("n_both") + col("n_text_only") + col("n_emb_only")), 6))
  }

  /** q216: hybrid retrieval via Reciprocal Rank Fusion (Cormack/Clarke/
    * Buettcher 2009, SIGIR): for each query document, the exact-cosine
    * semantic ranking and the distinct-word-Jaccard lexical ranking
    * fuse by Σ 1/(60+rank) — the score-free rank combiner behind every
    * hybrid (BM25 + dense) search stack; a doc missed by one modality
    * but top-ranked by the other still surfaces.
    *
    * Scale: the query set is a fixed small id prefix (broadcast on both
    * branches — at corpus scale it would be the AnnAuditPct sample);
    * lexical intersection is a keyed word join against the broadcast
    * query words, semantic is the q46 brute-force contract; the fusion
    * itself is a full-outer join of two ≤k-row-per-query rank lists.
    */
  /** The two top-k rankings q216/q342 compare: semantic = brute-force
    * cosine, lexical = word-set Jaccard, both over query docs 0-4.
    */
  private def semRanking(s: SparkSession, dir: String, k: Int): DataFrame =
    Similarity.bruteForceTopK(emb(s, dir), col("vec_id") < 5, k = k)
      .select(col("query_id"), col("cand_id"), col("rank").as("sem_rank"))

  private def lexRanking(s: SparkSession, dir: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Text
    val wsets = docs(s, dir)
      .select(col("doc_id"), explode(array_distinct(Text.words(col("text")))).as("w"))
    val nw = wsets.groupBy("doc_id").agg(count(lit(1)).as("nw"))
    val qw = wsets.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("w"))
    val inter = wsets.join(broadcast(qw), Seq("w"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("ic"))
    val jac = inter
      .join(broadcast(nw.withColumnRenamed("doc_id", "query_id")
        .withColumnRenamed("nw", "nwq")), "query_id")
      .join(nw, "doc_id")
      .select(col("query_id"), col("doc_id").as("cand_id"),
        round(col("ic").cast("double") / (col("nwq") + col("nw") - col("ic")), 6).as("j"))
    val wLex = Window.partitionBy("query_id").orderBy(col("j").desc, col("cand_id"))
    jac.withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= k)
      .select(col("query_id"), col("cand_id"), col("lex_rank"))
  }

  val rrfFusion: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val k = 20
    val sem = semRanking(s, dir, k)
    val lex = lexRanking(s, dir, k)
    val fused = sem.join(lex, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)), 6))
    val wF = Window.partitionBy("query_id").orderBy(col("rrf_score").desc, col("cand_id"))
    fused.withColumn("fused_rank", row_number().over(wF))
      .filter(col("fused_rank") <= 10)
      .select(col("query_id"), col("fused_rank"), col("cand_id"),
        col("rrf_score"), col("sem_rank"), col("lex_rank"))
      .orderBy("query_id", "fused_rank")
  }

  /** q136: dedup threshold sensitivity — the near-dup pair count per
    * Jaccard decile. The tuning read before moving the dedup threshold:
    * a fat decile just above the cut means the rate is threshold-
    * sensitive there.
    */
  val thresholdSweep: Q = (s, dir) =>
    mNgramPairs(s, dir)
      .select(floor(col("jaccard") * 10).cast("int").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_pairs"))
      .orderBy("decile")

  /** q137: MinHash calibration — estimated vs exact Jaccard on the
    * pairs both generators claim, with the decimal-exact mean absolute
    * error. The accuracy audit for the 16-hash signature.
    */
  val minhashCalibration: Q = (s, dir) => {
    // ONE cached shingling pass feeds both generators (the MinHash
    // branch and the exact-Jaccard branch would otherwise each re-run
    // Text.shingles over the whole corpus)
    val sh = Dedup.shingleSets(docs(s, dir)).cache()
    val mh = Dedup.minhashPairsFrom(sh).select("d1", "d2", "est_jaccard")
    val ex = Dedup.ngramJaccardPairsFrom(sh).select("d1", "d2", "jaccard")
    mh.join(ex, Seq("d1", "d2"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(Num.davg(abs(col("est_jaccard") - col("jaccard"))), 6).as("mae"),
        round(max(abs(col("est_jaccard") - col("jaccard"))), 6).as("max_err"))
  }

  /** q140: rep-n duplicate n-gram character fraction (the Gopher-style
    * looping-passage filter) for n = 2, 3, 4.
    */
  val repNGrams: Q = (s, dir) =>
    TextAnalysis.repNGramChars(docs(s, dir)).orderBy("doc_id", "n")

  /** q141: cross-split near-dup leakage — near-duplicate pairs whose
    * members land in DIFFERENT train/val/test splits: the train→test
    * contamination a random document split inflicts whenever dedup runs
    * after splitting (the reason production pipelines split by cluster,
    * not by document). Composes two verified operators (hash split q69,
    * Jaccard pairs q42); the cross-split rows are the leak report.
    */
  val splitLeakage: Q = (s, dir) => {
    val d = docs(s, dir)
    val sp = Sampling.withSplit(d.select(col("doc_id")), "doc_id")
    mNgramPairs(s, dir).select("d1", "d2")
      .join(sp.select(col("doc_id").as("d1"), col("split").as("sp1")), "d1")
      .join(sp.select(col("doc_id").as("d2"), col("split").as("sp2")), "d2")
      .select(least(col("sp1"), col("sp2")).as("split_a"),
        greatest(col("sp1"), col("sp2")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("split_a") =!= col("split_b"))
      .orderBy("split_a", "split_b")
  }

  /** q142: the dataset card — the one-row corpus datasheet a training
    * run publishes (volume, token totals, exact-dup rate, language
    * share, tokens/doc). Every input is an already-verified subtree
    * (q49 stats, q40 exact dedup, q48 language id); the scalar joins
    * are single-row broadcasts. Ratio fields are integer-over-integer
    * divisions only (no decimal-averaging of raw doubles — computed
    * quality scores can land exactly on round-half boundaries where
    * engine rounding semantics differ).
    */
  val datasetCard: Q = (s, dir) => {
    val d = docs(s, dir)
    val stats = TextAnalysis.withTextStats(d).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens").cast("long")).as("total_tokens"),
      sum(col("bpe_token_estimate")).as("total_bpe_tokens"),
      round(Num.davg(col("n_tokens")), 6).as("avg_tokens_per_doc"))
    val chars = d.agg(sum(length(col("text")).cast("long")).as("total_chars"))
    val dup = Dedup.exact(d).agg(sum(col("n_copies") - 1).as("n_exact_dup_docs"))
    val en = TextAnalysis.withLanguageId(d).agg(
      count(when(col("predicted_lang") === "en", 1)).as("n_en_docs"))
    stats.crossJoin(broadcast(chars)).crossJoin(broadcast(dup)).crossJoin(broadcast(en))
      .withColumn("dup_rate", round(col("n_exact_dup_docs").cast("double") / col("n_docs"), 6))
      .withColumn("en_share", round(col("n_en_docs").cast("double") / col("n_docs"), 6))
      .select("n_docs", "total_tokens", "total_bpe_tokens", "avg_tokens_per_doc",
        "total_chars", "n_exact_dup_docs", "dup_rate", "n_en_docs", "en_share")
  }

  /** q143: IVF recall@10 against exact brute-force top-k — the accuracy
    * audit for the trained coarse quantizer (symmetric to q111's LSH
    * recall): of the true top-10 neighbors per query, how many does the
    * 4-probe IVF search return? One keyed semi join between two
    * independently-verified rankings (q46 exact, q65 IVF), one row out.
    * Query points are the [[AnnAuditPct]] hash-sample (the exact branch
    * is |Q|·|corpus| — sampling Q is what bounds it at scale); each
    * sampled query still ranks against the full corpus.
    */
  val ivfRecall: Q = (s, dir) => {
    // both rankings are stored audit artifacts (mExactTop10/mIvfTop10)
    // shared with q144/q192/q206/q207/q224 — the hit join and the
    // denominator read solved tables, not corpus scans
    val exact = mExactTop10(s, dir).select("query_id", "cand_id")
    val approx = mIvfTop10(s, dir).select("query_id", "cand_id")
    val hits = exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    exact.agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact_pairs"))
      .crossJoin(broadcast(hits))
      .withColumn("recall_at_10",
        round(col("n_hits").cast("double") / col("n_exact_pairs"), 6))
  }

  /** q206: Matryoshka truncation audit (Kusupati 2022) — recall@10 of
    * brute-force cosine top-k using only the first d ∈ {8, 16, 32}
    * dimensions against the full-64 reference, over the
    * [[AnnAuditPct]] query sample. The dimension/recall curve is the
    * read that prices shipping truncated embeddings (4× smaller index)
    * before re-embedding anything.
    */
  val MatryoshkaDims = Seq(8, 16, 32)
  val matryoshkaRecall: Q = (s, dir) => {
    val e = emb(s, dir)
    // the full-dim exact reference for every d is the stored audit artifact
    val exact = mExactTop10(s, dir).select("query_id", "cand_id")
    val denom = exact.agg(
      countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_exact_pairs"))
    MatryoshkaDims.map { d =>
      val hits = exact.join(
        Similarity.truncatedTopK(e, annAuditPred, k = 10, d).select("query_id", "cand_id"),
        Seq("query_id", "cand_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      denom.crossJoin(broadcast(hits)).withColumn("dim", lit(d))
    }.reduce(_ unionByName _)
      .withColumn("recall_at_10",
        round(col("n_hits").cast("double") / col("n_exact_pairs"), 6))
      .select("dim", "n_queries", "n_exact_pairs", "n_hits", "recall_at_10")
      .orderBy("dim")
  }

  /** q280: two-stage ADAPTIVE retrieval served (Kusupati 2022 §4 —
    * q206's truncation audit turned into the serving strategy): the
    * coarse pass ranks the whole corpus with the first
    * [[AdaptiveDim]] dims read from a PERSISTED prefix artifact (an
    * index 1/8th the full vector width — the scan that touches every
    * candidate reads only it), keeps [[AdaptiveM]] per query, and the
    * exact full-width cosine re-scores just those m (broadcast
    * candidate list, full vectors never pairwise-joined corpus-wide).
    */
  val AdaptiveDim = 8
  val AdaptiveM = 50
  val annAdaptive: Q = (s, dir) => {
    val pre = Materialized.onDisk(s, dir, "mrl_prefix")(
      emb(s, dir).select(col("vec_id"),
        slice(col("embedding"), 1, AdaptiveDim).as("pe")))
    Similarity.adaptiveTopK(emb(s, dir), col("vec_id") < 20, k = 10,
        d = AdaptiveDim, m = AdaptiveM, prefix = Some(pre))
      .orderBy("query_id", "rank")
  }

  /** q281: the m-knob recall audit for q280 — recall@10 of the
    * two-stage adaptive retrieval at m ∈ [[AdaptiveMs]] against the
    * exact full-dim reference (the q206 harness, pricing the OTHER
    * axis: q206 prices d with a hard truncation cut, q281 prices the
    * rerank budget that buys the recall back). Monotone in m by
    * construction; m = corpus would be exact.
    */
  val AdaptiveMs = Seq(10, 25, 50)
  val adaptiveRecall: Q = (s, dir) => {
    val e = emb(s, dir)
    val exact = mExactTop10(s, dir).select("query_id", "cand_id")
    val denom = exact.agg(
      countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_exact_pairs"))
    AdaptiveMs.map { m =>
      val hits = exact.join(
        Similarity.adaptiveTopK(e, annAuditPred, k = 10, d = AdaptiveDim, m = m)
          .select("query_id", "cand_id"),
        Seq("query_id", "cand_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      denom.crossJoin(broadcast(hits)).withColumn("m", lit(m))
    }.reduce(_ unionByName _)
      .withColumn("recall_at_10",
        round(col("n_hits").cast("double") / col("n_exact_pairs"), 6))
      .select("m", "n_queries", "n_exact_pairs", "n_hits", "recall_at_10")
      .orderBy("m")
  }

  /** q324: two-stage BINARY-sketch retrieval — the sign-binarized
    * index (bit d = [e_d > 0], 8 bytes/vector vs 256: a 32× memory
    * shrink) ranks the whole corpus by Hamming distance, the exact
    * cosine reranks only the m survivors. The third point on the
    * coarse-index spectrum beside IVF (q264, cluster-pruned) and
    * Matryoshka (q280, prefix-pruned): binary keeps FULL-corpus scan
    * semantics but at popcount-over-two-BIGINTs cost — the shape that
    * wins when probes must never miss a list. Sketch persisted as an
    * index artifact like the mrl prefix.
    */
  val BinaryM = 50
  val annBinary: Q = (s, dir) => {
    val sk = Materialized.onDisk(s, dir, "bin_sketch")(
      Similarity.binarySketch(emb(s, dir)))
    Similarity.binaryTopK(emb(s, dir), col("vec_id") < 20, k = 10,
        m = BinaryM, sketch = Some(sk))
      .orderBy("query_id", "rank")
  }

  /** q325: the m-knob recall audit for q324 (the q281 harness) —
    * recall@10 of Hamming-coarse + cosine-rerank vs the exact
    * full-width reference, priced at m ∈ [[BinaryMs]]. Reads the
    * same stored audit_exact_top10 artifact as q143/q281.
    */
  val BinaryMs = Seq(10, 25, 50)
  val binaryRecall: Q = (s, dir) => {
    val e = emb(s, dir)
    val exact = mExactTop10(s, dir).select("query_id", "cand_id")
    val denom = exact.agg(
      countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_exact_pairs"))
    BinaryMs.map { m =>
      val hits = exact.join(
        Similarity.binaryTopK(e, annAuditPred, k = 10, m = m)
          .select("query_id", "cand_id"),
        Seq("query_id", "cand_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      denom.crossJoin(broadcast(hits)).withColumn("m", lit(m))
    }.reduce(_ unionByName _)
      .withColumn("recall_at_10",
        round(col("n_hits").cast("double") / col("n_exact_pairs"), 6))
      .select("m", "n_queries", "n_exact_pairs", "n_hits", "recall_at_10")
      .orderBy("m")
  }

  /** q333: INCREMENTAL maintenance of the binary sketch index — the
    * q260/q266 contract for the q324 family: the stored base sketch
    * covers the pre-split corpus, an arriving delta is sign-packed
    * ALONE and unioned at query time (the base parquet is never
    * re-read as floats, the delta never joins the base until serving).
    * The oracle is q324's from-scratch SQL — identical hashes prove
    * (artifact ∪ delta) ≡ full re-derivation.
    */
  val binaryIncremental: Q = (s, dir) => {
    val base = Materialized.onDisk(s, dir, "bin_sketch_base")(
      Similarity.binarySketch(emb(s, dir).filter(col("vec_id") < IncrementalSplit)))
    val delta = Similarity.binarySketch(
      emb(s, dir).filter(col("vec_id") >= IncrementalSplit))
    Similarity.binaryTopK(emb(s, dir), col("vec_id") < 20, k = 10,
        m = BinaryM, sketch = Some(base.unionByName(delta)))
      .orderBy("query_id", "rank")
  }

  /** q334: LEAKAGE-SAFE train/val/test split — q141 AUDITS near-dup
    * leakage across the naive per-doc hash split; this op PREVENTS it:
    * the split key is the near-dup cluster REPRESENTATIVE (singletons
    * key their own id), so every member of a duplicate cluster lands
    * on the same side by construction — a split boundary can never
    * separate near-duplicates into train and eval. One broadcast-sized
    * join against the session cluster map + the q69 hash-split
    * expression on the rep key.
    */
  val clusterSplitQ: Q = (s, dir) => {
    val cl = mClusters(s, dir).select(col("doc_id"), col("cluster_rep"))
    Sampling.withSplit(
      docs(s, dir).select(col("doc_id"))
        .join(cl, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_rep"), col("doc_id")).as("split_key")),
      "split_key")
      .orderBy("doc_id")
  }

  /** q282: corpus CARTOGRAPHY — c-TF-IDF topic labels (BERTopic,
    * Grootendorst 2022) for every trained-quantizer cluster: the
    * embedding-space map gets human-readable labels from the text side
    * (doc_id = vec_id), the standard first read over an unlabeled
    * 100 TB corpus ("what IS in here, cluster by cluster").
    */
  val clusterTopicsQ: Q = (s, dir) => {
    val asg = Similarity.ivfAssignments(emb(s, dir), mKmeansCos(s, dir))
      .select(col("cand_id").as("doc_id"), col("cent_id"))
    TextAnalysis.clusterTopics(docs(s, dir), asg)
  }

  /** q283: SOFT deduplication census — 1/cluster_size down-weighting
    * over the near-dup components (q52's table): raw vs effective
    * token mass per source, the "how much of this source is really
    * there" read that prices a mixture before sampling weights.
    */
  val softDedupQ: Q = (s, dir) =>
    Dedup.softDedupWeights(docs(s, dir), mClusters(s, dir))

  /** q286/q287: RM3 pseudo-relevance-feedback query expansion
    * (Lavrenko & Croft 2001 / Abdul-Jaleel 2004 — the standard PRF
    * baseline) over the persisted postings artifact: q286 is the
    * expansion-term table (RM1 relevance-model weights from the top-F
    * BM25 feedback docs, λ-interpolated with the original query),
    * q287 the weighted-BM25 second pass over the expanded query. The
    * corpus is never re-tokenized — feedback vectors and the rerank's
    * tf/df all come from the artifact; the oracle re-derives the whole
    * two-pass pipeline from raw text.
    */
  private def mPostings(s: SparkSession, dir: String): DataFrame =
    Materialized.onDisk(s, dir, "postings")(
      TextAnalysis.positionalPostings(docs(s, dir)))

  val rm3Expansion: Q = (s, dir) =>
    TextAnalysis.rm3Weights(mPostings(s, dir))

  val rm3Reranked: Q = (s, dir) => {
    val posts = mPostings(s, dir)
    TextAnalysis.rm3Rerank(posts, TextAnalysis.rm3Weights(posts))
  }

  /** q288: query CLARITY (Cronen-Townsend 2002) — the
    * query-performance-prediction signal: KL(RM1 ‖ collection model)
    * over the feedback vocabulary, from the same RM1 chain as q286.
    */
  val clarityQ: Q = (s, dir) =>
    TextAnalysis.clarityScore(mPostings(s, dir))

  /** q289: standing-query PERCOLATION census — stored conjunctive
    * queries matched against the corpus (the alerting/prospective-
    * search shape; the streaming twin percolates each micro-batch);
    * every stored query reports, incl. the deliberately unsatisfiable
    * one.
    */
  val percolatorQ: Q = (s, dir) =>
    TextAnalysis.percolateCensus(mPostings(s, dir))

  /** q293: BOOLEAN percolation — must + must_not standing queries (the
    * exclusion is a broadcast anti-join on the forbidden presence
    * pairs), completing the percolator's boolean contract.
    */
  val percolatorBoolQ: Q = (s, dir) =>
    TextAnalysis.percolateBoolCensus(mPostings(s, dir))

  /** q322: QUERIES-AS-DATA percolation (round-13 verdict #5) — the
    * standing-query set lives in a TABLE (here data-derived: one
    * conjunctive alert per source from its top-3 source-characteristic
    * terms), not in code, so production alert sets update without a
    * redeploy. Same broadcast-dictionary plan as q289; the oracle
    * rebuilds the identical query table in SQL.
    */
  val percolatorTableQ: Q = (s, dir) =>
    TextAnalysis.percolateTableCensus(docs(s, dir), mPostings(s, dir))

  /** q332: passage-level retrieval with MaxP document aggregation (Dai
    * & Callan 2019) — the RAG indexing shape: documents chunked on the
    * q88 grid, BM25 per CHUNK against chunk-corpus statistics, each
    * document ranked by its best passage (winning chunk_idx reported
    * for the reader). Long documents can't dilute their best passage —
    * the failure mode whole-doc BM25 (q149/q252) has by construction.
    */
  val passageMaxPQ: Q = (s, dir) =>
    TextAnalysis.passageMaxP(docs(s, dir))

  /** q335: Mann–Whitney U feed comparison (Mann & Whitney 1947) — for
    * every source pair, the rank-sum test + Cliff's delta on the
    * quality score: the distribution-free "is feed A genuinely better
    * than feed B" read (means are outlier-hostage, KL has no
    * significance scale). Tie-exact ranks from the bucketed rank
    * machinery (q203's tieRanks — no per-group value buffer), rank
    * sums decimal-backed, z mirrored IEEE-op-for-op.
    */
  val mannWhitneyQ: Q = (s, dir) =>
    Robust.mannWhitney(
      TextAnalysis.withTextStats(docs(s, dir))
        .select(col("source"), col("quality_score")),
      "source", "quality_score")

  /** q336: Weighted Information Gain QPP (Zhou & Croft 2007) — the
    * POST-retrieval difficulty read beside q288's pre-retrieval
    * clarity: top-k BM25 mass above the scoring corpus's mean,
    * √|q|-normalized. Near zero = don't trust this ranking downstream
    * (RM3, fusion weights). Served from the postings artifact.
    */
  val wigQ: Q = (s, dir) =>
    TextAnalysis.wigScore(mPostings(s, dir))

  /** q337: term BURSTINESS census (Church & Gale 1995 VMR) — the
    * lexical spam signal: terms whose occurrences cluster in bursts
    * (keyword stuffing, templates) stand out from Poisson-ish topic
    * vocabulary at VMR ≫ 1, across documents where per-doc repetition
    * (q82/q140) can't see them.
    */
  val burstinessQ: Q = (s, dir) =>
    TextAnalysis.termBurstiness(mPostings(s, dir))

  /** q338: queries-as-data BOOLEAN percolation — the last percolator
    * shape migrated to a stored-query TABLE (conjunctive q322, phrase
    * q328, boolean here): must = each source's two most characteristic
    * terms, must_not = its third — "looks like source S's head but
    * lacks its next marker", all three clause sets data-derived so
    * both engines rebuild them identically.
    */
  val percolatorBoolTableQ: Q = (s, dir) => {
    // cached: the must slice is read three times downstream (twice in
    // percolateMatchesTable's sizing join, once by the census left
    // join) and the not slice once — uncached, the corpus word-df scan
    // + rank window behind percolatorRankedTerms runs five times for
    // an alert-sized table (round-16)
    val ranked = TextAnalysis.percolatorRankedTerms(docs(s, dir), topN = 3).cache()
    TextAnalysis.percolateBoolTableCensus(mPostings(s, dir),
      ranked.filter(col("rn") <= 2).select("query_id", "term"),
      ranked.filter(col("rn") === 3).select("query_id", "term"))
  }

  /** q328: queries-as-data PHRASE percolation — the q322 contract for
    * ordered-adjacency alerts: the stored phrase set is a corpus-derived
    * table (per-source top-2 bigrams by in-source df), matched by the
    * positional base = pos − idx test. Alert sets change as data, never
    * as code.
    */
  val phraseTableQ: Q = (s, dir) =>
    TextAnalysis.percolatePhraseTableCensus(docs(s, dir), mPostings(s, dir))

  /** q340/q341 stored-query store: the percolator's standing-query
    * table living IN an [[IndexStore]] (round-14 verdict #6 — marry
    * q322's queries-as-data with the generation/tombstone lifecycle):
    * prospective search whose alert definitions are UPDATED and
    * DELETED like any other governed dataset, surviving compaction.
    *
    * Rows are VERSIONED — (query_id, ver, term, rn) — because the
    * store's tombstone contract is "the anti-join must keep winning
    * over re-delivered keys" (IndexStore.scala object doc): an UPDATE
    * cannot tombstone the bare query_id and re-add it (the new rows
    * would be erased too); it tombstones (query_id, ver=0) and ingests
    * ver=1 rows — DELETE = tombstone the old version, UPDATE = DELETE
    * + INSERT of the next version. Exactly the Lucene
    * delete-then-reindex document lifecycle, on the percolator's own
    * query registry.
    *
    * Lifecycle built once per (JVM, corpus): base generation = every
    * source's top-3 alert (ver 0); then sources with suffix mod 5 = 0
    * are DELETED, mod 5 ∈ {1,2} are UPDATED to a tightened top-2
    * definition (ver 1, one ingest fragment), and the store is
    * COMPACTED — the new generation physically excludes tombstoned
    * rows and absorbs the update fragment, while the pre-lifecycle
    * table stays readable via the pinned-snapshot readAt (generation 0
    * + its fragment watermark).
    */
  private val PercStoreSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("query_id",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ver",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("rn",
      org.apache.spark.sql.types.IntegerType)))

  private def percStoreRoot(s: SparkSession, dir: String): String =
    builtStore(dir, "perc_store") { r =>
      val ranked = TextAnalysis.percolatorRankedTerms(docs(s, dir), topN = 3)
        .withColumn("m",
          regexp_extract(col("query_id"), "src([0-9]+)$", 1).cast("int") % 5)
        .localCheckpoint()
      graft.warehouse.IndexStore.writeBase(
        ranked.select(col("query_id"), lit(0L).as("ver"), col("term"), col("rn")), r)
      // DELETE (m=0) and the delete half of UPDATE (m∈{1,2}): one
      // versioned tombstone batch
      graft.warehouse.IndexStore.addTombstones(
        ranked.filter(col("m") <= 2)
          .select(col("query_id"), lit(0L).as("ver")).distinct(), r, 0L)
      // the insert half of UPDATE: tightened top-2 definitions at ver 1
      graft.warehouse.IndexStore.addFragment(
        ranked.filter(col("m") === 1 || col("m") === 2).filter(col("rn") <= 2)
          .select(col("query_id"), lit(1L).as("ver"), col("term"), col("rn")), r, 0L)
      graft.warehouse.IndexStore.compact(s, r, PercStoreSchema,
        tombstoneKeys = Seq("query_id", "ver"))
    }

  private def percStoreCensusOf(s: SparkSession, dir: String,
      queryTable: DataFrame): DataFrame =
    TextAnalysis.percolateMatchesTable(mPostings(s, dir),
        queryTable.select("query_id", "term"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))

  /** q340: the percolation census served from the store's CURRENT
    * generation — per surviving stored query, its serving version and
    * match census. The oracle rebuilds the effective post-lifecycle
    * query table directly in SQL; the hash gate proves compaction +
    * versioned tombstones + the update fragment compose to exactly
    * that table (no stored query lost, no deleted one resurrected).
    */
  val percStoreCensusQ: Q = (s, dir) => {
    val root = percStoreRoot(s, dir)
    val eff = graft.warehouse.IndexStore.read(s, root, PercStoreSchema,
      tombstoneKeys = Seq("query_id", "ver"))
    eff.groupBy("query_id").agg(max(col("ver")).as("ver"))
      .join(percStoreCensusOf(s, dir, eff), Seq("query_id"), "left")
      .na.fill(0L, Seq("n_docs"))
      .select("query_id", "ver", "n_docs", "first_doc")
      .orderBy("query_id")
  }

  /** q341: lifecycle TIME TRAVEL — the pre-lifecycle census (read from
    * the retained generation-0 snapshot, fragment watermark pinned so
    * the later update ingest is invisible) beside the current census,
    * one row per ORIGINAL stored query with its lifecycle status. The
    * alert-regression audit a prospective-search owner runs after an
    * alert-set change: which alerts tightened, which vanished, what
    * each matched before vs after.
    */
  val percStoreTravelQ: Q = (s, dir) => {
    val root = percStoreRoot(s, dir)
    val v0 = graft.warehouse.IndexStore.readAt(s, root, 0L, PercStoreSchema,
      maxFragmentId = -1L)
    val cur = graft.warehouse.IndexStore.read(s, root, PercStoreSchema,
      tombstoneKeys = Seq("query_id", "ver"))
    val c0 = percStoreCensusOf(s, dir, v0)
      .select(col("query_id"), col("n_docs").as("n_docs_v0"))
    val c1 = percStoreCensusOf(s, dir, cur)
      .select(col("query_id"), col("n_docs").as("n_docs_v1"))
    val verCur = cur.groupBy("query_id").agg(max(col("ver")).as("ver"))
    v0.select("query_id").distinct()
      .join(verCur, Seq("query_id"), "left")
      .join(c0, Seq("query_id"), "left")
      .join(c1, Seq("query_id"), "left")
      .select(col("query_id"),
        when(col("ver").isNull, lit("dropped"))
          .when(col("ver") === 1L, lit("updated"))
          .otherwise(lit("carried")).as("status"),
        coalesce(col("n_docs_v0"), lit(0L)).as("n_docs_v0"),
        when(col("ver").isNull, lit(null).cast("long"))
          .otherwise(coalesce(col("n_docs_v1"), lit(0L))).as("n_docs_v1"))
      .orderBy("query_id")
  }

  /** q344: store generation DIFF — row-level change feed between the
    * pinned pre-lifecycle snapshot and the current generation (the
    * Delta-CDF / `table_changes` shape, on the stored-query store):
    * every (query_id, ver, term, rn) row tagged 'removed' (tombstoned
    * version) or 'added' (ingested next version). q341 reads the
    * lifecycle at census grain (what each alert MATCHED); this is the
    * registry grain (what each alert IS) — the audit trail a
    * prospective-search owner diffs before signing off an alert-set
    * release. Two EXCEPTs over alert-sized frames.
    */
  val percStoreDiffQ: Q = (s, dir) => {
    val root = percStoreRoot(s, dir)
    val v0 = graft.warehouse.IndexStore.readAt(s, root, 0L, PercStoreSchema,
      maxFragmentId = -1L)
    val cur = graft.warehouse.IndexStore.read(s, root, PercStoreSchema,
      tombstoneKeys = Seq("query_id", "ver"))
    v0.except(cur).withColumn("change", lit("removed"))
      .unionByName(cur.except(v0).withColumn("change", lit("added")))
      .orderBy("query_id", "ver", "term")
  }

  /** q345: label-noise neighborhood audit (Brodley & Friedl 1999) —
    * every labeled embedding judged by its near-neighbors from the
    * label-FREE bucketed pair generator (cross-label neighbors are the
    * whole signal; the label-blocked graph of q339 cannot see them):
    * disagreement rate + neighborhood majority, suspects flagged. The
    * seed-auditing read BEFORE label propagation trusts those seeds.
    */
  val labelNoiseQ: Q = (s, dir) =>
    Graph.labelNoiseAudit(
      Similarity.bucketedCrossPairs(emb(s, dir), threshold = 0.15),
      emb(s, dir).select(col("vec_id").as("id"), col("label")))

  /** q342: Kendall τ-b rank agreement between the q216 pair of
    * rankings (semantic cosine vs lexical Jaccard) on their common
    * candidates — the diagnostic that prices the RRF fusion itself:
    * high τ means the two retrievers are redundant, low/negative τ
    * means fusion is combining genuinely different orderings.
    */
  val kendallTauQ: Q = (s, dir) =>
    Similarity.kendallTauB(
      semRanking(s, dir, 20).withColumnRenamed("sem_rank", "rank_a"),
      lexRanking(s, dir, 20).withColumnRenamed("lex_rank", "rank_b"))

  /** q343: temperature-scaled source-MIXTURE plan (draw source s with
    * weight ∝ √p_s — Devlin et al. 2019 §A.2, Conneau & Lample 2019).
    * Sits between its two cousins and closes their gap: q152 emits the
    * temperature WEIGHT alone (α = 0.7, doc-count shares) and q233
    * prices dedup-aware effective tokens at FIXED epoch counts; this
    * is the third read a mixture owner needs — token-mass shares, the
    * exactly-normalized mixture (decimal-backed Σ√p, so the weights
    * provably sum to 1 in both engines), and the per-source REPEAT
    * factor that mixture implies under a concrete 4×-total-token
    * budget, i.e. the knob that feeds q233's epoch axis instead of
    * assuming it.
    *
    * Engine-exact: token sums are integer; p_s is one IEEE division;
    * √p_s is IEEE-exact (sqrt is correctly rounded in both engines);
    * the normalizer Σ√p_s is decimal-backed (order-independent); the
    * final weight/epochs are mirrored op-for-op.
    */
  val mixturePlanQ: Q = (s, dir) => {
    import graft.functions.Num
    val toks = TextAnalysis.withTextStats(docs(s, dir))
      .groupBy("source").agg(sum(col("n_tokens")).cast("long").as("n_tokens"))
    val tot = toks.agg(sum(col("n_tokens")).as("t"))
    val wraw = toks.crossJoin(broadcast(tot))
      .withColumn("share", col("n_tokens").cast("double") / col("t").cast("double"))
      .withColumn("w_raw", sqrt(col("share")))
    val z = wraw.agg(Num.dsumHi(col("w_raw")).as("z"))
    wraw.crossJoin(broadcast(z))
      .withColumn("mix_weight", col("w_raw") / col("z"))
      .select(col("source"), col("n_tokens"),
        round(col("share"), 6).as("share"),
        round(col("mix_weight"), 6).as("mix_weight"),
        round(lit(4.0) * col("t").cast("double") * col("mix_weight") /
          col("n_tokens").cast("double"), 6).as("epochs"))
      .orderBy("source")
  }

  /** q329: b-BIT minwise hashing (Li & König 2010) — the 4-bytes-per-
    * document dedup signature: lowest 2 bits of each of the 16 minhash
    * components, with the closed-form collision debias, priced per LSH
    * candidate pair against the full-width estimate. The compression
    * knob that keeps 100 TB of signatures resident.
    */
  val bbitMinhashQ: Q = (s, dir) =>
    Dedup.bbitMinhashPairs(mMinhashPairs(s, dir),
        Dedup.minhashSignatures(docs(s, dir)), b = 2)
      .orderBy("d1", "d2")

  /** q285: exact KNN-Shapley data valuation (Jia et al. 2019) — every
    * training vector's Shapley value for the K-NN label classifier
    * against the [[AnnAuditPct]] validation sample: the per-POINT
    * data-cleaning signal (negative value = the point hurts held-out
    * accuracy — mislabeled or poisoned). Audit-contract pair space
    * (sample × corpus, the q143/q206 class); the closed-form recursion
    * makes it one ranking + two keyed windows, not 2^N subsets.
    */
  val knnShapleyQ: Q = (s, dir) =>
    Similarity.knnShapley(emb(s, dir), annAuditPred, k = 5)

  /** q321: COUNT-CAPPED KNN-Shapley — the production cleaning-signal
    * spelling of q285 (round-13 verdict #3): a fixed-size top-N-by-hash
    * validation set makes the valuation's pair space nVal·n, linear in
    * the corpus at constant statistical power, where q285's fixed
    * hash-percentage sample is 0.04·n² by audit contract. Same closed
    * form, same oracle tail; only the sample definition changes.
    */
  val knnShapleyCappedQ: Q = (s, dir) =>
    Similarity.knnShapleyCapped(emb(s, dir), nVal = 40, k = 5)

  /** DCG weights 1/log2(i+1) for ranks 1..10 and their sum (the ideal
    * DCG with 10 binary-relevant items) — computed ONCE here and
    * embedded as identical literals in both engines (shortest-repr
    * doubles round-trip), so the rank-weighted sums stay cross-engine
    * exact through the decimal-backed aggregation.
    */
  private val DcgW: Seq[Double] = (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
  private val Idcg: Double = DcgW.sum

  /** q207: rank-sensitive retrieval quality of the IVF index vs the
    * exact ranking — MRR@10 (where does the true nearest neighbor land
    * in the approximate list?) and mean nDCG@10 with binary relevance
    * (= exact-top-10 membership). Complements q143's recall, which is
    * blind to WHERE in the list the hits sit. AnnAuditPct query
    * sample; all joins are (query, cand)-keyed over top-k-sized frames.
    */
  val annRankingQuality: Q = (s, dir) => {
    val exact = mExactTop10(s, dir).select("query_id", "cand_id", "rank")
    val approx = mIvfTop10(s, dir)
      .select(col("query_id"), col("cand_id"), col("rank").as("arank"))
    val weight = (1 to 10).foldRight(lit(0.0): org.apache.spark.sql.Column)((i, acc) =>
      when(col("arank") === i, lit(DcgW(i - 1))).otherwise(acc))
    val dcg = approx
      .join(exact.select(col("query_id"), col("cand_id")).withColumn("rel", lit(1)),
        Seq("query_id", "cand_id"), "left")
      .groupBy("query_id")
      .agg(Num.dsum(when(col("rel") === 1, weight).otherwise(lit(0.0))).as("dcg"))
    val rr = exact.filter(col("rank") === 1).select("query_id", "cand_id")
      .join(approx, Seq("query_id", "cand_id"), "left")
      .select(col("query_id"),
        coalesce(lit(1.0) / col("arank"), lit(0.0)).as("rr"))
    exact.select("query_id").distinct()
      .join(dcg, Seq("query_id"), "left")
      .join(rr, Seq("query_id"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        round(Num.dsum(coalesce(col("rr"), lit(0.0))) / count(lit(1)), 6).as("mrr"),
        round(Num.dsum(coalesce(col("dcg"), lit(0.0)) / lit(Idcg)) / count(lit(1)), 6)
          .as("mean_ndcg"))
  }

  /** q330: Expected Reciprocal Rank @10 (Chapelle et al. 2009, CIKM —
    * "Expected reciprocal rank for graded relevance") of the IVF
    * ranking against the exact-top-10 relevance anchor — the CASCADE
    * metric: a relevant hit at rank r pays off only if the user got
    * past the relevant results above it (each absorbs half the
    * remaining attention at binary relevance R = 1/2). Completes the
    * ranking-eval ladder: recall (set, q143), MRR (first hit) + nDCG
    * (independent discounts) (q207), RBO (list shape, q224), ERR
    * (competing results). term = 0.5^(c+1)/r — pow-of-half is dyadic
    * exact, one IEEE division, decimal-backed per-query sum.
    */
  val errQ: Q = (s, dir) =>
    Similarity.errAtK(
      mExactTop10(s, dir).select("query_id", "cand_id"),
      mIvfTop10(s, dir).select(col("query_id"), col("cand_id"), col("rank")))

  /** q331: sampled SILHOUETTE of the trained quantizer's partition
    * (Rousseeuw 1987) — the per-point companion to q317's per-community
    * modularity: negative silhouette = the point is assigned to the
    * wrong list (its nearest other cluster is closer than its own),
    * the direct misassignment signal an IVF owner reads before
    * retraining. Audit-contract pair space (sample × corpus, the q285
    * class); distances/means decimal-exact then rounded in both
    * engines.
    */
  val silhouetteQ: Q = (s, dir) => {
    val pts = Similarity.ivfAssignments(emb(s, dir), mKmeansCos(s, dir))
      .select(col("cand_id").as("vec_id"), col("ce"), col("cn"), col("cent_id"))
    Clustering.sampledSilhouette(pts, annAuditPred)
  }

  /** q224: Rank-Biased Overlap (Webber/Moffat/Zobel 2010, TOIS) of the
    * IVF ranking vs the exact ranking — the top-weighted LIST-similarity
    * read: where recall@10 (q143) treats the prefix as a set and
    * MRR/nDCG (q207) need a relevance anchor, RBO compares the two
    * RANKINGS directly with geometric top-weighting (p = 0.9). An item
    * first common to both prefixes at depth m = max(rank, arank)
    * contributes exactly S_m = Σ_{d=m..10} (1−p)p^(d−1)/d, so the
    * truncated RBO is one (query, cand) join + a CASE-coefficient sum —
    * the S_m table is 10 Scala-computed constants shipped as identical
    * literals to both engines (the q207 DCG convention).
    */
  val RboP = 0.9
  val RboSuffix: Seq[Double] = {
    val w = (1 to 10).map(d => (1.0 - RboP) * math.pow(RboP, d - 1) / d)
    (1 to 10).map(m => w.drop(m - 1).sum)
  }
  val rboQuality: Q = (s, dir) => {
    val exact = mExactTop10(s, dir).select("query_id", "cand_id", "rank")
    val approx = mIvfTop10(s, dir)
      .select(col("query_id"), col("cand_id"), col("rank").as("arank"))
    val m = greatest(col("rank"), col("arank"))
    val coeff = (1 to 10).foldRight(lit(0.0): org.apache.spark.sql.Column)((i, acc) =>
      when(m === i, lit(RboSuffix(i - 1))).otherwise(acc))
    val per = exact.join(approx, Seq("query_id", "cand_id"))
      .groupBy("query_id").agg(Num.dsumHi(coeff).as("rbo"))
    exact.select("query_id").distinct()
      .join(per, Seq("query_id"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        round(Num.dsumHi(coalesce(col("rbo"), lit(0.0))) / count(lit(1)), 6)
          .as("mean_rbo"),
        round(min(coalesce(col("rbo"), lit(0.0))), 6).as("min_rbo"))
  }

  /** q144: IVF probe-budget sweep — recall@10 at nprobe ∈ {1, 2, 4, 8}
    * of the 16 coarse lists: the latency/recall tuning curve an ANN
    * deployment reads before picking its operating point (each probe
    * multiplies candidate volume ~nprobe/nlist). The exact ranking is
    * shared; each budget re-ranks only its own candidate set.
    */
  val IvfSweepProbes = Seq(1, 2, 4, 8)
  val ivfProbeSweep: Q = (s, dir) => {
    val e = emb(s, dir)
    // the exact reference is the stored audit artifact (shared with
    // q143/q206/q207/q224); the per-budget denominators read it in place
    val exact = mExactTop10(s, dir).select("query_id", "cand_id")
    // ONE stored quantizer + ONE corpus assignment feeds every budget
    // (Similarity.ivfSweep) — the per-budget rows are bit-identical to
    // independent ivfTopK calls, so the per-probe oracles are unchanged
    val sweep = Similarity.ivfSweep(e, annAuditPred, k = 10, IvfSweepProbes,
      trained = Some(mKmeansCos(s, dir)))
    val perP = IvfSweepProbes.map { p =>
      val hits = exact.join(
        sweep.filter(col("nprobe") === p).select("query_id", "cand_id"),
        Seq("query_id", "cand_id"), "left_semi")
      hits.agg(count(lit(1)).as("n_hits")).withColumn("nprobe", lit(p))
    }
    val total = exact.agg(count(lit(1)).as("n_exact_pairs"))
    perP.reduce(_ unionByName _)
      .crossJoin(broadcast(total))
      .select(col("nprobe"), col("n_hits"), col("n_exact_pairs"),
        round(col("n_hits").cast("double") / col("n_exact_pairs"), 6).as("recall_at_10"))
      .orderBy("nprobe")
  }

  /** q145: collection-function surface parity — the higher-order and
    * array primitives (distinct, sort, slice, filter, exists/contains,
    * position, reverse) exercised per row and hash-checked against
    * DuckDB's list family. Complements q119 (strings) and q120
    * (aggregates): a user porting array-heavy SQL needs these to agree
    * engine-for-engine, including the edge conventions (array_position
    * is 1-based and 0 when absent; slice caps at the array end).
    */
  val collectionSurface: Q = (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        size(col("w")).as("n_words"),
        size(array_distinct(col("w"))).as("n_distinct"),
        array_contains(col("w"), "the").as("has_the"),
        array_position(col("w"), "the").as("pos_the"),
        size(filter(col("w"), x => length(x) >= 6)).as("n_long_words"),
        exists(col("w"), x => length(x) >= 10).as("any_very_long"),
        md5(concat_ws(",", slice(array_sort(array_distinct(col("w"))), 1, 3))).as("sorted3_md5"),
        element_at(reverse(col("w")), 1).as("last_word"))
      .orderBy("doc_id")

  /** q146: the complete per-document curation decision — canonical-keep
    * (near-dup dedup), quality gate, and train/val/test split composed
    * into the row a pipeline actually materializes for every crawl
    * document: is it in the training set, and if not, which stage cut
    * it. q133 reports the funnel totals; this is the full decision
    * TABLE (auditable per document, joinable back to the corpus).
    */
  val curationDecisions: Q = (s, dir) => {
    val d = docs(s, dir)
    val qual = mQualityGate(s, dir).select(col("doc_id"), col("pass_quality"))
    val kept = Dedup.canonicalKeepFrom(d, mClusters(s, dir)).select(col("doc_id"), col("keep"))
    Sampling.withSplit(d.select(col("doc_id")), "doc_id")
      .join(kept, "doc_id")
      .join(qual, "doc_id")
      .select(
        col("doc_id"), col("keep"), col("pass_quality"), col("split"),
        (col("keep") && col("pass_quality") && col("split") === "train").as("in_training_set"),
        when(!col("keep"), "dedup")
          .when(!col("pass_quality"), "quality")
          .when(col("split") =!= "train", "holdout")
          .otherwise("selected").as("cut_stage"))
      .orderBy("doc_id")
  }

  /** q147: SemDeDup — the published cluster-then-prune semantic dedup
    * (trained-quantizer clusters, capped within-block cosine pairs,
    * connected-component dup groups, farthest-from-centroid keep).
    * The per-vector decision list an embedding-level curation pass
    * materializes; complements q105 (text-side canonical keep).
    */
  val semDedupDecisions: Q = (s, dir) =>
    Similarity.semDedup(emb(s, dir), trained = Some(mKmeansCos(s, dir)))
      .orderBy("vec_id")

  /** q148: hard-negative mining — per query, the top-5 most-similar
    * DIFFERENT-label candidates from the query's LSH bucket: the
    * contrastive-training negatives a retrieval pipeline materializes
    * (random negatives are trivially separable; these are the
    * near-misses that move a bi-encoder).
    */
  val hardNegativeMining: Q = (s, dir) =>
    Similarity.hardNegatives(emb(s, dir), col("vec_id") < 20, k = 5)
      .orderBy("query_id", "rank")

  /** q149: BM25 ranked retrieval — top-20 docs for a fixed keyword
    * query (one corpus scan, narrow per-doc tf, 1-row broadcast stats,
    * TakeOrderedAndProject top-k).
    */
  val bm25Search: Q = (s, dir) => TextAnalysis.bm25TopK(docs(s, dir))

  /** Per-cluster draw depth for [[clusterSample]]. */
  private val SamplePerCluster = 20

  /** q243: cluster-balanced deterministic sampling — the semantic
    * stratification a curation pass runs so a dominant cluster cannot
    * crowd the training mix (the k-means analogue of q152's per-source
    * temperature sampling): assign every embedding to the trained L2
    * quantizer's nearest centroid, then draw the [[SamplePerCluster]]
    * smallest md5-of-id hashes per cluster — a uniform-without-
    * replacement draw that any engine replays exactly.
    *
    * Scale design: assignment is the broadcast-centroid argmin (one
    * corpus scan, no shuffle beyond the partial agg); the per-cluster
    * draw goes through the mergeable TopKByScore aggregate — map-side
    * heaps ship ≤k ids per (task, cluster), never a per-cluster sort
    * of the corpus. The 32-bit hash is exact in the aggregate's double
    * score (< 2^53), so ordering cannot drift.
    */
  val clusterSample: Q = (s, dir) => {
    import graft.functions.{Hashes, Sketch}
    val asg = Clustering.assignL2(emb(s, dir), mKmeansL2(s, dir))
      .select(col("vec_id"), col("cluster_id"))
      .withColumn("h", Hashes.md5Long32(col("vec_id").cast("string")))
    asg
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("cluster_size"),
        Sketch.topKByScore(-col("h").cast("double"), col("vec_id"),
          SamplePerCluster).as("top"))
      .select(col("cluster_id"), col("cluster_size"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("cluster_id"), col("cluster_size"),
        (col("pos") + 1).cast("int").as("sample_rank"), col("t.id").as("vec_id"))
      .orderBy("cluster_id", "sample_rank")
  }

  /** q150: first BPE-merge iteration — adjacent character-pair counts
    * over the word-frequency dictionary (tokenizer-training step 1).
    */
  val bpeMerges: Q = (s, dir) => Corpus.bpeMergePairs(docs(s, dir))

  /** q151: pairwise source Jensen–Shannon divergence over word
    * distributions — the domain-shift diagnostic behind mixture design.
    */
  val sourceDivergence: Q = (s, dir) => TextAnalysis.sourceDivergence(docs(s, dir))

  /** q152: temperature-scaled source sampling weights (p_i ∝ share_i^α,
    * the multilingual-sampling exponent; α = 0.7): weight each source
    * so low-resource sources are upsampled without flattening the
    * mixture. Complements q123 (explicit target shares).
    */
  val TempAlpha = 0.7
  val temperatureMixture: Q = (s, dir) =>
    Sampling.temperatureWeights(docs(s, dir), TempAlpha)

  /** q153: DSIR importance scores — bigram-LM log-ratio vs the src0
    * target domain (the data-selection ranking of arXiv:2302.03169).
    */
  val dsirScores: Q = (s, dir) =>
    TextAnalysis.dsirScores(docs(s, dir), col("source") === "src0")

  /** q154: T5 span-corruption example generation — deterministic
    * grid-anchored masking, zero-shuffle narrow array expressions.
    */
  val spanCorruption: Q = (s, dir) => Corpus.spanCorruption(docs(s, dir))

  /** q155: product-quantization encoding — per-subspace L2 codebooks,
    * 4-bit codes, decimal-exact reconstruction error.
    */
  val pqEncoding: Q = (s, dir) =>
    Similarity.pqEncode(emb(s, dir), Some(mPqCodebooks(s, dir)))

  /** q156: PQ ADC top-k — the lookup-table asymmetric-distance search
    * over the encoded corpus (codes only, never the original vectors).
    */
  val pqAdc: Q = (s, dir) =>
    Similarity.pqAdcTopK(emb(s, dir), col("vec_id") < 20, k = 5,
        codebooks = Some(mPqCodebooks(s, dir)))
      .orderBy("query_id", "rank")

  /** q157: content-defined chunking — rolling-shingle-hash boundaries,
    * zero-shuffle narrow array expressions.
    */
  val cdcChunking: Q = (s, dir) =>
    Corpus.cdcChunks(docs(s, dir)).orderBy("doc_id", "chunk_idx")

  /** q158: chunk-level dedup report over the CDC chunks — the storage
    * dedup ratio content-defined chunking exists to maximize.
    */
  val cdcDedup: Q = (s, dir) => Corpus.cdcDedupStats(docs(s, dir))

  /** q244: per-document boilerplate census — the share of each doc's
    * words living in chunks that ≥2 documents share (template/license
    * shells); the doc-level drop/down-weight signal q158's corpus
    * summary cannot give.
    */
  val boilerplate: Q = (s, dir) => Corpus.boilerplateCensus(docs(s, dir))

  /** q159: Stupid Backoff trigram scoring vs the non-src0 reference —
    * src0 docs exercise the bigram/unigram backoff tiers.
    */
  val stupidBackoff: Q = (s, dir) =>
    TextAnalysis.stupidBackoffScores(docs(s, dir), col("source") =!= "src0")
      .orderBy("doc_id")

  /** q279: interpolated Kneser-Ney bigram scoring — the KenLM/CCNet
    * perplexity quality filter, trained on the q159 reference subset
    * (non-src0 docs) so held-out src0 text exercises the unseen-context
    * backoff and the continuation-probability floor.
    */
  /** The KN score table as a session artifact — solved once, read by
    * q279 (the score dump) and q284 (the tercile partition): the
    * q253/q246 shared-trajectory discipline for the LM family.
    */
  private def mKnScores(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "kn_scores")(
      TextAnalysis.knBigramScores(docs(s, dir), col("source") =!= "src0"))

  val knScores: Q = (s, dir) => mKnScores(s, dir).orderBy("doc_id")

  /** q284: the CCNet perplexity PARTITION (Wenzek et al. 2020 §4.3 —
    * what the q279 scores exist FOR): docs split into head/middle/tail
    * terciles of the KN log-probability distribution (head = most
    * reference-like; CCNet trains on head+middle and drops or
    * re-weights tail), with the cutoffs the EXACT tercile percentiles
    * (the q27 PERCENTILE_CONT convention: rounded to 6 before use, so
    * the bucket boundary is engine-identical). Per bucket: docs, token
    * mass, token share — the mixture-sizing read.
    *
    * Scale: the cutoffs are one 2-value aggregate broadcast back; at
    * extreme scale swap `percentile` for `percentile_approx` exactly
    * as the q27 family documents.
    */
  val ccnetBuckets: Q = (s, dir) => {
    import graft.functions.Text
    val kn = mKnScores(s, dir).select("doc_id", "kn_avg_logprob")
    val base = kn.join(
      docs(s, dir).select(col("doc_id"), size(Text.words(col("text"))).as("n_tokens")),
      "doc_id")
    val cuts = base.agg(
      round(percentile(col("kn_avg_logprob"), lit(1.0 / 3)), 6).as("c1"),
      round(percentile(col("kn_avg_logprob"), lit(2.0 / 3)), 6).as("c2"))
    val bucketed = base.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("kn_avg_logprob") > col("c2"), "head")
          .when(col("kn_avg_logprob") > col("c1"), "middle")
          .otherwise("tail"))
    val tot = bucketed.agg(sum(col("n_tokens")).as("tot"))
    bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("token_share", round(col("n_tokens").cast("double") / col("tot"), 6))
      .select("bucket", "n_docs", "n_tokens", "token_share")
      .orderBy("bucket")
  }

  /** q160: PQ recall audit — ADC@10 against the exact squared-L2
    * top-10 (what 4-nibble codes give up vs full-precision scan; the
    * q143 IVF-audit shape on the PQ metric). Query points are the
    * [[AnnAuditPct]] hash-sample (see the audit-sampling contract).
    */
  val pqRecall: Q = (s, dir) => {
    val e = emb(s, dir)
    // cached: the exact ranking feeds both the hit join and the
    // denominator aggregation (the q143 pin pattern)
    val exact = Similarity.bruteForceL2TopK(e, annAuditPred, k = 10)
      .select("query_id", "cand_id").cache()
    val approx = Similarity.pqAdcTopK(e, annAuditPred, k = 10,
      codebooks = Some(mPqCodebooks(s, dir)))
      .select("query_id", "cand_id")
    val hits = exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    exact.agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact_pairs"))
      .crossJoin(broadcast(hits))
      .withColumn("recall_at_10",
        round(col("n_hits").cast("double") / col("n_exact_pairs"), 6))
  }

  /** q161: IVF-PQ — coarse L2 lists + product-quantized residuals with
    * per-list ADC lookup tables (faiss IndexIVFPQ re-expressed).
    */
  val ivfPq: Q = (s, dir) =>
    Similarity.ivfPqTopK(emb(s, dir), col("vec_id") < 20, k = 5,
        trained = Some(mKmeansL2(s, dir)))
      .orderBy("query_id", "rank")

  /** q162: JL random projection, long form — 16 codegen'd dots against
    * literal ±0.25 planes per vector.
    */
  val jlProjection: Q = (s, dir) =>
    Similarity.jlProject(emb(s, dir))
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("pos", "val")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"), col("val"))
      .orderBy("vec_id", "dim")

  /** q163: JL distortion audit — the measured (1±ε) guarantee over the
    * query-pair set.
    */
  val jlDistortion: Q = (s, dir) =>
    Similarity.jlDistortion(emb(s, dir), col("vec_id") < 20)

  /** q164: winnowing fingerprint profile (Schleimer 2003 / MOSS). */
  val winnowing: Q = (s, dir) =>
    Dedup.winnowFingerprints(docs(s, dir)).orderBy("doc_id")

  /** q165: winnowing fingerprint-overlap pairs — the MOSS similarity
    * report over shared selected hashes.
    */
  val winnowOverlap: Q = (s, dir) =>
    Dedup.winnowOverlapPairs(docs(s, dir)).orderBy("d1", "d2")

  /** q168: Gopher rule-based quality filter (Rae et al. 2021 Table A1). */
  val gopherRules: Q = (s, dir) =>
    TextAnalysis.gopherRules(docs(s, dir)).orderBy("doc_id")

  /** q211: Dunning-G² keyness — the top characteristic words per source
    * (which words carry the divergence JSD/PSI only measure).
    */
  val keyness: Q = (s, dir) =>
    TextAnalysis.keyness(docs(s, dir)).orderBy("source", "rank")

  /** q226: Hill tail-index estimator (Hill 1975, Annals of Statistics)
    * of the doc-length distribution per source — the heavy-tail audit
    * completing Zipf (q110) and Heaps (q182): α̂ = 1 / mean(ln(x_i/x_k))
    * over the top-k order statistics (small α̂ = heavy tail = a few
    * enormous documents dominate the token budget). The top-k comes
    * from the mergeable TopKByScore aggregate — map-side heaps ship
    * ≤k rows per group into the shuffle, never a per-source sort — and
    * the ln terms are decimal-summed. Sources with fewer than k docs
    * drop (the estimator is undefined there), mirrored by the oracle's
    * rank-k inner join.
    */
  val HillK = 16
  val tailIndex: Q = (s, dir) => {
    val d = docs(s, dir).filter(col("n_chars").isNotNull && col("n_chars") >= 1)
    val top = d.groupBy("source")
      .agg(graft.functions.Sketch.topKByScore(
        col("n_chars").cast("double"), col("doc_id"), HillK).as("top"))
      .filter(size(col("top")) === HillK)
      .withColumn("xk", element_at(col("top"), HillK).getField("score"))
    val terms = top
      .select(col("source"), col("xk"), posexplode(col("top")).as(Seq("pos", "t")))
      .filter(col("pos") < HillK - 1)
      .withColumn("term", log(col("t").getField("score") / col("xk")))
    terms.groupBy("source")
      .agg(max(col("xk")).as("xkd"),
        (Num.dsumHi(col("term")) / lit((HillK - 1).toDouble)).as("raw"))
      .select(col("source"), col("xkd").cast("long").as("x_k"),
        round(col("raw"), 6).as("inv_alpha"),
        when(col("raw") > 0, round(lit(1.0) / col("raw"), 6)).as("hill_alpha"))
      .orderBy("source")
  }

  /** q221: Benford first-digit audit (Benford 1938; the Nigrini 1996
    * forensic test): per source, the first-significant-digit
    * distribution of doc lengths vs the Benford expectation
    * p(d) = log10(1 + 1/d), scored by χ². Natural size-ish data tends
    * toward Benford; a flat or spiked digit histogram flags synthetic
    * or truncated feeds. The expected masses ship as identical
    * shortest-repr double LITERALS in both engines (the q207 DCG
    * convention), so no log10 runs at query time; the digit itself is
    * exact string arithmetic.
    */
  val benfordAudit: Q = (s, dir) => {
    val p = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))
    val expCol = (1 to 9).map(d => when(col("digit") === d, lit(p(d - 1))))
      .reduce((a, b) => coalesce(a, b))
    val digits = docs(s, dir)
      .filter(col("n_chars").isNotNull && col("n_chars") >= 1)
      .select(col("source"),
        substring(col("n_chars").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("source", "digit").agg(count(lit(1)).as("obs"))
    val tot = digits.groupBy("source").agg(sum(col("obs")).as("n"))
    // every source carries ALL nine digit cells (expected-but-unobserved
    // digits contribute their full (0−E)²/E term): without the domain
    // completion a feed spiked on one digit — exactly what this audit
    // exists to flag — got chi² from a single cell and understated the
    // statistic; the 9-row digit frame is a broadcast literal
    val dom = s.range(1, 10).select(col("id").cast("int").as("digit"))
    tot.crossJoin(broadcast(dom))
      .join(digits, Seq("source", "digit"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .withColumn("expected", col("n").cast("double") * expCol)
      .withColumn("term",
        (col("obs").cast("double") - col("expected")) *
          (col("obs").cast("double") - col("expected")) / col("expected"))
      .groupBy("source")
      .agg(max(col("n")).as("n"),
        sum(when(col("obs") > 0, 1L).otherwise(0L)).as("n_digits_seen"),
        round(sum(col("term").cast("decimal(38,12)")).cast("double"), 6).as("chi2"))
      .orderBy("source")
  }

  /** q225: equi-depth length bands from the sketch — per-source
    * p25/p50/p75 doc-length boundaries (log-sketch, broadcast) bin
    * every doc into its quartile band; per (source, band): count, mean
    * quality, and the band's length range. Sketch-driven equi-depth
    * binning — uniform-count bands regardless of distribution shape,
    * with corpus-side work one scan + one keyed aggregation.
    */
  val equiDepthProfile: Q = (s, dir) => {
    import graft.operators.Robust
    val d = TextAnalysis.withTextStats(docs(s, dir))
      .select(col("source"), col("n_chars"), col("quality_score"))
      .filter(col("n_chars").isNotNull && col("n_chars") >= 1)
    val qs = Robust.logQuantile(d, "source", "n_chars", Seq(0.25, 0.5, 0.75))
      .select(col("source"), col("est_p25"), col("est_p50"), col("est_p75"))
    d.join(broadcast(qs), "source")
      .withColumn("band",
        when(col("n_chars") <= col("est_p25"), 1)
          .when(col("n_chars") <= col("est_p50"), 2)
          .when(col("n_chars") <= col("est_p75"), 3)
          .otherwise(4))
      .groupBy("source", "band")
      .agg(
        count(lit(1)).as("n_docs"),
        round(Num.dsumHi(col("quality_score")) / count(lit(1)).cast("double"), 6)
          .as("avg_quality"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("source", "band")
  }

  /** q215: mutual information between the lang and source columns — the
    * corpus-composition audit quantifying how much the language mix
    * varies by source (0 nats = independent; high NMI = language is
    * largely determined by source, the stratification a sampler must
    * respect). One contingency aggregation + two marginal tables, all
    * broadcast-sized; ln terms decimal-summed (the q128 PSI
    * discipline), NMI from the raw sums before rounding.
    */
  val langSourceMi: Q = (s, dir) => {
    val d = docs(s, dir).select(col("lang"), col("source"))
    val joint = d.groupBy("lang", "source").agg(count(lit(1)).as("c"))
    val nRow = d.agg(count(lit(1)).as("n"))
    val ml = d.groupBy("lang").agg(count(lit(1)).as("cl"))
    val ms = d.groupBy("source").agg(count(lit(1)).as("cs"))
    val miRow = joint.join(broadcast(ml), "lang").join(broadcast(ms), "source")
      .crossJoin(broadcast(nRow))
      .withColumn("p", col("c").cast("double") / col("n"))
      .withColumn("pl", col("cl").cast("double") / col("n"))
      .withColumn("ps", col("cs").cast("double") / col("n"))
      .withColumn("term", col("p") * log(col("p") / (col("pl") * col("ps"))))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("term").cast("decimal(38,12)")).cast("double").as("mi_raw"))
    def entropy(m: DataFrame, cnt: String, out: String) =
      m.crossJoin(broadcast(nRow))
        .withColumn("p", col(cnt).cast("double") / col("n"))
        .agg(sum((-col("p") * log(col("p"))).cast("decimal(38,12)"))
          .cast("double").as(out))
    miRow.crossJoin(broadcast(entropy(ml, "cl", "hl_raw")))
      .crossJoin(broadcast(entropy(ms, "cs", "hs_raw")))
      .crossJoin(broadcast(nRow))
      .select(col("n").as("n_docs"), col("n_cells"),
        round(col("mi_raw"), 6).as("mi"),
        round(col("hl_raw"), 6).as("h_lang"),
        round(col("hs_raw"), 6).as("h_source"),
        round(col("mi_raw") / sqrt(col("hl_raw") * col("hs_raw")), 6).as("nmi"))
  }

  /** q210: Pareto-skyline selection — every document that is
    * best-quality for its length class (not dominated in BOTH n_chars
    * and quality_score). The frontier a curation budget-picker walks
    * without committing to one quality/length trade-off weight.
    * Corpus-scale work is one scan + the logBin staircase prune; the
    * exact dominance test runs on the pruned survivors only (see
    * [[graft.operators.Skyline]]).
    */
  val paretoSkyline: Q = (s, dir) =>
    Skyline.skyline2(
      TextAnalysis.withTextStats(docs(s, dir))
        .select("doc_id", "n_chars", "quality_score"),
      "doc_id", "n_chars", "quality_score")
      .orderBy("doc_id")

  /** q169: per-dimension corpus standardization (z-score scaling) of the
    * embedding table, exploded to (vec_id, dim, z) rows for the
    * hash-compare.
    */
  val standardizeEmb: Q = (s, dir) =>
    Similarity.standardize(emb(s, dir))
      .select(col("vec_id"), posexplode(col("z")).as(Seq("pos", "z")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"), col("z"))
      .orderBy("vec_id", "dim")

  /** q170: MMR-diversified top-5 re-rank over the exact top-20 pool. */
  val mmrRerank: Q = (s, dir) =>
    Similarity.mmrTopK(emb(s, dir), col("vec_id") < 20)
      .orderBy("query_id", "step")

  /** q171: in-engine GD-trained logistic-regression domain classifier. */
  val domainClassifier: Q = (s, dir) =>
    Classifier.trainDomainClassifier(docs(s, dir), col("source") === "src0")

  /** q172: the classifier's filter pass — every doc scored + keep flag. */
  val classifierScores: Q = (s, dir) =>
    Classifier.scoreDocuments(docs(s, dir), col("source") === "src0")

  /** q290: exact linear-SHAP attributions for the domain classifier —
    * per doc, WHY it scored what it scored (φᵢ = wᵢ(xᵢ−E[xᵢ]); the
    * explainability pass beside the q172 verdicts).
    */
  val shapQ: Q = (s, dir) =>
    Classifier.shapAttributions(docs(s, dir), col("source") === "src0")

  /** q291: PSI score-drift alarm — the classifier's score distribution
    * compared between two hash cohorts ("yesterday vs today"), per-bin
    * contributions.
    */
  val psiQ: Q = (s, dir) =>
    Classifier.psiDrift(docs(s, dir), col("source") === "src0",
      Sampling.hashBucket(col("doc_id")) < 50)

  /** q292: calibration curve + ECE decomposition for the classifier —
    * is a 0.9 score really 90%? (q219's conformal gate is the repair;
    * this is the detector.)
    */
  val calibrationQ: Q = (s, dir) =>
    Classifier.calibrationCurve(docs(s, dir), col("source") === "src0")

  /** q230: Neyman-optimal stratified sampling plan — per source, the
    * variance-minimizing share of a 100-sample inspection budget
    * (n_h ∝ N_h·S_h over the quality-score signal): big or internally
    * variable sources get inspected more, uniform ones barely at all.
    */
  val neymanPlan: Q = (s, dir) =>
    Sampling.neymanAllocation(
      TextAnalysis.withTextStats(docs(s, dir))
        .select(col("source"), col("quality_score")),
      "source", "quality_score")

  /** q228: 5-fold cross-validation of the domain classifier — each
    * fold trained on the other four hash-bucket spans, scored on its
    * own; the variance-across-resamples read one split (q171) can't
    * give.
    */
  val classifierCv: Q = (s, dir) =>
    Classifier.crossValidate(docs(s, dir), col("source") === "src0")

  /** q229: learning curve — the classifier retrained at nested
    * training fractions, scored on one fixed held-out split; the
    * "do we need more data?" read.
    */
  val learningCurve: Q = (s, dir) =>
    Classifier.learningCurve(docs(s, dir), col("source") === "src0")

  /** q219: split-conformal calibration of the domain classifier —
    * train/calibrate/eval on disjoint hash-bucket splits; the
    * calibration order statistic gives the distribution-free
    * P(false keep) ≤ ε threshold, and the eval split reports the
    * empirical FPR/recall at it.
    */
  val conformalGate: Q = (s, dir) =>
    Classifier.conformalGate(docs(s, dir), col("source") === "src0")

  /** q198: exact ROC-AUC of the q172 scorer — the threshold-free model
    * quality read (Mann–Whitney with average-rank ties), ranked by a
    * bucketed two-level cumulative instead of a global window sort.
    */
  val classifierAuc: Q = (s, dir) =>
    Classifier.auc(Classifier.scoreDocuments(docs(s, dir), col("source") === "src0"))

  /** q173: cross-source exact-duplicate overlap matrix — for every
    * source pair, how many distinct content hashes they share and the
    * hash-set Jaccard. The inter-source redundancy read a mixture
    * designer needs BEFORE weighting sources (q151's JSD measures
    * distribution shift; this measures literal copy overlap). Pairs
    * with zero overlap are kept via the tiny totals cross join.
    *
    * Scale: one distinct on (source, hash), a hash-keyed self-join
    * (each hash carries <= n_sources rows — never hot), and an
    * n_sources² broadcast base. No doc-pair space anywhere.
    */
  val crossSourceDups: Q = (s, dir) => {
    val d = docs(s, dir).select(col("source"), md5(col("text")).as("h")).distinct()
    val t = d.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = d.select(col("source").as("src_a"), col("h"))
      .join(d.select(col("source").as("src_b"), col("h")), "h")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("c"))
    broadcast(t.select(col("source").as("src_a"), col("n").as("n_a")))
      .join(broadcast(t.select(col("source").as("src_b"), col("n").as("n_b"))),
        col("src_a") < col("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("c"), lit(0L)).as("n_shared_hashes"),
        round(coalesce(col("c"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("c"), lit(0L))), 6).as("hash_jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** q174: sequence-length distribution per source — the exact
    * p50/p90/p99/max token counts that size packing buffers and length
    * buckets (q167 measures the waste; this is the distribution that
    * causes it). One keyed aggregation over the q49-verified stats.
    */
  val lengthDistribution: Q = (s, dir) =>
    TextAnalysis.withTextStats(docs(s, dir))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(percentile(col("n_tokens"), lit(0.5)), 6).as("p50_tokens"),
        round(percentile(col("n_tokens"), lit(0.9)), 6).as("p90_tokens"),
        round(percentile(col("n_tokens"), lit(0.99)), 6).as("p99_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy("source")

  /** q175: PII-scrub audit — per source, documents carrying redacted
    * emails after q70's cleaning pass, total redactions, and the
    * character volume the full normalization removed. The privacy
    * report a curation pipeline publishes next to its dataset card.
    */
  val scrubAudit: Q = (s, dir) => scrubAuditOf(docs(s, dir))

  private[graft] def scrubAuditOf(d: DataFrame): DataFrame =
    TextAnalysis.withCleanText(d)
      .select(col("source"), col("n_chars"), col("clean_len"),
        ((length(col("clean_text")) -
          length(replace(col("clean_text"), lit("<email>"), lit("")))) / lit(7))
          .cast("long").as("n_emails"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_emails") > 0, 1L).otherwise(0L)).as("docs_with_email"),
        sum(col("n_emails")).as("total_emails"),
        sum((col("n_chars") - col("clean_len")).cast("long")).as("chars_removed"))
      .orderBy("source")

  /** q176: k-center coreset by farthest-point sampling (diversity-first
    * corpus-wide data selection; the selection-time distance is the
    * covering radius trajectory).
    */
  val kCenterCoreset: Q = (s, dir) => Similarity.kCenterCoreset(emb(s, dir))

  /** q177: the end-to-end curation pipeline as ONE query — exact dedup
    * ∧ Gopher quality ∧ trained-classifier domain targeting, rolled up
    * into a per-source funnel with the surviving token budget. Every
    * stage is an independently hash-verified subtree (q40/q168/q172);
    * the composition adds only doc_id-keyed joins and exact counts, so
    * the whole pipeline stays oracle-checkable end-to-end — this is the
    * query a user of the engine actually ships.
    */
  val curationPipeline: Q = (s, dir) => {
    val d = docs(s, dir)
    val kept = Dedup.exact(d).select(col("kept_doc_id").as("doc_id"), lit(true).as("u"))
    val gopher = TextAnalysis.gopherRules(d).select(col("doc_id"), col("pass_gopher"))
    val scored = Classifier.scoreDocuments(d, col("source") === "src0")
      .select(col("doc_id"), col("predicted_positive"))
    TextAnalysis.withTextStats(d)
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .join(gopher, "doc_id")
      .join(scored, "doc_id")
      .withColumn("is_unique", coalesce(col("u"), lit(false)))
      .withColumn("selected",
        col("is_unique") && col("pass_gopher") && col("predicted_positive"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_unique"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("is_unique") && col("pass_gopher"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("selected"), col("n_tokens").cast("long")).otherwise(0L))
          .as("tokens_selected"))
      .orderBy("source")
  }

  /** q178: the classifier trained on a 25% hash sample (the IVF
    * quantizer discipline — at corpus scale GD touches the sample,
    * evaluation covers everything); the sampled trajectory is replayed
    * by the oracle just like the full one.
    */
  val classifierSampled: Q = (s, dir) =>
    Classifier.trainDomainClassifier(docs(s, dir), col("source") === "src0",
      trainPct = 25)

  /** q179: subword tokenization — train the gram vocabulary, greedy
    * longest-match encode the word dictionary, roll up per doc.
    */
  val subwordTokens: Q = (s, dir) =>
    Corpus.subwordTokenize(docs(s, dir)).orderBy("doc_id")

  /** q199: unigram-LM tokenization — OPTIMAL (Viterbi) segmentation
    * under a hard-EM-trained piece model; q179's greedy counterpart
    * completing the tokenizer family (BPE q150, WordPiece q179,
    * unigram q199).
    */
  val unigramTokens: Q = (s, dir) =>
    Corpus.unigramTokenize(docs(s, dir)).orderBy("doc_id")

  /** q200: the trained unigram vocabulary artifact (piece, EM usage,
    * -ln p score) a tokenizer stage ships alongside the encoded corpus.
    */
  val unigramVocab: Q = (s, dir) =>
    Corpus.unigramVocabReport(docs(s, dir))

  /** q204: greedy budget selection — per source, the best documents by
    * quality until half the source's tokens are spent; reports the
    * funnel and the quality cutoff the budget buys.
    */
  val budgetSelection: Q = (s, dir) =>
    Sampling.budgetSelection(docs(s, dir), budgetFrac = 0.5).orderBy("source")

  /** q212: DoReMi-style domain-mixture reweighting — multiplicative-
    * weights upweighting of below-corpus-quality sources over the
    * token-share base mixture, δ-smoothed; the learned sampling weights
    * q152's fixed temperature exponent cannot express.
    */
  val doremiMixture: Q = (s, dir) =>
    Sampling.doremiWeights(docs(s, dir))

  /** q202: per-language AUC breakdown of the domain classifier — the
    * fairness/robustness read on a single model (a global AUC can hide
    * a stratum where the separator fails). Languages span both classes
    * so every group carries pair statistics; degenerate single-class
    * groups would drop (mirrored HAVING).
    */
  val aucByLang: Q = (s, dir) => {
    val d = docs(s, dir)
    val scored = Classifier.scoreDocuments(d, col("source") === "src0")
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
    Classifier.aucBy(scored, "lang").orderBy("lang")
  }

  /** q201: signal-agreement audit — exact per-source Spearman rank
    * correlation between two independent quality signals (the q49
    * heuristic quality score and the q98 character entropy). Signals
    * that order the corpus identically are redundant; signals that
    * disagree flag where one of them is lying. Ranks come from the
    * distributed tie-aware machinery (never a global sort).
    */
  val signalAgreement: Q = (s, dir) => {
    val d = docs(s, dir)
    val sig = TextAnalysis.withTextStats(d)
      .select(col("doc_id"), col("source"), col("quality_score"))
      .join(TextAnalysis.charEntropy(d).select(col("doc_id"), col("entropy")), "doc_id")
    graft.operators.Robust.spearman(sig, "source", "quality_score", "entropy")
      .orderBy("source")
  }

  /** q180: per-source quantile calibration of the quality score — each
    * document's percent rank WITHIN its source (unique ordering via the
    * doc_id tie-break, so ranks are engine-exact) plus the
    * top-half-per-source flag. Thresholding the rank instead of the raw
    * score selects the same FRACTION from every source, immune to
    * distribution shift between sources — the fair-mixing calibration
    * step (cf. CCNet's per-language perplexity buckets).
    */
  val qualityCalibration: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    TextAnalysis.withTextStats(docs(s, dir))
      .select(col("doc_id"), col("source"), col("quality_score"))
      .withColumn("q_rank", round(percent_rank().over(w), 6))
      .withColumn("selected_fair", percent_rank().over(w) >= 0.5)
      // quality_score ships UNROUNDED (the q49 convention): the raw
      // double is bit-equal across engines, while rounding it put one
      // row exactly on a 6-dp half boundary in testing
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("q_rank"), col("selected_fair"))
      .orderBy("doc_id")
  }

  /** q181: distinct-n diversity (Li et al. 2016): per source and n-gram
    * order, the unique/total gram ratio — the repetitiveness complement
    * to q140's within-doc coverage, here across the whole source.
    *
    * Single-pass shape: the text is split ONCE, each order's shingle
    * array is tagged with n inline, and all three explode together —
    * one corpus scan and one (source, n)-keyed aggregation instead of
    * three scans unioned (the per-(source, n) rows are value-identical
    * to the per-n form, so the oracle is unchanged).
    */
  val distinctNgrams: Q = (s, dir) => {
    import graft.functions.Text
    docs(s, dir)
      .select(col("source"), Text.words(col("text")).as("w"))
      .select(col("source"),
        explode(flatten(array((1 to 3).map(n =>
          transform(Text.shinglesOfWords(col("w"), n),
            g => struct(lit(n).as("n"), g.as("g")))): _*))).as("t"))
      .groupBy(col("source"), col("t.n").as("n"))
      .agg(count(lit(1)).as("total_ngrams"),
        count_distinct(col("t.g")).as("distinct_ngrams"))
      .select(col("source"), col("n"),
        col("total_ngrams"), col("distinct_ngrams"),
        round(col("distinct_ngrams").cast("double") / col("total_ngrams"), 6)
          .as("distinct_ratio"))
      .orderBy("source", "n")
  }

  /** q182: Heaps'-law vocabulary-growth fit over the ingestion curve. */
  val heapsGrowth: Q = (s, dir) => TextAnalysis.heapsFit(docs(s, dir))

  /** q183: embedding-table QA — the one-row health report an ANN index
    * build runs first: vector count, how many are unit-norm /
    * near-zero / NaN-free, the norm range, and the dimension check
    * (degenerate vectors poison cosine metrics silently; the testdata
    * table IS unit-normalized to float precision, which this report
    * states rather than assumes). One narrow pass, flag comparisons on
    * exact doubles (no rounded z-scores — the norm variance of a
    * unit-norm table sits below decimal resolution by construction).
    */
  val embeddingQa: Q = (s, dir) => {
    import graft.functions.Vec
    emb(s, dir)
      .select(
        sqrt(Vec.dotFast(col("embedding"), col("embedding"))).as("nrm"),
        size(col("embedding")).as("dim"),
        size(filter(col("embedding"), x => isnan(x))).as("n_nan"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when(abs(col("nrm") - 1.0) < 0.00001, 1L).otherwise(0L)).as("n_unit_norm"),
        sum(when(col("nrm") < 0.01, 1L).otherwise(0L)).as("n_near_zero"),
        sum(when(col("n_nan") > 0, 1L).otherwise(0L)).as("n_with_nan"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"),
        min(col("dim")).as("min_dim"),
        max(col("dim")).as("max_dim"))
  }

  /** q184: the streaming curation gate's arithmetic, hash-checked as a
    * batch frame. StreamCurationSpec proves stream ≡ batch verdicts;
    * this query proves the batch half against the DuckDB oracle, so the
    * gate a live feed runs — Gopher flags, the trained classifier
    * boundary, the combined verdict — is oracle-verified end to end
    * (the q138/q139 stream-twin pattern applied to the round-6
    * operator). Weights are trained OFFLINE (the q171 trajectory,
    * collected once through the driver) and applied as plan literals,
    * exactly as the stream does: train-offline / score-online, with
    * the online half a stateless narrow projection.
    */
  val streamGateTwin: Q = (s, dir) => {
    val d = docs(s, dir)
    val w = Classifier.trainedWeights(d, col("source") === "src0")
    graft.streaming.StreamCuration.curate(d, w).orderBy("doc_id")
  }

  /** q185: per-modality payload triage — modality DETECTED from the
    * payload bytes (magic-number sniffing, not trusted metadata), then
    * the size / exact-dup census per modality: the first report a mixed
    * 100 TB crawl runs before deciding what to decode. One narrow
    * binary projection + one keyed aggregate; dedup is md5-of-bytes
    * (count_distinct, no pair space).
    */
  val modalityStats: Q = (s, dir) =>
    Multimodal.withMagicPayload(docs(s, dir))
      .withColumn("modality", Multimodal.detectModality(col("payload")))
      .groupBy("modality")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(octet_length(col("payload")).cast("long")).as("total_bytes"),
        count_distinct(md5(col("payload"))).as("n_distinct_payloads"),
        round(Num.davg(octet_length(col("payload"))), 6).as("avg_bytes"))
      .select(col("modality"), col("n_docs"), col("total_bytes"),
        col("n_distinct_payloads"),
        (col("n_docs") - col("n_distinct_payloads")).as("n_dup_docs"),
        col("avg_bytes"))
      .orderBy("modality")

  /** q186: prefix byte-histogram entropy per modality — the
    * compressed-vs-structured sniff (encoded media reads near-uniform,
    * text far below) run on the first [[PrefixBytes]] payload bytes
    * only, so cost is O(docs), independent of payload size. Per-doc
    * entropy follows the q98 decimal discipline; the modality rollup is
    * a decimal-backed mean.
    */
  val PrefixBytes = 64
  val byteEntropy: Q = (s, dir) => {
    val perDoc = Multimodal.withMagicPayload(docs(s, dir))
      .withColumn("modality", Multimodal.detectModality(col("payload")))
      .filter(octet_length(col("payload")) > 0)
      .withColumn("plen", least(octet_length(col("payload")), lit(PrefixBytes)))
      .select(col("doc_id"), col("modality"), col("plen"), col("payload"),
        explode(sequence(lit(1), col("plen"))).as("i"))
      .select(col("doc_id"), col("modality"), col("plen"),
        col("payload").substr(col("i"), lit(1)).cast("string").as("b"))
      .groupBy("doc_id", "modality", "plen", "b").agg(count(lit(1)).as("c"))
      .withColumn("term", (col("c") / col("plen")) * log(col("c") / col("plen")))
      .groupBy("doc_id", "modality")
      .agg((-sum(col("term").cast("decimal(38,6)"))).cast("double").as("entropy"))
    perDoc.groupBy("modality")
      .agg(
        count(lit(1)).as("n_docs"),
        round(Num.davg(col("entropy")), 6).as("avg_prefix_entropy"),
        round(min(col("entropy")), 6).as("min_prefix_entropy"),
        round(max(col("entropy")), 6).as("max_prefix_entropy"))
      .orderBy("modality")
  }

  /** q187: the mapPartitions codec boundary itself, oracle-checked —
    * decodeStub's per-partition feature extraction (sizes, fake
    * dimensions, the sequential byte-fold checksum) hash-compared
    * against a DuckDB replay of the same fold. Proves the typed
    * Dataset boundary (where a real codec batch-decodes) preserves
    * every row and byte, not just the spec'd sample.
    */
  val decodeFeatures: Q = (s, dir) =>
    Multimodal.decodeStub(Multimodal.toMediaRows(docs(s, dir)))
      .toDF()
      .select("doc_id", "n_bytes", "width", "height", "n_frames", "checksum")
      .orderBy("doc_id")

  /** q188: resize planning over extracted dimensions — longest-edge cap
    * with aspect preserved, floor semantics (what a resampler reports).
    * Pure integer/double expressions; the pixel work would live at the
    * q187 codec boundary.
    */
  val resizePlan: Q = (s, dir) =>
    Multimodal.resizeMeta(Multimodal.withMediaMeta(docs(s, dir)))
      .select("doc_id", "width", "height", "out_width", "out_height")
      .orderBy("doc_id")

  /** q237: perceptual near-dup over the media payloads — 64-bit dHash
    * fingerprints from the deterministic decoded-byte features, banded
    * Hamming LSH candidate generation (block-capped, never all-pairs),
    * exact 64-bit verification. See [[Multimodal.dhashNearDupPairs]].
    */
  /** Corpus fingerprint table (doc_id, dhash) — persisted once per
    * corpus: the pair generator's DAG reads the fingerprint subtree
    * four times (block census + both self-join sides), and q239 splits
    * it into index/new halves.
    */
  private def mDhashFp(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "dhash_fp")(Multimodal.withDhash(docs(s, dir)))

  val dhashNearDup: Q = (s, dir) =>
    Multimodal.dhashPairsFromHashes(mDhashFp(s, dir))

  /** q254: the dhash family over a GENUINELY BINARY payload column —
    * the magic-tagged media bytes (q51's modality surface), not text:
    * the fingerprint's length/substring/md5 pipeline is
    * BinaryType-native, so the 8×9 grid pools raw byte windows with no
    * decode and no string round-trip. Same persisted-fingerprint
    * discipline as [[mDhashFp]] (its own artifact key — the byte
    * stream differs by the magic tags), same banded block-capped pair
    * generation.
    */
  private def mDhashFpBin(s: SparkSession, dir: String): DataFrame =
    Materialized.of(s, dir, "dhash_fp_bin")(
      Multimodal.withDhash(Multimodal.withMagicPayload(docs(s, dir)), "payload"))

  val dhashBinary: Q = (s, dir) =>
    Multimodal.dhashPairsFromHashes(mDhashFpBin(s, dir))

  /** q245: perceptual dup CLUSTERS — the media twin of q52: the
    * verified dhash pair graph resolved to connected components
    * (min-label clusters + sizes + canonical keeper). Candidate
    * generation stays banded and block-capped; the component solve is
    * the same adaptive operator (driver union-find under 2M edges,
    * distributed pointer-jumping above — STRESS_r10 pins the loop's
    * linearity).
    */
  val dhashClusters: Q = (s, dir) =>
    Dedup.connectedComponents(
      Multimodal.dhashPairsFromHashes(mDhashFp(s, dir)).select("d1", "d2"))
      .orderBy("doc_id")

  /** q247: banded-LSH operating-point audit for the dhash family — the
    * exact-Hamming histogram of every distinct candidate pair the
    * multi-index surfaces, flagged by the verify threshold (the media
    * twin of q136's minhash threshold-sensitivity read).
    */
  val dhashHistogram: Q = (s, dir) =>
    Multimodal.dhashCandidateHistogram(mDhashFp(s, dir))

  /** q239: incremental dhash index maintenance — the corpus
    * fingerprint table for the EXISTING docs (doc_id <
    * [[IncrementalSplit]]) parquet-persisted once via
    * [[Materialized.onDisk]] (the media twin of the q238 persisted
    * quantizer), then only the NEW batch is fingerprinted and matched
    * against the disk artifact through the banded Hamming join. The
    * oracle re-derives every fingerprint from scratch, so the hash
    * gate proves index-reader ≡ re-deriver for the media index too.
    */
  val dhashIncremental: Q = (s, dir) => {
    val index = Materialized.onDisk(s, dir, "dhash_index")(
      mDhashFp(s, dir).filter(col("doc_id") < IncrementalSplit))
    val newH = mDhashFp(s, dir).filter(col("doc_id") >= IncrementalSplit)
    Multimodal.dhashIndexMatches(newH, index)
  }

  /** q238: the persisted-index consumer — the trained L2 coarse
    * quantizer parquet-WRITTEN once and READ BACK from disk
    * ([[Materialized.onDisk]]: the q235 maintenance plan's "reuse"
    * branch, actually exercised), then the full corpus assigned against
    * the disk artifact: per-centroid inverted-list sizes, empty lists
    * included. The oracle re-derives the quantizer from scratch, so the
    * hash gate IS the artifact-reader ≡ re-deriver proof.
    */
  val persistedIndex: Q = (s, dir) => {
    val cents = Materialized.onDisk(s, dir, "kmeans_l2")(mKmeansL2(s, dir))
    val asg = Clustering.assignL2(
      emb(s, dir).select(col("vec_id"), col("embedding")), cents)
    cents.select(col("cluster_id").as("cent_id"))
      .join(
        asg.groupBy(col("cluster_id").as("cent_id")).agg(count(lit(1)).as("n_vecs")),
        Seq("cent_id"), "left")
      .na.fill(0L, Seq("n_vecs"))
      .select(col("cent_id"), col("n_vecs"))
      .orderBy("cent_id")
  }

  /** q189: severity-weighted dictionary blocklist (word + phrase tiers,
    * broadcast dictionary joins — the bad-term/PII/toxicity gate).
    */
  val blocklist: Q = (s, dir) =>
    TextAnalysis.blocklistFilter(docs(s, dir)).orderBy("doc_id")

  /** q241: exact phrase search via a positional posting join — the
    * inverted-index retrieval access path (companion to q115's index
    * BUILD), sized by the query terms' postings, never the corpus.
    */
  val phraseSearch: Q = (s, dir) =>
    TextAnalysis.phraseSearch(docs(s, dir))

  /** q248: the same phrase queries over a DISK-PERSISTED positional
    * posting index — the retrieval member of the persisted-artifact
    * family (q238 quantizer, q239 dhash index): the corpus is exploded
    * ONCE into the parquet postings artifact, every later query reads
    * it back (query-term filter pushed to the artifact scan, the
    * corpus never re-tokenized). The oracle re-derives postings from
    * scratch, so the hash gate proves index-reader ≡ re-deriver for
    * the text-retrieval index too.
    */
  val phraseSearchIndexed: Q = (s, dir) => {
    val posts = mPostings(s, dir)
    TextAnalysis.phraseSearchPostings(posts)
  }

  /** q251: n-word phrase search (3-5-word phrases, incl. a
    * repeated-word phrase) over the SAME persisted posting artifact as
    * q248 — anchor aggregation resolves any phrase length with one
    * broadcast join + one keyed aggregation (see
    * [[TextAnalysis.phraseSearchPostings]]); the oracle re-derives
    * postings from scratch.
    */
  val phraseSearchNgram: Q = (s, dir) => {
    val posts = mPostings(s, dir)
    TextAnalysis.phraseSearchPostings(posts, TextAnalysis.PhraseQueriesNgram)
  }

  /** q252: BM25 ranked retrieval SERVED FROM the persisted posting
    * artifact — term stats (tf, dl, df, N) all derive from one keyed
    * aggregation of the q248 postings parquet, the corpus is never
    * re-tokenized (no Generate in the plan), and the scoring tail is
    * shared with q149 — so the q149 oracle (which re-derives from the
    * raw corpus) proves index-reader ≡ re-deriver for ranked retrieval.
    */
  val bm25Indexed: Q = (s, dir) => {
    val posts = mPostings(s, dir)
    TextAnalysis.bm25FromPostings(posts)
  }

  /** q255: query-term PROXIMITY from the same persisted posting
    * artifact — per unordered BM25-query-term pair, the per-doc minimum
    * token distance (merged-order adjacency window: O(|postings|),
    * never the per-doc position product), rolled up per pair. The
    * sloppy-phrase signal ranked retrieval layers on BM25.
    */
  val termProximity: Q = (s, dir) => {
    val posts = mPostings(s, dir)
    TextAnalysis.termProximity(posts)
  }

  /** q257: minimal covering window over the same artifact — the
    * "sloppy phrase" passage-retrieval primitive: the tightest token
    * span containing one occurrence of every BM25 query term, top-25
    * docs. One (doc)-keyed conditional-running-max window over the
    * query terms' postings; see [[TextAnalysis.minWindowCover]].
    */
  val minWindow: Q = (s, dir) => {
    val posts = mPostings(s, dir)
    TextAnalysis.minWindowCover(posts)
  }

  /** q258: snippet extraction — the retrieval-UX tail of q257: for the
    * top-10 tightest-window docs, the covering window's token slice as
    * a display snippet; only the 10 winners join back to the corpus
    * text (broadcast), so the text column is read k times, never
    * corpus-wide.
    */
  val minWindowSnippets: Q = (s, dir) => {
    val posts = mPostings(s, dir)
    TextAnalysis.minWindowSnippets(docs(s, dir), posts)
  }

  /** q259: Dirichlet query-likelihood ranking (Zhai & Lafferty 2001)
    * from the same postings artifact — the language-modeling ranker
    * beside q252's BM25, sharing the one keyed tf/dl aggregation
    * shape; the oracle re-derives from the raw corpus.
    */
  val dirichletQl: Q = (s, dir) => {
    val posts = mPostings(s, dir)
    TextAnalysis.dirichletQL(posts)
  }

  /** q260: incremental posting-index MAINTENANCE — the text twin of
    * q239's media-index ingest: the existing docs' postings are the
    * disk artifact (built once), an arriving batch (doc_id ≥
    * [[IncrementalSplit]]) is tokenized ALONE and unioned at query
    * time — the corpus before the split is never re-tokenized. The
    * oracle is q251's from-scratch SQL, so the hash gate proves
    * (artifact ∪ delta) ≡ a full re-derivation.
    */
  val incrementalPostings: Q = (s, dir) => {
    val base = Materialized.onDisk(s, dir, "postings_base")(
      TextAnalysis.positionalPostings(
        docs(s, dir).filter(col("doc_id") < IncrementalSplit)))
    val delta = TextAnalysis.positionalPostings(
      docs(s, dir).filter(col("doc_id") >= IncrementalSplit))
    TextAnalysis.phraseSearchPostings(
      base.unionByName(delta), TextAnalysis.PhraseQueriesNgram)
  }

  /** q261: hybrid TEXT retrieval — Reciprocal Rank Fusion (the q216
    * convention: 1/(60+rank), absent list contributes 0) of the two
    * posting-artifact rankers, q252's BM25 and q259's Dirichlet QL.
    * Both rankings come from the SAME one-pass tf/dl aggregation of
    * the artifact; fusion is a 20×20 full-outer join.
    */
  val hybridTextRrf: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val posts = mPostings(s, dir)
    // ONE tf/dl aggregation feeds both rankers (the corpus-scale cost
    // center must not run once per ranking) — the branches share the
    // aggregation exchange via ReuseExchange, plan-audited
    val scored = TextAnalysis.retrievalScores(posts)
    def ranked(scoreCol: String, keep: org.apache.spark.sql.Column, rankName: String) =
      scored.filter(keep)
        .orderBy(col(scoreCol).desc, col("doc_id")).limit(20)
        .withColumn(rankName,
          row_number().over(Window.orderBy(col(scoreCol).desc, col("doc_id"))))
        .select(col("doc_id"), col(rankName))
    val bm = ranked("bscore", col("bscore") > 0, "bm_rank")
    val ql = ranked("qscore", col("n_hits") > 0, "ql_rank")
    rrfFuse(bm, "bm_rank", ql, "ql_rank")
  }

  /** The dense query vector for the q262 hybrid: a fixed corpus id
    * (doc_id = vec_id is the documents↔embeddings link), the same
    * fixed-query convention as the q252 BM25 term set.
    */
  val HybridQueryVec = 0L

  /** The shared q262/q267/q278 oracle shape: BOTH rankings re-derived
    * from scratch (corpus tokenization for BM25, the full
    * Lloyd-trajectory replay for IVF), fused by the same RRF tail;
    * q278 passes each side's surviving-corpus predicate so the oracle
    * rebuilds WITHOUT the tombstoned cohorts.
    */
  private def hybridOracle(lexSql: String, denseSql: String): String =
    s"""WITH lex AS (
       |  SELECT doc_id, rank AS lex_rank FROM ($lexSql)),
       |dense AS (
       |  SELECT cand_id AS doc_id, rank AS dense_rank
       |  FROM ($denseSql)),
       |f AS (SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
       |        round(COALESCE(1.0 / (60 + l.lex_rank), 0.0)
       |            + COALESCE(1.0 / (60 + d.dense_rank), 0.0), 6) AS rrf_score,
       |        COALESCE(l.lex_rank, 0) AS lex_rank,
       |        COALESCE(d.dense_rank, 0) AS dense_rank
       |      FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
       |SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS rank,
       |  doc_id, rrf_score, lex_rank, dense_rank
       |FROM (SELECT * FROM f ORDER BY rrf_score DESC, doc_id LIMIT 20)
       |ORDER BY rank""".stripMargin

  private lazy val hybridOracleSql: String = hybridOracle(
    TextAnalysis.O.bm25TopK(),
    Similarity.O.ivf(s"vec_id = $HybridQueryVec", k = 20))

  /** The shared RRF tail of every hybrid query (q261/q262/q267/q278):
    * full-outer join of two ≤20-row (doc_id, rank) lists, score
    * Σ 1/(60+rank) with an absent list contributing 0 (the q216
    * convention), rounded before ranking with a doc_id tie-break in
    * both engines.
    */
  private def rrfFuse(left: DataFrame, leftRank: String,
      right: DataFrame, rightRank: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = left.join(right, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(60) + col(leftRank)), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col(rightRank)), lit(0.0)), 6))
      .select(col("doc_id"), col("rrf_score"),
        coalesce(col(leftRank), lit(0)).as(leftRank),
        coalesce(col(rightRank), lit(0)).as(rightRank))
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(20)
    fused
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf_score").desc, col("doc_id"))))
      .select("rank", "doc_id", "rrf_score", leftRank, rightRank)
      .orderBy("rank")
  }

  /** q262: hybrid DENSE + LEXICAL retrieval — the canonical
    * hybrid-search shape at 100 TB: BM25 served from the persisted
    * posting artifact (lexical side — the corpus is never
    * re-tokenized; q252's path) fused with embedding ANN over the
    * vector corpus (dense side — the q65 IVF path: trained-quantizer
    * session artifact, probe-list candidates, never all-pairs) through
    * Reciprocal Rank Fusion (the q216/q261 convention: Σ 1/(60+rank),
    * an absent list contributes 0). doc_id = vec_id joins the text and
    * vector corpora, so a doc surfaced by either modality ranks.
    *
    * Scale shape: each side reads its index artifact (postings
    * parquet / coarse quantizer) — one artifact read per side, no
    * corpus re-derivation anywhere; the fusion itself is a full-outer
    * join of two ≤20-row rank lists. The oracle re-derives BOTH
    * rankings from scratch (corpus tokenization + the full Lloyd
    * trajectory replay), so the hash gate proves index-reader ≡
    * re-deriver across the whole hybrid stack.
    */
  val hybridDenseLexical: Q = (s, dir) => {
    val posts = mPostings(s, dir)
    val lex = TextAnalysis.bm25FromPostings(posts)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val dense = Similarity.ivfTopK(emb(s, dir), col("vec_id") === HybridQueryVec,
        k = 20, trained = Some(mKmeansCos(s, dir)))
      .select(col("cand_id").as("doc_id"), col("rank").as("dense_rank"))
    rrfFuse(lex, "lex_rank", dense, "dense_rank")
  }

  /** q267: the FULL hybrid stack served from INCREMENTALLY-MAINTAINED
    * indexes — the everything-incremental capstone: the lexical side is
    * BM25 over (postings base artifact ∪ freshly-tokenized delta — the
    * q260 maintenance path), the dense side is IVF over (stored base
    * lists ∪ freshly-assigned delta — the q266 path), fused exactly
    * like q262. BM25's corpus statistics derive from the unioned
    * postings and per-vector assignment is quantizer-deterministic, so
    * both sides are value-identical to their full-index twins — q267
    * deliberately SHARES q262's oracle: one hash gate proves the whole
    * hybrid pipeline (tokenize→index→rank→assign→probe→fuse) absorbs
    * new documents and vectors with no rebuild anywhere.
    */
  val hybridIncremental: Q = (s, dir) => {
    val postsBase = Materialized.onDisk(s, dir, "postings_base")(
      TextAnalysis.positionalPostings(
        docs(s, dir).filter(col("doc_id") < IncrementalSplit)))
    val postsDelta = TextAnalysis.positionalPostings(
      docs(s, dir).filter(col("doc_id") >= IncrementalSplit))
    val lex = TextAnalysis.bm25FromPostings(postsBase.unionByName(postsDelta))
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val quant = mKmeansCos(s, dir)
    val listsBase = Materialized.onDisk(s, dir, "ivf_lists_base", partitionCols = Seq("cent_id"))(
        Similarity.ivfAssignments(
          emb(s, dir).filter(col("vec_id") < IncrementalSplit), quant))
      .withColumn("cent_id", col("cent_id").cast("long"))
      .select("cent_id", "cand_id", "ce", "cn")
    val listsDelta = Similarity.ivfAssignments(
        emb(s, dir).filter(col("vec_id") >= IncrementalSplit), quant)
      .select("cent_id", "cand_id", "ce", "cn")
    val dense = Similarity.ivfTopKFromLists(listsBase.unionByName(listsDelta),
        emb(s, dir), col("vec_id") === HybridQueryVec, k = 20, trained = quant)
      .select(col("cand_id").as("doc_id"), col("rank").as("dense_rank"))
    rrfFuse(lex, "lex_rank", dense, "dense_rank")
  }

  /** q278: the lifecycle CAPSTONE — the q262 hybrid served entirely
    * from generation stores that have LIVED: both index families'
    * stores carry a base generation, two absorbed ingest fragments,
    * and a tombstoned erasure cohort applied physically at compaction
    * (the q271-q274 lifecycle, composed). The lexical side is BM25
    * from the compacted-and-purged postings store (corpus statistics
    * N/Σdl/df shift with the text erasure), the dense side is IVF from
    * the compacted-and-purged lists store (the erased vectors never
    * enter the candidate set), fused by the shared [[rrfFuse]] tail.
    * The oracle re-derives BOTH rankings from scratch over the
    * SURVIVING corpora — one hash gate over the whole
    * lifecycle × serving composition.
    */
  val hybridLifecycle: Q = (s, dir) => {
    val quant = mKmeansCos(s, dir)
    val lex = TextAnalysis.bm25FromPostings(
        graft.warehouse.IndexStore.read(s, tsPostStoreRoot(s, dir),
          graft.streaming.StreamPostings.PostingsSchema, tombstoneKeys = Seq("doc_id")))
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val lists = graft.warehouse.IndexStore.read(s, tsIvfStoreRoot(s, dir, quant),
      graft.streaming.StreamIvfLists.ListsSchema, tombstoneKeys = Seq("cand_id"))
    val dense = Similarity.ivfTopKFromLists(lists, emb(s, dir),
        col("vec_id") === HybridQueryVec, k = 20, trained = quant)
      .select(col("cand_id").as("doc_id"), col("rank").as("dense_rank"))
    rrfFuse(lex, "lex_rank", dense, "dense_rank")
  }

  /** q256: the retrieval-side EFFECT of the q253 transform — mean
    * pairwise cosine of the corpus before/after All-but-the-top,
    * computed via the ‖Σx̂‖² − Σ‖x̂‖² identity (one decimal-sum pass,
    * n(n−1) pairs priced with no pair space; Ethayarajh 2019's
    * anisotropy statistic). A uniformly positive "before" collapsing
    * toward 0 "after" is the measured reason cosine retrieval improves
    * post-transform.
    */
  val abttCosineShift: Q = (s, dir) => {
    Clustering.meanPairwiseCosine(mAbtt(s, dir))
      .select(lit("after").as("stage"), col("*"))
      .unionByName(
        Clustering.meanPairwiseCosine(emb(s, dir))
          .select(lit("before").as("stage"), col("*")))
      .orderBy("stage")
  }

  /** q191: deletion-propagation impact — the right-to-be-forgotten
    * pass: given a deterministic deletion set (hash buckets >=
    * [[DeleteBucketFrom]], ~3% of docs), the blast radius through the
    * derived artifacts a pipeline would have to patch: near-dup
    * clusters touched / needing canonical re-election / removed
    * outright (the q105 decision list), and index terms whose posting
    * lists shrink vs disappear (the q115 vocabulary). Everything is
    * keyed aggregation over existing subtrees — the report costs one
    * cluster pass + one distinct (doc, term) pass, no joins against
    * the deletion list (membership is a pure hash predicate, the same
    * property that makes the set stable across runs and engines).
    */
  val DeleteBucketFrom = 97
  val deletionImpact: Q = (s, dir) => {
    import graft.functions.Text
    // cached: FOUR corpus-scanning subtrees (cluster branch, term
    // branch, token branch + canonicalKeep's own re-reads)
    val d = docs(s, dir).cache()
    def deleted = Sampling.hashBucket(col("doc_id")) >= DeleteBucketFrom
    val flagged = Dedup.canonicalKeepFrom(d, mClusters(s, dir)).withColumn("deleted", deleted)
    val cstats = flagged.groupBy("cluster_rep")
      .agg(count(lit(1)).as("sz"),
        count(when(col("deleted"), 1)).as("n_del"),
        count(when(col("deleted") && col("keep"), 1)).as("kept_del"))
      .agg(
        count(when(col("n_del") > 0, 1)).as("n_clusters_touched"),
        count(when(col("kept_del") > 0 && col("n_del") < col("sz"), 1))
          .as("n_clusters_reelected"),
        count(when(col("n_del") === col("sz"), 1)).as("n_clusters_removed"))
    // per-doc term dedup runs MAP-SIDE (array_distinct pre-explode, the
    // shingle-family discipline) — same (doc, term) set as the former
    // corpus-wide .distinct(), minus its full shuffle
    val tstats = d
      .select(col("doc_id"), explode(array_distinct(Text.words(col("text")))).as("term"))
      .withColumn("deleted", deleted)
      .groupBy("term")
      .agg(count(when(col("deleted"), 1)).as("din"),
        count(when(!col("deleted"), 1)).as("dout"))
      .agg(
        count(when(col("din") > 0 && col("dout") > 0, 1)).as("n_terms_touched"),
        count(when(col("din") > 0 && col("dout") === 0, 1)).as("n_terms_removed"))
    d.select(col("doc_id"), size(Text.words(col("text"))).as("toks"))
      .withColumn("deleted", deleted)
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("deleted"), 1)).as("n_deleted"),
        sum(when(col("deleted"), col("toks")).otherwise(0).cast("long")).as("tokens_deleted"))
      .crossJoin(broadcast(cstats))
      .crossJoin(broadcast(tstats))
      .withColumn("pct_deleted", round(col("n_deleted") * 100.0 / col("n_docs"), 6))
  }

  /** q192: ANN hubness audit (Radovanović et al. 2010, JMLR 11) — the
    * k-occurrence distribution over the IVF result lists for the
    * sampled query set: in high dimensions a few hub points appear in
    * a disproportionate share of top-k lists, silently flattening
    * retrieval diversity. One keyed count over the (already bounded)
    * result table + one scalar rollup; reuses the q65 pipeline and the
    * q143 audit sample, so the audit costs the search it audits.
    */
  val annHubness: Q = (s, dir) => {
    val occ = mIvfTop10(s, dir)
      .groupBy("cand_id").agg(count(lit(1)).as("n_occ"))
    occ.agg(
      count(lit(1)).as("n_distinct_candidates"),
      sum(col("n_occ")).as("n_result_rows"),
      max(col("n_occ")).as("max_occ"),
      round(Num.davg(col("n_occ")), 6).as("avg_occ"),
      count(when(col("n_occ") >= 5, 1)).as("n_hubs_5"),
      count(when(col("n_occ") === 1, 1)).as("n_singletons"))
  }

  /** q194: Jaro–Winkler fuzzy pairs — the record-linkage metric run
    * over the q94 capped blocks via the codegen'd custom expression
    * (DuckDB's native jaro_winkler_similarity is the oracle twin).
    */
  val jaroWinklerPairs: Q = (s, dir) =>
    Dedup.jaroWinklerPairs(docs(s, dir)).orderBy("d1", "d2")

  /** q195: swap-aware fuzzy pairs — FULL Damerau–Levenshtein beside
    * plain Levenshtein over the q94 blocks, with the per-pair
    * transposition savings (the custom expression's oracle twin is
    * DuckDB's native damerau_levenshtein).
    */
  val damerauPairs: Q = (s, dir) =>
    Dedup.damerauPairs(docs(s, dir)).orderBy("d1", "d2")

  import graft.functions.{Vec => V}
  import TextAnalysis.{O => TO}

  val entries: Seq[Entry] = Seq(
    Entry("q195_damerau", damerauPairs, Dedup.O.damerauPairs()),
    Entry("q194_jaro_winkler", jaroWinklerPairs, Dedup.O.jaroWinklerPairs()),
    Entry("q222_entity_resolution", entityResolution,
      s"""WITH RECURSIVE ${Dedup.O.jwPairsCtes()},
         |sym AS (SELECT d1 AS src, d2 AS dst FROM jwp UNION SELECT d2, d1 FROM jwp),
         |reach(src, dst) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM sym) t0
         |  UNION
         |  SELECT r2.src, s2.dst FROM reach r2 JOIN sym s2 ON r2.dst = s2.src),
         |ent AS (SELECT src AS doc_id, MIN(dst) AS entity_rep,
         |          COUNT(DISTINCT dst) AS entity_size
         |        FROM reach GROUP BY src)
         |SELECT d.doc_id,
         |  COALESCE(e.entity_rep, d.doc_id) AS entity_rep,
         |  CAST(COALESCE(e.entity_size, 1) AS BIGINT) AS entity_size,
         |  (COALESCE(e.entity_rep, d.doc_id) = d.doc_id) AS is_canonical
         |FROM documents d LEFT JOIN ent e USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),
    Entry("q192_ann_hubness", annHubness,
      s"""WITH occ AS (SELECT cand_id, COUNT(*) AS n_occ
         |  FROM (${Similarity.O.ivf(annAuditPredSql, 10)}) GROUP BY cand_id)
         |SELECT COUNT(*) AS n_distinct_candidates,
         |  CAST(SUM(n_occ) AS BIGINT) AS n_result_rows,
         |  MAX(n_occ) AS max_occ,
         |  round(${Num.O.avg("n_occ")}, 6) AS avg_occ,
         |  CAST(count_if(n_occ >= 5) AS BIGINT) AS n_hubs_5,
         |  CAST(count_if(n_occ = 1) AS BIGINT) AS n_singletons
         |FROM occ""".stripMargin),
    Entry("q191_deletion_impact", deletionImpact,
      s"""WITH ds AS (SELECT doc_id,
         |             (${Sampling.O.hashBucket("doc_id")} >= $DeleteBucketFrom) AS deleted
         |           FROM documents),
         |ck AS (SELECT doc_id, cluster_rep, keep FROM (${Dedup.O.canonicalKeep})),
         |fl AS (SELECT ck.cluster_rep, ck.keep, d2.deleted FROM ck JOIN ds d2 USING (doc_id)),
         |cl AS (SELECT cluster_rep, COUNT(*) AS sz, count_if(deleted) AS n_del,
         |         count_if(deleted AND keep) AS kept_del FROM fl GROUP BY 1),
         |cs AS (SELECT CAST(count_if(n_del > 0) AS BIGINT) AS n_clusters_touched,
         |         CAST(count_if(kept_del > 0 AND n_del < sz) AS BIGINT) AS n_clusters_reelected,
         |         CAST(count_if(n_del = sz) AS BIGINT) AS n_clusters_removed FROM cl),
         |tm AS (SELECT term, count_if(deleted) AS din, count_if(NOT deleted) AS dout
         |       FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
         |             FROM documents) p
         |       JOIN ds USING (doc_id) GROUP BY term),
         |ts AS (SELECT CAST(count_if(din > 0 AND dout > 0) AS BIGINT) AS n_terms_touched,
         |         CAST(count_if(din > 0 AND dout = 0) AS BIGINT) AS n_terms_removed FROM tm),
         |b AS (SELECT COUNT(*) AS n_docs, CAST(count_if(deleted) AS BIGINT) AS n_deleted,
         |        CAST(SUM(CASE WHEN deleted THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT)
         |          AS tokens_deleted
         |      FROM documents JOIN ds USING (doc_id))
         |SELECT b.n_docs, b.n_deleted, b.tokens_deleted,
         |  cs.n_clusters_touched, cs.n_clusters_reelected, cs.n_clusters_removed,
         |  ts.n_terms_touched, ts.n_terms_removed,
         |  round(b.n_deleted * 100.0 / b.n_docs, 6) AS pct_deleted
         |FROM b, cs, ts""".stripMargin),
    Entry("q189_blocklist", blocklist, TO.blocklistFilter()),
    Entry("q241_phrase_search", phraseSearch, TO.phraseSearch()),
    // q248 reads the persisted posting artifact; the oracle re-derives
    // from scratch — identical SQL to q241 is exactly the point: the
    // hash gate proves artifact-reader ≡ re-deriver
    Entry("q248_phrase_indexed", phraseSearchIndexed, TO.phraseSearch()),
    // q251/q252 read the persisted artifact too; their oracles re-derive
    // from the raw corpus (q252's is byte-identical to q149's — equality
    // of the two formulations is the point)
    Entry("q251_phrase_ngram", phraseSearchNgram, TO.phraseSearchN()),
    Entry("q252_bm25_indexed", bm25Indexed, TO.bm25TopK()),
    Entry("q255_term_proximity", termProximity, TO.termProximity()),
    Entry("q256_abtt_cosine_shift", abttCosineShift, Clustering.O.abttCosineShift()),
    Entry("q257_min_window", minWindow, TO.minWindowCover()),
    Entry("q258_min_window_snippets", minWindowSnippets, TO.minWindowSnippets()),
    Entry("q259_dirichlet_ql", dirichletQl, TO.dirichletQL()),
    // q260 unions the disk artifact with a freshly-tokenized delta; the
    // oracle is q251's from-scratch SQL — identical results ARE the
    // (artifact ∪ delta) ≡ re-derivation proof
    Entry("q260_incremental_postings", incrementalPostings, TO.phraseSearchN()),
    Entry("q261_hybrid_text_rrf", hybridTextRrf, TO.hybridRrf()),
    // q262: both rankings re-derived from scratch (corpus tokenization
    // for BM25, the full Lloyd-trajectory replay for IVF) — identical
    // results prove index-reader ≡ re-deriver across the hybrid stack
    Entry("q262_hybrid_dense_lexical", hybridDenseLexical, hybridOracleSql),
    // q267 deliberately shares it: (base index ∪ delta) on BOTH sides
    // must hash-match the from-scratch hybrid — the no-rebuild proof
    // for the whole pipeline
    Entry("q267_hybrid_incremental", hybridIncremental, hybridOracleSql),
    Entry("q263_abtt_topd", abttTopD, Clustering.O.abttTopD()),
    // q264 deliberately shares q65's oracle: the stored-inverted-list
    // reader must hash-match the from-scratch trajectory replay
    Entry("q264_ann_ivf_indexed", annIvfIndexed, Similarity.O.ivf("vec_id < 20", k = 5)),
    Entry("q265_global_packing", globalPacking, Corpus.O.globalPackingCensus()),
    // q266 shares the q65/q264 from-scratch oracle: (stored base lists
    // ∪ freshly-assigned delta) must hash-match a full re-assignment
    Entry("q266_ann_ivf_incremental", annIvfIncremental, Similarity.O.ivf("vec_id < 20", k = 5)),
    // q268: the oracle rebuilds the index from scratch WITHOUT the
    // erased cohort — hash-match proves anti-filter-on-read ≡ rebuild
    Entry("q268_ann_ivf_deletion", annIvfDeletion,
      Similarity.O.ivf("vec_id < 20", k = 5, candPredSql = "(vec_id % 7) <> 3")),
    Entry("q269_ann_list_sizes", annListSizes, Similarity.O.ivfListSizes()),
    // q270: the oracle re-tokenizes the SURVIVING corpus from scratch —
    // anti-filter on the artifact ≡ rebuild without the erased docs
    Entry("q270_text_deletion", textDeletion,
      TextAnalysis.O.bm25TopK(docPredSql = "(doc_id % 7) <> 3")),
    // q271/q272 share the from-scratch oracles of their index families:
    // compacted-store reader ≡ full re-derivation, one hash gate
    Entry("q271_ivf_compacted", annIvfCompacted, Similarity.O.ivf("vec_id < 20", k = 5)),
    Entry("q272_text_compacted", textCompacted, TextAnalysis.O.bm25TopK()),
    // q273/q274: the oracle rebuilds each index from scratch WITHOUT the
    // tombstoned cohort — anti-join + physical purge ≡ rebuild
    Entry("q273_ivf_tombstoned", annIvfTombstoned, Similarity.O.ivf("vec_id < 20", k = 5,
      candPredSql = "vec_id NOT IN (SELECT vec_id FROM embeddings WHERE label = 7)")),
    Entry("q274_text_tombstoned", textTombstoned, TextAnalysis.O.bm25TopK(
      docPredSql = "doc_id NOT IN (SELECT doc_id FROM documents WHERE lang = 'de')")),
    Entry("q275_retrain_recall", retrainRecall,
      Similarity.O.retrainRecall(IncrementalSplit, DriftScale)),
    Entry("q276_ann_filtered", annFiltered,
      Similarity.O.ivf("vec_id < 20", k = 5, probes = FilteredAnnProbes,
        candPredSql = "vec_id IN (SELECT vec_id FROM embeddings WHERE label IN (1, 4, 7))")),
    Entry("q277_ann_filtered_recall", annFilteredRecall, Similarity.O.filteredRecall(
      "vec_id < 20", "label IN (1, 4, 7)", k = 10, probes = FilteredAnnProbes)),
    // q278: both rankings rebuilt from scratch over the SURVIVING
    // corpora — lived-in stores (fragments + purge + compaction) ≡
    // tombstone-filtered full re-derivation, one hash gate
    Entry("q278_hybrid_lifecycle", hybridLifecycle, hybridOracle(
      TextAnalysis.O.bm25TopK(
        docPredSql = "doc_id NOT IN (SELECT doc_id FROM documents WHERE lang = 'de')"),
      Similarity.O.ivf(s"vec_id = $HybridQueryVec", k = 20,
        candPredSql = "vec_id NOT IN (SELECT vec_id FROM embeddings WHERE label = 7)"))),
    Entry("q279_kneser_ney", knScores, TO.knBigramScores("NOT (source = 'src0')")),
    Entry("q280_ann_adaptive", annAdaptive,
      Similarity.O.adaptive("vec_id < 20", k = 10, d = AdaptiveDim, m = AdaptiveM)),
    Entry("q281_adaptive_recall", adaptiveRecall, {
      val exTop =
        s"""SELECT query_id, cand_id FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           |    CAST(row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
           |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           |  WHERE ${Sampling.O.hashBucket("q.vec_id")} < $AnnAuditPct)
           |WHERE rank <= 10""".stripMargin
      val arms = AdaptiveMs.map { m =>
        s"a$m AS (${Similarity.O.adaptive(annAuditPredSql, 10, AdaptiveDim, m)})"
      }.mkString(",\n")
      val hits = AdaptiveMs.map { m =>
        s"""h$m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
           |  FROM ex JOIN a$m USING (query_id, cand_id))""".stripMargin
      }.mkString(",\n")
      val rows = AdaptiveMs.map { m =>
        s"""SELECT CAST($m AS INT) AS m, dn.n_queries, dn.n_exact_pairs, h$m.n_hits,
           |  round(CAST(h$m.n_hits AS DOUBLE) / dn.n_exact_pairs, 6) AS recall_at_10
           |FROM dn, h$m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ex AS MATERIALIZED ($exTop),
         |$arms,
         |dn AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
         |         CAST(COUNT(*) AS BIGINT) AS n_exact_pairs FROM ex),
         |$hits
         |SELECT * FROM (
         |$rows
         |) ORDER BY m""".stripMargin
    }),
    // q282: Lloyd-trajectory assignment replay + the c-TF-IDF scoring,
    // round-then-rank with the term tie-break in both engines
    Entry("q282_cluster_topics", clusterTopicsQ,
      s"""WITH ${Similarity.O.assignmentCtes},
         |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tfc AS MATERIALIZED (SELECT a.cent_id, tk.term, COUNT(*) AS tf
         |       FROM tk JOIN asg a USING (doc_id) GROUP BY 1, 2),
         |tft AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS tf_corpus FROM tfc GROUP BY 1),
         |sc AS (SELECT CAST(SUM(tf) AS BIGINT) AS tot, COUNT(DISTINCT cent_id) AS nc FROM tfc),
         |scored AS (SELECT f.cent_id, f.term, f.tf,
         |    round(f.tf * ln(1.0 + (CAST(sc.tot AS DOUBLE) / sc.nc) / t.tf_corpus), 6) AS ctfidf
         |  FROM tfc f JOIN tft t USING (term) CROSS JOIN sc)
         |SELECT cent_id, CAST(rank AS INT) AS rank, term, tf, ctfidf FROM (
         |  SELECT cent_id, term, tf, ctfidf,
         |    row_number() OVER (PARTITION BY cent_id ORDER BY ctfidf DESC, term) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY cent_id, rank""".stripMargin),
    Entry("q283_soft_dedup", softDedupQ, Dedup.O.softDedupWeights),
    // q284: full KN replay + exact tercile cutoffs (quantile_cont ≡
    // percentile, rounded to 6 BEFORE bucketing — the q27 convention)
    Entry("q284_ccnet_buckets", ccnetBuckets,
      s"""WITH kn AS MATERIALIZED (${TO.knBigramScores("NOT (source = 'src0')")}),
         |b AS (SELECT kn.doc_id, kn.kn_avg_logprob,
         |        CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens
         |      FROM kn JOIN documents d USING (doc_id)),
         |c AS (SELECT round(quantile_cont(kn_avg_logprob, ${1.0 / 3}), 6) AS c1,
         |        round(quantile_cont(kn_avg_logprob, ${2.0 / 3}), 6) AS c2 FROM b),
         |w AS (SELECT CASE WHEN kn_avg_logprob > c2 THEN 'head'
         |        WHEN kn_avg_logprob > c1 THEN 'middle' ELSE 'tail' END AS bucket,
         |        n_tokens
         |      FROM b CROSS JOIN c),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM w)
         |SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(SUM(n_tokens) AS DOUBLE) / tot, 6) AS token_share
         |FROM w CROSS JOIN t GROUP BY bucket, tot ORDER BY bucket""".stripMargin),
    Entry("q285_knn_shapley", knnShapleyQ, Similarity.O.knnShapley(annAuditPredSql, k = 5)),
    Entry("q286_rm3_expansion", rm3Expansion, TO.rm3Weights()),
    Entry("q287_rm3_rerank", rm3Reranked, TO.rm3Rerank()),
    Entry("q288_query_clarity", clarityQ, TO.clarityScore()),
    Entry("q289_percolator", percolatorQ, TO.percolateCensus()),
    Entry("q290_linear_shap", shapQ, Classifier.O.shapAttributions("source = 'src0'")),
    Entry("q291_psi_drift", psiQ, Classifier.O.psiDrift("source = 'src0'",
      s"${Sampling.O.hashBucket("doc_id")} < 50")),
    Entry("q292_calibration", calibrationQ, Classifier.O.calibrationCurve("source = 'src0'")),
    Entry("q293_percolator_bool", percolatorBoolQ, TO.percolateBoolCensus()),
    Entry("q294_substring_removal", substringRemovalQ, Dedup.O.substringRemoval()),
    Entry("q295_bleu_pairs", bleuPairsQ, TO.bleuPairs()),
    Entry("q296_rouge_pairs", rougePairsQ, TO.rougePairs()),
    Entry("q297_readability", readabilityQ, TO.readability()),
    Entry("q298_diversity", diversityQ, Sampling.O.diversityCensus()),
    Entry("q299_training_order", trainingOrderQ, Corpus.O.trainingOrder()),
    Entry("q300_curriculum_order", curriculumOrderQ, Corpus.O.curriculumOrder()),
    Entry("q301_novelty_curve", noveltyCurveQ, Corpus.O.noveltyCurve()),
    Entry("q302_substring_gate", substringGateQ,
      Dedup.O.substringGate(s"doc_id < $IncrementalSplit")),
    Entry("q303_systematic_resample", systematicResampleQ, Sampling.O.systematicResample()),
    Entry("q304_lsh_tuning", lshTuningQ, Dedup.O.lshTuningCurve()),
    Entry("q305_mixture_interleave", mixtureInterleaveQ, Corpus.O.mixtureInterleave()),
    Entry("q306_kn_localize", knWindowLocalizeQ, TO.knWindowLocalize("NOT (source = 'src0')")),
    Entry("q307_rouge_l", rougeLQ, TO.rougeLPairs()),
    Entry("q309_chrf", chrfQ, TO.chrfPairs()),
    // q310 shares q302's from-scratch oracle shape at the moved split:
    // lived-in store (fragment + compaction) ≡ gram set of docs < 450
    Entry("q310_gram_store_gate", gramStoreGateQ,
      Dedup.O.substringGate(s"doc_id < $FragmentSplit")),
    Entry("q311_wer", werQ, TO.werPairs()),
    // q312: rebased store ≡ gram set of the SURVIVING pre-B corpus;
    // the delta stays the full B batch (erasure isn't its complement)
    Entry("q312_gram_store_erased", gramStoreErasedQ, Dedup.O.substringGate(
      s"doc_id < $FragmentSplit AND lang <> 'de'",
      deltaPredSql = Some(s"doc_id >= $FragmentSplit"))),
    Entry("q313_source_dup_burden", sourceDupBurdenQ,
      s"""SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(r.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(r.n_removed) AS BIGINT) AS n_removed,
         |  round(CAST(SUM(r.n_removed) AS DOUBLE) / SUM(r.n_tokens), 6) AS removed_share
         |FROM (${Dedup.O.substringRemoval()}) r
         |JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin),
    Entry("q314_boilerplate_flow", boilerplateFlowQ, Dedup.O.boilerplateFlow()),
    Entry("q315_metric_agreement", metricAgreementQ, TO.metricAgreement()),
    Entry("q318_fim_examples", fimQ, Corpus.O.fimExamples()),
    Entry("q320_phrase_percolator", phrasePercolatorQ, TO.percolatePhraseCensus()),
    Entry("q321_shapley_capped", knnShapleyCappedQ, Similarity.O.knnShapleyCapped(n = 40, k = 5)),
    Entry("q322_percolator_table", percolatorTableQ, TO.percolateTableCensus()),
    Entry("q328_phrase_table", phraseTableQ, TO.percolatePhraseTableCensus()),
    Entry("q329_bbit_minhash", bbitMinhashQ, Dedup.O.bbitMinhashPairs(b = 2)),
    Entry("q332_passage_maxp", passageMaxPQ, TO.passageMaxP()),
    Entry("q333_binary_incremental", binaryIncremental,
      Similarity.O.binaryTopK("vec_id < 20", k = 10, m = BinaryM)),
    Entry("q336_wig", wigQ, TO.wigScore()),
    Entry("q337_burstiness", burstinessQ, TO.termBurstiness()),
    Entry("q338_percolator_bool_table", percolatorBoolTableQ, TO.percolateBoolTableCensus()),
    Entry("q339_weighted_label_prop", labelPropWeightedQ,
      s"""WITH ${Similarity.O.bucketedWeightedPairsCte(0.15)},
         |edges AS (SELECT v1 AS src, v2 AS dst, w FROM pairs
         |          UNION ALL SELECT v2, v1, w FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |nl AS MATERIALIZED (SELECT n.id,
         |  CASE WHEN ${Sampling.O.hashBucket("n.id")} < $RecallAuditPct THEN em.label END AS seed_label,
         |  ${Sampling.O.hashBucket("n.id")} < $RecallAuditPct AS is_seed
         |  FROM nodes n JOIN embeddings em ON em.vec_id = n.id),
         |${Graph.O.labelPropWeightedCtes(iters = 3)}
         |SELECT n.id, n.is_seed, l3.lbl AS pred_label, em.label AS true_label,
         |  CASE WHEN l3.lbl IS NOT NULL THEN l3.lbl = em.label END AS correct
         |FROM nl n JOIN l3 ON l3.id = n.id JOIN embeddings em ON em.vec_id = n.id
         |ORDER BY n.id""".stripMargin),
    Entry("q340_perc_store_census", percStoreCensusQ, TO.percStoreCensus()),
    Entry("q341_perc_store_travel", percStoreTravelQ, TO.percStoreTravel()),
    Entry("q344_perc_store_diff", percStoreDiffQ, TO.percStoreDiff()),
    Entry("q345_label_noise", labelNoiseQ,
      s"""WITH ${Similarity.O.bucketedCrossPairsCte(0.15)},
         |e AS (SELECT v1 AS id, v2 AS nb FROM pairs UNION ALL SELECT v2, v1 FROM pairs),
         |nbl AS MATERIALIZED (SELECT e.id, own.label, x.label AS nb_label
         |      FROM e JOIN embeddings x ON x.vec_id = e.nb
         |        JOIN embeddings own ON own.vec_id = e.id),
         |agg AS (SELECT id, label, COUNT(*) AS n_neighbors,
         |          SUM(CASE WHEN nb_label != label THEN 1 ELSE 0 END) AS n_disagree
         |        FROM nbl GROUP BY 1, 2),
         |votes AS (SELECT id, nb_label, COUNT(*) AS v FROM nbl GROUP BY 1, 2),
         |maj AS (SELECT id, nb_label AS majority_label FROM (
         |    SELECT id, nb_label, ROW_NUMBER() OVER (PARTITION BY id ORDER BY v DESC, nb_label) AS rn
         |    FROM votes) WHERE rn = 1)
         |SELECT a.id, a.label, CAST(a.n_neighbors AS BIGINT) AS n_neighbors,
         |  CAST(a.n_disagree AS BIGINT) AS n_disagree,
         |  round(CAST(a.n_disagree AS DOUBLE) / CAST(a.n_neighbors AS DOUBLE), 6) AS disagree_rate,
         |  m.majority_label,
         |  (round(CAST(a.n_disagree AS DOUBLE) / CAST(a.n_neighbors AS DOUBLE), 6) >= 0.5
         |   AND m.majority_label != a.label) AS suspect
         |FROM agg a JOIN maj m USING (id) ORDER BY a.id""".stripMargin),
    Entry("q342_kendall_tau", kendallTauQ,
      s"""WITH sem AS (SELECT query_id, cand_id, rank AS sem_rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
         |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
         |  WHERE q.vec_id < 5) WHERE rank <= 20),
         |w AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
         |     FROM documents),
         |nw AS (SELECT doc_id, COUNT(*) AS nw FROM w GROUP BY 1),
         |inter AS (SELECT qw.doc_id AS query_id, cw.doc_id AS cand_id, COUNT(*) AS ic
         |          FROM w qw JOIN w cw ON qw.w = cw.w
         |          WHERE qw.doc_id < 5 AND cw.doc_id != qw.doc_id GROUP BY 1, 2),
         |jac AS (SELECT query_id, cand_id,
         |          round(CAST(ic AS DOUBLE) / (nq.nw + nc.nw - ic), 6) AS j
         |        FROM inter JOIN nw nq ON nq.doc_id = query_id
         |          JOIN nw nc ON nc.doc_id = cand_id),
         |lex AS (SELECT query_id, cand_id, lex_rank FROM (
         |  SELECT query_id, cand_id, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY j DESC, cand_id) AS INT) AS lex_rank FROM jac) WHERE lex_rank <= 20),
         |common AS MATERIALIZED (SELECT s.query_id, s.cand_id, s.sem_rank AS a, l.lex_rank AS b
         |  FROM sem s JOIN lex l USING (query_id, cand_id)),
         |p AS (SELECT c1.query_id,
         |        SUM(CASE WHEN (c1.a - c2.a) * (c1.b - c2.b) > 0 THEN 1 ELSE 0 END) AS concordant,
         |        SUM(CASE WHEN (c1.a - c2.a) * (c1.b - c2.b) > 0 THEN 0 ELSE 1 END) AS discordant
         |      FROM common c1 JOIN common c2
         |        ON c1.query_id = c2.query_id AND c1.cand_id < c2.cand_id
         |      GROUP BY 1),
         |n AS (SELECT query_id, COUNT(*) AS n_common FROM common GROUP BY 1),
         |ids AS (SELECT query_id FROM sem UNION SELECT query_id FROM lex)
         |SELECT i.query_id, CAST(COALESCE(n.n_common, 0) AS BIGINT) AS n_common,
         |  CAST(COALESCE(p.concordant, 0) AS BIGINT) AS concordant,
         |  CAST(COALESCE(p.discordant, 0) AS BIGINT) AS discordant,
         |  CASE WHEN COALESCE(n.n_common, 0) < 2 THEN NULL
         |       ELSE round(CAST(COALESCE(p.concordant, 0) - COALESCE(p.discordant, 0) AS DOUBLE)
         |                  / CAST((n.n_common * (n.n_common - 1)) // 2 AS DOUBLE), 6) END AS tau
         |FROM ids i LEFT JOIN n USING (query_id) LEFT JOIN p USING (query_id)
         |ORDER BY i.query_id""".stripMargin),
    Entry("q343_mixture_plan", mixturePlanQ,
      """WITH d AS (SELECT source, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |tk AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM tk),
        |wr AS MATERIALIZED (SELECT source, n_tokens, t,
        |        CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE) AS share,
        |        sqrt(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE)) AS w_raw
        |      FROM tk CROSS JOIN tt),
        |z AS (SELECT CAST(SUM(CAST(w_raw AS DECIMAL(38,18))) AS DOUBLE) AS z FROM wr)
        |SELECT source, n_tokens, round(share, 6) AS share,
        |  round(w_raw / z, 6) AS mix_weight,
        |  round(4.0 * CAST(t AS DOUBLE) * (w_raw / z) / CAST(n_tokens AS DOUBLE), 6) AS epochs
        |FROM wr CROSS JOIN z ORDER BY source""".stripMargin),
    Entry("q335_mann_whitney", mannWhitneyQ, Robust.O.mannWhitney(
      s"mwd AS (SELECT source AS g, quality_score AS v FROM (SELECT source, ${TO.textStats} FROM documents))")),
    Entry("q334_cluster_split", clusterSplitQ,
      s"""${Dedup.O.clusterRepCtes}
         |SELECT d.doc_id, COALESCE(cl.cluster_rep, d.doc_id) AS split_key,
         |  ${Sampling.O.split("COALESCE(cl.cluster_rep, d.doc_id)")} AS split
         |FROM documents d LEFT JOIN cl USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),
    Entry("q330_err_at_10", errQ,
      s"""WITH ex AS MATERIALIZED (SELECT query_id, cand_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
         |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
         |  WHERE ${Sampling.O.hashBucket("q.vec_id")} < $AnnAuditPct)
         |  WHERE rank <= 10),
         |iv AS MATERIALIZED (SELECT query_id, cand_id, rank AS arank
         |  FROM (${Similarity.O.ivf(annAuditPredSql, 10)})),
         |fl AS (SELECT iv.query_id, iv.arank,
         |         CASE WHEN ex.cand_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |       FROM iv LEFT JOIN ex
         |         ON ex.query_id = iv.query_id AND ex.cand_id = iv.cand_id),
         |cbt AS (SELECT query_id, arank, rel,
         |         COALESCE(SUM(rel) OVER (PARTITION BY query_id ORDER BY arank
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |        FROM fl)
         |SELECT query_id, CAST(SUM(rel) AS BIGINT) AS n_rel,
         |  round(${Num.O.sum("CASE WHEN rel = 1 THEN pow(0.5, cb + 1) / arank ELSE CAST(0 AS DOUBLE) END")}, 6) AS err_at_10
         |FROM cbt GROUP BY query_id ORDER BY query_id""".stripMargin),
    Entry("q331_silhouette", silhouetteQ,
      s"""WITH ${Similarity.O.assignmentCtes},
         |pts AS MATERIALIZED (SELECT e.vec_id, e.embedding, e.nrm, a.cent_id
         |  FROM e JOIN asg a ON a.doc_id = e.vec_id),
         |sp AS (SELECT vec_id AS sid, embedding AS se, nrm AS sn, cent_id AS scent
         |       FROM pts WHERE $annAuditPredSql),
         |pd AS (SELECT sp.sid, sp.scent, p.cent_id AS ocent,
         |         round(1.0 - ${V.O.dot("sp.se", "p.embedding")} / (sp.sn * p.nrm), 6) AS dist
         |       FROM pts p JOIN sp ON p.vec_id != sp.sid),
         |mcd AS MATERIALIZED (SELECT sid, scent, ocent,
         |         round(${Num.O.sum("dist")} / COUNT(*), 6) AS mean_dist
         |       FROM pd GROUP BY 1, 2, 3),
         |aa AS (SELECT sid, mean_dist AS a_intra FROM mcd WHERE ocent = scent),
         |bb AS (SELECT sid, MIN(mean_dist) AS b_inter FROM mcd WHERE ocent != scent GROUP BY 1)
         |SELECT s.sid AS vec_id, s.scent AS cent_id, aa.a_intra, bb.b_inter,
         |  CASE WHEN aa.a_intra IS NULL OR bb.b_inter IS NULL THEN CAST(0.0 AS DOUBLE)
         |       WHEN greatest(aa.a_intra, bb.b_inter) > 0
         |         THEN round((bb.b_inter - aa.a_intra) / greatest(aa.a_intra, bb.b_inter), 6)
         |       ELSE CAST(0.0 AS DOUBLE) END AS silhouette
         |FROM (SELECT sid, scent FROM sp) s
         |LEFT JOIN aa USING (sid) LEFT JOIN bb USING (sid)
         |ORDER BY vec_id""".stripMargin),
    Entry("q326_kcore", kCoreQ,
      s"""WITH ${Similarity.O.bucketedPairsCte(0.15)},
         |edges AS (SELECT v1 AS src, v2 AS dst FROM pairs UNION ALL SELECT v2, v1 FROM pairs),
         |${Graph.O.kCoreCtes(k = KCoreK, rounds = 15)}
         |SELECT e.src AS id, CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM edges e JOIN al15 a ON a.id = e.src JOIN al15 b ON b.id = e.dst
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Entry("q327_label_prop", labelPropQ,
      s"""WITH ${Similarity.O.bucketedPairsCte(0.15)},
         |edges AS (SELECT v1 AS src, v2 AS dst FROM pairs UNION ALL SELECT v2, v1 FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |nl AS MATERIALIZED (SELECT n.id,
         |  CASE WHEN ${Sampling.O.hashBucket("n.id")} < $RecallAuditPct THEN em.label END AS seed_label,
         |  ${Sampling.O.hashBucket("n.id")} < $RecallAuditPct AS is_seed
         |  FROM nodes n JOIN embeddings em ON em.vec_id = n.id),
         |${Graph.O.labelPropCtes(iters = 3)}
         |SELECT n.id, n.is_seed, l3.lbl AS pred_label, em.label AS true_label,
         |  CASE WHEN l3.lbl IS NOT NULL THEN l3.lbl = em.label END AS correct
         |FROM nl n JOIN l3 ON l3.id = n.id JOIN embeddings em ON em.vec_id = n.id
         |ORDER BY n.id""".stripMargin),
    Entry("q324_binary_ann", annBinary,
      Similarity.O.binaryTopK("vec_id < 20", k = 10, m = BinaryM)),
    Entry("q325_binary_recall", binaryRecall, {
      val exTop =
        s"""SELECT query_id, cand_id FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           |    CAST(row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
           |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           |  WHERE ${Sampling.O.hashBucket("q.vec_id")} < $AnnAuditPct)
           |WHERE rank <= 10""".stripMargin
      val arms = BinaryMs.map { m =>
        s"b$m AS (${Similarity.O.binaryTopK(annAuditPredSql, 10, m)})"
      }.mkString(",\n")
      val hits = BinaryMs.map { m =>
        s"""hh$m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
           |  FROM ex JOIN b$m USING (query_id, cand_id))""".stripMargin
      }.mkString(",\n")
      val rows = BinaryMs.map { m =>
        s"""SELECT CAST($m AS INT) AS m, dn.n_queries, dn.n_exact_pairs, hh$m.n_hits,
           |  round(CAST(hh$m.n_hits AS DOUBLE) / dn.n_exact_pairs, 6) AS recall_at_10
           |FROM dn, hh$m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ex AS MATERIALIZED ($exTop),
         |$arms,
         |dn AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
         |         CAST(COUNT(*) AS BIGINT) AS n_exact_pairs FROM ex),
         |$hits
         |SELECT * FROM ($rows) ORDER BY m""".stripMargin
    }),
    Entry("q323_hits", hitsQ,
      s"""WITH ${Similarity.O.bucketedPairsCte(0.15)},
         |edges AS (SELECT v2 AS src, v1 AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges UNION SELECT dst FROM edges),
         |${Graph.O.hitsCtes(iters = 5)}
         |SELECT h5.id, round(h5.h / 1000000.0, 6) AS hub,
         |  round(a5.a / 1000000.0, 6) AS authority
         |FROM h5 JOIN a5 ON a5.id = h5.id ORDER BY h5.id""".stripMargin),
    Entry("q319_spam_mass", spamMassQ,
      s"""WITH ${Similarity.O.bucketedPairsCte(0.15)},
         |edges AS (SELECT v1 AS src, v2 AS dst FROM pairs UNION ALL SELECT v2, v1 FROM pairs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS id FROM edges UNION SELECT dst FROM edges),
         |ts AS (SELECT doc_id, ${TO.textStats} FROM documents),
         |c AS (SELECT round(quantile_cont(quality_score, ${2.0 / 3}), 6) AS c2 FROM ts),
         |seeds AS (SELECT doc_id AS id FROM ts CROSS JOIN c WHERE quality_score > c2),
         |ni AS (SELECT n.id, (s.id IS NOT NULL) AS is_seed
         |       FROM nodes n LEFT JOIN seeds s USING (id)),
         |cnt AS (SELECT COUNT(*) AS nn,
         |          CAST(SUM(CASE WHEN is_seed THEN 1 ELSE 0 END) AS BIGINT) AS ns FROM ni),
         |tele AS (SELECT id, is_seed,
         |           CASE WHEN is_seed THEN (150000 * nn) // ns ELSE CAST(0 AS BIGINT) END AS tpt
         |         FROM ni CROSS JOIN cnt),
         |${Graph.O.pageRankCtes(iters = 5)},
         |${Graph.O.trustRankCtes(iters = 5, prefix = "t")}
         |SELECT r5.id, ni.is_seed,
         |  round(r5.m / 1000000.0, 6) AS pagerank,
         |  round(t5.m / 1000000.0, 6) AS trust,
         |  round((r5.m / 1000000.0 - t5.m / 1000000.0) / (r5.m / 1000000.0), 6) AS spam_mass
         |FROM r5 JOIN t5 ON t5.id = r5.id JOIN ni ON ni.id = r5.id
         |ORDER BY r5.id""".stripMargin),
    Entry("q317_modularity", modularityQ,
      s"""WITH ${Similarity.O.assignmentCtes},
         |${Similarity.O.bucketedPairsCte(0.15)},
         |ej AS (SELECT a1.cent_id AS c1, a2.cent_id AS c2 FROM pairs p
         |       JOIN asg a1 ON a1.doc_id = p.v1 JOIN asg a2 ON a2.doc_id = p.v2),
         |mm AS (SELECT COUNT(*) AS m_edges FROM ej),
         |ii AS (SELECT c1 AS cent_id, COUNT(*) AS internal_edges FROM ej
         |       WHERE c1 = c2 GROUP BY 1),
         |dd AS (SELECT cent_id, COUNT(*) AS degree_sum FROM (
         |        SELECT c1 AS cent_id FROM ej UNION ALL SELECT c2 FROM ej) GROUP BY 1)
         |SELECT dd.cent_id, COALESCE(ii.internal_edges, 0) AS internal_edges,
         |  dd.degree_sum,
         |  round(CAST(COALESCE(ii.internal_edges, 0) AS DOUBLE) / mm.m_edges
         |    - (CAST(dd.degree_sum AS DOUBLE) / (2 * mm.m_edges))
         |      * (CAST(dd.degree_sum AS DOUBLE) / (2 * mm.m_edges)), 6) AS q_contribution
         |FROM dd LEFT JOIN ii USING (cent_id) CROSS JOIN mm ORDER BY cent_id""".stripMargin),
    Entry("q316_trust_rank", trustRankQ,
      s"""WITH ${Similarity.O.bucketedPairsCte(0.15)},
         |edges AS (SELECT v1 AS src, v2 AS dst FROM pairs UNION ALL SELECT v2, v1 FROM pairs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS id FROM edges UNION SELECT dst FROM edges),
         |ts AS (SELECT doc_id, ${TO.textStats} FROM documents),
         |c AS (SELECT round(quantile_cont(quality_score, ${2.0 / 3}), 6) AS c2 FROM ts),
         |seeds AS (SELECT doc_id AS id FROM ts CROSS JOIN c WHERE quality_score > c2),
         |ni AS (SELECT n.id, (s.id IS NOT NULL) AS is_seed
         |       FROM nodes n LEFT JOIN seeds s USING (id)),
         |cnt AS (SELECT COUNT(*) AS nn,
         |          CAST(SUM(CASE WHEN is_seed THEN 1 ELSE 0 END) AS BIGINT) AS ns FROM ni),
         |tele AS (SELECT id, is_seed,
         |           CASE WHEN is_seed THEN (150000 * nn) // ns ELSE CAST(0 AS BIGINT) END AS tpt
         |         FROM ni CROSS JOIN cnt),
         |${Graph.O.trustRankCtes(iters = 5)}
         |SELECT r5.id, t.is_seed, COALESCE(d.deg, 0) AS out_degree,
         |  r5.m / 1000000.0 AS trust
         |FROM r5 JOIN tele t ON t.id = r5.id
         |LEFT JOIN deg d ON d.src = r5.id ORDER BY r5.id""".stripMargin),
    Entry("q308_dataset_card", datasetCardQ, {
      import graft.functions.Num
      s"""WITH ts AS (SELECT doc_id, ${TO.textStats} FROM documents),
         |basic AS (SELECT COUNT(*) AS n_docs,
         |    CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS n_tokens,
         |    round(${Num.O.avg("quality_score")}, 6) AS mean_quality,
         |    round(quantile_cont(n_tokens, 0.5), 6) AS median_doc_tokens
         |  FROM ts),
         |dims AS (SELECT COUNT(DISTINCT source) AS n_sources,
         |           COUNT(DISTINCT lang) AS n_langs FROM documents),
         |dup AS (SELECT CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
         |          AS n_exact_dup_docs
         |        FROM (SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY 1)),
         |span AS (SELECT round(CAST(SUM(n_removed) AS DOUBLE) / SUM(n_tokens), 6)
         |           AS dup_token_share
         |         FROM (${Dedup.O.substringRemoval()})),
         |div AS (SELECT shannon AS source_shannon, gini AS source_gini
         |        FROM (${Sampling.O.diversityCensus()}) WHERE dim = 'source')
         |SELECT * FROM basic CROSS JOIN dims CROSS JOIN dup
         |CROSS JOIN span CROSS JOIN div""".stripMargin
    }),
    Entry("q185_modality_stats", modalityStats,
      s"""WITH ${Multimodal.O.payloadCtes}
         |SELECT modality, COUNT(*) AS n_docs,
         |  CAST(SUM(length(payload)) AS BIGINT) AS total_bytes,
         |  COUNT(DISTINCT md5(payload)) AS n_distinct_payloads,
         |  COUNT(*) - COUNT(DISTINCT md5(payload)) AS n_dup_docs,
         |  round(${Num.O.avg("length(payload)")}, 6) AS avg_bytes
         |FROM m GROUP BY modality ORDER BY modality""".stripMargin),
    Entry("q186_byte_entropy", byteEntropy,
      s"""WITH ${Multimodal.O.payloadCtes},
         |ch AS (SELECT doc_id, modality, least(length(payload), $PrefixBytes) AS plen,
         |         unnest(list_transform(range(1, least(length(payload), $PrefixBytes) + 1),
         |           i -> payload[i])) AS b
         |       FROM m WHERE length(payload) > 0),
         |c AS (SELECT doc_id, modality, plen, b, COUNT(*) AS c FROM ch GROUP BY 1, 2, 3, 4),
         |e AS (SELECT doc_id, modality,
         |        CAST(-SUM(CAST(((c / plen) * ln(c / plen)) AS DECIMAL(38,6))) AS DOUBLE) AS entropy
         |      FROM c GROUP BY 1, 2)
         |SELECT modality, COUNT(*) AS n_docs,
         |  round(${Num.O.avg("entropy")}, 6) AS avg_prefix_entropy,
         |  round(min(entropy), 6) AS min_prefix_entropy,
         |  round(max(entropy), 6) AS max_prefix_entropy
         |FROM e GROUP BY modality ORDER BY modality""".stripMargin),
    Entry("q187_decode_features", decodeFeatures,
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
         |  CAST(64 + (length(text) * 7) % 192 AS INT) AS width,
         |  CAST(64 + (length(text) * 13) % 128 AS INT) AS height,
         |  CAST(1 + length(text) % 8 AS INT) AS n_frames,
         |  CAST(${Multimodal.O.checksum("text")} AS BIGINT) AS checksum
         |FROM documents ORDER BY doc_id""".stripMargin),
    Entry("q188_resize_plan", resizePlan, {
      val scale = "(CASE WHEN greatest(width, height) > 96 THEN 96.0 / greatest(width, height) ELSE 1.0 END)"
      s"""WITH d AS (SELECT doc_id,
         |    CAST(64 + (length(text) * 7) % 192 AS INT) AS width,
         |    CAST(64 + (length(text) * 13) % 128 AS INT) AS height
         |  FROM documents)
         |SELECT doc_id, width, height,
         |  CAST(floor(width * $scale) AS INT) AS out_width,
         |  CAST(floor(height * $scale) AS INT) AS out_height
         |FROM d ORDER BY doc_id""".stripMargin
    }),
    Entry("q237_dhash_neardup", dhashNearDup, Multimodal.O.dhashPairs()),
    Entry("q254_dhash_binary", dhashBinary, Multimodal.O.dhashPairsBinary()),
    Entry("q239_dhash_incremental", dhashIncremental,
      Multimodal.O.dhashIncremental(IncrementalSplit)),
    Entry("q245_dhash_clusters", dhashClusters, Multimodal.O.dhashClusters()),
    Entry("q247_dhash_histogram", dhashHistogram, Multimodal.O.dhashCandidateHistogram()),
    Entry("q243_cluster_sample", clusterSample, {
      val embSrc = "(SELECT vec_id, embedding FROM embeddings)"
      val h = graft.functions.Hashes.O.md5Long32("CAST(vec_id AS VARCHAR)")
      s"""WITH ${Similarity.O.kmeansL2Ctes("s", embSrc, Similarity.Dim)},
         |asg AS (SELECT vec_id, cent_id FROM (
         |  SELECT e.vec_id, c.cent_id,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${V.O.l2sq("e.embedding", "c.cemb", Similarity.Dim)} ASC, c.cent_id) AS rn
         |  FROM embeddings e CROSS JOIN scent c) WHERE rn = 1),
         |sz AS (SELECT cent_id, COUNT(*) AS cluster_size FROM asg GROUP BY 1),
         |rk AS (SELECT cent_id, vec_id,
         |         row_number() OVER (PARTITION BY cent_id ORDER BY $h, vec_id) AS rn
         |       FROM asg)
         |SELECT rk.cent_id AS cluster_id, sz.cluster_size,
         |  CAST(rk.rn AS INT) AS sample_rank, rk.vec_id
         |FROM rk JOIN sz USING (cent_id) WHERE rn <= $SamplePerCluster
         |ORDER BY cluster_id, sample_rank""".stripMargin
    }),
    Entry("q238_persisted_index", persistedIndex, {
      val embSrc = "(SELECT vec_id, embedding FROM embeddings)"
      s"""WITH ${Similarity.O.kmeansL2Ctes("i", embSrc, Similarity.Dim)},
         |asg AS (SELECT vec_id, cent_id FROM (
         |  SELECT e.vec_id, c.cent_id,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${V.O.l2sq("e.embedding", "c.cemb", Similarity.Dim)} ASC, c.cent_id) AS rn
         |  FROM embeddings e CROSS JOIN icent c) WHERE rn = 1),
         |cnt AS (SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM asg GROUP BY 1)
         |SELECT ic.cent_id, CAST(COALESCE(n_vecs, 0) AS BIGINT) AS n_vecs
         |FROM (SELECT cent_id FROM icent) ic LEFT JOIN cnt USING (cent_id)
         |ORDER BY ic.cent_id""".stripMargin
    }),
    Entry("q184_stream_gate", streamGateTwin,
      s"""WITH g AS (SELECT doc_id, n_words, pass_gopher FROM (${TO.gopherRules()})),
         |sc AS (SELECT doc_id, score AS domain_score, predicted_positive AS keep_domain
         |       FROM (${Classifier.O.scoreDocuments("source = 'src0'")})),
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT src.doc_id, src.source, g.n_words, g.pass_gopher,
         |  sc.domain_score, sc.keep_domain,
         |  (g.pass_gopher AND sc.keep_domain) AS selected
         |FROM src JOIN g USING (doc_id) JOIN sc USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    Entry("q183_embedding_qa", embeddingQa,
      s"""WITH n AS (SELECT sqrt(${graft.functions.Vec.O.dot("embedding", "embedding")}) AS nrm,
         |             CAST(len(embedding) AS INT) AS dim,
         |             CAST(len(list_filter(embedding, x -> isnan(x))) AS INT) AS n_nan
         |           FROM embeddings)
         |SELECT COUNT(*) AS n_vectors,
         |  CAST(SUM(CASE WHEN abs(nrm - 1.0) < 0.00001 THEN 1 ELSE 0 END) AS BIGINT) AS n_unit_norm,
         |  CAST(SUM(CASE WHEN nrm < 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_zero,
         |  CAST(SUM(CASE WHEN n_nan > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_nan,
         |  round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm,
         |  min(dim) AS min_dim, max(dim) AS max_dim
         |FROM n""".stripMargin),
    Entry("q182_heaps_fit", heapsGrowth, TO.heapsFit),
    Entry("q180_quality_calibration", qualityCalibration,
      s"""WITH s AS (SELECT doc_id, source, ${TO.textStats} FROM documents)
         |SELECT doc_id, source, quality_score,
         |  round(percent_rank() OVER w, 6) AS q_rank,
         |  (percent_rank() OVER w >= 0.5) AS selected_fair
         |FROM s WINDOW w AS (PARTITION BY source ORDER BY quality_score, doc_id)
         |ORDER BY doc_id""".stripMargin),
    Entry("q181_distinct_ngrams", distinctNgrams, {
      val arms = (1 to 3).map { n =>
        s"""SELECT source, $n AS n, unnest(${graft.functions.Text.O.shingles("text", n)}) AS g
           |FROM w WHERE len(w) >= $n""".stripMargin
      }.mkString(" UNION ALL ")
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS w FROM documents),
         |g AS ($arms)
         |SELECT source, CAST(n AS INT) AS n, COUNT(*) AS total_ngrams,
         |  COUNT(DISTINCT g) AS distinct_ngrams,
         |  round(CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6) AS distinct_ratio
         |FROM g GROUP BY source, n ORDER BY source, n""".stripMargin
    }),
    Entry("q179_subword_tokens", subwordTokens, Corpus.O.subwordTokenize()),
    Entry("q199_unigram_tokens", unigramTokens, Corpus.O.unigramTokenize()),
    Entry("q200_unigram_vocab", unigramVocab, Corpus.O.unigramVocab()),
    Entry("q201_signal_agreement", signalAgreement, {
      def ranks(p: String, sigCol: String) =
        s"""g$p AS (SELECT source, $sigCol AS v, COUNT(*) AS cnt FROM sig GROUP BY 1, 2),
           |c$p AS (SELECT source, v, cnt,
           |          COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY v
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
           |        FROM g$p),
           |r$p AS (SELECT source, v, CAST(below AS DOUBLE) + (cnt + 1) / 2.0 AS r FROM c$p)""".stripMargin
      s"""WITH qs AS (SELECT doc_id, source, ${TO.textStats} FROM documents),
         |ce AS (${TO.charEntropy}),
         |sig AS (SELECT qs.doc_id, qs.source, qs.quality_score, ce.entropy
         |        FROM qs JOIN ce USING (doc_id)),
         |${ranks("x", "quality_score")},
         |${ranks("y", "entropy")},
         |rk AS (SELECT s.source, rx.r AS rxr, ry.r AS ryr FROM sig s
         |       JOIN rx ON rx.source = s.source AND rx.v = s.quality_score
         |       JOIN ry ON ry.source = s.source AND ry.v = s.entropy),
         |a AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
         |        ${Num.O.sum("rxr")} AS sx, ${Num.O.sum("ryr")} AS sy,
         |        ${Num.O.sum("rxr * rxr")} AS sxx, ${Num.O.sum("ryr * ryr")} AS syy,
         |        ${Num.O.sum("rxr * ryr")} AS sxy
         |      FROM rk GROUP BY 1)
         |SELECT source, CAST(n AS BIGINT) AS n, round(${Num.O.fitCorr()}, 6) AS rho
         |FROM a ORDER BY source""".stripMargin
    }),
    Entry("q178_classifier_sampled", classifierSampled,
      Classifier.O.trainDomainClassifier("source = 'src0'", trainPct = 25)),
    Entry("q177_curation_pipeline", curationPipeline,
      s"""WITH st AS (SELECT doc_id, source, ${TO.textStats} FROM documents),
         |k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |g AS (SELECT doc_id, pass_gopher FROM (${TO.gopherRules()})),
         |c AS (SELECT doc_id, predicted_positive FROM (${Classifier.O.scoreDocuments("source = 'src0'")})),
         |j AS (SELECT st.source, st.n_tokens,
         |        (k.doc_id IS NOT NULL) AS is_unique, g.pass_gopher, c.predicted_positive,
         |        ((k.doc_id IS NOT NULL) AND g.pass_gopher AND c.predicted_positive) AS selected
         |      FROM st LEFT JOIN k ON k.doc_id = st.doc_id
         |      JOIN g ON g.doc_id = st.doc_id JOIN c ON c.doc_id = st.doc_id)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN is_unique THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  CAST(SUM(CASE WHEN is_unique AND pass_gopher THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
         |  CAST(SUM(CASE WHEN selected THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_selected
         |FROM j GROUP BY source ORDER BY source""".stripMargin),
    Entry("q176_kcenter_coreset", kCenterCoreset, Similarity.O.kCenterCoreset()),
    Entry("q173_cross_source_dups", crossSourceDups,
      """WITH d AS (SELECT DISTINCT source, md5(text) AS h FROM documents),
        |t AS (SELECT source, COUNT(*) AS n FROM d GROUP BY 1),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS c
        |      FROM d a JOIN d b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2)
        |SELECT ta.source AS src_a, tb.source AS src_b, ta.n AS n_a, tb.n AS n_b,
        |  COALESCE(p.c, 0) AS n_shared_hashes,
        |  round(CAST(COALESCE(p.c, 0) AS DOUBLE) / (ta.n + tb.n - COALESCE(p.c, 0)), 6) AS hash_jaccard
        |FROM t ta JOIN t tb ON ta.source < tb.source
        |LEFT JOIN p ON p.src_a = ta.source AND p.src_b = tb.source
        |ORDER BY 1, 2""".stripMargin),
    Entry("q174_length_distribution", lengthDistribution,
      s"""SELECT source, COUNT(*) AS n_docs,
         |  round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
         |  round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
         |  round(quantile_cont(n_tokens, 0.99), 6) AS p99_tokens,
         |  max(n_tokens) AS max_tokens
         |FROM (SELECT source, ${TO.textStats} FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin),
    Entry("q175_scrub_audit", scrubAudit,
      s"""WITH c AS (SELECT source, n_chars, ${TO.cleanText} AS clean_text FROM documents),
         |e AS (SELECT source, n_chars, length(clean_text) AS clean_len,
         |        CAST((length(clean_text) - length(replace(clean_text, '<email>', ''))) / 7 AS BIGINT) AS n_emails
         |      FROM c)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
         |  CAST(SUM(n_emails) AS BIGINT) AS total_emails,
         |  CAST(SUM(CAST(n_chars - clean_len AS BIGINT)) AS BIGINT) AS chars_removed
         |FROM e GROUP BY source ORDER BY source""".stripMargin),
    Entry("q168_gopher_rules", gopherRules, TO.gopherRules()),
    Entry("q169_standardize", standardizeEmb, Similarity.O.standardize),
    Entry("q170_mmr_rerank", mmrRerank, Similarity.O.mmrTopK("q.vec_id < 20")),
    Entry("q171_domain_classifier", domainClassifier,
      Classifier.O.trainDomainClassifier("source = 'src0'")),
    Entry("q172_classifier_scores", classifierScores,
      Classifier.O.scoreDocuments("source = 'src0'")),
    Entry("q219_conformal_gate", conformalGate, Classifier.O.conformalGate("source = 'src0'")),
    Entry("q228_classifier_cv", classifierCv, Classifier.O.crossValidate("source = 'src0'")),
    Entry("q229_learning_curve", learningCurve, Classifier.O.learningCurve("source = 'src0'")),
    Entry("q234_k_anonymity", kAnonymityQ,
      s"""WITH cls AS (SELECT source, lang, n_chars // 50 AS len_band, COUNT(*) AS csz
         |  FROM documents GROUP BY 1, 2, 3)
         |SELECT source, CAST(SUM(csz) AS BIGINT) AS n_docs, COUNT(*) AS n_classes,
         |  CAST(SUM(CASE WHEN csz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_classes,
         |  CAST(SUM(CASE WHEN csz < 5 THEN csz ELSE 0 END) AS BIGINT) AS n_docs_at_risk,
         |  CAST(MIN(csz) AS BIGINT) AS min_class_size,
         |  round(CAST(SUM(CASE WHEN csz < 5 THEN csz ELSE 0 END) AS DOUBLE) * 100.0
         |    / CAST(SUM(csz) AS DOUBLE), 6) AS risk_pct
         |FROM cls GROUP BY source ORDER BY source""".stripMargin),
    Entry("q235_index_maintenance", indexMaintenance, {
      val oldSrc = s"(SELECT vec_id, embedding FROM embeddings WHERE ${Sampling.O.hashBucket("vec_id")} < 80)"
      s"""WITH ${Similarity.O.kmeansL2Ctes("i", oldSrc, Similarity.Dim)},
         |ee AS (SELECT vec_id, embedding, (${Sampling.O.hashBucket("vec_id")} >= 80) AS is_new
         |       FROM embeddings),
         |asg AS (SELECT vec_id, cent_id, is_new FROM (
         |  SELECT e.vec_id, c.cent_id, e.is_new,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${V.O.l2sq("e.embedding", "c.cemb", Similarity.Dim)} ASC, c.cent_id) AS rn
         |  FROM ee e CROSS JOIN icent c) WHERE rn = 1),
         |cnt AS (SELECT cent_id,
         |    CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
         |    CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
         |  FROM asg GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_old) AS BIGINT) AS told,
         |               CAST(SUM(n_new) AS BIGINT) AS tnew FROM cnt)
         |SELECT ic.cent_id, CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
         |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
         |  round(CASE WHEN told > 0
         |    THEN CAST(COALESCE(n_old, 0) AS DOUBLE) / CAST(told AS DOUBLE) ELSE 0.0 END, 6) AS old_share,
         |  round(CASE WHEN tnew > 0
         |    THEN CAST(COALESCE(n_new, 0) AS DOUBLE) / CAST(tnew AS DOUBLE) ELSE 0.0 END, 6) AS new_share,
         |  round(CASE WHEN tnew > 0
         |      THEN CAST(COALESCE(n_new, 0) AS DOUBLE) / CAST(tnew AS DOUBLE) ELSE 0.0 END
         |    - CASE WHEN told > 0
         |      THEN CAST(COALESCE(n_old, 0) AS DOUBLE) / CAST(told AS DOUBLE) ELSE 0.0 END, 6) AS share_drift
         |FROM (SELECT cent_id FROM icent) ic LEFT JOIN cnt USING (cent_id) CROSS JOIN tot
         |ORDER BY ic.cent_id""".stripMargin
    }),
    Entry("q233_epoch_allocation", epochAllocationQ, {
      val mult = "4.0"
      val rstar = graft.operators.Sampling.RepeatDecay.toString
      def eff(a: String) =
        s"""CASE WHEN uniq_tokens = 0 THEN 0.0
           |     WHEN $a <= CAST(uniq_tokens AS DOUBLE) THEN $a
           |     ELSE CAST(uniq_tokens AS DOUBLE) + CAST(uniq_tokens AS DOUBLE) * $rstar
           |       * (1.0 - round(exp(-(($a / CAST(uniq_tokens AS DOUBLE)) - 1.0) / $rstar), 12))
           |END""".stripMargin
      s"""WITH sdoc AS (SELECT doc_id, source, ${TO.textStats} FROM documents),
         |k AS (SELECT doc_id, keep FROM (${Dedup.O.canonicalKeep})),
         |st AS (SELECT source,
         |    CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS raw_tokens,
         |    CAST(SUM(CASE WHEN keep THEN CAST(n_tokens AS BIGINT) ELSE 0 END) AS BIGINT) AS uniq_tokens
         |  FROM sdoc JOIN k USING (doc_id) GROUP BY 1),
         |tt AS (SELECT CAST(SUM(raw_tokens) AS BIGINT) AS traw,
         |              CAST(SUM(uniq_tokens) AS BIGINT) AS tuniq FROM st),
         |x AS (SELECT source, raw_tokens, uniq_tokens,
         |    ($mult * CAST(tuniq AS DOUBLE)) * CAST(raw_tokens AS DOUBLE) / CAST(traw AS DOUBLE) AS naive_alloc,
         |    ($mult * CAST(tuniq AS DOUBLE)) * CAST(uniq_tokens AS DOUBLE) / CAST(tuniq AS DOUBLE) AS dedup_alloc
         |  FROM st CROSS JOIN tt),
         |e AS (SELECT *, ${eff("naive_alloc")} AS en, ${eff("dedup_alloc")} AS ed FROM x)
         |SELECT source, raw_tokens, uniq_tokens,
         |  round(CAST(raw_tokens AS DOUBLE) / CAST(greatest(uniq_tokens, 1) AS DOUBLE), 6) AS dup_ratio,
         |  round(naive_alloc, 6) AS naive_alloc,
         |  CASE WHEN uniq_tokens > 0
         |       THEN round(naive_alloc / CAST(uniq_tokens AS DOUBLE) - 1.0, 6) END AS naive_repeats,
         |  round(en, 6) AS naive_eff_tokens,
         |  round(dedup_alloc, 6) AS dedup_alloc,
         |  round(ed, 6) AS dedup_eff_tokens,
         |  round(ed - en, 6) AS eff_gain
         |FROM e ORDER BY source""".stripMargin
    }),
    Entry("q230_neyman_plan", neymanPlan,
      s"""WITH s AS (SELECT source, ${TO.textStats} FROM documents),
         |st AS (SELECT source, COUNT(*) AS n_rows,
         |         ${Num.O.stddev("quality_score")} AS sd FROM s GROUP BY 1),
         |w AS (SELECT source, n_rows, sd,
         |        CAST(n_rows AS DOUBLE) * COALESCE(sd, 0.0) AS weight FROM st),
         |z AS (SELECT CAST(SUM(CAST(weight AS DECIMAL(38,6))) AS DOUBLE) AS z,
         |        CAST(SUM(n_rows) AS DOUBLE) AS ntot FROM w),
         |a AS (SELECT source, n_rows, round(COALESCE(sd, 0.0), 6) AS stddev,
         |        round((CASE WHEN z <= 0 THEN CAST(n_rows AS DOUBLE) ELSE weight END)
         |          / (CASE WHEN z <= 0 THEN ntot ELSE z END), 6) AS share,
         |        CAST(floor(100.0 * (CASE WHEN z <= 0 THEN CAST(n_rows AS DOUBLE) ELSE weight END)
         |          / (CASE WHEN z <= 0 THEN ntot ELSE z END)) AS BIGINT) AS n_alloc,
         |        (z <= 0) AS proportional_fallback
         |      FROM w CROSS JOIN z)
         |SELECT source, n_rows, stddev, share, n_alloc, proportional_fallback,
         |  CAST(100 - SUM(n_alloc) OVER () AS BIGINT) AS remainder
         |FROM a ORDER BY source""".stripMargin),
    Entry("q198_classifier_auc", classifierAuc, Classifier.O.auc("source = 'src0'")),
    Entry("q202_auc_by_lang", aucByLang, Classifier.O.aucBy("source = 'src0'", "lang")),
    Entry("q212_doremi_mixture", doremiMixture, Sampling.O.doremiWeights()),
    Entry("q204_budget_selection", budgetSelection,
      s"""WITH s AS (SELECT doc_id, source, ${TO.textStats} FROM documents),
         |st AS (SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS toks, quality_score FROM s),
         |b AS (SELECT source,
         |        CAST(floor(CAST(CAST(SUM(toks) AS BIGINT) AS DOUBLE) * 0.5) AS BIGINT) AS budget
         |      FROM st GROUP BY 1),
         |c AS (SELECT st.source, st.toks, st.quality_score, b.budget,
         |        SUM(st.toks) OVER (PARTITION BY st.source
         |          ORDER BY st.quality_score DESC, st.doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM st JOIN b USING (source))
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
         |  MAX(budget) AS budget,
         |  CAST(SUM(CASE WHEN cum <= budget THEN toks ELSE 0 END) AS BIGINT) AS tokens_selected,
         |  min(CASE WHEN cum <= budget THEN round(quality_score, 6) END) AS quality_cutoff
         |FROM c GROUP BY source ORDER BY source""".stripMargin),
    Entry("q206_matryoshka_recall", matryoshkaRecall, {
      def topk(dim: Int) =
        s"""SELECT query_id, cand_id FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           |    CAST(row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding", dim)}, 6) DESC, c.vec_id) AS INT) AS rank
           |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           |  WHERE ${Sampling.O.hashBucket("q.vec_id")} < $AnnAuditPct)
           |WHERE rank <= 10""".stripMargin
      val trunc = MatryoshkaDims
        .map(d => s"t$d AS (${topk(d)})").mkString(",\n")
      val arms = MatryoshkaDims.map { d =>
        s"""SELECT CAST($d AS INT) AS dim, dn.n_queries, dn.n_exact_pairs, h$d.n_hits,
           |  round(CAST(h$d.n_hits AS DOUBLE) / dn.n_exact_pairs, 6) AS recall_at_10
           |FROM dn, h$d""".stripMargin
      }.mkString("\nUNION ALL\n")
      val hits = MatryoshkaDims.map { d =>
        s"""h$d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
           |  FROM ex JOIN t$d USING (query_id, cand_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH ex AS MATERIALIZED (${topk(graft.operators.Similarity.Dim)}),
         |$trunc,
         |dn AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
         |         CAST(COUNT(*) AS BIGINT) AS n_exact_pairs FROM ex),
         |$hits
         |SELECT * FROM (
         |$arms
         |) ORDER BY dim""".stripMargin
    }),
    Entry("q155_pq_codes", pqEncoding, Similarity.O.pqCodes),
    Entry("q156_pq_adc", pqAdc, Similarity.O.pqAdc("vec_id < 20", k = 5)),
    Entry("q161_ivfpq", ivfPq, Similarity.O.ivfPq("vec_id < 20", k = 5)),
    Entry("q162_jl_projection", jlProjection, Similarity.O.jlProjection),
    Entry("q163_jl_distortion", jlDistortion, Similarity.O.jlDistortion("vec_id < 20")),
    Entry("q164_winnowing", winnowing, Dedup.O.winnowFingerprints),
    Entry("q165_winnow_overlap", winnowOverlap, Dedup.O.winnowOverlapPairs()),
    Entry("q166_jl_kmeans_agreement",
      (s, dir) => Similarity.jlKmeansAgreement(emb(s, dir), Some(mKmeansL2(s, dir))),
      Similarity.O.jlKmeansAgreement),
    Entry("q167_padding_waste",
      (s, dir) => Corpus.paddingWaste(docs(s, dir)).orderBy("strategy"),
      Corpus.O.paddingWaste()),
    Entry("q157_cdc_chunks", cdcChunking, Corpus.O.cdcChunks()),
    Entry("q158_cdc_dedup", cdcDedup, Corpus.O.cdcDedupStats()),
    Entry("q244_boilerplate", boilerplate, Corpus.O.boilerplateCensus()),
    Entry("q159_stupid_backoff", stupidBackoff, TO.stupidBackoffScores("NOT (source = 'src0')")),
    Entry("q160_pq_recall", pqRecall,
      s"""WITH ex AS (SELECT query_id, cand_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${V.O.l2sq("q.embedding", "c.embedding")}, 6) ASC, c.vec_id) AS INT) AS rank
         |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
         |  WHERE ${Sampling.O.hashBucket("q.vec_id")} < $AnnAuditPct)
         |WHERE rank <= 10),
         |ap AS (SELECT query_id, cand_id FROM (${Similarity.O.pqAdc(annAuditPredSql, 10)})),
         |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM ex JOIN ap USING (query_id, cand_id))
         |SELECT (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM ex) AS n_queries,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact_pairs,
         |       h.n_hits,
         |       round(CAST(h.n_hits AS DOUBLE) / (SELECT COUNT(*) FROM ex), 6) AS recall_at_10
         |FROM h""".stripMargin),
    Entry("q154_span_corruption", spanCorruption, Corpus.O.spanCorruption()),
    Entry("q153_dsir", dsirScores, TO.dsirScores("source = 'src0'")),
    Entry("q151_source_divergence", sourceDivergence, TO.sourceDivergence),
    Entry("q152_temperature_mixture", temperatureMixture,
      s"""WITH ps AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT SUM(tokens) AS total FROM ps),
         |sh AS (SELECT source, tokens, (CAST(tokens AS DOUBLE) / total) AS share,
         |         round(exp($TempAlpha * ln(CAST(tokens AS DOUBLE) / total)), 12) AS scaled
         |       FROM ps CROSS JOIN tot),
         |z AS (SELECT ${graft.functions.Num.O.sumHi("scaled")} AS z FROM sh)
         |SELECT source, tokens, round(share, 6) AS share,
         |  round(scaled / z, 6) AS weight,
         |  round(scaled / z / share, 6) AS upsample
         |FROM sh CROSS JOIN z ORDER BY source""".stripMargin),
    Entry("q149_bm25", bm25Search, TO.bm25TopK()),
    Entry("q150_bpe_merges", bpeMerges, Corpus.O.bpeMergePairs()),
    Entry("q148_hard_negatives", hardNegativeMining,
      s"""WITH b AS (SELECT vec_id, label, embedding,
         |  (${Similarity.O.bucket("embedding")}) AS bucket FROM embeddings)
         |SELECT query_id, cand_id, cosine_sim, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    round(${V.O.cosine("q.embedding", "c.embedding")}, 6) AS cosine_sim,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
         |  FROM b q JOIN b c ON q.bucket = c.bucket AND c.label != q.label
         |  WHERE q.vec_id < 20)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Entry("q147_semdedup", semDedupDecisions, Similarity.O.semDedup()),
    Entry("q146_curation_decisions", curationDecisions,
      s"""WITH k AS (SELECT doc_id, keep FROM (${Dedup.O.canonicalKeep})),
         |g AS (SELECT doc_id, pass_quality FROM (${TO.qualityGate()})),
         |sp AS (SELECT doc_id, ${Sampling.O.split("doc_id")} AS split FROM documents)
         |SELECT sp.doc_id, k.keep, g.pass_quality, sp.split,
         |  (k.keep AND g.pass_quality AND sp.split = 'train') AS in_training_set,
         |  CASE WHEN NOT k.keep THEN 'dedup'
         |       WHEN NOT g.pass_quality THEN 'quality'
         |       WHEN sp.split <> 'train' THEN 'holdout'
         |       ELSE 'selected' END AS cut_stage
         |FROM sp JOIN k USING (doc_id) JOIN g USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    Entry("q145_collection_surface", collectionSurface,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id,
        |  CAST(len(w) AS INT) AS n_words,
        |  CAST(len(list_distinct(w)) AS INT) AS n_distinct,
        |  list_contains(w, 'the') AS has_the,
        |  CAST(COALESCE(list_position(w, 'the'), 0) AS BIGINT) AS pos_the,
        |  CAST(len(list_filter(w, x -> length(x) >= 6)) AS INT) AS n_long_words,
        |  (len(list_filter(w, x -> length(x) >= 10)) > 0) AS any_very_long,
        |  md5(array_to_string(list_sort(list_distinct(w))[1:3], ',')) AS sorted3_md5,
        |  list_reverse(w)[1] AS last_word
        |FROM w ORDER BY doc_id""".stripMargin),
    Entry("q140_rep_ngrams", repNGrams, TO.repNGramChars()),
    Entry("q141_split_leakage", splitLeakage,
      s"""WITH pr AS (SELECT d1, d2 FROM (${Dedup.O.ngramJaccardPairs})),
         |sp AS (SELECT doc_id, ${Sampling.O.split("doc_id")} AS split FROM documents)
         |SELECT least(a.split, b.split) AS split_a, greatest(a.split, b.split) AS split_b,
         |  COUNT(*) AS n_pairs,
         |  (least(a.split, b.split) <> greatest(a.split, b.split)) AS is_leak
         |FROM pr JOIN sp a ON a.doc_id = pr.d1 JOIN sp b ON b.doc_id = pr.d2
         |GROUP BY 1, 2, 4 ORDER BY 1, 2""".stripMargin),
    Entry("q142_dataset_card", datasetCard,
      s"""WITH t AS (SELECT ${TO.textStats} FROM documents),
         |s AS (SELECT COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |        CAST(SUM(bpe_token_estimate) AS BIGINT) AS total_bpe_tokens,
         |        round(${Num.O.avg("n_tokens")}, 6) AS avg_tokens_per_doc
         |      FROM t),
         |c AS (SELECT CAST(SUM(length(text)) AS BIGINT) AS total_chars FROM documents),
         |dup AS (SELECT CAST(SUM(n - 1) AS BIGINT) AS n_exact_dup_docs FROM (
         |        SELECT COUNT(*) AS n FROM documents GROUP BY md5(text))),
         |e AS (SELECT CAST(count_if(${TO.predictedLang} = 'en') AS BIGINT) AS n_en_docs
         |      FROM (SELECT ${TO.langScores} FROM documents))
         |SELECT s.n_docs, s.total_tokens, s.total_bpe_tokens, s.avg_tokens_per_doc,
         |  c.total_chars, dup.n_exact_dup_docs,
         |  round(CAST(dup.n_exact_dup_docs AS DOUBLE) / s.n_docs, 6) AS dup_rate,
         |  e.n_en_docs, round(CAST(e.n_en_docs AS DOUBLE) / s.n_docs, 6) AS en_share
         |FROM s CROSS JOIN c CROSS JOIN dup CROSS JOIN e""".stripMargin),
    Entry("q143_ivf_recall", ivfRecall,
      s"""WITH ex AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      CAST(row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
         |    FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
         |    WHERE ${Sampling.O.hashBucket("q.vec_id")} < $AnnAuditPct)
         |  WHERE rank <= 10)),
         |iv AS (SELECT query_id, cand_id FROM (${Similarity.O.ivf(annAuditPredSql, 10)})),
         |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM ex JOIN iv USING (query_id, cand_id))
         |SELECT (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM ex) AS n_queries,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact_pairs,
         |       h.n_hits,
         |       round(CAST(h.n_hits AS DOUBLE) / (SELECT COUNT(*) FROM ex), 6) AS recall_at_10
         |FROM h""".stripMargin),
    Entry("q224_rbo", rboQuality, {
      val sCase = (1 to 10).map(i =>
        s"WHEN $i THEN CAST(${RboSuffix(i - 1)} AS DOUBLE)").mkString(" ")
      s"""WITH ex AS MATERIALIZED (SELECT query_id, cand_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
         |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
         |  WHERE ${Sampling.O.hashBucket("q.vec_id")} < $AnnAuditPct)
         |  WHERE rank <= 10),
         |iv AS MATERIALIZED (SELECT query_id, cand_id, rank AS arank
         |  FROM (${Similarity.O.ivf(annAuditPredSql, 10)})),
         |cm AS (SELECT ex.query_id, greatest(ex.rank, iv.arank) AS m
         |       FROM ex JOIN iv ON iv.query_id = ex.query_id AND iv.cand_id = ex.cand_id),
         |pq AS (SELECT query_id, ${Num.O.sumHi("(CASE m " + sCase + " END)")} AS rbo
         |       FROM cm GROUP BY 1),
         |qs AS (SELECT DISTINCT query_id FROM ex)
         |SELECT COUNT(*) AS n_queries,
         |  round(${Num.O.sumHi("COALESCE(pq.rbo, CAST(0 AS DOUBLE))")} / COUNT(*), 6) AS mean_rbo,
         |  round(MIN(COALESCE(pq.rbo, CAST(0 AS DOUBLE))), 6) AS min_rbo
         |FROM qs LEFT JOIN pq USING (query_id)""".stripMargin
    }),
    Entry("q207_ann_ranking_quality", annRankingQuality, {
      val wCase = (1 to 10).map(i =>
        s"WHEN $i THEN CAST(${DcgW(i - 1)} AS DOUBLE)").mkString(" ")
      s"""WITH ex AS MATERIALIZED (SELECT query_id, cand_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
         |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
         |  WHERE ${Sampling.O.hashBucket("q.vec_id")} < $AnnAuditPct)
         |  WHERE rank <= 10),
         |iv AS MATERIALIZED (SELECT query_id, cand_id, rank AS arank
         |  FROM (${Similarity.O.ivf(annAuditPredSql, 10)})),
         |fl AS (SELECT iv.query_id, iv.arank,
         |         CASE WHEN ex2.cand_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |       FROM iv LEFT JOIN (SELECT query_id, cand_id FROM ex) ex2
         |         ON ex2.query_id = iv.query_id AND ex2.cand_id = iv.cand_id),
         |dq AS (SELECT query_id,
         |         ${Num.O.sum(s"CASE WHEN rel = 1 THEN (CASE arank $wCase END) ELSE CAST(0 AS DOUBLE) END")} AS dcg
         |       FROM fl GROUP BY 1),
         |r1 AS (SELECT query_id, cand_id FROM ex WHERE rank = 1),
         |rr AS (SELECT r1.query_id,
         |         COALESCE(CAST(1 AS DOUBLE) / iv.arank, CAST(0 AS DOUBLE)) AS rr
         |       FROM r1 LEFT JOIN iv
         |         ON iv.query_id = r1.query_id AND iv.cand_id = r1.cand_id),
         |qs AS (SELECT DISTINCT query_id FROM ex)
         |SELECT COUNT(*) AS n_queries,
         |  round(${Num.O.sum("COALESCE(rr.rr, CAST(0 AS DOUBLE))")} / COUNT(*), 6) AS mrr,
         |  round(${Num.O.sum(s"COALESCE(dq.dcg, CAST(0 AS DOUBLE)) / CAST($Idcg AS DOUBLE)")} / COUNT(*), 6) AS mean_ndcg
         |FROM qs LEFT JOIN dq USING (query_id) LEFT JOIN rr USING (query_id)""".stripMargin
    }),
    Entry("q144_ivf_probe_sweep", ivfProbeSweep, {
      val exactSub =
        s"""SELECT query_id, cand_id FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           |    CAST(row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
           |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           |  WHERE ${Sampling.O.hashBucket("q.vec_id")} < $AnnAuditPct)
           |WHERE rank <= 10""".stripMargin
      val perP = IvfSweepProbes.map { p =>
        s"""SELECT $p AS nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits
           |FROM ex JOIN (SELECT query_id, cand_id
           |              FROM (${Similarity.O.ivf(annAuditPredSql, 10, probes = p)})) iv$p
           |USING (query_id, cand_id)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ex AS ($exactSub),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs FROM ex),
         |h AS ($perP)
         |SELECT CAST(h.nprobe AS INT) AS nprobe, h.n_hits, t.n_exact_pairs,
         |  round(CAST(h.n_hits AS DOUBLE) / t.n_exact_pairs, 6) AS recall_at_10
         |FROM h CROSS JOIN t ORDER BY nprobe""".stripMargin
    }),
    Entry("q40_dedup_exact", dedupExact, Dedup.O.exact),
    Entry("q41_fingerprint", fingerprint,
      s"""SELECT doc_id,
         |  ('0x' || substr(md5(text), 1, 15))::BIGINT AS content_fp,
         |  ${TO.rollingFp} AS rolling_fp
         |FROM documents ORDER BY doc_id""".stripMargin),
    Entry("q42_ngram_jaccard", ngramJaccard, Dedup.O.ngramJaccardPairs),
    Entry("q52_dedup_clusters", dedupClusters, Dedup.O.clusters),
    Entry("q53_embed_clusters", embedClusters,
      s"""WITH RECURSIVE ${Similarity.O.bucketedPairsCte(0.15)},
         |sym AS (SELECT v1 AS src, v2 AS dst FROM pairs UNION SELECT v2, v1 FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM sym) t
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
         |SELECT src AS doc_id, min(dst) AS cluster_rep, COUNT(DISTINCT dst) AS cluster_size,
         |  (src = min(dst)) AS is_kept
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),
    Entry("q43_minhash_lsh", minhashLsh, Dedup.O.minhashPairs),
    Entry("q44_simhash", simhash, Dedup.O.simhashPairs),
    Entry("q45_embed_neardup", embedNearDup,
      s"""WITH bkt AS MATERIALIZED (SELECT vec_id, label, embedding,
         |    (${Similarity.O.bucket("embedding")}) AS bucket FROM embeddings),
         |bsz AS (SELECT label, bucket FROM bkt GROUP BY label, bucket
         |        HAVING COUNT(*) <= ${Similarity.GraphBlockCap}),
         |blk AS MATERIALIZED (SELECT bkt.* FROM bkt JOIN bsz USING (label, bucket))
         |SELECT a.label AS label, a.vec_id AS v1, b.vec_id AS v2,
         |  round(${V.O.cosine("a.embedding", "b.embedding")}, 6) AS cosine_sim
         |FROM blk a JOIN blk b
         |  ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(${V.O.cosine("a.embedding", "b.embedding")}, 6) >= 0.30
         |ORDER BY label, v1, v2""".stripMargin),
    Entry("q46_ann_bruteforce", annBruteForce,
      s"""SELECT query_id, cand_id, cosine_sim, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    round(${V.O.cosine("q.embedding", "c.embedding")}, 6) AS cosine_sim,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
         |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
         |  WHERE q.vec_id < 20)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    Entry("q47_ann_lsh", annLsh,
      s"""WITH b AS (SELECT vec_id, embedding, (${Similarity.O.bucket("embedding")}) AS bucket FROM embeddings)
         |SELECT query_id, cand_id, bucket, cosine_sim, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.bucket AS bucket,
         |    round(${V.O.cosine("q.embedding", "c.embedding")}, 6) AS cosine_sim,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
         |  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
         |  WHERE q.vec_id < 20)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
    Entry("q65_ann_ivf", annIvf, Similarity.O.ivf("vec_id < 20", k = 5)),
    Entry("q66_frame_sample", frameSample,
      """WITH m AS (SELECT doc_id, text, CAST(1 + len(text) % 8 AS INT) AS n_frames FROM documents),
        |f AS (SELECT doc_id, n_frames, CAST(unnest(range(0, n_frames, 3)) AS INT) AS frame_idx, text FROM m)
        |SELECT doc_id, n_frames, frame_idx,
        |  CAST(len(substring(text, frame_idx * 8 + 1, 8)) AS INT) AS frame_len,
        |  md5(substring(text, frame_idx * 8 + 1, 8)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin),
    Entry("q67_embed_centroids", embedCentroids,
      s"""SELECT label, CAST(i AS INT) AS dim, COUNT(*) AS n_vecs,
         |  ${graft.functions.Num.O.avg("CAST(embedding[i] AS DOUBLE)")} AS avg_val
         |FROM embeddings, range(1, ${Similarity.Dim + 1}) t(i)
         |GROUP BY label, i ORDER BY label, dim""".stripMargin),
    Entry("q68_hash_sample", hashSample,
      s"""SELECT doc_id, source, CAST(${Sampling.O.hashBucket("doc_id")} AS INT) AS bucket
         |FROM documents WHERE ${Sampling.O.hashBucket("doc_id")} < 20
         |ORDER BY doc_id""".stripMargin),
    Entry("q69_split_assign", splitAssign,
      s"""SELECT source, ${Sampling.O.split("doc_id")} AS split, COUNT(*) AS n_docs
         |FROM documents GROUP BY 1, 2 ORDER BY source, split""".stripMargin),
    Entry("q70_text_clean", textClean,
      s"""SELECT doc_id, md5(${TO.cleanText}) AS clean_md5,
         |  CAST(length(${TO.cleanText}) AS INT) AS clean_len,
         |  CAST(len(string_split(${TO.cleanText}, ' ')) AS INT) AS clean_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),
    Entry("q94_fuzzy_pairs", fuzzyPairs, Dedup.O.editDistancePairs()),
    Entry("q95_contamination", contamination, Corpus.O.contamination("doc_id < 10")),
    Entry("q96_pmi_collocations", pmi, TO.pmiCollocations()),
    Entry("q98_char_entropy", entropy, TO.charEntropy),
    Entry("q100_quality_gate", qualityGate, TO.qualityGate()),
    Entry("q102_variant_shred", variantShred,
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  min(${SemiStructured.O.propK()}) AS min_k,
         |  max(${SemiStructured.O.propK()}) AS max_k,
         |  CAST(SUM(${SemiStructured.O.propK()}) AS BIGINT) AS sum_k,
         |  round(${Num.O.avg(SemiStructured.O.propK())}, 6) AS avg_k
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Entry("q103_containment", containment, Dedup.O.containmentPairs),
    Entry("q105_canonical_keep", canonicalKeep, Dedup.O.canonicalKeep),
    Entry("q109_dim_stats", dimStats,
      s"""SELECT CAST(i AS INT) AS dim, COUNT(*) AS n,
         |  round(${Num.O.avg("CAST(embedding[i] AS DOUBLE)")}, 6) AS mean_v,
         |  round(${Num.O.stddev("CAST(embedding[i] AS DOUBLE)")}, 6) AS std_v,
         |  min(CAST(embedding[i] AS DOUBLE)) AS min_v,
         |  max(CAST(embedding[i] AS DOUBLE)) AS max_v
         |FROM embeddings, range(1, ${Similarity.Dim + 1}) t(i)
         |GROUP BY i ORDER BY dim""".stripMargin),
    Entry("q110_zipf_fit", zipf, TO.zipfFit()),
    Entry("q111_lsh_recall", lshRecall,
      s"""WITH ex AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2
         |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE round(${V.O.cosine("a.embedding", "b.embedding")}, 6) >= 0.15
         |    AND ${Sampling.O.hashBucket("a.vec_id")} < $RecallAuditPct
         |    AND ${Sampling.O.hashBucket("b.vec_id")} < $RecallAuditPct),
         |bk AS (SELECT vec_id, ${Similarity.O.bucket("embedding")} AS bucket FROM embeddings),
         |nc AS (SELECT CAST(SUM((s * (s - 1)) // 2) AS BIGINT) AS n_candidates
         |       FROM (SELECT COUNT(*) AS s FROM bk GROUP BY bucket)),
         |j AS (SELECT a.bucket AS b1, c.bucket AS b2
         |      FROM ex JOIN bk a ON a.vec_id = ex.v1 JOIN bk c ON c.vec_id = ex.v2)
         |SELECT (SELECT COUNT(*) FROM j) AS n_exact,
         |  (SELECT n_candidates FROM nc) AS n_candidates,
         |  (SELECT COUNT(*) FROM j WHERE b1 = b2) AS n_hit,
         |  round((SELECT COUNT(*) FROM j WHERE b1 = b2)
         |        / (SELECT COUNT(*) FROM j), 6) AS recall""".stripMargin),
    Entry("q114_dup_spans", dupSpans, Dedup.O.duplicateSpans()),
    Entry("q129_top_pc", topPc, Clustering.O.topPrincipalComponent()),
    Entry("q246_isotropy", isotropy, Clustering.O.isotropyAudit()),
    Entry("q253_abtt_transform", abttTransform, Clustering.O.allButTheTopAudit()),
    Entry("q130_novelty", novelty,
      """WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, g FROM (
        |         SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |         FROM wl WHERE len(w) >= 3) t),
        |f AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  CAST(count_if(first_doc < doc_id) AS BIGINT) AS n_seen_before,
        |  round(CAST(COUNT(*) - count_if(first_doc < doc_id) AS DOUBLE) / COUNT(*), 6) AS novelty
        |FROM sh JOIN f USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Entry("q131_incremental_dedup", incrementalDedup, Dedup.O.incrementalFlags(IncrementalSplit)),
    Entry("q136_threshold_sweep", thresholdSweep,
      s"""SELECT CAST(floor(jaccard * 10) AS INT) AS decile, COUNT(*) AS n_pairs
         |FROM (${Dedup.O.ngramJaccardPairs})
         |GROUP BY 1 ORDER BY decile""".stripMargin),
    Entry("q137_minhash_calibration", minhashCalibration,
      s"""WITH mh AS (SELECT d1, d2, est_jaccard FROM (${Dedup.O.minhashPairs})),
         |ex AS (SELECT d1, d2, jaccard FROM (${Dedup.O.ngramJaccardPairs}))
         |SELECT COUNT(*) AS n_pairs,
         |  round(${Num.O.avg("abs(est_jaccard - jaccard)")}, 6) AS mae,
         |  round(MAX(abs(est_jaccard - jaccard)), 6) AS max_err
         |FROM mh JOIN ex USING (d1, d2)""".stripMargin),
    Entry("q133_dedup_funnel", dedupFunnel,
      s"""WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS toks FROM documents),
         |k AS (SELECT doc_id, keep FROM (${Dedup.O.canonicalKeep})),
         |g AS (SELECT doc_id, pass_quality FROM (${TO.qualityGate()}))
         |SELECT COUNT(*) AS n_docs,
         |  CAST(count_if(keep) AS BIGINT) AS n_after_dedup,
         |  CAST(count_if(pass_quality) AS BIGINT) AS n_pass_quality,
         |  CAST(count_if(keep AND pass_quality) AS BIGINT) AS n_final,
         |  CAST(SUM(toks) AS BIGINT) AS tokens_in,
         |  CAST(SUM(CASE WHEN keep AND pass_quality THEN toks END) AS BIGINT) AS tokens_final,
         |  round(100.0 * CAST(SUM(CASE WHEN keep AND pass_quality THEN toks END) AS BIGINT)
         |        / CAST(SUM(toks) AS BIGINT), 6) AS yield_pct
         |FROM t JOIN k USING (doc_id) JOIN g USING (doc_id)""".stripMargin),
    Entry("q134_crossmodal_agreement", crossModalAgreement,
      s"""WITH tp AS (SELECT d1, d2, TRUE AS t FROM (${Dedup.O.ngramJaccardPairs})),
         |${Similarity.O.bucketedPairsCte(0.40)},
         |ep AS (SELECT v1 AS d1, v2 AS d2, TRUE AS e FROM pairs),
         |f AS (SELECT t, e FROM tp FULL JOIN ep USING (d1, d2))
         |SELECT
         |  CAST(count_if(t AND e) AS BIGINT) AS n_both,
         |  CAST(count_if(t AND e IS NULL) AS BIGINT) AS n_text_only,
         |  CAST(count_if(t IS NULL AND e) AS BIGINT) AS n_emb_only,
         |  round(CAST(count_if(t AND e) AS DOUBLE)
         |        / (count_if(t AND e) + count_if(t AND e IS NULL) + count_if(t IS NULL AND e)), 6)
         |    AS agreement
         |FROM f""".stripMargin),
    Entry("q132_triangles", triangleStats,
      s"""WITH ${Similarity.O.bucketedPairsCte(0.15)},
         |edges AS (SELECT v1 AS src, v2 AS dst FROM pairs),
         |${Graph.O.trianglesSql}
         |SELECT t.v AS id, t.deg, COALESCE(pn.n_triangles, 0) AS n_triangles,
         |  CASE WHEN t.deg >= 2
         |       THEN round(2.0 * COALESCE(pn.n_triangles, 0) / (t.deg * (t.deg - 1)), 6) END
         |    AS clustering_coeff
         |FROM tdeg t LEFT JOIN pn USING (v) ORDER BY id""".stripMargin),
    Entry("q126_expectations", expectationsGate,
      """WITH m AS (SELECT
        |    CAST(-COUNT(*) AS DOUBLE) AS min_rows,
        |    CAST(COUNT(*) - COUNT(DISTINCT event_id) AS DOUBLE) AS pk_duplicates,
        |    CAST(100.0 * count_if(user_id IS NULL) / COUNT(*) AS DOUBLE) AS null_user_pct,
        |    CAST(count_if(value < 0 OR value > 1000) AS DOUBLE) AS value_out_of_range,
        |    CAST(count_if(ts > TIMESTAMP '2026-01-01 00:00:00') AS DOUBLE) AS future_ts
        |  FROM events)
        |SELECT * FROM (
        |  SELECT 'future_ts' AS check_name, future_ts AS metric, 0.0 AS max_allowed, future_ts <= 0.0 AS pass FROM m
        |  UNION ALL
        |  SELECT 'min_rows', min_rows, -1000.0, min_rows <= -1000.0 FROM m
        |  UNION ALL
        |  SELECT 'null_user_pct', null_user_pct, 1.0, null_user_pct <= 1.0 FROM m
        |  UNION ALL
        |  SELECT 'pk_duplicates', pk_duplicates, 0.0, pk_duplicates <= 0.0 FROM m
        |  UNION ALL
        |  SELECT 'value_out_of_range', value_out_of_range, 0.0, value_out_of_range <= 0.0 FROM m)
        |ORDER BY check_name""".stripMargin),
    Entry("q123_mixture", mixture, {
      val caseSql = MixtureTargets
        .map { case (src, pct) => s"WHEN source = '$src' THEN $pct" }
        .mkString("CASE ", " ", s" ELSE $MixtureDefaultPct END")
      s"""WITH s AS (SELECT source, COUNT(*) AS n_docs,
         |             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS actual_tokens
         |           FROM documents GROUP BY 1),
         |t AS (SELECT CAST(SUM(actual_tokens) AS BIGINT) AS total_tokens FROM s),
         |j AS (SELECT s.*, t.total_tokens, CAST($caseSql AS INT) AS target_pct
         |      FROM s CROSS JOIN t),
         |k AS (SELECT *, CAST(total_tokens AS DOUBLE) * target_pct / 100.0 AS target_tokens
         |      FROM j)
         |SELECT source, n_docs, actual_tokens, target_pct,
         |  round(least(1.0, target_tokens / CAST(actual_tokens AS DOUBLE)) * 100.0, 6) AS keep_pct,
         |  round(CAST(actual_tokens AS DOUBLE)
         |        * least(1.0, target_tokens / CAST(actual_tokens AS DOUBLE)), 6) AS expected_tokens
         |FROM k ORDER BY source""".stripMargin
    }),
    Entry("q124_vocab_coverage", vocabCoverage,
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |t AS (SELECT COUNT(*) AS total FROM w),
        |top AS (SELECT w, COUNT(*) AS c FROM w GROUP BY 1 ORDER BY c DESC, w LIMIT 20),
        |r AS (SELECT w, c, CAST(row_number() OVER (ORDER BY c DESC, w) AS INT) AS rank,
        |        CAST(SUM(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c
        |      FROM top)
        |SELECT rank, w, c, cum_c,
        |  round(CAST(cum_c AS DOUBLE) / total, 6) AS cum_share,
        |  (round(CAST(cum_c AS DOUBLE) / total, 6) >= 0.9) AS covers_90pct
        |FROM r CROSS JOIN t ORDER BY rank""".stripMargin),
    Entry("q116_key_skew", keySkew,
      s"""WITH c AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1),
         |top AS (SELECT user_id AS top_key, c AS top_c FROM c ORDER BY c DESC, user_id LIMIT 1),
         |a AS (SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows, MAX(c) AS max_c,
         |        round(${Num.O.avg("c")}, 6) AS avg_c,
         |        round(quantile_cont(c, 0.5), 6) AS p50_c,
         |        round(quantile_cont(c, 0.99), 6) AS p99_c
         |      FROM c)
         |SELECT n_keys, n_rows, max_c, avg_c, p50_c, p99_c, top_key, top_c,
         |  round(max_c / avg_c, 6) AS skew_ratio
         |FROM a CROSS JOIN top""".stripMargin),
    Entry("q115_inverted_index", invertedIndex,
      s"""WITH p AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |t AS (SELECT term, COUNT(*) AS df FROM p GROUP BY 1
         |      HAVING COUNT(*) BETWEEN $InvIdxMinDf AND $InvIdxMaxDf),
         |sh AS (SELECT p.term, t.df, p.doc_id,
         |         CAST((row_number() OVER (PARTITION BY p.term ORDER BY p.doc_id) - 1)
         |              // $InvIdxShard AS INT) AS shard
         |       FROM p JOIN t USING (term))
         |SELECT term, df, shard, COUNT(*) AS n,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
         |  md5(array_to_string(list_sort(list(doc_id)), ',')) AS postings_md5
         |FROM sh GROUP BY term, df, shard ORDER BY term, shard""".stripMargin),
    Entry("q113_cms_heavy_hitters", cmsHeavyHitters, {
      import graft.functions.{Sketch => SK}
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |b AS (${SK.O.cmsBuckets("SELECT w FROM w", "w")}),
         |top AS (SELECT w, COUNT(*) AS exact_c FROM w GROUP BY 1
         |        ORDER BY exact_c DESC, w LIMIT 20),
         |est AS (SELECT t.w, t.exact_c, MIN(b.c) AS cms_est
         |        FROM top t JOIN b ON b.bucket = ${SK.O.bucketOf("t.w", "b.r")}
         |        GROUP BY 1, 2)
         |SELECT w, exact_c, cms_est, cms_est - exact_c AS overcount
         |FROM est ORDER BY exact_c DESC, w""".stripMargin
    }),
    Entry("q104_weighted_sample", weightedSample,
      s"""SELECT doc_id, source, n_chars, ${Sampling.O.esKey("doc_id", "n_chars")} AS es_key
         |FROM documents
         |ORDER BY es_key, doc_id LIMIT 100""".stripMargin),
    Entry("q101_pagerank", pagerank,
      s"""WITH ${Similarity.O.bucketedPairsCte(0.15)},
         |edges AS (SELECT v1 AS src, v2 AS dst FROM pairs UNION ALL SELECT v2, v1 FROM pairs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS id FROM edges UNION SELECT dst FROM edges),
         |${Graph.O.pageRankCtes(iters = 5)}
         |SELECT r5.id, COALESCE(d.deg, 0) AS out_degree, r5.m / 1000000.0 AS pagerank
         |FROM r5 LEFT JOIN deg d ON d.src = r5.id ORDER BY id""".stripMargin),
    Entry("q99_vector_stats", vecStats,
      """SELECT vec_id,
        |  list_min(embedding) AS min_v,
        |  list_max(embedding) AS max_v,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        |  (list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE))), (a, b) -> a + b) / len(embedding)) AS mean_v,
        |  (len(list_filter(embedding, x -> abs(x) > CAST(0.9 AS FLOAT))) > 0) AS has_large
        |FROM embeddings ORDER BY vec_id""".stripMargin),
    Entry("q86_bigram_lm", bigramLm, TO.bigramLmScore),
    Entry("q87_pack_sequences", packSeqs,
      s"${Corpus.O.packSequences(tokenBudget = 256)}\nORDER BY source, doc_id"),
    Entry("q88_token_chunks", chunks,
      s"${Corpus.O.chunkTokens(chunkTokens = 64, stride = 48)}\nORDER BY doc_id, chunk_idx"),
    Entry("q89_quantize_int8", quantize,
      """WITH e AS (SELECT vec_id, embedding,
        |             CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS scale
        |           FROM embeddings),
        |q AS (SELECT vec_id, scale,
        |        list_transform(embedding, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
        |          ELSE CAST(floor((CAST(x AS DOUBLE) / scale) * 127 + 0.5) AS BIGINT) END) AS q
        |      FROM e)
        |SELECT vec_id, scale,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), q), (a, b) -> a + b) AS q_sum,
        |  md5(array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',')) AS q_md5
        |FROM q ORDER BY vec_id""".stripMargin),
    Entry("q84_bloom_semi_join", bloomSemi,
      """SELECT user_id, COUNT(*) AS n_events FROM events
        |WHERE user_id IN (SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 200)
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    Entry("q85_tfidf", tfidf, TO.tfidfTopTerms(k = 3)),
    Entry("q82_repetition", repetition, TO.repetitionStats()),
    Entry("q83_stratified_sample", stratified,
      s"""SELECT doc_id, source, CAST(${Sampling.O.hashBucket("doc_id")} AS INT) AS bucket,
         |  CAST(${Sampling.O.strataRate("source", StrataRates, StrataDefaultPct)} AS INT) AS keep_pct
         |FROM documents
         |WHERE ${Sampling.O.hashBucket("doc_id")} < ${Sampling.O.strataRate("source", StrataRates, StrataDefaultPct)}
         |ORDER BY doc_id""".stripMargin),
    Entry("q48_lang_id", langId,
      s"""SELECT lang, ${TO.predictedLang} AS predicted_lang, COUNT(*) AS n_docs
         |FROM (SELECT lang, ${TO.langScores} FROM documents)
         |GROUP BY 1, 2 ORDER BY lang, predicted_lang""".stripMargin),
    Entry("q211_keyness", keyness, TO.keyness()),
    Entry("q226_tail_index", tailIndex,
      s"""WITH d AS (SELECT source, CAST(n_chars AS DOUBLE) AS x, doc_id FROM documents
         |  WHERE n_chars IS NOT NULL AND n_chars >= 1),
         |r AS (SELECT source, x,
         |        row_number() OVER (PARTITION BY source ORDER BY x DESC, doc_id ASC) AS rn
         |      FROM d),
         |k AS (SELECT source, x AS xk FROM r WHERE rn = ${HillK}),
         |t AS (SELECT r.source, ln(r.x / k.xk) AS term
         |      FROM r JOIN k USING (source) WHERE r.rn < ${HillK}),
         |a AS (SELECT source,
         |        CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE) / ${(HillK - 1).toDouble} AS raw
         |      FROM t GROUP BY 1)
         |SELECT a.source, CAST(k.xk AS BIGINT) AS x_k, round(raw, 6) AS inv_alpha,
         |  CASE WHEN raw > 0 THEN round(1.0 / raw, 6) END AS hill_alpha
         |FROM a JOIN k USING (source) ORDER BY a.source""".stripMargin),
    Entry("q225_equi_depth_profile", equiDepthProfile, {
      import graft.operators.{Robust => R}
      s"""WITH s AS MATERIALIZED (SELECT source, n_chars, quality_score
         |  FROM (SELECT source, n_chars, ${TO.textStats} FROM documents)
         |  WHERE n_chars IS NOT NULL AND n_chars >= 1),
         |lm AS (${R.O.logCte("s", "source", "n_chars")}),
         |e25 AS (SELECT g, est AS est_p25 FROM (${R.O.logEstSelect(0.25)})),
         |e50 AS (SELECT g, est AS est_p50 FROM (${R.O.logEstSelect(0.5)})),
         |e75 AS (SELECT g, est AS est_p75 FROM (${R.O.logEstSelect(0.75)})),
         |b AS (SELECT s.source, s.n_chars, s.quality_score,
         |        CASE WHEN s.n_chars <= est_p25 THEN 1
         |             WHEN s.n_chars <= est_p50 THEN 2
         |             WHEN s.n_chars <= est_p75 THEN 3
         |             ELSE 4 END AS band
         |      FROM s JOIN e25 ON e25.g = s.source
         |        JOIN e50 ON e50.g = s.source
         |        JOIN e75 ON e75.g = s.source)
         |SELECT source, CAST(band AS INT) AS band, COUNT(*) AS n_docs,
         |  round(CAST(SUM(CAST(quality_score AS DECIMAL(38,18))) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS avg_quality,
         |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
         |FROM b GROUP BY 1, 2 ORDER BY source, band""".stripMargin
    }),
    Entry("q221_benford_audit", benfordAudit, {
      val bp = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))
      val expCase = (1 to 9).map(d => s"WHEN digit = $d THEN ${bp(d - 1)}")
        .mkString("CASE ", " ", " END")
      s"""WITH d AS (SELECT source, CAST(substr(CAST(n_chars AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 1),
         |g AS (SELECT source, digit, COUNT(*) AS obs FROM d GROUP BY 1, 2),
         |t AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS n FROM g GROUP BY 1),
         |dom AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit),
         |f AS (SELECT t.source, t.n, dom.digit, CAST(COALESCE(g.obs, 0) AS BIGINT) AS obs
         |      FROM t CROSS JOIN dom
         |      LEFT JOIN g ON g.source = t.source AND g.digit = dom.digit),
         |x AS (SELECT source, obs, n, CAST(n AS DOUBLE) * (${expCase}) AS expected FROM f)
         |SELECT source, MAX(n) AS n,
         |  CAST(SUM(CASE WHEN obs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_digits_seen,
         |  round(CAST(SUM(CAST((CAST(obs AS DOUBLE) - expected) * (CAST(obs AS DOUBLE) - expected)
         |    / expected AS DECIMAL(38,12))) AS DOUBLE), 6) AS chi2
         |FROM x GROUP BY source ORDER BY source""".stripMargin
    }),
    Entry("q216_rrf_fusion", rrfFusion,
      s"""WITH sem AS (SELECT query_id, cand_id, rank AS sem_rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${V.O.cosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS INT) AS rank
         |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
         |  WHERE q.vec_id < 5) WHERE rank <= 20),
         |w AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
         |     FROM documents),
         |nw AS (SELECT doc_id, COUNT(*) AS nw FROM w GROUP BY 1),
         |inter AS (SELECT qw.doc_id AS query_id, cw.doc_id AS cand_id, COUNT(*) AS ic
         |          FROM w qw JOIN w cw ON qw.w = cw.w
         |          WHERE qw.doc_id < 5 AND cw.doc_id != qw.doc_id GROUP BY 1, 2),
         |jac AS (SELECT query_id, cand_id,
         |          round(CAST(ic AS DOUBLE) / (nq.nw + nc.nw - ic), 6) AS j
         |        FROM inter JOIN nw nq ON nq.doc_id = query_id
         |          JOIN nw nc ON nc.doc_id = cand_id),
         |lex AS (SELECT query_id, cand_id, lex_rank FROM (
         |  SELECT query_id, cand_id, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY j DESC, cand_id) AS INT) AS lex_rank FROM jac) WHERE lex_rank <= 20),
         |f AS (SELECT COALESCE(s.query_id, l.query_id) AS query_id,
         |        COALESCE(s.cand_id, l.cand_id) AS cand_id,
         |        s.sem_rank, l.lex_rank,
         |        round(COALESCE(1.0 / (60 + s.sem_rank), 0.0)
         |            + COALESCE(1.0 / (60 + l.lex_rank), 0.0), 6) AS rrf_score
         |      FROM sem s FULL JOIN lex l
         |        ON s.query_id = l.query_id AND s.cand_id = l.cand_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |        ORDER BY rrf_score DESC, cand_id) AS INT) AS fused_rank FROM f)
         |SELECT query_id, fused_rank, cand_id, rrf_score, sem_rank, lex_rank
         |FROM r WHERE fused_rank <= 10 ORDER BY query_id, fused_rank""".stripMargin),
    Entry("q215_lang_source_mi", langSourceMi,
      """WITH d AS (SELECT lang, source FROM documents),
        |j AS (SELECT lang, source, COUNT(*) AS c FROM d GROUP BY 1, 2),
        |ml AS (SELECT lang, COUNT(*) AS cl FROM d GROUP BY 1),
        |ms AS (SELECT source, COUNT(*) AS cs FROM d GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM d),
        |t AS (SELECT CAST(c AS DOUBLE) / n AS p, CAST(cl AS DOUBLE) / n AS pl,
        |        CAST(cs AS DOUBLE) / n AS ps
        |      FROM j JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN nn),
        |mi AS (SELECT COUNT(*) AS n_cells,
        |         CAST(SUM(CAST(p * ln(p / (pl * ps)) AS DECIMAL(38,12))) AS DOUBLE) AS mi_raw
        |       FROM t),
        |hl AS (SELECT CAST(SUM(CAST(-(CAST(cl AS DOUBLE) / n) * ln(CAST(cl AS DOUBLE) / n)
        |         AS DECIMAL(38,12))) AS DOUBLE) AS hl_raw FROM ml CROSS JOIN nn),
        |hs AS (SELECT CAST(SUM(CAST(-(CAST(cs AS DOUBLE) / n) * ln(CAST(cs AS DOUBLE) / n)
        |         AS DECIMAL(38,12))) AS DOUBLE) AS hs_raw FROM ms CROSS JOIN nn)
        |SELECT n AS n_docs, n_cells, round(mi_raw, 6) AS mi,
        |  round(hl_raw, 6) AS h_lang, round(hs_raw, 6) AS h_source,
        |  round(mi_raw / sqrt(hl_raw * hs_raw), 6) AS nmi
        |FROM mi CROSS JOIN hl CROSS JOIN hs CROSS JOIN nn""".stripMargin),
    Entry("q210_pareto_skyline", paretoSkyline,
      s"""WITH s AS MATERIALIZED (
         |  SELECT doc_id, n_chars, quality_score
         |  FROM (SELECT doc_id, n_chars, ${TO.textStats} FROM documents)
         |  WHERE n_chars IS NOT NULL AND n_chars >= 1 AND quality_score IS NOT NULL)
         |SELECT doc_id, n_chars, quality_score FROM s
         |WHERE NOT EXISTS (SELECT 1 FROM s o
         |  WHERE o.n_chars >= s.n_chars AND o.quality_score >= s.quality_score
         |    AND (o.n_chars > s.n_chars OR o.quality_score > s.quality_score))
         |ORDER BY doc_id""".stripMargin),
    Entry("q49_text_quality", textQuality,
      s"""SELECT doc_id, n_tokens, avg_token_len, stopword_ratio,
         |  bpe_token_estimate, quality_score
         |FROM (SELECT doc_id, ${TO.textStats} FROM documents)
         |ORDER BY doc_id""".stripMargin),
    Entry("q50_token_count", tokenCount,
      s"""SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(bpe_token_estimate) AS BIGINT) AS total_bpe_tokens,
         |  round(${Num.O.avg("n_tokens")}, 6) AS avg_tokens_per_doc
         |FROM (SELECT source, ${TO.textStats} FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin),
    Entry("q51_multimodal_meta", multimodalMeta,
      """SELECT source, COUNT(*) AS n_media,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
        |  round((CAST(SUM(CAST((64 + (strlen(text) * 7) % 192) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)), 6) AS avg_width,
        |  round((CAST(SUM(CAST((64 + (strlen(text) * 13) % 128) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)), 6) AS avg_height,
        |  CAST(SUM(1 + strlen(text) % 8) AS BIGINT) AS total_frames
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)
  )
}
