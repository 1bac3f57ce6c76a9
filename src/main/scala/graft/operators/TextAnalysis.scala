package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, Text}
import graft.warehouse.Pins

/** Text-analysis operators for LLM-data pipelines: token stats, quality
  * scoring, heuristic language ID, and rolling-hash fingerprinting.
  *
  * Everything is built from portable, codegen'd string arithmetic
  * (length/replace/split) — no UDFs, no regex-dialect dependence — so the
  * same computation is expressible verbatim in the DuckDB oracle and the
  * operator runs at full whole-stage-codegen speed on 100 TB of text.
  */
object TextAnalysis {

  /** Non-overlapping occurrence count of `kw` in `padded`. */
  private def occ(padded: Column, kw: String): Column =
    (length(padded) - length(replace(padded, lit(kw), lit("")))) / kw.length

  private def occSql(padded: String, kw: String): String = {
    val esc = kw.replace("'", "''")
    s"((length($padded) - length(replace($padded, '$esc', ''))) / ${kw.length})"
  }

  /** Text normalization for pretraining corpora: lowercase, PII
    * redaction (emails), strip non-alphanumerics, collapse whitespace.
    * Pure codegen'd regex projections — embarrassingly parallel; the
    * patterns stay in the RE2-compatible subset so the DuckDB oracle
    * applies the byte-identical transform.
    */
  def withCleanText(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val redacted = regexp_replace(
      lower(col(textCol)), "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<email>")
    val stripped = regexp_replace(redacted, "[^a-z0-9< >]", " ")
    val collapsed = trim(regexp_replace(stripped, " +", " "))
    docs
      .withColumn("clean_text", collapsed)
      .withColumn("clean_len", length(col("clean_text")))
      .withColumn("clean_tokens", size(split(col("clean_text"), " ")))
  }

  /** Language keyword table (heuristic n-gram/stopword scoring). */
  val LangKeywords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" der ", " die ", " und "),
    "en" -> Seq(" the ", " a ", " of "),
    "es" -> Seq(" el ", " los ", " una "),
    "fr" -> Seq(" le ", " les ", " des "),
    "zh" -> Seq("的", "是", "了"))

  /** Per-document token statistics and a deterministic quality score
    * (length / word-length / stopword-density mix — the standard cheap
    * pre-filter shape for pretraining corpora).
    */
  def withTextStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val padded = concat(lit(" "), lower(t), lit(" "))
    val nTokens = size(split(t, " "))
    val avgTokLen = (length(t) - (nTokens - lit(1))) / nTokens
    val stopRatio = (occ(padded, " the ") + occ(padded, " a ") + occ(padded, " of ")) / nTokens
    docs
      .withColumn("n_tokens", nTokens)
      .withColumn("avg_token_len", avgTokLen)
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("bpe_token_estimate", ceil(octet_length(t) / lit(4.0)))
      .withColumn(
        "quality_score",
        least(nTokens / lit(200.0), lit(1.0)) * 0.5 +
          least(col("avg_token_len") / lit(8.0), lit(1.0)) * 0.3 +
          (lit(1.0) - least(col("stopword_ratio") * lit(2.0), lit(1.0))) * 0.2)
  }

  /** Heuristic language ID: score each language by keyword hits; the
    * winner is the first language (alphabetical) reaching the max score —
    * fully deterministic tie-breaking.
    */
  def withLanguageId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val padded = concat(lit(" "), lower(col(textCol)), lit(" "))
    val scored = LangKeywords.foldLeft(docs) { case (df, (lang, kws)) =>
      df.withColumn(s"score_$lang", kws.map(occ(padded, _)).reduce(_ + _))
    }
    val scores = LangKeywords.map { case (lang, _) => col(s"score_$lang") }
    val g = greatest(scores: _*)
    val predicted = LangKeywords.map(_._1).foldRight(lit(null).cast("string")) {
      case (lang, els) => when(col(s"score_$lang") === g, lit(lang)).otherwise(els)
    }
    scored.withColumn("predicted_lang", predicted)
  }

  /** Gopher-style repetition quality stats: distinct-word ratio, most
    * frequent word / bigram share. The standard cheap repetition filter
    * for pretraining corpora — a doc dominated by one word or one
    * 2-gram is boilerplate/spam, not prose.
    *
    * Scale design: one explode + keyed (doc_id, token) count per
    * n-gram order, partial-aggregated map-side; everything else is
    * narrow. All arithmetic is exact integer ratios — bit-identical
    * cross-engine with no rounding.
    */
  def repetitionStats(
      docs: DataFrame,
      textCol: String = "text",
      maxTopWordFrac: Double = 0.20,
      maxTopBigramFrac: Double = 0.18,
      minDistinctRatio: Double = 0.30): DataFrame = {
    val w = split(col(textCol), " ")
    val base = docs.select(col("doc_id"), w.as("w"))
    val words = base.select(col("doc_id"), explode(col("w")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("top_word_count"), count(lit(1)).as("n_distinct_words"))
    val bigrams = docs
      .select(col("doc_id"), explode(graft.functions.Text.shingles(col(textCol), 2)).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bigram_count"))
    base.select(col("doc_id"), size(col("w")).as("n_words"))
      .join(words, Seq("doc_id"))
      .join(bigrams, Seq("doc_id"), "left")
      .withColumn("top_bigram_count", coalesce(col("top_bigram_count"), lit(0L)))
      .withColumn("distinct_ratio", col("n_distinct_words") / col("n_words"))
      .withColumn("top_word_frac", col("top_word_count") / col("n_words"))
      .withColumn("top_bigram_frac",
        when(col("n_words") > 1, col("top_bigram_count") / (col("n_words") - 1)))
      .withColumn("pass_repetition",
        col("top_word_frac") <= maxTopWordFrac &&
          coalesce(col("top_bigram_frac") <= maxTopBigramFrac, lit(true)) &&
          col("distinct_ratio") >= minDistinctRatio)
  }

  /** TF-IDF top-k terms per document: tf from one keyed (doc, term)
    * count, document frequency from a second keyed count over the tf
    * frame (never re-reading the corpus), corpus size as a single-row
    * broadcast scalar. idf = ln(N/df), rounded at 6 dp BEFORE ranking so
    * both engines rank identical values (ln is the one genuinely
    * engine-divergent step; everything else is exact).
    *
    * Scale design: two keyed hash aggregations with map-side partials +
    * one per-doc top-k window — the same shuffle shape as word count.
    */
  def tfidfTopTerms(docs: DataFrame, textCol: String = "text", k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(split(col(textCol), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "tfidf", "rank")
  }

  /** Corpus-trained bigram language-model score per document: the mean
    * conditional log-probability ln(C(w1,w2)/C(w1·)) of the doc's word
    * bigrams, with counts from the whole corpus — the cheap stand-in for
    * a perplexity quality filter (low scorers are gibberish or
    * boilerplate relative to the corpus). Per-row ln values ride through
    * a decimal-backed mean (graft.Num), so the aggregate is
    * order-independent and engine-identical.
    *
    * Scale: two keyed counts (bigram, first-word) + keyed joins back to
    * the bigram stream — word-count shuffle shapes throughout.
    */
  def bigramLmScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import graft.functions.Text
    // One corpus explode, then a cascade of SHRINKING aggregates: the
    // occurrence stream collapses to per-doc distinct bigrams before any
    // join; corpus bigram counts roll up from that table and first-word
    // totals from the bigram counts. The joins then carry distinct
    // bigrams (≈¼ the occurrence volume), and each occurrence's ln
    // contributes as n × decimal(lp) — bit-identical to summing n
    // copies, so the occurrence-stream oracle still hash-matches.
    // pinned: the distinct-bigram table feeds the corpus count rollup
    // AND the scoring join — without the pin the corpus explode runs
    // twice. Inside an artifact build (the quality gate) the pin is
    // released once the artifact is checkpointed.
    val docBg = Pins.cache(docs
      .select(col("doc_id"), explode(Text.shingles(col(textCol), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("n")))
    val bgCounts = docBg.groupBy("bg").agg(sum(col("n")).as("c_bg"))
    val w1Counts = bgCounts
      .groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum(col("c_bg")).as("c_w1"))
    docBg
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(bgCounts, "bg").join(w1Counts, "w1")
      .withColumn("lp", log(col("c_bg").cast("double") / col("c_w1")))
      .groupBy("doc_id")
      .agg(
        sum(col("n")).as("n_bigrams"),
        (sum(col("lp").cast("decimal(38,6)") * col("n")).cast("double") / sum(col("n")))
          .as("avg_logprob"))
  }

  val SbAlpha = 0.4 // the Stupid Backoff discount (Brants 2007 §4)

  /** Stupid Backoff trigram scoring (Brants et al. 2007, EMNLP —
    * "Large Language Models in Machine Translation"): every doc is
    * scored under an n-gram model trained on the REFERENCE subset
    * (`refPred`), the CCNet-style quality signal. Per trigram
    * (w1,w2,w3): the relative frequency c(w1w2w3)/c(w1w2) when the
    * trigram is in-reference; else α·c(w2w3)/c(w2); else
    * α²·(c(w3)+0.5)/(N+0.5·V) — the paper leaves unseen unigrams at
    * zero, so the floor is add-0.5-smoothed (the [[dsirScores]]
    * convention) to keep ln finite; α = [[SbAlpha]] with no
    * normalization (the method's point: scores, not probabilities).
    *
    * Scale design mirrors [[bigramLmScore]]: shrinking aggregates (the
    * scoring stream collapses to per-doc distinct trigrams before any
    * join), count tables keyed by gram, the (N, V) scalars a 1-row
    * broadcast. Backoff tiers are reported per doc — the tier mix is
    * itself the signal (held-out text backs off more).
    */
  def stupidBackoffScores(docs: DataFrame, refPred: Column,
      textCol: String = "text"): DataFrame = {
    import graft.functions.Text
    // cached: the tokenized frame feeds FOUR aggregation subtrees (the
    // doc trigram stream + the reference c3/c2/c1 count tables) — one
    // split per row into columnar memory instead of four parquet scans
    // re-splitting the corpus (lifecycle is the caller's, per the
    // shared-subtree convention; Verify clears per query)
    val words = docs.select(col("doc_id"), refPred.as("is_ref"),
      Text.words(col(textCol)).as("w"))
      .cache()
    // cached too: the per-doc trigram table is read TWICE — its
    // distinct-g3 projection seeds the global score table, then the
    // full stream joins the scores back — and without the pin the
    // corpus-scale explode + (doc_id, g3) shuffle runs once per
    // consumer. (Wall-clock-neutral at the test SFs, where the
    // operator measures exactly data-linear — t(n) = 1.7 s + 0.71 s·n
    // over 1×/3×/10× corpora, ≤1.1% fit error — but at real scale the
    // second materialization of a corpus-sized shuffle is the cost
    // that matters.)
    val docTg = words.filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(Text.shinglesOfWords(col("w"), 3)).as("g3"))
      .groupBy("doc_id", "g3").agg(count(lit(1)).as("n"))
      .cache()
    val ref = words.filter(col("is_ref"))
    val c3 = ref.filter(size(col("w")) >= 3)
      .select(explode(Text.shinglesOfWords(col("w"), 3)).as("g3"))
      .groupBy("g3").agg(count(lit(1)).as("c3"))
    val c2 = ref.filter(size(col("w")) >= 2)
      .select(explode(Text.shinglesOfWords(col("w"), 2)).as("g2"))
      .groupBy("g2").agg(count(lit(1)).as("c2"))
    val c1 = ref.select(explode(col("w")).as("w1c"))
      .groupBy("w1c").agg(count(lit(1)).as("c1"))
    val scal = c1.agg(sum(col("c1")).as("ref_n"), count(lit(1)).as("ref_v"))
    // Tier score tables, assembled on the REFERENCE side: a ref trigram's
    // context bigram and a ref bigram's head unigram exist by construction
    // (shingles of the same word arrays), so the c3⋈c2 / c2⋈c1 inner
    // joins lose nothing and each tier's log-score collapses to ONE
    // column keyed by the gram the doc stream already carries. The doc
    // trigram stream — the only corpus-scale frame here — then shuffles
    // on 3 keys (g3, bg23, w3) instead of 5; the extra joins moved onto
    // the distinct-gram count tables, orders of magnitude smaller.
    val triScore = c3
      .withColumn("ctx", concat_ws(" ",
        split(col("g3"), " ").getItem(0), split(col("g3"), " ").getItem(1)))
      .join(c2.select(col("g2").as("ctx"), col("c2").as("c2ctx")), "ctx")
      .select(col("g3"), log(col("c3").cast("double") / col("c2ctx")).as("lp0"))
    val biScore = c2
      .withColumn("w1b", split(col("g2"), " ").getItem(0))
      .join(c1.select(col("w1c").as("w1b"), col("c1").as("c1w2")), "w1b")
      .select(col("g2").as("bg23"),
        log(lit(SbAlpha) * col("c2").cast("double") / col("c1w2")).as("lp1"))
    // Each DISTINCT trigram is scored ONCE, globally, then joined back
    // to the per-doc stream on its single key. Scoring per (doc,
    // trigram) row shuffled the corpus-scale doc stream THREE times
    // (g3/bg23/w3) and redundantly re-scored every shared trigram per
    // document; the global distinct-trigram table is the frame that
    // grows sublinearly with the corpus (shared text repeats grams), so
    // the tier joins stay gram-table-sized at any scale and the doc
    // stream shuffles once. Values are identical per g3 — oracle hashes
    // unchanged.
    val p = split(col("g3"), " ")
    val g3Score = docTg.select("g3").distinct()
      .withColumn("bg23", concat_ws(" ", p.getItem(1), p.getItem(2)))
      .withColumn("w3", p.getItem(2))
      .join(triScore, Seq("g3"), "left")
      .join(biScore, Seq("bg23"), "left")
      .join(c1.select(col("w1c").as("w3"), col("c1").as("c1w3")), Seq("w3"), "left")
      .crossJoin(broadcast(scal))
      .withColumn("tier",
        when(col("lp0").isNotNull, 0).when(col("lp1").isNotNull, 1).otherwise(2))
      .withColumn("lp",
        coalesce(col("lp0"), col("lp1"),
          log(lit(SbAlpha * SbAlpha) *
            (coalesce(col("c1w3"), lit(0L)).cast("double") + 0.5) /
            (col("ref_n").cast("double") + lit(0.5) * col("ref_v")))))
      .select("g3", "tier", "lp")
    // inner join loses nothing: g3Score's keys ARE docTg's distinct g3
    val scored = docTg.join(g3Score, "g3")
    scored.groupBy("doc_id")
      .agg(
        sum(col("n")).as("n_trigrams"),
        sum(when(col("tier") === 0, col("n")).otherwise(0L)).as("n_tri_hits"),
        sum(when(col("tier") === 1, col("n")).otherwise(0L)).as("n_bi_backoff"),
        sum(when(col("tier") === 2, col("n")).otherwise(0L)).as("n_uni_backoff"),
        (sum(col("lp").cast("decimal(38,6)") * col("n")).cast("double") / sum(col("n")))
          .as("avg_logscore"))
  }

  val KnDiscount = 0.75 // the standard absolute-discount operating point

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999 §2.7) — the smoother behind KenLM and therefore the
    * CCNet-style perplexity quality filter the web-corpus pipelines
    * actually run (beside q86's raw MLE bigram LM and q159's Stupid
    * Backoff, which bracket it from below and above in sophistication).
    * The model trains on the REFERENCE subset (`refPred`) and scores
    * every document:
    *
    *   P(w2|w1) = max(c(w1w2) − D, 0)/c(w1)
    *            + D·N1+(w1,·)/c(w1) · Pcont(w2)
    *
    * where the continuation probability Pcont(w2) ∝ the number of
    * DISTINCT contexts w2 follows — the property that makes KN rank
    * "Francisco" (frequent but only after "San") below a genuinely
    * productive word. An unseen context backs off to Pcont alone, and
    * Pcont is add-0.5-smoothed over (distinct-bigram total, observed
    * continuation vocabulary + 1 OOV slot) — the [[stupidBackoffScores]]
    * / dsir floor convention, keeping every ln finite with no tuning.
    * When the context IS seen, N1+(w1,·) ≥ 1 makes the interpolation
    * term strictly positive, so no extra floor is needed there.
    *
    * Scale design mirrors [[stupidBackoffScores]]: the corpus stream
    * collapses to per-doc distinct bigrams before any join; each
    * DISTINCT bigram is scored once globally against the three
    * reference count tables (bigram, context, continuation — all
    * gram-keyed, all sublinear in the corpus) with the two scalars a
    * 1-row broadcast; the per-doc mean is the decimal-backed
    * occurrence-weighted fold (bit-identical to summing n copies).
    * Reported per doc: bigram mass, reference-bigram hits, seen-context
    * hits, and the KN mean log-probability.
    */
  def knBigramScores(docs: DataFrame, refPred: Column,
      textCol: String = "text"): DataFrame = {
    import graft.functions.Text
    // cached: the tokenized frame feeds the doc bigram stream AND the
    // reference count tables (the q159 convention)
    val words = docs.select(col("doc_id"), refPred.as("is_ref"),
      Text.words(col(textCol)).as("w"))
      .cache()
    knScoreBigrams(docBigrams(words), knTrain(words.filter(col("is_ref"))))
  }

  /** The frozen KN MODEL: the three gram-keyed reference count tables
    * plus the 1-row scalars — everything scoring ever needs, so a
    * model trained offline can gate a live stream
    * ([[graft.streaming.StreamCuration.knGate]]) or be parquet-persisted
    * like any other index artifact. c(w1) and both N1+ fan-outs ROLL UP
    * FROM the bigram counts (each cb row is one distinct bigram, so
    * COUNT(*) per w1 is N1+(w1,·) and per w2 is N1+(·,w2)) — no second
    * pass over the reference stream.
    */
  final case class KnModel(cb: DataFrame, ctx: DataFrame,
      cont: DataFrame, scal: DataFrame)

  private def bgPart = split(col("bg"), " ")

  /** Train the KN count tables from a tokenized reference frame
    * (`w`: array of words).
    */
  def knTrain(refWords: DataFrame): KnModel = {
    import graft.functions.Text
    val p = bgPart
    val cb = refWords.filter(size(col("w")) >= 2)
      .select(explode(Text.shinglesOfWords(col("w"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_bg"))
      .cache()
    val ctx = cb.groupBy(p.getItem(0).as("w1"))
      .agg(sum(col("c_bg")).as("c_w1"), count(lit(1)).as("n1fw"))
    val cont = cb.groupBy(p.getItem(1).as("w2"))
      .agg(count(lit(1)).as("n_cont"))
    val scal = cb.agg(count(lit(1)).as("b_tot"),
      countDistinct(p.getItem(1)).as("v_cont"))
    KnModel(cb, ctx, cont, scal)
  }

  /** Per-doc distinct-bigram counts from a tokenized frame — the
    * scoring stream's input. `pin` caches it (it feeds the score
    * table's key set AND the join-back; the batch default) — pass
    * false from per-micro-batch callers, where a pin would accumulate
    * across batches.
    */
  def docBigrams(words: DataFrame, pin: Boolean = true): DataFrame = {
    import graft.functions.Text
    val bg = words.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(Text.shinglesOfWords(col("w"), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
    if (pin) bg.cache() else bg
  }

  /** Score a per-doc bigram stream against a frozen [[KnModel]]. */
  def knScoreBigrams(docBg: DataFrame, model: KnModel): DataFrame =
    knScoreBigramsBy(docBg, model, Seq("doc_id"))

  /** [[knScoreBigrams]] generalized to an arbitrary grouping key set —
    * the chunk-level caller ([[knWindowLocalize]]) scores
    * (doc_id, chunk_idx) streams with the identical score table.
    */
  def knScoreBigramsBy(docBg: DataFrame, model: KnModel,
      keys: Seq[String]): DataFrame = {
    val p = bgPart
    // One row per DISTINCT corpus bigram: the score table. Pcont's
    // denominator and both interpolation terms are spelled with the
    // exact association the oracle renders, so the doubles are
    // bit-identical cross-engine.
    val bgScore = docBg.select("bg").distinct()
      .withColumn("w1", p.getItem(0))
      .withColumn("w2", p.getItem(1))
      .join(model.cb, Seq("bg"), "left")
      .join(model.ctx, Seq("w1"), "left")
      .join(model.cont, Seq("w2"), "left")
      .crossJoin(broadcast(model.scal))
      .withColumn("pc",
        (coalesce(col("n_cont"), lit(0L)).cast("double") + 0.5) /
          (col("b_tot").cast("double") + lit(0.5) * (col("v_cont") + 1).cast("double")))
      .withColumn("p",
        when(col("c_w1").isNotNull,
          greatest(coalesce(col("c_bg"), lit(0L)).cast("double") - KnDiscount, lit(0.0))
            / col("c_w1")
            + lit(KnDiscount) * col("n1fw").cast("double") / col("c_w1") * col("pc"))
          .otherwise(col("pc")))
      .select(col("bg"), col("c_bg"), col("c_w1"), log(col("p")).as("lp"))
    docBg.join(bgScore, "bg")
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col("n")).as("n_bigrams"),
        sum(when(col("c_bg").isNotNull, col("n")).otherwise(0L)).as("n_hits"),
        sum(when(col("c_w1").isNotNull, col("n")).otherwise(0L)).as("n_ctx_hits"),
        (sum(col("lp").cast("decimal(38,6)") * col("n")).cast("double") / sum(col("n")))
          .as("kn_avg_logprob"))
  }

  /** Windowed KN-perplexity LOCALIZATION — which PART of a document is
    * the low-quality part: sliding word windows (the q88 chunk grid)
    * are each scored against the frozen [[KnModel]], and the per-doc
    * report carries the worst window's index and score beside the best
    * (the doc-level q279 score says "drop or keep"; this says "trim
    * HERE"). Round-then-rank with the chunk_idx tie-break, so the
    * worst-window call is engine-deterministic.
    *
    * Scale: the chunk explode is bounded (stride-overlap duplication
    * ≈ chunkTokens/stride), scoring is the same gram-keyed join as the
    * doc-level pass, and the localization windows are keyed per doc.
    */
  def knWindowLocalize(docs: DataFrame, refPred: Column, chunkTokens: Int = 32,
      stride: Int = 24, textCol: String = "text"): DataFrame = {
    import graft.functions.Text
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col("doc_id"), refPred.as("is_ref"),
      Text.words(col(textCol)).as("w"))
      .cache()
    val model = knTrain(words.filter(col("is_ref")))
    val ch = words
      .select(col("doc_id"), col("w"), size(col("w")).as("n"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), col("n"), lit(stride))).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / stride).cast("int").as("chunk_idx"),
        slice(col("w"), col("start"), lit(chunkTokens)).as("cw"))
      .filter(size(col("cw")) >= 2)
    // cached for the same reason [[docBigrams]] pins the doc-level
    // stream: the scorer reads it twice (distinct-bg score table +
    // join-back), and uncached the chunk explode + aggregation runs
    // twice (round-16)
    val bg = ch
      .select(col("doc_id"), col("chunk_idx"),
        explode(Text.shinglesOfWords(col("cw"), 2)).as("bg"))
      .groupBy("doc_id", "chunk_idx", "bg").agg(count(lit(1)).as("n"))
      .cache()
    val wd = Window.partitionBy("doc_id")
    knScoreBigramsBy(bg, model, Seq("doc_id", "chunk_idx"))
      .withColumn("sc6", round(col("kn_avg_logprob"), 6))
      .withColumn("rn", row_number().over(wd.orderBy(col("sc6"), col("chunk_idx"))))
      .withColumn("n_chunks", count(lit(1)).over(wd))
      .withColumn("worst_score", min(col("sc6")).over(wd))
      .withColumn("best_score", max(col("sc6")).over(wd))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_chunks"),
        col("chunk_idx").cast("int").as("worst_chunk"),
        col("worst_score"), col("best_score"),
        round(col("best_score") - col("worst_score"), 6).as("score_range"))
  }

  /** Class-based TF-IDF topic labeling (the BERTopic c-TF-IDF,
    * Grootendorst 2022): given a document→cluster assignment (here the
    * trained coarse quantizer's, doc_id = vec_id — corpus cartography
    * over the embedding space), the top-k terms per cluster by
    * tf(t,c) · ln(1 + A/tf(t)) where A is the mean token mass per
    * cluster and tf(t) the corpus-wide term count — the class-level
    * IDF that surfaces what a cluster says MORE than the corpus does.
    *
    * Scale shape: one corpus explode joined to the assignment on
    * doc_id, then gram-keyed shrinking aggregates — (cluster, term)
    * counts, corpus term counts rolled up FROM them, scalars a 1-row
    * broadcast; the rank window is keyed per cluster over the cluster
    * vocabulary. Ties break by term; scores round before ranking in
    * both engines.
    */
  def clusterTopics(docs: DataFrame, asg: DataFrame, k: Int = 3,
      textCol: String = "text"): DataFrame = {
    import graft.functions.Text
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), explode(Text.words(col(textCol))).as("term"))
    // cached: the (cluster, term) counts feed the corpus rollup, the
    // scalar pass, and the scoring join
    val tfc = toks.join(asg.select("doc_id", "cent_id"), "doc_id")
      .groupBy("cent_id", "term").agg(count(lit(1)).as("tf"))
      .cache()
    val tft = tfc.groupBy("term").agg(sum(col("tf")).as("tf_corpus"))
    val scal = tfc.agg(sum(col("tf")).as("tot"), countDistinct(col("cent_id")).as("nc"))
    val scored = tfc.join(tft, "term").crossJoin(broadcast(scal))
      .withColumn("ctfidf", round(
        col("tf") * log(lit(1.0) +
          (col("tot").cast("double") / col("nc")) / col("tf_corpus")), 6))
    scored
      .withColumn("rank", row_number()
        .over(Window.partitionBy("cent_id").orderBy(col("ctfidf").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col("cent_id"), col("rank"), col("term"), col("tf"), col("ctfidf"))
      .orderBy("cent_id", "rank")
  }

  /** Character-level Shannon entropy per document — the degenerate-text
    * detector that catches what word-level stats miss (base64 blobs,
    * key-mash, single-char floods). p·ln(p) terms ride through a
    * decimal-backed sum (order-independent, engine-identical); one
    * explode + keyed count, same shuffle shape as word count.
    */
  def charEntropy(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      // empty docs carry no distribution: drop them (mirrors the
      // oracle's empty range(1,1)) — also keeps sequence(1, 0) from
      // generating its descending [1,0] and c/len from dividing by zero
      .filter(length(col(textCol)) > 0)
      // split on the empty pattern is the O(len) per-character explode
      // (unicode-aware); the earlier transform(sequence, substring(i,1))
      // form re-seeked the string per position — O(len²) per doc, a real
      // cost once docs reach book length
      .select(col("doc_id"), length(col(textCol)).as("len"),
        explode(split(col(textCol), "")).as("ch"))
      .groupBy("doc_id", "len", "ch").agg(count(lit(1)).as("c"))
      .withColumn("term", (col("c") / col("len")) * log(col("c") / col("len")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_distinct_chars"),
        (-sum(col("term").cast("decimal(38,6)"))).cast("double").as("entropy"))

  /** Duplicate n-gram character fraction — the rep-n repetition filter
    * family from large-corpus curation (for each n, the share of a
    * document's characters lying inside word n-grams that occur MORE
    * THAN ONCE in the document). Complements [[repetitionStats]]: the
    * top-fraction stats catch one dominant token; rep-n catches looping
    * PASSAGES whose individual words all look normal (boilerplate spam,
    * template loops, decode-failure stutter).
    *
    * Exact semantics (mirrored in the oracle): a word POSITION is
    * covered when any occurrence of any duplicated n-gram spans it;
    * dup_chars = Σ length(word) over covered positions; rep_frac =
    * dup_chars / Σ length(word) (null for empty docs). Overlapping
    * occurrences count each position once (the DISTINCT), so the
    * fraction is a true coverage in [0, 1].
    *
    * Scale: per-n, one (doc, gram) count, one keyed join back, one
    * positional explode bounded by n·occurrences, one (doc, wi) dedup —
    * all keyed by doc_id, no pair space, linear in corpus size.
    */
  def repNGramChars(docs: DataFrame, textCol: String = "text",
      ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    import graft.functions.Text
    // deliberately UNCACHED: pinning either the words frame (corpus-wide
    // string arrays) or the exploded position frame measured SLOWER at
    // sf0.1 than recomputing the codegen'd scan+split per subtree — the
    // same finding as the embedding frame in
    // Similarity.bucketedNearDupPairs
    val w = docs.select(col("doc_id"), Text.words(col(textCol)).as("w"))
    val tot = w.select(col("doc_id"),
      aggregate(transform(col("w"), x => length(x).cast("long")), lit(0L), (a, x) => a + x)
        .as("total_chars"))
    val wl = w.select(col("doc_id"), posexplode(col("w")).as(Seq("wi0", "word")))
      .select(col("doc_id"), (col("wi0") + 1).as("wi"), length(col("word")).cast("long").as("wlen"))
    val perN = ns.map { n =>
      val g = w
        .select(col("doc_id"), posexplode(Text.shinglesOfWords(col("w"), n)).as(Seq("pos0", "gram")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("gram"))
      val dup = g.groupBy("doc_id", "gram").agg(count(lit(1)).as("c")).filter(col("c") > 1)
      val cov = g.join(dup.select("doc_id", "gram"), Seq("doc_id", "gram"))
        .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("wi"))
        .distinct()
      cov.join(wl, Seq("doc_id", "wi"))
        .groupBy("doc_id").agg(sum("wlen").as("dup_chars"))
        .withColumn("n", lit(n))
    }
    val dupAll = perN.reduce(_ unionByName _)
    tot.select(col("doc_id"), col("total_chars"),
        explode(array(ns.map(lit(_)): _*)).as("n"))
      .join(dupAll, Seq("doc_id", "n"), "left")
      .select(
        col("doc_id"), col("n"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        col("total_chars"),
        when(col("total_chars") > 0,
          round(coalesce(col("dup_chars"), lit(0L)).cast("double") / col("total_chars"), 6))
          .as("rep_frac"))
  }

  /** The composed per-document quality gate: every signal family
    * (token stats, repetition, corpus-LM fluency, character entropy)
    * joined into one decision row — the operator an ingestion pipeline
    * actually calls. Each input is itself oracle-verified; the gate
    * adds only keyed joins and exact threshold comparisons, so the
    * composition stays hash-checkable end-to-end.
    */
  def qualityGate(docs: DataFrame, minLogprob: Double = -3.43,
      minEntropy: Double = 2.77): DataFrame =
    // LM/entropy signals join LEFT: a doc too degenerate to produce
    // them at all (single word, empty text) must still get a verdict —
    // a missing signal FAILS the gate, it doesn't exempt the doc.
    // At scale, pass a cached/checkpointed docs frame: the gate
    // deliberately composes four independently-verified signal subtrees
    // rather than one fused pass.
    withTextStats(docs).select("doc_id", "n_tokens", "quality_score")
      .join(repetitionStats(docs)
        .select("doc_id", "distinct_ratio", "top_word_frac", "pass_repetition"), "doc_id")
      .join(bigramLmScore(docs).select("doc_id", "avg_logprob"), Seq("doc_id"), "left")
      .join(charEntropy(docs).select("doc_id", "entropy"), Seq("doc_id"), "left")
      .withColumn("pass_quality",
        col("pass_repetition") &&
          coalesce(col("avg_logprob") >= minLogprob, lit(false)) &&
          coalesce(col("entropy") >= minEntropy, lit(false)))

  /** K-anonymity audit over quasi-identifiers (Sweeney 2002, IJUFKS —
    * public): a released corpus row is re-identifiable when its
    * QUASI-IDENTIFIER combination — attributes harmless alone,
    * discriminating together — is shared by fewer than k rows. QI here
    * = (lang, source, 50-char length band); per source the audit
    * reports how many equivalence classes fall below k and how many
    * documents sit in them — the release-risk read a privacy pass runs
    * BEFORE shipping a corpus, complementing the content-level PII
    * scrub (q175) with a structure-level guarantee check.
    *
    * Scale: two keyed aggregations (QI class sizes → per-source
    * rollup), both map-side-combined; the length band is integer
    * `div` (trunc — DuckDB `//` identical), so everything is exact
    * integers plus one rounded percentage.
    */
  def kAnonymity(docs: DataFrame, k: Int = 5): DataFrame = {
    val cls = docs
      .select(col("source"), col("lang"), expr("n_chars div 50").as("len_band"))
      .groupBy("source", "lang", "len_band")
      .agg(count(lit(1)).as("csz"))
    cls.groupBy("source").agg(
        sum(col("csz")).as("n_docs"),
        count(lit(1)).as("n_classes"),
        sum(when(col("csz") < k, 1L).otherwise(0L)).as("n_small_classes"),
        sum(when(col("csz") < k, col("csz")).otherwise(0L)).as("n_docs_at_risk"),
        min(col("csz")).as("min_class_size"))
      .withColumn("risk_pct",
        round(col("n_docs_at_risk").cast("double") * 100.0 / col("n_docs").cast("double"), 6))
      .orderBy("source")
  }

  /** Severity-weighted dictionary blocklist — the bad-term/PII-term/
    * toxicity filter every curation pipeline runs, expressed as
    * BROADCAST DICTIONARY JOINS rather than per-row regex alternation:
    * at 100 TB a 10⁵-entry dictionary is still a few MB broadcast once
    * per executor, and the match work rides the same explode + keyed
    * join shape as word count (codegen'd, no regex engine in the hot
    * path). Word entries match exploded tokens; phrase entries match
    * 2-gram shingles; hits are additive across both tiers (a phrase
    * hit does not consume its words — the conservative convention).
    * Verdict: severity mass per 100 words, rounded BEFORE the
    * threshold compare so both engines gate identical values.
    */
  val BlockTerms: Seq[(String, Int)] = Seq("slow" -> 1, "big" -> 1, "leak" -> 3)
  val BlockPhrases: Seq[(String, Int)] =
    Seq("slow scan" -> 2, "big table" -> 2, "slow query" -> 2)
  val BlockMaxPer100 = 8.0

  def blocklistFilter(docs: DataFrame,
      terms: Seq[(String, Int)] = BlockTerms,
      phrases: Seq[(String, Int)] = BlockPhrases,
      maxPer100: Double = BlockMaxPer100,
      textCol: String = "text"): DataFrame = {
    import graft.functions.Text
    val spark = docs.sparkSession
    import spark.implicits._
    val tdict = terms.toDF("term", "sev")
    val pdict = phrases.toDF("term", "sev")
    val base = docs.select(col("doc_id"), size(Text.words(col(textCol))).as("n_words"))
    val wHits = docs.select(col("doc_id"), explode(Text.words(col(textCol))).as("term"))
      .join(broadcast(tdict), "term")
    val pHits = docs.select(col("doc_id"), explode(Text.shingles(col(textCol), 2)).as("term"))
      .join(broadcast(pdict), "term")
    val hits = wHits.unionByName(pHits)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_hits"),
        count_distinct(col("term")).as("n_distinct_terms"),
        sum(col("sev").cast("long")).as("sev_sum"))
    base.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_distinct_terms"), lit(0L)).as("n_distinct_terms"),
        coalesce(col("sev_sum"), lit(0L)).as("sev_sum"))
      .withColumn("block_score", round(col("sev_sum") * lit(100.0) / col("n_words"), 6))
      .withColumn("pass_blocklist", col("block_score") <= maxPer100)
  }

  /** PMI collocation mining: corpus-level top-k word pairs by pointwise
    * mutual information ln(P(w1,w2)/(P(w1)P(w2))) with a minimum-count
    * support filter — the classic phrase/stopword-structure extractor.
    * PMI is computed as a SUM of ln's (ln c_bg + 2 ln n_w − ln n_bg −
    * ln c_w1 − ln c_w2) rather than ln of a product: each count is an
    * exact double (< 2^53) so every term — and the fixed left-to-right
    * IEEE sum — is bit-identical cross-engine at ANY corpus size,
    * whereas the product form overflows 2^53 once the corpus passes
    * ~1e8 words. PMI is rounded at 6 dp BEFORE the top-k ordering.
    * Global top-k plans as TakeOrderedAndProject (per-partition heaps),
    * never a global sort.
    */
  def pmiCollocations(docs: DataFrame, textCol: String = "text",
      minCount: Long = 5L, k: Int = 50): DataFrame = {
    import graft.functions.Text
    val bgCounts = docs
      .select(explode(Text.shingles(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val wCounts = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    val totals = bgCounts.agg(sum(col("c_bg")).as("n_bg"))
      .crossJoin(wCounts.agg(sum(col("c_w")).as("n_w")))
    bgCounts
      .filter(col("c_bg") >= minCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(wCounts.select(col("w").as("w1"), col("c_w").as("c_w1")), "w1")
      .join(wCounts.select(col("w").as("w2"), col("c_w").as("c_w2")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(
        log(col("c_bg").cast("double")) + lit(2.0) * log(col("n_w").cast("double"))
          - log(col("n_bg").cast("double")) - log(col("c_w1").cast("double"))
          - log(col("c_w2").cast("double")), 6))
      .select("w1", "w2", "c_bg", "pmi")
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(k)
  }

  /** Zipf-law fit over the corpus word-frequency distribution: the
    * least-squares slope of ln(freq) on ln(rank) over the top `topR`
    * words (natural corpora sit near −1; a corpus of boilerplate or
    * generated spam drifts off) — a one-row corpus health check.
    *
    * Scale: word counts are one keyed aggregation; the top-R is a
    * TakeOrderedAndProject (per-partition heaps of R); the regression
    * runs over a CONSTANT R rows, so the trailing single-partition
    * window costs nothing at any corpus size. Sums of ln-products ride
    * through decimals (order-independent); slope/corr finish in double
    * with the identical expression shape in the oracle, rounded 6 dp.
    */
  def zipfFit(docs: DataFrame, textCol: String = "text", topR: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Num
    val top = docs
      .select(explode(graft.functions.Text.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("w")).limit(topR)
    val xy = top
      .withColumn("rank", row_number().over(Window.orderBy(desc("c"), col("w"))))
      .select(log(col("rank").cast("double")).as("x"), log(col("c").cast("double")).as("y"))
    val g = xy.agg(
      count(lit(1)).cast("double").as("n"),
      Num.dsum(col("x")).as("sx"), Num.dsum(col("y")).as("sy"),
      Num.dsum(col("x") * col("x")).as("sxx"),
      Num.dsum(col("x") * col("y")).as("sxy"),
      Num.dsum(col("y") * col("y")).as("syy"))
    val (n, sx, sy, sxx, sxy, syy) =
      (col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"), col("syy"))
    g.select(
      col("n").cast("long").as("n_words"),
      round(Num.fitSlope(n, sx, sy, sxx, sxy), 6).as("zipf_slope"),
      round(Num.fitCorr(n, sx, sy, sxx, sxy, syy), 6).as("corr"))
  }

  /** Default keyword query for [[bm25TopK]] — mid-frequency corpus terms
    * so tf, df, and length normalization all exercise non-trivially.
    */
  val Bm25QueryTerms: Seq[String] = Seq("spark", "window", "merge", "vector")

  /** BM25 ranked retrieval: top-k documents for a fixed keyword query
    * (Robertson–Spärck Jones idf, Lucene's +1 smoothing so idf stays
    * positive; k1/b are the standard 1.2/0.75). Complements
    * [[tfidfTopTerms]] (per-doc term profile) with the QUERY-side
    * scoring a retrieval pipeline actually runs.
    *
    * Scale design: per-document tf for the query terms comes from
    * narrow array expressions (size(filter(words))) — NO corpus
    * explode, no shuffle; the corpus statistics (N, Σdl, per-term df)
    * are ONE single-row aggregate broadcast back; top-k goes through
    * orderBy+limit (TakeOrderedAndProject). The whole plan is one
    * corpus scan + a 1-row broadcast — the shape you'd want at 100 TB.
    *
    * Determinism: the per-term contributions are summed as a FIXED
    * left-associated expression tree (identical in the oracle), never a
    * float aggregate, and the score is rounded to 6 dp before ranking
    * in both engines.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String] = Bm25QueryTerms,
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20,
      textCol: String = "text"): DataFrame = {
    import graft.functions.Text
    val w = Text.words(col(textCol))
    val base = docs.select(
      col("doc_id") +: size(w).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(w, x => x === lit(t))).as(s"tf_$i")
        }: _*)
    bm25Rank(base, terms, k1, b, topK)
  }

  /** BM25 over the PERSISTED positional-posting artifact instead of the
    * corpus: per-doc length and every per-term tf come from ONE keyed
    * aggregation of the postings table (dl = postings per doc, tf_i =
    * postings with word = termᵢ — `split` yields one posting per token
    * including empty ones, so dl ≡ the corpus formulation's token
    * count and the corpus statistics agree exactly). The corpus is
    * never re-tokenized: at 100 TB the retrieval stack reads the index
    * artifact, not the documents. Scoring, corpus stats, and top-k are
    * the same expression tail as [[bm25TopK]] ([[bm25Rank]]), so the
    * two formulations are bit-identical and share one oracle — the
    * hash gate proves index-reader ≡ re-deriver for ranked retrieval.
    */
  def bm25FromPostings(postings: DataFrame, terms: Seq[String] = Bm25QueryTerms,
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    val aggs = count(lit(1)).as("dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("word") === lit(t), 1L).otherwise(0L)).as(s"tf_$i")
      }
    bm25Rank(postings.groupBy("doc_id").agg(aggs.head, aggs.tail: _*),
      terms, k1, b, topK)
  }

  /** Passage-level retrieval with document MaxP aggregation (Dai &
    * Callan 2019, SIGIR — "Deeper Text Understanding for IR with
    * Contextual Neural Language Modeling": score each PASSAGE, rank
    * documents by their best passage) — the RAG-era retrieval shape:
    * long documents are indexed as overlapping token-window chunks
    * (the q88 chunking grid: `chunkTokens` window, `stride` step), BM25
    * scores each chunk against chunk-corpus statistics, and a document
    * ranks by its maximum chunk score with the winning chunk reported —
    * retrieval that cannot be diluted by document length, and the
    * chunk id to hand a RAG reader.
    *
    * Scale: chunking is a bounded explode (one row per chunk token,
    * the q88 shape), scoring is one (doc, chunk)-keyed aggregation +
    * a 1-row stats broadcast, MaxP is a struct-max partial aggregate,
    * top-k is orderBy+limit (TakeOrderedAndProject). Deterministic:
    * rounded chunk scores, best chunk ties to the smallest index, doc
    * ranking ties to doc_id.
    */
  def passageMaxP(docs: DataFrame, terms: Seq[String] = Bm25QueryTerms,
      chunkTokens: Int = 64, stride: Int = 48,
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = split(col(textCol), " ")
    val ch = docs.select(col("doc_id"), w.as("w"), size(w).as("n_tokens"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), col("n_tokens"), lit(stride))).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / lit(stride)).cast("int").as("chunk_idx"),
        explode(slice(col("w"), col("start"), lit(chunkTokens))).as("word"))
    val aggs = count(lit(1)).as("dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("word") === lit(t), 1L).otherwise(0L)).as(s"tf_$i")
      }
    val base = ch.groupBy("doc_id", "chunk_idx").agg(aggs.head, aggs.tail: _*)
    val statAggs =
      count(lit(1)).as("n_docs") +: sum(col("dl").cast("long")).as("sum_dl") +:
        terms.indices.map(i =>
          sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val contribs = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      when(col(s"tf_$i") > 0,
        idf * tf * lit(k1 + 1) /
          (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
        .otherwise(lit(0.0))
    }
    val scored = base.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("chunk_idx"),
        round(contribs.reduce(_ + _), 6).as("cscore"))
      .filter(col("cscore") > 0)
    scored.groupBy("doc_id")
      .agg(max(struct(col("cscore"), (-col("chunk_idx")).as("nci"))).as("best"),
        count(lit(1)).as("n_hit_chunks"))
      .select(col("doc_id"), (-col("best.nci")).as("best_chunk"),
        col("n_hit_chunks"), col("best.cscore").as("score"))
      .orderBy(desc("score"), col("doc_id")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("score"), col("doc_id"))))
      .orderBy("rank")
  }

  /** Weighted Information Gain QPP (Zhou & Croft 2007, SIGIR — "Query
    * performance prediction in web search environments"): the
    * POST-retrieval difficulty predictor beside q288's pre-retrieval
    * clarity — how far the top-k BM25 scores stand above the scoring
    * corpus's mean, normalized by √|q|. High WIG = the index separates
    * the query's answers from the noise floor; near-zero = the ranking
    * is indistinguishable from background and downstream consumers
    * (RM3 expansion, hybrid fusion weights) should not trust it.
    * Served from the postings artifact: one keyed tf/dl aggregation,
    * one 1-row stats broadcast, decimal-backed score sums; √|q| is a
    * Scala-computed literal shipped identically to both engines (the
    * DcgW convention).
    */
  def wigScore(postings: DataFrame, terms: Seq[String] = Bm25QueryTerms,
      k1: Double = 1.2, b: Double = 0.75, k: Int = 10): DataFrame = {
    import graft.functions.Num
    val aggs = count(lit(1)).as("dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("word") === lit(t), 1L).otherwise(0L)).as(s"tf_$i")
      }
    val base = postings.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val statAggs =
      count(lit(1)).as("n_docs") +: sum(col("dl").cast("long")).as("sum_dl") +:
        terms.indices.map(i =>
          sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val contribs = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      when(col(s"tf_$i") > 0,
        idf * tf * lit(k1 + 1) /
          (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
        .otherwise(lit(0.0))
    }
    val scored = base.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(contribs.reduce(_ + _), 6).as("score"))
      .filter(col("score") > 0)
    val sqrtQ = math.sqrt(terms.size.toDouble)
    val allAgg = scored.agg(count(lit(1)).as("n_scoring"), Num.dsum(col("score")).as("ssum"))
    val topAgg = scored.orderBy(desc("score"), col("doc_id")).limit(k)
      .agg(count(lit(1)).as("n_top"), Num.dsum(col("score")).as("tsum"))
    allAgg.crossJoin(broadcast(topAgg))
      .select(col("n_scoring"), col("n_top"),
        round(col("tsum") / col("n_top"), 6).as("mean_topk"),
        round(col("ssum") / col("n_scoring"), 6).as("corpus_mean"),
        round((col("tsum") / col("n_top") - col("ssum") / col("n_scoring"))
          / lit(sqrtQ), 6).as("wig"))
  }

  /** Term BURSTINESS census (Church & Gale 1995, "Poisson mixtures" —
    * the variance-to-mean ratio of a term's tf across the documents
    * that contain it): a Poisson (topic-neutral) term has VMR ≈ 1;
    * keyword-stuffed / template terms repeat in bursts (VMR ≫ 1) —
    * the lexical spam signal that catches what document-level entropy
    * (q98) and repetition (q82/q140) miss when the stuffing spreads
    * across documents. Exact integer moment sums per word (tf and tf²
    * both fit BIGINT at any corpus size that fits a document), one
    * vocab-keyed aggregation; df floor keeps the output at the head of
    * the vocabulary, top-N by (VMR, word) via TakeOrderedAndProject.
    */
  def termBurstiness(postings: DataFrame, minDf: Long = 5,
      topN: Int = 50): DataFrame = {
    val tf = postings.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    tf.groupBy("word").agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        sum(col("tf") * col("tf")).as("s2"))
      .filter(col("df") >= minDf)
      .withColumn("mean_tf", col("cf").cast("double") / col("df").cast("double"))
      .withColumn("vmr",
        (col("s2").cast("double") / col("df").cast("double")
          - col("mean_tf") * col("mean_tf")) / col("mean_tf"))
      .select(col("word"), col("df"), col("cf"),
        round(col("mean_tf"), 6).as("mean_tf"), round(col("vmr"), 6).as("vmr"))
      .orderBy(desc("vmr"), col("word")).limit(topN)
  }

  /** Query-likelihood ranking with Dirichlet smoothing (Zhai &
    * Lafferty 2001, SIGIR — the language-modeling alternative to BM25;
    * μ is the standard pseudo-length prior): per doc,
    * score = Σ_t log((tf_t + μ·cf_t/|C|) / (dl + μ)), where cf_t/|C|
    * is the collection model. Served from the SAME postings
    * aggregation as [[bm25FromPostings]] — one keyed pass for tf/dl,
    * collection stats as one 1-row broadcast, a fixed left-associated
    * contribution tree rounded to 6 dp before ranking, top-k via
    * orderBy+limit. Docs matching no query term are excluded (their
    * score is the background constant, meaningless for ranking).
    */
  def dirichletQL(postings: DataFrame, terms: Seq[String] = Bm25QueryTerms,
      mu: Double = 300.0, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val aggs = count(lit(1)).as("dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("word") === lit(t), 1L).otherwise(0L)).as(s"tf_$i")
      }
    val base = postings.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val statAggs = sum(col("dl")).as("ctot") +:
      terms.indices.map(i => sum(col(s"tf_$i")).as(s"cf_$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val contribs = terms.indices.map { i =>
      // cf = 0 guard: a query term absent from the whole collection
      // makes the contribution log(0) for docs lacking it — Spark's
      // log would return NULL (silently nulling the score) while the
      // DuckDB oracle's ln(0) raises, so the engines would diverge.
      // Fail loudly and consistently instead; for cf > 0 data the
      // branch is the identical expression (hashes unchanged).
      when(col(s"cf_$i") > 0,
        log((col(s"tf_$i").cast("double") +
          lit(mu) * col(s"cf_$i").cast("double") / col("ctot").cast("double")) /
          (col("dl").cast("double") + lit(mu))))
        .otherwise(raise_error(lit(
          s"dirichletQL: query term '${terms(i)}' has zero collection frequency")))
    }
    val nHits = terms.indices.map(i => (col(s"tf_$i") > 0).cast("int")).reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), nHits.as("n_hits"),
        round(contribs.reduce(_ + _), 6).as("score"))
      .filter(col("n_hits") > 0)
      .orderBy(desc("score"), col("doc_id")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("score"), col("doc_id"))))
      .orderBy("rank")
  }

  val Rm3Lambda = 0.5 // original-query interpolation mass
  val Rm3FeedbackDocs = 5 // pseudo-relevant docs feeding RM1
  val Rm3ExpansionTerms = 5 // expansion terms kept

  /** RM3 pseudo-relevance-feedback QUERY EXPANSION (Lavrenko & Croft
    * 2001 relevance models; the RM3 interpolation of Abdul-Jaleel et
    * al. 2004 — the standard PRF baseline every IR stack ships): run
    * the original query, treat the top-F BM25 docs as pseudo-relevant,
    * estimate the relevance model RM1(w) = Σ_d P(d)·P(w|d) with P(d)
    * the normalized retrieval score and P(w|d) = tf/dl, keep the top-E
    * non-query terms, and interpolate the original query:
    * P'(w) = λ·P_mle(w|q) + (1−λ)·RM1(w).
    *
    * Determinism: the score normalizer is a decimal-exact sum of the
    * rounded BM25 scores; RM1 sums per-(doc, word) contributions
    * through DECIMAL(38,18) (order-independent); expansion selection
    * is round-then-rank with the word tie-break. Scale: everything
    * after the top-F feedback list is feedback-doc-sized — the
    * postings artifact is read once for the F docs' term vectors.
    */
  /** The RM1 relevance model alone — (word, rm1) over the feedback
    * vocabulary, rm1 summing exactly to 1 (per-doc tf/dl masses sum to
    * 1, doc weights sum to 1). Shared by [[rm3Weights]] and the q288
    * clarity score.
    */
  def rm1Model(postings: DataFrame, terms: Seq[String] = Bm25QueryTerms,
      k1: Double = 1.2, b: Double = 0.75,
      fbDocs: Int = Rm3FeedbackDocs): DataFrame = {
    val fb = bm25FromPostings(postings, terms, k1, b, fbDocs)
      .select(col("doc_id"), col("score"))
    val tot = fb.agg(
      sum(col("score").cast("decimal(38,6)")).cast("double").as("s_tot"))
    val fbW = fb.crossJoin(broadcast(tot))
      .select(col("doc_id"), (col("score") / col("s_tot")).as("w_d"))
    // cached: the feedback-doc postings (F docs only) feed both the
    // doc-length and the term-frequency aggregates
    val fbPost = postings.join(broadcast(fbW), "doc_id").cache()
    val dl = fbPost.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tf = fbPost.groupBy("doc_id", "w_d", "word").agg(count(lit(1)).as("tf"))
    tf.join(dl, "doc_id")
      .withColumn("contrib",
        (col("w_d") * (col("tf").cast("double") / col("dl"))).cast("decimal(38,18)"))
      .groupBy("word").agg(sum(col("contrib")).cast("double").as("rm1"))
  }

  def rm3Weights(postings: DataFrame, terms: Seq[String] = Bm25QueryTerms,
      k1: Double = 1.2, b: Double = 0.75, fbDocs: Int = Rm3FeedbackDocs,
      expTerms: Int = Rm3ExpansionTerms, lambda: Double = Rm3Lambda): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = postings.sparkSession
    import spark.implicits._
    // cached: consumed by both the expansion ranking and the original-
    // term left join — uncached each re-ran the whole RM1 chain
    val rm1 = rm1Model(postings, terms, k1, b, fbDocs).cache()
    val origs = terms.map(t => (t, 1.0 / terms.size)).toDF("word", "p_orig")
    val exp = rm1.filter(!col("word").isin(terms: _*))
      .withColumn("exp_rank",
        row_number().over(Window.orderBy(round(col("rm1"), 6).desc, col("word"))))
      .filter(col("exp_rank") <= expTerms)
    val origW = broadcast(origs).join(rm1, Seq("word"), "left")
      .select(col("word"), lit(true).as("is_original"), lit(0).as("exp_rank"),
        round(coalesce(col("rm1"), lit(0.0)), 6).as("rm1_weight"),
        round(lit(lambda) * col("p_orig") +
          lit(1 - lambda) * coalesce(col("rm1"), lit(0.0)), 6).as("rm3_weight"))
    val expW = exp.select(col("word"), lit(false).as("is_original"), col("exp_rank"),
      round(col("rm1"), 6).as("rm1_weight"),
      round(lit(1 - lambda) * col("rm1"), 6).as("rm3_weight"))
    origW.unionByName(expW).orderBy("word")
  }

  /** WEIGHTED BM25 over a dynamic term table — the RM3 second pass:
    * score(d) = Σ_w weight_w · bm25_w(d) for the expanded query.
    * Unlike the fixed-literal [[bm25FromPostings]] columns, the term
    * set here is DATA (it came out of the feedback docs), so tf/df
    * arrive by a broadcast term join against the postings artifact —
    * the shuffle is sized by the matched postings, never the corpus.
    * Per-doc sums ride DECIMAL(38,18) (the weighted contributions are
    * doubles; the fold must not depend on shuffle order).
    */
  def rm3Rerank(postings: DataFrame, weights: DataFrame,
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cached: feeds the corpus stats scalar AND the per-doc score join
    val dl = postings.groupBy("doc_id").agg(count(lit(1)).as("dl")).cache()
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = postings
      .join(broadcast(weights.select("word", "rm3_weight")), "word")
      .groupBy("doc_id", "word", "rm3_weight").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val tfd = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * tfd * lit(k1 + 1) /
      (tfd + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl))
    tf.join(dfreq, "word").join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("wc", (col("rm3_weight") * contrib).cast("decimal(38,18)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), sum(col("wc")).cast("double").as("raw"))
      .select(col("doc_id"), col("n_hits"), round(col("raw"), 6).as("score"))
      .filter(col("score") > 0)
      .orderBy(desc("score"), col("doc_id")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("score"), col("doc_id"))))
      .select("rank", "doc_id", "n_hits", "score")
      .orderBy("rank")
  }

  /** Query CLARITY score (Cronen-Townsend, Zhou & Croft 2002, SIGIR —
    * "Predicting Query Performance"): the KL divergence between the
    * query's relevance model and the collection language model,
    * clarity = Σ_w RM1(w)·ln(RM1(w)/P_c(w)) with P_c(w) = cf_w/|C|.
    * High clarity = the feedback docs speak a focused dialect (the
    * query will retrieve well); clarity ≈ 0 = the query's language is
    * indistinguishable from the collection — the standard
    * query-performance-prediction signal, and the monitoring read for
    * an RM3 deployment (expansion helps focused queries, hurts murky
    * ones). RM1 sums to 1 and every feedback word has cf ≥ 1, so the
    * KL is finite with no floor. Per-term contributions ride
    * DECIMAL(38,18); collection stats come from the postings artifact
    * (one keyed count + one scalar).
    */
  def clarityScore(postings: DataFrame, terms: Seq[String] = Bm25QueryTerms,
      k1: Double = 1.2, b: Double = 0.75,
      fbDocs: Int = Rm3FeedbackDocs): DataFrame = {
    val rm1 = rm1Model(postings, terms, k1, b, fbDocs)
    val cf = postings.groupBy("word").agg(count(lit(1)).as("cf"))
    val ctot = postings.agg(count(lit(1)).as("ctot"))
    rm1.join(cf, "word").crossJoin(broadcast(ctot))
      .withColumn("contrib",
        (col("rm1") * log(col("rm1") / (col("cf").cast("double") / col("ctot"))))
          .cast("decimal(38,18)"))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("contrib")).cast("double"), 6).as("clarity"))
  }

  /** Standing-query PERCOLATION (the Elasticsearch-percolator /
    * prospective-search shape: queries are STORED, documents arrive
    * and are matched against all of them — alerting at ingest): a
    * document matches a stored conjunctive query iff it contains EVERY
    * query term. Presence, not frequency: the postings collapse to
    * distinct (doc, word) map-side, join the broadcast query-term
    * dictionary (standing queries are small by nature), and one
    * (query, doc)-keyed aggregation tests `matched terms = |query|` —
    * output is alert-sized, the corpus is never paired with queries.
    * The streaming twin runs the same operator per micro-batch
    * ([[graft.streaming.StreamCuration]] neighborhood — matching is
    * per-doc, so stream ≡ batch holds by construction).
    */
  def percolateMatches(postings: DataFrame,
      queries: Seq[(String, Seq[String])]): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    percolateMatchesTable(postings,
      queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
        .toDF("query_id", "term"))
  }

  /** QUERIES-AS-DATA percolation (round-13 verdict #5): production
    * prospective search stores its standing queries in a TABLE that
    * changes without redeploying — `queryTerms` is any (query_id, term)
    * frame. Same plan shape as the literal spelling: the query table is
    * distinct'd, sized per query (one tiny aggregation on the
    * alert-dictionary side), broadcast, and conjunction-tested with the
    * (query, doc)-keyed count — the corpus is never paired with
    * queries, and a query-table UPDATE is just new rows in the next
    * run's broadcast.
    */
  def percolateMatchesTable(postings: DataFrame,
      queryTerms: DataFrame): DataFrame = {
    val qt = queryTerms.select("query_id", "term").distinct()
    val qtn = qt.join(qt.groupBy("query_id").agg(count(lit(1)).as("n_terms")),
      "query_id")
    postings.select("doc_id", "word").distinct()
      .join(broadcast(qtn), col("word") === col("term"))
      .groupBy("query_id", "n_terms", "doc_id").agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === col("n_terms"))
      .select("query_id", "doc_id")
  }

  /** A DATA-DERIVED standing-query table over the corpus itself — one
    * conjunctive alert per source built from its `topN` most
    * source-characteristic terms: document frequency within the source
    * (ties by word), excluding corpus-wide stop-ish words (df > half
    * the corpus). The shape a prospective-search owner maintains as a
    * table (here derived, so both engines rebuild it identically);
    * feeds [[percolateMatchesTable]] and its stream twin.
    */
  def percolatorQueryTable(docs: DataFrame, topN: Int = 3,
      textCol: String = "text"): DataFrame =
    percolatorRankedTerms(docs, topN, textCol)
      .select(col("query_id"), col("term"))

  /** The ranked form of [[percolatorQueryTable]]: (query_id, term, rn)
    * with rn = the term's in-source characteristic rank — the shape
    * BOOLEAN stored queries slice (must = head ranks, must_not = the
    * next rank, the q338 derivation).
    */
  def percolatorRankedTerms(docs: DataFrame, topN: Int = 3,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pres = docs.select(col("doc_id"), col("source"),
      explode(array_distinct(Text.words(col(textCol)))).as("word"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val dfq = pres.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
    val eligible = dfq.crossJoin(broadcast(nDocs))
      .filter(col("df") * 2 <= col("nd")).select("word")
    val w = Window.partitionBy("source").orderBy(desc("sdf"), col("word"))
    pres.groupBy("source", "word").agg(count(lit(1)).as("sdf"))
      .join(eligible, "word")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topN)
      .select(concat(lit("src_alert_"), col("source")).as("query_id"),
        col("word").as("term"), col("rn"))
  }

  /** Queries-as-data BOOLEAN percolation — the q322/q328 contract for
    * the must/must_not shape (q293's literal spelling): both clause
    * sets are (query_id, term) TABLES; the exclusion is the same
    * broadcast anti-join on forbidden presence pairs. Every stored
    * query reports (n_docs, first match), zero-match included.
    */
  def percolateBoolTableCensus(postings: DataFrame, mustTerms: DataFrame,
      notTerms: DataFrame): DataFrame = {
    val pres = postings.select("doc_id", "word").distinct()
    val must = percolateMatchesTable(postings, mustTerms)
    val nt = notTerms.select(col("query_id"), col("term").as("not_term")).distinct()
    val forbidden = pres.join(broadcast(nt), col("word") === col("not_term"))
      .select("query_id", "doc_id").distinct()
    val counts = must.join(forbidden, Seq("query_id", "doc_id"), "left_anti")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    mustTerms.select("query_id").distinct()
      .join(counts, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_docs"))
      .orderBy("query_id")
  }

  /** Per-query census over the data-derived query table — every stored
    * query reports (n_docs, first match), including zero-match ones.
    */
  def percolateTableCensus(docs: DataFrame, postings: DataFrame,
      topN: Int = 3): DataFrame = {
    // cached: the derived query table is read three times (twice inside
    // percolateMatchesTable's sizing join, once by the
    // every-query-reports left join) and each uncached read repeats the
    // corpus word-df scan + rank window; the table itself is
    // alert-sized (round-16)
    val qt = percolatorQueryTable(docs, topN).cache()
    val counts = percolateMatchesTable(postings, qt)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    qt.select("query_id").distinct()
      .join(counts, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_docs"))
      .orderBy("query_id")
  }

  /** Fixed standing queries for the percolator surface — conjunctions
    * over mid-frequency corpus words (hits at both test SFs) plus one
    * deliberately unsatisfiable conjunction (its 0-row arm proves the
    * every-query-reports contract).
    */
  val PercolatorQueries: Seq[(String, Seq[String])] = Seq(
    "alert_big_order" -> Seq("big", "order", "scan"),
    "alert_spark_window" -> Seq("spark", "window"),
    "alert_stream_hash" -> Seq("stream", "table", "hash"),
    "alert_merge_vector" -> Seq("merge", "vector"),
    "alert_all_four" -> Seq("spark", "window", "merge", "vector"))

  /** Standing PHRASE queries (the Elasticsearch match_phrase
    * percolator — ordered adjacency, where [[percolateMatches]] tests
    * only presence): a document matches phrase [w₀..w₋₁] iff some base
    * position b carries wⱼ at b+j for every j. Each stored phrase
    * explodes to (query, idx, word); candidate bases come from ONE
    * keyed join on the word with base = pos − idx, and the match test
    * is a (query, doc, base)-keyed distinct-offset count — positional,
    * alert-sized, never a LIKE scan.
    */
  def percolatePhrases(postings: DataFrame,
      phrases: Seq[(String, Seq[String])]): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    percolatePhrasesTable(postings,
      phrases.flatMap { case (q, ws) =>
        ws.zipWithIndex.map { case (w, i) => (q, i, w) }
      }.toDF("query_id", "idx", "term"))
  }

  /** Queries-as-data twin of [[percolatePhrases]]: `phraseTerms` is any
    * (query_id, idx, term) frame — idx 0-based word offset within the
    * phrase; the length is derived per query (one tiny aggregation on
    * the broadcast side, the [[percolateMatchesTable]] discipline).
    */
  def percolatePhrasesTable(postings: DataFrame,
      phraseTerms: DataFrame): DataFrame = {
    val pt0 = phraseTerms.select("query_id", "idx", "term")
    val pt = pt0.join(
      pt0.groupBy("query_id").agg(count(lit(1)).as("len")), "query_id")
    postings.select("doc_id", "pos", "word")
      .join(broadcast(pt), col("word") === col("term"))
      .groupBy(col("query_id"), col("len"), col("doc_id"),
        (col("pos") - col("idx")).as("base"))
      .agg(countDistinct(col("idx")).as("n_hit"))
      .filter(col("n_hit") === col("len"))
      .select("query_id", "doc_id")
      .distinct()
  }

  /** Fixed standing phrases — adjacency hits at both test SFs plus one
    * OOV-anchored impossible phrase (the every-query-reports arm).
    */
  val PercolatorPhrases: Seq[(String, Seq[String])] = Seq(
    "ph_the_line" -> Seq("the", "line"),
    "ph_row_fast" -> Seq("row", "fast"),
    "ph_table_window" -> Seq("table", "window"),
    "ph_value_fast_spark" -> Seq("value", "fast", "spark"),
    "ph_never" -> Seq("table", "zzqq"))

  /** A DATA-DERIVED standing PHRASE table — per source, the `topN`
    * bigrams by in-source document frequency (ties by bigram text),
    * one stored phrase query per (source, rank) as (query_id, idx,
    * term) rows for [[percolatePhrasesTable]]. The phrase twin of
    * [[percolatorQueryTable]]: the alert set is corpus-derived data,
    * rebuilt identically by both engines.
    */
  def percolatorPhraseTable(docs: DataFrame, topN: Int = 2,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bg = docs.select(col("doc_id"), col("source"),
      explode(array_distinct(Text.shingles(col(textCol), 2))).as("bigram"))
    val w = Window.partitionBy("source").orderBy(desc("df"), col("bigram"))
    bg.groupBy("source", "bigram").agg(count(lit(1)).as("df"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topN)
      .select(concat(lit("src_ph_"), col("source"), lit("_"), col("rn")).as("query_id"),
        posexplode(split(col("bigram"), " ")).as(Seq("idx", "term")))
  }

  /** Census over the data-derived phrase table — every stored phrase
    * reports (n_matches, first match).
    */
  def percolatePhraseTableCensus(docs: DataFrame, postings: DataFrame,
      topN: Int = 2): DataFrame = {
    // cached: the derived phrase table feeds both the positional match
    // and the every-query-reports left join (it is alert-sized)
    val pt = percolatorPhraseTable(docs, topN).cache()
    val counts = percolatePhrasesTable(postings, pt)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_matches"), min(col("doc_id")).as("first_doc"))
    pt.select("query_id").distinct()
      .join(counts, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_matches"))
      .orderBy("query_id")
  }

  /** Per-phrase census: match count + first matching doc (NULL when
    * none — the unsatisfiable phrase must still report).
    */
  def percolatePhraseCensus(postings: DataFrame,
      phrases: Seq[(String, Seq[String])] = PercolatorPhrases): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val qs = phrases.map(_._1).toDF("query_id")
    qs.join(percolatePhrases(postings, phrases)
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_matches"), min(col("doc_id")).as("first_doc")),
      Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("first_doc"))
      .orderBy("query_id")
  }

  /** The per-query percolation census: every stored query reports its
    * matching-doc count and first match (NULL when none).
    */
  def percolateCensus(postings: DataFrame,
      queries: Seq[(String, Seq[String])] = PercolatorQueries): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val counts = percolateMatches(postings, queries)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    queries.map(_._1).toDF("query_id")
      .join(counts, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_docs"))
      .orderBy("query_id")
  }

  /** Boolean standing queries: MUST terms (all present) plus MUST_NOT
    * terms (none present) — the other half of the percolator contract
    * (Elasticsearch `bool.must` / `must_not`). The exclusion is one
    * broadcast anti-join of the conjunctive matches against the
    * forbidden-term presence pairs — still alert-sized, still one pass
    * over the distinct-presence table.
    */
  val PercolatorBoolQueries: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("bool_big_order_no_slow", Seq("big", "order"), Seq("slow")),
    ("bool_spark_no_window", Seq("spark"), Seq("window")),
    ("bool_stream_hash_no_merge", Seq("stream", "hash"), Seq("merge")),
    ("bool_scan_no_spark_window", Seq("scan"), Seq("spark", "window")))

  def percolateBoolCensus(postings: DataFrame,
      queries: Seq[(String, Seq[String], Seq[String])] = PercolatorBoolQueries): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val pres = postings.select("doc_id", "word").distinct()
    val must = percolateMatches(postings, queries.map(q => (q._1, q._2)))
    val nt = queries.flatMap { case (q, _, nots) =>
      nots.distinct.map(t => (q, t))
    }.toDF("query_id", "not_term")
    val forbidden = pres.join(broadcast(nt), col("word") === col("not_term"))
      .select("query_id", "doc_id").distinct()
    val matches = must.join(forbidden, Seq("query_id", "doc_id"), "left_anti")
    val counts = matches.groupBy("query_id")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    queries.map(_._1).toDF("query_id")
      .join(counts, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_docs"))
      .orderBy("query_id")
  }

  /** BOTH retrieval scores (BM25 + Dirichlet QL) from ONE postings
    * aggregation — the q261 fusion input: at corpus scale the per-doc
    * tf/dl rollup is the dominant cost and must not run once per
    * ranker. The two branches of the fusion join share this frame's
    * aggregation EXCHANGE (Spark's ReuseExchange dedupes the identical
    * subtree — plan-audited), so the corpus is scanned and shuffled
    * once. Score expressions are the same shapes as [[bm25FromPostings]]
    * / [[dirichletQL]], so each ranking is value-identical to its
    * standalone query.
    */
  def retrievalScores(postings: DataFrame, terms: Seq[String] = Bm25QueryTerms,
      k1: Double = 1.2, b: Double = 0.75, mu: Double = 300.0): DataFrame = {
    val aggs = count(lit(1)).as("dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("word") === lit(t), 1L).otherwise(0L)).as(s"tf_$i")
      }
    val base = postings.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val statAggs =
      count(lit(1)).as("n_docs") +: sum(col("dl").cast("long")).as("sum_dl") +:
        (terms.indices.map(i => sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i")) ++
          terms.indices.map(i => sum(col(s"tf_$i")).as(s"cf_$i")))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val bmContribs = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      when(col(s"tf_$i") > 0,
        idf * tf * lit(k1 + 1) /
          (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
        .otherwise(lit(0.0))
    }
    val qlContribs = terms.indices.map { i =>
      // same cf = 0 loud-failure guard as [[dirichletQL]]
      when(col(s"cf_$i") > 0,
        log((col(s"tf_$i").cast("double") +
          lit(mu) * col(s"cf_$i").cast("double") / col("sum_dl").cast("double")) /
          (col("dl").cast("double") + lit(mu))))
        .otherwise(raise_error(lit(
          s"retrievalScores: query term '${terms(i)}' has zero collection frequency")))
    }
    val nHits = terms.indices.map(i => (col(s"tf_$i") > 0).cast("int")).reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), nHits.as("n_hits"),
        round(bmContribs.reduce(_ + _), 6).as("bscore"),
        round(qlContribs.reduce(_ + _), 6).as("qscore"))
  }

  /** Shared BM25 tail: corpus stats as one 1-row broadcast, per-term
    * contributions as a fixed left-associated expression tree, top-k
    * via orderBy+limit. `base` carries (doc_id, dl, tf_0..tf_{n-1}) —
    * integer-typed columns of either width (the arithmetic casts).
    */
  private def bm25Rank(base: DataFrame, terms: Seq[String],
      k1: Double, b: Double, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val statAggs =
      count(lit(1)).as("n_docs") +: sum(col("dl").cast("long")).as("sum_dl") +:
        terms.indices.map(i =>
          sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val contribs = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      when(col(s"tf_$i") > 0,
        idf * tf * lit(k1 + 1) /
          (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
        .otherwise(lit(0.0))
    }
    val nHits = terms.indices
      .map(i => (col(s"tf_$i") > 0).cast("int")).reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), nHits.as("n_hits"),
        round(contribs.reduce(_ + _), 6).as("score"))
      .filter(col("score") > 0)
      .orderBy(desc("score"), col("doc_id")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("score"), col("doc_id"))))
      .orderBy("rank")
  }

  /** DSIR-style importance score (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per document, the
    * mean bigram log-likelihood RATIO between a target-domain LM and
    * the whole-corpus LM, with add-0.5 smoothing over the corpus bigram
    * vocabulary so target-unseen bigrams stay finite. Positive score =
    * more target-like than the average document; the ranking a
    * domain-focused data-selection pass resamples by.
    *
    * Scale design: the occurrence stream collapses to per-doc distinct
    * bigrams before any join (the q86 cascade); target and corpus
    * counts are two keyed rollups of that table; the smoothing
    * constants are ONE 1-row broadcast. Each occurrence contributes as
    * n × decimal(lp) — order-independent, engine-identical.
    */
  def dsirScores(docs: DataFrame, targetPred: Column,
      textCol: String = "text"): DataFrame = {
    import graft.functions.Text
    // cached: the per-doc bigram table feeds the corpus rollup, the
    // target rollup AND the scoring join — without the pin the corpus
    // explode + (doc_id, bg) shuffle runs three times (the same pin
    // bigramLmScore already carries)
    val docBg = docs
      .select(col("doc_id"), targetPred.as("is_target"),
        explode(Text.shingles(col(textCol), 2)).as("bg"))
      .groupBy("doc_id", "is_target", "bg").agg(count(lit(1)).as("n"))
      .cache()
    val corpus = docBg.groupBy("bg").agg(sum(col("n")).as("cc"))
    val target = docBg.filter(col("is_target"))
      .groupBy("bg").agg(sum(col("n")).as("ct"))
    val stats = corpus.agg(
      sum(col("cc")).as("nc"), count(lit(1)).as("v"))
      .crossJoin(broadcast(target.agg(sum(col("ct")).as("nt"))))
    val lp =
      log((coalesce(col("ct"), lit(0L)) + lit(0.5)) /
        (col("nt").cast("double") + lit(0.5) * col("v"))) -
        log((col("cc") + lit(0.5)) /
          (col("nc").cast("double") + lit(0.5) * col("v")))
    docBg
      .join(corpus, "bg").join(target, Seq("bg"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("lp", lp)
      .groupBy("doc_id", "is_target")
      .agg(
        sum(col("n")).as("n_bigrams"),
        round(sum(col("lp").cast("decimal(38,6)") * col("n")).cast("double") / sum(col("n")), 6)
          .as("dsir_score"))
      .withColumn("target_like", col("dsir_score") > 0)
      .orderBy("doc_id")
  }

  /** The Gopher stopword list (Rae et al. 2021, arXiv:2112.11446,
    * Table A1): a document must contain at least [[GopherMinStopwords]]
    * distinct members to pass the stopword rule.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinStopwords = 2

  /** Gopher-style rule-based document filter (Rae et al. 2021, Table A1)
    * — the canonical pretraining quality gate: word-count bounds, mean
    * word length bounds, symbol-to-word ratio, alphabetic-word fraction,
    * and stopword presence, each as an explicit per-document flag plus
    * the conjunction verdict. (The paper's line-level bullet/ellipsis
    * rules are omitted: the corpus is single-line by construction.)
    *
    * Every signal is codegen'd string arithmetic (length/replace/split +
    * one character-class regex), embarrassingly parallel — one scan, no
    * shuffle, the shape a 100 TB filter pass needs.
    */
  def gopherRules(docs: DataFrame, textCol: String = "text",
      minWords: Int = 50, maxWords: Int = 100000,
      minWordLen: Double = 3.0, maxWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      carry: Seq[String] = Nil): DataFrame = {
    import graft.functions.Text
    val t = col(textCol)
    val padded = concat(lit(" "), lower(t), lit(" "))
    val w = Text.words(t)
    val nWords = size(w)
    val meanLen = (length(t) - (nWords - lit(1))) / nWords
    val symbolRatio = (occ(padded, "#") + occ(padded, "...")) / nWords
    val alphaFrac =
      size(filter(w, x => length(regexp_replace(lower(x), "[^a-z]", "")) > 0)) /
        nWords.cast("double")
    val nStop = GopherStopwords
      .map(sw => when(padded.contains(s" $sw "), 1).otherwise(0))
      .reduce(_ + _)
    docs
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len", round(meanLen, 6))
      .withColumn("symbol_ratio", round(symbolRatio, 6))
      .withColumn("alpha_word_frac", round(alphaFrac, 6))
      .withColumn("n_stopwords_present", nStop)
      .withColumn("pass_word_count", nWords >= minWords && nWords <= maxWords)
      .withColumn("pass_word_len", meanLen >= minWordLen && meanLen <= maxWordLen)
      .withColumn("pass_symbol_ratio", symbolRatio < maxSymbolRatio)
      .withColumn("pass_alpha_words", alphaFrac > minAlphaFrac)
      .withColumn("pass_stopwords", nStop >= GopherMinStopwords)
      .withColumn(
        "pass_gopher",
        col("pass_word_count") && col("pass_word_len") && col("pass_symbol_ratio") &&
          col("pass_alpha_words") && col("pass_stopwords"))
      .select((Seq("doc_id") ++ carry ++ Seq("n_words", "mean_word_len",
        "symbol_ratio", "alpha_word_frac", "n_stopwords_present",
        "pass_word_count", "pass_word_len", "pass_symbol_ratio",
        "pass_alpha_words", "pass_stopwords", "pass_gopher")).map(col): _*)
  }

  /** Pairwise Jensen–Shannon divergence between the sources' word
    * distributions — the domain-shift diagnostic a mixture designer
    * reads before weighting sources (JSD ∈ [0, ln 2]; 0 = identical
    * unigram distributions). Vocabulary-union semantics without a
    * full-outer join: for words present in only one source, m = p/2, so
    * that side contributes exactly (missing mass) × ln 2 — the inner
    * join plus the two common-mass sums is algebraically the full
    * union-vocabulary JSD.
    *
    * Scale design: one word-count shuffle, a keyed self-join on the
    * word (each word carries ≤ n_sources rows — never a hot key), and a
    * per-pair aggregate with decimal-backed (order-independent) sums.
    */
  def sourceDivergence(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import graft.functions.{Num, Text}
    val wc = docs
      .select(col("source"), explode(Text.words(col(textCol))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val totals = wc.groupBy("source").agg(sum(col("c")).as("n"))
    val p = wc.join(broadcast(totals), "source")
      .select(col("source"), col("w"), (col("c").cast("double") / col("n")).as("p"))
    val joined = p.select(col("source").as("src_a"), col("w"), col("p").as("pa"))
      .join(p.select(col("source").as("src_b"), col("w"), col("p").as("pb")), Seq("w"))
      .filter(col("src_a") < col("src_b"))
    val term =
      col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb"))) +
        col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb")))
    joined.groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_common_words"),
        Num.dsumHi(term).as("ct"),
        Num.dsumHi(col("pa")).as("ma"),
        Num.dsumHi(col("pb")).as("mb"))
      .select(col("src_a"), col("src_b"), col("n_common_words"),
        round(lit(0.5) * col("ct") +
          lit(HalfLn2) * ((lit(1.0) - col("ma")) + (lit(1.0) - col("mb"))), 6).as("jsd"))
      .orderBy("src_a", "src_b")
  }

  /** 0.5·ln 2, interpolated into the oracle SQL as the same Scala
    * double (Double.toString round-trips, so both engines hold the
    * identical constant).
    */
  val HalfLn2: Double = 0.5 * math.log(2.0)

  /** Heaps'-law vocabulary-growth fit: V(n) ≈ K·n^β estimated by
    * least squares on (ln cum_tokens, ln cum_vocab) over the doc-ordered
    * ingestion curve — the sizing law for vocabulary tables, hash
    * spaces, and tokenizer budgets as the corpus grows (β ≈ 0.4-0.6
    * for natural text; the synthetic corpus saturates early).
    *
    * Scale: first occurrences are one (word → min doc_id) aggregation;
    * the running sums carry ONE 2-long row per document (doc count,
    * not token count) and run as the TWO-LEVEL bucket prefix sum
    * (round-16, guide §2.5: the former corpus-ordered unpartitioned
    * window moved every doc row to ONE partition — the systematic-
    * resample discipline applies: per-bucket keyed windows + an
    * n/100-row bucket-offset frame; exact long sums, so the curve —
    * and the fit — is bit-identical).
    */
  def heapsFit(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{Num, Text}
    val words = docs.select(col("doc_id"), explode(Text.words(col(textCol))).as("w"))
    val firstOcc = words.groupBy("w").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("new_words"))
    val toks = words.groupBy("doc_id").agg(count(lit(1)).as("n_toks"))
    // cached: the per-doc frame feeds both the bucket-offset totals and
    // the within-bucket running sums (multi-consumer, no exchange reuse
    // across a groupBy and a window keyed differently)
    val perDoc = toks.join(firstOcc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("new_words"), lit(0L)).as("nw"),
        expr("doc_id div 100").as("bucket"))
      .cache()
    val wIn = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wB = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val boff = perDoc.groupBy("bucket")
      .agg(sum(col("n_toks")).as("bt"), sum(col("nw")).as("bv"))
      .withColumn("toff", coalesce(sum(col("bt")).over(wB), lit(0L)))
      .withColumn("voff", coalesce(sum(col("bv")).over(wB), lit(0L)))
      .select("bucket", "toff", "voff")
    val curve = perDoc.join(broadcast(boff), "bucket")
      .withColumn("cum_tokens", col("toff") + sum(col("n_toks")).over(wIn))
      .withColumn("cum_vocab", col("voff") + sum(col("nw")).over(wIn))
      .select(log(col("cum_tokens").cast("double")).as("x"),
        log(col("cum_vocab").cast("double")).as("y"))
    val g = curve.agg(
      count(lit(1)).cast("double").as("n"),
      Num.dsum(col("x")).as("sx"), Num.dsum(col("y")).as("sy"),
      Num.dsum(col("x") * col("x")).as("sxx"),
      Num.dsum(col("x") * col("y")).as("sxy"),
      Num.dsum(col("y") * col("y")).as("syy"))
    val (n, sx, sy, sxx, sxy, syy) =
      (col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"), col("syy"))
    g.select(
      col("n").cast("long").as("n_docs"),
      round(Num.fitSlope(n, sx, sy, sxx, sxy), 6).as("heaps_beta"),
      round(Num.fitIntercept(n, sx, sy, sxx, sxy), 6).as("ln_k"),
      round(Num.fitCorr(n, sx, sy, sxx, sxy, syy), 6).as("corr"))
  }

  /** Characteristic vocabulary per source — Dunning's log-likelihood
    * keyness (Dunning 1993, Computational Linguistics — "Accurate
    * Methods for the Statistics of Surprise and Coincidence"): for each
    * (source, word), G² of the observed in-source count vs the rest of
    * the corpus under the pooled rate; top-k OVERREPRESENTED words per
    * source (observed rate strictly above the rest's). The corpus-drift
    * family's missing member: JSD/PSI (q151/q128) say HOW FAR two
    * sources diverge, keyness says WHICH WORDS carry the divergence.
    *
    * Scale: token counting is one keyed aggregation (map-side
    * partials); the global min-count cap (the JaccardDocFreqCap
    * discipline) bounds the scored table to sources × capped-vocab
    * before any window runs, and the totals join the capped table as
    * one broadcast + one 1-row cross join.
    */
  def keyness(docs: DataFrame, textCol: String = "text",
      minCount: Long = 5, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Text
    val tok = docs.select(col("source"),
      explode(Text.words(lower(col(textCol)))).as("word"))
    val counts = tok.groupBy("source", "word").agg(count(lit(1)).as("a"))
    val wordTot = counts.groupBy("word").agg(sum(col("a")).as("wtot"))
      .filter(col("wtot") >= minCount)
    val srcTot = counts.groupBy("source").agg(sum(col("a")).as("n1"))
    val nTot = srcTot.agg(sum(col("n1")).as("nn"))
    val sc = counts.join(wordTot, "word")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(nTot))
      .withColumn("b", col("wtot") - col("a"))
      .withColumn("n2", col("nn") - col("n1"))
    val aD = col("a").cast("double")
    val bD = col("b").cast("double")
    val e1 = col("n1").cast("double") * col("wtot").cast("double") / col("nn").cast("double")
    val e2 = col("n2").cast("double") * col("wtot").cast("double") / col("nn").cast("double")
    val scored = sc
      .filter(aD / col("n1").cast("double") > bD / col("n2").cast("double"))
      .withColumn("g2", round(
        lit(2.0) * (aD * log(aD / e1) +
          when(col("b") > 0, bD * log(bD / e2)).otherwise(lit(0.0))), 6))
    val w = Window.partitionBy("source").orderBy(col("g2").desc, col("word"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("source"), col("rank"), col("word"), col("a"), col("g2"))
  }

  /** Rolling polynomial hash over the token stream (order-sensitive
    * document fingerprint) plus a content hash of the raw text.
    */
  def withFingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("content_fp", Hashes.md5Long60(col(textCol)))
      .withColumn(
        "rolling_fp",
        aggregate(
          split(col(textCol), " "),
          lit(0L),
          (acc, t) => (acc * 31 + Hashes.md5Long32(t)) % lit(RollingFpMod)))

  val RollingFpMod: Long = 1099511627776L // 2^40 — keeps acc*31 + h32 < 2^63

  /** Fixed 2-word queries for [[phraseSearch]] — mid-frequency corpus
    * bigrams, so every phrase has hits at both test SFs and the posting
    * join produces non-trivial fan-in.
    */
  val PhraseQueries: Seq[String] =
    Seq("hash join", "table scan", "sort merge", "batch stream", "window agg")

  /** Exact phrase search over a POSITIONAL posting join — the retrieval
    * access path an inverted index (q115) exists for, run as a
    * relational plan: explode (doc, pos, word) postings, keep ONLY the
    * query terms' postings (at 100 TB the persisted index makes this a
    * posting-list read instead of a corpus scan — here the filter after
    * the explode plays that role: everything downstream is sized by
    * |postings(query terms)|, not the corpus), then resolve matches by
    * anchor aggregation (see [[phraseSearchPostings]]) — one keyed
    * aggregation for ANY phrase length, never a LIKE '%…%' scan and
    * never a cross product. Output per phrase: matching-doc count and
    * total occurrence count.
    */
  def phraseSearch(docs: DataFrame, phrases: Seq[String] = PhraseQueries,
      textCol: String = "text"): DataFrame =
    phraseSearchPostings(positionalPostings(docs, textCol), phrases)

  /** The positional posting table (doc_id, pos, word) — built inline by
    * [[phraseSearch]], or ONCE per corpus and parquet-persisted via
    * `Materialized.onDisk` for the indexed variant (q248): at 100 TB
    * the postings table IS the inverted-index artifact, and every
    * retrieval reads it instead of re-exploding the corpus.
    */
  def positionalPostings(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import graft.functions.Text
    docs.select(col("doc_id"),
      posexplode(Text.words(col(textCol))).as(Seq("pos", "word")))
  }

  /** Longer query phrases (3-5 words, incl. a repeated-word phrase —
    * the case a naive pairwise match gets wrong) for the n-word
    * retrieval surface. Mined as frequent corpus n-grams so both test
    * scales return hits.
    */
  val PhraseQueriesNgram: Seq[String] = Seq(
    "big order scan", "group slow spark", "slow hash batch", "stream table hash",
    "small big order scan", "filter value small value",
    "big line value value filter", "small sort slow value slow")

  /** Phrase matching over an already-built posting table, for phrases
    * of ANY length n ≥ 2 — the query-term filter cuts the postings to
    * |postings(terms)| before anything else (on the persisted artifact
    * this is a pushed-down scan filter).
    *
    * Algorithm (anchor aggregation, not an n-way join chain): each
    * query-term posting (doc, pos, word=wᵢ) votes for the phrase
    * occurrence that would START at `anchor = pos - i`. A phrase of n
    * words occurs at (doc, anchor) iff ALL n votes arrive — and since
    * a doc has exactly one word per position, each term index can vote
    * at most once per (doc, anchor), so `count(*) == n` is the exact
    * match test (correct even for phrases with repeated words: the
    * same posting votes separately for each index it could fill, at
    * different anchors). One broadcast join + one keyed aggregation,
    * whatever n is — no join chain growing with phrase length, no
    * NLJ, no LIKE scan; the shuffle is sized by the query terms'
    * postings, never the corpus.
    */
  def phraseSearchPostings(postings: DataFrame,
      phrases: Seq[String] = PhraseQueries): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val terms = phrases.flatMap { p =>
      val ws = p.split(" ")
      require(ws.length >= 2, s"phraseSearch needs multi-word phrases, got '$p'")
      ws.zipWithIndex.map { case (w, i) => (p, i, w, ws.length) }
    }.toDF("phrase", "idx", "term_word", "n_words")
    val vocab = phrases.flatMap(_.split(" ")).distinct
    val posts = postings.filter(col("word").isin(vocab: _*))
    posts.join(broadcast(terms), col("word") === col("term_word"))
      .groupBy(col("phrase"), col("n_words"), col("doc_id"),
        (col("pos") - col("idx")).as("anchor"))
      .agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === col("n_words"))
      .groupBy("phrase")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_hits"))
      .orderBy("phrase")
  }

  /** Term-pair PROXIMITY from the positional postings — the sloppy-
    * phrase/proximity-boost signal ranked retrieval layers on top of
    * BM25 (terms appearing 2 tokens apart beat terms 200 apart): per
    * unordered query-term pair and document containing BOTH, the
    * minimum token distance, rolled up per pair (docs with both terms,
    * best distance anywhere, mean per-doc min distance).
    *
    * The min distance between two position SETS is attained at
    * ADJACENT elements of their merged sorted stream, so one lag
    * window over (pair, doc) ordered by position finds it in
    * O(|postings(terms)|) — never the |A|×|B| per-doc product a naive
    * position join pays (a stopword-frequency term would make that
    * quadratic per doc). A posting enters one row per pair it belongs
    * to via a broadcast (pair, member-word) dictionary.
    */
  def termProximity(postings: DataFrame,
      terms: Seq[String] = Bm25QueryTerms): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = postings.sparkSession
    import spark.implicits._
    val members = (for {
      i <- terms.indices; j <- terms.indices if i < j
      p = s"${terms(i)}|${terms(j)}"
      w <- Seq(terms(i), terms(j))
    } yield (p, w)).toDF("pair", "word")
    val posts = postings.filter(col("word").isin(terms: _*))
      .join(broadcast(members), Seq("word"))
    val w = Window.partitionBy("pair", "doc_id").orderBy("pos")
    val adj = posts
      .select(col("pair"), col("doc_id"), col("pos"), col("word"),
        lag(col("pos"), 1).over(w).as("prev_pos"),
        lag(col("word"), 1).over(w).as("prev_word"))
      .filter(col("prev_pos").isNotNull && col("word") =!= col("prev_word"))
      .select(col("pair"), col("doc_id"), (col("pos") - col("prev_pos")).as("dist"))
    adj.groupBy("pair", "doc_id").agg(min(col("dist")).as("min_dist"))
      .groupBy("pair")
      .agg(
        count(lit(1)).as("n_docs_both"),
        min(col("min_dist")).as("best_dist"),
        round(sum(col("min_dist")).cast("double") / count(lit(1)), 6).as("avg_min_dist"))
      .orderBy("pair")
  }

  /** Minimal covering window (the "sloppy phrase" / passage-retrieval
    * primitive): per document containing ALL query terms, the smallest
    * token span that covers one occurrence of each, top-k docs by
    * tightest window. The classic linear algorithm as a window plan:
    * for each query-term posting at position p, the best window ENDING
    * at p spans from the minimum over terms of "last occurrence ≤ p"
    * (per-term conditional running max) to p; the per-doc minimum over
    * p is the exact minimal cover. O(|postings(terms)|) with one
    * (doc)-keyed window — never a per-doc position product, no
    * explode beyond the postings themselves.
    */
  def minWindowCover(postings: DataFrame, terms: Seq[String] = Bm25QueryTerms,
      topK: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.length >= 2, "a covering window needs at least two terms")
    val posts = postings.filter(col("word").isin(terms: _*))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastCols = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("word") === lit(t), col("pos"))).over(w).as(s"lp_$i")
    }
    val withLp = posts.select(col("doc_id") +: col("pos") +: lastCols: _*)
    val allSeen = terms.indices.map(i => col(s"lp_$i").isNotNull).reduce(_ && _)
    val span = col("pos") -
      least(terms.indices.map(i => col(s"lp_$i")): _*) + lit(1)
    withLp.filter(allSeen)
      .select(col("doc_id"), span.as("window_tokens"))
      .groupBy("doc_id").agg(min(col("window_tokens")).as("min_window"))
      .orderBy(col("min_window"), col("doc_id")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("min_window"), col("doc_id"))))
      .select("rank", "doc_id", "min_window")
  }

  /** Snippet extraction — the retrieval-UX tail of [[minWindowCover]]:
    * for the top-k docs by tightest covering window, the window's
    * token slice as a display snippet. The argmin window per doc is
    * the lexicographic struct-min (window, start) — deterministic
    * earliest-tightest — and only the k winning docs join back to the
    * corpus text (broadcast, k rows), so the text column is read for k
    * documents, never the corpus.
    */
  def minWindowSnippets(docs: DataFrame, postings: DataFrame,
      terms: Seq[String] = Bm25QueryTerms, topK: Int = 10,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Text
    require(terms.length >= 2, "a covering window needs at least two terms")
    val posts = postings.filter(col("word").isin(terms: _*))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastCols = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("word") === lit(t), col("pos"))).over(w).as(s"lp_$i")
    }
    val withLp = posts.select(col("doc_id") +: col("pos") +: lastCols: _*)
    val allSeen = terms.indices.map(i => col(s"lp_$i").isNotNull).reduce(_ && _)
    val start = least(terms.indices.map(i => col(s"lp_$i")): _*)
    val top = withLp.filter(allSeen)
      .select(col("doc_id"),
        struct((col("pos") - start + lit(1)).as("win"), start.as("st")).as("ws"))
      .groupBy("doc_id").agg(min(col("ws")).as("ws"))
      .select(col("doc_id"), col("ws.win").as("min_window"), col("ws.st").as("start_pos"))
      .orderBy(col("min_window"), col("doc_id")).limit(topK)
    docs.join(broadcast(top), Seq("doc_id"))
      .select(col("doc_id"), col("min_window"),
        array_join(
          slice(Text.words(col(textCol)), col("start_pos") + lit(1), col("min_window")),
          " ").as("snippet"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("min_window"), col("doc_id"))))
      .select("rank", "doc_id", "min_window", "snippet")
      .orderBy("rank")
  }

  /** LSH-candidate pair n-gram overlap stats shared by [[bleuPairs]] and
    * [[rougePairs]]: for each MinHash-LSH candidate pair (d1 < d2,
    * [[Dedup.minhashPairs]]) and each n in `ns`, the CLIPPED match count
    * Σ_g min(count_1(g), count_2(g)) plus both documents' total n-gram
    * counts. The two-stage shape of q94: approximate candidates first,
    * the exact (and per-pair expensive) metric only on candidates — the
    * pair set is bounded by the LSH band contract, so it broadcasts,
    * and the per-doc gram tables join it by (doc, n, gram) key; no pair
    * space beyond the candidates ever exists.
    */
  /** Distinct doc ids appearing on either side of the candidate pair
    * list — the semi-join key set that keeps pair-metric gram tables
    * candidate-sized.
    */
  private def candDocIds(cand: DataFrame): DataFrame =
    cand.select(col("d1").as("doc_id"))
      .unionByName(cand.select(col("d2").as("doc_id")))
      .distinct()

  private def pairNgramStats(docs: DataFrame, ns: Seq[Int],
      textCol: String, pairs: Option[DataFrame]): DataFrame = {
    val cand = pairs.getOrElse(Dedup.minhashPairs(docs)).select("d1", "d2")
    // only docs that appear in a candidate pair ever contribute a gram
    // row — semi-join BEFORE the explode, so the gram tables are
    // candidate-sized, not corpus-sized (values unchanged: rows for
    // other docs never joined anything)
    val pdocs = docs.join(broadcast(candDocIds(cand)), "doc_id", "left_semi")
    // the gram census feeds THREE consumers below (g1, g2, tot) with no
    // shared exchange between them — uncached, the candidate-doc scan +
    // explode + count ran once per consumer (guide §1.2: don't compute
    // things twice). Candidate-sized (the pair list is bounded), so the
    // cache is small at any corpus scale.
    val gc = ns.map { n =>
        pdocs.select(col("doc_id"), lit(n).as("n"),
          explode(Text.shinglesOfWords(Text.words(col(textCol)), n)).as("g"))
      }.reduce(_ unionByName _)
      .groupBy("doc_id", "n", "g").agg(count(lit(1)).as("c"))
      .cache()
    val tot = gc.groupBy("doc_id", "n").agg(sum(col("c")).as("t"))
    val m = broadcast(cand)
      .join(gc.as("g1"), col("d1") === col("g1.doc_id"))
      .join(gc.as("g2"),
        col("d2") === col("g2.doc_id") && col("g1.n") === col("g2.n")
          && col("g1.g") === col("g2.g"))
      .groupBy(col("d1"), col("d2"), col("g1.n").as("n"))
      .agg(sum(least(col("g1.c"), col("g2.c"))).as("m"))
    broadcast(cand)
      .withColumn("n", explode(array(ns.map(lit): _*)))
      .as("pn")
      .join(tot.as("ta"), col("pn.d1") === col("ta.doc_id") && col("pn.n") === col("ta.n"))
      .join(tot.as("tb"), col("pn.d2") === col("tb.doc_id") && col("pn.n") === col("tb.n"))
      .select(col("pn.d1").as("d1"), col("pn.d2").as("d2"), col("pn.n").as("n"),
        col("ta.t").as("t1"), col("tb.t").as("t2"))
      .join(m, Seq("d1", "d2", "n"), "left")
      .select(col("d1"), col("d2"), col("n"),
        coalesce(col("m"), lit(0L)).as("m"), col("t1"), col("t2"))
  }

  /** BLEU over the LSH candidate pairs — the exact pair-similarity
    * metric of the evaluation literature run as the verification stage
    * after approximate candidate generation. Candidate = the LATER
    * document (d2), reference = the earlier (d1); clipped modified
    * n-gram precisions p1..p4, brevity penalty, geometric mean; the
    * standard unsmoothed convention scores 0 when any order has zero
    * matches. All counts are integers; the double arithmetic is one
    * fixed expression both engines evaluate identically.
    */
  def bleuPairs(docs: DataFrame, textCol: String = "text",
      pairs: Option[DataFrame] = None): DataFrame = {
    val st = pairNgramStats(docs, 1 to 4, textCol, pairs)
    def piv(c: String, n: Int, as: String) =
      max(when(col("n") === n, col(c))).as(as)
    val wide = st.groupBy("d1", "d2").agg(
      piv("t1", 1, "rlen"),
      piv("m", 1, "m1"), piv("m", 2, "m2"), piv("m", 3, "m3"), piv("m", 4, "m4"),
      piv("t2", 1, "c1"), piv("t2", 2, "c2"), piv("t2", 3, "c3"), piv("t2", 4, "c4"))
    val pn = (1 to 4).map(i =>
      when(col(s"c$i") > 0, col(s"m$i").cast("double") / col(s"c$i")))
    val anyZero = (1 to 4).map(i => col(s"m$i") === 0).reduce(_ || _)
    val bp = when(col("c1") > col("rlen"), lit(1.0))
      .otherwise(exp(lit(1.0) - col("rlen").cast("double") / col("c1")))
    val bleu = when(anyZero, lit(0.0))
      .otherwise(bp * exp(pn.map(log).reduce(_ + _) / 4))
    wide.select(
      col("d1"), col("d2"),
      col("rlen").as("ref_len"), col("c1").as("cand_len"),
      round(pn(0), 6).as("p1"), round(pn(1), 6).as("p2"),
      round(pn(2), 6).as("p3"), round(pn(3), 6).as("p4"),
      round(bp, 6).as("bp"), round(bleu, 6).as("bleu"))
      .orderBy("d1", "d2")
  }

  /** ROUGE-N (n = 1, 2) over the same LSH candidate pairs: clipped
    * n-gram precision/recall/F1 with d1 as reference, d2 as candidate —
    * the recall-oriented complement to [[bleuPairs]]. F1 = 0 when there
    * are no matches (both components zero).
    */
  def rougePairs(docs: DataFrame, ns: Seq[Int] = Seq(1, 2),
      textCol: String = "text", pairs: Option[DataFrame] = None): DataFrame = {
    val st = pairNgramStats(docs, ns, textCol, pairs)
    val p = when(col("t2") > 0, col("m").cast("double") / col("t2"))
    val r = when(col("t1") > 0, col("m").cast("double") / col("t1"))
    st.select(
      col("d1"), col("d2"), col("n"),
      col("m").as("n_matches"),
      col("t1").as("ref_ngrams"), col("t2").as("cand_ngrams"),
      round(p, 6).as("rouge_p"), round(r, 6).as("rouge_r"),
      round(when(col("m") === 0, lit(0.0))
        .otherwise(lit(2.0) * p * r / (p + r)), 6).as("rouge_f1"))
      .orderBy("d1", "d2", "n")
  }

  /** chrF2 over the LSH candidate pairs (Popović 2015 — the
    * character-level member of the MT-metric trio beside BLEU and
    * ROUGE, robust to tokenization/morphology where word n-grams are
    * brittle): clipped character n-gram precisions/recalls for
    * n = 1..6 over whitespace-stripped text, arithmetic-averaged, then
    * the β=2 recall-weighted harmonic mean. Same two-stage discipline
    * as [[bleuPairs]]: the bounded pair list broadcasts, per-doc char
    * gram tables join by (doc, n, gram).
    */
  def chrfPairs(docs: DataFrame, textCol: String = "text",
      pairs: Option[DataFrame] = None): DataFrame = {
    val ns = 1 to 6
    val cand = pairs.getOrElse(Dedup.minhashPairs(docs)).select("d1", "d2")
    // candidate-doc semi-join (see pairNgramStats), and the stripped
    // text MATERIALIZED as a column before the per-position lambda —
    // an expression inside transform re-evaluates per ELEMENT, which
    // for regexp_replace meant O(len²) regex work per doc (measured
    // 106 s at sf0.1; the shinglesOfWords lesson, char edition)
    val cl = docs.join(broadcast(candDocIds(cand)), "doc_id", "left_semi")
      .select(col("doc_id"), regexp_replace(col(textCol), " ", "").as("ch"))
    val chc = col("ch")
    // cached for the same reason as pairNgramStats' census: three
    // consumers (g1, g2, tot), no shared exchange, candidate-sized
    val gc = ns.map { n =>
        cl.select(col("doc_id"), lit(n).as("n"),
          explode(when(length(chc) >= n,
            transform(sequence(lit(1), length(chc) - (n - 1)),
              i => chc.substr(i, lit(n))))
            .otherwise(array().cast("array<string>"))).as("g"))
      }.reduce(_ unionByName _)
      .groupBy("doc_id", "n", "g").agg(count(lit(1)).as("c"))
      .cache()
    val tot = gc.groupBy("doc_id", "n").agg(sum(col("c")).as("t"))
    val m = broadcast(cand)
      .join(gc.as("g1"), col("d1") === col("g1.doc_id"))
      .join(gc.as("g2"),
        col("d2") === col("g2.doc_id") && col("g1.n") === col("g2.n")
          && col("g1.g") === col("g2.g"))
      .groupBy(col("d1"), col("d2"), col("g1.n").as("n"))
      .agg(sum(least(col("g1.c"), col("g2.c"))).as("m"))
    val st = broadcast(cand)
      .withColumn("n", explode(array(ns.map(lit): _*)))
      .as("pn")
      .join(tot.as("ta"), col("pn.d1") === col("ta.doc_id") && col("pn.n") === col("ta.n"))
      .join(tot.as("tb"), col("pn.d2") === col("tb.doc_id") && col("pn.n") === col("tb.n"))
      .select(col("pn.d1").as("d1"), col("pn.d2").as("d2"), col("pn.n").as("n"),
        col("ta.t").as("t1"), col("tb.t").as("t2"))
      .join(m, Seq("d1", "d2", "n"), "left")
      .select(col("d1"), col("d2"), col("n"),
        coalesce(col("m"), lit(0L)).as("m"), col("t1"), col("t2"))
    def piv(c: String, n: Int) = max(when(col("n") === n, col(c))).as(s"$c$n")
    val wide = st.groupBy("d1", "d2")
      .agg(piv("m", 1), (ns.drop(1).map(n => piv("m", n)) ++
        ns.map(n => piv("t1", n)) ++ ns.map(n => piv("t2", n))): _*)
    val pSum = ns.map(n => when(col(s"t2$n") > 0,
      col(s"m$n").cast("double") / col(s"t2$n")).otherwise(lit(0.0))).reduce(_ + _)
    val rSum = ns.map(n => when(col(s"t1$n") > 0,
      col(s"m$n").cast("double") / col(s"t1$n")).otherwise(lit(0.0))).reduce(_ + _)
    val chrP = pSum / ns.size
    val chrR = rSum / ns.size
    val anyMatch = ns.map(n => col(s"m$n") > 0).reduce(_ || _)
    wide.select(col("d1"), col("d2"),
      round(chrP, 6).as("chr_p"), round(chrR, 6).as("chr_r"),
      round(when(!anyMatch, lit(0.0))
        .otherwise(lit(5.0) * chrP * chrR / (lit(4.0) * chrP + chrR)), 6).as("chrf2"))
      .orderBy("d1", "d2")
  }

  /** ROUGE-L over the LSH candidate pairs — LCS-based
    * precision/recall/F (Lin 2004 §3.1), completing the pair-metric
    * family beside [[bleuPairs]]/[[rougePairs]]: order-sensitive
    * subsequence overlap where the n-gram metrics see only multisets.
    * The LCS length comes from the codegen'd [[graft.functions.Text
    * .wordLcs]] kernel (integer — no float parity concerns); the pair
    * list broadcasts, so the O(n·m) kernel runs once per candidate
    * pair, never per corpus pair.
    */
  def rougeLPairs(docs: DataFrame, textCol: String = "text",
      pairs: Option[DataFrame] = None): DataFrame = {
    val cand = pairs.getOrElse(Dedup.minhashPairs(docs)).select("d1", "d2")
    val t = docs.select(col("doc_id"), col(textCol).as("t"),
      size(Text.words(col(textCol))).cast("long").as("len"))
    val p = when(col("cand_len") > 0, col("lcs").cast("double") / col("cand_len"))
    val r = when(col("ref_len") > 0, col("lcs").cast("double") / col("ref_len"))
    broadcast(cand)
      .join(t.as("ta"), col("d1") === col("ta.doc_id"))
      .join(t.as("tb"), col("d2") === col("tb.doc_id"))
      .select(col("d1"), col("d2"),
        Text.wordLcs(col("ta.t"), col("tb.t")).cast("long").as("lcs"),
        col("ta.len").as("ref_len"), col("tb.len").as("cand_len"))
      .select(col("d1"), col("d2"), col("lcs"), col("ref_len"), col("cand_len"),
        round(p, 6).as("rouge_l_p"), round(r, 6).as("rouge_l_r"),
        round(when(col("lcs") === 0, lit(0.0))
          .otherwise(lit(2.0) * p * r / (p + r)), 6).as("rouge_l_f1"))
      .orderBy("d1", "d2")
  }

  /** Word error rate over the LSH candidate pairs — word-level
    * Levenshtein / reference length, the ASR-standard metric and the
    * edit-based complement to [[rougeLPairs]]'s subsequence view
    * (reference = d1, hypothesis = d2; WER can exceed 1 when the
    * hypothesis is longer). The distance comes from the codegen'd
    * [[graft.functions.Text.wordEditDistance]] kernel; same broadcast
    * two-stage shape as the other pair metrics.
    */
  def werPairs(docs: DataFrame, textCol: String = "text",
      pairs: Option[DataFrame] = None): DataFrame = {
    val cand = pairs.getOrElse(Dedup.minhashPairs(docs)).select("d1", "d2")
    val t = docs.select(col("doc_id"), col(textCol).as("t"),
      size(Text.words(col(textCol))).cast("long").as("len"))
    broadcast(cand)
      .join(t.as("ta"), col("d1") === col("ta.doc_id"))
      .join(t.as("tb"), col("d2") === col("tb.doc_id"))
      .select(col("d1"), col("d2"),
        Text.wordEditDistance(col("ta.t"), col("tb.t")).cast("long").as("edit_dist"),
        col("ta.len").as("ref_len"), col("tb.len").as("cand_len"))
      .withColumn("wer",
        round(when(col("ref_len") > 0,
          col("edit_dist").cast("double") / col("ref_len")), 6))
      .orderBy("d1", "d2")
  }

  /** Pair-metric AGREEMENT audit — Spearman rank correlation between
    * the four pair metrics (BLEU, ROUGE-L F1, chrF2, WER) over the
    * same LSH candidate pairs: the q201-style "do my signals agree"
    * read for the evaluation family (WER is an error — expect it
    * anti-correlated with the other three). Ranks are
    * row_number over (rounded score desc, d1, d2) — the deterministic
    * total-order convention, not average-rank ties — and
    * ρ = 1 − 6Σd²/(n(n²−1)) stays INTEGER-exact until the one final
    * division. The rank windows run over the candidate pair list,
    * which is bounded by the LSH band contract (alert-sized, never
    * corpus-sized).
    */
  def metricAgreement(docs: DataFrame, textCol: String = "text",
      pairs: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = pairs.getOrElse(Dedup.minhashPairs(docs)).select("d1", "d2").cache()
    val p = Some(cand)
    val m = bleuPairs(docs, textCol, p).select("d1", "d2", "bleu")
      .join(rougeLPairs(docs, textCol, p).select("d1", "d2", "rouge_l_f1"), Seq("d1", "d2"))
      .join(chrfPairs(docs, textCol, p).select("d1", "d2", "chrf2"), Seq("d1", "d2"))
      .join(werPairs(docs, textCol, p).select("d1", "d2", "wer"), Seq("d1", "d2"))
    val metrics = Seq("bleu", "rouge_l_f1", "chrf2", "wer")
    val ranked = metrics.foldLeft(m) { (df, mc) =>
      df.withColumn(s"r_$mc",
        row_number().over(Window.orderBy(col(mc).desc, col("d1"), col("d2"))))
    }.cache()
    val combos = for {
      i <- metrics.indices; j <- metrics.indices if i < j
    } yield (metrics(i), metrics(j))
    combos.map { case (a, b) =>
      ranked.agg(
        count(lit(1)).as("n_pairs"),
        sum((col(s"r_$a") - col(s"r_$b")) * (col(s"r_$a") - col(s"r_$b"))).as("sum_d2"))
        .select(lit(a).as("metric_a"), lit(b).as("metric_b"),
          col("n_pairs"), col("sum_d2"),
          round(when(col("n_pairs") > 1,
            lit(1.0) - lit(6.0) * col("sum_d2")
              / (col("n_pairs") * (col("n_pairs") * col("n_pairs") - 1))), 6)
            .as("spearman_rho"))
    }.reduce(_ unionByName _)
      .orderBy("metric_a", "metric_b")
  }

  /** Flesch reading-ease + Flesch–Kincaid grade per document — the
    * classic readability pair of the quality-filter stack. Sentences =
    * terminator runs ([.!?]+, floor 1); syllables = vowel-group runs
    * per word ([aeiouy]+ on the lowercased word, floor 1 per word) —
    * the standard heuristic. Pure narrow per-row expressions: no
    * shuffle, no explode; integer counts feed one fixed double formula
    * both engines evaluate identically.
    */
  def readability(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val w = Text.words(col(textCol))
    val nWords = size(w).cast("long")
    val nSents = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))).cast("long"))
    val nSyll = aggregate(
      transform(w, x =>
        greatest(lit(1), size(regexp_extract_all(lower(x), lit("[aeiouy]+"), lit(0))))),
      lit(0L), (acc, x) => acc + x)
    val wps = col("n_words").cast("double") / col("n_sents")
    val spw = col("n_syllables").cast("double") / col("n_words")
    docs
      .select(col("doc_id"), nWords.as("n_words"), nSents.as("n_sents"),
        nSyll.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syllables"),
        round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6).as("flesch"),
        round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6).as("fk_grade"))
  }

  /** DuckDB fragments mirroring the Spark expressions above. */
  object O {
    import graft.functions.Num

    private val padded = "(' ' || lower(text) || ' ')"

    /** Mirrors withCleanText (DuckDB regexp_replace needs the 'g' flag —
      * it replaces only the first match by default, Spark replaces all).
      */
    def cleanText: String = {
      val redacted = s"regexp_replace(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<email>', 'g')"
      val stripped = s"regexp_replace($redacted, '[^a-z0-9< >]', ' ', 'g')"
      s"trim(regexp_replace($stripped, ' +', ' ', 'g'))"
    }

    def textStats: String = {
      val nTokens = "len(string_split(text, ' '))"
      s"""CAST($nTokens AS INT) AS n_tokens,
         |  ((length(text) - ($nTokens - 1)) / $nTokens) AS avg_token_len,
         |  ((${occSql(padded, " the ")} + ${occSql(padded, " a ")} + ${occSql(padded, " of ")}) / $nTokens) AS stopword_ratio,
         |  CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS bpe_token_estimate,
         |  (least($nTokens / 200.0, 1.0) * 0.5
         |   + least(((length(text) - ($nTokens - 1)) / $nTokens) / 8.0, 1.0) * 0.3
         |   + (1.0 - least((${occSql(padded, " the ")} + ${occSql(padded, " a ")} + ${occSql(padded, " of ")}) / $nTokens * 2.0, 1.0)) * 0.2) AS quality_score""".stripMargin
    }

    def langScores: String =
      LangKeywords.map { case (lang, kws) =>
        s"(${kws.map(occSql(padded, _)).mkString(" + ")}) AS score_$lang"
      }.mkString(",\n  ")

    def predictedLang: String = {
      val g = LangKeywords.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
      LangKeywords.map { case (l, _) => s"WHEN score_$l = $g THEN '$l'" }
        .mkString("CASE ", " ", " END")
    }

    /** Mirrors repNGramChars: duplicated-gram coverage of word
      * positions, char-weighted. `w[pos:pos+n-1]` is DuckDB's 1-based
      * inclusive slice = the n words the Spark shingle joins.
      */
    def repNGramChars(ns: Seq[Int] = Seq(2, 3, 4)): String = {
      val nList = ns.mkString("[", ", ", "]")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |tot AS (SELECT doc_id,
         |          list_reduce(list_prepend(CAST(0 AS BIGINT),
         |            list_transform(w, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) AS total_chars
         |        FROM w),
         |p AS (SELECT doc_id, w, n, CAST(unnest(range(1, greatest(len(w) - n + 2, 1))) AS INT) AS pos
         |      FROM w CROSS JOIN (SELECT unnest($nList) AS n) t),
         |g AS (SELECT doc_id, n, pos, array_to_string(w[pos:pos+n-1], ' ') AS gram FROM p),
         |dup AS (SELECT doc_id, n, gram FROM g GROUP BY 1, 2, 3 HAVING COUNT(*) > 1),
         |cov AS (SELECT DISTINCT doc_id, n, CAST(unnest(range(pos, pos + n)) AS INT) AS wi
         |        FROM (SELECT g.doc_id, g.n, g.pos FROM g JOIN dup USING (doc_id, n, gram))),
         |wl AS (SELECT doc_id, CAST(unnest(range(1, len(w) + 1)) AS INT) AS wi, w FROM w),
         |wl2 AS (SELECT doc_id, wi, CAST(length(w[wi]) AS BIGINT) AS wlen FROM wl),
         |dc AS (SELECT cov.doc_id, cov.n, CAST(SUM(wl2.wlen) AS BIGINT) AS dup_chars
         |       FROM cov JOIN wl2 USING (doc_id, wi) GROUP BY 1, 2),
         |base AS (SELECT tot.doc_id, t.n, tot.total_chars
         |         FROM tot CROSS JOIN (SELECT unnest($nList) AS n) t)
         |SELECT b.doc_id, CAST(b.n AS INT) AS n,
         |  COALESCE(dc.dup_chars, 0) AS dup_chars, b.total_chars,
         |  CASE WHEN b.total_chars > 0
         |       THEN round(CAST(COALESCE(dc.dup_chars, 0) AS DOUBLE) / b.total_chars, 6) END AS rep_frac
         |FROM base b LEFT JOIN dc ON dc.doc_id = b.doc_id AND dc.n = b.n
         |ORDER BY 1, 2""".stripMargin
    }

    /** Mirrors qualityGate — the verified fragments composed as
      * subqueries (DuckDB accepts a WITH inside each).
      */
    def qualityGate(minLogprob: Double = -3.43, minEntropy: Double = 2.77): String =
      s"""SELECT s.doc_id, s.n_tokens, s.quality_score,
         |  r.distinct_ratio, r.top_word_frac, r.pass_repetition,
         |  l.avg_logprob, e.entropy,
         |  (r.pass_repetition AND COALESCE(l.avg_logprob >= $minLogprob, FALSE)
         |   AND COALESCE(e.entropy >= $minEntropy, FALSE)) AS pass_quality
         |FROM (SELECT doc_id, $textStats FROM documents) s
         |JOIN (${repetitionStats()}) r USING (doc_id)
         |LEFT JOIN ($bigramLmScore) l USING (doc_id)
         |LEFT JOIN ($charEntropy) e USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin

    /** Mirrors phraseSearch: VALUES phrase dictionary, positional
      * postings restricted to the query terms, the same pos+1 join.
      * Postings are MATERIALIZED — referenced from both join sides.
      */
    def phraseSearch(phrases: Seq[String] = PhraseQueries): String = {
      val vals = phrases.map { p =>
        val ws = p.split(" ")
        s"('$p', '${ws(0)}', '${ws(1)}')"
      }.mkString(", ")
      val terms = phrases.flatMap(_.split(" ")).distinct
        .map(t => s"'$t'").mkString(", ")
      s"""WITH ph(phrase, w1, w2) AS (VALUES $vals),
         |b AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS MATERIALIZED (
         |  SELECT doc_id, pos, word FROM (
         |    SELECT doc_id, CAST(t.i AS INT) AS pos, w[CAST(t.i AS INT)] AS word
         |    FROM b, unnest(range(1, len(w) + 1)) t(i))
         |  WHERE word IN ($terms))
         |SELECT ph.phrase, CAST(COUNT(DISTINCT a.doc_id) AS BIGINT) AS n_docs,
         |  COUNT(*) AS n_hits
         |FROM ph JOIN p a ON a.word = ph.w1
         |JOIN p b2 ON b2.doc_id = a.doc_id AND b2.pos = a.pos + 1 AND b2.word = ph.w2
         |GROUP BY ph.phrase ORDER BY ph.phrase""".stripMargin
    }

    /** Mirrors the n-word [[TextAnalysis.phraseSearchPostings]]: the
      * same anchor-aggregation algorithm (each query-term posting votes
      * for the start position `pos - idx`; a phrase matches where all
      * n votes arrive) over re-derived postings — for the indexed query
      * the identical-result property IS the index-reader ≡ re-deriver
      * proof.
      */
    def phraseSearchN(phrases: Seq[String] = PhraseQueriesNgram): String = {
      val vals = phrases.flatMap { p =>
        val ws = p.split(" ")
        ws.zipWithIndex.map { case (w, i) => s"('$p', $i, '$w', ${ws.length})" }
      }.mkString(", ")
      val terms = phrases.flatMap(_.split(" ")).distinct
        .map(t => s"'$t'").mkString(", ")
      s"""WITH ph(phrase, idx, word, n_words) AS (VALUES $vals),
         |b AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS MATERIALIZED (
         |  SELECT doc_id, pos, word FROM (
         |    SELECT doc_id, CAST(t.i AS INT) AS pos, w[CAST(t.i AS INT)] AS word
         |    FROM b, unnest(range(1, len(w) + 1)) t(i))
         |  WHERE word IN ($terms)),
         |m AS (SELECT ph.phrase, ph.n_words, p.doc_id, p.pos - ph.idx AS anchor,
         |        COUNT(*) AS n_terms
         |      FROM p JOIN ph USING (word) GROUP BY 1, 2, 3, 4),
         |h AS (SELECT phrase, doc_id FROM m WHERE n_terms = n_words)
         |SELECT phrase, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, COUNT(*) AS n_hits
         |FROM h GROUP BY phrase ORDER BY phrase""".stripMargin
    }

    /** Mirrors [[TextAnalysis.minWindowCover]]: the same conditional
      * running-max window over re-derived postings.
      */
    def minWindowCover(terms: Seq[String] = Bm25QueryTerms, topK: Int = 25): String = {
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val lastCols = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN word = '$t' THEN pos END) OVER " +
          s"(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp_$i"
      }.mkString(",\n         |    ")
      val notNull = terms.indices.map(i => s"lp_$i IS NOT NULL").mkString(" AND ")
      val leastOf = terms.indices.map(i => s"lp_$i").mkString("least(", ", ", ")")
      s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS MATERIALIZED (
         |  SELECT doc_id, pos, word FROM (
         |    SELECT doc_id, CAST(t.i AS INT) AS pos, w[CAST(t.i AS INT)] AS word
         |    FROM b, unnest(range(1, len(w) + 1)) t(i))
         |  WHERE word IN ($inList)),
         |l AS (SELECT doc_id, pos,
         |    $lastCols
         |  FROM p),
         |s AS (SELECT doc_id, CAST(pos - $leastOf + 1 AS INT) AS window_tokens
         |      FROM l WHERE $notNull),
         |d AS (SELECT doc_id, MIN(window_tokens) AS min_window FROM s GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY min_window, doc_id) AS INT) AS rank,
         |  doc_id, min_window
         |FROM d ORDER BY min_window, doc_id LIMIT $topK""".stripMargin
    }

    /** Mirrors [[TextAnalysis.minWindowSnippets]]: same window chain;
      * the argmin is replayed as min-window-then-min-start (≡ the
      * Spark side's lexicographic struct-min), snippet = the 1-based
      * inclusive list slice.
      */
    def minWindowSnippets(terms: Seq[String] = Bm25QueryTerms, topK: Int = 10): String = {
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val lastCols = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN word = '$t' THEN pos END) OVER " +
          s"(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp_$i"
      }.mkString(",\n         |    ")
      val notNull = terms.indices.map(i => s"lp_$i IS NOT NULL").mkString(" AND ")
      val leastOf = terms.indices.map(i => s"lp_$i").mkString("least(", ", ", ")")
      s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS MATERIALIZED (
         |  SELECT doc_id, pos, word FROM (
         |    SELECT doc_id, CAST(t.i AS INT) AS pos, w[CAST(t.i AS INT)] AS word
         |    FROM b, unnest(range(1, len(w) + 1)) t(i))
         |  WHERE word IN ($inList)),
         |l AS (SELECT doc_id, pos,
         |    $lastCols
         |  FROM p),
         |s AS (SELECT doc_id, CAST(pos - $leastOf + 1 AS INT) AS win, $leastOf AS st
         |      FROM l WHERE $notNull),
         |d AS (SELECT doc_id, MIN(win) AS min_window FROM s GROUP BY 1),
         |st AS (SELECT s.doc_id, d.min_window, MIN(s.st) AS start_pos
         |       FROM s JOIN d ON s.doc_id = d.doc_id AND s.win = d.min_window
         |       GROUP BY 1, 2),
         |t AS (SELECT * FROM st ORDER BY min_window, doc_id LIMIT $topK)
         |SELECT CAST(row_number() OVER (ORDER BY t.min_window, t.doc_id) AS INT) AS rank,
         |  t.doc_id, t.min_window,
         |  array_to_string(b.w[t.start_pos : t.start_pos + t.min_window - 1], ' ') AS snippet
         |FROM t JOIN b ON b.doc_id = t.doc_id
         |ORDER BY rank""".stripMargin
    }

    /** Mirrors [[TextAnalysis.termProximity]]: the same merged-order
      * adjacency window over re-derived postings.
      */
    def termProximity(terms: Seq[String] = Bm25QueryTerms): String = {
      val vals = (for {
        i <- terms.indices; j <- terms.indices if i < j
        p = s"${terms(i)}|${terms(j)}"
        w <- Seq(terms(i), terms(j))
      } yield s"('$p', '$w')").mkString(", ")
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""WITH ph(pair, word) AS (VALUES $vals),
         |b AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS MATERIALIZED (
         |  SELECT doc_id, pos, word FROM (
         |    SELECT doc_id, CAST(t.i AS INT) AS pos, w[CAST(t.i AS INT)] AS word
         |    FROM b, unnest(range(1, len(w) + 1)) t(i))
         |  WHERE word IN ($inList)),
         |m AS (SELECT ph.pair, p.doc_id, p.pos, p.word FROM p JOIN ph USING (word)),
         |a AS (SELECT pair, doc_id, word,
         |        pos - lag(pos) OVER (PARTITION BY pair, doc_id ORDER BY pos) AS dist,
         |        lag(word) OVER (PARTITION BY pair, doc_id ORDER BY pos) AS pw
         |      FROM m),
         |d AS (SELECT pair, doc_id, MIN(dist) AS min_dist
         |      FROM a WHERE pw IS NOT NULL AND word <> pw GROUP BY 1, 2)
         |SELECT pair, COUNT(*) AS n_docs_both, MIN(min_dist) AS best_dist,
         |  round(CAST(SUM(min_dist) AS DOUBLE) / COUNT(*), 6) AS avg_min_dist
         |FROM d GROUP BY pair ORDER BY pair""".stripMargin
    }

    /** Mirrors blocklistFilter: VALUES dictionaries, the same two-tier
      * hit union, rounded-then-compared verdict.
      */
    def blocklistFilter(terms: Seq[(String, Int)] = BlockTerms,
        phrases: Seq[(String, Int)] = BlockPhrases,
        maxPer100: Double = BlockMaxPer100): String = {
      def vals(d: Seq[(String, Int)]) = d.map { case (t, s) => s"('$t', $s)" }.mkString(", ")
      s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |t(term, sev) AS (VALUES ${vals(terms)}),
         |p(term, sev) AS (VALUES ${vals(phrases)}),
         |wh AS (SELECT doc_id, term, sev
         |       FROM (SELECT doc_id, unnest(w) AS term FROM wl) JOIN t USING (term)),
         |ph AS (SELECT doc_id, term, sev
         |       FROM (SELECT doc_id, unnest(${graft.functions.Text.O.shingles("text", 2)}) AS term
         |             FROM wl) JOIN p USING (term)),
         |h AS (SELECT doc_id, COUNT(*) AS n_hits, COUNT(DISTINCT term) AS n_distinct_terms,
         |        CAST(SUM(sev) AS BIGINT) AS sev_sum
         |      FROM (SELECT * FROM wh UNION ALL SELECT * FROM ph) GROUP BY doc_id)
         |SELECT wl.doc_id, CAST(len(w) AS INT) AS n_words,
         |  COALESCE(h.n_hits, 0) AS n_hits,
         |  COALESCE(h.n_distinct_terms, 0) AS n_distinct_terms,
         |  COALESCE(h.sev_sum, 0) AS sev_sum,
         |  round(COALESCE(h.sev_sum, 0) * 100.0 / len(w), 6) AS block_score,
         |  (round(COALESCE(h.sev_sum, 0) * 100.0 / len(w), 6) <= $maxPer100) AS pass_blocklist
         |FROM wl LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin
    }

    /** Mirrors charEntropy (decimal-backed p·ln(p) sum). */
    def charEntropy: String =
      """WITH ch AS (SELECT doc_id, length(text) AS len,
        |              unnest(list_transform(range(1, length(text) + 1), i -> text[i])) AS ch
        |            FROM documents),
        |c AS (SELECT doc_id, len, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2, 3)
        |SELECT doc_id, COUNT(*) AS n_distinct_chars,
        |  CAST(-SUM(CAST(((c / len) * ln(c / len)) AS DECIMAL(38,6))) AS DOUBLE) AS entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

    /** Mirrors zipfFit (identical sums-then-double expression shape). */
    def zipfFit(topR: Int = 200): String = {
      import graft.functions.{Num => N}
      s"""WITH cnt AS (SELECT w, COUNT(*) AS c
         |             FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |             GROUP BY w),
         |top AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT $topR),
         |xy AS (SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE)) AS x,
         |              ln(CAST(c AS DOUBLE)) AS y FROM top),
         |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |        ${N.O.sum("x")} AS sx, ${N.O.sum("y")} AS sy,
         |        ${N.O.sum("x * x")} AS sxx, ${N.O.sum("x * y")} AS sxy,
         |        ${N.O.sum("y * y")} AS syy
         |      FROM xy)
         |SELECT CAST(n AS BIGINT) AS n_words,
         |  round(${N.O.fitSlope()}, 6) AS zipf_slope,
         |  round(${N.O.fitCorr()}, 6) AS corr
         |FROM g""".stripMargin
    }

    /** Mirrors pmiCollocations (same ln-argument association order). */
    def pmiCollocations(minCount: Long = 5L, k: Int = 50): String =
      s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |bg AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
         |       FROM wl WHERE len(w) >= 2),
         |cb AS (SELECT bg, COUNT(*) AS c_bg FROM bg GROUP BY 1),
         |cw AS (SELECT unnest(w) AS w FROM wl),
         |cwc AS (SELECT w, COUNT(*) AS c_w FROM cw GROUP BY 1),
         |tot AS (SELECT (SELECT SUM(c_bg) FROM cb) AS n_bg, (SELECT SUM(c_w) FROM cwc) AS n_w)
         |SELECT w1, w2, c_bg, pmi FROM (
         |  SELECT string_split(cb.bg, ' ')[1] AS w1, string_split(cb.bg, ' ')[2] AS w2, cb.c_bg,
         |    round(ln(CAST(cb.c_bg AS DOUBLE)) + 2.0 * ln(CAST(t.n_w AS DOUBLE))
         |          - ln(CAST(t.n_bg AS DOUBLE)) - ln(CAST(a.c_w AS DOUBLE))
         |          - ln(CAST(b.c_w AS DOUBLE)), 6) AS pmi
         |  FROM cb
         |  JOIN cwc a ON a.w = string_split(cb.bg, ' ')[1]
         |  JOIN cwc b ON b.w = string_split(cb.bg, ' ')[2]
         |  CROSS JOIN tot t
         |  WHERE cb.c_bg >= $minCount)
         |ORDER BY pmi DESC, w1, w2 LIMIT $k""".stripMargin

    /** Mirrors bigramLmScore (decimal-backed mean of per-bigram ln). */
    def bigramLmScore: String =
      s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |b AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
         |      FROM wl WHERE len(w) >= 2),
         |s AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM b),
         |cb AS (SELECT bg, COUNT(*) AS c_bg FROM s GROUP BY 1),
         |cw AS (SELECT w1, COUNT(*) AS c_w1 FROM s GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  ${graft.functions.Num.O.avg("ln(CAST(cb.c_bg AS DOUBLE) / cw.c_w1)")} AS avg_logprob
         |FROM s JOIN cb USING (bg) JOIN cw USING (w1)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

    /** Mirrors stupidBackoffScores: reference-count CTEs and per-tier
      * ln scores rounded through DECIMAL(38,6). The oracle keeps the
      * flat five-left-join form; the engine's fused three-join form
      * (tier tables pre-joined on the reference side) computes the
      * IDENTICAL per-tier log expressions, so values still hash-match.
      * α² is rendered as the PRODUCT (0.4*0.4), the same double both
      * engines compute (a 0.16 literal is a different double).
      */
    def stupidBackoffScores(refPredSql: String): String =
      s"""WITH wl AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         |tg AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g3
         |       FROM wl WHERE len(w) >= 3),
         |s AS (SELECT doc_id, g3, COUNT(*) AS n FROM tg GROUP BY 1, 2),
         |rw AS (SELECT w FROM wl WHERE $refPredSql),
         |r3 AS (SELECT unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g3
         |       FROM rw WHERE len(w) >= 3),
         |cnt3 AS (SELECT g3, COUNT(*) AS c3 FROM r3 GROUP BY 1),
         |r2 AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g2
         |       FROM rw WHERE len(w) >= 2),
         |cnt2 AS (SELECT g2, COUNT(*) AS c2 FROM r2 GROUP BY 1),
         |r1 AS (SELECT unnest(w) AS w1c FROM rw),
         |cnt1 AS (SELECT w1c, COUNT(*) AS c1 FROM r1 GROUP BY 1),
         |sc AS (SELECT CAST(SUM(c1) AS BIGINT) AS ref_n, COUNT(*) AS ref_v FROM cnt1),
         |parts AS (SELECT doc_id, g3, n,
         |    string_split(g3, ' ')[1] || ' ' || string_split(g3, ' ')[2] AS ctx,
         |    string_split(g3, ' ')[2] || ' ' || string_split(g3, ' ')[3] AS bg23,
         |    string_split(g3, ' ')[2] AS w2, string_split(g3, ' ')[3] AS w3 FROM s),
         |j AS (SELECT p.doc_id, p.n,
         |    CASE WHEN t3.c3 IS NOT NULL THEN 0 WHEN b.c2 IS NOT NULL THEN 1 ELSE 2 END AS tier,
         |    CASE WHEN t3.c3 IS NOT NULL THEN ln(CAST(t3.c3 AS DOUBLE) / cx.c2)
         |         WHEN b.c2 IS NOT NULL THEN ln($SbAlpha * CAST(b.c2 AS DOUBLE) / u2.c1)
         |         ELSE ln(($SbAlpha * $SbAlpha) * (COALESCE(u3.c1, 0) + 0.5) / (CAST(sc.ref_n AS DOUBLE) + 0.5 * sc.ref_v)) END AS lp
         |  FROM parts p
         |  LEFT JOIN cnt3 t3 USING (g3)
         |  LEFT JOIN cnt2 cx ON cx.g2 = p.ctx
         |  LEFT JOIN cnt2 b ON b.g2 = p.bg23
         |  LEFT JOIN cnt1 u2 ON u2.w1c = p.w2
         |  LEFT JOIN cnt1 u3 ON u3.w1c = p.w3
         |  CROSS JOIN sc)
         |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_trigrams,
         |  CAST(SUM(CASE WHEN tier = 0 THEN n ELSE 0 END) AS BIGINT) AS n_tri_hits,
         |  CAST(SUM(CASE WHEN tier = 1 THEN n ELSE 0 END) AS BIGINT) AS n_bi_backoff,
         |  CAST(SUM(CASE WHEN tier = 2 THEN n ELSE 0 END) AS BIGINT) AS n_uni_backoff,
         |  (CAST(SUM(CAST(lp AS DECIMAL(38,6)) * n) AS DOUBLE) / SUM(n)) AS avg_logscore
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

    /** Mirrors knBigramScores: the same reference count tables rolled
      * up from the distinct-bigram counts (COUNT(*) per w1/w2 IS the
      * N1+ fan-out), the same Pcont floor, and the interpolation
      * rendered with the identical operator association so the doubles
      * are bit-equal. Occurrence-weighted decimal mean, the q86/q159
      * convention.
      */
    def knBigramScores(refPredSql: String): String =
      s"""WITH wl AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         |b AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
         |      FROM wl WHERE len(w) >= 2),
         |s AS (SELECT doc_id, bg, COUNT(*) AS n FROM b GROUP BY 1, 2),
         |rb AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
         |       FROM wl WHERE ($refPredSql) AND len(w) >= 2),
         |cb AS (SELECT bg, COUNT(*) AS c_bg FROM rb GROUP BY 1),
         |ctx AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c_bg) AS BIGINT) AS c_w1,
         |          COUNT(*) AS n1fw FROM cb GROUP BY 1),
         |cont AS (SELECT string_split(bg, ' ')[2] AS w2, COUNT(*) AS n_cont FROM cb GROUP BY 1),
         |sc AS (SELECT COUNT(*) AS b_tot, COUNT(DISTINCT string_split(bg, ' ')[2]) AS v_cont FROM cb),
         |parts AS (SELECT doc_id, bg, n,
         |    string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2 FROM s),
         |j0 AS (SELECT p.doc_id, p.n, cb.c_bg, cx.c_w1, cx.n1fw,
         |    (CAST(COALESCE(ct.n_cont, 0) AS DOUBLE) + 0.5)
         |      / (CAST(sc.b_tot AS DOUBLE) + 0.5 * CAST(sc.v_cont + 1 AS DOUBLE)) AS pc
         |  FROM parts p
         |  LEFT JOIN cb USING (bg)
         |  LEFT JOIN ctx cx ON cx.w1 = p.w1
         |  LEFT JOIN cont ct ON ct.w2 = p.w2
         |  CROSS JOIN sc),
         |j AS (SELECT doc_id, n, c_bg IS NOT NULL AS hit, c_w1 IS NOT NULL AS ctx_hit,
         |    ln(CASE WHEN c_w1 IS NOT NULL
         |        THEN greatest(CAST(COALESCE(c_bg, 0) AS DOUBLE) - $KnDiscount, CAST(0 AS DOUBLE)) / c_w1
         |             + $KnDiscount * CAST(n1fw AS DOUBLE) / c_w1 * pc
         |        ELSE pc END) AS lp
         |  FROM j0)
         |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(CASE WHEN hit THEN n ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(SUM(CASE WHEN ctx_hit THEN n ELSE 0 END) AS BIGINT) AS n_ctx_hits,
         |  (CAST(SUM(CAST(lp AS DECIMAL(38,6)) * n) AS DOUBLE) / SUM(n)) AS kn_avg_logprob
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

    /** Mirrors [[TextAnalysis.knWindowLocalize]]: the knBigramScores
      * model chain scored per (doc, chunk) over the q88 chunk grid,
      * then the round-then-rank worst-window localization.
      */
    def knWindowLocalize(refPredSql: String, chunkTokens: Int = 32,
        stride: Int = 24): String =
      s"""WITH wl AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         |ch AS (SELECT doc_id, CAST((start - 1) / $stride AS INT) AS chunk_idx,
         |         w[start:least(start + ${chunkTokens - 1}, n)] AS cw
         |       FROM (SELECT doc_id, w, len(w) AS n,
         |               CAST(unnest(range(1, len(w) + 1, $stride)) AS INT) AS start
         |             FROM wl)),
         |chb AS (SELECT doc_id, chunk_idx,
         |          unnest(list_transform(range(1, len(cw)), i -> cw[i] || ' ' || cw[i+1])) AS bg
         |        FROM ch WHERE len(cw) >= 2),
         |s AS (SELECT doc_id, chunk_idx, bg, COUNT(*) AS n FROM chb GROUP BY 1, 2, 3),
         |rb AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
         |       FROM wl WHERE ($refPredSql) AND len(w) >= 2),
         |cb AS (SELECT bg, COUNT(*) AS c_bg FROM rb GROUP BY 1),
         |ctx AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c_bg) AS BIGINT) AS c_w1,
         |          COUNT(*) AS n1fw FROM cb GROUP BY 1),
         |cont AS (SELECT string_split(bg, ' ')[2] AS w2, COUNT(*) AS n_cont FROM cb GROUP BY 1),
         |sc AS (SELECT COUNT(*) AS b_tot, COUNT(DISTINCT string_split(bg, ' ')[2]) AS v_cont FROM cb),
         |parts AS (SELECT doc_id, chunk_idx, bg, n,
         |    string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2 FROM s),
         |j0 AS (SELECT p.doc_id, p.chunk_idx, p.n, cb.c_bg, cx.c_w1, cx.n1fw,
         |    (CAST(COALESCE(ct.n_cont, 0) AS DOUBLE) + 0.5)
         |      / (CAST(sc.b_tot AS DOUBLE) + 0.5 * CAST(sc.v_cont + 1 AS DOUBLE)) AS pc
         |  FROM parts p
         |  LEFT JOIN cb USING (bg)
         |  LEFT JOIN ctx cx ON cx.w1 = p.w1
         |  LEFT JOIN cont ct ON ct.w2 = p.w2
         |  CROSS JOIN sc),
         |j AS (SELECT doc_id, chunk_idx, n,
         |    ln(CASE WHEN c_w1 IS NOT NULL
         |        THEN greatest(CAST(COALESCE(c_bg, 0) AS DOUBLE) - $KnDiscount, CAST(0 AS DOUBLE)) / c_w1
         |             + $KnDiscount * CAST(n1fw AS DOUBLE) / c_w1 * pc
         |        ELSE pc END) AS lp
         |  FROM j0),
         |kc AS (SELECT doc_id, chunk_idx,
         |    round(CAST(SUM(CAST(lp AS DECIMAL(38,6)) * n) AS DOUBLE) / SUM(n), 6) AS sc6
         |  FROM j GROUP BY 1, 2),
         |loc AS (SELECT doc_id, chunk_idx, sc6,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY sc6, chunk_idx) AS rn,
         |    COUNT(*) OVER (PARTITION BY doc_id) AS n_chunks,
         |    MIN(sc6) OVER (PARTITION BY doc_id) AS worst_score,
         |    MAX(sc6) OVER (PARTITION BY doc_id) AS best_score
         |  FROM kc)
         |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
         |  CAST(chunk_idx AS INT) AS worst_chunk, worst_score, best_score,
         |  round(best_score - worst_score, 6) AS score_range
         |FROM loc WHERE rn = 1 ORDER BY doc_id""".stripMargin

    /** Mirrors tfidfTopTerms (DuckDB `log` is base-10 — `ln` is the
      * twin of Spark's `log`). Rounded before ranking in BOTH engines.
      */
    def tfidfTopTerms(k: Int = 3): String =
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT doc_id, term, tf, df, tfidf, rank FROM (
         |  SELECT t.doc_id, t.term, t.tf, d.df,
         |    round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf,
         |    CAST(row_number() OVER (PARTITION BY t.doc_id
         |      ORDER BY round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) DESC, t.term) AS INT) AS rank
         |  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n)
         |WHERE rank <= $k ORDER BY doc_id, rank""".stripMargin

    /** Mirrors [[TextAnalysis.dirichletQL]]: same contribution shape
      * (tf and dl from string_split — re-derived from scratch, so the
      * hash gate proves postings-reader ≡ re-deriver for this ranker
      * too), same left-associated sum, rounded before ranking.
      */
    def dirichletQL(terms: Seq[String] = Bm25QueryTerms,
        mu: Double = 300.0, topK: Int = 20): String = {
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        val esc = t.replace("'", "''")
        s"len(list_filter(string_split(text, ' '), x -> x = '$esc')) AS tf_$i"
      }.mkString(",\n         |    ")
      val cfCols = terms.indices.map(i => s"SUM(tf_$i) AS cf_$i").mkString(", ")
      val contribs = terms.indices.map { i =>
        s"ln((CAST(tf_$i AS DOUBLE) + $mu * CAST(cf_$i AS DOUBLE) / CAST(ctot AS DOUBLE)) / " +
          s"(CAST(dl AS DOUBLE) + $mu))"
      }.mkString(" + ")
      val nHits = terms.indices
        .map(i => s"(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH base AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |    $tfCols
         |  FROM documents),
         |stats AS (SELECT SUM(dl) AS ctot, $cfCols FROM base),
         |scored AS (SELECT doc_id, CAST($nHits AS INT) AS n_hits,
         |    round($contribs, 6) AS score
         |  FROM base CROSS JOIN stats)
         |SELECT doc_id, n_hits, score,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
         |FROM scored WHERE n_hits > 0 ORDER BY score DESC, doc_id LIMIT $topK""".stripMargin
    }

    /** Shared RM3 CTE chain ending in `rm3w(word, is_original,
      * exp_rank, rm1_weight, rm3_weight)`: feedback BM25 from scratch
      * (the proven [[bm25TopK]] subquery), RM1 through DECIMAL(38,18)
      * contribution sums, round-then-rank expansion selection, the λ
      * interpolation — every arithmetic step the bit-identical twin of
      * [[TextAnalysis.rm3Weights]].
      */
    /** The RM1 chain alone, ending in `rm1(word, rm1)` — shared by the
      * RM3 oracles and the q288 clarity replay.
      */
    def rm1Ctes(terms: Seq[String] = Bm25QueryTerms, k1: Double = 1.2,
        b: Double = 0.75, fbDocs: Int = Rm3FeedbackDocs): String =
      s"""fb AS MATERIALIZED (SELECT doc_id, score FROM (${bm25TopK(terms, k1, b, fbDocs)})),
         |rtot AS (SELECT CAST(SUM(CAST(score AS DECIMAL(38,6))) AS DOUBLE) AS s_tot FROM fb),
         |fbw AS (SELECT doc_id, score / s_tot AS w_d FROM fb CROSS JOIN rtot),
         |fbb AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
         |        WHERE doc_id IN (SELECT doc_id FROM fb)),
         |fbdl AS (SELECT doc_id, COUNT(*) AS dl FROM fbb GROUP BY 1),
         |fbtf AS (SELECT doc_id, word, COUNT(*) AS tf FROM fbb GROUP BY 1, 2),
         |rm1 AS MATERIALIZED (SELECT word,
         |    CAST(SUM(CAST(w.w_d * (CAST(t.tf AS DOUBLE) / d.dl) AS DECIMAL(38,18))) AS DOUBLE) AS rm1
         |  FROM fbtf t JOIN fbdl d USING (doc_id) JOIN fbw w USING (doc_id) GROUP BY word)""".stripMargin

    def rm3WeightCtes(terms: Seq[String] = Bm25QueryTerms,
        k1: Double = 1.2, b: Double = 0.75, fbDocs: Int = Rm3FeedbackDocs,
        expTerms: Int = Rm3ExpansionTerms, lambda: Double = Rm3Lambda): String = {
      val termList = terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
      val origVals = terms
        .map(t => s"('${t.replace("'", "''")}', ${1.0 / terms.size})").mkString(", ")
      s"""${rm1Ctes(terms, k1, b, fbDocs)},
         |orig(word, p_orig) AS (VALUES $origVals),
         |rexp AS (SELECT word, rm1,
         |    CAST(row_number() OVER (ORDER BY round(rm1, 6) DESC, word) AS INT) AS exp_rank
         |  FROM rm1 WHERE word NOT IN ($termList)),
         |rm3w AS MATERIALIZED (
         |  SELECT o.word, TRUE AS is_original, 0 AS exp_rank,
         |    round(COALESCE(r.rm1, CAST(0 AS DOUBLE)), 6) AS rm1_weight,
         |    round($lambda * CAST(o.p_orig AS DOUBLE)
         |      + ${1 - lambda} * COALESCE(r.rm1, CAST(0 AS DOUBLE)), 6) AS rm3_weight
         |  FROM orig o LEFT JOIN rm1 r USING (word)
         |  UNION ALL
         |  SELECT word, FALSE AS is_original, exp_rank, round(rm1, 6) AS rm1_weight,
         |    round(${1 - lambda} * rm1, 6) AS rm3_weight
         |  FROM rexp WHERE exp_rank <= $expTerms)""".stripMargin
    }

    /** Mirrors [[TextAnalysis.clarityScore]]: the same RM1 chain, the
      * collection model from re-tokenized counts, the KL sum through
      * DECIMAL(38,18).
      */
    def clarityScore(terms: Seq[String] = Bm25QueryTerms): String =
      s"""WITH ${rm1Ctes(terms)},
         |cfq AS (SELECT word, COUNT(*) AS cf FROM
         |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY 1),
         |ct AS (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ctot FROM documents)
         |SELECT COUNT(*) AS n_terms,
         |  round(CAST(SUM(CAST(r.rm1 * ln(r.rm1 / (CAST(c.cf AS DOUBLE) / t.ctot))
         |    AS DECIMAL(38,18))) AS DOUBLE), 6) AS clarity
         |FROM rm1 r JOIN cfq c USING (word) CROSS JOIN ct t""".stripMargin

    /** Mirrors [[TextAnalysis.percolateCensus]]: the VALUES query
      * dictionary, distinct presence, the conjunctive count test,
      * every stored query reporting.
      */
    def percolateCensus(
        queries: Seq[(String, Seq[String])] = PercolatorQueries): String = {
      val vals = queries.flatMap { case (q, ts) =>
        val d = ts.distinct
        d.map(t => s"('$q', '${t.replace("'", "''")}', ${d.size})")
      }.mkString(", ")
      val qids = queries.map(q => s"('${q._1}')").mkString(", ")
      s"""WITH qt(query_id, term, n_terms) AS (VALUES $vals),
         |pres AS (SELECT DISTINCT doc_id, word FROM
         |    (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
         |m AS (SELECT q.query_id, q.n_terms, p.doc_id, COUNT(*) AS n_hit
         |      FROM pres p JOIN qt q ON p.word = q.term GROUP BY 1, 2, 3),
         |mm AS (SELECT query_id, doc_id FROM m WHERE n_hit = n_terms),
         |cnt AS (SELECT query_id, COUNT(*) AS n_docs, min(doc_id) AS first_doc FROM mm GROUP BY 1),
         |ids(query_id) AS (VALUES $qids)
         |SELECT i.query_id, CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs, c.first_doc
         |FROM ids i LEFT JOIN cnt c USING (query_id) ORDER BY i.query_id""".stripMargin
    }

    /** Mirrors [[TextAnalysis.percolateTableCensus]]: the stored-query
      * table rebuilt in SQL (per-source top-N by in-source df, df-cap
      * eligibility, same tie-break), then the same conjunctive count
      * test. qt is MATERIALIZED (referenced by the match join, the
      * per-query sizing, and the reporting id list).
      */
    def percolateTableCensus(topN: Int = 3): String =
      s"""WITH pres AS MATERIALIZED (SELECT DISTINCT doc_id, word FROM
         |    (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
         |nd AS (SELECT COUNT(*) AS nd FROM documents),
         |dfq AS (SELECT word, COUNT(*) AS df FROM pres GROUP BY 1),
         |el AS (SELECT word FROM dfq CROSS JOIN nd WHERE df * 2 <= nd),
         |sd AS (SELECT d.source, p.word, COUNT(*) AS sdf
         |       FROM pres p JOIN documents d USING (doc_id) JOIN el USING (word)
         |       GROUP BY 1, 2),
         |qt AS MATERIALIZED (SELECT 'src_alert_' || source AS query_id, word AS term FROM (
         |    SELECT source, word,
         |           ROW_NUMBER() OVER (PARTITION BY source ORDER BY sdf DESC, word) AS rn
         |    FROM sd) WHERE rn <= $topN),
         |ntq AS (SELECT query_id, COUNT(*) AS n_terms
         |        FROM (SELECT DISTINCT query_id, term FROM qt) GROUP BY 1),
         |m AS (SELECT q.query_id, n.n_terms, p.doc_id, COUNT(*) AS n_hit
         |      FROM pres p JOIN qt q ON p.word = q.term JOIN ntq n USING (query_id)
         |      GROUP BY 1, 2, 3),
         |mm AS (SELECT query_id, doc_id FROM m WHERE n_hit = n_terms),
         |cnt AS (SELECT query_id, COUNT(*) AS n_docs, min(doc_id) AS first_doc FROM mm GROUP BY 1),
         |ids AS (SELECT DISTINCT query_id FROM qt)
         |SELECT i.query_id, CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs, c.first_doc
         |FROM ids i LEFT JOIN cnt c USING (query_id) ORDER BY i.query_id""".stripMargin

    /** Mirrors the q338 composition
      * ([[TextAnalysis.percolateBoolTableCensus]] over
      * [[TextAnalysis.percolatorRankedTerms]] slices): the ranked query
      * table rebuilt in SQL, must = head ranks, must_not = the next
      * rank, then the boolean count/anti-join census.
      */
    def percolateBoolTableCensus(mustN: Int = 2, notRank: Int = 3): String =
      s"""WITH pres AS MATERIALIZED (SELECT DISTINCT doc_id, word FROM
         |    (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
         |nd AS (SELECT COUNT(*) AS nd FROM documents),
         |dfq AS (SELECT word, COUNT(*) AS df FROM pres GROUP BY 1),
         |el AS (SELECT word FROM dfq CROSS JOIN nd WHERE df * 2 <= nd),
         |sd AS (SELECT d.source, p.word, COUNT(*) AS sdf
         |       FROM pres p JOIN documents d USING (doc_id) JOIN el USING (word)
         |       GROUP BY 1, 2),
         |qt AS MATERIALIZED (SELECT 'src_alert_' || source AS query_id, word AS term, rn FROM (
         |    SELECT source, word,
         |           ROW_NUMBER() OVER (PARTITION BY source ORDER BY sdf DESC, word) AS rn
         |    FROM sd) WHERE rn <= $notRank),
         |mt AS MATERIALIZED (SELECT query_id, term FROM qt WHERE rn <= $mustN),
         |nt AS (SELECT query_id, term AS not_term FROM qt WHERE rn = $notRank),
         |ntq AS (SELECT query_id, COUNT(*) AS n_terms
         |        FROM (SELECT DISTINCT query_id, term FROM mt) GROUP BY 1),
         |m AS (SELECT q.query_id, n.n_terms, p.doc_id, COUNT(*) AS n_hit
         |      FROM pres p JOIN mt q ON p.word = q.term JOIN ntq n USING (query_id)
         |      GROUP BY 1, 2, 3),
         |mm AS (SELECT query_id, doc_id FROM m WHERE n_hit = n_terms),
         |fb AS (SELECT DISTINCT n.query_id, p.doc_id
         |       FROM pres p JOIN nt n ON p.word = n.not_term),
         |ok AS (SELECT mm.query_id, mm.doc_id
         |       FROM mm LEFT JOIN fb ON fb.query_id = mm.query_id AND fb.doc_id = mm.doc_id
         |       WHERE fb.doc_id IS NULL),
         |cnt AS (SELECT query_id, COUNT(*) AS n_docs, min(doc_id) AS first_doc FROM ok GROUP BY 1),
         |ids AS (SELECT DISTINCT query_id FROM mt)
         |SELECT i.query_id, CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs, c.first_doc
         |FROM ids i LEFT JOIN cnt c USING (query_id) ORDER BY i.query_id""".stripMargin

    /** Shared prefix of the stored-query-store oracles: the ranked
      * per-source query table (the [[percolateTableCensus]] CTE chain)
      * plus the lifecycle classifier m = source-suffix mod 5 — the
      * q340/q341 update/delete split (m=0 dropped, m∈{1,2} updated to
      * top-2, else carried at top-3).
      */
    private def percStoreRankedCte(topN: Int = 3): String =
      s"""WITH pres AS MATERIALIZED (SELECT DISTINCT doc_id, word FROM
         |    (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
         |nd AS (SELECT COUNT(*) AS nd FROM documents),
         |dfq AS (SELECT word, COUNT(*) AS df FROM pres GROUP BY 1),
         |el AS (SELECT word FROM dfq CROSS JOIN nd WHERE df * 2 <= nd),
         |sd AS (SELECT d.source, p.word, COUNT(*) AS sdf
         |       FROM pres p JOIN documents d USING (doc_id) JOIN el USING (word)
         |       GROUP BY 1, 2),
         |rt AS MATERIALIZED (SELECT 'src_alert_' || source AS query_id, word AS term, rn,
         |       CAST(regexp_extract(source, 'src([0-9]+)$$', 1) AS INT) % 5 AS m FROM (
         |    SELECT source, word,
         |           ROW_NUMBER() OVER (PARTITION BY source ORDER BY sdf DESC, word) AS rn
         |    FROM sd) WHERE rn <= $topN)""".stripMargin

    /** Mirrors the q340 composition: the store's EFFECTIVE query table
      * after the lifecycle (dropped sources gone, updated sources at
      * ver 1 / top-2, carried at ver 0 / top-3) rebuilt directly in
      * SQL, then the conjunctive census. The Spark side serves the
      * same table from an IndexStore generation (base − tombstones ∪
      * update fragment, compacted); the hash gate proves the lifecycle
      * machinery loses no stored query and resurrects no deleted one.
      */
    def percStoreCensus(): String =
      s"""${percStoreRankedCte()},
         |qt AS MATERIALIZED (
         |    SELECT query_id, term, CAST(0 AS BIGINT) AS ver FROM rt WHERE m NOT IN (0, 1, 2)
         |    UNION ALL
         |    SELECT query_id, term, CAST(1 AS BIGINT) AS ver FROM rt WHERE m IN (1, 2) AND rn <= 2),
         |ntq AS (SELECT query_id, COUNT(*) AS n_terms
         |        FROM (SELECT DISTINCT query_id, term FROM qt) GROUP BY 1),
         |mt AS (SELECT q.query_id, n.n_terms, p.doc_id, COUNT(*) AS n_hit
         |       FROM pres p JOIN qt q ON p.word = q.term JOIN ntq n USING (query_id)
         |       GROUP BY 1, 2, 3),
         |mm AS (SELECT query_id, doc_id FROM mt WHERE n_hit = n_terms),
         |cnt AS (SELECT query_id, COUNT(*) AS n_docs, min(doc_id) AS first_doc FROM mm GROUP BY 1),
         |ids AS (SELECT query_id, MAX(ver) AS ver FROM qt GROUP BY 1)
         |SELECT i.query_id, i.ver, CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs, c.first_doc
         |FROM ids i LEFT JOIN cnt c USING (query_id) ORDER BY i.query_id""".stripMargin

    /** Mirrors the q341 composition: census over the PRE-LIFECYCLE
      * query table (every source at top-3 — the Spark side rereads it
      * via the pinned-snapshot readAt) vs census over the current
      * effective table, one row per original stored query with its
      * lifecycle status. Dropped queries report NULL for the current
      * census — they no longer exist to match anything.
      */
    def percStoreTravel(): String =
      s"""${percStoreRankedCte()},
         |qt1 AS MATERIALIZED (
         |    SELECT query_id, term FROM rt WHERE m NOT IN (0, 1, 2)
         |    UNION ALL
         |    SELECT query_id, term FROM rt WHERE m IN (1, 2) AND rn <= 2),
         |nt0 AS (SELECT query_id, COUNT(*) AS n_terms
         |        FROM (SELECT DISTINCT query_id, term FROM rt) GROUP BY 1),
         |m0 AS (SELECT q.query_id, n.n_terms, p.doc_id, COUNT(*) AS n_hit
         |       FROM pres p JOIN rt q ON p.word = q.term JOIN nt0 n USING (query_id)
         |       GROUP BY 1, 2, 3),
         |c0 AS (SELECT query_id, COUNT(*) AS n FROM m0 WHERE n_hit = n_terms GROUP BY 1),
         |nt1 AS (SELECT query_id, COUNT(*) AS n_terms
         |        FROM (SELECT DISTINCT query_id, term FROM qt1) GROUP BY 1),
         |m1 AS (SELECT q.query_id, n.n_terms, p.doc_id, COUNT(*) AS n_hit
         |       FROM pres p JOIN qt1 q ON p.word = q.term JOIN nt1 n USING (query_id)
         |       GROUP BY 1, 2, 3),
         |c1 AS (SELECT query_id, COUNT(*) AS n FROM m1 WHERE n_hit = n_terms GROUP BY 1),
         |ids AS (SELECT DISTINCT query_id, m FROM rt)
         |SELECT i.query_id,
         |       CASE WHEN i.m = 0 THEN 'dropped'
         |            WHEN i.m IN (1, 2) THEN 'updated'
         |            ELSE 'carried' END AS status,
         |       CAST(COALESCE(c0.n, 0) AS BIGINT) AS n_docs_v0,
         |       CASE WHEN i.m = 0 THEN NULL
         |            ELSE CAST(COALESCE(c1.n, 0) AS BIGINT) END AS n_docs_v1
         |FROM ids i LEFT JOIN c0 USING (query_id) LEFT JOIN c1 USING (query_id)
         |ORDER BY i.query_id""".stripMargin

    /** Mirrors the q344 composition: the pre-lifecycle and effective
      * query tables rebuilt directly, row-diffed with EXCEPT — the
      * engine side computes the same two frames from the store
      * (pinned readAt vs serving read).
      */
    def percStoreDiff(): String =
      s"""${percStoreRankedCte()},
         |v0 AS MATERIALIZED (SELECT query_id, CAST(0 AS BIGINT) AS ver, term,
         |        CAST(rn AS INT) AS rn FROM rt),
         |cur AS MATERIALIZED (
         |    SELECT query_id, CAST(0 AS BIGINT) AS ver, term, CAST(rn AS INT) AS rn
         |    FROM rt WHERE m NOT IN (0, 1, 2)
         |    UNION ALL
         |    SELECT query_id, CAST(1 AS BIGINT) AS ver, term, CAST(rn AS INT) AS rn
         |    FROM rt WHERE m IN (1, 2) AND rn <= 2)
         |SELECT * FROM (
         |  SELECT *, 'removed' AS change FROM (SELECT * FROM v0 EXCEPT SELECT * FROM cur)
         |  UNION ALL
         |  SELECT *, 'added' AS change FROM (SELECT * FROM cur EXCEPT SELECT * FROM v0))
         |ORDER BY query_id, ver, term""".stripMargin

    /** Mirrors [[TextAnalysis.percolatePhraseCensus]]: the VALUES
      * phrase table with per-term offsets, candidate bases pos − idx,
      * the distinct-offset count test, every phrase reporting.
      */
    def percolatePhraseCensus(
        phrases: Seq[(String, Seq[String])] = PercolatorPhrases): String = {
      val vals = phrases.flatMap { case (q, ws) =>
        ws.zipWithIndex.map { case (w, i) =>
          s"('$q', $i, '${w.replace("'", "''")}', ${ws.size})"
        }
      }.mkString(", ")
      val qids = phrases.map(p => s"('${p._1}')").mkString(", ")
      s"""WITH pt(query_id, idx, term, len) AS (VALUES $vals),
         |tok AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, w[i] AS word FROM (
         |      SELECT doc_id, w, CAST(unnest(range(1, len(w) + 1)) AS INT) AS i
         |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
         |cb AS (SELECT p.query_id, p.len, t.doc_id, t.pos - p.idx AS base,
         |         COUNT(DISTINCT p.idx) AS n_hit
         |       FROM tok t JOIN pt p ON t.word = p.term
         |       GROUP BY 1, 2, 3, 4),
         |mm AS (SELECT DISTINCT query_id, doc_id FROM cb WHERE n_hit = len),
         |cnt AS (SELECT query_id, COUNT(*) AS n_matches, MIN(doc_id) AS first_doc
         |        FROM mm GROUP BY 1),
         |ids(query_id) AS (VALUES $qids)
         |SELECT i.query_id, CAST(COALESCE(c.n_matches, 0) AS BIGINT) AS n_matches,
         |  c.first_doc
         |FROM ids i LEFT JOIN cnt c USING (query_id) ORDER BY i.query_id""".stripMargin
    }

    /** Mirrors [[TextAnalysis.percolatePhraseTableCensus]]: the
      * stored-phrase table rebuilt in SQL (per-source top-N bigrams by
      * in-source df, same tie-break, same query-id spelling), then the
      * positional adjacency test of the phrase percolator.
      */
    def percolatePhraseTableCensus(topN: Int = 2): String =
      s"""WITH wl AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         |bgp AS (SELECT DISTINCT doc_id, source, w[i] || ' ' || w[i + 1] AS bigram
         |       FROM (SELECT doc_id, source, w, CAST(unnest(range(1, len(w))) AS INT) AS i
         |             FROM wl WHERE len(w) >= 2)),
         |sdp AS (SELECT source, bigram, COUNT(*) AS df FROM bgp GROUP BY 1, 2),
         |tp AS MATERIALIZED (SELECT 'src_ph_' || source || '_' || rn AS query_id, bigram FROM (
         |    SELECT source, bigram,
         |           ROW_NUMBER() OVER (PARTITION BY source ORDER BY df DESC, bigram) AS rn
         |    FROM sdp) WHERE rn <= $topN),
         |pt AS MATERIALIZED (
         |    SELECT query_id, 0 AS idx, string_split(bigram, ' ')[1] AS term FROM tp
         |    UNION ALL
         |    SELECT query_id, 1 AS idx, string_split(bigram, ' ')[2] AS term FROM tp),
         |ptn AS (SELECT query_id, COUNT(*) AS len FROM pt GROUP BY 1),
         |tok AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, w[i] AS word FROM (
         |      SELECT doc_id, w, CAST(unnest(range(1, len(w) + 1)) AS INT) AS i
         |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
         |cb AS (SELECT p.query_id, n.len, t.doc_id, t.pos - p.idx AS base,
         |         COUNT(DISTINCT p.idx) AS n_hit
         |       FROM tok t JOIN pt p ON t.word = p.term JOIN ptn n USING (query_id)
         |       GROUP BY 1, 2, 3, 4),
         |mm AS (SELECT DISTINCT query_id, doc_id FROM cb WHERE n_hit = len),
         |cnt AS (SELECT query_id, COUNT(*) AS n_matches, MIN(doc_id) AS first_doc
         |        FROM mm GROUP BY 1),
         |ids AS (SELECT DISTINCT query_id FROM pt)
         |SELECT i.query_id, CAST(COALESCE(c.n_matches, 0) AS BIGINT) AS n_matches,
         |  c.first_doc
         |FROM ids i LEFT JOIN cnt c USING (query_id) ORDER BY i.query_id""".stripMargin

    /** Mirrors [[TextAnalysis.percolateBoolCensus]]: must-conjunction
      * via the count test, must_not via an anti (IS NULL) join of the
      * forbidden presence pairs.
      */
    def percolateBoolCensus(
        queries: Seq[(String, Seq[String], Seq[String])] = PercolatorBoolQueries): String = {
      val mustVals = queries.flatMap { case (q, ts, _) =>
        val d = ts.distinct
        d.map(t => s"('$q', '${t.replace("'", "''")}', ${d.size})")
      }.mkString(", ")
      val notVals = queries.flatMap { case (q, _, ns) =>
        ns.distinct.map(t => s"('$q', '${t.replace("'", "''")}')")
      }.mkString(", ")
      val qids = queries.map(q => s"('${q._1}')").mkString(", ")
      s"""WITH qt(query_id, term, n_terms) AS (VALUES $mustVals),
         |nt(query_id, not_term) AS (VALUES $notVals),
         |pres AS (SELECT DISTINCT doc_id, word FROM
         |    (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
         |m AS (SELECT q.query_id, q.n_terms, p.doc_id, COUNT(*) AS n_hit
         |      FROM pres p JOIN qt q ON p.word = q.term GROUP BY 1, 2, 3),
         |mm AS (SELECT query_id, doc_id FROM m WHERE n_hit = n_terms),
         |fb AS (SELECT DISTINCT n.query_id, p.doc_id
         |       FROM pres p JOIN nt n ON p.word = n.not_term),
         |ok AS (SELECT mm.query_id, mm.doc_id
         |       FROM mm LEFT JOIN fb ON fb.query_id = mm.query_id AND fb.doc_id = mm.doc_id
         |       WHERE fb.doc_id IS NULL),
         |cnt AS (SELECT query_id, COUNT(*) AS n_docs, min(doc_id) AS first_doc FROM ok GROUP BY 1),
         |ids(query_id) AS (VALUES $qids)
         |SELECT i.query_id, CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs, c.first_doc
         |FROM ids i LEFT JOIN cnt c USING (query_id) ORDER BY i.query_id""".stripMargin
    }

    /** Mirrors [[TextAnalysis.rm3Weights]] — the expansion-term table. */
    def rm3Weights(terms: Seq[String] = Bm25QueryTerms): String =
      s"""WITH ${rm3WeightCtes(terms)}
         |SELECT word, is_original, exp_rank, rm1_weight, rm3_weight
         |FROM rm3w ORDER BY word""".stripMargin

    /** Mirrors [[TextAnalysis.rm3Rerank]]: the weighted-BM25 second
      * pass over the expanded term TABLE (tf/df via joins, not
      * per-term literal columns — the term set is data here), per-doc
      * decimal sums, round-then-rank.
      */
    def rm3Rerank(terms: Seq[String] = Bm25QueryTerms,
        k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): String = {
      val avgdl = "(CAST(sum_dl AS DOUBLE) / n_docs)"
      s"""WITH ${rm3WeightCtes(terms, k1, b)},
         |ab AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |adl AS (SELECT doc_id, COUNT(*) AS dl FROM ab GROUP BY 1),
         |ast AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM adl),
         |atf AS (SELECT ab.doc_id, ab.word, w.rm3_weight, COUNT(*) AS tf
         |        FROM ab JOIN rm3w w USING (word) GROUP BY 1, 2, 3),
         |adf AS (SELECT word, COUNT(*) AS df FROM atf GROUP BY 1),
         |sc AS (SELECT t.doc_id, COUNT(*) AS n_hits,
         |    CAST(SUM(CAST(t.rm3_weight *
         |      (ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * CAST(t.tf AS DOUBLE) * ${k1 + 1} /
         |       (CAST(t.tf AS DOUBLE) + $k1 * (${1 - b} + $b * d.dl / $avgdl)))
         |      AS DECIMAL(38,18))) AS DOUBLE) AS raw
         |  FROM atf t JOIN adf USING (word) JOIN adl d USING (doc_id) CROSS JOIN ast
         |  GROUP BY t.doc_id)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
         |  doc_id, n_hits, score
         |FROM (SELECT doc_id, n_hits, round(raw, 6) AS score FROM sc WHERE round(raw, 6) > 0)
         |ORDER BY score DESC, doc_id LIMIT $topK""".stripMargin
    }

    /** Mirrors the q261 hybrid: BOTH rankers' scores from one shared
      * base CTE (expressions text-identical to the standalone
      * [[bm25TopK]]/[[dirichletQL]] oracles), each top-k ranked with
      * its own filter/order, fused by the q216 RRF convention.
      */
    def hybridRrf(terms: Seq[String] = Bm25QueryTerms,
        k1: Double = 1.2, b: Double = 0.75, mu: Double = 300.0,
        kRrf: Int = 60, topK: Int = 20): String = {
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        val esc = t.replace("'", "''")
        s"len(list_filter(string_split(text, ' '), x -> x = '$esc')) AS tf_$i"
      }.mkString(",\n         |    ")
      val dfCols = terms.indices.map(i =>
        s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
      val cfCols = terms.indices.map(i => s"SUM(tf_$i) AS cf_$i").mkString(", ")
      val avgdl = "(CAST(sum_dl AS DOUBLE) / n_docs)"
      val bmContribs = terms.indices.map { i =>
        val idf = s"ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5))"
        s"(CASE WHEN tf_$i > 0 THEN $idf * CAST(tf_$i AS DOUBLE) * ${k1 + 1} / " +
          s"(CAST(tf_$i AS DOUBLE) + $k1 * (${1 - b} + $b * dl / $avgdl)) ELSE 0.0 END)"
      }.mkString(" + ")
      val qlContribs = terms.indices.map { i =>
        s"ln((CAST(tf_$i AS DOUBLE) + $mu * CAST(cf_$i AS DOUBLE) / CAST(ctot AS DOUBLE)) / " +
          s"(CAST(dl AS DOUBLE) + $mu))"
      }.mkString(" + ")
      val nHits = terms.indices
        .map(i => s"(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH base AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |    $tfCols
         |  FROM documents),
         |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
         |    SUM(dl) AS ctot, $dfCols, $cfCols FROM base),
         |scored AS (SELECT doc_id, CAST($nHits AS INT) AS n_hits,
         |    round($bmContribs, 6) AS bscore,
         |    round($qlContribs, 6) AS qscore
         |  FROM base CROSS JOIN stats),
         |bm AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bscore DESC, doc_id) AS INT) AS bm_rank
         |       FROM (SELECT * FROM scored WHERE bscore > 0 ORDER BY bscore DESC, doc_id LIMIT $topK)),
         |qlr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY qscore DESC, doc_id) AS INT) AS ql_rank
         |        FROM (SELECT * FROM scored WHERE n_hits > 0 ORDER BY qscore DESC, doc_id LIMIT $topK)),
         |f AS (SELECT COALESCE(bm.doc_id, qlr.doc_id) AS doc_id,
         |        round(COALESCE(1.0 / ($kRrf + bm.bm_rank), 0.0)
         |            + COALESCE(1.0 / ($kRrf + qlr.ql_rank), 0.0), 6) AS rrf_score,
         |        COALESCE(bm.bm_rank, 0) AS bm_rank,
         |        COALESCE(qlr.ql_rank, 0) AS ql_rank
         |      FROM bm FULL OUTER JOIN qlr ON bm.doc_id = qlr.doc_id)
         |SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS rank,
         |  doc_id, rrf_score, bm_rank, ql_rank
         |FROM (SELECT * FROM f ORDER BY rrf_score DESC, doc_id LIMIT $topK)
         |ORDER BY rank""".stripMargin
    }

    /** Mirrors bm25TopK: same contribution expression shape, same
      * left-associated sum order, rounded to 6 dp before ranking.
      */
    /** `docPredSql`: restricts the corpus (the q270 deletion path —
      * docs erased from the posting index); mirrors the Spark side
      * where a deletion is an anti-filter on the postings artifact.
      * BM25's corpus statistics (N, Σdl, df) shift with the erasure in
      * both engines.
      */
    def bm25TopK(terms: Seq[String] = Bm25QueryTerms,
        k1: Double = 1.2, b: Double = 0.75, topK: Int = 20,
        docPredSql: String = "TRUE"): String = {
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        // SQL-escape the term: a quote in a query term must not break
        // the rendered oracle (the Spark side takes terms as values).
        val esc = t.replace("'", "''")
        s"len(list_filter(string_split(text, ' '), x -> x = '$esc')) AS tf_$i"
      }.mkString(",\n         |    ")
      val dfCols = terms.indices.map(i =>
        s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
      val avgdl = "(CAST(sum_dl AS DOUBLE) / n_docs)"
      val contribs = terms.indices.map { i =>
        val idf = s"ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5))"
        s"(CASE WHEN tf_$i > 0 THEN $idf * CAST(tf_$i AS DOUBLE) * ${k1 + 1} / " +
          s"(CAST(tf_$i AS DOUBLE) + $k1 * (${1 - b} + $b * dl / $avgdl)) ELSE 0.0 END)"
      }.mkString(" + ")
      s"""WITH base AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |    $tfCols
         |  FROM documents WHERE ($docPredSql)),
         |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl, $dfCols FROM base),
         |scored AS (SELECT doc_id,
         |    CAST(${terms.indices.map(i => s"(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")} AS INT) AS n_hits,
         |    round($contribs, 6) AS score
         |  FROM base CROSS JOIN stats)
         |SELECT doc_id, n_hits, score,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
         |FROM scored WHERE score > 0 ORDER BY score DESC, doc_id LIMIT $topK""".stripMargin
    }

    /** Mirrors [[TextAnalysis.passageMaxP]]: the q88 chunk grid, BM25
      * over chunk units with chunk-corpus statistics (the bm25TopK
      * expression verbatim), per-doc best chunk via the same
      * (score DESC, chunk_idx) cut, doc ranking ties to doc_id.
      */
    def passageMaxP(terms: Seq[String] = Bm25QueryTerms,
        chunkTokens: Int = 64, stride: Int = 48,
        k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): String = {
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        val esc = t.replace("'", "''")
        s"SUM(CASE WHEN word = '$esc' THEN 1 ELSE 0 END) AS tf_$i"
      }.mkString(",\n         |    ")
      val dfCols = terms.indices.map(i =>
        s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
      val avgdl = "(CAST(sum_dl AS DOUBLE) / n_docs)"
      val contribs = terms.indices.map { i =>
        val idf = s"ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5))"
        s"(CASE WHEN tf_$i > 0 THEN $idf * CAST(tf_$i AS DOUBLE) * ${k1 + 1} / " +
          s"(CAST(tf_$i AS DOUBLE) + $k1 * (${1 - b} + $b * dl / $avgdl)) ELSE 0.0 END)"
      }.mkString(" + ")
      s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |st AS (SELECT doc_id, w, CAST(unnest(range(1, len(w) + 1, $stride)) AS INT) AS start FROM wl),
         |chp AS (SELECT doc_id, CAST((start - 1) // $stride AS INT) AS chunk_idx,
         |        unnest(w[start:start + ${chunkTokens - 1}]) AS word FROM st),
         |base AS MATERIALIZED (SELECT doc_id, chunk_idx, COUNT(*) AS dl,
         |    $tfCols
         |  FROM chp GROUP BY 1, 2),
         |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl, $dfCols FROM base),
         |scf AS (SELECT * FROM (
         |    SELECT doc_id, chunk_idx, round($contribs, 6) AS cscore
         |    FROM base CROSS JOIN stats) WHERE cscore > 0),
         |best AS (SELECT doc_id, chunk_idx AS best_chunk, n_hit_chunks, cscore AS score FROM (
         |    SELECT doc_id, chunk_idx, cscore,
         |      COUNT(*) OVER (PARTITION BY doc_id) AS n_hit_chunks,
         |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cscore DESC, chunk_idx) AS rn
         |    FROM scf) WHERE rn = 1)
         |SELECT doc_id, best_chunk, CAST(n_hit_chunks AS BIGINT) AS n_hit_chunks, score,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
         |FROM best ORDER BY score DESC, doc_id LIMIT $topK""".stripMargin
    }

    /** Mirrors [[TextAnalysis.wigScore]]: the bm25TopK scoring replay
      * (hash-equal to the postings-artifact formulation by the q252
      * equivalence), decimal score sums over top-k and all scoring
      * docs, √|q| as the identical Scala-printed literal.
      */
    def wigScore(terms: Seq[String] = Bm25QueryTerms,
        k1: Double = 1.2, b: Double = 0.75, k: Int = 10): String = {
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        val esc = t.replace("'", "''")
        s"len(list_filter(string_split(text, ' '), x -> x = '$esc')) AS tf_$i"
      }.mkString(",\n         |    ")
      val dfCols = terms.indices.map(i =>
        s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
      val avgdl = "(CAST(sum_dl AS DOUBLE) / n_docs)"
      val contribs = terms.indices.map { i =>
        val idf = s"ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5))"
        s"(CASE WHEN tf_$i > 0 THEN $idf * CAST(tf_$i AS DOUBLE) * ${k1 + 1} / " +
          s"(CAST(tf_$i AS DOUBLE) + $k1 * (${1 - b} + $b * dl / $avgdl)) ELSE 0.0 END)"
      }.mkString(" + ")
      val sqrtQ = math.sqrt(terms.size.toDouble)
      s"""WITH base AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |    $tfCols
         |  FROM documents),
         |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl, $dfCols FROM base),
         |scf AS MATERIALIZED (SELECT * FROM (
         |    SELECT doc_id, round($contribs, 6) AS score FROM base CROSS JOIN stats)
         |  WHERE score > 0),
         |tk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_top, ${graft.functions.Num.O.sum("score")} AS tsum
         |       FROM (SELECT score FROM scf ORDER BY score DESC, doc_id LIMIT $k)),
         |al AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_scoring, ${graft.functions.Num.O.sum("score")} AS ssum FROM scf)
         |SELECT n_scoring, n_top,
         |  round(tsum / n_top, 6) AS mean_topk,
         |  round(ssum / n_scoring, 6) AS corpus_mean,
         |  round((tsum / n_top - ssum / n_scoring) / $sqrtQ, 6) AS wig
         |FROM al CROSS JOIN tk""".stripMargin
    }

    /** Mirrors [[TextAnalysis.termBurstiness]]: integer tf/tf² moment
      * sums per word, the same double expression shape, ordered and
      * cut on the ROUNDED vmr (ties by word).
      */
    def termBurstiness(minDf: Long = 5, topN: Int = 50): String = {
      val mean = "(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE))"
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |tfq AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |ag AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
         |         CAST(SUM(tf * tf) AS BIGINT) AS s2 FROM tfq GROUP BY 1),
         |fl AS (SELECT word, df, cf, $mean AS mean_tf,
         |         (CAST(s2 AS DOUBLE) / CAST(df AS DOUBLE) - $mean * $mean) / $mean AS vmr
         |       FROM ag WHERE df >= $minDf)
         |SELECT word, df, cf, round(mean_tf, 6) AS mean_tf, round(vmr, 6) AS vmr
         |FROM fl ORDER BY round(vmr, 6) DESC, word LIMIT $topN""".stripMargin
    }

    /** Mirrors dsirScores: occurrence-stream replay (n × decimal(lp) is
      * bit-identical to summing n decimal copies), same smoothing
      * shape, rounded before the target_like comparison in both.
      */
    def dsirScores(targetPredSql: String): String = {
      val lp = "ln((COALESCE(ct, 0) + 0.5) / (CAST(nt AS DOUBLE) + 0.5 * v)) " +
        "- ln((cc + 0.5) / (CAST(nc AS DOUBLE) + 0.5 * v))"
      s"""WITH wl AS (SELECT doc_id, ($targetPredSql) AS is_target, string_split(text, ' ') AS w FROM documents),
         |b AS (SELECT doc_id, is_target, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
         |      FROM wl WHERE len(w) >= 2),
         |ccs AS (SELECT bg, COUNT(*) AS cc FROM b GROUP BY 1),
         |cts AS (SELECT bg, COUNT(*) AS ct FROM b WHERE is_target GROUP BY 1),
         |st AS (SELECT (SELECT COUNT(*) FROM b) AS nc, (SELECT COUNT(*) FROM ccs) AS v,
         |              (SELECT COUNT(*) FROM b WHERE is_target) AS nt)
         |SELECT doc_id, is_target, n_bigrams, dsir_score, (dsir_score > 0) AS target_like FROM (
         |  SELECT doc_id, is_target, COUNT(*) AS n_bigrams,
         |    round(${graft.functions.Num.O.avg(lp)}, 6) AS dsir_score
         |  FROM b JOIN ccs USING (bg) LEFT JOIN cts USING (bg) CROSS JOIN st
         |  GROUP BY doc_id, is_target)
         |ORDER BY doc_id""".stripMargin
    }

    /** Mirrors gopherRules: identical arithmetic shapes (double `/` on
      * both engines), rule comparisons on the UNROUNDED values, display
      * columns rounded to 6 dp in both.
      */
    def gopherRules(minWords: Int = 50, maxWords: Int = 100000,
        minWordLen: Double = 3.0, maxWordLen: Double = 10.0,
        maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8): String = {
      val nWords = "len(w)"
      val meanLen = s"((length(text) - ($nWords - 1)) / $nWords)"
      val symbolRatio = s"((${occSql(padded, "#")} + ${occSql(padded, "...")}) / $nWords)"
      val alphaFrac =
        s"(len(list_filter(w, x -> length(regexp_replace(lower(x), '[^a-z]', '', 'g')) > 0)) / CAST($nWords AS DOUBLE))"
      val nStop = GopherStopwords
        .map(sw => s"(CASE WHEN contains($padded, ' $sw ') THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")
      s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
         |SELECT doc_id, CAST($nWords AS INT) AS n_words,
         |  round($meanLen, 6) AS mean_word_len,
         |  round($symbolRatio, 6) AS symbol_ratio,
         |  round($alphaFrac, 6) AS alpha_word_frac,
         |  $nStop AS n_stopwords_present,
         |  ($nWords >= $minWords AND $nWords <= $maxWords) AS pass_word_count,
         |  ($meanLen >= $minWordLen AND $meanLen <= $maxWordLen) AS pass_word_len,
         |  ($symbolRatio < $maxSymbolRatio) AS pass_symbol_ratio,
         |  ($alphaFrac > $minAlphaFrac) AS pass_alpha_words,
         |  ($nStop >= $GopherMinStopwords) AS pass_stopwords,
         |  (($nWords >= $minWords AND $nWords <= $maxWords)
         |   AND ($meanLen >= $minWordLen AND $meanLen <= $maxWordLen)
         |   AND ($symbolRatio < $maxSymbolRatio)
         |   AND ($alphaFrac > $minAlphaFrac)
         |   AND ($nStop >= $GopherMinStopwords)) AS pass_gopher
         |FROM d ORDER BY doc_id""".stripMargin
    }

    /** Mirrors sourceDivergence: same term shape, same decimal-backed
      * sums, same interpolated 0.5·ln2 constant.
      */
    def sourceDivergence: String = {
      val term = "pa * ln(2.0 * pa / (pa + pb)) + pb * ln(2.0 * pb / (pa + pb))"
      s"""WITH wc AS (SELECT source, w, COUNT(*) AS c FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1, 2),
         |t AS (SELECT source, SUM(c) AS n FROM wc GROUP BY 1),
         |p AS (SELECT wc.source, w, (CAST(c AS DOUBLE) / n) AS p FROM wc JOIN t USING (source)),
         |j AS (SELECT a.source AS src_a, b.source AS src_b, a.p AS pa, b.p AS pb
         |      FROM p a JOIN p b USING (w) WHERE a.source < b.source),
         |g AS (SELECT src_a, src_b, COUNT(*) AS n_common_words,
         |        ${graft.functions.Num.O.sumHi(term)} AS ct,
         |        ${graft.functions.Num.O.sumHi("pa")} AS ma,
         |        ${graft.functions.Num.O.sumHi("pb")} AS mb
         |      FROM j GROUP BY 1, 2)
         |SELECT src_a, src_b, n_common_words,
         |  round(0.5 * ct + $HalfLn2 * ((1.0 - ma) + (1.0 - mb)), 6) AS jsd
         |FROM g ORDER BY src_a, src_b""".stripMargin
    }

    /** Mirrors heapsFit: same first-occurrence/cumulative construction,
      * default running window frame (unique doc_id ordering), decimal
      * sums, shared fit fragments.
      */
    def heapsFit: String =
      s"""WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |fo AS (SELECT min(doc_id) AS doc_id FROM wd GROUP BY w),
         |nw AS (SELECT doc_id, COUNT(*) AS new_words FROM fo GROUP BY doc_id),
         |tk AS (SELECT doc_id, COUNT(*) AS n_toks FROM wd GROUP BY doc_id),
         |curve AS (SELECT ln(CAST(SUM(n_toks) OVER win AS DOUBLE)) AS x,
         |                 ln(CAST(SUM(COALESCE(new_words, 0)) OVER win AS DOUBLE)) AS y
         |          FROM tk LEFT JOIN nw USING (doc_id)
         |          WINDOW win AS (ORDER BY doc_id)),
         |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |  ${Num.O.sum("x")} AS sx, ${Num.O.sum("y")} AS sy,
         |  ${Num.O.sum("x * x")} AS sxx, ${Num.O.sum("x * y")} AS sxy,
         |  ${Num.O.sum("y * y")} AS syy FROM curve)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |  round(${Num.O.fitSlope()}, 6) AS heaps_beta,
         |  round(${Num.O.fitIntercept()}, 6) AS ln_k,
         |  round(${Num.O.fitCorr()}, 6) AS corr
         |FROM g""".stripMargin

    /** Mirrors repetitionStats (thresholds must match the Spark call). */
    def repetitionStats(
        maxTopWordFrac: Double = 0.20,
        maxTopBigramFrac: Double = 0.18,
        minDistinctRatio: Double = 0.30): String =
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |tw AS (SELECT doc_id, max(c) AS top_word_count, COUNT(*) AS n_distinct_words FROM (
         |         SELECT doc_id, tok, COUNT(*) AS c FROM (SELECT doc_id, unnest(w) AS tok FROM w) GROUP BY doc_id, tok)
         |       GROUP BY doc_id),
         |bg AS (SELECT doc_id, max(c) AS top_bigram_count FROM (
         |         SELECT doc_id, tok, COUNT(*) AS c FROM (
         |           SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS tok FROM w)
         |         GROUP BY doc_id, tok)
         |       GROUP BY doc_id)
         |SELECT w.doc_id, CAST(len(w.w) AS INT) AS n_words, tw.top_word_count, tw.n_distinct_words,
         |  COALESCE(bg.top_bigram_count, 0) AS top_bigram_count,
         |  (tw.n_distinct_words / len(w.w)) AS distinct_ratio,
         |  (tw.top_word_count / len(w.w)) AS top_word_frac,
         |  (CASE WHEN len(w.w) > 1 THEN COALESCE(bg.top_bigram_count, 0) / (len(w.w) - 1) END) AS top_bigram_frac,
         |  ((tw.top_word_count / len(w.w)) <= $maxTopWordFrac
         |   AND COALESCE((CASE WHEN len(w.w) > 1 THEN COALESCE(bg.top_bigram_count, 0) / (len(w.w) - 1) END) <= $maxTopBigramFrac, TRUE)
         |   AND (tw.n_distinct_words / len(w.w)) >= $minDistinctRatio) AS pass_repetition
         |FROM w JOIN tw USING (doc_id) LEFT JOIN bg USING (doc_id)
         |ORDER BY doc_id""".stripMargin

    def rollingFp: String =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(text, ' '), t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)), " +
        s"(a, b) -> (a * 31 + b) % $RollingFpMod)"

    /** Mirrors [[TextAnalysis.keyness]] — same cast/operation order in
      * every float expression, same (g2 DESC, word) rank tie-break.
      */
    def keyness(minCount: Long = 5, topK: Int = 10): String = {
      val e1 = "(CAST(n1 AS DOUBLE) * CAST(wtot AS DOUBLE) / CAST(nn AS DOUBLE))"
      val e2 = "(CAST(n2 AS DOUBLE) * CAST(wtot AS DOUBLE) / CAST(nn AS DOUBLE))"
      s"""WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS word
         |            FROM documents),
         |c AS (SELECT source, word, COUNT(*) AS a FROM tok GROUP BY 1, 2),
         |wt AS (SELECT word, CAST(SUM(a) AS BIGINT) AS wtot FROM c
         |       GROUP BY 1 HAVING SUM(a) >= $minCount),
         |st AS (SELECT source, CAST(SUM(a) AS BIGINT) AS n1 FROM c GROUP BY 1),
         |nt AS (SELECT CAST(SUM(n1) AS BIGINT) AS nn FROM st),
         |sc AS (SELECT c.source, c.word, c.a, wt.wtot - c.a AS b, st.n1,
         |         nt.nn - st.n1 AS n2, wt.wtot, nt.nn
         |       FROM c JOIN wt USING (word) JOIN st USING (source) CROSS JOIN nt),
         |g AS (SELECT source, word, a,
         |        round(2.0 * (CAST(a AS DOUBLE) * ln(CAST(a AS DOUBLE) / $e1)
         |          + CASE WHEN b > 0
         |                 THEN CAST(b AS DOUBLE) * ln(CAST(b AS DOUBLE) / $e2)
         |                 ELSE 0.0 END), 6) AS g2
         |      FROM sc
         |      WHERE CAST(a AS DOUBLE) / CAST(n1 AS DOUBLE) > CAST(b AS DOUBLE) / CAST(n2 AS DOUBLE)),
         |r AS (SELECT source, word, a, g2,
         |        row_number() OVER (PARTITION BY source ORDER BY g2 DESC, word) AS rank
         |      FROM g)
         |SELECT source, CAST(rank AS INT) AS rank, word, a, g2
         |FROM r WHERE rank <= $topK ORDER BY source, rank""".stripMargin
    }

    /** Shared CTE list ending in st(d1, d2, n, m, t1, t2) — mirrors
      * pairNgramStats over [[Dedup.O.minhashPairCtes]]'s candidate set.
      */
    private def pairNgramCtes(ns: Seq[Int]): String = {
      val gramSel = ns.map { n =>
        s"""SELECT doc_id, $n AS n, unnest(${Text.O.shingles("w", n)}) AS g
           |  FROM wl2 WHERE len(w) >= $n""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""${Dedup.O.minhashPairCtes},
         |wl2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |gd AS (SELECT doc_id, n, g, COUNT(*) AS c FROM (
         |  $gramSel
         |) GROUP BY doc_id, n, g),
         |tt AS (SELECT doc_id, n, CAST(SUM(c) AS BIGINT) AS t FROM gd GROUP BY 1, 2),
         |mm AS (SELECT p.d1, p.d2, a.n, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS m
         |       FROM mhp p JOIN gd a ON a.doc_id = p.d1
         |       JOIN gd b ON b.doc_id = p.d2 AND b.n = a.n AND b.g = a.g
         |       GROUP BY 1, 2, 3),
         |st AS (SELECT p.d1, p.d2, nn.n, COALESCE(mm.m, 0) AS m, t1.t AS t1, t2.t AS t2
         |       FROM mhp p
         |       CROSS JOIN (SELECT CAST(unnest([${ns.mkString(", ")}]) AS INT) AS n) nn
         |       JOIN tt t1 ON t1.doc_id = p.d1 AND t1.n = nn.n
         |       JOIN tt t2 ON t2.doc_id = p.d2 AND t2.n = nn.n
         |       LEFT JOIN mm ON mm.d1 = p.d1 AND mm.d2 = p.d2 AND mm.n = nn.n)""".stripMargin
    }

    /** Mirrors bleuPairs: identical pivot, brevity penalty, unsmoothed
      * geometric mean (the ln sum is written left-to-right in both
      * engines).
      */
    def bleuPairs(): String = {
      def mx(expr: String, n: Int, as: String) =
        s"MAX(CASE WHEN n = $n THEN $expr END) AS $as"
      val wide = (mx("t1", 1, "rlen") +:
        (1 to 4).map(i => mx("m", i, s"m$i"))) ++
        (1 to 4).map(i => mx("t2", i, s"c$i"))
      val bp = "CASE WHEN c1 > rlen THEN 1.0 ELSE exp(1.0 - CAST(rlen AS DOUBLE) / c1) END"
      val lnSum = (1 to 4).map(i => s"ln(CAST(m$i AS DOUBLE) / c$i)").mkString(" + ")
      s"""${pairNgramCtes(1 to 4)},
         |wd AS (SELECT d1, d2, ${wide.mkString(", ")} FROM st GROUP BY d1, d2)
         |SELECT d1, d2, CAST(rlen AS BIGINT) AS ref_len, CAST(c1 AS BIGINT) AS cand_len,
         |  round(CASE WHEN c1 > 0 THEN CAST(m1 AS DOUBLE) / c1 END, 6) AS p1,
         |  round(CASE WHEN c2 > 0 THEN CAST(m2 AS DOUBLE) / c2 END, 6) AS p2,
         |  round(CASE WHEN c3 > 0 THEN CAST(m3 AS DOUBLE) / c3 END, 6) AS p3,
         |  round(CASE WHEN c4 > 0 THEN CAST(m4 AS DOUBLE) / c4 END, 6) AS p4,
         |  round($bp, 6) AS bp,
         |  round(CASE WHEN m1 = 0 OR m2 = 0 OR m3 = 0 OR m4 = 0 THEN 0.0
         |             ELSE ($bp) * exp(($lnSum) / 4) END, 6) AS bleu
         |FROM wd ORDER BY d1, d2""".stripMargin
    }

    /** Mirrors [[TextAnalysis.chrfPairs]]: whitespace-stripped char
      * n-grams (n = 1..6), the same clipped-match frame, arithmetic
      * mean of per-order P/R, β=2 harmonic mean.
      */
    def chrfPairs(): String = {
      val ns = 1 to 6
      val gramSel = ns.map { n =>
        s"""SELECT doc_id, $n AS n,
           |    unnest(list_transform(range(1, length(ch) - ${n - 2}),
           |      i -> substr(ch, i, $n))) AS g
           |  FROM cl WHERE length(ch) >= $n""".stripMargin
      }.mkString("\n  UNION ALL ")
      def mx(expr: String, n: Int, as: String) =
        s"MAX(CASE WHEN n = $n THEN $expr END) AS $as"
      val wide = ns.flatMap(n =>
        Seq(mx("m", n, s"m$n"), mx("t1", n, s"t1$n"), mx("t2", n, s"t2$n")))
      val pSum = ns.map(n =>
        s"CASE WHEN t2$n > 0 THEN CAST(m$n AS DOUBLE) / t2$n ELSE 0.0 END")
        .mkString(" + ")
      val rSum = ns.map(n =>
        s"CASE WHEN t1$n > 0 THEN CAST(m$n AS DOUBLE) / t1$n ELSE 0.0 END")
        .mkString(" + ")
      val anyM = ns.map(n => s"m$n > 0").mkString(" OR ")
      val p = s"(($pSum) / 6)"
      val r = s"(($rSum) / 6)"
      s"""${Dedup.O.minhashPairCtes},
         |cl AS (SELECT doc_id, replace(text, ' ', '') AS ch FROM documents),
         |gd AS (SELECT doc_id, n, g, COUNT(*) AS c FROM (
         |  $gramSel
         |) GROUP BY doc_id, n, g),
         |tt AS (SELECT doc_id, n, CAST(SUM(c) AS BIGINT) AS t FROM gd GROUP BY 1, 2),
         |mm AS (SELECT p.d1, p.d2, a.n, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS m
         |       FROM mhp p JOIN gd a ON a.doc_id = p.d1
         |       JOIN gd b ON b.doc_id = p.d2 AND b.n = a.n AND b.g = a.g
         |       GROUP BY 1, 2, 3),
         |st AS (SELECT p.d1, p.d2, nn.n, COALESCE(mm.m, 0) AS m, t1.t AS t1, t2.t AS t2
         |       FROM mhp p
         |       CROSS JOIN (SELECT CAST(unnest([${ns.mkString(", ")}]) AS INT) AS n) nn
         |       JOIN tt t1 ON t1.doc_id = p.d1 AND t1.n = nn.n
         |       JOIN tt t2 ON t2.doc_id = p.d2 AND t2.n = nn.n
         |       LEFT JOIN mm ON mm.d1 = p.d1 AND mm.d2 = p.d2 AND mm.n = nn.n),
         |wd AS (SELECT d1, d2, ${wide.mkString(", ")} FROM st GROUP BY d1, d2)
         |SELECT d1, d2, round($p, 6) AS chr_p, round($r, 6) AS chr_r,
         |  round(CASE WHEN NOT ($anyM) THEN 0.0
         |    ELSE 5.0 * $p * $r / (4.0 * $p + $r) END, 6) AS chrf2
         |FROM wd ORDER BY d1, d2""".stripMargin
    }

    /** Mirrors rougePairs (ns = 1, 2 by default). */
    def rougePairs(ns: Seq[Int] = Seq(1, 2)): String = {
      val p = "CASE WHEN t2 > 0 THEN CAST(m AS DOUBLE) / t2 END"
      val r = "CASE WHEN t1 > 0 THEN CAST(m AS DOUBLE) / t1 END"
      s"""${pairNgramCtes(ns)}
         |SELECT d1, d2, n, CAST(m AS BIGINT) AS n_matches,
         |  t1 AS ref_ngrams, t2 AS cand_ngrams,
         |  round($p, 6) AS rouge_p, round($r, 6) AS rouge_r,
         |  round(CASE WHEN m = 0 THEN 0.0
         |             ELSE 2.0 * ($p) * ($r) / (($p) + ($r)) END, 6) AS rouge_f1
         |FROM st ORDER BY d1, d2, n""".stripMargin
    }

    /** Mirrors [[TextAnalysis.rougeLPairs]]: the word-LCS DP replayed
      * as `rounds` unrolled CTEs of the in-row-dependency-free
      * recurrence dp[i][j] = max(dp[i-1][j],
      * max_{k≤j, b_k=a_i}(dp[i-1][k-1]+1)) — value-identical to the
      * textbook three-way form (the only in-row path is a running max
      * over match columns, which the prefix list_max expresses
      * directly). `rounds` must be ≥ the longest document (99 words in
      * the driver corpus); shorter pairs freeze early via the CASE
      * guard, and a g0 assertion CTE makes the oracle ERROR (not
      * silently truncate the DP) if the corpus ever outgrows the
      * unroll. dp is a len(b)+1 list with dp[k+1] = column k.
      */
    def rougeLPairs(rounds: Int = 99): String = {
      val steps = (1 to rounds).map { i =>
        s"""l$i AS (SELECT d1, d2, aw, bw, CASE WHEN $i <= len(aw) THEN
           |    list_transform(range(0, len(bw) + 1), j -> CASE WHEN j = 0 THEN 0 ELSE
           |      greatest(dp[j + 1], COALESCE(list_max(list_transform(range(1, j + 1),
           |        k -> CASE WHEN bw[k] = aw[$i] THEN dp[k] + 1 ELSE 0 END)), 0)) END)
           |  ELSE dp END AS dp FROM l${i - 1})""".stripMargin
      }.mkString(",\n")
      s"""${Dedup.O.minhashPairCtes},
         |wl2 AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
         |g0 AS (SELECT CASE WHEN COALESCE(MAX(len(w)), 0) > $rounds
         |         THEN error('rougeLPairs oracle: unrolled rounds=$rounds < longest doc — raise rounds')
         |         ELSE 1 END AS ok FROM wl2),
         |l0 AS (SELECT p.d1, p.d2, ta.w AS aw, tb.w AS bw,
         |         list_transform(range(0, len(tb.w) + 1), j -> 0) AS dp
         |       FROM mhp p JOIN wl2 ta ON ta.doc_id = p.d1
         |       JOIN wl2 tb ON tb.doc_id = p.d2 CROSS JOIN g0),
         |$steps,
         |f AS (SELECT d1, d2, CAST(dp[len(bw) + 1] AS BIGINT) AS lcs,
         |        CAST(len(aw) AS BIGINT) AS ref_len, CAST(len(bw) AS BIGINT) AS cand_len
         |      FROM l$rounds)
         |SELECT d1, d2, lcs, ref_len, cand_len,
         |  round(CASE WHEN cand_len > 0 THEN CAST(lcs AS DOUBLE) / cand_len END, 6) AS rouge_l_p,
         |  round(CASE WHEN ref_len > 0 THEN CAST(lcs AS DOUBLE) / ref_len END, 6) AS rouge_l_r,
         |  round(CASE WHEN lcs = 0 THEN 0.0
         |    ELSE 2.0 * (CASE WHEN cand_len > 0 THEN CAST(lcs AS DOUBLE) / cand_len END)
         |         * (CASE WHEN ref_len > 0 THEN CAST(lcs AS DOUBLE) / ref_len END)
         |         / ((CASE WHEN cand_len > 0 THEN CAST(lcs AS DOUBLE) / cand_len END)
         |            + (CASE WHEN ref_len > 0 THEN CAST(lcs AS DOUBLE) / ref_len END)) END, 6)
         |    AS rouge_l_f1
         |FROM f ORDER BY d1, d2""".stripMargin
    }

    /** Mirrors [[TextAnalysis.werPairs]]: the word-Levenshtein DP as
      * `rounds` unrolled CTEs of the in-row-dependency-free form
      * dp[i][j] = min_{k≤j}(seed[k] + (j−k)), seed[k] =
      * min(dp[i−1][k]+1, dp[i−1][k−1]+cost), seed[0] = i (a path
      * enters row i exactly once, then only inserts). dp is a
      * len(b)+1 list with dp[k+1] = column k; row 0 = insertion costs.
      */
    def werPairs(rounds: Int = 99): String = {
      val steps = (1 to rounds).map { i =>
        s"""l$i AS (SELECT d1, d2, aw, bw, CASE WHEN $i <= len(aw) THEN
           |    list_transform(range(0, len(bw) + 1), j ->
           |      list_min(list_transform(range(0, j + 1), k -> sd[k + 1] + (j - k))))
           |  ELSE dp END AS dp FROM (
           |    SELECT d1, d2, aw, bw, dp,
           |      list_transform(range(0, len(bw) + 1), k ->
           |        CASE WHEN k = 0 THEN $i
           |             ELSE least(dp[k + 1] + 1,
           |               dp[k] + (CASE WHEN bw[k] = aw[$i] THEN 0 ELSE 1 END)) END) AS sd
           |    FROM l${i - 1}))""".stripMargin
      }.mkString(",\n")
      s"""${Dedup.O.minhashPairCtes},
         |wl2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g0 AS (SELECT CASE WHEN COALESCE(MAX(len(w)), 0) > $rounds
         |         THEN error('werPairs oracle: unrolled rounds=$rounds < longest doc — raise rounds')
         |         ELSE 1 END AS ok FROM wl2),
         |l0 AS (SELECT p.d1, p.d2, ta.w AS aw, tb.w AS bw,
         |         list_transform(range(0, len(tb.w) + 1), j -> j) AS dp
         |       FROM mhp p JOIN wl2 ta ON ta.doc_id = p.d1
         |       JOIN wl2 tb ON tb.doc_id = p.d2 CROSS JOIN g0),
         |$steps
         |SELECT d1, d2, CAST(dp[len(bw) + 1] AS BIGINT) AS edit_dist,
         |  CAST(len(aw) AS BIGINT) AS ref_len, CAST(len(bw) AS BIGINT) AS cand_len,
         |  round(CASE WHEN len(aw) > 0
         |             THEN CAST(dp[len(bw) + 1] AS DOUBLE) / len(aw) END, 6) AS wer
         |FROM l$rounds ORDER BY d1, d2""".stripMargin
    }

    /** Mirrors [[TextAnalysis.metricAgreement]]: the four metric
      * oracles as CTE-wrapped subqueries, the same deterministic rank
      * convention, integer-exact Σd².
      */
    def metricAgreement(): String = {
      val metrics = Seq("bleu", "rouge_l_f1", "chrf2", "wer")
      val ranks = metrics.map(m =>
        s"row_number() OVER (ORDER BY $m DESC, d1, d2) AS r_$m").mkString(",\n        ")
      val combos = for {
        i <- metrics.indices; j <- metrics.indices if i < j
      } yield (metrics(i), metrics(j))
      val sums = combos.map { case (a, b) =>
        s"CAST(SUM((r_$a - r_$b) * (r_$a - r_$b)) AS BIGINT) AS s_${a}_$b"
      }.mkString(",\n        ")
      val rows = combos.map { case (a, b) =>
        s"""SELECT '$a' AS metric_a, '$b' AS metric_b, n AS n_pairs,
           |  s_${a}_$b AS sum_d2,
           |  round(CASE WHEN n > 1
           |    THEN 1.0 - 6.0 * s_${a}_$b / (n * (n * n - 1)) END, 6) AS spearman_rho
           |FROM agg""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH mb AS (SELECT d1, d2, bleu FROM (${bleuPairs()})),
         |mr AS (SELECT d1, d2, rouge_l_f1 FROM (${rougeLPairs()})),
         |mc AS (SELECT d1, d2, chrf2 FROM (${chrfPairs()})),
         |mw AS (SELECT d1, d2, wer FROM (${werPairs()})),
         |j AS (SELECT mb.d1, mb.d2, bleu, rouge_l_f1, chrf2, wer
         |      FROM mb JOIN mr USING (d1, d2) JOIN mc USING (d1, d2)
         |      JOIN mw USING (d1, d2)),
         |r AS (SELECT *,
         |        $ranks
         |      FROM j),
         |agg AS (SELECT COUNT(*) AS n,
         |        $sums
         |      FROM r)
         |SELECT * FROM (
         |$rows
         |) ORDER BY metric_a, metric_b""".stripMargin
    }

    /** Mirrors readability (vowel-group runs per lowercased word,
      * floor 1; terminator runs, floor 1; the two fixed Flesch
      * formulas).
      */
    def readability(): String =
      s"""WITH b AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    greatest(CAST(1 AS BIGINT),
         |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sents,
         |    CAST(list_sum(list_transform(string_split(text, ' '),
         |      x -> greatest(1, len(regexp_extract_all(lower(x), '[aeiouy]+'))))) AS BIGINT)
         |      AS n_syllables
         |  FROM documents)
         |SELECT doc_id, n_words, n_sents, n_syllables,
         |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
         |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) AS flesch,
         |  round(0.39 * (CAST(n_words AS DOUBLE) / n_sents)
         |    + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 6) AS fk_grade
         |FROM b ORDER BY doc_id""".stripMargin
  }
}
