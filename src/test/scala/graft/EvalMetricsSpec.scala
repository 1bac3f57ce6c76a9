package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Sampling, TextAnalysis}

/** Round-13 extension block: substring-removal cleaning, BLEU/ROUGE
  * pair metrics, readability, diversity indices, resumable training
  * order.
  */
class EvalMetricsSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  test("substringRemoval erases the full later copy and keeps the first intact") {
    val docs = Seq(
      (1L, base, "en", "s0"),
      (2L, base, "en", "s0"), // exact copy: every 8-gram has an earlier occurrence
      (3L, "one two three four five six seven eight nine ten", "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val r = Dedup.substringRemoval(docs).orderBy("doc_id").collect()
    assert(r.length == 3)
    // doc 1: first occurrence of everything -> untouched
    assert(r(0).getAs[Long]("n_kept") == 10 && r(0).getAs[Long]("n_removed") == 0)
    val origMd5 = docs.filter($"doc_id" === 1).select(md5($"text")).head.getString(0)
    assert(r(0).getAs[String]("kept_md5") == origMd5)
    // doc 2: every position covered by a redundant window -> fully erased
    assert(r(1).getAs[Long]("n_kept") == 0 && r(1).getAs[Long]("n_removed") == 10)
    assert(r(1).getAs[Double]("removed_frac") == 1.0)
    // doc 3: unique text -> untouched
    assert(r(2).getAs[Long]("n_removed") == 0)
    // invariant: kept + removed = total, everywhere
    r.foreach(row => assert(
      row.getAs[Long]("n_kept") + row.getAs[Long]("n_removed") == row.getAs[Long]("n_tokens")))
  }

  test("substringRemoval keeps exactly one copy of a shared boilerplate span") {
    // Shared 8-word boilerplate inside otherwise-unique docs: the first
    // doc keeps it, the second loses exactly those 8 words.
    val bp = "b1 b2 b3 b4 b5 b6 b7 b8"
    val docs = Seq(
      (1L, s"u1 u2 $bp u3 u4", "en", "s0"),
      (2L, s"v1 v2 v3 $bp v4 v5", "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val r = Dedup.substringRemoval(docs).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_removed") == 0)
    assert(r(1).getAs[Long]("n_removed") == 8)
    val cleaned2 = "v1 v2 v3 v4 v5"
    assert(r(1).getAs[String]("kept_md5") ==
      docs.sparkSession.range(1).select(md5(lit(cleaned2))).head.getString(0))
  }

  test("BLEU and ROUGE are exactly 1 on an identical LSH pair") {
    val docs = Seq(
      (1L, base, "en", "s0"),
      (2L, base, "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val b = TextAnalysis.bleuPairs(docs).collect()
    assert(b.length == 1)
    val row = b.head
    assert(row.getAs[Double]("bleu") == 1.0 && row.getAs[Double]("bp") == 1.0)
    (1 to 4).foreach(i => assert(row.getAs[Double](s"p$i") == 1.0))
    val rg = TextAnalysis.rougePairs(docs).collect()
    assert(rg.length == 2)
    rg.foreach { rr =>
      assert(rr.getAs[Double]("rouge_p") == 1.0 && rr.getAs[Double]("rouge_r") == 1.0
        && rr.getAs[Double]("rouge_f1") == 1.0)
    }
  }

  test("BLEU matches a plain-Scala reference on a near-identical pair") {
    val t1 = base
    val t2 = "alpha beta gamma delta epsilon zeta eta theta iota omega" // last word differs
    val docs = Seq((1L, t1, "en", "s0"), (2L, t2, "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.bleuPairs(docs).collect()
    assert(got.length == 1, "near-identical docs must be LSH candidates")
    def grams(t: String, n: Int): Map[String, Int] =
      t.split(" ").sliding(n).map(_.mkString(" ")).toSeq.groupBy(identity).map {
        case (k, v) => k -> v.size
      }
    val ps = (1 to 4).map { n =>
      val (g1, g2) = (grams(t1, n), grams(t2, n))
      val m = g2.map { case (g, c) => math.min(c, g1.getOrElse(g, 0)) }.sum
      m.toDouble / g2.values.sum
    }
    val expected = math.exp(ps.map(math.log).sum / 4) // bp = 1 (equal lengths)
    val row = got.head
    assert(math.abs(row.getAs[Double]("bleu") -
      BigDecimal(expected).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(row.getAs[Long]("ref_len") == 10 && row.getAs[Long]("cand_len") == 10)
  }

  test("readability computes the two Flesch formulas from heuristic counts") {
    val docs = Seq((1L, "hello world. it is fun.", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.readability(docs).head
    assert(r.getAs[Long]("n_words") == 5)
    assert(r.getAs[Long]("n_sents") == 2)
    // hello=2, world.=1, it=1, is=1, fun.=1
    assert(r.getAs[Long]("n_syllables") == 6)
    val flesch = 206.835 - 1.015 * (5.0 / 2) - 84.6 * (6.0 / 5)
    val fk = 0.39 * (5.0 / 2) + 11.8 * (6.0 / 5) - 15.59
    assert(math.abs(r.getAs[Double]("flesch") - flesch) < 1e-6)
    assert(math.abs(r.getAs[Double]("fk_grade") - fk) < 1e-6)
  }

  test("diversityCensus: balanced mixture has ln(k) entropy and zero Gini") {
    val docs = Seq(
      (1L, "a b c d", "en", "s0"),
      (2L, "e f g h", "de", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val r = Sampling.diversityCensus(docs).collect().map(x =>
      x.getAs[String]("dim") -> x).toMap
    Seq("source", "lang").foreach { dim =>
      val row = r(dim)
      assert(row.getAs[Long]("n_groups") == 2)
      assert(math.abs(row.getAs[Double]("shannon") - math.log(2)) < 1e-5)
      assert(row.getAs[Double]("simpson") == 0.5)
      assert(row.getAs[Double]("gini") == 0.0)
      assert(math.abs(row.getAs[Double]("eff_groups") - 2.0) < 1e-5)
    }
  }

  test("diversityCensus: single group is degenerate (H=0, Simpson=1, Gini=0)") {
    val docs = Seq((1L, "a b c", "en", "s0"), (2L, "d e", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val r = Sampling.diversityCensus(docs).collect()
    r.foreach { row =>
      assert(row.getAs[Long]("n_groups") == 1)
      assert(row.getAs[Double]("shannon") == 0.0)
      assert(row.getAs[Double]("simpson") == 1.0)
      assert(row.getAs[Double]("gini") == 0.0)
    }
  }

  test("trainingOrder batches partition the corpus and replay the exact global order") {
    val docs = (0L until 37L).map(i => (i, (s"w$i " * 3).trim, "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Corpus.trainingOrder(docs, seed = "s1", batchSize = 10)
      .orderBy("batch_id").collect()
    assert(got.map(_.getAs[Long]("n_docs")).sum == 37)
    assert(got.map(_.getAs[Long]("n_docs")).toSeq == Seq(10L, 10L, 10L, 7L))
    assert(got.map(_.getAs[Long]("first_rank")).toSeq == Seq(1L, 11L, 21L, 31L))
    // single-partition reference: sort by the md5 key on the driver
    val ref = docs.select($"doc_id",
        md5(concat(lit("s1:"), $"doc_id".cast("string"))).as("k"))
      .collect().map(r => (r.getString(1), r.getLong(0))).sortBy(identity).map(_._2)
    val refBatches = ref.grouped(10).toSeq
    got.zip(refBatches).foreach { case (row, ids) =>
      val expMd5 = docs.sparkSession.range(1)
        .select(md5(lit(ids.mkString(",")))).head.getString(0)
      assert(row.getAs[String]("order_md5") == expMd5)
    }
  }

  test("trainingOrder: a different seed permutes, the same seed replays") {
    val docs = (0L until 30L).map(i => (i, s"t$i", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    def fp(seed: String) = Corpus.trainingOrder(docs, seed, batchSize = 30)
      .select("order_md5").head.getString(0)
    assert(fp("a") == fp("a"))
    assert(fp("a") != fp("b"))
  }

  test("curriculumOrder schedules whole phases easy-to-hard with an audited mix") {
    // quality_score is dominated by the token-count term: three planted
    // tiers — long (head), medium (middle), short (tail)
    def doc(i: Long, words: Int) = (i, (1 to words).map(j => s"w${i}x$j").mkString(" "), "en", "s0")
    val docs = ((0L until 10L).map(doc(_, 220)) ++ (10L until 20L).map(doc(_, 100)) ++
      (20L until 30L).map(doc(_, 10))).toDF("doc_id", "text", "lang", "source")
    val got = Corpus.curriculumOrder(docs, seed = "c", batchSize = 10)
      .orderBy("batch_id").collect()
    assert(got.length == 3)
    assert(got(0).getAs[Long]("n_head") == 10 && got(0).getAs[Long]("n_middle") == 0)
    assert(got(1).getAs[Long]("n_middle") == 10)
    assert(got(2).getAs[Long]("n_tail") == 10 && got(2).getAs[Long]("n_head") == 0)
    assert(got.map(_.getAs[Long]("n_docs")).sum == 30)
    assert(got.map(_.getAs[Long]("first_rank")).toSeq == Seq(1L, 11L, 21L))
  }

  test("noveltyCurve: disjoint batches are fully novel; repeated text is novel once") {
    // 20 docs with globally unique grams -> every batch 100% novel
    val uniq = (0L until 20L).map(i => (i, (1 to 6).map(j => s"u${i}v$j").mkString(" "), "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val r1 = Corpus.noveltyCurve(uniq, seed = "n", batchSize = 5).collect()
    assert(r1.forall(_.getAs[Double]("novelty_rate") == 1.0))
    assert(r1.map(_.getAs[Long]("n_new_grams")).sum ==
      r1.last.getAs[Long]("cum_new_grams"))
    // identical docs -> only the first batch (in training order) is novel
    val same = (0L until 20L).map(i => (i, base, "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val r2 = Corpus.noveltyCurve(same, seed = "n", batchSize = 5)
      .orderBy("batch_id").collect()
    assert(r2.head.getAs[Long]("n_new_grams") == 8) // 8 distinct 3-grams of a 10-word doc
    assert(r2.tail.forall(_.getAs[Long]("n_new_grams") == 0))
    assert(r2.last.getAs[Long]("cum_new_grams") == 8)
  }

  test("systematicResample draws exactly k copies, uniformly under uniform weights") {
    val docs = (0L until 25L).map(i => (i, base, "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val r = Sampling.systematicResample(docs, k = 50).collect()
    assert(r.map(_.getAs[Long]("n_copies")).sum == 50)
    // identical texts -> identical weights -> exactly 2 copies each
    assert(r.length == 25 && r.forall(_.getAs[Long]("n_copies") == 2L))
    val r2 = Sampling.systematicResample(docs, k = 7).collect()
    assert(r2.map(_.getAs[Long]("n_copies")).sum == 7)
    assert(r2.forall(_.getAs[Long]("n_copies") == 1L)) // within 1 of expectation 7/25
  }

  test("lshTuningCurve: an identical pair survives every band config; analytic curve matches") {
    val docs = (Seq((1L, base, "en", "s0"), (2L, base, "en", "s0")) ++
      (3L until 10L).map(i => (i, (1 to 12).map(j => s"z${i}w$j").mkString(" "), "en", "s0")))
      .toDF("doc_id", "text", "lang", "source")
    val r = Dedup.lshTuningCurve(docs).orderBy("bands").collect()
    assert(r.length == 3)
    r.foreach { row =>
      assert(row.getAs[Long]("n_true") == 1)
      assert(row.getAs[Long]("n_hits") == 1, "identical docs share every band")
      assert(row.getAs[Double]("pair_recall") == 1.0)
      val (b, rr) = (row.getAs[Int]("bands"), row.getAs[Int]("rows_per_band"))
      val p = 1.0 - math.pow(1.0 - math.pow(0.5, rr), b)
      assert(math.abs(row.getAs[Double]("p_collision") - p) < 1e-6)
    }
  }

  test("wordLcs kernel matches a plain-Scala LCS on crafted and random word pairs") {
    import graft.functions.Text
    def refLcs(a: Seq[String], b: Seq[String]): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
        else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length)
    }
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      ("a b c d", "a x c y"), ("x y", "y x"), ("a a b", "a b a"),
      ("", "a b"), ("same same", "same same")) ++
      (1 to 20).map { _ =>
        def t = (1 to 3 + rnd.nextInt(15)).map(_ => s"w${rnd.nextInt(6)}").mkString(" ")
        (t, t.split(" ").reverse.mkString(" "))
      }
    val df = cases.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("id", "a", "b")
    val got = df.select($"id", Text.wordLcs($"a", $"b").as("l")).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      assert(got(i) == refLcs(a.split(" ", -1).toSeq, b.split(" ", -1).toSeq),
        s"case $i: '$a' vs '$b'")
    }
    // interpreted path agrees
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val g2 = df.select($"id", Text.wordLcs($"a", $"b").as("l")).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(g2 == got)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("rougeLPairs is 1 on identical pairs and tracks the LCS on a near pair") {
    import graft.operators.TextAnalysis
    // the q295-proven LSH candidate pair: last word differs -> LCS 9/10
    val t2 = "alpha beta gamma delta epsilon zeta eta theta iota omega"
    val docs = Seq((1L, base, "en", "s0"), (2L, t2, "en", "s0"),
      (3L, base, "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.rougeLPairs(docs).collect()
      .map(x => (x.getAs[Long]("d1"), x.getAs[Long]("d2")) -> x).toMap
    assert(r.contains((1L, 2L)) && r.contains((1L, 3L)))
    assert(r((1L, 2L)).getAs[Long]("lcs") == 9)
    assert(r((1L, 2L)).getAs[Double]("rouge_l_f1") == 0.9)
    assert(r((1L, 3L)).getAs[Double]("rouge_l_f1") == 1.0) // identical pair
  }

  test("wordEditDistance kernel matches a plain-Scala Levenshtein on word pairs") {
    import graft.functions.Text
    def refDist(a: Seq[String], b: Seq[String]): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val rnd = new scala.util.Random(11)
    val cases = Seq(("a b c", "a x c"), ("a b", "b a"), ("", "x y z"),
      ("same", "same")) ++ (1 to 20).map { _ =>
      def t = (1 to 2 + rnd.nextInt(12)).map(_ => s"v${rnd.nextInt(5)}").mkString(" ")
      (t, t)
    }.map { case (a, _) =>
      (a, a.split(" ").drop(1).mkString(" ") + " zz") // drop head, append tail
    }
    val df = cases.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("id", "a", "b")
    val got = df.select($"id", Text.wordEditDistance($"a", $"b").as("d")).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      assert(got(i) == refDist(a.split(" ", -1).toSeq, b.split(" ", -1).toSeq),
        s"case $i: '$a' vs '$b'")
    }
  }

  test("werPairs: 0 on the identical pair, 0.1 on the one-word-substitution pair") {
    import graft.operators.TextAnalysis
    val t2 = "alpha beta gamma delta epsilon zeta eta theta iota omega"
    val docs = Seq((1L, base, "en", "s0"), (2L, t2, "en", "s0"),
      (3L, base, "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.werPairs(docs).collect()
      .map(x => (x.getAs[Long]("d1"), x.getAs[Long]("d2")) -> x).toMap
    assert(r((1L, 3L)).getAs[Long]("edit_dist") == 0)
    assert(r((1L, 3L)).getAs[Double]("wer") == 0.0)
    assert(r((1L, 2L)).getAs[Long]("edit_dist") == 1)
    assert(r((1L, 2L)).getAs[Double]("wer") == 0.1)
  }

  test("chrfPairs is 1 on identical pairs and in (0,1) on the near pair") {
    import graft.operators.TextAnalysis
    val t2 = "alpha beta gamma delta epsilon zeta eta theta iota omega"
    val docs = Seq((1L, base, "en", "s0"), (2L, t2, "en", "s0"),
      (3L, base, "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.chrfPairs(docs).collect()
      .map(x => (x.getAs[Long]("d1"), x.getAs[Long]("d2")) -> x).toMap
    assert(r((1L, 3L)).getAs[Double]("chrf2") == 1.0)
    assert(r((1L, 3L)).getAs[Double]("chr_p") == 1.0)
    val near = r((1L, 2L)).getAs[Double]("chrf2")
    assert(near > 0.5 && near < 1.0, s"near-pair chrf2 = $near")
  }

  test("datasetCard is one row with the census invariants") {
    val r = SparkEntry.queries("q308_dataset_card")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_docs") == 500)
    assert(row.getAs[Long]("n_tokens") > 0)
    assert(row.getAs[Long]("n_sources") > 1 && row.getAs[Long]("n_langs") > 1)
    val share = row.getAs[Double]("dup_token_share")
    assert(share > 0.0 && share < 1.0)
    assert(row.getAs[Double]("source_gini") >= 0.0 && row.getAs[Double]("source_gini") < 1.0)
  }

  test("mixtureInterleave: every batch reproduces the skewed corpus mix within one doc") {
    val docs = ((0L until 60L).map(i => (i, s"a$i", "en", "sA")) ++
      (60L until 90L).map(i => (i, s"b$i", "en", "sB")) ++
      (90L until 100L).map(i => (i, s"c$i", "en", "sC")))
      .toDF("doc_id", "text", "lang", "source")
    val r = Corpus.mixtureInterleave(docs, seed = "m", batchSize = 20).collect()
    assert(r.map(_.getAs[Long]("n_docs")).sum == 100)
    // corpus shares 0.6 / 0.3 / 0.1; with batch 20 the stride schedule
    // keeps every batch within one doc of its quota (dev <= 1/20)
    r.foreach { row =>
      assert(row.getAs[Double]("abs_dev") <= 0.05 + 1e-9,
        s"${row.getAs[String]("source")} batch ${row.getAs[Long]("batch_id")} dev ${row.getAs[Double]("abs_dev")}")
    }
    val shares = r.map(x => x.getAs[String]("source") -> x.getAs[Double]("corpus_share")).toMap
    assert(shares("sA") == 0.6 && shares("sB") == 0.3 && shares("sC") == 0.1)
  }

  test("knWindowLocalize points the worst window at the planted garbage span") {
    import graft.operators.TextAnalysis
    val good = (1 to 100).map(i => s"tok${i % 12}") // reference-like vocabulary
    val ref = (0L until 10L).map(i =>
      (i, good.drop((i % 5).toInt).take(60).mkString(" "), "en", "ref"))
    // 32 good + 16 OOV-garbage + 24 good: chunk grid (32/24) puts the
    // garbage wholly inside chunk 1 (words 25..56)
    val probe = (good.take(32) ++ (1 to 16).map(j => s"zzq$j") ++ good.take(24)).mkString(" ")
    val docs = (ref :+ ((100L, probe, "en", "feed")))
      .toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.knWindowLocalize(docs, col("source") === "ref")
      .filter($"doc_id" === 100L).head
    assert(r.getAs[Int]("worst_chunk") == 1,
      s"worst window should be the garbage chunk: $r")
    assert(r.getAs[Long]("n_chunks") == 3)
    assert(r.getAs[Double]("score_range") > 0.5,
      "the garbage window must score far below the clean ones")
  }

  test("metricAgreement: quality metrics correlate, WER anti-correlates") {
    import graft.operators.TextAnalysis
    // three graded pairs: identical / one-word-off / half-rewritten —
    // every quality metric ranks them the same way, WER reverses
    val t1 = base
    val t2 = "alpha beta gamma delta epsilon zeta eta theta iota omega"
    val t3 = "alpha beta gamma delta epsilon q1 q2 q3 q4 q5"
    val docs = Seq(
      (1L, t1, "en", "s0"), (2L, t1, "en", "s0"),
      (3L, t1, "en", "s0"), (4L, t2, "en", "s0"),
      (5L, t1, "en", "s0"), (6L, t3, "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("d1", "d2")
    val r = TextAnalysis.metricAgreement(docs, pairs = Some(pairs)).collect()
      .map(x => (x.getAs[String]("metric_a"), x.getAs[String]("metric_b")) ->
        x.getAs[Double]("spearman_rho")).toMap
    assert(r.size == 6)
    assert(r(("bleu", "rouge_l_f1")) == 1.0)
    assert(r(("bleu", "chrf2")) == 1.0)
    assert(r(("bleu", "wer")) == -1.0)
    assert(r(("chrf2", "wer")) == -1.0)
  }

  test("fimExamples: PSM/SPM reassemble the exact partition at the derived cuts") {
    import graft.operators.Corpus
    val docs = Seq((7L, base, "en", "s0"), (8L, "a b", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val r = Corpus.fimExamples(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    val row = r(7L)
    assert(row.getAs[Boolean]("splittable"))
    val (lo, hi) = (row.getAs[Int]("lo"), row.getAs[Int]("hi"))
    assert(lo >= 1 && lo <= hi && hi <= 9)
    val w = base.split(" ")
    val expectedPsm = Seq("<pre>", w.take(lo).mkString(" "),
      "<suf>", w.drop(hi).mkString(" "),
      "<mid>", w.slice(lo, hi).mkString(" ")).mkString(" ")
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md5.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(row.getAs[String]("psm_md5") == hex(expectedPsm),
      s"lo=$lo hi=$hi expected '$expectedPsm'")
    assert(row.getAs[Int]("middle_len") == hi - lo)
    assert(!r(8L).getAs[Boolean]("splittable"))
  }

  test("boilerplateFlow attributes redundancy to the originating source") {
    val bp = "q1 q2 q3 q4 q5 q6 q7 q8"
    val docs = Seq(
      (1L, s"o1 o2 $bp o3", "en", "srcA"), // originates the boilerplate
      (2L, s"c1 c2 $bp c3", "en", "srcB"), // cross-source copy
      (3L, s"d1 d2 $bp d3", "en", "srcA"), // within-source copy
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9", "en", "srcB") // clean
    ).toDF("doc_id", "text", "lang", "source")
    val r = Dedup.boilerplateFlow(docs).collect()
      .map(x => (x.getAs[String]("from_source"), x.getAs[String]("in_source")) ->
        ((x.getAs[Long]("n_redundant_grams"), x.getAs[Long]("n_docs_hit")))).toMap
    assert(r((("srcA", "srcB"))) == ((1L, 1L)))
    assert(r((("srcA", "srcA"))) == ((1L, 1L)))
    assert(!r.contains(("srcB", "srcA")) && !r.contains(("srcB", "srcB")))
  }

  test("substringGate erases base boilerplate, keeps novelty, ignores within-batch dups") {
    val bp = "c1 c2 c3 c4 c5 c6 c7 c8"
    val baseDocs = Seq((1L, s"a1 a2 $bp a3", "en", "s0")).toDF("doc_id", "text", "lang", "source")
    val grams = Dedup.gramSet(baseDocs)
    val batch = Seq(
      (10L, s"n1 n2 n3 $bp n4", "en", "s0"), // boilerplate must go, novelty stays
      (11L, "f1 f2 f3 f4 f5 f6 f7 f8 f9", "en", "s0"), // fully novel: untouched
      (12L, "f1 f2 f3 f4 f5 f6 f7 f8 f9", "en", "s0") // within-batch dup: ALSO untouched (contract)
    ).toDF("doc_id", "text", "lang", "source")
    val r = Dedup.substringGate(batch, grams).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_removed") == 8)
    assert(r(0).getAs[String]("kept_md5") ==
      batch.sparkSession.range(1).select(md5(lit("n1 n2 n3 n4"))).head.getString(0))
    assert(r(1).getAs[Long]("n_removed") == 0)
    assert(r(2).getAs[Long]("n_removed") == 0)
  }
}
