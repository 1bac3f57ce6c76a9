package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}

/** Fixed-point PageRank: hand-computed values, teleport floor for
  * in-edge-less nodes, and the end-to-end canonical-keep decision.
  */
class GraphSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  test("pageRank matches hand-computed fixed-point iterations on a path graph") {
    // symmetric path 1–2–3: deg(1)=deg(3)=1, deg(2)=2
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 2).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    // iter1: ends 150000+(17*500000)/20=575000; mid 150000+(17*2000000)/20=1850000
    // iter2: ends 150000+(17*925000)/20=936250; mid 150000+(17*1150000)/20=1127500
    assert(r == Map(
      1L -> ((1L, 0.93625)),
      2L -> ((2L, 1.1275)),
      3L -> ((1L, 0.93625))))
  }

  test("a node with no in-edges settles at the teleport mass") {
    val edges = Seq((4L, 1L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 5).collect()
      .map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(4L) == 0.15)
    assert(r(2L) > 0.15 && r(1L) > r(2L)) // 1 receives from both 2 and 4
  }

  test("canonicalKeep keeps the longest member per cluster and all singletons") {
    val long = "alpha beta gamma delta epsilon zeta eta theta"
    val short = "alpha beta gamma delta epsilon zeta"// high overlap with `long`
    val docs = Seq(
      (1L, short, short.length.toLong),
      (2L, long, long.length.toLong),
      (3L, "completely different words entirely here now", 45L)
    ).toDF("doc_id", "text", "n_chars")
    val r = Dedup.canonicalKeep(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(r(1L) == ((1L, 2L, false))) // clustered with 2, shorter → dropped
    assert(r(2L) == ((1L, 2L, true))) // longest member → canonical
    assert(r(3L) == ((3L, 1L, true))) // singleton keeps itself
  }

  test("triangles: K4 minus one edge, hand-counted corners and coefficients") {
    import spark.implicits._
    // edges of K4 without (1,4): triangles (1,2,3) and (2,3,4);
    // input includes a duplicate and a reversed edge — must normalize
    val e = Seq((1L, 2L), (3L, 1L), (2L, 3L), (4L, 2L), (3L, 4L), (2L, 1L))
      .toDF("src", "dst")
    val r = graft.operators.Graph.triangles(e)
      .orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        if (x.isNullAt(3)) None else Some(x.getDouble(3))))
    assert(r.toSeq == Seq(
      (1L, 2L, 1L, Some(1.0)),
      (2L, 3L, 2L, Some(0.666667)),
      (3L, 3L, 2L, Some(0.666667)),
      (4L, 2L, 1L, Some(1.0))))
  }

  test("triangles: counted even when neighbor id order disagrees with degree order") {
    // triangle {1,2,3} plus pendant edges 2-5 and 2-6: deg(2)=4 while
    // deg(1)=deg(3)=2, so the closing edge 2-3 orients 3 -> 2 (degree
    // order) against the raw id order 2 < 3 — the wedge pair at apex 1
    // must be ordered by the same (deg, id) key or the closure join
    // misses the triangle entirely.
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 5L), (2L, 6L))
      .toDF("src", "dst")
    val r = graft.operators.Graph.triangles(e)
      .orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq(
      (1L, 2L, 1L), (2L, 4L, 1L), (3L, 2L, 1L), (5L, 1L, 0L), (6L, 1L, 0L)))
  }

  test("triangles matches brute-force enumeration on random graphs") {
    // the exact shape the wedge-ordering bug hid in: random degree
    // profiles where id order and degree order routinely disagree
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val n = 12
      val pairs = for {
        a <- 0L until n; b <- (a + 1) until n
        if rng.nextDouble() < 0.3
      } yield (a, b)
      val adj = pairs.toSet
      val brute = (for {
        a <- 0L until n; b <- (a + 1) until n; c <- (b + 1) until n
        if adj((a, b)) && adj((b, c)) && adj((a, c))
      } yield Seq(a, b, c)).flatten
        .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
      val got = graft.operators.Graph.triangles(pairs.toDF("src", "dst"))
        .collect().map(x => x.getLong(0) -> x.getLong(2))
        .filter(_._2 > 0).toMap
      assert(got == brute, s"trial $trial: $got vs $brute")
    }
  }

  test("modularity: two planted triangles with one bridge, hand-computed") {
    // m = 7 edges; each triangle: internal 3, degree sum 7 (one bridge
    // endpoint each) -> contribution 3/7 - (7/14)^2 = 0.178571
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("v1", "v2")
    val asg = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1), (5L, 1), (6L, 1))
      .toDF("id", "cent_id")
    val r = Graph.modularity(pairs, asg).collect()
      .map(x => x.getAs[Int]("cent_id") ->
        ((x.getAs[Long]("internal_edges"), x.getAs[Long]("degree_sum"),
          x.getAs[Double]("q_contribution")))).toMap
    assert(r(0) == ((3L, 7L, 0.178571)) && r(1) == ((3L, 7L, 0.178571)))
    // a random half/half split of the same graph scores lower
    val bad = Seq((1L, 0), (4L, 0), (5L, 0), (2L, 1), (3L, 1), (6L, 1))
      .toDF("id", "cent_id")
    val qBad = Graph.modularity(pairs, bad).collect()
      .map(_.getAs[Double]("q_contribution")).sum
    assert(qBad < 2 * 0.178571, s"shuffled partition must score lower: $qBad")
  }

  test("trustRank: trust flows from the seed; seedless components decay") {
    // two symmetric components: seeded chain 1-2-3, unseeded pair 10-11
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (10L, 11L), (11L, 10L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val r = Graph.trustRank(edges, seeds).collect()
      .map(x => x.getAs[Long]("id") ->
        ((x.getAs[Boolean]("is_seed"), x.getAs[Double]("trust")))).toMap
    assert(r(1L)._1 && !r(2L)._1 && !r(10L)._1)
    // the hub adjacent to the seed collects BOTH neighbors' outflow and
    // legitimately outranks the seed itself (the TrustRank shape); the
    // far end gets only what leaks through the hub
    assert(r(2L)._2 > r(1L)._2 && r(1L)._2 > r(3L)._2,
      s"unexpected seeded-component ordering: $r")
    // the seedless component holds only decayed initial mass — strictly
    // below every seeded-component node
    assert(Seq(1L, 2L, 3L).forall(n => r(n)._2 > r(10L)._2),
      s"seedless component must rank lowest: $r")
    assert(r(10L)._2 == r(11L)._2)
  }

  test("trustRank fails fast when the seed set misses the graph") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val seeds = Seq(99L).toDF("id")
    val e = intercept[IllegalArgumentException](Graph.trustRank(edges, seeds))
    assert(e.getMessage.contains("seed set"))
  }

  test("hits: hubs point, authorities receive; max-normalized to 1.0") {
    // two hubs (1, 2) each pointing at authorities 10 and 11; hub 1
    // also points at 12 — 1 is the stronger hub, 10/11 the stronger
    // authorities (two in-links each vs 12's one)
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 11L))
      .toDF("src", "dst")
    val r = Graph.hits(edges, iters = 5).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    // hubs: 1 strictly above 2 (extra out-link), both above all authorities
    assert(r(1L)._1 == 1.0, s"strongest hub must sit at the L-inf max: $r")
    assert(r(2L)._1 < 1.0 && r(2L)._1 > 0.5)
    assert(Seq(10L, 11L, 12L).forall(a => r(a)._1 == 0.0), "pure authorities have no out-links")
    // authorities: 10 and 11 tie at the max, 12 strictly below
    assert(r(10L)._2 == 1.0 && r(11L)._2 == 1.0)
    assert(r(12L)._2 < 1.0 && r(12L)._2 > 0.0)
    assert(Seq(1L, 2L).forall(h => r(h)._2 == 0.0), "pure hubs receive no links")
  }

  test("hits on an empty edge set gives no rows instead of throwing") {
    // the degree guard's max over no rows is NULL: it must read as 0
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.hits(none, iters = 2).count() == 0)
  }

  test("hits fails fast past the bigint micro-unit degree headroom") {
    // the documented bound (deg * 10^6 * 10^6 must fit a BIGINT) is
    // ENFORCED, not just documented: exceeding it must throw before
    // the normalization multiply wraps silently in non-ANSI Spark
    // (the kCore/trustRank fail-fast discipline). 10M edges into one
    // node would be slow to build for real — monkey-test the guard
    // with a tiny graph by lowering nothing: instead assert the guard
    // accepts a legal graph and the require message names the bound.
    val ok = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    Graph.hits(ok, iters = 1).collect() // no throw at legal degree
    // a degree over the bound must throw; build it cheaply via a
    // range→one-node edge list (9.3M rows is a single narrow column)
    val spark2 = spark
    import spark2.implicits._
    val over = spark.range(9300000L).toDF("src")
      .select(col("src"), lit(0L).as("dst"))
    val e = intercept[IllegalArgumentException](Graph.hits(over, iters = 1))
    assert(e.getMessage.contains("degree"))
  }

  test("labelNoiseAudit: unanimous disagreement flags, split neighborhoods don't, ties pick the smallest label") {
    // node 1 (label 0): neighbors 2,3,4 all label 1 -> rate 1.0,
    //   majority 1 != 0 -> SUSPECT
    // node 2 (label 1): neighbors 1 (0), 3 (1), 4 (1) -> rate 1/3,
    //   majority 1 == own -> clean
    // node 5 (label 0): neighbors 6 (1), 7 (2) -> rate 1.0, vote tie
    //   1 vs 2 -> majority = smallest (1) -> suspect
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (5L, 6L), (5L, 7L)).toDF("v1", "v2")
    val labels = Seq((1L, 0), (2L, 1), (3L, 1), (4L, 1), (5L, 0),
      (6L, 1), (7L, 2)).toDF("id", "label")
    val r = Graph.labelNoiseAudit(pairs, labels).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getInt(5), x.getBoolean(6)))).toMap
    assert(r(1L) == ((0, 3L, 3L, 1.0, 1, true)), s"unanimous disagreement must flag: $r")
    assert(r(2L) == ((1, 3L, 1L, 0.333333, 1, false)))
    assert(r(5L) == ((0, 2L, 2L, 1.0, 1, true)), s"vote tie must pick the smallest label: $r")
    // every node with >= 1 neighbor reports
    assert(r.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("kCore: the 2-core keeps the cycle and peels the tail") {
    // triangle 1-2-3 plus a pendant path 3-4-5: peeling at k=2 removes
    // 5 (deg 1), then 4 — the triangle survives with core degree 2
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("v1", "v2")
    val r = Graph.kCore(pairs, k = 2).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the densest structure → empty core, still converges
    assert(Graph.kCore(pairs, k = 3).isEmpty)
  }

  test("kCore throws rather than serving a non-converged peel") {
    // a 10-node path peels one end per round from each side — depth 5;
    // maxIters=2 must refuse, not return a half-peeled "core"
    val pairs = (1L to 9L).map(i => (i, i + 1)).toDF("v1", "v2")
    intercept[IllegalStateException](Graph.kCore(pairs, k = 2, maxIters = 2))
    assert(Graph.kCore(pairs, k = 2, maxIters = 15).isEmpty, "a path has no 2-core")
  }

  test("labelProp: majority spread, smallest-label ties, isolated stays null") {
    // star: seeds 1(label 7) and 2(label 3) both neighbor 10; 11 hangs
    // off 10; 12 is connected only to 13 (both unlabeled)
    val edges = Seq((1L, 10L), (10L, 1L), (2L, 10L), (10L, 2L),
      (10L, 11L), (11L, 10L), (12L, 13L), (13L, 12L))
      .toDF("src", "dst")
    val seeds = Seq((1L, 7), (2L, 3)).toDF("id", "label")
    val r = Graph.labelProp(edges, seeds, iters = 3).collect()
      .map(x => (x.getLong(0), (x.getBoolean(1),
        if (x.isNullAt(2)) None else Some(x.getInt(2))))).toMap
    assert(r(1L) == ((true, Some(7))) && r(2L) == ((true, Some(3))),
      "seeds never change")
    // node 10 sees one vote for 7 and one for 3 → tie → smallest label
    assert(r(10L) == ((false, Some(3))))
    // node 11's only labeled neighbor is 10, labeled 3 from round 1 on
    assert(r(11L) == ((false, Some(3))))
    assert(r(12L)._2.isEmpty && r(13L)._2.isEmpty,
      "no labeled neighbor anywhere → stays unlabeled")
  }

  test("weighted labelProp: one strong neighbor outvotes two weak ones") {
    // node 10 hears label 7 at weight 0.9 and label 3 twice at 0.3 —
    // the weighted vote (0.9 > 0.6) and the count vote (1 < 2) disagree
    val edges = Seq(
      (1L, 10L, 0.9), (10L, 1L, 0.9),
      (2L, 10L, 0.3), (10L, 2L, 0.3),
      (3L, 10L, 0.3), (10L, 3L, 0.3)).toDF("src", "dst", "w")
    val seeds = Seq((1L, 7), (2L, 3), (3L, 3)).toDF("id", "label")
    val w = Graph.labelPropWeighted(edges, seeds, iters = 1).collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(2)) None else Some(x.getInt(2)))).toMap
    assert(w(10L) == Some(7), s"0.9 must outvote 0.3 + 0.3: $w")
    val u = Graph.labelProp(edges.select("src", "dst"), seeds, iters = 1)
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(2)) None else Some(x.getInt(2)))).toMap
    assert(u(10L) == Some(3), s"the count vote must pick the majority: $u")
  }
}
