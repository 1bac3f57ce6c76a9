package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.Vec
import graft.operators.{AsofJoin, Dedup}
import graft.streaming.StreamSinks

/** Regression coverage for the round-1 advisor findings. */
class AdviceFixesSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(1704067200000L + sec * 1000)

  test("dotFast yields NULL on mismatched array lengths (codegen + eval)") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 1f, 1f)),
      (Array(1f, 2f, 3f), Array(1f, 1f)) // dimension bug → NULL, not a truncated score
    ).toDF("a", "b")
    val r = df.select(Vec.dotFast($"a", $"b").as("d")).collect()
    assert(r(0).getDouble(0) == 6.0)
    assert(r(1).isNullAt(0))
    // whole-stage-codegen disabled → interpreted eval path agrees
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val r2 = df.select(Vec.dotFast($"a", $"b").as("d")).collect()
      assert(r2(0).getDouble(0) == 6.0 && r2(1).isNullAt(0))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("asof payload fields all come from the same (newest) right row") {
    val left = Seq((1L, ts(200), 10L)).toDF("user_id", "ts", "event_id")
    // Newest right row has a NULL value: asof_value must be NULL (from
    // that row), NOT the older row's 1.0.
    val right = Seq(
      (1L, ts(50), 100L, Some(1.0)),
      (1L, ts(100), 101L, None)
    ).toDF("user_id", "ts", "event_id", "value")
    val r = AsofJoin
      .asofBackward(left, right, "user_id", "ts", "event_id", Seq("event_id", "value"))
      .select("asof_event_id", "asof_value").head
    assert(r.getLong(0) == 101L)
    assert(r.isNullAt(1))
  }

  test("connectedComponents converges on a deep chain via pointer jumping") {
    // 33-node path graph: min-label needs 32 diameter rounds; pointer
    // jumping needs ~log2(33). maxIters=10 proves the acceleration.
    // localEdgeThreshold=0 forces the distributed loop.
    val chain = (0L until 32L).map(i => (i, i + 1)).toDF("d1", "d2")
    val r = Dedup.connectedComponents(chain, maxIters = 10, localEdgeThreshold = 0L)
    assert(r.filter($"cluster_rep" === 0L).count() == 33L)
    assert(r.select(max("cluster_size")).head.getLong(0) == 33L)
    assert(r.filter($"is_kept").count() == 1L)
  }

  test("connectedComponents raises instead of returning non-converged labels") {
    val chain = (0L until 32L).map(i => (i, i + 1)).toDF("d1", "d2")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 2, localEdgeThreshold = 0L).collect()
    }
  }

  test("distributed CC never mutates the session's shuffle partitions") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val chain = (0L until 32L).map(i => (i, i + 1)).toDF("d1", "d2")
    Dedup.connectedComponents(chain, maxIters = 10, localEdgeThreshold = 0L).collect()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("adaptive local union-find agrees with the distributed loop") {
    // two components + an isolated pair, shuffled edge order
    val edges = Seq((5L, 3L), (1L, 2L), (3L, 1L), (9L, 8L), (20L, 21L), (2L, 5L))
      .toDF("d1", "d2")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_rep", "cluster_size", "is_kept")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq
    val local = canon(Dedup.connectedComponents(edges))
    val dist = canon(Dedup.connectedComponents(edges, localEdgeThreshold = 0L))
    assert(local == dist)
  }

  test("upsert store survives a crash that left a partial new generation") {
    val dir = Files.createTempDirectory("graft-upsert-crash").toString + "/t"
    StreamSinks.upsertBatch(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir, Seq("k"))
    // Simulate a crash mid-write of generation 1: directory exists with
    // junk, but _CURRENT still points at generation 0.
    val partial = Paths.get(dir, "gen-1")
    Files.createDirectories(partial)
    Files.write(partial.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    // Store still reads generation 0…
    assert(StreamSinks.readStore(spark, dir).count() == 2)
    // …and the replayed micro-batch overwrites the partial generation.
    StreamSinks.upsertBatch(Seq((2, "B"), (3, "c")).toDF("k", "v"), dir, Seq("k"))
    val r = StreamSinks.readStore(spark, dir).collect()
      .map(x => x.getInt(0) -> x.getString(1)).toMap
    assert(r == Map(1 -> "a", 2 -> "B", 3 -> "c"))
  }

  // ---- round-3 advisor findings ----

  test("upsertJdbcOnce surfaces a genuine progress-table DDL failure immediately") {
    import graft.sources.Connectors
    val url = "jdbc:derby:memory:graftadvicedb;create=true"
    // invalid identifier → Derby syntax error; the old code swallowed
    // EVERY SQLException here and failed later inside the batch txn
    val e = intercept[java.sql.SQLException] {
      Connectors.upsertJdbcOnce(Seq((1L, 1.0)).toDF("k", "v"),
        0L, url, "t_never_created", "bad--name!!", Seq("k"), "", "")
    }
    assert(e.getSQLState != null) // a real, typed DDL error, not a late SELECT failure
  }

  test("upsertJdbc keeps a key duplicated across input partitions in one transaction") {
    import java.sql.DriverManager
    import graft.sources.Connectors
    val url = "jdbc:derby:memory:graftadvicedb2;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(
      """CREATE TABLE dup_agg ("k" BIGINT NOT NULL PRIMARY KEY, "v" DOUBLE)""")
    c.close()
    // same key in two different partitions: pre-fix, two parallel
    // connections raced update-else-insert → duplicate-key abort;
    // post-fix the repartition(keyCols) funnels the key into one txn
    val df = spark.range(2).selectExpr("1L as k", "CAST(id AS DOUBLE) as v").repartition(2)
    assert(df.rdd.getNumPartitions == 2)
    Connectors.upsertJdbc(df, url, "dup_agg", Seq("k"), "", "")
    assert(Connectors.readJdbc(spark, url, "dup_agg", "", "").count() == 1)
  }

  test("compactStore collapses small files behind the _CURRENT pointer") {
    val dir = Files.createTempDirectory("graft-compactstore").toString + "/t"
    StreamSinks.upsertBatch(
      spark.range(1000).selectExpr("id as k", "id * 2 as v").repartition(16),
      dir, Seq("k"))
    def files(g: Long) =
      Files.list(Paths.get(dir, s"gen-$g")).toArray.map(_.toString)
        .count(_.endsWith(".parquet"))
    assert(files(0) > 1)
    StreamSinks.compactStore(spark, dir, targetRowsPerFile = 1000)
    // new generation committed, right-sized, same data
    assert(Files.readString(Paths.get(dir, "_CURRENT")).trim == "1")
    assert(files(1) == 1)
    val got = StreamSinks.readStore(spark, dir)
    assert(got.count() == 1000)
    assert(got.selectExpr("sum(v)").head.getLong(0) == 999L * 1000L)
    // an upsert after compaction keeps working on the new generation
    StreamSinks.upsertBatch(Seq((0L, -1L)).toDF("k", "v"), dir, Seq("k"))
    assert(StreamSinks.readStore(spark, dir).filter($"k" === 0L).head.getLong(1) == -1L)
  }

  test("outOfRangeCounts flags exactly the values the histogram would clamp") {
    val df = Seq(
      ("a", -0.5), ("a", 0.0), ("a", 599.9), ("a", 600.0), ("a", 1e9),
      ("b", 250.0)
    ).toDF("g", "v")
    val r = graft.operators.Robust.outOfRangeCounts(df, "g", "v").collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // -0.5 (below lo), 600.0 and 1e9 (at/above hi); 0.0 and 599.9 in range
    assert(r == Map("a" -> 3L))
  }

  // ---- round-9 advisor findings ----

  private def messageChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("topKRanked excludes NaN distances instead of ranking them first") {
    import graft.operators.Similarity
    val nan = Float.NaN
    val emb = Seq(
      (0L, Array(0f, 0f, 0f, 1f)),
      (1L, Array(0f, 0f, 1f, 1f)),
      (2L, Array(0f, 1f, 1f, 1f)),
      (3L, Array(1f, 1f, 1f, 1f)),
      (4L, Array(nan, 1f, 1f, 1f)) // NaN l2 distance → excluded, never rank 1
    ).toDF("vec_id", "embedding")
    val r = Similarity.bruteForceL2TopK(emb, $"vec_id" === 0L, k = 10)
      .orderBy("rank").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L)) // 4 excluded, order intact
    assert(r.forall(x => !x.getDouble(2).isNaN))
  }

  test("topKRanked excludes NULL scores explicitly") {
    import graft.operators.Similarity
    // mismatched width → dotFast NULL → cosine NULL (the ANSI-safe NULL
    // source; a zero norm would raise DIVIDE_BY_ZERO before ranking)
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 1f, 0f, 0f)),
      (2L, Array(1f, 1f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.bruteForceTopK(emb, $"vec_id" === 0L, k = 10).collect()
    assert(r.map(_.getLong(1)).toSet == Set(1L))
  }

  test("kmeans fails loudly on embeddings wider than dim instead of truncating") {
    import graft.operators.{Clustering, LocalLloyd}
    val wide = Seq.tabulate(6)(i => (i.toLong, Array.fill(Clustering.EmbDim + 1)((i + 1).toFloat)))
      .toDF("vec_id", "embedding")
    // driver-local path, then the distributed loop
    for (localMaxRows <- Seq(LocalLloyd.LocalTrainMaxRows, 0)) {
      val e = intercept[Exception] {
        Clustering.kmeansWith(cosine = true, wide, k = 2, iters = 1, trainPct = 100,
          dim = Clustering.EmbDim, localMaxRows).collect()
      }
      assert(messageChain(e).contains("exceeds dim=64"), messageChain(e).take(500))
    }
  }

  test("incrementalAssignment emits 0.0 shares, not NULL/inf, on an empty split") {
    import graft.operators.Clustering
    val emb = Seq.tabulate(8)(i =>
      (i.toLong, Array(i.toFloat, (i * 2).toFloat, 1f, 0f))).toDF("vec_id", "embedding")
    val r = Clustering.incrementalAssignment(
      emb, lit(false), k = 2, iters = 1, trainPct = 100).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(!x.isNullAt(4) && x.getDouble(4) == 0.0) // new_share
      assert(!x.isNullAt(5) && x.getDouble(5) == -x.getDouble(3)) // drift = -old_share
    }
  }

  test("Materialized builds once per key and rebuilds after evict") {
    import graft.warehouse.Materialized
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def artifact() = Materialized.of(spark, "advice-r9-dir", "advice-r9-key") {
      builds.incrementAndGet()
      Seq((1L, "a")).toDF("k", "v")
    }
    assert(artifact().count() == 1 && artifact().count() == 1)
    assert(builds.get() == 1)
    // keyed evict: dropping ONLY this test's artifact leaves the shared
    // session's other cached artifacts (quantizers, rankings) in place
    // for suites running later in the same JVM
    Materialized.evict(spark, "advice-r9-dir", "advice-r9-key")
    assert(artifact().count() == 1)
    assert(builds.get() == 2)
  }

  // ---- round-11 advisor findings ----

  test("BloomProbe rejects a non-word-array bloom argument at analysis time") {
    import graft.functions.Sketch
    val df = Seq((Array(1, 2, 3), "k")).toDF("arr", "k") // array<int>, not array<bigint>
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(Sketch.bloomMaybeContains($"arr", $"k"))
    }
  }

  test("StreamBloom.bloomLiteral refuses a streaming members frame") {
    val streaming = spark.readStream.format("rate").load()
      .selectExpr("CAST(value AS STRING) AS k")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamBloom.bloomLiteral(streaming, "k")
    }
    assert(e.getMessage.contains("static"))
  }

  test("StreamDhash refuses an outDir holding the legacy append layout") {
    val out = Files.createTempDirectory("graft-dhash-legacy").toString
    Files.write(Paths.get(out, "part-00000.parquet"), Array[Byte](1, 2, 3))
    val docsStream = spark.readStream.format("rate").load()
      .selectExpr("value AS doc_id", "CAST(value AS STRING) AS text")
    val index = Seq((0L, 0, 0L)).toDF("doc_id", "band", "v")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamDhash.matchAgainstIndex(
        docsStream, index, out, out + "/cp")
    }
    assert(e.getMessage.contains("legacy"))
  }

  test("meanPairwiseCosine yields NULL, not NaN, with fewer than two usable vectors") {
    import graft.operators.Clustering
    val one = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val r = one.transform(Clustering.meanPairwiseCosine).head()
    assert(r.getLong(0) == 1L)
    assert(r.isNullAt(1)) // no pairs → explicit NULL, never 0/0 NaN
  }

  test("dirichletQL fails loudly on a query term with zero collection frequency") {
    import graft.operators.TextAnalysis
    val postings = Seq((0L, 1, "hello"), (0L, 2, "world"), (1L, 1, "hello"))
      .toDF("doc_id", "pos", "word")
    val e = intercept[Exception] {
      TextAnalysis.dirichletQL(postings, terms = Seq("hello", "zzz_absent")).collect()
    }
    assert(messageChain(e).contains("zero collection frequency"), messageChain(e).take(400))
  }

  test("eventPaths md5 comes from the first PathCap events only") {
    import graft.warehouse.ExtendedQueries
    // 60 events for one user: the path must hash the first 50 by
    // (ts, event_id) — identical to hashing the capped prefix directly
    val rows = (1 to 60).map(i => (7L, ts(i), i.toLong, s"e$i"))
    val dir = Files.createTempDirectory("graft-paths").toString
    rows.toDF("user_id", "ts", "event_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = ExtendedQueries.eventPaths(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 60L) // n_events counts ALL events
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest((1 to 50).map(i => s"e$i").mkString(">").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r(0).getString(2) == expected)
  }

  // ---- round-12 advisor findings ----

  test("Materialized.evict frees the localCheckpointed RDD blocks") {
    import graft.warehouse.Materialized
    val f = Materialized.of(spark, "advice-r12-dir", "advice-r12-ckpt")(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // the artifact is a lineage-cut LogicalRDD whose rdd holds the
    // checkpoint blocks OUTSIDE the CacheManager — find its id
    val rdd = f.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.getOrElse(fail("artifact is not a lineage-cut LogicalRDD"))
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id),
      "checkpointed RDD should be registered as persistent")
    Materialized.evict(spark, "advice-r12-dir", "advice-r12-ckpt")
    // Dataset.unpersist would NOT remove it (blocks live outside the
    // CacheManager); rdd.unpersist deregisters it immediately
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id),
      "evict must unpersist the checkpointed RDD, not just the Dataset")
  }

  test("StreamPostings/StreamIvfLists readers return empty typed frames before first batch") {
    import graft.streaming.{StreamIvfLists, StreamPostings}
    val missing = Files.createTempDirectory("graft-empty-ingest").toString + "/never-written"
    val p = StreamPostings.readPostings(spark, missing)
    assert(p.isEmpty && p.schema == StreamPostings.PostingsSchema)
    val l = StreamIvfLists.readLists(spark, missing)
    assert(l.isEmpty && l.schema == StreamIvfLists.ListsSchema)
    // an existing but batch-less directory (stream started, no
    // non-empty batch committed yet) behaves the same
    val bare = Files.createTempDirectory("graft-bare-ingest").toString
    assert(StreamPostings.readPostings(spark, bare).isEmpty)
    assert(StreamIvfLists.readLists(spark, bare).isEmpty)
  }

  test("batch_id ingest legacy guard fires through the Hadoop FS API") {
    // java.io.File-based guards silently skip non-local URIs; the
    // Hadoop-FS guard must still reject a local legacy layout AND
    // accept a clean root addressed through an explicit file: URI
    val out = Files.createTempDirectory("graft-legacy-fs").toString
    Files.write(Paths.get(out, "part-00000.parquet"), Array[Byte](1, 2, 3))
    val docsStream = spark.readStream.format("rate").load()
      .selectExpr("value AS doc_id", "CAST(value AS STRING) AS text")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamPostings.ingest(docsStream, s"file://$out", out + "/cp")
    }
    assert(e.getMessage.contains("root-level data files"))
    val clean = Files.createTempDirectory("graft-clean-fs").toString
    // must not throw on a clean directory via URI
    graft.streaming.StreamPostings.ingest(docsStream, s"file://$clean", clean + "/cp")
  }
}
