package graft

import org.apache.spark.sql.functions._

/** Failure-isolation contracts from the round-9 postmortem: a throwing
  * loader must not poison the SQL session memo, and a retried streaming
  * micro-batch must not double its sink output.
  */
class RobustnessSpec extends SparkSpec {

  test("a throwing loader does not poison the SQL-surface registration memo") {
    val dir = tempDir("graft_poison_")
    // stage a dir that registers TPC-H + events fine but fails on documents
    (Tables.tpch :+ "events").foreach { n =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf0001/$n.parquet"),
        dir.resolve(s"$n.parquet"))
    }
    intercept[Exception] {
      sources.GraftSql.sql(spark, dir.toString, "SELECT COUNT(*) FROM lineitem")
    }
    // repair the fixture; the next call must retry registration from
    // scratch (a memo recorded before success would leave the session
    // half-registered and this query would fail on a missing view)
    Seq("documents", "embeddings").foreach { n =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf0001/$n.parquet"),
        dir.resolve(s"$n.parquet"))
    }
    val n = sources.GraftSql
      .sql(spark, dir.toString, "SELECT COUNT(*) AS n FROM documents")
      .collect()(0).getLong(0)
    assert(n > 0)
  }

  test("stagePublish: memoizes per identity, rebuilds on identity mismatch") {
    val stage = tempDir("graft_stagepub_")
      .resolve("stage")
    var builds = 0
    def publish(ident: String, payload: String): String =
      LocalFiles.stagePublish(stage, ident) { tmp =>
        builds += 1
        val d = java.nio.file.Paths.get(tmp)
        java.nio.file.Files.createDirectories(d)
        java.nio.file.Files.writeString(d.resolve("data.txt"), payload)
        java.nio.file.Files.writeString(d.resolve("_SUCCESS"), "")
      }
    publish("identA", "A")
    assert(builds == 1)
    // same identity: the published stage short-circuits — no rebuild
    publish("identA", "A2")
    assert(builds == 1)
    assert(java.nio.file.Files.readString(stage.resolve("data.txt")) == "A")
    // DIFFERENT identity mapped to the same stage path: content identity
    // is verified, so the stale stage is rebuilt instead of silently served
    publish("identB", "B")
    assert(builds == 2)
    assert(java.nio.file.Files.readString(stage.resolve("data.txt")) == "B")
  }

  test("stagePublish: concurrent same-JVM publishers build once, both read it") {
    val stage = tempDir("graft_stagepub2_")
      .resolve("stage")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String =
            LocalFiles.stagePublish(stage, "same-ident") { tmp =>
              builds.incrementAndGet()
              Thread.sleep(50) // widen the race window
              val d = java.nio.file.Paths.get(tmp)
              java.nio.file.Files.createDirectories(d)
              java.nio.file.Files.writeString(d.resolve("data.txt"), "X")
              java.nio.file.Files.writeString(d.resolve("_SUCCESS"), "")
            }
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    assert(builds.get() == 1) // publication serialized; later entrants reuse it
    assert(java.nio.file.Files.readString(stage.resolve("data.txt")) == "X")
  }

  test("writeBatch: a retried Append-mode micro-batch does not double-write") {
    val out = tempDir("graft_retry_").resolve("out").toString
    val b0 = spark.range(0, 100).toDF("id")
    val b1 = spark.range(100, 150).toDF("id")
    streaming.StreamingOps.writeBatch(b0.toDF(), out, complete = false, 0L)
    // simulate a sink retry of batch 0 (foreachBatch redelivers the same
    // batch id after a failure) — the rewrite must replace, not append
    streaming.StreamingOps.writeBatch(b0.toDF(), out, complete = false, 0L)
    streaming.StreamingOps.writeBatch(b1.toDF(), out, complete = false, 1L)
    val got = spark.read.parquet(out).drop("batch")
    assert(got.count() == 150)
    assert(got.select(countDistinct(col("id"))).collect()(0).getLong(0) == 150)
  }

  test("streamSrpDedup leaves no open file descriptor under its work dir") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val emb = (1L to 8L).map { id =>
      (id, Array.tabulate(64)(i => ((id * 31 + i * 7) % 13).toFloat))
    }.toDF("vec_id", "embedding")
    streaming.StreamingOps.streamSrpDedup(spark, emb, threshold = 0.9, dim = 64).collect()
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get("/proc/self/fd"))
    val open = try ls.iterator().asScala.toList
      .flatMap(fd => scala.util.Try(java.nio.file.Files.readSymbolicLink(fd).toString).toOption)
      .filter(_.contains("graft_semb_"))
    finally ls.close()
    assert(open.isEmpty, s"fds still open under the work dir: $open")
  }

  test("curation operators degrade cleanly on empty inputs") {
    import spark.implicits._
    import graft.operators.{TrainingData, TextOps}
    val docs = Seq((1L, "a b c", 5L), (2L, "d e f", 6L)).toDF("doc_id", "text", "n_chars")
    // no near-dup pairs → every doc is its own kept singleton
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val kept = TrainingData.keepBestPerCluster(
      docs, "doc_id", col("n_chars"), noPairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(kept == Set((1L, 1L, 1L, true), (2L, 2L, 1L, true)))
    // empty benchmark → zero hits, zero overlap, full gram counts
    val emptyBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val ov = TrainingData.contaminationOverlap(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), emptyBench,
      "doc_id", col("text"), 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ov.sameElements(Array((1L, 0L, 0L))))
    // empty target → every bucket's target count is 0; scores are finite
    // (smoothing) and the report still covers every doc
    val dsir = TrainingData.dsirImportance(docs, lit(false), "doc_id", col("text"))
      .collect()
    assert(dsir.length == 2 && dsir.forall(r => !r.getDouble(1).isNaN))
    // empty train side → empty vocab → everything OOV at rate 1e6
    val oov = TextOps.oovRateReport(
      emptyBench.select(col("doc_id"), col("text")),
      Seq(("g", "x y")).toDF("grp", "text"), "grp", col("text"), 16)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(oov.sameElements(Array((2L, 2L, 1000000L))))
  }

  test("round-13 operators degrade cleanly on empty inputs") {
    import spark.implicits._
    import graft.operators.{Dedup, TextOps, TrainingData}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // empty corpus: every per-doc/per-term operator returns zero rows,
    // never a thrown aggregate or a NaN row
    assert(TextOps.phraseSearch(empty, "doc_id", col("text"), Seq("a b")).count() == 0)
    assert(TextOps.pmiCollocations(empty, col("text"), 2).count() == 0)
    assert(TextOps.docKeywords(empty, "doc_id", col("text"), 3).count() == 0)
    assert(Dedup.stripRepeatedNgrams(empty, "doc_id", col("text"), 3).count() == 0)
    assert(TrainingData.packConcatCut(
      empty, "doc_id", graft.functions.TextFunctions.tokens(col("text")), 16, 2)
      .count() == 0)
    // single-doc corpus: nothing is corpus-repeated → text unchanged
    val one = Seq((7L, "a b c a b c")).toDF("doc_id", "text")
    val strip = Dedup.stripRepeatedNgrams(one, "doc_id", col("text"), 3)
      .collect()(0)
    assert(strip.getLong(2) == 0L && strip.getString(3) == "a b c a b c")
  }

  test("round-13 helpers survive empty and degenerate inputs") {
    import spark.implicits._
    import graft.operators.{DataQuality, EventsOps, GraphOps, TextOps}
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // greedy generation on an empty corpus: empty result, no crash
    assert(TextOps.greedyGenerate(emptyDocs, col("text"), 12).count() === 0L)
    // single-document corpus: seed emitted, walk follows its own bigrams
    val one = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val g = TextOps.greedyGenerate(one, col("text"), 5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(g.head === ((0L, "a")) || g.head === ((0L, "b")))
    assert(g.length === 6)
    // CUSUM on empty events / single-day series
    val emptyEv = Seq.empty[(String, java.sql.Timestamp)].toDF("event_type", "ts")
    assert(EventsOps.cusumChangepoint(emptyEv).count() === 0L)
    val oneDay = Seq(("A", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("event_type", "ts")
    val cp = EventsOps.cusumChangepoint(oneDay).collect()
    assert(cp.length === 1 && cp.head.getLong(3) === 0L) // c*1 - T = 0
    // correlation on empty and constant inputs: NULLs, never a crash
    val emptyNum = Seq.empty[(Double, Double)].toDF("x", "y")
    val cm = DataQuality.correlationMatrix(emptyNum,
      Seq("x" -> 1e6, "y" -> 1e6)).collect()
    assert(cm.length === 1 && cm.head.isNullAt(3))
    // chi2 on empty input: empty output
    assert(DataQuality.chi2Independence(
      Seq.empty[(String, String)].toDF("r", "c"), col("r"), col("c")).count() === 0L)
    // RA pairs on an empty bipartite table
    assert(GraphOps.resourceAllocationTopPairs(
      Seq.empty[(Long, Long)].toDF("c", "p"), 2, 64, 50).count() === 0L)
  }
}
