package graft

import graft.operators.Similarity
import graft.sources.ModelStore
import org.apache.spark.sql.functions._

/** Persisted ANN index: model save/load round-trips, served results are
  * bit-identical to the inline (train-every-time) paths, and the staged
  * index is built once and reused.
  */
class ModelStoreSpec extends SparkSpec {

  private def tmpDir(tag: String): String = tempDir(s"graft_ms_$tag").toString

  private def emb = Tables.embeddings(spark, sf0001)

  test("PqModel save/load round-trips exactly") {
    val model = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, kc = 8, iters = 2)
    val dir = tmpDir("pq")
    ModelStore.savePq(spark, dir, model)
    val back = ModelStore.loadPq(spark, dir)
    assert(back.m == model.m && back.subLen == model.subLen)
    assert(back.cents == model.cents)
  }

  test("centroid table save/load round-trips exactly") {
    val cents = Seq(0L -> Seq(1.0, 2.0, 3.0), 5L -> Seq(-0.5, 0.0, 4.25))
    val dir = tmpDir("cents")
    ModelStore.saveCentroids(spark, dir, cents)
    assert(ModelStore.loadCentroids(spark, dir) == cents)
  }

  test("served PQ top-k == inline pqTopK (same corpus, same params)") {
    val dir = tmpDir("pqidx")
    Similarity.buildPqIndex(emb, "vec_id", "embedding", m = 4, kc = 8, iters = 2, dir = dir)
    val served = Similarity.servePqTopK(spark, dir,
        emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    val inline = Similarity.pqTopK(emb, "vec_id", "embedding",
        m = 4, kc = 8, iters = 2, k = 5, queryPred = col("vec_id") < 20)
      .orderBy("query_id", "rank").collect().toSeq
    assert(served.nonEmpty && served == inline)
  }

  test("served IVF-PQ top-k == inline ivfPqTopK") {
    val dir = tmpDir("ivfpqidx")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nlist = 8, m = 4, kc = 8, iters = 2, dir = dir)
    val served = Similarity.serveIvfPqTopK(spark, dir,
        emb.filter(col("vec_id") < 20), "vec_id", "embedding", nprobe = 3, k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    val inline = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        nlist = 8, nprobe = 3, m = 4, kc = 8, iters = 2, k = 5,
        queryPred = col("vec_id") < 20)
      .orderBy("query_id", "rank").collect().toSeq
    assert(served.nonEmpty && served == inline)
  }

  test("frozen-model PQ / IVF-PQ (re-encode per call) == inline trained forms") {
    val pqDir = tmpDir("pqfrozen")
    Similarity.buildPqIndex(emb, "vec_id", "embedding", m = 4, kc = 8, iters = 2, dir = pqDir)
    val frozen = Similarity.pqTopKWithModel(emb, "vec_id", "embedding",
        ModelStore.loadPq(spark, pqDir), k = 5, queryPred = col("vec_id") < 20)
      .orderBy("query_id", "rank").collect().toSeq
    val inline = Similarity.pqTopK(emb, "vec_id", "embedding",
        m = 4, kc = 8, iters = 2, k = 5, queryPred = col("vec_id") < 20)
      .orderBy("query_id", "rank").collect().toSeq
    assert(frozen.nonEmpty && frozen == inline)

    val ivfDir = tmpDir("ivfpqfrozen")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nlist = 8, m = 4, kc = 8, iters = 2, dir = ivfDir)
    val frozenIvf = Similarity.ivfPqTopKWithIndex(spark, ivfDir, emb,
        "vec_id", "embedding", nprobe = 3, k = 5, queryPred = col("vec_id") < 20)
      .orderBy("query_id", "rank").collect().toSeq
    val inlineIvf = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        nlist = 8, nprobe = 3, m = 4, kc = 8, iters = 2, k = 5,
        queryPred = col("vec_id") < 20)
      .orderBy("query_id", "rank").collect().toSeq
    assert(frozenIvf.nonEmpty && frozenIvf == inlineIvf)
  }

  test("frozen IVF-PQ quantizer indexes vectors added AFTER the build") {
    val dir = tmpDir("ivfpqgrow")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nlist = 8, m = 4, kc = 8, iters = 2, dir = dir)
    // a post-build batch: clones of existing vectors under fresh ids —
    // each clone lands in its source's cluster and, sharing its exact
    // vector, must appear among the query's nearest by ADC distance
    val grown = emb.unionByName(
      emb.filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + 1000000L))
    val got = Similarity.ivfPqTopKWithIndex(spark, dir, grown,
        "vec_id", "embedding", nprobe = 3, k = 5,
        queryPred = col("vec_id") < 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 5L).foreach { q =>
      assert(got.contains((q, q + 1000000L)),
        s"clone of query $q (added after the index build) missing from its top-k — " +
          "the frozen quantizer failed to index the new batch")
    }
  }

  test("BPE merge table round-trips; served corpus encode == trained") {
    val docs = Tables.documents(spark, sf0001)
    val (merges, _) = graft.operators.TextOps.bpeTrain(docs, topN = 50, rounds = 4)
    val dir = tmpDir("bpe")
    ModelStore.saveMerges(spark, dir, merges)
    assert(ModelStore.loadMerges(spark, dir) == merges)
    val trained = graft.operators.TextOps.bpeEncodeCorpus(docs, topN = 50, rounds = 4)
      .collect().toSeq
    val served = graft.operators.TextOps
      .bpeApplyCorpus(docs, ModelStore.loadMerges(spark, dir))
      .collect().toSeq
    assert(served.nonEmpty && served == trained)
  }

  test("unigram encode under a served model lacking a character drops that word") {
    // no piece covers 'z', so "zab" has no complete segmentation: the
    // oracle's b1 has no row for it, and neither may the encoder
    val dir = tmpDir("unigram")
    val vocab = Seq(("a", 3L, -1200000L), ("ab", 2L, -900000L),
      ("b", 1L, -1500000L))
    ModelStore.saveUnigram(spark, dir, vocab)
    assert(ModelStore.loadUnigram(spark, dir) == vocab)
    val enc = graft.operators.TextOps
      .unigramEncode(spark, Seq("zab", "ab", "ba"), ModelStore.loadUnigram(spark, dir), 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(enc == Seq(("ab", 1L, "ab"), ("ba", 2L, "b|a")))
  }

  test("staged index builds once per fixture identity and is reused") {
    var builds = 0
    def dir(): String =
      LocalFiles.stageFixture(sf0001, "embeddings.parquet", "spec:pq:reuse") { tmp =>
        builds += 1
        Similarity.buildPqIndex(emb, "vec_id", "embedding",
          m = 4, kc = 8, iters = 2, dir = tmp)
      }
    val d1 = dir()
    val n1 = Similarity.servePqTopK(spark, d1,
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3).count()
    val d2 = dir()
    assert(d1 == d2 && builds <= 1 && n1 > 0) // 0 builds if staged by an earlier run
    // IVF-PQ coverage of serve-from-existing-stage: second call must not rebuild
    val before = builds
    dir()
    assert(builds == before)
  }
}
