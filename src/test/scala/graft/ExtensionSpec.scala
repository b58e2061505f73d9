package graft

import graft.functions.VectorFunctions
import graft.operators.Dedup
import graft.plans.CosineSimilarity
import graft.sources.ColumnSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Custom extension points: native Catalyst expression, typed Aggregator,
  * column-spec parsing.
  */
class ExtensionSpec extends SparkSpec {

  import spark.implicits._

  test("native cosine expression bit-equals the functional fold") {
    val emb = Tables.embeddings(spark, sf0001).limit(50)
    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("vb"))
    val pairs = a.crossJoin(b).filter(col("ida") < col("idb"))
    val diffs = pairs.select(
      (CosineSimilarity.cosine(col("va"), col("vb")) -
        VectorFunctions.cosineFunctional(col("va"), col("vb"))).as("d"))
      .agg(max(abs(col("d")))).collect().head.getDouble(0)
    assert(diffs == 0.0)
  }

  test("GraftExtensions injects all SQL functions the way spark.sql.extensions would") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext)
    val s = spark.newSession() // fresh registry, no temp-function fallback
    org.apache.spark.sql.graft.Bridge.applyExtensions(ext, s)
    val r = s.sql(
      "SELECT token_hash60('abc') = conv(substring(md5('abc'), 1, 15), 16, 10) AS h, " +
      "rolling_token_hash('a b') >= 0 AS rt, " +
      "abs(cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) - 1.0) < 1e-12 AS c, " +
      "redact_pii('mail a@b.co ip 10.0.0.1 tel 555-0147') = " +
      "'mail <EMAIL> ip <IP> tel <PHONE>' AS p")
      .collect().head
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3))
    // wrong arity surfaces as an analysis error, not an index exception
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT cosine_similarity(array(1.0D))").collect()
    }
    assert(e.getMessage.contains("cosine_similarity"))
  }

  test("a session built without spark.sql.extensions gets graft's SQL functions, arity-checked") {
    val s = spark.newSession() // fresh registry, no spark.sql.extensions
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      graft.sources.GraftSql.sql(s, sf0001, "SELECT token_hash60()").collect()
    }
    assert(e.getMessage.contains("token_hash60"))
    val r = graft.sources.GraftSql.sql(s, sf0001,
      "SELECT redact_pii('mail a@b.co') AS p, " +
        "cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").collect().head
    assert(r.getString(0) === "mail <EMAIL>" && math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("GraftExtensions injects the small-sort planner strategy") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext)
    assert(org.apache.spark.sql.graft.Bridge.plannerStrategies(ext, spark) ===
      Seq(graft.plans.SmallSortStrategy))
  }

  test("native cosine registers as a SQL function") {
    GraftExtensions.install(spark)
    Tables.embeddings(spark, sf0001).limit(5).createOrReplaceTempView("emb_t")
    val r = spark.sql(
      "SELECT cosine_similarity(embedding, embedding) c FROM emb_t").collect()
    r.foreach(row => assert(math.abs(row.getDouble(0) - 1.0) < 1e-12))
  }

  test("native cosine rejects non-array inputs at analysis") {
    assertThrows[Exception] {
      Tables.events(spark, sf0001)
        .select(CosineSimilarity.cosine(col("value"), col("value"))).collect()
    }
  }

  test("native cosine errors on length mismatch") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    assertThrows[Exception] {
      df.select(CosineSimilarity.cosine(col("a"), col("b"))).collect()
    }
  }

  test("native cosine propagates null array elements like zip_with") {
    // containsNull=true arrays: a null element must null the result in BOTH
    // interpreted eval and codegen paths, matching the functional fold.
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),
    ).toDF("id", "a", "b")
    val rows = df.select(col("id"),
        CosineSimilarity.cosine(col("a"), col("b")).as("c_native"),
        VectorFunctions.cosineFunctional(col("a"), col("b")).as("c_func"))
      .orderBy("id").collect()
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2))
    assert(!rows(1).isNullAt(1) && math.abs(rows(1).getDouble(1) - 1.0) < 1e-12)
  }

  test("saltedJoin rejects join types that would duplicate small-side rows") {
    val orders = Tables.orders(spark, sf0001)
    val customer = Tables.customer(spark, sf0001)
    for (bad <- Seq("right", "full", "right_outer", "full_outer")) {
      assertThrows[IllegalArgumentException] {
        graft.operators.SkewJoin
          .saltedJoin(orders, customer, "o_custkey", "c_custkey", 4, bad)
      }
    }
    // left joins remain supported: unmatched LARGE-side rows appear once.
    val left = graft.operators.SkewJoin
      .saltedJoin(orders, customer, "o_custkey", "c_custkey", 4, "left")
    assert(left.count() >= orders.count())
  }

  test("MinHashAggregator signatures equal the planned-min-aggregates path") {
    val docs = Tables.documents(spark, sf0001).limit(100)
    val sh = TextFunctions.wordShingles(col("text"), 3)
    val n = 32
    val viaAgg = Dedup.minHashSignaturesViaAggregator(docs, "doc_id", sh, n)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val viaMins = Dedup.minHashSignatures(docs, "doc_id", sh, n)
      .collect().map(r => r.getLong(0) ->
        (0 until n).map(i => r.getLong(r.fieldIndex(s"m$i"))).toVector).toMap
    assert(viaAgg == viaMins)
    assert(viaAgg.nonEmpty)
  }

  test("column-spec word form parses types, index and wide flags") {
    val specs = ColumnSpec.parseAll(Seq(
      "wide index string token", "index trie url", "index uint32 ad_id",
      "lz4 title", "int16 amount", "index string date", "plainname"))
    val byName = specs.map(s => s.field.name -> s).toMap
    assert(byName("token").field.dataType == StringType
      && byName("token").indexed && byName("token").wide)
    assert(byName("url").field.dataType == StringType && byName("url").indexed)
    assert(byName("ad_id").field.dataType == LongType && byName("ad_id").indexed)
    assert(byName("title").field.dataType == StringType && !byName("title").indexed)
    assert(byName("amount").field.dataType == ShortType)
    assert(byName("plainname").field.dataType == StringType)
  }

  test("column-spec sigil form: $ % * @N #N with +/= prefixes") {
    assert(ColumnSpec.parse("+$token") ==
      ColumnSpec.Spec(StructField("token", StringType), indexed = true, wide = false))
    assert(ColumnSpec.parse("=@4ad_id").field.dataType == LongType)
    assert(ColumnSpec.parse("=@4ad_id").wide)
    assert(ColumnSpec.parse("#2amount").field.dataType == ShortType)
    assert(ColumnSpec.parse("*blob").field.dataType == StringType)
  }

  test("saltedJoin returns exactly the rows of the unsalted join") {
    val orders = Tables.orders(spark, sf0001)
    val customer = Tables.customer(spark, sf0001)
    val plain = orders.join(customer,
      orders("o_custkey") === customer("c_custkey"))
      .select(col("o_orderkey"), col("c_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val salted = graft.operators.SkewJoin
      .saltedJoin(orders, customer, "o_custkey", "c_custkey", salts = 7)
      .select(col("o_orderkey"), col("c_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(salted.sameElements(plain))
    assert(plain.nonEmpty)
  }

  test("srpNearDupPairs is a subset of the exact all-pairs result") {
    val emb = Tables.embeddings(spark, sf0001)
    val exact = graft.operators.Similarity
      .cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val srp = graft.operators.Similarity
      .srpNearDupPairs(emb, "vec_id", "embedding", 0.4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(srp.nonEmpty, "SRP found no pairs on the fixture")
    srp.foreach { case (pair, sim) =>
      assert(exact.contains(pair), s"SRP emitted $pair not in the exact result")
      assert(math.abs(exact(pair) - sim) < 1e-9)
    }
  }

  test("srpNearDupPairs always finds exact duplicates (identical signatures)") {
    val emb = Tables.embeddings(spark, sf0001).limit(50)
    val dup = emb.withColumn("vec_id", col("vec_id") + 10000L)
    val pairs = graft.operators.Similarity
      .srpNearDupPairs(emb.unionByName(dup), "vec_id", "embedding", 0.999, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = emb.select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 10000L)).toSet
    assert(expected.subsetOf(pairs),
      s"missing exact-dup pairs: ${expected.diff(pairs).take(5)}")
  }

  test("kMeansAssign is deterministic and assigns every vector to a seed-label cluster") {
    val emb = Tables.embeddings(spark, sf0001)
    def run() = graft.operators.Similarity
      .kMeansAssign(emb, "vec_id", "embedding", k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val a = run(); val b = run()
    assert(a.sameElements(b), "two identical runs diverged")
    assert(a.length == emb.count())
    assert(a.map(_._2).toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
    assert(a.map(_._2).distinct.length > 1, "k-means degenerated to one cluster")
  }

  test("kCenterCoreset: farthest-point invariant and exact-coverage radius") {
    // 2-D points with an obvious spread: seed is min id (0); the farthest
    // point from (0,0) is (10,10); then (0,9) joins before anything close in
    val pts = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(10f, 10f)),
      (3L, Seq(0f, 9f)), (4L, Seq(9f, 10f)),
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .kCenterCoreset(pts, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    val centers = out.filter(_._4).map(_._1).toSet
    assert(centers == Set(0L, 2L, 3L), s"got $centers")
    // every center is its own nearest center at distance 0
    out.filter(_._4).foreach { case (id, nc, d, _) => assert(nc == id && d == 0.0) }
    // non-centers: 1 → (0,0) at 1; 4 → (10,10) at 1
    assert(out(1) == ((1L, 0L, 1.0, false)))
    assert(out(4) == ((4L, 2L, 1.0, false)))
    // greedy 2-approx sanity: coverage radius shrinks as k grows
    val r3 = out.map(_._3).max
    val r2 = graft.operators.Similarity.kCenterCoreset(pts, "vec_id", "embedding", 2)
      .collect().map(_.getDouble(2)).max
    assert(r3 <= r2)
  }

  test("kCenterCoreset is deterministic and rejects k < 1") {
    val emb = Tables.embeddings(spark, sf0001)
    def run() = graft.operators.Similarity
      .kCenterCoreset(emb, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    val a = run(); val b = run()
    assert(a.sameElements(b))
    assert(a.count(_._3) == 4, "exactly k centers flagged")
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.kCenterCoreset(emb, "vec_id", "embedding", 0)
    }
  }

  test("contrastiveTriplets: planted positive/negative structure, invariants on fixture") {
    // one cluster: 0≈1 (near-dup positive), 2 ⟂ both (the only negative)
    val pts = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0.01f)), (2L, Seq(0f, 1f)),
    ).toDF("vec_id", "embedding")
    val t = graft.operators.Similarity.contrastiveTriplets(
      pts, "vec_id", "embedding", targetClusterSize = 64, iters = 2,
      posThreshold = 0.4, negMargin = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(t.sameElements(Array((0L, 1L, 2L), (1L, 0L, 2L))),
      s"got ${t.mkString(",")}") // vec 2 has no positive → no anchor row
    // fixture invariants: margins respected, roles distinct
    val rows = SparkEntry.queries("contrastive_triplets")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, p, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a != p && a != n && p != n)
      assert(r.getDouble(4) >= 0.4 && r.getDouble(5) < 0.1)
    }
    // guard: inverted margins rejected
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.contrastiveTriplets(
        pts, "vec_id", "embedding", 64, 2, posThreshold = 0.1, negMargin = 0.4)
    }
  }

  test("semanticNearDupPairs ≡ exact cosine pairs restricted to same cluster (sf0.001)") {
    val emb = Tables.embeddings(spark, sf0001)
    val cluster = graft.operators.Similarity
      .kMeansAssign(emb, "vec_id", "embedding", k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = graft.operators.Similarity
      .cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val expected = exact.keySet.filter { case (a, b) => cluster(a) == cluster(b) }
    val got = graft.operators.Similarity
      .semanticNearDupPairs(emb, "vec_id", "embedding", 8, 2, 0.4, fixedK = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(p => (p._1, p._2)).toSet == expected)
    assert(expected.nonEmpty, "fixture has no intra-cluster pairs at 0.4")
    got.foreach { case (a, b, cl, sim) =>
      assert(cl == cluster(a) && cl == cluster(b), s"pair ($a,$b) reported wrong cluster")
      assert(math.abs(exact((a, b)) - sim) < 1e-9)
    }
  }

  test("semanticNearDupPairs default REJECTS a constant k (quadratic-null guard)") {
    val emb = Tables.embeddings(spark, sf0001)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity
        .semanticNearDupPairs(emb, "vec_id", "embedding", 8, 2, 0.4)
    }
    assert(e.getMessage.contains("semanticNearDupPairsScaled"),
      "guard message must point the caller at the k ∝ n form")
    // and the scaled form stays callable without any opt-in: k ∝ n is the default path
    assert(graft.operators.Similarity
      .semanticNearDupPairsScaled(emb, "vec_id", "embedding",
        targetClusterSize = 16, iters = 1, threshold = 0.4)
      .columns.sameElements(Seq("vec_a", "vec_b", "cluster", "sim")))
  }

  test("sampledKMeansCentroids with a full-corpus sample ≡ kMeansCentroids") {
    // sampleC large enough that ppm ≥ 10⁶ (every row sampled); fixture ids
    // are dense from 0, so "first k sample ids" ≡ the full trainer's
    // id < k seeds — the two must then train byte-identical codebooks
    val emb = Tables.embeddings(spark, sf0001)
    val full = graft.operators.Similarity
      .kMeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    val sampled = graft.operators.Similarity
      .sampledKMeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 2,
        sampleC = 100.0)
    assert(sampled == full)
  }

  test("semanticNearDupPairsSampled ≡ exact pairs restricted to its own clusters; deterministic") {
    val emb = Tables.embeddings(spark, sf0001)
    val cents = graft.operators.Similarity
      .sampledKMeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    // deterministic: the hash sample and Lloyd rounds replay exactly
    assert(cents == graft.operators.Similarity
      .sampledKMeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 2))
    val cluster = graft.operators.Similarity
      .assignToCentroids(emb, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = graft.operators.Similarity
      .cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val expected = exact.keySet.filter { case (a, b) => cluster(a) == cluster(b) }
    val got = graft.operators.Similarity
      .semanticNearDupPairsSampled(emb, "vec_id", "embedding", k = 4,
        iters = 2, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(p => (p._1, p._2)).toSet == expected)
    got.foreach { case (a, b, cl, sim) =>
      assert(cl == cluster(a) && cl == cluster(b), s"pair ($a,$b) reported wrong cluster")
      assert(math.abs(exact((a, b)) - sim) < 1e-9)
    }
  }

  test("pqTrain with m = 1 trains exactly kMeansCentroids' centroids") {
    // plain k-means is PQ with one subspace: the identity the one Lloyd
    // trainer rests on
    val emb = Tables.embeddings(spark, sf0001)
    val sim = graft.operators.Similarity
    val pq = sim.pqTrain(emb, "vec_id", "embedding", m = 1, kc = 8, iters = 2)
    val km = sim.kMeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(km.nonEmpty && pq.m == 1 && pq.subLen == 64)
    assert(pq.cents == IndexedSeq(km))
  }

  test("an empty corpus yields an empty result with the usual schema") {
    val emb = Tables.embeddings(spark, sf0001)
    val sim = graft.operators.Similarity
    def shape(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      sim.kMeansAssign(_, "vec_id", "embedding", k = 8, iters = 2),
      sim.semanticNearDupPairsScaled(_, "vec_id", "embedding",
        targetClusterSize = 64, iters = 2, threshold = 0.4),
      sim.pqTopK(_, "vec_id", "embedding", m = 4, kc = 8, iters = 2, k = 5,
        queryPred = col("vec_id") < 20),
      sim.kCenterCoreset(_, "vec_id", "embedding", 8),
    ).foreach { op =>
      val empty = op(emb.filter(lit(false)))
      assert(empty.collect().isEmpty)
      assert(shape(empty) == shape(op(emb)))
    }
  }

  test("Lloyd training rejects a corpus with no id below k, naming the seed contract") {
    val emb = Tables.embeddings(spark, sf0001)
    val sim = graft.operators.Similarity
    val shifted = emb.withColumn("vec_id", col("vec_id") + 1000L)
    Seq[() => Any](
      () => sim.kMeansAssign(shifted, "vec_id", "embedding", k = 8, iters = 2),
      () => sim.pqTopK(shifted, "vec_id", "embedding", m = 4, kc = 8, iters = 2, k = 5,
        queryPred = col("vec_id") < 1020),
    ).foreach { run =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("vec_id is below k = 8"), e.getMessage)
    }
    // an empty hash sample names the sampled trainer's own knob
    val e = intercept[IllegalArgumentException](sim.sampledKMeansCentroids(
      emb, "vec_id", "embedding", k = 4, iters = 2, sampleC = 0.0))
    assert(e.getMessage.contains("raise sampleC"), e.getMessage)
  }

  test("srpSignature raises on a dim mismatch instead of degenerating") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    assertThrows[Exception] {
      df.select(graft.operators.Similarity.srpSignature(col("v"), dim = 64, bits = 32))
        .collect()
    }
  }

  test("catalog createFromSpecs persists indexed columns; insert applies bloom") {
    val cat = new graft.sources.Catalog(spark,
      tempDir("graft_spec_").toString)
    cat.createFromSpecs("imps",
      Seq("index string token", "uint32 ad_id", "index string date"),
      partitionBy = Some("date"))
    assert(cat.indexedColumns("imps") == Seq("token", "date"))
    val df = Seq(("a", 1L, "2024-01-01"), ("b", 2L, "2024-01-02"))
      .toDF("token", "ad_id", "date")
    cat.insert("imps", df)
    assert(cat.table("imps").count() == 2)
    assert(cat.partitions("imps") == Seq("2024-01-01", "2024-01-02"))
  }
}
