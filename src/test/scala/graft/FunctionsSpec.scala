package graft

import graft.functions.{Multimodal, TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Unit tier for the text/vector/multimodal functions and the dedup /
  * similarity operator internals, on tiny inline data.
  */
class FunctionsSpec extends SparkSpec {

  import spark.implicits._

  test("count-min sketch: never under-counts, over-counts ≤ εN (ε = e/Width)") {
    import graft.functions.CountMinSketch
    val toks = Tables.documents(spark, sf0001)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
    val sketch = toks
      .agg(CountMinSketch.sketchAgg(CountMinSketch.buckets(col("token"))).as("cms"))
    val rows = toks.groupBy("token").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(sketch))
      .select(col("token"), col("n"),
        CountMinSketch.estimate(col("cms"), col("token")).as("est"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val totalN = rows.map(_._2).sum
    val epsN = math.ceil(math.E / CountMinSketch.Width * totalN).toLong
    rows.foreach { case (tok, n, est) =>
      assert(est >= n, s"CMS under-counted '$tok': est=$est < exact=$n")
      assert(est <= n + epsN,
        s"CMS over-counted '$tok' beyond εN: est=$est exact=$n εN=$epsN")
    }
    // the sketch is fixed-size regardless of corpus size
    val cells = sketch.collect().head.getSeq[Long](0)
    assert(cells.length == CountMinSketch.Depth * CountMinSketch.Width)
    assert(cells.sum == CountMinSketch.Depth * totalN) // each token hits Depth cells
  }

  test("bloom membership: every inserted item found, absent items mostly not") {
    import graft.functions.BloomMembership
    val items = (0 until 2000).map(i => s"item_$i")
    val inserted = items.toDF("v")
    val bloom = inserted
      .agg(BloomMembership.bloomAgg(BloomMembership.bitIndexes(col("v"))).as("bf"))
    // no false negatives: all 2000 inserted items must probe true
    val hits = inserted.crossJoin(broadcast(bloom))
      .select(BloomMembership.mightContain(col("bf"), col("v")).as("m"))
      .collect().count(_.getBoolean(0))
    assert(hits == items.length, s"bloom lost ${items.length - hits} inserted items")
    // false-positive rate on 2000 absent items stays near the design point
    // (K·n/Bits = 3·2000/2^20 → FP ≈ 3.3e-7; allow vast slack)
    val absent = (0 until 2000).map(i => s"other_$i").toDF("v")
    val fps = absent.crossJoin(broadcast(bloom))
      .select(BloomMembership.mightContain(col("bf"), col("v")).as("m"))
      .collect().count(_.getBoolean(0))
    assert(fps <= 2, s"false-positive rate implausibly high: $fps/2000")
  }

  test("bloom/CMS sizing is a caller parameter: FP/error rates track the size") {
    import graft.functions.{BloomMembership, CountMinSketch}
    val n = 3000
    val inserted = (0 until n).map(i => s"item_$i").toDF("v")
    val absent = (0 until n).map(i => s"other_$i").toDF("v")
    // undersized bloom (bits ≈ n/3) saturates; 10·n-sized bloom stays sharp.
    // No false negatives at ANY size (the structural guarantee).
    val fpRates = Seq(1024, 32768).map { bits =>
      val bloom = inserted
        .agg(BloomMembership.bloomAgg(BloomMembership.bitIndexes(col("v"), bits), bits).as("bf"))
      val fn = inserted.crossJoin(broadcast(bloom))
        .select(BloomMembership.mightContain(col("bf"), col("v"), bits).as("m"))
        .collect().count(!_.getBoolean(0))
      assert(fn == 0, s"bits=$bits lost $fn inserted items")
      val fp = absent.crossJoin(broadcast(bloom))
        .select(BloomMembership.mightContain(col("bf"), col("v"), bits).as("m"))
        .collect().count(_.getBoolean(0))
      fp.toDouble / n
    }
    assert(fpRates(0) > 0.5, s"undersized bloom should saturate: ${fpRates(0)}")
    assert(fpRates(1) < 0.05, s"10n-sized bloom should stay sharp: ${fpRates(1)}")
    // CMS: width 64 over a 6k-token stream must over-count some token
    // beyond the width-1024 εN bound; width 4096 must be within ITS bound.
    val toks = (0 until 6000).map(i => s"t${i % 600}").toDF("token")
    def maxOver(width: Int): Long = {
      val sk = toks.agg(
        CountMinSketch.sketchAgg(CountMinSketch.buckets(col("token"), width = width),
          width = width).as("cms"))
      toks.groupBy("token").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(sk))
        .select((CountMinSketch.estimate(col("cms"), col("token"), width = width)
          - col("n")).as("over"))
        .collect().map(_.getLong(0)).max
    }
    assert(maxOver(64) > maxOver(4096))
    assert(maxOver(4096) <= math.ceil(math.E / 4096 * 6000).toLong)
    // invalid sizings fail fast, not silently mis-hash
    intercept[IllegalArgumentException](BloomMembership.bitIndexes(col("v"), bits = 100))
    intercept[IllegalArgumentException](CountMinSketch.buckets(col("v"), depth = 0))
  }

  test("wordShingles: n=2/3, short docs yield empty arrays") {
    val df = Seq("a b c d", "a b", "solo", "").toDF("text")
    val got = df.select(
      TextFunctions.wordShingles(col("text"), 3).as("s3"),
      TextFunctions.wordShingles(col("text"), 2).as("s2"))
      .collect()
    assert(got(0).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(got(0).getSeq[String](1) == Seq("a b", "b c", "c d"))
    assert(got(1).getSeq[String](0).isEmpty) // 2 tokens, no 3-shingle
    assert(got(1).getSeq[String](1) == Seq("a b"))
    assert(got(2).getSeq[String](0).isEmpty && got(2).getSeq[String](1).isEmpty)
  }

  test("charNgrams distinct and guarded") {
    val got = Seq("abab", "ab").toDF("text")
      .select(TextFunctions.charNgrams(col("text"), 3).as("g")).collect()
    assert(got(0).getSeq[String](0) == Seq("aba", "bab"))
    assert(got(1).getSeq[String](0).isEmpty)
  }

  test("qualityScore bounded in [0,1] and favors diverse text") {
    val df = Seq(
      ("rich", "alpha beta gamma delta epsilon zeta eta theta"),
      ("repeat", "the the the the the the the the")).toDF("id", "text")
    val scores = df.select(col("id"),
      TextFunctions.qualityScore(col("text"), operators.TextOps.Stopwords).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores("rich") > scores("repeat"))
  }

  test("langIdHeuristic picks the profile with most marker hits") {
    val profiles = Map("en" -> Seq("the", "and"), "de" -> Seq("der", "und"))
    val got = Seq("the cat and the dog", "der hund und die katze", "xyz qqq")
      .toDF("text")
      .select(TextFunctions.langIdHeuristic(col("text"), profiles).as("l"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("en", "de", "und"))
  }

  test("TokenHash60/RollingTokenHash expressions ≡ portable functions-API forms") {
    // edge cases: empty string, multi-byte UTF-8, leading/double/trailing
    // spaces (split keeps the empty tokens), single token, long doc
    val df = Seq(
      "", " ", "a", "a b c", " a", "a ", "a  b",
      "héllo wörld", "日本語 テスト 文字", "emoji 🎉 mix",
      (1 to 200).map(i => s"tok$i").mkString(" ")).toDF("text")
    val rows = df.select(
      TextFunctions.tokenHash60(col("text")).as("h_expr"),
      TextFunctions.tokenHash60Portable(col("text")).as("h_port"),
      TextFunctions.rollingTokenHash(col("text")).as("r_expr"),
      TextFunctions.rollingTokenHashPortable(col("text")).as("r_port"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"tokenHash60 mismatch: $r")
      assert(r.getLong(2) == r.getLong(3), s"rollingTokenHash mismatch: $r")
    }
    // null propagates as null through both forms
    val n = Seq[Option[String]](None).toDF("text")
      .select(TextFunctions.tokenHash60(col("text")),
        TextFunctions.rollingTokenHash(col("text"))).collect().head
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("token_hash60 / rolling_token_hash registered on the SQL surface") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      "SELECT token_hash60('abc') = conv(substring(md5('abc'), 1, 15), 16, 10) AS a, " +
      "rolling_token_hash('a b') AS rb").collect().head
    assert(r.getBoolean(0))
    assert(r.getLong(1) >= 0L)
  }

  test("rollingTokenHash: order-sensitive, deterministic") {
    val df = Seq("a b c", "c b a", "a b c").toDF("text")
      .select(TextFunctions.rollingTokenHash(col("text")).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs(0) == hs(2) && hs(0) != hs(1))
  }

  test("cosine: known vectors") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), 1.0),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), 0.0),
      (Seq(1.0f, 1.0f), Seq(1.0f, 0.0f), math.sqrt(0.5))).toDF("a", "b", "want")
    df.select(VectorFunctions.cosine(col("a"), col("b")).as("got"), col("want"))
      .collect().foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("exact jaccard pairs on a hand-built corpus") {
    val docs = Seq(
      (1L, "x y z w"), (2L, "x y z w"), (3L, "completely different tokens here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.exactJaccardPairs(
      docs, "doc_id", TextFunctions.wordShingles(col("text"), 2), 0.5)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("containment finds a full quote that Jaccard structurally misses") {
    // doc 2 is a verbatim quote of doc 1 inside a much longer text:
    // containment(min side) = 1.0 but Jaccard ≈ |A|/|B| stays below gate
    val quote = "alpha beta gamma delta epsilon"
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, quote), (2L, s"$long $quote"))
      .toDF("doc_id", "text")
    val sh = TextFunctions.wordShingles(col("text"), 3)
    val cont = Dedup.containmentPairs(docs, "doc_id", sh, 0.9).collect()
    assert(cont.length == 1)
    assert((cont.head.getLong(0), cont.head.getLong(1)) == (1L, 2L))
    assert(cont.head.getDouble(2) == 1.0)
    assert(Dedup.exactJaccardPairs(docs, "doc_id", sh, 0.8).collect().isEmpty)
  }

  test("repeatedNgramCoverage counts only cross-document repeated windows") {
    // doc1/doc2 share a verbatim 10-token run → three common 8-windows;
    // doc3 shares nothing; doc4 repeats an 8-gram only WITHIN itself
    // (document frequency 1 → not a duplicate by the df≥2 contract)
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared b1 b2"),
      (2L, s"c1 $shared d1 d2 d3"),
      (3L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"),
      (4L, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"),
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedNgramCoverage(docs, "doc_id", col("text"), 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc1: 15 tokens, dup windows start at 4,5,6 → cover positions 4..13
    // doc2: 14 tokens, dup windows start at 2,3,4 → cover positions 2..11
    assert(out == Map(1L -> ((15L, 3L, 10L)), 2L -> ((14L, 3L, 10L))))
  }

  test("MinHashSig kernel ≡ explode + min() aggregate signatures (sf0.001)") {
    val arr = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        array_distinct(transform(
          TextFunctions.wordShingles(col("text"), 3), s => xxhash64(s))).as("arr"))
      .filter(size(col("arr")) > 0)
    val kernel = arr.select(col("doc_id"),
      graft.plans.MinHashSig.minHashSig(col("arr"), Dedup.permConstants(8)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agg = Dedup.minHashSigAgg(arr, "doc_id", 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    assert(kernel == agg)
    assert(kernel.nonEmpty)
  }

  test("minhash LSH finds the same near-dup pairs as exact jaccard (sf0.001)") {
    val docs = Tables.documents(spark, sf0001)
    val sh = TextFunctions.wordShingles(col("text"), 3)
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", sh, 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashNearDupPairs(docs, "doc_id", sh, 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
    assert(exact.nonEmpty) // fixture plants near-dups
  }

  test("lshCandidatePairs is the candidate set minHashNearDupPairs verifies (sf0.001)") {
    val docs = Tables.documents(spark, sf0001)
    val sh = TextFunctions.wordShingles(col("text"), 3)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = pairs(Dedup.lshCandidatePairs(docs, "doc_id", sh, 32, 2))
    val verified = pairs(Dedup.minHashNearDupPairs(docs, "doc_id", sh, 0.8))
    val exact = pairs(Dedup.exactJaccardPairs(docs, "doc_id", sh, 0.8))
    assert(cands.forall { case (a, b) => a < b })
    assert(verified == exact.intersect(cands))
    assert(verified.nonEmpty && cands.size > verified.size)
  }

  test("MinHash banding needs 1 <= bandRows <= numHashes with bandRows dividing numHashes") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "v w x y z"))
      .toDF("doc_id", "text")
    val sh = TextFunctions.wordShingles(col("text"), 2)
    val cat = new graft.sources.Catalog(spark, graft.operators.CatalogOps.tempWarehouse())
    // no row per band, more rows per band than hashes, and 32 % 3 = 2
    // hashes that no band would cover
    for (bandRows <- Seq(0, 33, 3)) {
      val entryPoints: Seq[(String, () => Any)] = Seq(
        "minHashNearDupPairs" -> (() => Dedup.minHashNearDupPairs(docs, "doc_id", sh, 0.8, 32, bandRows)),
        "lshCandidatePairs" -> (() => Dedup.lshCandidatePairs(docs, "doc_id", sh, 32, bandRows)),
        "minHashCrossPairs" -> (() =>
          Dedup.minHashCrossPairs(docs, "doc_id", sh, docs, "doc_id", sh, 0.8, 32, bandRows)),
        "buildMinHashIndex" -> (() =>
          Dedup.buildMinHashIndex(cat, "mh_bad", docs, "doc_id", sh, 32, bandRows)),
        "probeMinHashIndex" -> (() =>
          Dedup.probeMinHashIndex(cat, "mh_bad", docs, "doc_id", sh, 0.8, 32, bandRows)))
      entryPoints.foreach { case (name, call) =>
        var e: IllegalArgumentException = null
        val jobs = jobsRunBy { e = intercept[IllegalArgumentException](call()) }
        assert(e.getMessage.contains(s"bandRows = $bandRows") &&
          e.getMessage.contains("numHashes = 32"), s"$name: ${e.getMessage}")
        // rejected before the hashed-shingle checkpoint runs over the corpus
        assert(jobs.isEmpty, s"$name with bandRows = $bandRows ran ${jobs.size} jobs")
      }
    }
    // the extremes that divide: 32 one-row bands, one 32-row band
    for (bandRows <- Seq(1, 32)) {
      val got = Dedup.minHashNearDupPairs(docs, "doc_id", sh, 0.8, 32, bandRows)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == Seq((1L, 2L, 1.0)), s"bandRows $bandRows")
    }
  }

  test("prefix-filtered jaccard equals naive exact jaccard (sf0.001)") {
    val docs = Tables.documents(spark, sf0001)
    val sh = TextFunctions.wordShingles(col("text"), 2)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 0.57 exercises the float-boundary guard on the prefix length: its
    // double product carries representation error above half-ulp, so an
    // unguarded ceil(t*n) shortens the prefix and silently drops pairs
    for (t <- Seq(0.6, 0.57)) {
      val naive = key(Dedup.exactJaccardPairs(docs, "doc_id", sh, t))
      val prefix = key(Dedup.prefixFilteredJaccardPairs(docs, "doc_id", sh, t))
      assert(prefix == naive, s"threshold $t")
      assert(naive.nonEmpty)
    }
  }

  test("SimHash60 kernel ≡ explode/groupBy aggregate form (sf0.001)") {
    val docs = Tables.documents(spark, sf0001)
    def sigs(f: (org.apache.spark.sql.DataFrame, String, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.DataFrame) =
      f(docs, "doc_id", TextFunctions.distinctTokens(col("text")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fused = sigs(Dedup.simHash)
    val agg = sigs(Dedup.simHashAgg)
    assert(fused == agg)
    assert(fused.nonEmpty)
  }

  test("simhash: identical docs at hamming 0; near-dups close; random far") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j"),
      (3L, "q r s t u v w x y z zz qq rr ss tt uu vv ww")).toDF("doc_id", "text")
    val sig = Dedup.simHash(docs, "doc_id", TextFunctions.distinctTokens(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(3L)) > 8)
  }

  test("simhash block space is parametric: (6,3) keys ≡ (4,1) at the guarantee") {
    val docs = Tables.documents(spark, sf0001)
    val toks = TextFunctions.distinctTokens(col("text"))
    def pairs(numBlocks: Int, keyBlocks: Int) =
      Dedup.simHashNearDupPairs(docs, "doc_id", toks, 3, numBlocks, keyBlocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // hamming ≤ 3 is inside both parameterizations' pigeonhole guarantee
    // (4−1 and 6−3), so both must equal the exact all-pairs answer
    val narrow = pairs(4, 1)
    val wide = pairs(6, 3)
    assert(narrow == wide)
    assert(narrow.nonEmpty) // fixture plants near-dups
    // recall INVARIANT (not a fixture accident): every true hamming ≤ 3
    // pair must be among the raw candidates under both parameterizations
    // — the pigeonhole guarantee the keys exist to provide. (The (6,3)
    // birthday-term shrinkage is statistical, measured by StressScale
    // simx, not asserted here.)
    def cands(numBlocks: Int, keyBlocks: Int) =
      Dedup.simHashNearDupPairs(docs, "doc_id", toks, 60, numBlocks, keyBlocks)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truePairs = narrow.map(p => (p._1, p._2))
    assert(truePairs.subsetOf(cands(4, 1)))
    assert(truePairs.subsetOf(cands(6, 3)))
    intercept[IllegalArgumentException](
      Dedup.simHashNearDupPairs(docs, "doc_id", toks, 3, 7, 1)) // 7 ∤ 60
    intercept[IllegalArgumentException](
      Dedup.simHashNearDupPairs(docs, "doc_id", toks, 3, 4, 5))
    intercept[IllegalArgumentException](
      Dedup.simHashNearDupPairs(docs, "doc_id", toks, 3, 30, 15)) // combo blow-up
  }

  test("int8-quantized topk recalls most of the exact float topk (sf0.001)") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter(col("vec_id") < 10)
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val exact = topSets(Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id"))
    val quant = topSets(Similarity.int8QuantizedTopK(q, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id"))
    val recalls = exact.map { case (qid, ex) =>
      (quant.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@5 $mean") // int8 error ~1% of cosine
  }

  test("pqTopK: planted duplicate attains the minimum ADC distance; recall floor") {
    val emb = Tables.embeddings(spark, sf0001)
    // plant an exact copy of vec 3 under a fresh id: it must encode to the
    // query's own argmin codes, so no candidate can score below it
    val dup = emb.filter(col("vec_id") === 3).withColumn("vec_id", lit(990L))
    val topk = Similarity.pqTopK(emb.unionByName(dup), "vec_id", "embedding",
      m = 4, kc = 8, iters = 2, k = 5, queryPred = col("vec_id") === 3).collect()
    assert(topk.length == 5)
    assert(topk.map(_.getLong(2)).sorted.toSeq == (1L to 5L).toSeq)
    assert(!topk.exists(_.getLong(1) == 3L)) // self excluded
    val dupRow = topk.find(_.getLong(1) == 990L)
    assert(dupRow.isDefined, "exact duplicate missing from PQ top-k")
    assert(dupRow.get.getLong(3) == topk.map(_.getLong(3)).min)
    // coarse-quantized ranking still recalls a meaningful share of the
    // exact top-k (4 subspaces × 8 codes is the fixture-sized codebook)
    val q = emb.filter(col("vec_id") < 10)
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val exactL2 = topSets(Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id"))
    val pq = topSets(Similarity.pqTopK(emb, "vec_id", "embedding",
      m = 4, kc = 8, iters = 2, k = 5, queryPred = col("vec_id") < 10)
      .select("query_id", "neighbor_id"))
    val recalls = exactL2.map { case (qid, ex) =>
      (pq.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.2, s"mean PQ recall@5 $mean")
  }

  test("ivfPqTopK with nprobe = nlist equals plain pqTopK (full probe)") {
    val emb = Tables.embeddings(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    val ivfpq = rows(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      nlist = 4, nprobe = 4, m = 4, kc = 8, iters = 2, k = 5,
      queryPred = col("vec_id") < 10))
    val pq = rows(Similarity.pqTopK(emb, "vec_id", "embedding",
      m = 4, kc = 8, iters = 2, k = 5, queryPred = col("vec_id") < 10))
    assert(ivfpq.toSeq == pq.toSeq,
      "probing every coarse cluster must be exactly the unrestricted ADC scan")
    // and a narrower probe returns a subset of candidates, never a superset
    val narrow = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      nlist = 4, nprobe = 1, m = 4, kc = 8, iters = 2, k = 5,
      queryPred = col("vec_id") < 10).collect()
    assert(narrow.nonEmpty)
    val pqPairs = pq.map(t => (t._1, t._2, t._4)).toSet
    // every (query, neighbor) the narrow probe scores carries the SAME
    // integer ADC distance the full scan computed (ranks may differ)
    narrow.foreach { r =>
      val key = (r.getLong(0), r.getLong(1), r.getLong(3))
      assert(pqPairs.contains(key) ||
        !pq.exists(t => t._1 == key._1 && t._2 == key._2),
        s"narrow-probe pair $key disagrees with the full ADC scan")
    }
  }

  test("bruteForceTopK self-consistent: rank 1 is the max-cosine neighbor") {
    val emb = Tables.embeddings(spark, sf0001)
    val topk = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", 3).collect()
    assert(topk.length == 3)
    assert(topk.map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L))
    val sims = topk.map(_.getDouble(3))
    assert(sims.sameElements(sims.sorted(Ordering[Double].reverse)))
  }

  test("WordShingles expression ≡ functional forms (edge cases + sf0.001 corpus)") {
    val edge = Seq("", " ", "a", "a b", "a  b", " a b ", "a b a b c",
      "héllo wörld mix", "日本語 テスト 文字 と emoji 🎉").toDF("text")
    val corpus = Tables.documents(spark, sf0001).select("text")
    for (df <- Seq(edge, corpus); n <- Seq(2, 3)) {
      val rows = df.select(
        TextFunctions.wordShingles(col("text"), n).as("d_expr"),
        TextFunctions.wordShinglesPortable(col("text"), n).as("d_port"),
        TextFunctions.wordShinglesAll(col("text"), n).as("a_expr"),
        TextFunctions.wordShinglesAllPortable(col("text"), n).as("a_port"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"distinct n=$n: $r")
        assert(r.getSeq[String](2) == r.getSeq[String](3), s"all n=$n: $r")
      }
    }
    // null text propagates
    val nr = Seq[Option[String]](None).toDF("text")
      .select(TextFunctions.wordShingles(col("text"), 2)).collect().head
    assert(nr.isNullAt(0))
  }

  test("WinnowedFingerprints kernel ≡ functional pipeline (sf0.001 corpus)") {
    val corpus = Tables.documents(spark, sf0001).select("text")
      .union(Seq("", " ", "a", "a b c", "a  b c d e", "x y x y x y x y").toDF("text"))
    val rows = corpus.select(
      TextFunctions.winnowFingerprints(col("text"), 3, 4).as("expr"),
      TextFunctions.winnowFingerprintsPortable(col("text"), 3, 4).as("port"))
      .collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"$r"))
  }

  test("winnowFingerprints: window minima, short-doc fallback, empty guard") {
    val df = Seq("a b c d e f g", "a b c", "xy").toDF("text")
    val rows = df.select(
      TextFunctions.winnowFingerprints(col("text"), 3, 4).as("fps"),
      transform(TextFunctions.wordShinglesAll(col("text"), 3),
        g => TextFunctions.tokenHash60(g)).as("hs"))
      .collect()
    // 7 tokens → 5 gram hashes → two 4-windows; replicate the min rule
    val hs0 = rows(0).getSeq[Long](1)
    assert(hs0.length == 5)
    val want0 = Seq(hs0.slice(0, 4).min, hs0.slice(1, 5).min).distinct
    assert(rows(0).getSeq[Long](0) == want0)
    // 3 tokens → 1 gram < w → single whole-doc minimum
    assert(rows(1).getSeq[Long](0) == Seq(rows(1).getSeq[Long](1).min))
    // < k tokens → no grams → empty
    assert(rows(2).getSeq[Long](0).isEmpty)
  }

  test("L2ArgMin kernel ≡ least/round/aggregate functional form (sf0.001)") {
    import graft.functions.VectorFunctions
    val emb = Tables.embeddings(spark, sf0001)
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("long"), VectorFunctions.asDouble(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector.toSeq)
      .sortBy(_._1).toSeq
    val vd = VectorFunctions.asDouble(col("embedding"))
    val functional = least(cents.map { case (cl, c) =>
      struct(
        round(aggregate(
          zip_with(vd, typedlit(c), (x, m) => (x - m) * (x - m)),
          lit(0.0), (a, x) => a + x), 6).as("d"),
        lit(cl).as("cl"))
    }: _*).getField("cl")
    val got = emb.select(col("vec_id"),
      graft.plans.VectorKernels.l2ArgMin(col("embedding"), cents).as("k"),
      functional.as("f")).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getLong(1) == r.getLong(2), s"vec ${r.getLong(0)}"))
    // round6 matches Spark round(x, 6) on a half-up knife edge
    assert(graft.plans.VectorKernels.round6(0.1234565) ==
      spark.sql("SELECT round(0.1234565d, 6)").collect().head.getDouble(0))
  }

  test("SrpSig kernel ≡ aggregate/zip_with functional form (sf0.001)") {
    val emb = Tables.embeddings(spark, sf0001)
    val rows = emb.select(col("vec_id"),
      Similarity.srpSignature(col("embedding"), 64, 32).as("k"),
      Similarity.srpSignaturePortable(col("embedding"), 64, 32).as("f"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), s"vec ${r.getLong(0)}"))
    // a dim mismatch fails the job loudly, not silently as a 0 signature
    intercept[Exception](
      emb.select(Similarity.srpSignature(col("embedding"), 32, 16)).collect())
  }

  test("multimodal: BMP/WAV decode inverts the codec for every id shape") {
    // ids cover every (width, height, padding) BMP shape and WAV length
    for (id <- 0L until 60L) {
      val isWav = id % 3 == 1
      val payload = if (isWav) Multimodal.encodeWav(id) else Multimodal.encodeBmp(id)
      val (w, h, sr, n, sum) = Multimodal.decodeMedia(payload)
      if (isWav) {
        val nWant = 32 + (id % 13) * 4
        assert((w, h, sr, n) == (0L, 0L, 8000 + (id % 5) * 2000, nWant))
        assert(sum == (0L until nWant).map(i => (id * 31 + i * 7) % 4096 - 2048).sum)
      } else {
        val (wWant, hWant) = (4 + id % 5, 3 + id % 4)
        assert((w, h, sr, n) == (wWant, hWant, 0L, wWant * hWant * 3))
        val want = (for {
          y <- 0L until hWant; x <- 0L until wWant; c <- 0L until 3L
        } yield (id + 3 * x + 5 * y + 11 * c) % 256).sum
        assert(sum == want, s"id=$id")
      }
    }
    // decoder rejects garbage rather than fabricating features
    intercept[RuntimeException](Multimodal.decodeMedia("notacontainer".getBytes))
  }

  test("multimodal: resizeHalf samples logical even rows/samples across parities") {
    for (id <- 0L until 40L) {
      val isWav = id % 3 == 1
      val payload = if (isWav) Multimodal.encodeWav(id) else Multimodal.encodeBmp(id)
      val (w, h, sr, n, sum) = Multimodal.decodeMedia(Multimodal.resizeHalf(payload))
      if (isWav) {
        val n0 = 32 + (id % 13) * 4
        assert((sr, n) == ((8000 + (id % 5) * 2000) / 2, (n0 + 1) / 2))
        assert(sum == (0L until (n0 + 1) / 2).map(j => (id * 31 + 14 * j) % 4096 - 2048).sum)
      } else {
        val (w0, h0) = (4 + id % 5, 3 + id % 4)
        val (w2, h2) = ((w0 + 1) / 2, (h0 + 1) / 2)
        assert((w, h, n) == (w2, h2, w2 * h2 * 3))
        // logical pixel (2x, 2y): parity-sensitive through bottom-up storage
        val want = (for {
          y <- 0L until h2; x <- 0L until w2; c <- 0L until 3L
        } yield (id + 6 * x + 10 * y + 11 * c) % 256).sum
        assert(sum == want, s"id=$id (h0=$h0 parity)")
      }
    }
    // resize chains: output is a valid container again
    val twice = Multimodal.resizeHalf(Multimodal.resizeHalf(Multimodal.encodeBmp(7L)))
    assert(Multimodal.decodeMedia(twice)._1 == 2L) // w: 6 → 3 → 2 (ceil halving)
  }

  test("multimodal: extractFeatures is deterministic, batch-shaped, typed") {
    val media = Multimodal.mediaFromText(
      Tables.documents(spark, sf0001).limit(20), "doc_id", "text")
    assert(media.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Multimodal.mediaSchema.map(f => (f.name, f.dataType.simpleString)))
    val f1 = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(f1.length == 20)
    assert(f1.map(_.getLong(3)).sameElements(f2.map(_.getLong(3)))) // checksum
    assert(f1.head.getSeq[Float](4).length == 16)
    assert(f1.map(r => (r.getLong(0), r.getSeq[Float](4))).toMap ==
      f2.map(r => (r.getLong(0), r.getSeq[Float](4))).toMap)
  }

  test("token_ids: dense in-vocab ids, live unk path, position-ordered heads") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("token_ids")(spark, sf0001).cache()
    try {
      // every doc encoded; unk tokens exist (vocab 20 < corpus vocab 31)
      assert(rows.count() === Tables.documents(spark, sf0001).count())
      assert(rows.filter(col("n_unk") > 0).count() > 0L)
      assert(rows.filter(col("n_unk") > col("n_tokens")).count() === 0L)
      // ids_head values are all in [-1, 19] and count ≤ 20 per doc
      val bad = rows.filter(
        exists(split(col("ids_head"), ","),
          s => s.cast("long") < -1 || s.cast("long") > 19)).count()
      assert(bad === 0L)
      assert(rows.filter(size(split(col("ids_head"), ",")) > 20).count() === 0L)
    } finally rows.unpersist()
  }

  test("persisted MinHash index probe equals the direct two-sided cross pairs") {
    val wh = graft.operators.CatalogOps.tempWarehouse()
    val cat = new graft.sources.Catalog(spark, wh)
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 3)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 3)
    val sh3 = (c: org.apache.spark.sql.Column) => TextFunctions.wordShingles(c, 3)
    Dedup.buildMinHashIndex(cat, "mh_idx", corpus, "doc_id", sh3(col("text")))
    val probed = Dedup.probeMinHashIndex(
      cat, "mh_idx", batch, "doc_id", sh3(col("text")), threshold = 0.8)
    val direct = Dedup.minHashCrossPairs(
      corpus, "doc_id", sh3(col("text")),
      batch, "doc_id", sh3(col("text")), threshold = 0.8)
    assert(probed.count() === direct.count())
    assert(probed.join(direct, Seq("doc_a", "doc_b", "jaccard")).count()
      === direct.count())
    // and the index is genuinely persisted: both tables exist with rows
    assert(cat.table("mh_idx_bands").count() > 0L)
    assert(cat.table("mh_idx_arr").count() > 0L)
  }

  test("bpeTrain learns the classic merges; greedy overlap on 'aaaa' is left-to-right") {
    import spark.implicits._
    val docs = Seq("low low low lower lowest aaaa").toDF("text")
    val (merges, syms) = graft.operators.TextOps.bpeTrain(docs, topN = 10, rounds = 5)
    // r1: (l,o)=5 ties (o,w)=5 → pair-asc tie-break; r3: (a,a)=3 beats
    // (low,e)=2; "aaaa" merges at positions 1 and 3 (greedy, non-overlap);
    // r5: all pairs tie at 1 → (aa,aa) wins lexicographically
    assert(merges == Seq(
      (1, "l", "o", 5L), (2, "lo", "w", 5L), (3, "a", "a", 3L),
      (4, "low", "e", 2L), (5, "aa", "aa", 1L)))
    val toks = syms.toMap
    assert(toks("low") == Seq("low"))
    assert(toks("lower") == Seq("lowe", "r"))
    assert(toks("lowest") == Seq("lowe", "s", "t"))
    assert(toks("aaaa") == Seq("aaaa"))
  }

  test("encodeVideoTrimmed shares the original's frames 1..n-1 byte-exactly") {
    for (id <- Seq(1L, 18L, 35L, 100L)) {
      val orig = Multimodal.sampleFrames(Multimodal.encodeVideo(id), 1)
      val trim = Multimodal.sampleFrames(Multimodal.encodeVideoTrimmed(id), 1)
      assert(trim.size == orig.size - 1)
      trim.map(_._2).zip(orig.drop(1).map(_._2)).foreach { case (t, o) =>
        assert(java.util.Arrays.equals(t, o))
      }
    }
  }

  test("video near-dup finds the planted trimmed copies with n_shared = nf-1") {
    import spark.implicits._
    // ids 1 and 18 are % 17 == 1 → trimmed copies planted at id + 10^7
    val docs = Seq(1L, 5L, 18L, 30L).toDF("doc_id")
    val media = Multimodal.videoFromIds(docs, "doc_id").unionByName(
      Multimodal.trimmedVideosFromIds(
        docs.filter($"doc_id" % 17 === 1), "doc_id", offset = 10000000L))
    val fp = Multimodal.frameSample(media, 1)
      .select($"media_id", $"width", $"height", $"sample_sum").distinct()
    val pairs = fp.as("a").join(fp.as("b"),
        $"a.width" === $"b.width" && $"a.height" === $"b.height" &&
          $"a.sample_sum" === $"b.sample_sum" && $"a.media_id" < $"b.media_id")
      .groupBy($"a.media_id".as("vid_a"), $"b.media_id".as("vid_b"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_shared"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // nf(1) = 2 + 1%3 = 3 → copy shares 2 frames; nf(18) = 2 → shares 1
    assert(pairs((1L, 10000001L)) == 2L)
    assert(pairs((18L, 10000018L)) == 1L)
  }

  test("oovRateReport: vocab top-k by freq (ties lexical), exact per-group rates") {
    // train: 'a' ×3, 'b' ×2, 'c' ×2 — top-2 vocab = {a, b} (c ties b,
    // loses lexically); held-out g1 = 'a b c d' → 2/4 OOV, g2 = 'a a' → 0
    val train = Seq((1L, "a a a b"), (2L, "b c c")).toDF("doc_id", "text")
    val ho = Seq(("g1", "a b c d"), ("g2", "a a")).toDF("grp", "text")
    val out = graft.operators.TextOps
      .oovRateReport(train, ho, "grp", col("text"), vocabSize = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map("g1" -> ((4L, 2L, 500000L)), "g2" -> ((2L, 0L, 0L))))
    intercept[IllegalArgumentException] {
      graft.operators.TextOps.oovRateReport(train, ho, "grp", col("text"), 0)
    }
  }

  test("phraseSearch: positional hits, repeated-term phrases, overlapping occurrences") {
    val docs = Seq((1L, "x x x y"), (2L, "a x b")).toDF("doc_id", "text")
    val out = graft.operators.TextOps
      .phraseSearch(docs, "doc_id", col("text"), Seq("x x", "x y", "a x b", "y a"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      // 'x x x' contains TWO overlapping 'x x' occurrences (starts 0 and 1)
      ("x x", 1L) -> 2L,
      ("x y", 1L) -> 1L,
      ("a x b", 2L) -> 1L,
      // 'y a' spans documents — must NOT match across doc boundaries
    ))
    intercept[IllegalArgumentException] {
      graft.operators.TextOps.phraseSearch(docs, "doc_id", col("text"), Nil)
    }
  }

  test("canonicalizeUrl: ports, case, tracking params, param order, slash, fragment") {
    val cases = Seq(
      "https://SRC3.COM:443/p/5?id=5&utm_source=feed" -> "https://src3.com/p/5?id=5",
      "https://src3.com/p/5/?utm_campaign=x&id=5" -> "https://src3.com/p/5?id=5",
      "https://src3.com/p/5?id=5#frag" -> "https://src3.com/p/5?id=5",
      "http://Host:80" -> "http://host",
      "https://h/p?b=2&a=1" -> "https://h/p?a=1&b=2",
      "https://h/p?fbclid=x&gclid=y&utm_a=z" -> "https://h/p",
      "https://h:8080/p" -> "https://h:8080/p", // non-default port kept
    )
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), graft.operators.TextOps.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (raw, want) =>
      assert(got(raw) == want, s"canonicalizeUrl($raw) = ${got(raw)}, want $want")
    }
  }

  test("docKeywords: hand-computed TF-IDF micros, per-doc rank, lexical tie-break") {
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "c c c a")).toDF("doc_id", "text")
    def s(tf: Long) = math.floor(tf * math.log(3.0 / 2) * 1e6 + 0.5).toLong
    val out = graft.operators.TextOps
      .docKeywords(docs, "doc_id", col("text"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, "a", s(2)), (1L, 2L, "b", s(1)),
      (2L, 1L, "b", s(1)), (2L, 2L, "c", s(1)), // tie → lexical
      (3L, 1L, "c", s(3)), (3L, 2L, "a", s(1))))
    intercept[IllegalArgumentException] {
      graft.operators.TextOps.docKeywords(docs, "doc_id", col("text"), 0)
    }
  }

  test("stripRepeatedNgrams: owner keeps, later occurrences stripped, within-doc repeats survive") {
    val docs = Seq(
      (1L, "a b c x y z"), // owner of 'a b c' (min doc, min pos)
      (2L, "a b c q r s"), // loses the shared 3-gram
      (3L, "a b c"),       // fully deduplicated → empty
      (4L, "u v w"),       // unique → untouched
      (5L, "m n o m n o"), // repeated WITHIN one doc only: df(docs)=1 → kept
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .stripRepeatedNgrams(docs, "doc_id", col("text"), n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 6L, 0L, "a b c x y z"),
      (2L, 6L, 3L, "q r s"),
      (3L, 3L, 3L, ""),
      (4L, 3L, 0L, "u v w"),
      (5L, 6L, 0L, "m n o m n o")))
  }

  test("pmiCollocations: hand-computed PMI micros, minCount gate") {
    // bigrams: 'a b'×3, 'b a'×1, 'b c'×1 (nb=5); tokens a×3 b×3 c×1 (nu=7)
    val docs = Seq("a b a b", "a b c").toDF("text")
    val out = graft.operators.TextOps
      .pmiCollocations(docs, col("text"), minCount = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = math.floor(math.log((3.0 / 5) / ((3.0 / 7) * (3.0 / 7))) * 1e6 + 0.5).toLong
    assert(out.toSeq == Seq(("a b", 3L, want)))
  }
}
