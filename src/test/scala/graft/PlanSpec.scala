package graft

import org.apache.spark.sql.functions._

/** Plan-shape assertions: the scale properties we rely on must be visible
  * in the physical plan, not assumed — pushed filters, broadcast joins,
  * partial aggregation, whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  test("q1: filter pushed to parquet scan, partial+final hash aggregate") {
    val df = SparkEntry.queries("q1_scan_agg")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"))
    assert(plan.contains("HashAggregate"))
    assert(plan.toLowerCase.contains("partial"))
  }

  test("q1 scan reads only referenced columns (column pruning)") {
    val df = SparkEntry.queries("q1_scan_agg")(spark, sf0001)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("lineitem")).get
    assert(!scan.contains("l_orderkey")) // unused by q1
    assert(scan.contains("l_quantity"))
  }

  test("dim joins broadcast (no shuffle exchange for small side)") {
    val df = SparkEntry.queries("q_multi_join_dims")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("fresh ANALYZE stats flip a threshold-straddling join to broadcast; stale stats don't") {
    val cat = new graft.sources.Catalog(
      spark, graft.operators.CatalogOps.tempWarehouse())
    import org.apache.spark.sql.types._
    cat.create("dim", StructType(Seq(
      StructField("k", LongType), StructField("label", StringType))))
    cat.insert("dim", spark.range(10).selectExpr("id AS k", "concat('l', id) AS label"))
    val fact = spark.range(2000).selectExpr("id % 10 AS k", "id AS v")
    def joinPlan() = fact.join(cat.table("dim"), "k")
      .queryExecution.sparkPlan.toString
    // threshold between the in-memory estimate (10 rows × ~36 B ≈ 360 B)
    // and the on-disk parquet size (footer overhead pushes a 10-row file
    // past 700 B): Spark's file-size heuristic says "too big to
    // broadcast"; fresh stats say broadcast
    assert(cat.statsOf("dim").isEmpty) // not yet analyzed
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "700")
      assert(!joinPlan().contains("BroadcastHashJoin"),
        "without stats, the on-disk size must rule the decision")
      cat.analyze("dim")
      assert(joinPlan().contains("BroadcastHashJoin"),
        "fresh stats (10 rows) must flip the join to broadcast")
      // a write after ANALYZE makes the stats stale — they must stop
      // feeding the planner
      cat.insert("dim", spark.range(10, 20).selectExpr("id AS k", "concat('l', id) AS label"))
      assert(!joinPlan().contains("BroadcastHashJoin"),
        "stale stats must not feed the planner")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("fresh stats SUPPRESS a dangerous broadcast: small on disk, big decoded") {
    val cat = new graft.sources.Catalog(
      spark, graft.operators.CatalogOps.tempWarehouse())
    import org.apache.spark.sql.types._
    cat.create("dimc", StructType(Seq(
      StructField("k", LongType), StructField("pad", StringType))))
    // 5000 identical 100-char strings: parquet dictionary-encodes this to
    // ~a few KiB on disk, but the decoded footprint is ~5000 × 120 B
    cat.insert("dimc", spark.range(5000)
      .selectExpr("id AS k", "repeat('a', 100) AS pad"))
    val fact = spark.range(20000).selectExpr("id % 5000 AS k", "id AS v")
    def joinPlan() = fact.join(cat.table("dimc"), "k")
      .queryExecution.sparkPlan.toString
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // threshold between the on-disk bytes (under — the file-size
      // heuristic says broadcast) and the decoded estimate (over — the
      // executor-memory truth says don't)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "200000")
      assert(joinPlan().contains("BroadcastHashJoin"),
        "without stats, the compressed on-disk size mis-plans a broadcast")
      cat.analyze("dimc")
      assert(!joinPlan().contains("BroadcastHashJoin"),
        "fresh stats must veto the OOM-shaped broadcast (merge hint)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("semi/anti joins compile to semi/anti physical joins") {
    val semi = SparkEntry.queries("q_semi_join")(spark, sf0001)
    assert(semi.queryExecution.executedPlan.toString.contains("LeftSemi"))
    val anti = SparkEntry.queries("q_anti_join")(spark, sf0001)
    assert(anti.queryExecution.executedPlan.toString.contains("LeftAnti"))
  }

  test("top-k compiles to TakeOrderedAndProject, not global sort") {
    val df = SparkEntry.queries("q_orderby_limit")(spark, sf0001)
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("whole-stage codegen covers the q1 pipeline") {
    val df = SparkEntry.queries("q1_scan_agg")(spark, sf0001)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    // AQE renders codegen stages as "*(n) Op"; non-AQE as WholeStageCodegen
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("))
  }

  test("every registered query has a unique name and runs at sf0.001") {
    val names = SparkEntry.allQ.map(_.name)
    assert(names.distinct.size == names.size)
    // entry() contract: flagship returns rows
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("dedup_embedding_srp plans with NO all-pairs join (the scale contract)") {
    val df = SparkEntry.queries("dedup_embedding_srp")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "SRP near-dup must bucket-join, never all-pairs")
  }

  test("ann_topk_bruteforce broadcasts the query batch, not the corpus") {
    val df = SparkEntry.queries("ann_topk_bruteforce")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "query batch should broadcast against the linear corpus scan")
  }

  test("q_local_supplier_volume pushes the date band to the orders scan; dims broadcast") {
    val df = SparkEntry.queries("q_local_supplier_volume")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderdate"),
      "the o_orderdate band must reach the parquet scan as a pushed filter")
    assert(plan.contains("BroadcastHashJoin"),
      "nation/region dims must broadcast against the fact side")
    assert(!plan.contains("CartesianProduct"))
  }

  test("phrase_search broadcasts the phrase tables; postings never shuffle-join") {
    val df = SparkEntry.queries("phrase_search")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "phrase/term table must broadcast against the postings scan")
    assert(!plan.contains("SortMergeJoin"),
      "a shuffle join here would re-partition the whole postings table per query batch")
  }

  test("q_skew_join splits the join key across salts in the plan") {
    val df = SparkEntry.queries("q_skew_join")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), "salted join must key on (key, salt)")
  }

  test("q_range_join plans as an equi join on buckets, not a nested loop") {
    val df = SparkEntry.queries("q_range_join")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "range join must bucket into an equi join — a nested loop is the O(n·m) cliff")
    assert(plan.contains("__bucket"), "bucket key missing from join")
  }

  test("decontaminate broadcasts the benchmark gram set (training side scanned once)") {
    val df = SparkEntry.queries("decontaminate_benchmark")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "benchmark gram set must broadcast — shuffling the corpus for a tiny eval set is the scale bug")
  }

  test("AQE splits a skewed sort-merge join at runtime (no salting needed)") {
    // Documents the division of labor with SkewJoin.saltedJoin: when the
    // skewed side arrives through a regular shuffle, AQE's runtime skew
    // split handles it — salting is only for the cases AQE can't reach
    // (skew feeding from a cached/checkpointed stage, or non-shuffle
    // children). Thresholds lowered so fixture-scale skew trips the rule.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val large = s.range(1000000).select(
      when(col("id") < 990000, 0L).otherwise(pmod(col("id"), lit(64))).as("key"),
      concat(lit("pad-pad-pad-pad-"), col("id").cast("string")).as("payload"))
    val small = s.range(64).select(col("id").as("key"), (col("id") * 2).as("v"))
    val joined = large.join(small, "key")
    // drive THIS Dataset's execution so its adaptive plan finalizes (a
    // write/count action would spawn a separate QueryExecution)
    joined.queryExecution.executedPlan.execute().count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"expected AQE skew-split SMJ; got:\n${plan.take(1500)}")
  }

  test("bucketed tables co-locate: the fact-fact join plans zero exchanges") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    val wh = tempDir("graft_bkt_test_").toString
    graft.sources.Bucketing.writeBucketed(
      Tables.orders(s, sf0001), "bkt_o_spec", s"$wh/o", 8, "o_custkey")
    graft.sources.Bucketing.writeBucketed(
      Tables.customer(s, sf0001), "bkt_c_spec", s"$wh/c", 8, "c_custkey")
    val j = s.table("bkt_o_spec").join(s.table("bkt_c_spec"),
      col("o_custkey") === col("c_custkey"))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle either side; got:\n${plan.take(1500)}")
    // and the co-located plan returns exactly the unbucketed join's rows
    val plainCount = Tables.orders(s, sf0001).join(Tables.customer(s, sf0001),
      col("o_custkey") === col("c_custkey")).count()
    assert(j.count() == plainCount)
  }

  test("ivfTopK drops the probed-set broadcast past BroadcastProbeLimit") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter(col("vec_id") < 20)
    def probeHints(batchRows: Option[Long]) =
      Similarity.ivfTopK(q, emb, "vec_id", "embedding", "label", 5, 3, batchRows)
        .queryExecution.optimizedPlan.toString
        .split("\n").count(_.contains("strategy=broadcast"))
    // small batch (default / declared small): centroid broadcast + probed
    // broadcast; declared-large batch: ONLY the centroid broadcast stays —
    // the probed set joins on the bucket key through a shuffle (hints are
    // caller-placed, so this is deterministic, not stats-dependent)
    assert(probeHints(None) == 2)
    assert(probeHints(Some(1000L)) == 2)
    assert(probeHints(Some(Similarity.BroadcastProbeLimit)) == 1)
    // both plans compute identical results
    def rows(batchRows: Option[Long]) =
      Similarity.ivfTopK(q, emb, "vec_id", "embedding", "label", 5, 3, batchRows)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(None) == rows(Some(Similarity.BroadcastProbeLimit)))
  }

  test("stratified_split is a pure per-row projection (no shuffle before sort)") {
    val df = SparkEntry.queries("stratified_split")(spark, sf0001)
    val exchanges = df.queryExecution.executedPlan.toString
      .split("\n").count(_.contains("Exchange"))
    // only the final ORDER BY's range exchange is allowed
    assert(exchanges <= 1, s"hash split must not shuffle; found $exchanges exchanges")
  }

  test("NO registered query plans a cartesian product or an unsanctioned nested loop") {
    // The scale contract, enforced suite-wide: a CartesianProduct or a
    // BroadcastNestedLoopJoin in a registered plan is an O(n·m) cliff at
    // 100 TB unless one side is provably model-sized. Allowlist = the
    // documented model-sized-broadcast tier:
    //  - ann_topk_* / kmeans / knn: the query batch or centroid table is
    //    broadcast against a linear corpus scan (k·dim rows, by design);
    //  - tfidf_top_terms / lm_unigram_score / quality_buckets:
    //    crossJoin(broadcast) of a 1-row corpus-total scalar (the vocab
    //    join itself must stay an equi join; quality_buckets' per-lang
    //    cut-point join IS an equi join — only the scalar is nested-loop).
    //  - q_heavy_hitters_cms / dedup_bloom_shingles: crossJoin(broadcast)
    //    of a 1-row fixed-size sketch (32 KiB CMS / 128 KiB bloom) onto
    //    the probe side (sketch size independent of corpus size).
    val nestedLoopOk = Set(
      "ann_topk_bruteforce", "ann_topk_filtered", "ann_topk_int8", "ann_topk_ivf",
      "ann_topk_ivf_kmeans", "knn_centroid_assign", "kmeans_assign",
      "ann_topk_ivfpq", // nlist-row coarse-centroid model broadcast (probe)
      "ann_topk_ivfpq_served", // the same probe over the PERSISTED centroids
      "tfidf_top_terms", "lm_unigram_score", "quality_buckets",
      "q_heavy_hitters_cms", "dedup_bloom_shingles", "lm_bigram_score",
      "bm25_score", // 1-row (N, avgdl) corpus-stats scalar broadcast
      "lm_trigram_backoff", // 1-row (N, V) train-vocab scalar broadcast
      "graph_pagerank", // 1-row node-count scalar broadcast per iteration
      "stream_heavy_hitters", // 1-row streamed CMS sketch broadcast (32 KiB)
      "q_bloom_semi_reduction", // 1-row bloom sketch broadcast (128 KiB)
      "corpus_lang_balance", // 1-row min-language-count scalar broadcast
      "dsir_importance", // 1-row bucket-totals + 1-row mean-score scalars
      "dq_psi_drift", // 1-row population-totals scalar broadcast
      "stream_psi_drift", // 10-row bucket domain + 1-row totals broadcasts
      "distinct_hll_partitioned_check", // two 1-row merged-sketch scalars
      "audience_overlap_kmv", // segment-count-row (5) type-pair enumeration
      "dq_completeness", // 1-row hour-span scalar broadcast for the grid
      "collocations_pmi", // two 1-row corpus-total scalars (nu, nb)
      "doc_keywords_tfidf", // 1-row doc-count scalar broadcast (N for idf)
      "dq_benford", // 1-row digit-total scalar broadcast
      "dq_chi2_independence", // 1-row grand-total scalar broadcast
      "basket_association_rules", // 1-row order-count scalar broadcast
      "dedup_minhash_calibration", // 32-row permutation-constant broadcast
      "corpus_budget_select", // 1-row token-budget scalar broadcast
      "ann_hard_negatives", // query-batch broadcast, per-query label filter
      "corpus_mixture_temperature", // 1-row Σ√n scalar broadcast
      "ann_topk_matryoshka") // query-batch broadcast (coarse pass), like ann_topk_bruteforce
    val violations = SparkEntry.allQ.flatMap { q =>
      val plan = q.run(spark, sf0001).queryExecution.executedPlan.toString
      val cart = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") && !nestedLoopOk(q.name)
      if (cart || bnlj)
        Some(s"${q.name}: ${if (cart) "CartesianProduct" else "BroadcastNestedLoopJoin"}")
      else None
    }
    assert(violations.isEmpty, s"scale-killer plans:\n${violations.mkString("\n")}")
  }

  test("tfidf dfreq join is an equi join chosen by AQE, not a forced broadcast") {
    val df = SparkEntry.queries("tfidf_top_terms")(spark, sf0001)
    val plan = df.queryExecution.optimizedPlan.toString
    // the only broadcast HINT left in the logical plan is the 1-row scalar
    assert(plan.split("\n").count(_.contains("ResolvedHint")) <= 1)
  }

  test("dsir_importance: AQE reuses the scored-table exchange (one tokenize pass)") {
    // the per-doc score table feeds BOTH the corpus left-join and the
    // 1-row mean threshold; without exchange reuse the tokenize+model
    // join would run twice. AQE must canonicalize the two subtrees to one
    // exchange at runtime — assert on the EXECUTED adaptive plan.
    val df = SparkEntry.queries("dsir_importance")(spark, sf0001)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      "expected AQE exchange reuse of the scored subtree:\n" +
        executed.linesIterator.take(40).mkString("\n"))
  }

  test("approx_count_distinct lands within its rsd bound of the exact count") {
    val exact = SparkEntry.queries("distinct_exact")(spark, sf0001)
      .collect().head.getLong(0).toDouble
    val approx = SparkEntry.queries("distinct_approx")(spark, sf0001)
      .collect().head.getLong(0).toDouble
    // rsd=0.05 → allow 4 sigma
    assert(math.abs(approx - exact) / exact < 0.20)
  }

  test("new-round plans: RA top-k is TakeOrdered, EXCEPT ALL pushes the date band, RANGE window is one exchange") {
    val ra = SparkEntry.queries("graph_link_predict_ra")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(ra.contains("TakeOrderedAndProject"), "top-k must not be a global sort")
    assert(!ra.contains("CartesianProduct"))

    val ex = SparkEntry.queries("q_except_all")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(ex.contains("PushedFilters") && ex.contains("l_shipdate"),
      "the shipdate band must reach the parquet scan")

    // value-based RANGE frame: one hash exchange on the partition key,
    // no extra shuffle beyond it + the final order
    val wf = SparkEntry.queries("q_window_range_frame")(spark, sf0001)
      .queryExecution.executedPlan
    val exchanges = wf.toString.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"expected window exchange + output sort only, got $exchanges")
  }

  /** (Exchange, Generate) node counts of a plan before execution: AQE's
    * current physical plan (exchanges already placed), else the plan.
    */
  private def exchangesAndGenerates(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (plan.collect { case e: Exchange => e }.size,
      plan.collect { case g: GenerateExec => g }.size)
  }

  test("tokenizer rows plan no more Exchanges or Generates than their pinned counts") {
    // measured at sf0.001 before the tokenizers shared one skeleton;
    // bpe_encode, unigram_encode and unigram_encode_served then planned
    // 2/0, 5/2 and 4/4. The six rows whose result is a sorted local
    // relation plan no Exchange: SmallSortStrategy sorts it in one task
    val pinned = Map(
      "bpe_train" -> (0, 0),
      "bpe_encode" -> (0, 0),
      "bpe_corpus_tokens" -> (5, 2),
      "bpe_corpus_tokens_served" -> (5, 2),
      "unigram_train" -> (0, 0),
      "unigram_encode" -> (0, 0),
      "unigram_encode_served" -> (0, 0),
      "wordpiece_train" -> (0, 0),
      "wordpiece_encode" -> (5, 2),
      "wordpiece_encode_served" -> (5, 2))
    pinned.foreach { case (name, (maxEx, maxGen)) =>
      val (ex, gen) = exchangesAndGenerates(SparkEntry.queries(name)(spark, sf0001))
      assert(ex <= maxEx && gen <= maxGen,
        s"$name plans $ex Exchanges / $gen Generates (pinned $maxEx / $maxGen)")
    }
  }

  test("similarity rows plan no more Exchanges than their pinned counts") {
    // measured at sf0.001 before the vector tier shared one trainer, probe
    // and top-k tail (pre-execution AQE plan, broadcast exchanges counted)
    val pinned = Map(
      "ann_topk_bruteforce" -> 3, "ann_topk_matryoshka" -> 5,
      "ann_topk_filtered" -> 3, "ann_hard_negatives" -> 3,
      "ann_topk_ivf" -> 7, "q_vector_stats" -> 1,
      "dedup_embedding_srp" -> 3, "kmeans_assign" -> 1,
      "coreset_kcenter" -> 1, "dedup_semantic" -> 5,
      "dedup_semantic_scaled" -> 5, "dedup_semantic_sqrtk" -> 5,
      "dedup_semantic_sampled" -> 5, "dedup_semantic_sampled_sqrtk" -> 5,
      "contrastive_triplets" -> 11, "ann_topk_ivf_kmeans" -> 9,
      "ann_topk_pq" -> 6, "ann_topk_ivfpq" -> 10,
      "ann_topk_pq_served" -> 6, "ann_topk_ivfpq_served" -> 10,
      "ann_topk_int8" -> 3, "knn_centroid_assign" -> 5)
    assert(pinned.keySet == graft.operators.Similarity.queries.map(_.name).toSet)
    pinned.foreach { case (name, maxEx) =>
      val (ex, _) = exchangesAndGenerates(SparkEntry.queries(name)(spark, sf0001))
      assert(ex <= maxEx, s"$name plans $ex Exchanges (pinned $maxEx)")
    }
  }

  test("dedup-tier rows plan no more Exchanges than their pinned counts") {
    // measured at sf0.001 before the dedup tier shared one overlap join,
    // one band-bucket candidate join and one verify tail (pre-execution
    // AQE plan, broadcast exchanges counted)
    val rows = Map(
      "dedup_exact" -> 2, "dedup_exact_canonical" -> 2,
      "dedup_minhash" -> 5, "dedup_ngram_jaccard" -> 15,
      "dedup_jaccard_capped" -> 15, "dedup_minhash_calibration" -> 14,
      "dedup_containment" -> 15, "dedup_simhash" -> 3,
      "dedup_substring" -> 11, "dedup_substring_strip" -> 8,
      "dedup_bloom_shingles" -> 6, "dedup_minhash_index" -> 5)
    assert(rows.keySet == graft.operators.Dedup.queries.map(_.name).toSet)
    val pinned = rows ++ Map(
      "dedup_components" -> 2, "dedup_components_star" -> 4,
      "dedup_cluster_keep_best" -> 5, "dedup_report_by_source" -> 7,
      "decontaminate_fuzzy" -> 7)
    pinned.foreach { case (name, maxEx) =>
      val (ex, _) = exchangesAndGenerates(SparkEntry.queries(name)(spark, sf0001))
      assert(ex <= maxEx, s"$name plans $ex Exchanges (pinned $maxEx)")
    }
  }

  test("training-data tier rows plan no more Exchanges than their pinned counts") {
    // measured at sf0.001 before the training-data tier shared one bucketed
    // running sum, one bucketed top-k and one shard layout (pre-execution
    // AQE plan, broadcast exchanges counted)
    val rows = Map(
      "decontaminate_benchmark" -> 5, "decontaminate_overlap" -> 5,
      "decontaminate_semantic" -> 7, "stratified_split" -> 1,
      "kfold_assign" -> 2, "corpus_budget_select" -> 13,
      "kfold_group_assign" -> 3, "training_corpus" -> 3,
      "training_corpus_v2" -> 16, "doc_chunk" -> 1, "seq_pack" -> 2,
      "batch_by_length" -> 2, "seq_pack_concat" -> 2, "corpus_mixture" -> 6,
      "corpus_mixture_temperature" -> 10, "corpus_mixture_epochs" -> 11,
      "dsir_importance" -> 16, "pii_redact" -> 1, "q_stratified_sample" -> 3,
      "q_weighted_sample" -> 3, "corpus_lang_balance" -> 11)
    // pinned by the dedup-tier test
    val dedupPinned = Set("dedup_components", "dedup_components_star",
      "dedup_cluster_keep_best", "dedup_report_by_source", "decontaminate_fuzzy")
    assert(rows.keySet ++ dedupPinned ==
      graft.operators.TrainingData.queries.map(_.name).toSet)
    // the events rows built on the same bucketed running sum, 30-minute
    // sessions and as-of inputs
    val pinned = rows ++ Map(
      "q_global_running_sum" -> 5, "events_max_concurrency" -> 12,
      "q_sessionize_gap" -> 2, "events_top_paths" -> 2, "q_asof_join" -> 3,
      "q_asof_join_forward" -> 3, "q_asof_join_nearest" -> 3)
    pinned.foreach { case (name, maxEx) =>
      val (ex, _) = exchangesAndGenerates(SparkEntry.queries(name)(spark, sf0001))
      assert(ex <= maxEx, s"$name plans $ex Exchanges (pinned $maxEx)")
    }
  }

  test("catalog-tier rows plan no more Exchanges than their pinned counts") {
    // measured at sf0.001 before the catalog rows shared one staged docs
    // table, one SQL session, one language profile and one mutation
    // lifecycle (pre-execution AQE plan, broadcast exchanges counted)
    val rows = Map(
      "catalog_roundtrip" -> 2, "catalog_concurrent_commit" -> 2,
      "catalog_export_import" -> 2, "catalog_sql_dml" -> 2,
      "catalog_sql_merge_cond" -> 2, "catalog_sql_update" -> 2,
      "catalog_sql_views" -> 2, "catalog_sql_zorder" -> 2,
      "catalog_sql_merge_evolve" -> 2, "catalog_sql_udf" -> 2,
      "catalog_sql_copy" -> 2, "catalog_sql_time_travel" -> 4,
      "catalog_sql_time_travel_ts" -> 4, "catalog_sql_constraints" -> 2,
      "catalog_sql_mview" -> 1, "catalog_sql_analyze" -> 1,
      "catalog_partition_prune" -> 2, "catalog_partition_delete" -> 2,
      "catalog_delete_rows" -> 2, "catalog_merge" -> 2,
      "catalog_time_travel" -> 3, "catalog_erase" -> 2, "catalog_clone" -> 3,
      "catalog_bucketed_join" -> 3, "catalog_changes" -> 3,
      "catalog_restore" -> 2, "catalog_incremental_agg" -> 5,
      "catalog_csv_roundtrip" -> 2, "catalog_ingest_quarantine" -> 3,
      "catalog_orc_roundtrip" -> 2, "catalog_avro_roundtrip" -> 2,
      "avro_wire_parse" -> 2, "catalog_zorder_prune" -> 1,
      "catalog_zorder_3d" -> 1, "catalog_hilbert_prune" -> 1,
      "catalog_compact" -> 2, "catalog_replace_where" -> 2,
      "catalog_compact_where" -> 2, "catalog_add_column" -> 1,
      "catalog_rename_column" -> 1, "catalog_widen_column" -> 1,
      "catalog_nest" -> 2)
    assert(rows.keySet == graft.operators.CatalogOps.queries.map(_.name).toSet)
    // the stream rows and their batch twins that share one oracle text
    val pinned = rows ++ Map(
      "q_session_window" -> 2, "stream_session_agg" -> 1,
      "stream_session_timers" -> 0, "events_cusum_changepoint" -> 6,
      "stream_cusum_alert" -> 4, "rolling_active_users_check" -> 10,
      "stream_rolling_dau" -> 8, "events_sessionize_agg" -> 2,
      "stream_hourly_agg" -> 1, "stream_user_totals" -> 1,
      "stream_user_totals_tws" -> 1)
    pinned.foreach { case (name, maxEx) =>
      val (ex, _) = exchangesAndGenerates(SparkEntry.queries(name)(spark, sf0001))
      assert(ex <= maxEx, s"$name plans $ex Exchanges (pinned $maxEx)")
    }
  }

  test("tokenizer plans do not grow with the model: 10 vs 30,000 merges") {
    import spark.implicits._
    val docs = Seq((1L, "the lower lowest"), (2L, "newer wider"), (3L, "aaaa b"))
      .toDF("doc_id", "text")
    // base-26 [a-z]+ symbols; merge i joins symbols i and i + 1
    def sym(i: Int): String = Iterator.iterate(i)(_ / 26).takeWhile(_ > 0)
      .map(k => ('a' + k % 26).toChar).mkString
    def merges(n: Int) = (1 to n).map(i => (i, sym(i), sym(i + 1), 1L))
    def exprNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.flatMap(_.expressions)
        .map(_.collect { case e => e }.size).sum
    def bpe(n: Int) = exprNodes(graft.operators.TextOps.bpeApplyCorpus(docs, merges(n)))
    def wp(n: Int) = exprNodes(graft.operators.TextOps.wordpieceApplyCorpus(
      docs, merges(n).map(m => (m._2, m._3))))
    assert(bpe(10) == bpe(30000))
    assert(wp(10) == wp(30000))
  }
}
