package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 stress tier: derive a 10×-sf0.1 corpus and check that the bucketed
  * dedup/ANN pipelines' candidate-pair counts grow LINEARLY with corpus
  * size — the first empirical test of the quadratic-blowup guards beyond
  * fixture scale.
  *
  * Scaling recipe (`gen`): union `replicas` copies of the sf0.1
  * `documents`/`embeddings` tables with disjoint id ranges. Replica 0 is
  * the original; replica k > 0 is perturbed so that NO cross-replica
  * near-duplicate structure is introduced — each replica then contributes
  * an isomorphic copy of sf0.1's planted duplicate clusters, and a
  * correctly-bucketed pipeline must show ~`replicas`× the candidates and
  * pairs (a quadratic candidate generator would show ~`replicas`²×):
  *  - documents: every whitespace token gets a replica-specific suffix —
  *    a vocabulary bijection, so within-replica shingle-set relations
  *    (hence Jaccard values) are EXACTLY sf0.1's, while cross-replica
  *    shingle sets are disjoint (Jaccard 0).
  *  - embeddings: coordinates are circularly shifted by a
  *    replica-specific offset — an orthogonal transform, so
  *    within-replica cosines are EXACTLY sf0.1's, while cross-replica
  *    cosine falls to the vectors' (low) autocorrelation, far below the
  *    0.4 near-dup threshold.
  *
  * `cand <dir>` prints one JSON line of candidate-pair and verified-pair
  * counts for the MinHash-LSH, SimHash, PPJoin and SRP pipelines over
  * the tables in `<dir>` — run it at sf0.1 and at the generated sf1 and
  * compare (see NOTES_r8.md for the recorded table).
  */
object StressScale {

  /** Perturbed replica k of the documents table (k = 0 → identity). */
  private[graft] def documentReplica(docs: DataFrame, k: Int, idStride: Long): DataFrame = {
    val text =
      if (k == 0) col("text")
      else regexp_replace(col("text"), "(\\S+)", "$1" + s"r$k")
    docs.select(
      (col("doc_id") + lit(k * idStride)).as("doc_id"),
      text.as("text"), col("lang"), col("source"),
      length(text).cast("long").as("n_chars"))
  }

  /** Perturbed replica k of the embeddings table: circular coordinate
    * shift by 7k positions (orthogonal — within-replica cosines exact).
    */
  private[graft] def embeddingReplica(
      emb: DataFrame, k: Int, idStride: Long, dim: Int): DataFrame = {
    val shift = (7 * k) % dim
    val rotated =
      if (shift == 0) col("embedding")
      else concat(
        slice(col("embedding"), shift + 1, dim - shift),
        slice(col("embedding"), 1, shift))
    emb.select(
      (col("vec_id") + lit(k * idStride)).as("vec_id"),
      rotated.as("embedding"), col("label"))
  }

  /** Perturbed replica k of the events table: SAME time span, DISJOINT
    * user/event id ranges — the realistic 10× growth shape (more users in
    * the same month, not a longer month). Within-replica temporal
    * structure (sessions, funnels, as-of chains, hourly profiles) is
    * byte-identical to the fixture's, so per-user operators must scale
    * linearly in users, and time-bucketed aggregates keep their group
    * count while the per-group counts grow 10×.
    */
  private[graft] def eventsReplica(ev: DataFrame, k: Int, idStride: Long): DataFrame =
    // the SAME stride for user_id as for event_id: the disjointness
    // contract is `stride > max fixture id`, asserted once in [[gen]] —
    // a separate hardcoded user stride could silently collide on a
    // fixture with ≥ stride users
    ev.select(
      (col("event_id") + lit(k * idStride)).as("event_id"),
      col("ts"),
      (col("user_id") + lit(k * idStride)).as("user_id"),
      col("event_type"), col("value"), col("props"))

  private def gen(spark: SparkSession, srcDir: String, outDir: String, replicas: Int): Unit = {
    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    val docs = Tables.documents(spark, srcDir)
    val emb = Tables.embeddings(spark, srcDir)
    // id stride larger than any fixture id keeps replica ranges disjoint.
    // It must ALSO clear every insert-clone offset the catalog DML
    // queries apply to doc_id (+10^7 merge/changes/sql_dml, +2·10^7
    // sql_merge_cond/evolve, +9·10^7/+9.5·10^7 quarantine — at the old
    // 10^7 stride, replica k+1's originals collided with replica k's
    // clones → "updates must be key-unique" at sf1), while keeping every
    // derived id below the ~2^31 bound long-packing schemes put on ids:
    // 10^8 clears the largest offset and caps derived ids near 10^9.
    val stride = 100000000L
    (0 until replicas).map(documentReplica(docs, _, stride))
      .reduce(_.unionAll(_))
      .repartition(32).write.mode("overwrite")
      .parquet(out.resolve("documents.parquet").toString)
    (0 until replicas).map(embeddingReplica(emb, _, stride, dim = 64))
      .reduce(_.unionAll(_))
      .repartition(8).write.mode("overwrite")
      .parquet(out.resolve("embeddings.parquet").toString)
    val ev = Tables.events(spark, srcDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // replica disjointness holds only if the stride clears every id the
    // replicas offset — assert it against the fixture instead of trusting
    // the constant (one cheap aggregate, generation-time only)
    val evMax = ev.agg(max("event_id"), max("user_id")).head()
    require(evMax.getLong(0) < stride && evMax.getLong(1) < stride,
      s"events ids exceed replica stride $stride: $evMax")
    (0 until replicas).map(eventsReplica(ev, _, stride))
      .reduce(_.unionAll(_))
      .repartition(32).write.mode("overwrite")
      .parquet(out.resolve("events.parquet").toString)
    println(s"""{"gen":"$outDir","replicas":$replicas}""")
  }

  /** TPC-H-tier replicas: union `replicas` copies of sf `orders` +
    * `lineitem` with every entity key offset into a replica-disjoint
    * range. Within a replica every join relationship, date, price and
    * basket is byte-identical to the source — the realistic 10× growth
    * shape for the relational tier (more customers/orders/parts, same
    * per-entity structure). Cross-replica keys never join, so linear
    * operators must grow ~`replicas`× while anything accidentally
    * quadratic in a key's neighborhood shows `replicas`²×.
    */
  private def genTpch(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int): Unit = {
    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    // TPC-H keys feed the graph rows' shiftleft(key, 32) pair packing, so
    // replica keys must stay < 2^31: 10^7 keeps max keys ~9·10^7
    val stride = 10000000L
    def shift(df: DataFrame, keys: Seq[String], k: Int): DataFrame =
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * stride)))
    val orders = Tables.orders(spark, srcDir)
    val lineitem = Tables.lineitem(spark, srcDir)
    (0 until replicas).map(shift(orders, Seq("o_orderkey", "o_custkey"), _))
      .reduce(_.unionAll(_))
      .repartition(32).write.mode("overwrite")
      .parquet(out.resolve("orders.parquet").toString)
    (0 until replicas)
      .map(shift(lineitem, Seq("l_orderkey", "l_partkey", "l_suppkey"), _))
      .reduce(_.unionAll(_))
      .repartition(32).write.mode("overwrite")
      .parquet(out.resolve("lineitem.parquet").toString)
    println(s"""{"gentpch":"$outDir","replicas":$replicas}""")
  }

  /** Complete replica fixture for a FULL default-tier suite run (r16
    * verdict item 2): [[gen]]'s doc/embedding/events replicas plus the
    * whole TPC-H tier — fact tables AND their dimensions shifted by the
    * same key stride, so every within-replica join relationship survives
    * (a fact-only replication would orphan 1-1/n of the joins and read as
    * fake sub-linearity). `region`/`nation` are fixed-cardinality in
    * TPC-H and are copied as-is; dim nationkeys stay in range.
    */
  private def genAll(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int): Unit = {
    gen(spark, srcDir, outDir, replicas)
    genTpch(spark, srcDir, outDir, replicas)
    val out = java.nio.file.Paths.get(outDir)
    val stride = 10000000L // must equal genTpch's fact stride
    def rep(df: DataFrame, keys: Seq[String], parts: Int, name: String): Unit =
      (0 until replicas).map(k =>
        keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * stride))))
        .reduce(_.unionAll(_))
        .repartition(parts).write.mode("overwrite")
        .parquet(out.resolve(s"$name.parquet").toString)
    // customers: keys take the sparse replica stride (join consistency
    // with orders' o_custkey shift), but NAMES are regenerated from a
    // DENSE key (custkey + k·n_src) — `er_link_typos` blocks on a
    // segment window over the LAST 6 name digits, and byte-identical
    // replica names (or names regenerated from the sparse stride, which
    // only changes a high digit OUTSIDE the window) would collide every
    // replica into one block: the scaling run would then measure
    // ~replicas× planted candidates per dirty row, not the blocking join
    // (r17 verdict item 3; the r18 first attempt — a suffix tag past the
    // window — fixed the MATCHES but left the in-window candidate
    // collisions, measured 29.8 s solo at sf1). Dense name keys replay
    // exactly what a natural 10× TPC-H table does to the window: key
    // range grows 10×, per-block candidates stay ~1. Names stay the
    // fixed-length `Customer#%09d` shape (the lev<=1 ⟺ hamming<=1
    // completeness contract) and globally unique.
    val custSrc = Tables.customer(spark, srcDir)
    val nCust = custSrc.count()
    require(nCust * replicas < 1000000000L,
      s"dense name keys exceed 9 digits: $nCust x $replicas")
    (0 until replicas).map { k =>
      custSrc
        .withColumn("c_name", concat(lit("Customer#"),
          lpad((col("c_custkey") + lit(k * nCust)).cast("string"), 9, "0")))
        .withColumn("c_custkey", col("c_custkey") + lit(k * stride))
    }.reduce(_.unionAll(_))
      .repartition(4).write.mode("overwrite")
      .parquet(out.resolve("customer.parquet").toString)
    rep(Tables.supplier(spark, srcDir), Seq("s_suppkey"), 2, "supplier")
    rep(Tables.part(spark, srcDir), Seq("p_partkey"), 4, "part")
    Tables.region(spark, srcDir).repartition(1)
      .write.mode("overwrite").parquet(out.resolve("region.parquet").toString)
    Tables.nation(spark, srcDir).repartition(1)
      .write.mode("overwrite").parquet(out.resolve("nation.parquet").toString)
    println(s"""{"genall":"$outDir","replicas":$replicas}""")
  }

  private def cand(spark: SparkSession, dir: String): Unit = {
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val sh3 = graft.functions.TextFunctions.wordShingles(col("text"), 3)
    val toks = graft.functions.TextFunctions.distinctTokens(col("text"))
    val counts = Seq(
      "docs" -> docs.count(),
      "vecs" -> emb.count(),
      // LSH band-bucket candidates (the set minHashNearDupPairs verifies)
      // vs verified J>=0.8 pairs
      "minhash_candidates" ->
        Dedup.lshCandidatePairs(docs, "doc_id", sh3, 32, 2).count(),
      "minhash_pairs" ->
        Dedup.minHashNearDupPairs(docs, "doc_id", sh3, 0.8).count(),
      // SimHash block-bucket candidates (hamming cap 60 = no filter) vs <=3,
      // under the default (4,1) single-block keys AND the wide (6,3)
      // combination keys — same hamming ≤ 3 recall guarantee, ~2^13 smaller
      // birthday term (see Dedup.simHashNearDupPairs)
      "simhash_candidates" ->
        Dedup.simHashNearDupPairs(docs, "doc_id", toks, 60).count(),
      "simhash_pairs" ->
        Dedup.simHashNearDupPairs(docs, "doc_id", toks, 3).count(),
      "simhash_candidates_wide" ->
        Dedup.simHashNearDupPairs(docs, "doc_id", toks, 60, 6, 3).count(),
      "simhash_pairs_wide" ->
        Dedup.simHashNearDupPairs(docs, "doc_id", toks, 3, 6, 3).count(),
      // PPJoin survivors are already post-prune; exact verified J>=0.8
      "ppjoin_pairs" ->
        Dedup.prefixFilteredJaccardPairs(docs, "doc_id", sh3, 0.8).count(),
      // SRP verified pairs at the registered 0.4 threshold (low — admits
      // heavy-tail accidental pairs as the cross-pair count grows) and at
      // 0.9 (true near-dup regime: only planted duplicate structure)
      "srp_pairs_04" ->
        Similarity.srpNearDupPairs(emb, "vec_id", "embedding", 0.4, dim = 64).count(),
      "srp_pairs_09" ->
        Similarity.srpNearDupPairs(emb, "vec_id", "embedding", 0.9, dim = 64).count())
    println(counts.map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"dir":"$dir",""", ",", "}"))
  }

  /** SemDeDup scale probe: time + count `semanticNearDupPairs` at a given
    * k. The scale contract is k ∝ n (constant EXPECTED cluster size): with
    * fixed k a 10× corpus gives 10×-bigger clusters and ~100× intra-
    * cluster pairs (the quadratic null); scaling k with the corpus keeps
    * the per-cluster quadratic bounded. The registered `dedup_semantic`
    * keeps k=8 (the fixture-scale choice its fixed oracle SQL replays);
    * this mode is the empirical evidence for how a 100 TB caller sizes k.
    */
  private def sem(spark: SparkSession, dir: String, k: Int): Unit = {
    val emb = Tables.embeddings(spark, dir)
    val t0 = System.nanoTime()
    val pairs = Similarity
      .semanticNearDupPairs(emb, "vec_id", "embedding", k, 2, 0.4, fixedK = true).count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"dir":"$dir","k":$k,"sem_pairs":$pairs,"secs":$secs%.2f}""")
  }

  /** SimHash birthday-term probe, on a GENERATED stress corpus (ids of
    * replica k live in [k·stride, (k+1)·stride)): cross-replica docs are
    * unrelated by construction, so any cross-replica block-candidate is an
    * ACCIDENTAL (birthday) collision — the term that explodes as
    * ~keys·n²/2^keyBits at 10⁷+ docs. Reports total and cross-replica
    * candidate counts under the default (4,1) single-block keys vs the
    * wide (6,3) combination keys (same hamming ≤ 3 guarantee; see
    * Dedup.simHashNearDupPairs).
    */
  private def simx(spark: SparkSession, dir: String, stride: Long): Unit = {
    val docs = Tables.documents(spark, dir)
    val toks = graft.functions.TextFunctions.distinctTokens(col("text"))
    val stats = Seq((4, 1), (6, 3)).map { case (nb, kb) =>
      val cand = Dedup.simHashNearDupPairs(docs, "doc_id", toks, 60, nb, kb)
        .select(col("doc_a"), col("doc_b"),
          (floor(col("doc_a") / stride) =!= floor(col("doc_b") / stride)).as("x"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("x"), 1L).otherwise(0L)), lit(0L)).as("nx"))
        .collect()(0)
      (s"${nb}_$kb", cand.getLong(0), cand.getLong(1))
    }
    println(stats.map { case (tag, n, nx) =>
      s""""cand_$tag":$n,"cross_cand_$tag":$nx""" }
      .mkString(s"""{"dir":"$dir",""", ",", "}"))
  }

  /** Sketch-sizing probe: the empirical case for parametric Bloom/CMS
    * sizes. Builds the incremental-dedup bloom (existing-corpus 5-shingles,
    * probed by src0's) at the fixture default (2²⁰ bits) AND at bits ≈
    * 10·n, reporting false-positive rates — at the 10× stress corpus the
    * default saturates (FP → 1) while 10·n holds ~1%. Same for CMS: max
    * over-count at width 1024 vs 16384 against each width's own εN bound.
    * False negatives are asserted zero at every size (the structural
    * guarantee parameterization must not break).
    */
  private def sketch(spark: SparkSession, dir: String): Unit = {
    import graft.functions.{BloomMembership, CountMinSketch, TextFunctions}
    val docs = Tables.documents(spark, dir)
    def shingled(df: DataFrame) = df.select(
      explode(TextFunctions.wordShingles(col("text"), 5)).as("sh"))
    val ex = shingled(docs.filter(col("source") =!= "src0"))
      .distinct().localCheckpoint(true)
    val n = ex.count()
    val inc = shingled(docs.filter(col("source") === "src0")).distinct()
      .join(ex.withColumn("seen", lit(true)), Seq("sh"), "left")
      .select(col("sh"), coalesce(col("seen"), lit(false)).as("seen"))
      .localCheckpoint(true)
    // Int-bounded by the array-backed Aggregator (≤ 2³¹ bits = 256 MiB —
    // past that a single bloom is the wrong tool; shard per partition
    // range). Fail fast rather than silently wrapping to a tiny filter.
    val bits10 = ((10L * n + 63) / 64) * 64
    require(bits10 <= Int.MaxValue,
      s"10·n = $bits10 bits exceeds a single bloom's Int range — shard the filter")
    val scaledBits = bits10.toInt
    val bloomStats = Seq(BloomMembership.Bits, scaledBits).map { bits =>
      val bloom = ex.agg(
        BloomMembership.bloomAgg(BloomMembership.bitIndexes(col("sh"), bits), bits).as("bf"))
      val r = inc.crossJoin(broadcast(bloom))
        .select(col("seen"),
          BloomMembership.mightContain(col("bf"), col("sh"), bits).as("claimed"))
        .agg(
          sum(when(!col("seen") && col("claimed"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("seen"), 1L).otherwise(0L)).as("absent"),
          sum(when(col("seen") && !col("claimed"), 1L).otherwise(0L)).as("fn"))
        .collect()(0)
      require(r.getLong(2) == 0L, s"bloom false negatives at bits=$bits")
      (bits, r.getLong(0).toDouble / math.max(r.getLong(1), 1L))
    }
    val toks = docs.select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .localCheckpoint(true)
    val totalN = toks.count()
    val cmsStats = Seq(CountMinSketch.Width, 16384).map { width =>
      val sk = toks.agg(CountMinSketch.sketchAgg(
        CountMinSketch.buckets(col("token"), width = width), width = width).as("cms"))
      val over = toks.groupBy("token").agg(count(lit(1)).as("nn"))
        .crossJoin(broadcast(sk))
        .select((CountMinSketch.estimate(col("cms"), col("token"), width = width)
          - col("nn")).as("over"))
        .agg(max("over")).collect()(0).getLong(0)
      (width, over, math.ceil(math.E / width * totalN).toLong)
    }
    println((
      Seq(s""""dir":"$dir"""", s""""distinct_shingles":$n""", s""""tokens":$totalN""") ++
        bloomStats.map { case (b, fp) => f""""bloom_fp_bits_$b":$fp%.6f""" } ++
        cmsStats.map { case (w, o, eN) => s""""cms_over_w$w":$o,"cms_epsN_w$w":$eN""" })
      .mkString("{", ",", "}"))
  }

  /** COW DML scaling probe: a FIXED mutation (replica 0 keeps the original
    * ids, so `doc_id < 1000` matches the same rows at every corpus scale)
    * against a warehouse built from `<dir>`. Times the file-granular
    * [[graft.sources.Catalog.deleteRows]] against the naive manifest-less
    * alternative (rewrite the ENTIRE table minus matches), plus a
    * fixed-size [[graft.sources.Catalog.merge]]. At 10× corpus the
    * granular paths' rewrite term stays constant — only the linear
    * manifest/predicate scan grows — while the naive rewrite grows with
    * the table. One JSON line out.
    */
  private def dml(spark: SparkSession, dir: String): Unit = {
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    // range-cluster the insert on doc_id: file-granular DML can only skip
    // files when the predicate column is clustered (the reason table
    // formats pair COW DML with clustering/Z-order). A round-robin insert
    // is the degenerate case — every file contains matches and the
    // granular path degrades to the full rewrite plus a manifest pass.
    def freshTable(cat: graft.sources.Catalog, t: String): Unit = {
      cat.create(t, docs.schema, partitionBy = Some("lang"))
      cat.insert(t, docs.repartitionByRange(32, col("doc_id")))
    }
    val wh = java.nio.file.Files.createTempDirectory("graft_dml_").toString
    val cat = new graft.sources.Catalog(spark, wh)
    val cond = col("doc_id") < 1000 && col("doc_id") % 2 === 0
    freshTable(cat, "t_del")
    var t0 = System.nanoTime()
    val deleted = cat.deleteRows("t_del", cond)
    val granularSec = (System.nanoTime() - t0) / 1e9
    // naive manifest-less COW: rewrite every file without the matches
    freshTable(cat, "t_naive")
    val naiveOut = java.nio.file.Paths.get(wh, "naive_rewrite").toString
    t0 = System.nanoTime()
    cat.table("t_naive").filter(!coalesce(cond, lit(false)))
      .repartition(32).write.partitionBy("lang").parquet(naiveOut)
    val naiveSec = (System.nanoTime() - t0) / 1e9
    // fixed-size upsert: 500 replica-0 rows touched regardless of scale
    freshTable(cat, "t_merge")
    val upd = docs.filter(col("doc_id") < 500)
      .withColumn("source", lit("upd"))
    t0 = System.nanoTime()
    val (matched, inserted) = cat.merge("t_merge", upd, "doc_id")
    val mergeSec = (System.nanoTime() - t0) / 1e9
    println(
      f"""{"dir":"$dir","n_docs":$n,"deleted":$deleted,""" +
        f""""delete_granular_sec":$granularSec%.3f,"delete_fullrw_sec":$naiveSec%.3f,""" +
        f""""merge_matched":$matched,"merge_inserted":$inserted,"merge_sec":$mergeSec%.3f}""")
  }

  /** Streaming STATE-BOUND probe: replay the fixture's event month one
    * DAY per micro-batch (30 batches; mtime-ordered single-file feed,
    * `maxFilesPerTrigger=1` — the stream_upsert_merge replay discipline)
    * through the sliding-window aggregation (2 h / 30 min), identically
    * except for output mode:
    *
    *  - Complete mode retains every (type, window) group for re-emission:
    *    state grows LINEARLY with stream age — fine for a bounded replay,
    *    fatal for a forever-stream.
    *  - Update mode + 1 h watermark evicts each window once the watermark
    *    passes its end: state holds only the open tail, CONSTANT per
    *    batch regardless of stream age.
    *
    * This is the measured form of the claim in
    * `StreamingOps.slidingCountsStreaming`'s NOTE: the registered bounded
    * replays may use Complete for batch-equivalent materialization, but
    * the deployment shape at 100 TB/day is Update/Append, where the
    * watermark makes state O(open windows), not O(stream age). Prints one
    * JSON line with the per-batch `numRowsTotal` series for both modes.
    */
  private def stream(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamingOps
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "value", "ts_ns")
    val dayOf = expr("ts_ns div 86400000000000")
    val days = ev.select(dayOf.as("day"))
      .distinct().orderBy("day").collect().map(_.getLong(0)) // ≤31 values
    // the feed outlives both replays: one temp tree, deleted on every exit
    val work = java.nio.file.Files.createTempDirectory("graft_stream_state_")
    try {
      // one file per calendar day, replayed in event-time order
      val feed = StreamingOps.orderedFeed(work, ev.schema,
        days.toSeq.map(d => ev.filter(dayOf === d)))
      def run(mode: OutputMode, watermark: Boolean): (Int, Seq[Long]) =
        StreamingOps.drive(spark, "stream_state") { (session, _) =>
          val src0 = feed.stream(session)
            .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
          val src = if (watermark) src0.withWatermark("ts", "1 hour") else src0
          val counts = src
            .groupBy(col("event_type"), window(col("ts"), "2 hours", "30 minutes"))
            .agg(count(lit(1)).as("n"))
          StreamingOps.Replay(counts, mode,
            (df, _) => df.write.format("noop").mode("overwrite").save(),
            q => {
              val state = q.recentProgress.toSeq
                .filter(_.stateOperators.nonEmpty)
                .map(_.stateOperators(0).numRowsTotal)
              (state.size, state)
            })
        }
      val (nBatchC, stateC) = run(OutputMode.Complete(), watermark = false)
      val (nBatchU, stateU) = run(OutputMode.Update(), watermark = true)
      println(
        s"""{"dir":"$dir","days":${days.length},""" +
          s""""complete_batches":$nBatchC,"complete_state_rows":[${stateC.mkString(",")}],""" +
          s""""update_batches":$nBatchU,"update_state_rows":[${stateU.mkString(",")}]}""")
    } finally graft.LocalFiles.deleteRecursively(work)
  }

  /** OCC contention stress: `writers` real threads each commit `rounds`
    * blind appends to ONE table — writers × rounds committed versions,
    * every slot raced by up to `writers` stagers. Asserts the log came
    * out linear (1..writers·rounds, the serializability witness) and the
    * final content equals the serial union, then prints one JSON line
    * with wall time and commit throughput. The registered
    * `catalog_concurrent_commit` row races 4×1; this is the
    * more-writers × more-versions tier the r15 verdict asked for.
    */
  def occ(spark: SparkSession, dir: String, writers: Int, rounds: Int): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("graft_occ_").toString
    val cat = new graft.sources.Catalog(spark, wh)
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "lang", "n_chars").cache()
    val total = docs.count() // materialize once; writers slice it
    val slices = writers * rounds
    cat.create("occ_stress", docs.schema)
    val t0 = System.nanoTime()
    val threads = (0 until writers).map { w =>
      new Thread(() =>
        (0 until rounds).foreach { r =>
          val k = w * rounds + r
          cat.insert("occ_stress", docs.filter(col("doc_id") % slices === k))
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val log = cat.versions("occ_stress")
    require(log == (1 to slices),
      s"OCC log must be linear 1..$slices, got ${log.take(8)}...")
    val landed = cat.table("occ_stress").count()
    require(landed == total, s"content: $landed of $total rows landed")
    docs.unpersist()
    println(f"""{"mode":"occ","writers":$writers,"rounds":$rounds,""" +
      f""""versions":$slices,"rows":$landed,"wall_sec":$wall%.2f,""" +
      f""""commits_per_sec":${slices / wall}%.2f}""")
  }

  /** WordPiece training at a LARGER vocab than the registered row
    * (topN=150 × 6 rounds): times `wordpieceTrain(topN, rounds)` over the
    * corpus in `dir` and prints one JSON line. Run at sf0.1 and at a
    * `gen`-scaled 10× dir to read the corpus-growth factor; raise topN /
    * rounds for the vocab-growth factor (per-round work is vocab-sized
    * windows — corpus is scanned once into the word table).
    */
  def wp(spark: SparkSession, dir: String, topN: Int, rounds: Int): Unit = {
    val t0 = System.nanoTime()
    val (merges, _) = graft.operators.TextOps.wordpieceTrain(
      Tables.documents(spark, dir), topN = topN, rounds = rounds)
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"""{"mode":"wp","topN":$topN,"rounds":$rounds,""" +
      f""""merges":${merges.size},"wall_sec":$wall%.2f}""")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    args.toList match {
      case "gen" :: src :: out :: n :: Nil => gen(spark, src, out, n.toInt)
      case "gentpch" :: src :: out :: n :: Nil => genTpch(spark, src, out, n.toInt)
      case "genall" :: src :: out :: n :: Nil => genAll(spark, src, out, n.toInt)
      case "cand" :: dir :: Nil => cand(spark, dir)
      case "sem" :: dir :: k :: Nil => sem(spark, dir, k.toInt)
      case "sketch" :: dir :: Nil => sketch(spark, dir)
      case "simx" :: dir :: stride :: Nil => simx(spark, dir, stride.toLong)
      case "dml" :: dir :: Nil => dml(spark, dir)
      case "stream" :: dir :: Nil => stream(spark, dir)
      case "occ" :: dir :: w :: r :: Nil => occ(spark, dir, w.toInt, r.toInt)
      case "wp" :: dir :: t :: r :: Nil => wp(spark, dir, t.toInt, r.toInt)
      case other => sys.error(
        s"usage: gen <srcSfDir> <outDir> <replicas> | cand <dir> | sem <dir> <k> " +
          s"| sketch <dir> | simx <dir> <stride> | dml <dir> | stream <dir> " +
          s"| occ <dir> <writers> <rounds> | wp <dir> <topN> <rounds>; got $other")
    }
    spark.stop()
  }
}
