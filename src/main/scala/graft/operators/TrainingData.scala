package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-set assembly operators (SURVEY.md §2.9 extension): the steps
  * between "near-dup pairs found" and "training corpus shipped" —
  * duplicate-cluster resolution (connected components + keep-one),
  * deterministic train/test splitting, and stratified sampling.
  *
  * Scale design:
  *  - components: iterative min-label propagation over the (sparse) dup
  *    edge set — O(component diameter) joins, each a key-partitioned
  *    shuffle of the EDGE table only (never the corpus). Dup graphs in
  *    practice are unions of tiny cliques (diameter ≤ ~3), so convergence
  *    is a handful of rounds; an adversarially long chain makes
  *    [[connectedComponents]] escalate to large-star/small-star on its own
  *    (same join shape, O(log n) rounds). Each round localCheckpoints the
  *    label table — mandatory in iterative Spark, otherwise the lineage
  *    (and thus the plan) doubles per round; on a cluster this would be a
  *    reliable checkpoint.
  *  - split/sample: pure per-row codegen'd hash expressions (md5-derived,
  *    engine-portable) — no shuffle for the split; the samples, mixtures
  *    and packers keep every window bounded to a hash bucket or shard
  *    ([[BoundedWindows]]), so no stratum or source is sorted in one task.
  *    Hash-of-id splitting is the standard trick that keeps assignment
  *    stable under corpus growth: a document's split never depends on
  *    what else is in the corpus.
  */
object TrainingData {

  /** Hash buckets of the bounded two-level windows of the samples and
    * mixtures. A mixture admits documents in (h % HashBuckets, h, id)
    * order, so for the mixtures the count is part of the output (their
    * oracles order by it too); for the samples it only bounds the window.
    */
  private val HashBuckets = 4096

  /** Unconverged min-label rounds after which [[connectedComponents]]
    * switches to large-star/small-star.
    */
  private val EscalateAfter = 8

  /** Rounds the components functions run before giving up unconverged. */
  private val MaxRounds = 20

  /** Hash buckets of [[dsirImportance]]'s unigram features. */
  private val DsirBuckets = 256

  /** Connected components of an undirected edge list: (node, component)
    * where component = min node id reachable. Nodes = every endpoint.
    *
    * Adaptive: starts with min-label propagation — O(diameter) rounds,
    * ONE join+groupBy per round, the cheapest shape for dup graphs, which
    * are unions of tiny cliques (diameter ≤ ~3) — and if the graph turns
    * out adversarially DEEP (a long near-dup chain with transitive
    * drift), ESCALATES after [[EscalateAfter]] unconverged rounds to
    * [[connectedComponentsStar]]'s O(log n) large-star/small-star
    * contraction (~2× the per-round cost) instead of failing or paying a
    * round per chain link. Property-tested equal on chain/clique/random
    * graphs; the escalation path is pinned by a planted length-1000
    * chain in TrainingDataSpec.
    */
  def connectedComponents(edges: DataFrame, a: String, b: String): DataFrame =
    minLabelBounded(edges, a, b, EscalateAfter)
      .getOrElse(connectedComponentsStar(edges, a, b))

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): each round
    * rewires every node's neighbors to the minimum of its closed
    * neighborhood, which contracts chains in O(log n) rounds — where
    * min-label propagation needs O(diameter). Both shuffle only the edge
    * table; pick this one when the dup graph can get deep (a 64-node
    * chain converges in 3 star rounds vs 63 label rounds).
    */
  def connectedComponentsStar(
      edges: DataFrame, a: String, b: String, maxIter: Int = MaxRounds): DataFrame = {
    val nodes = edges.select(col(a).as("node"))
      .union(edges.select(col(b).as("node"))).distinct().transform(graft.Tables.pin)
    def canonical(e: DataFrame): DataFrame = e
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    // O(1)-result convergence probe: (count, Σ xxhash64(src,dst)) — the
    // star rounds don't shrink monotonically like label sums, so we detect
    // the fixpoint by edge-set checksum (collision odds ~2⁻⁶⁴ per round;
    // the oracle-checked output and property tests back this up). Observed
    // during each round's own checkpoint job — one job per round.
    val probeMetrics = Seq(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("chk"))
    def probeOf(r: org.apache.spark.sql.Row): (Long, java.math.BigDecimal) =
      (r.getLong(0), r.getDecimal(1))
    var (e0, m0) = checkpointObserving(
      canonical(edges.select(col(a).as("src"), col(b).as("dst"))),
      "ccs_round_0", probeMetrics)
    var e = coalesceToEdges(e0, probeOf(m0)._1)
    def largeStar(cur: DataFrame): DataFrame = {
      val bidir = cur.union(cur.select(col("dst").as("src"), col("src").as("dst")))
      val mins = bidir.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      canonical(bidir.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")))
    }
    def smallStar(cur: DataFrame): DataFrame = {
      // canonical edges already point big→small when read as (dst, src)
      val d = cur.select(col("dst").as("u"), col("src").as("v"))
      val mins = d.groupBy("u").agg(min("v").as("m"))
      canonical(
        d.join(mins, "u").select(col("v").as("src"), col("m").as("dst"))
          .union(mins.select(col("u").as("src"), col("m").as("dst"))))
    }
    var prev = probeOf(m0)
    var converged = prev._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      val (next, m) = checkpointObserving(
        smallStar(largeStar(e)), s"ccs_round_${i + 1}", probeMetrics)
      e = next
      val p = probeOf(m)
      converged = p == prev
      prev = p
      i += 1
    }
    require(converged, s"connectedComponentsStar did not converge in $maxIter rounds")
    // fixpoint = disjoint stars rooted at each component's min id
    nodes.join(e.select(col("dst").as("node"), col("src").as("root")), Seq("node"), "left")
      .groupBy("node").agg(min("root").as("root"))
      .select(col("node"), coalesce(col("root"), col("node")).as("component"))
  }

  /** Observed-metric value piggybacked on an eager localCheckpoint: the
    * aggregate rides the SAME job that materializes the checkpoint blocks
    * (Dataset.observe plants a CollectMetrics node whose accumulator the
    * checkpoint's materialization populates) — so each iteration round is
    * ONE Spark job, not a materialize job plus a probe job. Returns the
    * checkpointed frame and the observed row.
    */
  private def checkpointObserving(
      df: DataFrame, name: String, metrics: Seq[Column]): (DataFrame, org.apache.spark.sql.Row) = {
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val cp = observed.transform(graft.Tables.pin)
    (cp, observed.queryExecution.observedMetrics(name))
  }

  /** `edges` coalesced to its EDGE count, not the session default — a dup
    * graph is far smaller than its corpus, and per-round fixed task
    * overhead dominates when 32 shuffle tasks carry 50 edges (~1M edges
    * per partition; billions of edges at 100 TB keep the session's full
    * parallelism). coalesce is narrow (a lazy view over the checkpointed
    * blocks): no extra shuffle or job.
    */
  private def coalesceToEdges(edges: DataFrame, n: Long): DataFrame =
    edges.coalesce(math.max(1, math.min(edges.rdd.getNumPartitions,
      (n / 1000000L).toInt + 1)))

  /** Min-label propagation formulation (O(diameter) rounds, ONE job each);
    * throws when `maxIter` rounds don't reach the fixpoint.
    */
  private[graft] def connectedComponentsMinLabel(
      edges: DataFrame, a: String, b: String, maxIter: Int = MaxRounds): DataFrame = {
    val r = minLabelBounded(edges, a, b, maxIter)
    require(r.isDefined, s"connectedComponents did not converge in $maxIter rounds")
    r.get
  }

  /** [[connectedComponentsMinLabel]] that reports non-convergence as None
    * instead of throwing — the probe the adaptive [[connectedComponents]]
    * escalates on.
    */
  private def minLabelBounded(
      edges: DataFrame, a: String, b: String, maxIter: Int): Option[DataFrame] = {
    // one materialization job also yields the edge count for partition
    // sizing (observe piggyback — no separate count() job)
    val (adj0, adjMeta) = checkpointObserving(
      edges.select(col(a).as("src"), col(b).as("dst"))
        .union(edges.select(col(b).as("src"), col(a).as("dst"))),
      "cc_edges", Seq(count(lit(1)).as("n")))
    val adj = coalesceToEdges(adj0, adjMeta.getLong(0))
    // labels only ever decrease, so sum(labels) strictly decreases until
    // the fixpoint — an O(1)-result convergence probe observed DURING each
    // round's own checkpoint job (decimal: overflow-proof at any node count)
    def labelSum(m: org.apache.spark.sql.Row): java.math.BigDecimal = m.getDecimal(0)
    val sumMetric = Seq(coalesce(
      sum(col("label").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("s"))
    var (labels, m0) = checkpointObserving(
      adj.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")),
      "cc_round_0", sumMetric)
    var prevSum = labelSum(m0)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = adj.join(labels, adj("dst") === labels("node"))
        .groupBy(adj("src").as("nb_node")).agg(min("label").as("nb_label"))
      val (updated, m) = checkpointObserving(
        labels.join(neighborMin, labels("node") === neighborMin("nb_node"), "left")
          .select(labels("node"),
            least(labels("label"), coalesce(col("nb_label"), labels("label"))).as("label")),
        s"cc_round_${i + 1}", sumMetric)
      labels = updated
      val s = labelSum(m)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      i += 1
    }
    if (!converged) None
    else Some(labels.select(col("node"), col("label").as("component")))
  }

  /** Duplicate-cluster table over near-dup pairs: every doc that appears
    * in a pair, its component id (min doc id in the cluster), cluster
    * size, and whether it is the cluster's keeper.
    */
  def dupClusters(pairs: DataFrame, a: String, b: String): DataFrame =
    clustersOf(connectedComponents(pairs, a, b))

  /** [[dupClusters]]' table over a (node, component) table from either
    * components formulation.
    */
  private def clustersOf(components: DataFrame): DataFrame = {
    val w = Window.partitionBy("component")
    components
      .select(col("node").as("doc_id"), col("component"),
        count(lit(1)).over(w).as("n_members"))
      .withColumn("is_keeper", col("doc_id") === col("component"))
  }

  /** Quality-aware duplicate-cluster resolution: resolve near-dup pairs
    * into clusters and keep the HIGHEST-QUALITY member of each (ties by
    * smaller id), instead of [[dupClusters]]' min-id keeper — the
    * representative-selection policy production dedup pipelines actually
    * ship (keep the longest / best-scored copy, drop the rest). Output is
    * one row per CORPUS document: (id, component, n_members, is_kept),
    * with singletons (docs in no pair) as their own kept component.
    *
    * Scale shape: the ranking window runs ONLY over cluster members —
    * a table bounded by the dup-pair endpoint count, typically a small
    * fraction of the corpus — while singletons take a linear left-anti
    * hash join with no window. Never sorts or windows the full corpus.
    */
  def keepBestPerCluster(
      docs: DataFrame, id: String, quality: Column,
      pairs: DataFrame, a: String, b: String): DataFrame = {
    val comp = connectedComponents(pairs, a, b).withColumnRenamed("node", id)
    val members = docs.select(col(id), quality.as("__q")).join(comp, Seq(id))
    val w = Window.partitionBy("component")
    val rk = Window.partitionBy("component").orderBy(col("__q").desc, col(id))
    val clustered = members.select(
      col(id), col("component"),
      count(lit(1)).over(w).as("n_members"),
      (row_number().over(rk) === 1).as("is_kept"))
    val singletons = docs.select(col(id))
      .join(comp.select(id), Seq(id), "left_anti")
      .select(col(id), col(id).as("component"),
        lit(1L).as("n_members"), lit(true).as("is_kept"))
    clustered.unionByName(singletons)
  }

  /** Benchmark decontamination: flag training documents sharing any word
    * n-gram with a benchmark/eval set — the standard pre-training
    * contamination check (the reason eval numbers stay meaningful). Grams
    * are 60-bit-hashed so the join key is 8 bytes, and the benchmark gram
    * set is broadcast: eval suites are tiny next to a 100 TB corpus, so
    * the check is one linear scan of the training side, no shuffle of it.
    */
  def decontaminate(
      docs: DataFrame, benchmark: DataFrame, id: String, text: Column,
      n: Int): DataFrame = {
    // per-doc grams are distinct, so each hit row is one shared gram
    flagMatched(docs, id,
      grams(docs, id, text, n).join(broadcast(benchGrams(benchmark, id, text, n)), "h"),
      id, "n_hits")
  }

  /** Graded form of [[decontaminate]]: per-document contamination REPORT —
    * distinct n-gram count, benchmark-overlapping gram count, and the
    * overlap fraction quantized to integer micros — rather than a boolean
    * flag. This is the threshold-tuning artifact: pipelines pick the
    * "contaminated" cutoff from this distribution (e.g. PaLM's ≥70%
    * 8-gram overlap rule), and auditors report it per eval suite.
    * Same cost shape as [[decontaminate]]: broadcast benchmark gram set,
    * one linear scan + per-doc partial agg of the training side.
    */
  def contaminationOverlap(
      docs: DataFrame, benchmark: DataFrame, id: String, text: Column,
      n: Int): DataFrame = {
    val per = grams(docs, id, text, n)
      .join(broadcast(benchGrams(benchmark, id, text, n).withColumn("__hit", lit(1L))),
        Seq("h"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
    docs.select(col(id))
      .join(per, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        floor(when(coalesce(col("n_grams"), lit(0L)) > 0,
          coalesce(col("n_hits"), lit(0L)) * lit(1000000.0) / col("n_grams"))
          .otherwise(lit(0.0)) + lit(0.5)).cast("long").as("overlap_micros"))
  }

  /** (id, h): one row per distinct word `n`-gram of each document, `h` its
    * 60-bit hash.
    */
  private def grams(df: DataFrame, id: String, text: Column, n: Int): DataFrame =
    df.select(col(id), explode(TextFunctions.wordShingles(text, n)).as("g"))
      .select(col(id), TextFunctions.tokenHash60(col("g")).as("h"))

  /** The benchmark's distinct gram hashes (h) — eval-suite-sized, so the
    * decontamination joins broadcast it.
    */
  private def benchGrams(benchmark: DataFrame, id: String, text: Column, n: Int): DataFrame =
    grams(benchmark, id, text, n).select("h").distinct()

  /** Semantic decontamination: flag training rows whose EMBEDDING is
    * near-identical (cosine ≥ `threshold`) to any benchmark embedding —
    * the representation-space member of the decontamination family
    * ([[decontaminate]] = exact n-grams, [[decontaminateFuzzy]] = shingle
    * Jaccard), catching reworded eval material that shares meaning but
    * few surface n-grams. Candidates come from
    * [[Similarity.srpCrossPairs]]'s broadcast SRP block join, so the
    * training corpus is scanned once and never shuffled or self-joined.
    */
  def decontaminateSemantic(
      docs: DataFrame, benchmark: DataFrame, id: String, vec: String,
      threshold: Double, dim: Int, bits: Int = 32): DataFrame =
    flagMatched(docs, id,
      Similarity.srpCrossPairs(docs, id, benchmark, id, vec, threshold, dim, bits), "train_id",
      "n_matches")

  /** Fuzzy decontamination: flag training documents whose shingle-set
    * Jaccard against ANY benchmark document reaches `threshold` — the
    * near-duplicate form of [[decontaminate]], catching lightly
    * paraphrased eval material that exact n-gram overlap misses.
    * Candidates come from the two-sided MinHash band join
    * ([[Dedup.minHashCrossPairs]]), so the training corpus is scanned
    * once and never crossed against the benchmark.
    */
  def decontaminateFuzzy(
      docs: DataFrame, benchmark: DataFrame, id: String, shingles: Column,
      threshold: Double): DataFrame =
    flagMatched(docs, id,
      Dedup.minHashCrossPairs(docs, id, shingles, benchmark, id, shingles, threshold), "doc_a",
      "n_matches")

  /** The decontamination flag tail: every training doc with its count of
    * benchmark matches `counted` (`matches` rows whose `trainCol` is the
    * doc's id) and whether it has any.
    */
  private def flagMatched(
      docs: DataFrame, id: String, matches: DataFrame, trainCol: String,
      counted: String): DataFrame = {
    val perDoc = matches.groupBy(trainCol).agg(count(lit(1)).as(counted))
      .withColumnRenamed(trainCol, id)
    docs.select(col(id))
      .join(perDoc, Seq(id), "left")
      .select(col(id), coalesce(col(counted), lit(0L)).as(counted),
        (coalesce(col(counted), lit(0L)) > 0).as("contaminated"))
  }

  /** Deterministic hash split: 'train' for trainPct% of rows, 'test'
    * otherwise, keyed only on the row's id (stable under corpus growth,
    * identical across engines — md5-derived, not xxhash).
    */
  def hashSplit(id: Column, trainPct: Int): Column =
    when(pmod(TextFunctions.tokenHash60(id.cast("string")), lit(100)) < trainPct,
      lit("train")).otherwise(lit("test"))

  /** Deterministic k-fold assignment — the cross-validation
    * generalization of [[hashSplit]]: fold = md5-derived hash of the id
    * mod k, so folds are stable under corpus growth (a document never
    * changes fold when new data arrives) and engine-replayable. The
    * "fold:" domain tag keeps the draw independent of hashSplit's. */
  def kFold(id: Column, k: Int): Column =
    pmod(TextFunctions.tokenHash60(concat(lit("fold:"), id.cast("string"))),
      lit(k))

  /** Deterministic stratified sample: `k` rows per stratum, chosen by
    * hash order (uniform-at-random for a fixed corpus, reproducible
    * everywhere).
    *
    * Scale shape: a naive per-stratum `row_number` sorts the whole
    * stratum in one task. Since the stratum top-k is contained in the
    * union of per-hash-bucket top-k's, the sample is computed as
    * per-(stratum, bucket) top-k (bounded windows) followed by top-k
    * over the ≤ k·[[HashBuckets]] survivors per stratum — the final
    * window's input is sample-sized, not corpus-sized. Row numbers of the
    * kept rows are identical to the naive formulation's.
    */
  def stratifiedSample(df: DataFrame, stratum: String, id: String, k: Int): DataFrame =
    BoundedWindows.topK(
      df.withColumn("__h", TextFunctions.tokenHash60(col(id).cast("string"))),
      stratum, pmod(col("__h"), lit(HashBuckets)), Seq(col("__h"), col(id)), k)
      .drop("__h")

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis, IPL 2006): each row gets key ln(u)/w for a uniform u and
    * weight w > 0, and the top-k keys per group are a weighted sample —
    * heavier rows get keys closer to 0, so inclusion probability is
    * proportional to weight. u is md5-derived from the id (deterministic,
    * engine-portable; ln is bit-identical cross-engine), so the "random"
    * sample is replayable and oracle-checkable. Same bounded-window
    * decomposition as [[stratifiedSample]]: per-(group, hash-bucket)
    * top-k, then top-k over the ≤ k·[[HashBuckets]] survivors — no
    * corpus-sized sort task anywhere.
    *
    * Weights must be > 0 and is enforced per row: w = 0 would silently
    * exclude the row (key −∞) and w < 0 would INVERT inclusion
    * probability (ln(u)/w flips sign and those rows sort first) — both
    * silent-bias modes, so misuse fails the job loudly instead.
    */
  def weightedSample(
      df: DataFrame, group: String, id: String, weight: Column, k: Int): DataFrame = {
    val u = (TextFunctions.tokenHash60(concat(lit("ws:"), col(id).cast("string")))
      % 1000003L + 1L).cast("double") / 1000004.0
    val checked = when(weight > 0, weight).otherwise(raise_error(concat(
      lit("weightedSample: weight must be > 0, got "), weight.cast("string"),
      lit(" at "), lit(id), lit("="), col(id).cast("string"))))
    BoundedWindows.topK(
      df.withColumn("__k", log(u) / checked), group,
      pmod(TextFunctions.tokenHash60(col(id).cast("string")), lit(HashBuckets)),
      Seq(col("__k").desc, col(id)), k)
      .drop("__k")
  }

  /** Context-window chunking: split each document's token stream into
    * `chunkSize`-token windows starting every `stride` tokens (overlap =
    * chunkSize − stride) — how long documents become model-context-sized
    * training sequences while preserving continuity across window edges.
    * Tail chunks may be short; every token is covered. Pure per-row
    * explode, no shuffle at all until a consumer aggregates. Each chunk
    * carries the 60-bit hash of its text, so chunk-level dedup /
    * provenance joins ride an 8-byte key instead of the chunk body.
    * Output: (id, chunk_idx, n_tokens, chunk_hash).
    */
  def chunkDocuments(
      docs: DataFrame, id: String, text: Column,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    docs.select(col(id), TextFunctions.tokens(text).as("__toks"))
      .select(col(id), col("__toks"),
        posexplode(sequence(lit(1), greatest(size(col("__toks")), lit(1)), lit(stride)))
          .as(Seq("chunk_idx", "__start")))
      .select(col(id), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("__toks"), col("__start"), lit(chunkSize)).as("__ctoks"))
      .select(col(id), col("chunk_idx"),
        size(col("__ctoks")).cast("long").as("n_tokens"),
        TextFunctions.tokenHash60(array_join(col("__ctoks"), " ")).as("chunk_hash"))
  }

  /** (id, shard, __h, n_tok): each document's id hash, its hash shard and
    * its token count — the layout every packing and batching window is
    * bounded by.
    */
  private def shardLayout(df: DataFrame, id: String, tokens: Column, shards: Int): DataFrame = {
    val h = TextFunctions.tokenHash60(col(id).cast("string"))
    df.select(col(id), tokens.as("__toks"), h.as("__h"))
      .select(col(id), pmod(col("__h"), lit(shards)).as("shard"),
        col("__h"), size(col("__toks")).cast("long").as("n_tok"))
  }

  /** Deterministic sequence packing: assign each document a training-
    * sequence id such that consecutive documents (in stable hash order)
    * fill a fixed token budget — the batch-assembly step between a
    * filtered corpus and a trainer. `shards` bounds every window to a
    * hash shard (at 100 TB, raise shards so a shard's documents fit one
    * task; the global total-order window a naive cumsum needs does NOT
    * scale, which is why the shard key is part of the output identity).
    * A document belongs to the sequence its START offset falls in, so
    * every sequence except a shard's last holds ≥ budget tokens.
    * Output: (id, shard, n_tok, seq_id).
    */
  def packSequences(
      df: DataFrame, id: String, tokens: Column, budget: Int,
      shards: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("__h"), col(id))
    shardLayout(df, id, tokens, shards)
      .withColumn("seq_id",
        ((sum(col("n_tok")).over(w) - col("n_tok")) / lit(budget))
          .cast("long"))
      .drop("__h")
  }

  /** Concatenate-and-cut sequence packing (the GPT-pretraining shape):
    * within each shard, documents are laid out in deterministic hash
    * order as one token stream and cut into fixed `seqLen` sequences —
    * documents SPLIT at sequence boundaries, unlike [[packSequences]]
    * which assigns whole documents by start offset. Output is one row per
    * (document, sequence) span: `(id, shard, seq_id, tok_start, tok_end)`
    * with `[tok_start, tok_end)` the within-document token slice that
    * lands in that sequence — exactly what a data loader needs to
    * materialize packed training rows. Empty documents drop out.
    *
    * Scale shape: the layout cumsum is a SHARD-LOCAL window (the same
    * discipline as [[packSequences]]; a global cumsum would be one sort
    * task at 100 TB); the boundary explode adds at most
    * total_tokens / seqLen rows. Linear, shard-parallel.
    */
  def packConcatCut(
      df: DataFrame, id: String, tokens: Column, seqLen: Int,
      shards: Int): DataFrame = {
    require(seqLen >= 1 && shards >= 1,
      s"seqLen and shards must be >= 1, got $seqLen, $shards")
    val w = Window.partitionBy("shard").orderBy(col("__h"), col(id))
    shardLayout(df, id, tokens, shards)
      .filter(col("n_tok") > 0)
      .withColumn("__end", sum(col("n_tok")).over(w))
      .withColumn("__start", col("__end") - col("n_tok"))
      .select(col(id), col("shard"), col("__start"), col("__end"),
        explode(sequence(
          floor(col("__start") / lit(seqLen)).cast("long"),
          floor((col("__end") - 1) / lit(seqLen)).cast("long"))).as("seq_id"))
      .select(col(id), col("shard"), col("seq_id"),
        (greatest(col("seq_id") * seqLen, col("__start")) - col("__start"))
          .as("tok_start"),
        (least((col("seq_id") + 1) * seqLen, col("__end")) - col("__start"))
          .as("tok_end"))
  }

  /** Length-bucketed dynamic batching: documents land in power-of-two
    * token-length buckets (integer bit-length — no libm), each
    * (bucket, shard) orders deterministically by (n_tok, id) and cuts
    * batches of `batchSize` — the padding-minimizing layout a training
    * loader runs before padding each batch to its max length. Output is
    * one row per BATCH: `(bucket, shard, batch_id, n_docs, max_tok,
    * sum_tok, pad_waste_micros)` with the waste fraction
    * `(n·max − Σ)·10⁶ DIV (n·max)` in exact integer micros.
    *
    * Scale shape: the only window is (bucket, shard)-local — the
    * [[packSequences]] shard discipline; no global sort exists at any
    * size. The power-of-two buckets bound every batch's intra-batch
    * length spread by 2× structurally, and the within-bucket sort makes
    * observed waste near zero except at bucket-tail batches.
    */
  def batchByLength(df: DataFrame, id: String, tokens: Column,
      batchSize: Int, shards: Int): DataFrame = {
    require(batchSize >= 1 && shards >= 1,
      s"batchSize and shards must be >= 1, got $batchSize, $shards")
    val w = Window.partitionBy("bucket", "shard").orderBy(col("n_tok"), col(id))
    shardLayout(df, id, tokens, shards)
      .filter(col("n_tok") > 0)
      .select(col(id), col("n_tok"),
        expr("CAST(length(bin(n_tok)) - 1 AS BIGINT)").as("bucket"), col("shard"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("batch_id", expr(s"CAST((__rn - 1) DIV $batchSize AS BIGINT)"))
      .groupBy("bucket", "shard", "batch_id")
      .agg(count(lit(1)).as("n_docs"), max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).as("sum_tok"))
      .withColumn("pad_waste_micros",
        expr("(n_docs * max_tok - sum_tok) * 1000000 DIV (n_docs * max_tok)"))
  }

  /** Deterministic corpus-mixture sampling: keep, per source, documents
    * in stable hash order until the source's share of the total token
    * budget is filled (a document is admitted if its START offset is
    * inside the quota — so the mixture overshoots by at most one
    * document per source). The standard way a training corpus hits a
    * declared source mixture (web 60% / books 30% / ...) regardless of
    * how skewed the raw crawl is.
    *
    * Scale shape: the naive formulation is one window per source — but a
    * dominant source (60% of a 100 TB crawl) would make that a single
    * sort task. The cumulative sum over the per-source total order
    * (bucket, hash, id) with bucket = hash % [[HashBuckets]] decomposes
    * associatively, so it is computed as (a) per-(source, bucket) token
    * sums cumulated across buckets — a [[HashBuckets]]-row window per
    * source — plus (b) a within-bucket window bounded to ~1/[[HashBuckets]]
    * of the source ([[BoundedWindows.runningSum]]). No unbounded window
    * exists; the weight table is model-sized and broadcast.
    */
  def mixtureSample(
      df: DataFrame, source: String, id: String, tokens: Column,
      weights: Map[String, Double], totalTokenBudget: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val wtab = broadcast(
      weights.toSeq.toDF(source, "__w")
        .select(col(source), (col("__w") * totalTokenBudget).as("__quota")))
    admitByQuota(mixtureBase(df, source, id, tokens), source, id, wtab, col("__quota"))
      .select(col(id), col(source), col("n_tok"))
  }

  /** Temperature-weighted mixture (the multilingual-LM upsampling recipe
    * — mBERT/XLM-R draw languages ∝ nᵅ with α < 1 so tail sources are
    * over-represented relative to their raw share): per-source quotas
    * derive from the DATA (quotaᵢ ∝ √nᵢ at the α = 0.5 default) instead
    * of a declared weight table, then the same deterministic hash-ordered
    * prefix admission as [[mixtureSample]]. √ is the one power IEEE 754
    * guarantees correctly rounded, so the integer-micros quantization
    * `FLOOR(√n·1e6 + 0.5)` is cross-engine exact and the whole quota
    * arithmetic stays in BIGINT — hash-exact oracle replay. The size
    * table is source-cardinality (model-sized, broadcast); everything
    * else is [[mixtureSample]]'s bounded two-level cumsum.
    */
  def mixtureTemperatureSample(
      df: DataFrame, source: String, id: String, tokens: Column,
      totalTokenBudget: Long): DataFrame = {
    val sizes = df
      .select(col(source), size(tokens).cast("long").as("__nt"))
      .groupBy(source).agg(sum("__nt").as("__n"))
      .withColumn("__s",
        floor(sqrt(col("__n").cast("double")) * 1000000.0 + 0.5).cast("long"))
    val stot = sizes.agg(sum("__s").as("__stot"))
    val wtab = broadcast(sizes.crossJoin(broadcast(stot))
      .select(col(source),
        expr(s"__s * ${totalTokenBudget}L DIV __stot").as("__quota")))
    admitByQuota(mixtureBase(df, source, id, tokens), source, id, wtab, col("__quota"))
      .select(col(id), col(source), col("n_tok"),
        col("__quota").as("src_quota"))
  }

  /** (id, source, n_tok, __h, __b): each document's token count, id hash
    * and hash bucket — the mixtures admit a source's documents in
    * (__b, __h, id) order.
    */
  private def mixtureBase(
      df: DataFrame, source: String, id: String, tokens: Column): DataFrame = {
    val h = TextFunctions.tokenHash60(col(id).cast("string"))
    df.select(col(id), col(source), tokens.as("__toks"), h.as("__h"))
      .select(col(id), col(source), size(col("__toks")).cast("long").as("n_tok"),
        col("__h"), pmod(col("__h"), lit(HashBuckets)).as("__b"))
  }

  /** The shared admission core of the mixture samplers: keep, per source,
    * the [[mixtureBase]] rows whose START token offset is below `quota`, a
    * column of `quotas` (one row per source — model-sized, broadcast by
    * the callers). Carries the `quotas` columns through for callers that
    * publish them.
    */
  private def admitByQuota(
      base: DataFrame, source: String, id: String, quotas: DataFrame,
      quota: Column): DataFrame =
    BoundedWindows.runningSum(
      base, Seq(source), "__b", Seq(col("__h"), col(id)), "n_tok", "__end")
      .join(quotas, source)
      .filter(col("__end") - col("n_tok") < quota)

  /** Repetition-aware corpus mixture — the data-constrained-LM recipe
    * (Muennighoff et al., "Scaling Data-Constrained Language Models"):
    * each source's token quota is a REPETITION FACTOR × its available
    * tokens, so factors > 1 replicate the source for ⌊factor⌋ full epochs
    * and fill the fractional remainder with a deterministic hash-ordered
    * prefix (the same cumsum discipline as [[mixtureSample]]). Output is
    * one row per (doc, epoch): `(id, source, epoch, n_tok)`, epoch 0-based,
    * the partial epoch carrying index ⌊factor⌋.
    *
    * Scale shape: per-source totals are a 1-row-per-source aggregate
    * joined back as a broadcast; full epochs are a codegen'd
    * `explode(sequence(...))` — linear in OUTPUT size, no shuffle; the
    * partial epoch is [[mixtureSample]]'s admission with the fractional
    * remainder as the quota (bucket offsets window over ≤[[HashBuckets]]
    * rows per source, in-bucket window over one bucket's rows) — never a
    * corpus-wide total-order sort.
    */
  def mixtureWithEpochs(
      df: DataFrame, source: String, id: String, tokens: Column,
      repetition: Map[String, Double]): DataFrame = {
    require(repetition.values.forall(m => m >= 0 && !m.isNaN && !m.isInfinite),
      s"repetition factors must be finite and >= 0, got ${repetition.filterNot {
        case (_, m) => m >= 0 && !m.isNaN && !m.isInfinite
      }}")
    val spark = df.sparkSession
    import spark.implicits._
    val rtab = repetition.toSeq.toDF(source, "__mult")
    val base = mixtureBase(df, source, id, tokens)
    val totals = base.groupBy(source).agg(sum("n_tok").as("__tot"))
    // repetition factors restricted to exact binary fractions (quarters in
    // the registered query) keep __rem float-exact on both engines.
    // RIGHT join + raise_error: a source present in the data but missing
    // from the repetition map is a silent-data-loss trap for a governance
    // artifact (an inner join would drop it without a trace), so the job
    // itself fails loudly naming the source — validated inside the same
    // scan that builds the quotas, no extra validation pass.
    val quota = broadcast(rtab.join(totals, Seq(source), "right")
      .withColumn("__mult", when(col("__mult").isNull,
        raise_error(concat(
          lit("mixtureWithEpochs: source '"), col(source),
          lit("' is present in the data but has no repetition factor; " +
            "list every source (factor 0.0 excludes one explicitly)"))))
        .otherwise(col("__mult")))
      .select(col(source),
        floor(col("__mult")).cast("long").as("__full"),
        ((col("__mult") - floor(col("__mult"))) * col("__tot")).as("__rem")))
    val fullRows = base.join(quota, source)
      .filter(col("__full") > 0)
      .select(col(id), col(source), col("n_tok"),
        explode(sequence(lit(0L), col("__full") - 1)).as("epoch"))
    val partial = admitByQuota(base, source, id, quota, col("__rem"))
      .select(col(id), col(source), col("n_tok"), col("__full").as("epoch"))
    fullRows.unionByName(partial)
  }

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every corpus
    * document by how much more likely its hashed-unigram features are
    * under a TARGET domain's distribution than under the raw corpus
    * distribution — sum over tokens of
    * `ln(p_target(bucket)) − ln(p_raw(bucket))` with add-1 smoothing over
    * [[DsirBuckets]] hash buckets — and flag documents above the corpus-mean
    * score as selected. This is the domain-selection stage: given a small
    * high-quality target (e.g. one language / curated subset), rank the
    * whole corpus by target-likeness without training a classifier.
    *
    * Scale shape: ONE tokenize pass feeds both the bucket-count aggregate
    * (≤ [[DsirBuckets]] rows → the broadcast model) and the per-doc rescore
    * join; the selection threshold is a 1-row broadcast aggregate, never
    * a global sort. Per-token log terms come out of IEEE-identical `ln`
    * on integer-derived ratios and are summed with [[graft.Det.dsum]]'s
    * order-independent integer-micros contract, so scores are
    * engine-portable and partitioning-independent.
    */
  def dsirImportance(
      docs: DataFrame, isTarget: Column, id: String, text: Column): DataFrame = {
    val tok = docs
      .select(col(id), isTarget.as("__tgt"),
        explode(TextFunctions.tokens(text)).as("__t"))
      .select(col(id), col("__tgt"),
        pmod(TextFunctions.tokenHash60(col("__t")), lit(DsirBuckets.toLong)).as("__b"))
    val counts = tok.groupBy("__b").agg(
      count(lit(1)).as("__cr"),
      sum(when(col("__tgt"), lit(1L)).otherwise(lit(0L))).as("__ct"))
    val totals = counts.agg(sum("__cr").as("__tr"), sum("__ct").as("__tt"))
    val model = broadcast(counts.crossJoin(broadcast(totals))
      .select(col("__b"),
        (log((col("__ct") + 1).cast("double") / (col("__tt") + DsirBuckets))
          - log((col("__cr") + 1).cast("double") / (col("__tr") + DsirBuckets)))
          .as("__lw")))
    val scored = tok.join(model, "__b")
      .groupBy(col(id))
      .agg(graft.Det.dsum(col("__lw")).as("sum_logw"),
        count(lit(1)).as("n_tok"))
    val thr = broadcast(scored.agg(graft.Det.davg(col("sum_logw")).as("__mean")))
    docs.select(col(id)).join(scored, Seq(id), "left")
      .crossJoin(thr)
      .select(col(id),
        coalesce(col("sum_logw"), lit(0.0)).as("sum_logw"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        (coalesce(col("sum_logw"), lit(0.0)) > col("__mean")).as("selected"))
  }

  // ---------------------------------------------------------------- queries

  /** Oracle edge set: exact 3-shingle Jaccard ≥ 0.8 pairs — proven equal to
    * the Spark side's MinHash-LSH pairs by the dedup_minhash contract.
    */
  private val jaccardPairsCte =
    """w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                                            FOR i IN range(1, len(ws)-1)])) AS s
      |       FROM w WHERE len(ws) >= 3),
      |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT da AS doc_a, db AS doc_b FROM (
      |    SELECT a.doc_id da, b.doc_id db, count(*) i
      |    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2) x
      |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |  WHERE i*1.0/(sa.n + sb.n - i) >= 0.8)""".stripMargin

  /** Oracle component chain over [[jaccardPairsCte]]'s edge set:
    * undirected `edges`, their `nodes`, recursive reachability `reach`
    * and each node's min-id component `comp` (doc_id, component).
    */
  private val componentsCte =
    s"""WITH RECURSIVE $jaccardPairsCte,
       |edges AS (SELECT doc_a AS ea, doc_b AS eb FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT ea AS node FROM edges),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, e.eb FROM reach JOIN edges e ON e.ea = reach.r),
       |comp AS (SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node)""".stripMargin

  /** Oracle of [[dupClusters]] over the near-dup pairs: min-id component,
    * cluster size and keeper flag per clustered doc.
    */
  private val dupClustersOracle =
    s"""$componentsCte
       |SELECT doc_id, component,
       |  CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members,
       |  doc_id = component AS is_keeper
       |FROM comp ORDER BY doc_id""".stripMargin

  /** Oracle `b`: each document's 60-bit id hash `h` and token count — the
    * packing and batching rows' shard layout ([[shardLayout]]).
    */
  private val shardTokensCte =
    """b AS (SELECT doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents)""".stripMargin

  /** Oracle `t` of the mixture rows: [[shardTokensCte]]'s columns plus the
    * source.
    */
  private val mixtureTokensCte =
    """t AS (SELECT doc_id, source,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents)""".stripMargin

  /** Oracle `c` of the mixture rows: each document's START token offset
    * `strt` in its source's admission order — ONE window over the
    * (bucket, hash, id) total order, the semantics [[admitByQuota]]
    * computes through bounded windows.
    */
  private val mixtureStartCte =
    s"""c AS (SELECT doc_id, source, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY source ORDER BY h % $HashBuckets, h, doc_id) - n_tok AS strt
       |  FROM t)""".stripMargin

  /** Spark side of [[jaccardPairsCte]]: the MinHash-LSH near-dup pairs
    * (doc_a, doc_b) at 3-shingle Jaccard ≥ 0.8 that the component rows
    * cluster.
    */
  private def nearDupPairs(docs: DataFrame): DataFrame =
    Dedup.minHashNearDupPairs(docs, "doc_id", TextFunctions.wordShingles(col("text"), 3), 0.8)

  /** The decontamination rows' split: every 50th document plays the
    * benchmark, the rest the training corpus — (train, bench).
    */
  private def benchSplit(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.filter(pmod(col("doc_id"), lit(50)) =!= 0), docs.filter(pmod(col("doc_id"), lit(50)) === 0))

  /** The corpus-assembly rows' tail: quality gate at 0.5, then the 90/10
    * hash split — (doc_id, lang, quality_r, split) by doc_id.
    */
  private def qualityGateAndSplit(kept: DataFrame): DataFrame =
    kept.withColumn("quality", TextFunctions.qualityScore(col("text"), TextOps.Stopwords))
      .filter(col("quality") >= 0.5)
      .select(col("doc_id"), col("lang"), round(col("quality"), 6).as("quality_r"),
        hashSplit(col("doc_id"), 90).as("split"))
      .orderBy("doc_id")

  val queries: Seq[Q] = Seq(
    // ---- duplicate-cluster resolution: connected components over MinHash
    // near-dup pairs, min-id canonical per cluster. Oracle replays
    // reachability with a recursive CTE over the exact-Jaccard edge set ----
    Q("dedup_components", dupClustersOracle) { (s, d) =>
      dupClusters(nearDupPairs(Tables.documents(s, d)), "doc_a", "doc_b").orderBy("doc_id")
    },

    // ---- the same cluster resolution through the O(log n) large-star/
    // small-star contraction (the adversarial-depth variant): both CC
    // formulations must land on the identical min-id components, so this
    // row shares dedup_components' recursive-CTE oracle verbatim.
    // Weekly tier: algorithm-variant twin of dedup_components — Verify
    // oracle-checks it every round; the per-round bench times the
    // min-label formulation that shares its plan prefix ----
    Q.weekly("dedup_components_star", dupClustersOracle) { (s, d) =>
      clustersOf(connectedComponentsStar(nearDupPairs(Tables.documents(s, d)), "doc_a", "doc_b"))
        .orderBy("doc_id")
    },

    // ---- quality-aware cluster resolution: keep the highest-n_chars
    // member per near-dup cluster (ties → smaller id) — the
    // representative-selection stage; singletons pass through kept.
    // Oracle = recursive-CTE components + the same argmax window ----
    Q(
      "dedup_cluster_keep_best",
      s"""$componentsCte,
         |ranked AS (SELECT d.doc_id, c.component,
         |    CAST(COUNT(*) OVER (PARTITION BY c.component) AS BIGINT) AS n_members,
         |    ROW_NUMBER() OVER (PARTITION BY c.component
         |                       ORDER BY d.n_chars DESC, d.doc_id) AS rk
         |  FROM documents d JOIN comp c ON c.doc_id = d.doc_id)
         |SELECT doc_id, component, n_members, rk = 1 AS is_kept FROM ranked
         |UNION ALL
         |SELECT d.doc_id, d.doc_id AS component, CAST(1 AS BIGINT) AS n_members,
         |  TRUE AS is_kept
         |FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
         |ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      keepBestPerCluster(docs, "doc_id", col("n_chars"), nearDupPairs(docs), "doc_a", "doc_b")
        .orderBy("doc_id")
    },

    // ---- dedup governance report: per source, how much the near-dup
    // stage removes — docs in, docs kept (quality-argmax policy),
    // survival rate in micros. The audit artifact a curation run ships
    // next to its output; pure composition of keepBestPerCluster ----
    Q(
      "dedup_report_by_source",
      s"""$componentsCte,
         |ranked AS (SELECT d.doc_id, c.component,
         |    ROW_NUMBER() OVER (PARTITION BY c.component
         |                       ORDER BY d.n_chars DESC, d.doc_id) AS rk
         |  FROM documents d JOIN comp c ON c.doc_id = d.doc_id),
         |kept AS (SELECT doc_id FROM ranked WHERE rk = 1
         |  UNION ALL
         |  SELECT d.doc_id FROM documents d
         |  WHERE d.doc_id NOT IN (SELECT doc_id FROM comp))
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(FLOOR(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    * 1000000.0 / COUNT(*) + 0.5) AS BIGINT) AS survival_micros
         |FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      val kept = keepBestPerCluster(docs, "doc_id", col("n_chars"), nearDupPairs(docs),
        "doc_a", "doc_b")
        .select(col("doc_id"), col("is_kept"))
      docs.join(kept, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_kept"), lit(1L)).otherwise(lit(0L))).as("n_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          floor(col("n_kept") * lit(1000000.0) / col("n_docs") + lit(0.5))
            .cast("long").as("survival_micros"))
        .orderBy("source")
    },

    // ---- benchmark decontamination: every 50th doc plays the eval set;
    // training docs sharing any 5-gram with it are flagged. Broadcast
    // semi-join on hashed grams — the training side is scanned once ----
    Q(
      "decontaminate_benchmark",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |         CASE WHEN len(toks) >= 5 THEN
        |           list_transform(generate_series(1, len(toks) - 4),
        |             i -> array_to_string(list_slice(toks, i, i + 4), ' '))
        |         ELSE [] END)) AS g FROM t),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
        |hits AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |         FROM sh s JOIN bench b ON b.g = s.g
        |         WHERE s.doc_id % 50 <> 0 GROUP BY 1)
        |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  COALESCE(h.n_hits, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        |WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""".stripMargin,
    ) { (s, d) =>
      val (train, bench) = benchSplit(Tables.documents(s, d))
      decontaminate(
        train, bench, "doc_id", col("text"), 5)
        .orderBy("doc_id")
    },

    // ---- graded contamination report: per-doc distinct-5-gram count,
    // benchmark-overlap count, and quantized overlap fraction — the
    // distribution the "contaminated" cutoff is tuned from ----
    Q(
      "decontaminate_overlap",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |         CASE WHEN len(toks) >= 5 THEN
        |           list_transform(generate_series(1, len(toks) - 4),
        |             i -> array_to_string(list_slice(toks, i, i + 4), ' '))
        |         ELSE [] END)) AS g FROM t),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
        |per AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |        CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        |        FROM sh s LEFT JOIN bench b ON b.g = s.g
        |        WHERE s.doc_id % 50 <> 0 GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(p.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(FLOOR(CASE WHEN COALESCE(p.n_grams, 0) > 0
        |       THEN COALESCE(p.n_hits, 0) * 1000000.0 / p.n_grams
        |       ELSE 0.0 END + 0.5) AS BIGINT) AS overlap_micros
        |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
        |WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""".stripMargin,
    ) { (s, d) =>
      val (train, bench) = benchSplit(Tables.documents(s, d))
      contaminationOverlap(
        train, bench, "doc_id", col("text"), 5)
        .orderBy("doc_id")
    },

    // ---- fuzzy decontamination: near-dup (J >= 0.8) match against the
    // benchmark split via the two-sided MinHash band join. Oracle = exact
    // cross-corpus Jaccard (the LSH+verify ≡ exact contract proven by
    // dedup_minhash: recall 1−8e-8 at J ≥ 0.8) ----
    Q(
      "decontaminate_fuzzy",
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                                            FOR i IN range(1, len(ws)-1)])) AS s
        |       FROM w WHERE len(ws) >= 3),
        |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |m AS (SELECT da AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches FROM (
        |    SELECT a.doc_id da, b.doc_id db, COUNT(*) i
        |    FROM sh a JOIN sh b ON a.s = b.s
        |    WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0 GROUP BY 1, 2) p
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8 GROUP BY 1)
        |SELECT d.doc_id, COALESCE(m.n_matches, 0) AS n_matches,
        |  COALESCE(m.n_matches, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN m USING (doc_id)
        |WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""".stripMargin,
    ) { (s, d) =>
      val (train, bench) = benchSplit(Tables.documents(s, d))
      decontaminateFuzzy(
        train, bench, "doc_id", TextFunctions.wordShingles(col("text"), 3), 0.8)
        .orderBy("doc_id")
    },

    // ---- semantic decontamination: cosine ≥ 0.4 against the benchmark
    // split (vec_id % 5 = 3 — the split size that plants verified cross
    // hits at ALL fixture scales, measured 2/1/34 at sf0.001/0.01/0.1)
    // of the embeddings fixture, candidates via the broadcast SRP block
    // join. Oracle replays the ENTIRE LSH pipeline (planes → signatures
    // → block keys → verify), so the row is hash-exact, not
    // recall-waived ----
    Q(
      "decontaminate_semantic",
      Similarity.srpCrossOracleSql(0.4, 64, 32, 5, 3),
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      decontaminateSemantic(
        emb.filter(pmod(col("vec_id"), lit(5)) =!= 3),
        emb.filter(pmod(col("vec_id"), lit(5)) === 3),
        "vec_id", "embedding", 0.4, dim = 64)
        .orderBy("vec_id")
    },

    // ---- deterministic stratified train/test split (90/10 on id hash) ----
    Q(
      "stratified_split",
      """SELECT doc_id, lang,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
        |    THEN 'train' ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), hashSplit(col("doc_id"), 90).as("split"))
        .orderBy("doc_id")
    },

    // ---- k-fold CV assignment: growth-stable md5-derived folds; the
    // per-fold profile (counts, char mass, id witnesses) is the
    // balance/disjointness audit a CV harness runs before training ----
    Q(
      "kfold_assign",
      """WITH f AS (
        |  SELECT doc_id, n_chars,
        |    ('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 AS fold
        |  FROM documents)
        |SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), kFold(col("doc_id"), 5).as("fold"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("fold")
    },

    // ---- token-BUDGET data selection: keep the highest-quality subset
    // whose total tokens fit a fixed budget (20% of the corpus) — the
    // "data selection under a compute budget" step of every curriculum /
    // ablation pipeline. Quality = type-token ratio on the integer-micros
    // lattice. Scale shape: NO global sort — docs bucket by quality
    // (101 buckets), the cumulative-token cutoff comes from a window
    // over the BUCKET table (alphabet-sized), buckets above the cutoff
    // are taken whole, and only the single boundary bucket pays a
    // window (hash-ordered fill to the remaining budget; at 100 TB a
    // fat boundary bucket re-buckets on a finer lattice — the same
    // two-phase discipline as the percentile/quality-bucket rows) ----
    Q(
      "corpus_budget_select",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok,
        |    CAST(FLOOR(len(list_distinct(ws)) * 1000000.0 / len(ws) + 0.5)
        |      AS BIGINT) AS ttr_mic
        |  FROM t WHERE len(ws) >= 1),
        |b AS (SELECT doc_id, n_tok, ttr_mic // 10000 AS bucket,
        |    ('0x' || substr(md5('sel:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM m),
        |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS tt FROM m),
        |bt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS toks FROM b GROUP BY 1),
        |cum AS (SELECT bucket, n_docs, toks,
        |    COALESCE(CAST(SUM(toks) OVER (ORDER BY bucket DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      AS above
        |  FROM bt),
        |bud AS (SELECT tt // 5 AS bud FROM tot),
        |full_sel AS (SELECT bucket, n_docs AS n_selected, toks AS tok_selected
        |  FROM cum CROSS JOIN bud WHERE above + toks <= bud),
        |bnd AS (SELECT bucket, above FROM cum CROSS JOIN bud
        |  WHERE above < bud AND above + toks > bud),
        |bdocs AS (SELECT b.bucket, bnd.above, b.n_tok,
        |    SUM(b.n_tok) OVER (PARTITION BY b.bucket ORDER BY b.h, b.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        |  FROM b JOIN bnd ON bnd.bucket = b.bucket),
        |bsel AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_selected,
        |    CAST(SUM(n_tok) AS BIGINT) AS tok_selected
        |  FROM bdocs CROSS JOIN bud WHERE above + cum_tok <= bud GROUP BY 1)
        |SELECT bucket, n_selected, tok_selected FROM full_sel
        |UNION ALL SELECT bucket, n_selected, tok_selected FROM bsel
        |ORDER BY bucket DESC""".stripMargin,
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val m = Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 1)
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_tok"),
          floor(size(array_distinct(col("ws"))) * 1000000.0 / size(col("ws"))
            + 0.5).cast("long").as("ttr_mic"))
      val b = m.select(col("doc_id"), col("n_tok"),
        expr("ttr_mic DIV 10000").as("bucket"),
        TextFunctions.tokenHash60(
          concat(lit("sel:"), col("doc_id").cast("string"))).as("h"))
        .transform(graft.Tables.pin) // feeds bucket totals AND the boundary fill
      val bud = m.agg(expr("SUM(n_tok) DIV 5").as("bud"))
      val cum = b.groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("toks"))
        .withColumn("above", coalesce(
          sum("toks").over(Window.orderBy(col("bucket").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val fullSel = cum.crossJoin(broadcast(bud))
        .filter(col("above") + col("toks") <= col("bud"))
        .select(col("bucket"), col("n_docs").as("n_selected"),
          col("toks").as("tok_selected"))
      val bnd = cum.crossJoin(broadcast(bud))
        .filter(col("above") < col("bud") && col("above") + col("toks") > col("bud"))
        .select(col("bucket"), col("above"))
      val bsel = b.join(broadcast(bnd), "bucket")
        .withColumn("cum_tok", sum("n_tok").over(
          Window.partitionBy("bucket").orderBy(col("h"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(bud))
        .filter(col("above") + col("cum_tok") <= col("bud"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_selected"), sum("n_tok").as("tok_selected"))
      fullSel.unionByName(bsel).orderBy(col("bucket").desc)
    },

    // ---- GROUP-aware k-fold (sklearn GroupKFold shape): the fold is a
    // hash of the SOURCE, not the document, so every document of a
    // source lands in one fold — the leakage guard for near-duplicate
    // content within a source (a doc-hashed fold lets train and eval
    // see siblings of the same crawl). Same stable-under-growth hash
    // lattice as kfold_assign; one scan + alphabet-sized aggregate ----
    Q(
      "kfold_group_assign",
      """WITH f AS (
        |  SELECT source, n_chars,
        |    ('0x' || substr(md5('fold:' || source), 1, 15))::BIGINT % 5 AS fold
        |  FROM documents)
        |SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"), kFold(col("source"), 5).as("fold"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars").cast("long")).as("total_chars"))
        .orderBy("fold")
    },

    // ---- the end-to-end corpus assembly a training pipeline actually
    // ships: exact dedup (keep lowest id per text) → quality gate →
    // deterministic split, one declarative query. Composes the §2.9
    // operators; every stage is individually oracle-proven above ----
    Q(
      "training_corpus",
      s"""WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
         |scored AS (
         |  SELECT d.doc_id, d.lang,
         |    0.4 * LEAST(CAST(len(string_split(d.text,' ')) AS DOUBLE) / 100.0, 1.0)
         |    + 0.4 * (CAST(len(list_distinct(string_split(d.text,' '))) AS DOUBLE)
         |             / GREATEST(CAST(len(string_split(d.text,' ')) AS DOUBLE), 1.0))
         |    + 0.2 * (1.0 - CAST(len(list_filter(string_split(d.text,' '),
         |                 t -> t IN (${TextOps.Stopwords.map(s => s"'$s'").mkString(", ")}))) AS DOUBLE)
         |             / GREATEST(CAST(len(string_split(d.text,' ')) AS DOUBLE), 1.0)) AS quality
         |  FROM documents d JOIN keep USING (doc_id))
         |SELECT doc_id, lang, ROUND(quality, 6) AS quality_r,
         |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
         |    THEN 'train' ELSE 'test' END AS split
         |FROM scored WHERE quality >= 0.5 ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      val keep = docs.groupBy("text").agg(min("doc_id").as("doc_id")).select("doc_id")
      qualityGateAndSplit(docs.join(keep, "doc_id"))
    },

    // ---- the FULL modern assembly: exact dedup → benchmark
    // decontamination → repetition gate → quality gate → deterministic
    // split, one declarative query (every stage individually
    // oracle-proven above; this proves they COMPOSE — Catalyst fuses the
    // gates into one pipeline over a single corpus scan plus the bounded
    // gram aggregations) ----
    Q(
      "training_corpus_v2",
      s"""WITH train AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM train GROUP BY text),
         |kept AS (SELECT d.* FROM train d JOIN keep USING (doc_id)),
         |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 5 THEN
         |         list_transform(generate_series(1, len(toks) - 4),
         |           i -> array_to_string(list_slice(toks, i, i + 4), ' '))
         |       ELSE [] END)) AS g FROM tk),
         |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
         |contaminated AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b ON b.g = s.g
         |                 WHERE s.doc_id % 50 <> 0),
         |g2 AS (SELECT k.doc_id, unnest(list_transform(generate_series(1, len(t.toks) - 1),
         |         i -> array_to_string(list_slice(t.toks, i, i + 1), ' '))) AS gram
         |       FROM kept k JOIN tk t ON t.doc_id = k.doc_id),
         |gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
         |highrep AS (SELECT doc_id FROM (
         |          SELECT doc_id, SUM(c) AS n, COUNT(*) AS nd FROM gc GROUP BY 1)
         |        WHERE CAST(n - nd AS DOUBLE) / n > 0.06),
         |scored AS (
         |  SELECT k.doc_id, k.lang,
         |    0.4 * LEAST(CAST(len(string_split(k.text,' ')) AS DOUBLE) / 100.0, 1.0)
         |    + 0.4 * (CAST(len(list_distinct(string_split(k.text,' '))) AS DOUBLE)
         |             / GREATEST(CAST(len(string_split(k.text,' ')) AS DOUBLE), 1.0))
         |    + 0.2 * (1.0 - CAST(len(list_filter(string_split(k.text,' '),
         |                 t -> t IN (${TextOps.Stopwords.map(s => s"'$s'").mkString(", ")}))) AS DOUBLE)
         |             / GREATEST(CAST(len(string_split(k.text,' ')) AS DOUBLE), 1.0)) AS quality
         |  FROM kept k
         |  LEFT JOIN highrep r ON r.doc_id = k.doc_id
         |  LEFT JOIN contaminated c ON c.doc_id = k.doc_id
         |  WHERE r.doc_id IS NULL AND c.doc_id IS NULL)
         |SELECT doc_id, lang, ROUND(quality, 6) AS quality_r,
         |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
         |    THEN 'train' ELSE 'test' END AS split
         |FROM scored WHERE quality >= 0.5 ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val (train, bench) = benchSplit(Tables.documents(s, d))
      val keep = train.groupBy("text").agg(min("doc_id").as("doc_id")).select("doc_id")
      val kept = train.join(keep, "doc_id")
      val clean = decontaminate(kept, bench, "doc_id", col("text"), 5)
        .filter(!col("contaminated")).select("doc_id")
      // gate by anti-join on the HIGH-repetition set: a doc too short to
      // have 2-grams has zero repetition and must PASS (an inner join on
      // the low-rep side would silently delete gram-less docs)
      val highRep = kept
        .select(col("doc_id"), explode(TextFunctions.wordShinglesAll(col("text"), 2)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("n"), count(lit(1)).as("nd"))
        .filter((col("n") - col("nd")).cast("double") / col("n") > 0.06)
        .select("doc_id")
      qualityGateAndSplit(
        kept.join(clean, "doc_id").join(highRep, Seq("doc_id"), "left_anti"))
    },

    // ---- context-window chunking: 64-token windows every 48 tokens
    // (16-token overlap). The oracle replays the window arithmetic and
    // the md5-60-bit chunk hash, so boundaries and content are both
    // pinned ----
    Q(
      "doc_chunk",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |st AS (SELECT doc_id, toks,
        |         unnest(generate_series(1, greatest(len(toks), 1), 48)) AS s,
        |         generate_subscripts(
        |           generate_series(1, greatest(len(toks), 1), 48), 1) AS ci
        |       FROM t),
        |ch AS (SELECT doc_id, CAST(ci - 1 AS BIGINT) AS chunk_idx,
        |         list_slice(toks, s, s + 63) AS ctoks FROM st)
        |SELECT doc_id, chunk_idx, CAST(len(ctoks) AS BIGINT) AS n_tokens,
        |  ('0x' || substr(md5(array_to_string(ctoks, ' ')), 1, 15))::BIGINT AS chunk_hash
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    ) { (s, d) =>
      chunkDocuments(Tables.documents(s, d), "doc_id", col("text"), 64, 48)
        .orderBy("doc_id", "chunk_idx")
    },

    // ---- sequence packing: fixed 256-token training sequences, 8 hash
    // shards (shard-local windows — the scale contract; a global-order
    // cumsum would be a single-task sort at 100 TB) ----
    Q(
      "seq_pack",
      """SELECT doc_id, shard, n_tok, seq_id FROM (
        |  SELECT doc_id, h % 8 AS shard, n_tok,
        |    CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
        |                - n_tok) / 256.0) AS BIGINT) AS seq_id
        |  FROM (SELECT doc_id,
        |          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      packSequences(
        Tables.documents(s, d), "doc_id", TextFunctions.tokens(col("text")),
        budget = 256, shards = 8)
        .orderBy("doc_id")
    },

    // ---- length-bucketed dynamic batching: power-of-two token-length
    // buckets, shard-local (n_tok, id) order, batches of 16, per-batch
    // padding waste in exact integer micros — the batch layout step
    // between packing and the data loader. Windows are (bucket, shard)-
    // local; buckets via integer bit-length on both engines ----
    Q(
      "batch_by_length",
      s"""WITH $shardTokensCte,
        |f AS (SELECT doc_id, n_tok,
        |    CAST(length(bin(n_tok)) - 1 AS BIGINT) AS bucket,
        |    h % 8 AS shard
        |  FROM b WHERE n_tok > 0),
        |r AS (SELECT *, CAST((ROW_NUMBER() OVER (
        |    PARTITION BY bucket, shard ORDER BY n_tok, doc_id) - 1) // 16
        |    AS BIGINT) AS batch_id FROM f)
        |SELECT bucket, CAST(shard AS BIGINT) AS shard, batch_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MAX(n_tok) AS BIGINT) AS max_tok,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
        |  CAST((COUNT(*) * MAX(n_tok) - SUM(n_tok)) * 1000000
        |    // (COUNT(*) * MAX(n_tok)) AS BIGINT) AS pad_waste_micros
        |FROM r GROUP BY 1, 2, 3
        |ORDER BY bucket, shard, batch_id""".stripMargin,
    ) { (s, d) =>
      batchByLength(
        Tables.documents(s, d), "doc_id", TextFunctions.tokens(col("text")),
        batchSize = 16, shards = 8)
        .orderBy("bucket", "shard", "batch_id")
    },

    // ---- concatenate-and-cut packing: the GPT-pretraining layout —
    // shard-local token stream cut into fixed 256-token sequences,
    // documents SPLIT at boundaries into (doc, seq, [tok_start, tok_end))
    // spans (seq_pack above keeps docs whole). Same shard-local window
    // discipline; the boundary explode is ≤ total_tokens/256 extra rows ----
    Q(
      "seq_pack_concat",
      s"""WITH $shardTokensCte,
        |o AS (SELECT doc_id, h % 8 AS shard, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
        |      AS BIGINT) AS e
        |  FROM b WHERE n_tok > 0),
        |x AS (SELECT doc_id, shard, e - n_tok AS strt, e,
        |    unnest(generate_series((e - n_tok) // 256, (e - 1) // 256)) AS seq_id
        |  FROM o)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(GREATEST(seq_id * 256, strt) - strt AS BIGINT) AS tok_start,
        |  CAST(LEAST((seq_id + 1) * 256, e) - strt AS BIGINT) AS tok_end
        |FROM x ORDER BY doc_id, seq_id""".stripMargin,
    ) { (s, d) =>
      packConcatCut(
        Tables.documents(s, d), "doc_id", TextFunctions.tokens(col("text")),
        seqLen = 256, shards = 8)
        .orderBy("doc_id", "seq_id")
    },

    // ---- corpus-mixture sampling: per-source token quotas from declared
    // weights (srcN gets (N%4+1)/50 of a 3000-token budget). The oracle
    // states the semantics as ONE window over the (bucket, hash, id)
    // total order; the Spark side computes the identical cumsum through
    // the bounded two-level decomposition (see mixtureSample) ----
    Q(
      "corpus_mixture",
      s"""WITH $mixtureTokensCte,
        |$mixtureStartCte
        |SELECT doc_id, source, n_tok FROM c
        |WHERE strt < (CAST(substr(source, 4) AS INTEGER) % 4 + 1) / 50.0 * 3000
        |ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val weights = (0 until 20).map(i => s"src$i" -> (i % 4 + 1) / 50.0).toMap
      mixtureSample(
        Tables.documents(s, d), "source", "doc_id",
        TextFunctions.tokens(col("text")), weights, totalTokenBudget = 3000)
        .orderBy("doc_id")
    },

    // ---- temperature mixture (α = 0.5): per-source quotas ∝ √(source
    // tokens) — data-derived, no declared weight table; tail sources get
    // over-represented exactly as the multilingual-LM recipe intends.
    // √n quantizes to integer micros (IEEE correctly-rounded sqrt), so
    // quota arithmetic is all-BIGINT and the oracle replays it exactly ----
    Q(
      "corpus_mixture_temperature",
      s"""WITH $mixtureTokensCte,
        |sz AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n FROM t GROUP BY 1),
        |sq AS (SELECT source,
        |    CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS s
        |  FROM sz),
        |st AS (SELECT CAST(SUM(s) AS BIGINT) AS stot FROM sq),
        |qt AS (SELECT source, (s * 3000) // stot AS quota FROM sq CROSS JOIN st),
        |$mixtureStartCte
        |SELECT c.doc_id, c.source, c.n_tok, qt.quota AS src_quota
        |FROM c JOIN qt USING (source) WHERE c.strt < qt.quota
        |ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      mixtureTemperatureSample(
        Tables.documents(s, d), "source", "doc_id",
        TextFunctions.tokens(col("text")), totalTokenBudget = 3000)
        .orderBy("doc_id")
    },

    // ---- repetition-aware mixture: srcN repeats (N%4)*0.75 + 0.5 epochs
    // (0.5 / 1.25 / 2.0 / 2.75 — exact binary quarters, so the
    // fractional-remainder threshold is float-exact on both engines).
    // Full epochs replicate every doc; the partial epoch is the
    // hash-ordered prefix under the same cumsum as corpus_mixture ----
    Q(
      "corpus_mixture_epochs",
      s"""WITH $mixtureTokensCte,
        |q AS (SELECT source, SUM(n_tok) AS tot,
        |    (CAST(substr(source, 4) AS INTEGER) % 4) * 0.75 + 0.5 AS mult
        |  FROM t GROUP BY source),
        |qq AS (SELECT source, CAST(FLOOR(mult) AS BIGINT) AS nfull,
        |    (mult - FLOOR(mult)) * tot AS rem FROM q),
        |full_rows AS (SELECT t.doc_id, t.source, t.n_tok,
        |    unnest(range(qq.nfull)) AS epoch
        |  FROM t JOIN qq USING (source)),
        |$mixtureStartCte,
        |part_rows AS (SELECT c.doc_id, c.source, c.n_tok, qq.nfull AS epoch
        |  FROM c JOIN qq USING (source) WHERE c.strt < qq.rem)
        |SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch, n_tok
        |FROM (SELECT * FROM full_rows UNION ALL SELECT * FROM part_rows)
        |ORDER BY doc_id, epoch""".stripMargin,
    ) { (s, d) =>
      val reps = (0 until 20).map(i => s"src$i" -> ((i % 4) * 0.75 + 0.5)).toMap
      mixtureWithEpochs(
        Tables.documents(s, d), "source", "doc_id",
        TextFunctions.tokens(col("text")), reps)
        .select(col("doc_id"), col("source"), col("epoch").cast("long").as("epoch"),
          col("n_tok"))
        .orderBy("doc_id", "epoch")
    },

    // ---- DSIR importance scoring: hashed-unigram log-likelihood ratio
    // of target (lang = 'en') vs raw corpus, add-1 smoothing over 256
    // buckets; selected = above corpus-mean score. ln() is IEEE-identical
    // cross-engine (lm_unigram_score contract); Det.dsum micros keep the
    // per-doc sums order-independent ----
    Q(
      "dsir_importance",
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS tgt,
         |    ('0x' || substr(md5(t), 1, 15))::BIGINT % 256 AS b
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
         |        FROM documents)),
         |counts AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr,
         |    CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |  FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr,
         |    CAST(SUM(ct) AS BIGINT) AS tt FROM counts),
         |model AS (SELECT b,
         |    ln((ct + 1.0) / (tt + 256)) - ln((cr + 1.0) / (tr + 256)) AS lw
         |  FROM counts CROSS JOIN tot),
         |sc AS (SELECT doc_id, ${graft.Det.dsumSql("lw")} AS sum_logw,
         |    CAST(COUNT(*) AS BIGINT) AS n_tok
         |  FROM tok JOIN model USING (b) GROUP BY doc_id),
         |m AS (SELECT ${graft.Det.davgSql("sum_logw")} AS mean_w FROM sc)
         |SELECT d.doc_id,
         |  COALESCE(sc.sum_logw, 0.0) AS sum_logw,
         |  CAST(COALESCE(sc.n_tok, 0) AS BIGINT) AS n_tok,
         |  COALESCE(sc.sum_logw, 0.0) > m.mean_w AS selected
         |FROM documents d LEFT JOIN sc USING (doc_id) CROSS JOIN m
         |ORDER BY d.doc_id""".stripMargin,
    ) { (s, d) =>
      dsirImportance(
        Tables.documents(s, d), col("lang") === "en", "doc_id", col("text"))
        .orderBy("doc_id")
    },

    // ---- PII scrub: emails / IPv4s / phone-shaped numbers → typed
    // placeholders. The fixture text carries no PII, so the query plants
    // one of each deterministically per row and the oracle replays the
    // identical construction + redaction (patterns restricted to the
    // Java-regex ∩ RE2 subset so both engines substitute identically) ----
    Q(
      "pii_redact",
      """WITH p AS (SELECT doc_id,
        |    text || ' contact ' || source || CAST(doc_id AS VARCHAR) || '@example.com'
        |      || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 200 AS VARCHAR)
        |      || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(txt, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
        |     + len(regexp_extract_all(txt, '\b[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_pii,
        |  regexp_replace(regexp_replace(regexp_replace(txt,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |      '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS red
        |FROM p ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val txt = concat(
        col("text"),
        lit(" contact "), col("source"), col("doc_id").cast("string"), lit("@example.com"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(col("doc_id"), lit(200)).cast("string"),
        lit(" tel 555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      Tables.documents(s, d)
        .select(col("doc_id"), txt.as("__txt"))
        .select(col("doc_id"),
          TextFunctions.piiCount(col("__txt")).as("n_pii"),
          TextFunctions.redactPii(col("__txt")).as("red"))
        .orderBy("doc_id")
    },

    // ---- deterministic stratified sample: 5 docs per language ----
    Q(
      "q_stratified_sample",
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,
    ) { (s, d) =>
      stratifiedSample(Tables.documents(s, d), "lang", "doc_id", 5)
        .select("doc_id", "lang", "rn")
        .orderBy("lang", "rn")
    },

    // ---- deterministic weighted sample (Efraimidis–Spirakis): 5 docs
    // per source, inclusion probability ∝ n_chars. The oracle states the
    // single-window semantics; the implementation's bounded-window
    // decomposition must reproduce it row-for-row ----
    Q(
      "q_weighted_sample",
      """SELECT source, doc_id, rn FROM (
        |  SELECT source, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      ln(((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000003) + 1) / 1000004.0)
        |        / n_chars DESC, doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, rn""".stripMargin,
    ) { (s, d) =>
      weightedSample(Tables.documents(s, d), "source", "doc_id",
        col("n_chars"), 5)
        .select("source", "doc_id", "rn")
        .orderBy("source", "rn")
    },

    // ---- temperature-balanced language resampling (the XLM-R/mC4 α
    // exponent): sampled share ∝ p_lang^α with α = 1/2, realized as the
    // largest pure DOWNSAMPLE with that target — which collapses to the
    // per-language keep-rate r_l = √(n_min/n_l) (the smallest language
    // keeps 100%, a 4×-bigger one 50%). Rates come from a lang-sized
    // aggregate (model state); the corpus pays ONE linear scan with a
    // per-row md5 coin against the broadcast rate — no shuffle of the
    // data itself, so the plan is a pure map at 100 TB. Rates are
    // quantized to integer micros BEFORE the coin compare (the bucket-cut
    // discipline), making kept-set membership hash-exact cross-engine. ----
    Q(
      "corpus_lang_balance",
      """WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
        |           FROM documents GROUP BY lang),
        |mn AS (SELECT MIN(n_l) AS n_min FROM n),
        |r AS (SELECT lang, n_l,
        |        CAST(FLOOR(sqrt(CAST(n_min AS DOUBLE) / n_l) * 1000000.0) AS BIGINT)
        |          AS rate_micros
        |      FROM n CROSS JOIN mn),
        |k AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |        CAST(SUM(CAST(d.n_chars AS BIGINT)) AS BIGINT) AS kept_chars
        |      FROM documents d JOIN r ON r.lang = d.lang
        |      WHERE ('0x' || substr(md5(d.lang || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |              % 1000000 < r.rate_micros
        |      GROUP BY d.lang)
        |SELECT r.lang, r.n_l AS n_docs,
        |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(k.kept_chars, 0) AS BIGINT) AS kept_chars,
        |  r.rate_micros
        |FROM r LEFT JOIN k ON k.lang = r.lang ORDER BY r.lang""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      val n = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
      val mn = n.agg(min("n_l").as("n_min"))
      val rates = n.crossJoin(broadcast(mn))
        .select(col("lang"), col("n_l"),
          floor(sqrt(col("n_min").cast("double") / col("n_l")) * 1000000.0)
            .cast("long").as("rate_micros"))
      val coin = pmod(
        graft.functions.TextFunctions.tokenHash60(
          concat(col("lang"), lit(":"), col("doc_id").cast("string"))),
        lit(1000000L))
      val kept = docs.join(broadcast(rates), "lang")
        .filter(coin < col("rate_micros"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
      rates.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_l").as("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_chars"), lit(0L)).as("kept_chars"),
          col("rate_micros"))
        .orderBy("lang")
    },
  )
}
