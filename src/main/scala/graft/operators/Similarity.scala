package graft.operators

import graft.{Q, Tables}
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2.9).
  *
  * One skeleton serves every index: one Lloyd trainer (`lloyd`; k-means
  * is PQ with one subspace) fed by one seed reader, one centroid probe
  * (`probe`), one per-query top-k tail (`topPerQuery`) and one IVF-PQ
  * ranking path (`ivfPqRank`); the DuckDB oracles are built from one
  * Lloyd CTE-round generator, one SRP signature/block prefix and one
  * probe CTE chain.
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query set is broadcast
  *    against a single linear scan of the corpus (never a shuffled
  *    crossJoin), and ranking is a per-query window — at 100 TB this is
  *    one pass over the corpus per query batch, embarrassingly parallel.
  *  - [[ivfTopK]]: IVF-style approximate path — corpus pre-bucketed by
  *    nearest centroid; a query probes only `nprobe` closest buckets,
  *    cutting the scan by ~(nprobe / nlist). Centroids here come from the
  *    fixture's `label` column (standing in for an offline k-means); the
  *    probing/bucketing plumbing is what carries to scale.
  */
object Similarity {

  /** Exact cosine top-k neighbors for each query vector.
    * Output: (query_id, neighbor_id, rank, sim).
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, id: String, vec: String,
      k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
    topPerQuery(c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", VectorFunctions.cosine(col("qv"), col("cv"))), k, col("sim").desc)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** The one per-query top-k tail: number each query's rows by `by`
    * (ties → smaller neighbor_id) as `rank` and keep the first `k`.
    */
  private def topPerQuery(df: DataFrame, k: Int, by: Column): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(by, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= k)

  /** Contrastive hard-negative mining: per query vector, the top-k most
    * similar corpus vectors whose LABEL DIFFERS from the query's — the
    * negatives a contrastive trainer actually wants (similar but wrong).
    * Unlike [[bruteForceTopK]] with a static pre-filter, the candidate
    * predicate here is PER-QUERY (label ≠ this query's label), so it
    * rides the join condition; the query batch broadcasts (model-sized)
    * against one linear corpus scan, ranking is a per-query window —
    * the filtered-ANN shape with a dynamic filter.
    */
  def hardNegativesTopK(
      queries: DataFrame, corpus: DataFrame, id: String, vec: String,
      label: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"),
      col(label).as("qlab"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"),
      col(label).as("clab"))
    topPerQuery(c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") && col("qlab") =!= col("clab"))
      .withColumn("sim", VectorFunctions.cosine(col("qv"), col("cv"))), k, col("sim").desc)
      .select(col("query_id"), col("neighbor_id"),
        col("clab").cast("long").as("neg_label"), col("rank"), col("sim"))
  }

  /** Element-wise mean vectors per cluster key (the "centroid table"). */
  def centroids(corpus: DataFrame, key: String, vec: String): DataFrame =
    corpus
      .select(col(key), posexplode(VectorFunctions.asDouble(col(vec))).as(Seq("pos", "x")))
      .groupBy(col(key), col("pos")).agg(avg("x").as("m"))
      .groupBy(col(key))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col(key), transform(col("pm"), s => s.getField("m")).as("centroid"))

  /** Probed-set rows (= |queries|·nprobe) above which [[ivfTopK]] stops
    * broadcasting the probed set and joins it on the bucket key as a
    * shuffle join instead: at dim 64 each probed row is ~550 B (query
    * vector + keys), so 2·10⁵ rows ≈ 100 MB — past any sane
    * spark.sql.autoBroadcastJoinThreshold. Below it (the common case: a
    * query BATCH is model-sized next to the corpus), broadcasting spares
    * the corpus a shuffle entirely.
    */
  val BroadcastProbeLimit: Long = 200000L

  /** IVF-style ANN: probe the `nprobe` nearest centroids per query, then
    * exact-rank only vectors in the probed buckets.
    *
    * The probed set (|queries|·nprobe rows, each carrying the query
    * vector) is broadcast against the bucket-pruned corpus scan — correct
    * while the query batch is model-sized, but its size grows with the
    * BATCH, not the model, so broadcast is NOT unconditionally safe.
    * `probeBatchRows` is the caller's batch-size declaration: when
    * `probeBatchRows·nprobe > BroadcastProbeLimit` the plan switches to a
    * bucket-keyed SHUFFLE join (both sides exchange on the bucket; AQE
    * rebalances skewed buckets) — linear in corpus + batch, no driver-
    * memory cliff. None (default) keeps the broadcast plan, which every
    * registered fixture query (20-query batches) wants.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, id: String, vec: String,
      bucket: String, k: Int, nprobe: Int,
      probeBatchRows: Option[Long] = None): DataFrame = {
    val probed = probe(queries.select(col(id).as("query_id"), col(vec).as("qv")),
        "query_id", "qv", centroids(corpus, bucket, vec), bucket, nprobe)
      .select(col("query_id"), col("qv"), col(bucket))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"), col(bucket))
    val smallBatch = probeBatchRows.forall(_ * nprobe <= BroadcastProbeLimit)
    val probeSide = if (smallBatch) broadcast(probed) else probed
    topPerQuery(c.join(probeSide, Seq(bucket))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", VectorFunctions.cosine(col("qv"), col("cv"))), k, col("sim").desc)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** The one centroid probe: each query's `nprobe` nearest centroids by
    * cosine (ties → smaller `bucket`), the queries (`qid`, vector `qv`)
    * joined against the broadcast centroid table `(bucket, centroid)` —
    * model-sized, so the query side is never shuffled for the join.
    */
  private def probe(queries: DataFrame, qid: String, qv: String,
      cents: DataFrame, bucket: String, nprobe: Int): DataFrame =
    queries.join(broadcast(cents))
      .withColumn("csim", VectorFunctions.cosine(col(qv), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(qid).orderBy(col("csim").desc, col(bucket))))
      .filter(col("crank") <= nprobe)

  /** Per-vector symmetric int8 scalar quantization: scale = max|x|/127
    * (floored to avoid zero-vectors dividing by zero), q_i = round(x_i /
    * scale). The 100 TB embedding-store trick — 4× less memory and
    * shuffle width than float32 with ~1% cosine error — and cosine is
    * SCALE-INVARIANT, so ranking quantized vectors needs no dequantize:
    * cosine(q_a, q_b) ≈ cosine(a, b) directly on the int values.
    * Quantized values stay integer-valued doubles here so the codegen'd
    * cosine kernel applies unchanged; a production store would pack them
    * as `array<tinyint>` bytes at rest.
    */
  def int8Quantize(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(id), VectorFunctions.asDouble(col(vec)).as("v"))
      .withColumn("scale",
        greatest(array_max(transform(col("v"), x => abs(x))) / lit(127.0), lit(1e-30)))
      .withColumn("qv", transform(col("v"), x => round(x / col("scale"))))

  /** Brute-force top-k over int8-quantized vectors: same broadcast-query
    * linear-scan shape as the float path, at a quarter of the memory
    * bandwidth at rest. Exactly replayable: quantization is deterministic
    * arithmetic and integer-valued dot/norm sums are exact in doubles
    * (|q| ≤ 127, so Σq² ≤ d·16129 ≪ 2⁵³).
    */
  def int8QuantizedTopK(
      queries: DataFrame, corpus: DataFrame, id: String, vec: String,
      k: Int): DataFrame =
    bruteForceTopK(
      int8Quantize(queries, id, vec).select(col(id), col("qv")),
      int8Quantize(corpus, id, vec).select(col(id), col("qv")),
      id, "qv", k)

  /** Exact embedding-cosine near-duplicate pairs: every (a, b) with
    * cosine >= threshold. All-pairs is inherently O(n²) — fine for a
    * corpus that fits a broadcast (Spark plans this as a broadcast
    * nested-loop over the codegen'd cosine kernel); at 100 TB the same
    * verify step runs behind [[srpNearDupPairs]] (LSH) or [[ivfTopK]]
    * bucketing, trading exact recall for linearity.
    */
  def cosineNearDupPairs(
      corpus: DataFrame, id: String, vec: String, threshold: Double): DataFrame = {
    val a = Tables.fanOut(corpus).select(col(id).as("vec_a"), col(vec).as("va"))
    val b = corpus.select(col(id).as("vec_b"), col(vec).as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
  }

  /** Deterministic Rademacher (±1) hyperplanes for signed random
    * projections, from a fixed-seed splitmix64 walk — identical across
    * runs/executors, no runtime randomness.
    */
  private[graft] def srpPlanes(bits: Int, dim: Int): Seq[Seq[Double]] = {
    var s = 0x51_7c_c1_b7_27_22_0a_95L
    def next(): Long = {
      s += 0x2545f4914f6cdd1dL
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Seq.fill(bits)(Seq.fill(dim)(if ((next() & 1L) == 0L) 1.0 else -1.0))
  }

  /** SRP-LSH signature: bit j = sign(v · r_j) over `bits` fixed random
    * hyperplanes, packed into a long. P[bit differs] = angle/π, so near-
    * identical vectors collide on whole blocks w.h.p. — the linear-time
    * candidate generator for cosine near-dup at scale. Computed by the
    * codegen'd [[graft.plans.SrpSig]] kernel (one fused loop over the
    * vector's primitive storage; a dim mismatch fails the job loudly);
    * [[srpSignaturePortable]] is the functional spec witness.
    */
  def srpSignature(vec: Column, dim: Int, bits: Int): Column = {
    require(bits <= 60, "srpSignature packs bits into a long")
    graft.plans.VectorKernels.srpSig(vec, srpPlanes(bits, dim))
  }

  /** The `aggregate(zip_with(...))`-per-plane formulation — retained as
    * the spec witness for the fused kernel (same accumulation order, so
    * signatures are bit-identical).
    */
  private[graft] def srpSignaturePortable(vec: Column, dim: Int, bits: Int): Column = {
    require(bits <= 60, "srpSignature packs bits into a long")
    // fail loudly on a dim mismatch: zip_with would otherwise null-pad and
    // when(proj >= 0, ...) would silently emit a degenerate 0-bit signature
    val vd = when(size(VectorFunctions.asDouble(vec)) === dim,
      VectorFunctions.asDouble(vec))
      .otherwise(raise_error(concat(
        lit(s"srpSignature: expected dim $dim, got "),
        size(VectorFunctions.asDouble(vec)).cast("string"))))
    srpPlanes(bits, dim).zipWithIndex.map { case (plane, j) =>
      val proj = aggregate(
        zip_with(vd, typedlit(plane), (x, r) => x * r), lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Candidate pairs whose SRP signatures agree on at least one of 4
    * contiguous blocks (bits/4 bits each) — then exact-verified against
    * `threshold`. Approximate recall (tunable via bits); exact duplicates
    * are always found (identical vectors ⇒ identical signatures).
    */
  def srpNearDupPairs(
      corpus: DataFrame, id: String, vec: String, threshold: Double,
      dim: Int, bits: Int = 32): DataFrame = {
    // signatures pinned: BOTH sides of the block-bucket self-join read the
    // signature table, and without the checkpoint each side recomputes
    // every signature (the same multi-consumer discipline as the dedup
    // pipelines' hashedShingleArr)
    val exploded = srpBlocks(
      srpSigs(corpus, id, vec, dim, bits).transform(Tables.pin), id, vec, bits)
    val cand = exploded.as("x").join(exploded.as("y"), Seq("blk", "key"))
      .filter(col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("vec_a"), col(s"x.$vec").as("va"),
        col(s"y.$id").as("vec_b"), col(s"y.$vec").as("vb"))
      .distinct()
    cand
      .withColumn("sim", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
  }

  /** Exploded SRP block-key rows (id, vec, blk, key) — the 4-block
    * bucketing shared by the self-join, cross-corpus, and streaming
    * near-dup tiers (pair recall: near-identical vectors agree on at
    * least one signature quarter with high probability).
    */
  private[graft] def srpBlockRows(df: DataFrame, id: String, vec: String,
      dim: Int, bits: Int): DataFrame =
    srpBlocks(srpSigs(df, id, vec, dim, bits), id, vec, bits)

  private def srpSigs(df: DataFrame, id: String, vec: String, dim: Int, bits: Int): DataFrame =
    Tables.fanOut(df).select(col(id), col(vec), srpSignature(col(vec), dim, bits).as("__sig"))

  /** The one SRP block-key builder: each `__sig` split into 4 blocks. */
  private def srpBlocks(sig: DataFrame, id: String, vec: String, bits: Int): DataFrame = {
    val blockBits = bits / 4
    val mask = (1L << blockBits) - 1
    val bs = (0 until 4).map { j =>
      struct(lit(j).as("blk"),
        shiftrightunsigned(col("__sig"), j * blockBits).bitwiseAND(lit(mask)).as("key"))
    }
    sig.select(col(id), col(vec), explode(array(bs: _*)).as("bk"))
      .select(col(id), col(vec), col("bk.blk"), col("bk.key"))
  }

  /** Cross-corpus SRP-LSH near matches, exact-verified: (train_id,
    * bench_id, sim) for every training vector whose cosine against some
    * benchmark vector reaches `threshold`; candidates are pairs agreeing
    * on at least one signature block. The benchmark block table is
    * BROADCAST (eval suites are tiny next to a training corpus), so the
    * training side is scanned once and never shuffled or self-joined —
    * the embedding-space analog of [[Dedup.minHashCrossPairs]].
    */
  def srpCrossPairs(
      train: DataFrame, trainId: String, bench: DataFrame, benchId: String,
      vec: String, threshold: Double, dim: Int, bits: Int = 32): DataFrame = {
    def blocks(df: DataFrame, id: String) = srpBlockRows(df, id, vec, dim, bits)
    val b = blocks(bench, benchId).select(
      col(benchId).as("__b_id"), col(vec).as("__b_vec"), col("blk"), col("key"))
    val cand = blocks(train, trainId)
      .join(broadcast(b), Seq("blk", "key"))
      .select(col(trainId), col(vec), col("__b_id"), col("__b_vec"))
      .distinct()
    cand.withColumn("sim", VectorFunctions.cosine(col(vec), col("__b_vec")))
      .filter(col("sim") >= threshold)
      .select(col(trainId).as("train_id"), col("__b_id").as("bench_id"), col("sim"))
  }

  /** Deterministic Lloyd k-means assignment (the offline step that builds
    * a REAL IVF index — upgrades the per-label-mean stand-in used by
    * [[ivfTopK]]'s fixture queries).
    *
    * Determinism contract (what makes it oracle-replayable):
    *  - seeds = the vectors whose id is below `k` (at most k of them),
    *    cluster label = seed id — the oracle's `WHERE vec_id < k`; a
    *    non-empty corpus with no id below k is rejected;
    *  - FIXED `iters` Lloyd rounds, no convergence test;
    *  - assignment = argmin of the squared-L2 distance ROUNDED to 6dp,
    *    ties to the smallest cluster label (sub-ulp cross-engine
    *    summation skew cannot flip a rounded argmin off a knife-edge);
    *  - centroid update = per-dimension micros-exact mean (Det contract).
    *
    * Scale shape: per round, ONE linear pass assigning via a codegen'd
    * fold against broadcast centroid literals (k·dim doubles — model
    * state, the one sanctioned driver round-trip, exactly how MLlib's
    * k-means iterates) + one groupBy(cluster, pos) mean. O(iters · n·k·d)
    * compute, no shuffle of the corpus beyond the mean aggregation.
    */
  def kMeansAssign(
      corpus: DataFrame, id: String, vec: String, k: Int, iters: Int): DataFrame = {
    assignToCentroids(corpus, id, vec,
      kMeansCentroids(corpus, id, vec, k, iters)).orderBy(col(id))
  }

  /** The trained Lloyd centroids behind [[kMeansAssign]] (same seeds,
    * same rounds — the model state a frozen quantizer persists), without
    * the final assignment pass. [[assignToCentroids]] over these yields
    * exactly [[kMeansAssign]]'s output. An empty corpus trains none.
    */
  def kMeansCentroids(
      corpus: DataFrame, id: String, vec: String, k: Int,
      iters: Int): Seq[(Long, Seq[Double])] =
    lloyd(corpus, vec, idSeeds(corpus, id, vec, k), m = 1, iters).head

  /** The one seed reader: `rows`' (id, vector) pairs sorted by id —
    * model-sized state, the sanctioned driver round-trip.
    */
  private def readSeeds(rows: DataFrame, id: String, vec: String): Seq[(Long, Seq[Double])] =
    rows.select(col(id).cast("long"), VectorFunctions.asDouble(col(vec))).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Double](1).toVector: Seq[Double]))
      .sortBy(_._1).toSeq

  /** The seed contract of [[kMeansCentroids]] and [[pqTrain]]: the
    * vectors whose id is below `k`. An empty corpus has none; a non-empty
    * one without any is rejected rather than trained on nothing.
    */
  private def idSeeds(corpus: DataFrame, id: String, vec: String,
      k: Int): Seq[(Long, Seq[Double])] = {
    val seeds = readSeeds(corpus.filter(col(id) < k), id, vec)
    require(seeds.nonEmpty || corpus.isEmpty,
      s"k-means seeds are the vectors whose $id is below k = $k (the seed " +
        "contract), and this corpus has none: number the ids from 0")
    seeds
  }

  /** The one Lloyd trainer, over `m` equal subspaces of `vec`: m = 1 is
    * plain k-means, m > 1 trains [[pqTrain]]'s m codebooks at once. Per
    * round, one linear pass of the codegen'd argmin kernel per subspace
    * against the current centroid literals — see plans.L2ArgMin for why
    * this beats the least(round(aggregate(zip_with(...)))) functional
    * form (k interpreted lambda chains per row, outside whole-stage
    * codegen) — then one micros-exact mean per (subspace, label,
    * position) (Det contract), collected as model state. Labels stay the
    * SEED ids throughout; a label that loses all its members simply drops
    * out of the next round (same on the oracle side, whose c_i CTE only
    * has clusters present in a_i). No seeds train no centroids.
    */
  private def lloyd(train: DataFrame, vec: String, seeds: Seq[(Long, Seq[Double])],
      m: Int, iters: Int): IndexedSeq[Seq[(Long, Seq[Double])]] = {
    val subLen = seeds.headOption.fold(1)(_._2.length / m)
    val subIdx = (col("pos") / lit(subLen)).cast("int")
    var cents = (0 until m).map(j =>
      seeds.map { case (cl, v) => cl -> v.slice(j * subLen, (j + 1) * subLen) })
    for (_ <- 1 to iters if seeds.nonEmpty) {
      val updated = train
        .select(subCodes(vec, subLen, cents).as("codes"),
          posexplode(VectorFunctions.asDouble(col(vec))).as(Seq("pos", "x")))
        .select(subIdx.as("sub"), element_at(col("codes"), subIdx + 1).as("cl"),
          (col("pos") % subLen).as("spos"), col("x"))
        .groupBy("sub", "cl", "spos").agg(graft.Det.davg(col("x")).as("m"))
        .collect()
      cents = (0 until m).map { j =>
        updated.filter(_.getInt(0) == j)
          .groupBy(_.getLong(1)).map { case (cl, rows) =>
            cl -> (rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toVector: Seq[Double])
          }.toSeq.sortBy(_._1)
      }
    }
    cents
  }

  /** Per-subspace nearest-centroid codes of `vec`: the argmin kernel on
    * each `subLen`-wide slice against that subspace's centroids.
    */
  private def subCodes(vec: String, subLen: Int,
      cents: IndexedSeq[Seq[(Long, Seq[Double])]]): Column =
    array(cents.indices.map(j =>
      nearest(slice(col(vec), j * subLen + 1, subLen), cents(j))): _*)

  /** The argmin kernel over `cents`; a model trained on an empty corpus
    * has no centroid, and its label is null.
    */
  private def nearest(v: Column, cents: Seq[(Long, Seq[Double])]): Column =
    if (cents.isEmpty) lit(null).cast("long")
    else graft.plans.VectorKernels.l2ArgMin(v, cents)

  /** Sampled-centroid Lloyd training (the FAISS / k-means‖ practice —
    * codebooks are trained on a sample, never on the corpus): train the
    * k-means codebook on a DETERMINISTIC md5-hash sample of
    * `s = ⌈sampleC·√(n·k)⌉` vectors, so training costs
    * O(iters·s·k·d) = O(iters·√(n·k)·k·d·sampleC) instead of
    * O(iters·n·k·d) — the term that made full-corpus k ∝ n training the
    * sf10 probe's one super-linear row (38.9× per 10× data, NOTES_r18 §4).
    *
    * Determinism contract (what makes it oracle-replayable):
    *  - sample = rows with tokenHash60("ksamp:" ‖ id) mod 10⁶ <
    *    ⌈10⁶·s/n⌉ — a pure per-row threshold filter (no global sort, no
    *    RNG), identical arithmetic in Spark and DuckDB (md5-derived hash,
    *    IEEE-correctly-rounded SQRT, exact double CEIL on both engines);
    *  - seeds = the k smallest-id vectors OF THE SAMPLE, label = seed id
    *    (if the sample holds fewer than k rows, both engines seed with
    *    all of it);
    *  - rounds/assignment/means: the exact [[kMeansCentroids]] contract,
    *    restricted to the sample.
    */
  def sampledKMeansCentroids(
      corpus: DataFrame, id: String, vec: String, k: Int, iters: Int,
      sampleC: Double = 2.0): Seq[(Long, Seq[Double])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val n = corpus.count()
    val s = math.ceil(sampleC * math.sqrt(n.toDouble * k.toDouble))
    val ppm = math.ceil(1000000.0 * s / n).toLong
    val h = graft.functions.TextFunctions.tokenHash60(
      concat(lit("ksamp:"), col(id).cast("string")))
    val samp = corpus.filter(pmod(h, lit(1000000L)) < lit(ppm))
    // seeds: first k sample rows by id — a top-k (TakeOrdered), not a
    // global sort
    val seeds = readSeeds(samp.orderBy(col(id)).limit(k), id, vec)
    require(seeds.nonEmpty || n == 0,
      s"deterministic hash sample selected 0 of $n rows (ppm=$ppm): raise " +
        f"sampleC to at least √(n/k) = ${math.sqrt(n.toDouble / k)}%.3f to sample every row")
    lloyd(samp, vec, seeds, m = 1, iters).head
  }

  /** One linear argmin pass: assign every vector to its nearest (squared
    * L2) centroid — indexing a new batch with a FROZEN quantizer.
    */
  def assignToCentroids(corpus: DataFrame, id: String, vec: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    corpus.select(col(id), nearest(col(vec), cents).as("cluster"))

  /** Greedy k-center coreset (farthest-point traversal, the 2-approx
    * k-center heuristic; the diverse-subset-selection stage of
    * embedding-based data curation — pick k maximally-spread exemplars,
    * then study/assign the corpus by its nearest exemplar). Seed = the
    * minimum-id vector; each round adds the vector FARTHEST (max min
    * squared-L2, quantized to 6 decimals, ties → smaller id) from the
    * centers chosen so far. Output: every corpus vector with its nearest
    * chosen center, the quantized distance, and an `is_center` flag.
    *
    * Scale shape: k−1 selection rounds, each ONE linear scan evaluating
    * ≤k codegen-fold center distances per row and reducing via a 1-row
    * TakeOrdered — centers live driver-side as model state (k×dim
    * doubles, the same contract as [[kMeansCentroids]]); no shuffle
    * anywhere. Total work O(k²·n·dim) — the standard greedy k-center
    * cost; for k beyond a few hundred, switch to the sampled/hierarchical
    * variant rather than growing k linearly with the corpus.
    *
    * Distances are quantized (ROUND(·,6)) BEFORE every comparison on both
    * engines, so selection and assignment are engine-portable; duplicate
    * vectors tie at distance 0 and resolve by id deterministically.
    */
  def kCenterCoreset(
      corpus: DataFrame, id: String, vec: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val vd = VectorFunctions.asDouble(col(vec))
    def distTo(center: Seq[Double]): Column =
      round(aggregate(
        zip_with(vd, array(center.map(lit): _*), (x, m) => (x - m) * (x - m)),
        lit(0.0), (acc, x) => acc + x), 6)
    // an empty corpus reads no seed, and then no round adds a center
    var centers = readSeeds(corpus.orderBy(col(id)).limit(1), id, vec)
    for (_ <- 2 to k if centers.nonEmpty) {
      val mind = centers.map(c => distTo(c._2)).reduce(least(_, _))
      centers ++= readSeeds(corpus.orderBy(mind.desc, col(id)).limit(1), id, vec)
    }
    val best =
      if (centers.isEmpty) lit(null).cast("struct<d:double,c:bigint>")
      else element_at(array_sort(array(centers.map { case (cid, cv) =>
        struct(distTo(cv).as("d"), lit(cid).as("c")) }: _*)), 1)
    corpus
      .select(col(id), best.as("__best"))
      .select(col(id),
        col("__best.c").as("nearest_center"), col("__best.d").as("dist_r"),
        col(id).isin(centers.map(_._1): _*).as("is_center"))
  }

  /** Shared CTE chain replaying [[kMeansAssign]] in SQL: unrolled Lloyd
    * rounds ending in `kassign(vec_id, cluster)`. `k` is a SQL expression
    * (a literal for the fixed-k rows; a COUNT(*)-derived scalar subquery
    * for the scale-parameterized row — the Lloyd unrolling is per
    * ITERATION, so the chain itself is k-independent).
    */
  private def kMeansCtes(k: String, iters: Int): String =
    s"""$EvCte,
       |c0 AS (SELECT vec_id AS cl, pos, x AS m FROM ev WHERE vec_id < $k),
       |${kMeansRoundCtes("ev", iters)}""".stripMargin

  /** The sampled-training twin of [[kMeansCtes]] — DuckDB replay of
    * [[sampledKMeansCentroids]] + one full-corpus assignment: the sample
    * CTE is the same md5-threshold filter Spark computes (ppm from
    * COUNT(*) with identical double arithmetic — SQRT is IEEE
    * correctly-rounded on both engines), seeds are the k smallest sample
    * ids via a ROW_NUMBER cutoff (a scalar subquery, since LIMIT-by-
    * subquery support varies), the Lloyd rounds run over the sample CTE
    * only, and only `final_d`/`kassign` touch the full corpus.
    * `kAgg` is an aggregate expression over `embeddings`, e.g.
    * `CEIL(SQRT(COUNT(*)))` or `CEIL(COUNT(*) / 64.0)`.
    */
  private def kMeansSampledCtes(
      kAgg: String, iters: Int, sampleC: Double): String =
    s"""$EvCte,
       |prm AS (SELECT COUNT(*) AS n, CAST($kAgg AS BIGINT) AS k FROM embeddings),
       |prm2 AS (SELECT n, k,
       |           CAST(CEIL(1000000.0 * CEIL($sampleC * SQRT(CAST(n AS DOUBLE) * k)) / n) AS BIGINT) AS ppm
       |         FROM prm),
       |samp AS (SELECT e.vec_id FROM embeddings e, prm2 p
       |         WHERE ('0x' || substr(md5('ksamp:' || CAST(e.vec_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < p.ppm),
       |evs AS (SELECT ev.* FROM ev JOIN samp USING (vec_id)),
       |seeds AS (SELECT vec_id FROM (
       |    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM samp)
       |  WHERE rn <= (SELECT k FROM prm2)),
       |c0 AS (SELECT e.vec_id AS cl, e.pos, e.x AS m FROM evs e
       |       JOIN seeds s ON s.vec_id = e.vec_id),
       |${kMeansRoundCtes("evs ev", iters)}""".stripMargin

  /** The k-means rounds over `train` (all of `ev`, or the sample `evs`)
    * from `c0`, then the full-corpus assignment `kassign(vec_id, cluster)`.
    */
  private def kMeansRoundCtes(train: String, iters: Int): String =
    s"""${lloydCtes("", train, Nil, iters)},
       |${argMinCtes("final_d", 12, "kassign", 2, "ev", Nil, s"c$iters", " AS cluster")}""".stripMargin

  /** The one Lloyd CTE-round generator: `iters` unrolled rounds over the
    * exploded vectors `train` (`relation [alias]`) from `${p}c0`, each a
    * distance table `${p}d_i`, an argmin `${p}a_i` and the micros-exact
    * mean `${p}c_i` (Det contract). `keys` are extra grouping keys (PQ's
    * `sub`); `p` prefixes the CTE names.
    */
  private def lloydCtes(p: String, train: String, keys: Seq[String], iters: Int): String = {
    val al = train.split(' ').last
    val pad = " " * (p.length + 8)
    val groupSep = if (keys.isEmpty) " " else "\n" + pad
    (1 to iters).map { i =>
      s"""${argMinCtes(s"${p}d$i", pad.length, s"${p}a$i", 4, train, keys, s"${p}c${i - 1}", "")},
         |${p}c$i AS (SELECT a.cl, ${keys.map(k => s"$al.$k, ").mkString}$al.pos,
         |$pad  CAST(SUM(CAST(ROUND(($al.x)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0/COUNT(*) AS m
         |${pad}FROM ${p}a$i a JOIN $train ON $al.vec_id = a.vec_id${keys.map(k => s" AND $al.$k = a.$k").mkString}${groupSep}GROUP BY ${groupByOrdinals(keys)})""".stripMargin
    }.mkString(",\n")
  }

  /** One Lloyd assignment step in SQL: the rounded squared-L2 distance
    * table `d` of `src` against the centroids `cents`, then its argmin `a`
    * (ties → smaller label) per vector and `keys`. The pads are the
    * generated text's indentation.
    */
  private def argMinCtes(d: String, dPad: Int, a: String, aPad: Int, src: String,
      keys: Seq[String], cents: String, clAs: String): String = {
    val al = src.split(' ').last
    val ks = keys.map(_ + ", ").mkString
    val sp = " " * aPad
    s"""$d AS (SELECT $al.vec_id, ${keys.map(k => s"$al.$k, ").mkString}c.cl, ROUND(SUM(($al.x - c.m)*($al.x - c.m)), 6) AS dist
       |${" " * dPad}FROM $src JOIN $cents c ON c.pos = $al.pos GROUP BY ${groupByOrdinals(keys)}),
       |$a AS (SELECT vec_id, ${ks}cl$clAs FROM (
       |${sp}SELECT vec_id, ${ks}cl,
       |$sp  ROW_NUMBER() OVER (PARTITION BY vec_id${keys.map(", " + _).mkString} ORDER BY dist, cl) AS rn
       |${sp}FROM $d) WHERE rn = 1)""".stripMargin
  }

  private def groupByOrdinals(keys: Seq[String]): String = (1 to keys.size + 2).mkString(", ")

  /** Oracle for [[semanticNearDupPairsSampled]]: the sampled Lloyd chain
    * ([[kMeansSampledCtes]]), then the same exact intra-cluster pairwise
    * cosine as [[semanticOracleSqlFor]].
    */
  private[graft] def semanticOracleSqlSampled(
      kAgg: String, iters: Int, threshold: Double, sampleC: Double): String =
    s"""WITH ${kMeansSampledCtes(kAgg, iters, sampleC)},
       |${semanticPairsSqlTail(threshold)}""".stripMargin

  /** DuckDB replay of [[kCenterCoreset]]: unrolled greedy rounds — each
    * round's argmax over the running quantized min-distance (ties →
    * smaller id) picks the next center — then nearest-center assignment
    * over all k per-center distance tables.
    */
  private[graft] def kCenterOracleSql(k: Int): String = {
    val rounds = (1 until k).map { i =>
      s"""s$i AS (SELECT vec_id AS cid FROM (
         |    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY mind DESC, vec_id) AS rn
         |    FROM m${i - 1}) WHERE rn = 1),
         |c$i AS (SELECT pos, x FROM ev WHERE vec_id = (SELECT cid FROM s$i)),
         |d$i AS (SELECT ev.vec_id, ROUND(SUM((ev.x - c.x)*(ev.x - c.x)), 6) AS dist
         |        FROM ev JOIN c$i c ON c.pos = ev.pos GROUP BY 1),
         |m$i AS (SELECT m.vec_id, LEAST(m.mind, d.dist) AS mind
         |        FROM m${i - 1} m JOIN d$i d ON d.vec_id = m.vec_id)""".stripMargin
    }.mkString(",\n")
    val allD = (0 until k).map(i =>
      s"SELECT vec_id, (SELECT cid FROM s$i) AS cid, dist FROM d$i")
      .mkString("\n  UNION ALL ")
    val centIds = (0 until k).map(i => s"SELECT cid FROM s$i").mkString(" UNION ALL ")
    s"""WITH $EvCte,
       |s0 AS (SELECT MIN(vec_id) AS cid FROM embeddings),
       |c0 AS (SELECT pos, x FROM ev WHERE vec_id = (SELECT cid FROM s0)),
       |d0 AS (SELECT ev.vec_id, ROUND(SUM((ev.x - c.x)*(ev.x - c.x)), 6) AS dist
       |       FROM ev JOIN c0 c ON c.pos = ev.pos GROUP BY 1),
       |m0 AS (SELECT vec_id, dist AS mind FROM d0),
       |$rounds,
       |alld AS (
       |  $allD),
       |assign AS (SELECT vec_id, cid AS nearest_center, dist AS dist_r FROM (
       |    SELECT vec_id, cid, dist,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM alld) WHERE rn = 1)
       |SELECT a.vec_id, a.nearest_center, a.dist_r,
       |  a.vec_id IN ($centIds) AS is_center
       |FROM assign a ORDER BY a.vec_id""".stripMargin
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs found by
    * clustering the embedding space with [[kMeansAssign]] and comparing
    * vectors ONLY within their cluster. Output: `(vec_a, vec_b, cluster,
    * sim)` for every same-cluster pair with cosine ≥ `threshold` — a
    * dedup pass would keep one representative per connected group
    * (compose with [[TrainingData]]'s component resolution).
    *
    * Scale shape: the quadratic all-pairs comparison is confined to one
    * cluster at a time by a cluster-keyed equi-join — O(Σ cᵢ²) instead of
    * O(n²). k is the knob: pick k ≈ n / target-cluster-size so clusters
    * stay bounded (SemDeDup used k ≈ √n at web scale); the join shuffles
    * on the cluster key, so AQE's skew split handles an unbalanced
    * clustering. The k-means build itself is linear per round.
    *
    * k must GROW with the corpus — a fixed k is the quadratic null:
    * `StressScale sem` measures the 10× stress corpus at 17.1 s / 28k
    * pairs with k=8 (clusters 10× bigger → ~100× intra-cluster pairs)
    * vs 7.6 s / bounded clusters with k=80 (NOTES_r8.md table).
    *
    * Because of that, a FIXED k is an explicit opt-in: calls must pass
    * `fixedK = true` (used to pin the k-parameterized semantics against
    * the oracle at a known scale) — the default REJECTS the call and
    * points at [[semanticNearDupPairsScaled]], the k ∝ n form a 100 TB
    * caller uses. An API that silently accepted a constant k at scale
    * would hide a ~100× blowup behind a correct-looking signature.
    */
  def semanticNearDupPairs(
      corpus: DataFrame, id: String, vec: String, k: Int, iters: Int,
      threshold: Double, fixedK: Boolean = false): DataFrame = {
    require(fixedK,
      "semanticNearDupPairs with a constant k is quadratic at scale " +
        "(clusters grow with the corpus; intra-cluster pairs with its " +
        "square). Use semanticNearDupPairsScaled(targetClusterSize) — " +
        "k ∝ n — or opt in explicitly with fixedK = true.")
    sameClusterPairs(corpus, id, vec,
      assignToCentroids(corpus, id, vec, kMeansCentroids(corpus, id, vec, k, iters)), threshold)
  }

  /** The SemDeDup candidate stage shared by every clustering regime: a
    * cluster-keyed equi-self-join (quadratic work confined to one cluster
    * at a time, shuffled on the cluster key so AQE's skew split handles
    * an unbalanced clustering) + exact cosine + threshold.
    */
  private def sameClusterPairs(corpus: DataFrame, id: String, vec: String,
      assign: DataFrame, threshold: Double): DataFrame = {
    val v = corpus.join(assign, id)
    v.as("a").join(v.as("b"),
        col("a.cluster") === col("b.cluster") && col(s"a.$id") < col(s"b.$id"))
      .select(
        col(s"a.$id").as("vec_a"), col(s"b.$id").as("vec_b"),
        col("a.cluster").as("cluster"),
        VectorFunctions.cosine(col(s"a.$vec"), col(s"b.$vec")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Contrastive triplet mining for embedding-model training: for every
    * ANCHOR that has a semantic near-duplicate (cosine ≥ `posThreshold`
    * within its k-means cluster), emit `(anchor, positive, negative)`
    * where the negative is the HARD one — the same-cluster vector with
    * the highest cosine strictly below `negMargin` (maximally confusable
    * yet clearly not a duplicate; ties → smaller id). Anchors whose
    * cluster holds no sub-margin vector drop out (no valid negative).
    *
    * Scale shape: one same-cluster pair join (bounded per cluster by the
    * k ∝ n sizing, `k = ⌈n/targetClusterSize⌉` — same contract as
    * [[semanticNearDupPairsScaled]]) computes every candidate cosine
    * ONCE; positives filter it, negatives take one row_number window per
    * anchor over the same bounded candidate set. No corpus-wide window,
    * no second pairwise pass.
    */
  def contrastiveTriplets(
      corpus: DataFrame, id: String, vec: String, targetClusterSize: Int,
      iters: Int, posThreshold: Double, negMargin: Double): DataFrame = {
    require(targetClusterSize > 0, s"targetClusterSize must be > 0, got $targetClusterSize")
    require(negMargin < posThreshold,
      s"negMargin ($negMargin) must sit below posThreshold ($posThreshold)")
    val k = math.max(
      math.ceil(corpus.count() / targetClusterSize.toDouble).toInt, 1)
    val v = corpus.join(
      assignToCentroids(corpus, id, vec, kMeansCentroids(corpus, id, vec, k, iters)), id)
    val sims = v.as("a").join(v.as("b"),
        col("a.cluster") === col("b.cluster") && col(s"a.$id") =!= col(s"b.$id"))
      .select(col(s"a.$id").as("anchor"), col(s"b.$id").as("other"),
        col("a.cluster").as("cluster"),
        VectorFunctions.cosine(col(s"a.$vec"), col(s"b.$vec")).as("sim"))
    val positives = sims.filter(col("sim") >= posThreshold)
      .select(col("anchor"), col("other").as("positive"), col("cluster"),
        col("sim").as("sim_pos"))
    val wN = Window.partitionBy("anchor").orderBy(col("sim").desc, col("other"))
    val negatives = sims.filter(col("sim") < negMargin)
      .withColumn("rn", row_number().over(wN)).filter(col("rn") === 1)
      .select(col("anchor"), col("other").as("negative"), col("sim").as("sim_neg"))
    positives.join(negatives, "anchor")
      .select(col("anchor"), col("positive"), col("negative"), col("cluster"),
        round(col("sim_pos"), 6).as("sim_pos_r"),
        round(col("sim_neg"), 6).as("sim_neg_r"))
      .orderBy("anchor", "positive")
  }

  /** DuckDB replay of [[contrastiveTriplets]]: the scaled Lloyd chain,
    * ALL same-cluster directed-pair cosines once, then the positive
    * filter and the per-anchor hardest-negative window.
    */
  private[graft] def contrastiveOracleSql(
      targetClusterSize: Int, iters: Int, pos: Double, neg: Double): String =
    s"""WITH ${kMeansCtes(kPerCluster(targetClusterSize), iters)},
       |vn AS (SELECT vec_id, SUM(x*x) AS n2 FROM ev GROUP BY 1),
       |cp AS (SELECT a.vec_id AS anchor, b.vec_id AS other, a.cluster AS cl
       |       FROM kassign a JOIN kassign b
       |         ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
       |dots AS (SELECT p.anchor, p.other, p.cl, SUM(ea.x * eb.x) AS dot
       |         FROM cp p JOIN ev ea ON ea.vec_id = p.anchor
       |                   JOIN ev eb ON eb.vec_id = p.other AND eb.pos = ea.pos
       |         GROUP BY 1, 2, 3),
       |sims AS (SELECT anchor, other, cl, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS sim
       |         FROM dots JOIN vn na ON na.vec_id = anchor
       |                   JOIN vn nb ON nb.vec_id = other),
       |pos AS (SELECT anchor, other AS positive, cl, sim AS sim_pos
       |        FROM sims WHERE sim >= $pos),
       |neg AS (SELECT anchor, other AS negative, sim AS sim_neg FROM (
       |    SELECT anchor, other, sim,
       |      ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY sim DESC, other) AS rn
       |    FROM sims WHERE sim < $neg) WHERE rn = 1)
       |SELECT p.anchor, p.positive, n.negative, p.cl AS cluster,
       |  ROUND(p.sim_pos, 6) AS sim_pos_r, ROUND(n.sim_neg, 6) AS sim_neg_r
       |FROM pos p JOIN neg n USING (anchor)
       |ORDER BY anchor, positive""".stripMargin

  /** The k ∝ n contract of [[semanticNearDupPairs]] as code: k =
    * ⌈n / targetClusterSize⌉, so EXPECTED cluster size stays constant as
    * the corpus grows and the per-cluster quadratic stays bounded — the
    * sizing rule a 100 TB caller actually uses (a fixed k is the
    * quadratic null: clusters grow with n and intra-cluster pairs with
    * n²). The one `count()` is a driver scalar, same sanctioned
    * model-state round-trip as the k-means seeds themselves.
    */
  def semanticNearDupPairsScaled(
      corpus: DataFrame, id: String, vec: String, targetClusterSize: Int,
      iters: Int, threshold: Double): DataFrame = {
    require(targetClusterSize > 0, s"targetClusterSize must be > 0, got $targetClusterSize")
    val k = math.ceil(corpus.count() / targetClusterSize.toDouble).toInt
    semanticNearDupPairs(corpus, id, vec, math.max(k, 1), iters, threshold, fixedK = true)
  }

  /** [[semanticNearDupPairs]] at the SemDeDup paper's operating point,
    * k = ⌈√n⌉ — the sizing that BALANCES the build's two cost terms.
    * The k ∝ n contract ([[semanticNearDupPairsScaled]]) keeps the pair
    * join linear but makes the Lloyd ASSIGNMENT quadratic (O(n·k·d) with
    * k = n/c is n²·d/c — measured 38.9× for 10× data at the 100× tier,
    * ~95% of it the assignment by the op-count arithmetic); k = √n puts
    * assignment AND expected intra-cluster pairs both at O(n^1.5·d),
    * the best single-level exact-SemDeDup exponent. Past that, the
    * registered linear path for embedding near-dup at the 100 TB tier is
    * SRP-LSH bucketing (`dedup_embedding_srp`).
    */
  def semanticNearDupPairsSqrtK(
      corpus: DataFrame, id: String, vec: String,
      iters: Int, threshold: Double): DataFrame = {
    val k = math.max(math.ceil(math.sqrt(corpus.count().toDouble)).toInt, 1)
    semanticNearDupPairs(corpus, id, vec, k, iters, threshold, fixedK = true)
  }

  /** SemDeDup with SAMPLED-centroid training ([[sampledKMeansCentroids]]):
    * the codebook is trained on a deterministic hash sample of
    * ⌈sampleC·√(n·k)⌉ vectors, then the FULL corpus is assigned exactly
    * once, then the usual bounded intra-cluster pair join. This is the
    * regime a 100 TB SemDeDup pass actually runs (FAISS practice: train
    * on a sample, never iterate Lloyd over the corpus).
    *
    * The four exact-SemDeDup regimes, side by side (d = dims, T =
    * target cluster size, iters fixed; r18's sf10 probe measured the
    * full-corpus rows — NOTES_r18 §4):
    *  - fixed k ([[semanticNearDupPairs]], explicit opt-in): clusters
    *    grow with n → intra-cluster pairs O(n²/k). The quadratic null.
    *  - k ∝ n full training ([[semanticNearDupPairsScaled]]): pairs
    *    linear (O(n·T)) but Lloyd runs (iters+1)·n·k·d = O(n²·d·iters/T)
    *    — measured 38.9× per 10× data, the probe's one super-linear row.
    *  - k = ⌈√n⌉ full training ([[semanticNearDupPairsSqrtK]]):
    *    assignment and pairs balanced at O(n^1.5·d) each, ×(iters+1)
    *    full passes — measured 13.5× per 10×.
    *  - SAMPLED training (this): training O(iters·√(n·k)·k·d) on the
    *    sample + ONE full assignment O(n·k·d) + pairs. At k = ⌈√n⌉ the
    *    total is a single O(n^1.5·d) pass instead of (iters+1) of them —
    *    the best exact single-level operating point. At k ∝ n the single
    *    assignment pass is STILL O(n²·d/T) by itself: sampling removes
    *    the training multiplier, not the assignment exponent.
    * Measured (solo filtered protocol, sf1 = 50k vecs → sf10 = 500k,
    * NOTES_r19 §1): k ∝ n sampled 2.75 s → 99.1 s (36× — the arithmetic
    * above, confirmed); √n sampled 2.63 s → 32.3 s (12.3×, the cheapest
    * regime at BOTH scales — the recommended exact operating point).
    * Past n^1.5, the registered linear path for embedding near-dup is
    * SRP-LSH bucketing (`dedup_embedding_srp`).
    *
    * `k` is the caller's choice (pass ⌈√n⌉ for the paper's operating
    * point, ⌈n/T⌉ for bounded clusters); determinism and oracle
    * replayability per [[sampledKMeansCentroids]].
    */
  def semanticNearDupPairsSampled(
      corpus: DataFrame, id: String, vec: String, k: Int, iters: Int,
      threshold: Double, sampleC: Double = 2.0): DataFrame = {
    val cents = sampledKMeansCentroids(corpus, id, vec, k, iters, sampleC)
    sameClusterPairs(corpus, id, vec, assignToCentroids(corpus, id, vec, cents), threshold)
  }

  /** DuckDB replay of [[semanticNearDupPairs]]: the Lloyd CTE chain with
    * seed cutoff `k` (a SQL expression), then exact intra-cluster pairwise
    * cosine. With [[kPerCluster]] the cutoff is computed from COUNT(*)
    * INSIDE the SQL — one static string that tracks the corpus size at
    * whatever scale it runs, proving the k ∝ n contract of
    * [[semanticNearDupPairsScaled]] end-to-end at every scale tier.
    */
  private[graft] def semanticOracleSqlFor(k: String, iters: Int, threshold: Double): String =
    s"""WITH ${kMeansCtes(k, iters)},
       |${semanticPairsSqlTail(threshold)}""".stripMargin

  /** The k ∝ n seed cutoff k = ⌈n / targetClusterSize⌉ as SQL. */
  private def kPerCluster(targetClusterSize: Int): String =
    s"(SELECT CAST(CEIL(COUNT(*) / $targetClusterSize.0) AS BIGINT) FROM embeddings)"

  /** The intra-cluster pairwise-cosine tail shared by every SemDeDup
    * oracle: expects `ev` (exploded vectors) and `kassign`
    * (vec_id → cluster) CTEs in scope.
    */
  private def semanticPairsSqlTail(threshold: Double): String =
    s"""vn AS (SELECT vec_id, SUM(x*x) AS n2 FROM ev GROUP BY 1),
       |cpair AS (SELECT a.vec_id AS va, b.vec_id AS vb, a.cluster AS cl
       |          FROM kassign a JOIN kassign b
       |            ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
       |dots AS (SELECT p.va, p.vb, p.cl, SUM(ea.x * eb.x) AS dot
       |         FROM cpair p JOIN ev ea ON ea.vec_id = p.va
       |                      JOIN ev eb ON eb.vec_id = p.vb AND eb.pos = ea.pos
       |         GROUP BY 1, 2, 3),
       |sims AS (SELECT va, vb, cl, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS sim
       |         FROM dots JOIN vn na ON na.vec_id = va
       |                   JOIN vn nb ON nb.vec_id = vb)
       |SELECT va AS vec_a, vb AS vec_b, cl AS cluster, ROUND(sim, 6) AS sim_r
       |FROM sims WHERE sim >= $threshold ORDER BY vec_a, vec_b""".stripMargin

  /** DuckDB replay of [[kMeansAssign]]. */
  private[graft] def kMeansOracleSql(k: Int, iters: Int): String =
    s"""WITH ${kMeansCtes(k.toString, iters)}
       |SELECT vec_id, cluster FROM kassign ORDER BY vec_id""".stripMargin

  /** DuckDB replay of the full real-IVF path: k-means index build →
    * per-cluster mean centroids → probe top-`nprobe` by cosine →
    * bucket-restricted exact ranking (same probe chain as `ann_topk_ivf`,
    * with k-means clusters instead of fixture labels).
    */
  private[graft] def ivfKMeansOracleSql(k: Int, iters: Int, nprobe: Int, topK: Int): String =
    ivfOracleSql(kMeansCtes(k.toString, iters), KMeansCent,
      """pairs AS (SELECT p.query_id, ka.vec_id AS neighbor_id
        |          FROM probed p JOIN kassign ka ON ka.cluster = p.bucket
        |          WHERE ka.vec_id <> p.query_id)""".stripMargin, nprobe, topK)

  /** DuckDB replay of [[ivfTopK]]: `prefix` defines `ev` and the buckets,
    * `cent` their mean centroids; after the probe chain, `pairs(query_id,
    * neighbor_id)` holds the probed buckets' members, ranked exactly.
    */
  private def ivfOracleSql(prefix: String, cent: String, pairs: String,
      nprobe: Int, topK: Int): String =
    s"""WITH $prefix,
       |${probeCtes(cent, nprobe, 20)},
       |$pairs,
       |pdots AS (SELECT pr.query_id, pr.neighbor_id, SUM(eq.x * en.x) AS dot
       |          FROM pairs pr
       |          JOIN ev eq ON eq.vec_id = pr.query_id
       |          JOIN ev en ON en.vec_id = pr.neighbor_id AND en.pos = eq.pos
       |          GROUP BY 1, 2),
       |sims AS (SELECT pd.query_id, pd.neighbor_id,
       |           pd.dot / (sqrt(nq.n2) * sqrt(nn.n2)) AS sim
       |         FROM pdots pd JOIN vnorm nq ON nq.vec_id = pd.query_id
       |                       JOIN vnorm nn ON nn.vec_id = pd.neighbor_id),
       |${simTopKSql(topK)}""".stripMargin

  /** Mean centroids of the k-means clusters in `kassign`. */
  private val KMeansCent: String =
    """cent AS (SELECT ka.cluster AS bucket, ev.pos, AVG(ev.x) AS m
      |         FROM ev JOIN kassign ka ON ka.vec_id = ev.vec_id GROUP BY 1, 2)""".stripMargin

  /** The one probe CTE chain: the bucket centroids `cent(bucket, pos, m)`,
    * then each query's (vec_id < `queryCut`) `nprobe` nearest buckets by
    * cosine, ties → smaller bucket: `probed(query_id, bucket)`. Also
    * defines `vnorm(vec_id, n2)`.
    */
  private def probeCtes(cent: String, nprobe: Int, queryCut: Int): String =
    s"""$cent,
       |cnorm AS (SELECT bucket, SUM(m*m) AS n2 FROM cent GROUP BY 1),
       |vnorm AS (SELECT vec_id, SUM(x*x) AS n2 FROM ev GROUP BY 1),
       |qdots AS (SELECT ev.vec_id AS query_id, c.bucket, SUM(ev.x * c.m) AS dot
       |          FROM ev JOIN cent c ON c.pos = ev.pos
       |          WHERE ev.vec_id < $queryCut GROUP BY 1, 2),
       |csims AS (SELECT q.query_id, q.bucket,
       |            q.dot / (sqrt(vn.n2) * sqrt(cn.n2)) AS csim
       |          FROM qdots q JOIN vnorm vn ON vn.vec_id = q.query_id
       |                       JOIN cnorm cn ON cn.bucket = q.bucket),
       |probed AS (SELECT query_id, bucket FROM (
       |    SELECT query_id, bucket,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY csim DESC, bucket) AS crank
       |    FROM csims) WHERE crank <= $nprobe)""".stripMargin

  /** The cosine top-k tail of the exact-ranking oracles: each query's
    * `topK` most similar rows of `sims(query_id, neighbor_id, sim)`.
    */
  private def simTopKSql(topK: Int): String =
    s"""ranked AS (SELECT query_id, neighbor_id,
       |             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank,
       |             ROUND(sim, 6) AS sim_r
       |           FROM sims)
       |SELECT query_id, neighbor_id, rank, sim_r FROM ranked
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  /** Product-quantization ANN (PQ, Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): each vector is split
    * into `m` subvectors; every subspace trains its own Lloyd codebook of
    * `kc` codewords; a vector's index entry is its `m` nearest-codeword
    * codes — a 64-float embedding compresses to 4 small ints at m=4, and
    * the corpus is never decoded again. Queries rank candidates by
    * ASYMMETRIC distance (ADC): per query an m×kc lookup table of exact
    * query-subvector ↔ codeword squared-L2 distances is built, and a
    * candidate's approximate distance is the sum of its m table entries.
    *
    * Determinism contract (the [[kMeansAssign]] discipline, per
    * subspace): shared seeds = the vectors whose id is below `kc`, fixed
    * `iters` rounds, 6dp-rounded argmin with ties to the smallest code,
    * Det-micros centroid means. ADC table entries are micros-quantized
    * BIGINTs, so each candidate's m-term sum is integer-exact and
    * summation-order-independent — the oracle replay is hash-exact.
    *
    * Scale shape: training/encoding are linear passes through the
    * codegen'd [[graft.plans.VectorKernels.l2ArgMin]] kernel on sliced
    * subvector views (codebooks = m·kc·(dim/m) doubles of model state,
    * the sanctioned MLlib-style driver round-trip). The ADC scan is one
    * broadcast-hash join of the (vec, sub, code) table against the
    * |Q|·m·kc lookup table — batch-sized, same [[BroadcastProbeLimit]]
    * reasoning as [[ivfTopK]] — plus an integer sum and per-query top-k.
    * After encoding, no shuffle ever touches the raw vectors: at 100 TB
    * the served index is the code table, ~64× smaller than the corpus.
    */
  def pqTopK(corpus: DataFrame, id: String, vec: String, m: Int, kc: Int,
      iters: Int, k: Int, queryPred: Column): DataFrame = {
    val model = pqTrain(corpus, id, vec, m, kc, iters)
    pqTopKWithModel(corpus, id, vec, model, k, queryPred)
  }

  /** [[pqTopK]] with PRE-TRAINED codebooks: encode the corpus and rank per
    * call, training amortized across calls — the batch-indexing deployment
    * shape (codebooks are trained rarely and frozen; every new data batch
    * is encoded with them). Encoding is deterministic, so results are
    * hash-identical to the train-inline form.
    */
  def pqTopKWithModel(corpus: DataFrame, id: String, vec: String,
      model: PqModel, k: Int, queryPred: Column): DataFrame = {
    val codeRows = pqCodeRows(corpus, id, vec, model)
    val qd = pqLookupTables(corpus.filter(queryPred), id, vec, model)
    adcTopK(codeRows, qd, k, cand = None)
  }

  /** Shared ADC ranking tail: join the (neighbor_id, sub, code) index
    * against the broadcast query lookup tables (restricted to `cand`idate
    * pairs when an IVF probe supplied them), integer-sum the m per-sub
    * distances, and keep each query's k nearest. The only data-sized
    * input is the code table — raw vectors never enter this plan.
    */
  private def adcTopK(codeRows: DataFrame, qd: DataFrame, k: Int,
      cand: Option[DataFrame]): DataFrame = {
    val q = qd.withColumnRenamed("cl", "code")
    val pairs = cand match {
      case Some(c) => c.join(codeRows, Seq("neighbor_id"))
        .join(broadcast(q), Seq("query_id", "sub", "code"))
      case None => codeRows.join(broadcast(q), Seq("sub", "code"))
    }
    topPerQuery(pairs.groupBy("query_id", "neighbor_id").agg(sum("du").as("adist_u"))
      .filter(col("neighbor_id") =!= col("query_id")), k, col("adist_u").asc)
      .select("query_id", "neighbor_id", "rank", "adist_u")
  }

  /** Trained PQ codebooks: per subspace, (code id, centroid) pairs. */
  private[graft] final case class PqModel(
      m: Int, subLen: Int, cents: IndexedSeq[Seq[(Long, Seq[Double])]])

  /** Train the m per-subspace Lloyd codebooks with the one trainer
    * (seeds = the subvectors of the vectors whose id is below `kc`; fixed
    * `iters` rounds). An empty corpus trains empty codebooks.
    */
  private[graft] def pqTrain(corpus: DataFrame, id: String, vec: String,
      m: Int, kc: Int, iters: Int): PqModel = {
    val seeds = idSeeds(corpus, id, vec, kc)
    val dim = seeds.headOption.fold(m)(_._2.length)
    require(m > 0 && dim % m == 0, s"pq: dim $dim not divisible into m=$m subspaces")
    PqModel(m, dim / m, lloyd(corpus, vec, seeds, m, iters))
  }

  /** Encode: one pass, n·m (neighbor_id, sub, code) rows — the PQ index. */
  private[graft] def pqCodeRows(corpus: DataFrame, id: String, vec: String,
      model: PqModel): DataFrame =
    corpus.select(col(id).as("neighbor_id"),
      posexplode(subCodes(vec, model.subLen, model.cents)).as(Seq("sub", "code")))

  /** Query-side ADC lookup tables: (query_id, sub, cl, du) with du the
    * micros-quantized exact query-subvector ↔ codeword squared-L2
    * distance, so downstream m-term sums are integer-exact.
    */
  private[graft] def pqLookupTables(queries: DataFrame, id: String, vec: String,
      model: PqModel): DataFrame = {
    val spark = queries.sparkSession
    val vd = VectorFunctions.asDouble(col(vec))
    val subIdx = (col("pos") / lit(model.subLen)).cast("int")
    val centRows = for {
      j <- 0 until model.m; (cl, v) <- model.cents(j); (x, p) <- v.zipWithIndex
    } yield (j, cl, p, x)
    val centsDf = spark.createDataFrame(centRows).toDF("sub", "cl", "spos", "cm")
    queries
      .select(col(id).as("query_id"), posexplode(vd).as(Seq("pos", "x")))
      .select(col("query_id"), subIdx.as("sub"), (col("pos") % model.subLen).as("spos"), col("x"))
      .join(broadcast(centsDf), Seq("sub", "spos"))
      .groupBy("query_id", "sub", "cl")
      .agg(round(sum((col("x") - col("cm")) * (col("x") - col("cm"))) * 1e6, 0)
        .cast("long").as("du"))
  }

  /** IVF-PQ — the canonical billion-scale ANN index shape (FAISS
    * `IVFPQ`, non-residual variant): a coarse k-means quantizer of
    * `nlist` clusters routes each query to its `nprobe`
    * nearest-by-cosine clusters, and ONLY vectors in the probed clusters
    * are ranked, by PQ asymmetric distance over their m codes. Trains
    * the coarse quantizer ([[kMeansCentroids]]) and the codebooks in
    * memory, then runs the same probe → candidates → ADC path as the
    * frozen and served forms — both determinism contracts compose, so
    * the whole index is still hash-exactly replayable.
    *
    * Scale shape: scan cost drops from O(n·m) table lookups per query to
    * O(n·m·nprobe/nlist); memory stays the m-codes table. The probed
    * cluster list (|Q|·nprobe rows, no vectors) is broadcast — orders of
    * magnitude smaller than [[ivfTopK]]'s vector-carrying probed set, so
    * the [[BroadcastProbeLimit]] switch is not needed until far larger
    * batches.
    */
  def ivfPqTopK(corpus: DataFrame, id: String, vec: String,
      nlist: Int, nprobe: Int, m: Int, kc: Int, iters: Int, k: Int,
      queryPred: Column): DataFrame = {
    val assign = assignToCentroids(corpus, id, vec,
      kMeansCentroids(corpus, id, vec, nlist, iters))
    val model = pqTrain(corpus, id, vec, m, kc, iters)
    ivfPqRank(corpus.filter(queryPred), id, vec,
      centroids(corpus.join(assign, id), "cluster", vec),
      assign.withColumnRenamed(id, "neighbor_id"), pqCodeRows(corpus, id, vec, model),
      model, nprobe, k)
  }

  /** The one IVF-PQ ranking path: probe the coarse centroids
    * `cents(cluster, centroid)` per query, keep the corpus vectors whose
    * coarse assignment `assign(neighbor_id, cluster)` was probed, and
    * ADC-rank only their codes.
    */
  private def ivfPqRank(queries: DataFrame, id: String, vec: String,
      cents: DataFrame, assign: DataFrame, codeRows: DataFrame, model: PqModel,
      nprobe: Int, k: Int): DataFrame = {
    val probed = probe(queries.select(col(id).as("query_id"), col(vec).as("qv")),
        "query_id", "qv", cents, "cluster", nprobe)
      .select(col("query_id"), col("cluster"))
    val cand = assign.join(broadcast(probed), Seq("cluster"))
      .select("query_id", "neighbor_id")
    adcTopK(codeRows, pqLookupTables(queries, id, vec, model), k, Some(cand))
  }

  // ------------------------------------------------- persisted-index serving

  /** Build the persisted PQ serving index under `dir`: the trained
    * codebooks ([[graft.sources.ModelStore.savePq]] layout) plus the
    * encoded (neighbor_id, sub, code) table as parquet. Training and
    * encoding are paid ONCE here; [[servePqTopK]] afterwards never reads
    * a corpus vector again — the train-once / serve-everywhere split a
    * 100 TB deployment runs (index a corpus on one pass, serve from the
    * ~64×-smaller code table indefinitely).
    */
  def buildPqIndex(corpus: DataFrame, id: String, vec: String,
      m: Int, kc: Int, iters: Int, dir: String): Unit = {
    val model = pqTrain(corpus, id, vec, m, kc, iters)
    graft.sources.ModelStore.savePq(corpus.sparkSession, dir, model)
    pqCodeRows(corpus, id, vec, model).write.mode("overwrite")
      .parquet(s"$dir/codes")
  }

  /** Serve exact-ADC top-k from a [[buildPqIndex]] index: load the
    * model-sized codebooks, build the batch's broadcast lookup tables,
    * and rank the persisted code table — one linear index scan, zero
    * training cost, bit-identical to the inline [[pqTopK]].
    */
  def servePqTopK(spark: SparkSession, dir: String, queries: DataFrame,
      id: String, vec: String, k: Int): DataFrame = {
    val model = graft.sources.ModelStore.loadPq(spark, dir)
    adcTopK(readIndex(spark, dir, "codes", queries, id),
      pqLookupTables(queries, id, vec, model), k, cand = None)
  }

  /** Build the persisted IVF-PQ serving index under `dir`: coarse Lloyd
    * quantizer centroids, the per-vector coarse assignment, the PQ
    * codebooks and the code table — the full FAISS-`IVFPQ`-shaped index
    * state, all as engine-portable parquet.
    */
  def buildIvfPqIndex(corpus: DataFrame, id: String, vec: String,
      nlist: Int, m: Int, kc: Int, iters: Int, dir: String): Unit = {
    val spark = corpus.sparkSession
    val lloyd = kMeansCentroids(corpus, id, vec, nlist, iters)
    // the quantizer itself (Lloyd centroids) persists alongside the probe
    // centroids: a frozen-quantizer caller re-assigns NEW vectors against
    // these, so post-build corpus growth stays indexable
    graft.sources.ModelStore.saveCentroids(spark, s"$dir/lloyd", lloyd)
    val assign = assignToCentroids(corpus, id, vec, lloyd).orderBy(col(id))
    centroids(corpus.join(assign, id), "cluster", vec)
      .repartition(1).write.mode("overwrite").parquet(s"$dir/cents")
    assign.withColumnRenamed(id, "neighbor_id")
      .write.mode("overwrite").parquet(s"$dir/assign")
    buildPqIndex(corpus, id, vec, m, kc, iters, dir)
  }

  /** [[ivfPqTopK]] against a FROZEN [[buildIvfPqIndex]] quantizer: the
    * coarse centroids, coarse assignment and PQ codebooks come from the
    * persisted index, but the corpus is RE-ENCODED from raw vectors each
    * call — the shape of indexing a new batch with an already-trained
    * quantizer (train rarely, encode every batch). Distinct from
    * [[serveIvfPqTopK]], which also amortizes encoding and reads only the
    * persisted code table. Encoding is deterministic, so results are
    * hash-identical to the train-inline form.
    */
  def ivfPqTopKWithIndex(spark: SparkSession, dir: String,
      corpus: DataFrame, id: String, vec: String,
      nprobe: Int, k: Int, queryPred: Column): DataFrame = {
    // the CURRENT corpus is re-assigned against the frozen Lloyd
    // quantizer — NOT read from the persisted build-time assignment,
    // which only covers the build corpus and would silently exclude any
    // vector added since from every result
    val lloyd = graft.sources.ModelStore.loadCentroids(spark, s"$dir/lloyd")
    val model = graft.sources.ModelStore.loadPq(spark, dir)
    ivfPqRank(corpus.filter(queryPred), id, vec, readIndex(spark, dir, "cents", corpus, id),
      assignToCentroids(corpus, id, vec, lloyd).withColumnRenamed(id, "neighbor_id"),
      pqCodeRows(corpus, id, vec, model), model, nprobe, k)
  }

  /** Serve from a [[buildIvfPqIndex]] index: probe the broadcast coarse
    * centroids per query, restrict candidates via the persisted coarse
    * assignment, and ADC-rank only the probed clusters' codes. Scan cost
    * is the [[ivfPqTopK]] nprobe/nlist fraction of the code table; the
    * corpus itself is never read.
    */
  def serveIvfPqTopK(spark: SparkSession, dir: String, queries: DataFrame,
      id: String, vec: String, nprobe: Int, k: Int): DataFrame = {
    def read(table: String) = readIndex(spark, dir, table, queries, id)
    ivfPqRank(queries, id, vec, read("cents"), read("assign"), read("codes"),
      graft.sources.ModelStore.loadPq(spark, dir), nprobe, k)
  }

  /** A persisted index table under `dir` read with its known schema, so
    * no read runs a schema-inference job: the coarse centroids `cents`,
    * and the `assign` and `codes` tables keyed by the corpus id, whose
    * type the query batch `queries(id)` shares.
    */
  private def readIndex(spark: SparkSession, dir: String, table: String,
      queries: DataFrame, id: String): DataFrame = {
    val idType = queries.schema(id).dataType.sql
    spark.read.schema(table match {
      case "cents" => "cluster BIGINT, centroid ARRAY<DOUBLE>"
      case "assign" => s"neighbor_id $idType, cluster BIGINT"
      case "codes" => s"neighbor_id $idType, sub INT, code BIGINT"
    }).parquet(s"$dir/$table")
  }

  /** PQ CTE chain (assumes `ev(vec_id, x, pos)` is already defined):
    * per-subspace Lloyd rounds from the one round generator (the subspace
    * is a grouping key, so one unrolled chain trains all m codebooks) →
    * `codes(vec_id, sub, code)` and the query-side micros-quantized
    * lookup tables `qd(query_id, sub, cl, du)`.
    */
  private def pqCtes(m: Int, kc: Int, iters: Int, queryCut: Int, dim: Int): String =
    s"""sv AS (SELECT vec_id, CAST(FLOOR((pos - 1) / ${dim / m}.0) AS INTEGER) AS sub, pos, x FROM ev),
       |pc0 AS (SELECT vec_id AS cl, sub, pos, x AS m FROM sv WHERE vec_id < $kc),
       |${lloydCtes("p", "sv s", Seq("sub"), iters)},
       |${argMinCtes("fd", 7, "codes", 4, "sv s", Seq("sub"), s"pc$iters", " AS code")},
       |qd AS (SELECT s.vec_id AS query_id, s.sub, c.cl,
       |         CAST(ROUND(SUM((s.x - c.m)*(s.x - c.m)) * 1000000.0, 0) AS BIGINT) AS du
       |       FROM sv s JOIN pc$iters c ON c.pos = s.pos
       |       WHERE s.vec_id < $queryCut GROUP BY 1, 2, 3)""".stripMargin

  private val EvCte: String =
    """ev AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
      |              generate_subscripts(embedding, 1) AS pos FROM embeddings)""".stripMargin

  /** DuckDB replay of [[pqTopK]]: codebooks, codes, ADC tables, integer
    * sums over every candidate, per-query top-k.
    */
  private[graft] def pqOracleSql(m: Int, kc: Int, iters: Int, topK: Int,
      queryCut: Int, dim: Int = 64): String =
    s"""WITH $EvCte,
       |${pqCtes(m, kc, iters, queryCut, dim)},
       |adc AS (SELECT q.query_id, co.vec_id AS neighbor_id,
       |          CAST(SUM(q.du) AS BIGINT) AS adist_u
       |        FROM codes co JOIN qd q ON q.sub = co.sub AND q.cl = co.code
       |        WHERE co.vec_id <> q.query_id GROUP BY 1, 2),
       |${adcTopKSql(topK)}""".stripMargin

  /** DuckDB replay of [[ivfPqTopK]]: coarse Lloyd chain ([[kMeansCtes]],
    * which defines `ev` and `kassign`), the PQ chain over the same `ev`,
    * the probe chain over per-cluster mean centroids, then ADC
    * restricted to probed clusters.
    */
  private[graft] def ivfPqOracleSql(nlist: Int, nprobe: Int, m: Int, kc: Int,
      iters: Int, topK: Int, queryCut: Int, dim: Int = 64): String =
    s"""WITH ${kMeansCtes(nlist.toString, iters)},
       |${pqCtes(m, kc, iters, queryCut, dim)},
       |${probeCtes(KMeansCent, nprobe, queryCut)},
       |cand AS (SELECT p.query_id, ka.vec_id AS neighbor_id
       |         FROM probed p JOIN kassign ka ON ka.cluster = p.bucket
       |         WHERE ka.vec_id <> p.query_id),
       |adc AS (SELECT c.query_id, c.neighbor_id, CAST(SUM(q.du) AS BIGINT) AS adist_u
       |        FROM cand c JOIN codes co ON co.vec_id = c.neighbor_id
       |                    JOIN qd q ON q.query_id = c.query_id
       |                             AND q.sub = co.sub AND q.cl = co.code
       |        GROUP BY 1, 2),
       |${adcTopKSql(topK)}""".stripMargin

  /** The ADC top-k tail: each query's `topK` nearest rows of
    * `adc(query_id, neighbor_id, adist_u)`.
    */
  private def adcTopKSql(topK: Int): String =
    s"""ranked AS (SELECT query_id, neighbor_id, adist_u,
       |             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist_u, neighbor_id) AS BIGINT) AS rank
       |           FROM adc)
       |SELECT query_id, neighbor_id, rank, adist_u FROM ranked
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  /** The SRP signature/block CTE prefix shared by the SRP oracles: the ±1
    * planes are fixed-seed literals, so projections, packed signatures
    * `sig(vec_id, s)` and the 4 block keys `blk(vec_id, blk, key)` are
    * reproducible in SQL. (Sign of the projection is the only float
    * comparison; |proj| is O(1) while cross-engine summation skew is ~1
    * ulp, so the bit never flips in practice.)
    */
  private def srpBlockCtes(dim: Int, bits: Int): String = {
    val blockBits = bits / 4
    val mask = (1L << blockBits) - 1
    val planeRows = srpPlanes(bits, dim).zipWithIndex.map { case (plane, j) =>
      plane.map(v => if (v > 0) "1.0" else "-1.0").mkString(s"($j, [", ",", "])")
    }.mkString(",\n")
    s"""planes AS (
       |  SELECT j, generate_subscripts(r, 1) AS pos, unnest(r) AS r
       |  FROM (VALUES
       |$planeRows
       |  ) pl(j, r)),
       |$EvCte,
       |proj AS (SELECT vec_id, j, SUM(x * r) AS p
       |         FROM ev JOIN planes USING (pos) GROUP BY 1, 2),
       |sig AS (SELECT vec_id,
       |          CAST(SUM(CASE WHEN p >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS s
       |        FROM proj GROUP BY 1),
       |blk AS (SELECT vec_id, b AS blk, (s >> CAST(b * $blockBits AS INTEGER)) & $mask AS key
       |        FROM sig, (SELECT unnest(range(0, 4)) AS b))""".stripMargin
  }

  /** DuckDB replay of the full SRP pipeline: signatures, block keys,
    * candidates, and the exact-cosine verify — the LSH path gets a
    * hash-exact oracle, not a rows-only waiver.
    */
  private[graft] def srpOracleSql(threshold: Double, dim: Int, bits: Int): String =
    s"""WITH ${srpBlockCtes(dim, bits)},
       |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |         FROM blk x JOIN blk y
       |           ON x.blk = y.blk AND x.key = y.key AND x.vec_id < y.vec_id),
       |vnorm AS (SELECT vec_id, SUM(x*x) AS n2 FROM ev GROUP BY 1),
       |dots AS (SELECT c.vec_a, c.vec_b, SUM(a.x * b.x) AS dot
       |         FROM cand c
       |         JOIN ev a ON a.vec_id = c.vec_a
       |         JOIN ev b ON b.vec_id = c.vec_b AND b.pos = a.pos
       |         GROUP BY 1, 2),
       |sims AS (SELECT vec_a, vec_b, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS sim
       |         FROM dots JOIN vnorm na ON na.vec_id = vec_a
       |                   JOIN vnorm nb ON nb.vec_id = vec_b)
       |SELECT vec_a, vec_b, ROUND(sim, 6) AS sim_r FROM sims
       |WHERE sim >= $threshold ORDER BY vec_a, vec_b""".stripMargin

  /** DuckDB replay of the CROSS-corpus SRP pipeline (benchmark = rows of
    * `embeddings` with `vec_id % mod = r`, training = the rest): the same
    * signature/block prefix as [[srpOracleSql]], candidates restricted to
    * train×bench pairs, then the per-train-vector contamination rollup —
    * hash-exact against
    * [[graft.operators.TrainingData.decontaminateSemantic]].
    */
  private[graft] def srpCrossOracleSql(
      threshold: Double, dim: Int, bits: Int, mod: Int, r: Int): String =
    s"""WITH ${srpBlockCtes(dim, bits)},
       |cand AS (SELECT DISTINCT t.vec_id AS train_id, e.vec_id AS bench_id
       |         FROM blk t JOIN blk e ON t.blk = e.blk AND t.key = e.key
       |         WHERE t.vec_id % $mod <> $r AND e.vec_id % $mod = $r),
       |vnorm AS (SELECT vec_id, SUM(x*x) AS n2 FROM ev GROUP BY 1),
       |dots AS (SELECT c.train_id, c.bench_id, SUM(a.x * b.x) AS dot
       |         FROM cand c
       |         JOIN ev a ON a.vec_id = c.train_id
       |         JOIN ev b ON b.vec_id = c.bench_id AND b.pos = a.pos
       |         GROUP BY 1, 2),
       |hits AS (SELECT train_id, CAST(COUNT(*) AS BIGINT) AS n_matches
       |         FROM dots JOIN vnorm na ON na.vec_id = train_id
       |                   JOIN vnorm nb ON nb.vec_id = bench_id
       |         WHERE dot / (sqrt(na.n2) * sqrt(nb.n2)) >= $threshold
       |         GROUP BY 1)
       |SELECT e.vec_id, COALESCE(h.n_matches, 0) AS n_matches,
       |  COALESCE(h.n_matches, 0) > 0 AS contaminated
       |FROM embeddings e LEFT JOIN hits h ON h.train_id = e.vec_id
       |WHERE e.vec_id % $mod <> $r ORDER BY e.vec_id""".stripMargin

  /** DuckDB replay of [[bruteForceTopK]] for the 20 queries vec_id < 20
    * against the corpus CTE `c(neighbor_id, v)`: every pair's cosine,
    * then the cosine top-5.
    */
  private def bruteForceOracleSql(c: String): String =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) v
       |           FROM embeddings WHERE vec_id < 20),
       |$c,
       |px AS (SELECT query_id, neighbor_id, unnest(q.v) x, unnest(c.v) y
       |       FROM q, c WHERE query_id <> neighbor_id),
       |dots AS (SELECT query_id, neighbor_id, SUM(x*y) AS dot
       |         FROM px GROUP BY 1, 2),
       |norms AS (SELECT vec_id, SUM(x*x) AS n2
       |          FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) x FROM embeddings)
       |          GROUP BY 1),
       |sims AS (SELECT query_id, neighbor_id,
       |           dot / (sqrt(nq.n2) * sqrt(nc.n2)) AS sim
       |         FROM dots JOIN norms nq ON nq.vec_id = query_id
       |                   JOIN norms nc ON nc.vec_id = neighbor_id),
       |${simTopKSql(5)}""".stripMargin

  /** The registered cosine top-k rows' output: sim rounded to 6dp (the
    * ann determinism contract), ordered by query and rank.
    */
  private def simRows(df: DataFrame): DataFrame =
    df.select(col("query_id"), col("neighbor_id"), col("rank"),
      round(col("sim"), 6).as("sim_r")).orderBy("query_id", "rank")

  /** The registered SemDeDup rows' output: pairs with their cluster. */
  private def clusterPairRows(df: DataFrame): DataFrame =
    df.select(col("vec_a"), col("vec_b"), col("cluster"),
      round(col("sim"), 6).as("sim_r")).orderBy("vec_a", "vec_b")

  /** The PQ and IVF-PQ indexes the `ann_topk_pq*` / `ann_topk_ivfpq*`
    * rows share, built once per fixture identity.
    */
  private def pqIndexDir(s: SparkSession, d: String): String =
    graft.LocalFiles.stageFixture(d, "embeddings.parquet", "pq:4:8:2")(tmp =>
      buildPqIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        m = 4, kc = 8, iters = 2, dir = tmp))

  private def ivfPqIndexDir(s: SparkSession, d: String): String =
    graft.LocalFiles.stageFixture(d, "embeddings.parquet", "ivfpq:v2:8:4:8:2")(tmp =>
      buildIvfPqIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        nlist = 8, m = 4, kc = 8, iters = 2, dir = tmp))

  // ---------------------------------------------------------------- queries

  val queries: Seq[Q] = Seq(
    // ---- exact brute-force cosine top-5 for 20 query vectors. Oracle
    // recomputes cosine with the same fold shape; sim is rounded to 6dp on
    // both sides to absorb sub-ulp summation-order differences ----
    Q(
      "ann_topk_bruteforce",
      bruteForceOracleSql(
        "c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)"),
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      bruteForceTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 5)
        .transform(simRows)
    },

    // ---- MATRYOSHKA retrieval (Kusupati et al. 2022): rank by cosine on
    // the FIRST 16 of 64 dimensions — MRL-trained embeddings front-load
    // information, so the truncated prefix is the cheap coarse index —
    // then exact-rerank ONLY the retrieved pairs at full dimension (the
    // candidates-only refine join, never the corpus). 4× less dot-product
    // work and 4× smaller scans/broadcasts on the coarse pass at any
    // scale; the refine cost is k·|queries|, corpus-independent. Both
    // sims published rounded to 6dp, the ann determinism contract ----
    Q(
      "ann_topk_matryoshka",
      """WITH q AS (SELECT vec_id AS query_id,
        |    CAST(embedding[1:16] AS DOUBLE[]) v FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS neighbor_id,
        |    CAST(embedding[1:16] AS DOUBLE[]) v FROM embeddings),
        |px AS (SELECT query_id, neighbor_id, unnest(q.v) x, unnest(c.v) y
        |       FROM q, c WHERE query_id <> neighbor_id),
        |dots AS (SELECT query_id, neighbor_id, SUM(x*y) AS dot
        |         FROM px GROUP BY 1, 2),
        |norms AS (SELECT vec_id, SUM(x*x) AS n2
        |          FROM (SELECT vec_id, unnest(CAST(embedding[1:16] AS DOUBLE[])) x
        |                FROM embeddings) GROUP BY 1),
        |sims AS (SELECT query_id, neighbor_id,
        |           dot / (sqrt(nq.n2) * sqrt(nc.n2)) AS sim
        |         FROM dots JOIN norms nq ON nq.vec_id = query_id
        |                   JOIN norms nc ON nc.vec_id = neighbor_id),
        |ranked AS (SELECT query_id, neighbor_id,
        |             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |               ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank,
        |             ROUND(sim, 6) AS sim16_r
        |           FROM sims),
        |hits AS (SELECT * FROM ranked WHERE rank <= 5),
        |fx AS (SELECT h.query_id, h.neighbor_id,
        |         unnest(CAST(a.embedding AS DOUBLE[])) x,
        |         unnest(CAST(b.embedding AS DOUBLE[])) y
        |       FROM hits h JOIN embeddings a ON a.vec_id = h.query_id
        |                   JOIN embeddings b ON b.vec_id = h.neighbor_id),
        |fdots AS (SELECT query_id, neighbor_id, SUM(x*y) AS dot
        |          FROM fx GROUP BY 1, 2),
        |fnorms AS (SELECT vec_id, SUM(x*x) AS n2
        |           FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) x
        |                 FROM embeddings) GROUP BY 1)
        |SELECT h.query_id, h.neighbor_id, h.rank, h.sim16_r,
        |  ROUND(fd.dot / (sqrt(nq.n2) * sqrt(nc.n2)), 6) AS sim_full_r
        |FROM hits h JOIN fdots fd USING (query_id, neighbor_id)
        |JOIN fnorms nq ON nq.vec_id = h.query_id
        |JOIN fnorms nc ON nc.vec_id = h.neighbor_id
        |ORDER BY query_id, rank""".stripMargin,
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val sliced = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val coarse = bruteForceTopK(
        sliced.filter(col("vec_id") < 20), sliced, "vec_id", "embedding", 5)
        .withColumnRenamed("sim", "sim16")
      // exact full-dim refine of ONLY the retrieved pairs
      coarse
        .join(emb.select(col("vec_id").as("query_id"),
          col("embedding").as("qv")), "query_id")
        .join(emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv")), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("sim16"), 6).as("sim16_r"),
          round(VectorFunctions.cosine(col("qv"), col("cv")), 6)
            .as("sim_full_r"))
        .orderBy("query_id", "rank")
    },

    // ---- FILTERED vector search (metadata pre-filter): top-5 among
    // vectors whose label passes the predicate — the filter restricts
    // the CANDIDATE SET before ranking, so every query still gets k
    // matches from the allowed subset (post-filtering the unfiltered
    // top-k would return < k and miss valid neighbors — the classic
    // filtered-ANN correctness trap). On the brute-force path the
    // predicate simply pushes into the corpus scan (visible as a parquet
    // PushedFilter); on the IVF path the same pre-filter applies to the
    // bucket lists. Same determinism contract as ann_topk_bruteforce ----
    Q(
      "ann_topk_filtered",
      bruteForceOracleSql(
        """c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) v
          |      FROM embeddings WHERE label % 2 = 0)""".stripMargin),
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      bruteForceTopK(emb.filter(col("vec_id") < 20),
          emb.filter(col("label") % 2 === 0), "vec_id", "embedding", 5)
        .transform(simRows)
    },

    // ---- contrastive HARD-NEGATIVE mining: per query, the top-5 most
    // similar vectors with a DIFFERENT label — "similar but wrong", the
    // negatives a contrastive trainer wants. The label predicate is
    // per-query (rides the join condition), distinguishing this from
    // ann_topk_filtered's static pre-filter ----
    Q(
      "ann_hard_negatives",
      """WITH q AS (SELECT vec_id AS query_id, label AS qlab,
        |             CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS neighbor_id, label AS clab,
        |        CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |px AS (SELECT query_id, neighbor_id, unnest(q.v) x, unnest(c.v) y
        |       FROM q, c WHERE query_id <> neighbor_id AND qlab <> clab),
        |dots AS (SELECT query_id, neighbor_id, SUM(x*y) AS dot
        |         FROM px GROUP BY 1, 2),
        |norms AS (SELECT vec_id, SUM(x*x) AS n2
        |          FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) x FROM embeddings)
        |          GROUP BY 1),
        |sims AS (SELECT query_id, neighbor_id,
        |           dot / (sqrt(nq.n2) * sqrt(nc.n2)) AS sim
        |         FROM dots JOIN norms nq ON nq.vec_id = query_id
        |                   JOIN norms nc ON nc.vec_id = neighbor_id),
        |ranked AS (SELECT query_id, neighbor_id,
        |             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank,
        |             ROUND(sim, 6) AS sim_r
        |           FROM sims)
        |SELECT r.query_id, r.neighbor_id,
        |  CAST(e.label AS BIGINT) AS neg_label, r.rank, r.sim_r
        |FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
        |WHERE r.rank <= 5 ORDER BY r.query_id, r.rank""".stripMargin,
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      hardNegativesTopK(emb.filter(col("vec_id") < 20), emb,
          "vec_id", "embedding", "label", 5)
        .select(col("query_id"), col("neighbor_id"), col("neg_label"),
          col("rank"), round(col("sim"), 6).as("sim_r"))
        .orderBy("query_id", "rank")
    },

    // ---- IVF approximate path. Approximate w.r.t. exact KNN, but fully
    // DETERMINISTIC given the data (centroids = per-label means, probing =
    // top-3 centroids by cosine), so the oracle replays the whole probe →
    // bucket-restricted ranking pipeline in SQL ----
    Q(
      "ann_topk_ivf",
      ivfOracleSql(
        """ev AS (SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS x,
          |                   generate_subscripts(embedding, 1) AS pos
          |            FROM embeddings)""".stripMargin,
        "cent AS (SELECT label AS bucket, pos, AVG(x) AS m FROM ev GROUP BY 1, 2)",
        """pairs AS (SELECT p.query_id, e2.vec_id AS neighbor_id
          |          FROM probed p JOIN embeddings e2 ON e2.label = p.bucket
          |          WHERE e2.vec_id <> p.query_id)""".stripMargin, nprobe = 3, topK = 5),
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      ivfTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
        "label", 5, 3)
        .transform(simRows)
    },

    // ---- per-vector array stats (array function surface over the
    // embedding column); norms rounded to absorb summation-order ulps ----
    Q(
      "q_vector_stats",
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  ROUND(sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) FOR x IN embedding])), 6) AS l2_norm,
        |  ROUND(list_max([CAST(x AS DOUBLE) FOR x IN embedding]), 6) AS max_elem
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    ) { (s, d) =>
      import graft.functions.VectorFunctions
      Tables.embeddings(s, d).select(
        col("vec_id"), col("label").cast("long").as("label"),
        size(col("embedding")).cast("long").as("dim"),
        round(sqrt(VectorFunctions.normSq(VectorFunctions.asDouble(col("embedding")))), 6).as("l2_norm"),
        round(array_max(VectorFunctions.asDouble(col("embedding"))), 6).as("max_elem"),
      ).orderBy("vec_id")
    },

    // ---- embedding near-dup via SRP-LSH — the REGISTERED (scale-tier)
    // plan: linear signature scan + block-bucketed candidate join + exact
    // verify, no all-pairs anywhere. The fixture's vectors are i.i.d.
    // random (max pairwise cosine ≈ 0.51) so the threshold is 0.4 to
    // exercise non-empty output; recall vs the exact all-pairs result is
    // the SRP collision probability (ExtensionSpec asserts the subset
    // property and exact-duplicate recall against [[cosineNearDupPairs]],
    // which stays as the spec-level reference implementation). The oracle
    // replays the whole pipeline, so the check is hash-exact ----
    Q("dedup_embedding_srp", srpOracleSql(0.4, 64, 32)) { (s, d) =>
      srpNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding", 0.4, dim = 64)
        .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim_r"))
        .orderBy("vec_a", "vec_b")
    },

    // ---- real Lloyd k-means (k=8, 2 fixed rounds): the offline IVF index
    // build. Oracle replays seeds → rounds → final argmin in SQL ----
    Q("kmeans_assign", kMeansOracleSql(8, 2)) { (s, d) =>
      kMeansAssign(Tables.embeddings(s, d), "vec_id", "embedding", 8, 2)
    },

    // ---- greedy k-center coreset (k=8): diverse-exemplar selection by
    // farthest-point traversal; every vector assigned to its nearest
    // chosen exemplar. Oracle unrolls the greedy rounds ----
    Q("coreset_kcenter", kCenterOracleSql(8)) { (s, d) =>
      kCenterCoreset(Tables.embeddings(s, d), "vec_id", "embedding", 8)
        .orderBy("vec_id")
    },

    // ---- SemDeDup: cluster with the SAME k-means build, then exact
    // cosine only within clusters. 0.4 is this fixture's near-dup regime
    // (its max pairwise cosine is ~0.6); the oracle replays cluster →
    // pairwise → threshold exactly ----
    Q("dedup_semantic", semanticOracleSqlFor("8", 2, 0.4)) { (s, d) =>
      semanticNearDupPairs(
        Tables.embeddings(s, d), "vec_id", "embedding", 8, 2, 0.4, fixedK = true)
        .transform(clusterPairRows)
    },

    // ---- SemDeDup with the k ∝ n SCALE contract registered end-to-end:
    // k = ceil(n/64) on BOTH sides (Spark computes it from count(); the
    // oracle's seed cutoff is a COUNT(*) scalar subquery), so the same
    // static SQL checks k=1 at sf0.001, k=8 at sf0.01, k=79 at sf0.1 —
    // constant expected cluster size, bounded per-cluster quadratic ----
    Q("dedup_semantic_scaled", semanticOracleSqlFor(kPerCluster(64), 2, 0.4)) { (s, d) =>
      semanticNearDupPairsScaled(
        Tables.embeddings(s, d), "vec_id", "embedding", 64, 2, 0.4)
        .transform(clusterPairRows)
    },

    // ---- SemDeDup at the paper's k = ⌈√n⌉ operating point: balances
    // the Lloyd assignment (O(n·k·d)) against the intra-cluster pair
    // join (O(n²·d/k)) at O(n^1.5·d) each — the best single-level exact
    // exponent. The k ∝ n row above keeps pairs linear but pays a
    // quadratic assignment (measured 38.9× per 10× data at the 100×
    // tier); this row's expected growth is ~10^1.5 ≈ 32× per decade on
    // BOTH terms, ~5× cheaper in absolute time at sf10. Oracle computes
    // the same k from COUNT(*) inside the SQL ----
    Q("dedup_semantic_sqrtk", semanticOracleSqlFor(
      "(SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) FROM embeddings)",
      2, 0.4)) { (s, d) =>
      semanticNearDupPairsSqrtK(
        Tables.embeddings(s, d), "vec_id", "embedding", 2, 0.4)
        .transform(clusterPairRows)
    },

    // ---- SemDeDup with SAMPLED-centroid training at k ∝ n: the Lloyd
    // codebook trains on a deterministic md5-hash sample of ⌈2√(n·k)⌉
    // vectors and the corpus is assigned ONCE — removes the training
    // multiplier that made full-corpus k ∝ n the sf10 probe's one
    // super-linear row (38.9×, NOTES_r18 §4). The single assignment pass
    // is still O(n²·d/64) by arithmetic — see the sampled+√n row below
    // for the regime that fixes the exponent too. Oracle replays the
    // sample filter, sampled rounds, and full assignment in SQL ----
    Q("dedup_semantic_sampled",
      semanticOracleSqlSampled("CEIL(COUNT(*) / 64.0)", 2, 0.4, 2.0)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val k = math.max(math.ceil(emb.count() / 64.0).toInt, 1)
      semanticNearDupPairsSampled(emb, "vec_id", "embedding", k, 2, 0.4, 2.0)
        .transform(clusterPairRows)
    },

    // ---- SemDeDup as the paper actually runs it: k = ⌈√n⌉ AND sampled
    // training — ONE O(n^1.5·d) assignment pass instead of (iters+1),
    // training O(n^0.75·√k·d) on the sample. The best exact single-level
    // operating point; past it the linear path is SRP-LSH ----
    Q("dedup_semantic_sampled_sqrtk",
      semanticOracleSqlSampled("CEIL(SQRT(COUNT(*)))", 2, 0.4, 2.0)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val k = math.max(math.ceil(math.sqrt(emb.count().toDouble)).toInt, 1)
      semanticNearDupPairsSampled(emb, "vec_id", "embedding", k, 2, 0.4, 2.0)
        .transform(clusterPairRows)
    },

    // ---- contrastive triplet mining: anchors with a near-dup positive
    // (cos ≥ 0.4) paired with their hardest same-cluster negative
    // (max cos < 0.1); k ∝ n clustering, every candidate cosine once ----
    Q("contrastive_triplets", contrastiveOracleSql(64, 2, 0.4, 0.1)) { (s, d) =>
      contrastiveTriplets(
        Tables.embeddings(s, d), "vec_id", "embedding",
        targetClusterSize = 64, iters = 2, posThreshold = 0.4, negMargin = 0.1)
    },

    // ---- the REAL IVF path end-to-end: k-means index → probe → rank.
    // Same probe/rank chain as ann_topk_ivf, but the buckets are the
    // k-means clusters built above instead of the fixture's labels ----
    Q("ann_topk_ivf_kmeans", ivfKMeansOracleSql(8, 2, 3, 5)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val indexed = emb.join(assignToCentroids(emb, "vec_id", "embedding",
        kMeansCentroids(emb, "vec_id", "embedding", 8, 2)), "vec_id")
      ivfTopK(emb.filter(col("vec_id") < 20), indexed, "vec_id", "embedding",
        "cluster", 5, 3)
        .transform(simRows)
    },

    // ---- product quantization: m=4 subspace codebooks of kc=8 codewords
    // (2 Lloyd rounds each), corpus encoded to 4 codes per vector, ADC
    // ranking via micros-quantized lookup-table sums. The oracle replays
    // training, encoding, and the ADC scan — hash-exact. Codebooks are
    // trained once per fixture identity (the SAME staged index the
    // `_served` row publishes); what this row times is the frozen-model
    // ENCODE + rank pass over raw vectors — the per-batch indexing cost,
    // with the rare training cost amortized. Train-inline `pqTopK` stays
    // the public API and is spec-pinned at sf0.001 ----
    Q("ann_topk_pq", pqOracleSql(4, 8, 2, 5, 20)) { (s, d) =>
      val model = graft.sources.ModelStore.loadPq(s, pqIndexDir(s, d))
      pqTopKWithModel(Tables.embeddings(s, d), "vec_id", "embedding", model, k = 5,
        queryPred = col("vec_id") < 20)
        .orderBy("query_id", "rank")
    },

    // ---- IVF-PQ: coarse k-means (nlist=8) routes each query to its
    // nprobe=3 nearest clusters by cosine; only vectors there are ranked,
    // by PQ asymmetric distance over their 4 codes. The oracle replays
    // the coarse index, codebooks, probe, and restricted ADC scan.
    // Quantizer (coarse centroids + assignment + codebooks) comes from the
    // staged index shared with `_served`; this row times probe + frozen-
    // model re-encode + restricted ADC over raw vectors — the per-batch
    // cost with training amortized. Train-inline `ivfPqTopK` stays the
    // public API and is spec-pinned at sf0.001 ----
    Q("ann_topk_ivfpq", ivfPqOracleSql(8, 3, 4, 8, 2, 5, 20)) { (s, d) =>
      ivfPqTopKWithIndex(s, ivfPqIndexDir(s, d), Tables.embeddings(s, d),
        "vec_id", "embedding", nprobe = 3, k = 5,
        queryPred = col("vec_id") < 20)
        .orderBy("query_id", "rank")
    },

    // ---- persisted-index serving (ModelStore): the same PQ / IVF-PQ
    // indexes, built ONCE per fixture identity into a parquet index and
    // SERVED from it — training/encoding never re-runs, raw vectors are
    // never re-read. Same oracles as the inline rows: the served answers
    // are hash-exactly the trained ones ----
    Q("ann_topk_pq_served", pqOracleSql(4, 8, 2, 5, 20)) { (s, d) =>
      servePqTopK(s, pqIndexDir(s, d), Tables.embeddings(s, d).filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },

    Q("ann_topk_ivfpq_served", ivfPqOracleSql(8, 3, 4, 8, 2, 5, 20)) { (s, d) =>
      serveIvfPqTopK(s, ivfPqIndexDir(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 20),
        "vec_id", "embedding", nprobe = 3, k = 5)
        .orderBy("query_id", "rank")
    },

    // ---- int8 scalar quantization + quantized brute-force top-k: the
    // memory-bound scale path for embedding search (4× narrower vectors;
    // cosine is scale-invariant so the quantized ints rank directly).
    // Oracle replays scale/round/dot/norm — all exact integer-valued
    // double arithmetic ----
    Q(
      "ann_topk_int8",
      s"""WITH $EvCte,
        |sc AS (SELECT vec_id, GREATEST(MAX(ABS(x)) / 127.0, 1e-30) AS s FROM ev GROUP BY 1),
        |qv AS (SELECT ev.vec_id, ev.pos, ROUND(ev.x / sc.s) AS q
        |       FROM ev JOIN sc ON sc.vec_id = ev.vec_id),
        |nrm AS (SELECT vec_id, SUM(q*q) AS n2 FROM qv GROUP BY 1),
        |dots AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.q * b.q) AS dot
        |         FROM qv a JOIN qv b ON a.pos = b.pos AND b.vec_id <> a.vec_id
        |         WHERE a.vec_id < 20 GROUP BY 1, 2),
        |sims AS (SELECT d.query_id, d.neighbor_id,
        |           d.dot / (sqrt(na.n2) * sqrt(nb.n2)) AS sim
        |         FROM dots d JOIN nrm na ON na.vec_id = d.query_id
        |                     JOIN nrm nb ON nb.vec_id = d.neighbor_id),
        |${simTopKSql(5)}""".stripMargin,
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      int8QuantizedTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 5)
        .transform(simRows)
    },

    // ---- nearest-centroid classification of every vector. Deterministic
    // (centroids = per-label elementwise means of the data itself), so the
    // oracle recomputes centroids and the cosine argmax in SQL ----
    Q(
      "knn_centroid_assign",
      """WITH ev AS (SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |                   generate_subscripts(embedding, 1) AS pos
        |            FROM embeddings),
        |cent AS (SELECT label AS centroid_label, pos, AVG(x) AS m
        |         FROM ev GROUP BY 1, 2),
        |cnorm AS (SELECT centroid_label, SUM(m*m) AS n2 FROM cent GROUP BY 1),
        |vnorm AS (SELECT vec_id, SUM(x*x) AS n2 FROM ev GROUP BY 1),
        |dots AS (SELECT ev.vec_id, c.centroid_label, SUM(ev.x * c.m) AS dot
        |         FROM ev JOIN cent c ON c.pos = ev.pos GROUP BY 1, 2),
        |sims AS (SELECT d.vec_id, d.centroid_label,
        |           d.dot / (sqrt(vn.n2) * sqrt(cn.n2)) AS sim
        |         FROM dots d JOIN vnorm vn ON vn.vec_id = d.vec_id
        |                     JOIN cnorm cn ON cn.centroid_label = d.centroid_label),
        |best AS (SELECT vec_id, centroid_label,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_label) AS rn
        |         FROM sims)
        |SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
        |  CAST(b.centroid_label AS BIGINT) AS centroid_label,
        |  e.label = b.centroid_label AS correct
        |FROM embeddings e JOIN best b ON b.vec_id = e.vec_id AND b.rn = 1
        |ORDER BY e.vec_id""".stripMargin,
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = centroids(emb, "label", "embedding")
        .select(col("label").as("centroid_label"), col("centroid"))
      probe(emb, "vec_id", "embedding", cents, "centroid_label", nprobe = 1)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("centroid_label").cast("long").as("centroid_label"),
          (col("label") === col("centroid_label")).as("correct"))
        .orderBy("vec_id")
    },
  )
}
