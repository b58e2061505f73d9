package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline tier (SURVEY.md §2.9):
  * exact, canonicalized-exact, MinHash+LSH near-dup, exact n-gram Jaccard,
  * and SimHash.
  *
  * Scale design (the point of each variant):
  *  - exact: one hash-shuffle on the text (or its md5 at 100 TB — group on
  *    the 16-byte digest, not the document body).
  *  - MinHash+LSH: per-doc signatures are a linear scan; candidate
  *    generation is a self-join on (band, bandKey) buckets — quadratic only
  *    inside a bucket, which banding keeps tiny. Verification joins shingle
  *    sets only for candidate pairs. No crossJoin anywhere.
  *  - exact Jaccard: self-join on shingle values. Hot shingles blow this up
  *    quadratically at scale, so [[exactJaccardPairs]] takes a document-
  *    frequency cap that drops ubiquitous shingles (standard stop-shingle
  *    trick); at fixture scale the cap is off so the DuckDB oracle matches.
  *  - SimHash: 64-bit signature; candidates via 4×16-bit block bucketing
  *    (any pair at hamming ≤ 3 shares ≥ 1 exact block by pigeonhole).
  */
object Dedup {

  private[graft] val P: Long = 4294967291L // largest prime < 2^32 (shared: MinHashSig, MinHashAggregator, specs)

  /** Deterministic MinHash permutation constants from a fixed-seed
    * splitmix64 walk (no runtime randomness; identical across runs/nodes).
    */
  private[graft] def permConstants(n: Int): Seq[(Long, Long)] = {
    var s = 0x9e3779b97f4a7c15L
    def next(): Long = {
      s += 0x2545f4914f6cdd1dL
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until n).map { _ =>
      val a = (next() & 0x7fffffffL) % (P - 1) + 1 // in [1, P-1]
      val b = (next() & 0x7fffffffL)               // in [0, 2^31)
      (a, b)
    }
  }

  /** (id, shingle) exploded pairs; empty-shingle docs drop out. NOT
    * fanned out: measured at sf0.1, repartitioning before the explode is
    * performance-neutral for the LSH pipelines (the multi-join candidate +
    * verify stages dominate, and they re-shuffle anyway) — see
    * Tables.fanOut for where fan-out does pay.
    */
  private[graft] def explodedShingles(docs: DataFrame, id: String, shingles: Column): DataFrame =
    docs.select(col(id), explode(shingles).as("sh"))

  /** In-flight bytes of exploded shingle rows per byte of the parquet
    * scan's plan estimate (COMPRESSED file bytes): measured at sf0.1,
    * 0.6 MB on disk explode to ~20 MB of in-flight rows.
    */
  private val ShingleExpansion = 30

  /** Per-partition target of [[shingleFanOut]]. */
  private val ShingleTargetBytes = 8L << 20

  /** Size-adaptive `Tables.fanOut` for the shingle pipelines: spread the
    * docs across `ceil(explodedBytes / ShingleTargetBytes)` partitions,
    * clamped to [1, defaultParallelism], where `explodedBytes` is
    * Catalyst's optimized-plan size estimate (known before any job runs)
    * times [[ShingleExpansion]]. A flat `repartition(defaultParallelism)`
    * is a constant tuned for the CLUSTER — on a small input it schedules
    * cores-many near-empty partitions through every downstream consumer
    * of the (often pinned) result, which measured ~2× slower at 32 cores
    * than 8 on the sf0.1 dedup shingle pipelines; deriving the count from
    * input size keeps small inputs compact while a big input still fans
    * to full parallelism (guide §2 partition sizing).
    */
  private def shingleFanOut(docs: DataFrame): DataFrame = {
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes * ShingleExpansion
    val cap = BigInt(docs.sparkSession.sparkContext.defaultParallelism)
    val n = ((bytes / ShingleTargetBytes) + 1).min(cap).max(1)
    docs.repartition(n.toInt)
  }

  /** Pipeline-scoped shingle materialization: the multi-pass dedup
    * pipelines (doc-freq / prefix / signatures / verify) all reuse the
    * same explode. A lazy `persist` is NOT enough: the pipeline executes
    * as one job whose parallel branches (signatures, sizes, both verify
    * sides) race past the cache and each recompute the explode. So the
    * exploded shingles are eagerly `localCheckpoint`ed FIRST — one
    * parallel (fanned-out) explode, after which every consumer reads the
    * checkpointed blocks and downstream lineage starts there. No
    * unpersist bookkeeping: blocks live on executors exactly as long as
    * the returned result references them, then the ContextCleaner frees
    * them (no growth across repeated bench invocations — the round-2
    * leak). At cluster scale this is "checkpoint the tokenized corpus,
    * run candidate-gen + verify, drop it".
    *
    * Shingles are reduced to their 64-bit xxhash64 identity AT the
    * explode: everything downstream (doc-freq counts, prefix ordering,
    * candidate joins, intersection counts) needs only a consistent
    * identity and a consistent total order, both of which the hash
    * provides — while every shuffle/sort/broadcast moves 8-byte longs
    * instead of multi-word strings (~3× narrower; measured −40% on the
    * sf0.1 prefix pipeline). Set cardinalities are exact up to 64-bit
    * collisions (P ≈ n²/2⁶⁵ ≈ 10⁻¹¹ even at 100 M distinct shingles per
    * corpus — below any practical concern, and deterministic: the same
    * corpus always yields the same result).
    */
  private def withShingleCache(
      docs: DataFrame, id: String, shingles: Column)(
      f: DataFrame => DataFrame): DataFrame =
    f(explodedShingles(shingleFanOut(docs), id, shingles)
      .select(col(id), xxhash64(col("sh")).as("sh"))
      .transform(graft.Tables.pin))

  /** Exact pairwise Jaccard over a shingle set, computed distributively
    * by [[overlapPairs]]: |A∩B| / (|A| + |B| − |A∩B|). `maxDocFreq`
    * (None = keep all) drops shingles appearing in more than that many
    * docs before the self-join — the scale guard against quadratic hot
    * keys.
    */
  def exactJaccardPairs(
      docs: DataFrame, id: String, shingles: Column,
      threshold: Double, maxDocFreq: Option[Long] = None): DataFrame =
    overlapPairs(docs, id, shingles, threshold, maxDocFreq, "jaccard")(
      (inter, na, nb) => inter.cast("double") / (na + nb - inter))

  /** Exact pairwise CONTAINMENT — |A∩B| / min(|A|,|B|) — over a shingle
    * set: the quote/subset detector (a short document fully contained in
    * a long one scores 1.0 while its Jaccard can be arbitrarily low, so
    * a Jaccard gate never finds it). Same [[overlapPairs]] skeleton and
    * hot-shingle cap as [[exactJaccardPairs]]; only the denominator
    * differs.
    */
  def containmentPairs(
      docs: DataFrame, id: String, shingles: Column,
      threshold: Double, maxDocFreq: Option[Long] = None): DataFrame =
    overlapPairs(docs, id, shingles, threshold, maxDocFreq, "containment")(
      (inter, na, nb) => inter.cast("double") / least(na, nb))

  /** The overlap pair join behind [[exactJaccardPairs]] and
    * [[containmentPairs]]: explode → drop shingles above `maxDocFreq` →
    * self-equi-join on the shingle → intersection counts → join per-doc
    * set sizes, then keep the pairs whose `score(n_inter, n_a, n_b)`
    * reaches `threshold`. Output (doc_a < doc_b, `scoreName`).
    */
  private def overlapPairs(
      docs: DataFrame, id: String, shingles: Column, threshold: Double,
      maxDocFreq: Option[Long], scoreName: String)(
      score: (Column, Column, Column) => Column): DataFrame =
      withShingleCache(docs, id, shingles) { sh0 =>
    val sh = maxDocFreq match {
      case Some(cap) =>
        val hot = sh0.groupBy("sh").count().filter(col("count") > cap).select("sh")
        sh0.join(broadcast(hot), Seq("sh"), "left_anti")
      case None => sh0
    }
    val sz = sh.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(id).as("doc_a"), col("sh"))
    val b = sh.select(col(id).as("doc_b"), col("sh"))
    val inter = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sz.select(col(id).as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sz.select(col(id).as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn(scoreName, score(col("n_inter"), col("n_a"), col("n_b")))
      .filter(col(scoreName) >= threshold)
      .select("doc_a", "doc_b", scoreName)
  }

  /** (id, sh, h) exploded shingles with `h` = xxhash64(shingle) mod P, the
    * per-shingle input of both aggregate signature formulations.
    */
  private def hashedShingles(docs: DataFrame, id: String, shingles: Column): DataFrame =
    explodedShingles(docs, id, shingles).withColumn("h", pmod(xxhash64(col("sh")), lit(P)))

  /** MinHash signatures: one row per doc, `numHashes` min-hash values.
    * Column names m0..m{n-1}. Linear scan + one groupBy(id).
    */
  def minHashSignatures(
      docs: DataFrame, id: String, shingles: Column, numHashes: Int): DataFrame = {
    val mins = permConstants(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(P))).as(s"m$i")
    }
    hashedShingles(docs, id, shingles).groupBy(col(id)).agg(mins.head, mins.tail: _*)
  }

  /** Same signatures via the custom typed [[graft.functions.MinHashAggregator]]
    * (one buffer per group instead of N planned min() aggregates) —
    * demonstrates the reference's user-defined-Aggregation surface mapped
    * to Spark `Aggregator[IN,BUF,OUT]`. Output: (id, sig array<long>).
    */
  def minHashSignaturesViaAggregator(
      docs: DataFrame, id: String, shingles: Column, numHashes: Int): DataFrame = {
    val agg = udaf(new graft.functions.MinHashAggregator(numHashes, permConstants(numHashes)))
    hashedShingles(docs, id, shingles).groupBy(col(id)).agg(agg(col("h")).as("sig"))
  }

  /** The explode + min() aggregate signature formulation
    * ([[minHashSignatures]]) over a per-doc hashed-shingle ARRAY column
    * named `arr` — retained as the spec witness for the fused
    * [[graft.plans.MinHashSig]] kernel, sharing THIS object's P and
    * permutation family so the two paths cannot silently diverge. Output
    * columns m0..m{n-1}.
    */
  private[graft] def minHashSigAgg(arr: DataFrame, id: String, numHashes: Int): DataFrame =
    minHashSignatures(arr, id, col("arr"), numHashes)

  /** LSH candidate pairs (doc_a < doc_b) from banded MinHash signatures
    * (bands of `bandRows` rows): docs sharing any band bucket — exactly
    * the candidate set [[minHashNearDupPairs]] verifies. P(candidate) =
    * 1-(1-J^r)^b — with 32 hashes and r=2 (16 bands), recall at J≥0.8 is
    * 1 − 0.36^16 ≈ 1 − 8e-8; more hashes only add signature cost AND more
    * sub-threshold junk candidates for the verify step (both scale with b).
    */
  def lshCandidatePairs(
      docs: DataFrame, id: String, shingles: Column,
      numHashes: Int, bandRows: Int): DataFrame = {
    requireBanding(numHashes, bandRows)
    selfCandidates(hashedShingleArr(docs, id, shingles), id, numHashes, bandRows)
  }

  /** Exact threshold-Jaccard with PPJoin-style filtering: order each doc's
    * shingles by global document frequency (rarest first); a pair with
    * J ≥ t must share at least one shingle within both docs'
    * `⌊(1-t)·n⌋+1`-length prefixes (pigeonhole: the intersection can't fit
    * in the remaining suffix). On top of the prefix join, two sound
    * candidate pruners from the PPJoin literature:
    *  - length filter: J ≥ t forces min(|a|,|b|) ≥ t·max(|a|,|b|), applied
    *    before the pair shuffle;
    *  - positional filter: a shared shingle at sorted positions (p_a, p_b)
    *    bounds the overlap by min(p_a,p_b)-1 common shingles before it plus
    *    min(|a|-p_a, |b|-p_b)+1 from it onward; a pair whose tightest such
    *    bound is below the required overlap ⌈t/(1+t)·(|a|+|b|)⌉ cannot
    *    reach J ≥ t and is dropped before verification.
    * Candidates therefore join only on the rarest ~(1-t) fraction of
    * shingles and survive only if positionally feasible — this is what
    * keeps exact near-dup mining feasible at 100 TB, where the naive
    * shingle self-join is quadratic on hot shingles. Verification is
    * exact, so the pruners affect cost only; output identical to
    * [[exactJaccardPairs]].
    */
  def prefixFilteredJaccardPairs(
      docs: DataFrame, id: String, shingles: Column,
      threshold: Double): DataFrame = {
    // NO localCheckpoints anywhere in this operator (they were the row's
    // machine-state sensitivity — pinned deserialized blocks compete with
    // shuffle memory; shuffle files degrade gracefully instead): the two
    // shingle consumers below both exchange the same explode subtree on
    // hash(sh), so ReuseExchange computes the explode once, and the three
    // arr consumers share the post-join hash(id) exchange the same way.
    val sh = explodedShingles(shingleFanOut(docs), id, shingles)
      .select(col(id), xxhash64(col("sh")).as("sh"))
    val docFreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    // Per-doc shingle array sorted by (global df, shingle) — ONE shuffle on
    // id (struct sort_array inside the agg) instead of the r3 join + two-
    // window formulation, whose extra hash-partition + sort cost ~1.3s of
    // the 5.5s sf0.1 total.
    val arr = sh.join(docFreq, "sh")
      .groupBy(col(id))
      .agg(transform(
        sort_array(collect_list(struct(col("df"), col("sh")))),
        s => s.getField("sh")).as("arr"))
      // The sorted-array aggregation feeds THREE consumers (the prefix
      // posexplode + both verify join sides); AQE's runtime stage reuse
      // already dedups the identical shuffle stages below it, so the agg
      // does NOT re-run per consumer. A/B-measured r17: inserting an
      // explicit .repartition(id) boundary above the agg changes nothing
      // outside the ±8% same-code band (2.84/2.95 vs 2.66/3.10 solo) —
      // the minimal plan is kept.
    // Integer-boundary guard: sizes/positions are exact ints, so comparing
    // against t·n through doubles can mis-prune when t·n lands on an
    // integer and the double product carries representation error above
    // half-ulp (0.8·10 is exactly 8.0, but e.g. 0.57·100 is 57.000000...01,
    // whose ceil would overshoot). Subtracting the epsilon before every
    // ceil/compare rounds DOWN only — which lengthens the prefix and keeps
    // boundary pairs; verification discards false keeps exactly.
    val eps = 1e-9
    val pref = arr
      .select(col(id), size(col("arr")).as("sz"), col("arr"))
      .select(col(id), col("sz"), posexplode(
        slice(col("arr"), lit(1),
          (col("sz") - ceil(lit(threshold) * col("sz") - lit(eps)) + 1).cast("int")))
        .as(Seq("pos0", "sh")))
    val a = pref.select(
      col(id).as("doc_a"), col("sh"), (col("pos0") + 1).as("pa"), col("sz").as("na"))
    val b = pref.select(
      col(id).as("doc_b"), col("sh"), (col("pos0") + 1).as("pb"), col("sz").as("nb"))
    val cand = a.join(b, Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .filter( // length filter: min(|a|,|b|) ≥ t·max(|a|,|b|)
        least(col("na"), col("nb")).cast("double")
          >= lit(threshold) * greatest(col("na"), col("nb")) - lit(eps))
      .groupBy("doc_a", "doc_b", "na", "nb") // na/nb are functions of the ids
      .agg(min( // tightest positional overlap upper bound across shared prefix shingles
        least(col("pa"), col("pb")) + least(col("na") - col("pa"), col("nb") - col("pb"))
      ).as("ub"))
      .filter( // required overlap α = t/(1+t)·(|a|+|b|)
        col("ub").cast("double")
          >= lit(threshold / (1 + threshold)) * (col("na") + col("nb")) - lit(eps))
      .select("doc_a", "doc_b")
    verifyJaccardArr(cand, arr, id, arr, id, threshold)
  }

  /** Exact Jaccard over candidate pairs given per-doc (distinct) shingle
    * ARRAY tables for each side (`arrA` keyed by `idA` for doc_a, `arrB`
    * by `idB` for doc_b): two equi-joins + an `array_intersect` per pair,
    * instead of the r3 explode-join-groupBy (3 shuffles → 2, and the
    * pair-side shuffle carries one row per pair, not one per shared
    * shingle). The per-doc array is bounded by document length, so
    * carrying it through the join is safe at 100 TB. This is what makes
    * LSH + verify linear-ish: the shingle join fans out per candidate
    * pair, never across the whole corpus.
    */
  private def verifyJaccardArr(
      candidates: DataFrame, arrA: DataFrame, idA: String,
      arrB: DataFrame, idB: String, threshold: Double): DataFrame =
    candidates
      .join(arrA.select(col(idA).as("doc_a"), col("arr").as("arr_a")), "doc_a")
      .join(arrB.select(col(idB).as("doc_b"), col("arr").as("arr_b")), "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double")
          / (size(col("arr_a")) + size(col("arr_b")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Near-dup pairs: LSH candidates, then exact-Jaccard verification —
    * output is identical to the exact O(n²) computation w.h.p., at the
    * cost of a linear signature scan plus tiny bucket joins.
    *
    * Shape: the shingle table is NEVER exploded. One cached per-doc array
    * of 8-byte hashed shingle identities feeds (a) the per-row
    * [[graft.plans.MinHashSig]] signature kernel (bit-identical values to
    * the aggregate formulation — spec-asserted), (b) both sides of the
    * candidate-only array verification. The only shuffles left are the
    * tiny band-bucket join and the per-pair verify.
    */
  def minHashNearDupPairs(
      docs: DataFrame, id: String, shingles: Column, threshold: Double,
      numHashes: Int = 32, bandRows: Int = 2): DataFrame = {
    requireBanding(numHashes, bandRows)
    // reused: signatures + both verification sides
    val arr = hashedShingleArr(docs, id, shingles)
    verifyJaccardArr(selfCandidates(arr, id, numHashes, bandRows), arr, id, arr, id, threshold)
  }

  /** Per-doc distinct hashed-shingle arrays, eagerly checkpointed (each
    * LSH pipeline reads them ≥ 2×: signatures + verification sides).
    */
  private def hashedShingleArr(docs: DataFrame, id: String, shingles: Column): DataFrame =
    shingleFanOut(docs)
      .select(col(id), array_distinct(transform(shingles, s => xxhash64(s))).as("arr"))
      .filter(size(col("arr")) > 0)
      .transform(graft.Tables.pin)

  /** `numHashes / bandRows` bands of `bandRows` signature components each
    * need `bandRows` in [1, numHashes] dividing `numHashes` (a remainder
    * would silently drop components). Every banding entry point checks
    * this first, before [[hashedShingleArr]]'s checkpoint job runs.
    */
  private def requireBanding(numHashes: Int, bandRows: Int): Unit =
    require(bandRows >= 1 && bandRows <= numHashes && numHashes % bandRows == 0,
      s"bandRows must be in [1, numHashes] and divide numHashes, " +
        s"got bandRows = $bandRows, numHashes = $numHashes")

  /** (id, band, key) LSH bucket keys from banded per-row MinHash
    * signatures over a hashed-shingle array table: `numHashes / bandRows`
    * bands of `bandRows` signature components each ([[requireBanding]]).
    */
  private def bandKeys(
      arr: DataFrame, id: String, numHashes: Int, bandRows: Int): DataFrame = {
    val sig = arr.select(col(id),
      graft.plans.MinHashSig.minHashSig(col("arr"), permConstants(numHashes)).as("sig"))
    val bands = (0 until numHashes / bandRows).map { j =>
      val elems = (0 until bandRows).map(k => element_at(col("sig"), j * bandRows + k + 1))
      struct(lit(j).as("band"), hash(elems: _*).as("key"))
    }
    sig.select(col(id), explode(array(bands: _*)).as("bk"))
      .select(col(id), col("bk.band"), col("bk.key"))
  }

  /** The band-bucket candidate join over two [[bandKeys]] tables: (x's id
    * as doc_a, y's id as doc_b) for every pair of rows sharing a (band,
    * key) bucket, distinct — quadratic only inside a bucket.
    */
  private def bandCandidates(
      x: DataFrame, xId: String, y: DataFrame, yId: String): DataFrame =
    x.as("x").join(y.as("y"), Seq("band", "key"))
      .select(col(s"x.$xId").as("doc_a"), col(s"y.$yId").as("doc_b"))
      .distinct()

  /** One corpus's band-bucket candidates, each unordered pair once
    * (doc_a < doc_b).
    */
  private def selfCandidates(
      arr: DataFrame, id: String, numHashes: Int, bandRows: Int): DataFrame = {
    val keys = bandKeys(arr, id, numHashes, bandRows)
    bandCandidates(keys, id, keys, id).filter(col("doc_a") < col("doc_b"))
  }

  /** Near-dup pairs ACROSS two corpora: (left id as doc_a, right id as
    * doc_b, jaccard ≥ threshold) — the two-sided form of
    * [[minHashNearDupPairs]] for matching one corpus against another
    * (new crawl vs existing corpus, training set vs benchmark suite).
    * Candidates exist only where a band bucket collides across sides, so
    * cost is linear in each side plus the tiny bucket join — the
    * right-side corpus is never broadcast and never crossed.
    */
  def minHashCrossPairs(
      left: DataFrame, leftId: String, leftShingles: Column,
      right: DataFrame, rightId: String, rightShingles: Column,
      threshold: Double, numHashes: Int = 32, bandRows: Int = 2): DataFrame = {
    requireBanding(numHashes, bandRows)
    val arrL = hashedShingleArr(left, leftId, leftShingles)
    val arrR = hashedShingleArr(right, rightId, rightShingles)
    val cand = bandCandidates(
      bandKeys(arrL, leftId, numHashes, bandRows), leftId,
      bandKeys(arrR, rightId, numHashes, bandRows), rightId)
    verifyJaccardArr(cand, arrL, leftId, arrR, rightId, threshold)
  }

  /** Persist a MinHash LSH index over a corpus: the banded bucket keys
    * and hashed-shingle arrays written ONCE as catalog tables
    * (`<name>_bands`, `<name>_arr`), so incremental batches probe stored
    * state instead of re-scanning corpus text. This is the index-reuse
    * companion of [[graft.functions.BloomMembership]]'s incremental
    * exact-shingle dedup: Bloom answers "any shingle seen before?" in
    * fixed memory; this index answers "WHICH near-duplicate, at what
    * Jaccard" with corpus-linear state that amortizes across every
    * future batch. At 100 TB the two tables are ~(numHashes/bandRows +
    * ~1)×|corpus| small rows — a fraction of corpus text — and the probe
    * cost is linear in the BATCH, not the corpus.
    */
  def buildMinHashIndex(
      cat: graft.sources.Catalog, name: String,
      docs: DataFrame, id: String, shingles: Column,
      numHashes: Int = 32, bandRows: Int = 2): Unit = {
    requireBanding(numHashes, bandRows)
    val arr = hashedShingleArr(docs, id, shingles)
    val bands = bandKeys(arr, id, numHashes, bandRows)
    cat.create(s"${name}_arr", arr.schema)
    cat.insert(s"${name}_arr", arr)
    cat.create(s"${name}_bands", bands.schema)
    cat.insert(s"${name}_bands", bands)
  }

  /** Probe a new batch against a [[buildMinHashIndex]] index: returns
    * (doc_a = indexed id, doc_b = batch id, jaccard ≥ threshold). The
    * corpus side contributes only its STORED band/array tables (no text
    * re-scan, no signature recompute); band parameters must match the
    * build's. Result is identical to [[minHashCrossPairs]] on the same
    * two corpora (spec-asserted) — the index round-trip changes nothing.
    */
  def probeMinHashIndex(
      cat: graft.sources.Catalog, name: String,
      batch: DataFrame, id: String, shingles: Column, threshold: Double,
      numHashes: Int = 32, bandRows: Int = 2): DataFrame = {
    requireBanding(numHashes, bandRows)
    val arrB = hashedShingleArr(batch, id, shingles)
    val cand = bandCandidates(
      cat.table(s"${name}_bands"), id, bandKeys(arrB, id, numHashes, bandRows), id)
    verifyJaccardArr(cand, cat.table(s"${name}_arr"), id, arrB, id, threshold)
  }

  /** 60-bit SimHash of the token multiset: per-bit majority vote of
    * [[TextFunctions.tokenHash60]] (md5-derived — engine-portable, which is
    * what lets the DuckDB oracle recompute identical signatures; 60 bits
    * because 15 md5 hex chars fit a signed 64-bit int on every engine).
    * Computed per ROW by the fused [[graft.plans.SimHash60]] kernel — a
    * signature is a pure per-document function, so no token table is
    * exploded and NO shuffle happens until LSH bucketing of the (id,
    * signature) pairs. The empty/null-array filter reproduces the
    * aggregate formulation's explode row-dropping ([[simHashAgg]], kept
    * as the equivalence witness).
    */
  val SimHashBits = 60

  def simHash(docs: DataFrame, id: String, tokens: Column): DataFrame =
    docs.select(col(id), tokens.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(id), graft.plans.SimHash60.simHash60(col("__toks")).as("simhash"))

  /** The explode + 60-sum groupBy formulation (one shuffle of the token
    * table) — retained as the spec witness for the fused kernel.
    */
  private[graft] def simHashAgg(docs: DataFrame, id: String, tokens: Column): DataFrame = {
    val tok = docs.select(col(id), explode(tokens).as("t"))
      .withColumn("h", TextFunctions.tokenHash60(col("t")))
    val bitSums = (0 until SimHashBits).map { k =>
      sum(shiftright(col("h"), k).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$k")
    }
    val agg = tok.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until SimHashBits)
      .map(k => when(col(s"s$k") >= 0, lit(1L << k)).otherwise(0L))
      .reduce(_ + _)
    agg.select(col(id), sim.as("simhash"))
  }

  /** SimHash near-dup candidates at hamming distance ≤ `maxHamming`, via
    * block bucketing over the 60-bit signature split into `numBlocks`
    * equal blocks, keyed on every combination of `keyBlocks` of them.
    * Pigeonhole recall guarantee: a pair at hamming ≤ `numBlocks −
    * keyBlocks` touches at most that many blocks, so some `keyBlocks`
    * blocks are untouched and one combination key matches exactly (higher
    * distances are best-effort). Output: (doc_a, doc_b, hamming).
    *
    * The (numBlocks, keyBlocks) pair is the SCALE knob for the candidate
    * set's birthday term: random pairs collide on a combination key with
    * probability ~C(numBlocks, keyBlocks) / 2^(keyBlocks·60/numBlocks).
    * The default (4, 1) — 4×15-bit single-block keys, guarantee hamming
    * ≤ 3 — costs ~4·n²/2¹⁶ accidental candidates, fine to ~10⁶ docs; at
    * 10⁷+ docs use (6, 3) — twenty 30-bit keys, SAME hamming ≤ 3
    * guarantee — whose birthday term is ~2¹³× smaller (20·n²/2³¹) for 5×
    * the bucket-join rows. Measured on the 10× stress corpus
    * (NOTES_r9.md): candidate growth 14.7× under (4, 1) — super-linear,
    * the birthday term surfacing — vs ~10× (linear, pure duplicate
    * structure) under (6, 3).
    */
  def simHashNearDupPairs(
      docs: DataFrame, id: String, tokens: Column, maxHamming: Int,
      numBlocks: Int = 4, keyBlocks: Int = 1): DataFrame = {
    require(SimHashBits % numBlocks == 0,
      s"numBlocks must divide $SimHashBits, got $numBlocks")
    require(keyBlocks >= 1 && keyBlocks <= numBlocks,
      s"keyBlocks must be in [1, $numBlocks], got $keyBlocks")
    val w = SimHashBits / numBlocks
    val mask = (1L << w) - 1
    def blockVal(j: Int): Column =
      shiftrightunsigned(col("simhash"), j * w).bitwiseAND(lit(mask))
    // every combo is an exploded row per doc AND a plan-side struct; a
    // mid-range (numBlocks, keyBlocks) like (30, 15) would be C(30,15) ≈
    // 155M combos — bound the count ARITHMETICALLY before materializing
    val comboCount = (0 until keyBlocks)
      .foldLeft(1L)((a, i) => a * (numBlocks - i) / (i + 1))
    require(comboCount <= 256,
      s"C($numBlocks, $keyBlocks) = $comboCount combination keys — " +
        "the candidate fan-out must stay small (≤ 256)")
    val sig = simHash(docs, id, tokens)
    val combos = (0 until numBlocks).combinations(keyBlocks).toSeq
    val blocks = combos.zipWithIndex.map { case (combo, ci) =>
      val key = combo.zipWithIndex
        .map { case (j, p) => shiftleft(blockVal(j), p * w) }
        .reduce[Column](_ + _)
      struct(lit(ci).as("blk"), key.as("key"))
    }
    val exploded = sig.select(col(id), col("simhash"), explode(array(blocks: _*)).as("bk"))
      .select(col(id), col("simhash"), col("bk.blk"), col("bk.key"))
    exploded.as("x").join(exploded.as("y"), Seq("blk", "key"))
      .filter(col(s"x.$id") < col(s"y.$id"))
      .select(
        col(s"x.$id").as("doc_a"), col(s"y.$id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      // hamming is a pure function of the pair, so filtering BEFORE the
      // distinct is semantics-preserving — and it keeps the up-to-4×
      // block-collision copies of every sub-threshold pair out of the
      // distinct's shuffle (the dominant cost on dense corpora)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact repeated-substring statistics, the document-level form of
    * substring-granular dedup ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022 — their suffix-array pass removes any
    * ≥50-token span occurring twice in the corpus; see
    * SURVEY.md §2.9): for every document, how much of it is covered by
    * `n`-token windows that also occur VERBATIM in at least one other
    * document. Output per doc (only docs with ≥1 repeated window):
    * `(id, n_tokens, dup_grams, covered_tokens, coverage)`.
    *
    * Scale shape — linear end-to-end, no pair table anywhere:
    *  1. per-row [[graft.plans.WordShingles]] kernel emits every n-window
    *     (order kept, duplicates kept) in one byte-walk; positions come
    *     from `posexplode` — ~`n_tokens` rows per doc, 8-byte
    *     [[TextFunctions.tokenHash60]] keys, never the gram strings;
    *  2. one hash-shuffle groups by gram hash to find grams with document
    *     frequency ≥ 2 (at 100 TB this aggregate is the same shape as the
    *     TF-IDF vocabulary pass);
    *  3. the df≥2 gram set joins BACK to the position table on the gram
    *     key (equi-join, AQE picks broadcast iff the dup set is small);
    *  4. coverage is a per-doc interval union, computed as
    *     `explode(sequence(s, s+n-1))` + `countDistinct` — bounded by
    *     n·dup_grams rows per doc.
    * Unlike the pairwise dedup family, output and every intermediate are
    * O(corpus tokens) — repeated boilerplate shared by thousands of docs
    * costs df·n rows, not df² pairs.
    */
  def repeatedNgramCoverage(
      docs: DataFrame, id: String, text: Column, n: Int): DataFrame = {
    val grams = docs
      .select(
        col(id),
        size(TextFunctions.tokens(text)).cast("long").as("n_tokens"),
        posexplode(TextFunctions.wordShinglesAll(text, n)).as(Seq("pos", "gram")))
      .select(
        col(id), col("n_tokens"), (col("pos") + 1).as("s"),
        TextFunctions.tokenHash60(col("gram")).as("h"))
    val dupGrams = grams.groupBy("h")
      .agg(count_distinct(col(id)).as("df"))
      .filter(col("df") >= 2)
      .select("h")
    val hits = grams.join(dupGrams, "h")
    val coverage = hits
      .select(col(id), col("n_tokens"),
        explode(sequence(col("s"), col("s") + (n - 1))).as("p"))
      .groupBy(col(id), col("n_tokens"))
      .agg(count_distinct(col("p")).as("covered_tokens"))
    val counts = hits.groupBy(col(id)).agg(count(lit(1)).as("dup_grams"))
    coverage.join(counts, Seq(id))
      .select(
        col(id), col("n_tokens"), col("dup_grams"), col("covered_tokens"),
        round(col("covered_tokens").cast("double") / col("n_tokens"), 6)
          .as("coverage"))
      .orderBy(col(id))
  }

  /** Substring-granular dedup REMOVAL — the operator behind
    * [[repeatedNgramCoverage]]'s report: every token position covered by
    * a non-first occurrence of a corpus-repeated `n`-gram is stripped,
    * and the surviving tokens are re-joined into cleaned text. "First
    * occurrence" is the gram's global (min doc, then min position)
    * owner — the keep-one rule of Lee et al.'s suffix-array dedup,
    * restated over fixed windows; a position in ANY doc still drops if a
    * different gram's owner lives elsewhere and covers it. Output per
    * doc: `(id, n_tokens, n_removed, clean_text)` — every doc appears,
    * fully-deduplicated docs with empty text.
    *
    * Scale shape: identical linear skeleton to the coverage op (gram
    * hash aggregate → equi join back; no pair table) plus one
    * `min(struct(doc, pos))` owner per dup gram (same aggregate) and a
    * per-doc ordered re-assembly whose sort is bounded by the document's
    * own length.
    */
  def stripRepeatedNgrams(
      docs: DataFrame, id: String, text: Column, n: Int): DataFrame = {
    val grams = docs
      .select(col(id), posexplode(TextFunctions.wordShinglesAll(text, n))
        .as(Seq("pos", "gram")))
      .select(col(id), (col("pos") + 1).as("s"),
        TextFunctions.tokenHash60(col("gram")).as("h"))
    val owners = grams.groupBy("h")
      .agg(count_distinct(col(id)).as("df"),
        min(struct(col(id), col("s"))).as("own"))
      .filter(col("df") >= 2)
      .select(col("h"), col("own"))
    val removed = grams.join(owners, "h")
      .filter(!(col(id) === col("own").getField(id) &&
        col("s") === col("own").getField("s")))
      .select(col(id), explode(sequence(col("s"), col("s") + (n - 1))).as("p"))
      .distinct()
    val toks = docs
      .select(col(id), posexplode(TextFunctions.tokens(text)).as(Seq("p0", "tk")))
      .select(col(id), (col("p0") + 1).as("p"), col("tk"))
    val kept = toks.join(removed, Seq(id, "p"), "left_anti")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("tk")))),
          e => e.getField("tk")), " ").as("clean_text"))
    docs
      .select(col(id), size(TextFunctions.tokens(text)).cast("long").as("n_tokens"))
      .join(kept, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col(id))
  }

  // ---------------------------------------------------------------- queries

  private[graft] def shingles3(c: Column) = TextFunctions.wordShingles(c, 3)

  /** Oracle-side exact shingle-Jaccard pair query (DuckDB list
    * comprehension builds the same distinct word n-shingles).
    */
  private def jaccardOracle(n: Int, threshold: String): String = {
    val shingle = (1 to n).map(k => s"ws[i${if (k == 1) "" else s"+${k - 1}"}]")
      .mkString(" || ' ' || ")
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct([$shingle FOR i IN range(1, len(ws)-${n - 2})])) AS s
       |       FROM w WHERE len(ws) >= $n),
       |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) i
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
       |SELECT da AS doc_a, db AS doc_b,
       |  i*1.0/(sa.n + sb.n - i) AS jaccard
       |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |WHERE i*1.0/(sa.n + sb.n - i) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Oracle CTE chain of the doc-frequency-capped rows (the same cap 5
    * as [[exactJaccardPairs]]' `maxDocFreq`): distinct 3-word shingles
    * `sh0`, the stop shingles `hot` dropped into `sh`, per-doc sizes `sz`
    * and pair intersection counts `inter` (da < db).
    */
  private val cappedOverlapCte =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh0 AS (SELECT doc_id, unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                                             FOR i IN range(1, len(ws)-1)])) AS s
      |        FROM w WHERE len(ws) >= 3),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > 5),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)""".stripMargin

  val queries: Seq[Q] = Seq(
    // ---- exact dedup: keeper per identical text ----
    Q(
      "dedup_exact",
      """SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    },

    // ---- exact dedup on canonical token-set form (catches reorderings) ----
    Q(
      "dedup_exact_canonical",
      """SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM (SELECT doc_id,
        |        array_to_string(list_sort(list_distinct(string_split(text,' '))),' ') AS canon
        |      FROM documents)
        |GROUP BY canon HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(TextFunctions.canonicalTokenForm(col("text")).as("canon"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    },

    // ---- MinHash LSH near-dup (3-word shingles, J ≥ 0.8), exact-verified:
    // oracle is the full O(n²) Jaccard — LSH recall at this threshold makes
    // the outputs identical ----
    Q("dedup_minhash", jaccardOracle(3, "0.8")) { (s, d) =>
      minHashNearDupPairs(Tables.documents(s, d), "doc_id", shingles3(col("text")), 0.8)
        .orderBy("doc_a", "doc_b")
    },

    // ---- exact n-gram Jaccard (3-word shingles, J ≥ 0.8), prefix-filtered.
    // Shingle size matters at scale: the fixture's ~50-token vocabulary
    // makes bigrams dense (every bigram is a hot join key → quadratic
    // candidates no matter the algorithm); 3-shingles are sparse (avg doc
    // frequency ~2), so prefix filtering prunes candidates to near-linear.
    // Same exact-output contract as the naive all-pairs join ----
    Q("dedup_ngram_jaccard", jaccardOracle(3, "0.8")) { (s, d) =>
      prefixFilteredJaccardPairs(
        Tables.documents(s, d), "doc_id", shingles3(col("text")), 0.8)
        .orderBy("doc_a", "doc_b")
    },

    // ---- the stop-shingle scale guard, oracle-proven: exact Jaccard with
    // ubiquitous shingles (doc freq > 5) dropped BEFORE the self-join.
    // This is the knob that bounds the quadratic hot-key blowup at 100 TB
    // (the self-join cost is Σ df² over KEPT shingles — the cap turns the
    // hottest keys off); the oracle applies the same cap, so the capped
    // semantics (Jaccard over the REDUCED shingle sets) are checked
    // end-to-end. Cap 5 binds at every fixture SF (29 shingles dropped at
    // sf0.01, ~25k at sf0.1) while keeping the join sparse ----
    Q(
      "dedup_jaccard_capped",
      s"""$cappedOverlapCte
        |SELECT da AS doc_a, db AS doc_b,
        |  i*1.0/(sa.n + sb.n - i) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |WHERE i*1.0/(sa.n + sb.n - i) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,
    ) { (s, d) =>
      exactJaccardPairs(Tables.documents(s, d), "doc_id", shingles3(col("text")),
        threshold = 0.6, maxDocFreq = Some(5))
        .orderBy("doc_a", "doc_b")
    },

    // ---- MinHash CALIBRATION: estimated-vs-exact Jaccard agreement,
    // bucketed by the estimate — the "measure, don't guess" QA row for
    // the sketch tier (is 32 hashes enough at our thresholds?). Pairs
    // come from the SAME df-capped exact join as dedup_jaccard_capped
    // (wider J ≥ 0.3 net for range); the 32 signature components are
    // min((a_i·h + b_i) mod p) over md5-top-60 shingle hashes reduced
    // mod p = 2^31−1 — every operand exact BIGINT, so DuckDB replays the
    // sketch itself bit-for-bit (the production path keeps the faster
    // xxhash64 codegen kernel; this row pins the MATH). Per-bucket means
    // are integer-division of exact micros sums ----
    Q(
      "dedup_minhash_calibration",
      s"""$cappedOverlapCte,
        |pairs AS (SELECT da, db,
        |    CAST(FLOOR(i*1000000.0/(sa.n + sb.n - i) + 0.5) AS BIGINT) AS jac_mic
        |  FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE i*1.0/(sa.n + sb.n - i) >= 0.3),
        |perms AS (SELECT CAST(i AS BIGINT) AS pi, CAST(2*i+1 AS BIGINT) AS pa,
        |    CAST(i*i+7 AS BIGINT) AS pb FROM range(0,32) t(i)),
        |hm AS (SELECT doc_id, ('0x' || substr(md5(s),1,15))::BIGINT % 2147483647 AS hm
        |       FROM sh),
        |sig AS (SELECT doc_id, pi, MIN((pa*hm+pb) % 2147483647) AS m
        |        FROM hm CROSS JOIN perms GROUP BY 1, 2),
        |mt AS (SELECT p.da, p.db, p.jac_mic,
        |    CAST(SUM(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) AS BIGINT) AS matches
        |  FROM pairs p JOIN sig x ON x.doc_id = p.da
        |  JOIN sig y ON y.doc_id = p.db AND y.pi = x.pi
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(LEAST(matches*10 // 32, 9) AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(matches*31250) // COUNT(*) AS BIGINT) AS mean_est_mic,
        |  CAST(SUM(jac_mic) // COUNT(*) AS BIGINT) AS mean_exact_mic
        |FROM mt GROUP BY 1 ORDER BY bucket""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      val sh0 = docs.select(col("doc_id"), explode(shingles3(col("text"))).as("s"))
      val hot = sh0.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") > 5).select("s")
      // read 4x (sizes, both join sides, signatures) — pin it once
      val sh = sh0.join(hot, Seq("s"), "left_anti").transform(graft.Tables.pin)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.as("a").join(sh.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("i"))
      val pairs = inter
        .join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
        .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
        .filter(col("i") * 1.0 / (col("na") + col("nb") - col("i")) >= 0.3)
        .select(col("da"), col("db"),
          floor(col("i") * 1000000.0 / (col("na") + col("nb") - col("i")) + 0.5)
            .cast("long").as("jac_mic"))
      val perms = s.range(0, 32).select(col("id").as("pi"),
        (col("id") * 2 + 1).as("pa"), (col("id") * col("id") + 7).as("pb"))
      val hm = sh.select(col("doc_id"),
        expr("cast(conv(substring(md5(s),1,15),16,10) as bigint) % 2147483647")
          .as("hm"))
      val sig = hm.crossJoin(broadcast(perms))
        .groupBy(col("doc_id"), col("pi"))
        .agg(min((col("pa") * col("hm") + col("pb")) % 2147483647L).as("m"))
      val mt = pairs
        .join(sig.withColumnRenamed("doc_id", "da").withColumnRenamed("m", "ma"),
          Seq("da"))
        .join(sig.withColumnRenamed("doc_id", "db").withColumnRenamed("m", "mb"),
          Seq("db", "pi"))
        .groupBy("da", "db", "jac_mic")
        .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("matches"))
      mt.groupBy(least(expr("matches*10 DIV 32"), lit(9L)).as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("SUM(matches*31250) DIV COUNT(*)").as("mean_est_mic"),
          expr("SUM(jac_mic) DIV COUNT(*)").as("mean_exact_mic"))
        .orderBy("bucket")
    },

    // ---- containment pairs (quote/subset detection): |A∩B|/min(|A|,|B|)
    // ≥ 0.9 over the capped 3-shingle sets. Catches the near-total
    // inclusion a Jaccard threshold structurally misses; same sparse
    // prefix-join cost profile as the capped Jaccard row ----
    Q(
      "dedup_containment",
      s"""$cappedOverlapCte
        |SELECT da AS doc_a, db AS doc_b,
        |  i*1.0/LEAST(sa.n, sb.n) AS containment
        |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |WHERE i*1.0/LEAST(sa.n, sb.n) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    ) { (s, d) =>
      containmentPairs(Tables.documents(s, d), "doc_id", shingles3(col("text")),
        threshold = 0.9, maxDocFreq = Some(5))
        .orderBy("doc_a", "doc_b")
    },

    // ---- SimHash near-dup at hamming ≤ 3 — the guaranteed-recall regime
    // of the 4-block bucketing, so blocked candidates == exact all-pairs,
    // and the oracle recomputes the full 60-bit signatures + all-pairs
    // hamming from the same md5-derived token hash ----
    Q(
      "dedup_simhash",
      """WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS t
        |             FROM documents),
        |th AS (SELECT doc_id, ('0x' || substr(md5(t),1,15))::BIGINT AS h FROM tok),
        |ks AS (SELECT unnest(range(0,60)) AS k),
        |bits AS (SELECT doc_id, k,
        |           SUM(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM th, ks GROUP BY 1, 2),
        |sig AS (SELECT doc_id,
        |          SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS sh
        |        FROM bits GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |            CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |          FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM pairs
        |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    ) { (s, d) =>
      simHashNearDupPairs(
        Tables.documents(s, d), "doc_id", TextFunctions.distinctTokens(col("text")), 3)
        .orderBy("doc_a", "doc_b")
    },

    // ---- substring-granular dedup statistics (Lee et al. 2022 shape):
    // per-doc coverage by 8-token windows repeated verbatim elsewhere in
    // the corpus. Oracle rebuilds every window + its md5-top-60 hash with
    // list lambdas and replays df≥2 / coverage-union exactly ----
    Q(
      "dedup_substring",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, len(toks) AS n_tokens, toks,
        |        unnest(generate_series(1, len(toks) - 7)) AS s
        |      FROM t WHERE len(toks) >= 8),
        |gh AS (SELECT doc_id, n_tokens, s,
        |         ('0x' || substr(md5(array_to_string(list_slice(toks, s, s + 7), ' ')), 1, 15))::BIGINT AS h
        |       FROM g),
        |df AS (SELECT h FROM gh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        |hit AS (SELECT gh.doc_id, gh.n_tokens, gh.s FROM gh JOIN df USING (h)),
        |cov AS (SELECT doc_id, n_tokens, COUNT(DISTINCT p) AS covered_tokens
        |        FROM (SELECT doc_id, n_tokens, unnest(generate_series(s, s + 7)) AS p FROM hit)
        |        GROUP BY 1, 2),
        |cnt AS (SELECT doc_id, COUNT(*) AS dup_grams FROM hit GROUP BY 1)
        |SELECT cov.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(dup_grams AS BIGINT) AS dup_grams,
        |  CAST(covered_tokens AS BIGINT) AS covered_tokens,
        |  ROUND(CAST(covered_tokens AS DOUBLE) / n_tokens, 6) AS coverage
        |FROM cov JOIN cnt ON cnt.doc_id = cov.doc_id
        |ORDER BY cov.doc_id""".stripMargin,
    ) { (s, d) =>
      repeatedNgramCoverage(Tables.documents(s, d), "doc_id", col("text"), 8)
    },

    // ---- substring-granular dedup REMOVAL (see [[stripRepeatedNgrams]]):
    // the coverage report above turned into cleaned text — non-first
    // occurrences of corpus-repeated 8-grams stripped, keep-one owner =
    // global (min doc, min pos). Oracle replays owners + removal + the
    // position-ordered re-assembly verbatim ----
    Q(
      "dedup_substring_strip",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS s
        |      FROM t WHERE len(toks) >= 8),
        |gh AS (SELECT doc_id, s,
        |         ('0x' || substr(md5(array_to_string(list_slice(toks, s, s + 7), ' ')), 1, 15))::BIGINT AS h
        |       FROM g),
        |own AS (SELECT h, doc_id AS od, s AS os FROM (
        |    SELECT h, doc_id, s,
        |      ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn,
        |      COUNT(DISTINCT doc_id) OVER (PARTITION BY h) AS df
        |    FROM gh) WHERE rn = 1 AND df >= 2),
        |rem AS (SELECT DISTINCT doc_id, p FROM (
        |    SELECT gh.doc_id, unnest(generate_series(gh.s, gh.s + 7)) AS p
        |    FROM gh JOIN own ON own.h = gh.h
        |    WHERE NOT (gh.doc_id = own.od AND gh.s = own.os))),
        |tok AS (SELECT doc_id, i AS p, toks[i] AS tk FROM
        |        (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks
        |         FROM t)),
        |kept AS (SELECT tok.doc_id, tok.p, tok.tk
        |         FROM tok LEFT JOIN rem ON rem.doc_id = tok.doc_id AND rem.p = tok.p
        |         WHERE rem.p IS NULL),
        |ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |         string_agg(tk, ' ' ORDER BY p) AS clean_text
        |       FROM kept GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(ka.clean_text, '') AS clean_text
        |FROM t LEFT JOIN ka ON ka.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    ) { (s, d) =>
      stripRepeatedNgrams(Tables.documents(s, d), "doc_id", col("text"), 8)
    },

    // ---- incremental-ingest dedup via Bloom membership (the Dolma BFF
    // shape): the existing corpus (19 of 20 sources) is summarized into a
    // fixed 128 KiB bloom of its 5-shingles; the incoming batch (src0) is
    // probed against it — per-doc counts of claimed-seen vs actually-seen
    // shingles. No false negatives (seen ⇒ claimed, asserted per doc);
    // false positives are deterministic given the md5 hashes, so the
    // oracle rebuilds the exact set-bit set and replays them too ----
    Q(
      "dedup_bloom_shingles",
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, source, unnest(list_distinct(
        |         CASE WHEN len(toks) >= 5 THEN
        |           list_transform(generate_series(1, len(toks) - 4),
        |             i -> array_to_string(list_slice(toks, i, i + 4), ' '))
        |         ELSE [] END)) AS sh FROM t),
        |bits AS (SELECT DISTINCT
        |    ('0x' || substr(md5('bf' || CAST(j AS VARCHAR) || ':' || sh), 1, 15))::BIGINT % 1048576 AS b
        |  FROM sh CROSS JOIN (SELECT unnest([0,1,2]) AS j) WHERE source <> 'src0'),
        |exd AS (SELECT DISTINCT sh FROM sh WHERE source <> 'src0'),
        |probe AS (SELECT i.doc_id, i.sh,
        |    (SELECT COUNT(*) FROM (SELECT unnest([0,1,2]) AS j) js
        |     WHERE ('0x' || substr(md5('bf' || CAST(js.j AS VARCHAR) || ':' || i.sh), 1, 15))::BIGINT % 1048576
        |       IN (SELECT b FROM bits)) = 3 AS claimed,
        |    EXISTS(SELECT 1 FROM exd e WHERE e.sh = i.sh) AS seen
        |  FROM sh i WHERE i.source = 'src0')
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN claimed THEN 1 ELSE 0 END) AS BIGINT) AS n_claimed,
        |  CAST(SUM(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
        |  BOOL_AND(claimed OR NOT seen) AS no_false_neg
        |FROM probe GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      import graft.functions.BloomMembership
      val docs = Tables.documents(s, d)
      def shingled(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"),
          explode(TextFunctions.wordShingles(col("text"), 5)).as("sh"))
      val ex = shingled(docs.filter(col("source") =!= "src0")).select("sh")
      val inc = shingled(docs.filter(col("source") === "src0"))
      val bloom = ex
        .agg(BloomMembership.bloomAgg(BloomMembership.bitIndexes(col("sh"))).as("bf"))
      val exD = ex.distinct().withColumn("seen", lit(true))
      inc.join(exD, Seq("sh"), "left")
        .crossJoin(broadcast(bloom))
        .select(col("doc_id"),
          BloomMembership.mightContain(col("bf"), col("sh")).as("claimed"),
          coalesce(col("seen"), lit(false)).as("seen"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_shingles"),
          sum(when(col("claimed"), 1L).otherwise(0L)).as("n_claimed"),
          sum(when(col("seen"), 1L).otherwise(0L)).as("n_seen"),
          expr("bool_and(claimed OR NOT seen)").as("no_false_neg"))
        .orderBy("doc_id")
    },

    // ---- persisted MinHash LSH index + incremental probe: the corpus
    // (doc_id % 5 <> 3) is indexed ONCE into catalog tables (banded
    // bucket keys + hashed shingle arrays); the incoming batch (doc_id %
    // 5 = 3) probes stored state — no corpus text re-scan, probe cost
    // linear in the batch. Oracle = exact cross-side 3-shingle Jaccard
    // (band recall at J>=0.8 is 1-8e-8 with 16 bands x 2 rows, same as
    // dedup_minhash); a spec asserts probe == minHashCrossPairs on the
    // same split, so the catalog round-trip changes nothing ----
    Q(
      "dedup_minhash_index",
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN range(1, len(ws)-1)])) AS s
        |       FROM w WHERE len(ws) >= 3),
        |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s
        |          WHERE a.doc_id % 5 <> 3 AND b.doc_id % 5 = 3 GROUP BY 1,2)
        |SELECT da AS doc_a, db AS doc_b,
        |  i*1.0/(sa.n + sb.n - i) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |WHERE i*1.0/(sa.n + sb.n - i) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    ) { (s, d) =>
      val wh = CatalogOps.tempWarehouse()
      val cat = new graft.sources.Catalog(s, wh)
      val docs = Tables.documents(s, d)
      buildMinHashIndex(cat, "mh_idx",
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 3), "doc_id",
        shingles3(col("text")))
      probeMinHashIndex(cat, "mh_idx",
        docs.filter(pmod(col("doc_id"), lit(5)) === 3), "doc_id",
        shingles3(col("text")), threshold = 0.8)
        .orderBy("doc_a", "doc_b")
    },
  )
}
