package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Graph analytics over relationship tables (SURVEY.md §2.9 extension
  * tier, sibling of the connected-components duplicate-cluster resolver
  * in [[TrainingData]]).
  *
  * PageRank here runs on an INTEGER-NANOS lattice: every rank is a BIGINT
  * count of 1e-9 units, every division is integer division (`DIV`), so
  * the computation is bit-identical across engines and the DuckDB oracle
  * replays all three unrolled iterations hash-exactly — same discipline
  * as the unrolled Lloyd rounds in [[Similarity]].
  *
  * Scale shape: each iteration is one shuffle join (edges keyed by src ⋈
  * ranks keyed by id) plus one partial-aggregated groupBy(dst) — both
  * linear in |E| and key-partitioned, so a 1000-executor cluster runs
  * each round as a standard co-partitioned join. The ONLY broadcast is
  * the 1-row node-count scalar (PlanSpec-allowlisted). Iterations are
  * unrolled statically — no driver-side collect/count inside the loop; a
  * convergence-stopped variant would ride `Dataset.observe` on the
  * round's own job exactly like connectedComponents does.
  */
object GraphOps {

  /** Damped PageRank (d = 0.85), 3 unrolled iterations, on the undirected
    * co-transaction graph: one edge pair customer↔supplier per distinct
    * (o_custkey, l_suppkey) appearing together in an order. Supplier ids
    * are offset by 1e6 into a disjoint node-id space.
    */
  private val iterations = 3

  val queries: Seq[Q] = Seq(
    Q(
      "graph_pagerank",
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT c AS src, s + 1000000 AS dst FROM pairs
        |  UNION ALL
        |  SELECT s + 1000000 AS src, c AS dst FROM pairs),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
        |        FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT id, 1000000000 // nn.n AS r FROM nodes, nn),
        |s1 AS (SELECT e.dst AS id, CAST(SUM(r0.r // d.outdeg) AS BIGINT) AS s
        |       FROM edges e JOIN r0 ON r0.id = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT nodes.id,
        |         150000000 // nn.n + (85 * COALESCE(s1.s, 0)) // 100 AS r
        |       FROM nodes CROSS JOIN nn LEFT JOIN s1 ON s1.id = nodes.id),
        |s2 AS (SELECT e.dst AS id, CAST(SUM(r1.r // d.outdeg) AS BIGINT) AS s
        |       FROM edges e JOIN r1 ON r1.id = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT nodes.id,
        |         150000000 // nn.n + (85 * COALESCE(s2.s, 0)) // 100 AS r
        |       FROM nodes CROSS JOIN nn LEFT JOIN s2 ON s2.id = nodes.id),
        |s3 AS (SELECT e.dst AS id, CAST(SUM(r2.r // d.outdeg) AS BIGINT) AS s
        |       FROM edges e JOIN r2 ON r2.id = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT nodes.id,
        |         150000000 // nn.n + (85 * COALESCE(s3.s, 0)) // 100 AS r
        |       FROM nodes CROSS JOIN nn LEFT JOIN s3 ON s3.id = nodes.id)
        |SELECT id, CAST(r AS BIGINT) AS rank_nanos
        |FROM r3 ORDER BY rank_nanos DESC, id LIMIT 50""".stripMargin,
    ) { (s, d) =>
      val pairs = Tables.orders(s, d)
        .join(
          Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct()
      // both edge directions in ONE pass over pairs (a unionAll of two
      // projections would recompute the orders ⋈ lineitem distinct twice)
      val edges = pairs
        .select(explode(array(
          struct(col("c").as("src"), (col("s") + 1000000L).as("dst")),
          struct((col("s") + 1000000L).as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val nodes = edges.select(col("src").as("id")).distinct()
      val nTot = nodes.agg(count(lit(1)).as("n"))
      // (src, dst, outdeg) — reused by every iteration's contribution
      // join. NOT eagerly materialized: the repeated subtree hashes to the
      // same canonicalized Exchange, so AQE's ReusedExchange shares the
      // base join's shuffle output across all iterations within the one
      // physical plan — measured FASTER than a localCheckpoint here, which
      // forces an extra serial materialization job and blocks the reuse.
      val edgesDeg = edges.join(deg, "src")

      var r = nodes
        .crossJoin(broadcast(nTot))
        .select(col("id"), expr("1000000000 DIV n").as("r"))
      for (_ <- 1 to iterations) {
        val contrib = edgesDeg
          .join(r.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id"))
          .agg(sum(expr("r DIV outdeg")).as("s"))
        r = nodes
          .crossJoin(broadcast(nTot))
          .join(contrib, Seq("id"), "left")
          .select(
            col("id"),
            (expr("150000000 DIV n")
              + expr("(85 * COALESCE(s, 0)) DIV 100")).as("r"))
      }
      r.select(col("id"), col("r").as("rank_nanos"))
        .orderBy(col("rank_nanos").desc, col("id"))
        .limit(50)
    },

    // ---- triangle counting (degree-ordered orientation, Schank–Wagner
    // "compact-forward"): orient each undirected edge from its
    // lower-(degree, id) endpoint, enumerate wedges src→b→c along the
    // orientation, close them against the oriented edge set. Orientation
    // bounds every node's out-degree by O(√m), so total wedge fan-out is
    // O(m^1.5) instead of Σ deg² — the difference between feasible and
    // not on a skewed 100 TB co-occurrence graph. All three joins are
    // key-partitioned equi joins; the degree table is node-sized (AQE
    // broadcasts it at dim scale, hash-joins it at web scale). The part
    // filter (p_size ≤ 12) is pushed below the self-join, shrinking the
    // pair-generation quadratically before any shuffle. Integer-only
    // output → hash-exact oracle replay. ----
    Q(
      "graph_triangles",
      """WITH lp AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_size <= 12),
        |und AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM
        |        (SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY n),
        |fwd AS (
        |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
        |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
        |  FROM und e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |tri AS (
        |  SELECT w.a, w.b, w.c FROM
        |    (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |     FROM fwd e1 JOIN fwd e2 ON e1.dst = e2.src) w
        |  JOIN fwd e3 ON e3.src = w.a AND e3.dst = w.c),
        |pernode AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS tri_cnt FROM
        |            (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
        |             UNION ALL SELECT c FROM tri) GROUP BY n)
        |SELECT CAST(n AS BIGINT) AS part_id, tri_cnt
        |FROM pernode ORDER BY tri_cnt DESC, part_id LIMIT 50""".stripMargin,
    ) { (s, d) =>
      val lp = Tables.lineitem(s, d)
        .join(
          Tables.part(s, d).filter(col("p_size") <= 12),
          col("p_partkey") === col("l_partkey"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // the undirected edge set feeds the degree table AND the
      // orientation join — materialize it once instead of re-running the
      // pair self-join + distinct per consumer
      val und = lp.as("a")
        .join(lp.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
        .distinct()
        .transform(graft.Tables.pin)
      // degrees in ONE pass over und (explode, not a two-projection union)
      val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val lower = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
      // the oriented edge list is read THREE times (both wedge sides +
      // closure probe): materialize it, as any compact-forward
      // implementation stores its oriented adjacency
      val fwd = und
        .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
        .select(
          when(lower, col("u")).otherwise(col("v")).as("src"),
          when(lower, col("v")).otherwise(col("u")).as("dst"))
        .transform(graft.Tables.pin)
      val wedge = fwd.as("e1")
        .join(fwd.as("e2"), col("e1.dst") === col("e2.src"))
        .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      val tri = wedge.join(
        fwd.as("e3"),
        col("a") === col("e3.src") && col("c") === col("e3.dst"))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("tri_cnt"))
        .select(col("n").cast("long").as("part_id"), col("tri_cnt"))
        .orderBy(col("tri_cnt").desc, col("part_id"))
        .limit(50)
    },

    // ---- degree distribution of the FULL (unfiltered) co-purchase
    // graph in log2 buckets — the skew diagnostic run before any graph
    // algorithm to pick orientation/salting strategy. Two key-partitioned
    // aggregations over the edge list; no filter needed because nothing
    // here fans out quadratically. ----
    Q(
      "graph_degree_hist",
      """WITH b AS (SELECT l_orderkey AS ok, list_sort(list_distinct(
        |    list(l_partkey))) AS ps FROM lineitem GROUP BY 1),
        |pr AS (SELECT DISTINCT unnest(flatten([
        |    [ps[i] * 4294967296 + ps[j]
        |     FOR j IN range(i + 1, len(ps) + 1)] FOR i IN range(1, len(ps))]))
        |    AS pk FROM b),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM
        |        (SELECT pk // 4294967296 AS n FROM pr
        |         UNION ALL SELECT pk % 4294967296 FROM pr) GROUP BY n)
        |SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS deg_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(MIN(d) AS BIGINT) AS min_deg, CAST(MAX(d) AS BIGINT) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin,
    ) { (s, d) =>
      // per-order sorted DISTINCT basket + packed 64-bit combination
      // explode (the link-predict/basket-rules kernel): half the pair
      // generation of the order-keyed self-join, the pair DISTINCT runs
      // on one 8-byte column, and no wide join ever shuffles. floor(log2)
      // buckets via integer bit-length — exact on both engines, no libm.
      val pairs = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy("ok").agg(array_sort(collect_set(col("pk"))).as("ps"))
        // spread the basket table before the fan-out (AQE's byte-bound
        // coalesce would explode + partial-distinct on ~1 partition)
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps) - i - 1), " +
            "y -> shiftleft(x, 32) + y)))")).as("pr"))
        .distinct()
      pairs.select(explode(array(expr("shiftrightunsigned(pr, 32)"),
          expr("pr & 4294967295"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .groupBy(expr("CAST(length(bin(d)) - 1 AS BIGINT)").as("deg_bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("d")).as("min_deg"), max(col("d")).as("max_deg"))
        .orderBy("deg_bucket")
    },

    // ---- link prediction on the customer–part bipartite graph via the
    // RESOURCE-ALLOCATION index (Zhou/Lü/Zhang 2009): customers who
    // bought the same part, each shared part contributing 1/deg(part) —
    // RA instead of Adamic-Adar's 1/ln(deg) because 1000000 DIV deg is
    // EXACT integer arithmetic (no cross-engine libm ln ulp risk). Parts,
    // not suppliers, are the shared resource: TPC-H part degree is ~30
    // customers at EVERY sf (lineitem/part ratio is scale-invariant)
    // while every supplier is a degenerate hub. Scale discipline: the
    // pair generator is a per-part self-join BOUNDED by the hub cap
    // (deg ≤ 64 — hubs carry ~zero RA signal anyway and are where the
    // quadratic blowup lives; the cap is the PPJoin df-cap / LSH
    // hot-bucket discipline applied to graphs). Top-50 is TakeOrdered,
    // no global sort ----
    Q(
      "graph_link_predict_ra",
      """WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d
        |        FROM cp GROUP BY p HAVING COUNT(*) BETWEEN 2 AND 64),
        |w AS (SELECT cp.c, cp.p, 1000000 // deg.d AS w_mic
        |      FROM cp JOIN deg ON deg.p = cp.p),
        |pairs AS (SELECT a.c AS cust_a, b.c AS cust_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common,
        |    CAST(SUM(a.w_mic) AS BIGINT) AS ra_mic
        |  FROM w a JOIN w b ON a.p = b.p AND a.c < b.c GROUP BY 1, 2)
        |SELECT cust_a, cust_b, n_common, ra_mic FROM pairs
        |ORDER BY ra_mic DESC, cust_a, cust_b LIMIT 50""".stripMargin,
    ) { (s, d) =>
      val cp = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
      resourceAllocationTopPairs(cp, minDeg = 2, capDeg = 64, k = 50)
    },
  )

  /** Resource-allocation link prediction over a deduplicated bipartite
    * membership table with columns `c` (entity) and `p` (shared
    * resource): top-k entity pairs by Σ 1000000 DIV deg(p) over shared
    * resources — exact integer weights, no libm. Resources with
    * deg < minDeg contribute nothing; deg > capDeg are EXCLUDED (hub
    * cap: the quadratic pair blowup lives in the hubs and their RA
    * weight is ~0 anyway — the df-cap discipline of the PPJoin tier).
    *
    * Pair generation is INLINE, not a self-join: one shuffle groups the
    * capped membership into per-resource sorted arrays (≤ capDeg
    * entries), a codegen'd combination expression emits each i<j pair
    * packed into ONE BIGINT (`a·2³² + b` — requires entity ids < 2³¹ so
    * the unpack never touches the sign bit; the key-offset stress
    * replicas respect this), and the pair
    * aggregate runs on 8-byte keys. vs the previous SHUFFLE_HASH
    * self-join of the weighted membership (which shuffled both sides,
    * probed deg² candidates to keep deg²/2, and hash-aggregated a 2-col
    * key): measured 11.7 s → 2.9 s at sf0.1 for the identical result
    * (a join-based variant with the same explicit repartitions was also
    * tried and lost at both scales: 5.4 s / 65 s). At the 10× tier the
    * pair aggregate becomes shuffle-volume-bound (≈2.2 GB of packed
    * pairs): 56 s at the session's fixed 32 shuffle partitions, 38 s
    * when partitions scale 3× with the data — on a real cluster shuffle
    * parallelism grows with input, so the fixed-core harness understates
    * the scaling. The final top-k is a TakeOrdered — no global sort.
    *
    * The three-exchange prologue (membership distinct → degree filter →
    * per-resource arrays) is deliberate and HUB-SAFE: degree is computed
    * and capped on the flat table before any member array exists, so no
    * task ever materializes a pathological hub's list. A one-pass
    * collect_set fusion would save two exchanges of a 2-column table but
    * build every hub's full set first — the wrong trade at 100 TB. (r18
    * stage probe, solo sf1: prologue 17 s of the 19–21 s total; the sized
    * pair aggregate beats naive session partitioning ~5×; sf10 probe
    * growth 2.7× per 10× data.)
    */
  def resourceAllocationTopPairs(
      bip: org.apache.spark.sql.DataFrame,
      minDeg: Int, capDeg: Int, k: Int): org.apache.spark.sql.DataFrame = {
    // deg and the membership join BOTH shuffle bip on hash(p): the two
    // sides canonicalize to the same Exchange, so ReuseExchange computes
    // the expensive upstream (source join + distinct) ONCE and shares the
    // shuffle output — no localCheckpoint, no pinned block-manager state
    // (the r14 checkpoint was the suite's single biggest block allocator
    // and the row's main machine-state sensitivity; shuffle files live in
    // page cache and degrade gracefully under memory pressure).
    val deg = bip.groupBy("p").agg(count(lit(1)).as("d"))
      .filter(col("d") >= minDeg && col("d") <= capDeg)
    val grouped = bip.join(deg, "p")
      .select(col("p"), col("c"), expr("1000000L DIV d").as("w_mic"))
      .groupBy("p")
      // ascending member list ⇒ combinations are already (a < b); w_mic
      // is constant within a resource (1e6 DIV deg), first() is exact
      .agg(array_sort(collect_list(col("c"))).as("cs"),
        first(col("w_mic")).as("w_mic"))
      // MODEL-SIZED (one array row per kept resource, arrays ≤ capDeg):
      // the only materialized state in the whole operator. Two consumers:
      // the pair-count sizing aggregate and the explode.
      .transform(graft.Tables.pin)
    // Size the pair-stage parallelism from the COMPUTED fan-out, not the
    // session default: the explode multiplies rows Σ d(d−1)/2-fold, so a
    // fixed 32-partition layout that is right for the input is ~10× too
    // coarse at a 10× corpus (measured 19.5× time growth at fixed
    // partitions — the pair aggregate's per-task hash maps outgrow
    // execution memory and spill). One trivial aggregate over the
    // checkpointed array table computes the exact pair count before any
    // partitioning decision; ~750k pairs per task keeps the final-agg map
    // comfortably in execution memory at any scale, and a real cluster
    // gets the same rule with executors × cores as the floor.
    val nPairs = grouped
      .agg(expr("sum(size(cs) * (size(cs) - 1) DIV 2)")).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val sessParts = bip.sparkSession.sessionState.conf.numShufflePartitions
    val pairParts = math.max(sessParts, (nPairs / 750000L).toInt + 1)
    val fanned = grouped
      // EXPLICIT fan-out before the explode: AQE correctly coalesces the
      // model-sized array table to ~1 post-shuffle partition, but the
      // combination explode below multiplies rows ~capDeg²/2-fold and the
      // partial pair aggregate must not run single-threaded on that one
      // partition (measured: 12 s single-threaded vs ~1 s spread). The
      // repartition moves only the SMALL side (one array row per
      // resource), never the pairs.
      .repartition(pairParts)
    val pairs = fanned.select(col("w_mic"), explode(expr(
      "flatten(transform(cs, (x, i) -> " +
        "transform(slice(cs, i + 2, size(cs) - i - 1), " +
        "y -> shiftleft(x, 32) + y)))")).as("pk"))
      // pin the pair aggregate's distribution too: keys are ~all-unique,
      // so map-side partial aggregation buys nothing and AQE's byte-bound
      // coalesce would funnel the ~9M-key final hash map into a few
      // reducers; an explicit hash repartition keeps every core hashing
      .repartition(pairParts, col("pk"))
    pairs.groupBy("pk")
      .agg(count(lit(1)).as("n_common"), sum(col("w_mic")).as("ra_mic"))
      // shiftrightUNSIGNED: ids in [2^31, 2^32) would sign-extend under
      // the arithmetic shift; unsigned unpack is correct for the full
      // 32-bit range even though the documented bound is 2^31
      .select(expr("shiftrightunsigned(pk, 32)").as("cust_a"),
        expr("pk & 4294967295").as("cust_b"),
        col("n_common"), col("ra_mic"))
      .orderBy(col("ra_mic").desc, col("cust_a"), col("cust_b"))
      .limit(k)
  }
}
