package graft.operators

import graft.{Det, Q, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table (SURVEY.md §2.9):
  * per-document stats, corpus token frequencies, quality scoring,
  * fingerprinting. All per-row expressions + one groupBy where needed —
  * linear scans that scale with partitions.
  */
object TextOps {

  /** Fixed stopword list used by quality scoring (must match oracle SQL). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  private val stopSql = Stopwords.map(s => s"'$s'").mkString(", ")

  /** Per-doc avg log-prob under the add-1-smoothed corpus unigram model:
    * `(doc_id, avg_logp)`. Vocabulary aggregate + token⋈vocab rejoin
    * (AQE picks the join side); [[Det.davg]]'s micros-exact sum makes the
    * doubles bit-identical across engines AND row orders — which is what
    * lets downstream quantile cuts ([[lmScoreCtes]] consumers) compare
    * them safely.
    */
  private[graft] def lmScores(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("t"))
    val tf = tok.groupBy("t").agg(count(lit(1)).as("c"))
    val tot = tf.agg(sum("c").as("n_tok"), count(lit(1)).as("v"))
    tok.join(tf, "t")
      .crossJoin(broadcast(tot))
      .withColumn("lp",
        log((col("c") + 1).cast("double") / (col("n_tok") + col("v"))))
      .groupBy("doc_id").agg(Det.davg(col("lp")).as("avg_logp"))
  }

  /** DuckDB CTE chain replaying [[lmScores]], ending in `sc(doc_id, avg_logp)`. */
  private val lmScoreCtes: String =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |tf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok, CAST(COUNT(*) AS BIGINT) AS v FROM tf),
       |sc AS (SELECT doc_id, ${Det.davgSql("ln((c + 1.0) / (n_tok + v))")} AS avg_logp
       |       FROM tok JOIN tf USING (t) CROSS JOIN tot GROUP BY doc_id)""".stripMargin

  /** Stupid Backoff trigram scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation"): for each trigram position in `docs`,
    * the score is the UNNORMALIZED backoff chain over counts from `lm`
    * (the training split) —
    *   S = c3(w1w2w3)/c2(w1w2)            when the trigram was seen,
    *   S = 0.4 · c2(w2w3)/c1(w2)          else when the bigram was seen,
    *   S = 0.4² · (c1(w3)+1)/(N+V)        otherwise (add-1 unigram),
    * and a document scores the average ln S over its trigram positions.
    * The skipped normalization is the whole point at corpus scale —
    * counts join by gram string under AQE (hash the grams to 60-bit keys
    * for 8-byte joins at 100 TB; same shape), and only the 1-row (N, V)
    * total is broadcast. Documents with fewer than 3 tokens have no
    * trigram positions and are absent from the output.
    */
  def stupidBackoffScore(
      docs: DataFrame, lm: DataFrame, id: String, text: Column): DataFrame = {
    val c3 = lm.select(explode(TextFunctions.wordShinglesAll(text, 3)).as("tg"))
      .groupBy("tg").agg(count(lit(1)).as("c3"))
    val c2 = lm.select(explode(TextFunctions.wordShinglesAll(text, 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = lm.select(explode(TextFunctions.tokens(text)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1"))
    val tot = c1.agg(sum("c1").as("n"), count(lit(1)).as("v"))
    val ws = col("__ws")
    val i = col("__i")
    val tri = docs.select(col(id), TextFunctions.tokens(text).as("__ws"))
      .filter(size(ws) >= 3)
      .select(col(id), ws, explode(sequence(lit(1), size(ws) - 2)).as("__i"))
      .select(col(id),
        concat_ws(" ", element_at(ws, i), element_at(ws, i + 1),
          element_at(ws, i + 2)).as("tg"),
        concat_ws(" ", element_at(ws, i), element_at(ws, i + 1)).as("ctx2"),
        concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2)).as("suf2"),
        element_at(ws, i + 1).as("w2"),
        element_at(ws, i + 2).as("w3"))
    tri
      .join(c3, Seq("tg"), "left")
      .join(c2.select(col("bg").as("ctx2"), col("c2").as("c2ctx")), Seq("ctx2"), "left")
      .join(c2.select(col("bg").as("suf2"), col("c2").as("c2suf")), Seq("suf2"), "left")
      .join(c1.select(col("t").as("w2"), col("c1").as("c1w2")), Seq("w2"), "left")
      .join(c1.select(col("t").as("w3"), col("c1").as("c1w3")), Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("lp",
        when(col("c3").isNotNull, log(col("c3").cast("double") / col("c2ctx")))
          .when(col("c2suf").isNotNull,
            log(lit(0.4) * col("c2suf").cast("double") / col("c1w2")))
          .otherwise(log(lit(0.16) * (coalesce(col("c1w3"), lit(0L)) + lit(1.0))
            / (col("n") + col("v")))))
      .groupBy(col(id)).agg(Det.davg(col("lp")).as("avg_logp3"))
  }

  // --------------------------------------------------------- tokenizers
  //
  // BPE, WordPiece and unigram-LM share one skeleton: corpus word table →
  // model → per-word encode → [[corpusTokenAggs]]. Each tokenizer supplies
  // only its merge choice ([[trainMerges]]' `pick`) or its DP
  // ([[viterbiLocal]]).
  //
  // The trainers run their round loops DRIVER-LOCAL over the collected
  // top-`topN` word table. This is the model-sized-collect discipline (the
  // k-means centroid hop, sampled-centroid training), not a driver-data
  // anti-pattern: the ONLY corpus-sized pass is word counting + top-N
  // selection ([[collectWordTable]]), which stays distributed; everything
  // after is bounded by the vocab PARAMETER (≤ topN rows, ≤ topN·maxWordLen
  // symbols) at every corpus scale — 100 TB included — exactly like every
  // production tokenizer trainer, which fits its aggregated word counts in
  // memory. Tie-breaks and arithmetic are total orders over integers and
  // ASCII strings (Java string order == Spark's UTF8 binary order), and the
  // DuckDB oracle replays every round in SQL, so hash-equality across all
  // fixtures is the equivalence proof. Model data reaches a Spark plan only
  // as a typed literal column (`model`), never as SQL text.

  /** One corpus word per row: the non-empty lowercase `[a-z]+` runs of
    * `text` — the alphabet of every tokenizer, trainer and encoder alike.
    * (Java's split keeps a trailing empty element; the filter drops it.)
    */
  private def corpusWord: Column =
    explode(filter(split(lower(col("text")), "[^a-z]+"), w => length(w) > 0))
      .as("word")

  /** The one distributed pass of training: the top-`topN` `(word, freq)`
    * table by (freq desc, word) — the word-frequency table subword
    * trainers actually operate on (Zipf makes the tail irrelevant to early
    * merges).
    */
  private def collectWordTable(docs: DataFrame, topN: Int): Array[(String, Long)] =
    docs.select(corpusWord)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(topN)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  /** Greedy LEFT-TO-RIGHT non-overlapping application of merge (a, b) —
    * the driver-local twin of [[mergeFold]]'s per-array fold.
    */
  private def applyMergeLocal(syms: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** A word table with each word's current symbols: `(word, freq, syms)`. */
  private type SymTable = Array[(String, Long, Array[String])]

  /** Freq-weighted adjacent-pair counts (every adjacent position pair
    * counts, overlaps included — "aaa" contributes (a,a) twice).
    */
  private def pairCountsLocal(tab: SymTable)
      : scala.collection.mutable.HashMap[(String, String), Long] = {
    val m = scala.collection.mutable.HashMap[(String, String), Long]()
    tab.foreach { case (_, f, s) =>
      var i = 0
      while (i + 1 < s.length) {
        val k = (s(i), s(i + 1)); m(k) = m.getOrElse(k, 0L) + f; i += 1
      }
    }
    m
  }

  /** The merge trainer shared by BPE and WordPiece, over the top-`topN`
    * word table: per round, freq-weighted adjacent-pair counts → `pick`
    * chooses the merge (and its published score) → greedy left-to-right
    * non-overlapping application; a round with no pair left learns
    * nothing. Deterministic end to end (integer freqs, total-order
    * tie-breaks), so the DuckDB oracle replays every round hash-exactly.
    * Returns `(round, left, right, pairCount, score)` per merge plus each
    * word's final symbols.
    */
  private def trainMerges(docs: DataFrame, topN: Int, rounds: Int)(
      pick: (SymTable, scala.collection.Map[(String, String), Long]) => ((String, String), Long))
      : (Seq[(Int, String, String, Long, Long)], Seq[(String, Seq[String])]) = {
    var tab: SymTable = collectWordTable(docs, topN).map { case (w, f) =>
      (w, f, w.toCharArray.map(_.toString))
    }
    val merges = Seq.newBuilder[(Int, String, String, Long, Long)]
    for (r <- 1 to rounds) {
      val pc = pairCountsLocal(tab)
      if (pc.nonEmpty) {
        val ((a, b), score) = pick(tab, pc)
        merges += ((r, a, b, pc((a, b)), score))
        tab = tab.map { case (w, f, s) => (w, f, applyMergeLocal(s, a, b)) }
      }
    }
    (merges.result(), tab.toSeq.map { case (w, _, s) => (w, s.toSeq) })
  }

  /** Byte-pair-encoding merge learning ([[trainMerges]]): the merge is
    * the pair argmax by (count desc, pair asc) ([[bpeOracleCtes]] unrolls
    * the rounds). Returns `(round, left, right, pairCount)` per merge plus
    * each word's final symbols.
    */
  private[graft] def bpeTrain(docs: DataFrame, topN: Int, rounds: Int)
      : (Seq[(Int, String, String, Long)], Seq[(String, Seq[String])]) = {
    val (merges, syms) = trainMerges(docs, topN, rounds) { (_, pc) =>
      pc.minBy { case ((x, y), n) => (-n, x, y) }
    }
    (merges.map { case (r, a, b, c, _) => (r, a, b, c) }, syms)
  }

  /** Apply the learned merge table to the WHOLE corpus in rank order —
    * the production encode path (train on the vocab table, tokenize every
    * document); see [[bpeApplyCorpus]] for the per-distinct-word fold
    * shape. Rounds are the learned merge count, a constant.
    */
  private[graft] def bpeEncodeCorpus(docs: DataFrame, topN: Int,
      rounds: Int): DataFrame =
    bpeApplyCorpus(docs, bpeTrain(docs, topN, rounds)._1)

  /** Greedy left-to-right non-overlapping application of the WHOLE merge
    * table `model` (an array of (a, b) structs, in rank order) to the
    * word's characters, as one codegen'd doubly-nested fold: the outer
    * `aggregate` walks the merge table; the inner one is
    * [[applyMergeLocal]] as a SQL fold — scan state (output array,
    * skip-next flag), a matched pair appends `a||b` and skips its right
    * element. Every repeated reference inside the folds is a LAMBDA
    * VARIABLE (a leaf), so the expression tree stays O(1) in the merges —
    * a per-round withColumn chain was collapsed by the optimizer into
    * 4-way subtree duplication per round (4⁶ copies: 321 MiB task
    * binaries, unrunnable).
    */
  private val mergeFold: String =
    """aggregate(
      |  model,
      |  filter(split(word, ''), s -> s <> ''),
      |  (ts, m) -> aggregate(
      |    sequence(1, size(ts)),
      |    named_struct('o', cast(array() as array<string>), 'skip', false),
      |    (st, i) -> CASE
      |      WHEN st.skip THEN named_struct('o', st.o, 'skip', false)
      |      WHEN i < size(ts) AND element_at(ts, i) = m.a
      |           AND element_at(ts, i + 1) = m.b
      |        THEN named_struct('o', array_append(st.o, concat(m.a, m.b)),
      |             'skip', true)
      |      ELSE named_struct('o', array_append(st.o, element_at(ts, i)),
      |           'skip', false) END,
      |    st -> st.o))""".stripMargin

  /** One BPE merge as the struct element of [[mergeFold]]'s `model`. */
  private final case class Merge(a: String, b: String)

  /** Apply an already-learned merge table (e.g. loaded from
    * [[graft.sources.ModelStore.loadMerges]]) to every document — the
    * serving half of the tokenizer: [[corpusTokenAggs]] with the merge
    * table as `model` and [[mergeFold]] as the per-word encode (a single
    * shuffle-free map stage; bench numbers in OPTIMIZATION_r19.md).
    */
  private[graft] def bpeApplyCorpus(docs: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame =
    corpusTokenAggs(docs,
      typedLit(merges.map { case (_, a, b, _) => Merge(a, b) }),
      expr(mergeFold))

  /** The corpus half of the tokenizer skeleton: count each document's
    * words once, encode each DISTINCT word once, and aggregate per
    * document — `(doc_id, n_tokens, n_token_types)`. A word's
    * tokenization depends only on the word string, so the corpus gets its
    * tokenizations by a dictionary join — the amortization every real
    * tokenizer runs; the corpus is never pushed through the encoder row
    * by row. `model` (a typed literal) is bound as column `model` on the
    * distinct-word table, and `toks` — the word's token array — may
    * reference it and `word` by name.
    *
    * The exploded word table is CORPUS-sized and NOT pinned (pin()'s
    * contract is model-sized or O(1)-read state); it has ONE consumer —
    * the (doc_id, word) occurrence-count aggregate `dwc` — so the corpus
    * is scanned exactly once and nothing corpus-sized is ever retained.
    * The distinct-word table derives from the SAME aggregate (ReuseExchange
    * keeps it one physical scan) and is spread by an explicit hash(word)
    * repartition at session parallelism: the encode fold is the heavy
    * per-row work, and AQE's byte-bound coalesce would funnel the few-MB
    * table (and so the fold) onto ~1 partition.
    *
    * ONE dictionary join and ONE per-doc aggregation produce BOTH
    * outputs: broadcast-join the encoded dictionary (projected to
    * `n_toks` + distinct `syms` — the token arrays never ride a
    * corpus-sized row) onto `dwc(doc_id, word, c)`, then a single
    * groupBy(doc_id) — `n_tokens` = Σ c·n_toks (exact: Σ_occurrences
    * n_toks = Σ_(doc,word) c·n_toks), `n_token_types` =
    * |array_distinct(flatten(collect_set(syms)))| (the per-doc union of
    * the per-word distinct symbol sets; partial-aggregated state is
    * bounded by the DOC's own vocabulary, never the corpus). No Generate
    * after the word split: an earlier posexplode form let
    * InferFiltersFromGenerate push `size(syms)>0 AND isnotnull(syms)` —
    * with the whole per-word encode fold substituted in, twice — below the
    * dictionary's distinct aggregate onto the per-occurrence corpus scan
    * (measured 5× the row's cost at sf0.1).
    *
    * The dictionary side is an EXPLICIT broadcast, not planner choice: it
    * is distinct-word-sized (the language's vocabulary, not the corpus).
    * Catalyst's size estimate for the post-aggregate dwc is wildly wrong
    * and the static planner answered by broadcasting the CORPUS-derived
    * side (BuildLeft; measured 3.5× slower), and a SHUFFLE_HASH hint
    * instead re-shuffles dwc by hash(word) — catastrophically skewed on a
    * small vocabulary. The broadcast keeps the corpus side shuffle-free
    * at the join.
    */
  private def corpusTokenAggs(docs: DataFrame, model: Column,
      toks: Column): DataFrame = {
    val dwc = docs.select(col("doc_id"), corpusWord)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val enc = dwc.select("word").distinct()
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("word"))
      .select(col("word"), model.as("model"))
      .select(col("word"), toks.as("toks"))
    dwc
      .join(broadcast(enc.select(col("word"),
        size(col("toks")).cast("long").as("n_toks"),
        array_distinct(col("toks")).as("syms"))), Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("c") * col("n_toks")).as("n_tokens"),
        size(array_distinct(flatten(collect_set(col("syms")))))
          .cast("long").as("n_token_types"))
      .select(col("doc_id"), col("n_tokens"), col("n_token_types"))
      .orderBy("doc_id")
  }

  // ------------------------------------------ WordPiece tokenizer

  /** WordPiece merge learning (Schuster & Nakajima 2012; the BERT-family
    * tokenizer) — [[trainMerges]] with the merge chosen by the
    * LIKELIHOOD score `count(ab) / (count(a)·count(b))` instead of raw
    * pair count (the unigram-LM likelihood gain of the merge). The score
    * is published as the exact integer
    * `(count(ab)·10¹²) DIV (count(a)·count(b))`, computed in unbounded
    * BigInt here and HUGEINT in the oracle so it can never overflow or
    * diverge; ties break by (pair count desc, pair asc). Returns
    * `(round, left, right, pairCount, scoreFix)` per merge plus each
    * word's final symbols.
    */
  private[graft] def wordpieceTrain(docs: DataFrame, topN: Int, rounds: Int)
      : (Seq[(Int, String, String, Long, Long)], Seq[(String, Seq[String])]) = {
    val trillion = BigInt(1000000000000L)
    trainMerges(docs, topN, rounds) { (tab, pc) =>
      // unigram symbol counts over ALL positions (the denominator)
      val uc = scala.collection.mutable.HashMap[String, Long]()
      tab.foreach { case (_, f, s) =>
        s.foreach(sym => uc(sym) = uc.getOrElse(sym, 0L) + f)
      }
      val (pair, _, score) = pc.iterator.map { case ((a, b), c) =>
        ((a, b), c, (BigInt(c) * trillion / (BigInt(uc(a)) * BigInt(uc(b)))).toLong)
      }.minBy { case ((x, y), n, s) => (-s, -n, x, y) }
      (pair, score)
    }
  }

  /** Greedy LONGEST-MATCH-FIRST segmentation as one codegen'd fold per
    * word — real WordPiece's SERVING algorithm, which is NOT merge
    * replay (a merge sequence and longest-match can tokenize a word
    * differently; production encoders all ship the matcher). State =
    * (cursor, token_str); at the cursor, an inner descending-length fold
    * finds the longest piece (≤ `maxL` chars) present in the map `model`,
    * with a single-char fallback, so unseen characters can never
    * dead-end the scan and single chars need no vocab entry.
    */
  private def greedyMatch(maxL: Int): String = {
    val lstar = s"coalesce(aggregate(" +
      s"sequence(least($maxL, length(word) - acc.p + 1), 1, -1), " +
      "cast(null as int), (m, l) -> CASE WHEN m IS NOT NULL THEN m " +
      "WHEN element_at(model, substring(word, acc.p, l)) IS NOT NULL THEN l " +
      "ELSE cast(null as int) END), 1)"
    val tok = s"substring(word, acc.p, $lstar)"
    s"""aggregate(
       |  sequence(1, length(word)),
       |  named_struct('p', 1, 't', ''),
       |  (acc, i) -> CASE WHEN i <> acc.p THEN acc ELSE named_struct(
       |    'p', acc.p + $lstar,
       |    't', CASE WHEN acc.t = '' THEN $tok
       |         ELSE concat(acc.t, '|', $tok) END) END,
       |  acc -> acc.t)""".stripMargin
  }

  /** Tokenize every document with a WordPiece merge table:
    * [[corpusTokenAggs]] with the merge products as the `model` map and
    * [[greedyMatch]] as the per-word encode. The single-char fallback
    * stands in for the corpus's char alphabet (the char-fallback
    * alphabet every production tokenizer carries).
    */
  private[graft] def wordpieceApplyCorpus(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val pieces = merges.map { case (a, b) => a + b }
    corpusTokenAggs(docs,
      typedLit(pieces.map(_ -> 1).toMap),
      split(expr(greedyMatch((1 +: pieces.map(_.length)).max)), "[|]"))
  }

  /** Oracle CTE chain for [[wordpieceTrain]]: [[bpeOracleCtes]]'s round
    * blocks with the merge argmax replaced by the likelihood score —
    * `u<r>` carries the unigram symbol counts of `s<r-1>`, `m<r>` picks
    * by (score desc, c desc, pair). HUGEINT arithmetic mirrors the Spark
    * side's DECIMAL(38) exactly.
    */
  private[graft] def wordpieceOracleCtes(topN: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT word, freq, pos, sym,
         |  LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s${r - 1}),
         |u$r AS MATERIALIZED (SELECT sym, CAST(SUM(freq) AS BIGINT) AS u FROM s${r - 1} GROUP BY 1),
         |m$r AS MATERIALIZED (SELECT a, b, c, CAST(score AS BIGINT) AS score FROM (
         |  SELECT pc.sym AS a, pc.nxt AS b, pc.c,
         |    (CAST(pc.c AS HUGEINT) * 1000000000000) //
         |      (CAST(ua.u AS HUGEINT) * ub.u) AS score
         |  FROM (SELECT sym, nxt, CAST(SUM(freq) AS BIGINT) AS c
         |        FROM p$r WHERE nxt IS NOT NULL GROUP BY 1, 2) pc
         |  JOIN u$r ua ON ua.sym = pc.sym JOIN u$r ub ON ub.sym = pc.nxt)
         |  ORDER BY score DESC, c DESC, a, b LIMIT 1),
         |o$r AS (SELECT p.word, p.freq, p.pos, p.sym, m.a, m.b,
         |  COALESCE(p.sym = m.a AND p.nxt = m.b, FALSE) AS occ
         |  FROM p$r p CROSS JOIN m$r m),
         |g$r AS (SELECT *, CASE WHEN occ THEN pos -
         |  ROW_NUMBER() OVER (PARTITION BY word, occ ORDER BY pos) END AS isl FROM o$r),
         |k$r AS (SELECT *, occ AND
         |  ROW_NUMBER() OVER (PARTITION BY word, isl ORDER BY pos) % 2 = 1 AS kept FROM g$r),
         |d$r AS (SELECT *, COALESCE(LAG(kept) OVER (PARTITION BY word ORDER BY pos), FALSE) AS pk FROM k$r),
         |s$r AS MATERIALIZED (SELECT word, freq,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
         |  CASE WHEN kept THEN a || b ELSE sym END AS sym
         |  FROM d$r WHERE NOT pk)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
       |    FROM documents)
       |  WHERE length(word) > 0 GROUP BY word
       |  ORDER BY freq DESC, word LIMIT $topN),
       |sp AS (SELECT word, freq,
       |  unnest(generate_series(1, length(word))) AS p FROM w),
       |s0 AS MATERIALIZED (SELECT word, freq, CAST(p AS BIGINT) AS pos,
       |  substr(word, p, 1) AS sym FROM sp),
       |$roundCtes""".stripMargin
  }

  /** Oracle chain for [[wordpieceApplyCorpus]] appended to
    * [[wordpieceOracleCtes]]: vocab = corpus char alphabet + merge
    * products, then EXHAUSTIVE segmentation enumeration per distinct
    * corpus word (recursive CTE) with the greedy longest-match winner
    * picked as the lexicographically LARGEST token-length sequence —
    * equivalent to the left-to-right matcher because every prefix
    * extends to a full path via single chars (same sum ⇒ no sequence is
    * a strict prefix of another), so maximizing lengths left-to-right IS
    * the greedy choice at every step. Callers prefix `WITH RECURSIVE`.
    */
  private[graft] def wordpieceCorpusCtes(topN: Int, rounds: Int): String = {
    val mergeUnion = (1 to rounds)
      .map(r => s"SELECT a || b AS piece FROM m$r").mkString("\n  UNION ")
    s"""${wordpieceOracleCtes(topN, rounds)},
       |cw AS (SELECT doc_id, unnest(lf) AS word
       |  FROM (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
       |      x -> len(x) > 0) AS lf FROM documents)),
       |dw AS MATERIALIZED (SELECT DISTINCT word FROM cw),
       |v AS MATERIALIZED (SELECT DISTINCT substr(word, p, 1) AS piece FROM
       |    (SELECT word, unnest(generate_series(1, length(word))) AS p FROM dw)
       |  UNION $mergeUnion),
       |e0(word, pos, lenseq, toks) AS (
       |  SELECT word, 1, '', '' FROM dw
       |  UNION ALL
       |  SELECT e.word, e.pos + length(v.piece),
       |    e.lenseq || chr(CAST(96 + length(v.piece) AS INTEGER)),
       |    CASE WHEN e.toks = '' THEN v.piece
       |         ELSE e.toks || '|' || v.piece END
       |  FROM e0 e JOIN v ON substr(e.word, e.pos, length(v.piece)) = v.piece
       |  WHERE e.pos <= length(e.word)),
       |b0 AS (SELECT word, toks FROM (SELECT word, toks,
       |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY lenseq DESC) AS rk
       |  FROM e0 WHERE pos = length(word) + 1) WHERE rk = 1),
       |tok AS (SELECT doc_id, unnest(string_split(b.toks, '|')) AS t
       |  FROM cw JOIN b0 b USING (word))""".stripMargin
  }

  // ------------------------------------------ Unigram-LM tokenizer

  /** Driver-local twin of the SQL [[quantLnMicros]] scalar — the SAME
    * IEEE double expression tree evaluated in the same order, so the
    * JVM loop and DuckDB produce identical bits and the floor can never
    * flip on a libm ulp. Requires 1 ≤ c ≤ n.
    */
  private def quantLnMicrosLocal(c: Long, n: Long): Long = {
    val q = n / c
    val e = 63 - java.lang.Long.numberOfLeadingZeros(q) // length(bin(q)) - 1
    val m = (c << e).toDouble / n.toDouble
    val t = (m - 1.0) / (m + 1.0)
    val t2 = t * t
    val poly = 1.0 + t2 * ((1.0 / 3.0) + t2 * ((1.0 / 5.0) + t2 * ((1.0 / 7.0) +
      t2 * ((1.0 / 9.0) + t2 * ((1.0 / 11.0) + t2 * ((1.0 / 13.0) +
        t2 * ((1.0 / 15.0) + t2 * (1.0 / 17.0))))))))
    math.floor(1000000.0 * (2.0 * t * poly - e.toDouble * 0.6931471805599453)).toLong
  }

  /** The unigram Viterbi DP over one word: the best
    * `(score, n_pieces, token_str)` per prefix, pieces (≤ `maxL` chars)
    * looked up in `lp`. Totally ordered by (score desc, n asc, token_str
    * asc) so the argmax segmentation is deterministic and the oracle's
    * exhaustive path enumeration picks the identical winner (the order is
    * dominance-preserving: all three components compose
    * additively/append-only, so a better prefix stays better under any
    * shared continuation). ASCII pieces make the Java string compare
    * identical to DuckDB's. `None` when no segmentation covers the whole
    * word (a model lacking one of its characters).
    */
  private def viterbiLocal(word: String, lp: scala.collection.Map[String, Long],
      maxL: Int): Option[(Long, Int, String)] = {
    final case class S(s: Long, n: Int, t: String)
    val acc = new Array[S](word.length + 1)
    acc(0) = S(0L, 0, "")
    var i = 1
    while (i <= word.length) {
      var best: S = null
      var l = 1
      val lm = math.min(maxL, i)
      while (l <= lm) {
        val piece = word.substring(i - l, i)
        val plp = lp.get(piece)
        val prev = acc(i - l)
        if (plp.isDefined && prev != null) {
          val cs = prev.s + plp.get
          val cn = prev.n + 1
          if (best == null || cs > best.s ||
              (cs == best.s && cn < best.n) ||
              (cs == best.s && cn == best.n && {
                val ct = if (prev.t.isEmpty) piece else prev.t + "|" + piece
                ct < best.t
              }))
            best = S(cs, cn, if (prev.t.isEmpty) piece else prev.t + "|" + piece)
        }
        l += 1
      }
      acc(i) = best
      i += 1
    }
    Option(acc(word.length)).map(r => (r.s, r.n, r.t))
  }

  /** Segment each word under a unigram piece table `(piece, usage, lp)`
    * with [[viterbiLocal]] — the word table and the model are both
    * model-sized, so the encode runs where training does. Returns
    * `(word, n_tokens, token_str)` by word; a word with no complete
    * segmentation has no row, as in the oracle's `b1`.
    */
  private[graft] def unigramEncode(spark: org.apache.spark.sql.SparkSession,
      words: Seq[String], vocab: Seq[(String, Long, Long)], maxL: Int): DataFrame = {
    val lp = vocab.iterator.map { case (p, _, l) => p -> l }.toMap
    import spark.implicits._
    words.flatMap(w => viterbiLocal(w, lp, maxL).map { case (_, n, t) => (w, n.toLong, t) })
      .toDF("word", "n_tokens", "token_str")
      .orderBy("word")
  }

  /** `FLOOR(1e6·ln(c/n))` as a DuckDB-dialect SQL scalar with NO libm
    * call — the ORACLE twin of [[quantLnMicrosLocal]] (the Spark side
    * computes lp driver-locally since the r19 trainer rewrite, so this
    * only ever renders oracle SQL). The exponent comes from integer
    * bit-length (`length(bin(n // c)) - 1`), the mantissa log from a
    * fixed 9-term atanh series in plain IEEE `+ - * /` — every operation
    * is correctly rounded and evaluated in the same order by the JVM
    * loop and DuckDB, so the two engines produce the SAME bits and the
    * floor can never flip on a libm ulp (lp feeds the Viterbi argmax,
    * which amplifies a 1-micro flip into a different segmentation).
    * Truncation error vs true ln is < 2e-4 micro (|t| ≤ 1/3 since the
    * reduced mantissa is in (1/2, 1]); requires `1 <= c <= n`.
    */
  private[graft] def quantLnMicros(c: String, n: String): String = {
    val q = s"(($n) // ($c))"
    val e = s"(length(bin($q)) - 1)"
    val sh = s"(($c) << $e)"
    val m = s"(CAST($sh AS DOUBLE) / CAST(($n) AS DOUBLE))"
    val t = s"(($m - 1.0) / ($m + 1.0))"
    val t2 = s"($t * $t)"
    val poly = s"(1.0 + $t2*((1.0/3.0) + $t2*((1.0/5.0) + $t2*((1.0/7.0) + " +
      s"$t2*((1.0/9.0) + $t2*((1.0/11.0) + $t2*((1.0/13.0) + $t2*((1.0/15.0) + " +
      s"$t2*(1.0/17.0)))))))))"
    s"CAST(FLOOR(1000000.0 * (2.0 * $t * $poly - " +
      s"CAST($e AS DOUBLE) * 0.6931471805599453)) AS BIGINT)"
  }

  /** Unigram-LM tokenizer training (SentencePiece-style, Kudo 2018 —
    * the OTHER mainstream subword algorithm beside BPE):
    *   1. seed = char + top-`mTop` substring candidates with
    *      freq-weighted counts; seed logprobs are integer micros
    *      `FLOOR(1e6·ln(c/N))` computed LIBM-FREE by
    *      [[quantLnMicrosLocal]] — bit-identical cross-engine by
    *      construction;
    *   2. E-step: Viterbi segmentation of the word table under the seed
    *      model ([[viterbiLocal]]);
    *   3. M-step + prune: piece usage = freq-weighted counts over the
    *      argmax segmentations; multi-char pieces keep only the
    *      top-`vTop` by (usage desc, piece) — the EM prune step — and
    *      logprobs re-estimate add-1-smoothed over the pruned set (chars
    *      with zero usage survive via smoothing, as SentencePiece keeps
    *      required chars).
    * Returns (final vocab `(piece, usage, lp)`, the `(word, freq)` table).
    * All state is model-sized; the corpus is touched once building the
    * word table — the [[trainMerges]] scale discipline.
    */
  private[graft] def unigramTrain(docs: DataFrame, topN: Int,
      maxPieceLen: Int, mTop: Int, vTop: Int)
      : (Seq[(String, Long, Long)], Seq[(String, Long)]) = {
    val wf = collectWordTable(docs, topN)
    // seed: freq-weighted counts of every ≤ maxPieceLen substring; keep
    // ALL single chars (segmentation must never dead-end) + top-mTop
    // multi-char by (count desc, piece) — SentencePiece's seeding over
    // the bounded-length substring lattice
    val cand = scala.collection.mutable.HashMap[String, Long]()
    wf.foreach { case (w, f) =>
      var p = 0
      while (p < w.length) {
        val lm = math.min(maxPieceLen, w.length - p)
        var l = 1
        while (l <= lm) {
          val piece = w.substring(p, p + l)
          cand(piece) = cand.getOrElse(piece, 0L) + f
          l += 1
        }
        p += 1
      }
    }
    val seed: Seq[(String, Long)] =
      cand.iterator.filter(_._1.length == 1).toSeq ++
        cand.iterator.filter(_._1.length > 1).toSeq
          .sortBy { case (p, c) => (-c, p) }.take(mTop)
    val nn = seed.iterator.map(_._2).sum
    val vocab0: Map[String, Long] =
      seed.iterator.map { case (p, c) => p -> quantLnMicrosLocal(c, nn) }.toMap
    // E-step: Viterbi-segment the word table under the seed model;
    // M-step: freq-weighted piece usage over the argmax segmentations
    val usage = scala.collection.mutable.HashMap[String, Long]()
    wf.foreach { case (w, f) =>
      viterbiLocal(w, vocab0, maxPieceLen).foreach { case (_, _, toks) =>
        toks.split("[|]").foreach(p => usage(p) = usage.getOrElse(p, 0L) + f)
      }
    }
    // prune: chars always survive (add-1 smoothing keeps zero-usage
    // chars alive, as SentencePiece keeps required chars); multi-char
    // keeps top-vTop by (usage desc, piece)
    val pruned: Seq[(String, Long)] =
      vocab0.keysIterator.filter(_.length == 1).toSeq.sorted
        .map(p => (p, usage.getOrElse(p, 0L))) ++
        usage.iterator.filter(_._1.length > 1).toSeq
          .sortBy { case (p, u) => (-u, p) }.take(vTop)
    val n2 = pruned.iterator.map(_._2).sum
    val v2 = pruned.size.toLong
    val vocab1 = pruned.map { case (p, u) =>
      (p, u, quantLnMicrosLocal(u + 1, n2 + v2))
    }
    (vocab1, wf.toSeq)
  }

  /** DuckDB CTE chain replaying [[unigramTrain]] + the final-vocab encode:
    * seed (`v0`), exhaustive segmentation enumeration via a RECURSIVE CTE
    * (`p0`/`b0` — the argmax under (score desc, n, toks) is the same
    * winner the Spark DP picks, see [[viterbiLocal]]), usage/prune (`v1`),
    * second enumeration (`p1`/`b1`). Callers prefix `WITH RECURSIVE`.
    */
  private[graft] def unigramOracleCtes(
      topN: Int, maxL: Int, mTop: Int, vTop: Int): String =
    s"""w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
       |    FROM documents)
       |  WHERE length(word) > 0 GROUP BY word
       |  ORDER BY freq DESC, word LIMIT $topN),
       |up AS (SELECT word, freq, unnest(generate_series(1, length(word))) AS p FROM w),
       |ul AS (SELECT word, freq, p,
       |    unnest(generate_series(1, least($maxL, length(word) - p + 1))) AS l FROM up),
       |cand AS (SELECT substr(word, p, l) AS piece, CAST(SUM(freq) AS BIGINT) AS c
       |  FROM ul GROUP BY 1),
       |seed AS (SELECT piece, c FROM cand WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, c FROM (SELECT piece, c,
       |      ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS rk
       |    FROM cand WHERE length(piece) > 1) WHERE rk <= $mTop),
       |n0 AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM seed),
       |v0 AS (SELECT piece, ${quantLnMicros("c", "nn")} AS lp
       |  FROM seed CROSS JOIN n0),
       |p0(word, pos, score, n, toks) AS (
       |  SELECT word, 0, CAST(0 AS BIGINT), 0, '' FROM w
       |  UNION ALL
       |  SELECT p.word, p.pos + length(v.piece), p.score + v.lp, p.n + 1,
       |    CASE WHEN p.toks = '' THEN v.piece ELSE p.toks || '|' || v.piece END
       |  FROM p0 p JOIN v0 v ON p.pos + length(v.piece) <= length(p.word)
       |    AND substr(p.word, p.pos + 1, length(v.piece)) = v.piece),
       |b0 AS (SELECT word, toks FROM (SELECT word, toks,
       |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY score DESC, n, toks) AS rk
       |  FROM p0 WHERE pos = length(word)) WHERE rk = 1),
       |us AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS usage FROM (
       |    SELECT w.freq, unnest(string_split(b.toks, '|')) AS piece
       |    FROM b0 b JOIN w USING (word)) GROUP BY 1),
       |pr AS (SELECT v.piece, CAST(COALESCE(us.usage, 0) AS BIGINT) AS usage
       |    FROM v0 v LEFT JOIN us ON us.piece = v.piece WHERE length(v.piece) = 1
       |  UNION ALL
       |  SELECT piece, usage FROM (SELECT piece, usage,
       |      ROW_NUMBER() OVER (ORDER BY usage DESC, piece) AS rk
       |    FROM us WHERE length(piece) > 1) WHERE rk <= $vTop),
       |n2 AS (SELECT CAST(SUM(usage) AS BIGINT) AS nn,
       |    CAST(COUNT(*) AS BIGINT) AS vv FROM pr),
       |v1 AS (SELECT piece, usage,
       |    ${quantLnMicros("(usage + 1)", "(nn + vv)")} AS lp
       |  FROM pr CROSS JOIN n2),
       |p1(word, pos, score, n, toks) AS (
       |  SELECT word, 0, CAST(0 AS BIGINT), 0, '' FROM w
       |  UNION ALL
       |  SELECT p.word, p.pos + length(v.piece), p.score + v.lp, p.n + 1,
       |    CASE WHEN p.toks = '' THEN v.piece ELSE p.toks || '|' || v.piece END
       |  FROM p1 p JOIN v1 v ON p.pos + length(v.piece) <= length(p.word)
       |    AND substr(p.word, p.pos + 1, length(v.piece)) = v.piece),
       |b1 AS (SELECT word, n, toks FROM (SELECT word, n, toks,
       |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY score DESC, n, toks) AS rk
       |  FROM p1 WHERE pos = length(word)) WHERE rk = 1)""".stripMargin

  /** Oracle chain for [[bpeEncodeCorpus]]: [[bpeOracleCtes]]'s training
    * rounds (supplying `m1..mR`), then the corpus symbol rows pushed
    * through the same R merge blocks keyed by (doc_id, wid), ending in
    * `c<rounds>`.
    */
  private[graft] def bpeCorpusCtes(topN: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""cp$r AS (SELECT doc_id, wid, pos, sym,
         |  LEAD(sym) OVER (PARTITION BY doc_id, wid ORDER BY pos) AS nxt FROM c${r - 1}),
         |co$r AS (SELECT p.doc_id, p.wid, p.pos, p.sym, m.a, m.b,
         |  COALESCE(p.sym = m.a AND p.nxt = m.b, FALSE) AS occ
         |  FROM cp$r p CROSS JOIN m$r m),
         |cg$r AS (SELECT *, CASE WHEN occ THEN pos -
         |  ROW_NUMBER() OVER (PARTITION BY doc_id, wid, occ ORDER BY pos) END AS isl FROM co$r),
         |ck$r AS (SELECT *, occ AND
         |  ROW_NUMBER() OVER (PARTITION BY doc_id, wid, isl ORDER BY pos) % 2 = 1 AS kept FROM cg$r),
         |cd$r AS (SELECT *, COALESCE(LAG(kept) OVER (PARTITION BY doc_id, wid ORDER BY pos), FALSE) AS pk FROM ck$r),
         |c$r AS (SELECT doc_id, wid,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, wid ORDER BY pos) AS BIGINT) AS pos,
         |  CASE WHEN kept THEN a || b ELSE sym END AS sym
         |  FROM cd$r WHERE NOT pk)""".stripMargin
    }.mkString(",\n")
    s"""${bpeOracleCtes(topN, rounds)},
       |cw AS (SELECT doc_id, unnest(lf) AS word, generate_subscripts(lf, 1) AS wid
       |  FROM (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
       |      w -> len(w) > 0) AS lf FROM documents)),
       |cq AS (SELECT doc_id, wid, word,
       |  unnest(generate_series(1, length(word))) AS p FROM cw),
       |c0 AS (SELECT doc_id, wid, CAST(p AS BIGINT) AS pos,
       |  substr(word, p, 1) AS sym FROM cq),
       |$roundCtes""".stripMargin
  }

  /** The oracle's CTE chain for [[bpeTrain]]: word table, char rows, then
    * `rounds` unrolled (pair-count → argmax → islands → greedy merge)
    * blocks ending in `s<rounds>`; merge r is CTE `m<r>`.
    */
  private[graft] def bpeOracleCtes(topN: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS (SELECT word, freq, pos, sym,
         |  LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s${r - 1}),
         |m$r AS (SELECT sym AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS c
         |  FROM p$r WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY c DESC, a, b LIMIT 1),
         |o$r AS (SELECT p.word, p.freq, p.pos, p.sym, m.a, m.b,
         |  COALESCE(p.sym = m.a AND p.nxt = m.b, FALSE) AS occ
         |  FROM p$r p CROSS JOIN m$r m),
         |g$r AS (SELECT *, CASE WHEN occ THEN pos -
         |  ROW_NUMBER() OVER (PARTITION BY word, occ ORDER BY pos) END AS isl FROM o$r),
         |k$r AS (SELECT *, occ AND
         |  ROW_NUMBER() OVER (PARTITION BY word, isl ORDER BY pos) % 2 = 1 AS kept FROM g$r),
         |d$r AS (SELECT *, COALESCE(LAG(kept) OVER (PARTITION BY word ORDER BY pos), FALSE) AS pk FROM k$r),
         |s$r AS (SELECT word, freq,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
         |  CASE WHEN kept THEN a || b ELSE sym END AS sym
         |  FROM d$r WHERE NOT pk)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
       |    FROM documents)
       |  WHERE length(word) > 0 GROUP BY word
       |  ORDER BY freq DESC, word LIMIT $topN),
       |sp AS (SELECT word, freq,
       |  unnest(generate_series(1, length(word))) AS p FROM w),
       |s0 AS (SELECT word, freq, CAST(p AS BIGINT) AS pos,
       |  substr(word, p, 1) AS sym FROM sp),
       |$roundCtes""".stripMargin
  }

  /** Vocabulary-coverage audit: per-group out-of-vocabulary token rate of
    * a held-out corpus against a frequency vocabulary learned from a
    * train split (top `vocabSize` tokens, ties broken lexically) — the
    * pre-training check that a tokenizer/vocab choice actually covers the
    * corpus it will serve, reported where it varies (per source, per
    * language). OOV fraction is quantized to integer micros.
    *
    * Scale shape: the vocabulary is a model-sized top-k (TakeOrdered over
    * a token aggregate) broadcast against ONE linear scan of the held-out
    * side; per-group rates come from the same pass's aggregate. No
    * corpus-sized shuffle beyond the token count.
    */
  def oovRateReport(
      train: DataFrame, heldOut: DataFrame, group: String, text: Column,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val vocab = train
      .select(explode(TextFunctions.tokens(text)).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__f"))
      .orderBy(col("__f").desc, col("__t")).limit(vocabSize)
      .select(col("__t"), lit(1L).as("__in"))
    heldOut
      .select(col(group), explode(TextFunctions.tokens(text)).as("__t"))
      .join(broadcast(vocab), Seq("__t"), "left")
      .groupBy(group)
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("__in").isNull, lit(1L)).otherwise(lit(0L))).as("n_oov"))
      .withColumn("oov_micros",
        floor(col("n_oov") * lit(1000000.0) / col("n_tok") + lit(0.5)).cast("long"))
      .orderBy(group)
  }

  /** Per-document keyword extraction: each document's top-`k` terms by
    * TF-IDF (tf × ln(N/df), published as integer micros — the Q-contract
    * quantization, since libm ln can differ cross-engine in the last
    * ulp). The metadata-enrichment step of a curation pipeline: corpus-
    * level `tfidf_top_terms` says what the corpus is about, THIS says
    * what each document is about. Output: (id, rank, term, score_micros).
    *
    * Scale shape: one tokenize pass feeds per-doc tf and the vocab-sized
    * df aggregate; the rescore is an equi join under AQE; the top-k
    * window partitions per document, so its sort is bounded by a doc's
    * distinct-term count, never corpus-wide.
    */
  def docKeywords(
      docs: DataFrame, id: String, text: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(id), explode(TextFunctions.tokens(text)).as("t"))
    val tf = tok.groupBy(col(id), col("t")).agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("t").agg(countDistinct(col(id)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val sc = tf.join(df, "t").crossJoin(broadcast(n))
      .select(col(id), col("t").as("term"),
        floor(col("tf") * log(col("n") / col("df")) * 1000000.0 + 0.5)
          .cast("long").as("score_micros"))
    val w = Window.partitionBy(col(id))
      .orderBy(col("score_micros").desc, col("term"))
    sc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(id), col("rank"), col("term"), col("score_micros"))
      .orderBy(col(id), col("rank"))
  }

  /** PMI collocation mining (phrase detection, the word2vec-phrases /
    * tokenizer-merge-candidate step): every adjacent token pair with
    * corpus count ≥ `minCount`, scored by pointwise mutual information
    * ln(p(ab) / (p(a)·p(b))) in integer micros (libm ln disagrees with
    * other engines in the last ulp on some arguments, so the published
    * score is quantized per the Q contract). Output:
    * (bigram, n_pair, pmi_micros), ordered by (pmi_micros desc, bigram).
    *
    * Scale shape: ONE tokenize pass feeds the bigram and unigram
    * aggregates; the rescore is bigram-model-sized equi joins under AQE;
    * only the two 1-row totals broadcast. Linear in corpus size.
    */
  def pmiCollocations(
      docs: DataFrame, text: Column, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val bi = docs.select(
      explode(TextFunctions.wordShinglesAll(text, 2)).as("bg"))
    val bf = bi.groupBy("bg").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val tok = docs.select(explode(TextFunctions.tokens(text)).as("t"))
    val tf = tok.groupBy("t").agg(count(lit(1)).as("c"))
    val nu = tok.agg(count(lit(1)).as("nu"))
    val nb = bi.agg(count(lit(1)).as("nb"))
    bf
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(tf.select(col("t").as("w1"), col("c").as("ca")), "w1")
      .join(tf.select(col("t").as("w2"), col("c").as("cb")), "w2")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("bg").as("bigram"), col("n_pair"),
        floor(log((col("n_pair") / col("nb"))
          / ((col("ca") / col("nu")) * (col("cb") / col("nu"))))
          * 1000000.0 + 0.5).cast("long").as("pmi_micros"))
      .orderBy(col("pmi_micros").desc, col("bigram"))
  }

  /** Positional phrase search: serve a batch of exact multi-word phrase
    * queries from a positional posting list. Each (phrase, offset, term)
    * matches postings at start = pos − offset; a start where ALL offsets
    * matched is one occurrence — which handles repeated terms inside a
    * phrase ('x x') and overlapping occurrences ('x x x' contains two),
    * neither of which a contains()-style filter can count. Output:
    * (phrase, `id`, n_hits), one row per (phrase, doc) with ≥ 1 hit.
    *
    * Scale shape: the phrase table is query-sized (broadcast twice);
    * postings are ONE posexplode scan; match volume is proportional to
    * the corpus frequency of the queried words — never a corpus
    * self-join.
    */
  def phraseSearch(
      docs: DataFrame, id: String, text: Column,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.trim.nonEmpty),
      "phrases must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val ph = phrases.toDF("phrase")
    val pterms = ph.select(col("phrase"),
      posexplode(split(col("phrase"), " ")).as(Seq("off", "term")))
    val plen = ph.select(col("phrase"),
      size(split(col("phrase"), " ")).cast("long").as("n_terms"))
    val postings = docs.select(col(id),
      posexplode(TextFunctions.tokens(text)).as(Seq("pos", "term")))
    postings.join(broadcast(pterms), "term")
      .select(col("phrase"), col(id), (col("pos") - col("off")).as("strt"))
      .groupBy(col("phrase"), col(id), col("strt")).agg(count(lit(1)).as("k"))
      .join(broadcast(plen), "phrase")
      .filter(col("k") === col("n_terms"))
      .groupBy(col("phrase"), col(id)).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("phrase"), col(id))
  }

  /** URL canonical form for crawl dedup: lowercase host, strip :80/:443
    * default ports, drop the #fragment, drop utm_* / fbclid / gclid
    * tracking params, sort the surviving query params, strip a trailing path
    * slash. Pure codegen'd string/array expressions — usable inside any
    * linear scan. Assumes https?://host[/path][?query][#frag] shape.
    */
  def canonicalizeUrl(url: Column): Column = {
    val nf = substring_index(url, "#", 1)
    val p0 = substring_index(nf, "?", 1)
    // substring_index(s, '?', -1) returns the WHOLE string when '?' is
    // absent — guard to '' so a query-less URL doesn't eat itself
    val q0 = when(instr(nf, "?") > 0, substring_index(nf, "?", -1))
      .otherwise(lit(""))
    val scheme = lower(substring_index(p0, "://", 1))
    val hostAndPath = p0.substr(length(scheme) + lit(4), length(p0))
    val host = substring_index(hostAndPath, "/", 1)
    val pth = when(instr(hostAndPath, "/") > 0,
      hostAndPath.substr(length(host) + lit(1), length(hostAndPath)))
      .otherwise(lit(""))
    val chost = regexp_replace(lower(host), ":(443|80)$", "")
    val cpath = regexp_replace(pth, "/$", "")
    val cq = array_join(
      array_sort(filter(split(q0, "&"),
        p => p =!= "" && !p.rlike("^(utm_|fbclid|gclid)"))), "&")
    concat(scheme, lit("://"), chost, cpath,
      when(cq === "", "").otherwise(concat(lit("?"), cq)))
  }

  /** Crawl-level URL dedup: group documents by [[canonicalizeUrl]] and
    * report, per canonical page, the doc count, the canonical
    * representative (min id), and how many distinct raw spellings
    * arrived. One linear scan + one groupBy on the canonical key (at
    * 100 TB: group on the canonical string's hash).
    */
  def dedupByCanonicalUrl(
      docs: DataFrame, id: String, url: Column): DataFrame =
    docs
      .select(col(id), url.as("__url"))
      .select(col(id), col("__url"), canonicalizeUrl(col("__url")).as("curl"))
      .groupBy(col("curl").as("canonical_url"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(id)).as("canonical_doc"),
        countDistinct(col("__url")).as("n_raw_variants"))
      .orderBy("canonical_url")

  /** Greedy bigram-LM generation (see the `lm_generate_greedy`
    * registration for the full contract): train bigram counts in one
    * corpus scan, keep the argmax-successor table DISTRIBUTED, and walk
    * `steps` greedy transitions (ties → lexicographic min) as a chain of
    * `steps` joins against ONE broadcast of the successor table — the
    * broadcast exchange is plan-identical at every step, so it builds
    * once and is reused. Nothing corpus-vocabulary-sized ever lands on
    * the driver (only the single seed row is collected); at 100 TB the
    * successor table would be a bucketed model table and the same chain
    * would SHUFFLE_HASH-join it. A dead end (token with no continuation)
    * joins to zero rows and every later step stays empty — the walk
    * stops exactly where the driver loop did. Empty corpus → empty
    * result, never a crash.
    */
  def greedyGenerate(docs: DataFrame, text: Column, steps: Int): DataFrame = {
    val s = docs.sparkSession
    val ws = docs.select(TextFunctions.tokens(text).as("ws"))
    val uni = ws.select(explode(col("ws")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val bi = ws.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws)-1), " +
          "i -> struct(element_at(ws, i) AS w1, element_at(ws, i+1) AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    import org.apache.spark.sql.expressions.Window
    val succ = bi
      .withColumn("rk", row_number().over(
        Window.partitionBy("w1").orderBy(col("c").desc, col("w2"))))
      .filter(col("rk") === 1)
      .select("w1", "w2")
      // pin the model: the 13 union branches below have nested lineages
      // (branch i = i joins), and without the pin each one would replay
      // the corpus-sized bigram aggregate — vocab-sized state, one build
      .transform(graft.Tables.pin)
    // one row — the only collect in the operator
    val seedRow = uni.orderBy(col("c").desc, col("t")).limit(1).collect()
    import s.implicits._
    if (seedRow.isEmpty) Seq.empty[(Long, String)].toDF("step", "tok")
    else {
      val seed = seedRow.head.getString(0)
      var cur = Seq((0L, seed)).toDF("step", "tok")
      var out = cur
      (1 to steps).foreach { i =>
        // fresh attribute ids per step so the self-referencing chain
        // resolves unambiguously; the broadcast child canonicalizes to
        // the same plan every step → ReuseExchange builds it once
        val m = succ.select(col("w1").as(s"w1_$i"), col("w2").as(s"w2_$i"))
        cur = cur.join(broadcast(m), cur("tok") === col(s"w1_$i"))
          .select((cur("step") + 1).as("step"), col(s"w2_$i").as("tok"))
        out = out.unionAll(cur)
      }
      out.orderBy("step")
    }
  }

  /** The oracles each `_served` row shares with its trained twin:
    * served ≡ trained.
    */
  private val bpeCorpusOracle: String =
    s"""WITH ${bpeCorpusCtes(150, 6)}
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(DISTINCT sym) AS BIGINT) AS n_token_types
       |FROM c6 GROUP BY doc_id ORDER BY doc_id""".stripMargin
  private val unigramEncodeOracle: String =
    s"""WITH RECURSIVE ${unigramOracleCtes(150, 4, 40, 24)}
       |SELECT b.word, CAST(b.n AS BIGINT) AS n_tokens, b.toks AS token_str
       |FROM b1 b ORDER BY word""".stripMargin
  private val wordpieceEncodeOracle: String =
    s"""WITH RECURSIVE ${wordpieceCorpusCtes(150, 6)}
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(DISTINCT t) AS BIGINT) AS n_token_types
       |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Seq[Q] = Seq(
    // ---- BPE merge learning, relationally (see [[bpeTrain]]): 6 merge
    // rounds over the top-150 word vocabulary; the oracle replays every
    // round (pair count → argmax → greedy non-overlap merge) unrolled —
    // the learned merge TABLE is hash-exact across engines ----
    Q(
      "bpe_train",
      s"""WITH ${bpeOracleCtes(150, 6)}
         |SELECT merge_rank, lhs, rhs, pair_freq FROM (
         |${(1 to 6).map(r =>
        s"  SELECT CAST($r AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, c AS pair_freq FROM m$r")
        .mkString("\n  UNION ALL\n")}
         |) ORDER BY merge_rank""".stripMargin,
    ) { (s, d) =>
      val (merges, _) = bpeTrain(Tables.documents(s, d), topN = 150, rounds = 6)
      import s.implicits._
      merges.map { case (r, a, b, c) => (r.toLong, a, b, c) }
        .toDF("merge_rank", "lhs", "rhs", "pair_freq")
        .orderBy("merge_rank")
    },

    // ---- the trained merges APPLIED: each vocab word's final token
    // sequence after the 6 merges (the encode side of the same run; a
    // production encoder applies the persisted merge table in rank order
    // to unseen text the same way) ----
    Q(
      "bpe_encode",
      s"""WITH ${bpeOracleCtes(150, 6)}
         |SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  STRING_AGG(sym, '|' ORDER BY pos) AS token_str
         |FROM s6 GROUP BY word ORDER BY word""".stripMargin,
    ) { (s, d) =>
      val (_, syms) = bpeTrain(Tables.documents(s, d), topN = 150, rounds = 6)
      import s.implicits._
      syms.map { case (w, t) => (w, t.size.toLong, t.mkString("|")) }
        .toDF("word", "n_tokens", "token_str")
        .orderBy("word")
    },

    // ---- the learned merges applied to the WHOLE corpus: per-document
    // token counts after the 6 trained merges (train on the vocab table,
    // tokenize every document — the production encode path); windows key
    // by word occurrence, one shuffle over corpus symbol rows per round ----
    Q.weekly("bpe_corpus_tokens", bpeCorpusOracle) { (s, d) =>
      bpeEncodeCorpus(Tables.documents(s, d), topN = 150, rounds = 6)
    },

    // ---- the tokenizer SERVED from its persisted model: the merge table
    // is trained once per fixture identity, written via ModelStore, and
    // every later encode loads it — no retraining (the ANN serving
    // discipline applied to tokenization) ----
    Q("bpe_corpus_tokens_served", bpeCorpusOracle) { (s, d) =>
      val dir = graft.LocalFiles.stageFixture(d, "documents.parquet", "bpe:150:6") { tmp =>
        graft.sources.ModelStore.saveMerges(s, tmp,
          bpeTrain(Tables.documents(s, d), topN = 150, rounds = 6)._1)
      }
      bpeApplyCorpus(Tables.documents(s, d),
        graft.sources.ModelStore.loadMerges(s, dir))
    },

    // ---- unigram-LM tokenizer TRAINING (SentencePiece-style, Kudo
    // 2018) — the other mainstream subword algorithm beside BPE: seed
    // substring candidates → Viterbi E-step → usage M-step + prune →
    // add-1 re-estimate ([[unigramTrain]]). The oracle replays the seed
    // arithmetic and checks the argmax segmentations by EXHAUSTIVE
    // enumeration (recursive CTE), so the learned piece table is
    // hash-exact cross-engine ----
    Q(
      "unigram_train",
      s"""WITH RECURSIVE ${unigramOracleCtes(150, 4, 40, 24)}
         |SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, usage,
         |  lp AS logp_micros
         |FROM v1 ORDER BY piece""".stripMargin,
    ) { (s, d) =>
      val (vocab, _) = unigramTrain(Tables.documents(s, d), 150, 4, 40, 24)
      import s.implicits._
      vocab.map { case (p, u, lp) => (p, p.length.toLong, u, lp) }
        .toDF("piece", "piece_len", "usage", "logp_micros")
        .orderBy("piece")
    },

    // ---- the trained unigram model APPLIED: each vocab word's Viterbi
    // segmentation under the final pruned model — the encode side of the
    // same run (ties → fewer pieces, then lexicographic token string;
    // the oracle's exhaustive argmax applies the identical order) ----
    Q("unigram_encode", unigramEncodeOracle) { (s, d) =>
      val (vocab, words) = unigramTrain(Tables.documents(s, d), 150, 4, 40, 24)
      unigramEncode(s, words.map(_._1), vocab, 4)
    },

    // ---- the unigram tokenizer SERVED from its persisted model: piece
    // table trained once per fixture identity, written via ModelStore,
    // later encodes load it and never retrain (the bpe_*_served
    // discipline) ----
    Q("unigram_encode_served", unigramEncodeOracle) { (s, d) =>
      val dir = graft.LocalFiles.stageFixture(d, "documents.parquet",
        "unigram:150:4:40:24") { tmp =>
        graft.sources.ModelStore.saveUnigram(s, tmp,
          unigramTrain(Tables.documents(s, d), 150, 4, 40, 24)._1)
      }
      unigramEncode(s, collectWordTable(Tables.documents(s, d), 150).map(_._1).toSeq,
        graft.sources.ModelStore.loadUnigram(s, dir), 4)
    },

    // ---- WordPiece tokenizer TRAINING (Schuster & Nakajima 2012 — the
    // BERT-family algorithm, completing the BPE/unigram/WordPiece triad):
    // BPE's merge loop with the merge argmax'd by the LIKELIHOOD score
    // count(ab)/(count(a)·count(b)) as exact scaled integers. The oracle
    // unrolls every round with the same HUGEINT arithmetic, so the merge
    // table is hash-exact cross-engine ----
    Q(
      "wordpiece_train",
      s"""WITH ${wordpieceOracleCtes(150, 6)}
         |SELECT r, left_sym, right_sym, pair_count, score_fix FROM (
         |${(1 to 6).map(r =>
             s"  SELECT $r AS r, a AS left_sym, b AS right_sym, " +
               s"c AS pair_count, score AS score_fix FROM m$r")
             .mkString("\n  UNION ALL\n")}
         |) ORDER BY r""".stripMargin,
    ) { (s, d) =>
      import s.implicits._
      wordpieceTrain(Tables.documents(s, d), topN = 150, rounds = 6)._1
        .toDF("r", "left_sym", "right_sym", "pair_count", "score_fix")
        .orderBy("r")
    },

    // ---- WordPiece ENCODE: greedy longest-match-first over the trained
    // vocab + char alphabet — real WordPiece's serving algorithm, which
    // is NOT merge replay (they can tokenize a word differently; every
    // production encoder ships the matcher). The oracle enumerates ALL
    // segmentations per distinct corpus word (recursive CTE) and picks
    // the lexicographically largest token-length sequence — provably the
    // greedy matcher's output — then replays the per-doc aggregate ----
    Q.weekly("wordpiece_encode", wordpieceEncodeOracle) { (s, d) =>
      val merges = wordpieceTrain(Tables.documents(s, d), 150, 6)._1
      wordpieceApplyCorpus(Tables.documents(s, d),
        merges.map(m => (m._2, m._3)))
    },

    // ---- the WordPiece matcher SERVED from its persisted merge table
    // (ModelStore, trained once per fixture identity) — the BPE/unigram
    // serving discipline applied to the third tokenizer family ----
    Q("wordpiece_encode_served", wordpieceEncodeOracle) { (s, d) =>
      val dir = graft.LocalFiles.stageFixture(
        d, "documents.parquet", "wordpiece:150:6") { tmp =>
        graft.sources.ModelStore.saveMerges(s, tmp,
          wordpieceTrain(Tables.documents(s, d), 150, 6)._1
            .map(m => (m._1, m._2, m._3, m._4)))
      }
      wordpieceApplyCorpus(Tables.documents(s, d),
        graft.sources.ModelStore.loadMerges(s, dir).map(m => (m._2, m._3)))
    },
    // ---- per-document stats: token counts, lengths, fingerprints ----
    Q(
      "text_stats",
      """SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq,
        |  CAST(length(text) AS BIGINT) AS n_chars_ck,
        |  CAST(len(list_filter(regexp_split_to_array(text,'[^a-z0-9]+'), t -> len(t) > 0)) AS BIGINT) AS n_rx_tokens,
        |  md5(text) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"),
        size(TextFunctions.distinctTokens(col("text"))).cast("long").as("n_uniq"),
        length(col("text")).cast("long").as("n_chars_ck"),
        TextFunctions.regexTokenCount(col("text")).as("n_rx_tokens"),
        TextFunctions.fingerprintMd5(col("text")).as("fp"),
      ).orderBy("doc_id")
    },

    // ---- vocabulary-coverage audit: top-16 frequency vocab learned on a
    // hash-split train side (id-hash % 10 < 8 — the fixture's doc_id%20
    // IS the source, so a modular split would leave only 4 held-out
    // sources), per-source OOV rate on the held-out 20%. 16 of the
    // fixture's 31 distinct tokens → real OOV mass in every source ----
    Q(
      "oov_rate_report",
      """WITH sp AS (SELECT source, text,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS sl
        |  FROM documents),
        |tr AS (SELECT unnest(string_split(text, ' ')) AS t FROM sp WHERE sl < 8),
        |v AS (SELECT t FROM (SELECT t, COUNT(*) AS f FROM tr GROUP BY 1
        |      ORDER BY f DESC, t LIMIT 16)),
        |ho AS (SELECT source, unnest(string_split(text, ' ')) AS t
        |  FROM sp WHERE sl >= 8)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(FLOOR(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) * 1000000.0
        |    / COUNT(*) + 0.5) AS BIGINT) AS oov_micros
        |FROM ho LEFT JOIN v ON v.t = ho.t
        |GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      val slot = pmod(
        TextFunctions.tokenHash60(col("doc_id").cast("string")), lit(10L))
      oovRateReport(
        docs.filter(slot < 8),
        docs.filter(slot >= 8),
        "source", col("text"), vocabSize = 16)
    },

    // ---- corpus-level token frequency (top 50) ----
    Q(
      "token_freq_top50",
      """SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS freq
        |FROM (SELECT unnest(string_split(text,' ')) AS t FROM documents)
        |GROUP BY t ORDER BY freq DESC, token LIMIT 50""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(50)
    },

    // ---- heavy hitters via count-min sketch: the fixed-memory (32 KiB)
    // frequency path that replaces exact groupBy(token).count() at 100 TB.
    // The row hashes are md5-derived, so the DuckDB oracle rebuilds the
    // IDENTICAL sketch in SQL — the estimates themselves are hash-exact
    // checked (not just an accuracy contract). Probe set = the exact
    // top-10 tokens; `never_under` asserts the CMS one-sided guarantee ----
    Q(
      "q_heavy_hitters_cms",
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |cells AS (
        |  SELECT r, ('0x' || substr(md5('cm' || CAST(r AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 1024 AS b,
        |    COUNT(*) AS c
        |  FROM toks CROSS JOIN (SELECT unnest([0,1,2,3]) AS r) GROUP BY 1, 2),
        |exact AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact FROM toks GROUP BY token
        |  ORDER BY n_exact DESC, token LIMIT 10)
        |SELECT e.token, e.n_exact, CAST(MIN(c.c) AS BIGINT) AS cms_est,
        |  CAST(MIN(c.c) AS BIGINT) >= e.n_exact AS never_under
        |FROM exact e JOIN cells c
        |  ON c.b = ('0x' || substr(md5('cm' || CAST(c.r AS VARCHAR) || ':' || e.token), 1, 15))::BIGINT % 1024
        |GROUP BY e.token, e.n_exact
        |ORDER BY n_exact DESC, token""".stripMargin,
    ) { (s, d) =>
      import graft.functions.CountMinSketch
      val toks = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      val sketch = toks
        .agg(CountMinSketch.sketchAgg(CountMinSketch.buckets(col("token"))).as("cms"))
      val top = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token")).limit(10)
      top.crossJoin(broadcast(sketch))
        .select(col("token"), col("n_exact"),
          CountMinSketch.estimate(col("cms"), col("token")).as("cms_est"))
        .withColumn("never_under", col("cms_est") >= col("n_exact"))
        .orderBy(col("n_exact").desc, col("token"))
    },

    // ---- per-doc token-distribution entropy: the cheap compressibility /
    // repetition signal (low entropy = repetitive or templated text, high
    // = diverse vocabulary). Computed via the aggregate identity
    // H = ln(n) − (Σ c·ln c)/n — two grouped aggregates, no per-token
    // probability materialized; c·ln(c) is bit-identical per row and the
    // sum goes through Det micros, so the micro-rounded output is exact
    // cross-engine ----
    Q(
      "text_entropy",
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |cnt AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
         |e AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |        ${Det.dsumSql("c * ln(c)")} AS slc
         |      FROM cnt GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |  FLOOR((ln(n_tokens) - slc / n_tokens) * 1000000.0 + 0.5) / 1000000.0 AS entropy_r
         |FROM e ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          Det.dsum(col("c") * log(col("c"))).as("slc"))
        .select(col("doc_id"), col("n_tokens"),
          (floor((log(col("n_tokens")) - col("slc") / col("n_tokens"))
            * 1000000.0 + 0.5) / 1000000.0).as("entropy_r"))
        .orderBy("doc_id")
    },

    // ---- heuristic quality score per document ----
    Q(
      "quality_scores",
      s"""SELECT doc_id, lang,
         |  0.4 * LEAST(CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0, 1.0)
         |  + 0.4 * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |           / GREATEST(CAST(len(string_split(text,' ')) AS DOUBLE), 1.0))
         |  + 0.2 * (1.0 - CAST(len(list_filter(string_split(text,' '), t -> t IN ($stopSql))) AS DOUBLE)
         |           / GREATEST(CAST(len(string_split(text,' ')) AS DOUBLE), 1.0)) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text"), Stopwords).as("quality"),
      ).orderBy("doc_id")
    },

    // ---- corpus profile per (lang, source) ----
    Q(
      "lang_source_profile",
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(ROUND((n_chars)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0/COUNT(*) AS avg_chars,
        |  CAST(SUM(CAST(len(string_split(text,' ')) AS BIGINT)) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          Det.davg(col("n_chars")).as("avg_chars"),
          sum(size(TextFunctions.tokens(col("text"))).cast("long")).as("total_tokens"))
        .orderBy("lang", "source")
    },

    // ---- language-ID heuristic (marker profiles; deterministic argmax —
    // Spark's greatest-of-structs == SQL window argmax on (score DESC,
    // lang DESC)). The fixture's lang labels are random w.r.t. content, so
    // this checks the mechanism, not real accuracy ----
    Q(
      "langid_heuristic",
      """WITH langs AS (
        |  SELECT * FROM (VALUES
        |    ('de', ['der','die','das']),
        |    ('en', ['the','a','of']),
        |    ('es', ['el','la','de']),
        |    ('fr', ['le','la','et']),
        |    ('zh', ['的','了','在'])) AS t(lang_c, markers)),
        |scored AS (
        |  SELECT d.doc_id, d.lang, l.lang_c,
        |    len(list_filter(string_split(d.text,' '), tk -> list_contains(l.markers, tk))) AS score
        |  FROM documents d CROSS JOIN langs l),
        |best AS (
        |  SELECT doc_id, lang, lang_c, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_c DESC) AS rn
        |  FROM scored)
        |SELECT doc_id, lang,
        |  CASE WHEN score > 0 THEN lang_c ELSE 'und' END AS lang_pred
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val profiles = Map(
        "en" -> Seq("the", "a", "of"),
        "de" -> Seq("der", "die", "das"),
        "es" -> Seq("el", "la", "de"),
        "fr" -> Seq("le", "la", "et"),
        "zh" -> Seq("的", "了", "在"))
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        TextFunctions.langIdHeuristic(col("text"), profiles).as("lang_pred"),
      ).orderBy("doc_id")
    },

    // ---- classifier-eval CONFUSION MATRIX over the langid heuristic:
    // per (true lang, predicted lang) cell counts plus the row-normalized
    // rate (recall on the diagonal, confusion off it) — the QA report
    // every classifier in the pipeline (langid, quality) ships with.
    // One scan through the same scorer + an alphabet²-sized aggregate;
    // rates are exact-BIGINT integer division ----
    Q(
      "langid_confusion",
      """WITH langs AS (
        |  SELECT * FROM (VALUES
        |    ('de', ['der','die','das']),
        |    ('en', ['the','a','of']),
        |    ('es', ['el','la','de']),
        |    ('fr', ['le','la','et']),
        |    ('zh', ['的','了','在'])) AS t(lang_c, markers)),
        |scored AS (
        |  SELECT d.doc_id, d.lang, l.lang_c,
        |    len(list_filter(string_split(d.text,' '), tk -> list_contains(l.markers, tk))) AS score
        |  FROM documents d CROSS JOIN langs l),
        |best AS (
        |  SELECT doc_id, lang, lang_c, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_c DESC) AS rn
        |  FROM scored),
        |pred AS (SELECT lang,
        |    CASE WHEN score > 0 THEN lang_c ELSE 'und' END AS lang_pred
        |  FROM best WHERE rn = 1),
        |cells AS (SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM pred GROUP BY 1, 2)
        |SELECT lang, lang_pred, n,
        |  CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS n_true,
        |  n * 1000000 // CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS rate_mic
        |FROM cells ORDER BY lang, lang_pred""".stripMargin,
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val profiles = Map(
        "en" -> Seq("the", "a", "of"),
        "de" -> Seq("der", "die", "das"),
        "es" -> Seq("el", "la", "de"),
        "fr" -> Seq("le", "la", "et"),
        "zh" -> Seq("的", "了", "在"))
      val cells = Tables.documents(s, d)
        .select(col("lang"),
          TextFunctions.langIdHeuristic(col("text"), profiles).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      cells.select(col("lang"), col("lang_pred"), col("n"),
          sum(col("n")).over(Window.partitionBy("lang")).as("n_true"))
        .withColumn("rate_mic", expr("n * 1000000 DIV n_true"))
        .orderBy("lang", "lang_pred")
    },

    // ---- order-sensitive rolling-hash fingerprint. Token hash = first
    // 15 md5 hex chars (portable); oracle replays the same polynomial
    // fold with pre-modded elements ((a*b + x) mod p distributes) ----
    Q(
      "doc_rolling_fingerprint",
      """SELECT doc_id,
        |  list_reduce(
        |    list_transform(string_split(text,' '),
        |      t -> ('0x' || substr(md5(t),1,15))::BIGINT % 1000000007),
        |    (a, x) -> (a * 1000003 + x) % 1000000007) AS rolling_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.rollingTokenHash(col("text")).as("rolling_fp"),
      ).orderBy("doc_id")
    },

    // ---- TF-IDF top terms per document: tf = in-doc token count, df =
    // corpus doc frequency, score = tf · ln(N/df). Ranking uses the
    // 6dp-ROUNDED score (+ term tie-break) so near-tie ordering can't flip
    // on sub-ulp ln() differences between engines. One explode + two
    // groupBys + a broadcast of (token, df) — the classic two-pass
    // distributed TF-IDF, no collect ----
    Q(
      "tfidf_top_terms",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT t, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.t,
        |    ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
        |  FROM tf JOIN dfreq ON dfreq.t = tf.t CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, t AS term, tfidf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, t) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tfidf, rank FROM ranked
        |WHERE rank <= 3 AND doc_id < 50 ORDER BY doc_id, rank""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("t"))
      val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val dfreq = tok.select("doc_id", "t").distinct()
        .groupBy("t").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("t"))
      // dfreq is vocabulary-sized — a 100 TB corpus's distinct-term table
      // can exceed broadcast limits, so no broadcast hint: AQE picks
      // broadcast when the measured size allows and shuffles otherwise.
      // The 1-row corpus count `n` stays an explicit broadcast.
      tf.join(dfreq, "t")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3 && col("doc_id") < 50)
        .select(col("doc_id"), col("t").as("term"), col("tfidf"), col("rank"))
        .orderBy("doc_id", "rank")
    },

    // ---- unigram LM quality score: avg log-prob of a doc's tokens under
    // the add-1-smoothed corpus unigram model — the cheap LM-based
    // filter (KenLM-perplexity-style) of modern pipelines. Two passes:
    // vocabulary aggregate, then token⋈vocab rejoin (TF-IDF shape; the
    // vocab side joins under AQE choice, only the 1-row totals
    // broadcast). Det.davg keeps the double sum order-independent ----
    Q(
      "lm_unigram_score",
      s"""WITH $lmScoreCtes
         |SELECT doc_id, avg_logp FROM sc ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      lmScores(Tables.documents(s, d)).orderBy("doc_id")
    },

    // ---- bigram LM: avg log P(w_i | w_{i-1}) per doc with add-1
    // smoothing — the conditional-probability upgrade of the unigram
    // filter (repetitive word-order patterns score high, shuffled or
    // disfluent text scores low even when its unigram mix looks fine).
    // Same two-pass shape: bigram + context-unigram corpus aggregates,
    // then an occurrence⋈model rejoin under AQE; only the 1-row vocab
    // total is broadcast. ln() is bit-identical cross-engine (proven by
    // lm_unigram_score) and Det.davg keeps the sum order-independent ----
    Q(
      "lm_bigram_score",
      s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |bi AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
         |         list_transform(generate_series(1, len(toks) - 1),
         |           i -> array_to_string(list_slice(toks, i, i + 1), ' '))
         |         ELSE [] END) AS bg FROM t0),
         |bf AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cb FROM bi GROUP BY 1),
         |tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         |tf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM tf),
         |sc AS (SELECT doc_id, ${Det.davgSql("ln((cb + 1.0) / (c + v))")} AS avg_logp2
         |       FROM bi JOIN bf USING (bg)
         |       JOIN tf ON tf.t = split_part(bg, ' ', 1)
         |       CROSS JOIN tot GROUP BY doc_id)
         |SELECT doc_id, avg_logp2 FROM sc ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      val bi = docs.select(col("doc_id"),
        explode(TextFunctions.wordShinglesAll(col("text"), 2)).as("bg"))
      val bf = bi.groupBy("bg").agg(count(lit(1)).as("cb"))
      val tok = docs.select(explode(TextFunctions.tokens(col("text"))).as("t"))
      val tf = tok.groupBy("t").agg(count(lit(1)).as("c"))
      val tot = tf.agg(count(lit(1)).as("v"))
      bi.join(bf, "bg")
        .withColumn("ctx", substring_index(col("bg"), " ", 1))
        .join(tf, col("ctx") === col("t"))
        .crossJoin(broadcast(tot))
        .withColumn("lp",
          log((col("cb") + 1).cast("double") / (col("c") + col("v"))))
        .groupBy("doc_id").agg(Det.davg(col("lp")).as("avg_logp2"))
        .orderBy("doc_id")
    },

    // ---- trigram LM with Stupid Backoff (Brants et al. 2007): the model
    // is counted on a TRAIN split (doc_id % 10 < 8) and scores the
    // HELD-OUT docs, so unseen trigrams actually exercise the backoff
    // chain — trigram MLE, else 0.4 · bigram MLE, else 0.4² · add-1
    // unigram. This is the cheap high-order LM used at corpus scale
    // precisely because the score needs no normalization — count tables
    // join by gram under AQE, nothing but the 1-row (N, V) total is
    // broadcast, and at 100 TB the gram keys would be 60-bit hashes
    // (same join shape, 8-byte keys). Per-term micro quantization via
    // Det.davg makes the 3-way CASE sum order-independent ----
    Q(
      "lm_trigram_backoff",
      s"""WITH tr AS (SELECT string_split(text, ' ') AS ws FROM documents
         |            WHERE doc_id % 10 < 8),
         |ev0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |        WHERE doc_id % 10 >= 8),
         |c3 AS (SELECT tg, CAST(COUNT(*) AS BIGINT) AS c3 FROM (
         |         SELECT unnest(CASE WHEN len(ws) >= 3 THEN
         |           list_transform(generate_series(1, len(ws) - 2),
         |             i -> array_to_string(list_slice(ws, i, i + 2), ' '))
         |           ELSE [] END) AS tg FROM tr) GROUP BY 1),
         |c2 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
         |         SELECT unnest(CASE WHEN len(ws) >= 2 THEN
         |           list_transform(generate_series(1, len(ws) - 1),
         |             i -> array_to_string(list_slice(ws, i, i + 1), ' '))
         |           ELSE [] END) AS bg FROM tr) GROUP BY 1),
         |c1 AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c1
         |       FROM (SELECT unnest(ws) AS t FROM tr) GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n,
         |               CAST(COUNT(*) AS BIGINT) AS v FROM c1),
         |tri AS (SELECT doc_id,
         |          array_to_string(list_slice(ws, i, i + 2), ' ') AS tg,
         |          array_to_string(list_slice(ws, i, i + 1), ' ') AS ctx2,
         |          array_to_string(list_slice(ws, i + 1, i + 2), ' ') AS suf2,
         |          ws[i + 1] AS w2, ws[i + 2] AS w3
         |        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
         |              FROM ev0 WHERE len(ws) >= 3)),
         |sc AS (SELECT doc_id, ${Det.davgSql(
              """CASE
                |  WHEN c3 IS NOT NULL THEN ln(CAST(c3 AS DOUBLE) / c2ctx)
                |  WHEN c2suf IS NOT NULL THEN ln(0.4 * CAST(c2suf AS DOUBLE) / c1w2)
                |  ELSE ln(0.16 * (COALESCE(c1w3, 0) + 1.0) / (n + v)) END"""
                .stripMargin)} AS avg_logp3
         |       FROM tri LEFT JOIN c3 USING (tg)
         |       LEFT JOIN (SELECT bg AS ctx2, c2 AS c2ctx FROM c2) USING (ctx2)
         |       LEFT JOIN (SELECT bg AS suf2, c2 AS c2suf FROM c2) USING (suf2)
         |       LEFT JOIN (SELECT t AS w2, c1 AS c1w2 FROM c1) USING (w2)
         |       LEFT JOIN (SELECT t AS w3, c1 AS c1w3 FROM c1) USING (w3)
         |       CROSS JOIN tot GROUP BY doc_id)
         |SELECT doc_id, avg_logp3 FROM sc ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      stupidBackoffScore(
        docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
        docs.filter(pmod(col("doc_id"), lit(10)) < 8),
        "doc_id", col("text"))
        .orderBy("doc_id")
    },

    // ---- greedy bigram-LM GENERATION: the serving face of the LM tier —
    // seed with the corpus's modal token, then repeatedly take the
    // argmax continuation (ties → lexicographic min, so the walk is
    // fully deterministic and the oracle replays it with a RECURSIVE
    // CTE). The argmax-successor table is MODEL-sized (≤ vocab rows —
    // the same driver-side cost class as k-means centroids and the BPE
    // merge argmax); training is one corpus scan + vocab²-bounded
    // aggregate. The walk stops early if a token has no continuation;
    // greedy decoding entering a cycle is expected LM behavior, not a
    // defect ----
    Q(
      "lm_generate_greedy",
      """WITH RECURSIVE ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM (SELECT unnest(ws) AS t FROM ws) GROUP BY 1),
        |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT ws[i] AS w1, ws[i+1] AS w2
        |    FROM (SELECT ws, unnest(generate_series(1, len(ws)-1)) AS i
        |          FROM ws WHERE len(ws) >= 2)) GROUP BY 1, 2),
        |best AS (SELECT w1, w2 FROM (
        |    SELECT w1, w2, ROW_NUMBER() OVER (PARTITION BY w1
        |      ORDER BY c DESC, w2) AS rk FROM bi) WHERE rk = 1),
        |seed AS (SELECT t FROM (
        |    SELECT t, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rk FROM uni)
        |  WHERE rk = 1),
        |g(step, tok) AS (
        |  SELECT 0, (SELECT t FROM seed)
        |  UNION ALL
        |  SELECT g.step + 1, b.w2 FROM g JOIN best b ON b.w1 = g.tok
        |  WHERE g.step < 12)
        |SELECT CAST(step AS BIGINT) AS step, tok FROM g ORDER BY step""".stripMargin,
    ) { (s, d) =>
      greedyGenerate(Tables.documents(s, d), col("text"), steps = 12)
    },

    // ---- CCNet-style perplexity bucketing: per-language head/middle/tail
    // by the terciles of the unigram-LM score (Wenzek et al. 2020 bucket
    // CommonCrawl by KenLM perplexity exactly this way). Cut points are
    // ONE per-language aggregate broadcast back — no per-language sort or
    // window anywhere; at 100 TB the quantiles would come from a
    // per-language sample, same shape. Det.davg makes the scores
    // bit-identical cross-engine, so the rounded cut compare is stable ----
    // NOTE on determinism (this query flipped one boundary doc at sf0.1
    // before): ROUND(x, 6) is not cross-engine-safe on ties (Spark rounds
    // the shortest-decimal rendering via BigDecimal.valueOf, DuckDB the
    // binary double), and INTERPOLATED quantiles disagree at index
    // boundaries (p·(n−1) lands an ulp below an exact integer in one
    // engine and on it in the other). So: scores are quantized to integer
    // micros with FLOOR(x·1e6 + 0.5) — floor of the same IEEE value,
    // representation-independent — and the tercile cuts are DISCRETE
    // order statistics at rank ⌈n/3⌉ / ⌈2n/3⌉, indices computed in pure
    // integer arithmetic. No floats anywhere near a compare. The
    // per-lang sorted list is the same state the previous exact
    // percentile() buffered; at 100 TB the cuts would come from a
    // per-language sample, same shape ----
    Q(
      "quality_buckets",
      s"""WITH $lmScoreCtes,
         |dl AS (SELECT d.doc_id, d.lang,
         |         CAST(FLOOR(sc.avg_logp * 1000000.0 + 0.5) AS BIGINT) AS score_i
         |       FROM documents d JOIN sc USING (doc_id)),
         |cut AS (SELECT lang, list_sort(list(score_i)) AS arr, COUNT(*) AS n FROM dl GROUP BY 1),
         |cuts AS (SELECT lang, arr[CAST((n + 2) // 3 AS INT)] AS c1,
         |                arr[CAST((2*n + 2) // 3 AS INT)] AS c2 FROM cut)
         |SELECT doc_id, dl.lang, score_i / 1000000.0 AS score_r,
         |  CASE WHEN score_i > c2 THEN 'head'
         |       WHEN score_i > c1 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM dl JOIN cuts ON cuts.lang = dl.lang ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      val dl = docs.select(col("doc_id"), col("lang"))
        .join(lmScores(docs), "doc_id")
        .withColumn("score_i",
          floor(col("avg_logp") * 1000000.0 + 0.5).cast("long"))
      val cut = dl.groupBy("lang")
        .agg(sort_array(collect_list(col("score_i"))).as("arr"),
          count(lit(1)).as("n"))
        .select(col("lang"),
          element_at(col("arr"), expr("CAST((n + 2) DIV 3 AS INT)")).as("c1"),
          element_at(col("arr"), expr("CAST((2*n + 2) DIV 3 AS INT)")).as("c2"))
      dl.join(broadcast(cut), "lang")
        .select(
          col("doc_id"), col("lang"),
          (col("score_i") / 1000000.0).as("score_r"),
          when(col("score_i") > col("c2"), "head")
            .when(col("score_i") > col("c1"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    },

    // ---- edit distance (levenshtein — identical classic DP semantics in
    // both engines): within-document drift between two fixed slices ----
    Q(
      "q_edit_distance",
      """SELECT doc_id,
        |  CAST(levenshtein(substr(text, 1, 20), substr(text, 21, 20)) AS BIGINT) AS lev,
        |  CAST(levenshtein(substr(text, 1, 10), reverse(substr(text, 1, 10))) AS BIGINT) AS lev_rev
        |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        levenshtein(substring(col("text"), 1, 20), substring(col("text"), 21, 20))
          .cast("long").as("lev"),
        levenshtein(substring(col("text"), 1, 10), reverse(substring(col("text"), 1, 10)))
          .cast("long").as("lev_rev"),
      ).orderBy("doc_id")
    },

    // ---- winnowing fingerprints (MOSS): hash 3-gram shingles, keep each
    // 4-window's minimum — the sublinear substring-dedup sketch. Oracle
    // replays gram hashing (md5-top-60, the TokenHash60 contract) and the
    // window-min selection with nested list lambdas ----
    Q(
      "doc_winnow_fingerprints",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(generate_series(1, len(toks) - 2),
        |      i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 15))::BIGINT)
        |  ELSE [] END AS hs FROM t),
        |f AS (SELECT doc_id,
        |  CASE WHEN len(hs) >= 4 THEN
        |    list_distinct(list_transform(generate_series(1, len(hs) - 3),
        |      j -> list_min(list_slice(hs, j, j + 3))))
        |  WHEN len(hs) >= 1 THEN [list_min(hs)]
        |  ELSE [] END AS fps FROM g)
        |SELECT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        explode(TextFunctions.winnowFingerprints(col("text"), 3, 4)).as("fp"),
      ).orderBy("doc_id", "fp")
    },

    // ---- repetition quality filters (the Gopher/C4-style pre-filters):
    // duplicate 2-gram fraction and top-2-gram fraction per document.
    // One explode + two groupBys — linear, shuffles bounded by gram count ----
    Q(
      "quality_repetition",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |        i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram FROM t),
        |c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        |        CAST(MAX(c) AS BIGINT) AS top_c, CAST(COUNT(*) AS BIGINT) AS n_distinct
        |      FROM c GROUP BY 1)
        |SELECT doc_id, n_grams,
        |  CAST(n_grams - n_distinct AS DOUBLE) / n_grams AS dup_frac,
        |  CAST(top_c AS DOUBLE) / n_grams AS top_frac
        |FROM a ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.wordShinglesAll(col("text"), 2)).as("gram"))
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum("c").as("n_grams"), max("c").as("top_c"), count(lit(1)).as("n_distinct"))
        .select(col("doc_id"), col("n_grams"),
          ((col("n_grams") - col("n_distinct")).cast("double") / col("n_grams")).as("dup_frac"),
          (col("top_c").cast("double") / col("n_grams")).as("top_frac"))
        .orderBy("doc_id")
    },

    // ---- multimodal plumbing: opaque binary payload + byte stats (the
    // decode itself is stubbed — see functions.Multimodal) ----
    Q(
      "media_byte_stats",
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
      ).orderBy("doc_id")
    },

    // ---- multimodal feature extraction end-to-end: mediaFromText builds
    // the (payload, kind, meta) table, extractFeatures runs the batched
    // mapPartitions decode path. n_bytes + the base-131 mod-2^55 payload
    // checksum are deterministic polynomials the oracle replays per byte
    // (fixture text is ASCII, so unicode(char) == byte value); the stubbed
    // feature vector itself is excluded (decode is env-stubbed, documented
    // in functions.Multimodal) ----
    Q(
      "media_features",
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (a, x) -> (a * 131 + x) % 36028797018963968) AS checksum
        |FROM documents ORDER BY media_id""".stripMargin,
    ) { (s, d) =>
      graft.functions.Multimodal
        .extractFeatures(graft.functions.Multimodal
          .mediaFromText(Tables.documents(s, d), "doc_id", "text"))
        .select("media_id", "kind", "n_bytes", "checksum")
        .orderBy("media_id")
    },

    // ---- GENUINE multimodal decode: BMP/WAV containers are synthesized
    // from doc_id (deterministic pixel/sample formulas), then parsed back
    // by the pure-JVM decoder — dimensions, sample rate and sample sums
    // come off the BYTES (headers, strides, chunk walks), while the oracle
    // replays the synthesis formulas in closed form. They can only agree
    // if the decoder truly inverts the container format ----
    Q(
      "media_decode",
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 4 + doc_id % 5 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 3 + doc_id % 4 END AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 2000 ELSE 0 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 32 + (doc_id % 13) * 4
        |       ELSE (4 + doc_id % 5) * (3 + doc_id % 4) * 3 END AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN
        |    list_sum(list_transform(
        |      generate_series(0, CAST(32 + (doc_id % 13) * 4 AS BIGINT) - 1),
        |      i -> (doc_id * 31 + i * 7) % 4096 - 2048))
        |  ELSE
        |    list_sum(list_transform(
        |      generate_series(0, CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS BIGINT) - 1),
        |      i -> (doc_id + 3 * ((i // 3) % (4 + doc_id % 5))
        |            + 5 * (i // (3 * (4 + doc_id % 5))) + 11 * (i % 3)) % 256))
        |  END AS BIGINT) AS sample_sum
        |FROM documents ORDER BY media_id""".stripMargin,
    ) { (s, d) =>
      graft.functions.Multimodal
        .decodeFeatures(graft.functions.Multimodal
          .mediaBinaryFromIds(Tables.documents(s, d), "doc_id"))
        .orderBy("media_id")
    },

    // ---- decode → resize/resample → RE-ENCODE → decode: BMPs drop to
    // half resolution by nearest-neighbor on LOGICAL rows (the transform
    // must invert bottom-up storage or it samples wrong pixels whenever
    // height parity changes), WAVs decimate by 2 at half the sample rate.
    // The oracle replays the strided sampling in closed form over the
    // synthesis formulas — agreement requires the full container loop ----
    Q(
      "media_resize",
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE (4 + doc_id % 5 + 1) // 2 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE (3 + doc_id % 4 + 1) // 2 END AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN (8000 + (doc_id % 5) * 2000) // 2 ELSE 0 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN (32 + (doc_id % 13) * 4) // 2
        |       ELSE ((4 + doc_id % 5 + 1) // 2) * ((3 + doc_id % 4 + 1) // 2) * 3 END AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN
        |    list_sum(list_transform(
        |      generate_series(0, CAST((32 + (doc_id % 13) * 4) // 2 AS BIGINT) - 1),
        |      j -> (doc_id * 31 + j * 14) % 4096 - 2048))
        |  ELSE
        |    list_sum(list_transform(
        |      generate_series(0, CAST(((4 + doc_id % 5 + 1) // 2) * ((3 + doc_id % 4 + 1) // 2) * 3 AS BIGINT) - 1),
        |      i -> (doc_id + 6 * ((i // 3) % ((4 + doc_id % 5 + 1) // 2))
        |            + 10 * (i // (3 * ((4 + doc_id % 5 + 1) // 2))) + 11 * (i % 3)) % 256))
        |  END AS BIGINT) AS sample_sum
        |FROM documents ORDER BY media_id""".stripMargin,
    ) { (s, d) =>
      graft.functions.Multimodal
        .decodeFeatures(graft.functions.Multimodal
          .resizeMedia(graft.functions.Multimodal
            .mediaBinaryFromIds(Tables.documents(s, d), "doc_id")))
        .orderBy("media_id")
    },

    // ---- frame sampling: every id gets a multi-frame GVID container
    // (2 + id%3 length-prefixed BMP frames); every 2nd frame is walked
    // out of the container and decoded — the 1-to-N batched shape a real
    // ffmpeg-behind-JNI extractor uses. Oracle replays the per-frame
    // pixel formula for exactly the sampled frame indices ----
    Q(
      "media_frame_sample",
      """WITH v AS (SELECT doc_id, 2 + doc_id % 3 AS nf,
        |             4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
        |f AS (SELECT doc_id, w, h, unnest(generate_series(0, nf - 1)) AS frame FROM v)
        |SELECT doc_id AS media_id, frame AS frame_idx,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(w * h * 3 AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(
        |    generate_series(0, CAST(w * h * 3 AS BIGINT) - 1),
        |    i -> (doc_id + 7 * frame + 3 * ((i // 3) % w) + 5 * (i // (3 * w)) + 11 * (i % 3)) % 256))
        |  AS BIGINT) AS sample_sum
        |FROM f WHERE frame % 2 = 0 ORDER BY media_id, frame_idx""".stripMargin,
    ) { (s, d) =>
      graft.functions.Multimodal
        .frameSample(graft.functions.Multimodal
          .videoFromIds(Tables.documents(s, d), "doc_id"), stride = 2)
        .orderBy("media_id", "frame_idx")
    },

    // ---- near-duplicate VIDEO detection by frame fingerprints: every
    // frame decodes to a perceptual-hash stand-in (width, height,
    // sample_sum — an aHash-like content digest), videos sharing ≥1
    // fingerprint pair up via a FINGERPRINT-BUCKET join (never all-pairs;
    // hot fingerprints shared by >16 videos are dropped, the media analog
    // of the PPJoin df-cap). The corpus plants trimmed re-uploads (first
    // frame cut, id+10⁷) — the classic copied-video shape — and the
    // oracle replays synthesis + fingerprint + cap + pairing closed-form.
    // At 100 TB: payload bytes never leave the decode stage (only the
    // fixed-width fingerprints shuffle), pair cost is bucket-bounded ----
    Q(
      "media_video_neardup",
      """WITH v AS (
        |  SELECT doc_id AS vid, doc_id AS base, 2 + doc_id % 3 AS nf,
        |         4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h, 0 AS fstart
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, doc_id, 2 + doc_id % 3,
        |         4 + doc_id % 5, 3 + doc_id % 4, 1
        |  FROM documents WHERE doc_id % 17 = 1),
        |f AS (SELECT vid, base, w, h,
        |        unnest(generate_series(fstart, nf - 1)) AS frame FROM v),
        |fp AS (SELECT DISTINCT vid, w, h,
        |  list_sum(list_transform(generate_series(0, w * h * 3 - 1),
        |    i -> (base + 7 * frame + 3 * ((i // 3) % w) + 5 * (i // (3 * w)) + 11 * (i % 3)) % 256)) AS s
        |  FROM f),
        |pop AS (SELECT w, h, s FROM fp GROUP BY 1, 2, 3 HAVING COUNT(*) <= 16),
        |fc AS (SELECT fp.vid, fp.w, fp.h, fp.s FROM fp JOIN pop USING (w, h, s)),
        |p AS (SELECT a.vid AS va, b.vid AS vb, COUNT(*) AS ns
        |      FROM fc a JOIN fc b
        |        ON a.w = b.w AND a.h = b.h AND a.s = b.s AND a.vid < b.vid
        |      GROUP BY 1, 2)
        |SELECT va AS vid_a, vb AS vid_b, CAST(ns AS BIGINT) AS n_shared
        |FROM p ORDER BY vid_a, vid_b""".stripMargin,
    ) { (s, d) =>
      import graft.functions.Multimodal
      val docs = Tables.documents(s, d)
      val media = Multimodal.videoFromIds(docs, "doc_id").unionByName(
        Multimodal.trimmedVideosFromIds(
          docs.filter(col("doc_id") % 17 === 1), "doc_id", offset = 10000000L))
      // eagerly checkpointed: BOTH sides of the fingerprint self-join (and
      // the cap subquery) read this table — without it every consumer
      // re-decodes every frame (the multi-consumer discipline of the text
      // dedup pipelines)
      val fp = Multimodal.frameSample(media, stride = 1)
        .select(col("media_id"), col("width"), col("height"), col("sample_sum"))
        .distinct()
        .transform(graft.Tables.pin)
      // df-cap: fingerprints shared by more than 16 videos are too common
      // to be evidence of copying (and would pair quadratically)
      val keep = fp.groupBy("width", "height", "sample_sum")
        .agg(count(lit(1)).as("__nb")).filter(col("__nb") <= 16)
        .drop("__nb")
      val capped = fp.join(keep, Seq("width", "height", "sample_sum"))
      capped.as("a").join(capped.as("b"),
          col("a.width") === col("b.width") &&
            col("a.height") === col("b.height") &&
            col("a.sample_sum") === col("b.sample_sum") &&
            col("a.media_id") < col("b.media_id"))
        .groupBy(col("a.media_id").as("vid_a"), col("b.media_id").as("vid_b"))
        .agg(count(lit(1)).cast("long").as("n_shared"))
        .orderBy("vid_a", "vid_b")
    },

    // ---- URL host extraction + per-domain profile: the crawl-curation
    // primitive (C4/CCNet aggregate and gate by registered domain). The
    // fixture carries no URLs, so each doc gets a deterministic one
    // (source-derived host, id-derived TLD) and the oracle replays the
    // identical construction; extraction is a per-row regex (codegen'd,
    // linear), the profile one hash aggregation ----
    Q(
      "url_host_profile",
      """WITH u AS (SELECT doc_id, n_chars,
        |    'https://' || source || (CASE WHEN doc_id % 3 = 0 THEN '.org' ELSE '.com' END)
        |      || '/p/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents)
        |SELECT regexp_extract(url, 'https?://([^/]+)/', 1) AS host,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |FROM u GROUP BY host ORDER BY host""".stripMargin,
    ) { (s, d) =>
      val url = concat(
        lit("https://"), col("source"),
        when(pmod(col("doc_id"), lit(3)) === 0, ".org").otherwise(".com"),
        lit("/p/"), col("doc_id").cast("string"))
      Tables.documents(s, d)
        .select(regexp_extract(url, "https?://([^/]+)/", 1).as("host"), col("n_chars"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy("host")
    },

    // ---- domain-blocklist filtering: drop documents whose host is on a
    // curated blocklist — one broadcast of the (tiny) list against a
    // linear scan of the corpus, never a shuffle of the corpus. Output is
    // the per-source audit a pipeline keeps (kept vs blocked counts) ----
    Q(
      "url_blocklist_filter",
      """WITH u AS (SELECT doc_id, source,
        |    source || (CASE WHEN doc_id % 3 = 0 THEN '.org' ELSE '.com' END) AS host
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN host IN ('src2.com', 'src5.org', 'src11.com')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
        |  CAST(SUM(CASE WHEN host IN ('src2.com', 'src5.org', 'src11.com')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
        |FROM u GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, d) =>
      val spark = s
      import spark.implicits._
      val blocklist = broadcast(
        Seq("src2.com", "src5.org", "src11.com").toDF("host")
          .withColumn("blocked", lit(true)))
      val host = concat(col("source"),
        when(pmod(col("doc_id"), lit(3)) === 0, ".org").otherwise(".com"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), host.as("host"))
        .join(blocklist, Seq("host"), "left")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"),
          sum(when(col("blocked"), 0L).otherwise(1L)).as("n_kept"))
        .orderBy("source")
    },

    // ---- classifier-based quality filtering (the fastText-style linear
    // gate of the GPT-3/CCNet pipelines): logit = bias + Σ w_t · tf_t/len
    // over a fixed feature vocabulary — the model is a broadcast-literal
    // weight table, the scan linear and codegen'd. Weights here are fixed
    // stand-ins for trained ones (no training data in the sandbox); the
    // per-doc feature densities are quantized to integer micros before the
    // weighted sum so the replay is hash-exact, and the published artifact
    // is (logit, keep = logit > 0) — no exp/sigmoid, whose libm rounding
    // is engine-specific ----
    Q(
      "quality_classifier",
      """WITH w AS (SELECT * FROM (VALUES
        |    ('data', 1.5), ('query', 1.0), ('vector', 2.0),
        |    ('slow', -1.5), ('spark', 0.5), ('the', -0.5)) wt(t, w)),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
        |feat AS (SELECT tok.doc_id,
        |    CAST(FLOOR(w.w * COUNT(*) / ANY_VALUE(dl.dl) * 1000000.0 + 0.5) AS BIGINT) AS c
        |  FROM tok JOIN w USING (t) JOIN dl ON dl.doc_id = tok.doc_id
        |  GROUP BY tok.doc_id, w.t, w.w)
        |SELECT d.doc_id,
        |  CAST(-200000 + COALESCE(SUM(c), 0) AS DOUBLE) / 1000000.0 AS logit,
        |  -200000 + COALESCE(SUM(c), 0) > 0 AS keep
        |FROM documents d LEFT JOIN feat ON feat.doc_id = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    ) { (s, d) =>
      val spark = s
      import spark.implicits._
      val weights = broadcast(Seq(
        ("data", 1.5), ("query", 1.0), ("vector", 2.0),
        ("slow", -1.5), ("spark", 0.5), ("the", -0.5)).toDF("t", "w"))
      val docs = Tables.documents(s, d)
      val dl = docs.select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("dl"))
      val feat = docs
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("t"))
        .join(weights, "t")
        .groupBy(col("doc_id"), col("t"), col("w")).agg(count(lit(1)).as("tf"))
        .join(dl, "doc_id")
        .select(col("doc_id"),
          floor(col("w") * col("tf") / col("dl") * 1000000.0 + 0.5)
            .cast("long").as("c"))
      docs.select(col("doc_id"))
        .join(feat.groupBy("doc_id").agg(sum("c").as("sc")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          ((lit(-200000L) + coalesce(col("sc"), lit(0L))).cast("double") / 1000000.0)
            .as("logit"),
          (lit(-200000L) + coalesce(col("sc"), lit(0L)) > 0).as("keep"))
        .orderBy("doc_id")
    },

    // ---- BM25 relevance scoring (Robertson et al., the retrieval scorer
    // data-curation pipelines use to mine corpus subsets near a reference
    // query): k1=1.2, b=0.75 over a fixed 3-term query. Corpus stats
    // (N, avgdl, per-term df) are 1-row/model-sized broadcasts; the scan
    // of the corpus is linear. Per-term contributions are quantized to
    // integer micros BEFORE the per-doc sum, so the 3-term addition is
    // order-independent and the oracle replay is hash-exact ----
    Q(
      "bm25_score",
      """WITH terms AS (SELECT unnest(['data', 'query', 'vector']) AS t),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |            CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tok JOIN terms USING (t) GROUP BY 1, 2),
        |df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |contrib AS (SELECT tf.doc_id,
        |    CAST(FLOOR(ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
        |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
        |      * 1000000.0 + 0.5) AS BIGINT) AS c
        |  FROM tf JOIN df USING (t) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats)
        |SELECT d.doc_id,
        |  CAST(COALESCE(SUM(c.c), 0) AS DOUBLE) / 1000000.0 AS bm25
        |FROM documents d LEFT JOIN contrib c ON c.doc_id = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    ) { (s, d) =>
      val terms = Seq("data", "query", "vector")
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("t"))
      val dl = docs.select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"),
        (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
      val tf = tok.filter(col("t").isin(terms: _*))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
      val contrib = tf.join(broadcast(dfreq), "t").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          floor(log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
            * (col("tf") * 2.2) / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
            * 1000000.0 + 0.5).cast("long").as("c"))
      docs.select(col("doc_id"))
        .join(contrib.groupBy("doc_id").agg(sum("c").as("sc")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (coalesce(col("sc"), lit(0L)).cast("double") / 1000000.0).as("bm25"))
        .orderBy("doc_id")
    },

    // ---- inverted-index construction (term → document-frequency +
    // posting list): the retrieval-side artifact a corpus pipeline builds
    // once and queries many times. One explode + distinct + groupBy(term)
    // — all key-partitioned; posting lists are materialized sorted and
    // CAPPED (first 20 doc ids) so a stopword's postings cannot blow up a
    // row at corpus scale (the full list lives in the df count; real
    // deployments shard postings beyond the cap into segment files).
    // Lists render as comma-joined strings (the q_array_agg discipline)
    // for an exact cross-engine compare; top-100 by (df, term) is a total
    // order since terms are unique. ----
    Q(
      "text_inverted_index",
      """WITH td AS (SELECT DISTINCT doc_id, t FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE len(t) > 0)
        |SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
        |FROM td GROUP BY t
        |ORDER BY df DESC, term LIMIT 100""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
        .distinct()
        .groupBy("term")
        .agg(
          count(lit(1)).as("df"),
          array_join(
            transform(
              slice(array_sort(collect_list(col("doc_id"))), 1, 20),
              _.cast("string")),
            ",").as("postings"))
        .orderBy(col("df").desc, col("term"))
        .limit(100)
    },

    // ---- exact multimodal dedup: group by content hash of the BINARY
    // payload, keep the lowest-id copy. Duplicates are PLANTED by
    // deriving content from doc_id % 40 (each payload replicated across
    // ~n/40 docs), so the oracle replays group membership closed-form —
    // which checks both the dedup semantics AND codec injectivity
    // (distinct content ids must never hash-collide). Only the 16-byte
    // hash + small columns reach the shuffle; payload bytes stay in the
    // map stage — the property that matters when payloads are MBs. ----
    Q(
      "media_dedup",
      """WITH d AS (SELECT doc_id, doc_id % 40 AS cid FROM documents)
        |SELECT CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
        |  CASE cid % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM d GROUP BY cid ORDER BY canonical_doc""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), pmod(col("doc_id"), lit(40L)).as("cid"))
      val media = graft.functions.Multimodal.mediaBinaryFromIds(
        docs.select(col("cid")).distinct(), "cid")
      docs.join(media, col("cid") === col("media_id"))
        .groupBy(md5(col("payload")).as("content_hash"))
        .agg(
          min(col("doc_id")).as("canonical_doc"),
          min(col("kind")).as("kind"),
          count(lit(1)).as("n_copies"))
        .select(col("canonical_doc"), col("kind"), col("n_copies"))
        .orderBy("canonical_doc")
    },

    // ---- vocabulary-coded tokenization (the corpus→ids step of training
    // prep): vocab = top-20 tokens by (freq, token), id = dense rank;
    // out-of-vocab → -1 (the 31-token fixture vocabulary guarantees live
    // unks at every scale). The vocab is MODEL-sized by construction, so
    // its single-partition rank window and broadcast to the encode join
    // are the sanctioned model-state tier — the corpus itself is scanned
    // once, keyed by (doc, position), and re-assembled with an
    // order-stamped array aggregation. Publishes per-doc token/unk counts
    // plus the first 20 ids (comma-joined, the q_array_agg discipline). ----
    Q(
      "token_ids",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        |vocab AS (SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, t) - 1 AS BIGINT) AS id
        |          FROM tf ORDER BY c DESC, t LIMIT 20),
        |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ptok AS (SELECT doc_id, i, ws[i] AS t FROM
        |         (SELECT doc_id, unnest(generate_series(1, len(ws))) AS i, ws FROM d)),
        |enc AS (SELECT p.doc_id, p.i, COALESCE(v.id, -1) AS id
        |        FROM ptok p LEFT JOIN vocab v ON v.t = p.t)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
        |  array_to_string(list(id ORDER BY i)[1:20], ',') AS ids_head
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tok = docs.select(
        col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("i", "t")))
      val vocab = tok.groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(20)
        .select(col("t"),
          (row_number().over(Window.orderBy(col("c").desc, col("t"))) - 1)
            .cast("long").as("id"))
      tok.join(broadcast(vocab), Seq("t"), "left")
        .select(col("doc_id"), col("i"),
          coalesce(col("id"), lit(-1L)).as("id"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("id") === -1L, 1L).otherwise(0L)).as("n_unk"),
          array_join(
            transform(
              slice(
                transform(
                  array_sort(collect_list(struct(col("i"), col("id")))),
                  p => p.getField("id")),
                1, 20),
              _.cast("string")),
            ",").as("ids_head"))
        .orderBy("doc_id")
    },

    // ---- per-document keyword extraction: top-3 TF-IDF terms per doc
    // (see [[docKeywords]]) — the per-doc counterpart of the corpus-level
    // tfidf_top_terms row. Same ln quantization; rank window bounded per
    // document ----
    Q(
      "doc_keywords_tfidf",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |             FROM documents),
        |tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |df AS (SELECT t, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM tok GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |sc AS (SELECT doc_id, t AS term,
        |    CAST(FLOOR(tf * ln(n / df) * 1000000.0 + 0.5) AS BIGINT)
        |      AS score_micros
        |  FROM tf JOIN df USING (t) CROSS JOIN n),
        |rk AS (SELECT doc_id, term, score_micros,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score_micros DESC, term) AS rank
        |  FROM sc)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score_micros
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    ) { (s, d) =>
      docKeywords(Tables.documents(s, d), "doc_id", col("text"), k = 3)
    },

    // ---- Zipf-law fit: least-squares slope of ln(freq) vs ln(rank) over
    // the top-300 token ranks — the language-health diagnostic (natural
    // text fits slope ≈ −1; templated/synthetic corpora flatten toward
    // 0). ln values are quantized to integer MILLIS before the moment
    // sums, so every Σx, Σy, Σxy, Σx² is exact BIGINT arithmetic and the
    // closed-form slope/intercept divisions see identical operands on
    // both engines; published in micros. Top-k is a TakeOrdered; the
    // rank window runs over the 300-row model-sized result ----
    Q(
      "token_zipf_fit",
      """WITH tf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY 1),
        |rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS r
        |  FROM tf ORDER BY c DESC, t LIMIT 300),
        |m AS (SELECT CAST(FLOOR(ln(r) * 1000.0 + 0.5) AS BIGINT) AS x,
        |    CAST(FLOOR(ln(c) * 1000.0 + 0.5) AS BIGINT) AS y
        |  FROM rk),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx
        |  FROM m)
        |SELECT n AS n_ranks,
        |  CAST(FLOOR(CAST(n*sxy - sx*sy AS DOUBLE)
        |    / CAST(n*sxx - sx*sx AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
        |    AS slope_micros,
        |  CAST(FLOOR((CAST(sy AS DOUBLE) - CAST(n*sxy - sx*sy AS DOUBLE)
        |      / CAST(n*sxx - sx*sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS intercept_millis
        |FROM s WHERE n >= 2""".stripMargin,
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(300)
      val m = tf
        .withColumn("r", row_number().over(Window.orderBy(col("c").desc, col("t")))
          .cast("long"))
        .select(floor(log(col("r")) * 1000.0 + 0.5).cast("long").as("x"),
          floor(log(col("c")) * 1000.0 + 0.5).cast("long").as("y"))
      val st = m.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      // a degenerate corpus (< 2 distinct ranks) has no fit — empty
      // result, never a 0/0 NaN that casts engine-differently
      st.filter(col("n") >= 2).select(col("n").as("n_ranks"),
        floor(num / den * 1000000.0 + 0.5).cast("long").as("slope_micros"),
        floor((col("sy").cast("double") - num / den * col("sx").cast("double"))
          / col("n").cast("double") * 1000.0 + 0.5).cast("long")
          .as("intercept_millis"))
    },

    // ---- PMI collocation mining (phrase detection, the word2vec-phrases
    // / tokenizer-merge-candidate step): for every adjacent token pair
    // with corpus count ≥ 5, PMI = ln(p(ab) / (p(a)·p(b))) from the
    // bigram and unigram corpus aggregates. Cost shape: ONE tokenize pass
    // feeds both aggregates; the rescore is bigram-model-sized equi joins
    // under AQE; only the two 1-row totals broadcast. ln() on
    // integer-count ratios is bit-identical cross-engine (the
    // lm_unigram_score precedent), and the division tree is structured
    // IDENTICALLY on both sides so the doubles hash-match ----
    Q(
      "collocations_pmi",
      """WITH t0 AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |bi AS (SELECT unnest(CASE WHEN len(toks) >= 2 THEN
        |         list_transform(generate_series(1, len(toks) - 1),
        |           i -> array_to_string(list_slice(toks, i, i + 1), ' '))
        |         ELSE [] END) AS bg FROM t0),
        |bf AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_pair
        |       FROM bi GROUP BY 1 HAVING COUNT(*) >= 5),
        |tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        |nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM tok),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bi)
        |SELECT bg AS bigram, n_pair,
        |  CAST(FLOOR(ln((n_pair / nb) / ((t1.c / nu) * (t2.c / nu)))
        |    * 1000000.0 + 0.5) AS BIGINT) AS pmi_micros
        |FROM bf JOIN tf t1 ON t1.t = split_part(bf.bg, ' ', 1)
        |        JOIN tf t2 ON t2.t = split_part(bf.bg, ' ', 2)
        |CROSS JOIN nu CROSS JOIN nb
        |ORDER BY pmi_micros DESC, bigram LIMIT 50""".stripMargin,
    ) { (s, d) =>
      pmiCollocations(Tables.documents(s, d), col("text"), minCount = 5)
        .limit(50)
    },

    // ---- positional phrase search: serve a batch of exact multi-word
    // phrase queries from a positional posting list. The classic
    // n-term algorithm: each (phrase, offset, term) matches postings at
    // start = pos − offset; a start where ALL offsets matched is an
    // occurrence. The phrase table is query-sized (broadcast); postings
    // are ONE posexplode scan; match volume is proportional to the
    // corpus frequency of the queried words — never a corpus self-join.
    // Repeated terms inside a phrase ('table table') are handled by
    // counting matched offsets per start, which a contains()-style filter
    // can't do positionally ----
    Q(
      "phrase_search",
      """WITH ph AS (SELECT * FROM (VALUES ('table table'), ('key agg row'),
        |    ('slow hash batch'), ('sort table scan'), ('the line sort'),
        |    ('filter merge data'), ('row value spark'), ('data a part'))
        |  p(phrase)),
        |pt AS (SELECT phrase, pws[i] AS term, i AS off FROM
        |       (SELECT phrase, string_split(phrase, ' ') AS pws,
        |          unnest(generate_series(1, len(string_split(phrase, ' ')))) AS i
        |        FROM ph)),
        |pl AS (SELECT phrase,
        |         CAST(len(string_split(phrase, ' ')) AS BIGINT) AS n_terms
        |       FROM ph),
        |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |post AS (SELECT doc_id, ws[i] AS term, i AS pos FROM
        |         (SELECT doc_id, unnest(generate_series(1, len(ws))) AS i, ws
        |          FROM d)),
        |m AS (SELECT pt.phrase, post.doc_id, post.pos - pt.off AS strt
        |      FROM post JOIN pt USING (term)),
        |fm AS (SELECT phrase, doc_id, strt, CAST(COUNT(*) AS BIGINT) AS k
        |       FROM m GROUP BY 1, 2, 3)
        |SELECT fm.phrase, fm.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM fm JOIN pl USING (phrase) WHERE fm.k = pl.n_terms
        |GROUP BY 1, 2 ORDER BY phrase, doc_id""".stripMargin,
    ) { (s, d) =>
      phraseSearch(Tables.documents(s, d), "doc_id", col("text"), Seq(
        "table table", "key agg row", "slow hash batch", "sort table scan",
        "the line sort", "filter merge data", "row value spark", "data a part"))
    },

    // ---- URL canonicalization + dedup (the crawl-dedup step that runs
    // BEFORE any content hash: the same logical page arrives as
    // case-shifted hosts, default ports, tracking params, trailing
    // slashes and fragments). Canonical form: lowercase host, strip
    // :80/:443, drop the fragment, drop utm_*/fbclid/gclid params, sort
    // the surviving params, strip a trailing path slash. All pure
    // codegen'd string/array expressions over one linear scan; the dedup
    // itself is one groupBy on the canonical key (at 100 TB: group on
    // the canonical string's hash). The planted variants guarantee every
    // canonical page arrives in several spellings at every scale ----
    Q(
      "dedup_url_canonical",
      """WITH u AS (SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'https://src' || CAST(doc_id % 20 AS VARCHAR) || '.com/p/'
        |        || CAST(doc_id % 40 AS VARCHAR) || '?id=' || CAST(doc_id % 40 AS VARCHAR)
        |      WHEN 1 THEN 'https://SRC' || CAST(doc_id % 20 AS VARCHAR) || '.COM:443/p/'
        |        || CAST(doc_id % 40 AS VARCHAR) || '?id=' || CAST(doc_id % 40 AS VARCHAR)
        |        || '&utm_source=feed'
        |      WHEN 2 THEN 'https://src' || CAST(doc_id % 20 AS VARCHAR) || '.com/p/'
        |        || CAST(doc_id % 40 AS VARCHAR) || '/?utm_campaign=x&id='
        |        || CAST(doc_id % 40 AS VARCHAR)
        |      ELSE 'https://src' || CAST(doc_id % 20 AS VARCHAR) || '.com/p/'
        |        || CAST(doc_id % 40 AS VARCHAR) || '?id=' || CAST(doc_id % 40 AS VARCHAR)
        |        || '#frag'
        |    END AS url
        |  FROM documents),
        |c0 AS (SELECT doc_id, url, split_part(url, '#', 1) AS nf FROM u),
        |c1 AS (SELECT doc_id, url, split_part(nf, '?', 1) AS p0,
        |         split_part(nf, '?', 2) AS q FROM c0),
        |c2 AS (SELECT doc_id, url, q,
        |         regexp_extract(p0, '^https://([^/]+)', 1) AS host,
        |         substr(p0, 8 + len(regexp_extract(p0, '^https://([^/]+)', 1)) + 1) AS pth
        |       FROM c1),
        |c3 AS (SELECT doc_id, url,
        |         regexp_replace(lower(host), ':(443|80)$', '') AS chost,
        |         regexp_replace(pth, '/$', '') AS cpath,
        |         array_to_string(list_sort(list_filter(string_split(q, '&'),
        |           p -> p <> '' AND NOT regexp_matches(p, '^(utm_|fbclid|gclid)'))),
        |           '&') AS cq
        |       FROM c2),
        |canon AS (SELECT doc_id, url,
        |            'https://' || chost || cpath
        |              || CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS curl
        |          FROM c3)
        |SELECT curl AS canonical_url, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
        |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants
        |FROM canon GROUP BY 1 ORDER BY canonical_url""".stripMargin,
    ) { (s, d) =>
      val page = pmod(col("doc_id"), lit(40L)).cast("string")
      val sid = pmod(col("doc_id"), lit(20L)).cast("string")
      val url = when(pmod(col("doc_id"), lit(4L)) === 0,
          concat(lit("https://src"), sid, lit(".com/p/"), page, lit("?id="), page))
        .when(pmod(col("doc_id"), lit(4L)) === 1,
          concat(lit("https://SRC"), sid, lit(".COM:443/p/"), page,
            lit("?id="), page, lit("&utm_source=feed")))
        .when(pmod(col("doc_id"), lit(4L)) === 2,
          concat(lit("https://src"), sid, lit(".com/p/"), page,
            lit("/?utm_campaign=x&id="), page))
        .otherwise(
          concat(lit("https://src"), sid, lit(".com/p/"), page,
            lit("?id="), page, lit("#frag")))
      dedupByCanonicalUrl(Tables.documents(s, d), "doc_id", url)
    },
  )
}
