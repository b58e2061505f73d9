package graft.operators

import java.nio.file.Files

import graft.{Det, LocalFiles, Q, Tables}
import graft.functions.TextFunctions
import graft.sources.{Catalog, CatalogSql, GraftSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The catalog tier as oracle-checked queries (SURVEY.md §2.1
  * S4/S6/S8/S9): each row stages a fixture in its own warehouse, runs one
  * storage lifecycle on it and queries the result back, and the DuckDB
  * oracle replays the same lifecycle relationally over the fixture. The
  * rows cover hustle's create → append-only insert → partition-pruned
  * read → partition delete → nest, the row-level DML on top of it
  * (delete, merge, update, replace-where, erase), time travel, restore,
  * clone, export/import and the CDC feed, the SQL-text surface
  * ([[graft.sources.CatalogSql]]), the CSV/ORC/Avro ingest decoders and
  * the clustered layouts (bucketing, Z-order, Hilbert, compaction).
  */
object CatalogOps {

  /** Each catalog query materializes into its own temp warehouse (results
    * stay readable until the driver's compare finishes); all of them are
    * deleted on JVM exit so repeated Verify/Bench runs leave no tmp
    * growth behind.
    */
  private[graft] def tempWarehouse(): String = {
    val dir = Files.createTempDirectory("graft_wh_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try LocalFiles.deleteRecursively(dir) catch { case _: Throwable => () }))
    dir.toString
  }

  /** A fresh warehouse: its catalog, the documents fixture and the
    * warehouse path (rows stage their input files under it).
    */
  private def docsWarehouse(s: SparkSession, d: String): (Catalog, DataFrame, String) = {
    val wh = tempWarehouse()
    (new Catalog(s, wh), Tables.documents(s, d), wh)
  }

  /** [[docsWarehouse]] with the documents fixture inserted as `table`,
    * partitioned by `lang` (version 1).
    */
  private def stagedDocs(s: SparkSession, d: String,
      table: String): (Catalog, DataFrame, String) = {
    val staged @ (cat, docs, _) = docsWarehouse(s, d)
    cat.create(table, docs.schema, partitionBy = Some("lang"))
    cat.insert(table, docs)
    staged
  }

  /** A SQL-text session over a fresh warehouse, fixtures registered as
    * views: the statement runner, its catalog and the warehouse path.
    */
  private def sqlSession(s: SparkSession,
      d: String): (String => DataFrame, Catalog, String) = {
    GraftSql.registerFixtures(s, d)
    val wh = tempWarehouse()
    val cat = new Catalog(s, wh)
    ((q: String) => CatalogSql.exec(s, cat, q), cat, wh)
  }

  /** `CREATE TABLE table AS` the documents fixture's doc_id, [text,] lang
    * and n_chars (as BIGINT), through the statement runner `x`.
    */
  private def createDocs(x: String => DataFrame, table: String, text: Boolean = true): Unit =
    x(s"""CREATE TABLE $table AS
        |SELECT doc_id, ${if (text) "text, " else ""}lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents""".stripMargin)

  /** Per-`keys` (default: per-language) document count and char total,
    * then `extra` aggregates; `chars` is the summed column (rows that
    * widen it pass the cast).
    */
  private def langProfile(df: DataFrame, keys: Seq[String] = Seq("lang"),
      chars: Column = col("n_chars"), extra: Seq[Column] = Nil): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(chars).as("total_chars") +: extra: _*)

  /** The (lang, source) key of the per-source profiles. */
  private val LangSource = Seq("lang", "source")

  /** [[langProfile]] of each named snapshot, tagged `snap`, in one result
    * ordered by (snap, lang).
    */
  private def snapProfiles(chars: Column, snaps: (String, DataFrame)*): DataFrame =
    snaps.map { case (snap, df) =>
      langProfile(df, chars = chars)
        .select(lit(snap).as("snap"), col("lang"), col("n_docs"), col("total_chars"))
    }.reduce(_ unionByName _).orderBy("snap", "lang")

  /** Oracle of [[langProfile]] over the fixture, ordered by language. */
  private val LangProfileOracle =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** [[langProfile]] plus the md5-top-60 text fingerprint sum, which
    * proves the text column survived an encode/parse cycle byte-exactly,
    * ordered by language.
    */
  private def langTextProfile(df: DataFrame): DataFrame =
    df.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(TextFunctions.tokenHash60(col("text")) % 1000003L).as("text_fp"))
      .orderBy("lang")

  /** Oracle of [[langTextProfile]] over the fixture. */
  private val LangTextProfileOracle =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
      |  CAST(SUM(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000003) AS BIGINT) AS text_fp
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** The MERGE batch's matched half: doc_id % 7 = 3 rows re-sourced
    * 'merged' with n_chars + 1000.
    */
  private def mergedRows(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 7 === 3)
      .withColumn("source", lit("merged"))
      .withColumn("n_chars", col("n_chars") + 1000)

  /** The upsert batch: [[mergedRows]] plus doc_id + 10000000 clones of
    * the doc_id % 11 = 5 rows sourced 'fresh' (unmatched, so inserted).
    */
  private def upsertBatch(docs: DataFrame): DataFrame =
    mergedRows(docs).unionByName(docs.filter(col("doc_id") % 11 === 5)
      .withColumn("doc_id", col("doc_id") + 10000000L)
      .withColumn("source", lit("fresh")))

  /** The delete-then-merge lifecycle on a [[stagedDocs]] `docs_wh`: v2
    * deletes the src0 rows and the n_chars % 17 = 3 rows, v3 merges
    * `batch` on doc_id.
    */
  private def deleteThenMerge(cat: Catalog, batch: DataFrame): Unit = {
    cat.deleteRows("docs_wh", col("source") === "src0" || col("n_chars") % 17 === 3)
    cat.merge("docs_wh", batch, "doc_id")
  }

  /** Oracle CTE `del`: the fixture after [[deleteThenMerge]]'s delete. */
  private val DelCte =
    """del AS (
      |  SELECT * FROM documents
      |  WHERE NOT COALESCE(source = 'src0' OR n_chars % 17 = 3, FALSE))""".stripMargin

  /** Oracle rows of [[mergedRows]]. */
  private val MergedRowsSql =
    """  SELECT doc_id, text, lang, 'merged' AS source,
      |         CAST(n_chars + 1000 AS BIGINT) AS n_chars
      |  FROM documents WHERE doc_id % 7 = 3""".stripMargin

  /** Oracle CTE `upd`: the rows of [[upsertBatch]]. */
  private val UpsertCte =
    s"""upd AS (
       |$MergedRowsSql
       |  UNION ALL
       |  SELECT CAST(doc_id + 10000000 AS BIGINT), text, lang,
       |         'fresh' AS source, n_chars
       |  FROM documents WHERE doc_id % 11 = 5)""".stripMargin

  /** Oracle CTE `name`: MERGE on doc_id of `upd` into `base`, replayed as
    * upd ∪ (base ∖ keys).
    */
  private def mergeCte(name: String, base: String): String =
    s"""$name AS (
       |  SELECT * FROM upd
       |  UNION ALL
       |  SELECT d.* FROM $base d
       |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.doc_id = d.doc_id))""".stripMargin

  /** Oracle CTEs `del`, `upd` and `head` of the rows whose v3 merges the
    * [[upsertBatch]].
    */
  private val UpsertLifecycleCtes = s"WITH $DelCte,\n$UpsertCte,\n${mergeCte("head", "del")}"

  /** Oracle of the two SQL time-travel rows: per language, the v1 count,
    * the head count after the doc_id % 4 = 1 delete, and their difference.
    */
  private val SqlTimeTravelOracle =
    """WITH v1 AS (
      |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      |  FROM documents),
      |head AS (SELECT * FROM v1 WHERE NOT (doc_id % 4 = 1)),
      |a1 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n1 FROM v1 GROUP BY lang),
      |a2 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n2 FROM head GROUP BY lang)
      |SELECT a1.lang, a1.n1 AS n_v1, a2.n2 AS n_head,
      |  CAST(a1.n1 - a2.n2 AS BIGINT) AS n_deleted
      |FROM a1 JOIN a2 ON a1.lang = a2.lang ORDER BY a1.lang""".stripMargin

  /** The SQL time-travel rows' body: `table` created from the fixture
    * (v1), doc_id % 4 = 1 deleted (v2), then v1 — named by the clause
    * `asOf` builds from the catalog — and head counted per language in one
    * statement.
    */
  private def sqlTimeTravel(table: String)(asOf: Catalog => String)(
      s: SparkSession, d: String): DataFrame = {
    val (x, cat, _) = sqlSession(s, d)
    createDocs(x, table, text = false)
    x(s"DELETE FROM $table WHERE doc_id % 4 = 1") // v2
    x(s"""SELECT a1.lang, a1.n1 AS n_v1, a2.n2 AS n_head,
        |  CAST(a1.n1 - a2.n2 AS BIGINT) AS n_deleted
        |FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n1
        |      FROM $table ${asOf(cat)} GROUP BY lang) a1
        |JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n2
        |      FROM $table GROUP BY lang) a2 ON a1.lang = a2.lang
        |ORDER BY a1.lang""".stripMargin)
  }

  /** Incremental view maintenance over the CDC feed: roll a materialized
    * additive aggregate (a COUNT plus SUM columns per group) forward from
    * snapshot `fromV` to `toV` WITHOUT rescanning the table — feed
    * inserts add, deletes subtract, groups whose count reaches zero drop
    * out, groups born in the delta appear. Only additive aggregates
    * qualify (count/sum; avg = sum/count at read time) — that's the
    * standard IVM restriction. At 100 TB this turns "recompute the
    * corpus-wide profile after a trickle mutation" into a pass over just
    * the churned files ([[graft.sources.Catalog.tableChanges]] reads
    * nothing else).
    *
    * `sumCols` maps output column name → input column; `prior` must
    * carry `keys ++ (countCol +: sumCols.keys)`.
    */
  def rollForward(cat: Catalog, table: String, fromV: Int, toV: Int,
      prior: org.apache.spark.sql.DataFrame, keys: Seq[String], countCol: String,
      sumCols: Map[String, String]): org.apache.spark.sql.DataFrame = {
    val sign = when(col(Catalog.ChangeCol) === "insert", 1L).otherwise(-1L)
    val aggs = sum(sign).as("__dn") +: sumCols.toSeq.map { case (out, in) =>
      sum(sign * col(in)).as(s"__d_$out") }
    val deltas = cat.tableChanges(table, fromV, toV)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val rolled = keys.map(col) ++
      ((countCol, "__dn") +: sumCols.keys.toSeq.map(k => (k, s"__d_$k"))).map {
        case (out, d) =>
          (coalesce(col(out), lit(0L)) + coalesce(col(d), lit(0L))).as(out)
      }
    prior.join(deltas, keys, "full_outer")
      .select(rolled: _*)
      .filter(col(countCol) > 0)
  }

  val queries: Seq[Q] = Seq(
    // ---- full ingest round-trip: per-(lang) profile must survive the
    // write/read cycle bit-for-bit ----
    Q(
      "catalog_roundtrip",
      LangProfileOracle,
    ) { (s, d) =>
      val (cat, _, _) = stagedDocs(s, d, "docs_wh")
      langProfile(cat.table("docs_wh")).orderBy("lang")
    },

    // ---- OCC multi-writer commit: four writers insert disjoint slices
    // CONCURRENTLY (real threads, real racing manifest commits — losers
    // rebase on the new HEAD and retry, appends commute). Content must
    // equal the serial schedule, which is exactly what the oracle
    // computes; the linear version log is asserted in-query. ----
    Q(
      "catalog_concurrent_commit",
      LangProfileOracle,
    ) { (s, d) =>
      val (cat, docs, _) = docsWarehouse(s, d)
      cat.create("docs_occ", docs.schema)
      val writers = (0 until 4).map { i =>
        new Thread(() =>
          cat.insert("docs_occ", docs.filter(col("doc_id") % 4 === i)))
      }
      writers.foreach(_.start()); writers.foreach(_.join())
      require(cat.versions("docs_occ") == (1 to 4),
        s"OCC log must be linear 1..4, got ${cat.versions("docs_occ")}")
      langProfile(cat.table("docs_occ")).orderBy("lang")
    },

    // ---- deep EXPORT → IMPORT round-trip (cross-warehouse replication,
    // the by-value complement of the hardlinked CLONE): snapshot after a
    // row-level delete exports to a directory, imports into a SECOND
    // warehouse with a fresh v1 log, and the imported content must equal
    // the logical post-delete state — which is exactly what the oracle
    // computes from the fixture ----
    Q(
      "catalog_export_import",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |FROM documents WHERE NOT COALESCE(source = 'src0', FALSE)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      val (cat, _, wh) = stagedDocs(s, d, "exp_src")
      cat.deleteRows("exp_src", col("source") === "src0")
      cat.exportTable("exp_src", s"$wh/exported")
      val cat2 = new Catalog(s, tempWarehouse())
      cat2.importTable("exp_dst", s"$wh/exported")
      langProfile(cat2.table("exp_dst")).orderBy("lang")
    },

    // ---- the SQL-TEXT surface over the warehouse (CatalogSql): CTAS →
    // ALTER ADD COLUMN DEFAULT → ANSI MERGE (upsert-all) → DELETE →
    // INSERT INTO → SELECT, every step routed as a text statement (the
    // inner queries run through Spark SQL; the commands land on the same
    // versioned-COW Catalog ops the Scala API uses). Oracle replays the
    // lifecycle relationally: merge = upd ∪ (base ∖ keys), delete =
    // filter, insert = union. ----
    Q(
      "catalog_sql_dml",
      """WITH base AS (
        |  SELECT doc_id, text, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |         'base' AS tag
        |  FROM documents),
        |upd AS (
        |  SELECT doc_id, text, lang, CAST(n_chars + 1000 AS BIGINT) AS n_chars,
        |         'merged' AS tag
        |  FROM documents WHERE doc_id % 7 = 3),
        |m AS (
        |  SELECT * FROM upd
        |  UNION ALL
        |  SELECT b.* FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.doc_id = b.doc_id)),
        |afterdel AS (SELECT * FROM m WHERE NOT (doc_id % 5 = 0)),
        |ins AS (
        |  SELECT CAST(doc_id + 10000000 AS BIGINT) AS doc_id, text, lang,
        |         CAST(n_chars AS BIGINT) AS n_chars, 'fresh' AS tag
        |  FROM documents WHERE doc_id % 11 = 5),
        |fin AS (SELECT * FROM afterdel UNION ALL SELECT * FROM ins)
        |SELECT lang, tag, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id
        |FROM fin GROUP BY lang, tag ORDER BY lang, tag""".stripMargin,
    ) { (s, d) =>
      val (x, _, _) = sqlSession(s, d)
      createDocs(x, "docs_sql")
      x("ALTER TABLE docs_sql ADD COLUMN tag STRING DEFAULT 'base'")
      x("""MERGE INTO docs_sql USING (
          |  SELECT doc_id, text, lang, CAST(n_chars + 1000 AS BIGINT) AS n_chars,
          |         'merged' AS tag
          |  FROM documents WHERE doc_id % 7 = 3) src
          |ON docs_sql.doc_id = src.doc_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      x("DELETE FROM docs_sql WHERE doc_id % 5 = 0")
      x("""INSERT INTO docs_sql
          |SELECT CAST(doc_id + 10000000 AS BIGINT) AS doc_id, text, lang,
          |       CAST(n_chars AS BIGINT) AS n_chars, 'fresh' AS tag
          |FROM documents WHERE doc_id % 11 = 5""".stripMargin)
      x("""SELECT lang, tag, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
          |  CAST(MAX(doc_id) AS BIGINT) AS max_id
          |FROM docs_sql GROUP BY lang, tag ORDER BY lang, tag""".stripMargin)
    },

    // ---- conditional multi-action MERGE as text (the most-used real-
    // world MERGE shape beyond upsert-all): matched rows with even
    // n_chars are DELETED, remaining matched rows UPDATED from the
    // source, unmatched source rows INSERTED only when long enough.
    // Clause order matters (the DELETE clause must win over the
    // unconditional UPDATE for even rows); the oracle replays the
    // first-match semantics relationally ----
    Q(
      "catalog_sql_merge_cond",
      """WITH tgt AS (
        |  SELECT doc_id, text, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents),
        |src AS (
        |  SELECT doc_id, text, lang, CAST(n_chars + 5000 AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT CAST(doc_id + 20000000 AS BIGINT), text, lang,
        |         CAST(n_chars AS BIGINT)
        |  FROM documents WHERE doc_id % 9 = 1),
        |merged AS (
        |  SELECT t.* FROM tgt t
        |  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.doc_id = t.doc_id)
        |  UNION ALL
        |  SELECT s.* FROM tgt t JOIN src s ON s.doc_id = t.doc_id
        |  WHERE NOT (t.n_chars % 2 = 0)
        |  UNION ALL
        |  SELECT s.* FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.doc_id = s.doc_id)
        |    AND s.n_chars > 100)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id
        |FROM merged GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      val (x, _, _) = sqlSession(s, d)
      createDocs(x, "docs_cm")
      x("""MERGE INTO docs_cm AS t USING (
          |  SELECT doc_id, text, lang, CAST(n_chars + 5000 AS BIGINT) AS n_chars
          |  FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL
          |  SELECT CAST(doc_id + 20000000 AS BIGINT) AS doc_id, text, lang,
          |         CAST(n_chars AS BIGINT) AS n_chars
          |  FROM documents WHERE doc_id % 9 = 1) s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED AND t.n_chars % 2 = 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED AND s.n_chars > 100 THEN INSERT *""".stripMargin)
      x("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
          |  CAST(MAX(doc_id) AS BIGINT) AS max_id
          |FROM docs_cm GROUP BY lang ORDER BY lang""".stripMargin)
    },

    // ---- SQL UPDATE as text: a predicate update rewriting two columns
    // (one referencing the other — SET must see the OLD row) through the
    // file-granular COW path; oracle replays it as CASE projections ----
    Q(
      "catalog_sql_update",
      """WITH up AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 1 THEN upper(lang) ELSE lang END AS lang,
        |    CAST(CASE WHEN doc_id % 4 = 1 THEN n_chars * 2 + length(lang)
        |         ELSE n_chars END AS BIGINT) AS n_chars
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM up GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      val (x, _, _) = sqlSession(s, d)
      createDocs(x, "docs_up")
      x("""UPDATE docs_up SET n_chars = n_chars * 2 + length(lang),
          |  lang = upper(lang) WHERE doc_id % 4 = 1""".stripMargin)
      x("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
          |FROM docs_up GROUP BY lang ORDER BY lang""".stripMargin)
    },

    // ---- persisted VIEWS as text: two stacked views (view-on-view) over
    // a catalog table, with a DELETE between definition and read — the
    // SELECT must see the table's CURRENT state through both layers
    // (views are stored SQL text resolved at read, not materialized) ----
    Q(
      "catalog_sql_views",
      """WITH docs_v AS (
        |  SELECT doc_id, text, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents WHERE NOT (doc_id % 5 = 0)),
        |v_lang AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |  FROM docs_v GROUP BY lang),
        |v_big AS (SELECT * FROM v_lang WHERE n_docs > 10)
        |SELECT lang, n_docs, total_chars FROM v_big ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      val (x, _, _) = sqlSession(s, d)
      createDocs(x, "docs_v")
      x("""CREATE VIEW v_lang AS
          |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
          |FROM docs_v GROUP BY lang""".stripMargin)
      x("CREATE VIEW v_big AS SELECT * FROM v_lang WHERE n_docs > 10")
      x("DELETE FROM docs_v WHERE doc_id % 5 = 0") // views must see this
      x("SELECT lang, n_docs, total_chars FROM v_big ORDER BY lang")
    },

    // ---- OPTIMIZE ... ZORDER BY as text: recluster a catalog table's
    // files by the Morton z-value of two columns, then aggregate — the
    // recluster must be CONTENT-NEUTRAL (the oracle never sees it), and
    // the manifest records the op. Per-file bounding boxes are asserted
    // quadrant-sized in CatalogSqlSpec ----
    Q(
      "catalog_sql_zorder",
      """WITH t AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      val (x, _, _) = sqlSession(s, d)
      createDocs(x, "docs_zo", text = false)
      x("OPTIMIZE docs_zo FILES 4 ZORDER BY (doc_id, n_chars)")
      x("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
          |FROM docs_zo GROUP BY lang ORDER BY lang""".stripMargin)
    },

    // ---- MERGE WITH SCHEMA EVOLUTION: source-only columns become new
    // nullable target columns (metadata-only ALTER, no backfill) before
    // the upsert — the Delta-style evolving-upsert shape. Pre-merge rows
    // read NULL for the new column; the oracle replays both sides ----
    Q(
      "catalog_sql_merge_evolve",
      """WITH base AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents),
        |upd AS (
        |  SELECT doc_id, lang, CAST(n_chars + 100 AS BIGINT) AS n_chars,
        |         CAST(doc_id % 7 AS BIGINT) AS score
        |  FROM documents WHERE doc_id % 3 = 0),
        |m AS (
        |  SELECT u.doc_id, u.lang, u.n_chars, u.score FROM upd u
        |  UNION ALL
        |  SELECT b.doc_id, b.lang, b.n_chars, CAST(NULL AS BIGINT)
        |  FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.doc_id = b.doc_id))
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(COALESCE(score, -1)) AS BIGINT) AS score_sum
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      val (x, _, _) = sqlSession(s, d)
      createDocs(x, "docs_me", text = false)
      x("""MERGE WITH SCHEMA EVOLUTION INTO docs_me AS t USING (
          |  SELECT doc_id, lang, CAST(n_chars + 100 AS BIGINT) AS n_chars,
          |         CAST(doc_id % 7 AS BIGINT) AS score
          |  FROM documents WHERE doc_id % 3 = 0) s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      x("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          |  CAST(SUM(COALESCE(score, -1)) AS BIGINT) AS score_sum
          |FROM docs_me GROUP BY lang ORDER BY lang""".stripMargin)
    },

    // ---- persisted SQL functions: CREATE FUNCTION stores the definition
    // text; Spark's native SQL-UDF registration analyzes and INLINES the
    // body at call sites (no interpreted UDF boundary — stays inside
    // whole-stage codegen). A scalar quality score and a bucketing
    // function compose in one query; the oracle inlines both bodies ----
    Q(
      "catalog_sql_udf",
      """WITH t AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT lang,
        |        CAST(n_chars * 1000 // (n_tokens + 1) AS BIGINT) AS density,
        |        CASE WHEN n_chars < 200 THEN 'short'
        |             WHEN n_chars < 1000 THEN 'medium' ELSE 'long' END AS bucket
        |      FROM t)
        |SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(density) AS BIGINT) AS total_density
        |FROM s GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    ) { (s, d) =>
      val (x, _, _) = sqlSession(s, d)
      x("""CREATE FUNCTION toks(t STRING) RETURNS BIGINT
          |RETURN CAST(length(t) - length(replace(t, ' ', '')) + 1 AS BIGINT)""".stripMargin)
      x("""CREATE FUNCTION density(c BIGINT, tk BIGINT) RETURNS BIGINT
          |RETURN c * 1000 DIV (tk + 1)""".stripMargin)
      x("""CREATE FUNCTION len_bucket(c BIGINT) RETURNS STRING
          |RETURN CASE WHEN c < 200 THEN 'short'
          |            WHEN c < 1000 THEN 'medium' ELSE 'long' END""".stripMargin)
      x("""CREATE TABLE docs_fn AS
          |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, text
          |FROM documents""".stripMargin)
      x("""SELECT lang, len_bucket(n_chars) AS bucket,
          |  CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(density(n_chars, toks(text))) AS BIGINT) AS total_density
          |FROM docs_fn GROUP BY lang, len_bucket(n_chars)
          |ORDER BY lang, bucket""".stripMargin)
    },

    // ---- COPY TO / COPY INTO as text: export a catalog table to CSV and
    // re-ingest it into a second table — the full interchange cycle driven
    // by SQL alone. The md5-top-60 text fingerprint proves the text column
    // survived the encode/parse cycle byte-exactly ----
    Q(
      "catalog_sql_copy",
      LangTextProfileOracle,
    ) { (s, d) =>
      val (x, _, wh) = sqlSession(s, d)
      createDocs(x, "docs_exp")
      x(s"COPY docs_exp TO '$wh/exported_csv' FORMAT csv")
      x("""CREATE TABLE docs_imp (
          |  doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT)""".stripMargin)
      x(s"COPY INTO docs_imp FROM '$wh/exported_csv' FORMAT csv")
      x("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          |  CAST(SUM(CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT) % 1000003) AS BIGINT) AS text_fp
          |FROM docs_imp GROUP BY lang ORDER BY lang""".stripMargin)
    },

    // ---- SQL-text time travel: `t VERSION AS OF v` resolves to the
    // manifest snapshot inside any relational statement — here both the
    // v1 snapshot and the post-DML head aggregated in ONE query, with a
    // version-over-version delta join. Oracle replays both states ----
    Q(
      "catalog_sql_time_travel",
      SqlTimeTravelOracle,
    )(sqlTimeTravel("docs_tt")(_ => "VERSION AS OF 1")),

    // ---- TIMESTAMP-form time travel: the same v1-vs-head comparison
    // resolved by COMMIT TIME (manifest mtime — the atomic rename that IS
    // the commit stamps it) instead of version number. The boundary
    // instant is captured between the two DML commits inside the run, so
    // the rewrite must map it to v1 ----
    Q(
      "catalog_sql_time_travel_ts",
      SqlTimeTravelOracle,
    )(sqlTimeTravel("docs_tts") { cat =>
      // Boundary = v1's OWN commit time. versionAt resolves "latest
      // commit ≤ ts", and the catalog guarantees strictly increasing
      // manifest mtimes (commitVersion's monotonicity nudge), so this
      // instant maps to v1 on any filesystem — no wall-clock sleeps,
      // no mtime-granularity flakiness.
      val boundary = cat.historyWithTime("docs_tts")
        .find(_._1 == 1).map(_._4)
        .getOrElse(throw new IllegalStateException("docs_tts v1 missing"))
      s"TIMESTAMP AS OF '$boundary'"
    }),

    // ---- constraints: NOT NULL + CHECK declared in DDL, enforced INSIDE
    // the write pass (a when/raise_error guard in the projection — no
    // separate validation job). Violating inserts throw and commit
    // NOTHING; the final aggregate proves only the valid insert landed ----
    Q(
      "catalog_sql_constraints",
      """WITH t AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      val (x, _, _) = sqlSession(s, d)
      def mustFail(q: String): Unit = {
        // the constraint probe ABORTS a Spark job by design; silence the
        // scheduler's job-abort ERROR stack for just this window so bench
        // and verify logs don't carry expected-failure noise
        val root = org.apache.logging.log4j.LogManager.getRootLogger
          .asInstanceOf[org.apache.logging.log4j.core.Logger]
        val prevLevel = root.getLevel
        s.sparkContext.setLogLevel("OFF")
        try {
          x(q).collect()
          throw new IllegalStateException(s"statement unexpectedly succeeded: $q")
        } catch {
          case e: IllegalStateException => throw e
          case _: Exception => () // the constraint fired; nothing committed
        } finally s.sparkContext.setLogLevel(prevLevel.toString)
      }
      x("""CREATE TABLE docs_ck (
          |  doc_id BIGINT NOT NULL, lang STRING NOT NULL, n_chars BIGINT,
          |  CHECK (n_chars >= 0))""".stripMargin)
      x("""INSERT INTO docs_ck
          |SELECT doc_id, lang, CAST(n_chars AS BIGINT) FROM documents""".stripMargin)
      mustFail("""INSERT INTO docs_ck
          |SELECT doc_id + 90000000, lang, CAST(-n_chars - 1 AS BIGINT)
          |FROM documents""".stripMargin) // CHECK (n_chars >= 0)
      mustFail("""INSERT INTO docs_ck
          |SELECT doc_id + 95000000, NULL, CAST(n_chars AS BIGINT)
          |FROM documents""".stripMargin) // NOT NULL lang
      x("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
          |FROM docs_ck GROUP BY lang ORDER BY lang""".stripMargin)
    },

    // ---- MATERIALIZED VIEW lifecycle: the mv serves its materialized
    // snapshot (table-scan cost) through a base-table DELETE — the
    // 'stale' phase — until REFRESH re-runs the stored definition — the
    // 'fresh' phase. Both phases in one result, replayed relationally ----
    Q(
      "catalog_sql_mview",
      """WITH base AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents),
        |afterdel AS (SELECT * FROM base WHERE NOT (doc_id % 3 = 0)),
        |stale AS (
        |  SELECT 'stale' AS phase, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |  FROM base GROUP BY lang),
        |fresh AS (
        |  SELECT 'fresh' AS phase, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |  FROM afterdel GROUP BY lang)
        |SELECT phase, lang, n_docs, total_chars
        |FROM (SELECT * FROM stale UNION ALL SELECT * FROM fresh)
        |ORDER BY phase, lang""".stripMargin,
    ) { (s, d) =>
      val (x, _, _) = sqlSession(s, d)
      createDocs(x, "docs_mb", text = false)
      x("""CREATE MATERIALIZED VIEW mv_lang AS
          |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
          |FROM docs_mb GROUP BY lang""".stripMargin)
      x("DELETE FROM docs_mb WHERE doc_id % 3 = 0")
      val stale = x("SELECT 'stale' AS phase, lang, n_docs, total_chars FROM mv_lang")
      x("REFRESH MATERIALIZED VIEW mv_lang")
      val fresh = x("SELECT 'fresh' AS phase, lang, n_docs, total_chars FROM mv_lang")
      stale.unionByName(fresh).orderBy("phase", "lang")
    },

    // ---- ANALYZE TABLE: one-pass per-column statistics (row count, null
    // count, min/max; HLL ndv excluded here — engine-specific — and
    // contract-checked in CatalogSqlSpec instead). The oracle recomputes
    // each column's stats relationally ----
    Q(
      "catalog_sql_analyze",
      """WITH t AS (
        |  SELECT doc_id, text, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents),
        |s AS (
        |  SELECT 'doc_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_nulls,
        |         CAST(MIN(doc_id) AS VARCHAR) AS min_v,
        |         CAST(MAX(doc_id) AS VARCHAR) AS max_v FROM t
        |  UNION ALL
        |  SELECT 'lang', CAST(COUNT(*) AS BIGINT),
        |         CAST(COUNT(*) - COUNT(lang) AS BIGINT),
        |         MIN(lang), MAX(lang) FROM t
        |  UNION ALL
        |  SELECT 'n_chars', CAST(COUNT(*) AS BIGINT),
        |         CAST(COUNT(*) - COUNT(n_chars) AS BIGINT),
        |         CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM t
        |  UNION ALL
        |  SELECT 'text', CAST(COUNT(*) AS BIGINT),
        |         CAST(COUNT(*) - COUNT(text) AS BIGINT),
        |         MIN(text), MAX(text) FROM t)
        |SELECT col_name, n_rows, n_nulls, min_v, max_v FROM s
        |ORDER BY col_name""".stripMargin,
    ) { (s, d) =>
      val (x, _, _) = sqlSession(s, d)
      createDocs(x, "docs_an")
      x("ANALYZE TABLE docs_an")
      x("SHOW STATS docs_an")
        .select(col("column").as("col_name"), col("n_rows"), col("n_nulls"),
          col("min_v"), col("max_v"))
        .orderBy("col_name")
    },

    // ---- partition-pruned scan: filter on the partition column reads
    // only that directory (explain-verified in CatalogSpec) ----
    Q(
      "catalog_partition_prune",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND((n_chars)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0/COUNT(*) AS avg_chars
        |FROM documents WHERE lang = 'en' GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, d) =>
      val (cat, _, _) = stagedDocs(s, d, "docs_wh")
      cat.table("docs_wh")
        .filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n"), Det.davg(col("n_chars")).as("avg_chars"))
        .orderBy("source")
    },

    // ---- partition delete: drop lang=en, remainder must equal the
    // fixture minus that partition ----
    Q(
      "catalog_partition_delete",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents WHERE lang <> 'en' GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      val (cat, _, _) = stagedDocs(s, d, "docs_wh")
      cat.delete("docs_wh", col("lang") === "en") // predicate form (hustle surface)
      cat.table("docs_wh")
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    },

    // ---- row-level copy-on-write DELETE (extension): predicate crosses
    // partition boundaries (source + arithmetic on n_chars), so it cannot
    // be satisfied by partition drops — only files containing matching
    // rows are rewritten (file granularity asserted in CatalogSpec).
    // Oracle replays SQL DELETE semantics over the fixture ----
    Q(
      "catalog_delete_rows",
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE NOT COALESCE(source = 'src0' OR n_chars % 17 = 3, FALSE)
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    ) { (s, d) =>
      val (cat, _, _) = stagedDocs(s, d, "docs_wh")
      cat.deleteRows("docs_wh", col("source") === "src0" || col("n_chars") % 17 === 3)
      langProfile(cat.table("docs_wh"), LangSource).orderBy("lang", "source")
    },

    // ---- copy-on-write MERGE (upsert): a deterministic update set built
    // from the fixture — doc_id % 7 = 3 rows get source='merged' and
    // n_chars+1000 (matched → replaced in place), doc_id+10000000 clones
    // of doc_id % 11 = 5 rows get source='fresh' (unmatched → inserted).
    // min/max doc_id per group prove both the replacements and the new
    // key range landed; oracle replays MERGE as upd ∪ (target ∖ keys) ----
    Q(
      "catalog_merge",
      s"""WITH $UpsertCte,
        |${mergeCte("merged", "documents")}
        |SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id
        |FROM merged GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    ) { (s, d) =>
      val (cat, docs, _) = stagedDocs(s, d, "docs_wh")
      cat.merge("docs_wh", upsertBatch(docs), "doc_id")
      langProfile(cat.table("docs_wh"), LangSource,
        extra = Seq(min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id")))
        .orderBy("lang", "source")
    },

    // ---- snapshot time travel: insert (v1) → row-level delete (v2) →
    // merge (v3), then read BOTH the original snapshot (tableAt v1) and
    // HEAD in one result. The oracle replays v1 as the raw fixture and
    // HEAD as delete-then-merge SQL — proving old versions stay exactly
    // readable after mutations (manifest log, not physical rewrite) ----
    Q(
      "catalog_time_travel",
      s"""WITH $DelCte,
        |upd AS (
        |$MergedRowsSql),
        |${mergeCte("head", "del")},
        |prof AS (
        |  SELECT 'v1' AS snap, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |  FROM documents GROUP BY lang
        |  UNION ALL
        |  SELECT 'head', lang, CAST(COUNT(*) AS BIGINT),
        |         CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT)
        |  FROM head GROUP BY lang)
        |SELECT snap, lang, n_docs, total_chars FROM prof
        |ORDER BY snap, lang""".stripMargin,
    ) { (s, d) =>
      val (cat, docs, _) = stagedDocs(s, d, "docs_wh") // v1
      deleteThenMerge(cat, mergedRows(docs)) // v2, v3
      snapProfiles(col("n_chars"),
        "v1" -> cat.tableAt("docs_wh", 1), "head" -> cat.table("docs_wh"))
    },

    // ---- right-to-be-forgotten erasure: COW-delete of the target rows
    // PLUS history purge + vacuum in one call ([[Catalog.eraseWhere]]) —
    // afterwards no retained snapshot, manifest, or data file can
    // resurrect them (CatalogSpec proves time travel to the pre-erasure
    // version dies and the bytes are gone; the n_versions column pins
    // the purged log depth through the oracle). Per-lang profile of the
    // survivors plus a must-be-zero residue count ----
    Q(
      "catalog_erase",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
        |  CAST(SUM(CASE WHEN source = 'src3' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_residue,
        |  CAST(1 AS BIGINT) AS n_versions
        |FROM documents WHERE source <> 'src3'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      val (cat, _, _) = stagedDocs(s, d, "docs_erase") // v1
      cat.eraseWhere("docs_erase", col("source") === "src3") // v2, log purged
      cat.table("docs_erase")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("total_chars"),
          sum(when(col("source") === "src3", 1L).otherwise(0L)).as("n_residue"))
        .withColumn("n_versions", lit(cat.versions("docs_erase").size.toLong))
        .orderBy("lang")
    },

    // ---- shallow CLONE: zero-copy fork of the table's current snapshot
    // (hardlinked data files, fresh version log — see
    // [[Catalog.cloneTable]]), then INDEPENDENT evolution: an insert into
    // the clone must never leak into the source. The profile compares
    // source (== the original corpus, untouched) against clone
    // (== corpus + the planted extra rows) per language ----
    Q(
      "catalog_clone",
      """WITH extra AS (SELECT doc_id, text, lang, 'extra' AS source,
        |    n_chars + 7 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 0),
        |merged AS (SELECT lang, n_chars FROM documents
        |          UNION ALL SELECT lang, n_chars FROM extra),
        |prof AS (
        |  SELECT 'src' AS snap, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |  FROM documents GROUP BY lang
        |  UNION ALL
        |  SELECT 'clone', lang, CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT)
        |  FROM merged GROUP BY lang)
        |SELECT snap, lang, n_docs, total_chars FROM prof
        |ORDER BY snap, lang""".stripMargin,
    ) { (s, d) =>
      val (cat, docs, _) = stagedDocs(s, d, "docs_src")
      cat.cloneTable("docs_src", "docs_clone")
      cat.insert("docs_clone", docs.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("extra"))
        .withColumn("n_chars", col("n_chars") + 7))
      snapProfiles(col("n_chars").cast("long"),
        "src" -> cat.table("docs_src"), "clone" -> cat.table("docs_clone"))
    },

    // ---- bucketed co-located join: both sides written bucketed by the
    // join key (8 buckets), so the join plans with zero shuffle exchanges
    // (PlanSpec asserts the no-Exchange plan with broadcast disabled —
    // here the oracle checks the results round-trip the bucketed layout
    // bit-for-bit) ----
    Q(
      "catalog_bucketed_join",
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(ROUND((o_totalprice)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0 AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    ) { (s, d) =>
      val wh = tempWarehouse()
      graft.sources.Bucketing.writeBucketed(
        Tables.customer(s, d), "bkt_customer", s"$wh/bkt_customer", 8, "c_custkey")
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(s, d), "bkt_orders", s"$wh/bkt_orders", 8, "o_custkey")
      s.table("bkt_orders").join(s.table("bkt_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("total_price"))
        .orderBy("c_mktsegment")
    },

    // ---- CDC change feed (tableChanges): insert (v1) → row-level delete
    // (v2) → merge (v3), then read the row-level diff v1 → HEAD. The feed
    // is computed file-granularly from the manifest diff, but COW rewrite
    // churn cancels in the multiset EXCEPT ALL, so it must equal the pure
    // logical diff — which is exactly what the oracle replays with
    // EXCEPT ALL over the fixture ----
    Q(
      "catalog_changes",
      s"""$UpsertLifecycleCtes,
        |ins AS (SELECT * FROM head EXCEPT ALL SELECT * FROM documents),
        |dels AS (SELECT * FROM documents EXCEPT ALL SELECT * FROM head)
        |SELECT change_type, doc_id, lang, source, n_chars FROM (
        |  SELECT 'insert' AS change_type, doc_id, lang, source, n_chars FROM ins
        |  UNION ALL
        |  SELECT 'delete', doc_id, lang, source, n_chars FROM dels)
        |ORDER BY change_type, doc_id""".stripMargin,
    ) { (s, d) =>
      val (cat, docs, _) = stagedDocs(s, d, "docs_wh") // v1
      deleteThenMerge(cat, upsertBatch(docs)) // v2, v3
      cat.tableChanges("docs_wh", 1, 3)
        .select(col(Catalog.ChangeCol).as("change_type"),
          col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("change_type", "doc_id")
    },

    // ---- RESTORE TO VERSION: insert (v1) → delete src0 rows (v2) →
    // restore v1 (v3, metadata-only rollback) → a DIFFERENT delete (v4).
    // HEAD must equal the fixture minus ONLY the second predicate — the
    // src0 rows the rollback brought back must be present (if the restore
    // silently no-opped, they'd be missing). head_version pins that the
    // rollback COMMITTED a new version instead of rewriting history ----
    Q(
      "catalog_restore",
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
        |  CAST(4 AS INT) AS head_version
        |FROM documents
        |WHERE NOT COALESCE(n_chars % 13 = 7, FALSE)
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    ) { (s, d) =>
      val (cat, _, _) = stagedDocs(s, d, "docs_wh") // v1
      cat.deleteRows("docs_wh", col("source") === "src0") // v2
      cat.restoreVersion("docs_wh", 1) // v3: src0 rows live again
      cat.deleteRows("docs_wh", col("n_chars") % 13 === 7) // v4
      langProfile(cat.table("docs_wh"), LangSource)
        .withColumn("head_version", lit(cat.currentVersion("docs_wh")))
        .orderBy("lang", "source")
    },

    // ---- incremental view maintenance: materialize the per-(lang,
    // source) profile at v1, mutate (deleteRows v2, merge v3), then roll
    // the profile forward from the CDC feed ALONE — no HEAD rescan. The
    // oracle recomputes the head profile from scratch; matching it proves
    // delta-add/delta-subtract/group-birth/group-death all land exactly ----
    Q.weekly(
      "catalog_incremental_agg",
      s"""$UpsertLifecycleCtes
        |SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |FROM head GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    ) { (s, d) =>
      val (cat, docs, _) = stagedDocs(s, d, "docs_wh") // v1
      val prior = langProfile(cat.tableAt("docs_wh", 1), LangSource) // the materialized view build
      deleteThenMerge(cat, upsertBatch(docs)) // v2, v3
      rollForward(cat, "docs_wh", 1, 3, prior, LangSource,
        "n_docs", Map("total_chars" -> "n_chars"))
        .orderBy("lang", "source")
    },

    // ---- CSV ingest round-trip: fixture → Spark-written CSV →
    // insertCsv → read back. The md5-top-60 text fingerprint sum proves
    // the text column survived the CSV encode/parse cycle byte-exactly,
    // not just row counts ----
    Q(
      "catalog_csv_roundtrip",
      LangTextProfileOracle,
    ) { (s, d) =>
      val (cat, docs, wh) = docsWarehouse(s, d)
      val csvDir = s"$wh/csv_stage"
      docs.write.option("header", "true").option("escape", "\"").csv(csvDir)
      cat.create("docs_csv", docs.schema)
      cat.insertCsv("docs_csv", csvDir)
      langTextProfile(cat.table("docs_csv"))
    },

    // ---- dead-letter ingest: every 10th doc's n_chars is corrupted to a
    // non-numeric string in the staged CSV; the quarantine decoder routes
    // those rows (raw, with _reason = 'n_chars') to the dead-letter table
    // and commits the rest. Report = both paths in one result ----
    Q(
      "catalog_ingest_quarantine",
      """SELECT status, lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN status = 'good' THEN CAST(n_chars AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS total_chars
        |FROM (SELECT CASE WHEN doc_id % 10 = 7 THEN 'dead' ELSE 'good' END AS status,
        |      lang, n_chars FROM documents)
        |GROUP BY status, lang ORDER BY status, lang""".stripMargin,
    ) { (s, d) =>
      val (cat, docs, wh) = docsWarehouse(s, d)
      val dirty = docs.withColumn("n_chars",
        when(pmod(col("doc_id"), lit(10)) === 7,
          concat(lit("bad"), col("doc_id").cast("string")))
          .otherwise(col("n_chars").cast("string")))
      val csvDir = s"$wh/csv_dirty"
      dirty.write.option("header", "true").option("escape", "\"").csv(csvDir)
      cat.create("docs_q", docs.schema)
      cat.create("docs_dead", org.apache.spark.sql.types.StructType(
        docs.schema.fields.map(f => org.apache.spark.sql.types.StructField(
          f.name, org.apache.spark.sql.types.StringType)) :+
          org.apache.spark.sql.types.StructField(
            "_reason", org.apache.spark.sql.types.StringType)))
      cat.insertCsvQuarantine("docs_q", "docs_dead", csvDir)
      val good = cat.table("docs_q")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("total_chars"))
        .select(lit("good").as("status"), col("lang"), col("n_rows"), col("total_chars"))
      val dead = cat.table("docs_dead")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("dead").as("status"), col("lang"), col("n_rows"),
          lit(0L).as("total_chars"))
      good.unionByName(dead).orderBy("status", "lang")
    },

    // ---- ORC ingest round-trip: stage the fixture as ORC, ingest through
    // the schema-directed decoder, and prove the content survived with the
    // same per-lang profile + byte-exact text fingerprint as the CSV path.
    // ORC maps columns by name (self-describing footer schema) ----
    Q(
      "catalog_orc_roundtrip",
      LangTextProfileOracle,
    ) { (s, d) =>
      val (cat, docs, wh) = docsWarehouse(s, d)
      val orcDir = s"$wh/orc_stage"
      docs.write.orc(orcDir)
      cat.create("docs_orc", docs.schema)
      cat.insertOrc("docs_orc", orcDir)
      langTextProfile(cat.table("docs_orc"))
    },

    // ---- Avro ingest round-trip: export the fixture as Avro container
    // files (AvroCodec — Avro core, per-partition containers), ingest
    // through the schema-directed name-mapped decoder, and prove the
    // content survived with the same per-lang profile + byte-exact text
    // fingerprint as the CSV/ORC twins ----
    Q(
      "catalog_avro_roundtrip",
      LangTextProfileOracle,
    ) { (s, d) =>
      val (cat, docs, wh) = docsWarehouse(s, d)
      val avroDir = s"$wh/avro_stage"
      graft.sources.AvroCodec.writeAvro(docs, avroDir)
      cat.create("docs_avro", docs.schema)
      cat.insertAvro("docs_avro", avroDir)
      langTextProfile(cat.table("docs_avro"))
    },

    // ---- Avro WIRE parse (the kafka_wire_parse sibling for binary
    // payloads): rows encoded as bare Avro binary datums — the shape of
    // a schema-registry Kafka message value, no container framing — then
    // decoded back through the name-mapped datum reader and profiled.
    // The oracle computes the same profile from the fixture directly, so
    // equality proves the encode→decode cycle is lossless; the decode is
    // a per-partition streaming reader (decoder/record reuse, no driver
    // hop) — the exact kernel a `from_avro`-style Kafka consumer runs ----
    Q(
      "avro_wire_parse",
      LangTextProfileOracle,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      val schemaJson = graft.sources.AvroCodec.writerSchemaJson(docs.schema)
      val wire = graft.sources.AvroCodec.encodeDatum(docs)
      langTextProfile(graft.sources.AvroCodec.decodeDatum(wire, schemaJson, docs.schema))
    },

    // ---- Z-order clustering + stats-based file pruning: rewrite events
    // clustered on the (user_id, value) Z-curve, then answer a 2-D box
    // query reading ONLY the files whose stats overlap the box
    // (CatalogSpec asserts the pruning actually skips files). The layout
    // must never change results — the oracle is the plain box filter ----
    Q(
      "catalog_zorder_prune",
      """SELECT event_id, user_id, value FROM events
        |WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 20.0 AND 60.0
        |ORDER BY event_id""".stripMargin,
    ) { (s, d) =>
      val wh = tempWarehouse()
      val dir = s"$wh/events_z"
      graft.sources.ZOrder.writeZOrdered(
        Tables.events(s, d).select("event_id", "user_id", "value"),
        "user_id", "value", dir, numFiles = 8)
      graft.sources.ZOrder.readPruned(s, dir, (3.0, 9.0), (20.0, 60.0))
        .filter(col("user_id").between(3, 9) && col("value").between(20.0, 60.0))
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    },

    // ---- d-dimensional Z-order (d=3): same layout discipline one
    // dimension up — user_id × value × time interleaved 16 bits each
    // (48-bit code; time as integer epoch seconds, the column an events
    // table would actually cluster on). A 3-D box — low users × a value
    // band × one week of the month — must prune a strict subset of files
    // (asserted in CatalogSpec) and never change results — the oracle is
    // the plain triple filter. Weekly tier: same clustering discipline as
    // catalog_zorder_prune one dimension up (one write-heavy layout row
    // carries the per-round perf signal; Verify still checks both) ----
    Q.weekly(
      "catalog_zorder_3d",
      """SELECT event_id, user_id, value FROM events
        |WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 20.0 AND 60.0
        |  AND CAST(FLOOR(epoch(ts)) AS BIGINT) BETWEEN 1704412800 AND 1705017600
        |ORDER BY event_id""".stripMargin,
    ) { (s, d) =>
      val wh = tempWarehouse()
      val dir = s"$wh/events_z3"
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("value"), expr("ts_ns div 1000000000").as("ts_sec"))
      graft.sources.ZOrder.writeZOrdered(
        ev, Seq("user_id", "value", "ts_sec"), dir, numFiles = 8)
      graft.sources.ZOrder.readPruned(s, dir,
        Seq((3.0, 9.0), (20.0, 60.0), (1704412800.0, 1705017600.0)))
        .filter(col("user_id").between(3, 9) && col("value").between(20.0, 60.0) &&
          col("ts_sec").between(1704412800L, 1705017600L))
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    },

    // ---- Hilbert clustering + stats-based file pruning: the same layout
    // discipline as catalog_zorder_prune with the curve swapped to the
    // edge-connected Hilbert walk (graft.plans.HilbertIndex2D, a
    // codegen'd kernel — no diagonal jumps, so range partitions stay
    // spatially tight and a box query typically skips more files;
    // CatalogSpec asserts the pruning and the curve's adjacency
    // invariant). Layout must never change results — the oracle is the
    // plain box filter ----
    Q(
      "catalog_hilbert_prune",
      """SELECT event_id, user_id, value FROM events
        |WHERE user_id BETWEEN 10 AND 14 AND value BETWEEN 40.0 AND 80.0
        |ORDER BY event_id""".stripMargin,
    ) { (s, d) =>
      val wh = tempWarehouse()
      val dir = s"$wh/events_h"
      graft.sources.ZOrder.writeHilbertClustered(
        Tables.events(s, d).select("event_id", "user_id", "value"),
        "user_id", "value", dir, numFiles = 8)
      graft.sources.ZOrder.readPruned(s, dir, (10.0, 14.0), (40.0, 80.0))
        .filter(col("user_id").between(10, 14) && col("value").between(40.0, 80.0))
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    },

    // ---- small-files compaction: ingest in 16 fragments (the streaming /
    // per-batch insert pattern), compact to 2 files, and prove the content
    // is untouched — the oracle reads the original fixture. The file-count
    // reduction itself is asserted by CatalogSpec ----
    Q(
      "catalog_compact",
      LangTextProfileOracle,
    ) { (s, d) =>
      val (cat, docs, _) = docsWarehouse(s, d)
      cat.create("docs_frag", docs.schema)
      cat.insert("docs_frag", docs.repartition(16))
      cat.compact("docs_frag", targetFiles = 2)
      langTextProfile(cat.table("docs_frag"))
    },

    // ---- atomic REPLACE WHERE (idempotent backfill): re-materialize the
    // 'en' slice of the table in ONE commit — delete-matching + insert
    // as a single manifest swap ([[Catalog.replaceWhere]]), so readers
    // never see the deleted-but-not-reinserted gap and a crash can't
    // strand the table half-mutated. The oracle states the final
    // algebra: everything but 'en' survives, the corrected batch
    // replaces it ----
    Q(
      "catalog_replace_where",
      """WITH corrected AS (
        |  SELECT doc_id, text, lang, 'backfill' AS source,
        |    n_chars + 1000 AS n_chars
        |  FROM documents WHERE lang = 'en'),
        |final AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  WHERE lang <> 'en'
        |  UNION ALL SELECT * FROM corrected)
        |SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |FROM final GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    ) { (s, d) =>
      val (cat, docs, _) = stagedDocs(s, d, "docs_rw")
      val corrected = docs.filter(col("lang") === "en")
        .withColumn("source", lit("backfill"))
        .withColumn("n_chars", col("n_chars") + 1000)
      cat.replaceWhere("docs_rw", col("lang") === "en", corrected)
      langProfile(cat.table("docs_rw"), LangSource, col("n_chars").cast("long"))
        .orderBy("lang", "source")
    },

    // ---- partition-scoped OPTIMIZE: fragment-ingest a partitioned
    // table, then compact ONLY the 'en' partition (`OPTIMIZE ... WHERE`,
    // [[Catalog.compactWhere]]) — the 100-TB lifecycle reality: you
    // compact the hot ingest partition, never the table. Content is
    // untouched (this oracle); CatalogSpec asserts the other partitions'
    // FILES are byte-identical survivors in the new manifest ----
    Q(
      "catalog_compact_where",
      LangTextProfileOracle,
    ) { (s, d) =>
      val (cat, docs, _) = docsWarehouse(s, d)
      cat.create("docs_pw", docs.schema, partitionBy = Some("lang"))
      cat.insert("docs_pw", docs.repartition(16))
      cat.compactWhere("docs_pw", col("lang") === "en", targetFiles = 1)
      langTextProfile(cat.table("docs_pw"))
    },

    // ---- schema evolution: ALTER TABLE ADD COLUMN with default — batch A
    // is written under the old schema, the column is added (metadata-only,
    // no file rewrite), batch B supplies it. Reads must see the default
    // for A's files and the real values for B's. The oracle states the
    // same split over the fixture ----
    Q(
      "catalog_add_column",
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN -1 ELSE n_chars % 7 END AS BIGINT) AS score
        |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val (cat, docs, _) = docsWarehouse(s, d)
      cat.create("docs_ev", docs.schema)
      cat.insert("docs_ev", docs.filter(pmod(col("doc_id"), lit(2)) === 0))
      cat.addColumn("docs_ev", "score",
        org.apache.spark.sql.types.LongType, "-1")
      cat.insert("docs_ev",
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .withColumn("score", (col("n_chars") % 7).cast("long")))
      cat.table("docs_ev").select("doc_id", "score").orderBy("doc_id")
    },

    // ---- ALTER TABLE RENAME COLUMN (metadata-only, column mapping):
    // batch A lands under the old name, the column is renamed, batch B
    // addresses the new name — reads see ALL data under the new logical
    // name because the physical storage name never changed ----
    Q(
      "catalog_rename_column",
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS len_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val (cat, fixture, _) = docsWarehouse(s, d)
      val docs = fixture.select("doc_id", "n_chars")
      cat.create("docs_rn", docs.schema)
      cat.insert("docs_rn", docs.filter(pmod(col("doc_id"), lit(2)) === 0))
      cat.renameColumn("docs_rn", "n_chars", "len_chars")
      cat.insert("docs_rn",
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .withColumnRenamed("n_chars", "len_chars"))
      cat.table("docs_rn").select("doc_id", "len_chars").orderBy("doc_id")
    },

    // ---- ALTER TABLE ALTER COLUMN TYPE (lossless widening, metadata-
    // only): batch A is written as INT, the column widens to BIGINT,
    // batch B writes BIGINT — old files upcast in the scan itself ----
    Q(
      "catalog_widen_column",
      """SELECT doc_id, CAST(n_chars % 7 AS BIGINT) AS score
        |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val (cat, fixture, _) = docsWarehouse(s, d)
      val docs = fixture
        .select(col("doc_id"), pmod(col("n_chars"), lit(7)).cast("int").as("score"))
      cat.create("docs_wd", docs.schema)
      cat.insert("docs_wd", docs.filter(pmod(col("doc_id"), lit(2)) === 0))
      cat.widenColumn("docs_wd", "score", org.apache.spark.sql.types.LongType)
      cat.insert("docs_wd",
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .withColumn("score", col("score").cast("long")))
      cat.table("docs_wd").select("doc_id", "score").orderBy("doc_id")
    },

    // ---- nest (materialize result as table) then re-query ----
    Q(
      "catalog_nest",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_long_docs
        |FROM documents WHERE n_chars > 200 GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      val (cat, docs, _) = docsWarehouse(s, d)
      val nested = cat.nest("long_docs", docs.filter(col("n_chars") > 200))
      nested.groupBy("lang").agg(count(lit(1)).as("n_long_docs")).orderBy("lang")
    },
  )
}
