package graft

import graft.operators.CatalogOps
import graft.sources.{Catalog, CatalogSql}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The SQL-text command surface over the warehouse catalog. The happy-path
  * lifecycle (CTAS → ALTER ADD → MERGE → DELETE → INSERT → SELECT) is
  * oracle-checked by the registered `catalog_sql_dml` query; these specs
  * pin the remaining statements and the loud-failure contracts.
  */
class CatalogSqlSpec extends SparkSpec {

  private def freshCat() = new Catalog(spark, CatalogOps.tempWarehouse())

  test("CREATE TABLE (cols) PARTITIONED BY + INSERT VALUES + SELECT round-trip") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat,
      "CREATE TABLE t (id BIGINT, name STRING, region STRING) PARTITIONED BY (region)")
    assert(cat.schema("t") == StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("region", StringType))))
    assert(cat.partitionColumn("t").contains("region"))
    CatalogSql.exec(spark, cat,
      """INSERT INTO t VALUES (1, 'a', 'eu'), (2, 'b', 'us'), (3, 'c', 'eu')""")
    val got = CatalogSql.exec(spark, cat,
      "SELECT region, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY region ORDER BY region")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("eu", 2L), ("us", 1L)))
  }

  test("CREATE TABLE parses complex types with commas inside <> and DEFAULT ... NOT NULL") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat,
      """CREATE TABLE t (
        |  id BIGINT NOT NULL,
        |  tags MAP<STRING, INT>,
        |  pt STRUCT<a: INT, b: STRING>,
        |  hist ARRAY<STRUCT<ts: BIGINT, v: DOUBLE>>,
        |  status STRING DEFAULT 'new' NOT NULL,
        |  CHECK (id >= 0))""".stripMargin)
    val s = cat.schema("t")
    assert(s("tags").dataType == MapType(StringType, IntegerType))
    assert(s("pt").dataType == StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType))))
    assert(s("hist").dataType == ArrayType(StructType(Seq(
      StructField("ts", LongType), StructField("v", DoubleType)))))
    // DEFAULT ... NOT NULL: trailing NOT NULL must not leak into the
    // default expression, and the field must be non-nullable
    assert(!s("status").nullable)
    // the captured default is the bare expression — NOT NULL must not
    // leak into it (it would fail at write time with an expr parse error)
    assert(s("status").metadata.getString("graft.default") == "'new'")
    assert(cat.checks("t") == Seq("id >= 0"))
    // SHOW CREATE TABLE round-trips the complex types through CREATE
    val ddl = CatalogSql.exec(spark, cat, "SHOW CREATE TABLE t")
      .collect()(0).getString(0)
    val cat2 = freshCat()
    CatalogSql.exec(spark, cat2, ddl)
    assert(cat2.schema("t") == cat.schema("t"))
  }

  test("column-list split survives comparison '<' in DEFAULT; IS NOT NULL default keeps its tail") {
    val cat = freshCat()
    // a bare '<' at depth 0 is a comparison, not a type bracket — it must
    // not wedge the angle counter open and swallow the later separators
    CatalogSql.exec(spark, cat,
      """CREATE TABLE t (
        |  f BOOLEAN DEFAULT 1 < 2,
        |  g INT,
        |  m MAP<STRING, INT>)""".stripMargin)
    val s = cat.schema("t")
    assert(s.fields.map(_.name).toSeq == Seq("f", "g", "m"))
    assert(s("m").dataType == MapType(StringType, IntegerType))
    assert(s("f").metadata.getString("graft.default") == "1 < 2")
    // a default genuinely ending in IS NOT NULL keeps its tail and the
    // column stays nullable...
    CatalogSql.exec(spark, cat, "CREATE TABLE u (b BOOLEAN DEFAULT 1 IS NOT NULL)")
    assert(cat.schema("u")("b").nullable)
    assert(cat.schema("u")("b").metadata.getString("graft.default") == "1 IS NOT NULL")
    // ...while an explicit constraint after such a default still binds
    CatalogSql.exec(spark, cat,
      "CREATE TABLE v (b BOOLEAN DEFAULT 1 IS NOT NULL NOT NULL)")
    assert(!cat.schema("v")("b").nullable)
    assert(cat.schema("v")("b").metadata.getString("graft.default") == "1 IS NOT NULL")
    // the defaults evaluate on insert (narrower named select fills them)
    CatalogSql.exec(spark, cat,
      "INSERT INTO t SELECT CAST(7 AS INT) AS g, map('k', 1) AS m")
    val row = cat.table("t").collect()(0)
    assert(row.getAs[Boolean]("f") && row.getAs[Int]("g") == 7)
  }

  test("TIMESTAMP AS OF resolves the latest commit <= ts; pre-history ts fails loud") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT)")
    CatalogSql.exec(spark, cat,
      "INSERT INTO t SELECT explode(sequence(CAST(1 AS BIGINT), 10))") // v1
    Thread.sleep(30)
    val boundary = java.time.Instant.now()
    Thread.sleep(30)
    CatalogSql.exec(spark, cat, "DELETE FROM t WHERE id > 5") // v2
    // API form
    assert(cat.tableAsOf("t", boundary).count() == 10L)
    assert(cat.tableAsOf("t", java.time.Instant.now()).count() == 5L)
    // SQL form, ISO instant and SQL timestamp renderings
    val iso = boundary.toString
    val n1 = CatalogSql.exec(spark, cat,
      s"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t TIMESTAMP AS OF '$iso'")
      .collect()(0).getLong(0)
    assert(n1 == 10L)
    val sqlTs = java.time.LocalDateTime
      .ofInstant(boundary, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val n2 = CatalogSql.exec(spark, cat,
      s"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t TIMESTAMP AS OF '$sqlTs'")
      .collect()(0).getLong(0)
    assert(n2 == 10L)
    // before the first commit: not reconstructible, loud
    intercept[IllegalArgumentException] {
      cat.tableAsOf("t", java.time.Instant.parse("2000-01-01T00:00:00Z"))
    }
    // commit times are exposed and non-decreasing
    val times = cat.historyWithTime("t").map(_._4)
    assert(times.size >= 2 && times == times.sorted)
  }

  test("ALTER RENAME / ALTER TYPE (widen) / DROP TABLE route to catalog ops") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id INT, v INT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1, 10)")
    CatalogSql.exec(spark, cat, "ALTER TABLE t RENAME COLUMN v TO val")
    CatalogSql.exec(spark, cat, "ALTER TABLE t ALTER COLUMN val TYPE BIGINT")
    assert(cat.schema("t")("val").dataType == LongType)
    val v = CatalogSql.exec(spark, cat, "SELECT val FROM t").collect()(0).getLong(0)
    assert(v == 10L)
    CatalogSql.exec(spark, cat, "DROP TABLE t")
    assert(!cat.exists("t"))
  }

  test("command statements return a one-row (op, table, rows) status") {
    val cat = freshCat()
    val st = CatalogSql.exec(spark, cat, "CREATE TABLE t (id INT);").collect()(0)
    assert(st.getString(0) == "create" && st.getString(1) == "t")
    val ins = CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1), (2)").collect()(0)
    assert(ins.getString(0) == "insert" && ins.getLong(2) == 2L)
    val del = CatalogSql.exec(spark, cat, "DELETE FROM t WHERE id = 1").collect()(0)
    assert(del.getString(0) == "delete" && del.getLong(2) == 1L)
  }

  test("MERGE requires the single-key upsert-all form; bad shapes fail loud") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, v BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1, 1), (2, 2)")
    // aliased form resolves sides in either order
    CatalogSql.exec(spark, cat,
      """MERGE INTO t USING (SELECT CAST(2 AS BIGINT) AS id, CAST(20 AS BIGINT) AS v) s
        |ON s.id = t.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = CatalogSql.exec(spark, cat, "SELECT id, v FROM t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 1L), (2L, 20L)))
    // ON clause naming neither side's alias is rejected
    val e = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat,
        """MERGE INTO t USING (SELECT CAST(3 AS BIGINT) AS id, CAST(3 AS BIGINT) AS v) s
          |ON x.id = y.id
          |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("MERGE"))
  }

  test("conditional multi-action MERGE applies first-match clause semantics") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, v BIGINT)")
    CatalogSql.exec(spark, cat,
      "INSERT INTO t VALUES (1, 10), (2, 20), (3, 30), (4, 40), (7, 70)")
    val st = CatalogSql.exec(spark, cat,
      """MERGE INTO t USING (
        |  SELECT CAST(2 AS BIGINT) AS id, CAST(99 AS BIGINT) AS v
        |  UNION ALL SELECT 3, 31
        |  UNION ALL SELECT 7, 60
        |  UNION ALL SELECT 5, 50
        |  UNION ALL SELECT 6, 6) s
        |ON t.id = s.id
        |WHEN MATCHED AND t.v = 20 THEN DELETE
        |WHEN MATCHED AND s.v > t.v THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.v >= 50 THEN INSERT *""".stripMargin).collect()(0)
    // id=2: first clause (t.v=20) deletes — even though s.v>t.v also held;
    // id=3: updated to the source row; id=7: matched but NO clause holds
    // (t.v≠20, s.v<t.v) → kept unchanged; id=5 inserted (v≥50), id=6 not;
    // ids 1 and 4 never matched → untouched
    val rows = CatalogSql.exec(spark, cat, "SELECT id, v FROM t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L), (3L, 31L), (4L, 40L), (5L, 50L), (7L, 70L)))
    assert(st.getString(0) == "merge" && st.getLong(2) == 3L) // 1 upd + 1 del + 1 ins
  }

  test("conditional MERGE rejects ambiguous multi-match and unreachable clauses") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, v BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1, 10)")
    // two source rows with the same key: the multi-match SQL MERGE rejects
    val dup = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat,
        """MERGE INTO t USING (
          |  SELECT CAST(1 AS BIGINT) AS id, CAST(2 AS BIGINT) AS v
          |  UNION ALL SELECT 1, 3) s
          |ON t.id = s.id
          |WHEN MATCHED AND s.v > t.v THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(dup.getMessage.contains("key-unique"))
    // an unconditional matched clause before another one is unreachable
    val unreach = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat,
        """MERGE INTO t USING (SELECT CAST(1 AS BIGINT) AS id, CAST(2 AS BIGINT) AS v) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN MATCHED AND t.v = 0 THEN DELETE
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(unreach.getMessage.contains("unreachable"))
  }

  test("MERGE ON key comparison is case-insensitive like the rest of the router") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, v BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1, 1), (2, 2)")
    // `t.ID = s.id` differs only in identifier case — must route, with the
    // key resolved to its canonical declared-schema spelling
    CatalogSql.exec(spark, cat,
      """MERGE INTO t USING (SELECT CAST(2 AS BIGINT) AS id, CAST(99 AS BIGINT) AS v) s
        |ON t.ID = s.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = CatalogSql.exec(spark, cat, "SELECT id, v FROM t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 1L), (2L, 99L)))
  }

  test("DROP TABLE removes the table's temp view — no stale resolution") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE ephemeral_t (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO ephemeral_t VALUES (1)")
    assert(CatalogSql.exec(spark, cat, "SELECT * FROM ephemeral_t").count() == 1)
    CatalogSql.exec(spark, cat, "DROP TABLE ephemeral_t")
    // the view must be gone: resolving it would read deleted files
    intercept[Exception] { spark.sql("SELECT * FROM ephemeral_t").collect() }
  }

  test("repl: dropping a catalog table that shadowed a fixture view un-shadows it") {
    val wh = CatalogOps.tempWarehouse()
    val out = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(
      spark, sf0001,
      Iterator(
        // fixture 'events' view is registered by the repl banner path;
        // a catalog table of the same name shadows it on the SQL path
        "CREATE TABLE events (k BIGINT);",
        "INSERT INTO events VALUES (42);",
        "SELECT COUNT(*) AS n FROM events;",
        "DROP TABLE events;",
        // after the drop the FIXTURE events must resolve again (thousands
        // of rows), not the dropped 1-row catalog table or an error
        "SELECT COUNT(*) AS n FROM events;",
        "\\q"),
      out += _, warehouse = Some(wh))
    def lastNumber(s: String): Long =
      "\\d+".r.findAllIn(s.split("\n").drop(3).mkString(" ")).toSeq.head.toLong
    assert(lastNumber(out(3)) == 1L)   // shadowing catalog table
    assert(out(4).contains("drop"))
    assert(lastNumber(out(5)) > 100L)  // fixture restored
  }

  test("repl with a bound warehouse drives DDL/DML as text") {
    val wh = CatalogOps.tempWarehouse()
    val out = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(
      spark, sf0001,
      Iterator(
        "CREATE TABLE kv (k BIGINT, v STRING);",
        "INSERT INTO kv VALUES (1, 'a'), (2, 'b');",
        "SELECT k, v FROM kv ORDER BY k;",
        "DELETE FROM kv WHERE k = 1;",
        "SELECT COUNT(*) AS n FROM kv;",
        "DROP TABLE kv;",
        "\\q"),
      out += _, warehouse = Some(wh))
    assert(out(1).contains("create") && out(1).contains("kv"))
    assert(out(2).contains("insert"))
    assert(out(3).contains("a") && out(3).contains("b"))
    assert(out(4).contains("delete"))
    assert(out(5).contains("1"))
    assert(out(6).contains("drop"))
    assert(!new Catalog(spark, wh).exists("kv"))
  }

  test("UPDATE rewrites matching rows file-granularly; SET sees the OLD row") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, a BIGINT, b BIGINT)")
    CatalogSql.exec(spark, cat,
      "INSERT INTO t VALUES (1, 10, 100), (2, 20, 200), (3, 30, 300)")
    // both assignments read the pre-update row: after the swap-ish update,
    // a must be the OLD b and b the OLD a + the OLD b (not chained)
    val st = CatalogSql.exec(spark, cat,
      "UPDATE t SET a = b, b = a + b WHERE id % 2 = 0").collect()(0)
    assert(st.getString(0) == "update" && st.getLong(2) == 1L)
    val rows = CatalogSql.exec(spark, cat, "SELECT id, a, b FROM t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 10L, 100L), (2L, 200L, 220L), (3L, 30L, 300L)))
    // no WHERE → all rows; expressions with function calls and commas parse
    CatalogSql.exec(spark, cat, "UPDATE t SET a = greatest(a, 50)")
    val as = CatalogSql.exec(spark, cat, "SELECT a FROM t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(as == Seq(50L, 200L, 50L))
    // unknown column is rejected loudly
    val e = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat, "UPDATE t SET nope = 1 WHERE id = 1")
    }
    assert(e.getMessage.contains("not in schema"))
  }

  test("TRUNCATE / OPTIMIZE / VACUUM / DESCRIBE HISTORY round the lifecycle out") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (2)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (3)")
    CatalogSql.exec(spark, cat, "OPTIMIZE t FILES 1")
    val hist = CatalogSql.exec(spark, cat, "DESCRIBE HISTORY t")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(hist.map(_._2) == Seq("insert", "insert", "insert", "compact"))
    assert(hist.last._3 == 1) // compacted to one file
    assert(CatalogSql.exec(spark, cat, "SELECT COUNT(*) AS n FROM t")
      .collect()(0).getLong(0) == 3L)
    // truncate is metadata-only: count drops to 0, prior version readable
    CatalogSql.exec(spark, cat, "TRUNCATE TABLE t")
    assert(CatalogSql.exec(spark, cat, "SELECT COUNT(*) AS n FROM t")
      .collect()(0).getLong(0) == 0L)
    assert(cat.tableAt("t", 4).count() == 3L) // pre-truncate snapshot intact
    // vacuum to the head: old versions (and the truncated-away files) go
    CatalogSql.exec(spark, cat, "VACUUM t RETAIN 1 VERSIONS")
    assert(cat.versions("t") == Seq(5))
    intercept[IllegalArgumentException] { cat.tableAt("t", 4).count() }
  }

  test("unsupported statements are rejected with the supported-statement list") {
    val cat = freshCat()
    val e = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat, "GRANT SELECT ON t TO someone")
    }
    assert(e.getMessage.contains("unsupported statement"))
  }

  test("SHOW TABLES lists tables and views with kind / partition / version") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE a (id INT, r STRING) PARTITIONED BY (r)")
    CatalogSql.exec(spark, cat, "INSERT INTO a VALUES (1, 'x')")
    CatalogSql.exec(spark, cat, "CREATE VIEW va AS SELECT id FROM a")
    val rows = CatalogSql.exec(spark, cat, "SHOW TABLES")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(("a", "table", "r"), ("va", "view", "")))
  }

  test("DESCRIBE shows columns, partition role and declared defaults") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, r STRING) PARTITIONED BY (r)")
    CatalogSql.exec(spark, cat, "ALTER TABLE t ADD COLUMN tag STRING DEFAULT 'base'")
    val rows = CatalogSql.exec(spark, cat, "DESCRIBE t")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      ("id", "BIGINT", "", null), ("r", "STRING", "partition", null),
      ("tag", "STRING", "", "'base'")))
    // DESCRIBE HISTORY still routes to the manifest log, not DESCRIBE
    assert(CatalogSql.exec(spark, cat, "DESCRIBE HISTORY t").columns.head == "version")
  }

  test("SHOW CREATE TABLE emits DDL that recreates the same schema") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat,
      "CREATE TABLE t (id BIGINT, name STRING, r STRING) PARTITIONED BY (r)")
    CatalogSql.exec(spark, cat, "ALTER TABLE t ADD COLUMN tag STRING DEFAULT 'b'")
    val ddl = CatalogSql.exec(spark, cat, "SHOW CREATE TABLE t")
      .collect()(0).getString(0)
    val cat2 = freshCat()
    CatalogSql.exec(spark, cat2, ddl)
    assert(cat2.schema("t").fields.map(f => (f.name, f.dataType)).toSeq ==
      cat.schema("t").fields.map(f => (f.name, f.dataType)).toSeq)
    assert(cat2.partitionColumn("t") == cat.partitionColumn("t"))
  }

  test("ANALYZE persists one-pass stats; ndv_approx tracks exact distinct") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, v STRING)")
    CatalogSql.exec(spark, cat,
      """INSERT INTO t SELECT CAST(x AS BIGINT),
        |CASE WHEN x % 10 = 0 THEN NULL ELSE concat('v', CAST(x % 57 AS STRING)) END
        |FROM (SELECT explode(sequence(1, 1000)) AS x)""".stripMargin)
    val st = CatalogSql.exec(spark, cat, "ANALYZE TABLE t").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(st("id").getLong(1) == 1000L && st("id").getLong(2) == 0L)
    assert(st("id").getString(4) == "1" && st("id").getString(5) == "1000")
    assert(st("v").getLong(2) == 100L) // the x % 10 = 0 rows
    val ndv = st("v").getLong(3).toDouble
    assert(math.abs(ndv - 57.0) / 57.0 < 0.15, s"ndv_approx $ndv vs exact 57")
    // SHOW STATS serves the persisted copy; unanalyzed tables fail loud;
    // DML after ANALYZE flips the staleness flag
    val fresh = CatalogSql.exec(spark, cat, "SHOW STATS t").collect()
    assert(fresh.length == 2 && fresh.forall(!_.getAs[Boolean]("stale")))
    // measured avg decoded width: id is fixed 8 B; v averages ~len('v28')+8
    val aw = fresh.map(r => r.getString(0) -> r.getAs[Double]("avg_width")).toMap
    assert(aw("id") == 8.0)
    assert(aw("v") > 8.0 && aw("v") < 16.0, s"avg_width(v) = ${aw("v")}")
    // width is DECODED BYTES, not characters: '€' is 1 char / 3 UTF-8
    // bytes, and UTF8String stores bytes — a char count would
    // underestimate this column 3x, the broadcast-OOM direction
    CatalogSql.exec(spark, cat, "CREATE TABLE w (s STRING)")
    CatalogSql.exec(spark, cat, "INSERT INTO w VALUES ('€€€€')")
    val aww = CatalogSql.exec(spark, cat, "ANALYZE TABLE w").collect()
    val wi = aww(0).fieldIndex("avg_width")
    assert(aww(0).getDouble(wi) == 20.0, // 12 bytes + 8 overhead
      s"avg_width must count UTF-8 bytes, got ${aww(0).getDouble(wi)}")
    CatalogSql.exec(spark, cat, "DELETE FROM t WHERE id = 1")
    assert(CatalogSql.exec(spark, cat, "SHOW STATS t").collect()
      .forall(_.getAs[Boolean]("stale")), "stats must flag stale after DML")
    CatalogSql.exec(spark, cat, "CREATE TABLE u (id INT)")
    val e = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat, "SHOW STATS u")
    }
    assert(e.getMessage.contains("ANALYZE"))
  }

  test("views: OR REPLACE, DROP, table-name clash, invalid definition") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1), (2), (3)")
    CatalogSql.exec(spark, cat, "CREATE VIEW v AS SELECT id FROM t WHERE id > 1")
    assert(CatalogSql.exec(spark, cat, "SELECT COUNT(*) AS n FROM v")
      .collect()(0).getLong(0) == 2L)
    // plain CREATE VIEW on an existing view fails; OR REPLACE swaps it
    intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat, "CREATE VIEW v AS SELECT id FROM t")
    }
    CatalogSql.exec(spark, cat, "CREATE OR REPLACE VIEW v AS SELECT id FROM t")
    assert(CatalogSql.exec(spark, cat, "SELECT COUNT(*) AS n FROM v")
      .collect()(0).getLong(0) == 3L)
    // a view may not shadow a table, nor a table a view
    intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat, "CREATE VIEW t AS SELECT 1 AS x")
    }
    intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat, "CREATE TABLE v (id INT)")
    }
    // invalid definitions are rejected AT CREATION, not first read
    intercept[Exception] {
      CatalogSql.exec(spark, cat, "CREATE VIEW bad AS SELECT id FROM no_such")
    }
    assert(!cat.viewExists("bad"))
    CatalogSql.exec(spark, cat, "DROP VIEW v")
    assert(!cat.viewExists("v"))
  }

  test("a view over a dropped table invalidates alone — catalog stays usable") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE base (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO base VALUES (1)")
    CatalogSql.exec(spark, cat, "CREATE VIEW vb AS SELECT id FROM base")
    CatalogSql.exec(spark, cat, "DROP TABLE base")
    spark.catalog.dropTempView("vb") // simulate a fresh session
    // other statements keep working despite the dangling view
    CatalogSql.exec(spark, cat, "CREATE TABLE other (x INT)")
    assert(CatalogSql.exec(spark, cat, "SELECT 1 AS one").collect()(0).getInt(0) == 1)
    // referencing the invalidated view errors only then
    intercept[Exception] {
      CatalogSql.exec(spark, cat, "SELECT * FROM vb").collect()
    }
  }

  test("materialized view: snapshot serving, REFRESH, guards, SHOW TABLES kind") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE b (id BIGINT, v BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO b VALUES (1, 10), (2, 20), (3, 30)")
    CatalogSql.exec(spark, cat,
      "CREATE MATERIALIZED VIEW m AS SELECT CAST(SUM(v) AS BIGINT) AS s FROM b")
    def s() = CatalogSql.exec(spark, cat, "SELECT s FROM m").collect()(0).getLong(0)
    assert(s() == 60L)
    CatalogSql.exec(spark, cat, "DELETE FROM b WHERE id = 3")
    assert(s() == 60L) // stale until refresh — the materialized semantic
    CatalogSql.exec(spark, cat, "REFRESH MATERIALIZED VIEW m")
    assert(s() == 30L)
    // kind surfaces in SHOW TABLES; DROP TABLE refuses the backing table
    val kinds = CatalogSql.exec(spark, cat, "SHOW TABLES")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kinds("m") == "materialized_view" && kinds("b") == "table")
    val e = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat, "DROP TABLE m")
    }
    assert(e.getMessage.contains("DROP MATERIALIZED VIEW"))
    // a plain view may not take a materialized view's name
    intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat, "CREATE VIEW m AS SELECT 1 AS x")
    }
    CatalogSql.exec(spark, cat, "DROP MATERIALIZED VIEW m")
    assert(!cat.exists("m") && !cat.materializedViewExists("m"))
  }

  test("VERSION AS OF resolves snapshots; literals untouched; bad version loud") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1), (2), (3)") // v1
    CatalogSql.exec(spark, cat, "DELETE FROM t WHERE id = 3")         // v2
    def n(q: String) = CatalogSql.exec(spark, cat, q).collect()(0).getLong(0)
    assert(n("SELECT COUNT(*) AS n FROM t") == 2L)
    assert(n("SELECT COUNT(*) AS n FROM t VERSION AS OF 1") == 3L)
    assert(n("SELECT COUNT(*) AS n FROM t VERSION AS OF 0") == 0L) // empty create
    // inside a string literal the phrase is data, not syntax
    val lit = CatalogSql.exec(spark, cat,
      "SELECT 't VERSION AS OF 1' AS s").collect()(0).getString(0)
    assert(lit == "t VERSION AS OF 1")
    // a non-catalog name is left for Spark to resolve (and fail) normally
    intercept[Exception] {
      CatalogSql.exec(spark, cat, "SELECT * FROM nope VERSION AS OF 1").collect()
    }
    // an unknown version fails loud
    intercept[Exception] {
      CatalogSql.exec(spark, cat, "SELECT COUNT(*) AS n FROM t VERSION AS OF 9").collect()
    }
  }

  test("constraints: NOT NULL and CHECK gate every write path") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat,
      "CREATE TABLE t (id BIGINT NOT NULL, v BIGINT, CHECK (v >= 0))")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1, 10), (2, 0)")
    def count() = CatalogSql.exec(spark, cat, "SELECT COUNT(*) AS n FROM t")
      .collect()(0).getLong(0)
    // violating INSERT throws and commits nothing
    intercept[Exception] {
      CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (3, -1)").collect()
    }
    intercept[Exception] {
      CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (NULL, 5)").collect()
    }
    assert(count() == 2L && cat.currentVersion("t") == 1)
    // UPDATE and MERGE are gated by the same write-pass guard
    intercept[Exception] {
      CatalogSql.exec(spark, cat, "UPDATE t SET v = v - 100 WHERE id = 1").collect()
    }
    assert(CatalogSql.exec(spark, cat, "SELECT v FROM t WHERE id = 1")
      .collect()(0).getLong(0) == 10L)
    // ADD CHECK validates existing rows first
    val e = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat, "ALTER TABLE t ADD CHECK (v > 0)")
    }
    assert(e.getMessage.contains("violate"))
    CatalogSql.exec(spark, cat, "ALTER TABLE t ADD CHECK (v < 1000)")
    intercept[Exception] {
      CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (9, 5000)").collect()
    }
    // SHOW CREATE round-trips NOT NULL + CHECK into a working table
    val ddl = CatalogSql.exec(spark, cat, "SHOW CREATE TABLE t")
      .collect()(0).getString(0)
    assert(ddl.contains("NOT NULL") && ddl.contains("CHECK"))
    val cat2 = freshCat()
    CatalogSql.exec(spark, cat2, ddl)
    assert(!cat2.schema("t")("id").nullable)
    assert(cat2.checks("t") == cat.checks("t"))
  }

  test("OPTIMIZE ZORDER BY reclusters files into compact rectangles, data intact") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (a BIGINT, b BIGINT)")
    // 32x32 grid in ROW-MAJOR order: without z-ordering every file of a
    // 4-way split spans the full a-range
    CatalogSql.exec(spark, cat,
      """INSERT INTO t SELECT CAST(x % 32 AS BIGINT), CAST(x DIV 32 AS BIGINT)
        |FROM (SELECT explode(sequence(0, 1023)) AS x)""".stripMargin)
    val before = CatalogSql.exec(spark, cat,
      "SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(a*32+b) AS BIGINT) AS s FROM t")
      .collect()(0)
    CatalogSql.exec(spark, cat, "OPTIMIZE t FILES 4 ZORDER BY (a, b)")
    val after = CatalogSql.exec(spark, cat,
      "SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(a*32+b) AS BIGINT) AS s FROM t")
      .collect()(0)
    assert(before == after) // recluster must not change the data
    assert(cat.history("t").last._2.startsWith("zorder(a,b)"))
    // each of the 4 z-clustered files covers ~a quadrant of the grid, not
    // the full range a row-major split would give
    val areas = cat.table("t")
      .groupBy(input_file_name().as("f"))
      .agg(((max("a") - min("a")) * (max("b") - min("b"))).as("area"))
      .collect().map(_.getLong(1))
    assert(areas.length == 4)
    assert(areas.max <= 500, s"file areas ${areas.toSeq} — not z-clustered (global 961)")
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source-only columns; plain MERGE drops them") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, v BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1, 10), (2, 20)")
    // plain MERGE: extra source column is dropped by schema alignment
    CatalogSql.exec(spark, cat,
      """MERGE INTO t USING (SELECT CAST(2 AS BIGINT) AS id,
        |CAST(99 AS BIGINT) AS v, CAST(7 AS BIGINT) AS extra) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(cat.schema("t").fieldNames.toSeq == Seq("id", "v"))
    // WITH SCHEMA EVOLUTION: the column lands, old rows read NULL
    CatalogSql.exec(spark, cat,
      """MERGE WITH SCHEMA EVOLUTION INTO t USING (
        |SELECT CAST(3 AS BIGINT) AS id, CAST(30 AS BIGINT) AS v,
        |CAST(7 AS BIGINT) AS extra) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(cat.schema("t").fieldNames.toSeq == Seq("id", "v", "extra"))
    val rows = CatalogSql.exec(spark, cat,
      "SELECT id, v, extra FROM t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(rows == Seq((1L, 10L, -1L), (2L, 99L, -1L), (3L, 30L, 7L)))
  }

  test("persisted SQL functions: scalar + table, persistence, guards") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat,
      "CREATE FUNCTION dbl(x BIGINT) RETURNS BIGINT RETURN x * 2")
    assert(CatalogSql.exec(spark, cat, "SELECT dbl(21) AS v")
      .collect()(0).getLong(0) == 42L)
    // table-valued function, usable in FROM
    CatalogSql.exec(spark, cat,
      "CREATE FUNCTION upto(n INT) RETURNS TABLE (x INT) RETURN SELECT explode(sequence(1, n))")
    assert(CatalogSql.exec(spark, cat, "SELECT SUM(x) AS s FROM upto(4)")
      .collect()(0).getLong(0) == 10L)
    // persisted: a fresh router session (temp registry wiped) still resolves
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS dbl")
    assert(CatalogSql.exec(spark, cat, "SELECT dbl(5) AS v")
      .collect()(0).getLong(0) == 10L)
    // plain CREATE on an existing name fails; OR REPLACE swaps the body
    intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat,
        "CREATE FUNCTION dbl(x BIGINT) RETURNS BIGINT RETURN x * 3")
    }
    CatalogSql.exec(spark, cat,
      "CREATE OR REPLACE FUNCTION dbl(x BIGINT) RETURNS BIGINT RETURN x * 3")
    assert(CatalogSql.exec(spark, cat, "SELECT dbl(5) AS v")
      .collect()(0).getLong(0) == 15L)
    // invalid body rejected AT CREATION, nothing persisted
    intercept[Exception] {
      CatalogSql.exec(spark, cat,
        "CREATE FUNCTION broken(x INT) RETURNS INT RETURN no_such_col + 1")
    }
    assert(!cat.functionExists("broken"))
    assert(CatalogSql.exec(spark, cat, "SHOW FUNCTIONS")
      .collect().map(_.getString(0)).toSet == Set("dbl", "upto"))
    CatalogSql.exec(spark, cat, "DROP FUNCTION upto")
    assert(!cat.functionExists("upto"))
  }

  test("COPY TO / COPY INTO round-trip parquet and validate formats") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, v STRING)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    val out = tempDir("graft_copy").toString
    val exp = CatalogSql.exec(spark, cat, s"COPY t TO '$out/p' FORMAT parquet")
      .collect()(0)
    assert(exp.getString(0) == "copy_to" && exp.getLong(2) == 2L)
    CatalogSql.exec(spark, cat, "CREATE TABLE u (id BIGINT, v STRING)")
    val imp = CatalogSql.exec(spark, cat, s"COPY INTO u FROM '$out/p'") // parquet default
      .collect()(0)
    assert(imp.getString(0) == "copy_into" && imp.getLong(2) == 2L)
    val rows = CatalogSql.exec(spark, cat, "SELECT id, v FROM u ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b")))
    // avro became a supported COPY TO format in round 14 (AvroCodec) —
    // the unsupported-format guard is asserted with a genuinely unknown one
    val e = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat, s"COPY t TO '$out/x' FORMAT xml")
    }
    assert(e.getMessage.contains("format"))
  }

  test("COPY INTO ... WITH QUARANTINE routes bad rows and rejects non-csv formats") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, v STRING)")
    CatalogSql.exec(spark, cat,
      "CREATE TABLE t_dead (id STRING, v STRING, _reason STRING)")
    val dir = tempDir("graft_qcsv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in.csv"), "id,v\n1,a\nnope,b\n3,c\n")
    val st = CatalogSql.exec(spark, cat,
      s"COPY INTO t FROM '$dir/in.csv' FORMAT csv WITH QUARANTINE t_dead")
      .collect()(0)
    assert(st.getString(0) == "copy_into" && st.getLong(2) == 2L)
    val dead = CatalogSql.exec(spark, cat,
      "SELECT id, _reason FROM t_dead").collect()
    assert(dead.length == 1 && dead(0).getString(0) == "nope" &&
      dead(0).getString(1) == "id")
    val e = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat,
        s"COPY INTO t FROM '$dir/in.csv' FORMAT parquet WITH QUARANTINE t_dead")
    }
    assert(e.getMessage.contains("QUARANTINE"))
  }

  test("REFRESH failure rolls the materialized view back to its prior snapshot") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE b (v BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO b VALUES (1), (2)")
    CatalogSql.exec(spark, cat,
      """CREATE MATERIALIZED VIEW m AS
        |SELECT CASE WHEN v > 50 THEN raise_error('boom') ELSE v END AS v
        |FROM b""".stripMargin)
    def total() = CatalogSql.exec(spark, cat, "SELECT SUM(v) AS s FROM m")
      .collect()(0).getLong(0)
    assert(total() == 3L)
    CatalogSql.exec(spark, cat, "INSERT INTO b VALUES (99)") // poisons refresh
    intercept[Exception] {
      CatalogSql.exec(spark, cat, "REFRESH MATERIALIZED VIEW m").collect()
    }
    assert(total() == 3L) // prior snapshot restored, not an empty view
  }

  test("EXPLAIN returns the formatted plan with pushed filters visible") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, v BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1, 10), (2, 20)")
    val plan = CatalogSql.exec(spark, cat, "EXPLAIN SELECT id FROM t WHERE v > 15")
      .collect()(0).getString(0)
    assert(plan.contains("PushedFilters") && plan.contains("v"))
  }

  test("CREATE TABLE ... CLONE and ERASE FROM route to cloneTable/eraseWhere") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, src STRING)")
    CatalogSql.exec(spark, cat,
      "INSERT INTO t VALUES (1, 'a'), (2, 'pii'), (3, 'a')")
    val st = CatalogSql.exec(spark, cat, "CREATE TABLE t2 SHALLOW CLONE t")
      .collect().head
    assert((st.getString(0), st.getString(1), st.getLong(2)) === (("clone", "t2", 1L)))
    CatalogSql.exec(spark, cat, "INSERT INTO t2 VALUES (9, 'extra')")
    assert(CatalogSql.exec(spark, cat, "SELECT COUNT(*) FROM t")
      .collect().head.getLong(0) === 3L)
    assert(CatalogSql.exec(spark, cat, "SELECT COUNT(*) FROM t2")
      .collect().head.getLong(0) === 4L)

    val er = CatalogSql.exec(spark, cat, "ERASE FROM t WHERE src = 'pii'")
      .collect().head
    assert((er.getString(0), er.getString(1), er.getLong(2)) === (("erase", "t", 1L)))
    assert(cat.versions("t").size === 1, "erase must purge history")
    assert(CatalogSql.exec(spark, cat, "SELECT COUNT(*) FROM t WHERE src = 'pii'")
      .collect().head.getLong(0) === 0L)

    // both are commands for the router
    assert(CatalogSql.isCommand("CREATE TABLE x CLONE y"))
    assert(CatalogSql.isCommand("ERASE FROM x WHERE a = 1"))
    // plain CREATE TABLE with a column list still parses as CREATE
    CatalogSql.exec(spark, cat, "CREATE TABLE t3 (c BIGINT)")
    assert(cat.schema("t3").fieldNames.toSeq === Seq("c"))
  }

  test("REPLACE WHERE condition may carry source keywords in literals/subqueries") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE rw (id BIGINT, note STRING)")
    CatalogSql.exec(spark, cat,
      "INSERT INTO rw VALUES (1, 'handle WITH care'), (2, 'plain'), (3, 'select x')")
    // a keyword INSIDE a string literal must not split the statement early
    val st = CatalogSql.exec(spark, cat,
      "INSERT INTO rw REPLACE WHERE note = 'handle WITH care' " +
        "SELECT 10, 'replaced'").collect().head
    assert(st.getString(0) === "replace_where")
    val back = CatalogSql.exec(spark, cat,
      "SELECT id, note FROM rw ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back === Seq((2L, "plain"), (3L, "select x"), (10L, "replaced")))
    // a keyword inside a parenthesized subquery in the condition survives
    CatalogSql.exec(spark, cat,
      "INSERT INTO rw REPLACE WHERE id IN (SELECT 2) VALUES (20, 'v')")
    assert(CatalogSql.exec(spark, cat, "SELECT COUNT(*) FROM rw WHERE id = 2")
      .collect().head.getLong(0) === 0L)
  }

  test("REPLACE WHERE scanner: backslash-escaped quotes and backticked identifiers") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE rw2 (id BIGINT, note STRING)")
    CatalogSql.exec(spark, cat,
      "INSERT INTO rw2 SELECT 1, 'it\\'s WITH x' UNION ALL SELECT 2, 'plain'")
    // Spark's default backslash escape: the literal contains an escaped
    // quote followed by a keyword — the scanner must stay inside the
    // string and not split the condition at that WITH
    val st = CatalogSql.exec(spark, cat,
      "INSERT INTO rw2 REPLACE WHERE note = 'it\\'s WITH x' " +
        "SELECT 10, 'replaced'").collect().head
    assert(st.getString(0) === "replace_where")
    val back = CatalogSql.exec(spark, cat,
      "SELECT id, note FROM rw2 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back === Seq((2L, "plain"), (10L, "replaced")))
    // a backtick-quoted identifier carrying a keyword-looking name is
    // not a split point either
    CatalogSql.exec(spark, cat,
      "INSERT INTO rw2 REPLACE WHERE `note` = 'replaced' VALUES (20, 'v2')")
    assert(CatalogSql.exec(spark, cat,
      "SELECT COUNT(*) FROM rw2 WHERE note = 'replaced'")
      .collect().head.getLong(0) === 0L)
  }

  test("TIMESTAMP AS OF accepts a bare date; unparseable forms fail with guidance") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE tt AS SELECT 1 AS a")
    // midnight-UTC date parse: predates the commit → loud "no retained
    // version" (proving the literal PARSED), not a DateTimeParseException
    val e1 = intercept[Exception] {
      CatalogSql.exec(spark, cat,
        "SELECT * FROM tt TIMESTAMP AS OF '2001-01-01'").collect()
    }
    assert(e1.getMessage.contains("no retained version"))
    val e2 = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat,
        "SELECT * FROM tt TIMESTAMP AS OF 'not-a-time'").collect()
    }
    assert(e2.getMessage.contains("accepted forms"))
    // a date at or after the commit resolves to the snapshot
    val tomorrow = java.time.LocalDate.now(java.time.ZoneOffset.UTC).plusDays(1)
    assert(CatalogSql.exec(spark, cat,
      s"SELECT * FROM tt TIMESTAMP AS OF '$tomorrow'")
      .collect().head.getInt(0) === 1)
  }

  test("UPDATE SET: a literal carrying WHERE stays inside its assignment") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, note STRING)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    val st = CatalogSql.exec(spark, cat, "UPDATE t SET note = 'moved WHERE needed'")
      .collect().head
    assert(st.getString(0) === "update" && st.getLong(2) === 2L)
    assert(CatalogSql.exec(spark, cat, "SELECT DISTINCT note FROM t").collect()
      .map(_.getString(0)).toSeq === Seq("moved WHERE needed"))
  }

  test("VERSION AS OF keeps the table's name: qualified columns resolve") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1), (2)") // v1
    CatalogSql.exec(spark, cat, "DELETE FROM t WHERE id = 2")     // v2
    assert(CatalogSql.exec(spark, cat, "SELECT t.id FROM t VERSION AS OF 1 ORDER BY t.id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("VERSION AS OF next to a backslash-escaped quote in a literal") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1), (2)") // v1
    CatalogSql.exec(spark, cat, "DELETE FROM t WHERE id = 2")     // v2
    val r = CatalogSql.exec(spark, cat,
      "SELECT 'it\\'s' AS s, COUNT(*) FROM t VERSION AS OF 1").collect().head
    assert(r.getString(0) === "it's" && r.getLong(1) === 2L)
  }

  test("backticked table names; DELETE without WHERE empties the table") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE `t` (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO `t` VALUES (1), (2), (3)")
    val del = CatalogSql.exec(spark, cat, "DELETE FROM `t` WHERE id = 1").collect().head
    assert(del.getString(1) === "t" && del.getLong(2) === 1L)
    assert(CatalogSql.exec(spark, cat, "DELETE FROM t").collect().head.getLong(2) === 2L)
    assert(cat.table("t").count() === 0L)
  }

  test("ALTER TABLE ADD COLUMN takes a complex type") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1)")
    CatalogSql.exec(spark, cat, "ALTER TABLE t ADD COLUMN tags ARRAY<STRING>")
    assert(cat.schema("t")("tags").dataType === ArrayType(StringType))
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (2, array('a', 'b'))")
    val rows = CatalogSql.exec(spark, cat, "SELECT id, tags FROM t ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.getSeq[String](1)))).toSeq
    assert(rows === Seq((1L, None), (2L, Some(Seq("a", "b")))))
  }

  test("time travel inside a CTE, an IN subquery and a MERGE source") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, v BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)") // v1
    CatalogSql.exec(spark, cat, "DELETE FROM t WHERE id >= 2")                     // v2
    def n(q: String) = CatalogSql.exec(spark, cat, q).collect().head.getLong(0)
    assert(n("WITH old AS (SELECT id FROM t VERSION AS OF 1) SELECT COUNT(*) FROM old") === 3L)
    assert(n("""WITH a AS (SELECT id FROM t VERSION AS OF 1),
               |b AS (SELECT id FROM a WHERE id IN (SELECT id FROM t VERSION AS OF 1 WHERE v > 15))
               |SELECT COUNT(*) FROM b""".stripMargin) === 2L)
    assert(n("SELECT COUNT(*) FROM t WHERE id NOT IN (SELECT id FROM t VERSION AS OF 1)") === 0L)
    CatalogSql.exec(spark, cat,
      """MERGE INTO t USING (SELECT id, v FROM t VERSION AS OF 1 WHERE id = 3) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(CatalogSql.exec(spark, cat, "SELECT id, v FROM t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 10L), (3L, 30L)))
  }

  test("MERGE takes a table as its source, bare or aliased") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT, v BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1, 1), (2, 2)")
    CatalogSql.exec(spark, cat, "CREATE TABLE u (id BIGINT, v BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO u VALUES (2, 20), (3, 30)")
    CatalogSql.exec(spark, cat,
      """MERGE INTO t USING u ON t.id = u.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    def rows() = CatalogSql.exec(spark, cat, "SELECT id, v FROM t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows() === Seq((1L, 1L), (2L, 20L), (3L, 30L)))
    CatalogSql.exec(spark, cat,
      """MERGE INTO t AS x USING u AS s ON x.id = s.id
        |WHEN MATCHED AND s.v >= 30 THEN DELETE""".stripMargin)
    assert(rows() === Seq((1L, 1L), (2L, 20L)))
  }

  test("forms graft does not implement stay unsupported statements") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1)")
    Seq(
      "INSERT OVERWRITE t SELECT CAST(2 AS BIGINT)",
      "INSERT INTO t (id) SELECT CAST(2 AS BIGINT)",
      "CREATE TABLE p (id INT) USING parquet",
      "CREATE TABLE IF NOT EXISTS t (id BIGINT)",
      """MERGE INTO t USING (SELECT CAST(1 AS BIGINT) AS id) s ON t.id = s.id
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin,
      "GRANT SELECT ON t TO someone").foreach { q =>
      val e = intercept[IllegalArgumentException](CatalogSql.exec(spark, cat, q))
      assert(e.getMessage.contains("unsupported statement"), q)
    }
    assert(cat.tables() === Seq("t") && cat.table("t").count() === 1L)
  }

  test("repl with a warehouse binds VERSION AS OF as CatalogSql.exec does") {
    val wh = CatalogOps.tempWarehouse()
    val out = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(
      spark, sf0001,
      Iterator(
        "CREATE TABLE tv (id BIGINT);",
        "INSERT INTO tv VALUES (1), (2), (3);", // v1
        "DELETE FROM tv WHERE id = 3;",         // v2
        "SELECT COUNT(*) AS n FROM tv VERSION AS OF 1;",
        "\\q"),
      out += _, warehouse = Some(wh))
    assert(!out(4).startsWith("error:"), out(4))
    assert(out(4).contains("| 3 "))
  }

  test("a view defined with VERSION AS OF reads that snapshot") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1), (2), (3)") // v1
    CatalogSql.exec(spark, cat, "DELETE FROM t WHERE id = 3")         // v2
    CatalogSql.exec(spark, cat, "CREATE VIEW old AS SELECT id FROM t VERSION AS OF 1")
    CatalogSql.exec(spark, cat, "CREATE VIEW old_big AS SELECT id FROM old WHERE id > 1")
    def n(q: String) = CatalogSql.exec(spark, cat, q).collect().head.getLong(0)
    assert(n("SELECT COUNT(*) FROM old") === 3L)
    assert(n("SELECT COUNT(*) FROM old_big") === 2L)
  }

  test("a statement reads only the tables it names: a broken table fails only its reads") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE a (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO a VALUES (1)")
    CatalogSql.exec(spark, cat, "CREATE TABLE b (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO b VALUES (1), (2)")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(cat.warehouse, "b"))
    try files.iterator().asScala.filter(_.toString.endsWith(".parquet")).take(1)
      .foreach(java.nio.file.Files.delete)
    finally files.close()
    def n(q: String) = CatalogSql.exec(spark, cat, q).collect().head.getLong(0)
    assert(n("SELECT COUNT(*) FROM a") === 1L)
    CatalogSql.exec(spark, cat, "INSERT INTO a VALUES (2)")
    assert(n("SELECT COUNT(*) FROM a") === 2L)
    intercept[Exception](n("SELECT COUNT(*) FROM b"))
  }

  test("repl with a warehouse: \\d and \\schema see the catalog from the first line") {
    val wh = CatalogOps.tempWarehouse()
    val cat = new Catalog(spark, wh)
    cat.create("first_kv", StructType(Seq(StructField("k", LongType), StructField("v", StringType))))
    cat.createView("first_kv_k", "SELECT k FROM first_kv")
    val out = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(
      spark, sf0001,
      Iterator("\\d", "\\schema first_kv", "\\d first_kv_k", "\\q"),
      out += _, warehouse = Some(wh))
    val listed = out(1).split("\n").toSet
    assert(Set("first_kv", "first_kv_k", "lineitem").subsetOf(listed), out(1))
    assert(out(2).startsWith("first_kv (") && out(2).contains("  k BIGINT"), out(2))
    assert(out(3).contains("k: long") && !out(3).contains("v:"), out(3))
  }

  test("a CTE named like a catalog table shadows it; its body still reads the table") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1), (2), (3)")
    def n(q: String) = CatalogSql.exec(spark, cat, q).collect().head.getLong(0)
    assert(n("WITH t AS (SELECT CAST(7 AS BIGINT) AS id) SELECT COUNT(*) FROM t") === 1L)
    assert(n("WITH t AS (SELECT CAST(7 AS BIGINT) AS id) " +
      "SELECT COUNT(*) FROM (SELECT id FROM t WHERE id IN (SELECT id FROM t))") === 1L)
    assert(n("WITH u AS (SELECT id FROM t WHERE id > 1) SELECT COUNT(*) FROM u") === 2L)
  }

  test("two views that refer to each other fail with an error naming both") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1)")
    CatalogSql.exec(spark, cat, "CREATE VIEW va AS SELECT id FROM t")
    CatalogSql.exec(spark, cat, "CREATE VIEW vb AS SELECT id FROM va")
    // closing the cycle through SQL is refused, and the old definition stays
    val e1 = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat, "CREATE OR REPLACE VIEW va AS SELECT id FROM vb")
    }
    assert(e1.getMessage.contains("va") && e1.getMessage.contains("vb"), e1.getMessage)
    assert(cat.viewSql("va") === "SELECT id FROM t")
    // a cycle stored by the API fails where it is read
    cat.createView("va", "SELECT id FROM vb", orReplace = true)
    val e2 = intercept[IllegalArgumentException] {
      CatalogSql.exec(spark, cat, "SELECT COUNT(*) FROM vb").collect()
    }
    assert(e2.getMessage.contains("va") && e2.getMessage.contains("vb"), e2.getMessage)
  }

  test("CREATE FUNCTION rejects a body that reads a catalog table or view") {
    val cat = freshCat()
    CatalogSql.exec(spark, cat, "CREATE TABLE t (id BIGINT)")
    CatalogSql.exec(spark, cat, "INSERT INTO t VALUES (1), (2)")
    CatalogSql.exec(spark, cat, "CREATE VIEW v AS SELECT id FROM t")
    Seq(
      "CREATE FUNCTION cnt() RETURNS BIGINT RETURN (SELECT COUNT(*) FROM t)" -> "table t",
      "CREATE FUNCTION big2() RETURNS TABLE (id BIGINT) RETURN SELECT id FROM v WHERE id > 1" ->
        "view v").foreach { case (q, rel) =>
      val e = intercept[IllegalArgumentException](CatalogSql.exec(spark, cat, q))
      assert(e.getMessage.contains(rel) && e.getMessage.contains("define a view"), e.getMessage)
    }
    assert(cat.functions().isEmpty)
    // a body that names a CTE of a catalog table's name reads no catalog table
    CatalogSql.exec(spark, cat,
      "CREATE FUNCTION seven() RETURNS TABLE (id INT) RETURN WITH t AS (SELECT 7 AS id) SELECT id FROM t")
    assert(CatalogSql.exec(spark, cat, "SELECT id FROM seven()").collect().head.getInt(0) === 7)
  }

  test("column names with '.' or '`' are rejected on every schema path") {
    val cat = freshCat()
    Seq("a.b", "a`b").foreach { c =>
      val e = intercept[IllegalArgumentException] {
        cat.create("t", StructType(Seq(StructField(c, LongType))))
      }
      assert(e.getMessage.contains(c))
    }
    intercept[IllegalArgumentException](cat.nest("n", spark.range(1).toDF("a.b")))
    CatalogSql.exec(spark, cat, "CREATE TABLE u (id BIGINT)")
    Seq(
      "CREATE TABLE w (`x.y` BIGINT)",
      "CREATE TABLE w AS SELECT 1 AS `x.y`",
      "ALTER TABLE u ADD COLUMN `x.y` BIGINT",
      "ALTER TABLE u RENAME COLUMN id TO `x``y`").foreach { q =>
      val e = intercept[IllegalArgumentException](CatalogSql.exec(spark, cat, q))
      assert(e.getMessage.contains("may not contain"), q)
    }
    assert(cat.tables() === Seq("u") && cat.schema("u").fieldNames.toSeq === Seq("id"))
    // the warehouse stays usable
    CatalogSql.exec(spark, cat, "INSERT INTO u VALUES (1)")
    assert(CatalogSql.exec(spark, cat, "SELECT COUNT(*) FROM u").collect().head.getLong(0) === 1L)
  }
}
