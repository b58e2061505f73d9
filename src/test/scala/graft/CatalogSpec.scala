package graft

import java.nio.file.Files

import graft.sources.Catalog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Catalog lifecycle: create/insert/read/partitions/delete/drop/nest,
  * plus the plan-level guarantees (partition pruning) the storage layout
  * exists to provide.
  */
class CatalogSpec extends SparkSpec {

  private def freshCatalog() = new Catalog(spark, tempDir("graft_cat_test_").toString)

  test("create → insert → table round-trips data and schema") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs)
    val back = cat.table("docs")
    assert(back.count() == docs.count())
    assert(back.schema.fieldNames.sorted.sameElements(docs.schema.fieldNames.sorted))
    assert(cat.tables() == Seq("docs"))
  }

  test("declared schema is enforced: missing column fails insert") {
    val cat = freshCatalog()
    cat.create("t", StructType(Seq(
      StructField("a", LongType), StructField("b", StringType))))
    val bad = spark.range(3).toDF("a") // no column b
    assertThrows[Exception] { cat.insert("t", bad) }
  }

  test("uint64AsDecimal round-trips full-range values above 2^63") {
    val cat = freshCatalog()
    // default mapping stays LongType (the fast path)
    cat.createFromSpecs("narrow", Seq("uint64 ctr", "string k"))
    assert(cat.schema("narrow")("ctr").dataType == LongType)
    // opt-in: DecimalType(20,0) holds all of [0, 2^64)
    cat.createFromSpecs("wide64", Seq("index uint64 ctr", "string k"),
      uint64AsDecimal = true)
    assert(cat.schema("wide64")("ctr").dataType == DecimalType(20, 0))
    val maxU64 = "18446744073709551615" // 2^64 - 1, > Long.MaxValue
    val rows = spark.createDataFrame(Seq(
      (maxU64, "max"), ("9223372036854775808", "2^63"), ("0", "zero")))
      .toDF("ctr", "k") // strings; insert casts to the declared decimal
    cat.insert("wide64", rows)
    val back = cat.table("wide64").orderBy("k")
      .select(col("ctr").cast("string"), col("k")).collect()
    assert(back.map(_.getString(0)).sameElements(
      Array("9223372036854775808", maxU64, "0")))
    // aggregates stay exact in the full range (no silent wraparound)
    val sum = cat.table("wide64").agg(org.apache.spark.sql.functions.sum("ctr"))
      .collect().head.getDecimal(0)
    assert(sum == new java.math.BigDecimal(maxU64)
      .add(new java.math.BigDecimal("9223372036854775808")))
  }

  test("partitions() lists hive partition values; deletePartition removes one") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs)
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).sorted
    assert(cat.partitions("docs").sameElements(langs))
    cat.deletePartition("docs", langs.head)
    assert(cat.partitions("docs").sameElements(langs.tail))
    assert(cat.table("docs").filter(col("lang") === langs.head).count() == 0)
  }

  test("filter on partition column prunes partitions in the plan") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs)
    val q = cat.table("docs").filter(col("lang") === "en")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    // FileSourceScan advertises partition filters; only lang=en read
    assert(scan.contains("PartitionFilters") && scan.contains("lang"))
    val expected = docs.filter(col("lang") === "en").count()
    assert(q.count() == expected)
  }

  test("nest materializes a result as a queryable table") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    val nested = cat.nest("long_docs", docs.filter(col("n_chars") > 200))
    assert(nested.count() == docs.filter(col("n_chars") > 200).count())
    assert(cat.tables().contains("long_docs"))
  }

  test("insertJson ingests JSON lines against the declared schema") {
    val cat = freshCatalog()
    val dir = tempDir("graft_json_")
    Files.writeString(dir.resolve("part1.json"),
      """{"a": 1, "b": "x"}
        |{"a": 2, "b": "y"}
        |""".stripMargin)
    cat.create("j", StructType(Seq(
      StructField("a", LongType), StructField("b", StringType))))
    cat.insertJson("j", dir.toString)
    assert(cat.table("j").count() == 2)
    assert(cat.table("j").agg(sum("a")).collect().head.getLong(0) == 3L)
  }

  test("insertCsv round-trips a Spark-written CSV byte-exactly") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    val dir = tempDir("graft_csv_").toString + "/stage"
    docs.write.option("header", "true").option("escape", "\"").csv(dir)
    cat.create("docs_csv", docs.schema)
    cat.insertCsv("docs_csv", dir)
    val fp = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("doc_id"), md5(col("text")).as("h"), col("lang"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(fp(cat.table("docs_csv")) == fp(docs))
  }

  test("insertOrc maps columns by NAME (survives a reordered ORC file)") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    val dir = tempDir("graft_orc_").toString + "/stage"
    // write the ORC stage with columns deliberately reordered: a positional
    // decoder (the CSV contract) would garble this; ORC's footer schema
    // must map them back by name
    docs.select("text", "n_chars", "doc_id", "source", "lang").write.orc(dir)
    cat.create("docs_orc", docs.schema)
    cat.insertOrc("docs_orc", dir)
    val fp = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("doc_id"), md5(col("text")).as("h"), col("lang"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(fp(cat.table("docs_orc")) == fp(docs))
  }

  test("addColumn: old files read the default, inserts may omit the column") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "lang")
    cat.create("ev", docs.schema)
    cat.insert("ev", docs.filter(col("doc_id") < 100))
    cat.addColumn("ev", "score", org.apache.spark.sql.types.LongType, "42")
    // new insert SUPPLYING the column
    cat.insert("ev", docs.filter(col("doc_id").between(100, 199))
      .withColumn("score", col("doc_id") * 2))
    // new insert OMITTING the column — default fills at write
    cat.insert("ev", docs.filter(col("doc_id").between(200, 299)))
    val got = cat.table("ev").select("doc_id", "score")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, sc) =>
      val want = if (id < 100 || id >= 200) 42L else id * 2
      assert(sc == want, s"doc $id: score $sc, want $want")
    }
    assert(got.keys.exists(_ < 100) && got.keys.exists(_ >= 200))
    // the evolved schema round-trips
    assert(cat.schema("ev").fieldNames.contains("score"))
    intercept[IllegalArgumentException](
      cat.addColumn("ev", "score", org.apache.spark.sql.types.LongType, "0"))
  }

  test("dropColumn hides the column from reads and future inserts cast-project it away") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "lang", "n_chars")
    cat.create("dc", docs.schema)
    cat.insert("dc", docs.filter(col("doc_id") < 100))
    cat.dropColumn("dc", "n_chars")
    assert(!cat.schema("dc").fieldNames.contains("n_chars"))
    assert(cat.table("dc").columns.toSeq == Seq("doc_id", "lang"))
    // inserts under the evolved schema ignore the dropped column
    cat.insert("dc", docs.filter(col("doc_id").between(100, 199)))
    assert(cat.table("dc").count() == docs.filter(col("doc_id") < 200).count())
    intercept[IllegalArgumentException](cat.dropColumn("dc", "nope"))
  }

  test("renameColumn is metadata-only: old files and new inserts keep working") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "lang", "n_chars")
    cat.create("rn", docs.schema)
    cat.insert("rn", docs.filter(col("doc_id") < 100))
    cat.renameColumn("rn", "n_chars", "len_chars")
    assert(cat.table("rn").columns.toSeq == Seq("doc_id", "lang", "len_chars"))
    // pre-rename file data reads under the new logical name
    val want = docs.filter(col("doc_id") < 100)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    def got() = cat.table("rn").select("doc_id", "len_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got() == want)
    // inserts address the new name; compact preserves the mapping
    cat.insert("rn", docs.filter(col("doc_id").between(100, 199))
      .withColumnRenamed("n_chars", "len_chars"))
    cat.compact("rn")
    assert(got().size == docs.filter(col("doc_id") < 200).count())
    assert(got().view.filterKeys(_ < 100).toMap == want)
    intercept[IllegalArgumentException](cat.renameColumn("rn", "nope", "x"))
    intercept[IllegalArgumentException](cat.renameColumn("rn", "doc_id", "lang"))
  }

  test("re-adding a dropped (or renamed-away) column never resurrects old bytes") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "lang", "n_chars")
    cat.create("rz", docs.schema)
    cat.insert("rz", docs.filter(col("doc_id") < 100)) // real n_chars values on disk
    cat.dropColumn("rz", "n_chars")
    cat.addColumn("rz", "n_chars", LongType, "-1")
    // the pre-drop bytes still exist in the files under the old physical
    // name, but the re-added column maps to fresh storage → default only
    val afterReadd = cat.table("rz").select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(afterReadd.nonEmpty && afterReadd.forall(_._2 == -1L),
      "re-added column leaked pre-drop values")
    // renaming away then re-adding the freed name is the same hazard
    cat.renameColumn("rz", "n_chars", "n2")
    cat.addColumn("rz", "n_chars", LongType, "7")
    val r = cat.table("rz").select("n2", "n_chars").distinct().collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSet == Set((-1L, 7L)))
  }

  test("widenColumn upcasts old narrow files in the scan; rejects lossy alters") {
    val cat = freshCatalog()
    cat.create("wd", StructType(Seq(
      StructField("id", LongType), StructField("v", IntegerType),
      StructField("x", FloatType))))
    cat.insert("wd", spark.range(5).select(col("id"),
      col("id").cast("int").as("v"), (col("id") * 1.5f).cast("float").as("x")))
    cat.widenColumn("wd", "v", LongType)
    cat.widenColumn("wd", "x", DoubleType)
    assert(cat.schema("wd")("v").dataType == LongType)
    // old int32/float files read under the widened schema
    val got = cat.table("wd").select("id", "v", "x")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == (0L until 5L).map(i => (i, i, i * 1.5)).toSet)
    // new inserts write the wide type alongside the narrow files
    cat.insert("wd", spark.range(5, 8).select(col("id"),
      (col("id") + 10000000000L).as("v"), lit(0.5d).as("x")))
    assert(cat.table("wd").agg(max("v")).collect().head.getLong(0) > 10000000000L)
    intercept[IllegalArgumentException](cat.widenColumn("wd", "v", IntegerType)) // narrowing
    intercept[IllegalArgumentException](cat.widenColumn("wd", "x", LongType)) // cross-family
    intercept[IllegalArgumentException](cat.widenColumn("wd", "nope", LongType))
  }

  test("compact on a created-but-never-inserted table is a no-op, not a crash") {
    val cat = freshCatalog()
    cat.create("virgin", StructType(Seq(
      StructField("a", LongType), StructField("b", StringType))))
    cat.compact("virgin") // used to throw NoSuchFileException at the swap
    assert(cat.table("virgin").count() == 0)
    assert(cat.tables().contains("virgin"))
  }

  test("defaulted added columns are effectively NOT NULL on read (pinned restriction)") {
    // documented deviation from SQL ADD COLUMN DEFAULT (see Catalog.addColumn):
    // without per-file schema versions, a stored NULL and a pre-column file
    // are indistinguishable, so an explicit NULL reads back as the default —
    // and compact() must not change that visible behavior
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "lang")
    cat.create("nn", docs.schema)
    cat.insert("nn", docs.filter(col("doc_id") < 50))
    cat.addColumn("nn", "score", LongType, "42")
    cat.insert("nn", docs.filter(col("doc_id").between(50, 99))
      .withColumn("score", lit(null).cast("long")))
    def scores() = cat.table("nn").select("score")
      .collect().map(_.getLong(0)).toSet
    assert(scores() == Set(42L))
    cat.compact("nn")
    assert(scores() == Set(42L), "compact changed visible defaulted-column values")
  }

  test("compact shrinks a fragmented table to targetFiles without changing content") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("frag", docs.schema)
    cat.insert("frag", docs.repartition(16))
    def dataFiles() = {
      val dir = new java.io.File(cat.warehouse + "/frag/data")
      dir.listFiles().count(f => f.getName.endsWith(".parquet"))
    }
    val fp = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = fp(cat.table("frag"))
    assert(dataFiles() >= 16)
    cat.compact("frag", targetFiles = 2)
    // the fragments stay on disk for time travel until a vacuum reclaims
    // them; the LIVE version reads exactly the 2 compacted files
    assert(dataFiles() >= 18)
    assert(fp(cat.table("frag")) == before, "compaction must not change content")
    cat.vacuum("frag")
    assert(dataFiles() == 2, "vacuum must leave exactly the live compacted files")
    assert(fp(cat.table("frag")) == before, "vacuum must not change content")
  }

  test("vacuum age-gates never-referenced orphans but reclaims dropped history") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("vgate", docs.schema)
    cat.insert("vgate", docs.repartition(4))
    cat.compact("vgate", targetFiles = 1) // v1 files become dropped history
    val dataDir = java.nio.file.Paths.get(cat.warehouse, "vgate", "data")
    // simulate a RACING writer mid-commit: a fresh staging dir and a
    // fresh moved-but-uncommitted data file — a vacuum with the default
    // retention must leave both alone (deleting them is the silent
    // corruption the OCC commit path can't defend against)
    val staging = java.nio.file.Paths.get(
      dataDir.toString + ".stage_tmp_racer1")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.writeString(staging.resolve("part-x.parquet"), "x")
    val inflight = dataDir.resolve("part-inflight-uuid.parquet")
    java.nio.file.Files.writeString(inflight, "y")
    cat.vacuum("vgate")
    assert(java.nio.file.Files.exists(staging),
      "fresh staging dir must survive a default vacuum")
    assert(java.nio.file.Files.exists(inflight),
      "fresh never-referenced file must survive a default vacuum")
    // dropped-history files ARE reclaimed in the same call
    def parquetFiles() = java.nio.file.Files.list(dataDir).iterator()
    import scala.jdk.CollectionConverters._
    assert(parquetFiles().asScala.count(
      _.getFileName.toString.endsWith(".parquet")) == 2,
      "live + in-flight only: the 4 dropped v1 fragments must be gone")
    // once the orphans AGE past the window they are crash debris: a
    // zero-retention vacuum (no concurrent writers, the test's claim)
    // sweeps both
    cat.vacuum("vgate", orphanRetainMillis = 0L)
    assert(!java.nio.file.Files.exists(staging),
      "aged staging dir is crash debris — swept")
    assert(!java.nio.file.Files.exists(inflight),
      "aged never-referenced file is crash debris — swept")
    assert(cat.table("vgate").count() == docs.count())
  }

  test("compact preserves the Hive partition layout of a partitioned table") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("fragp", docs.schema, partitionBy = Some("lang"))
    cat.insert("fragp", docs.repartition(8))
    val before = cat.table("fragp")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    cat.compact("fragp", targetFiles = 1)
    val after = cat.table("fragp")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before)
    // partition directories survive the rewrite
    assert(cat.partitions("fragp").nonEmpty)
  }

  test("z-order layout prunes most files for a 2-D box; results identical") {
    val ev = Tables.events(spark, sf0001).select("event_id", "user_id", "value")
    val dir = tempDir("graft_z_").toString + "/z"
    val stats = graft.sources.ZOrder.writeZOrdered(ev, "user_id", "value", dir, numFiles = 8)
    assert(stats.size == 8)
    // the box spans ~1/2 of the user range and ~1/8 of the value range;
    // a z-ordered layout must localize it to a strict subset of files
    // (a single-column or unsorted layout overlaps all of them)
    val sel = stats.count(s =>
      s.xMax >= 3.0 && s.xMin <= 9.0 && s.yMax >= 20.0 && s.yMin <= 60.0)
    assert(sel < stats.size, s"box overlapped all ${stats.size} files — no clustering")
    val pruned = graft.sources.ZOrder.readPruned(spark, dir, (3.0, 9.0), (20.0, 60.0))
      .filter(col("user_id").between(3, 9) && col("value").between(20.0, 60.0))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val full = ev
      .filter(col("user_id").between(3, 9) && col("value").between(20.0, 60.0))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(pruned == full)
    assert(full.nonEmpty)
  }

  test("3-D z-order layout prunes a strict subset for a 3-D box; results identical") {
    val ev = Tables.events(spark, sf0001).select(col("event_id"), col("user_id"),
      col("value"), expr("ts_ns div 1000000000").as("ts_sec"))
    val dir = tempDir("graft_z3_").toString + "/z3"
    val cols = Seq("user_id", "value", "ts_sec")
    val stats = graft.sources.ZOrder.writeZOrdered(ev, cols, dir, numFiles = 8)
    assert(stats.size == 8)
    assert(stats.forall(s => s.mins.size == 3 && s.maxs.size == 3))
    // low users × a value band × one week (Jan 5 – Jan 12) of the month
    val ranges = Seq((3.0, 9.0), (20.0, 60.0), (1704412800.0, 1705017600.0))
    val sel = stats.count(s => ranges.zipWithIndex.forall { case ((lo, hi), i) =>
      s.maxs(i) >= lo && s.mins(i) <= hi
    })
    assert(sel < stats.size, s"3-D box overlapped all ${stats.size} files — no clustering")
    val exact = col("user_id").between(3, 9) && col("value").between(20.0, 60.0) &&
      col("ts_sec").between(1704412800L, 1705017600L)
    val pruned = graft.sources.ZOrder.readPruned(spark, dir, ranges)
      .filter(exact).select("event_id").collect().map(_.getLong(0)).toSet
    val full = ev.filter(exact).select("event_id").collect().map(_.getLong(0)).toSet
    assert(pruned == full)
    assert(full.nonEmpty)
    // a mismatched box dimensionality is rejected loudly
    intercept[IllegalArgumentException] {
      graft.sources.ZOrder.readPruned(spark, dir, Seq((0.0, 1.0))).count()
    }
  }

  test("hilbert kernel: roundtrip vs independent inverse; consecutive indices are grid neighbors") {
    import graft.plans.HilbertIndex2D
    // independent d→(x,y) inverse (standard walk, written fresh here so
    // the kernel is checked against a second implementation, not itself)
    def d2xy(d0: Long): (Long, Long) = {
      var rx = 0L; var ry = 0L; var t = d0
      var x = 0L; var y = 0L
      var s = 1L
      while (s < (1L << HilbertIndex2D.Order)) {
        rx = 1L & (t / 2)
        ry = 1L & (t ^ rx)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val tmp = x; x = y; y = tmp
        }
        x += s * rx
        y += s * ry
        t /= 4
        s *= 2
      }
      (x, y)
    }
    val max = 1L << (2 * HilbertIndex2D.Order)
    // roundtrip across the whole range (stride keeps it fast) + the edges
    val samples = (0L until max by 104729L) ++ Seq(0L, 1L, max - 2, max - 1)
    samples.foreach { d =>
      val (x, y) = d2xy(d)
      assert(HilbertIndex2D.xy2d(x, y) == d, s"roundtrip failed at d=$d ($x,$y)")
    }
    // THE Hilbert property (what Z-order lacks): consecutive indices are
    // always grid neighbors — no diagonal jumps
    samples.filter(_ < max - 1).foreach { d =>
      val (x1, y1) = d2xy(d)
      val (x2, y2) = d2xy(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve jumped at d=$d: ($x1,$y1) -> ($x2,$y2)")
    }
    // bijective on a subgrid; out-of-range inputs clamp, never corrupt
    val grid = for (x <- 0L until 64L; y <- 0L until 64L) yield HilbertIndex2D.xy2d(x, y)
    assert(grid.distinct.size == 64 * 64)
    assert(HilbertIndex2D.xy2d(-5L, 99999999L) == HilbertIndex2D.xy2d(0L, (1L << 16) - 1))
  }

  test("hilbert layout prunes files for a 2-D box; results identical to plain filter") {
    val ev = Tables.events(spark, sf0001).select("event_id", "user_id", "value")
    val dir = tempDir("graft_h_").toString + "/h"
    val stats = graft.sources.ZOrder.writeHilbertClustered(
      ev, "user_id", "value", dir, numFiles = 8)
    assert(stats.size == 8)
    val sel = stats.count(s =>
      s.xMax >= 10.0 && s.xMin <= 14.0 && s.yMax >= 40.0 && s.yMin <= 80.0)
    assert(sel < stats.size, s"box overlapped all ${stats.size} files — no clustering")
    val exact = col("user_id").between(10, 14) && col("value").between(40.0, 80.0)
    val pruned = graft.sources.ZOrder.readPruned(spark, dir, (10.0, 14.0), (40.0, 80.0))
      .filter(exact).select("event_id").collect().map(_.getLong(0)).toSet
    val full = ev.filter(exact).select("event_id").collect().map(_.getLong(0)).toSet
    assert(pruned == full)
    assert(full.nonEmpty)
    // >2 dims is rejected loudly — the kernel is 2-D
    intercept[IllegalArgumentException] {
      graft.sources.ZOrder.writeClustered(
        ev.withColumn("z", lit(1.0)), Seq("user_id", "value", "z"), dir + "3", 2, {
          case Seq((x, xLo, xHi), (y, yLo, yHi)) =>
            graft.sources.ZOrder.hilbertValue2(x, xLo, xHi, y, yLo, yHi)
          case dims => throw new IllegalArgumentException(
            s"hilbert clustering is 2-D, got ${dims.size} dims")
        })
    }
  }

  test("predicate-form delete drops exactly the named partition") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs)
    val before = cat.partitions("docs")
    cat.delete("docs", col("lang") === "en")
    assert(cat.partitions("docs") == before.filterNot(_ == "en"))
    assert(cat.table("docs").filter(col("lang") === "en").isEmpty)
    // literal-first order also accepted
    cat.delete("docs", lit("de") === col("lang"))
    assert(!cat.partitions("docs").contains("de"))
  }

  test("predicate-form delete rejects non-partition and non-equality conditions") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs)
    assertThrows[IllegalArgumentException] {
      cat.delete("docs", col("source") === "web") // not the partition column
    }
    assertThrows[IllegalArgumentException] {
      cat.delete("docs", col("lang") =!= "en") // not an equality
    }
    assert(cat.table("docs").count() == docs.count(), "rejected deletes must not mutate")
  }

  // data-file listing (name → size), the granularity witness for COW DML
  private def dataFiles(cat: Catalog, table: String): Map[String, Long] = {
    val dir = java.nio.file.Paths.get(cat.warehouse, table, "data")
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
    } finally s.close()
  }

  test("deleteRows removes exactly the matching rows and returns the count") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs)
    val cond = col("source") === "src0" || col("n_chars") % 17 === 3
    val expectDel = docs.filter(cond).count()
    val expectKeep = docs.filter(!cond).count()
    assert(cat.deleteRows("docs", cond) == expectDel)
    val back = cat.table("docs")
    assert(back.count() == expectKeep)
    assert(back.filter(cond).isEmpty)
    // idempotent: nothing left to delete, and a no-match delete is free
    assert(cat.deleteRows("docs", cond) == 0L)
    assert(cat.deleteRows("docs", col("lang") === "no_such_lang") == 0L)
  }

  test("deleteRows is file-granular: files without matching rows keep their bytes") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    // fragment: several files per partition so granularity is observable
    cat.insert("docs", docs.repartition(4))
    val before = dataFiles(cat, "docs")
    // target one partition's rows only → other partitions' files untouched
    val deleted = cat.deleteRows("docs", col("lang") === "en" && col("n_chars") % 2 === 0)
    assert(deleted > 0)
    // vacuum to the live version so the physical tree IS the manifest view
    cat.vacuum("docs")
    val after = dataFiles(cat, "docs")
    val untouchedBefore = before.filterNot(_._1.contains("lang=en"))
    val untouchedAfter = after.filterNot(_._1.contains("lang=en"))
    assert(untouchedAfter == untouchedBefore,
      "files outside lang=en must keep identical paths and sizes")
    assert(after.keySet.exists(_.contains("lang=en")), "retained en rows rewritten")
    assert((before.keySet -- after.keySet).forall(_.contains("lang=en")),
      "only en files may have been replaced")
  }

  test("row-level DML fails loudly above the driver-side manifest bound") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001).limit(100)
    cat.create("docs", docs.schema)
    cat.insert("docs", docs.repartition(4)) // ≥2 data files
    spark.conf.set("graft.dml.maxAffectedFiles", "1")
    try {
      val e = intercept[Catalog.ManifestScaleException] {
        cat.deleteRows("docs", col("n_chars") >= 0) // touches every file
      }
      assert(e.getMessage.contains("graft.dml.maxAffectedFiles"))
      intercept[Catalog.ManifestScaleException] {
        cat.merge("docs", cat.table("docs"), "doc_id")
      }
      // the guard fired BEFORE any commit: table unchanged
      assert(cat.table("docs").count() == 100)
    } finally spark.conf.unset("graft.dml.maxAffectedFiles")
    // at the default bound the identical delete proceeds
    assert(cat.deleteRows("docs", col("n_chars") >= 0) == 100L)
  }

  test("deleteRows that empties a partition drops its directory") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs)
    assert(cat.partitions("docs").contains("en"))
    cat.deleteRows("docs", col("lang") === "en")
    assert(!cat.partitions("docs").contains("en"))
    assert(cat.table("docs").filter(col("lang") === "en").isEmpty)
  }

  test("merge upserts: matched keys replaced in place, new keys appended") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs)
    val n = docs.count()
    val upd = docs.filter(col("doc_id") % 7 === 3)
      .withColumn("source", lit("merged"))
      .unionByName(docs.filter(col("doc_id") % 11 === 5)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .withColumn("source", lit("fresh")))
    val nMatch = docs.filter(col("doc_id") % 7 === 3).count()
    val nNew = docs.filter(col("doc_id") % 11 === 5).count()
    assert(cat.merge("docs", upd, "doc_id") == ((nMatch, nNew)))
    val back = cat.table("docs")
    assert(back.count() == n + nNew)
    assert(back.filter(col("source") === "merged").count() == nMatch)
    assert(back.filter(col("source") === "fresh").count() == nNew)
    // every matched key now carries the update's values, exactly once
    assert(back.filter(col("doc_id") % 7 === 3 && col("doc_id") < 10000000L
      && col("source") =!= "merged").isEmpty)
    assert(back.select("doc_id").distinct().count() == back.count())
  }

  test("merge is file-granular and rejects non-key-unique updates") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs)
    val before = dataFiles(cat, "docs")
    // updates touch only lang=en rows → only en files rewritten
    val upd = docs.filter(col("lang") === "en" && col("doc_id") % 3 === 0)
      .withColumn("source", lit("merged"))
    cat.merge("docs", upd, "doc_id")
    cat.vacuum("docs") // physical tree == live manifest view
    val after = dataFiles(cat, "docs")
    assert(after.filterNot(_._1.contains("lang=en"))
      == before.filterNot(_._1.contains("lang=en")))
    assert((before.keySet -- after.keySet).forall(_.contains("lang=en")),
      "only en files may have been replaced by the merge")
    // duplicate keys in updates → loud rejection, no mutation
    val dup = upd.unionByName(upd.limit(1))
    val snapshot = dataFiles(cat, "docs")
    assertThrows[IllegalArgumentException] { cat.merge("docs", dup, "doc_id") }
    assert(dataFiles(cat, "docs") == snapshot)
  }

  test("merge touching exactly maxAffectedFiles commits; cap-1 still throws") {
    // r17 advisor: the rollup grand-total row rode along in the bounded
    // manifest collect, silently shrinking merge's effective cap to cap-1
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001).limit(100)
    cat.create("docs", docs.schema)
    cat.insert("docs", docs.repartition(4))
    val nFiles = dataFiles(cat, "docs").size
    assert(nFiles >= 2)
    val upd = cat.table("docs").withColumn("source", lit("m"))
    spark.conf.set("graft.dml.maxAffectedFiles", nFiles.toString)
    try {
      // touches every file = exactly the cap → must commit, not throw
      assert(cat.merge("docs", upd, "doc_id") == ((100L, 0L)))
      assert(cat.table("docs").filter(col("source") === "m").count() == 100)
      spark.conf.set("graft.dml.maxAffectedFiles", (nFiles - 1).toString)
      intercept[Catalog.ManifestScaleException] {
        cat.merge("docs", cat.table("docs"), "doc_id")
      }
    } finally spark.conf.unset("graft.dml.maxAffectedFiles")
  }

  test("merge accepts one NULL-keyed update row (inserted), rejects two") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001).limit(50)
    cat.create("docs", docs.schema)
    cat.insert("docs", docs)
    val nullRow = docs.limit(1)
      .withColumn("doc_id", lit(null).cast("long"))
      .withColumn("source", lit("nullkey"))
    // SQL equality never matches NULL: the row matches nothing, inserts
    assert(cat.merge("docs", nullRow, "doc_id") == ((0L, 1L)))
    val back = cat.table("docs")
    assert(back.count() == 51)
    assert(back.filter(col("doc_id").isNull).count() == 1)
    // two NULL-keyed rows are duplicates of the null key group
    assertThrows[IllegalArgumentException] {
      cat.merge("docs", nullRow.unionByName(nullRow), "doc_id")
    }
    // mergeConditional applies the same rule
    val upsert = (rows: org.apache.spark.sql.DataFrame) => cat.mergeConditional(
      "docs", rows, "doc_id", Seq(Catalog.MatchedClause(None, delete = false)), Seq(None))
    assert(upsert(nullRow) == ((0L, 0L, 1L)))
    assert(cat.table("docs").filter(col("doc_id").isNull).count() == 2)
    assertThrows[IllegalArgumentException] { upsert(nullRow.unionByName(nullRow)) }
    assert(cat.table("docs").count() == 52)
  }

  /** `op` once on each path a merge source can take: the default, and
    * with broadcasting switched off, which sends every source down the
    * pinned path.
    */
  private def onBothPaths(op: String => Unit): Unit = {
    op("default")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try op("no broadcast")
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a merge evaluates its source once: its counts agree with the rows it writes") {
    // every evaluation of the source draws the next 20 keys of a
    // 0..59 cycle, so a second evaluation sees other keys than the first
    val key = udf(() => CatalogSpec.sourceDraws.getAndIncrement() % 60).asNondeterministic()
    onBothPaths { path =>
      val cat = freshCatalog()
      idTable(cat, "t", 40)
      CatalogSpec.sourceDraws.set(30)
      val upd = spark.range(20).select(key().as("id"))
        .select(col("id"), (col("id") % 4).cast("int").as("p"), lit(-1L).as("v"))
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val (matched, inserted) = cat.merge("t", upd, "id")
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted, s"$path: pin released")
      val back = cat.table("t")
      val written = back.filter(col("v") === -1L)
      assert(written.count() == matched + inserted, path)
      assert(written.filter(col("id") < 40).count() == matched, path)
      assert(back.count() == 40 + inserted, path)
      assert(back.select("id").distinct().count() == back.count(), path)
    }
  }

  /** A (k, v) table over `rows`, merged with `upd` by `merge` and by an
    * upsert-all `mergeConditional`: each call's counts or the word
    * "rejected", then the table's rows as "k=v" (keys as Java prints
    * them, so 0.0, -0.0 and NaN stay apart), sorted.
    */
  private def keyOutcomes[K: scala.reflect.runtime.universe.TypeTag](
      rows: Seq[(Option[K], String)], upd: Seq[(Option[K], String)]): Seq[String] = {
    import spark.implicits._
    def outcome(run: Catalog => Any): String = {
      val cat = freshCatalog()
      val df = rows.toDF("k", "v")
      cat.create("t", df.schema)
      cat.insert("t", df.coalesce(1))
      val res = try run(cat).toString catch { case _: IllegalArgumentException => "rejected" }
      res + " " + cat.table("t").collect().map(r => s"${r.get(0)}=${r.get(1)}").sorted.mkString(",")
    }
    val src = upd.toDF("k", "v")
    Seq(outcome(_.merge("t", src, "k")),
      outcome(_.mergeConditional("t", src, "k",
        Seq(Catalog.MatchedClause(None, delete = false)), Seq(None))))
  }

  test("merge keys compare with Spark's equality: DOUBLE zeros and NaN, STRING case") {
    onBothPaths { path =>
      val dbl = Seq(Some(0.0) -> "a", Some(-0.0) -> "b", Some(Double.NaN) -> "c",
        Some(1.0) -> "d", None -> "e")
      assert(keyOutcomes(dbl, Seq(Some(-0.0) -> "u0", Some(Double.NaN) -> "uN",
        Some(2.0) -> "u2")) == Seq(
        "(3,1) -0.0=u0,1.0=d,2.0=u2,NaN=uN,null=e",
        "(3,0,1) -0.0=u0,-0.0=u0,1.0=d,2.0=u2,NaN=uN,null=e"), path)
      // 0.0 and -0.0 are one key, and so are two NaNs
      Seq(Seq(Some(0.0) -> "x", Some(-0.0) -> "y"),
        Seq(Some(Double.NaN) -> "x", Some(Double.NaN) -> "y")).foreach { dup =>
        assert(keyOutcomes(dbl, dup).forall(_.startsWith("rejected ")), s"$path $dup")
      }
      val str = Seq(Some("a") -> "1", Some("A") -> "2", Some("a ") -> "3", None -> "4")
      assert(keyOutcomes(str, Seq(Some("a") -> "u", Some("c") -> "v", Some("C") -> "w")) == Seq(
        "(1,2) A=2,C=w,a =3,a=u,c=v,null=4", "(1,0,2) A=2,C=w,a =3,a=u,c=v,null=4"), path)
      assert(keyOutcomes(str, Seq(Some("c") -> "x", Some("c") -> "y"))
        .forall(_.startsWith("rejected ")), path)
      // one NULL-keyed source row matches nothing and is inserted; two
      // are duplicates of the null key group
      assert(keyOutcomes(str, Seq(None -> "n1", Some("A") -> "u")) == Seq(
        "(1,1) A=u,a =3,a=1,null=4,null=n1", "(1,0,1) A=u,a =3,a=1,null=4,null=n1"), path)
      assert(keyOutcomes(str, Seq(None -> "n1", None -> "n2"))
        .forall(_.startsWith("rejected ")), path)
    }
  }

  /** The bytes of every task result the driver receives while `op` runs. */
  private def taskResultBytes(op: => Any): Long = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val total = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => total.addAndGet(m.resultSize))
    }
    org.apache.spark.SpecAccess.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      op
      org.apache.spark.SpecAccess.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    total.get
  }

  test("a pinned merge source's matched keys stay in the cluster") {
    // with broadcasting off the source is pinned and its join with the
    // table shuffles; what the driver receives must grow with the files
    // a merge touches, not with the keys it matches. Both merges touch
    // every file of a 100k-row table: one matches 1k keys, one all 100k
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val upd = (step: Int) => spark.range(0, 100000, step, 2).select(col("id"),
        (col("id") % 4).cast("int").as("p"), lit(-1L).as("v"))
      val bytes = Seq(100, 1).map { step =>
        val cat = freshCatalog()
        idTable(cat, "t", 100000)
        var counts = (0L, 0L)
        val n = taskResultBytes { counts = cat.merge("t", upd(step), "id") }
        assert(counts == ((100000L / step, 0L)))
        n
      }
      info(s"task result bytes: 1k keys ${bytes(0)}, 100k keys ${bytes(1)}")
      assert(bytes(1) - bytes(0) < 99000L,
        s"99k more matched keys sent ${bytes(1) - bytes(0)} more bytes to the driver")
      // the affected-file bound holds on this path too
      val cat = freshCatalog()
      idTable(cat, "t", 100000)
      spark.conf.set("graft.dml.maxAffectedFiles", (dataFiles(cat, "t").size - 1).toString)
      intercept[Catalog.ManifestScaleException] { cat.merge("t", upd(1), "id") }
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("graft.dml.maxAffectedFiles")
    }
  }

  test("a local merge source of more keys than an IN-set holds matches by join") {
    import spark.implicits._
    val cat = freshCatalog()
    idTable(cat, "t", 10000)
    cat.insert("t", Seq((None: Option[Long], 1, 7L)).toDF("id", "p", "v"))
    // 6000 keys collected to the driver: 3000 stored, 3000 new
    val upd = (7000L until 13000L).map(i => (i, (i % 4).toInt, -1L)).toDF("id", "p", "v")
    assert(cat.merge("t", upd, "id") == ((3000L, 3000L)))
    val back = cat.table("t")
    assert(back.count() == 13001)
    assert(back.filter(col("v") === -1L).count() == 6000)
    assert(back.filter(col("id").isNull && col("v") === 7L).count() == 1, "stored NULL key kept")
    assert(back.filter(col("id").isNotNull).select("id").distinct().count() == 13000)
  }

  test("time travel: every committed version stays readable until vacuumed") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    assert(cat.currentVersion("docs") == 0)
    assert(cat.tableAt("docs", 0).isEmpty)
    cat.insert("docs", docs) // v1
    val n = docs.count()
    cat.deleteRows("docs", col("n_chars") % 2 === 0) // v2
    val n2 = cat.table("docs").count()
    val upd = docs.filter(col("doc_id") % 9 === 1).withColumn("source", lit("upd"))
    cat.merge("docs", upd, "doc_id") // v3
    cat.compact("docs") // v4
    assert(cat.versions("docs") == Seq(1, 2, 3, 4))
    // each snapshot replays its exact state
    assert(cat.tableAt("docs", 1).count() == n)
    assert(cat.tableAt("docs", 1).filter(col("source") === "upd").isEmpty)
    assert(cat.tableAt("docs", 2).count() == n2)
    assert(cat.tableAt("docs", 3).count() == cat.table("docs").count())
    // HEAD == v4 == v3 content-wise (compact is layout-only)
    val fp = (v: Int) => cat.tableAt("docs", v)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(fp(3) == fp(4))
    // unknown version fails loudly
    assertThrows[IllegalArgumentException] { cat.tableAt("docs", 99).count() }
    // vacuum(retainLast = 2) keeps v3/v4 readable, reclaims v1/v2
    cat.vacuum("docs", retainLast = 2)
    assert(cat.versions("docs") == Seq(3, 4))
    assert(fp(3) == fp(4))
    assertThrows[IllegalArgumentException] { cat.tableAt("docs", 1).count() }
    assert(cat.table("docs").count() == cat.tableAt("docs", 4).count())
  }

  test("history lists each snapshot's operation and live file count") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs)
    cat.deleteRows("docs", col("lang") === "en")
    cat.compact("docs")
    val h = cat.history("docs")
    assert(h.map(x => (x._1, x._2.split(" ").head)) ==
      Seq((1, "insert"), (2, "deleteRows"), (3, "compact")))
    assert(h.forall(_._3 > 0))
    // after a vacuum only the retained tail remains
    cat.vacuum("docs", retainLast = 1)
    assert(cat.history("docs").map(_._1) == Seq(3))
  }

  test("restoreVersion rolls back metadata-only and stays in the history") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs) // v1
    val n = docs.count()
    cat.deleteRows("docs", col("n_chars") % 3 === 0) // v2
    assert(cat.table("docs").count() < n)
    assert(cat.restoreVersion("docs", 1) == 3) // rollback the delete
    assert(cat.table("docs").count() == n)
    // the rollback is itself a version: the deleted state is still there
    assert(cat.tableAt("docs", 2).count() < n)
    assert(cat.history("docs").map(_._2) ==
      Seq("insert", "deleteRows", "restore v1"))
    // restoring to 0 empties the table; vacuumed versions are rejected
    cat.restoreVersion("docs", 0)
    assert(cat.table("docs").isEmpty)
    cat.restoreVersion("docs", 3)
    assert(cat.table("docs").count() == n)
    cat.vacuum("docs", retainLast = 1)
    assertThrows[IllegalArgumentException] { cat.restoreVersion("docs", 2) }
  }

  test("tableChanges is the logical snapshot diff; churn and compaction cancel") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    val batch1 = docs.filter(col("doc_id") % 2 === 0)
    val batch2 = docs.filter(col("doc_id") % 2 === 1)
    cat.insert("docs", batch1) // v1
    cat.insert("docs", batch2) // v2
    // adjacent append: feed = batch2 as inserts, nothing deleted
    val feed12 = cat.tableChanges("docs", 1, 2)
    assert(feed12.filter(col(Catalog.ChangeCol) === "delete").isEmpty)
    assert(feed12.filter(col(Catalog.ChangeCol) === "insert").count() == batch2.count())
    // compaction rewrites every file but changes no rows → empty feed
    cat.compact("docs") // v3
    assert(cat.tableChanges("docs", 2, 3).isEmpty)
    // row-level delete: feed = exactly the deleted rows, despite the COW
    // rewrite churning whole files (survivor rows must cancel)
    val pred = col("n_chars") % 5 === 0
    val expectedDeleted = cat.table("docs").filter(pred).count()
    cat.deleteRows("docs", pred) // v4
    val feed34 = cat.tableChanges("docs", 3, 4)
    assert(feed34.filter(col(Catalog.ChangeCol) === "insert").isEmpty)
    assert(feed34.filter(col(Catalog.ChangeCol) === "delete").count() == expectedDeleted)
    // restore shows up in the feed as the mirror image of the delete
    cat.restoreVersion("docs", 3) // v5
    val feed45 = cat.tableChanges("docs", 4, 5)
    assert(feed45.filter(col(Catalog.ChangeCol) === "insert").count() == expectedDeleted)
    assert(feed45.filter(col(Catalog.ChangeCol) === "delete").isEmpty)
    // spanning diff delete→restore nets to zero; full span = all rows inserted
    assert(cat.tableChanges("docs", 3, 5).isEmpty)
    assert(cat.tableChanges("docs", 0, 5).count() == docs.count())
    assertThrows[IllegalArgumentException] { cat.tableChanges("docs", 3, 1) }
  }

  test("deletePartition is metadata-only and time-travel-reversible") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs) // v1
    val enRows = docs.filter(col("lang") === "en").count()
    cat.deletePartition("docs", "en") // v2: manifest stops listing en files
    assert(!cat.partitions("docs").contains("en"))
    assert(cat.table("docs").filter(col("lang") === "en").isEmpty)
    // the partition's bytes are still there for the previous version
    assert(cat.tableAt("docs", 1).filter(col("lang") === "en").count() == enRows)
    // deleting an absent partition commits no version
    val v = cat.currentVersion("docs")
    cat.deletePartition("docs", "no_such_value")
    assert(cat.currentVersion("docs") == v)
    // vacuum makes the drop physical
    cat.vacuum("docs")
    val dir = java.nio.file.Paths.get(cat.warehouse, "docs", "data", "lang=en")
    assert(!Files.exists(dir))
  }

  test("merge into an empty table is a pure insert") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    val upd = docs.limit(7)
    assert(cat.merge("docs", upd, "doc_id") == ((0L, 7L)))
    assert(cat.table("docs").count() == 7)
  }

  test("dump renders an aligned bounded prefix") {
    val out = graft.dsl.Dump.dump(
      Tables.documents(spark, sf0001).orderBy("doc_id")
        .select("doc_id", "lang"), n = 3)
    val lines = out.split("\n")
    assert(lines.length == 7, s"expected 7 lines, got:\n$out")
    assert(lines(1).contains("doc_id") && lines(1).contains("lang"))
    assert(lines.count(_.startsWith("+-")) == 3)
    assert(lines.map(_.length).distinct.length == 1, "columns not aligned")
  }

  test("repl drives meta commands, SQL, errors and quit through one loop") {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(
      spark, sf0001,
      Iterator(
        "\\d",
        "\\d lineitem",
        "SELECT COUNT(*) AS n FROM region;",
        "SELECT definitely not sql",
        "\\q",
        "SELECT 1 AS never_reached"),
      out += _)
    assert(out.length == 5) // banner + 4 commands, nothing after \q
    assert(out(1).split("\n").toSeq.contains("lineitem")) // \d lists fixtures
    assert(out(2).contains("l_quantity")) // \d <t> shows schema
    assert(out(3).contains("| 5 ")) // region has 5 rows, dumped as a table
    assert(out(4).startsWith("error:")) // bad SQL reports, doesn't throw
  }

  test("repl \\explain prints the formatted physical plan") {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(
      spark, sf0001,
      Iterator(
        "\\explain SELECT r_name FROM region WHERE r_regionkey = 1;",
        "\\explain SELECT nonsense FROM nowhere",
        "\\q"),
      out += _)
    assert(out(1).contains("(1) Scan parquet")) // formatted mode, real plan
    assert(out(1).contains("PushedFilters")) // the filter reached the scan
    assert(out(2).startsWith("error:"))
  }

  test("repl \\explain modes and \\help") {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(
      spark, sf0001,
      Iterator(
        "\\explain extended SELECT r_name FROM region WHERE r_regionkey = 1;",
        "\\explain codegen SELECT COUNT(*) FROM region;",
        "\\explain cost SELECT r_name FROM region;",
        "\\help",
        "\\q"),
      out += _)
    // extended: all four plan phases
    assert(out(1).contains("== Parsed Logical Plan ==") &&
      out(1).contains("== Physical Plan =="))
    // codegen: the generated-code listing header
    assert(out(2).contains("WholeStageCodegen subtrees"))
    // cost: logical plan annotated with sizeInBytes statistics
    assert(out(3).contains("Statistics(") && out(3).contains("sizeInBytes"))
    // \help: one command per line, command-first (completion-friendly)
    val help = out(4).split("\n")
    assert(help.length >= 9 && help.forall(_.startsWith("\\")))
    assert(help.exists(_.startsWith("\\explain [mode] <sql>")))
  }

  test("repl \\explain surfaces PartitionFilters + PushedFilters for a pruned catalog scan") {
    // the proof surface for the engine's two inherited optimizations:
    // partition pruning (lang = 'en' never reads other lang dirs) and
    // parquet predicate pushdown (n_chars > 100 reaches the scan)
    val wh = tempDir("graft_expl_wh_").toString
    val cat = new Catalog(spark, wh)
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs_expl", docs.schema, Some("lang"))
    cat.insert("docs_expl", docs)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(
      spark, sf0001,
      Iterator(
        "\\explain SELECT doc_id FROM docs_expl WHERE lang = 'en' AND n_chars > 100;",
        "\\q"),
      out += _, warehouse = Some(wh))
    val plan = out.mkString("\n")
    assert("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(plan).isDefined,
      s"partition filter on lang missing from:\n$plan")
    assert("PushedFilters: \\[[^\\]]*n_chars".r.findFirstIn(plan).isDefined,
      s"pushed filter on n_chars missing from:\n$plan")
  }

  test("repl \\schema prints a DDL-style column list") {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(
      spark, sf0001,
      Iterator("\\schema region", "\\schema nowhere", "\\q"),
      out += _)
    assert(out(1).startsWith("region ("))
    assert(out(1).contains("  r_name STRING"))
    assert(out(1).trim.endsWith(")"))
    assert(out(2).startsWith("error:"))
  }

  test("repl \\profile prints per-column stats for atomic columns") {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(
      spark, sf0001,
      Iterator("\\profile region", "\\profile embeddings", "\\profile nowhere", "\\q"),
      out += _)
    assert(out(1).contains("col_name") && out(1).contains("n_distinct"))
    assert(out(1).contains("r_regionkey") && out(1).contains("r_name"))
    // array embedding column skipped, atomic vec_id/label profiled
    assert(out(2).contains("vec_id") && !out(2).contains("embedding"))
    assert(out(3).startsWith("error:"))
  }

  test("repl \\history and \\restore operate on the bound warehouse") {
    val wh = tempDir("graft_repl_wh_").toString
    val cat = new Catalog(spark, wh)
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, Some("lang"))
    cat.insert("docs", docs) // v1
    cat.deleteRows("docs", col("source") === "src0") // v2
    val out = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(
      spark, sf0001,
      Iterator(
        "\\history docs",
        "\\restore docs 1",
        "\\history docs",
        "\\restore docs", // malformed
        "\\q"),
      out += _, warehouse = Some(wh))
    assert(out(1).startsWith("docs history (HEAD v2)"))
    assert(out(1).contains("insert") && out(1).contains("deleteRows"))
    assert(out(2) == "docs restored to v1 as new version v3")
    assert(out(3).contains("restore v1") && out(3).startsWith("docs history (HEAD v3)"))
    assert(out(4).startsWith("usage:"))
    assert(cat.table("docs").count() == docs.count()) // the restore took
    // without a bound warehouse the commands refuse loudly
    val out2 = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(spark, sf0001,
      Iterator("\\history docs", "\\q"), out2 += _)
    assert(out2(1).startsWith("error: no warehouse bound"))
  }

  test("repl buffers multi-line statements and toggles \\timing") {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    graft.dsl.Dump.repl(
      spark, sf0001,
      Iterator(
        "\\timing",
        "SELECT COUNT(*) AS n FROM (", // incomplete → opens the buffer
        "  SELECT * FROM region",      // still unclosed → accumulates
        ");",                          // terminator → executes the whole statement
        "\\timing",
        "SELECT 1 AS one"),            // single-line statements still run directly
      out += _)
    assert(out.length == 5) // banner + timing-on + result + timing-off + result
    assert(out(1) == "Timing is on.")
    assert(out(2).contains("| 5 ") && out(2).contains("\nTime: "))
    assert(out(3) == "Timing is off.")
    assert(out(4).contains("| 1 ") && !out(4).contains("Time: "))
  }

  test("drop removes table and data") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("docs", docs.schema, None)
    cat.insert("docs", docs)
    cat.drop("docs")
    assert(cat.tables().isEmpty)
    assert(!cat.exists("docs"))
  }

  test("quarantine ingest: bad rows preserved raw with reasons, repair path re-ingests") {
    import org.apache.spark.sql.types._
    val cat = freshCatalog()
    val wh = tempDir("graft_q_csv_").toString
    val tgt = StructType(Seq(
      StructField("id", LongType), StructField("n", LongType),
      StructField("s", StringType)))
    // row 2: bad n; row 3: bad n AND (string col can't fail) — null n is NOT bad
    spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("1", "10", "a"),
      org.apache.spark.sql.Row("2", "oops", "b"),
      org.apache.spark.sql.Row("3", "1x", "c"),
      org.apache.spark.sql.Row("4", null, "d")),
      StructType(tgt.fields.map(f => StructField(f.name, StringType))))
      .write.option("header", "true").csv(s"$wh/in")
    cat.create("t", tgt)
    cat.create("t_dead", StructType(
      tgt.fields.map(f => StructField(f.name, StringType)) :+
        StructField("_reason", StringType)))
    val (good, dead) = cat.insertCsvQuarantine("t", "t_dead", s"$wh/in")
    assert(good == 2L && dead == 2L)
    assert(cat.table("t").filter(col("id") === 4 && col("n").isNull).count() == 1)
    val deadRows = cat.table("t_dead")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(3)))).toMap
    assert(deadRows == Map("2" -> (("oops", "n")), "3" -> (("1x", "n"))))
    // repair: fix the quarantined rows' raw strings and re-ingest them
    val repaired = cat.table("t_dead")
      .select(col("id").cast("long"), lit(99L).as("n"), col("s"))
    cat.insert("t", repaired)
    assert(cat.table("t").count() == 4)
    // guard: a quarantine table without _reason is rejected loudly
    cat.create("t_bad_dead", StructType(
      tgt.fields.map(f => StructField(f.name, StringType))))
    intercept[IllegalArgumentException] {
      cat.insertCsvQuarantine("t", "t_bad_dead", s"$wh/in")
    }
  }

  test("cloneTable: zero-copy fork (shared inodes), independent evolution, survives source vacuum") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("c_src", docs.schema, partitionBy = Some("lang"))
    cat.insert("c_src", docs)
    val srcRows = cat.table("c_src").count()
    cat.cloneTable("c_src", "c_dst")

    // zero-copy: every cloned data file shares its source file's inode
    val whP = java.nio.file.Paths.get(cat.warehouse)
    def dataFiles(t: String) = {
      val s = Files.walk(whP.resolve(t).resolve("data"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => whP.resolve(t).resolve("data").relativize(p).toString -> p).toMap
      } finally s.close()
    }
    val srcF = dataFiles("c_src")
    val dstF = dataFiles("c_dst")
    assert(dstF.keySet === srcF.keySet)
    dstF.foreach { case (rel, p) =>
      assert(Files.getAttribute(p, "unix:ino") ===
        Files.getAttribute(srcF(rel), "unix:ino"), s"$rel must be a hardlink")
    }

    // independent evolution: insert into the clone leaves the source alone
    cat.insert("c_dst", docs.limit(10).withColumn("source", lit("extra")))
    assert(cat.table("c_dst").count() === srcRows + 10)
    assert(cat.table("c_src").count() === srcRows)
    assert(cat.currentVersion("c_src") === 1)

    // source rewrite + vacuum must not disturb the clone (inode survives
    // until its last link drops)
    cat.deleteRows("c_src", lit(true))
    cat.vacuum("c_src", retainLast = 1)
    assert(cat.table("c_src").count() === 0L)
    assert(cat.table("c_dst").count() === srcRows + 10)

    // clone of a missing table / onto an existing name is loud
    intercept[IllegalArgumentException](cat.cloneTable("nope", "x"))
    intercept[IllegalArgumentException](cat.cloneTable("c_src", "c_dst"))
  }

  test("eraseWhere: rows gone, history purged, pre-erasure snapshots unreadable, bytes reclaimed") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("e_t", docs.schema, partitionBy = Some("lang"))
    cat.insert("e_t", docs)                                    // v1
    cat.insert("e_t", docs.limit(5).withColumn("source", lit("src3"))) // v2
    val before = cat.table("e_t").count()
    val target = cat.table("e_t").filter(col("source") === "src3").count()
    assert(target > 0L)

    val erased = cat.eraseWhere("e_t", col("source") === "src3")
    assert(erased === target)
    assert(cat.table("e_t").filter(col("source") === "src3").count() === 0L)
    assert(cat.table("e_t").count() === before - target)

    // history is purged to the erased snapshot only: time travel to any
    // pre-erasure version must fail loudly, not resurrect the rows
    assert(cat.versions("e_t").size === 1)
    intercept[IllegalArgumentException](cat.tableAt("e_t", 1))
    intercept[IllegalArgumentException](cat.restoreVersion("e_t", 2))

    // the erased bytes are physically gone: no surviving parquet file
    // contains a src3 row (read the raw files, bypassing the manifest)
    val dataDir = java.nio.file.Paths.get(cat.warehouse, "e_t", "data")
    val raw = spark.read.schema(docs.schema).parquet(dataDir.toString)
    assert(raw.filter(col("source") === "src3").count() === 0L)

    // erasure on a table whose HEAD has no matches still purges history
    cat.create("e_u", docs.schema, partitionBy = None)
    cat.insert("e_u", docs.limit(3).withColumn("source", lit("pii")))  // v1
    cat.deleteRows("e_u", col("source") === "pii")                     // v2: head clean
    assert(cat.versions("e_u").size === 2)
    assert(cat.eraseWhere("e_u", col("source") === "pii") === 0L)
    assert(cat.versions("e_u").size === 1, "history with matching rows must not survive")
  }

  test("compactWhere: only the targeted partition is rewritten; other files survive untouched") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("cw", docs.schema, partitionBy = Some("lang"))
    cat.insert("cw", docs.repartition(8))
    def manifestFiles() = {
      val vdir = java.nio.file.Paths.get(cat.warehouse, "cw", "_meta", "versions")
      val s = java.nio.file.Files.list(vdir)
      val last = try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.sortBy(_.getFileName.toString).last
      } finally s.close()
      java.nio.file.Files.readString(last).split("\n").toSeq
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    }
    val before = manifestFiles()
    val beforeEn = before.filter(_.contains("lang=en")).toSet
    val beforeOther = before.filterNot(_.contains("lang=en")).toSet
    assert(beforeEn.size > 1, "fragmented ingest must leave multiple en files")

    val fp = cat.table("cw").agg(
      sum(graft.functions.TextFunctions.tokenHash60(col("text")) % 1000003L))
      .first().getLong(0)
    cat.compactWhere("cw", col("lang") === "en", targetFiles = 1)
    val after = manifestFiles()
    val afterEn = after.filter(_.contains("lang=en")).toSet
    val afterOther = after.filterNot(_.contains("lang=en")).toSet
    // en collapsed to one NEW file; every other partition's files are the
    // SAME manifest entries (untouched bytes)
    assert(afterEn.size === 1)
    assert(afterEn.intersect(beforeEn).isEmpty)
    assert(afterOther === beforeOther)
    // content untouched
    assert(cat.table("cw").agg(
      sum(graft.functions.TextFunctions.tokenHash60(col("text")) % 1000003L))
      .first().getLong(0) === fp)
    // SQL surface routes OPTIMIZE ... WHERE
    val st = graft.sources.CatalogSql.exec(spark, cat,
      "OPTIMIZE cw FILES 2 WHERE lang = 'de'").collect().head
    assert(st.getString(0) === "optimize_where")
    assert(graft.sources.CatalogSql.isCommand("OPTIMIZE cw WHERE lang = 'de'"))
  }

  test("vacuumRetainHours: age-based retention keyed to commit time; SHOW PARTITIONS lists live values") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("vh", docs.schema, partitionBy = Some("lang"))
    cat.insert("vh", docs.limit(10))      // v1
    cat.insert("vh", docs.limit(20))      // v2
    cat.insert("vh", docs.limit(5))       // v3
    assert(cat.versions("vh").size === 3)
    // backdate v1/v2 commits 10 days; v3 stays fresh
    val vdir = java.nio.file.Paths.get(cat.warehouse, "vh", "_meta", "versions")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10L * 24 * 3600 * 1000)
    Seq(1, 2).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(
        vdir.resolve(f"v$v%08d.txt"), old)
    }
    cat.vacuumRetainHours("vh", 24)
    assert(cat.versions("vh") === Seq(3))
    intercept[IllegalArgumentException](cat.tableAt("vh", 2))
    // head always survives even when everything is out of window
    cat.vacuumRetainHours("vh", 0)
    assert(cat.versions("vh") === Seq(3))
    assert(cat.table("vh").count() === 35L) // appends: 10 + 20 + 5

    // SQL surface
    val st = graft.sources.CatalogSql.exec(spark, cat, "VACUUM vh RETAIN 48 HOURS")
      .collect().head
    assert(st.getString(0) === "vacuum_hours" && st.getLong(2) === 1L)
    val parts = graft.sources.CatalogSql.exec(spark, cat, "SHOW PARTITIONS vh")
      .collect().map(_.getString(0)).toSeq
    assert(parts.nonEmpty && parts === parts.sorted)
    assert(graft.sources.CatalogSql.isCommand("VACUUM vh RETAIN 48 HOURS"))
    assert(graft.sources.CatalogSql.isCommand("SHOW PARTITIONS vh"))
  }

  test("replaceWhere: one atomic commit, returns deleted count, SQL REPLACE WHERE routes") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sf0001)
    cat.create("rw", docs.schema, partitionBy = Some("lang"))
    cat.insert("rw", docs)
    val vBefore = cat.versions("rw").size
    val enBefore = cat.table("rw").filter(col("lang") === "en").count()
    val corrected = docs.filter(col("lang") === "en").limit(3)
      .withColumn("source", lit("backfill"))
    val deleted = cat.replaceWhere("rw", col("lang") === "en", corrected)
    assert(deleted === enBefore)
    // ONE commit covers delete + insert
    assert(cat.versions("rw").size === vBefore + 1)
    assert(cat.history("rw").last._2 === "replace_where")
    assert(cat.table("rw").filter(col("lang") === "en").count() === 3L)
    assert(cat.table("rw").filter(col("lang") === "en" &&
      col("source") =!= "backfill").count() === 0L)
    // time travel still reaches the pre-replace snapshot
    assert(cat.tableAt("rw", vBefore).filter(col("lang") === "en").count() === enBefore)

    // no-match predicate: pure insert, still a single commit
    val d2 = cat.replaceWhere("rw", col("lang") === "zz", docs.limit(2))
    assert(d2 === 0L)
    assert(cat.versions("rw").size === vBefore + 2)

    // SQL surface
    val st = graft.sources.CatalogSql.exec(spark, cat,
      "INSERT INTO rw REPLACE WHERE lang = 'en' SELECT * FROM rw WHERE lang = 'de' LIMIT 1")
    assert(st.collect().head.getString(0) === "replace_where")
    assert(graft.sources.CatalogSql.isCommand(
      "INSERT INTO rw REPLACE WHERE lang = 'en' SELECT 1"))
  }

  test("exportTable/importTable: by-value snapshot replication across warehouses") {
    val docs = Tables.documents(spark, sf0001)
    val cat = freshCatalog()
    cat.create("src_t", docs.schema, partitionBy = Some("lang"))
    cat.insert("src_t", docs)
    cat.deleteRows("src_t", col("source") === "src0") // live snapshot ⊂ all files
    val want = cat.table("src_t").count()
    val dest = tempDir("graft_export_").toString
    val nFiles = cat.exportTable("src_t", dest)
    assert(nFiles > 0)
    // only the LIVE snapshot's bytes travel — the deleted-rows originals
    // retained for time travel do not
    val cat2 = freshCatalog()
    val v = cat2.importTable("imported", dest)
    assert(v === 1, "import starts a fresh log")
    assert(cat2.table("imported").count() === want)
    assert(cat2.table("imported").exceptAll(cat.table("src_t")).isEmpty)
    // schema + partition column carried over
    assert(cat2.schema("imported") === cat.schema("src_t"))
    // by-value: mutating the import leaves the source untouched
    cat2.deleteRows("imported", col("lang") === "en")
    assert(cat.table("src_t").count() === want)
    // guards: non-empty dest, unknown snapshot dir, existing name
    intercept[IllegalArgumentException](cat.exportTable("src_t", dest))
    intercept[IllegalArgumentException](cat2.importTable("imported", dest))
    intercept[IllegalArgumentException](
      cat2.importTable("x", tempDir("graft_notsnap_").toString))
  }

  test("catalog_export_import leaves no export directory in java.io.tmpdir") {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def exports(): Set[String] = {
      val ls = Files.list(tmp)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_exp_")).toSet
      finally ls.close()
    }
    val before = exports()
    SparkEntry.queries("catalog_export_import")(spark, sf0001).collect()
    assert(exports() -- before === Set.empty[String],
      "the row's export must live under its own warehouse")
  }

  test("OCC: concurrent appends both commit, log stays linear, content = serial") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.create("occ", StructType(Seq(
      StructField("id", LongType), StructField("src", StringType))))
    // many writer pairs racing for the same version slots: every round
    // forces at least one loser to rebase and retry
    val rounds = 6
    (1 to rounds).foreach { r =>
      val t1 = new Thread(() =>
        cat.insert("occ", Seq((r * 10L, "a")).toDF("id", "src")))
      val t2 = new Thread(() =>
        cat.insert("occ", Seq((r * 10L + 1L, "b")).toDF("id", "src")))
      t1.start(); t2.start(); t1.join(); t2.join()
    }
    // log linear: versions are exactly 1..2*rounds, no gaps, no dupes
    assert(cat.versions("occ") === (1 to 2 * rounds))
    // content equals the serial schedule (appends commute)
    val got = cat.table("occ").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (1 to rounds).flatMap(r =>
      Seq((r * 10L, "a"), (r * 10L + 1L, "b")))
    assert(got === want)
    // every intermediate snapshot is readable and monotonically grows
    (1 to 2 * rounds).foreach { v =>
      assert(cat.tableAt("occ", v).count() === v.toLong)
    }
    // rewrite ops abort loudly when another writer advances the log past
    // the base snapshot they read (their file lists diff that base and
    // cannot rebase): pin a base, let a rival commit land, then try to
    // commit against the stale base — the exact lost-update interleaving
    val head = cat.currentVersion("occ")
    cat.insert("occ", Seq((999L, "rival")).toDF("id", "src"))
    val e = intercept[IllegalStateException] {
      cat.commitVersionAt("occ", head, "probe", Seq.empty)
    }
    assert(e.getMessage.contains("concurrent commit"))
    cat.deleteRows("occ", col("src") === "rival")
    // crash-orphan hygiene: vacuum clears any leftover staging dirs
    cat.vacuum("occ", retainLast = 1)
    assert(cat.table("occ").count() === (2 * rounds).toLong)
  }

  /** A partitioned (id, p, v) table with ids 0 until n, p = id % 4, v = id. */
  private def idTable(cat: Catalog, name: String, n: Int): Unit = {
    cat.create(name, StructType(Seq(StructField("id", LongType),
      StructField("p", IntegerType), StructField("v", LongType))), Some("p"))
    cat.insert(name, spark.range(n).select(col("id"),
      (col("id") % 4).cast("int").as("p"), col("id").as("v")).repartition(2))
  }

  private def idRows(cat: Catalog, name: String): Seq[(Long, Int, Long)] =
    cat.table(name).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("p"), r.getAs[Long]("v"))).toSeq

  test("row-level DML works on a warehouse path with a space and a percent sign") {
    val wh = Files.createDirectories(
      tempDir("graft_cat_test_").resolve("wh with space%"))
    // absolute, and relative to the working directory (`..` segments)
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    Seq(wh.toString, cwd.relativize(wh).toString).zipWithIndex.foreach {
      case (path, i) => dmlRoundTrip(new Catalog(spark, path), s"t$i")
    }
  }

  /** Every row-level DML op on a fresh (id, p, v) table, checking each
    * returned count and the rows read back.
    */
  private def dmlRoundTrip(cat: Catalog, t: String): Unit = {
    import spark.implicits._
    idTable(cat, t, 40)
    var want = (0L until 40L).map(i => i -> ((i % 4).toInt, i)).toMap
    def check(): Unit = assert(idRows(cat, t) ===
      want.toSeq.sortBy(_._1).map { case (i, (p, v)) => (i, p, v) })

    assert(cat.deleteRows(t, col("v") < 4) === 4L)
    want = want.filter(_._1 >= 4); check()
    assert(cat.updateRows(t, col("id") === 10, Seq("v" -> lit(100L))) === 1L)
    want = want.updated(10L, (2, 100L)); check()
    val batch = Seq((1001L, 1, 1L)).toDF("id", "p", "v")
    assert(cat.replaceWhere(t, col("p") === 1, batch) === 9L)
    want = want.filter(_._2._1 != 1) + (1001L -> ((1, 1L))); check()
    cat.compactWhere(t, col("p") === 2)
    check()
    val upd = Seq((12L, 0, 120L), (2000L, 3, 7L)).toDF("id", "p", "v")
    assert(cat.merge(t, upd, "id") === ((1L, 1L)))
    want = want + (12L -> ((0, 120L))) + (2000L -> ((3, 7L))); check()
    val cond = Seq((14L, 2, 140L), (15L, 3, -1L), (3000L, 0, 5L)).toDF("id", "p", "v")
    assert(cat.mergeConditional(t, cond, "id",
      Seq(Catalog.MatchedClause(Some(expr("s.v < 0")), delete = true),
        Catalog.MatchedClause(None, delete = false)),
      Seq(None)) === ((1L, 1L, 1L)))
    want = want - 15L + (14L -> ((2, 140L))) + (3000L -> ((0, 5L))); check()
    assert(cat.tableChanges(t, 1, cat.currentVersion(t)).count() > 0)
  }

  test("catalog ops run no more Spark jobs than their pinned counts") {
    import spark.implicits._
    def jobsOf(op: => Any): Int = jobsRunBy(op).size
    val cat = freshCatalog()
    idTable(cat, "t", 200)
    val batch = spark.range(200, 260).select(col("id"),
      (col("id") % 4).cast("int").as("p"), col("id").as("v"))
    val upd = spark.range(190, 210).select(col("id"),
      (col("id") % 4).cast("int").as("p"), (col("id") * 10).as("v"))
    val cond = Seq((20L, 0, -1L), (21L, 1, 210L), (5000L, 0, 5L)).toDF("id", "p", "v")
    // a batch built on the driver, the shape of the benchmark's merges
    val localUpd = Seq((150L, 2, 1500L), (9000L, 0, 9L)).toDF("id", "p", "v")
    val counts = Seq(
      "insert" -> jobsOf(cat.insert("t", batch)),
      "merge" -> jobsOf(cat.merge("t", upd, "id")),
      "merge (local source)" -> jobsOf(cat.merge("t", localUpd, "id")),
      "deleteRows" -> jobsOf(cat.deleteRows("t", col("v") % 5 === 0)),
      "updateRows" -> jobsOf(cat.updateRows("t", col("id") < 40, Seq("v" -> lit(-2L)))),
      "replaceWhere" -> jobsOf(cat.replaceWhere("t", col("p") === 3, batch.filter(col("p") === 3))),
      "compactWhere" -> jobsOf(cat.compactWhere("t", col("p") === 2)),
      "mergeConditional" -> jobsOf(cat.mergeConditional("t", cond, "id",
        Seq(Catalog.MatchedClause(Some(expr("s.v < 0")), delete = true),
          Catalog.MatchedClause(None, delete = false)), Seq(None))),
      "compact" -> jobsOf(cat.compact("t")),
      "read" -> jobsOf(cat.table("t").filter(col("p") === 1).collect()))
    info(counts.map { case (op, n) => s"$op=$n" }.mkString(" "))
    // a row-level DML op runs one manifest pass and one write (plus its
    // repartition's shuffle for compactWhere); a merge first collects a
    // small source that is not yet local (none for a local one), and
    // mergeConditional adds the action pass that counts every decision
    // of its full outer join
    val pinned = Map("insert" -> 1, "merge" -> 3, "merge (local source)" -> 2,
      "deleteRows" -> 2, "updateRows" -> 2, "replaceWhere" -> 2, "compactWhere" -> 3,
      "mergeConditional" -> 8, "compact" -> 2, "read" -> 1)
    counts.foreach { case (op, n) =>
      assert(n <= pinned(op), s"$op ran $n Spark jobs, pinned at most ${pinned(op)}")
    }
  }

  test("a Hustle.select groupBy + orderBy over Catalog.table runs 2 Spark jobs") {
    import graft.dsl.Hustle
    import graft.dsl.Hustle._
    val cat = freshCatalog()
    idTable(cat, "t", 200)
    val tb = GTable("t", cat.table("t"))
    var rows = Seq.empty[org.apache.spark.sql.Row]
    val jobs = jobsRunBy {
      rows = Hustle.select(tb("p"), h_count(), h_sum(tb("v")))(
        where = Seq(tb("v") >= 20L), orderBy = Seq(tb("p"))).collect().toSeq
    }
    // the aggregation stage, then one task sorts its 4 rows: no sampling
    // job and no range shuffle
    assert(jobs.size <= 2, jobs.mkString(" | "))
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))) ==
      (0 until 4).map(p => (p, 45L, (20L until 200L).filter(_ % 4 == p).sum)))
  }

  private def posixOf(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("catalog data files and partition directories get the stock local-write permissions") {
    val cat = freshCatalog()
    idTable(cat, "t", 40)
    val stock = tempDir("graft_stock_write_").resolve("out")
    spark.range(40).select(col("id"), (col("id") % 4).cast("int").as("p"), col("id").as("v"))
      .repartition(2).write.partitionBy("p").parquet(stock.toString)
    def perms(root: java.nio.file.Path): (Set[String], Set[String]) = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(root)
      val all = try s.iterator().asScala.toSeq finally s.close()
      (all.filter(_.getFileName.toString.endsWith(".parquet")).map(posixOf).toSet,
        all.filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("p="))
          .map(posixOf).toSet)
    }
    val (files, dirs) = perms(java.nio.file.Paths.get(cat.warehouse, "t", "data"))
    assert(files.nonEmpty && dirs.size == 1)
    assert((files, dirs) == perms(stock))
    info(s"files ${files.mkString} dirs ${dirs.mkString}")
  }

  test("NioLocalFileSystem sets the same permission bits as RawLocalFileSystem") {
    import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    val dir = tempDir("graft_nio_perm_")
    val conf = new org.apache.hadoop.conf.Configuration()
    def fs(raw: RawLocalFileSystem) = { raw.initialize(java.net.URI.create("file:///"), conf); raw }
    val (stock, nio) = (fs(new RawLocalFileSystem), fs(new graft.sources.NioLocalFileSystem.Raw))
    Seq("644", "755", "600").foreach { mode =>
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val (a, b) = (dir.resolve(s"stock_$mode"), dir.resolve(s"nio_$mode"))
      Files.createFile(a); Files.createFile(b)
      stock.setPermission(new Path(a.toUri), perm)
      nio.setPermission(new Path(b.toUri), perm)
      assert(posixOf(b) == posixOf(a), mode)
      assert(posixOf(b) == perm.toString, mode)
    }
  }

  /** An (id, day, v) table partitioned by `day` over 40 live files: ten
    * single-task inserts of 40 rows, each writing one file per day.
    */
  private def fortyFileTable(cat: Catalog, t: String): Unit = {
    cat.create(t, StructType(Seq(StructField("id", LongType),
      StructField("day", StringType), StructField("v", LongType))), Some("day"))
    (0 until 10).foreach { k =>
      cat.insert(t, spark.range(k * 40L, (k + 1) * 40L).select(col("id"),
        concat(lit("d"), (col("id") % 4).cast("string")).as("day"),
        col("id").as("v")).coalesce(1))
    }
  }

  test("reads and rewrites of a 40-file table plan from the manifest: no listing job") {
    // above spark.sql.sources.parallelPartitionDiscovery.threshold (32
    // paths) a path-list read runs a "Listing leaf files" job per read
    val cat = freshCatalog()
    fortyFileTable(cat, "t")
    assert(cat.history("t").last._3 == 40)
    val upd = spark.range(30, 50).select(col("id"),
      concat(lit("d"), (col("id") % 4).cast("string")).as("day"), (col("id") * 10).as("v"))
    val runs = Seq(
      "filtered read" -> jobsRunBy(cat.table("t").filter(col("day") === "d1").collect()),
      "count" -> jobsRunBy(assert(cat.table("t").count() == 400)),
      "tableAt" -> jobsRunBy(assert(cat.tableAt("t", 10).count() == 400)),
      "deleteRows" -> jobsRunBy(assert(cat.deleteRows("t", col("v") === 7L) == 1)),
      "merge" -> jobsRunBy(assert(cat.merge("t", upd, "id") == ((20L, 0L)))))
    info(runs.map { case (op, d) => s"$op=${d.size}" }.mkString(" "))
    runs.foreach { case (op, descs) =>
      assert(!descs.exists(_.startsWith("Listing leaf files")),
        s"$op ran a listing job: ${descs.mkString(" | ")}")
    }
    val pinned = Map("filtered read" -> 1, "count" -> 2, "tableAt" -> 2,
      "deleteRows" -> 2, "merge" -> 3)
    runs.foreach { case (op, descs) =>
      assert(descs.size <= pinned(op), s"$op ran ${descs.size} Spark jobs, pinned at most ${pinned(op)}")
    }
    assert(cat.table("t").count() == 399)
  }

  test("a filter on the partition column scans only that partition's manifest files") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val cat = freshCatalog()
    fortyFileTable(cat, "t")
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .collect { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum
    }
    assert(filesScanned(cat.table("t").select("id")) == 40)
    val d1 = cat.table("t").filter(col("day") === "d1").select("id")
    assert(filesScanned(d1) == 10)
    assert(d1.collect().map(_.getLong(0)).sorted.toSeq == (1L until 400L by 4))
    assert(filesScanned(cat.tableAt("t", 3).filter(col("day") === "d2").select("id")) == 3)
  }

  test("a cached table(t) serves a second table(t) of the same snapshot, not the next one") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def cached(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }.isDefined
    val cat = freshCatalog()
    idTable(cat, "t", 40)
    val first = cat.table("t").cache()
    try {
      assert(first.count() == 40)
      assert(cached(cat.table("t")))
      assert(cached(cat.tableAt("t", cat.currentVersion("t"))))
      cat.insert("t", spark.range(40, 44).select(col("id"),
        (col("id") % 4).cast("int").as("p"), col("id").as("v")))
      assert(!cached(cat.table("t")))
      assert(cat.table("t").count() == 44)
    } finally first.unpersist()
  }

  test("table, tableAt and tableChanges read back on a warehouse path with a space and a percent sign") {
    val wh = Files.createDirectories(
      tempDir("graft_cat_test_").resolve("wh with space%"))
    val cat = new Catalog(spark, wh.toString)
    idTable(cat, "t", 20)
    cat.insert("t", spark.range(20, 30).select(col("id"),
      (col("id") % 4).cast("int").as("p"), col("id").as("v")))
    assert(idRows(cat, "t") === (0L until 30L).map(i => (i, (i % 4).toInt, i)))
    assert(cat.tableAt("t", 1).orderBy("id").collect().map(_.getLong(0)).toSeq ===
      (0L until 20L))
    val changes = cat.tableChanges("t", 1, 2).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(changes === (20L until 30L).map(_ -> "insert"))
    assert(cat.table("t").filter(col("p") === 2).count() == 7)
  }

  test("empty snapshots and NULL partitions read through the manifest index") {
    val cat = freshCatalog()
    val s = StructType(Seq(StructField("id", LongType), StructField("day", StringType)))
    cat.create("part", s, Some("day"))
    cat.create("flat", s)
    Seq("part", "flat").foreach { t =>
      val empty = cat.table(t)
      assert(empty.columns.toSeq == Seq("id", "day") && empty.count() == 0)
      assert(cat.tableAt(t, 0).count() == 0)
    }
    // a NULL partition value lands in __HIVE_DEFAULT_PARTITION__ and
    // reads back as NULL, prunable by IS NULL
    cat.insert("part", spark.range(6).select(col("id"),
      when(col("id") % 3 === 0, lit(null)).otherwise(concat(lit("d"), col("id") % 3))
        .cast("string").as("day")))
    assert(cat.partitions("part").contains("__HIVE_DEFAULT_PARTITION__"))
    assert(cat.table("part").filter(col("day").isNull).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 3L))
    assert(cat.table("part").filter(col("day") === "d1").count() == 2)
    cat.truncate("part")
    assert(cat.table("part").count() == 0)
  }
}

object CatalogSpec {
  /** The draw counter of the source-once spec's nondeterministic key. */
  val sourceDraws = new java.util.concurrent.atomic.AtomicLong
}
