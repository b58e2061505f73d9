package graft.sources

import java.nio.file.{Files, Paths}

import graft.LocalFiles
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType, DataType, DateType, DecimalType,
  IntegerType, LongType, MapType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Table catalog + append-only ingest (SURVEY.md §2.1 S4/S8/S9, §3.2/§3.3).
  *
  * Reference semantics (hustle public API): `Table.create(name, columns,
  * partition)`, append-only `insert`, partition-granularity `delete`, and
  * catalog listings. Storage here is Hive-style partitioned Parquet under a
  * warehouse directory with the declared schema persisted in
  * `_meta/schema.json` — so partition pruning, column pruning, and filter
  * pushdown all come from Catalyst/Parquet for free, which is the entire
  * point of the Spark-native design (the reference's bitmap indexes map to
  * parquet column stats + dictionary + optional bloom filters, configured
  * at write time, not code).
  */
final class Catalog(spark: SparkSession, val warehouse: String) {
  graft.GraftExtensions.install(spark)

  private def tableDir(name: String) = Paths.get(warehouse, name)
  private def metaDir(name: String) = tableDir(name).resolve("_meta")
  private def dataDir(name: String) = tableDir(name).resolve("data")

  // Files.list/walk return streams backed by an open directory fd; drain
  // them under try/finally so repeated catalog calls don't leak fds.
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }
  private def walkAll(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** A column name every read and write can address by name: `.` would
    * read as a struct path and a backtick would end a quoted identifier.
    */
  private def requireColumnName(colName: String): Unit =
    require(!colName.exists(c => c == '.' || c == '`'),
      s"column name '$colName' may not contain '.' or '`'")

  /** Declare a table: fixed schema + optional partition column. */
  def create(name: String, schema: StructType, partitionBy: Option[String] = None): Unit = {
    require(!exists(name), s"table $name already exists")
    require(!viewExists(name), s"$name is a view; views and tables share a namespace")
    schema.fieldNames.foreach(requireColumnName)
    partitionBy.foreach(p =>
      require(schema.fieldNames.contains(p), s"partition column $p not in schema"))
    Files.createDirectories(metaDir(name))
    Files.writeString(metaDir(name).resolve("schema.json"), schema.json)
    Files.writeString(metaDir(name).resolve("partition.txt"), partitionBy.getOrElse(""))
  }

  /** Declare a table from hustle-style column-spec strings (see
    * [[ColumnSpec]]): `index`-marked columns get parquet bloom filters at
    * write time — the analog of the reference's bitmap indexes.
    * `uint64AsDecimal` opts `uint64` columns into full-range
    * `DecimalType(20,0)` semantics (values in [2^63, 2^64) round-trip).
    */
  def createFromSpecs(name: String, columnSpecs: Seq[String],
      partitionBy: Option[String] = None,
      uint64AsDecimal: Boolean = false): Unit = {
    val specs = ColumnSpec.parseAll(columnSpecs, uint64AsDecimal)
    create(name, ColumnSpec.toSchema(specs), partitionBy)
    Files.writeString(metaDir(name).resolve("indexed.txt"),
      specs.filter(_.indexed).map(_.field.name).mkString("\n"))
  }

  /** Columns marked `index` at create time (empty if created from a plain
    * schema).
    */
  def indexedColumns(name: String): Seq[String] = {
    val f = metaDir(name).resolve("indexed.txt")
    if (!Files.exists(f)) Seq.empty
    else Files.readString(f).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  def exists(name: String): Boolean = Files.exists(metaDir(name).resolve("schema.json"))

  def schema(name: String): StructType =
    DataType.fromJson(Files.readString(metaDir(name).resolve("schema.json")))
      .asInstanceOf[StructType]

  /** Add a column to the declared schema (ALTER TABLE ADD COLUMN ...
    * DEFAULT): metadata-only — existing data files are untouched, and
    * reads COALESCE the nulls parquet supplies for files written before
    * the column existed to `defaultSql`. O(1) regardless of table size,
    * which is the only ALTER discipline that works at 100 TB (a physical
    * backfill of exabyte-scale files is a migration, not a DDL).
    * Subsequent inserts may supply the column or omit it — the default
    * fills it at write time.
    *
    * Because "file predates the column" and "stored NULL" are physically
    * indistinguishable without per-file schema versions, a defaulted
    * added column is effectively NOT NULL on read: an insert that
    * explicitly supplies NULL reads back as the default. This is the
    * documented deviation from SQL's ADD COLUMN DEFAULT (where the
    * default applies only to pre-existing rows); callers that need
    * nullable semantics should add the column without relying on the
    * default or encode absence in-band.
    *
    * Re-adding a name that was previously dropped (or renamed away) does
    * NOT resurrect old file bytes: the new column gets a fresh PHYSICAL
    * name (generation-suffixed, see [[dropColumn]]), so pre-drop values
    * can never leak into it — the same hazard Iceberg/Delta prevent with
    * field IDs / column mapping.
    */
  def addColumn(name: String, colName: String,
      dataType: DataType, defaultSql: String): Unit = {
    val s = schema(name)
    require(!s.fieldNames.contains(colName), s"column $colName already exists")
    requireColumnName(colName)
    // a logical name may be reused; its PHYSICAL storage name must never
    // collide with bytes already in files (current columns or retired ones)
    val used = (s.fields.map(physicalName) ++ retired(name)).toSet
    val phys =
      if (!used.contains(colName)) colName
      else Iterator.from(retired(name).size)
        .map(g => s"${colName}__g$g").dropWhile(used.contains).next()
    val mdb = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(DefaultKey, defaultSql)
    if (phys != colName) mdb.putString(PhysicalKey, phys)
    val ns = StructType(
      s.fields :+ org.apache.spark.sql.types.StructField(
        colName, dataType, nullable = true, mdb.build()))
    Files.writeString(metaDir(name).resolve("schema.json"), ns.json)
  }

  /** Drop a column from the declared schema (ALTER TABLE DROP COLUMN):
    * metadata-only like [[addColumn]] — the bytes stay in existing files
    * but no read path projects them (and parquet's columnar layout means
    * they're never even decoded). The partition column can't be dropped.
    * The dropped PHYSICAL name is retired so a later addColumn of the
    * same logical name maps to fresh storage (no resurrection).
    */
  def dropColumn(name: String, colName: String): Unit = {
    val s = schema(name)
    require(s.fieldNames.contains(colName), s"column $colName does not exist")
    require(!partitionColumn(name).contains(colName),
      s"cannot drop partition column $colName")
    require(s.fields.length > 1, "cannot drop the last column")
    retire(name, physicalName(s.fields.find(_.name == colName).get))
    val ns = StructType(s.fields.filterNot(_.name == colName))
    Files.writeString(metaDir(name).resolve("schema.json"), ns.json)
  }

  /** Rename a column (ALTER TABLE RENAME COLUMN): metadata-only — the
    * field keeps its PHYSICAL storage name (existing files keep working,
    * new inserts keep writing it), only the logical name changes. Same
    * column-mapping discipline as [[addColumn]]/[[dropColumn]]; the
    * partition column can't be renamed (its name IS the on-disk Hive
    * directory layout).
    */
  def renameColumn(name: String, from: String, to: String): Unit = {
    val s = schema(name)
    require(s.fieldNames.contains(from), s"column $from does not exist")
    require(!s.fieldNames.contains(to), s"column $to already exists")
    requireColumnName(to)
    require(!partitionColumn(name).contains(from),
      s"cannot rename partition column $from")
    val ns = StructType(s.fields.map { f =>
      if (f.name != from) f
      else f.copy(name = to,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString(PhysicalKey, physicalName(f)).build())
    })
    Files.writeString(metaDir(name).resolve("schema.json"), ns.json)
  }

  /** Widen a column's declared type (ALTER TABLE ALTER COLUMN ... TYPE):
    * metadata-only — permitted only for the lossless widenings Spark's
    * parquet reader upcasts in the scan itself (byte→short→int→long,
    * float→double), so files written under the narrow type keep reading
    * without rewrite and new inserts write the wide type. Anything else
    * (narrowing, cross-family) is rejected loudly: it would need a
    * physical rewrite, which at 100 TB is a migration, not a DDL.
    */
  def widenColumn(name: String, colName: String, to: DataType): Unit = {
    import org.apache.spark.sql.types._
    val s = schema(name)
    val f = s.fields.find(_.name == colName)
      .getOrElse(throw new IllegalArgumentException(s"column $colName does not exist"))
    require(!partitionColumn(name).contains(colName),
      s"cannot alter partition column $colName")
    val intChain: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    val ok = (f.dataType, to) match {
      case (a, b) if intChain.contains(a) && intChain.contains(b) =>
        intChain.indexOf(a) < intChain.indexOf(b)
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(ok, s"cannot widen ${f.dataType.simpleString} to ${to.simpleString} " +
      "(only byte→short→int→long and float→double are lossless scan-time upcasts)")
    val ns = StructType(s.fields.map(x => if (x.name == colName) x.copy(dataType = to) else x))
    Files.writeString(metaDir(name).resolve("schema.json"), ns.json)
  }

  private val DefaultKey = Catalog.DefaultKey
  private val PhysicalKey = "graft.physical"

  /** A column's declared DEFAULT (SQL text), if any. */
  private[sources] def defaultOf(f: org.apache.spark.sql.types.StructField): Option[String] =
    if (f.metadata.contains(DefaultKey)) Some(f.metadata.getString(DefaultKey))
    else None

  /** The column name as stored in data files (differs from the logical
    * name after a rename, or when a dropped name was re-added).
    */
  private def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** Physical names that may still exist in data files but are no longer
    * part of the schema (dropped columns) — never reused for new columns.
    */
  private def retired(name: String): Seq[String] = {
    val f = metaDir(name).resolve("retired.txt")
    if (!Files.exists(f)) Seq.empty
    else Files.readString(f).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def retire(name: String, phys: String): Unit =
    Files.writeString(metaDir(name).resolve("retired.txt"),
      (retired(name) :+ phys).mkString("\n"))

  def partitionColumn(name: String): Option[String] = {
    val s = Files.readString(metaDir(name).resolve("partition.txt")).trim
    if (s.isEmpty) None else Some(s)
  }

  def tables(): Seq[String] =
    if (!Files.exists(Paths.get(warehouse))) Seq.empty
    else listDir(Paths.get(warehouse))
      .filter(p => Files.exists(p.resolve("_meta/schema.json")))
      .map(_.getFileName.toString).sorted

  // ------------------------------------------------------------------ views

  private def viewsDir = Paths.get(warehouse, "_views")

  /** Named SQL definitions of one `kind`, stored as TEXT in
    * `_views/<name>.<ext>`, one file per definition; `kind` names it in
    * the not-found message.
    */
  private final class SqlDefs(ext: String, kind: String) {
    private def path(name: String) = viewsDir.resolve(s"$name.$ext")
    def exists(name: String): Boolean = Files.exists(path(name))
    def names(): Seq[String] =
      if (!Files.exists(viewsDir)) Seq.empty
      else listDir(viewsDir).map(_.getFileName.toString)
        .filter(_.endsWith(s".$ext")).map(_.stripSuffix(s".$ext")).sorted
    def write(name: String, text: String): Unit = {
      Files.createDirectories(viewsDir)
      Files.writeString(path(name), text)
    }
    def read(name: String): String = {
      require(exists(name), s"$kind $name does not exist")
      Files.readString(path(name))
    }
    def drop(name: String): Unit = {
      require(exists(name), s"$kind $name does not exist")
      Files.delete(path(name))
    }
  }

  private val viewDefs = new SqlDefs("sql", "view")
  private val functionDefs = new SqlDefs("fnsql", "function")
  private val mviewDefs = new SqlDefs("msql", "materialized view")

  /** Persist a named view: the SQL TEXT is the stored artifact, parsed
    * and bound against the catalog wherever a statement names the view
    * ([[CatalogSql]]), like any SQL-engine view — a view over a table sees
    * the table's CURRENT version (or the snapshot its own `VERSION AS OF`
    * names), and column adds/renames flow through on the next read.
    * Views live beside tables in the warehouse under `_views/`, one file
    * per view.
    */
  def createView(name: String, sql: String, orReplace: Boolean = false): Unit = {
    require(!exists(name), s"$name is a table; views and tables share a namespace")
    require(!materializedViewExists(name), s"$name is a materialized view")
    require(orReplace || !viewExists(name), s"view $name already exists")
    viewDefs.write(name, sql)
  }

  def viewExists(name: String): Boolean = viewDefs.exists(name)

  def views(): Seq[String] = viewDefs.names()

  def viewSql(name: String): String = viewDefs.read(name)

  def dropView(name: String): Unit = viewDefs.drop(name)

  // ------------------------------------------------------------- functions

  /** Persist a SQL function definition (the text after `CREATE FUNCTION
    * <name>` — parameter list, RETURNS clause, RETURN body). Spark's
    * native SQL UDFs analyze and INLINE the body into the calling plan
    * (scalar and TABLE functions both), so persisted functions stay
    * whole-stage-codegen-friendly — no interpreted UDF boundary. The
    * stored artifact is TEXT, registered as a session temp function before
    * each [[CatalogSql]] statement is analyzed; since the session does not
    * see the catalog's names, CREATE FUNCTION rejects a body that reads a
    * catalog table or view (a view is the form for that).
    */
  def defineFunction(name: String, defText: String, orReplace: Boolean = false): Unit = {
    require(orReplace || !functionExists(name), s"function $name already exists")
    functionDefs.write(name, defText)
  }

  def functionExists(name: String): Boolean = functionDefs.exists(name)

  def functions(): Seq[String] = functionDefs.names()

  def functionSql(name: String): String = functionDefs.read(name)

  def dropFunction(name: String): Unit = functionDefs.drop(name)

  // ------------------------------------------------------ materialized views

  /** Record a materialized view's definition. The caller (the SQL router)
    * owns the backing TABLE named `name` — a materialized view is exactly
    * {definition text} + {ordinary versioned catalog table holding the
    * last refresh}, so reads serve the materialized snapshot at plain
    * table-scan cost (the point of materializing) and staleness is the
    * documented semantic until REFRESH re-runs the definition. Refresh
    * history is the backing table's own manifest log.
    */
  def defineMaterializedView(name: String, sql: String): Unit = {
    require(exists(name), s"materialized view $name needs its backing table first")
    require(!viewExists(name), s"$name is already a plain view")
    mviewDefs.write(name, sql)
  }

  def materializedViewExists(name: String): Boolean = mviewDefs.exists(name)

  def materializedViews(): Seq[String] = mviewDefs.names()

  def materializedViewSql(name: String): String = mviewDefs.read(name)

  def dropMaterializedViewDef(name: String): Unit = mviewDefs.drop(name)

  // ------------------------------------------------------------- statistics

  /** Compute and persist table statistics: per column, the row count,
    * null count, HLL approximate distinct count, and min/max (rendered as
    * strings; unorderable types — maps — get null bounds). ONE full-scan
    * aggregation job computes every column's stats together (partial
    * aggregation map-side, a single 1-row driver result) — the cost model
    * that holds at 100 TB, where per-column ANALYZE passes would multiply
    * the scan by the column count. Persisted as JSON under `_meta/stats`
    * with the snapshot version they describe, for cost-based decisions
    * (broadcast-side choice, `SHOW STATS`) without re-scanning.
    */
  def analyze(name: String): DataFrame = {
    val df = table(name)
    val fields = schema(name).fields
    def orderable(dt: DataType): Boolean =
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt)
    // avg decoded width for variable-width columns: the planner's
    // broadcast estimate MUST NOT assume a fixed 20 B per string (a
    // 10 KB-text column would be underestimated 500× and force-broadcast
    // a huge decoded table); fixed-width types report their type width.
    def widthAgg(f: org.apache.spark.sql.types.StructField)
        : org.apache.spark.sql.Column =
      f.dataType match {
        // octet_length, not length: Spark holds strings as UTF-8 bytes
        // (UTF8String), so the decoded width IS the byte count. length()
        // counts characters and underestimates multi-byte text up to 4× —
        // exactly the broadcast-OOM direction this estimate exists to
        // prevent.
        case org.apache.spark.sql.types.StringType |
            org.apache.spark.sql.types.BinaryType =>
          avg(octet_length(col(f.name)).cast("double") + 8.0)
        // nested types have no honest fixed width (defaultSize ignores
        // cardinality) — record unknown; the planner then refuses the
        // size-underestimate-dangerous broadcast direction for this table
        case _: org.apache.spark.sql.types.ArrayType |
            _: org.apache.spark.sql.types.MapType |
            _: org.apache.spark.sql.types.StructType =>
          lit(null).cast("double")
        case dt => lit(dt.defaultSize.toDouble)
      }
    val aggs = fields.toSeq.flatMap { f =>
      val c = col(f.name)
      Seq(count(c).as(s"nn_${f.name}"),
        approx_count_distinct(c).as(s"nd_${f.name}"),
        widthAgg(f).as(s"aw_${f.name}")) ++
        (if (orderable(f.dataType))
          Seq(min(c).cast("string").as(s"mn_${f.name}"),
            max(c).cast("string").as(s"mx_${f.name}"))
        else Seq(lit(null).cast("string").as(s"mn_${f.name}"),
          lit(null).cast("string").as(s"mx_${f.name}")))
    }
    val row = df.agg(count(lit(1)).as("n_rows"), aggs: _*).head()
    val nRows = row.getLong(row.fieldIndex("n_rows"))
    def str(i: Int): Option[String] = if (row.isNullAt(i)) None else Some(row.getString(i))
    def width(i: Int): Option[Double] =
      if (row.isNullAt(i)) None else Some(row.getDouble(i))
    val stats = fields.toSeq.map { f =>
      (f.name, nRows,
        nRows - row.getLong(row.fieldIndex(s"nn_${f.name}")),
        row.getLong(row.fieldIndex(s"nd_${f.name}")),
        str(row.fieldIndex(s"mn_${f.name}")),
        str(row.fieldIndex(s"mx_${f.name}")),
        width(row.fieldIndex(s"aw_${f.name}")))
    }
    val out = spark.createDataFrame(stats)
      .toDF("column", "n_rows", "n_nulls", "ndv_approx", "min_v", "max_v",
        "avg_width")
      .withColumn("analyzed_version", lit(currentVersion(name)))
    out.coalesce(1).write.mode(SaveMode.Overwrite).options(NioLocalFileSystem.writeOptions)
      .json(metaDir(name).resolve("stats").toString)
    // a pre-ANALYZE read may have memoized "no fresh stats" for this
    // snapshot — drop it so planning sees the new stats immediately
    invalidateStatsCache(name)
    statsOf(name).getOrElse(out)
  }

  /** Persisted [[analyze]] output, if the table has been analyzed — read
    * with its known schema (no inference job; an all-null column, such as
    * a map column's bounds, reads as null).
    */
  def statsOf(name: String): Option[DataFrame] =
    if (!Files.exists(metaDir(name).resolve("stats"))) None
    else Some(spark.read.schema("`column` STRING, n_rows BIGINT, n_nulls BIGINT, " +
        "ndv_approx BIGINT, min_v STRING, max_v STRING, avg_width DOUBLE, analyzed_version INT")
      .json(metaDir(name).resolve("stats").toString).orderBy("column"))

  /** Append-only insert: validates + casts to the declared schema, writes
    * Hive-partitioned parquet. The cast is strict column-name matching
    * (missing column → error), mirroring the reference's declared-schema
    * inserts. Returns the number of rows written, counted from the
    * just-written files' parquet footers (metadata-only) — never by
    * re-executing the source query, whose result could differ on a second
    * run (nondeterministic sources, version-dependent reads).
    */
  def insert(name: String, df: DataFrame): Long = {
    val added = stageIn(name, projectToPhysical(name, df))
    // appends commute: commit under OCC retry so concurrent writers both
    // land (serializable — the log stays linear, content order-free)
    commitAppend(name, "insert", added)
    parquetRowCount(name, added)
  }

  /** Two-phase seam for the cross-process vacuum-race spec: [[stageOnly]]
    * leaves the table in exactly the state a racing writer exposes to a
    * concurrent vacuum — data files moved into the live tree, referenced
    * by NO manifest — and [[commitStaged]] publishes them later. Only the
    * phase split is test-only; both halves are the production [[insert]]
    * path verbatim, so what the spec exercises is what ships.
    */
  private[graft] def stageOnly(name: String, df: DataFrame): Seq[String] =
    stageIn(name, projectToPhysical(name, df))

  private[graft] def commitStaged(name: String, files: Seq[String]): Unit =
    commitAppend(name, "insert", files)

  /** Exact row count of `name`'s freshly written data files (manifest
    * entries) from their footer metadata — a driver-side footer read per
    * file, NO Spark job. O(added files) small reads, the same order as
    * the manifest commit itself; falls back to the distributed count over
    * [[readFiles]] if any footer is unreadable.
    */
  private def parquetRowCount(name: String, files: Seq[String]): Long =
    try {
      val conf = spark.sessionState.newHadoopConf()
      // read options built from this loaded conf: the options-less open
      // builds a fresh Hadoop Configuration per file, which re-parses the
      // Hadoop XML resources (most of an insert's driver time)
      val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
      files.map { rel =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(dataDir(name).resolve(rel).toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in, options)
        try r.getRecordCount finally r.close()
      }.sum
    } catch {
      case _: Exception => readFiles(name, files).count()
    }

  // ------------------------------------------------ version manifests

  private def versionsDir(name: String) = metaDir(name).resolve("versions")
  private def manifestPath(name: String, v: Int) =
    versionsDir(name).resolve(f"v$v%08d.txt")

  /** Committed snapshot versions, ascending. Version 0 (the empty table
    * right after [[create]]) is implicit and always readable.
    */
  def versions(name: String): Seq[Int] =
    if (!Files.exists(versionsDir(name))) Seq.empty
    else listDir(versionsDir(name)).map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .map(n => n.stripPrefix("v").stripSuffix(".txt").toInt).sorted

  def currentVersion(name: String): Int = versions(name).lastOption.getOrElse(0)

  /** (version, operation, liveFileCount) per retained snapshot, ascending —
    * the DESCRIBE HISTORY view of the manifest log.
    */
  def history(name: String): Seq[(Int, String, Int)] =
    versions(name).map { v =>
      val lines = Files.readString(manifestPath(name, v)).split("\n").toSeq.map(_.trim)
      val op = lines.headOption.filter(_.startsWith("# "))
        .map(_.stripPrefix("# ")).getOrElse("unknown")
      (v, op, lines.count(l => l.nonEmpty && !l.startsWith("#")))
    }

  /** RESTORE TO VERSION: commit a NEW version whose manifest is snapshot
    * `v`'s file list — a metadata-only rollback (no data movement, O(1)
    * in table size), and itself time-travel-reversible: the rolled-back
    * state stays in the history. `v` must still be retained (not
    * vacuumed). Returns the new version number.
    */
  def restoreVersion(name: String, v: Int): Int = {
    val base = currentVersion(name)
    val files = manifest(name, v) // loud require if v was vacuumed/never existed
    commitVersionAt(name, base, s"restore v$v", files)
  }

  /** Shallow CLONE (Delta/Iceberg `CREATE TABLE ... CLONE` semantics):
    * `dst` becomes an independent table over `src`'s CURRENT snapshot
    * with ZERO data-byte copying — each live data file is HARDLINKED
    * into the clone's data dir (same inode; falls back to a copy on
    * filesystems without link support). O(live files) metadata work
    * regardless of table size — the only clone discipline that works at
    * 100 TB; on an object-store warehouse the same operation is a
    * manifest-pointer copy.
    *
    * Safe because data files are IMMUTABLE once committed: every
    * mutation (insert/delete/merge/compact) writes NEW part files and
    * re-points the manifest, and [[vacuum]] merely unlinks — so either
    * table vacuuming or rewriting never disturbs the other side's bytes
    * (the inode survives until its last link drops). The clone starts
    * its OWN version log at v1 (`clone <src>@v<N>`); schema, partition
    * column, indexes, retired physical names and CHECK constraints all
    * carry over.
    */
  def cloneTable(src: String, dst: String): Int = {
    require(exists(src), s"table $src does not exist")
    require(!exists(dst), s"table $dst already exists")
    require(!viewExists(dst), s"$dst is a view; views and tables share a namespace")
    val v = currentVersion(src)
    val files = manifest(src, v)
    Files.createDirectories(metaDir(dst))
    copySidecars(metaDir(src), metaDir(dst))
    val sDir = dataDir(src)
    val dDir = dataDir(dst)
    files.foreach { rel =>
      val from = sDir.resolve(rel)
      val to = dDir.resolve(rel)
      Files.createDirectories(to.getParent)
      try Files.createLink(to, from)
      catch { case _: UnsupportedOperationException => Files.copy(from, to) }
    }
    commitVersion(dst, s"clone $src@v$v", files)
  }

  /** DEEP export of the table's CURRENT snapshot to `destDir` — the
    * cross-warehouse replication/backup primitive the hardlinked
    * [[cloneTable]] can't be (links need one filesystem): data files are
    * BYTE-COPIED under `destDir/data/` with their manifest-relative
    * layout, alongside the metadata sidecars and a `snapshot.txt` listing
    * exactly the exported files. O(live snapshot bytes) by construction —
    * history is NOT exported (an importer starts a fresh log, the same
    * contract as Delta's deep clone). Returns the number of files copied.
    */
  def exportTable(name: String, destDir: String): Int = {
    require(exists(name), s"table $name does not exist")
    val v = currentVersion(name)
    val files = manifest(name, v)
    val dest = Paths.get(destDir)
    require(!Files.exists(dest) || listDir(dest).isEmpty,
      s"export destination $destDir must be empty")
    Files.createDirectories(dest.resolve("meta"))
    copySidecars(metaDir(name), dest.resolve("meta"))
    val sDir = dataDir(name)
    files.foreach { rel =>
      val to = dest.resolve("data").resolve(rel)
      Files.createDirectories(to.getParent)
      Files.copy(sDir.resolve(rel), to)
    }
    Files.writeString(dest.resolve("snapshot.txt"),
      (s"# export $name@v$v" +: files.sorted).mkString("\n"))
    files.size
  }

  /** Import an [[exportTable]] snapshot as table `name` in THIS warehouse:
    * metadata sidecars and data files copy in, and the table starts a
    * FRESH version log at v1 (`import <srcDir>`) — by-value replication,
    * no shared inodes, no history carried. Fails if `name` exists.
    */
  def importTable(name: String, srcDir: String): Int = {
    require(!exists(name), s"table $name already exists")
    require(!viewExists(name), s"$name is a view; views and tables share a namespace")
    val src = Paths.get(srcDir)
    val snap = src.resolve("snapshot.txt")
    require(Files.exists(snap), s"$srcDir is not an exportTable snapshot")
    val files = Files.readString(snap).split("\n").toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    Files.createDirectories(metaDir(name))
    copySidecars(src.resolve("meta"), metaDir(name))
    val dDir = dataDir(name)
    files.foreach { rel =>
      val to = dDir.resolve(rel)
      Files.createDirectories(to.getParent)
      Files.copy(src.resolve("data").resolve(rel), to)
    }
    commitVersion(name, s"import $srcDir", files)
  }

  /** Copy a table's metadata sidecars (schema, partition column, indexes,
    * retired physical names, CHECKs) between directories, skipping the
    * optional ones the table lacks.
    */
  private def copySidecars(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    Seq("schema.json", "partition.txt", "indexed.txt", "retired.txt", "checks.txt")
      .foreach { f =>
        val p = from.resolve(f)
        if (Files.exists(p)) Files.copy(p, to.resolve(f))
      }

  /** CDC change feed between two retained snapshots: the row-level
    * multiset diff `tableAt(toV) ∖ tableAt(fromV)` tagged 'insert' plus
    * the reverse tagged 'delete', in a `_change` column appended to the
    * logical schema.
    *
    * Computed FILE-GRANULARLY from the manifest diff: only files some
    * intervening commit added or removed are ever read — never the whole
    * table — so an incremental consumer pays for the churn, not the
    * corpus. Rows that merely moved files (COW rewrite survivors,
    * compaction) appear on both sides and cancel in the EXCEPT ALL, which
    * makes the feed exactly the logical snapshot diff: a pure compact()
    * between the two versions contributes nothing.
    */
  def tableChanges(name: String, fromV: Int, toV: Int): DataFrame = {
    require(fromV <= toV,
      s"tableChanges($name): fromV $fromV must be <= toV $toV")
    val from = manifest(name, fromV).toSet
    val to = manifest(name, toV).toSet
    def readSide(files: Set[String]): DataFrame =
      toLogical(name, readFiles(name, files.toSeq.sorted))
    val added = readSide(to -- from)
    val removed = readSide(from -- to)
    added.exceptAll(removed).withColumn(Catalog.ChangeCol, lit("insert"))
      .unionByName(removed.exceptAll(added).withColumn(Catalog.ChangeCol, lit("delete")))
  }

  /** Data files (relative to the table's data dir) live at version `v`. */
  private def manifest(name: String, v: Int): Seq[String] =
    if (v == 0) Seq.empty
    else {
      val p = manifestPath(name, v)
      require(Files.exists(p),
        s"version $v of table $name does not exist (never committed, or vacuumed)")
      Files.readString(p).split("\n").toSeq
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    }

  /** Atomic snapshot commit: write the next manifest to a temp file, then
    * link it into place — the link IS the commit point (see
    * [[tryCommitAt]]). A crash before it leaves freshly staged data files
    * orphaned (invisible to every reader, reclaimed by [[vacuum]]); a
    * crash after it leaves the new version fully live. No reader ever
    * observes a partial mutation.
    */
  private def commitVersion(name: String, op: String, files: Seq[String]): Int =
    commitVersionAt(name, currentVersion(name), op, files)

  /** Commit `files` as the child of snapshot `base` — the serializable
    * rewrite-op commit: `base` is the version the operation READ its
    * file list from (pinned at the operation's first state access), so
    * if any other writer committed base+1 in the meantime the
    * fail-if-exists link detects it and the operation aborts LOUDLY
    * instead of silently clobbering the concurrent change. Appends don't
    * need this — they rebase via [[commitAppend]].
    */
  private[graft] def commitVersionAt(
      name: String, base: Int, op: String, files: Seq[String]): Int = {
    val v = base + 1
    if (!tryCommitAt(name, v, op, files))
      throw new IllegalStateException(
        s"concurrent commit detected for $name v$v — another writer advanced " +
          "the log past the base this operation read (its file list rewrites " +
          "a stale snapshot and cannot rebase)")
    v
  }

  /** Attempt to publish manifest `v` atomically, failing (false) if a
    * concurrent writer already claimed that version number. The commit
    * point is `link(2)` — `Files.createLink` — which atomically fails
    * with [[java.nio.file.FileAlreadyExistsException]] when the target
    * exists, unlike POSIX rename (which silently REPLACES and would make
    * a lost-update race invisible). This is the same fail-if-exists
    * discipline Delta's LogStore requires of its `write(..., overwrite =
    * false)` commits.
    */
  private def tryCommitAt(
      name: String, v: Int, op: String, files: Seq[String]): Boolean = {
    Files.createDirectories(versionsDir(name))
    // writer-unique staging name: two concurrent writers must not clobber
    // each other's tmp while racing for the same version slot
    val tmp = versionsDir(name).resolve(
      s".v$v.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.writeString(tmp, (s"# $op" +: files.sorted).mkString("\n"))
    val won =
      try { Files.createLink(manifestPath(name, v), tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    Files.deleteIfExists(tmp)
    if (won) nudgeMtime(name, v)
    won
  }

  /** Optimistic-concurrency APPEND commit (Delta's conflict-resolution
    * shape for blind appends): stage-once, then retry the manifest commit
    * against whatever HEAD is current — an insert's file list is
    * `HEAD ++ added`, and since appends only ADD files they commute with
    * any concurrent committed operation, so the rebase is always just
    * re-reading HEAD. Bounded retries turn pathological contention loud
    * instead of livelocking. Rewrite ops (delete/merge/compact) do NOT
    * get this path: their file lists are diffs against a specific base
    * snapshot and a concurrent commit invalidates them — they abort via
    * [[commitVersion]]'s fail-if-exists.
    */
  private def commitAppend(
      name: String, op: String, added: Seq[String], maxRetries: Int = 24): Int = {
    var attempt = 0
    while (attempt < maxRetries) {
      val v = currentVersion(name) + 1
      if (tryCommitAt(name, v, op, manifest(name, v - 1) ++ added)) return v
      attempt += 1
    }
    throw new IllegalStateException(
      s"append commit to $name failed after $maxRetries OCC retries — " +
        "pathological writer contention")
  }

  /** Commit-time mtime monotonicity (see body comment). */
  private def nudgeMtime(name: String, v: Int): Unit = {
    // Commit-time monotonicity (Delta's "timestamps out of order"
    // adjustment, delta-io/delta DeltaHistoryManager): TIMESTAMP AS OF
    // resolves by manifest mtime, so on filesystems with coarse mtime
    // granularity (1 s is common) two rapid commits could stamp EQUAL
    // times, making the boundary between them unaddressable. If the new
    // manifest's mtime is not strictly after its predecessor's, nudge it
    // past it — and READ THE RESULT BACK: on filesystems with coarse
    // mtime granularity a +1 ms nudge can truncate straight back to the
    // predecessor's second, so escalate (1 ms → 1 s → 2 s …) until the
    // stored value is strictly greater, mirroring Delta's loop.
    val prev = manifestPath(name, v - 1)
    if (Files.exists(prev)) {
      val prevT = Files.getLastModifiedTime(prev).toInstant
      val curP = manifestPath(name, v)
      var bumpMs = 1L
      while (!Files.getLastModifiedTime(curP).toInstant.isAfter(prevT)) {
        Files.setLastModifiedTime(curP,
          java.nio.file.attribute.FileTime.from(prevT.plusMillis(bumpMs)))
        bumpMs = if (bumpMs < 1000L) 1000L else bumpMs + 1000L
      }
    }
  }

  /** Stage a physical write under `<data>.stage_tmp`, then move the data
    * files into the live tree (Hive layout preserved; Spark's per-job
    * UUID part names make collisions impossible). Returns the moved
    * files' data-dir-relative paths — the currency of manifests. Staged
    * files are NOT readable until a subsequent [[commitVersion]] lists
    * them.
    */
  private def stageIn(name: String, projected: DataFrame): Seq[String] = {
    val dir = dataDir(name)
    Files.createDirectories(dir)
    // writer-unique staging dir: concurrent OCC appends must not clobber
    // each other's staged files before their commits race for the log
    val staged = Paths.get(dir.toString + ".stage_tmp_" +
      java.util.UUID.randomUUID().toString.take(8))
    LocalFiles.deleteRecursively(staged)
    writeData(name, projected, staged.toString, SaveMode.Overwrite)
    val moved = walkAll(staged)
      .filter(p => Files.isRegularFile(p))
      .filterNot(p => p.getFileName.toString.startsWith("_") ||
        p.getFileName.toString.startsWith("."))
      .map { p =>
        val rel = staged.relativize(p)
        val dst = dir.resolve(rel)
        Files.createDirectories(dst.getParent)
        Files.move(p, dst)
        // restamp mtime to MOVE time: vacuum's orphan age gate keys off
        // the data file's mtime, and a move preserves the time the bytes
        // were WRITTEN in staging — for a long write job that would start
        // the orphan clock at first byte, not at publish, letting a
        // concurrent vacuum reclaim a moved-but-uncommitted file whose
        // write alone outlived the retain window. With the restamp the
        // gate's bound is move→commit, which is metadata-fast.
        Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis()))
        rel.toString
      }
    LocalFiles.deleteRecursively(staged)
    moved
  }

  /** Physically reclaim space: delete every data file not referenced by
    * the last `retainLast` manifests (old snapshot files, crash orphans,
    * stray checksum siblings), drop the older manifests, and prune
    * now-empty partition dirs. After `vacuum(name)` only the files the
    * retained versions can read remain on disk — time travel beyond them
    * is gone, which is the explicit trade a vacuum makes.
    *
    * Safe under concurrent writers (the Delta VACUUM discipline): files
    * referenced by a manifest being DROPPED are committed history and
    * are reclaimed immediately, but files referenced by NO manifest at
    * all are indistinguishable from a racing writer's moved-but-not-yet-
    * committed output, so they (and `.stage_tmp_*` staging dirs, which a
    * live writer may still be filling) are only reclaimed once older
    * than `orphanRetainMillis`. A crash orphan ages past the window and
    * gets swept on a later vacuum; an in-flight write never loses data
    * to a concurrent vacuum as long as its MOVE→commit gap is shorter
    * than the window ([[stageIn]] restamps each file's mtime at move
    * time, so the write job's duration — however long the stage phase
    * ran — does not count against the window; only the metadata-fast
    * publish→commit hop does). Pass `orphanRetainMillis = 0` only when
    * no writer can be active (tests, single-writer maintenance).
    */
  def vacuum(name: String, retainLast: Int = 1,
      orphanRetainMillis: Long = Catalog.DefaultOrphanRetainMs): Unit = {
    val dir = dataDir(name)
    if (!Files.exists(dir)) return
    val keep = math.max(1, retainLast)
    val vs = versions(name)
    val referenced = vs.flatMap(manifest(name, _)).toSet // by ANY version
    val live = vs.takeRight(keep).flatMap(manifest(name, _)).toSet
    val orphanCutoff = System.currentTimeMillis() - math.max(0L, orphanRetainMillis)
    walkAll(dir).filter(Files.isRegularFile(_)).foreach { f =>
      val fn = f.getFileName.toString
      // a .<file>.crc checksum shares the fate of its data file
      val dataRel =
        if (fn.startsWith(".") && fn.endsWith(".crc"))
          dir.relativize(f.getParent.resolve(fn.stripPrefix(".").stripSuffix(".crc"))).toString
        else dir.relativize(f).toString
      if (!live.contains(dataRel)) {
        val committedHistory = referenced.contains(dataRel)
        if (committedHistory ||
            Files.getLastModifiedTime(f).toMillis < orphanCutoff)
          Files.delete(f)
      }
    }
    // prune empty (sub)dirs, deepest first
    walkAll(dir).filter(Files.isDirectory(_)).sortBy(-_.getNameCount)
      .filter(d => d != dir && listDir(d).isEmpty)
      .foreach(Files.delete)
    vs.dropRight(keep).foreach(v => Files.deleteIfExists(manifestPath(name, v)))
    // crash-orphaned staging dirs (writer-unique names don't self-clean)
    // — vacuum is the reclaim API, age-gated because an ACTIVE writer's
    // staging dir looks identical
    listDir(dir.getParent)
      .filter(_.getFileName.toString.startsWith(dir.getFileName.toString + ".stage_tmp"))
      .filter(d => Files.getLastModifiedTime(d).toMillis < orphanCutoff)
      .foreach(LocalFiles.deleteRecursively)
  }

  /** Age-based retention (`VACUUM t RETAIN <n> HOURS`, the Delta-style
    * time form of [[vacuum]]): keep every version whose COMMIT TIME is
    * inside the window — commit time = manifest mtime, the same clock
    * `TIMESTAMP AS OF` resolves against, so "what time travel can still
    * reach" and "what vacuum keeps" agree by construction. The head
    * version is always retained. Physical reclaim delegates to the
    * count-based [[vacuum]].
    */
  def vacuumRetainHours(name: String, hours: Long): Unit = {
    require(hours >= 0, s"retention hours must be >= 0, got $hours")
    val vs = versions(name)
    if (vs.isEmpty) return
    val cutoff = System.currentTimeMillis() - hours * 3600000L
    val recent = vs.count(v =>
      Files.getLastModifiedTime(manifestPath(name, v)).toMillis >= cutoff)
    vacuum(name, retainLast = math.max(1, recent))
  }

  /** Logical columns (with write-time defaults for omitted defaulted
    * columns) cast and renamed to their PHYSICAL storage names — the
    * projection every data write goes through.
    */
  private def projectToPhysical(name: String, df: DataFrame): DataFrame =
    // Writers address LOGICAL names; files store PHYSICAL names. The
    // constraint guard sits between default-fill and the physical rename
    // so CHECK expressions resolve against the declared logical schema.
    constraintGuard(name, alignLogical(name, df)).select(
      schema(name).fields.map(f => col(f.name).as(physicalName(f))).toSeq: _*)

  /** `df` in logical terms and schema order, each column cast to its
    * declared type; a column the writer omits takes its declared default
    * (added columns only), a missing non-defaulted column errors.
    */
  private def alignLogical(name: String, df: DataFrame): DataFrame = {
    val s = schema(name)
    df.select(s.fields.map { f =>
      val c =
        if (!df.columns.contains(f.name) && defaultOf(f).isDefined)
          expr(defaultOf(f).get).cast(f.dataType)
        else col(f.name).cast(f.dataType)
      c.as(f.name)
    }.toSeq: _*)
  }

  // ------------------------------------------------------------ constraints

  private def checksPath(name: String) = metaDir(name).resolve("checks.txt")

  /** Declared CHECK constraints (SQL expressions over logical columns). */
  def checks(name: String): Seq[String] =
    if (!Files.exists(checksPath(name))) Seq.empty
    else Files.readString(checksPath(name)).split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty)

  /** Add a CHECK constraint: EXISTING rows are validated first (one scan;
    * ANSI `ADD CONSTRAINT ... CHECK` semantics — adding a check the data
    * already violates must fail, not silently gate only future writes).
    * Enforcement afterwards is embedded in the single write pass of every
    * insert/update/merge (see [[constraintGuard]]) — zero extra jobs per
    * write, which is what keeps constraints affordable at 100 TB ingest
    * rates. Time-travel reads and [[restoreVersion]] are NOT re-validated
    * (a restore can resurrect pre-constraint rows — the same trade the
    * mainstream lakehouse formats make).
    */
  def addCheck(name: String, check: String): Unit = {
    require(exists(name), s"table $name does not exist")
    val bad = table(name).filter(expr(check) <=> lit(false)).count()
    require(bad == 0L,
      s"cannot add CHECK ($check) to $name: $bad existing rows violate it")
    Files.writeString(checksPath(name), (checks(name) :+ check).mkString("\n"))
  }

  /** Row-level constraint enforcement, embedded in the write projection:
    * each NOT NULL column and each CHECK wraps the first schema column in
    * a `when(violated, raise_error)` guard, so validation costs one
    * per-row expression inside the write scan — never a separate
    * validation job. NULL check results pass (ANSI CHECK semantics:
    * violated only when the predicate is exactly FALSE).
    */
  private def constraintGuard(name: String, logical: DataFrame): DataFrame = {
    val s = schema(name)
    val notNull = s.fields.filter(!_.nullable).toSeq.map(f =>
      (col(f.name).isNull,
        s"NOT NULL constraint violated: column ${f.name} of $name"))
    val checked = checks(name).map(c =>
      (expr(c) <=> lit(false), s"CHECK constraint violated on $name: $c"))
    val all = notNull ++ checked
    if (all.isEmpty) logical
    else {
      val f0 = s.head
      val guarded = all.foldLeft(col(f0.name)) { case (acc, (bad, msg)) =>
        when(bad, raise_error(lit(msg))).otherwise(acc)
      }
      logical.withColumn(f0.name, guarded.cast(f0.dataType))
    }
  }

  /** The one writer of table data: insert, every copy-on-write rewrite,
    * `merge`, `compact` and `nest` stage their files through it. Its
    * local files and directories get their permissions without a forked
    * `chmod` ([[NioLocalFileSystem]]).
    */
  private def writeData(name: String, projected: DataFrame,
      target: String, mode: SaveMode): Unit = {
    var writer = projected.write.mode(mode).options(NioLocalFileSystem.writeOptions)
    // bloom filters for index-marked columns (reference's bitmap-index analog)
    indexedColumns(name).foreach { c =>
      writer = writer.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    partitionColumn(name)
      .map(p => writer.partitionBy(p))
      .getOrElse(writer)
      .parquet(target)
  }

  /** Ingest JSON lines (the reference's `insert(phile=..., decoder=
    * json_decoder)`): schema-directed parse, optional row preprocess.
    */
  def insertJson(name: String, path: String,
      preprocess: DataFrame => DataFrame = identity): Long = {
    val raw = spark.read.schema(schema(name)).json(path)
    insert(name, preprocess(raw))
  }

  /** Ingest CSV (the reference's `insert(phile=..., decoder=csv_decoder)`):
    * schema-directed parse — columns map by POSITION against the table
    * schema (the header row, when present, is only skipped) — with
    * optional row preprocess. RFC-4180 quote-escape (`""`) by default so
    * a Spark-written CSV round-trips; override via `options`.
    */
  def insertCsv(name: String, path: String,
      // multiLine by default: quoted text values with embedded newlines
      // must not split into spurious records on ingest — correctness over
      // speed. TRADE-OFF: multiLine makes each CSV file non-splittable
      // (one task per file), so bulk ingest of few huge files should pass
      // explicit options WITHOUT multiLine (splittable, parallel) after
      // confirming the data has no embedded newlines — or split the
      // input into many files, which restores full parallelism here.
      options: Map[String, String] =
        Map("header" -> "true", "escape" -> "\"", "multiLine" -> "true"),
      preprocess: DataFrame => DataFrame = identity): Long = {
    val raw = spark.read.options(options).schema(schema(name)).csv(path)
    insert(name, preprocess(raw))
  }

  /** CSV ingest with a DEAD-LETTER path: every row whose raw text fails a
    * `try_cast` to the target schema goes — uncorrupted, as the original
    * strings plus a `_reason` column naming the failing columns — to the
    * `quarantine` table instead of poisoning the ingest or silently
    * nulling (what a plain schema-directed read does to bad cells). The
    * standard 100 TB ingest contract: the good path commits, the bad path
    * stays replayable for repair, and both splits come from ONE
    * materialized snapshot of the input — the raw read is persisted
    * (memory, spilling to local disk) before either sink writes, so the
    * two insert jobs cannot observe different bytes if the source file is
    * concurrently rewritten, and the CSV parse itself runs once. The
    * price is staging the batch on executor-local disk — the standard
    * exactly-once-ingest cost; batches should be sized accordingly.
    * Returns (inserted, quarantined).
    *
    * The quarantine table must pre-exist with the target's column NAMES
    * as string columns plus `_reason` string (validated loudly). Raw
    * NULLs are not failures — NOT NULL requiredness belongs to the
    * table's constraints, not the decoder.
    */
  def insertCsvQuarantine(
      name: String, quarantine: String, path: String,
      options: Map[String, String] =
        Map("header" -> "true", "escape" -> "\"", "multiLine" -> "true"))
      : (Long, Long) = {
    val rawSchema = org.apache.spark.sql.types.StructType(
      schema(name).fields.map(f => org.apache.spark.sql.types.StructField(
        f.name, org.apache.spark.sql.types.StringType, nullable = true)))
    quarantineSplit(name, quarantine,
      spark.read.options(options).schema(rawSchema).csv(path))
  }

  /** Avro ingest with the same dead-letter contract as
    * [[insertCsvQuarantine]]: the container decodes to STRING columns
    * ([[AvroCodec.readAvroAsStrings]] — name-mapped, logical temporals
    * rendered ISO), then the shared try_cast split routes unparseable
    * rows to `quarantine` with a `_reason`. One decode, one snapshot,
    * both sinks consistent.
    */
  def insertAvroQuarantine(
      name: String, quarantine: String, path: String): (Long, Long) =
    quarantineSplit(name, quarantine,
      AvroCodec.readAvroAsStrings(spark, path, schema(name)))

  /** The shared dead-letter split behind the CSV and Avro quarantine
    * decoders: `raw` carries the target's columns AS STRINGS; rows whose
    * cells all `try_cast` to the declared types insert into `name`, the
    * rest land in `quarantine` untouched plus a `_reason` naming the
    * failing columns. `raw` is persisted before either sink so both
    * splits observe ONE snapshot and the decode runs once.
    */
  private def quarantineSplit(
      name: String, quarantine: String,
      raw0: DataFrame): (Long, Long) = {
    val target = schema(name)
    val qSchema = schema(quarantine)
    require(
      target.fields.map(_.name).forall(n =>
        qSchema.fields.exists(f => f.name == n &&
          f.dataType == org.apache.spark.sql.types.StringType)) &&
        qSchema.fields.exists(f => f.name == "_reason" &&
          f.dataType == org.apache.spark.sql.types.StringType),
      s"quarantine table '$quarantine' must carry ${name}'s columns as " +
        "strings plus a _reason string column")
    val raw = raw0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def tryCast(f: org.apache.spark.sql.types.StructField) = col(f.name).try_cast(f.dataType)
    def cellBad(f: org.apache.spark.sql.types.StructField) =
      col(f.name).isNotNull && tryCast(f).isNull
    val rowBad = target.fields.map(cellBad).reduce(_ || _)
    val good = raw.filter(!rowBad)
      .select(target.fields.map(f => tryCast(f).as(f.name)).toSeq: _*)
    val bad = raw.filter(rowBad)
      .select(qSchema.fields.map { f =>
        if (f.name == "_reason")
          concat_ws(",", array_compact(array(
            target.fields.map(tf =>
              when(cellBad(tf), lit(tf.name))).toSeq: _*))).as("_reason")
        else col(f.name)
      }.toSeq: _*)
    try (insert(name, good), insert(quarantine, bad))
    finally raw.unpersist()
  }

  /** Ingest ORC (interchange with ORC-producing warehouses): schema-directed
    * read — ORC is self-describing, so columns map by NAME and are cast to
    * the declared types — with optional row preprocess. Storage inside the
    * catalog stays parquet; this is the ingest decoder, not a storage mode.
    */
  def insertOrc(name: String, path: String,
      preprocess: DataFrame => DataFrame = identity): Long = {
    val raw = spark.read.schema(schema(name)).orc(path)
    insert(name, preprocess(raw))
  }

  /** Ingest Avro container files ([[AvroCodec.readAvro]] — Avro core, no
    * spark-avro module needed): self-describing like ORC, so columns map
    * by NAME; logical timestamp/date types land as Spark temporals.
    * Storage inside the catalog stays parquet.
    */
  def insertAvro(name: String, path: String,
      preprocess: DataFrame => DataFrame = identity): Long =
    insert(name, preprocess(AvroCodec.readAvro(spark, path, schema(name))))

  /** Compact a table's data files to `targetFiles` per partition (the
    * OPTIMIZE / small-files lifecycle op: streaming and per-batch inserts
    * accumulate many small files, and at scale file-open overhead and
    * footer reads come to dominate scans). Rewrites every live file
    * into staged ones and commits a manifest listing only those —
    * content is unchanged (CatalogSpec asserts the fingerprint;
    * `catalog_compact`'s oracle the profile). Partitioned tables keep
    * their Hive layout, compacted per partition.
    */
  def compact(name: String, targetFiles: Int = 1): Unit = {
    val base = currentVersion(name)
    val live = manifest(name, base)
    // compact rewrites the PHYSICAL bytes as-is (no default coalescing):
    // a pre-addColumn file's nulls stay nulls on disk, so compaction never
    // bakes read-time defaults into data files. The old fragments stay on
    // disk for time travel until a vacuum reclaims them. A
    // created-but-never-inserted table has nothing to compact.
    if (live.nonEmpty)
      commitRewrite(name, "compact", base, live, live,
        readFiles(name, live).repartition(targetFiles))
  }

  /** Partition-scoped OPTIMIZE (`OPTIMIZE t WHERE <pred>`): compact ONLY
    * the data files that contain rows matching `condition`, leaving every
    * other file as untouched bytes in the new manifest. At 100 TB you
    * compact the hot ingest partition, not the table — a whole-table
    * rewrite is a migration. File-granular like [[deleteRows]] (one
    * bounded manifest pass finds the affected files); rewriting whole
    * affected files is content-preserving for ANY predicate, but a
    * predicate on the partition column gives the intended exact scope
    * (affected files hold only matching rows). Raw physical bytes are
    * rewritten as-is — read-time defaults are never baked in.
    */
  def compactWhere(name: String, condition: org.apache.spark.sql.Column,
      targetFiles: Int = 1): Unit =
    rewriteWhere("compact_where", name, condition)(_.repartition(targetFiles))

  /** [[compact]] with Z-ORDER clustering: rewrite the table's files
    * range-partitioned and sorted by the Morton z-value of `zcols`, so
    * each output file covers a compact hyper-rectangle of the clustered
    * dimensions and multi-dimensional range predicates skip whole files /
    * row groups through ordinary parquet min-max statistics (the
    * `OPTIMIZE ... ZORDER BY` maintenance op of the mainstream lakehouse
    * formats; see [[ZOrder]] for the interleave and the sidecar-pruned
    * standalone-directory variant). Same COW discipline as [[compact]]:
    * new manifest lists only the rewritten files, old fragments remain
    * for time travel until vacuum.
    */
  def compactZOrder(name: String, zcols: Seq[String], targetFiles: Int = 8): Unit = {
    val base = currentVersion(name)
    val live = manifest(name, base)
    if (live.isEmpty) return
    require(zcols.nonEmpty, "ZORDER BY needs at least one column")
    val s = schema(name)
    val phys = zcols.map { c =>
      val f = s.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"z-order column $c not in schema of $name"))
      physicalName(f)
    }
    val raw = readFiles(name, live)
    val aggs = phys.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val g = raw.agg(aggs.head, aggs.tail: _*).head()
    val dims = phys.zipWithIndex.map { case (c, i) =>
      // min/max come back null when the column is all-NULL or not castable
      // to double — reject with a diagnostic instead of a bare NPE from
      // getDouble.
      require(!g.isNullAt(2 * i) && !g.isNullAt(2 * i + 1),
        s"ZORDER BY column $c of $name has no numeric range " +
          "(all-NULL or not castable to double) — z-ordering needs " +
          "numeric/date/timestamp columns with at least one non-null value")
      (col(c), g.getDouble(2 * i), g.getDouble(2 * i + 1))
    }
    commitRewrite(name, s"zorder(${zcols.mkString(",")})", base, live, live, raw
      .withColumn("__graft_z", ZOrder.zValue(dims))
      .repartitionByRange(targetFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z"))
  }

  /** The one data reader: the given manifest entries as stored —
    * physical column names, no default coalescing; [[toLogical]] over it
    * is the logical view. The entries become a [[ManifestFileIndex]]
    * under a plain parquet `HadoopFsRelation`, so the read stats each
    * entry once and never globs, lists or runs a listing job; the Hive
    * partition column is parsed from the entry paths under its declared
    * type, and a filter on it prunes files before the scan. The data
    * columns read nullable, as Spark's own parquet read makes them (a
    * file written before an [[addColumn]] supplies nulls). No entries is
    * the empty table.
    */
  private def readFiles(name: String, files: Seq[String]): DataFrame = {
    val physical = schema(name).fields.map(f => f.copy(name = physicalName(f)))
    val part = partitionColumn(name).toSet
    val partSchema = StructType(physical.filter(f => part(f.name)).map(_.copy(nullable = true)))
    val dataSchema = StructType(physical.filterNot(f => part(f.name)).map(f =>
      f.copy(dataType = Catalog.nullable(f.dataType), nullable = true)))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(spark, dataDir(name), files, partSchema),
      partSchema, dataSchema, bucketSpec = None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Read a table back: the head snapshot's manifest entries through
    * [[readFiles]]. Partition pruning applies when filtering on the
    * partition column, whose values come from the entries' Hive paths.
    * Physical storage names map back to logical ones, and files written
    * before an addColumn read their nulls coalesced to the declared
    * default (per-read, no physical backfill). Two reads of one snapshot
    * plan the same relation, so a cached read serves both.
    */
  def table(name: String): DataFrame = {
    val df = tableAt(name, currentVersion(name))
    applyStatsHint(name, df)
  }

  /** Feed persisted ANALYZE statistics into PLANNING: Spark's static
    * broadcast decision keys off on-disk bytes × compression factor,
    * which mis-sizes parquet in both directions — a highly-compressed
    * table under the `autoBroadcastJoinThreshold` on disk can explode
    * past executor memory when decoded (mis-broadcast → OOM at 100 TB
    * shapes), and a small-but-poorly-encoded dim can sit over the
    * threshold on disk while its in-memory footprint is fine (missed
    * broadcast → needless shuffle of the fact side). When FRESH stats
    * exist (analyzed_version == current snapshot), estimate the decoded
    * size as rowCount × schema default row width and, ONLY where that
    * estimate and the on-disk size disagree across the threshold, attach
    * the corresponding join-strategy hint (`broadcast` / `merge`) to the
    * read. Stale or absent stats change nothing — the cost model a
    * versioned lakehouse catalog feeds its planner.
    */
  private def applyStatsHint(name: String, df: DataFrame): DataFrame = {
    val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (thr <= 0) return df // auto-broadcast disabled: nothing to correct
    freshStats(name) match {
      case None => df
      case Some(PlannerStats(rows, width, widthComplete, disk)) =>
        // per-row overhead on top of the measured/typed column widths
        val est = (rows * (width + 8.0)).toLong
        // broadcast ONLY on a complete width estimate: a partial sum is a
        // lower bound, and under-estimating here is the direction that
        // OOMs executors. The merge hint is safe on a lower bound — if
        // even the known columns exceed the threshold, the table is too
        // big to broadcast regardless of the unknown ones.
        if (widthComplete && est <= thr && disk > thr) df.hint("broadcast")
        else if (est > thr && disk <= thr && disk > 0) df.hint("merge")
        else df
    }
  }

  /** Planner-facing digest of fresh [[analyze]] stats: row count, summed
    * avg row width (and whether every column's width is known — nested
    * types record none), and the snapshot's on-disk bytes.
    */
  private case class PlannerStats(
      rows: Long, width: Double, widthComplete: Boolean, diskBytes: Long)

  /** [[PlannerStats]] iff persisted stats describe the CURRENT snapshot —
    * driver-side file reads (no job), memoized per (table, version); the
    * disk-size sum is version-stable so it is cached alongside. Stale
    * stats return None: a post-ANALYZE write invalidates the estimate
    * rather than feeding the planner a lie. [[drop]] purges the table's
    * entries — version numbers restart after drop+create, so a stale
    * entry would otherwise describe the PREVIOUS table of the same name.
    */
  private val statsRowCache =
    scala.collection.concurrent.TrieMap[(String, Int), Option[PlannerStats]]()
  private[sources] def invalidateStatsCache(name: String): Unit =
    statsRowCache.keys.filter(_._1 == name).foreach(statsRowCache.remove)
  private def freshStats(name: String): Option[PlannerStats] = {
    val v = currentVersion(name)
    statsRowCache.getOrElseUpdate((name, v), {
      val dir = metaDir(name).resolve("stats")
      if (!Files.exists(dir)) None
      else try {
        val lines = listDir(dir)
          .filter(_.getFileName.toString.endsWith(".json"))
          .flatMap(p => Files.readString(p).split("\n"))
          .filter(_.nonEmpty)
        val nRowsR = """"n_rows"\s*:\s*(\d+)""".r
        val aVerR = """"analyzed_version"\s*:\s*(\d+)""".r
        val widthR = """"avg_width"\s*:\s*([0-9.eE+-]+)""".r
        for {
          first <- lines.headOption
          rows <- nRowsR.findFirstMatchIn(first).map(_.group(1).toLong)
          av <- aVerR.findFirstMatchIn(first).map(_.group(1).toInt)
          if av == v
          // stats written before avg_width existed parse as 0 known
          // widths over >0 columns → widthComplete = false → merge-only
          widths = lines.map(l => widthR.findFirstMatchIn(l).map(_.group(1).toDouble))
        } yield PlannerStats(
          rows,
          widths.flatten.sum,
          widths.forall(_.isDefined),
          manifest(name, v).map(rel =>
            try Files.size(dataDir(name).resolve(rel))
            catch { case _: Exception => 0L }).sum)
      } catch { case _: Exception => None }
    })
  }

  /** Time travel: read the table AS OF snapshot version `v` (0 = the
    * empty table right after create; [[versions]] lists what is
    * readable). Column mapping and defaults are applied under the
    * CURRENT declared schema — schema DDL is not itself versioned, the
    * same contract as reading old files after an ALTER: physical-name
    * mapping plus defaults make any retained snapshot readable under the
    * live schema.
    */
  def tableAt(name: String, v: Int): DataFrame =
    toLogical(name, readFiles(name, manifest(name, v)))

  /** The latest retained version committed at or before `ts`. Commit
    * times are the manifests' own mtimes — the atomic link that IS the
    * commit point stamps them, so no extra bookkeeping can drift from
    * the truth. Loud when `ts` predates the oldest retained commit
    * (either the table didn't exist yet or the version was vacuumed —
    * both mean the requested snapshot is not reconstructible).
    */
  def versionAt(name: String, ts: java.time.Instant): Int = {
    val at = versions(name).filter { v =>
      !Files.getLastModifiedTime(manifestPath(name, v)).toInstant.isAfter(ts)
    }
    require(at.nonEmpty,
      s"$name has no retained version at or before $ts " +
        s"(oldest retained commit is ${versions(name).headOption.map(v =>
          Files.getLastModifiedTime(manifestPath(name, v)).toInstant)})")
    at.last
  }

  /** Time travel by TIMESTAMP: the table as of the latest commit ≤ `ts`
    * (Delta/Iceberg `TIMESTAMP AS OF` semantics).
    */
  def tableAsOf(name: String, ts: java.time.Instant): DataFrame =
    tableAt(name, versionAt(name, ts))

  /** [[history]] plus each snapshot's commit time (manifest mtime). */
  def historyWithTime(name: String): Seq[(Int, String, Int, java.time.Instant)] =
    history(name).map { case (v, op, n) =>
      (v, op, n, Files.getLastModifiedTime(manifestPath(name, v)).toInstant)
    }

  /** Physical → logical mapping: storage names back to declared names,
    * nulls in defaulted columns coalesced to their defaults. `extra`
    * columns (e.g. a source-file tag) pass through untouched.
    */
  private def toLogical(name: String, raw: DataFrame,
      extra: Seq[String] = Seq.empty): DataFrame = {
    val s = schema(name)
    val logical = raw.select(
      (s.fields.map(f => col(physicalName(f)).as(f.name)) ++ extra.map(col)).toSeq: _*)
    s.fields.filter(defaultOf(_).isDefined).foldLeft(logical) { (df, f) =>
      df.withColumn(f.name,
        coalesce(col(f.name), expr(defaultOf(f).get).cast(f.dataType)))
    }
  }

  /** The logical view of the `live` files plus a `FileCol` source-file
    * tag — the view the row-level DML manifest passes plan over.
    */
  private def logicalWithFile(name: String, live: Seq[String]): DataFrame =
    toLogical(name, readFiles(name, live).withColumn(Catalog.FileCol, input_file_name()),
      extra = Seq(Catalog.FileCol))

  /** List partition values LIVE at the head version (manifest-derived:
    * stale directories retained for time travel don't count).
    */
  def partitions(name: String): Seq[String] = partitionColumn(name) match {
    case None => Seq.empty
    case Some(p) =>
      manifest(name, currentVersion(name))
        .flatMap(_.split("/").headOption)
        .filter(_.startsWith(s"$p="))
        .map(_.stripPrefix(s"$p="))
        .distinct.sorted
  }

  /** Predicate-form delete — the reference's `t.delete(t.date == 'x')`
    * surface. The only delete granularity is a whole partition, so the
    * condition must be `<partitionColumn> === <literal>`; anything else is
    * rejected loudly (row-level deletes are not append-only semantics).
    */
  def delete(name: String, condition: org.apache.spark.sql.Column): Unit = {
    val p = partitionColumn(name)
      .getOrElse(throw new IllegalArgumentException(s"table $name is not partitioned"))
    org.apache.spark.sql.graft.Bridge.equalityParts(condition) match {
      case Some((col, v)) if col == p => deletePartition(name, String.valueOf(v))
      case _ => throw new IllegalArgumentException(
        s"delete on $name supports only `col(\"$p\") === <literal>` " +
          s"(partition-granularity, append-only storage); got: $condition")
    }
  }

  /** Partition-granularity delete (the only delete the reference has).
    * Metadata-only since the manifest log landed: the new version simply
    * stops listing the partition's files — O(1) in data size, and the
    * dropped partition stays time-travel-readable until a vacuum.
    */
  def deletePartition(name: String, value: String): Unit = {
    val p = partitionColumn(name)
      .getOrElse(throw new IllegalArgumentException(s"table $name is not partitioned"))
    val prefix = s"$p=$value/"
    val base = currentVersion(name)
    val cur = manifest(name, base)
    val remaining = cur.filterNot(_.startsWith(prefix))
    if (remaining.size != cur.size)
      commitVersionAt(name, base, s"deletePartition $p=$value", remaining)
  }

  /** Drop table + data. */
  def drop(name: String): Unit = {
    val dir = tableDir(name)
    if (Files.exists(dir))
      walkAll(dir).reverse.foreach(Files.delete)
    // version numbers restart after drop+create: purge the planner-stats
    // cache or a recreated same-name table would plan with the old one's
    // row count
    invalidateStatsCache(name)
  }

  /** Materialize a query result as a new table (the reference's
    * `nest=True`): eager write, then immediately queryable. The new
    * table's declared schema drops any source-table column-mapping /
    * default metadata — a nested result is a fresh table whose logical
    * and physical names coincide.
    */
  def nest(name: String, df: DataFrame, partitionBy: Option[String] = None): DataFrame = {
    val clean = StructType(df.schema.fields.map { f =>
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(DefaultKey).remove(PhysicalKey).build()
      f.copy(metadata = md)
    })
    create(name, clean, partitionBy)
    insert(name, df)
    table(name)
  }

  // ------------------------------------------------------- row-level DML

  /** Driver-side scale bound for the row-level DML manifest passes.
    *
    * Every row-level DML op plans its copy-on-write rewrite from one
    * entry PER AFFECTED DATA FILE (path string + hit count — ~200 bytes
    * each) on the driver; the same driver-side, file-count-sized
    * manifest discipline Delta/Iceberg commits use. That is NOT
    * data-sized (never rows), but it is unbounded in file count, so a DML
    * whose predicate touches more files than this bound fails loudly with
    * [[Catalog.ManifestScaleException]] before anything is written. The
    * default (1M files ≈ 200 MB of driver heap — about where a single COW
    * commit stops being sensible anyway) is configurable via the Spark
    * conf `graft.dml.maxAffectedFiles`; a DML legitimately hitting it
    * should be partition-granular ([[deletePartition]]) or split by
    * predicate instead.
    */
  private def maxAffectedFiles: Int =
    spark.conf.getOption("graft.dml.maxAffectedFiles").map(_.toInt)
      .getOrElse(1000000)

  /** Fail with [[Catalog.ManifestScaleException]] when `op`'s manifest
    * pass found more affected files than `graft.dml.maxAffectedFiles`.
    */
  private def requireFileBound(op: String, name: String, files: Int, cap: Int): Unit =
    if (files > cap)
      throw new Catalog.ManifestScaleException(
        s"$op on $name touches more than $cap data files; a copy-on-write " +
          "rewrite of that many files in one commit is driver-unbounded — " +
          "use a partition-granularity delete, split the predicate, or " +
          "raise spark conf graft.dml.maxAffectedFiles")

  /** The manifest pass of the row-level DML: the `live` files holding at
    * least one row of `hits` (a filter of [[logicalWithFile]]) and, given
    * a `key` column of `hits`, the number of distinct values of that
    * column among those rows, told apart by their bytes. One Spark job:
    * each task counts its hits per file and gathers its distinct `key`
    * values, and the driver merges the partial results. `hits` must not
    * shuffle the file-tagged rows: each task then reads whole file
    * splits, so the driver receives at most one entry per file split it
    * has already planned, plus each task's distinct hit keys (at most the
    * [[Catalog.MaxInSetKeys]] keys of a merge's IN-set). A pass that
    * shuffles is [[affectedFilesShuffled]]. More affected files
    * than `graft.dml.maxAffectedFiles` fail with
    * [[Catalog.ManifestScaleException]]. An empty snapshot has no hits
    * and runs no job.
    */
  private def affectedFiles(op: String, name: String, live: Seq[String],
      key: Option[String] = None)(hits: DataFrame => DataFrame): Catalog.Hits =
    if (live.isEmpty) Catalog.NoHits
    else {
      val tagged = hits(logicalWithFile(name, live))
        .select((col(Catalog.FileCol) +: key.map(col).toSeq): _*)
      val keyType = key.map(_ => tagged.schema(1).dataType)
      val qe = tagged.queryExecution
      val partials = SQLExecution.withNewExecutionId(qe, Some(s"$op manifest pass"))(
        qe.toRdd.mapPartitions(Catalog.tallyHits(keyType)).collect())
      val files = mutable.HashMap.empty[String, Long]
      val keys = mutable.HashSet.empty[UnsafeRow]
      partials.foreach { case (perFile, hitKeys) =>
        perFile.foreach { case (f, n) => files(f) = files.getOrElse(f, 0L) + n }
        keys ++= hitKeys
      }
      requireFileBound(op, name, files.size, maxAffectedFiles)
      Catalog.Hits(files.toSeq.map { case (f, n) => relativize(name, f) -> n }.sortBy(_._1), keys.size)
    }

  /** The manifest pass of a row-level DML whose `hits` may shuffle the
    * file-tagged rows (a join with a merge source): the affected `live`
    * files with their hit counts,
    * aggregated per file in the cluster. The driver retrieves at most
    * `graft.dml.maxAffectedFiles` + 1 of them, and fails with
    * [[Catalog.ManifestScaleException]] if that bound is passed.
    */
  private def affectedFilesShuffled(op: String, name: String, live: Seq[String])(
      hits: DataFrame => DataFrame): Catalog.Hits =
    if (live.isEmpty) Catalog.NoHits
    else {
      val cap = maxAffectedFiles
      val files = hits(logicalWithFile(name, live))
        .groupBy(Catalog.FileCol).agg(count(lit(1))).take(cap + 1)
      requireFileBound(op, name, files.length, cap)
      Catalog.Hits(files.map(r => relativize(name, r.getString(0)) -> r.getLong(1)).toSeq.sortBy(_._1), 0L)
    }

  /** The one commit of every copy-on-write rewrite: stage `rewritten` (the
    * physical rows replacing the `affected` files) and publish snapshot
    * `base`'s `live` files minus `affected` plus the staged ones as
    * version base+1, failing loudly if another writer got there first.
    */
  private def commitRewrite(name: String, op: String, base: Int, live: Seq[String],
      affected: Seq[String], rewritten: DataFrame): Int =
    commitVersionAt(name, base, op, live.diff(affected) ++ stageIn(name, rewritten))

  /** The copy-on-write skeleton of the predicate DML ([[deleteRows]],
    * [[updateRows]], [[compactWhere]]): read snapshot `base` once, find the
    * files holding rows that match `condition` in one manifest pass, and
    * commit `rewrite` of exactly those files' stored (physical) rows in
    * their place; every other file stays untouched bytes. Nothing is
    * written when nothing matches. Returns the matched-row count.
    */
  private def rewriteWhere(op: String, name: String, condition: org.apache.spark.sql.Column)(
      rewrite: DataFrame => DataFrame): Long = {
    val base = currentVersion(name)
    val live = manifest(name, base)
    val hits = affectedFiles(op, name, live)(_.filter(condition))
    if (hits.files.nonEmpty)
      commitRewrite(name, op, base, live, hits.affected, rewrite(readFiles(name, hits.affected)))
    hits.rows
  }

  /** The rows of `raw` (stored rows of rewritten files) where `condition`
    * is not TRUE, logical view — what a delete keeps (SQL: NULL keeps).
    */
  private def notMatching(name: String, raw: DataFrame,
      condition: org.apache.spark.sql.Column): DataFrame =
    toLogical(name, raw).filter(!coalesce(condition, lit(false)))

  /** Row-level copy-on-write DELETE (extension beyond the reference's
    * partition-granularity [[delete]] — the table-format discipline for
    * mutating an append-only store). FILE-granular: one manifest pass
    * finds the data files that actually CONTAIN matching rows, and ONLY
    * those files are rewritten (their retained rows re-staged); every
    * other file is untouched bytes. At 100 TB that makes a targeted
    * delete cost proportional to the files it hits — the same
    * copy-on-write shape Delta/Iceberg use — instead of a full-table
    * rewrite.
    *
    * SQL DELETE semantics: rows where `condition` is NULL are KEPT.
    * Returns the number of rows deleted.
    *
    * Crash discipline: the retained rows are staged as new files that no
    * manifest lists yet, then one manifest commit drops the rewritten
    * files and lists the staged ones. An interruption before the commit
    * leaves the previous snapshot live (the staged files are orphans a
    * [[vacuum]] reclaims); the replaced files stay readable by time
    * travel until a vacuum drops their snapshot.
    */
  def deleteRows(name: String, condition: org.apache.spark.sql.Column): Long =
    rewriteWhere("deleteRows", name, condition)(raw =>
      projectToPhysical(name, notMatching(name, raw, condition)))

  /** Atomic REPLACE WHERE (Delta's `INSERT INTO t REPLACE WHERE cond`):
    * delete every row matching `condition` AND insert `df`, as ONE
    * snapshot commit — readers see either the old state or the fully
    * replaced one, never the deleted-but-not-yet-inserted gap that a
    * deleteRows-then-insert sequence exposes (and a crash between the
    * two can't strand the table half-mutated). File-granular like
    * [[deleteRows]]: only files containing matching rows are rewritten,
    * their retained rows staged in the same write as the incoming batch;
    * it commits even when nothing matches. This is the idempotent-backfill
    * primitive (re-materialize one day / partition of a derived table).
    * Returns rows deleted.
    */
  def replaceWhere(name: String, condition: org.apache.spark.sql.Column,
      df: DataFrame): Long = {
    val base = currentVersion(name)
    val live = manifest(name, base)
    val hits = affectedFiles("replace_where", name, live)(_.filter(condition))
    commitRewrite(name, "replace_where", base, live, hits.affected, projectToPhysical(name,
      notMatching(name, readFiles(name, hits.affected), condition)
        .unionByName(alignLogical(name, df))))
    hits.rows
  }

  /** Right-to-be-forgotten erasure (GDPR art.17 shape): COW-delete the
    * matching rows, then PURGE history to the erased snapshot ONLY —
    * time travel / RESTORE to any pre-erasure version fails loudly, and
    * [[vacuum]] reclaims the bytes in the same call. The purge runs even
    * when the CURRENT version matches nothing: older snapshots may still
    * hold matching rows, and the call's contract is "no retained state
    * contains them", not "the head doesn't". Erasure is PER TABLE — a
    * hardlinked [[cloneTable]] fork keeps its own links to shared inodes,
    * so a compliance sweep must erase every clone (enumerate via
    * [[tables]]); the shared bytes are reclaimed when the last link
    * drops. Returns rows erased from the head snapshot.
    */
  def eraseWhere(name: String, condition: org.apache.spark.sql.Column): Long = {
    val n = deleteRows(name, condition)
    vacuum(name, retainLast = 1)
    n
  }

  /** Row-level copy-on-write UPDATE — SQL `UPDATE t SET c = e, ... WHERE
    * cond`. FILE-granular like [[deleteRows]]: one manifest pass (bounded
    * by `graft.dml.maxAffectedFiles`) finds the files containing matching
    * rows; only those are rewritten, with every SET expression evaluated
    * against the OLD row (standard SQL: assignments don't see each
    * other). Rows where `condition` is NULL are left unchanged. Updating
    * the partition column is allowed — rewritten rows simply land in
    * their new Hive partition directories. Returns rows updated.
    */
  def updateRows(name: String, condition: org.apache.spark.sql.Column,
      set: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    val s = schema(name)
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    set.foreach { case (c, _) =>
      require(s.fieldNames.contains(c), s"update column $c not in schema of $name") }
    require(set.map(_._1).distinct.size == set.size,
      "UPDATE assigns a column twice")
    val hit = coalesce(condition, lit(false))
    val assign = set.toMap
    rewriteWhere("updateRows", name, condition)(raw =>
      projectToPhysical(name, toLogical(name, raw).select(s.fields.map { f =>
        assign.get(f.name) match {
          case Some(e) => when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }.toSeq: _*)))
  }

  /** TRUNCATE TABLE: commit an EMPTY manifest — metadata-only and O(1) in
    * table size (no file is touched); every prior snapshot stays
    * time-travel-readable until a [[vacuum]] reclaims it, and the
    * truncation itself is reversible via [[restoreVersion]].
    */
  def truncate(name: String): Unit = {
    require(exists(name), s"table $name does not exist")
    commitVersion(name, "truncate", Seq.empty)
  }

  /** Fail unless the merge source's `rows` rows carry `keys` distinct keys
    * (multiple update rows per key is the ambiguity SQL MERGE rejects at
    * runtime). The NULL key counts as one key: a SINGLE NULL-keyed row
    * passes, two or more are duplicates of one key group.
    */
  private def requireKeyUnique(key: String, rows: Long, keys: Long): Unit =
    require(rows == keys,
      s"merge updates must be key-unique on $key: $rows rows over $keys keys")

  /** The number of `updates` rows, checked key-unique on `key` in one
    * pass. count_distinct ignores NULLs, so the null key group is counted
    * back in (max(isNull) = 1 if any).
    */
  private def keyUniqueCount(updates: DataFrame, key: String): Long = {
    val st = updates.agg(count(lit(1)),
      count_distinct(col(key)) + coalesce(max(col(key).isNull.cast("long")), lit(0L))).head()
    requireKeyUnique(key, st.getLong(0), st.getLong(1))
    st.getLong(0)
  }

  /** A merge source after its one evaluation: its `rows` — a local
    * relation of the rows collected to the driver, or the pinned source —
    * their `count`, checked key-unique on `key`, and, for a collected
    * source of at most [[Catalog.MaxInSetKeys]] keys, the typed literals
    * of its distinct non-NULL keys. With those literals a stored row
    * matches by an IN-set filter; without them, by a join with `rows`.
    */
  private final class MergeSource(val rows: DataFrame, val count: Long, key: String,
      inSet: Option[Seq[org.apache.spark.sql.Column]]) {
    // the source's keys under a name of their own, so that a source read
    // from the target table itself joins it without an ambiguous self-join
    private def keys = rows.select(col(key).as(Catalog.SourceKeyCol))

    /** The manifest pass over `live` for the stored rows whose key matches
      * a source key, counting the distinct matched keys if `countKeys`.
      *  - IN-set: one job, in which each task also gathers its distinct
      *    matched keys (at most [[Catalog.MaxInSetKeys]]); none when no
      *    source row has a non-NULL key, since nothing can match.
      *  - join: a per-file aggregate in the cluster, then a count of the
      *    source rows with a match in the affected files (one per matched
      *    key, the source being key-unique), so no key reaches the driver.
      */
    def hits(name: String, live: Seq[String], countKeys: Boolean): Catalog.Hits = inSet match {
      case Some(ks) if ks.isEmpty => Catalog.NoHits
      case Some(ks) => affectedFiles("merge", name, live, Option.when(countKeys)(key))(
        _.filter(col(key).isin(ks: _*)))
      case None =>
        val found = affectedFilesShuffled("merge", name, live)(
          _.join(keys, col(key) === col(Catalog.SourceKeyCol), "left_semi"))
        if (!countKeys || found.files.isEmpty) found
        else found.copy(keys = keys.join(toLogical(name, readFiles(name, found.affected)).select(col(key)),
          col(Catalog.SourceKeyCol) === col(key), "left_semi").count())
    }

    /** The rows of `target` whose key matches no source key — stored
      * NULL-key rows among them, since NULL matches nothing.
      */
    def notMatching(target: DataFrame): DataFrame = inSet match {
      case Some(ks) => target.filter(!coalesce(col(key).isin(ks: _*), lit(false)))
      case None => target.join(keys, col(key) === col(Catalog.SourceKeyCol), "left_anti")
    }
  }

  /** Run `body` on merge source `updates` evaluated exactly once, so the
    * rows counted and matched are the rows written even when a second
    * evaluation would differ (a nondeterministic source, files replaced
    * under a path read). Spark's own broadcast rule picks the path:
    *  - a source whose optimized plan is at most
    *    `spark.sql.autoBroadcastJoinThreshold` bytes, keyed by the
    *    table's declared key type where Spark's equality is JVM equality
    *    (integral, decimal, date/time, default-collation string), is
    *    collected once — no job when it is already local — and continues
    *    as a local relation of those rows; its key check runs on the
    *    driver, and it matches stored rows by an IN-set of its keys when
    *    it has at most [[Catalog.MaxInSetKeys]] of them;
    *  - any other source (float, double, binary or complex keys, a key
    *    type that differs from the table's, or more bytes) is pinned
    *    once with [[graft.Tables.pin]], checked by one aggregate over the
    *    pinned rows, and released when `body` returns.
    */
  private def withSource[T](name: String, updates: DataFrame, key: String)(
      body: MergeSource => T): T = {
    // the source's key column as the analyzer resolves `key` (its case may differ)
    val keyField = updates.select(col(key)).schema.head
    val keyType = keyField.dataType
    val local = keyType == schema(name)(key).dataType && Catalog.jvmEquality(keyType) &&
      updates.queryExecution.optimizedPlan.stats.sizeInBytes <=
        spark.sessionState.conf.autoBroadcastJoinThreshold
    if (local) {
      val rows = updates.collect()
      val ki = updates.schema.fieldIndex(keyField.name)
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(keyType)
      val keys = rows.map(r => toCatalyst(r.get(ki)))
      val nonNull = keys.filter(_ != null).distinct.toSeq
      requireKeyUnique(key, rows.length.toLong,
        nonNull.size + (if (keys.contains(null)) 1L else 0L))
      body(new MergeSource(spark.createDataFrame(rows.toSeq.asJava, updates.schema),
        rows.length.toLong, key, Option.when(nonNull.size <= Catalog.MaxInSetKeys)(
          nonNull.map(k => Bridge.column(Literal(k, keyType))))))
    } else {
      val pinned = graft.Tables.pin(updates)
      try body(new MergeSource(pinned, keyUniqueCount(pinned, key), key, None))
      finally pinned.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ =>
      }
    }
  }

  /** Copy-on-write MERGE (upsert) by key — SQL MERGE's `WHEN MATCHED THEN
    * UPDATE SET * / WHEN NOT MATCHED THEN INSERT *`: every stored row
    * whose `key` appears in `updates` is replaced by the update row with
    * that key, and update rows with unseen keys are appended. `updates`
    * must be key-unique (checked loudly — multiple update rows per key is
    * the ambiguity SQL MERGE rejects at runtime). A single NULL-keyed
    * update row is accepted: it matches no stored row (SQL equality never
    * matches NULL) and is inserted; two or more NULL-keyed rows are
    * rejected as duplicates of the null key group.
    *
    * The multi-NULL rejection is DELIBERATELY STRICTER than the SQL MERGE
    * contract cited above: standard MERGE's multi-match ambiguity is per
    * TARGET row, and null-keyed source rows match no target row, so a
    * standards-faithful engine would insert them all. Here the key is an
    * upsert identity — several NULL-keyed rows are indistinguishable on
    * it, which is almost always an upstream bug (a dropped join column, a
    * mis-parsed id), so the call fails loudly instead of appending
    * unidentifiable rows. Callers that genuinely want SQL's
    * insert-them-all behavior: split the NULL-keyed rows off and
    * [[insert]] them directly.
    *
    * `updates` is evaluated once: a source whose optimized plan is at
    * most `spark.sql.autoBroadcastJoinThreshold` bytes, keyed by the
    * table's key type with an integral, decimal, date/time or
    * default-collation string key, is collected to the driver (no job
    * when it is already local, as a batch built on the driver is); any
    * other source is pinned once and released before the call returns.
    * FILE-granular like [[deleteRows]]: one manifest pass over the
    * file-tagged table counts the matched rows per file and the distinct
    * matched keys — in one job by an IN-set filter on the keys of a
    * collected source of at most [[Catalog.MaxInSetKeys]] keys, otherwise
    * by a join with the source's rows, aggregated per file in the cluster
    * — and only files containing matched keys are rewritten: their rows
    * whose key matches no source key (stored NULL keys included), plus
    * every source row. Returns (matchedRows, insertedRows).
    */
  def merge(name: String, updates: DataFrame, key: String): (Long, Long) = {
    val base = currentVersion(name)
    val live = manifest(name, base)
    val s = schema(name)
    require(s.fieldNames.contains(key), s"merge key $key not in schema of $name")
    withSource(name, updates, key) { src =>
      val updLogical = alignLogical(name, src.rows)
      val hits = src.hits(name, live, countKeys = true)
      if (hits.files.isEmpty) insert(name, updLogical)
      else commitRewrite(name, "merge", base, live, hits.affected, projectToPhysical(name,
        src.notMatching(toLogical(name, readFiles(name, hits.affected)))
          .select(s.fieldNames.map(col).toSeq: _*).unionByName(updLogical)))
      (hits.rows, src.count - hits.keys)
    }
  }

  /** Copy-on-write MERGE with CONDITIONAL, MULTI-ACTION clauses — the full
    * SQL MERGE shape [[merge]]'s upsert-all form doesn't cover:
    *
    * {{{
    * WHEN MATCHED [AND <cond>] THEN UPDATE SET *   (any number)
    * WHEN MATCHED [AND <cond>] THEN DELETE
    * WHEN NOT MATCHED [AND <cond>] THEN INSERT *   (any number)
    * }}}
    *
    * SQL semantics: per matched (target row, source row) pair the FIRST
    * matched clause whose condition holds applies (UPDATE replaces the
    * target row with the source row, DELETE drops it, no applicable
    * clause keeps the target row unchanged); per unmatched source row the
    * first not-matched clause whose condition holds inserts it. Matched
    * conditions may reference both sides through `targetAlias`/
    * `sourceAlias` qualifiers (e.g. `s.v > t.v`); not-matched conditions
    * see only `sourceAlias`. `updates` must be key-unique, with the same
    * single-NULL-key rule as [[merge]] — multiple source rows matching
    * one target row is the ambiguity SQL MERGE rejects at runtime,
    * checked loudly here.
    *
    * `updates` is evaluated once, collected or pinned by the same rule
    * as [[merge]]'s source. FILE-granular like [[merge]]: the
    * manifest pass (an IN-set filter or a join, bounded by
    * `graft.dml.maxAffectedFiles`) finds files containing matched keys;
    * only those are rewritten under the clause logic, every other file is
    * untouched bytes. The clause decision itself is a single codegen'd
    * CASE column over one full outer join of the affected files' rows
    * with the updates — update, delete and insert alike, no per-clause
    * passes — and one action pass over it counts all three. Returns
    * (updatedRows, deletedRows, insertedRows).
    */
  def mergeConditional(
      name: String, updates: DataFrame, key: String,
      matched: Seq[Catalog.MatchedClause],
      notMatched: Seq[Option[org.apache.spark.sql.Column]],
      targetAlias: String = "t", sourceAlias: String = "s"): (Long, Long, Long) = {
    val base = currentVersion(name)
    val live = manifest(name, base)
    val s = schema(name)
    require(s.fieldNames.contains(key), s"merge key $key not in schema of $name")
    require(matched.nonEmpty || notMatched.nonEmpty,
      "MERGE needs at least one WHEN clause")
    // every matched clause except the last needs a condition — a later
    // clause behind an unconditional one is unreachable (SQL's rule)
    matched.dropRight(1).foreach(c => require(c.cond.isDefined,
      "only the last WHEN MATCHED clause may omit its AND condition " +
        "(an unconditional clause makes later ones unreachable)"))
    notMatched.dropRight(1).foreach(c => require(c.isDefined,
      "only the last WHEN NOT MATCHED clause may omit its AND condition"))
    // the source rows, each flagged with whether a NOT MATCHED clause
    // would insert it (all NOT MATCHED actions are INSERT *, so first-match
    // reduces to any-match: one OR over the clause conditions), evaluated
    // on the source alone so the conditions see only `sourceAlias`
    val insertable = coalesce(
      notMatched.map(_.getOrElse(lit(true))).foldLeft(lit(false))(_ || _), lit(false))
    withSource(name, updates, key) { source =>
      val src = alignLogical(name, source.rows).alias(sourceAlias)
        .withColumn(Catalog.InsertCol, insertable).withColumn(Catalog.SourceCol, lit(true))
        .alias(sourceAlias)
      val hits = source.hits(name, live, countKeys = false)
      if (hits.files.isEmpty) (0L, 0L, insert(name, src.filter(col(Catalog.InsertCol))))
      else {
        // one full outer join of the affected files' rows with the source
        // decides every row: a matched pair takes the first applicable
        // matched clause ('keep' when none holds), a target row without a
        // source match is kept, and a source row without a target match
        // (the affected files hold every matched key by construction) is
        // inserted or skipped. A NULL key matches nothing on either side.
        val target = toLogical(name, readFiles(name, hits.affected))
          .withColumn(Catalog.TargetCol, lit(true)).alias(targetAlias)
        val joined = target.join(src,
          col(s"$targetAlias.$key") === col(s"$sourceAlias.$key"), "full_outer")
        val clauseChain = matched.foldRight(lit("keep"): org.apache.spark.sql.Column) { (c, els) =>
          when(coalesce(c.cond.getOrElse(lit(true)), lit(false)),
            lit(if (c.delete) "delete" else "update")).otherwise(els)
        }
        val act =
          when(col(s"$sourceAlias.${Catalog.SourceCol}").isNull, lit("keep"))
            .when(col(s"$targetAlias.${Catalog.TargetCol}").isNull,
              when(col(s"$sourceAlias.${Catalog.InsertCol}"), lit("insert")).otherwise(lit("skip")))
            .otherwise(clauseChain)
        val decided = joined.withColumn(Catalog.ActionCol, act)
          .filter(col(Catalog.ActionCol) =!= "skip")
        // the one action pass: every decision's count
        val counts = decided.groupBy(Catalog.ActionCol).agg(count(lit(1)))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
        // kept rows are the target's, updated and inserted rows the source's
        val fromTarget = col(Catalog.ActionCol) === "keep"
        commitRewrite(name, "merge", base, live, hits.affected, projectToPhysical(name,
          decided.filter(col(Catalog.ActionCol) =!= "delete").select(s.fieldNames.map(n =>
            when(fromTarget, col(s"$targetAlias.$n")).otherwise(col(s"$sourceAlias.$n")).as(n)).toSeq: _*)))
        (counts("update"), counts("delete"), counts("insert"))
      }
    }
  }

  /** A `file:` URI as [[logicalWithFile]] tags it → its data-dir-relative
    * manifest entry. The data dir is made absolute and normalized the way
    * Spark qualifies the paths it reads, so a relative warehouse works.
    */
  private def relativize(name: String, uri: String): String =
    dataDir(name).toAbsolutePath.normalize
      .relativize(Paths.get(java.net.URI.create(uri))).toString
}

object Catalog {
  /** Default age gate for reclaiming files/staging dirs referenced by NO
    * manifest (see [[Catalog.vacuum]]): 24h, far beyond any stage→commit
    * gap, the Delta `deletedFileRetentionDuration` idea sized for this
    * catalog's commit latency. Committed history being dropped is NOT
    * age-gated — only never-referenced paths are.
    */
  val DefaultOrphanRetainMs: Long = 24L * 3600 * 1000

  /** Source-file tag column used by the row-level DML manifest passes. */
  private[sources] val FileCol = "__graft_src_file"

  /** Field-metadata key carrying a column's declared DEFAULT (SQL text).
    * `private[sources]` so [[CatalogSql]] can round-trip SHOW CREATE
    * TABLE output (column DEFAULTs included) back through CREATE TABLE.
    */
  private[sources] val DefaultKey = "graft.default"

  /** A row-level DML's copy-on-write plan would exceed the driver-side
    * manifest bound (`graft.dml.maxAffectedFiles`) — thrown BEFORE the
    * file list materializes on the driver.
    */
  final class ManifestScaleException(msg: String) extends RuntimeException(msg)

  /** Change-type column ('insert' | 'delete') appended by [[Catalog.tableChanges]]. */
  val ChangeCol = "_change"

  /** `dt` with every nested field, element and map value nullable — the
    * shape Spark's parquet read gives a user-specified data schema.
    */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Whether Spark's equality on `dt` is JVM equality of its Catalyst
    * values — the key types a merge source collected to the driver can
    * be checked and matched by (not float or double, whose zeros and NaNs
    * Spark normalizes, nor binary, complex or other-collation string).
    */
  private def jvmEquality(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType | _: DecimalType => true
    case s: StringType => s == StringType // the default, byte-compared collation
    case _ => false
  }

  /** What a manifest pass found: the affected manifest entries with their
    * hit counts, sorted, and the number of distinct keys among the hits
    * (0 when the pass tracks no key).
    */
  private final case class Hits(files: Seq[(String, Long)], keys: Long) {
    def affected: Seq[String] = files.map(_._1)
    def rows: Long = files.map(_._2).sum
  }

  private val NoHits = Hits(Seq.empty, 0L)

  /** One task's share of a row-level DML manifest pass over (file, key?)
    * rows: its hit count per file, and its distinct non-NULL hit keys,
    * each held as an UnsafeRow, whose bytes are its identity.
    */
  private def tallyHits(keyType: Option[DataType])(
      rows: Iterator[InternalRow]): Iterator[(Seq[(String, Long)], Seq[UnsafeRow])] = {
    val keyOf = keyType.map(dt => UnsafeProjection.create(Seq(BoundReference(1, dt, nullable = true))))
    val perFile = mutable.HashMap.empty[String, Long]
    val keys = mutable.HashSet.empty[UnsafeRow]
    // a task reads each file split in one run of rows
    var file: UTF8String = null
    var n = 0L
    def flush(): Unit =
      if (file != null) perFile(file.toString) = perFile.getOrElse(file.toString, 0L) + n
    rows.foreach { r =>
      val f = r.getUTF8String(0)
      if (file == null || f != file) { flush(); file = f.clone(); n = 0L }
      n += 1
      keyOf.foreach { proj =>
        if (!r.isNullAt(1)) {
          val k = proj(r)
          if (!keys(k)) keys += k.copy()
        }
      }
    }
    flush()
    Iterator((perFile.toSeq, keys.toSeq))
  }

  /** Per-row decision column of [[Catalog.mergeConditional]]'s CASE chain. */
  private[sources] val ActionCol = "__graft_merge_action"

  /** [[Catalog.mergeConditional]]'s marks: a row's target side, its source
    * side, and whether a NOT MATCHED clause would insert the source row.
    */
  private[sources] val TargetCol = "__graft_merge_target"
  private[sources] val SourceCol = "__graft_merge_source"
  private[sources] val InsertCol = "__graft_merge_insertable"
  /** A merge source's key column in the joins that match it with stored rows. */
  private[sources] val SourceKeyCol = "__graft_merge_source_key"

  /** The most keys a merge source collected to the driver matches stored
    * rows by as an IN-set of literals. Each literal is analyzed and
    * printed in the plan of every job that filters by it, so the IN-set's
    * cost grows with its keys, while a join costs a few jobs more but
    * grows slowly. Merging a local batch into a 200k-row, 8-file table
    * (4-core host, median of 5) took 0.49 s by IN-set and 0.78 s by join
    * at 1k keys, 0.64 s and 0.85 s at 3k, 1.37 s and 0.88 s at 10k; at
    * 500k keys into a 1M-row table, 43 s and 2.8 s.
    */
  private val MaxInSetKeys = 4000

  /** One `WHEN MATCHED [AND cond] THEN UPDATE SET * | DELETE` clause. */
  final case class MatchedClause(cond: Option[org.apache.spark.sql.Column], delete: Boolean)
}
