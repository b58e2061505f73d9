package graft.sources

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{NoopCache, PartitionPath, PartitionSpec, PartitioningAwareFileIndex, PartitioningUtils}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** A catalog snapshot's data files as Catalyst sees them: the manifest
  * entries `entries` (relative to `dataDir`), each stat'ed once on the
  * driver, with Hive partition values parsed from the entry's
  * `<col>=<value>` directory under the declared type of the one
  * `partitionColumns` field, if any (`__HIVE_DEFAULT_PARTITION__` is
  * NULL, escaped characters are unescaped — Spark's own partition-value
  * rule).
  * The manifest already names every live file, so nothing is globbed or
  * listed and no listing job runs — the file list hustle keeps in its
  * DDFS tags, handed to Catalyst directly. Partition pruning is the
  * superclass's, over the parsed [[PartitionSpec]].
  *
  * A snapshot is immutable, so [[refresh]] is a no-op, and two indexes
  * over the same data dir and entries are equal: a cached read of a
  * snapshot serves every later read of it, and exchange reuse matches
  * two scans of one snapshot.
  */
private[sources] final class ManifestFileIndex(
    spark: SparkSession, dataDir: JPath, val entries: Seq[String],
    partitionColumns: StructType)
    extends PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {

  private val root = dataDir.toAbsolutePath.normalize

  /** The qualified `file:` path Spark itself gives a local file. */
  private def qualified(p: JPath): Path = new Path("file", null, p.toString)

  private val statuses: Seq[FileStatus] = entries.map { rel =>
    val f = root.resolve(rel)
    val a = Files.readAttributes(f, classOf[BasicFileAttributes])
    // block size: Hadoop's local default (`fs.local.block.size`); scan
    // splits follow `spark.sql.files.maxPartitionBytes`, not this
    new FileStatus(a.size, false, 1, 32L << 20, a.lastModifiedTime.toMillis, qualified(f))
  }

  override val rootPaths: Seq[Path] = Seq(qualified(root))

  override def refresh(): Unit = ()

  override def allFiles(): Seq[FileStatus] = statuses

  override protected lazy val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap.from(statuses.map(s => s.getPath -> s))

  override protected lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.toArray.groupBy(_.getPath.getParent)

  private lazy val spec: PartitionSpec =
    if (partitionColumns.isEmpty) PartitionSpec.emptySpec
    else {
      val f = partitionColumns.head
      val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
      PartitionSpec(partitionColumns, leafDirToChildrenFiles.keys.toSeq.sortBy(_.toString).map { dir =>
        val seg = dir.getName
        require(seg.startsWith(s"${f.name}="),
          s"data file directory $dir is not a ${f.name}= partition directory")
        PartitionPath(InternalRow(PartitioningUtils.castPartValueToDesiredType(
          f.dataType, seg.stripPrefix(s"${f.name}="), zone)), dir)
      })
    }

  override def partitionSpec(): PartitionSpec = spec

  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => root == m.root && entries == m.entries
    case _ => false
  }

  override def hashCode(): Int = (root, entries).hashCode
}
