package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Z-order (Morton) clustering + stats-based file skipping: the
  * multi-dimensional data-layout optimization (Delta/Iceberg `OPTIMIZE
  * ZORDER BY` shape) for the catalog's parquet tables.
  *
  * Why: min/max statistics prune scans only when each file's value range
  * is NARROW for the filtered column. A single-column sort gives that for
  * one dimension and destroys it for every other; interleaving the bits
  * of d normalized integer keys gives every file a contiguous Z-curve
  * range, i.e. a small axis-aligned box in d-space — a d-dimensional box
  * predicate then overlaps only the few files whose boxes intersect it,
  * instead of all of them.
  *
  * Scale design: the z-value is a pure per-row codegen'd expression
  * (shift/mask terms only — no UDF); the layout pass is ONE
  * `repartitionByRange` shuffle on the z-value plus a per-partition sort,
  * exactly the shape of a table-format OPTIMIZE job at 100 TB. Only the
  * 2·d global min/max doubles round-trip the driver (model-sized).
  * Per-file stats live in a sidecar here (parquet row-group footers carry
  * the same stats at execution time; a table format would store them in
  * its manifest — the sidecar stands in for that manifest and is what
  * [[readPruned]] file-prunes with at PLANNING time, the way Delta/
  * Iceberg do).
  *
  * Dimension count: bits per dimension = min(16, 62/d), so the
  * interleaved code always fits a non-negative long — 16 bits/dim through
  * d=3 (the practical Z-order sweet spot; beyond ~4 dims the curve's
  * locality, like any space-filling curve's, decays and per-dim
  * resolution drops with it).
  */
object ZOrder {

  private def bitsFor(d: Int): Int = math.min(16, 62 / d)

  /** Spread the low `bits` bits of `c` so bit k lands at position `k*d`
    * (stride-d interleave; dimension i is then OR'd in shifted by i).
    */
  private def spread(c: Column, d: Int, bits: Int): Column =
    (0 until bits).map(k =>
      shiftleft(shiftrightunsigned(c, k).bitwiseAND(lit(1L)), d * k))
      .reduce((a, b) => a.bitwiseOR(b))

  /** Morton code of d columns after min/max normalization of each to
    * `bitsFor(d)`-bit integer buckets. `dims` is (column, lo, hi) per
    * dimension; dimension i takes bit positions i, i+d, i+2d, ….
    */
  /** Min/max normalization of a column to `bits`-bit integer buckets —
    * shared by the Z and Hilbert codes so the two layouts differ ONLY in
    * the curve.
    */
  private def normBucket(c: Column, lo: Double, hi: Double, bits: Int): Column = {
    val buckets = (1L << bits) - 1
    val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
    least(
      greatest(((c.cast("double") - lit(lo)) / lit(span)) * buckets.toDouble,
        lit(0.0)),
      lit(buckets.toDouble)).cast("long")
  }

  def zValue(dims: Seq[(Column, Double, Double)]): Column = {
    require(dims.nonEmpty, "z-order needs at least one dimension")
    val d = dims.size
    val bits = bitsFor(d)
    dims.zipWithIndex.map { case ((c, lo, hi), i) =>
      shiftleft(spread(normBucket(c, lo, hi, bits), d, bits), i)
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hilbert-curve code of two columns, same bucket normalization as the
    * 2-D [[zValue]]. See [[graft.plans.HilbertIndex2D]] for why the
    * Hilbert curve prunes strictly better than the Z-curve on range
    * partitions (edge-connected walk — no diagonal jumps widening a
    * file's min/max box).
    */
  def hilbertValue2(
      x: Column, xLo: Double, xHi: Double,
      y: Column, yLo: Double, yHi: Double): Column =
    graft.plans.HilbertIndex2D.hilbertIndex2d(
      normBucket(x, xLo, xHi, 16), normBucket(y, yLo, yHi, 16))

  /** Per-file min/max stats for the z-ordered columns (one entry per
    * dimension, in z-order column order).
    */
  final case class FileStats(path: String, mins: Seq[Double], maxs: Seq[Double]) {
    def xMin: Double = mins(0); def xMax: Double = maxs(0)
    def yMin: Double = mins(1); def yMax: Double = maxs(1)
  }

  private def statsPath(dir: String) = Paths.get(dir, "_zorder_stats.csv")

  /** Write `df` to `dir` clustered on the Z-curve of `cols` in `numFiles`
    * range partitions, plus the per-file stats sidecar.
    *
    * The post-write per-file stats jobs are fixture-sized bookkeeping; at
    * scale the same numbers come for free from task-side accumulators or
    * the parquet footers the write already produced.
    */
  def writeZOrdered(
      df: DataFrame, cols: Seq[String], dir: String,
      numFiles: Int): Seq[FileStats] =
    writeClustered(df, cols, dir, numFiles, zValue)

  /** Write `df` to `dir` clustered on `code(dims)` — the curve is a
    * parameter ([[zValue]] for Z-order, [[hilbertValue2]] via
    * [[writeHilbertClustered]] for Hilbert) — in `numFiles` range
    * partitions, plus the per-file stats sidecar. The stats/pruning side
    * ([[readStats]], [[readPruned]]) is curve-agnostic: it sees only
    * per-file min/max boxes.
    */
  def writeClustered(
      df: DataFrame, cols: Seq[String], dir: String, numFiles: Int,
      code: Seq[(Column, Double, Double)] => Column): Seq[FileStats] = {
    require(cols.nonEmpty, "clustering needs at least one column")
    val spark = df.sparkSession
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val g = df.agg(aggs.head, aggs.tail: _*).head()
    val dims = cols.zipWithIndex.map { case (c, i) =>
      (col(c), g.getDouble(2 * i), g.getDouble(2 * i + 1))
    }
    df.withColumn("_z", code(dims))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(dir)
    val files = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala
        .filter(_.getFileName.toString.matches("part-.*\\.parquet"))
        .toSeq.sortBy(_.toString)
      finally s.close()
    }
    val stats = files.map { f =>
      val r = spark.read.parquet(f.toString).agg(aggs.head, aggs.tail: _*).head()
      FileStats(f.toString,
        cols.indices.map(i => r.getDouble(2 * i)),
        cols.indices.map(i => r.getDouble(2 * i + 1)))
    }
    Files.writeString(statsPath(dir),
      stats.map(s => (s.path +: s.mins.indices
        .flatMap(i => Seq(s.mins(i), s.maxs(i)))).mkString(","))
        .mkString("", "\n", "\n"))
    stats
  }

  /** 2-D form kept for the established call sites. */
  def writeZOrdered(
      df: DataFrame, xCol: String, yCol: String, dir: String,
      numFiles: Int): Seq[FileStats] =
    writeZOrdered(df, Seq(xCol, yCol), dir, numFiles)

  /** 2-D Hilbert clustering: same write/stats discipline as
    * [[writeZOrdered]], curve swapped to [[hilbertValue2]].
    */
  def writeHilbertClustered(
      df: DataFrame, xCol: String, yCol: String, dir: String,
      numFiles: Int): Seq[FileStats] =
    writeClustered(df, Seq(xCol, yCol), dir, numFiles, {
      case Seq((x, xLo, xHi), (y, yLo, yHi)) =>
        hilbertValue2(x, xLo, xHi, y, yLo, yHi)
      case dims => throw new IllegalArgumentException(
        s"hilbert clustering is 2-D, got ${dims.size} dims")
    })

  /** The sidecar stats written by [[writeZOrdered]]: `path, min0, max0,
    * min1, max1, …` per line (dimension count inferred from the width).
    */
  def readStats(dir: String): Seq[FileStats] =
    Files.readAllLines(statsPath(dir)).asScala.toSeq.filter(_.nonEmpty).map { line =>
      val parts = line.split(",")
      val nums = parts.drop(1).map(_.toDouble)
      val d = nums.length / 2
      FileStats(parts(0),
        (0 until d).map(i => nums(2 * i)),
        (0 until d).map(i => nums(2 * i + 1)))
    }

  /** Planning-time file pruning: read only the files whose stats overlap
    * the d-dimensional box `ranges` (the manifest-prune step of a table
    * format). The caller still applies the exact predicate — stats
    * overlap is necessary, not sufficient, for a row to match.
    */
  def readPruned(
      spark: SparkSession, dir: String,
      ranges: Seq[(Double, Double)]): DataFrame = {
    val sel = readStats(dir).filter { s =>
      require(s.mins.size == ranges.size,
        s"box has ${ranges.size} dims but layout has ${s.mins.size}")
      ranges.zipWithIndex.forall { case ((lo, hi), i) =>
        s.maxs(i) >= lo && s.mins(i) <= hi
      }
    }
    if (sel.isEmpty) spark.read.parquet(dir).limit(0)
    else spark.read.parquet(sel.map(_.path): _*)
  }

  /** 2-D form kept for the established call sites. */
  def readPruned(
      spark: SparkSession, dir: String,
      xRange: (Double, Double), yRange: (Double, Double)): DataFrame =
    readPruned(spark, dir, Seq(xRange, yRange))
}
