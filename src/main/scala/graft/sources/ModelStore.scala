package graft.sources

import graft.operators.Similarity.PqModel
import org.apache.spark.sql.SparkSession

/** Persistence for trained model state — the train-once / serve-everywhere
  * discipline a 100 TB pipeline actually runs. An ANN index (PQ codebooks,
  * coarse-quantizer centroids, the encoded code table, the coarse
  * assignment) is TRAINED on one pass (or offline on a sample), written as
  * ordinary parquet, and every later serving query reads the index — the
  * raw corpus vectors are never touched again. Without this, every query
  * re-pays training (the dominant cost of the oracle-replay ANN rows);
  * with it, serving cost is the index scan + a broadcast-sized query-side
  * computation.
  *
  * Storage shape: everything is parquet, readable by ANY engine (the
  * portability argument that makes parquet the index format of record for
  * lakehouse ANN — same reasoning as storing Faiss-style codes in columnar
  * files). Model-sized artifacts (codebooks, centroids, tokenizer merge
  * and piece tables) round-trip through model-sized `collect()`s — the
  * sanctioned MLlib-style driver hop — into local `Seq`s, which the
  * tokenizers bind into plans as typed literals or run driver-local;
  * data-sized artifacts (codes, assignment) stay distributed end to end.
  * Every load reads its layout's known schema, so none runs a
  * schema-inference job.
  */
object ModelStore {

  /** Write the m per-subspace PQ codebooks under `dir` as one parquet of
    * (sub, cl, spos, cm) rows plus a one-row `meta` parquet carrying the
    * shape (m, subLen) — no sidecar format to parse, no extra dependency.
    */
  def savePq(spark: SparkSession, dir: String, model: PqModel): Unit = {
    val rows = for {
      (book, j) <- model.cents.zipWithIndex
      (cl, v) <- book
      (x, p) <- v.zipWithIndex
    } yield (j, cl, p, x)
    spark.createDataFrame(rows).toDF("sub", "cl", "spos", "cm")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    spark.createDataFrame(Seq((model.m, model.subLen))).toDF("m", "sub_len")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load [[savePq]]'s layout back into a [[PqModel]] (model-sized). */
  def loadPq(spark: SparkSession, dir: String): PqModel = {
    val meta = spark.read.schema("m INT, sub_len INT").parquet(s"$dir/meta").head()
    val (m, subLen) = (meta.getInt(0), meta.getInt(1))
    val rows = spark.read.schema("sub INT, cl BIGINT, spos INT, cm DOUBLE")
      .parquet(s"$dir/codebooks").collect()
    val cents = (0 until m).map { j =>
      rows.filter(_.getInt(0) == j)
        .groupBy(_.getLong(1)).map { case (cl, rs) =>
          cl -> (rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toVector: Seq[Double])
        }.toSeq.sortBy(_._1)
    }
    PqModel(m, subLen, cents)
  }

  /** Write a centroid table (cluster id, centroid vector) under `dir`. */
  def saveCentroids(
      spark: SparkSession, dir: String, cents: Seq[(Long, Seq[Double])]): Unit =
    spark.createDataFrame(cents).toDF("cluster", "centroid")
      .repartition(1).write.mode("overwrite").parquet(dir)

  /** Load [[saveCentroids]]'s table back (model-sized). */
  def loadCentroids(spark: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    spark.read.schema("cluster BIGINT, centroid ARRAY<DOUBLE>").parquet(dir).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Double](1).toVector: Seq[Double]))
      .sortBy(_._1).toSeq

  /** Write a learned BPE merge table (rank, left, right, pair freq) —
    * the tokenizer-model artifact: train once on the vocab table, encode
    * any corpus forever after by applying the persisted merges in rank
    * order.
    */
  def saveMerges(spark: SparkSession, dir: String,
      merges: Seq[(Int, String, String, Long)]): Unit =
    spark.createDataFrame(merges)
      .toDF("merge_rank", "lhs", "rhs", "pair_freq")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/merges")

  /** Load [[saveMerges]]'s table back in rank order (model-sized). */
  def loadMerges(spark: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    spark.read.schema("merge_rank INT, lhs STRING, rhs STRING, pair_freq BIGINT")
      .parquet(s"$dir/merges").collect()
      .map { r =>
        // trust boundary: the trainers only ever learn [a-z]+ symbols
        // (the tokenizers' word alphabet) — enforce it HERE so a foreign
        // or corrupted model dir fails loudly instead of serving pieces no
        // corpus word can contain
        val (l, rr) = (r.getString(1), r.getString(2))
        require(l.matches("^[a-z]+$") && rr.matches("^[a-z]+$"),
          s"merge symbols must be [a-z]+ (got '$l', '$rr' in $dir)")
        (r.getInt(0), l, rr, r.getLong(3))
      }
      .sortBy(_._1).toSeq

  /** Write a learned unigram-LM piece table `(piece, usage, lp)` — the
    * SentencePiece-style tokenizer model artifact, the unigram sibling of
    * [[saveMerges]].
    */
  def saveUnigram(spark: SparkSession, dir: String,
      vocab: Seq[(String, Long, Long)]): Unit =
    spark.createDataFrame(vocab).toDF("piece", "usage", "lp")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/unigram")

  /** Load [[saveUnigram]]'s piece table back by piece (model-sized). */
  def loadUnigram(spark: SparkSession, dir: String): Seq[(String, Long, Long)] =
    spark.read.schema("piece STRING, usage BIGINT, lp BIGINT").parquet(s"$dir/unigram").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
}
