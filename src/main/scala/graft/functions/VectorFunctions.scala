package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column functions (SURVEY.md §2.9: similarity search).
  *
  * Embeddings are `ArrayType(FloatType)` (FIXTURES.md). All arithmetic is
  * done in double via `zip_with`/`aggregate` — codegen'd sequential folds,
  * deterministic for a given element order, no UDF overhead. For 100 TB
  * the same expressions run unchanged; the scale lever is the candidate
  * generation strategy (see operators.Similarity), not the math.
  */
object VectorFunctions {

  /** Element-wise cast to double (float arrays widen exactly). */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product: sequential left fold over zipped elements. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Squared L2 norm. */
  def normSq(v: Column): Column = dot(v, v)

  /** Cosine similarity = dot / (||a||·||b||), computed as
    * `dot / (sqrt(na) * sqrt(nb))` — keep this exact formula on any oracle
    * side too; `sqrt(na*nb)` differs in the last ulp.
    *
    * Dispatches to the native codegen'd [[graft.plans.CosineSimilarity]]
    * expression (fused single-pass loop, no intermediate arrays); the
    * element order and formula are identical to [[cosineFunctional]], so
    * results are bit-equal (asserted by spec).
    */
  def cosine(a: Column, b: Column): Column =
    graft.plans.CosineSimilarity.cosine(a, b)

  /** Reference implementation via functions._ folds (kept for spec
    * cross-checks and as the fallback if the native path is undesired).
    */
  def cosineFunctional(a: Column, b: Column): Column = {
    val ad = asDouble(a)
    val bd = asDouble(b)
    dot(ad, bd) / (sqrt(normSq(ad)) * sqrt(normSq(bd)))
  }
}
