package graft.sources

import org.apache.spark.sql.types._

/** Parser for the reference's column-spec strings (SURVEY.md §1.1).
  *
  * Word form: `[wide] [index] [type] name`, e.g. `"wide index string
  * token"`, `"index uint32 ad_id"`, `"lz4 title"`, `"int16 amount"`.
  * Sigil form: `$`=string, `%`=trie, `*`=lz4, `@N`=uint-N-bytes,
  * `#N`=int-N-bytes, prefixed `+`=index, `=`=wide index, e.g. `"+@4ad_id"`.
  *
  * Mapping notes:
  *  - `trie`/`lz4` are storage-compression details in the reference →
  *    semantically StringType here (parquet dictionary/ZSTD handle the
  *    compression concern).
  *  - unsigned ints widen by one size class; `uint64` maps to LongType
  *    with a documented range caveat (Spark has no unsigned 64-bit type;
  *    event data does not reach 2^63 in practice). For counters that DO
  *    use the full unsigned range, the `uint64AsDecimal` opt-in maps
  *    `uint64`/`@8` to `DecimalType(20,0)` instead — lossless for all of
  *    [0, 2^64), at the cost of decimal arithmetic (no codegen'd long
  *    ops), which is why it is opt-in rather than the default.
  *  - `index`/`wide index` have no semantic effect on queries; they mark
  *    the column for a parquet bloom filter at write time — the Spark
  *    analog of the reference's per-column bitmap indexes (plus the
  *    min/max + dictionary filtering every parquet column already gets).
  */
object ColumnSpec {

  final case class Spec(field: StructField, indexed: Boolean, wide: Boolean)

  /** Full-range unsigned-64 representation: every value in [0, 2^64). */
  val Uint64Wide: DecimalType = DecimalType(20, 0)

  private def wordTypes(uint64AsDecimal: Boolean): Map[String, DataType] = Map(
    "string" -> StringType, "trie" -> StringType, "lz4" -> StringType,
    "binary" -> BinaryType,
    "uint8" -> ShortType, "uint16" -> IntegerType,
    "uint32" -> LongType,
    "uint64" -> (if (uint64AsDecimal) Uint64Wide else LongType),
    "int8" -> ByteType, "int16" -> ShortType,
    "int32" -> IntegerType, "int64" -> LongType,
  )

  private def sigilType(
      s: String, uint64AsDecimal: Boolean): Option[(DataType, String)] = s.headOption.flatMap {
    case '$' => Some((StringType, s.tail))
    case '%' => Some((StringType, s.tail)) // trie
    case '*' => Some((StringType, s.tail)) // lz4
    case '@' => // unsigned, N bytes
      val (n, rest) = s.tail.span(_.isDigit)
      Some((n match {
        case "1" => ShortType; case "2" => IntegerType
        case "4" => LongType
        case "8" => if (uint64AsDecimal) Uint64Wide else LongType
        case other => throw new IllegalArgumentException(s"bad uint width $other in '$s'")
      }, rest))
    case '#' => // signed, N bytes
      val (n, rest) = s.tail.span(_.isDigit)
      Some((n match {
        case "1" => ByteType; case "2" => ShortType
        case "4" => IntegerType; case "8" => LongType
        case other => throw new IllegalArgumentException(s"bad int width $other in '$s'")
      }, rest))
    case _ => None
  }

  /** Parse one spec string (word or sigil form). `uint64AsDecimal` opts
    * `uint64`/`@8` columns into [[Uint64Wide]] full-range semantics.
    */
  def parse(spec: String, uint64AsDecimal: Boolean = false): Spec = {
    val t = spec.trim
    // sigil form: optional +/= prefix, then a type sigil
    val (idxSigil, wideSigil, rest0) = t.headOption match {
      case Some('+') => (true, false, t.tail)
      case Some('=') => (true, true, t.tail)
      case _ => (false, false, t)
    }
    sigilType(rest0, uint64AsDecimal) match {
      case Some((dt, name)) if name.nonEmpty && !t.contains(' ') =>
        Spec(StructField(name, dt), idxSigil, wideSigil)
      case _ =>
        // word form
        var words = t.split("\\s+").toList
        var wide = false
        var indexed = false
        if (words.headOption.contains("wide")) { wide = true; words = words.tail }
        if (words.headOption.contains("index")) { indexed = true; words = words.tail }
        require(!wide || indexed, s"'wide' requires 'index' in '$spec'")
        val types = wordTypes(uint64AsDecimal)
        val (dt, name) = words match {
          case tpe :: n :: Nil if types.contains(tpe) => (types(tpe), n)
          case n :: Nil => (StringType, n) // default type is string
          case _ => throw new IllegalArgumentException(s"cannot parse column spec '$spec'")
        }
        Spec(StructField(name, dt), indexed, wide)
    }
  }

  def parseAll(specs: Seq[String], uint64AsDecimal: Boolean = false): Seq[Spec] =
    specs.map(parse(_, uint64AsDecimal))

  def toSchema(specs: Seq[Spec]): StructType = StructType(specs.map(_.field))
}
