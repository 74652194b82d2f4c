package graft.sources

import org.apache.spark.sql.types._

/** Hidden partitioning for snapshot tables — the Iceberg partition-
  * transform idea (iceberg spec: identity / bucket[N] / truncate[W] /
  * year / month / day) at this format's dir granularity:
  *
  *  - the TABLE declares transforms once (`CREATE TABLE ... PARTITIONED
  *    BY (days(ts), bucket(8, k))`); the spec rides every manifest;
  *  - routed writes land ONE data dir per distinct transform tuple and
  *    record the tuple per dir in the manifest (`partVals`), so the
  *    values are structural facts of the layout, not after-the-fact
  *    statistics like `bounds`;
  *  - reads map predicates on the SOURCE columns through the transforms
  *    to dir-level pruning: monotone transforms (identity, days, months,
  *    years, truncate) accept range + point edges, bucket accepts point
  *    edges only. A dir without a recorded tuple (a compaction/DML
  *    rewrite output, a pre-partition dir) is ALWAYS kept — pruning errs
  *    wide, never wrong, and the full predicate still evaluates on top.
  *
  * Value RENDERING is the load-bearing contract: the executor-side SQL
  * expression ([[exprSql]]) and the driver-side literal rendering
  * ([[render]]) must agree byte-for-byte, or pruning silently drops live
  * dirs. */
object PartitionSpec {

  /** One declared transform: `fn` ∈ identity|years|months|days|bucket|
    * truncate, `n` the bucket count / truncate width (0 otherwise),
    * `col` the LOGICAL source column. */
  final case class PartField(fn: String, n: Int, col: String) {
    override def toString: String =
      if (n == 0) s"$fn($col)" else s"$fn($n, $col)"
  }

  /** Spark writes this dir name for a null partition value; rows with a
    * null source column land here and are prunable by ANY edge on the
    * field (an eq/range predicate is never satisfied by NULL). */
  val NullValue = "__HIVE_DEFAULT_PARTITION__"

  private val MicrosPerDay = 86400000000L

  /** Parse the user-facing textual form — the inverse of
    * [[PartField.toString]]: a comma-joined list of `fn(col)` /
    * `fn(n, col)` entries, e.g. `"days(ts), bucket(8, k)"`. An empty
    * string parses to the empty spec (evolve to unpartitioned). Column
    * names here are bare identifiers; validation against the schema is
    * the caller's job ([[validate]]). */
  def parse(spec: String): Seq[PartField] = {
    val entryRe = """\s*([A-Za-z_]+)\s*\(\s*(?:(\d+)\s*,)?\s*([^\s(),]+)\s*\)\s*""".r
    if (spec.trim.isEmpty) Nil
    else spec.split(",(?![^()]*\\))").toSeq.map {
      case entryRe(fn, n, col) =>
        PartField(fn, Option(n).map(_.toInt).getOrElse(0), col)
      case other => throw new IllegalArgumentException(
        s"unparseable partition transform '${other.trim}' — expected " +
          "fn(col) or fn(n, col)")
    }
  }

  /** Validate a declared field against the table schema at CREATE:
    * unknown column, unsupported (fn, type) pairing, and bad widths all
    * refuse before the table exists. */
  def validate(f: PartField, schema: StructType): Unit = {
    val field = schema.fields.find(_.name == f.col).getOrElse(
      throw new IllegalArgumentException(
        s"partition transform ${f} references unknown column ${f.col}"))
    val dt = field.dataType
    def ok(b: Boolean): Unit =
      require(b, s"partition transform ${f} does not support " +
        s"column type ${dt.simpleString}")
    f.fn match {
      case "identity" => ok(dt match {
        case ByteType | ShortType | IntegerType | LongType | StringType |
            DateType => true
        case _ => false
      })
      case "years" | "months" | "days" =>
        ok(dt == DateType || dt == TimestampType)
      case "hours" => ok(dt == TimestampType)
      case "bucket" =>
        require(f.n > 0, s"bucket() needs a positive count, got ${f.n}")
        ok(dt match {
          case IntegerType | LongType | StringType | DateType => true
          case _ => false
        })
      case "truncate" =>
        require(f.n > 0, s"truncate() needs a positive width, got ${f.n}")
        ok(dt match {
          case StringType | ByteType | ShortType | IntegerType |
              LongType => true
          case _ => false
        })
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform '$other' — supported: " +
          "identity, years, months, days, hours, bucket(n), truncate(n)")
    }
  }

  /** Exact floor-division of a BIGINT SQL expression by `d` — NEVER
    * double math: bigint→double rounds past 2^53, and a far-future
    * timestamp (legal up to +9999 in Spark) written through a rounded
    * index lands in a dir the driver-side exact [[render]] then prunes
    * away (r19 advice: silent wrong answers at the precision edge).
    * `m - pmod(m, d)` is divisible by d and equals floor(m/d)·d, with
    * every intermediate far inside BIGINT under ANSI mode. */
  private def floorDivSql(m: String, d: Long): String =
    s"(($m - pmod($m, ${d}L)) DIV ${d}L)"

  /** The UTC day index of a timestamp column, as SQL — floor, not
    * truncate-toward-zero, so pre-epoch values land on the right day.
    * Session-timezone-free by construction (unix_micros is absolute). */
  private def dayIdxSql(c: String): String =
    s"CAST(${floorDivSql(s"unix_micros($c)", MicrosPerDay)} AS INT)"

  /** Executor-side value expression over the LOGICAL column name —
    * must render exactly what [[render]] renders for the same value. */
  def exprSql(f: PartField, dt: DataType): String = {
    val c = s"`${f.col}`"
    f.fn match {
      case "identity" => s"CAST($c AS STRING)"
      case "days" => dt match {
        case DateType => s"CAST($c AS STRING)"
        case _ => s"CAST(date_from_unix_date(${dayIdxSql(c)}) AS STRING)"
      }
      case "months" => dt match {
        case DateType => s"date_format($c, 'yyyy-MM')"
        case _ =>
          s"date_format(date_from_unix_date(${dayIdxSql(c)}), 'yyyy-MM')"
      }
      case "years" => dt match {
        case DateType => s"date_format($c, 'yyyy')"
        case _ =>
          s"date_format(date_from_unix_date(${dayIdxSql(c)}), 'yyyy')"
      }
      case "hours" =>
        // fixed-width "yyyy-MM-dd-HH", UTC hour floor — lexical order
        // equals time order, and unix_micros is session-TZ-free
        s"concat(CAST(date_from_unix_date(${dayIdxSql(c)}) AS STRING), " +
          s"'-', lpad(CAST(pmod(${floorDivSql(s"unix_micros($c)",
            3600000000L)}, 24) AS STRING), 2, '0'))"
      case "bucket" => s"CAST(pmod(hash($c), ${f.n}) AS STRING)"
      case "truncate" => dt match {
        case StringType => s"substring($c, 1, ${f.n})"
        // Iceberg integral truncate: v - (v mod w) with FLOOR semantics
        // (pmod keeps the remainder non-negative, so negatives round
        // toward -inf, keeping the transform monotone). Sub-long types
        // widen first so the extreme (e.g. Int.MinValue) never trips
        // ANSI overflow; a LongType value within w of Long.MinValue
        // refuses loudly at write, never wraps.
        case _ =>
          val cb = if (dt == LongType) c else s"CAST($c AS BIGINT)"
          s"CAST($cb - pmod($cb, ${f.n}) AS STRING)"
      }
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform '$other'")
    }
  }

  private def localDate(dt: DataType, v: Any): java.time.LocalDate =
    dt match {
      case DateType =>
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)
      case TimestampType => java.time.LocalDate.ofEpochDay(
        Math.floorDiv(v.asInstanceOf[Long], MicrosPerDay))
      case _ => throw new IllegalArgumentException(
        s"not a date/timestamp literal: $dt")
    }

  /** Driver-side rendering of a CATALYST literal value (internal form:
    * DateType = epoch days Int, TimestampType = epoch micros Long,
    * StringType = UTF8String) under transform `f`. None = the literal's
    * type cannot be soundly mapped (contributes no pruning edge). */
  def render(f: PartField, dt: DataType, v: Any): Option[String] = {
    if (v == null) return None
    f.fn match {
      case "identity" => dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(v.toString)
        case StringType => Some(v.toString)
        case DateType => Some(localDate(dt, v).toString)
        case _ => None
      }
      case "days" => dt match {
        case DateType | TimestampType => Some(localDate(dt, v).toString)
        case _ => None
      }
      case "months" => dt match {
        case DateType | TimestampType =>
          val d = localDate(dt, v)
          Some(f"${d.getYear}%04d-${d.getMonthValue}%02d")
        case _ => None
      }
      case "years" => dt match {
        case DateType | TimestampType =>
          Some(f"${localDate(dt, v).getYear}%04d")
        case _ => None
      }
      case "hours" => dt match {
        case TimestampType =>
          val micros = v.asInstanceOf[Long]
          val hod = Math.floorMod(
            Math.floorDiv(micros, 3600000000L), 24L)
          Some(f"${localDate(dt, v)}-$hod%02d")
        case _ => None
      }
      case "bucket" =>
        // hash() is Murmur3 seed 42 over the COLUMN's type — a literal
        // of any other type hashes differently, so only an exact-type
        // literal may contribute an edge (the caller down-converts)
        val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
          Seq(org.apache.spark.sql.catalyst.expressions.Literal
            .create(v, dt)), 42).eval(null).asInstanceOf[Int]
        Some((((h % f.n) + f.n) % f.n).toString)
      case "truncate" => dt match {
        // match Spark's substring exactly (code-point aware), not
        // String.take (UTF-16 code units)
        case StringType => Some(org.apache.spark.unsafe.types.UTF8String
          .fromString(v.toString).substringSQL(1, f.n).toString)
        case ByteType | ShortType | IntegerType | LongType =>
          val l = v.asInstanceOf[Number].longValue
          // the one unreachable edge (within w of Long.MinValue) maps
          // to None = no pruning edge, wide-never-wrong — the write
          // side refused it under ANSI, so no dir can carry the tuple
          try Some(Math.subtractExact(l,
            Math.floorMod(l, f.n.toLong)).toString)
          catch { case _: ArithmeticException => None }
        case _ => None
      }
      case _ => None
    }
  }

  /** Is the transform order-preserving on its source column? Monotone
    * fields accept range edges; bucket accepts point edges only. */
  def monotone(f: PartField): Boolean = f.fn != "bucket"

  /** Compare two RENDERED values of field `f` over source type `dt`.
    * Integral identity compares numerically; everything else rendered
    * here is either fixed-width ASCII (ISO dates, zero-padded years) or
    * an arbitrary string — UTF-8 byte order, the same order Spark's
    * string comparisons use. */
  def compare(f: PartField, dt: DataType, a: String, b: String): Int =
    (f.fn, dt) match {
      case ("identity" | "truncate",
          ByteType | ShortType | IntegerType | LongType) =>
        java.lang.Long.compare(a.toLong, b.toLong)
      case _ => SnapshotTable.utf8Compare(a, b)
    }
}
