package graft

import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

import graft.sources.PartitionSpec
import graft.sources.PartitionSpec.PartField

/** The hidden-partitioning value contract ([[PartitionSpec]]): the
  * executor-side SQL expression (`exprSql` — what routed writes stamp
  * into dir names) and the driver-side literal rendering (`render` —
  * what pruning compares predicate edges against) must agree
  * byte-for-byte on every value, or structural pruning silently drops
  * live dirs. This spec evaluates both sides over randomized values for
  * every (transform, source type) pairing and requires equality, plus
  * the monotonicity every range-mapped transform relies on. */
class PartitionSpecPropertySpec extends SparkTestBase {

  private val rnd = new scala.util.Random(19)

  private def sqlValues(f: PartField, dt: DataType,
      rows: Seq[Any]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField(f.col, dt)))
    val df = spark.createDataFrame(
      rows.map(v => org.apache.spark.sql.Row(v)).asJava, schema)
    df.select(expr(PartitionSpec.exprSql(f, dt)).cast("string").as("v"))
      .collect().map(_.getString(0)).toSeq
  }

  private def internal(dt: DataType, v: Any): Any = (dt, v) match {
    case (DateType, d: java.sql.Date) => d.toLocalDate.toEpochDay.toInt
    case (TimestampType, t: java.sql.Timestamp) =>
      t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case (StringType, s: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case _ => v
  }

  private def check(f: PartField, dt: DataType, rows: Seq[Any]): Unit = {
    val fromSql = sqlValues(f, dt, rows)
    val fromRender = rows.map(v =>
      PartitionSpec.render(f, dt, internal(dt, v)).getOrElse(
        fail(s"render refused a supported value: $f $dt $v")))
    assert(fromSql == fromRender,
      s"$f over ${dt.simpleString}: SQL ${fromSql.take(5)}... != " +
        s"render ${fromRender.take(5)}...")
  }

  test("identity renders agree across int/long/string/date") {
    check(PartField("identity", 0, "c"), LongType,
      Seq.fill(40)(rnd.nextLong() % 1000000L))
    check(PartField("identity", 0, "c"), IntegerType,
      Seq.fill(40)(rnd.nextInt()))
    check(PartField("identity", 0, "c"), StringType,
      Seq.fill(40)(rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString))
    check(PartField("identity", 0, "c"), DateType,
      Seq.fill(40)(java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(rnd.nextInt(40000).toLong))))
  }

  test("years/months/days renders agree on dates and timestamps, " +
      "including pre-epoch values") {
    val dates = Seq.fill(60)(java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay((rnd.nextInt(80000) - 20000).toLong)))
    val tss = Seq.fill(60)(new java.sql.Timestamp(
      (rnd.nextLong() % (4000L * 86400000L)))) :+
      new java.sql.Timestamp(-1L) :+ new java.sql.Timestamp(0L)
    for (fn <- Seq("years", "months", "days")) {
      check(PartField(fn, 0, "c"), DateType, dates)
      check(PartField(fn, 0, "c"), TimestampType, tss)
    }
    check(PartField("hours", 0, "c"), TimestampType, tss)
  }

  test("bucket renders agree across int/long/string/date (hash is " +
      "type-sensitive — the exact-type discipline)") {
    for (n <- Seq(2, 8, 31)) {
      check(PartField("bucket", n, "c"), LongType,
        Seq.fill(40)(rnd.nextLong()))
      check(PartField("bucket", n, "c"), IntegerType,
        Seq.fill(40)(rnd.nextInt()))
      check(PartField("bucket", n, "c"), StringType,
        Seq.fill(40)(rnd.alphanumeric.take(1 + rnd.nextInt(10)).mkString))
      check(PartField("bucket", n, "c"), DateType,
        Seq.fill(40)(java.sql.Date.valueOf(
          java.time.LocalDate.ofEpochDay(rnd.nextInt(30000).toLong))))
    }
  }

  test("truncate renders agree, including surrogate-pair code points " +
      "(substring counts code points, String.take counts code units)") {
    val plain = Seq.fill(40)(
      rnd.alphanumeric.take(1 + rnd.nextInt(10)).mkString)
    // values mixing BMP and supplementary-plane chars: truncate(2) of
    // "😀ab" must be the emoji + 'a' (2 code points), which a
    // UTF-16 take(2) would corrupt into a lone surrogate pair
    val tricky = Seq("😀ab", "a😀b", "😀",
      "ab😀cd", "x")
    for (w <- Seq(1, 2, 4)) {
      check(PartField("truncate", w, "c"), StringType, plain)
      check(PartField("truncate", w, "c"), StringType, tricky)
    }
  }

  test("truncate over integral types renders v - (v mod w) with FLOOR " +
      "semantics on both sides (Iceberg parity), including the int " +
      "extremes, and compares numerically") {
    for (w <- Seq(1, 7, 10, 64)) {
      check(PartField("truncate", w, "c"), LongType,
        Seq.fill(40)(rnd.nextLong() % 1000000L) ++
          Seq(-1L, 0L, 1L, -100L, Long.MaxValue))
      check(PartField("truncate", w, "c"), IntegerType,
        Seq.fill(40)(rnd.nextInt()) ++
          Seq(Int.MinValue, Int.MaxValue, -1, 0))
    }
    val f = PartField("truncate", 10, "c")
    // floor, not toward-zero: truncate(10, -7) = -10, never 0
    assert(PartitionSpec.render(f, LongType, -7L).contains("-10"))
    assert(PartitionSpec.render(f, LongType, 7L).contains("0"))
    // monotone under the comparator (range pruning's license) — and the
    // comparator is NUMERIC ("100" sorts above "5", unlike UTF-8 order)
    val vals = Seq.fill(60)(rnd.nextLong() % 100000L).sorted
    val rendered = vals.map(v =>
      PartitionSpec.render(f, LongType, v).get)
    assert(rendered.sliding(2).forall {
      case Seq(a, b) => PartitionSpec.compare(f, LongType, a, b) <= 0
      case _ => true
    }, "integral truncate is not order-preserving on sorted inputs")
    assert(PartitionSpec.compare(f, LongType, "100", "50") > 0)
  }

  test("monotone transforms ARE monotone under the field comparator " +
      "(the property range pruning relies on)") {
    val dates = Seq.fill(80)(java.time.LocalDate.ofEpochDay(
      (rnd.nextInt(60000) - 10000).toLong))
    for (fn <- Seq("years", "months", "days")) {
      val f = PartField(fn, 0, "c")
      val sorted = dates.sortBy(_.toEpochDay)
      val rendered = sorted.map(d => PartitionSpec.render(f, DateType,
        d.toEpochDay.toInt).get)
      val resorted = rendered.sortWith((a, b) =>
        PartitionSpec.compare(f, DateType, a, b) < 0)
      assert(rendered.zip(resorted).forall { case (a, b) =>
        PartitionSpec.compare(f, DateType, a, b) == 0 },
        s"$fn rendering is not order-preserving")
    }
    val strs = Seq.fill(80)(
      rnd.alphanumeric.take(rnd.nextInt(8)).mkString).sorted
    val ft = PartField("truncate", 3, "c")
    val rt = strs.map(s => PartitionSpec.render(ft, StringType,
      org.apache.spark.unsafe.types.UTF8String.fromString(s)).get)
    assert(rt.sliding(2).forall {
      case Seq(a, b) => PartitionSpec.compare(ft, StringType, a, b) <= 0
      case _ => true
    }, "truncate is not order-preserving on sorted inputs")
  }

  test("days/hours/months/years render exactly across the FULL Spark " +
      "timestamp range (±9999) — bigint→double rounding past 2^53 wrote " +
      "tuples the driver-side exact render then pruned (r19 advice)") {
    import scala.jdk.CollectionConverters._
    val minUs = -62135596800000000L // 0001-01-01T00:00:00Z
    val maxUs = 253402300799999999L // 9999-12-31T23:59:59.999999Z
    val span = maxUs - minUs
    // the random sweep plus the exact counterexample from the advice
    // (9999-12-31 23:59:59.999999: FLOOR(us/86400000000.0) rounded UP
    // to day 2932897 = +10000-01-01) and both range endpoints
    val us = Seq.fill(120)(minUs + Math.floorMod(rnd.nextLong(), span)) ++
      Seq(minUs, maxUs, maxUs - 1, 0L, -1L, 253402300799999999L)
    val df = spark.createDataFrame(
      us.map(v => org.apache.spark.sql.Row(v)).asJava,
      StructType(Seq(StructField("us", LongType))))
      .select(expr("timestamp_micros(us)").as("c"))
    for (fn <- Seq("years", "months", "days", "hours")) {
      val f = PartField(fn, 0, "c")
      val sqlSide = df.select(expr(PartitionSpec.exprSql(f, TimestampType))
        .cast("string").as("v")).collect().map(_.getString(0)).toSeq
      val renderSide = us.map(v =>
        PartitionSpec.render(f, TimestampType, v).getOrElse(
          fail(s"render refused a legal timestamp: $v")))
      val diff = sqlSide.zip(renderSide).zip(us).filter {
        case ((a, b), _) => a != b }
      assert(diff.isEmpty,
        s"$fn diverges at ${diff.take(3)} — write-side tuple and " +
          "driver-side render MUST agree or pruning drops live dirs")
    }
  }

  test("source column names holding , | ; : = validate, route, and " +
      "round-trip the manifest's partition spec") {
    import graft.sources.SnapshotTable
    val names = Seq("a|b", "a,b", "a;b", "a:b", "a=b", "a,b|c;d")
    val schema = StructType(names.map(StructField(_, StringType)))
    val base = java.nio.file.Files.createTempDirectory("pspec").toString
    spark.range(1).write.parquet(s"$base/d")
    for ((n, v) <- names.zip(1 to names.size)) {
      val f = PartField("identity", 0, n)
      PartitionSpec.validate(f, schema)
      assert(sqlValues(f, StringType, Seq("x,|y")) == Seq("x,|y"))
      val snap = SnapshotTable.Snapshot(Seq(s"$base/d"), Nil,
        partSpec = Seq(f), partVals = Map(s"$base/d" -> Seq("x,|y")))
      SnapshotTable.commit(spark, base, v, snap)
      assert(SnapshotTable.manifest(spark, base, v) == snap, n)
    }
  }

  test("parse round-trips the user-facing textual form (the CALL " +
      "alter_partition_spec input) and refuses junk loudly") {
    val fns = Seq("identity" -> 0, "years" -> 0, "months" -> 0,
      "days" -> 0, "hours" -> 0, "bucket" -> 1, "truncate" -> 1)
    for (_ <- 1 to 60) {
      val spec = Seq.fill(1 + rnd.nextInt(3)) {
        val (fn, hasN) = fns(rnd.nextInt(fns.size))
        PartField(fn, if (hasN == 1) 1 + rnd.nextInt(64) else 0,
          "c" + rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString)
      }
      val text = spec.map(_.toString).mkString(", ")
      assert(PartitionSpec.parse(text) == spec, text)
      // whitespace-insensitive: the form users actually type
      assert(PartitionSpec.parse(
        text.replace(", ", ",").replace("(", "( ")) == spec, text)
    }
    assert(PartitionSpec.parse("") == Nil &&
      PartitionSpec.parse("   ") == Nil)
    for (bad <- Seq("days", "days()", "bucket(k, 4)", "days(a b)",
        "days(ts)) ", "days(ts) bucket(4, k)"))
      assert(intercept[IllegalArgumentException] {
        PartitionSpec.parse(bad) }.getMessage
        .contains("unparseable partition transform"), bad)
  }
}
