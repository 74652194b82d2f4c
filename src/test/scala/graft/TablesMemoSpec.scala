package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** [[Tables]] resolves each fixture once per memo key (session, path at its
  * fingerprint, parquet inference confs) and hands out fresh relations:
  * building a query then runs no Spark job, and the memo never serves a
  * relation a raw `spark.read.parquet` would not give. */
class TablesMemoSpec extends SparkTestBase {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** The innermost cause's class and message: the job-failure wrapper
    * around it names stage and task ids that differ between runs. */
  private def cause(e: Throwable): String =
    if (e.getCause == null || e.getCause == e) s"${e.getClass}: ${e.getMessage}"
    else cause(e.getCause)

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // the olap_read members of perfbench/workloads.json, plus the two
  // heavy_rw members whose construction read a fixture schema
  private val constructed = Seq("dedup_simhash", "q_fuzzy_match",
    "q_anti_join", "q_unpivot", "dedup_keep_best", "q_stratified_sample",
    "text_bm25", "mr_wordcount", "q_scd2")

  test("building a query runs no Spark job once its tables are resolved") {
    constructed.foreach { name =>
      val q = SparkEntry.queries(name)
      q(spark, sf)
      val (_, jobs, _) = jobsOf(q(spark, sf))
      assert(jobs == 0, s"$name: building the query ran $jobs Spark job(s)")
    }
  }

  test("an in-place re-encoding of events (nanos to micros) is seen") {
    val dir = tempDir("graft-tables-enc")
    val ev = Tables(spark, sf, "events").orderBy("event_id").limit(200)
    ev.write.parquet(s"$dir/events.parquet")
    assert(Tables.relation(spark, dir, "events").schema("ts").dataType ==
      LongType)
    val before = rows(Tables(spark, dir, "events"))
    ev.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(Tables.relation(spark, dir, "events").schema("ts").dataType ==
      TimestampNTZType, "the memo served the nanos relation after a rewrite")
    // the stale relation's file listing names deleted files: reading it
    // would fail rather than return rows
    assert(rows(Tables(spark, dir, "events")) === before)
  }

  test("a back-dated same-length rewrite is seen on the next call") {
    val dir = tempDir("graft-tables-fp")
    val path = Paths.get(s"$dir/nation.parquet")
    def write(from: Long): Unit = spark.range(from, from + 10).toDF("k")
      .coalesce(1).write.mode("overwrite").option("compression", "none")
      .parquet(path.toString)
    def files: Seq[Path] =
      Files.list(path).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    write(0)
    val first = Tables.relation(spark, dir, "nation")
    assert(rows(Tables(spark, dir, "nation")) === (0 until 10).map(_.toString))
    val before = files.map(f => Files.size(f) -> Files.getLastModifiedTime(f))
    write(100)
    // same file count and lengths, every mtime pinned back to the old one
    assert(files.map(Files.size) === before.map(_._1))
    files.zip(before).foreach { case (f, (_, t)) =>
      Files.setLastModifiedTime(f, t) }
    assert(!(Tables.relation(spark, dir, "nation") eq first),
      "the memo served the relation of the overwritten files")
    assert(rows(Tables(spark, dir, "nation")) ===
      (100 until 110).map(_.toString))
  }

  test("a self-join of two calls has distinct attributes and raw-read rows") {
    val a = Tables(spark, sf, "nation")
    val b = Tables(spark, sf, "nation")
    val ids = (df: DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    def pairs(a: DataFrame, b: DataFrame) =
      a.join(b, a("n_regionkey") === b("n_regionkey") &&
          a("n_nationkey") < b("n_nationkey"))
        .select(a("n_nationkey"), b("n_nationkey"))
    def raw = spark.read.parquet(s"$sf/nation.parquet")
    val got = rows(pairs(a, b))
    assert(got.nonEmpty)
    assert(got === rows(pairs(raw, raw)))
    // the q_fuzzy_match shape: two calls joined on a derived column
    def side(df: DataFrame, k: String, n: String) = df.select(
      col("n_nationkey").cast("long").as(k), col("n_name").as(n),
      substring(col("n_name"), 1, 1).as("blk"))
    def fuzzy(l: DataFrame, r: DataFrame) = side(l, "k1", "name1")
      .join(side(r, "k2", "name2"), Seq("blk")).where(col("k1") < col("k2"))
      .select("k1", "k2", "name1", "name2")
    assert(rows(fuzzy(Tables(spark, sf, "nation"), Tables(spark, sf, "nation")))
      === rows(fuzzy(raw, raw)))
  }

  test("other sessions never receive the shared session's relation") {
    val shared = Tables.relation(spark, sf, "region")
    for (other <- Seq(spark.newSession(), GraftSession.spj(spark))) {
      val own = Tables.relation(other, sf, "region")
      assert(!(own eq shared))
      assert(own.relation.asInstanceOf[
        org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        .sparkSession eq other)
      assert(rows(Tables(other, sf, "region")) ===
        rows(Tables(spark, sf, "region")))
    }
  }

  test("a flipped inference conf gives what a raw read gives") {
    // a session of its own, so the flips reach no other suite
    val s = spark.newSession()
    // the fixture's ts is a parquet timestamp not adjusted to UTC, with no
    // Spark schema metadata: without NTZ inference it reads as TIMESTAMP,
    // not TIMESTAMP_NTZ. The same schema, and the old one after the flip
    val before = Tables.relation(s, sf, "events").schema
    GraftSession.withConf(s,
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      val flipped = Tables.relation(s, sf, "events").schema
      assert(flipped === s.read.parquet(s"$sf/events.parquet").schema)
      assert(flipped != before, "the flip must change this fixture's schema")
    }
    assert(Tables.relation(s, sf, "events").schema === before)
    val dir = tempDir("graft-tables-conf")
    // two part files whose `v` types conflict: one footer decides the
    // schema, but merging them fails: the same error
    val orders = s"$dir/orders.parquet"
    s.range(3).toDF("v").write.parquet(orders)
    s.range(3).selectExpr("CAST(id AS STRING) AS v")
      .write.mode("append").parquet(orders)
    assert(Tables.relation(s, dir, "orders").schema ===
      s.read.parquet(orders).schema)
    GraftSession.withConf(s, "spark.sql.parquet.mergeSchema" -> "true") {
      assert(cause(intercept[Exception](Tables(s, dir, "orders"))) ===
        cause(intercept[Exception](s.read.parquet(orders))))
    }
  }

  test("no src/main file but Tables reads a fixture file") {
    // a DataFrameReader chain (`.read`, not `.readStream`) ending in
    // .parquet(...) or .load(...) whose argument names <fixture>.parquet
    val reads = raw"""\.read\b(?!Stream)[^;{}]*?\.(?:parquet|load)\(([^)]*)\)""".r
    val fixture = Tables.all.map(t => "/" + t + ".parquet\"")
    val offenders = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Tables.scala")
      .flatMap { p =>
        reads.findAllMatchIn(Files.readString(p)).map(_.group(1))
          .filter(arg => fixture.exists(arg.contains)).map(a => s"$p: $a")
      }.toSeq
    assert(offenders.isEmpty,
      s"fixture read outside Tables:\n${offenders.mkString("\n")}")
  }
}
