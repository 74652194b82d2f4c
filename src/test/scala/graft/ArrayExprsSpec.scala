package graft

import graft.functions.ArrayExprs
import org.apache.spark.sql.functions._

/** Native Catalyst expression kernels: value parity between the codegen'd
  * path, the interpreted eval path, and reference Scala; SQL-surface
  * registration via GraftExtensions; null behavior. */
class ArrayExprsSpec extends SparkTestBase {
  import SparkTestBase.spark.implicits._

  private lazy val df = Seq(
    (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
    (Array(-7L, 0L, 2L), Array(3L, 9L, -1L)),
    (Array.empty[Long], Array.empty[Long]))
    .toDF("a", "b")

  test("graft_dot and graft_l2sq match reference arithmetic") {
    val got = df.select(ArrayExprs.dot($"a", $"b").as("d"),
      ArrayExprs.l2sq($"a", $"b").as("l")).as[(Long, Long)].collect().toSeq
    assert(got == Seq((32L, 27L), (-23L, 190L), (0L, 0L)))
  }

  test("codegen path equals interpreted eval path") {
    // force the interpreted path by disabling whole-stage codegen
    val interp = GraftSession.withConf(spark,
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      df.select(ArrayExprs.dot($"a", $"b")).as[Long].collect().toSeq
    }
    val gen = GraftSession.withConf(spark,
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "FALLBACK") {
      df.select(ArrayExprs.dot($"a", $"b")).as[Long].collect().toSeq
    }
    assert(interp == gen)
  }

  test("sorted int intersect size: merge walk on int arrays") {
    val d = Seq(
      (Array(1, 3, 5, 7), Array(3, 4, 5, 9)),
      (Array(1, 2), Array(3, 4)),
      (Array.empty[Int], Array(1))).toDF("a", "b")
    val got = d.select(ArrayExprs.intersectSize($"a", $"b")).as[Long].collect().toSeq
    assert(got == Seq(2L, 0L, 0L))
  }

  test("SQL surface: functions registered via SparkSessionExtensions") {
    df.createOrReplaceTempView("arr_t")
    val got = spark.sql(
      "SELECT graft_dot(a, b), graft_l2sq(a, b) FROM arr_t ORDER BY 1")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((-23L, 190L), (0L, 0L), (32L, 27L)))
    val inter = spark.sql(
      "SELECT graft_intersect_size(array(1,2,3), array(2,3,9))").as[Long].head()
    assert(inter == 2L)
  }

  test("null inputs propagate null") {
    val got = spark.sql(
      "SELECT graft_dot(CAST(NULL AS ARRAY<BIGINT>), array(1L))").collect().head
    assert(got.isNullAt(0))
  }

  test("graft_changes TVF: composes as a relation (CTE + join) and " +
      "refuses non-literal or mis-counted arguments by name") {
    import spark.implicits._
    import graft.sources.{SnapshotTable => ST}
    val base = java.nio.file.Files.createTempDirectory("tvf").toString
    (0L until 10L).toDF("k").write.parquet(s"$base/d1")
    ST.commit(spark, base, 1, ST.Snapshot(Seq(s"$base/d1"), Nil))
    (10L until 15L).toDF("k").write.parquet(s"$base/d2")
    ST.commit(spark, base, 2,
      ST.Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    // the TVF result is an ordinary relation: CTE it, join it, filter it
    val n = spark.sql(
      s"""WITH w AS (SELECT * FROM graft_changes('$base', 1, 2, 'k'))
         |SELECT COUNT(*) FROM w
         |JOIN (SELECT 'insert' AS change) kinds USING (change)
         |WHERE k >= 12""".stripMargin).head.getLong(0)
    assert(n == 3, s"expected the 3 appended rows >= 12, got $n")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_changes('$base', 1)").collect()
    }
    assert(e.getMessage.contains("graft_changes"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_changes('$base', CAST(rand() AS INT), 2, 'k')")
        .collect()
    }
    assert(e2.getMessage.contains("graft_changes") ||
      e2.getMessage.toLowerCase.contains("literal"), e2.getMessage)
  }
}
