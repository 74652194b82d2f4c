package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The AQE rule [[graft.plans.SmallRangeSort]]: a final sort over small
  * materialized stages takes one range partition, so its input is not run
  * a second time for the range bounds sample; a query-requested range
  * repartition, a big input and a sort over a scan keep their width. */
class SmallRangeSortSpec extends SparkTestBase {

  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** The partition counts of every range exchange in the FINAL adaptive
    * plan (the `== Initial Plan ==` section repeats the tree). */
  private def finalRangeWidths(df: DataFrame): Seq[Int] = {
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    """rangepartitioning\([^()]*, (\d+)\)""".r
      .findAllMatchIn(fin).map(_.group(1).toInt).toSeq
  }

  private def perPriority: DataFrame =
    Tables(spark, sf, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("keys"))

  test("groupBy.agg.orderBy over a small input sorts in one range " +
      "partition and runs one job fewer") {
    val small = perPriority.orderBy("o_orderpriority")
    val (rows, jobs, _) = jobsOf(small.collect().toSeq)
    assert(finalRangeWidths(small) == Seq(1), small.queryExecution.executedPlan)
    // the same query with a one-byte partition budget keeps the width and
    // pays the range bounds sample job
    val wide = perPriority.orderBy("o_orderpriority")
    val (wideRows, wideJobs, _) =
      GraftSession.withConf(spark, advisory -> "1")(jobsOf(wide.collect().toSeq))
    assert(finalRangeWidths(wide).forall(_ > 1) &&
      finalRangeWidths(wide).nonEmpty, wide.queryExecution.executedPlan)
    assert(jobs == wideJobs - 1, s"jobs: $jobs with the rule, $wideJobs without")
    assert(rows == wideRows)
  }

  test("repartitionByRange keeps its width") {
    val df = perPriority.repartitionByRange(4, col("o_orderpriority"))
    val rows = df.collect().toSeq
    assert(finalRangeWidths(df) == Seq(4), df.queryExecution.executedPlan)
    assert(rows.sortBy(_.getString(0)) ==
      perPriority.collect().toSeq.sortBy(_.getString(0)))
  }

  test("a sort straight over a scan keeps its width") {
    val df = Tables(spark, sf, "orders").select(col("o_orderkey"))
      .orderBy("o_orderkey")
    val rows = df.collect().toSeq.map(_.getLong(0))
    assert(finalRangeWidths(df).forall(_ > 1) && finalRangeWidths(df).nonEmpty,
      df.queryExecution.executedPlan)
    assert(rows == Tables(spark, sf, "orders").select(col("o_orderkey"))
      .collect().toSeq.map(_.getLong(0)).sorted)
  }

  test("mr_wordcount plans one partition-id exchange of width 8 under a " +
      "one-partition final sort and runs its 8 reduce tasks once") {
    val df = SparkEntry.queries("mr_wordcount")(spark, sf)
    val (_, _, stages) = jobsOf(df.collect())
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val byId = """shufflepartitionidpassthrough\(.*, (\d+)\)""".r
      .findAllMatchIn(fin).map(_.group(1).toInt).toSeq
    assert(byId == Seq(8), fin)
    assert(finalRangeWidths(df) == Seq(1), fin)
    assert(stages.map(_.numTasks).count(_ == 8) == 1,
      s"stage task counts: ${stages.map(_.numTasks)}")
  }
}
