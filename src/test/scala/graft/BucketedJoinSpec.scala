package graft


import org.apache.spark.sql.functions._

/** Bucketing: the 100 TB fact-fact join strategy (SURVEY §7.1 slice 4 /
  * charter "co-located joins via bucketing"). Both facts are written
  * bucketed by the join key; the join then needs NO exchange of either side
  * — the property this spec pins by inspecting the physical plan.
  */
class BucketedJoinSpec extends SparkTestBase {

  test("join of two tables bucketed on the key runs without a shuffle") {
    // managed tables land in the default spark-warehouse dir and are dropped
    // (files included) in the finally block
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    try {
      Tables(spark, sf, "orders")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b")
      Tables(spark, sf, "lineitem")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_b")
      GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.sources.v2.bucketing.enabled" -> "true") {
        val joined = spark.table("lineitem_b")
          .join(spark.table("orders_b"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
        val result = joined.collect()
        val p = joined.queryExecution.executedPlan.toString()
        // co-located: no Exchange below the join (the only exchange allowed is
        // the final single-aggregation shuffle on o_orderpriority)
        assert(p.contains("SortMergeJoin"), s"join strategy changed:\n$p")
        val joinPart = p.substring(p.indexOf("SortMergeJoin"))
        assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey")
          && !joinPart.contains("Exchange hashpartitioning(o_orderkey"),
          s"bucketed join still shuffles a side:\n$p")
        // cross-check the result against the plain parquet join
        val want = Tables(spark, sf, "lineitem")
          .join(Tables(spark, sf, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
          .collect().map(_.toString).sorted.toSeq
        assert(result.map(_.toString).sorted.toSeq == want)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("point lookup on the bucket key prunes to one bucket") {
    // the scan-time payoff of bucketing beyond shuffle-free joins: an
    // equality filter on the bucket column must read 1/N of the files —
    // at 100 TB this is the difference between a point query touching one
    // bucket's files and a full-table scan
    spark.sql("DROP TABLE IF EXISTS orders_bp")
    try {
      Tables(spark, sf, "orders")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_bp")
      val key = Tables(spark, sf, "orders")
        .select(col("o_orderkey")).head().getLong(0)
      // autoBucketedScan drops the bucketed layout (and with it pruning)
      // for scans with no join/agg to co-locate — the point-lookup case is
      // exactly where pruning pays, so pin it on
      GraftSession.withConf(spark,
          "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
        val q = spark.table("orders_bp").where(col("o_orderkey") === key)
        assert(q.count() >= 1)
        val p = q.queryExecution.executedPlan.toString()
        assert(p.contains("SelectedBucketsCount: 1 out of 8"),
          s"bucket pruning did not engage:\n$p")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_bp")
    }
  }

  test("re-registered external table over existing bucket files keeps bucketing") {
    // the cross-JVM scenario Sinks.ensureBucketedTable handles: bucket files
    // survive in the warehouse, the fresh in-memory catalog has no entry —
    // the helper must re-register WITHOUT rewriting and the re-registered
    // table must still join exchange-free against a co-bucketed side
    import org.apache.hadoop.fs.{FileUtil, Path}
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = Seq("orders_rb", "lineitem_rb", "orders_rb2", "lineitem_rb2")
    names.foreach { t => spark.sql(s"DROP TABLE IF EXISTS $t")
      fs.delete(new Path(wh, t), true) }
    try {
      graft.sources.Sinks.ensureBucketedTable(spark, "orders_rb",
        Tables(spark, sf, "orders"), "o_orderkey", 8)
      graft.sources.Sinks.ensureBucketedTable(spark, "lineitem_rb",
        Tables(spark, sf, "lineitem"), "l_orderkey", 8)
      // simulate the fresh JVM: same files at a location the catalog has
      // never seen (a literal catalog drop would delete managed-table files)
      FileUtil.copy(fs, new Path(wh, "orders_rb"), fs, new Path(wh, "orders_rb2"),
        false, spark.sparkContext.hadoopConfiguration)
      FileUtil.copy(fs, new Path(wh, "lineitem_rb"), fs, new Path(wh, "lineitem_rb2"),
        false, spark.sparkContext.hadoopConfiguration)
      graft.sources.Sinks.ensureBucketedTable(spark, "orders_rb2",
        Tables(spark, sf, "orders"), "o_orderkey", 8)
      graft.sources.Sinks.ensureBucketedTable(spark, "lineitem_rb2",
        Tables(spark, sf, "lineitem"), "l_orderkey", 8)
      GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = spark.table("lineitem_rb2")
          .join(spark.table("orders_rb2"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
        val got = joined.collect().map(_.toString).sorted.toSeq
        val p = joined.queryExecution.executedPlan.toString()
        assert(p.contains("SortMergeJoin"), s"join strategy changed:\n$p")
        val joinPart = p.substring(p.indexOf("SortMergeJoin"))
        assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey")
          && !joinPart.contains("Exchange hashpartitioning(o_orderkey"),
          s"re-registered bucketed join shuffles a side:\n$p")
        val want = spark.table("lineitem_rb")
          .join(spark.table("orders_rb"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
          .collect().map(_.toString).sorted.toSeq
        assert(got == want)
      }
    } finally {
      names.foreach { t => spark.sql(s"DROP TABLE IF EXISTS $t")
        fs.delete(new Path(wh, t), true) }
    }
  }
}
