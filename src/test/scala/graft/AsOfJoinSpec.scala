package graft

import org.apache.spark.sql.functions._

/** The native as-of operator: equality with the union+window composition,
  * plan shape (AsOfJoinExec with one exchange+sort per side), and edge
  * semantics (left rows with no eligible right row keep nulls). */
class AsOfJoinSpec extends SparkTestBase {

  test("native as-of equals the union+window composition row-for-row") {
    val native = SparkEntry.queries("q_asof_native")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val composed = SparkEntry.queries("q_asof_join")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(native == composed)
    assert(native.nonEmpty)
  }

  test("plans as AsOfJoinExec with sorted, clustered children") {
    val df = SparkEntry.queries("q_asof_native")(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString()
    // AQE's toString appends the pre-adaptive plan; assert on the final one
    val p = full.split("== Initial Plan ==").head
    assert(p.contains("AsOfJoin "), s"strategy did not plan the operator:\n$p")
    // EnsureRequirements satisfied the declared requirements: a hash exchange
    // and sort on each side, nothing else
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"expected exactly one shuffle per side:\n$p")
    assert("Sort \\[(user_id|c_user)".r.findAllIn(p).size == 2,
      s"expected one sort per side:\n$p")
  }

  test("downstream per-key aggregate reuses the as-of output partitioning") {
    // AsOfJoinExec emits one row per left row in place, so the left child's
    // hash partitioning on the join key survives — a groupBy on that key
    // must NOT plan a third exchange (only the two child exchanges exist).
    val df = SparkEntry.queries("q_asof_native")(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"per-key aggregate above the as-of join added an exchange:\n$p")
  }

  test("optimizer rule pushes left-side filters below the as-of node") {
    val df = SparkEntry.queries("q_asof_native")(spark, sf)
      .where(col("user_id") < 10 && col("click_id").isNotNull)
    val opt = df.queryExecution.optimizedPlan.toString()
    // user_id < 10 references only left output → must sit BELOW AsOfJoinPlan;
    // click_id is right-side output → must stay above.
    val asofIdx = opt.indexOf("AsOfJoinPlan")
    assert(asofIdx >= 0, opt)
    val below = opt.substring(asofIdx)
    assert(below.contains("user_id") && "(?s)< 10".r.findFirstIn(below).isDefined,
      s"left filter not pushed below the join:\n$opt")
    assert(!opt.substring(asofIdx).contains("isnotnull(click_id"),
      s"right-side filter wrongly pushed:\n$opt")
    // and pushed filters survive to the scan
    val phys = GraftSession.withConf(spark,
        "spark.sql.maxMetadataStringLength" -> "2000") {
      df.collect()
      df.queryExecution.executedPlan.toString()
    }
    assert(phys.contains("LessThan(user_id,10)"),
      s"filter did not reach the parquet scan:\n$phys")
  }

  test("unmatched left rows carry nulls (left-outer as-of)") {
    val df = SparkEntry.queries("q_asof_native")(spark, sf)
    // purchases before any click of that user exist in the fixture
    assert(df.where(col("click_id").isNull).count() > 0)
    assert(df.where(col("gap_us") < 0).isEmpty)
  }

  test("null timestamps never match and never NPE; nested keys are rejected") {
    import spark.implicits._
    val l = Seq((1L, Some(10L), 100L), (1L, None, 101L), (2L, Some(5L), 102L))
      .toDF("k", "ts", "lid")
    val r = Seq((1L, Some(8L), 201L), (1L, None, 202L), (2L, Some(9L), 203L))
      .toDF("k", "rts", "rid")
    val out = graft.plans.AsOfJoin(l, r, l("k"), r("k"), l("ts"), r("rts"), r("rid"))
      .select(col("lid"), col("rid"))
      .collect().map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
      .toMap
    // lid 100 (ts 10) matches rid 201 (ts 8); the null-ts left row and the
    // ts-5 left row (only right ts is 9 > 5) match nothing; null-ts right
    // rows are skipped, not compared
    assert(out == Map(100L -> 201L, 101L -> -1L, 102L -> -1L))
    val nested = intercept[Exception] {
      val la = l.withColumn("ak", array(col("k")))
      val ra = r.withColumn("ak", array(col("k")))
      graft.plans.AsOfJoin(la, ra, la("ak"), ra("ak"), la("ts"), ra("rts"), ra("rid"))
        .collect()
    }
    assert(nested.getMessage.contains("atomic"), nested.getMessage)
  }
}
