package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Storage-partitioned join through the KV connector: two dirs written
  * SHARDED with the same count must join on (shard, key) with NO shuffle
  * exchange — the scan reports KeyGroupedPartitioning and one partition
  * per shard, so both sides' distributions are satisfied from storage.
  * Losing a row, mis-routing a shard, or silently re-shuffling are the
  * failure modes pinned here, plus the refusal cases: unsharded dirs
  * expose no shard column, appends cannot change the count, and mixed
  * layouts fail loudly at planning.
  */
class KvSpjSpec extends SparkTestBase {

  private val fmt = classOf[graft.sources.KvTextSource].getName

  private def freshDir(): String =
    Files.createTempDirectory("graft-kvspj").toString + "/t"

  private def writeSharded(dir: String, n: Int, rows: Seq[(String, Long)],
      mode: String = "overwrite"): Unit = {
    import spark.implicits._
    rows.toDF("key", "value")
      .select(col("key"), col("value"),
        pmod(hash(col("key")), lit(n)).cast("int").as("shard"))
      .write.format(fmt).option("shards", n.toString).mode(mode).save(dir)
  }

  test("same-count sharded dirs join on (shard, key) with zero exchanges " +
      "and exact results") {
    GraftSession.withConf(spark, GraftSession.spjConfs: _*) {
      val (dirA, dirB) = (freshDir(), freshDir())
      val n = 4
      val rowsA = (0 until 300).map(i => (s"k$i", i.toLong))
      val rowsB = (100 until 400).map(i => (s"k$i", i * 10L))
      writeSharded(dirA, n, rowsA)
      writeSharded(dirB, n, rowsB)
      val a = spark.read.format(fmt).load(dirA)
      val b = spark.read.format(fmt).load(dirB)
        .select(col("key"), col("shard"), col("value").as("vb"))
      val j = a.join(b.hint("merge"), Seq("shard", "key"))
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange"),
        s"sharded KV join planned a shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      val got = j.select("key", "value", "vb").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = (100 until 300).map(i => (s"k$i", i.toLong, i * 10L)).sorted
      assert(got == want, "storage-partitioned join lost or invented rows")
    }
  }

  test("an EMPTY shard on one side still aligns (partition-per-shard-id " +
      "includes empty shards)") {
    GraftSession.withConf(spark, GraftSession.spjConfs: _*) {
      val (dirA, dirB) = (freshDir(), freshDir())
      val n = 8
      // few keys: some shards get no file on one or both sides
      writeSharded(dirA, n, Seq(("a", 1L), ("b", 2L)))
      writeSharded(dirB, n, Seq(("b", 20L), ("zzz", 30L)))
      val a = spark.read.format(fmt).load(dirA)
      val b = spark.read.format(fmt).load(dirB)
        .select(col("key"), col("shard"), col("value").as("vb"))
      val j = a.join(b.hint("merge"), Seq("shard", "key"))
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange"),
        s"empty-shard alignment forced a shuffle:\n$plan")
      assert(j.collect().map(r => r.getString(1)).toSeq == Seq("b"))
    }
  }

  test("sharded scan round-trips values, shard column is the stored " +
      "routing, and pruning shard out still reads") {
    GraftSession.withConf(spark, GraftSession.spjConfs: _*) {
      val dir = freshDir()
      val n = 4
      val rows = (0 until 100).map(i => (s"id$i", i.toLong))
      writeSharded(dir, n, rows)
      val back = spark.read.format(fmt).load(dir)
      // shard column equals the routing expression for every row
      val bad = back.where(
        col("shard") =!= pmod(hash(col("key")), lit(n)).cast("int")).count()
      assert(bad == 0L, "stored shard diverges from the routing hash")
      assert(back.count() == 100L)
      // projection without shard: the inner reader path, values exact
      val sum = back.select(sum_distinct(col("value"))).head().getLong(0)
      assert(sum == (0 until 100).map(_.toLong).sum)
      // pushed value filter still works through the shard reader
      assert(back.where(col("value") >= 90L).count() == 10L)
    }
  }

  test("append with a different shard count refuses; truncate re-shards") {
    val dir = freshDir()
    writeSharded(dir, 4, Seq(("a", 1L)))
    val e = intercept[Exception] {
      writeSharded(dir, 8, Seq(("b", 2L)), mode = "append")
    }
    assert(e.getMessage != null && e.getMessage.contains("re-shard"),
      s"unexpected append-mismatch error: ${e.getMessage}")
    writeSharded(dir, 8, Seq(("c", 3L)))
    assert(graft.sources.KvTextSource.shardCount(dir).contains(8))
    assert(spark.read.format(fmt).load(dir).count() == 1L)
  }

  test("an unsharded dir exposes no shard column and reports no " +
      "key-grouped partitioning") {
    import spark.implicits._
    val dir = freshDir()
    Seq(("a", 1L)).toDF("key", "value")
      .write.format(fmt).mode("overwrite").save(dir)
    val df = spark.read.format(fmt).load(dir)
    assert(df.columns.toSeq == Seq("key", "value"),
      "plain dirs must not grow a shard column")
    assert(graft.sources.KvTextSource.shardCount(dir).isEmpty)
  }

  test("a file without the shard suffix in a sharded dir fails planning " +
      "loudly (mixed layout)") {
    GraftSession.withConf(spark, GraftSession.spjConfs: _*) {
      val dir = freshDir()
      writeSharded(dir, 2, Seq(("a", 1L), ("b", 2L)))
      val stray = new java.io.File(dir, "stray.kv")
      val os = new java.io.FileOutputStream(stray)
      os.write("x\t9\n".getBytes("UTF-8")); os.close()
      val e = intercept[Exception] {
        // a row scan (not the pushed count(*), which folds per file without
        // the key-grouped contract) — the shard grouping must refuse
        spark.read.format(fmt).load(dir).select("key", "shard").collect()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(_.contains("shard suffix")),
        s"mixed sharded layout must fail loudly, got: ${chain(e)}")
    }
  }
}
