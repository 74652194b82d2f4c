package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Sorted-shards ordering through the KV connector (SupportsReportOrdering
  * — the other half of the sorted-bucketed-table shape KvSpjSpec pins):
  * a sharded dir whose commit kept the `_SORTED` marker declares each
  * partition ordered by (shard, key), so a merge join over two such dirs
  * plans with NO Sort on either side on top of the NO Exchange the
  * key-grouped partitioning gives. The marker is writer-verified: a
  * caller who skipped the sortWithinPartitions, or an append that lands a
  * second file in a shard, must lose the marker in the same commit — a
  * falsely-ordered table would silently mis-join, the worst failure mode
  * this seam can have.
  */
class KvSortedSpec extends SparkTestBase {

  private val fmt = classOf[graft.sources.KvTextSource].getName

  private def freshDir(): String =
    Files.createTempDirectory("graft-kvsorted").toString + "/t"

  /** One task per shard, rows sorted by (shard, key) within it — the
    * writer observes nondecreasing keys per shard file and the commit
    * keeps the marker. */
  private def writeSorted(dir: String, n: Int,
      rows: Seq[(String, Long)], mode: String = "overwrite"): Unit = {
    import spark.implicits._
    rows.toDF("key", "value")
      .select(col("key"), col("value"),
        pmod(hash(col("key")), lit(n)).cast("int").as("shard"))
      .repartition(n, col("shard"))
      .sortWithinPartitions("shard", "key")
      .write.format(fmt).option("shards", n.toString).mode(mode).save(dir)
  }

  /** Trust-the-caller mode (distributionMode=none): the planner adds no
    * layout, so arrival order is whatever the upstream plan produced —
    * the writer-verified marker protocol decides sortedness honestly. */
  private def writeUnsorted(dir: String, n: Int,
      rows: Seq[(String, Long)], mode: String = "overwrite"): Unit = {
    import spark.implicits._
    rows.toDF("key", "value")
      .select(col("key"), col("value"),
        pmod(hash(col("key")), lit(n)).cast("int").as("shard"))
      .write.format(fmt).option("shards", n.toString)
      .option("distributionMode", "none").mode(mode).save(dir)
  }

  test("a PLAIN sharded write (no caller layout) lands sorted by the " +
      "write-requested distribution+ordering and merge-joins sort-free") {
    GraftSession.withConf(spark, GraftSession.spjConfs: _*) {
      val (dirA, dirB) = (freshDir(), freshDir())
      val n = 4
      import spark.implicits._
      def plain(dir: String, rows: Seq[(String, Long)]): Unit =
        rows.toDF("key", "value")
          .select(col("key"), col("value"),
            pmod(hash(col("key")), lit(n)).cast("int").as("shard"))
          .write.format(fmt).option("shards", n.toString)
          .mode("overwrite").save(dir)
      // REVERSED input, no repartition/sortWithinPartitions: the layout
      // comes from RequiresDistributionAndOrdering, not the caller
      plain(dirA, (0 until 300).reverse.map(i => (s"k$i", i.toLong)))
      plain(dirB, (100 until 400).reverse.map(i => (s"k$i", i * 10L)))
      assert(hasMarker(dirA) && hasMarker(dirB),
        "the write-requested layout must yield the _SORTED marker " +
          "without any caller discipline")
      val a = spark.read.format(fmt).load(dirA)
      val b = spark.read.format(fmt).load(dirB)
        .select(col("key"), col("shard"), col("value").as("vb"))
      val plan = finalPlan(a.join(b.hint("merge"), Seq("shard", "key")))
      assert(!plan.contains("Exchange") && !plan.contains("Sort ["),
        s"plain-write layout did not carry to the read plans:\n$plan")
    }
  }

  private def hasMarker(dir: String): Boolean =
    new java.io.File(dir, "_SORTED").exists()

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  test("a sorted sharded write keeps the marker and merge-joins with " +
      "zero exchanges AND zero sorts; results exact") {
    GraftSession.withConf(spark, GraftSession.spjConfs: _*) {
      val (dirA, dirB) = (freshDir(), freshDir())
      val n = 4
      val rowsA = (0 until 300).map(i => (s"k$i", i.toLong))
      val rowsB = (100 until 400).map(i => (s"k$i", i * 10L))
      writeSorted(dirA, n, rowsA)
      writeSorted(dirB, n, rowsB)
      assert(hasMarker(dirA) && hasMarker(dirB),
        "sorted single-file-per-shard commits must keep the _SORTED marker")
      val a = spark.read.format(fmt).load(dirA)
      val b = spark.read.format(fmt).load(dirB)
        .select(col("key"), col("shard"), col("value").as("vb"))
      val j = a.join(b.hint("merge"), Seq("shard", "key"))
      val plan = finalPlan(j)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"planned a shuffle:\n$plan")
      assert(!plan.contains("Sort ["),
        s"scan-reported ordering did not eliminate the join sorts:\n$plan")
      assert(plan.contains("SortedShards: true"),
        s"scan description must surface the ordering:\n$plan")
      val got = j.select("key", "value", "vb").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = (100 until 300).map(i => (s"k$i", i.toLong, i * 10L)).sorted
      assert(got == want, "sorted storage join lost or invented rows")
    }
  }

  test("an UNSORTED sharded write gets no marker and the merge join " +
      "plans its own sorts (exchange-free either way)") {
    GraftSession.withConf(spark, GraftSession.spjConfs: _*) {
      val (dirA, dirB) = (freshDir(), freshDir())
      val n = 4
      // enough rows across >1 input partition that arrival order is not
      // key order inside at least one shard file
      val rows = (0 until 300).map(i => (s"k$i", i.toLong))
      writeUnsorted(dirA, n, rows.reverse)
      writeUnsorted(dirB, n, rows.reverse)
      assert(!hasMarker(dirA),
        "a write with out-of-order keys must not claim _SORTED")
      val a = spark.read.format(fmt).load(dirA)
      val b = spark.read.format(fmt).load(dirB)
        .select(col("key"), col("shard"), col("value").as("vb"))
      val plan = finalPlan(a.join(b.hint("merge"), Seq("shard", "key")))
      assert(!plan.contains("Exchange"), s"planned a shuffle:\n$plan")
      assert(plan.contains("Sort ["),
        s"unsorted shards must keep the planner's own sorts:\n$plan")
    }
  }

  test("an append that lands a second file in a shard REMOVES the " +
      "marker in the same commit") {
    GraftSession.withConf(spark, GraftSession.spjConfs: _*) {
      val dir = freshDir()
      val n = 2
      writeSorted(dir, n, (0 until 100).map(i => (s"k$i", i.toLong)))
      assert(hasMarker(dir))
      // sorted rows, but appended files double up the shards
      writeSorted(dir, n, (100 until 200).map(i => (s"k$i", i.toLong)),
        mode = "append")
      assert(!hasMarker(dir),
        "two files per shard cannot serve an ordered read — marker must go")
      // and it STAYS gone on a further sorted append (base is unsorted now)
      val counts = spark.read.format(fmt).load(dir).count()
      assert(counts == 200, s"append lost rows: $counts")
    }
  }

  test("a per-key aggregate over key-grouped shards plans WITHOUT a " +
      "keyed exchange (the group-by twin of the SPJ)") {
    GraftSession.withConf(spark, GraftSession.spjConfs: _*) {
      val dir = freshDir()
      val n = 4
      writeSorted(dir, n, (0 until 300).map(i => (s"k${i % 50}", i.toLong)))
      val a = spark.read.format(fmt).load(dir)
      val agg = a.groupBy("shard", "key")
        .agg(sum(col("value")).as("s"))
      val plan = finalPlan(agg)
      assert(!plan.contains("Exchange"),
        s"keyed aggregate over key-grouped storage re-shuffled:\n$plan")
      val got = agg.collect().map(r => (r.getString(1), r.getLong(2))).sorted
      val want = (0 until 300).groupBy(i => s"k${i % 50}")
        .map { case (k, is) => (k, is.map(_.toLong).sum) }.toSeq.sorted
      assert(got.toSeq == want, "exchange-free aggregate lost rows")
    }
  }

  test("a truncating sorted rewrite RESTORES the marker over a " +
      "previously unsorted table") {
    GraftSession.withConf(spark, GraftSession.spjConfs: _*) {
      val dir = freshDir()
      val n = 2
      writeUnsorted(dir, n, (0 until 100).reverse.map(i => (s"k$i", i.toLong)))
      assert(!hasMarker(dir))
      writeSorted(dir, n, (0 until 100).map(i => (s"k$i", i.toLong)))
      assert(hasMarker(dir),
        "truncate replaces the table — prior unsortedness must not stick")
    }
  }
}
