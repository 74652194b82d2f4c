package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In}

import graft.sources.{KvScan, KvScanBuilder, KvShardInputPartition}

/** Shard-filter partition pruning on sharded KV dirs: a pushed
  * `shard = c` / `shard IN (…)` predicate plans the excluded shards as
  * EMPTY file lists — the point lookup `shard = pmod(hash(k), n) AND
  * key = k` reads 1/n of the corpus — while the partition COUNT stays n,
  * so the KeyGroupedPartitioning contract (and with it the
  * storage-partitioned join) survives a pruned side. Failure modes pinned
  * here: pruning must not drop matching rows, must not change the
  * partition count, must compose with a second shard predicate by
  * intersection, and must refuse the streaming path loudly (the
  * micro-batch readers cannot evaluate a shard predicate).
  */
class KvShardPruneSpec extends SparkTestBase {

  private val fmt = classOf[graft.sources.KvTextSource].getName

  private def freshDir(): String =
    Files.createTempDirectory("graft-kvprune").toString + "/t"

  private def writeSharded(dir: String, n: Int,
      rows: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("key", "value")
      .select(col("key"), col("value"),
        pmod(hash(col("key")), lit(n)).cast("int").as("shard"))
      .write.format(fmt).option("shards", n.toString)
      .mode("overwrite").save(dir)
  }

  private def partitions(dir: String,
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[KvShardInputPartition] = {
    val n = graft.sources.KvTextSource.shardCount(dir)
    assert(n.isDefined, s"$dir carries no _SHARDS marker")
    val b = new KvScanBuilder(dir, 128L * 1024 * 1024, shards = n)
    val residual = b.pushFilters(filters)
    assert(residual.isEmpty,
      s"shard/key filters must push, got residual ${residual.toSeq}")
    b.build().asInstanceOf[KvScan].planInputPartitions()
      .map(_.asInstanceOf[KvShardInputPartition])
  }

  test("a shard equality prunes every other shard's files but keeps the " +
      "partition count") {
    val dir = freshDir()
    val n = 4
    writeSharded(dir, n, (0 until 200).map(i => (s"k$i", i.toLong)))
    val parts = partitions(dir, Array(EqualTo("shard", 2)))
    assert(parts.length == n, "partition count must stay n for SPJ alignment")
    assert(parts.forall(p => p.files.isEmpty == (p.shard != 2)),
      "exactly the matching shard keeps its files")
  }

  test("shard IN intersects with a second equality; disjoint predicates " +
      "plan zero files") {
    val dir = freshDir()
    val n = 8
    writeSharded(dir, n, (0 until 200).map(i => (s"k$i", i.toLong)))
    val in = partitions(dir, Array(In("shard", Array[Any](1, 5, 99))))
    assert(in.count(_.files.nonEmpty) <= 2 &&
      in.filter(_.files.nonEmpty).forall(p => Set(1, 5)(p.shard)),
      "IN must keep only the listed in-range shards")
    val disjoint = partitions(dir,
      Array(EqualTo("shard", 1), EqualTo("shard", 2)))
    assert(disjoint.forall(_.files.isEmpty),
      "contradictory shard equalities admit no shard")
  }

  test("point lookup reads exact rows through the DataFrame API and the " +
      "plan advertises the pruning") {
    val dir = freshDir()
    val n = 8
    val rows = (0 until 500).map(i => (s"k$i", i.toLong))
    writeSharded(dir, n, rows)
    val kv = spark.read.format(fmt).load(dir)
    // the caller recomputes the writer's routing on a literal — foldable,
    // so it pushes as EqualTo("shard", c)
    val probe = kv.where(col("shard") === pmod(hash(lit("k137")), lit(n))
      .cast("int") && col("key") === "k137")
    assert(probe.queryExecution.executedPlan.toString
      .contains(s"PrunedShards: 1/$n"),
      "plan must advertise the pruned listing")
    val got = probe.select("key", "value").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("k137", 137L)), s"point lookup returned $got")
  }

  test("a bare shard predicate returns exactly the rows the writer routed " +
      "there") {
    val dir = freshDir()
    val n = 4
    val rows = (0 until 300).map(i => (s"k$i", i.toLong))
    writeSharded(dir, n, rows)
    val kv = spark.read.format(fmt).load(dir)
    val pruned = kv.where(col("shard") === 3).select("key", "value")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // oracle: recompute the routing with the engine's own hash on the
    // un-filtered scan (pruning must agree with the stored layout)
    val full = kv.select(col("key"), col("value"), col("shard"))
      .collect().filter(_.getInt(2) == 3)
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(pruned == full && full.nonEmpty,
      "pruned scan must equal the row-filtered full scan")
  }

  test("a pruned side still joins storage-partitioned with zero exchanges") {
    import spark.implicits._
    GraftSession.withConf(spark, GraftSession.spjConfs: _*) {
      val (dirA, dirB) = (freshDir(), freshDir())
      val n = 4
      val rowsA = (0 until 200).map(i => (s"k$i", i.toLong))
      writeSharded(dirA, n, rowsA)
      writeSharded(dirB, n, rowsA.map { case (k, v) => (k, v * 10) })
      val a = spark.read.format(fmt).load(dirA).where(col("shard") === 1)
      val b = spark.read.format(fmt).load(dirB)
        .select(col("key"), col("shard"), col("value").as("vb"))
      val j = a.join(b.hint("merge"), Seq("shard", "key"))
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange"),
        s"pruned sharded join planned a shuffle:\n$plan")
      val got = j.select("key", "value", "vb").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = rowsA.toDF("key", "value")
        .select(col("key"), pmod(hash(col("key")), lit(n)).as("s"),
          col("value"))
        .collect().filter(_.getInt(1) == 1)
        .map(r => (r.getString(0), r.getLong(2), r.getLong(2) * 10))
        .sorted.toSeq
      assert(got == want, "pruned SPJ lost or invented rows")
    }
  }

  test("the streaming path refuses a shard filter loudly") {
    val dir = freshDir()
    val n = 2
    writeSharded(dir, n, Seq(("a", 1L), ("b", 2L)))
    val b = new KvScanBuilder(dir, 128L * 1024 * 1024, shards = Some(n))
    assert(b.pushFilters(Array(EqualTo("shard", 1))).isEmpty)
    val e = intercept[IllegalArgumentException] {
      b.build().asInstanceOf[KvScan].toMicroBatchStream("/tmp/ckpt-unused")
    }
    assert(e.getMessage.contains("shard filters cannot push into the " +
      "streaming scan"), s"wrong message: ${e.getMessage}")
  }
}
