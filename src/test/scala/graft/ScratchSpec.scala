package graft

import java.util.concurrent.CountDownLatch

import graft.queries.{Scratch, SqlChain}
import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.Snapshot
import graft.streaming.Gate
import org.apache.spark.sql.functions._

/** The shared query scaffolding: scratch dirs ([[Scratch]]), streaming-gate
  * replays ([[Gate]]) and write-once snapshot chains ([[SqlChain]]). */
class ScratchSpec extends SparkTestBase {

  test("fresh scratch dir empties nested prior contents") {
    val d = Scratch.fresh("scratch_spec_fresh", sf)
    assert(d.getPath == Scratch.dir("scratch_spec_fresh", sf))
    val nested = new java.io.File(d, "a/b/c")
    assert(nested.mkdirs())
    java.nio.file.Files.write(new java.io.File(nested, "f.txt").toPath,
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(new java.io.File(d, "top.txt").toPath,
      Array[Byte](4))
    val again = Scratch.fresh("scratch_spec_fresh", sf)
    assert(again.isDirectory)
    assert(again.listFiles.isEmpty, again.listFiles.toSeq)
  }

  test("replay stops the query and restores the shuffle width when a feed throws") {
    withShufflePartitions("3") {
      val g = Gate("scratch_spec_gate", sf)
      val schema = spark.range(1).schema
      var started: org.apache.spark.sql.streaming.StreamingQuery = null
      val e = intercept[IllegalStateException] {
        g.replay(spark) {
          started = spark.readStream.schema(schema)
            .parquet(s"${g.tmp}/*.parquet")
            .writeStream.format("memory").queryName(g.sink).start()
          started
        }(
          () => spark.range(5).write.parquet(s"${g.tmp}/b1.parquet"),
          () => throw new IllegalStateException("feed failed"))
      }
      assert(e.getMessage == "feed failed")
      assert(started != null && !started.isActive)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(spark.table(g.sink).count() == 5)
    }
  }

  test("two racing step callers on one chain end at the same head") {
    val base = Scratch.fresh("scratch_spec_chain", sf).getPath
    spark.range(200).toDF("k").write.parquet(s"$base/d0")
    val ready = new CountDownLatch(2)
    val go = new CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def runner() = new Thread(() => {
      try {
        val chain = new SqlChain(spark, base)
        ready.countDown(); go.await()
        chain.step(0) {
          SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d0"), Nil))
        }
        chain.step(1) {
          SnapshotTable.deleteWhere(spark, base, "k", col("k") % 7 === 0): Unit
        }
        chain.step(2) {
          SnapshotTable.deleteWhere(spark, base, "k", col("k") % 5 === 0): Unit
        }
      } catch { case t: Throwable => errors.add(t) }
    })
    val (a, b) = (runner(), runner())
    a.start(); b.start()
    ready.await(); go.countDown()
    a.join(); b.join()
    assert(errors.isEmpty, errors)
    val chain = new SqlChain(spark, base)
    assert(chain.head == 3)
    assert(SnapshotTable.readVersion(spark, base, 3, "k").count() ==
      (0 until 200).count(k => k % 7 != 0 && k % 5 != 0))
  }

  for (q <- Seq("q_stream_sessions", "q_stream_upsert", "q_stream_kv_sink")) {
    test(s"$q: two replays in one session return identical rows") {
      def run() = SparkEntry.queries(q)(spark, sf).collect().toSeq
        .map(_.toString)
      val first = run()
      assert(first.nonEmpty)
      assert(run() == first)
    }
  }

  test("query sources carry no copied scratch scaffolding") {
    import scala.jdk.CollectionConverters._
    val checkout = Scratch.checkout
    val resolver = java.nio.file.Paths.get(
      "src/main/scala/graft/queries/Scratch.scala")
    val all = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(all.nonEmpty, "run from the checkout root")
    def text(p: java.nio.file.Path) =
      new String(java.nio.file.Files.readAllBytes(p), "ISO-8859-1")
    val literal = all.filter(p => p != resolver && text(p).contains(checkout))
    assert(literal.isEmpty, s"checkout path literal outside Scratch: $literal")
    val queries = all.filter(_.startsWith("src/main/scala/graft/queries"))
      .filter(_ != resolver)
    val rm = queries.filter(p => text(p).contains("def rm("))
    assert(rm.isEmpty, s"local recursive delete: $rm")
    val tag = """MessageDigest[\s\S]{0,200}?fingerprint""".r
    val tags = queries.filter(p => tag.findFirstIn(text(p)).isDefined)
    assert(tags.isEmpty, s"hand-written md5 input tag: $tags")
  }
}
