package graft

import graft.mr.MR
import org.apache.spark.sql.functions._

class MrSpec extends SparkTestBase {
  import SparkTestBase.spark.implicits._

  test("djb2 default partition matches the reference algorithm") {
    // reference mapreduce.c:88-94: hash=5381; hash=hash*33+c; hash % n
    assert(MR.defaultHashPartition("", 10) == (5381L % 10).toInt)
    assert(MR.defaultHashPartition("a", 10) == ((5381L * 33 + 'a') % 10).toInt)
    val two = ((5381L * 33 + 'a') * 33 + 'b') % 7
    assert(MR.defaultHashPartition("ab", 7) == two.toInt)
  }

  test("mr wordcount == relational wordcount (differential oracle, SURVEY §5)") {
    val relational = SparkEntry.queries("wordcount")(spark, sf)
      .as[(String, Long)].collect().toMap
    val lines = Tables(spark, sf, "documents").select(col("text")).as[String]
    val mr = MR.wordcount(spark, lines, numPartitions = 5).collect().toMap
    assert(mr == relational)
  }

  test("mr wordcount invariant across partition counts (hashmap_test.c sweep)") {
    val lines = Tables(spark, sf, "documents").select(col("text")).as[String]
    val one = MR.wordcount(spark, lines, 1).collect().toMap
    val many = MR.wordcount(spark, lines, 13).collect().toMap
    assert(one == many)
  }

  test("O1 source shape: text files as an argv-style path list (reference main.c:13-18)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-txt")
    val f1 = dir.resolve("basic.txt")
    val f2 = dir.resolve("extra.txt")
    java.nio.file.Files.writeString(f1,
      "one\ntwo two\nthree three three\nfour four four four\n")
    java.nio.file.Files.writeString(f2, "five five five five five\n")
    def wc(paths: String*): Map[String, Long] = {
      val lines = spark.read.textFile(paths: _*)
      MR.wordcount(spark, lines, numPartitions = 3).collect().toMap
    }
    val got = wc(f1.toString, f2.toString)
    assert(got == Map("one" -> 1L, "two" -> 2L, "three" -> 3L,
      "four" -> 4L, "five" -> 5L))
    // argv order must not matter (reference mapreduce.c:177 round-robin)
    assert(wc(f2.toString, f1.toString) == got)
  }

  test("MR.run visits keys in ascending order within each partition") {
    val lines = Seq("d a c b", "b d a a").toDS()
    val seen = MR.run[String, String, (Int, String)](
      lines,
      l => l.split(" ").iterator.map(w => (w, "1")),
      (k, vs) => { vs.size; Iterator((org.apache.spark.TaskContext.getPartitionId(), k)) },
      numPartitions = 2,
      (k, n) => MR.defaultHashPartition(k, n))
      .collect().toSeq
    seen.groupBy(_._1).values.foreach { perPart =>
      val keys = perPart.map(_._2)
      assert(keys == keys.sorted, s"keys not sorted within partition: $keys")
    }
  }

  test("reducer sees exactly one call per distinct key, even if it doesn't drain") {
    val lines = Seq("x x x y").toDS()
    val calls = MR.run[String, String, String](
      lines,
      l => l.split(" ").iterator.map(w => (w, "1")),
      (k, vs) => Iterator(k), // never touches vs — reference would livelock here
      numPartitions = 1,
      (k, n) => 0)
      .collect().toSeq
    assert(calls.sorted == Seq("x", "y"))
  }

  test("with a combiner, keys ascend within each partition and the reducer " +
      "gets one call per key over combined partials") {
    // four input partitions, so every key has partials from several maps
    val lines = spark.sparkContext.parallelize(
      Seq("d a c b", "b d a a", "c c a e", "e b d a"), 4).toDS()
    val seen = MR.run[String, Long, (Int, String, Long)](
      lines,
      l => l.split(" ").iterator.map(w => (w, 1L)),
      (k, vs) => Iterator((org.apache.spark.TaskContext.getPartitionId(), k,
        vs.sum)),
      numPartitions = 2,
      (k, n) => MR.defaultHashPartition(k, n),
      combiner = Some(_ + _))
      .collect().toSeq
    seen.groupBy(_._1).values.foreach { perPart =>
      val keys = perPart.map(_._2)
      assert(keys == keys.sorted, s"keys not sorted within partition: $keys")
    }
    assert(seen.map(_._2).sorted == Seq("a", "b", "c", "d", "e"),
      s"one reducer call per key expected: $seen")
    assert(seen.map(s => s._2 -> s._3).toMap ==
      Map("a" -> 5L, "b" -> 3L, "c" -> 3L, "d" -> 3L, "e" -> 2L))
  }

  test("every reducer call runs in the partition its key's partitioner picks") {
    // a non-hash partitioner: the reduce partition is the key length mod n
    val lines = Seq("a bb ccc dddd", "eeeee ffffff a bb", "ggggggg hh i").toDS()
    val seen = MR.run[String, String, (Int, String)](
      lines,
      l => l.split(" ").iterator.map(w => (w, "1")),
      (k, vs) => { vs.size; Iterator((org.apache.spark.TaskContext.getPartitionId(), k)) },
      numPartitions = 3,
      (k, n) => k.length % n)
      .collect().toSeq
    assert(seen.map(_._2).sorted ==
      Seq("a", "bb", "ccc", "dddd", "eeeee", "ffffff", "ggggggg", "hh", "i"))
    seen.foreach { case (pid, k) =>
      assert(pid == k.length % 3, s"key $k reduced in partition $pid")
    }
  }

  test("MR.wordcount ships at most one shuffle record per (map task, word)") {
    val lines = Tables(spark, sf, "documents").select(col("text")).as[String]
    val mapParts = lines.rdd.getNumPartitions
    val (words, _, stages) = jobsOf(MR.wordcount(spark, lines, 5).rdd.count())
    val written =
      stages.map(QBench.metric(_, "shuffle.write.recordsWritten")).sum
    assert(written > 0 && written <= words * mapParts,
      s"$written shuffle records for $words words over $mapParts maps")
  }
}
