package graft

import graft.sources.Compaction
import org.apache.spark.sql.functions._

/** Compaction rewrites must preserve content exactly and actually deliver
  * the file-count contract (ceil(bytes/target) data files out). */
class CompactionSpec extends SparkTestBase {

  private def freshDirs(tag: String): (String, String) = {
    val base = s"${graft.queries.Scratch.root}compaction_spec-$tag"
    val b = new java.io.File(base)
    if (b.exists) graft.queries.Scratch.rm(b)
    (s"$base/in", s"$base/out")
  }

  test("compact preserves rows and hits the computed file count") {
    val (in, out) = freshDirs("basic")
    val df = spark.range(0, 10000).select(
      col("id"), (col("id") % 7).as("k"), md5(col("id").cast("string")).as("payload"))
    df.repartition(32).write.parquet(in)
    val rep = Compaction.compact(spark, in, out, targetBytes = 1L << 30)
    assert(rep.filesBefore == 32)
    assert(rep.filesTarget == 1, "10k rows fit one 1 GiB target file")
    assert(rep.filesAfter == 1)
    val back = spark.read.parquet(out)
    assert(back.count() == 10000)
    // exact content equality, both directions
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("target bytes bounds the output file count from below too") {
    val (in, out) = freshDirs("split")
    spark.range(0, 20000).select(col("id"), md5(col("id").cast("string")).as("p"))
      .repartition(16).write.parquet(in)
    val bytes = Compaction.partFiles(spark, in).map(_.getLen).sum
    // pick a target that forces >= 3 output files
    val rep = Compaction.compact(spark, in, out, targetBytes = bytes / 3)
    assert(rep.filesTarget >= 3 && rep.filesTarget <= 4)
    assert(rep.filesAfter == rep.filesTarget,
      "round-robin repartition leaves no empty output partitions at this size")
    assert(spark.read.parquet(out).count() == 20000)
  }

  test("partFiles ignores committer markers and sidecars") {
    val (in, _) = freshDirs("markers")
    spark.range(0, 10).write.parquet(in)
    val names = Compaction.partFiles(spark, in).map(_.getPath.getName)
    assert(names.nonEmpty && names.forall(_.startsWith("part-")))
  }
}
