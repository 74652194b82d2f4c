package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The custom connector's streaming face: exactly-once file claiming
  * across a kill/restart (offsets recovered through deserializeOffset —
  * a re-claimed file doubles counts, a skipped one loses them), and the
  * loud append-only-name contract violation.
  */
class KvStreamSpec extends SparkTestBase {

  private def kvLine(k: String, v: Long) = s"$k\t$v"

  private def writeFile(dir: String, name: String, lines: Seq[String]): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, name),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  test("restart from checkpoint resumes at the file frontier (exactly-once)") {
    val in = Files.createTempDirectory("graft-kvs-in").toString
    val out = Files.createTempDirectory("graft-kvs-out").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-kvs-ck").toString

    def start() =
      graft.streaming.StreamingOps.withStreamShuffle(spark) {
        spark.readStream
          .format(classOf[graft.sources.KvTextSource].getName)
          .load(in)
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .start()
      }

    writeFile(in, "b0001.txt", Seq(kvLine("a", 1), kvLine("b", 2)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // arrives while the query is DOWN; the restarted query must claim
    // exactly this file — not re-claim b0001
    writeFile(in, "b0002.txt", Seq(kvLine("a", 10), kvLine("c", 20)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out)
    assert(got.count() == 4L, "a file was re-claimed or skipped across restart")
    assert(got.agg(sum("value")).head().getLong(0) == 33L)
  }

  test("a query started on an empty dir records no batch until the first " +
      "file lands") {
    val in = Files.createTempDirectory("graft-kvs-empty").toString
    val ckpt = Files.createTempDirectory("graft-kvs-empty-ck").toString
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val q = graft.streaming.StreamingOps.withStreamShuffle(spark) {
      spark.readStream
        .format(classOf[graft.sources.KvTextSource].getName)
        .load(in)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          batches.add((id, b.count())); ()
        }
        .start()
    }
    def offsets = Option(new java.io.File(s"$ckpt/offsets").list())
      .getOrElse(Array.empty[String]).filterNot(_.startsWith(".")).sorted.toSeq
    try {
      q.processAllAvailable()
      assert(batches.isEmpty && offsets.isEmpty,
        s"an empty dir ran batches $batches, offset log $offsets")
      writeFile(in, "b0001.txt", Seq(kvLine("a", 1), kvLine("b", 2)))
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(batches.asScala.toSeq == Seq((0L, 2L)),
      s"the first file must land as batch 0: $batches")
    assert(offsets == Seq("0"), s"offset log: $offsets")
  }

  test("a file inserted below the claimed frontier fails loudly") {
    val in = Files.createTempDirectory("graft-kvs-bad").toString
    // claim b0002 first; then a late b0001 sorts BELOW the frontier
    writeFile(in, "b0002.txt", Seq(kvLine("x", 1)))
    val q = graft.streaming.StreamingOps.withStreamShuffle(spark) {
      spark.readStream
        .format(classOf[graft.sources.KvTextSource].getName)
        .load(in)
        .writeStream.format("noop").start()
    }
    try {
      q.processAllAvailable()
      writeFile(in, "b0001.txt", Seq(kvLine("y", 2)))
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(e.getMessage.contains("append-only contract violated") ||
        Option(e.getCause).exists(
          _.getMessage.contains("append-only contract violated")),
        s"expected the loud contract error, got: ${e.getMessage}")
    } finally q.stop()
  }

  test("maxFilesPerTrigger paces one dump into bounded micro-batches, " +
      "content exact") {
    val in = Files.createTempDirectory("graft-kvs-paced").toString
    // five files arrive at once; each trigger may admit at most two
    for (b <- 1 to 5)
      writeFile(in, f"b$b%04d.txt", Seq(kvLine(s"k$b", b.toLong)))
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StreamingOps.withStreamShuffle(spark) {
      spark.readStream
        .format(classOf[graft.sources.KvTextSource].getName)
        .option("maxFilesPerTrigger", "2")
        .load(in)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val r = b.agg(count(lit(1)), sum(col("value"))).head()
          batches += ((id, r.getLong(0)))
          ()
        }
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    val nonEmpty = batches.filter(_._2 > 0)
    assert(nonEmpty.size == 3,
      s"5 files at maxFilesPerTrigger=2 must drain in 3 batches: $batches")
    assert(nonEmpty.map(_._2).toSeq == Seq(2L, 2L, 1L),
      s"per-batch file admission wrong: $batches")
  }

  test("admission-control offset math: caps, composite limits, and the " +
      "shrunken-dir guard") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val in = Files.createTempDirectory("graft-kvs-adm").toString
    for (b <- 1 to 4)
      writeFile(in, f"b$b%04d.txt", Seq(kvLine("x", b.toLong)))
    val stream = new graft.sources.KvMicroBatchStream(
      in, Array.empty, null, Map.empty)
    def at(n: Int) = graft.sources.KvStreamOffset(n,
      if (n == 0) "" else f"b$n%04d.txt")
    // cap engages mid-stream and clamps at the end
    assert(stream.latestOffset(at(0), ReadLimit.maxFiles(3)) == at(3))
    assert(stream.latestOffset(at(3), ReadLimit.maxFiles(3)) == at(4))
    // allAvailable and unknown (row-based) limits admit everything
    assert(stream.latestOffset(at(1), ReadLimit.allAvailable()) == at(4))
    assert(stream.latestOffset(at(1), ReadLimit.maxRows(1L)) == at(4))
    // a composite takes the tightest file cap
    assert(stream.latestOffset(at(0), ReadLimit.compositeLimit(
      Array(ReadLimit.maxFiles(2), ReadLimit.maxRows(10L)))) == at(2))
    // a frontier beyond the listing fails loudly (append-only contract)
    val err = intercept[IllegalArgumentException] {
      stream.latestOffset(graft.sources.KvStreamOffset(9, "b0009.txt"),
        ReadLimit.allAvailable())
    }
    assert(err.getMessage.contains("shrank below the committed frontier"))
  }

  test("byte-capped admission: sizes come from the listing, oversized " +
      "single files still progress, and byte caps compose with file caps") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val in = Files.createTempDirectory("graft-kvs-bytes").toString
    // deterministic sizes: file bK holds K lines of exactly 4 bytes each
    for (b <- 1 to 4)
      writeFile(in, f"b$b%04d.txt", (1 to b).map(_ => kvLine("a", 1L)))
    val stream = new graft.sources.KvMicroBatchStream(
      in, Array.empty, null, Map.empty)
    def at(n: Int) = graft.sources.KvStreamOffset(n,
      if (n == 0) "" else f"b$n%04d.txt")
    // 12-byte budget from the start: 4 + 8 fit, the 12-byte third doesn't
    assert(stream.latestOffset(at(0), ReadLimit.maxBytes(12L)) == at(2))
    // an over-budget FIRST file is still admitted (progress guarantee)
    assert(stream.latestOffset(at(0), ReadLimit.maxBytes(3L)) == at(1))
    assert(stream.latestOffset(at(2), ReadLimit.maxBytes(11L)) == at(3))
    // big budget admits everything and clamps at the listing
    assert(stream.latestOffset(at(0), ReadLimit.maxBytes(1L << 30)) == at(4))
    // composite: the tighter of the file cap and the byte cap wins
    assert(stream.latestOffset(at(0), ReadLimit.compositeLimit(
      Array(ReadLimit.maxFiles(3), ReadLimit.maxBytes(5L)))) == at(1))
    assert(stream.latestOffset(at(0), ReadLimit.compositeLimit(
      Array(ReadLimit.maxFiles(1), ReadLimit.maxBytes(100L)))) == at(1))
    // default limits reflect the configured options
    val bytesOnly = new graft.sources.KvMicroBatchStream(
      in, Array.empty, null, Map.empty, None, Some(10L))
    assert(bytesOnly.getDefaultReadLimit == ReadLimit.maxBytes(10L))
    val both = new graft.sources.KvMicroBatchStream(
      in, Array.empty, null, Map.empty, Some(2), Some(10L))
    assert(both.getDefaultReadLimit.toString.contains("CompositeReadLimit"),
      s"expected a composite default, got ${both.getDefaultReadLimit}")
  }

  test("Trigger.AvailableNow drains the frozen backlog in paced batches " +
      "and self-terminates") {
    val in = Files.createTempDirectory("graft-kvs-avnow").toString
    for (b <- 1 to 5)
      writeFile(in, f"b$b%04d.txt", Seq(kvLine(s"k$b", b.toLong)))
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = graft.streaming.StreamingOps.withStreamShuffle(spark) {
      spark.readStream
        .format(classOf[graft.sources.KvTextSource].getName)
        .option("maxFilesPerTrigger", "2")
        .load(in)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count()
          if (n > 0) batches += n
          ()
        }
        .start()
    }
    // AvailableNow must terminate BY ITSELF once the frozen frontier is
    // drained — no processAllAvailable, no stop()
    assert(q.awaitTermination(120000),
      "AvailableNow query did not self-terminate")
    assert(batches.toSeq == Seq(2L, 2L, 1L),
      s"frozen backlog should drain as paced 2+2+1 rows, got $batches")
  }

  test("mode=dropmalformed flows through the streaming path: corrupt " +
      "lines skip instead of killing the stream") {
    val in = Files.createTempDirectory("graft-kvs-mode").toString
    val out = Files.createTempDirectory("graft-kvs-mode-out").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-kvs-mode-ck").toString
    writeFile(in, "b0001.txt",
      Seq(kvLine("a", 1), "corrupt-no-tab", kvLine("b", 2), "c\tnotanum"))
    val q = graft.streaming.StreamingOps.withStreamShuffle(spark) {
      spark.readStream
        .format(classOf[graft.sources.KvTextSource].getName)
        .option("mode", "dropmalformed")
        .load(in)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq(("a", 1L), ("b", 2L)), got.toString)
    // without the mode, the same dir kills the stream loudly
    val ckpt2 = Files.createTempDirectory("graft-kvs-mode-ck2").toString
    val q2 = graft.streaming.StreamingOps.withStreamShuffle(spark) {
      spark.readStream
        .format(classOf[graft.sources.KvTextSource].getName)
        .load(in)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt2)
        .start()
    }
    intercept[StreamingQueryException] {
      try q2.processAllAvailable()
      finally q2.stop()
      throw new IllegalStateException("stream survived a corrupt dir")
    }
  }

  test("offset JSON round-trips file names with quotes/backslashes/controls") {
    // the offset goes into the checkpoint verbatim: an unescaped quote in
    // a file name would corrupt the JSON and brick the restart path
    val stream = new graft.sources.KvMicroBatchStream(
      "/nonexistent", Array.empty, null, Map.empty)
    for (name <- Seq("plain.txt", "we\"ird.txt", "back\\slash.txt",
        "tab\there", "mix\"\\\n.txt", "")) {
      val off = graft.sources.KvStreamOffset(7, name)
      val back = stream.deserializeOffset(off.json())
        .asInstanceOf[graft.sources.KvStreamOffset]
      assert(back == off, s"name=$name json=${off.json()}")
      // and the serialized form is parseable as actual JSON
      assert(off.json().contains("\"n\":7"))
    }
  }
}
