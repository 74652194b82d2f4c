package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Locks in the schema-adaptive events.ts ingestion (Tables.canonEvents /
  * Tables.tsUs) against driver fixture regenerations.
  *
  * Round 8 post-mortem: the driver regenerated events.parquet with `ts` as
  * parquet TIMESTAMP(MICROS) (previously TIMESTAMP(NANOS), which
  * `nanosAsLong=true` surfaces as a raw BIGINT), and every `ts div 1000`
  * normalizer failed analysis — 33 queries red. This spec writes the SAME
  * rows under both Spark-visible encodings (nanos BIGINT and
  * TIMESTAMP_NTZ micros) and asserts every event-family entry point yields
  * identical results, so the next regeneration — in either direction — is
  * caught at `sbt test` time, not by the driver's correctness gate.
  */
class EventsEncodingSpec extends SparkTestBase {
  import graft.functions.Portable._

  private lazy val root: String = {
    val dir = new java.io.File(s"${graft.queries.Scratch.root}enc-spec")
    if (dir.exists) graft.queries.Scratch.rm(dir)
    dir.mkdirs()
    // Representative sample of the real fixture (already canonical nanos
    // long after Tables.apply), small enough to keep the spec fast.
    val ev = Tables(spark, sf, "events").limit(2000).cache()
    // (a) the legacy shape: parquet BIGINT nanos (what TIMESTAMP(NANOS)
    //     looks like under spark.sql.legacy.parquet.nanosAsLong=true)
    ev.write.mode("overwrite").parquet(s"$dir/nanos/events.parquet")
    // (b) the round-8 shape: TIMESTAMP_NTZ at micros precision
    ev.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$dir/micros/events.parquet")
    dir.getAbsolutePath
  }

  private def nanosDir = s"$root/nanos"
  private def microsDir = s"$root/micros"

  private def normalized(dir: String): DataFrame =
    Tables(spark, dir, "events")
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("val_cents", cents(col("value")))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq

  test("canonEvents yields identical nanos longs for both encodings") {
    val a = Tables(spark, nanosDir, "events")
    val b = Tables(spark, microsDir, "events")
    assert(a.schema("ts").dataType === b.schema("ts").dataType)
    val ka = rows(a.orderBy("event_id").select(col("event_id"), col("ts")))
    val kb = rows(b.orderBy("event_id").select(col("event_id"), col("ts")))
    assert(ka === kb)
  }

  test("tsUs agrees across encodings without canonicalization") {
    def raw(dir: String) = spark.read.parquet(s"$dir/events.parquet")
    val a = raw(nanosDir)
    val b = raw(microsDir)
    val ka = rows(a.withColumn("ts_us", Tables.tsUs(a))
      .orderBy("event_id").select(col("event_id"), col("ts_us")))
    val kb = rows(b.withColumn("ts_us", Tables.tsUs(b))
      .orderBy("event_id").select(col("event_id"), col("ts_us")))
    assert(ka === kb)
  }

  test("EventOps.windowed identical across encodings") {
    val a = graft.operators.EventOps
      .windowed(normalized(nanosDir), "1 hour").orderBy("ws_us", "event_type")
    val b = graft.operators.EventOps
      .windowed(normalized(microsDir), "1 hour").orderBy("ws_us", "event_type")
    assert(rows(a).nonEmpty)
    assert(rows(a) === rows(b))
  }

  test("EventOps.sessionize identical across encodings") {
    def sess(dir: String) = graft.operators.EventOps
      .sessionize(normalized(dir), gapUs = 1800000000L)
      .orderBy("user_id", "sess_start_us")
    assert(rows(sess(nanosDir)).nonEmpty)
    assert(rows(sess(nanosDir)) === rows(sess(microsDir)))
  }

  test("StreamingOps.eventStream normalizes both encodings") {
    // eventStream reads the fixture file directly (no canonEvents pass), so
    // its ts_us must be schema-adaptive too. Compare one tumbling count
    // per encoding via a single-batch memory-sink execution.
    def run(dir: String): Seq[String] = {
      val qn = s"enc_stream_${System.nanoTime()}"
      val out = graft.streaming.StreamingOps
        .eventStream(spark, dir)
        .groupBy(expr("ts_us div 3600000000").as("hour_id"))
        .agg(count(lit(1)).as("n"), sum(col("val_cents")).as("c"))
      graft.streaming.StreamingOps.withStreamShuffle(spark) {
        val q = out.writeStream.outputMode("complete")
          .format("memory").queryName(qn).start()
        try q.processAllAvailable() finally q.stop()
      }
      rows(spark.table(qn).orderBy("hour_id"))
    }
    val a = run(nanosDir)
    assert(a.nonEmpty)
    assert(a === run(microsDir))
  }
}
