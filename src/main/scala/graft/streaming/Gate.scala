package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

/** One replay of a driver-gated streaming query: a fresh scratch dir the
  * stream reads (or checkpoints) under, and a sink name unique to this run.
  *
  * Rules for a gate's feeds (each one is a micro-batch):
  *  - Engine sessions disable no-data micro-batches, so every emission
  *    must happen on a DATA batch. Watermark-evicting gates append two
  *    far-future sentinel batches after the real data and filter the
  *    sentinels from the output; sentinel 1 ALONE must clear watermark
  *    delay + window reach (tumbling/sliding use +3h/+6h — at +1h/+2h
  *    with a 1h delay the last window's rows silently never emit).
  *  - A sentinel batch of several rows (a click+purchase pair) is
  *    `coalesce(1)`-written so it lands as ONE file: a two-file write
  *    races the stream's glob listing and costs an extra partial batch.
  *  - Gate constants (split point, sentinel anchor) come from one
  *    aggregation job, not one scan each.
  */
final class Gate private (val tmp: java.io.File, val sink: String) {

  /** Starts the query under [[StreamingOps.withStreamShuffle]], then runs
    * each feed followed by `processAllAvailable`, in order; the query is
    * always stopped and the shuffle width restored, also when a feed
    * throws. */
  def replay(s: SparkSession)(start: => StreamingQuery)(
      feeds: (() => Unit)*): Unit =
    StreamingOps.withStreamShuffle(s) {
      val q = start
      try feeds.foreach { feed => feed(); q.processAllAvailable() }
      finally q.stop()
    }
}

object Gate {

  /** A gate over the fresh scratch dir `<name>-<sf>-<format>`
    * ([[graft.queries.Scratch.fresh]]); its sink name is `<name>_<nanoTime>`
    * so repeated runs in one session never collide. */
  def apply(name: String, sfDir: String): Gate =
    new Gate(graft.queries.Scratch.fresh(name, sfDir),
      s"${name}_${System.nanoTime()}")

  /** The median and the max of `ev`'s `ts` — the split point between the
    * two data feeds and the sentinel anchor — from ONE aggregation job (two
    * separate `.head()` actions paid two full scans per gate). */
  def medianAndMax(ev: DataFrame): (Long, Long) = {
    val mm = ev.selectExpr(
      "CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY ts) AS BIGINT)",
      "max(ts)").head()
    (mm.getLong(0), mm.getLong(1))
  }

  /** One hour in `ts` units (nanoseconds), for sentinel offsets. */
  val hourNs: Long = 3600L * 1000 * 1000 * 1000

  /** One sentinel row in the events schema (`value` 0.0, `props` "{}"):
    * the far-future watermark feed the class doc describes. Gates filter
    * sentinels from their output by a negative `id`/`user` or by
    * `eventType`. */
  def sentinel(s: SparkSession, id: Long, ts: Long, user: Long,
      eventType: String): DataFrame =
    s.range(1).select(lit(id).as("event_id"), lit(ts).as("ts"),
      lit(user).as("user_id"), lit(eventType).as("event_type"),
      lit(0.0).as("value"), lit("{}").as("props"))
}
