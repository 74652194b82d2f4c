package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session policy: how a session is built, how a body runs
  * under temporary confs, and where the storage-partitioned-join confs live.
  *
  * Session rules (every entry point builds through [[apply]]):
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` loads the
  *    native kernels and the as-of planner strategy.
  *  - events.ts is parquet TIMESTAMP(NANOS), which vanilla Spark 4 rejects;
  *    `spark.sql.legacy.parquet.nanosAsLong` reads it as a raw nanos long.
  *    Queries normalize with `ts div 1000` (micros); the oracle uses
  *    `epoch_us(CAST(ts AS TIMESTAMP))`.
  *  - Engine sessions disable no-data micro-batches. The streaming gates
  *    advance watermarks with explicit far-future sentinel DATA batches (the
  *    recipe guarantees every emission happens on a data batch), so the
  *    extra no-data micro-batch Spark plans after every watermark advance is
  *    pure per-gate overhead: disabling it halved every measured gate in
  *    isolation (r21: tumbling 6.12->3.03 s, sessions 5.76->3.03, topk
  *    8.06->4.30) with bit-identical results (oracle 261/261 under this
  *    conf). Production latency trade-offs do not apply to bounded gated
  *    replays. The test session keeps Spark's default on purpose, so the
  *    suites prove the sentinel margins under both settings.
  *  - A query never calls `spark.conf.set`: a conf it needs for one job goes
  *    through [[withConf]], and the SPJ reads go through [[spj]], so no query
  *    plans under a conf an earlier query left behind.
  */
object GraftSession {

  /** Local cores (and default shuffle width): `SPARK_GRAFT_CPUS`, default 32. */
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The conf pairs every session is built with. */
  def confs(partitions: String,
      noDataMicroBatches: Boolean = false): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> partitions,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.noDataMicroBatches.enabled" ->
      noDataMicroBatches.toString,
    // stale localCheckpoint blocks from completed queries are only freed
    // when their RDD objects get GC'd (ContextCleaner is weak-ref driven);
    // with a 100+-query run in one large-heap JVM, full GCs are rare and
    // dead blocks otherwise squeeze execution memory for later queries.
    "spark.cleaner.periodicGC.interval" -> "2min",
    "spark.ui.enabled" -> "false")

  /** The configured session on `local[cores]`, logging at WARN. `extra`
    * pairs are applied after [[confs]]. */
  def apply(cores: String = cpus, partitions: String = cpus,
      noDataMicroBatches: Boolean = false,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
    (confs(partitions, noDataMicroBatches) ++ extra)
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with `kvs` set on `s`, then restores each key in a
    * `finally`: a key that had a value gets it back, a key that was not set
    * is unset again (never set to a guessed default). */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** The confs of a storage-partitioned join (SPJ): a DSv2 join or keyed
    * aggregate that plans with no shuffle exchange because the scan reports
    * its key-grouped partitioning. */
  val spjConfs: Seq[(String, String)] = Seq(
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    // the partition key (shard) is a strict SUBSET of the join keys
    // (shard, key): co-partitioning on a subset is always correct (it can
    // only co-locate MORE than needed), but the conservative default
    // demands full coverage, so the seam turns it off
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false")

  private val spjSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** The isolated session the SPJ queries read their scans from: a clone of
    * `s` (parent confs as of first use, plus [[spjConfs]]) made on first use
    * and reused after that (a fresh session per call was measured slower).
    * A DataFrame read from it plans and executes under the SPJ confs while
    * `s` stays unchanged; the clone keeps the parent's query-execution
    * listeners. */
  def spj(s: SparkSession): SparkSession = spjSessions.synchronized {
    Option(spjSessions.get(s)).getOrElse {
      val c = org.apache.spark.sql.graftbridge.SessionBridge.cloneSession(s)
      spjConfs.foreach { case (k, v) => c.conf.set(k, v) }
      spjSessions.put(s, c)
      c
    }
  }
}
