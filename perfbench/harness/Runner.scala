package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark JVM: builds the session, runs the workload's set-up, runs
  * the member queries as a closed loop with one client, and writes every
  * record to `<out>/records.jsonl`. `run.py` starts it and turns the
  * records into metrics.
  *
  * Arguments (all `--key value`):
  *  - `mode`: `run` (set-up, then the timed loop) or `oracle` (write
  *    `SparkEntry.oracleSql` to `<out>/oracle_sql.json`)
  *  - `sf`: fixture directory; `out`: record directory
  *  - `order`: comma-separated member queries in timed order
  *  - `passes`: how many timed passes walk `order` after the warm-up pass
  *  - `trace`: `1` registers the listeners and hooks
  */
object Runner {
  val SpanProp = "perfbench.span"
  val GraftRules = Seq("MvRewriteRule", "SnapshotDmlRule", "PushFilterThroughAsOf")

  /** Set-up steps, in the order `graft.Bench` runs them. */
  val steps: Seq[(String, (SparkSession, String, Seq[String], Recorder, Long) => Unit)] = Seq(
    "tables_warm" -> ((s, sf, _, _, _) => graft.Tables(s, sf, "region").count(): Unit),
    // construction without an action runs the ensure* layer builds of the
    // members in Bench.layerBacked
    "layer_backed" -> ((s, sf, members, rec, parent) =>
      for (q <- graft.Bench.layerBacked if members.contains(q)) {
        val id = rec.newId()
        s.sparkContext.setLocalProperty(SpanProp, id.toString)
        val before = s.conf.getAll
        rec.span(id, q, "layer", parent, "q" -> q) {
          graft.SparkEntry.queries(q)(s, sf): Unit
        }
        val changed = confChanged(before, s.conf.getAll)
        if (changed.nonEmpty) rec.add("layer_conf", "q" -> q, "conf_changed" -> changed)
      }),
    "window_sort_warm" -> ((s, sf, _, _, _) =>
      graft.Tables(s, sf, "nation")
        .selectExpr("n_nationkey", "sum(n_regionkey) over " +
          "(partition by n_regionkey order by n_nationkey) as w")
        .orderBy("w").write.format("noop").mode("overwrite").save()),
    // the PageRank-shape warm-up runs the iterative kernel's rounds on a
    // tiny graph; its GraphOps.roundProbe calls are what the operators
    // layer measures
    "pagerank_warm" -> ((s, _, _, _, _) => {
      import org.apache.spark.sql.functions.col
      val tiny = s.range(0, 256)
        .selectExpr("id % 37 AS u", "id % 53 AS v", "1 + id % 7 AS d")
        .repartition(col("u"))
      graft.operators.GraphOps.pageRankOn(tiny, iters = 1)
        .write.format("noop").mode("overwrite").save()
      graft.operators.GraphOps.personalizedPageRankOn(tiny, iters = 1)
        .write.format("noop").mode("overwrite").save()
    }))

  /** The session confs of `graft.Bench`, at this host's core count. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Keys whose value differs between two `spark.conf.getAll` snapshots. */
  def confChanged(before: Map[String, String], after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k)).toSeq.sorted

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  /** Peak resident set of this JVM, from `/proc/self/status` (kB). */
  private def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(-1L)
    catch { case _: Throwable => -1L }

  private def message(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val out = opts("out")
    new java.io.File(out).mkdirs()
    if (opts("mode") == "oracle") {
      val json = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => J.str(k) + ":" + J.str(v) }.mkString("{", ",\n", "}")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out, "oracle_sql.json"), json)
      return
    }
    val sf = opts("sf")
    val traced = opts("trace") == "1"
    val members = opts("order").split(",").toSeq.filter(_.nonEmpty)
    val passes = opts("passes").toInt
    val rec = new Recorder
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000
    val runId = rec.newId()
    val setupId = rec.newId()
    val cpus = Runtime.getRuntime.availableProcessors
    val sessionId = rec.newId()
    val spark = rec.span(sessionId, "session", "setup_step", setupId)(session(cpus))
    val sc = spark.sparkContext
    if (traced) {
      sc.addSparkListener(new Listeners(rec))
      spark.listenerManager.register(new SqlListener(rec))
      spark.streams.addListener(new StreamListener(rec))
      graft.operators.GraphOps.roundProbe = (k, r, s) =>
        rec.add("round", "kernel" -> k, "round" -> r, "secs" -> s, "time" -> rec.nowUs)
    }
    graft.sources.Sinks.onRebuild = d =>
      rec.add("rebuild", "layer" -> d.replaceAll(".*/", ""), "time" -> rec.nowUs)
    for ((name, step) <- steps) {
      val id = rec.newId()
      sc.setLocalProperty(SpanProp, id.toString)
      rec.span(id, name, "setup_step", setupId)(step(spark, sf, members, rec, id))
    }
    var seq = 0
    var sinceGc = 0
    /** One execution of query q: construction, then the noop write. Pass 0
      * is the untimed warm-up inside set-up; passes 1..n are timed. The first
      * and the last timed pass write the same DataFrame once more, untimed
      * and after set-up, for the result check. */
    def execute(q: String, pass: Int): Unit = {
      seq += 1
      val fn = graft.SparkEntry.queries(q)
      val confBefore = spark.conf.getAll
      val timed = pass > 0
      val meter = traced && timed
      val rules0 = if (meter) org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics() else null
      val gc0 = gcMs()
      val queryId = rec.newId()
      val constructId = rec.newId()
      val actionId = rec.newId()
      var df: DataFrame = null
      var error: String = null
      val t0 = System.nanoTime()
      val qStart = rec.nowUs
      var t1 = t0
      // the warm-up's parts are not construct/action spans, so nothing in
      // them counts as timed work
      val (ck, ak) = if (timed) ("construct", "action") else ("warm_construct", "warm_action")
      try {
        sc.setLocalProperty(SpanProp, constructId.toString)
        df = rec.span(constructId, "construct", ck, queryId, "q" -> q,
          "pass" -> pass)(fn(spark, sf))
        t1 = System.nanoTime()
        sc.setLocalProperty(SpanProp, actionId.toString)
        rec.span(actionId, "action", ak, queryId, "q" -> q, "pass" -> pass) {
          df.write.format("noop").mode("overwrite").save()
        }
      } catch { case e: Throwable => error = message(e) }
      val t2 = System.nanoTime()
      rec.add("span", "id" -> queryId, "parent" -> (if (timed) runId else setupId),
        "name" -> q, "kind" -> (if (timed) "query" else "warm"), "q" -> q,
        "pass" -> pass, "seq" -> seq, "start" -> qStart, "end" -> rec.nowUs)
      val gc1 = gcMs()
      // the returned DataFrame was analysed eagerly at construction; the
      // SQL executions the listener sees re-analyse only the command on top.
      // A DataFrame a query function memoised was analysed before this
      // execution and does not count.
      val dfAnalysisMs = if (meter && df != null)
        df.queryExecution.tracker.phases.get("analysis")
          .filter(_.startTimeMs >= qStart / 1000 - 1).map(_.durationMs).getOrElse(0L)
        else 0L
      val ruleStats = if (meter) {
        val r1 = org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics()
        Map("rule_ns" -> (r1.time - rules0.time),
          "rule_runs" -> (r1.numRuns - rules0.numRuns),
          "rule_effective_runs" -> (r1.numEffectiveRuns - rules0.numEffectiveRuns),
          "gc_ms" -> (gc1 - gc0), "df_analysis_ms" -> dfAnalysisMs)
      } else Map.empty[String, Long]
      val confLeft = confChanged(confBefore, spark.conf.getAll)
      var fpError: String = null
      val fpDir = s"$out/fp/$seq"
      val checked = df != null && error == null && (pass == 1 || pass == passes)
      if (checked) {
        val fpId = rec.newId()
        sc.setLocalProperty(SpanProp, fpId.toString)
        try rec.span(fpId, "fingerprint", "fingerprint", runId, "q" -> q, "pass" -> pass) {
          df.coalesce(1).write.mode("overwrite").parquet(fpDir)
        } catch { case e: Throwable => fpError = message(e) }
      }
      sc.setLocalProperty(SpanProp, null)
      rec.add("exec", (Seq("q" -> q, "pass" -> pass, "seq" -> seq,
        "construct_s" -> (t1 - t0) / 1e9, "seconds" -> (t2 - t0) / 1e9,
        "error" -> error, "fp_dir" -> (if (checked && fpError == null) fpDir else null),
        "fp_error" -> fpError, "conf_changed" -> confLeft) ++ ruleStats.toSeq): _*)
      if (error != null) System.err.println(s"[perfbench] $q failed: $error")
      // as graft.Bench: an untimed GC every 8 timed queries lets the context
      // cleaner drop the checkpoint blocks earlier queries left behind
      if (timed) sinceGc += 1
      if (sinceGc >= 8) { sinceGc = 0; System.gc() }
    }

    // set-up ends with one untimed pass over the members, so the timed
    // passes measure warm executions and first-use costs land in setup_s
    members.foreach(execute(_, 0))
    val setupEndUs = rec.nowUs
    rec.add("span", "id" -> setupId, "parent" -> runId, "name" -> "setup",
      "kind" -> "setup", "start" -> jvmStartUs, "end" -> setupEndUs)
    for (pass <- 1 to passes; q <- members) execute(q, pass)
    if (traced) org.apache.spark.BusAccess.drain(sc)
    rec.add("span", "id" -> runId, "parent" -> 0, "name" -> "run", "kind" -> "run",
      "start" -> jvmStartUs, "end" -> rec.nowUs)
    rec.add("meta", "jvm_start_us" -> jvmStartUs, "setup_end_us" -> setupEndUs,
      "cpus" -> cpus, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.runtime.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      // JVM-wide codegen totals: most compiles happen in set-up's warm-up
      "codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount,
      "codegen_compile_ns" -> org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime,
      "vm_hwm_kb" -> vmHwmKb())
    rec.writeTo(s"$out/records.jsonl")
    spark.stop()
  }
}
