package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the flat records the benchmark emits. */
object J {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def v(x: Any): String = x match {
    case null | None => "null"
    case Some(y) => v(y)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, y) => str(k.toString) + ":" + v(y) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(v).mkString("[", ",", "]")
    case a: Array[_] => v(a.toSeq)
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ":" + v(x) }.mkString("{", ",", "}")
}

/** In-memory record sink. Spans and listener records are appended here and
  * written out once, when the run ends. Times are epoch microseconds on a
  * clock anchored to the wall clock at start and advanced by `nanoTime`, so
  * they line up with the millisecond timestamps Spark's listeners carry. */
final class Recorder {
  private val records = new ConcurrentLinkedQueue[String]()
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)

  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000

  def add(kind: String, kv: (String, Any)*): Unit =
    records.add(J.obj((("k" -> kind) +: kv): _*))

  def newId(): Long = nextId.getAndIncrement()

  /** Times `body` as a span. The span is recorded even when `body` throws. */
  def span[T](id: Long, name: String, kind: String, parent: Long,
      extra: (String, Any)*)(body: => T): T = {
    val t0 = nowUs
    try body
    finally add("span", (Seq("id" -> id, "parent" -> parent, "name" -> name,
      "kind" -> kind, "start" -> t0, "end" -> nowUs) ++ extra): _*)
  }

  def writeTo(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try records.asScala.foreach { r => w.write(r); w.write('\n') }
    finally w.close()
  }
}

/** Listeners registered only in traced runs. Each records what Spark reports
  * with Spark's own timestamps; attribution to the benchmark's spans happens
  * when the trace file is read. Jobs carry the span id the submitting thread set
  * as a local property when they were submitted. */
final class Listeners(rec: Recorder) extends SparkListener {
  private final class StageAgg {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, waitMs = 0L
    var shufW, shufWRec, shufR, spill, input, output = 0L
  }
  private val submitted = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val aggs = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Runner.SpanProp))).getOrElse("")
    rec.add("job_start", "job" -> e.jobId, "time" -> e.time * 1000,
      "span" -> span, "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    rec.add("job_end", "job" -> e.jobId, "time" -> e.time * 1000,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => submitted.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = aggs.computeIfAbsent(e.stageId, _ => new StageAgg)
    a.synchronized {
      a.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) a.failed += 1
      val sub = submitted.get(e.stageId)
      if (sub > 0) a.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufWRec += m.shuffleWriteMetrics.recordsWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val a = Option(aggs.remove(si.stageId)).getOrElse(new StageAgg)
    val start = si.submissionTime.getOrElse(0L)
    rec.add("stage", "stage" -> si.stageId, "attempt" -> si.attemptNumber(),
      "job" -> Option(stageJob.get(si.stageId)).getOrElse(-1),
      "start" -> start * 1000, "end" -> si.completionTime.getOrElse(start) * 1000,
      "tasks" -> a.tasks, "failed_tasks" -> a.failed, "run_ms" -> a.runMs,
      "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "wait_ms" -> a.waitMs,
      "shuffle_write_bytes" -> a.shufW, "shuffle_write_records" -> a.shufWRec,
      "shuffle_read_bytes" -> a.shufR, "spill_bytes" -> a.spill,
      "input_bytes" -> a.input, "output_bytes" -> a.output)
  }
}

/** Catalyst phase times and the graft rules' run counts, per SQL execution. */
final class SqlListener(rec: Recorder) extends QueryExecutionListener {
  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val t = qe.tracker
    val phases = t.phases
    val start = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    val graftRules = t.rules.collect {
      case (n, r) if Runner.GraftRules.exists(n.endsWith) =>
        n -> Seq(r.totalTimeNs, r.numInvocations, r.numEffectiveInvocations)
    }
    rec.add("sqlexec", "func" -> func, "ok" -> ok, "time" -> start * 1000,
      "phases_ms" -> phases.map { case (k, p) => k -> p.durationMs },
      "graft_rules" -> graftRules)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(f, qe, ok = true)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(f, qe, ok = false)
}

/** Micro-batch progress of the streaming gates. */
final class StreamListener(rec: Recorder) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    rec.add("batch", "query" -> String.valueOf(p.name), "batch" -> p.batchId,
      "time" -> start * 1000, "input_rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
      "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
  }
}
