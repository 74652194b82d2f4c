package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.queries.Scratch
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run: the engine's confs on
  * `local[4]` with 8 shuffle partitions, keeping Spark's default no-data
  * micro-batches (see [[GraftSession]]). */
object SparkTestBase {
  lazy val spark: SparkSession =
    GraftSession(cores = "4", partitions = "8", noDataMicroBatches = true)

  val sf: String = "/root/testdata/sf0.001"

  /** Keys whose value differs between two `spark.conf.getAll` snapshots,
    * catalog registrations (`spark.sql.catalog.*`) excepted. */
  def confChanged(before: Map[String, String],
      after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => !k.startsWith("spark.sql.catalog.") &&
        before.get(k) != after.get(k))
}

/** Fails the suite in `afterAll` when it leaves the shared session's conf
  * changed: a later suite would otherwise plan under it. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf

  private var confAtStart: Map[String, String] = Map.empty

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    confAtStart = spark.conf.getAll
  }

  override protected def afterAll(): Unit =
    try {
      val changed = SparkTestBase.confChanged(confAtStart, spark.conf.getAll)
      assert(changed.isEmpty,
        s"$suiteName left spark.conf changed: ${changed.mkString(", ")}")
    } finally super.afterAll()

  /** Runs `body` under a fresh job group; returns its result, the number
    * of jobs it started and the completed stages of those jobs. Suites run
    * in parallel on the shared context, so only this group's jobs count. A
    * marker job run afterwards flushes the listener bus, which delivers
    * events in order. */
  def jobsOf[T](body: => T): (T, Int, Seq[StageInfo]) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val marker = s"$group-end"
    val jobs = new AtomicInteger()
    val mine = ConcurrentHashMap.newKeySet[Int]()
    val done = new ConcurrentLinkedQueue[StageInfo]()
    val markerSeen = new AtomicBoolean()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.incrementAndGet()
            j.stageIds.foreach(mine.add)
          case Some(`marker`) => markerSeen.set(true)
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (mine.contains(e.stageInfo.stageId)) done.add(e.stageInfo)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsOf")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "jobsOf marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      Scratch.await("listener bus never delivered the marker job")(
        markerSeen.get)
      (out, jobs.get, done.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body` under a specific shuffle-partition count. */
  def withShufflePartitions[T](parts: String)(body: => T): T =
    GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> parts)(body)
}
