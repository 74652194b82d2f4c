package graft

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

  /** Run `body` under a specific shuffle-partition count. */
  def withShufflePartitions[T](parts: String)(body: => T): T =
    GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> parts)(body)
}
