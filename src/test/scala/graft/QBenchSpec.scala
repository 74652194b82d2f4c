package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import graft.queries.Scratch
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}

/** QBench's PROF stage line reads Spark's `internal.metrics.*`
  * accumulators by name suffix. */
class QBenchSpec extends SparkTestBase {

  test("PROF metric lookup finds the shuffle-write bytes of a shuffle job") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"qbench-spec-${System.nanoTime()}"
    val mine = ConcurrentHashMap.newKeySet[Int]()
    val done = new ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          j.stageIds.foreach(mine.add)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        done.add(e.stageInfo)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "qbench metric lookup")
      try sc.parallelize(1 to 2000, 4).map(i => (i % 10, i.toLong))
        .reduceByKey(_ + _).collect()
      finally sc.clearJobGroup()
      def ours = done.asScala.filter(si => mine.contains(si.stageId)).toSeq
      Scratch.await("listener bus never delivered the job's stages")(
        mine.size == 2 && ours.size == 2)
      val written = ours.map(QBench.metric(_, "shuffle.write.bytesWritten"))
      assert(written.max > 0, s"shuffle-write bytes per stage: $written")
    } finally sc.removeSparkListener(listener)
  }
}
