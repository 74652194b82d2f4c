package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for the named queries (or, with
  * no args, every declared query) to plans/<SPARK_GRAFT_PLANDIR>/<q>_<suffix>.txt.
  * Same session config as Bench so the captured plans are the benched plans.
  * Streaming gates execute eagerly at construction — they are skipped unless
  * named explicitly. `SPARK_GRAFT_PLAN_SUFFIX` picks before/after (default
  * "before"). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = Bench.sfDir
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANDIR", "plans/r21")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = GraftSession()
    Bench.warmLayers(spark, sfDir)
    val names: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
        .filterNot(_.startsWith("q_stream_")) // execute eagerly; name explicitly
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"PLANDUMP ok $name")
      } catch {
        case e: Throwable =>
          println(s"PLANDUMP FAIL $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
