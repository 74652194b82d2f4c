package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The session policy of [[GraftSession]]: queries leave the shared conf as
  * they found it, temporary confs restore exactly, the SPJ reads plan
  * without a shuffle in their isolated session, and no other code builds a
  * session or sets a conf. */
class GraftSessionSpec extends SparkTestBase {

  private val confSensitive = Seq("q_dsv2_spj", "q_dsv2_sorted",
    "q_dsv2_spj_agg", "q_dynamic_overwrite", "q_stream_topk", "q_pagerank")

  for (q <- confSensitive)
    test(s"$q leaves spark.conf unchanged") {
      val before = spark.conf.getAll
      SparkEntry.queries(q)(spark, sf).collect()
      val changed = SparkTestBase.confChanged(before, spark.conf.getAll)
      assert(changed.isEmpty, s"$q left spark.conf changed: $changed")
    }

  test("q_dsv2_spj_agg runs its per-key aggregate with no exchange below it") {
    val df = SparkEntry.queries("q_dsv2_spj_agg")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val perKey = plan.indexOf("HashAggregate(keys=[shard")
    assert(perKey >= 0, s"no per-key aggregate in:\n$plan")
    val below = plan.substring(perKey)
    assert(!below.contains("Exchange") && !below.contains("ShuffleQueryStage"),
      s"per-key aggregate reads through a shuffle:\n$plan")
    assert(!spark.conf.getAll.contains("spark.sql.sources.v2.bucketing.enabled"),
      "the SPJ confs must stay in the isolated session")
  }

  test("withConf restores a set key and unsets an absent one, also on throw") {
    val set = "spark.sql.shuffle.partitions"
    val absent = "spark.sql.sources.v2.bucketing.enabled"
    val prev = spark.conf.get(set)
    assert(!spark.conf.getAll.contains(absent))
    intercept[IllegalStateException] {
      GraftSession.withConf(spark, set -> "3", absent -> "true") {
        assert(spark.conf.get(set) == "3" && spark.conf.get(absent) == "true")
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.get(set) == prev)
    assert(!spark.conf.getAll.contains(absent), "an absent key must be unset again")
  }

  private def mainSources: Seq[Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  test("source guard: only the session module builds sessions or sets confs") {
    val sources = mainSources
    assert(sources.size > 50, s"source scan found only ${sources.size} files")
    val builders = sources.filter(p => read(p).contains("SparkSession.builder()"))
      .map(_.getFileName.toString)
    assert(builders == Seq("GraftSession.scala"),
      s"SparkSession.builder() outside GraftSession: $builders")
    val setters = for {
      p <- sources
      name = p.getFileName.toString
      if name != "GraftSession.scala"
      (line, i) <- read(p).split("\n").zipWithIndex
      if line.contains(".conf.set(") || line.contains(".conf.unset(")
      // SqlChain.register's catalog registrations are the one exception
      if !(name == "SqlChain.scala" && line.contains("spark.sql.catalog."))
    } yield s"$name:${i + 1}: ${line.trim}"
    assert(setters.isEmpty,
      s"conf mutations outside GraftSession.withConf:\n${setters.mkString("\n")}")
  }

  test("the engine confs match perfbench's session (drift check)") {
    val runner = read(Paths.get("perfbench/harness/Runner.scala"))
    val body = runner.substring(runner.indexOf("def session("))
    val session = body.substring(0, body.indexOf(".getOrCreate()"))
    assert(session.contains(".master(s\"local[$cpus]\")"))
    val pairs = """\.config\("([^"]+)",\s*([^)]+)\)""".r.findAllMatchIn(session)
      .map { m =>
        val v = m.group(2).trim
        m.group(1) -> (if (v == "cpus.toString") "<cpus>" else v.stripPrefix("\"")
          .stripSuffix("\""))
      }.toSeq
    assert(pairs.nonEmpty, "no .config pairs found in Runner.session")
    assert(pairs.toMap == GraftSession.confs(partitions = "<cpus>").toMap,
      s"perfbench session confs drifted from GraftSession.confs: $pairs")
    assert(pairs.size == pairs.toMap.size)
  }
}
