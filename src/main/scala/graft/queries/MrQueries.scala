package graft.queries

import graft.{Q, Tables}
import graft.mr.MR
import org.apache.spark.sql.functions._

/** The MR-compatibility layer exercised as engine queries: same oracle SQL as
  * the relational wordcount, proving the two paths agree (the reference's own
  * differential-oracle idea, sequential vs parallel engine — SURVEY.md §5). */
object MrQueries {

  def queries: Map[String, Q] = Map(
    // full reference contract: djb2 partitioner + sorted per-partition reduce.
    "mr_wordcount" -> { (s, dir) =>
      import s.implicits._
      val lines = Tables(s, dir, "documents").select(col("text")).as[String]
      MR.wordcount(s, lines, numPartitions = 8)
        .toDF("word", "cnt")
        .orderBy("word")
    },

    // MR_Run with the default djb2 partitioner and no combiner, and a
    // non-algebraic reducer (distinct source count per language) to show the
    // general (k, Iterator[v]) contract, not just counting.
    "mr_run_grouped" -> { (s, dir) =>
      import s.implicits._
      val lines = Tables(s, dir, "documents")
        .select(concat_ws("|", col("lang"), col("source")).as("l")).as[String]
      val mapper = (line: String) => {
        // indexOf, not split: split('|') drops a trailing empty source and
        // would MatchError; first-separator semantics also survive a '|' in
        // the source field.
        val i = line.indexOf('|')
        if (i < 0) Iterator.empty
        else Iterator((line.substring(0, i), line.substring(i + 1)))
      }
      val reducer = (lang: String, vs: Iterator[String]) =>
        Iterator((lang, vs.toSet.size.toLong))
      MR.run(lines, mapper, reducer, 8, MR.defaultHashPartition)
        .toDF("lang", "n_sources")
        .orderBy("lang")
    })

  def oracles: Map[String, String] = Map(
    "mr_wordcount" -> TextQueries.oracles("wordcount"),
    "mr_run_grouped" ->
      """SELECT lang, COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
}
