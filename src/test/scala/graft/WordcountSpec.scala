package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Wordcount flagship: golden fixture, invariance axioms, entry smoke.
  *
  * Mirrors the reference's own test ideas (SURVEY.md §5): the basic.txt
  * golden fixture (reference basic.txt:1-4 — word *n* appears *n* times) and
  * output invariance across parallelism degrees (reference hashmap_test.c:9-15
  * sweeps NUM_MAPPERS/NUM_REDUCERS at compile time).
  */
class WordcountSpec extends SparkTestBase {
  import SparkTestBase.spark.implicits._

  /** basic.txt shape as a documents-table-compatible parquet dir. */
  private lazy val goldenDir: String = {
    val dir = Files.createTempDirectory("graft-golden").toString
    val rows = Seq(
      (0L, "one", "en", "src0", 3L),
      (1L, "two two", "en", "src0", 7L),
      (2L, "three three three", "en", "src0", 17L),
      (3L, "four four four four", "en", "src0", 19L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("golden basic.txt fixture: count(word_n) == n") {
    val got = SparkEntry.queries("wordcount")(spark, goldenDir)
      .as[(String, Long)].collect().toMap
    assert(got == Map("one" -> 1L, "two" -> 2L, "three" -> 3L, "four" -> 4L))
  }

  test("point lookup parity: found term / not-found term (reference main.c:66-71)") {
    val wc = SparkEntry.queries("wordcount")(spark, goldenDir)
    assert(wc.where($"word" === "three").select("cnt").as[Long].head() == 3L)
    assert(wc.where($"word" === "absent").isEmpty)
  }

  test("KvSink.collectAsMap: MapPut/MapGet parity with the distributed filter") {
    val m = graft.operators.KvSink.collectAsMap(
      SparkEntry.queries("wordcount")(spark, goldenDir).as[(String, Long)])
    assert(m == Map("one" -> 1L, "two" -> 2L, "three" -> 3L, "four" -> 4L))
    assert(graft.operators.KvSink.get(m, "four").contains(4L)) // "Found four 4 times"
    assert(graft.operators.KvSink.get(m, "absent").isEmpty) // "Word not found!"
  }

  test("invariance: identical results under shuffle partitions 1 vs 8") {
    def run(parts: String): Seq[(String, Long)] = withShufflePartitions(parts) {
      SparkEntry.queries("wordcount")(spark, sf).as[(String, Long)].collect().toSeq
    }
    assert(run("1") == run("8"))
  }

  test("conservation: sum of counts == total token count") {
    val total = SparkEntry.queries("wordcount")(spark, sf)
      .agg(sum($"cnt")).as[Long].head()
    val tokens = Tables(spark, sf, "documents")
      .select(explode(graft.functions.Portable.tokens($"text"))).count()
    assert(total == tokens)
  }

  test("entry: flagship returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("queries and oracles cover each other exactly (no ungated query ships)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"ungated queries: ${q.diff(o)}; orphan oracles: ${o.diff(q)}")
  }
}
