package graft

import graft.mr.MR
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks for the MR layer (SURVEY §5 adopted ideas):
  * for ANY generated corpus, wordcount equals the naive in-memory model,
  * is invariant under document-order permutation (the reference's argv-order
  * independence), and invariant to the partition count / partitioner.
  */
class MrPropertySpec extends SparkTestBase {
  import SparkTestBase.spark.implicits._

  private val vocab = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
  private val docGen: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, vocab)).map(_.mkString(" "))
  private val corpusGen: Gen[List[String]] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, docGen))

  private def model(docs: Seq[String]): Map[String, Long] =
    docs.flatMap(_.toLowerCase.split("[ \t\r\n]+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  private def run(docs: Seq[String], parts: Int): Map[String, Long] =
    MR.wordcount(spark, spark.createDataset(docs), parts).collect().toMap

  private def check(name: String, prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    // non-ASCII counterexamples are escaped: the forked test reporter
    // cannot encode a lone surrogate and would abort the whole run
    assert(res.passed, s"$name: $res".flatMap(c =>
      if (c < 0x7f) c.toString else f"\\u${c.toInt}%04x"))
  }

  test("wordcount equals the naive model for any corpus") {
    check("model", Prop.forAll(corpusGen) { docs =>
      run(docs, 4) == model(docs)
    })
  }

  test("wordcount is invariant to document order and partition count") {
    check("invariance", Prop.forAll(corpusGen) { docs =>
      val base = run(docs, 4)
      run(docs.reverse, 4) == base && run(docs, 1) == base && run(docs, 9) == base
    })
  }

  test("the combiner path equals the plain path and the relational " +
      "wordcount at 1..13 partitions") {
    val mapper = (line: String) =>
      graft.functions.Portable.tokensJvm(line).iterator.map(w => (w, 1L))
    val reducer = (k: String, vs: Iterator[Long]) => Iterator((k, vs.sum))
    val djb2 = (k: String, n: Int) => MR.defaultHashPartition(k, n)
    check("combiner", Prop.forAll(corpusGen, Gen.chooseNum(1, 13)) {
      (docs, parts) =>
        val lines = spark.createDataset(docs)
        val plain = MR.run(lines, mapper, reducer, parts, djb2)
          .collect().toMap
        val combined = MR.run(lines, mapper, reducer, parts, djb2,
          Some((a: Long, b: Long) => a + b)).collect().toMap
        val relational = graft.operators.TextOps.wordcount(lines.toDF("text"))
          .as[(String, Long)].collect().toMap
        combined == plain && combined == relational &&
          MR.wordcount(spark, lines, parts).collect().toMap == relational
    })
  }

  test("MR.run with a constant partitioner equals the default partitioner") {
    check("partitioner", Prop.forAll(corpusGen) { docs =>
      val mapper = (line: String) =>
        line.split(" ").filter(_.nonEmpty).iterator.map(w => (w, "1"))
      val reducer = (k: String, vs: Iterator[String]) => Iterator((k, vs.size))
      val a = MR.run(spark.createDataset(docs), mapper, reducer, 5,
        (k: String, n: Int) => MR.defaultHashPartition(k, n)).collect().toSet
      val b = MR.run(spark.createDataset(docs), mapper, reducer, 3,
        (_: String, _: Int) => 0).collect().toSet
      a == b
    })
  }

  // ASCII, private-use/specials (U+E000-U+FFFF) and supplementary (non-BMP)
  // characters: UTF-16 order puts a surrogate pair BEFORE U+E000, UTF-8
  // byte order (the reference's strcmp) puts it after
  private val wideChars = Gen.oneOf("a", "b", "z", "\uE000", "\uFF21",
    "\uFFFD", "\uD800\uDC00", "\uD83D\uDE00")
  private val wideKey: Gen[String] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, wideChars)).map(_.mkString)
  private val wideCorpus: Gen[List[String]] = Gen.chooseNum(1, 8).flatMap(n =>
    Gen.listOfN(n, Gen.chooseNum(0, 10).flatMap(m => Gen.listOfN(m, wideKey))
      .map(_.mkString(" "))))

  test("keys ascend in UTF-8 byte (strcmp) order within each partition " +
      "and the counts equal the naive model") {
    val utf8 = (s: String) => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    check("utf8 order", Prop.forAllNoShrink(wideCorpus, Gen.chooseNum(1, 5)) {
      (docs, parts) =>
        val seen = MR.run[String, Long, (Int, String, Long)](
          spark.createDataset(docs),
          l => l.split(" ").iterator.filter(_.nonEmpty).map(w => (w, 1L)),
          (k, vs) => Iterator((org.apache.spark.TaskContext.getPartitionId(),
            k, vs.sum)),
          parts, (k, n) => MR.defaultHashPartition(k, n)).collect().toSeq
        val ascending = seen.groupBy(_._1).values.forall { perPart =>
          perPart.map(_._2).sliding(2).forall {
            case Seq(a, b) =>
              java.util.Arrays.compareUnsigned(utf8(a), utf8(b)) < 0
            case _ => true
          }
        }
        val want = docs.flatMap(_.split(" ").filter(_.nonEmpty))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        ascending && seen.map(s => s._2 -> s._3).toMap == want &&
          seen.size == want.size
    })
  }

  test("a map task with more distinct keys than the combiner fold holds " +
      "equals the plain path") {
    // ONE input partition, so one task sees FoldKeys + 7 distinct keys and
    // its fold emits mid-task; `hot` is in every line, so it ships partials
    // from several folds that the reducer must merge
    val lines = spark.range(0, 2L * MR.FoldKeys, 1, 1)
      .map(i => s"w${i % (MR.FoldKeys + 7)} hot")
    val mapper = (l: String) => l.split(" ").iterator.map(w => (w, 1L))
    val reducer = (k: String, vs: Iterator[Long]) => Iterator((k, vs.sum))
    val djb2 = (k: String, n: Int) => MR.defaultHashPartition(k, n)
    val plain = MR.run(lines, mapper, reducer, 4, djb2).collect().toMap
    val combined = MR.run(lines, mapper, reducer, 4, djb2,
      Some((a: Long, b: Long) => a + b)).collect().toMap
    assert(combined.size == MR.FoldKeys + 8)
    assert(combined("hot") == 2L * MR.FoldKeys)
    assert(combined == plain)
  }
}
