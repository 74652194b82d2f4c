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
    assert(res.passed, s"$name: $res")
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
        val plain = MR.runSorted(lines.rdd, mapper, reducer, parts, djb2)
          .collect().toMap
        val combined = MR.runSorted(lines.rdd, mapper, reducer, parts, djb2,
          Some((a: Long, b: Long) => a + b)).collect().toMap
        val relational = graft.operators.TextOps.wordcount(lines.toDF("text"))
          .as[(String, Long)].collect().toMap
        combined == plain && combined == relational &&
          MR.wordcount(spark, lines, parts).collect().toMap == relational
    })
  }

  test("runSorted with a constant partitioner equals the default partitioner") {
    check("partitioner", Prop.forAll(corpusGen) { docs =>
      val mapper = (line: String) =>
        line.split(" ").filter(_.nonEmpty).iterator.map(w => (w, "1"))
      val reducer = (k: String, vs: Iterator[String]) => Iterator((k, vs.size))
      val a = MR.runSorted(spark.createDataset(docs).rdd, mapper, reducer, 5,
        (k: String, n: Int) => MR.defaultHashPartition(k, n)).collect().toSet
      val b = MR.runSorted(spark.createDataset(docs).rdd, mapper, reducer, 3,
        (_: String, _: Int) => 0).collect().toSet
      a == b
    })
  }
}
