package graft.mr

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col

/** MapReduce-compatibility layer: the reference library's exact API contract
  * (reference mapreduce.h:5-21) re-expressed on Spark's relational planner.
  *
  * Contract preserved (SURVEY.md §3.4), on ONE shuffle path:
  * - `mapper` is the reference `Mapper` (UDTF-shaped: one input record → many
  *   (key,value) pairs, emitted via `MR_Emit`, reference mapreduce.c:75-86);
  * - a user `partitioner` decides the reduce partition (reference
  *   mapreduce.h:11): each pair carries `partitioner(k, n)` and
  *   `repartitionById` ships it to exactly that partition, a planned
  *   exchange AQE stages like any other; `defaultHashPartition` is djb2
  *   semantics (reference mapreduce.c:88-94);
  * - keys ascend within each partition (the reference's qsort barrier step,
  *   reference mapreduce.c:224-228) via `sortWithinPartitions`, in Spark's
  *   binary order — UTF-8 byte order for strings, i.e. the reference's
  *   strcmp (mapreduce.c:69-73);
  * - `reducer` is called exactly once per distinct key with a forward-only,
  *   single-pass value iterator (the `Getter` pull protocol, reference
  *   mapreduce.c:57-67), drained on return, which fixes the reference's
  *   non-draining-reducer livelock;
  * - value order within a key is unspecified, exactly like the reference
  *   (unstable qsort on key only, reference mapreduce.c:69-73).
  *
  * Combiner: an optional associative, commutative `combiner` (the MapReduce
  * paper's combiner function, Dean & Ghemawat, OSDI 2004, §4.3) folds each
  * map task's values per key before the shuffle, so the reducer's values are
  * combined partials (the Hadoop combiner contract). The fold's hash map
  * emits and clears itself every [[FoldKeys]] distinct keys, which bounds
  * map-side memory; a key may then ship more than one partial per task,
  * which the reducer merges anyway. Without one (the default) every emitted
  * pair crosses the shuffle, as the reference ships one pair per token
  * occurrence (reference mapreduce.c:75-86).
  */
object MR {

  /** Distinct keys a map task's combiner fold holds before it emits. */
  val FoldKeys: Int = 1 << 16

  /** djb2 (hash·33 + c) over UTF-8 bytes, mod n — value-compatible with the
    * reference's MR_DefaultHashPartition (reference mapreduce.c:88-94) for
    * ASCII keys. Non-ASCII bytes differ: the reference iterates C `char`
    * (signed on common ABIs), so bytes ≥ 0x80 enter its hash negative, while
    * this implementation uses the unsigned value. Partitioning is an
    * execution detail either way — it never changes query output. */
  def defaultHashPartition(key: String, numPartitions: Int): Int = {
    var hash = 5381L
    key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .foreach(b => hash = hash * 33 + (b & 0xffL))
    (java.lang.Long.remainderUnsigned(hash, numPartitions.toLong)).toInt
  }

  /** MR_Run (reference mapreduce.c:141-253): map (and combine) → exchange to
    * `partitioner(k, n)` → sort by key → one reducer call per distinct key,
    * keys visited in ascending order within each partition. */
  def run[K, V, OUT](
      input: Dataset[String],
      mapper: String => IterableOnce[(K, V)],
      reducer: (K, Iterator[V]) => IterableOnce[OUT],
      numPartitions: Int,
      partitioner: (K, Int) => Int,
      combiner: Option[(V, V) => V] = None)(
      implicit pkv: Encoder[(Int, K, V)], oe: Encoder[OUT]): Dataset[OUT] = {
    val n = math.max(numPartitions, 1)
    input
      .mapPartitions { lines =>
        val pairs = lines.flatMap(mapper(_).iterator)
        combiner.fold(pairs)(combine(pairs, _))
          .map { case (k, v) => (partitioner(k, n), k, v) }
      }
      .repartitionById(n, col("_1"))
      .sortWithinPartitions("_2")
      .mapPartitions { it =>
        // walk key runs: one reducer call per distinct key, iterator drains
        // exactly the run (the get_next protocol, reference mapreduce.c:57-67)
        new Iterator[Iterator[OUT]] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): Iterator[OUT] = {
            val k = buf.head._2
            val run = new Iterator[V] {
              def hasNext: Boolean = buf.hasNext && buf.head._2 == k
              def next(): V = buf.next()._3
            }
            // materialize BEFORE draining: a lazy reducer output built over
            // `run` (e.g. vs.map(...)) would otherwise read an exhausted
            // iterator and silently emit nothing. Per-key output is bounded.
            val out = reducer(k, run).iterator.toVector
            // drain-on-return (the reference livelocks here; we define it away)
            while (run.hasNext) run.next()
            out.iterator
          }
        }.flatten
      }
  }

  /** The map-side combine: folds values per key with `c`, emitting and
    * starting a fresh map every [[FoldKeys]] distinct keys. */
  private def combine[K, V](pairs: Iterator[(K, V)],
      c: (V, V) => V): Iterator[(K, V)] =
    Iterator.continually {
      val acc = scala.collection.mutable.HashMap.empty[K, V]
      while (pairs.hasNext && acc.size < FoldKeys) {
        val (k, v) = pairs.next()
        acc.updateWith(k)(a => Some(a.fold(v)(c(_, v))))
      }
      acc
    }.takeWhile(_.nonEmpty).flatten

  /** Wordcount client on the MR layer (reference main.c:11-74): tokenize →
    * emit (word, 1) → combine with `+` map-side → sum the partials. */
  def wordcount(spark: SparkSession, lines: Dataset[String],
      numPartitions: Int): Dataset[(String, Long)] = {
    import spark.implicits._
    val mapper = (line: String) =>
      graft.functions.Portable.tokensJvm(line).iterator.map(w => (w, 1L))
    val reducer = (k: String, vs: Iterator[Long]) => Iterator((k, vs.sum))
    run(lines, mapper, reducer, numPartitions, defaultHashPartition,
      Some((a: Long, b: Long) => a + b))
  }
}
