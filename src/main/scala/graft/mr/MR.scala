package graft.mr

import org.apache.spark.{Aggregator, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** MapReduce-compatibility layer: the reference library's exact API contract
  * (reference mapreduce.h:5-21) re-expressed on Spark.
  *
  * Contract preserved (SURVEY.md §3.4):
  * - `mapper` is the reference `Mapper` (UDTF-shaped: one input record → many
  *   (key,value) pairs, emitted via `MR_Emit`, reference mapreduce.c:75-86);
  * - `reducer` is called exactly once per distinct key with a forward-only,
  *   single-pass value iterator (the `Getter` pull protocol, reference
  *   mapreduce.c:57-67; `flatMapGroups` hands us the same shape and drains
  *   on return, which fixes the reference's non-draining-reducer livelock);
  * - a user `partitioner` decides the reduce partition (reference
  *   mapreduce.h:11); `defaultHashPartition` is djb2 semantics (reference
  *   mapreduce.c:88-94);
  * - `runSorted` additionally preserves the per-partition ascending key
  *   visitation order established by the reference's qsort barrier step
  *   (reference mapreduce.c:224-228) via repartitionAndSortWithinPartitions —
  *   the exact semantic twin (shuffle + in-partition key sort);
  * - value order within a key is unspecified, exactly like the reference
  *   (unstable qsort on key only, reference mapreduce.c:69-73).
  *
  * Combiner: `runSorted` takes an optional associative, commutative
  * `combiner` (the MapReduce paper's combiner function, Dean & Ghemawat,
  * OSDI 2004, §4.3). With one, each map task folds its values per key
  * before the shuffle and ships one record per distinct key, and the
  * reduce side merges those partials — the reducer still gets one call per
  * key in ascending key order, but its values are combined partials, the
  * Hadoop combiner contract. Without one (the default) every emitted pair
  * crosses the shuffle, exactly as the reference ships one pair per token
  * occurrence (reference mapreduce.c:75-86). `wordcount` combines, so its
  * shuffle carries at most one record per (map task, word).
  */
object MR {

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

  /** Dataset-native MR_Run: hash-shuffle grouping (no key ordering promised —
    * Spark's hash aggregation analogue of the engine, reference
    * mapreduce.c:141-253). The reduce parallelism knob (`num_reducers`,
    * reference mapreduce.c:144) is the session's shuffle-partition setting —
    * Spark-idiomatic; the explicit-partitioner contract lives in runSorted. */
  def run[K, V, OUT](
      input: Dataset[String],
      mapper: String => IterableOnce[(K, V)],
      reducer: (K, Iterator[V]) => IterableOnce[OUT])(
      implicit kve: Encoder[(K, V)], ke: Encoder[K], oe: Encoder[OUT]): Dataset[OUT] =
    input
      .flatMap(mapper(_).iterator)
      .groupByKey(_._1)
      .flatMapGroups((k, it) => reducer(k, it.map(_._2)).iterator)

  /** RDD MR_Run with the reference's full physical contract: user
    * partitioner + per-partition key sort + one reducer call per distinct
    * key, keys visited in ascending order within each partition. A
    * `combiner` (associative and commutative) folds values per key on the
    * map side, so the reducer's values are combined partials. */
  def runSorted[K: Ordering, V, OUT](
      input: RDD[String],
      mapper: String => IterableOnce[(K, V)],
      reducer: (K, Iterator[V]) => IterableOnce[OUT],
      numPartitions: Int,
      partitioner: (K, Int) => Int,
      combiner: Option[(V, V) => V] = None)(
      implicit kt: scala.reflect.ClassTag[K], vt: scala.reflect.ClassTag[V],
      ot: scala.reflect.ClassTag[OUT]): RDD[OUT] = {
    val nParts = math.max(numPartitions, 1)
    val part = new Partitioner {
      override def numPartitions: Int = nParts
      override def getPartition(key: Any): Int =
        partitioner(key.asInstanceOf[K], nParts)
    }
    val pairs = input.flatMap(mapper(_).iterator)
    val sorted: RDD[(K, V)] = combiner match {
      case None => pairs.repartitionAndSortWithinPartitions(part)
      case Some(c) =>
        new ShuffledRDD[K, V, V](pairs, part)
          .setAggregator(Aggregator[K, V, V](v => v, c, c))
          .setMapSideCombine(true)
          .setKeyOrdering(implicitly[Ordering[K]])
    }
    sorted
      .mapPartitions { it =>
        // walk key runs: one reducer call per distinct key, iterator drains
        // exactly the run (the get_next protocol, reference mapreduce.c:57-67)
        new Iterator[Iterator[OUT]] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): Iterator[OUT] = {
            val k = buf.head._1
            val run = new Iterator[V] {
              def hasNext: Boolean = buf.hasNext && buf.head._1 == k
              def next(): V = buf.next()._2
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

  /** Wordcount client on the MR layer (reference main.c:11-74): tokenize →
    * emit (word, 1) → combine with `+` map-side → sum the partials. */
  def wordcount(spark: SparkSession, lines: Dataset[String],
      numPartitions: Int): Dataset[(String, Long)] = {
    import spark.implicits._
    val mapper = (line: String) =>
      graft.functions.Portable.tokensJvm(line).iterator.map(w => (w, 1L))
    val reducer = (k: String, vs: Iterator[Long]) => Iterator((k, vs.sum))
    runSorted(lines.rdd, mapper, reducer, numPartitions,
      (k: String, n: Int) => defaultHashPartition(k, n),
      Some((a: Long, b: Long) => a + b)).toDS()
  }
}
