package graft.sources

import java.nio.charset.StandardCharsets
import java.util.{Map => JMap}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DataSource V2 connector for the engine's tab-separated KV text
  * format (`key\tvalue` lines, value a long) — the connector seam a user of
  * the reference engine needs for formats Spark doesn't ship (the reference
  * reads whole files as opaque byte payloads and leaves parsing to the map
  * client, reference mapreduce.h:5-7; a connector is the Spark-native home
  * for that parsing so the OPTIMIZER can see through it).
  *
  * The three things that make a connector scale, all implemented and pinned
  * by KvTextSourceSpec / PlanQualitySpec:
  *
  * 1. **Split planning**: one InputPartition per data file — 100 TB of KV
  *    text is read by however many tasks the layout provides, with no
  *    driver-side content reads (the driver only lists the directory).
  * 2. **Predicate pushdown** (SupportsPushDownFilters): =, <, <=, >, >=,
  *    IsNotNull on both columns evaluate INSIDE the reader against the
  *    parsed primitives, so filtered rows never become InternalRows, never
  *    cross the connector boundary, and never serialize into the scan's
  *    output. Unsupported predicates are returned to Spark as residuals.
  * 3. **Column pruning** (SupportsPushDownRequiredColumns): the reader
  *    materializes only requested fields — `SELECT sum(value)` never
  *    allocates a key string per row.
  */
object KvTextSource {
  // nullable so arbitrary (never-actually-null) projections can write
  // through the V2 seam without a nullability cast; the reader never
  // produces nulls and the writer rejects them at the parse boundary
  val Schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = true),
    StructField("value", LongType, nullable = true)))

  /** A SHARDED KV dir additionally exposes the stored shard id — the
    * storage-partitioned-join column (see [[KvScan.outputPartitioning]]). */
  val ShardedSchema: StructType =
    Schema.add(StructField("shard", IntegerType, nullable = true))

  /** Marker naming the shard count of a sharded dir (written by the
    * sharded 2PC commit, after the data renames, before `_SUCCESS`). */
  private[sources] val ShardsMarker = "_SHARDS"

  /** The committed-file suffix carrying a file's shard id. */
  private[sources] val ShardRe = """-s(\d+)\.kv$""".r.unanchored

  /** Marker declaring every shard's content KEY-SORTED in ONE file (the
    * sorted-bucketed-table shape at the connector seam): written by the
    * sharded 2PC commit only when every staged file observed nondecreasing
    * binary key order AND the committed dir holds at most one file per
    * shard — the two conditions under which a shard partition's scan is
    * genuinely ordered. An append that breaks either condition REMOVES the
    * marker in the same commit, so [[KvScan.outputOrdering]] can never
    * report an ordering the files stopped having. */
  private[sources] val SortedMarker = "_SORTED"

  /** v1 Filter → Column over this source's columns — the translatable
    * set behind [[KvTable.deleteWhere]]. None = refuse the DELETE
    * (served-wrong is worse than refused). */
  private[sources] def deleteFilterColumn(f: Filter,
      schema: StructType): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    def known(a: String) = schema.fieldNames.contains(a)
    def rec(g: Filter) = deleteFilterColumn(g, schema)
    f match {
      case EqualTo(a, v) if known(a) => Some(col(a) === lit(v))
      case In(a, vs) if known(a) =>
        Some(col(a).isin(vs.toIndexedSeq: _*))
      case GreaterThan(a, v) if known(a) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) if known(a) => Some(col(a) >= lit(v))
      case LessThan(a, v) if known(a) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) if known(a) => Some(col(a) <= lit(v))
      case IsNull(a) if known(a) => Some(col(a).isNull)
      case IsNotNull(a) if known(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) if known(a) =>
        Some(col(a).startsWith(v))
      case And(l, r) => for (a <- rec(l); b <- rec(r)) yield a && b
      case Or(l, r) => for (a <- rec(l); b <- rec(r)) yield a || b
      case Not(c) => rec(c).map(x => !x)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** Whether `path` committed with the sorted-shards marker. */
  private[sources] def isSorted(path: String): Boolean =
    sessionFs(new java.net.URI(path))
      .exists(new Path(path, SortedMarker))

  /** Shard count of `path`, when its marker says it was written sharded.
    * One tiny driver-side read; absence = an ordinary unsharded dir. */
  def shardCount(path: String): Option[Int] = {
    val p = new Path(path, ShardsMarker)
    val fs = sessionFs(new java.net.URI(path))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val buf = new Array[Byte](32)
      val n = try in.read(buf) finally in.close()
      val v = new String(buf, 0, math.max(0, n), "UTF-8").trim.toInt
      require(v >= 1, s"corrupt $ShardsMarker under $path: $v")
      Some(v)
    }
  }

  /** The session's Hadoop configuration as a serializable map — captured on
    * the driver (factories close over it) and rebuilt per task, so
    * spark.hadoop.* settings (object-store credentials, fs.defaultFS)
    * reach the connector's executor-side FileSystem calls. A bare
    * `new Configuration()` would silently ignore the session's settings. */
  private def sessionConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  def sessionConfMap(): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    sessionConf().iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  private[sources] def confFrom(m: Map[String, String]): Configuration = {
    val c = new Configuration(false)
    m.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private[sources] def sessionFs(uri: java.net.URI): FileSystem =
    FileSystem.get(uri, sessionConf())

  /** Shared split planning for the row scan and the aggregate scan (see
    * KvScan.planInputPartitions for the range protocol). */
  private[sources] def planSplits(path: String,
      maxSplitBytes: Long): Array[InputPartition] = {
    val fs = sessionFs(new java.net.URI(path))
    fs.listStatus(new Path(path))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .flatMap { s =>
        val len = s.getLen
        // overflow-safe ceil-div: the additive form (len + max - 1) wraps
        // negative when maxSplitBytes is huge (estimateStatistics passes
        // Long.MaxValue) and only the max-clamp below saved it by accident
        val n = math.max(1L,
          len / maxSplitBytes + (if (len % maxSplitBytes == 0L) 0L else 1L))
        (0L until n).map { k =>
          val off = k * maxSplitBytes // k < n so off < len: never wraps
          KvInputPartition(s.getPath.toString, off,
            off + math.min(maxSplitBytes, len - off)): InputPartition
        }
      }
  }
}

class KvTextSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // the shard column exists for dirs WRITTEN sharded (marker present) and
    // for the write that is about to create one (`shards` option) — the
    // first sharded write has no marker yet, but name-resolution of the
    // incoming (key, value, shard) rows needs the column on the table
    val path = options.get("path")
    val sharded = options.containsKey("shards") ||
      (path != null && KvTextSource.shardCount(path).isDefined)
    if (sharded) KvTextSource.ShardedSchema else KvTextSource.Schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new KvTable(properties.get("path"),
      declaredSharded = properties.containsKey("shards"))
}

/** `declaredSharded` carries the `shards` write option through getTable:
  * the FIRST sharded write has no `_SHARDS` marker yet, but byName
  * resolution of its (key, value, shard) rows needs the column on the
  * table schema already. */
final class KvTable(path: String, declaredSharded: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  require(path != null, "graft KV source requires a single load(path)")

  // one tiny driver read per table instantiation (the listing the scan
  // does anyway dwarfs it)
  private val shards: Option[Int] = KvTextSource.shardCount(path)
  private val sorted: Boolean =
    shards.isDefined && KvTextSource.isSorted(path)

  override def name(): String = s"graft-kv:$path"
  override def schema(): StructType =
    if (shards.isDefined || declaredSharded) KvTextSource.ShardedSchema
    else KvTextSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvScanBuilder(path,
      options.getLong("maxSplitBytes", 128L * 1024 * 1024),
      Option(options.get("maxFilesPerTrigger")).map { v =>
        val n = v.toInt
        require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
        n
      }, shards,
      Option(options.get("maxBytesPerTrigger")).map { v =>
        val n = v.toLong
        require(n > 0, s"maxBytesPerTrigger must be positive, got $n")
        n
      }, sorted,
      Option(options.get("mode")).map(_.toLowerCase) match {
        case None | Some("failfast") => false
        case Some("dropmalformed") => true
        case Some(other) => throw new IllegalArgumentException(
          s"unknown KV read mode '$other' — failfast (default) or " +
            "dropmalformed")
      })

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new KvWriteBuilder(path, info, shards)

  /** SQL `DELETE FROM ... WHERE` (SupportsDelete) — a REWRITE op, the
    * only delete an immutable text format can honestly offer: one Spark
    * job reads the dir through this same connector (pushdown applies to
    * the survivor scan), keeps every row the predicate does NOT match
    * (NULL-safe: a NULL predicate keeps the row, per SQL DELETE
    * semantics), and lands the survivors through the writer's truncating
    * overwrite — tasks stage files first, the driver commit swaps them
    * in, so readers of the old layout are never half-truncated. Sharded
    * dirs keep their shard count and re-land sorted through the write's
    * RequiresDistributionAndOrdering contract; flat dirs stay flat.
    * Cost is O(dir) by design — like compaction, a scheduled rewrite,
    * never a per-row erase. Predicates beyond the translatable set
    * refuse via [[canDeleteWhere]] (Spark surfaces the analysis error)
    * rather than delete the wrong rows. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(KvTextSource.deleteFilterColumn(_, schema()).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val pred = filters
      .map(f => KvTextSource.deleteFilterColumn(f, schema()).getOrElse(
        sys.error(s"deleteWhere got an untranslatable filter $f — " +
          "canDeleteWhere should have refused")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val df = spark.read.format(classOf[KvTextSource].getName).load(path)
    val survivors = df.where(!org.apache.spark.sql.functions
      .coalesce(pred, org.apache.spark.sql.functions.lit(false)))
    val w = survivors.write.format(classOf[KvTextSource].getName)
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
    shards.fold(w)(n => w.option("shards", n)).save(path)
  }
}

final class KvScanBuilder(path: String, maxSplitBytes: Long,
    maxFilesPerTrigger: Option[Int] = None,
    shards: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    sorted: Boolean = false,
    dropMalformed: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownOffset {

  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, NamedReference, SortDirection, SortOrder => V2SortOrder}
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min, Sum}

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType =
    if (shards.isDefined) KvTextSource.ShardedSchema else KvTextSource.Schema
  private var aggregation: Option[Aggregation] = None
  private var limit: Option[Int] = None
  private var topN: Option[(Seq[(String, Boolean)], Int)] = None
  private var offset: Option[Int] = None

  private def supported(f: Filter): Boolean = f match {
    // shard predicates are PARTITION-pruning filters, not row filters: a
    // sharded listing satisfies them exactly by planning empty file lists
    // for the excluded ids (every row in a shard-s file has shard = s by
    // the committed-name contract), so the point-lookup
    // `shard = pmod(hash(lit(k)), n) AND key = k` reads 1/n of the corpus.
    // Only meaningful when the dir declares shards — the flat schema has
    // no shard column, so the predicate cannot arise there.
    case EqualTo("shard", _) => shards.isDefined
    case In("shard", _) => shards.isDefined
    case EqualTo(a, _) => a == "key" || a == "value"
    case In("key", _) => true // byte-span set membership in the reader
    case GreaterThan("value", _) => true
    case GreaterThanOrEqual("value", _) => true
    case LessThan("value", _) => true
    case LessThanOrEqual("value", _) => true
    case IsNotNull(a) => a == "key" || a == "value" // never null: free
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (take, residual) = filters.partition(supported)
    pushed = take
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregate pushdown (PARTIAL contract — supportCompletePushDown stays
    * false): the reader folds each split's rows into per-key accumulators
    * and emits ONE partial row per (split, key); Spark plans the final
    * merge. At the 100 TB seam this is the row-reduction that matters —
    * a billion KV lines cross the connector boundary as
    * splits × distinct-keys partial rows, not as a billion InternalRows.
    * Supported shape: optional GROUP BY key; COUNT(*), MIN/MAX/SUM(value)
    * (non-distinct — a distinct needs the raw values on the Spark side).
    * Anything else returns false and Spark falls back to the row scan. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    // the agg readers fold raw lines and have no drop path — under
    // dropmalformed the ROW readers own malformed handling and Spark
    // aggregates on top (correct, one less pushdown; never divergent)
    if (dropMalformed) return false
    def col(e: V2Expr): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    val groupOk = agg.groupByExpressions.forall(e => col(e).contains("key"))
    val aggsOk = agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min => col(m.column).contains("value")
        case m: Max => col(m.column).contains("value")
        case s: Sum => !s.isDistinct && col(s.column).contains("value")
        case _ => false
      }
    if (groupOk && aggsOk) { aggregation = Some(agg); true } else false
  }

  /** LIMIT pushdown (PARTIAL contract — isPartiallyPushed stays true, so
    * Spark keeps its own global limit): each reader stops after `limit`
    * rows, bounding parse work per split instead of per corpus. Refused
    * under a pushed aggregation — a cap on PARTIAL rows would drop groups
    * (the plan shapes never co-occur today; this is the defensive seam). */
  override def pushLimit(l: Int): Boolean =
    if (aggregation.isDefined || offset.isDefined) false
    else { limit = Some(l); true }

  /** OFFSET pushdown (SupportsPushDownOffset — a FULL contract, unlike
    * limit/top-N: a `true` here makes Spark DELETE the Offset operator, so
    * the connector owns the skip globally and exactly). That is only
    * well-defined when the scan is a single split reading one file in line
    * order, so the builder accepts iff the current listing plans exactly
    * one split (re-checked at planInputPartitions — a listing that drifted
    * fails loudly rather than skipping k rows per split). The skip counts
    * POST-filter rows (SQL applies OFFSET after WHERE; Spark only attempts
    * the push once every filter is consumed into this builder — a residual
    * Filter node blocks it). Refused under pushed aggregation/limit/top-N:
    * those families never co-occur with a deletable Offset in the rule's
    * own order, so any such call is a contract drift we'd rather surface
    * as a fallback than guess at. This completes the pushdown family
    * (filters / columns / aggregates / limit / top-N / offset / runtime
    * filters) — the paged-read seam: page k of a sorted single-file KV
    * extract re-parses only its own prefix, not the full split. */
  override def pushOffset(k: Int): Boolean =
    if (aggregation.isEmpty && limit.isEmpty && topN.isEmpty && k > 0 &&
        KvTextSource.planSplits(path, maxSplitBytes).length == 1) {
      offset = Some(k); true
    } else false

  /** TOP-N pushdown (PARTIAL contract): each split keeps its k best rows
    * under the requested ordering in a bounded heap — k rows per split
    * cross the connector boundary instead of the split's row count, and
    * Spark's retained Sort+Limit finishes the merge. Supported shape:
    * ordering over bare key/value references (key and value are never
    * null, so null ordering is vacuous); anything else refuses and falls
    * back to the row scan. */
  override def pushTopN(orders: Array[V2SortOrder], l: Int): Boolean = {
    def col(e: V2Expr): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    val parsed = orders.toSeq.map(o => col(o.expression())
      .filter(n => n == "key" || n == "value")
      .map(n => (n, o.direction() == SortDirection.ASCENDING)))
    if (aggregation.isEmpty && offset.isEmpty && parsed.nonEmpty &&
        parsed.forall(_.isDefined)) {
      topN = Some((parsed.flatten, l)); true
    } else false
  }

  // both pushdowns are per-SPLIT caps: Spark must keep its global
  // limit/sort (the two inherited defaults collide, so state it once)
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = aggregation match {
    case Some(agg) => new KvAggScan(path, pushed, agg, maxSplitBytes)
    case None =>
      new KvScan(path, pushed, required, maxSplitBytes, topN, limit, offset,
        maxFilesPerTrigger, shards, maxBytesPerTrigger, sorted,
        dropMalformed)
  }
}

final class KvScan(path: String, filters: Array[Filter], required: StructType,
    maxSplitBytes: Long,
    topN: Option[(Seq[(String, Boolean)], Int)] = None,
    limit: Option[Int] = None,
    offset: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None,
    shards: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    sorted: Boolean = false,
    dropMalformed: Boolean = false) extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** Drop counter for `mode=dropmalformed` reads — surfaces per-scan in
    * the SQL UI, so opted-into drops stay VISIBLE (a silent drop is how a
    * corrupt-feed incident hides for a month). */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new KvMalformedMetric)

  /** STORAGE-PARTITIONED JOIN seam (SupportsReportPartitioning — r14
    * verdict task 6): a dir written SHARDED (rows routed to per-shard
    * files by a caller-computed `shard = hash(key) % n`, the count in the
    * `_SHARDS` marker) reports `KeyGroupedPartitioning(identity(shard), n)`
    * and plans exactly one [[KvShardInputPartition]] per shard id (empty
    * shards included, so two same-n tables always align value-for-value).
    * Under `spark.sql.sources.v2.bucketing.enabled` a join of two such
    * tables on `(shard, key)` — shard equality is implied by key equality
    * whenever both sides used the same n and hash, which the caller owns —
    * satisfies both children's distribution from storage and plans with NO
    * shuffle exchange: the connector twin of the bucketed-table join, the
    * planner asymmetry this closes. Identity transforms resolve without a
    * function catalog, which is what makes this work for a path-based
    * table; a `bucket(n, key)` transform would need a catalog to own the
    * function definition. Unsharded dirs report the usual unknown
    * partitioning and plan per-file byte-range splits as before. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    shards match {
      case Some(n) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(Array(
            org.apache.spark.sql.connector.expressions.Expressions
              .identity("shard")), n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** SORT-ORDER reporting (SupportsReportOrdering — the other half of the
    * sorted-bucketed-table shape [[outputPartitioning]] opens): a sharded
    * dir whose commit kept the `_SORTED` marker (every shard = one file of
    * nondecreasing binary-ordered keys, verified row-by-row AT WRITE by
    * [[KvShardedDataWriter]]) genuinely yields each partition's rows
    * ordered by (shard, key) — shard is constant within a partition and
    * keys ascend — so the scan declares that ordering and a sort-merge
    * join on (shard, key) over two such tables plans with NO Sort on
    * either side, on top of the NO-Exchange the key-grouped partitioning
    * already gives: the full sorted-bucketed join, entirely from storage.
    * At 100 TB that removes the dominant remaining cost of the recurring
    * fact-fact join — two corpus-wide sorts per execution. Declared only
    * when nothing rearranges or short-circuits rows (no pushed
    * topN/limit/offset) and both ordering columns survive projection
    * pruning; filters (static or runtime) only DROP rows, which preserves
    * order. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (sorted && shards.isDefined && topN.isEmpty && limit.isEmpty &&
        offset.isEmpty &&
        Seq("shard", "key").forall(required.fieldNames.contains)) {
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
      Array(
        Expressions.sort(Expressions.column("shard"),
          SortDirection.ASCENDING),
        Expressions.sort(Expressions.column("key"),
          SortDirection.ASCENDING))
    } else Array.empty

  // RUNTIME filters (SupportsRuntimeFiltering): under a DPP-shaped join,
  // Spark executes the build side first, collects its join keys, and
  // hands the scan an In("key", …) here BEFORE re-planning partitions —
  // the readers then row-filter on the byte-span set exactly like a
  // static pushed In. Splits cannot be pruned by key (text files carry
  // no key index), so the benefit is row-level: filtered rows never
  // become InternalRows. Unsupported runtime predicates are ignored, as
  // the interface allows.
  private var runtime: Array[Filter] = Array.empty

  /** True for the shard predicates the scan satisfies by PARTITION pruning
    * (see [[shardKeep]]) — they are stripped before the row readers, which
    * know nothing of the shard column. */
  private def isShardFilter(f: Filter): Boolean = f match {
    case EqualTo("shard", _) | In("shard", _) => true
    case _ => false
  }

  /** Shard ids admitted by the pushed + runtime shard predicates:
    * None = no shard predicate (keep every shard); Some(ids) = plan the
    * excluded shards as EMPTY file lists. Pruning, not dropping, keeps the
    * partition count at n so [[outputPartitioning]]'s KeyGroupedPartitioning
    * contract — one partition per shard id, aligned value-for-value with
    * any same-n table — survives a pruned scan inside a storage-partitioned
    * join. Exactness: every row in a shard-s file has shard = s (the
    * committed -sNNNNN name is the single source of the column), so an
    * empty list for excluded ids enforces the predicate completely.
    * A null comparand admits nothing (SQL: `shard = NULL` matches no row);
    * a non-integer comparand is a contract drift — loud, never a silent
    * full scan that would mask a planner change. */
  private def shardKeep(n: Int): Option[Set[Int]] = {
    def id(v: Any): Option[Int] = v match {
      case null => None
      case num: java.lang.Number => Some(num.intValue())
      case other => throw new IllegalStateException(
        s"shard filter carries non-integer comparand $other " +
          s"(${other.getClass.getName}) — pushdown contract drift")
    }
    val sets = (filters ++ runtime).collect {
      case EqualTo("shard", v) => id(v).toSet
      case In("shard", vs) => vs.flatMap(id(_)).toSet
    }
    if (sets.isEmpty) None
    else Some(sets.reduce(_ intersect _).filter(s => s >= 0 && s < n))
  }

  // With a pushed offset the Offset operator is GONE from the plan, so a
  // runtime filter arriving later would change WHICH rows the skip counts
  // (offset semantically precedes any join-side filtering). Declining to
  // advertise filterable attributes keeps the planner from planting one.
  // Sharded dirs additionally advertise the shard column: a DPP-shaped
  // join that builds a shard id set prunes whole partitions at runtime
  // (planInputPartitions runs after filter()), the partition-level twin
  // of the row-level key filtering below.
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (offset.isDefined) Array.empty
    else if (shards.isDefined) Array(
      org.apache.spark.sql.connector.expressions.Expressions.column("key"),
      org.apache.spark.sql.connector.expressions.Expressions.column("shard"))
    else Array(
      org.apache.spark.sql.connector.expressions.Expressions.column("key"))

  override def filter(runtimeFilters: Array[Filter]): Unit =
    runtime = runtimeFilters.filter {
      case In("key", _) | EqualTo("key", _) => true
      case In("shard", _) | EqualTo("shard", _) => shards.isDefined
      case _ => false
    }

  /** Size statistics from the file listing (SupportsReportStatistics):
    * without them a V2 relation costs at `defaultSizeInBytes` (≈ ∞) and
    * can never win a broadcast — with them, a dimension-sized KV dir
    * broadcasts like any small table. Row count is estimated from an
    * average line width; both are estimates, which is all the join
    * planner needs. */
  override def estimateStatistics(): Statistics = {
    val listed = KvTextSource.planSplits(path, Long.MaxValue)
      .map(_.asInstanceOf[KvInputPartition].end).sum
    // a shard-pruned scan reads keep/n of the listing — report that, so a
    // point-looked-up sharded table costs (and broadcasts) like the
    // fraction it actually reads
    val bytes = shards.flatMap(n => shardKeep(n).map(k =>
      listed * k.size / math.max(1, n))).getOrElse(listed)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bytes / 16L))
    }
  }

  override def readSchema(): StructType = required

  // surfaces in .explain so tests can pin that pushdown/pruning happened
  override def description(): String = {
    val t = topN.map { case (os, k) =>
      val o = os.map { case (n, asc) => s"$n ${if (asc) "ASC" else "DESC"}" }
      s" PushedTopN: [${o.mkString(", ")}],$k"
    }.getOrElse("")
    val lm = limit.filter(_ => topN.isEmpty)
      .map(k => s" PushedLimit: $k").getOrElse("")
    val off = offset.map(k => s" PushedOffset: $k").getOrElse("")
    val ps = shards.flatMap(n => shardKeep(n).map(k =>
      s" PrunedShards: ${k.size}/$n")).getOrElse("")
    val so = if (outputOrdering().nonEmpty) " SortedShards: true" else ""
    s"graft-kv $path PushedFilters: ${filters.mkString("[", ", ", "]")}$t$lm$off$ps$so " +
      s"ReadSchema: ${required.fieldNames.mkString(",")}"
  }

  override def toBatch: Batch = this

  /** Offset-range split planning: large files break into maxSplitBytes
    * ranges (so ONE 100 GB file still fans across the cluster), with the
    * TextInputFormat line protocol reconciling ranges to whole records —
    * a reader owns every line whose first byte lies in [start, end], and a
    * non-zero start discards its leading partial line because the previous
    * range reads through it. The driver only lists; no content reads. */
  override def planInputPartitions(): Array[InputPartition] = shards match {
    case Some(n) =>
      // one partition per shard id, files grouped by the committed-name
      // suffix; a file without the suffix means a mixed/hand-edited dir —
      // loud, because serving it under a key-grouped contract would
      // silently mis-join
      val fs = KvTextSource.sessionFs(new java.net.URI(path))
      val byShard = fs.listStatus(new Path(path))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
        .map { s =>
          val name = s.getPath.getName
          val shard = name match {
            case KvTextSource.ShardRe(d) => d.toInt
            case _ => throw new IllegalStateException(
              s"file $name in sharded KV dir $path carries no -sNNNNN " +
                "shard suffix — mixed or hand-edited layout")
          }
          require(shard < n, s"file $name claims shard $shard but " +
            s"$path declares $n shards — stale marker or mixed layout")
          shard -> ((s.getPath.toString, s.getLen))
        }.groupBy(_._1)
      val keep = shardKeep(n)
      Array.tabulate[InputPartition](n) { shard =>
        KvShardInputPartition(shard,
          if (keep.forall(_.contains(shard)))
            byShard.getOrElse(shard, Array.empty).map(_._2)
          else Array.empty)
      }
    case None =>
      val splits = KvTextSource.planSplits(path, maxSplitBytes)
      // the full-offset contract only holds single-split (see pushOffset);
      // a listing that grew between builder and batch planning must fail
      // loudly, never skip k rows per split
      require(offset.isEmpty || splits.length == 1,
        s"pushed offset requires a single split, listing now plans " +
          s"${splits.length} — directory changed after planning")
      splits
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // shard predicates are fully discharged by partition pruning above;
    // the byte-level row readers know only key/value spans
    new KvReaderFactory((filters ++ runtime).filterNot(isShardFilter),
      required, KvTextSource.sessionConfMap(), topN, limit, offset,
      dropMalformed)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // the micro-batch reader has no shard partitions to prune and its row
    // readers cannot evaluate a shard predicate — serving one silently
    // would stream every shard's rows as if the filter held
    require(!filters.exists(isShardFilter),
      s"shard filters cannot push into the streaming scan of $path — " +
        "filter on key/value, or stream the dir unsharded")
    new KvMicroBatchStream(path, filters, required,
      KvTextSource.sessionConfMap(), maxFilesPerTrigger, maxBytesPerTrigger,
      dropMalformed)
  }
}

/** Offset of the KV micro-batch stream: the count of CLAIMED files plus
  * the last claimed name as a replay witness. The source's append-only
  * contract — new files sort lexicographically AFTER every claimed file
  * (rotation-style naming: b0001_*, b0002_*, …) — is what makes the
  * count a stable offset: the first `n` names are the same set on every
  * replay. [[KvMicroBatchStream.planInputPartitions]] verifies the
  * witness on every batch and fails LOUDLY on a violation (a file
  * inserted before the frontier would silently shift the replay set —
  * the exactly-once hazard this witness exists to catch). */
final case class KvStreamOffset(n: Int, lastName: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  // lastName is a FILE NAME and goes into the checkpoint verbatim: a quote
  // or backslash in it would corrupt the offset JSON (and so the
  // checkpoint) without escaping
  override def json(): String =
    s"""{"n":$n,"last":"${KvStreamOffset.esc(lastName)}"}"""
}

object KvStreamOffset {
  private[sources] def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  private[sources] def unesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) s.charAt(i + 1) match {
        case 'u' =>
          b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
          i += 6
        case e => b += e; i += 2
      } else { b += c; i += 1 }
    }
    b.toString
  }
}

/** File-discovery micro-batch stream over the same KV dir the batch scan
  * reads: each trigger claims the files that arrived since the previous
  * offset (whole-file partitions — ingest batches are file-granular), and
  * the reader factory is the ordinary byte-level row reader, pushed
  * filters and pruned columns included. Offsets serialize to the
  * checkpoint, so a restarted query resumes at the exact file frontier —
  * the custom-connector twin of FileStreamSource with the file list
  * replaced by the monotone-name contract (see [[KvStreamOffset]]). */
final class KvMicroBatchStream(path: String, filters: Array[Filter],
    required: StructType, confMap: Map[String, String],
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    dropMalformed: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles}

  private def listFiles(): Array[(String, String, Long)] = {
    val fs = KvTextSource.sessionFs(new java.net.URI(path))
    fs.listStatus(new Path(path))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => (s.getPath.getName, s.getPath.toString, s.getLen))
      .sortBy(_._1)
  }

  override def initialOffset(): Offset = KvStreamOffset(0, "")

  override def latestOffset(): Offset = {
    val fs = listFiles()
    KvStreamOffset(fs.length, fs.lastOption.map(_._1).getOrElse(""))
  }

  /** ADMISSION CONTROL (SupportsAdmissionControl): at sustained 100 TB
    * ingest, "process everything that arrived" is not a batch plan — a
    * backlog after downtime would form one giant micro-batch that blows
    * state-store memory and checkpoint latency. `maxFilesPerTrigger` caps
    * each trigger at the next k files past the committed frontier;
    * `maxBytesPerTrigger` caps it by the LISTING's file sizes (no content
    * read — the size is free metadata), which is the cap that actually
    * tracks batch COST when ingest files vary 1000× in size. Both compose
    * (composite limit = the tighter cap wins per trigger). The frontier
    * stays count-based, so paced offsets compose with the replay witness
    * and restart path unchanged; row limits (no row counts exist without
    * reading the files) conservatively admit all available, as the
    * interface permits. */
  override def getDefaultReadLimit: ReadLimit = {
    val caps = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    caps match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Trigger.AvailableNow (SupportsTriggerAvailableNow): the engine asks
    * the source to FREEZE its end bound before the run — "process what
    * exists now in paced batches, then stop" — the production
    * batch-over-stream pattern (nightly catch-up jobs reusing the
    * streaming checkpoint). Files that arrive after the freeze wait for
    * the next run; paced batches never cross the frozen frontier. */
  @volatile private var frozen: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    frozen = Some(listFiles().length)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[KvStreamOffset]
    val files = listFiles()
    require(files.length >= s.n,
      s"KV stream dir $path shrank below the committed frontier " +
        s"(${files.length} files < offset ${s.n}) — source files are " +
        "append-only")
    val avail = frozen.fold(files.length)(math.min(_, files.length))
    def cap(l: ReadLimit): Int = l match {
      case mf: ReadMaxFiles => math.min(avail, s.n + mf.maxFiles())
      case mb: ReadMaxBytes =>
        // admit files past the frontier until the next one would cross the
        // byte budget — but always at least one (an oversized single file
        // must still make progress, Spark's own file-source semantics)
        var n = s.n
        var budget = mb.maxBytes()
        while (n < avail &&
            (n == s.n || files(n)._3 <= budget)) {
          budget -= files(n)._3
          n += 1
        }
        n
      case c: CompositeReadLimit => c.getReadLimits.map(cap).min
      case _: ReadAllAvailable => avail
      case _ => avail // row limits: no counts without reads
    }
    val n = cap(limit)
    // nothing claimable and nothing committed: no offset at all, so Spark
    // plans no batch (the contract's "null if there is no data to
    // process"); the initial (0, "") would read as new data and run an
    // empty batch 0
    if (n == 0) null else KvStreamOffset(n, files(n - 1)._1)
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset = {
    val m = """\{"n":(\d+),"last":"(.*)"\}""".r
    json match {
      case m(n, last) => KvStreamOffset(n.toInt, KvStreamOffset.unesc(last))
      case _ => throw new IllegalArgumentException(
        s"malformed KV stream offset: $json")
    }
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KvStreamOffset]
    val e = end.asInstanceOf[KvStreamOffset]
    val files = listFiles()
    require(files.length >= e.n,
      s"KV stream dir $path shrank below the committed frontier " +
        s"(${files.length} files < offset ${e.n}) — source files are " +
        "append-only")
    if (s.n > 0) require(files(s.n - 1)._1 == s.lastName,
      s"KV stream append-only contract violated under $path: file " +
        s"${files(s.n - 1)._1} sorts at the committed frontier where " +
        s"${s.lastName} was claimed — a late file inserted below the " +
        "frontier would silently corrupt replay; name ingest files in " +
        "increasing order (b0001_*, b0002_*, …)")
    files.slice(s.n, e.n).map { case (_, full, len) =>
      KvInputPartition(full, 0L, len): InputPartition
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KvReaderFactory(filters, required, confMap,
      dropMalformed = dropMalformed)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Aggregate-pushdown scan (see [[KvScanBuilder.pushAggregation]]): the
  * same split planning, but each split's reader folds matching rows into
  * per-key accumulators and emits ONE PARTIAL ROW per (split, key) —
  * [group key?, agg₀, agg₁, …] positionally, the V2 partial contract —
  * and Spark plans the final merge (sum of counts, min of mins, …).
  * Aggregate kinds travel to executors as a compact Int encoding rather
  * than the connector Aggregation object (no serializability contract). */
final class KvAggScan(path: String, filters: Array[Filter],
    agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
    maxSplitBytes: Long) extends Scan with Batch {
  import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min, Sum}

  private val grouped = agg.groupByExpressions.nonEmpty
  // 0=count(*), 1=min(value), 2=max(value), 3=sum(value)
  private val kinds: Array[Int] = agg.aggregateExpressions.map {
    case _: CountStar => 0
    case _: Min => 1
    case _: Max => 2
    case _: Sum => 3
    case other => throw new IllegalStateException(s"unpushable agg $other")
  }

  override def readSchema(): StructType = StructType(
    (if (grouped) Seq(StructField("key", StringType)) else Nil) ++
      kinds.indices.map(i => StructField(s"agg_$i", LongType)))

  // surfaces in .explain so tests can pin that the aggregate was pushed
  override def description(): String =
    s"graft-kv $path PushedAggregation: " +
      s"${agg.aggregateExpressions.mkString("[", ", ", "]")} GroupBy: " +
      s"${agg.groupByExpressions.mkString("[", ", ", "]")} PushedFilters: " +
      filters.mkString("[", ", ", "]")

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    KvTextSource.planSplits(path, maxSplitBytes)

  override def createReaderFactory(): PartitionReaderFactory =
    new KvAggReaderFactory(filters, kinds, grouped,
      KvTextSource.sessionConfMap())
}

final case class KvInputPartition(file: String, start: Long, end: Long)
    extends InputPartition

/** One SHARD of a sharded KV dir: all its files, whole (ingest is
  * file-granular per shard), plus the shard id as the partition key the
  * storage-partitioned join aligns on. */
final case class KvShardInputPartition(shard: Int,
    files: Array[(String, Long)]) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = {
    val r = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(1)
    r.setInt(0, shard)
    r
  }
}

final class KvReaderFactory(filters: Array[Filter], required: StructType,
    confMap: Map[String, String],
    topN: Option[(Seq[(String, Boolean)], Int)] = None,
    limit: Option[Int] = None,
    offset: Option[Int] = None,
    dropMalformed: Boolean = false) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val base = p match {
      case kp: KvInputPartition =>
        new KvPartitionReader(kp.file, kp.start, kp.end, filters,
          required, confMap, dropMalformed)
      case sp: KvShardInputPartition =>
        new KvShardPartitionReader(sp, filters, required, confMap,
          dropMalformed)
    }
    topN match {
      case Some((orders, k)) =>
        new KvTopNPartitionReader(base, required, orders, k)
      case None => (limit, offset) match {
        case (Some(k), _) => new KvLimitPartitionReader(base, k)
        case (None, Some(k)) => new KvOffsetPartitionReader(base, k)
        case _ => base
      }
    }
  }
}

/** Chains the byte-level row reader over a shard's files and supplies the
  * constant `shard` column for whichever slots the projection asks it in —
  * the per-row cost is the same field-copy loop the flat reader runs. */
final class KvShardPartitionReader(p: KvShardInputPartition,
    filters: Array[Filter], required: StructType,
    confMap: Map[String, String],
    dropMalformed: Boolean = false)
    extends PartitionReader[InternalRow] {

  private val innerSchema = StructType(required.filter(_.name != "shard"))
  // (outer slot, inner slot) for passthrough fields; shard slots are set
  // once — the reused row never changes them
  private val passthrough: Array[(Int, Int)] = {
    var j = -1
    required.fieldNames.zipWithIndex.flatMap {
      case ("shard", _) => None
      case (_, i) => j += 1; Some((i, j))
    }.toArray
  }
  private val reused = new org.apache.spark.sql.catalyst.expressions
    .GenericInternalRow(required.length)
  required.fieldNames.zipWithIndex.foreach {
    case ("shard", i) => reused.setInt(i, p.shard)
    case _ => ()
  }

  private var fileIdx = 0
  private var cur: PartitionReader[InternalRow] = null

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (fileIdx >= p.files.length) return false
        val (f, len) = p.files(fileIdx)
        fileIdx += 1
        cur = new KvPartitionReader(f, 0L, len, filters, innerSchema,
          confMap, dropMalformed)
      }
      if (cur.next()) {
        val in = cur.get()
        var k = 0
        while (k < passthrough.length) {
          val (o, j) = passthrough(k)
          reused.update(o, in.get(j, innerSchema.fields(j).dataType))
          k += 1
        }
        return true
      }
      foldDrops(cur)
      cur.close()
      cur = null
    }
    false // unreachable
  }
  override def get(): InternalRow = reused
  override def close(): Unit = if (cur != null) cur.close()

  private var droppedBefore = 0L
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    // finished inner readers are gone — fold their final counts as they
    // close (next() rotates files), plus the live reader's running count
    val live = cur match {
      case r: KvPartitionReader => r.droppedCount
      case _ => 0L
    }
    Array(KvMalformedTaskMetric(droppedBefore + live))
  }

  // fold a finishing file's drops before rotating past it
  private def foldDrops(r: PartitionReader[InternalRow]): Unit = r match {
    case kr: KvPartitionReader => droppedBefore += kr.droppedCount
    case _ => ()
  }
}

/** Pushed-OFFSET wrapper (full contract, single-split by construction —
  * see KvScanBuilder.pushOffset): discards the first `k` post-filter rows
  * without materializing them past the parse, then streams the rest. */
final class KvOffsetPartitionReader(inner: PartitionReader[InternalRow],
    k: Int) extends PartitionReader[InternalRow] {
  private var skipped = 0
  override def next(): Boolean = {
    while (skipped < k && inner.next()) skipped += 1
    skipped >= k && inner.next()
  }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}

/** Pushed-LIMIT wrapper: stops the byte-parse loop after `k` rows — the
  * per-split cap of the partial contract (Spark's retained global limit
  * finishes the job). */
final class KvLimitPartitionReader(inner: PartitionReader[InternalRow],
    k: Int) extends PartitionReader[InternalRow] {
  private var n = 0
  override def next(): Boolean =
    n < k && inner.next() && { n += 1; true }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}

/** Pushed-TOP-N wrapper: folds the split through a bounded k-row heap
  * under the requested (column, direction) ordering and emits the k best
  * in ARBITRARY order — the partial contract lets Spark's retained Sort
  * finish, so only k rows per split ever cross the connector boundary.
  * Rows are copied out of the inner reader's reused slot (its UTF8Strings
  * already own their bytes); memory is O(k), never split-sized. The sort
  * columns are guaranteed present in `required`: Spark keeps the Sort it
  * pushed partially, so its references survive column pruning. */
final class KvTopNPartitionReader(inner: PartitionReader[InternalRow],
    required: StructType, orders: Seq[(String, Boolean)], k: Int)
    extends PartitionReader[InternalRow] {

  private val ords: Seq[(Int, Boolean, Boolean)] = orders.map {
    case (name, asc) =>
      val i = required.fieldNames.indexOf(name)
      require(i >= 0, s"top-N sort column $name missing from read schema " +
        s"(${required.fieldNames.mkString(",")}) — planner contract breach")
      (i, asc, required.fields(i).dataType == StringType)
  }

  private val cmp = new java.util.Comparator[InternalRow] {
    override def compare(a: InternalRow, b: InternalRow): Int = {
      var r = 0
      val it = ords.iterator
      while (r == 0 && it.hasNext) {
        val (i, asc, isStr) = it.next()
        val c =
          if (isStr) a.getUTF8String(i).compareTo(b.getUTF8String(i))
          else java.lang.Long.compare(a.getLong(i), b.getLong(i))
        r = if (asc) c else -c
      }
      r
    }
  }

  private lazy val top: java.util.Iterator[InternalRow] = {
    // keep the k FIRST rows of the requested order: max-heap on cmp so
    // the current worst sits at the root and loses to any better row
    val heap = new java.util.PriorityQueue[InternalRow](
      math.max(1, k), cmp.reversed())
    while (inner.next()) {
      val r = inner.get()
      if (heap.size < k) heap.add(r.copy())
      else if (cmp.compare(r, heap.peek()) < 0) {
        heap.poll(); heap.add(r.copy()): Unit
      }
    }
    heap.iterator()
  }

  private var cur: InternalRow = _
  override def next(): Boolean =
    if (top.hasNext) { cur = top.next(); true } else false
  override def get(): InternalRow = cur
  override def close(): Unit = inner.close()
}

final class KvAggReaderFactory(filters: Array[Filter], kinds: Array[Int],
    grouped: Boolean, confMap: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val kp = p.asInstanceOf[KvInputPartition]
    new KvAggPartitionReader(kp.file, kp.start, kp.end, filters, kinds,
      grouped, confMap)
  }
}

/** Folds one split's (filtered) rows into per-key accumulators and emits
  * the partial rows. Wraps the ordinary [[KvPartitionReader]] for the
  * byte-level parse/filter loop, requesting only the columns the pushed
  * aggregation needs (count(*)-only never materializes a key string or
  * value beyond the parse). Sum partials wrap on overflow exactly as
  * Spark's own non-ANSI long Sum does — same semantics either side of the
  * boundary. Empty splits emit nothing: the final aggregate's init values
  * (count 0, null min) cover the all-empty case. */
final class KvAggPartitionReader(file: String, start: Long, end: Long,
    filters: Array[Filter], kinds: Array[Int], grouped: Boolean,
    confMap: Map[String, String]) extends PartitionReader[InternalRow] {

  private val needsValue = kinds.exists(_ != 0)
  private val innerSchema = StructType(
    (if (grouped) Seq(StructField("key", StringType)) else Nil) ++
      (if (needsValue) Seq(StructField("value", LongType)) else Nil))
  private val inner = new KvPartitionReader(file, start, end, filters,
    innerSchema, confMap)
  private val valIdx = if (needsValue) (if (grouped) 1 else 0) else -1

  private def fresh(): Array[Long] = kinds.map {
    case 0 => 0L
    case 1 => Long.MaxValue
    case 2 => Long.MinValue
    case _ => 0L
  }

  private def fold(acc: Array[Long], v: Long): Unit = {
    var i = 0
    while (i < kinds.length) {
      kinds(i) match {
        case 0 => acc(i) += 1L
        case 1 => if (v < acc(i)) acc(i) = v
        case 2 => if (v > acc(i)) acc(i) = v
        case _ => acc(i) += v
      }
      i += 1
    }
  }

  private def toRow(key: UTF8String, acc: Array[Long]): InternalRow = {
    val off = if (grouped) 1 else 0
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      off + kinds.length)
    if (grouped) row.update(0, key)
    var i = 0
    while (i < kinds.length) { row.setLong(off + i, acc(i)); i += 1 }
    row
  }

  private lazy val partials: Iterator[InternalRow] = {
    if (grouped) {
      // per-split distinct-key-sized map — the partial the format exists
      // for; the inner reader copies each key's bytes per row, so the
      // UTF8String stored here never aliases the reused line buffer
      val m = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
      while (inner.next()) {
        val r = inner.get()
        val k = r.getUTF8String(0)
        var acc = m.get(k)
        if (acc == null) { acc = fresh(); m.put(k, acc) }
        fold(acc, if (valIdx >= 0) r.getLong(valIdx) else 0L)
      }
      import scala.jdk.CollectionConverters._
      m.entrySet().iterator().asScala.map(e => toRow(e.getKey, e.getValue))
    } else {
      val acc = fresh()
      var any = false
      while (inner.next()) {
        any = true
        fold(acc, if (valIdx >= 0) inner.get().getLong(valIdx) else 0L)
      }
      if (any) Iterator(toRow(null, acc)) else Iterator.empty
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (partials.hasNext) { current = partials.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

/** Streams one [start, end) byte range of one file: raw byte lines (UTF-8
  * never embeds 0x0A in a multi-byte sequence, so byte-splitting on \n is
  * exact) → parse → filter on primitives → project required columns.
  *
  * The hot loop works on BYTES end to end: lines accumulate in a reusable
  * buffer filled from a private 64 KiB chunk (one stream read per chunk —
  * never a synchronized per-byte call), the value parses straight from its
  * byte span, pushed key equalities compare byte spans against
  * pre-encoded filter bytes, and the key decodes to a UTF8String ONLY when
  * the projection actually requires the column — so `SELECT sum(value)`
  * allocates nothing per row beyond the reused InternalRow slot, which is
  * what the column-pruning claim above means at the 100 TB seam.
  *
  * Range protocol: a line belongs to the range holding its first byte
  * (reading runs while lineStart <= end, so a line opening exactly at
  * `end` is this range's); a non-zero start discards its leading (possibly
  * partial) line — the preceding range finishes it. */
final class KvPartitionReader(file: String, start: Long, end: Long,
    filters: Array[Filter], required: StructType,
    confMap: Map[String, String],
    dropMalformed: Boolean = false)
    extends PartitionReader[InternalRow] {

  /** Lines skipped under `mode=dropmalformed` — surfaced as a custom scan
    * metric so opted-into drops stay visible in the SQL UI. */
  private[sources] var droppedCount = 0L

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(KvMalformedTaskMetric(droppedCount))

  private val in = {
    val p = new Path(file)
    val fs = FileSystem.get(p.toUri, KvTextSource.confFrom(confMap))
    val s = fs.open(p)
    if (start > 0) s.seek(start)
    s
  }
  private var pos = start

  // chunked reading state: one in.read() per 64 KiB, scanned in place
  private val chunk = new Array[Byte](1 << 16)
  private var chunkLen = 0
  private var chunkPos = 0
  // reusable line buffer (grows to the longest line seen, then stable)
  private var line = new Array[Byte](256)
  private var lineLen = 0

  // pushed filters, pre-compiled off the hot path: key equalities as
  // UTF-8 byte arrays (span-compared, no decode), value predicates as
  // primitive lambdas; anything else is a planner bug — fail at open
  private val keyEqBytes: Array[Array[Byte]] = filters.collect {
    case EqualTo("key", v) =>
      v.asInstanceOf[String].getBytes(StandardCharsets.UTF_8)
  }
  // key IN (...) — static pushdown or a runtime (DPP) filter; each set is
  // a conjunct, a row passes a set when ANY member span-matches
  private val keyInBytes: Array[Array[Array[Byte]]] = filters.collect {
    case In("key", vs) =>
      vs.map(v => v.asInstanceOf[String].getBytes(StandardCharsets.UTF_8))
  }
  private val valuePreds: Array[Long => Boolean] = filters.collect {
    case EqualTo("value", v) => val t = toLong(v); (x: Long) => x == t
    case GreaterThan("value", v) => val t = toLong(v); (x: Long) => x > t
    case GreaterThanOrEqual("value", v) =>
      val t = toLong(v); (x: Long) => x >= t
    case LessThan("value", v) => val t = toLong(v); (x: Long) => x < t
    case LessThanOrEqual("value", v) => val t = toLong(v); (x: Long) => x <= t
  }
  filters.foreach {
    case EqualTo("key", _) | EqualTo("value", _) | In("key", _)
        | GreaterThan("value", _) | GreaterThanOrEqual("value", _)
        | LessThan("value", _) | LessThanOrEqual("value", _)
        | IsNotNull(_) => ()
    case f => throw new IllegalStateException(s"unpushable filter $f")
  }

  // projection plan: slot i of the reused row holds field fieldIdx(i)
  // (0 = key, 1 = value)
  private val fieldIdx: Array[Int] = required.fieldNames.map {
    case "key" => 0
    case "value" => 1
  }
  private val reused =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      fieldIdx.length)

  private def toLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case other => other.toString.toLong
  }

  private def refill(): Boolean = {
    chunkLen = in.read(chunk)
    chunkPos = 0
    chunkLen > 0
  }

  /** Read one line into `line` (excluding the \n). Returns the bytes
    * consumed from the stream (including the \n when present), or -1 at
    * EOF with no bytes. */
  private def readLineBytes(): Int = {
    lineLen = 0
    var consumed = 0
    var sawAny = false
    while (true) {
      if (chunkPos >= chunkLen) {
        if (!refill()) return if (sawAny) consumed else -1
      }
      sawAny = true
      var i = chunkPos
      var nl = -1
      while (i < chunkLen && nl < 0) {
        if (chunk(i) == '\n') nl = i
        i += 1
      }
      val upto = if (nl >= 0) nl else chunkLen
      val n = upto - chunkPos
      if (lineLen + n > line.length) {
        val grown = new Array[Byte](math.max(line.length * 2, lineLen + n))
        System.arraycopy(line, 0, grown, 0, lineLen)
        line = grown
      }
      System.arraycopy(chunk, chunkPos, line, lineLen, n)
      lineLen += n
      consumed += n
      if (nl >= 0) {
        chunkPos = nl + 1
        return consumed + 1
      }
      chunkPos = chunkLen
    }
    -1 // unreachable
  }

  // a non-zero start discards the partial line the previous range finishes
  if (start > 0) {
    val c = readLineBytes()
    if (c > 0) pos += c
  }

  private var parsedValue = 0L

  /** Parse the value span into [[parsedValue]]; false = malformed (empty
    * or non-digit), which FAILFAST turns into the loud error and
    * dropmalformed into a counted skip. */
  private def tryParseValue(from: Int): Boolean = {
    var i = from
    var neg = false
    if (i < lineLen && line(i) == '-') { neg = true; i += 1 }
    if (i >= lineLen) return false
    var v = 0L
    while (i < lineLen) {
      val d = line(i) - '0'
      if (d < 0 || d > 9) return false
      v = v * 10 + d
      i += 1
    }
    parsedValue = if (neg) -v else v
    true
  }

  private def malformed(): String =
    s"malformed KV line in $file: " +
      new String(line, 0, lineLen, StandardCharsets.UTF_8)

  private def keySpanMatches(want: Array[Byte], tab: Int): Boolean = {
    if (want.length != tab) return false
    var i = 0
    while (i < tab) {
      if (line(i) != want(i)) return false
      i += 1
    }
    true
  }

  /** A malformed line under dropmalformed: count + skip; under failfast:
    * the loud stop. Returns whether the caller should skip to the next
    * line (always true — failfast throws instead of returning). */
  private def onMalformed(): Boolean = {
    if (!dropMalformed) throw new IllegalArgumentException(malformed())
    droppedCount += 1
    true
  }

  override def next(): Boolean = {
    while (pos <= end) {
      val consumed = readLineBytes()
      if (consumed < 0) return false
      pos += consumed
      var tab = -1
      var i = 0
      while (i < lineLen && tab < 0) {
        if (line(i) == '\t') tab = i
        i += 1
      }
      if (tab < 0 || !tryParseValue(tab + 1)) {
        onMalformed()
        // counted skip — fall through to the next line
      } else {
      val value = parsedValue
      var ok = true
      var f = 0
      while (ok && f < valuePreds.length) { ok = valuePreds(f)(value); f += 1 }
      f = 0
      while (ok && f < keyEqBytes.length) {
        ok = keySpanMatches(keyEqBytes(f), tab); f += 1
      }
      f = 0
      while (ok && f < keyInBytes.length) {
        val set = keyInBytes(f)
        var hit = false
        var g = 0
        while (!hit && g < set.length) {
          hit = keySpanMatches(set(g), tab); g += 1
        }
        ok = hit
        f += 1
      }
      if (ok) {
        var j = 0
        while (j < fieldIdx.length) {
          if (fieldIdx(j) == 0)
            // copy the span: `line` is reused for the next record
            reused.update(j, UTF8String.fromBytes(
              java.util.Arrays.copyOfRange(line, 0, tab)))
          else reused.setLong(j, value)
          j += 1
        }
        return true
      }
      }
    }
    false
  }

  override def get(): InternalRow = reused
  override def close(): Unit = in.close()
}

/** "Malformed lines dropped" — the scan-level custom metric behind
  * `mode=dropmalformed` (sums task values in the SQL UI). */
final class KvMalformedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "kvMalformedDropped"
  override def description(): String = "malformed KV lines dropped"
}

private[sources] final case class KvMalformedTaskMetric(value: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = "kvMalformedDropped"
}

/** Write path: the two-phase commit every distributed sink needs. Tasks
  * stream rows to STAGED files under `_staging/<queryId>/`, named by
  * (partition, task) so speculative attempts never collide; each task's
  * commit message names its staged file, and only the DRIVER commit renames
  * message-named files into the table and finally writes `_SUCCESS` — so a
  * duplicate attempt's orphan stage is swept, an aborted job leaves the
  * table exactly as it was, and readers (whose split planning skips `_`
  * prefixes) never observe a half-written state. Same protocol shape as the
  * engine's file sinks ([[Sinks]]) and snapshot commits ([[SnapshotTable]]),
  * here at the connector seam where Spark drives it.
  */
final class KvWriteBuilder(path: String, info: LogicalWriteInfo,
    existingShards: Option[Int] = None)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val names = info.schema().fieldNames.toSeq
    if (names == Seq("key", "value", "shard")) {
      // SHARDED write (see KvScan.outputPartitioning): rows route to
      // per-shard files by their stored shard id; the count comes from
      // .option("shards", n) on the first write and must agree with the
      // marker on appends (a truncate may re-shard — it IS a fresh table)
      val n = Option(info.options().get("shards")).map(_.toInt)
        .orElse(existingShards).getOrElse(sys.error(
          "sharded KV write needs .option(\"shards\", n) or an existing " +
            s"$path/${KvTextSource.ShardsMarker} marker"))
      require(n >= 1, s"shard count must be positive, got $n")
      require(doTruncate || existingShards.forall(_ == n),
        s"append declares $n shards but $path is laid out with " +
          s"${existingShards.get} — re-shard via a truncating overwrite")
      // a committed dir with NO _SHARDS marker is a legacy FLAT layout:
      // a non-truncating sharded append would stamp _SHARDS over
      // suffix-less files and brick every later read ("carries no
      // -sNNNNN shard suffix") — refuse the mixed layout up front
      if (!doTruncate && existingShards.isEmpty) {
        val fs = KvTextSource.sessionFs(new java.net.URI(path))
        require(!fs.exists(new Path(path, "_SUCCESS")),
          s"sharded append into $path, a committed FLAT kv dir (no " +
            s"${KvTextSource.ShardsMarker} marker) — mixing layouts would " +
            "make the dir unreadable; re-shard via a truncating overwrite")
      }
      // The write REQUESTS its layout from the planner
      // (RequiresDistributionAndOrdering): clustered by shard across n
      // tasks and sorted by (shard, key) within each — so a PLAIN
      // dataframe write lands as one key-sorted file per shard and the
      // `_SORTED` marker (hence the exchange-free, sort-free read plans)
      // holds by construction, not by caller discipline. Pipelines whose
      // data is ALREADY laid out opt out with
      // .option("distributionMode", "none") — the trust-the-caller mode
      // that skips the write-side exchange; the writer-verified marker
      // protocol still decides sortedness honestly there.
      val trustCaller =
        Option(info.options().get("distributionMode")).contains("none")
      if (trustCaller) new Write {
        override def toBatch: BatchWrite =
          new KvShardedBatchWrite(path, info.queryId(), doTruncate, n)
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          throw new UnsupportedOperationException(
            "sharded KV dirs take batch writes only — stream into a plain " +
              "dir and re-shard with a batch job")
      } else new Write with org.apache.spark.sql.connector.write
          .RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          org.apache.spark.sql.connector.distributions.Distributions
            .clustered(Array(Expressions.column("shard")))
        override def requiredNumPartitions(): Int = n
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          Array(
            Expressions.sort(Expressions.column("shard"),
              SortDirection.ASCENDING),
            Expressions.sort(Expressions.column("key"),
              SortDirection.ASCENDING))
        override def toBatch: BatchWrite =
          new KvShardedBatchWrite(path, info.queryId(), doTruncate, n)
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          throw new UnsupportedOperationException(
            "sharded KV dirs take batch writes only — stream into a plain " +
              "dir and re-shard with a batch job")
      }
    } else new Write {
      override def toBatch: BatchWrite =
        new KvBatchWrite(path, info.queryId(), doTruncate, names)
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new KvStreamingWrite(path, info.queryId(), doTruncate, names)
    }
  }
}

/** Sharded 2PC (see [[KvBatchWrite]] for the protocol): identical staged-
  * rename commit, but each task stages one file PER SHARD it saw (named
  * `…-sNNNNN.kv` — the suffix [[KvScan]] groups partitions by), and the
  * driver writes the `_SHARDS` marker after the renames, before
  * `_SUCCESS`, so a dir can never read as sharded while half-committed. */
final class KvShardedBatchWrite(path: String, queryId: String,
    truncate: Boolean, n: Int) extends BatchWrite {

  private def fs() = KvTextSource.sessionFs(new java.net.URI(path))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new KvShardedWriterFactory(path, queryId, n,
      KvTextSource.sessionConfMap())

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val f = fs()
    val table = new Path(path)
    // read BEFORE any mutation: an append into a previously-sorted table
    // can stay sorted; one into an unsorted table never can
    val wasSorted = !f.exists(new Path(table, "_SUCCESS")) ||
      f.exists(new Path(table, KvTextSource.SortedMarker))
    f.delete(new Path(table, "_SUCCESS"), false)
    if (truncate)
      f.listStatus(table)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .foreach(s => f.delete(s.getPath, false))
    messages.foreach { case KvMultiCommitMessage(staged) =>
      staged.foreach { sf =>
        val src = new Path(sf.path)
        val dst = new Path(table, s"$queryId-${src.getName}")
        require(f.rename(src, dst), s"commit rename failed: $src -> $dst")
      }
    }
    f.delete(new Path(s"$path/_staging/$queryId"), true)
    try f.delete(new Path(s"$path/_staging"), false)
    catch { case _: java.io.IOException => () }
    val marker = f.create(new Path(table, KvTextSource.ShardsMarker), true)
    try marker.write(s"$n\n".getBytes(StandardCharsets.UTF_8))
    finally marker.close()
    // `_SORTED` (see KvTextSource.SortedMarker): kept only when every
    // staged file observed nondecreasing keys, the pre-write table was
    // sorted (or replaced), and the committed dir holds ≤ 1 file per
    // shard — exactly the conditions under which a shard partition's
    // concatenated read is ordered. Decided from the post-rename listing,
    // so a crash between renames and here errs toward NO marker.
    val allStagedSorted = messages.forall {
      case KvMultiCommitMessage(staged) => staged.forall(_.sorted)
    }
    val onePerShard = f.listStatus(table)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .flatMap(s => KvTextSource.ShardRe
        .findFirstMatchIn(s.getPath.getName).map(_.group(1).toInt))
      .groupBy(identity).forall(_._2.length <= 1)
    if ((truncate || wasSorted) && allStagedSorted && onePerShard) {
      f.create(new Path(table, KvTextSource.SortedMarker), true).close()
    } else {
      f.delete(new Path(table, KvTextSource.SortedMarker), false)
      ()
    }
    f.create(new Path(table, "_SUCCESS"), true).close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val f = fs()
    f.delete(new Path(s"$path/_staging/$queryId"), true)
    try f.delete(new Path(s"$path/_staging"), false)
    catch { case _: java.io.IOException => () }
    ()
  }
}

final class KvShardedWriterFactory(path: String, queryId: String, n: Int,
    confMap: Map[String, String]) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new KvShardedDataWriter(
      s"$path/_staging/$queryId", partitionId, taskId, n, confMap)
}

/** Routes each (key, value, shard) row to its shard's staged file —
  * opened lazily, so a task touches only the shards it actually saw.
  * Each open file additionally tracks whether its keys have arrived in
  * nondecreasing binary order (one UTF8String compare + copy per row):
  * the commit message carries the verdict per file, and the driver only
  * keeps the `_SORTED` marker when every file passed — the writer-side
  * proof behind [[KvScan.outputOrdering]], so a caller who forgot the
  * sortWithinPartitions can never commit a falsely-ordered table. */
final class KvShardedDataWriter(stagingDir: String, partitionId: Int,
    taskId: Long, n: Int, confMap: Map[String, String])
    extends DataWriter[InternalRow] {

  private final class ShardOut(val path: Path,
      val out: org.apache.hadoop.fs.FSDataOutputStream) {
    var last: org.apache.spark.unsafe.types.UTF8String = null
    var sorted: Boolean = true
  }

  private val fsHandle = FileSystem.get(new java.net.URI(stagingDir),
    KvTextSource.confFrom(confMap))
  private val open = scala.collection.mutable.Map.empty[Int, ShardOut]

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2),
      "graft-kv format has no null encoding")
    val u = row.getUTF8String(0)
    val key = u.toString
    require(key.indexOf('\t') < 0 && key.indexOf('\n') < 0
        && key.indexOf('\r') < 0,
      s"key may not contain tab or newline: $key")
    val shard = row.getInt(2)
    require(shard >= 0 && shard < n,
      s"shard $shard outside [0, $n) — the shard column must be " +
        "hash(key) mod the declared count")
    val so = open.getOrElseUpdate(shard, {
      val p = new Path(
        f"$stagingDir/part-$partitionId-$taskId-s$shard%05d.kv")
      new ShardOut(p, fsHandle.create(p, true))
    })
    if (so.sorted) {
      if (so.last != null && so.last.compareTo(u) > 0) so.sorted = false
      // copy: the row's backing buffer is reused by the next row
      else so.last = u.clone()
    }
    so.out.write(
      s"$key\t${row.getLong(1)}\n".getBytes(StandardCharsets.UTF_8))
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_.out.close())
    KvMultiCommitMessage(open.values
      .map(so => KvStagedFile(so.path.toString, so.sorted))
      .toSeq.sortBy(_.path))
  }

  override def abort(): Unit = open.values.foreach { so =>
    so.out.close()
    fsHandle.delete(so.path, false): Unit
  }

  override def close(): Unit = ()
}

final class KvBatchWrite(path: String, queryId: String, truncate: Boolean,
    fieldNames: Seq[String]) extends BatchWrite {
  require(fieldNames == Seq("key", "value"),
    s"graft-kv writes (key, value) rows, got ${fieldNames.mkString(",")}")

  // commit/abort run on the driver, where the session is in scope
  private def fs() = KvTextSource.sessionFs(new java.net.URI(path))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new KvWriterFactory(path, queryId, KvTextSource.sessionConfMap())

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val f = fs()
    val table = new Path(path)
    // invalidate FIRST: a crash anywhere in the delete/rename sequence must
    // leave the dir without _SUCCESS (unreadable-as-fresh), never a stale
    // success marker over a half-committed mix — the same tag-invalidation
    // rule the in-place correction sinks follow (Sinks.withInvalidated)
    f.delete(new Path(table, "_SUCCESS"), false)
    if (truncate)
      f.listStatus(table)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .foreach(s => f.delete(s.getPath, false))
    messages.foreach { case KvCommitMessage(staged) =>
      val src = new Path(staged)
      // committed names carry the queryId so files from different jobs can
      // never collide in append mode (task ids restart near 0 per JVM), and
      // a false rename (existing destination on HDFS semantics, races)
      // must abort the commit — ignoring it would stamp _SUCCESS over a
      // table that silently lost this task's rows
      val dst = new Path(table, s"$queryId-${src.getName}")
      require(f.rename(src, dst), s"commit rename failed: $src -> $dst")
    }
    // orphaned speculative stages die with the staging dir; _SUCCESS last
    sweepStaging(f)
    val out = f.create(new Path(table, "_SUCCESS"), true)
    out.close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    sweepStaging(fs())

  private def sweepStaging(f: FileSystem): Unit = {
    f.delete(new Path(s"$path/_staging/$queryId"), true)
    // non-recursive: only succeeds once no concurrent write is staging
    try f.delete(new Path(s"$path/_staging"), false)
    catch { case _: java.io.IOException => () }
    ()
  }
}

final class KvWriterFactory(path: String, queryId: String,
    confMap: Map[String, String]) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(
      s"$path/_staging/$queryId/part-$partitionId-$taskId.kv", confMap)
}

final class KvDataWriter(stagedPath: String, confMap: Map[String, String])
    extends DataWriter[InternalRow] {

  private val staged = new Path(stagedPath)
  private val fsHandle =
    FileSystem.get(staged.toUri, KvTextSource.confFrom(confMap))
  private val out = fsHandle.create(staged, true)

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(0) && !row.isNullAt(1),
      "graft-kv format has no null encoding")
    val key = row.getUTF8String(0).toString
    // every structural byte of the format must be rejected at the parse
    // boundary: a tab would split the record, and a newline would write a
    // SECOND physical line that poisons the whole committed table (every
    // later scan dies on the keyless fragment)
    require(key.indexOf('\t') < 0 && key.indexOf('\n') < 0
        && key.indexOf('\r') < 0,
      s"key may not contain tab or newline: $key")
    out.write(s"$key\t${row.getLong(1)}\n".getBytes(StandardCharsets.UTF_8))
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    KvCommitMessage(staged.toString)
  }

  override def abort(): Unit = {
    out.close()
    fsHandle.delete(staged, false): Unit
  }

  override def close(): Unit = ()
}

/** The connector as a STREAMING sink (StreamingWrite): the batch 2PC's
  * staged-rename machinery keyed by EPOCH, with an idempotent commit. The
  * exactly-once contract Structured Streaming actually demands of a sink
  * is replay tolerance — after a crash/restart the engine re-runs the last
  * micro-batch and re-commits its epoch — so the durable commit point here
  * is a per-epoch marker file (`_epochs/<id>`, written LAST): a commit that
  * finds its marker already present discards the replayed attempt's staged
  * files and changes nothing, so restarted streams never duplicate rows.
  * Renamed-but-unmarked files from an attempt that died mid-commit are
  * swept by epoch-name prefix before the fresh attempt's renames (no
  * marker ⇒ that epoch never committed ⇒ its files are dead). `_SUCCESS`
  * is refreshed after every epoch so fingerprint-keyed layers over the dir
  * stay coherent; Spark records its own commit log only after this commit
  * returns, so the marker-then-`_SUCCESS` order is crash-safe end to end.
  * One streaming query per sink dir (epoch names are query-agnostic, as
  * with batch truncate); complete-mode truncation rewrites data files per
  * epoch under the same marker discipline. */
final class KvStreamingWrite(path: String, runId: String, truncate: Boolean,
    fieldNames: Seq[String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  require(fieldNames == Seq("key", "value"),
    s"graft-kv writes (key, value) rows, got ${fieldNames.mkString(",")}")

  private def fs() = KvTextSource.sessionFs(new java.net.URI(path))

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new KvStreamingWriterFactory(path, runId, KvTextSource.sessionConfMap())

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val f = fs()
    val table = new Path(path)
    val marker = new Path(table, s"_epochs/$epochId")
    if (f.exists(marker)) {
      // replayed epoch after a restart: the data is already committed —
      // drop the re-staged files, heal _SUCCESS if the first attempt died
      // between marker and marker+1, and change nothing else
      sweepStaging(f, epochId)
      touch(f, new Path(table, "_SUCCESS"))
      return
    }
    // invalidate first (same rule as the batch commit): a crash inside
    // this sequence must leave the dir unreadable-as-fresh, never a stale
    // success marker over a half-committed epoch
    f.delete(new Path(table, "_SUCCESS"), false)
    // files renamed by an attempt of THIS epoch that died before its
    // marker are dead — sweep by epoch prefix so the replay cannot collide
    f.listStatus(table)
      .filter(s => s.isFile && s.getPath.getName.startsWith(s"e$epochId-"))
      .foreach(s => f.delete(s.getPath, false))
    if (truncate)
      f.listStatus(table)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .foreach(s => f.delete(s.getPath, false))
    messages.foreach { case KvCommitMessage(staged) =>
      val src = new Path(staged)
      val dst = new Path(table, s"e$epochId-${src.getName}")
      require(f.rename(src, dst), s"epoch commit rename failed: $src -> $dst")
    }
    sweepStaging(f, epochId)
    touch(f, marker) // THE commit point: replays from here on are no-ops
    // marker retention (r14 ADVICE): Spark only ever re-delivers the LAST
    // committed epoch after a restart, so markers older than a small tail
    // can never be consulted again — at sustained ingest they would
    // otherwise accumulate one small file per micro-batch forever. Keep
    // the most recent KeepMarkers (a tail, not just one, so an operator
    // inspecting the dir can still see recent history); pruning after the
    // new marker lands preserves replay idempotence for every epoch Spark
    // can actually replay.
    val epochsDir = new Path(table, "_epochs")
    val markers = f.listStatus(epochsDir).map(_.getPath)
      .filter(_.getName.forall(_.isDigit))
    if (markers.length > KvStreamingWrite.KeepMarkers)
      markers.sortBy(_.getName.toLong)
        .dropRight(KvStreamingWrite.KeepMarkers)
        .foreach(p => f.delete(p, false))
    touch(f, new Path(table, "_SUCCESS"))
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    sweepStaging(fs(), epochId)

  private def touch(f: FileSystem, p: Path): Unit = f.create(p, true).close()

  private def sweepStaging(f: FileSystem, epochId: Long): Unit = {
    f.delete(new Path(s"$path/_staging/$runId/e$epochId"), true)
    // non-recursive: only succeeds once no other epoch/query is staging
    try {
      f.delete(new Path(s"$path/_staging/$runId"), false)
      f.delete(new Path(s"$path/_staging"), false)
    } catch { case _: java.io.IOException => () }
    ()
  }
}

object KvStreamingWrite {
  /** Epoch markers retained after each commit (see the pruning note in
    * [[KvStreamingWrite.commit]]): only the last committed epoch is ever
    * replayable, so any small tail is safe — 16 keeps recent history
    * inspectable without unbounded small-file growth. */
  private[sources] val KeepMarkers = 16
}

final class KvStreamingWriterFactory(path: String, runId: String,
    confMap: Map[String, String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new KvDataWriter(
      s"$path/_staging/$runId/e$epochId/part-$partitionId-$taskId.kv",
      confMap)
}

final case class KvCommitMessage(stagedFile: String)
    extends WriterCommitMessage

/** One staged sharded file: its path plus whether the writer observed its
  * keys in nondecreasing BINARY order as they were written (UTF8String
  * comparison — the same collation Catalyst sorts by, so the `_SORTED`
  * marker never disagrees with a plan-level SortOrder). */
final case class KvStagedFile(path: String, sorted: Boolean)

final case class KvMultiCommitMessage(stagedFiles: Seq[KvStagedFile])
    extends WriterCommitMessage
