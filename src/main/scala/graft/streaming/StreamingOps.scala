package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured Streaming twins of the batch event-time operators.
  *
  * The reference is strictly batch (hard map→reduce barrier, reference
  * mapreduce.c:211-214); this module shows the same engine queries running
  * incrementally: watermarked tumbling-window aggregation and
  * flatMapGroupsWithState sessionization whose emitted sessions match the
  * batch q_sessionize query (asserted in StreamingSpec).
  */
object StreamingOps {

  /** ts_t duplicates ts_us as a Timestamp: the watermark column must remain
    * in the Dataset feeding flatMapGroupsWithState for event-time timeouts. */
  case class Ev(user_id: Long, event_id: Long, ts_us: Long, val_cents: Long,
      ts_t: Timestamp)
  case class SessionState(startUs: Long, lastUs: Long, n: Long, cents: Long)
  case class SessionOut(user_id: Long, sess_start_us: Long, sess_end_us: Long,
      n_events: Long, val_sum: Double)

  val GapUs: Long = 30L * 60 * 1000 * 1000

  /** The one windowed count+sum shape both window forms share — watermark,
    * exact-cents sum cast to double at the edge, ws_us projection — so a
    * fix to the aggregate can never drift between the two gates. */
  private def windowedCounts(events: DataFrame,
      slide: Option[String]): DataFrame = {
    val ts = timestamp_micros(col("ts_us"))
    val w = slide.fold(window(col("ts_t"), "1 hour"))(
      s => window(col("ts_t"), "1 hour", s))
    events
      .withColumn("ts_t", ts)
      .withWatermark("ts_t", "1 hour")
      .groupBy(w, col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("val_cents")).cast("double") / lit(100.0)).as("val_sum"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("event_type"),
        col("n"), col("val_sum"))
  }

  /** Watermarked tumbling 1h count+sum per event type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    windowedCounts(events, None)

  /** Watermarked SLIDING 1h/30m window count+sum per event type — the
    * overlapping-window state the tumbling form doesn't exercise: every
    * event folds into TWO open window aggregates, and the watermark
    * retires window states 30 minutes apart, so a correct execution must
    * keep concurrent overlapping partials per (window, type) across
    * micro-batches. */
  def slidingCounts(events: DataFrame): DataFrame =
    windowedCounts(events, Some("30 minutes"))

  /** Gap-based sessionization with real cross-batch state — the streaming
    * twin of the batch window-function form in EventQueries ("q_sessionize").
    *
    * Per user the state is the one OPEN session. Each batch's events merge
    * into it (sorted by (ts, id) like the batch ORDER BY); sessions closed by
    * a gap emit immediately, the trailing session stays in state with an
    * event-time timeout at last + gap — when the watermark passes that point
    * no extension can arrive (late data bound = watermark delay), so the
    * timeout callback emits it and clears state. Input must carry a watermark
    * (see [[eventStream]] / StreamingSpec). */
  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          def out(st: SessionState): SessionOut =
            SessionOut(userId, st.startUs, st.lastUs, st.n, st.cents / 100.0)
          if (state.hasTimedOut) {
            val open = state.get
            state.remove()
            Iterator(out(open))
          } else {
            // Merge the batch's events WITH the open session as time
            // intervals, in start order: a late cross-batch event inside
            // the watermark that precedes the open session by MORE than the
            // gap now forms its own earlier session (as the batch query
            // would) instead of being absorbed; one within gap widens the
            // open session's bounds. Residual append-mode limit: an event
            // older than a session emitted in a PRIOR batch cannot merge
            // into it — exactness is bounded by the watermark delay, which
            // is the contract of any append-mode stream.
            // one sort: singleton events need no pre-sort of their own —
            // equal-ts singletons merge commutatively (sums + identical
            // bounds), so sorting the combined intervals by (start, last)
            // fixes the full merge order in a single O(n log n) pass
            val items = (state.getOption.toSeq ++
              evs.map(e => SessionState(e.ts_us, e.ts_us, 1L, e.val_cents)))
              .toIndexedSeq.sortBy(st => (st.startUs, st.lastUs))
            // ArrayBuffer: O(1) indexed update of the running last element
            // (a ListBuffer here makes the merge quadratic in
            // sessions-per-batch — it walks the list per update)
            val merged = scala.collection.mutable.ArrayBuffer.empty[SessionState]
            items.foreach { it =>
              if (merged.nonEmpty && it.startUs - merged.last.lastUs <= GapUs) {
                val m = merged.last
                merged(merged.length - 1) = SessionState(m.startUs,
                  math.max(m.lastUs, it.lastUs), m.n + it.n, m.cents + it.cents)
              } else merged += it
            }
            if (merged.nonEmpty) {
              val open = merged.last
              state.update(open)
              // flush when the watermark proves no extension can arrive;
              // must stay ahead of the current watermark or Spark rejects it
              state.setTimeoutTimestamp(math.max(
                open.lastUs / 1000 + GapUs / 1000,
                state.getCurrentWatermarkMs() + 1))
            }
            merged.dropRight(1).iterator.map(out)
          }
      }
  }

  case class FunnelEv(user_id: Long, event_type: String, ts_us: Long,
      ts_t: Timestamp)
  case class FunnelState(evs: List[(String, Long)])
  case class FunnelOut(user_id: Long, lvl: Long)

  /** Streaming conversion funnel — the incremental twin of
    * [[graft.operators.EventOps.funnel]]. Update-mode: after each batch the
    * user's CURRENT level is emitted; with in-order arrival the level is
    * monotone non-decreasing, so the latest (= max) emission equals the
    * batch result (asserted in StreamingSpec).
    *
    * State is the user's buffered STAGE events only (irrelevant event types
    * are filtered before the shuffle), and the greedy-earliest machine
    * reruns over the buffer each batch: funnel binds are not incrementally
    * updatable — a late stage-1 event earlier than the current bind rewrites
    * every downstream window, so the buffer is the honest minimal state.
    * Production contract: funnels are cohort-windowed (a campaign horizon),
    * so the buffer is horizon-bounded per user; an unbounded funnel with
    * unbounded lateness would need unbounded state in ANY engine. */
  def funnelStream(events: Dataset[FunnelEv], stages: Seq[String],
      windowUs: Long): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    val stageSet = stages.toSet
    val stagesArr = stages.toArray
    events
      .filter(e => stageSet.contains(e.event_type))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
          val prev = state.getOption.map(_.evs).getOrElse(Nil)
          val evs = (prev ++ it.map(e => (e.event_type, e.ts_us)))
            .sortBy(_._2)
          state.update(FunnelState(evs))
          var lvl = 0
          var tPrev = Long.MinValue
          var bound = Long.MaxValue
          var advanced = true
          while (advanced && lvl < stagesArr.length) {
            val st = stagesArr(lvl)
            val found = evs.collectFirst {
              case (t, ts) if t == st && ts > tPrev && ts <= bound => ts }
            found match {
              case Some(ts) => lvl += 1; tPrev = ts; bound = ts + windowUs
              case None => advanced = false
            }
          }
          Iterator(FunnelOut(uid, lvl.toLong))
      }
  }

  /** Streaming wordcount: the flagship query incremental. Complete-mode
    * aggregate state is one row per distinct word (vocabulary-bounded, not
    * stream-bounded), updated with the same partial→final hash aggregation
    * as the batch plan. */
  def wordcountStream(docs: DataFrame): DataFrame =
    docs
      .select(explode(graft.functions.Portable.tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** Watermarked stream-stream attribution join: every click within the hour
    * before each same-user purchase — the streaming twin of the batch
    * `q_event_attrib` query (identical output columns; parity asserted in
    * StreamingSpec).
    *
    * Both sides carry a watermark and the join condition bounds the event-
    * time distance, so Spark derives a state-retention horizon: a buffered
    * click is dropped once the watermark proves no future purchase can reach
    * back to it (c_t + 1h + delay), and a purchase emits as soon as its
    * clicks are present. Without the time bound the click state would grow
    * with the stream — the unbounded-state hazard this operator's contract
    * rules out. `events` must provide ts_us + event_type (see
    * [[eventStream]]). */
  def attributionJoin(events: DataFrame): DataFrame = {
    val ev = events.withColumn("ts_t", timestamp_micros(col("ts_us")))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("ts_t").as("p_t"))
      .withWatermark("p_t", "1 second")
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts_us").as("click_ts_us"), col("ts_t").as("c_t"))
      .withWatermark("c_t", "1 second")
    p.join(c, col("user_id") === col("c_user")
        && col("c_t") <= col("p_t")
        && col("c_t") >= col("p_t") - expr("INTERVAL 1 HOUR"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("click_id"), col("click_ts_us"))
  }

  /** Watermarked stream-stream LEFT OUTER attribution join — the
    * state-EVICTION semantics none of the inner-join gates exercise: a
    * purchase with no qualifying click cannot emit when it arrives (a
    * matching click might still come), so Spark buffers it and emits the
    * null-extended row only once the watermark PROVES the match window
    * closed (wm past p_t + delay). Unmatched-row emission is therefore
    * driven by watermark progress, not data arrival — the part of the
    * outer-join contract that only shows up on a real stream (the batch
    * twin is just a left join). Same bounded time-range condition as
    * [[attributionJoin]], so both sides' state stays horizon-sized. */
  def attributionJoinOuter(events: DataFrame): DataFrame = {
    val ev = events.withColumn("ts_t", timestamp_micros(col("ts_us")))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("ts_t").as("p_t"))
      .withWatermark("p_t", "1 second")
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts_us").as("click_ts_us"), col("ts_t").as("c_t"))
      .withWatermark("c_t", "1 second")
    p.join(c, col("user_id") === col("c_user")
        && col("c_t") <= col("p_t")
        && col("c_t") >= col("p_t") - expr("INTERVAL 1 HOUR"),
        "leftOuter")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("click_id"), col("click_ts_us"))
  }

  /** Watermarked stream-stream FULL OUTER attribution join — BOTH sides'
    * eviction semantics in one operator: an unmatched purchase emits its
    * null-extended row when the watermark closes its match window (the
    * left-outer contract, [[attributionJoinOuter]]), and an unmatched
    * CLICK likewise emits (click cols + null purchase cols) once the
    * watermark proves no future purchase can reach back to it
    * (c_t + 1h + delay) — emission on both sides is driven by watermark
    * progress, never data arrival, and each unmatched row emits exactly
    * once. Both user columns are kept (one side's is NULL on unmatched
    * rows — there is no join-key coalescing in a full outer). The same
    * bounded time-range condition keeps both state stores horizon-sized:
    * without it a full outer would be UNBOUNDED state on both sides by
    * definition. */
  def attributionJoinFullOuter(events: DataFrame): DataFrame = {
    val ev = events.withColumn("ts_t", timestamp_micros(col("ts_us")))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("ts_t").as("p_t"))
      .withWatermark("p_t", "1 second")
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts_us").as("click_ts_us"), col("ts_t").as("c_t"))
      .withWatermark("c_t", "1 second")
    p.join(c, col("user_id") === col("c_user")
        && col("c_t") <= col("p_t")
        && col("c_t") >= col("p_t") - expr("INTERVAL 1 HOUR"),
        "fullOuter")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("click_id"), col("c_user"), col("click_ts_us"))
  }

  /** Streaming exact dedup: first-seen row per normalized-text hash — the
    * incremental twin of the batch `dedup_exact` query.
    * `dropDuplicatesWithinWatermark` is the bounded-state form: plain
    * `dropDuplicates("norm_md5")` would never evict (the watermark column is
    * not a dedup key), growing state forever; within-watermark dedup keeps a
    * key only until the watermark passes it — the standard trade of
    * exactly-once-forever for exactly-once-within-horizon on unbounded
    * streams. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm_md5",
        graft.functions.Portable.normMd5(col("text")))
      .withColumn("arrival", current_timestamp())
      .withWatermark("arrival", "1 hour")
      .dropDuplicatesWithinWatermark("norm_md5")
      .select(col("doc_id"), col("norm_md5"))

  case class TopEntry(cents: Long, event_id: Long)
  case class TopKState(entries: Seq[TopEntry])
  case class TopKOut(user_id: Long, rank: Long, val_cents: Long,
      event_id: Long)

  /** Streaming exact per-user top-k on the ARBITRARY-STATE V2 API
    * (`transformWithState` + [[TopKProcessor]]): the modern replacement
    * for flatMapGroupsWithState — typed ValueState through the
    * StatefulProcessorHandle, per-key EVENT-TIME TIMERS instead of a
    * hand-rolled timeout column, TTL-capable state, RocksDB-backed store.
    * Per key the state is the bounded k-row leaderboard (the streaming
    * twin of TopKPairsAggregator's partial); each batch folds its rows in,
    * and a per-key timer at `emitAtMs` — registered on first sight of the
    * key — emits the final ranking exactly once when the watermark passes
    * it (the sentinel-batch recipe drives that). Append-mode output,
    * ranking order (cents desc, event_id asc) — the row_number form the
    * oracle replays. State is k-bounded per key: stream volume never grows
    * it. */
  class TopKProcessor(k: Int, emitAtMs: Long)
      extends StatefulProcessor[Long, Ev, TopKOut] {
    @transient private var top: ValueState[TopKState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getValueState[TopKState]("top",
        org.apache.spark.sql.Encoders.product[TopKState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[TopKOut] = {
      val cur =
        if (top.exists()) top.get().entries
        else { getHandle.registerTimer(emitAtMs); Seq.empty[TopEntry] }
      val merged = (cur ++ rows.map(e => TopEntry(e.val_cents, e.event_id)))
        .sortBy(t => (-t.cents, t.event_id)).take(k)
      top.update(TopKState(merged))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[TopKOut] = {
      val out = (if (top.exists()) top.get().entries else Seq.empty)
        .zipWithIndex.map { case (t, i) =>
          TopKOut(key, i + 1L, t.cents, t.event_id)
        }
      top.clear()
      out.iterator
    }
  }

  case class PackDoc(shard: Int, doc_id: Long, n: Long)
  case class PackState(lastId: Long, off: Long)
  case class PackedDoc(shard: Int, doc_id: Long, off: Long, n: Long)

  /** STREAMING TOKEN PACKER — the LLM-pretraining pack op run
    * incrementally: per shard, each arriving document is assigned its
    * token OFFSET in the shard's concatenated token stream, with the
    * running offset carried across micro-batches in keyed state (the
    * cross-batch leftover a batch packer keeps in memory). Sequence
    * membership is then pure arithmetic — tokens [off, off+n) fall in
    * sequences [off div L, (off+n-1) div L] — so the packed-sequence
    * table derives from these offsets with no further state, and an
    * exact SQL replay (cumulative sum over the same id order) can audit
    * the whole run.
    *
    * Scale shape: one packer per SHARD (parallel, no global state); the
    * per-batch group work is sort + scan of that batch's docs. Ordered
    * arrival is the CONTRACT (append-style ingest: every batch's ids
    * exceed the frontier — the id doubles as the order witness); a
    * violation fails loudly rather than silently mis-offsetting every
    * later sequence. Exactly-once across restart = the offset state
    * lives in the checkpoint. Zero-token docs advance nothing but still
    * emit (their offset is defined; they occupy no sequence). */
  def packOffsets(docs: Dataset[PackDoc]): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[PackState, PackedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[PackDoc], state: GroupState[PackState]) =>
          val batch = rows.toIndexedSeq.sortBy(_.doc_id)
          var st = state.getOption.getOrElse(PackState(Long.MinValue, 0L))
          val out = batch.map { d =>
            require(d.doc_id > st.lastId,
              s"pack stream ordered-arrival contract violated on shard " +
                s"$shard: doc ${d.doc_id} arrived at or below the " +
                s"frontier ${st.lastId} — a late doc would silently " +
                "shift every later offset; feed batches in id order")
            require(d.n >= 0, s"doc ${d.doc_id} has negative tokens ${d.n}")
            val o = st.off
            st = PackState(d.doc_id, st.off + d.n)
            PackedDoc(shard, d.doc_id, o, d.n)
          }
          state.update(st)
          out.iterator
      }
  }

  /** transformWithState needs the RocksDB state store; scope the provider
    * to the gated execution like [[withStreamShuffle]] scopes partitions. */
  def withRocksDbState[T](s: SparkSession)(body: => T): T =
    graft.GraftSession.withConf(s,
      "spark.sql.streaming.stateStore.providerClass" -> ("org.apache.spark." +
        "sql.execution.streaming.state.RocksDBStateStoreProvider"))(body)

  def topKPerUser(events: Dataset[Ev], k: Int,
      emitAtMs: Long): Dataset[TopKOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TopKProcessor(k, emitAtMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Exactly-once streaming parquet sink: each micro-batch commits to its
    * own `epoch=<id>` directory with overwrite mode — the foreachBatch
    * bronze-layer ingest pattern. Structured Streaming's contract is
    * at-least-once delivery to foreachBatch (a crash between the sink write
    * and the checkpoint commit re-delivers the SAME epochId with the SAME
    * data on restart); keying the write on epochId and overwriting turns
    * redelivery into a no-op, which is what upgrades the sink to
    * exactly-once. Downstream readers see the union of epoch directories
    * via ordinary partition discovery. */
  def epochSink(dir: String)(batch: DataFrame, epochId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$dir/epoch=$epochId")

  /** Run a gated streaming execution with stream-sized state: the number of
    * state-store instances per stateful operator equals
    * `spark.sql.shuffle.partitions` at query START, and each instance pays a
    * checkpoint commit per micro-batch — for the fixture-sized gate streams,
    * 32 stores are pure commit overhead (measured ~30% of the gate's wall
    * time). Production sizes this UP with stream volume; either way it is
    * per-execution runtime conf, so the gate sets it for the stream's
    * lifetime and restores the session value after. Results are
    * partition-count-invariant (PipelineInvarianceSpec). */
  def withStreamShuffle[T](s: SparkSession, parts: Int = 8)(body: => T): T =
    graft.GraftSession.withConf(s,
      "spark.sql.shuffle.partitions" -> parts.toString)(body)

  /** Bounded parquet dir → streaming DataFrame with the events schema
    * normalized the same way as the batch path (nanos long → micros). The
    * schema is the fixture's raw one, from the relation [[graft.Tables]]
    * already resolved. */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.relation(spark, dir, "events").schema
    // The testdata table is a bare file, and FileStreamSource forces
    // basePath=<path> for non-glob paths ('basePath' must be a directory).
    // A glob that matches only this file sidesteps the override.
    val stream = spark.readStream.schema(schema).parquet(s"$dir/events.parquet*")
    stream
      .withColumn("ts_us", graft.Tables.tsUs(stream))
      .withColumn("val_cents", round(col("value") * lit(100)).cast("long"))
  }
}
