package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the properties that make the queries scale are
  * pinned here so a refactor can't silently lose them (filter/column
  * pushdown, broadcast vs shuffle joins, partial aggregation, no cartesian
  * products). These are the .explain checks the 100 TB design notes promise.
  *
  * Codegen spans render as `*(n)` node prefixes; AQE plans only carry them
  * after execution, so plans are collected first.
  */
class PlanQualitySpec extends SparkTestBase {

  // scan nodes fix their metadata length when planned: every plan this
  // suite inspects is planned with untruncated scan metadata
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    GraftSession.withConf(spark, "spark.sql.maxMetadataStringLength" -> "2000") {
      super.withFixture(test)
    }

  /** Final (post-AQE) physical plan. */
  private def planOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString()
  }

  test("q_filter_project: predicates and projection reach the parquet scan") {
    val p = planOf(SparkEntry.queries("q_filter_project")(spark, sf))
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("GreaterThan(l_quantity,45.0)"), "quantity predicate not pushed")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "date range not pushed")
    // column pruning: the 11-column lineitem scan reads only the 5 needed
    assert(!p.contains("l_partkey"), "unused column not pruned from scan")
  }

  test("q_broadcast_join: dimension joins broadcast, fact side never shuffles early") {
    val p = planOf(SparkEntry.queries("q_broadcast_join")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "expected broadcast joins")
    assert(!p.contains("SortMergeJoin"), "dimension join degraded to SMJ")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_not_in: NOT IN plans as a null-AWARE broadcast anti join") {
    val p = planOf(SparkEntry.queries("q_not_in")(spark, sf))
    // the trailing `true` on the LeftAnti BHJ is isNullAwareAntiJoin; the
    // disaster alternative for a nullable NOT IN is a nested-loop anti join
    assert(p.contains("LeftAnti, BuildRight, true"),
      s"NOT IN lost the single-column NAAJ:\n$p")
    assert(!p.split("== Initial Plan ==")(0).matches(
      "(?s).*NestedLoopJoin[^\\n]*LeftAnti.*"),
      s"NOT IN degraded to a nested-loop anti join:\n$p")
  }

  test("aggregates run partial then final (map-side combine)") {
    for (q <- Seq("wordcount", "q1_agg")) {
      val p = planOf(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("partial_"), s"$q lost map-side partial aggregation")
    }
  }

  test("q_pipeline_clean dedups via partial aggregate, not a norm_md5 window") {
    // a boilerplate doc duplicated millions of times must fold map-side,
    // not sort its whole group on one window task
    val p = planOf(SparkEntry.queries("q_pipeline_clean")(spark, sf))
    assert(!p.contains("windowspecdefinition(norm_md5"),
      s"keep-first went back to a ranking window:\n$p")
    assert(p.contains("partial_min_by"), s"min_by lost its partial phase:\n$p")
  }

  test("wordcount: whole-stage codegen covers the scan->agg pipeline") {
    val p = planOf(SparkEntry.queries("wordcount")(spark, sf))
    assert(p.contains("*("), s"no codegen spans in:\n$p")
  }

  test("native graft_dot kernel stays inside a codegen span") {
    val df = Tables(spark, sf, "embeddings")
      .select(graft.functions.Portable.intVec(col("embedding")).as("iv"))
      .select(graft.functions.ArrayExprs.dot(col("iv"), col("iv")).as("d"))
      .filter(col("d") >= 0)
    val p = planOf(df)
    // the projection evaluating graft_dot must be a codegen'd (starred) node;
    // the upstream transform() HOF is expectedly interpreted.
    assert("""\*\(\d+\) (Project|Filter) \[?graft_dot""".r.findFirstIn(p).isDefined,
      s"graft_dot fell out of codegen:\n$p")
  }

  test("sim_* final top-k is a bounded partial aggregate, not a qid ranking window") {
    // A row_number window over qid moves every scored candidate onto |Q|
    // tasks and sorts them there; the TopKPairsAggregator form shuffles at
    // most k pairs per (qid, map task). Pin that no refactor brings the
    // window back (the probe-selection window in sim_ann_ivf partitions by
    // the query's own vec_id over ≤ NCells rows — bounded, and not over qid).
    for (q <- Seq("sim_topk", "sim_ann_ivf", "sim_lsh", "sim_lsh_multi",
        "sim_quantized")) {
      val p = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("windowspecdefinition(qid"),
        s"$q ranks through a per-qid window again:\n$p")
      assert(p.contains("ObjectHashAggregate"),
        s"$q lost the typed top-k aggregate:\n$p")
      assert(p.contains("partial_topkpairsaggregator"),
        s"$q top-k aggregate lost its partial (map-side) phase:\n$p")
    }
  }

  test("q_partitioned_scan: partition predicate prunes at the directory level") {
    val p = planOf(SparkEntry.queries("q_partitioned_scan")(spark, sf))
    assert(p.contains("PartitionFilters: ["), s"no partition filters in:\n$p")
    assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(p).isDefined,
      s"event_type predicate not applied as a partition filter:\n$p")
    // the predicate must NOT degrade to a post-scan data filter
    assert(!p.contains("PushedFilters: [In(event_type"),
      s"partition column wrongly handled as a data filter:\n$p")
  }

  test("dynamic partition pruning: dim filter prunes the partitioned fact scan") {
    // the 100 TB star-join pattern: the fact side is partitioned on the join
    // key, the dim filter's values are only known at runtime — DPP turns
    // them into partition filters instead of scanning every partition
    import spark.implicits._
    val tmp = graft.queries.Scratch.dir("events_part", sf)
    SparkEntry.queries("q_partitioned_scan")(spark, sf).collect() // materialize the partitioned copy
    // the dim must be a real source with a runtime filter — a LocalRelation
    // constant-folds the predicate away and DPP sees no selective filter
    val dimPath = s"$tmp-dim"
    Seq(("click", 1L), ("view", 2L), ("purchase", 3L)).toDF("et", "flag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("flag") === 1L)
    val joined = spark.read.parquet(tmp)
      .join(dim, col("event_type") === col("et"))
      .groupBy(col("et")).agg(count(lit(1)).as("n"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString()
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$p")
  }

  test("q_corr_stats: moment sums fold map-side (partial aggregation)") {
    // one pass of algebraic integer sums is the whole point — losing the
    // partial phase would shuffle every lineitem row to the final aggregate
    val p = planOf(SparkEntry.queries("q_corr_stats")(spark, sf))
    assert(p.contains("partial_"), s"corr moments lost map-side combine:\n$p")
  }

  test("q_pivot: pivot with explicit domain is one partial+final aggregate") {
    val p = planOf(SparkEntry.queries("q_pivot")(spark, sf))
    assert(p.contains("partial_"), s"pivot lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"pivot should be a pure aggregate, no joins:\n$p")
  }

  test("text_inverted_index: posting head ranks within (word, salt), not bare word") {
    // phase-1 ranking must carry the salt so a stopword's postings spread
    // across nSalts tasks; the phase-2 window sees ≤ k·nSalts rows per word
    val p = planOf(SparkEntry.queries("text_inverted_index")(spark, sf))
    assert("""windowspecdefinition\(word#\d+, _salt""".r.findFirstIn(p).isDefined,
      s"salted local ranking phase missing:\n$p")
  }

  test("q_bloom_semi: the bloom probe prefilters the fact scan") {
    // the manual runtime filter must survive planning as a real predicate on
    // the lineitem side, BEFORE the semi join — losing it silently reverts
    // to shuffling the whole fact table into the join
    val p = planOf(SparkEntry.queries("q_bloom_semi")(spark, sf))
    assert(p.contains("might_contain"),
      s"bloom membership probe vanished from the plan:\n$p")
    assert(p.contains("LeftSemi"), s"exact semi join missing:\n$p")
  }

  test("q_scd2: lag filter and lead close share ONE exchange") {
    // the operator's scale claim: both window passes cluster on the key
    // with the same (ts, id) ordering, so Catalyst plans a single shuffle
    // count in the final-plan section only: the AQE plan string repeats
    // every node under "== Initial Plan ==", doubling naive counts
    val p = planOf(SparkEntry.queries("q_scd2")(spark, sf))
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"scd2 should shuffle once, saw $exchanges:\n$p")
  }

  test("q_funnel: per-user state machine runs off ONE event shuffle") {
    // the k-stage SQL cascade re-shuffles the event table k times; the
    // mapGroups form must shuffle the events exactly once (the final
    // stage/level report re-aggregates a 150-row table — that exchange is
    // over per-user levels, not events)
    val p = planOf(SparkEntry.queries("q_funnel")(spark, sf))
      .split("== Initial Plan ==")(0)
    val appends = "MapGroups".r.findAllIn(p).length
    assert(appends == 1, s"funnel should have one MapGroups pass:\n$p")
    assert(!p.contains("SortMergeJoin Inner"), // level join is broadcast-NLJ
      s"funnel's level report degraded to a shuffled join:\n$p")
  }

  test("text_bm25: corpus stats broadcast; scoring aggregates fold map-side") {
    val p = planOf(SparkEntry.queries("text_bm25")(spark, sf))
    assert(p.contains("partial_"), s"bm25 stats lost map-side combine:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"bm25 single-row stats should broadcast:\n$p")
  }

  test("q_upsert: snapshot merge is a single full-outer key join") {
    val p = planOf(SparkEntry.queries("q_upsert")(spark, sf))
    assert(p.contains("FullOuter"), s"upsert lost its full-outer merge:\n$p")
  }

  test("q_triangles: counting runs through the native intersect kernel, no wedge join") {
    val p = planOf(SparkEntry.queries("q_triangles")(spark, sf))
    assert(p.contains("graft_intersect_size_l"),
      s"adjacency intersection kernel missing:\n$p")
    assert(p.contains("partial_sum"), s"triangle sum lost map-side combine:\n$p")
  }

  test("pagerank sweep: checkpoint keeps edge partitioning; only ranks shuffle") {
    // the loop invariant GraphOps.pageRank relies on: a localCheckpoint
    // preserves the physical hash-partitioning, so the per-sweep join plans
    // ZERO exchange on the (big) edge side and an SHJ build on the (small)
    // rank side. If a Spark upgrade stops propagating partitioning through
    // checkpoints, every sweep silently reshuffles the edges — caught here.
    import spark.implicits._
    // checkpoint with AQE off, exactly as the operator does — an adaptive
    // physical plan hands the checkpoint UnknownPartitioning
    val ed = GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      (1L to 1000L).map(i => (i % 50, i % 97, 3L)).toDF("u", "v", "d")
        .repartition(col("u")).localCheckpoint()
    }
    val r = (0L until 50L).map(i => (i, 1000000L)).toDF("node", "rnk")
    val sweep = ed.join(r.hint("SHUFFLE_HASH"), ed("u") === r("node"))
      .groupBy(col("v")).agg(sum(expr("rnk DIV d")).as("s"))
    val p = planOf(sweep).split("== Initial Plan ==")(0)
    assert(p.contains("ShuffledHashJoin"), s"sweep join not SHJ:\n$p")
    // exchanges: rank side into the join + the groupBy(v) — never the edges
    val perEdgeExchanges = "Exchange hashpartitioning\\(u#".r.findAllIn(p).length
    assert(perEdgeExchanges == 0, s"edge side reshuffled in the sweep:\n$p")
  }

  test("q_zorder: Morton key projection is codegen'd; extents fold map-side") {
    val p = planOf(SparkEntry.queries("q_zorder")(spark, sf))
    assert(p.contains("partial_"), s"extent aggregate lost map-side combine:\n$p")
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(p).isDefined,
      s"z-bucket aggregate fell out of codegen:\n$p")
  }

  test("q_pack_bins: packing runs off ONE grouping shuffle") {
    // the (lang, shard) groupByKey is the only hash exchange; the trailing
    // orderBy (range exchange) is presentation-only
    // AQE plan strings repeat the tree under "== Initial Plan ==" — count
    // only the executed (final) section
    val p = planOf(SparkEntry.queries("q_pack_bins")(spark, sf))
      .split("== Initial Plan ==")(0)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 1, s"packing grew extra shuffles:\n$p")
  }

  test("q_mix_budget: rates broadcast back onto the corpus, never SMJ") {
    val p = planOf(SparkEntry.queries("q_mix_budget")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"rates join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"rates join degraded to SMJ:\n$p")
  }

  test("text_infoscore: pairs checkpoint feeds both branches — no re-tokenize") {
    // the explode/tokenize (Generate) must happen once, at checkpoint
    // materialization — not once per branch of the LM/probe fan-out
    val p = planOf(SparkEntry.queries("text_infoscore")(spark, sf))
    assert(!p.contains("Generate"), s"doc text re-exploded per branch:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"single-row total not broadcast:\n$p")
  }

  test("q_bpe_pairs: both aggregation levels fold map-side") {
    val p = planOf(SparkEntry.queries("q_bpe_pairs")(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"wordcount lost its partial phase:\n$p")
    assert(p.contains("partial_sum"), s"pair counts lost partial phase:\n$p")
  }

  test("q_star_returns: revenue aggregates to custkey before the dim join") {
    val p = planOf(SparkEntry.queries("q_star_returns")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"nation join not broadcast:\n$p")
    assert(p.contains("partial_sum"), s"revenue agg lost partial phase:\n$p")
    // the customer join must consume the aggregated custkey revenue, so the
    // aggregate sits BELOW the c_custkey join in the final plan
    val fin = p.split("== Initial Plan ==")(0)
    val aggAt = fin.indexOf("partial_sum")
    val custAt = fin.indexOf("c_custkey")
    assert(aggAt > custAt, // plans print top-down: deeper = later offset
      s"aggregate-before-join inverted:\n$fin")
  }

  test("text_classify: inference is map-only — no aggregation shuffle at all") {
    // the classifier is a per-doc map (tokenize, hash, sum); the only
    // exchange allowed is the final presentation sort's range partitioning
    val p = planOf(SparkEntry.queries("text_classify")(spark, sf))
    assert(!p.contains("hashpartitioning"),
      s"classifier inference gained a shuffle:\n$p")
  }

  test("q_zscore: stats join back broadcast; moment sums fold map-side") {
    val p = planOf(SparkEntry.queries("q_zscore")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"per-group stats not broadcast back:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"normalization join degraded to SMJ (fact reshuffle):\n$p")
    assert(p.contains("partial_sum"), s"moments lost partial phase:\n$p")
  }

  test("q_sample_k / q_domain_cap rank via bounded aggregates, not windows") {
    for ((q, agg) <- Seq("q_sample_k" -> "partial_topkaggregator",
        "q_domain_cap" -> "partial_topkpairsaggregator")) {
      val p = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("windowspecdefinition"),
        s"$q ranks through a window (hot group -> one task):\n$p")
      assert(p.toLowerCase.contains(agg),
        s"$q lost its bounded partial top-k phase:\n$p")
    }
  }

  test("sim_global_topk: global top-k is TakeOrdered, never a full sort") {
    // per-partition k-row heads merged on the driver — a global Sort of the
    // pair-sized candidate set would shuffle and order Σ bucket² rows
    val p = planOf(SparkEntry.queries("sim_global_topk")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k lost its bounded TakeOrdered form:\n$p")
  }

  test("q_reaggregate: the weekly merge reads partials, not raw events") {
    val p = planOf(SparkEntry.queries("q_reaggregate")(spark, sf))
    assert(p.contains("daily_partials-"),
      s"weekly merge not reading the persisted partial sink:\n$p")
    assert(!p.contains("events.parquet"),
      s"weekly merge rescans raw events:\n$p")
  }

  test("q_correlated: scalar subqueries decorrelate into one aggregate join") {
    val p = planOf(SparkEntry.queries("q_correlated")(spark, sf))
    // Catalyst rewrites both correlated subqueries into aggregates joined
    // back on the correlation key — per-row subquery execution would show
    // as a Subquery/ScalarSubquery node in the physical plan
    assert(!p.contains("ScalarSubquery"), s"subquery not decorrelated:\n$p")
    assert(p.contains("partial_"), "decorrelated aggregate lost map-side phase")
  }

  test("q_erase_cascade: erase batch broadcasts; facts are never shuffled") {
    val p = planOf(SparkEntry.queries("q_erase_cascade")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "erase list not broadcast")
    assert(!p.contains("SortMergeJoin"), "fact table shuffled for the erase join")
  }

  test("sim_gram: triangle merge is a partial aggregate, no window, no sort-join") {
    val p = planOf(SparkEntry.queries("sim_gram")(spark, sf))
    assert(p.contains("partial_sum"), s"gram merge lost its partial phase:\n$p")
    assert(!p.contains("Window"), s"corpus-keyed window crept into gram:\n$p")
  }

  test("q_drift: both periods fold in ONE fact scan") {
    // the binding checkpoints the category table (it fans into totals +
    // output), which cuts lineage in the executed plan — so pin the
    // pre-checkpoint aggregate shape it materializes
    val yr = year(col("o_orderdate"))
    val f = Tables(spark, sf, "orders")
      .where(yr.isin(1996, 2000))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(sum(when(yr === 1996, 1L).otherwise(0L)).as("n_a"),
        sum(when(yr === 2000, 1L).otherwise(0L)).as("n_b"))
    val p = planOf(f).split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 orders scan, saw $scans:\n$p")
    assert(p.contains("partial_sum"), "period counts lost map-side combine")
  }

  test("text_chunks: chunking is expand-only — no aggregate anywhere") {
    val p = planOf(SparkEntry.queries("text_chunks")(spark, sf))
    assert(!p.contains("Aggregate"), s"chunker grew an aggregate:\n$p")
    assert(!p.contains("Window"), s"chunker grew a window:\n$p")
  }

  test("q_shuffle_order: global ordinals without a partitionless window") {
    // the one-task trap: row_number() OVER (ORDER BY …) with no partition
    // funnels the corpus through a single task — the op must stay on the
    // range-sort + zipWithIndex path
    val p = planOf(SparkEntry.queries("q_shuffle_order")(spark, sf))
    assert(!p.contains("Window"), s"global ranking window crept in:\n$p")
  }

  test("q_outliers: stats join back broadcast; fact side never reshuffles") {
    val p = planOf(SparkEntry.queries("q_outliers")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "stats joins lost broadcast")
    assert(!p.contains("SortMergeJoin"), "deviation join degraded to SMJ")
  }

  test("q_transitions: lead window partitions by user; census folds map-side") {
    val p = planOf(SparkEntry.queries("q_transitions")(spark, sf))
    assert(p.contains("windowspecdefinition(user_id"),
      s"lead window lost its user partitioning:\n$p")
    assert(p.contains("partial_count"), "pair census lost map-side combine")
  }

  test("q_waiting_supplier: decorrelated to one fact pass; supplier broadcasts") {
    val p = planOf(SparkEntry.queries("q_waiting_supplier")(spark, sf))
    // the textbook Q21 form would scan lineitem three times (base + two
    // correlated EXISTS self-joins); the decorrelated plan scans it once.
    // (An AQE plan string repeats itself under "== Initial Plan ==" —
    // count scans in the final section only.)
    val finalSection = p.split("== Initial Plan ==")(0)
    assert("lineitem\\.parquet".r.findAllIn(finalSection).size == 1,
      s"lineitem scanned more than once:\n$p")
    assert(p.contains("BroadcastHashJoin [l_suppkey"),
      "supplier dim join must broadcast")
    // the per-order census window partitions by order — never partitionless
    assert(p.contains("windowspecdefinition(l_orderkey"),
      "order census window lost its partitioning")
    // only 3 of 11 lineitem columns reach the scan
    assert(!p.contains("l_extendedprice"), "unused lineitem column not pruned")
  }

  test("q_lateral_topn: the lateral limit decorrelates to a bounded group limit") {
    val p = planOf(SparkEntry.queries("q_lateral_topn")(spark, sf))
    // Spark's rank-limit pushdown must bound the per-key rows MAP-SIDE
    // (WindowGroupLimit Partial) before the shuffle — the same ≤k-rows-per-
    // key-per-task guarantee the TopK aggregators give; without it a hot
    // customer would sort its whole order history on one task
    assert(p.contains("WindowGroupLimit"), s"lateral lost the group-limit:\n$p")
    assert(p.contains("Partial"), "group limit lost its map-side partial phase")
    assert(p.contains("BroadcastHashJoin"), "customer dim join must broadcast")
  }

  test("q_compaction: the rewrite reads the fragment files, not the source table") {
    val p = planOf(SparkEntry.queries("q_compaction")(spark, sf))
    assert(p.contains("compact_out"),
      s"gate must read back the COMPACTED files:\n$p")
    assert(!p.contains("events.parquet"),
      "gate read the source table instead of the compacted output")
  }

  // Built once and shared by the whole-surface sweeps below: some query
  // constructions are not free (streaming gates execute on construction).
  private lazy val allQueryDfs: Seq[(String, DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (name, fn) => name -> fn(spark, sf) }

  test("no unintended cartesian products anywhere in the query set") {
    // sim_topk/sim_ann_ivf intentionally cross-join against broadcast
    // centroid/query sets; everything else must be key-joined.
    val exempt = Set("sim_topk", "sim_ann_ivf")
    for ((name, df) <- allQueryDfs if !exempt(name)) {
      // plan-only: AQE cannot introduce a CartesianProduct at runtime, so
      // skip the (expensive) execution planOf does for codegen markers
      val p = df.queryExecution.executedPlan.toString()
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("q_quantile_merge: raw events scan exactly once (sketch-merge claim)") {
    // the whole point of the mergeable histogram is that the weekly
    // report reads SKETCH files, not events: the only events.parquet scan
    // in the final plan is the exact-companion census
    val p = planOf(SparkEntry.queries("q_quantile_merge")(spark, sf))
      .split("== Initial Plan ==")(0)
    val eventScans = "events.parquet".r.findAllIn(p).length
    assert(eventScans == 1,
      s"quantile merge should scan events once, saw $eventScans:\n$p")
  }

  test("mm_audio: map-only decode — no hash exchange before the final sort") {
    val p = planOf(SparkEntry.queries("mm_audio")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange hashpartitioning"),
      s"audio decode should be map-only up to the output sort:\n$p")
  }

  test("output schemas are hash-gate safe: no decimal/float/array/map/binary") {
    // The driver's correctness gate hash-canonicalizes double/long/int/
    // string/boolean/date/timestamp but NOT DecimalType (sim_gram and
    // sim_kmeans went red in r5 on value-identical decimal outputs), and
    // its pandas sort cannot order list/map/struct cells (CLAUDE.md).
    // Decimals are fine INTERNALLY (overflow-safe sums) — they must be
    // cast to double (or split into longs) in the final select, mirrored
    // in the oracle SQL.
    import org.apache.spark.sql.types._
    val allowed: Set[DataType] = Set(StringType, BooleanType, ByteType,
      ShortType, IntegerType, LongType, DoubleType, DateType, TimestampType,
      TimestampNTZType)
    for ((name, df) <- allQueryDfs; f <- df.schema.fields)
      assert(allowed.contains(f.dataType),
        s"$name output column '${f.name}' has hash-gate-unsafe type " +
          s"${f.dataType.simpleString} — cast it at the output boundary " +
          "(decimal→double, array→concat_ws) and mirror in the oracle SQL")
  }
}
