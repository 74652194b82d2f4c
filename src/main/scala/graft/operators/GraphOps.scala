package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Distributed graph primitives for the dedup pipeline.
  *
  * Near-dup pair generation (minhash / simhash joins) yields EDGES; production
  * dedup needs the transitive closure — every document labeled with its
  * near-dup CLUSTER so one canonical doc per cluster survives. The reference
  * has nothing iterative at all (one map, one reduce, reference
  * mapreduce.c:207-252); this is the §2.2 capability-generalization layer.
  */
object GraphOps {

  /** Dev/telemetry seam (the Sinks.onRebuild pattern): invoked after every
    * iterative-kernel round with (kernel, round, seconds). Default no-op;
    * QBench arms it under SPARK_GRAFT_PROF so a flagged kernel's per-round
    * cost can be read directly instead of inferred from whole-query time. */
  @volatile var roundProbe: (String, Int, Double) => Unit = (_, _, _) => ()

  private def probed[T](kernel: String, round: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    roundProbe(kernel, round, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Connected components by min-label flooding.
    *
    * `edges` = (src, dst) undirected pairs (any column names; first two
    * columns are used). Returns (id, comp) for every endpoint, comp = the
    * smallest node id in its component — the canonical cluster id.
    *
    * Scale design:
    * - delta iteration: each round equi-joins the edge list with only the
    *   CHANGED-label set (round 0: all initial labels), min-combines the
    *   messages, and patches the label table with the strict improvements —
    *   partial (map-side) aggregation applies, shuffled rows are two longs
    *   wide, and a shrinking delta broadcasts so the edge table never
    *   reshuffles. No adjacency lists are ever collected; nothing is
    *   driver-resident but the one emptiness flag per round.
    * - labels only decrease, so the improvement set is exactly the new
    *   information each round; fixpoint = empty delta (the message source
    *   itself, not a bolted-on witness).
    * - every round localCheckpoints the label table: the iteration otherwise
    *   stacks lineage and re-executes all prior rounds per action.
    * - rounds needed = component diameter. Near-dup clusters are
    *   shallow (mass duplication is star-shaped: many copies of one
    *   original), so flooding converges in a handful of rounds at any corpus
    *   size. For adversarially deep graphs (long chains) swap in the
    *   alternating large-star/small-star contraction (Kiveris et al., "
    *   Connected Components in MapReduce and Beyond", SoCC'14), which is
    *   O(log n) rounds of the same join+min shape.
    * - exhausting `maxIter` without the convergence sum stabilizing THROWS:
    *   a partially-flooded labeling is silently wrong (two docs of one
    *   component keep different cluster ids), and no test-scale gate would
    *   catch it downstream. Fail loudly; callers with >maxIter-diameter
    *   graphs must raise the budget or use star contraction.
    */
  /** The (row-count, exact-decimal-Σ expr) fixpoint witness of the star
    * contraction (whose per-round state is the EDGE set, not a label table,
    * so there is no natural delta to test for emptiness): edges only ever
    * rewire downward, so the pair is stable iff the contraction is. The
    * label-table kernels (CC flooding, BFS, widest paths) instead use delta
    * iteration, where fixpoint = the empty improvement set they compute as
    * their message source anyway. */
  private def witnessPair(df: DataFrame,
      c: Column): (java.math.BigDecimal, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)).cast("decimal(38,0)").as("c"),
      sum(c.cast("decimal(38,0)")).as("s")).head()
    (r.getDecimal(0), r.getDecimal(1))
  }

  /** Exact-stats checkpoint + row count for the delta-iteration kernels
    * (see CheckpointBridge: a plain localCheckpoint inherits ESTIMATED
    * statistics, and the per-round join-of-joins shape compounds them
    * multiplicatively until the driver stalls multiplying million-digit
    * BigInts; rebuilding with measured stats resets the estimate every
    * round AND statically broadcasts a shrinking frontier). The returned
    * count doubles as the convergence signal — no separate isEmpty job.
    * Rows here are two longs (+ row overhead): 32 bytes. */
  private def ckCount(df: DataFrame): (DataFrame, Long) =
    org.apache.spark.sql.graftbridge.CheckpointBridge.checkpointExact(df, 32L)

  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).cast("long").as("u"),
      col(cols(1)).cast("long").as("v"))
    // undirected: keep both orientations; distinct so multi-edges (a pair
    // found by several band tables) don't multiply the message volume
    val e = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    // fold the first hop into initialization: comp₀ = min(id, min neighbor)
    // — one round fewer than starting from comp₀ = id (star-shaped dup
    // clusters then converge in a single confirming round)
    var labels = e.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u").as("id"), least(col("u"), col("mn")).as("comp"))
      .localCheckpoint()
    // Delta iteration (same discipline as [[bfsLevels]]/[[widestPaths]]):
    // messages flow only from nodes whose component id DROPPED last round
    // (round 0: every initial label speaks once) — an unchanged node's
    // value was already folded into its neighbors in the round after it
    // last changed, so only the delta carries new information. The
    // edge-sized join is e ⋈ delta (a shrinking delta broadcasts; the edge
    // table never reshuffles) and the label patch is a node-sized
    // join+coalesce — no full re-aggregate per round. Fixpoint = empty
    // delta, the message source itself. Every node is labeled from round 0
    // (comp₀ covers all of e's nodes), so the patch join needs no
    // new-node arm, unlike widestPaths' full-outer.
    var delta = labels
    var more = !delta.isEmpty
    var it = 0
    while (it < maxIter && more) {
      val msgs = e.join(delta, e("v") === delta("id"))
        .select(e("u").as("id"), col("comp"))
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
      val (d, dn) = ckCount(msgs.as("m")
        .join(labels.select(col("id").as("lid"), col("comp").as("old")),
          col("id") === col("lid"))
        .where(col("comp") < col("old"))
        .select(col("id"), col("comp")))
      delta = d
      more = dn > 0
      if (more)
        labels = ckCount(labels
          .select(col("id").as("lid"), col("comp").as("oc"))
          .join(delta.select(col("id").as("did"), col("comp").as("nc")),
            col("lid") === col("did"), "left")
          .select(col("lid").as("id"),
            coalesce(col("nc"), col("oc")).as("comp")))._1
      it += 1
    }
    if (more)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter rounds " +
          "(component diameter exceeds the budget); raise maxIter or use " +
          "large-star/small-star contraction for deep graphs")
    labels
  }

  /** INCREMENTAL connected components: fold a new edge batch into stored
    * component labels without re-flooding the base graph — the ingest-time
    * twin of the incremental dedup probe (a nightly near-dup batch must
    * not re-cluster the whole corpus). Standard contraction argument: in
    * the union graph, every new path alternates batch edges with walks
    * inside old components, so CC over the CONTRACTED batch graph — each
    * new-edge endpoint replaced by its stored component id (itself when
    * unlabeled) — merges exactly the components the batch connects. With
    * min-label semantics the result equals from-scratch CC: a stored
    * component's id IS its minimum member, so the contracted minimum is
    * the union component's global minimum.
    *
    * Scale shape: the base label table is touched by exactly one
    * broadcast-semi filter (batch endpoint ids, batch-sized) and one
    * broadcast patch join (comp remap, batch-sized) — two narrow passes,
    * zero label-table shuffles, and the base EDGE table is never read at
    * all. The contracted CC runs on a batch-sized graph. Cost is
    * O(batch + |labels| scan), independent of base edge count. */
  def incrementalComponents(baseLabels: DataFrame,
      newEdges: DataFrame): DataFrame = {
    val cols = newEdges.columns
    val e = newEdges.select(col(cols(0)).cast("long").as("u"),
      col(cols(1)).cast("long").as("v"))
    val lab = baseLabels.select(col(baseLabels.columns(0)).cast("long")
      .as("id"), col(baseLabels.columns(1)).cast("long").as("comp"))
    val ends = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .distinct().localCheckpoint() // batch-sized endpoint set
    // touched slice of the stored labels: broadcast the batch-sized
    // endpoint set so the node-sized label table never shuffles
    val labT = lab.join(broadcast(ends), Seq("id"), "left_semi")
      .localCheckpoint() // batch-sized; fans into two contraction joins
    val contracted = e
      .join(broadcast(labT.select(col("id").as("u"), col("comp").as("cu"))),
        Seq("u"), "left")
      .join(broadcast(labT.select(col("id").as("v"), col("comp").as("cv"))),
        Seq("v"), "left")
      .select(coalesce(col("cu"), col("u")).as("u"),
        coalesce(col("cv"), col("v")).as("v"))
    val small = connectedComponents(contracted).localCheckpoint() // batch-sized
    // stored components: patch through the contracted remap (comp ids are
    // contracted node ids); the remap broadcasts, the full label table
    // streams through unshuffled
    val patched = lab
      .join(broadcast(small.select(col("id").as("comp"),
        col("comp").as("nc"))), Seq("comp"), "left")
      .select(col("id"), coalesce(col("nc"), col("comp")).as("comp"))
    // nodes the batch introduced (new docs, or stored docs with no base
    // pairs — absent from the label table either way): their contracted
    // id is themselves and can never equal a stored comp id (comp ids are
    // stored min-members), so their labels read directly off the small CC
    val fresh = small
      .join(labT.select(col("comp").as("id")), Seq("id"), "left_anti")
    patched.union(fresh.select(col("id"), col("comp")))
  }

  /** Deterministic Luby maximal independent set (Luby, "A Simple Parallel
    * Algorithm for the Maximal Independent Set Problem", SIAM J. Comput.
    * 1986) with PORTABLE HASH PRIORITIES instead of per-round coin flips:
    * node priority = md5-derived 60-bit hash of the id (Portable.md5Long,
    * bit-identical in DuckDB), totally ordered by (prio, id). Per round
    * every remaining node whose priority is a LOCAL MINIMUM among its
    * remaining neighbors joins the set; winners and their neighbors leave.
    * Independence: two adjacent winners would each have to be smaller than
    * the other. Maximality: a node only ever leaves as a winner or a
    * winner's neighbor. Determinism: the fixed priorities make every round
    * a pure function of the input — any engine replays it, which is what
    * lets an unrolled-round oracle hash-gate the result.
    *
    * The pipeline meaning: a MAXIMAL DIVERSITY KEEP-SET — the largest
    * greedily-certified set of documents with no near-dup pair inside it,
    * over the dedup pair graph (keep-one-per-cluster keeps less; MIS keeps
    * every doc that conflicts with nothing kept).
    *
    * Scale shape: per round one edge⋈priority join + a node-sized
    * aggregate; winners/removed are anti-joined away so BOTH the node and
    * edge tables only shrink. Round complexity: this is FIXED-priority
    * (random-order) greedy MIS — with hash-random priorities the round
    * count is polylog(n) whp (Blelloch/Fineman/Shun, SPAA '12: O(log² n)
    * dependence depth for random-order greedy), but the worst case on an
    * adversarial priority chain (a path whose priorities strictly
    * decrease along it) is LINEAR — each round removes only the chain
    * head. The maxIter throw is the guard against that regime; md5-of-id
    * priorities make it astronomically unlikely on real inputs.
    * checkpointExact per round cuts lineage and its count doubles as the
    * convergence signal. Returns (node, round) for every MIS member. */
  def maximalIndependentSet(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).cast("long").as("u"),
      col(cols(1)).cast("long").as("v"))
      .where(col("u") =!= col("v"))
    val prio = (c: Column) =>
      graft.functions.Portable.md5Long(c.cast("string"))
    var e = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    var rem = e.select(col("u").as("id")).distinct()
      .select(col("id"), prio(col("id")).as("p"))
      .localCheckpoint()
    val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var r = 1
    var remN = rem.count()
    while (remN > 0 && r <= maxIter) {
      // smallest (prio, id) among each node's REMAINING neighbors: e is
      // maintained as the remaining×remaining edge set, so the join needs
      // only the v-side priority
      val nbrMin = e
        .join(rem.select(col("id").as("v"), col("p").as("pv")), Seq("v"))
        .groupBy(col("u").as("id"))
        .agg(min(struct(col("pv"), col("v"))).as("m"))
      val win = rem.join(nbrMin, Seq("id"), "left")
        .where(col("m").isNull ||
          struct(col("p"), col("id")) < col("m"))
        .select(col("id"), lit(r.toLong).as("round"))
        .localCheckpoint() // fans into kept, neighbor expansion, anti joins
      kept += win
      val removed = win.select(col("id"))
        .union(e.join(win.select(col("id").as("v")), Seq("v"))
          .select(col("u").as("id")))
        .distinct().localCheckpoint() // fans into three anti joins
      val (rem2, n2) = org.apache.spark.sql.graftbridge.CheckpointBridge
        .checkpointExact(
          rem.join(removed, Seq("id"), "left_anti"), 24L)
      rem = rem2
      remN = n2
      e = e.join(removed.select(col("id").as("u")), Seq("u"), "left_anti")
        .join(removed.select(col("id").as("v")), Seq("v"), "left_anti")
        .select(col("u"), col("v")).localCheckpoint()
      r += 1
    }
    if (remN > 0)
      throw new IllegalStateException(
        s"maximalIndependentSet did not converge within maxIter=$maxIter")
    if (kept.isEmpty) // edgeless input: no conflicted nodes, empty MIS
      rem.select(col("id"), lit(0L).as("round"))
    else kept.reduce(_ union _)
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    * DEEP-GRAPH path [[connectedComponents]]' docs promise: min-label
    * flooding needs diameter-many rounds (a 10⁶-node chain at 100 TB would
    * blow any round budget), star contraction converges in O(log² n)
    * rounds regardless of diameter because each round rewires whole
    * neighborhoods to their minimum, not just adjacent nodes.
    *
    * large-star: every node points its LARGER neighbors at min(Γ(u) ∪ u);
    * small-star: edges orient high→low, every node points its ≤ neighbors
    * (and itself) at the minimum. Both are one groupBy(min) + one
    * re-emission — partial→final aggregates and narrow 16-byte rows, same
    * shuffle discipline as the flooding form. Fixpoint = the (count, Σu+v)
    * witness pair of the edge set is stable across a full large+small
    * round (edges only ever rewire downward; the pair detects both
    * rewiring and contraction). Output matches [[connectedComponents]]:
    * (id, comp) for every node that appears in `edges`. */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val cols = edges.columns
    val raw = edges.select(col(cols(0)).cast("long").as("u"),
      col(cols(1)).cast("long").as("v"))
    // every node of the input graph — the output contract (component minima
    // and isolated-by-contraction nodes drop out of the edge set). Derived
    // from the RAW edges, before self-loops are dropped: a node whose only
    // edge is (x, x) is a singleton component, and [[connectedComponents]]
    // emits it — this form must too.
    val nodes = raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id"))).distinct().localCheckpoint()
    var e = raw
      .where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint()
    def witness(df: DataFrame) = witnessPair(df, col("u") + col("v"))
    def largeStar(ed: DataFrame): DataFrame = {
      val nb = ed.union(ed.select(col("v").as("u"), col("u").as("v")))
      val mins = nb.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      nb.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(ed: DataFrame): DataFrame = {
      // edges already orient u ≥ v after largeStar's (v > u → (v, m)) emit
      val or = ed.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = or.groupBy(col("u")).agg(min(col("v")).as("m"))
      or.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(or.select(col("u"), col("v")).join(mins, "u")
          .select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
    }
    var prev = witness(e)
    var converged = false
    var it = 0
    while (it < maxIter && !converged) {
      e = smallStar(largeStar(e)).localCheckpoint()
      val w = witness(e)
      converged = w == prev
      prev = w
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge within maxIter=$maxIter " +
          "alternation rounds")
    // at fixpoint e is a star forest: (node, componentMin); minima and
    // fully-contracted singletons label themselves
    nodes.join(e.select(col("u").as("id"), col("v").as("comp")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Widest (maximum-bottleneck) paths from a seed set: bneck(u) = the
    * maximum over seed-paths of the minimum edge weight along the path —
    * the MAX-MIN path semiring, completing the kernel trio next to
    * [[bfsLevels]] (min-plus) and [[pageRank]] (sum-times). With
    * co-purchase counts as weights this is connection-STRENGTH
    * propagation: "how strong is the strongest chain linking this item to
    * the curated seeds" — hop distance alone calls a chain of one-off
    * co-purchases as close as a chain of thousands. Same delta-iteration
    * discipline as bfsLevels: labels only ever increase or appear
    * (monotone in the max-min lattice), messages flow only from the
    * last round's improved set, fixpoint = empty delta, loud maxIter
    * failure. Seeds carry Long.MaxValue (⊤ of the lattice: an
    * unconstrained path to themselves). */
  def widestPaths(edges: DataFrame, sources: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).cast("long").as("u"),
      col(cols(1)).cast("long").as("v"), col(cols(2)).cast("long").as("w"))
    val e = e0.union(e0.select(col("v").as("u"), col("u").as("v"), col("w")))
      .groupBy(col("u"), col("v")).agg(max(col("w")).as("w"))
      .localCheckpoint()
    var lab = sources
      .select(col(sources.columns(0)).cast("long").as("id"))
      .distinct()
      .select(col("id"), lit(Long.MaxValue).as("bneck"))
      .localCheckpoint()
    // Delta iteration: unlike BFS, a max-min label CAN improve after first
    // reach (a wider-but-longer path lands later), so the frontier is the
    // IMPROVED set, not the newly-reached set — but the same induction
    // holds: any improvement at `u` must route through a neighbor whose
    // own label improved, so messages from unchanged nodes are already
    // absorbed and only the delta speaks. Per round the edge-sized join is
    // e ⋈ delta (late rounds broadcast a shrinking delta; the edge table
    // never reshuffles), the combined messages are compared against the
    // current labels to extract strict improvements, and the label table
    // is patched by anti-join ∪ delta — node-sized narrow work, no full
    // re-aggregate. Convergence = empty delta (the message source itself,
    // computed either way — not a witness-only changed-row join). */
    var delta = lab
    var more = !delta.isEmpty
    var it = 0
    while (it < maxIter && more) {
      val msgs = e.join(delta, e("v") === delta("id"))
        .select(e("u").as("id"), least(col("bneck"), col("w")).as("bneck"))
        .groupBy(col("id")).agg(max(col("bneck")).as("bneck"))
      val (d, dn) = ckCount(msgs.as("m")
        .join(lab.select(col("id").as("lid"), col("bneck").as("old")),
          col("id") === col("lid"), "left")
        .where(col("old").isNull || col("bneck") > col("old"))
        .select(col("id"), col("bneck")))
      delta = d
      more = dn > 0
      // patch, don't re-aggregate: full-outer + coalesce keeps first-reached
      // nodes from the delta AND unimproved nodes from the label table (a
      // left_anti ∪ delta form trips Catalyst's union constraint rewrite on
      // the duplicate attribute ids the checkpointed delta shares with its
      // own lineage inside the anti join)
      if (more)
        lab = ckCount(lab.select(col("id").as("lid"), col("bneck").as("ob"))
          .join(delta.select(col("id").as("did"), col("bneck").as("nb")),
            col("lid") === col("did"), "full")
          .select(coalesce(col("lid"), col("did")).as("id"),
            coalesce(col("nb"), col("ob")).as("bneck")))._1
      it += 1
    }
    if (more)
      throw new IllegalStateException(
        s"widestPaths did not converge within maxIter=$maxIter rounds")
    lab.select(col("id").as("node"), col("bneck"))
  }

  /** Seeded label propagation: a FIXED number of synchronous rounds in
    * which every still-unlabeled node adopts the majority label among its
    * already-labeled neighbors (count desc, label asc on ties — the
    * deterministic argmin-struct form), seeds and previously-adopted
    * labels frozen. The semi-supervised labeling pass of a training-data
    * pipeline: a small curated seed set (domains, topics, quality tiers)
    * spreads over a similarity/co-occurrence graph. Fixed rounds rather
    * than convergence detection: adoption is monotone (labeled nodes never
    * change), so each round is a frontier expansion and the round budget
    * IS the propagation radius — replayable by any engine, no oracle-
    * hostile stopping rule (an empty frontier still short-circuits: every
    * remaining round would be a no-op).
    *
    * Delta iteration (the bfsLevels discipline): messages flow only from
    * the FRONTIER — nodes labeled last round — never the whole label
    * table. That is lossless for the MAJORITY vote, not just reachability:
    * a node still unlabeled entering round r had, by the adoption rule,
    * ZERO labeled neighbors entering round r−1 (one would have made it
    * adopt then), so every labeled neighbor it has now was labeled exactly
    * last round — the delta-neighbor multiset IS the labeled-neighbor
    * multiset and the majority (count desc, label asc) is unchanged. Per
    * round: one edge⋈frontier join (a shrinking frontier broadcasts; the
    * checkpointed edge table never reshuffles), one anti join against the
    * label table, two partial→final aggregates, and a label patch that is
    * a plain union of the round DELTAS — the label table itself is never
    * re-materialized. That union is safe from the anti∪delta Catalyst
    * crash because its MEMBERS carry pairwise-distinct attribute ids
    * (each is a separately-checkpointed LogicalRDD — the seeds via
    * ckCount, each frontier via its round's ckCount), so the union itself
    * never holds duplicate ids. The current frontier DOES still appear on
    * both sides of the next round's anti join (as a union member in `lab`
    * and inside `adopted`'s edge-join lineage); that cross-side reuse is
    * an ordinary self-join, handled by the analyzer's DeduplicateRelations
    * re-aliasing — the crash only required duplicate ids INSIDE one
    * union.
    * Checkpointing the GROWING lab table per round (the pre-r12 shape)
    * materializes O(rounds × |labels|) rows for no reuse benefit: the
    * union members are already materialized RDDs, so re-unioning them each
    * round costs only plan nodes, and their measured per-member stats sum,
    * keeping the anti join broadcastable when the label table is small.
    *
    * `edgesDistinct = true` asserts the input rows are already distinct
    * directed pairs with AT MOST ONE of (u,v)/(v,u) present — then the
    * two-orientation union is distinct by construction and the full-table
    * dedup shuffle is skipped. Multi-edges change the majority VOTE here
    * (unlike reachability kernels), so the default keeps the dedup. */
  def labelPropagation(edges: DataFrame, seeds: DataFrame,
      rounds: Int, edgesDistinct: Boolean = false): DataFrame = {
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).cast("long").as("u"),
      col(cols(1)).cast("long").as("v"))
    val sym = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
    val e = (if (edgesDistinct) sym else sym.distinct()).localCheckpoint()
    var lab = ckCount(seeds
      .select(col(seeds.columns(0)).cast("long").as("id"),
        col(seeds.columns(1)).cast("string").as("label"))
      .distinct())._1
    var frontier = lab
    var r = 0
    var live = true
    while (r < rounds && live) {
      val adopted = e.join(frontier, e("v") === frontier("id"))
        .select(e("u").as("id"), col("label"))
        .join(lab.select(col("id")), Seq("id"), "left_anti")
        .groupBy(col("id"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
        .select(col("id"), col("m.label").as("label"))
      val (f, fn) = ckCount(adopted)
      if (fn == 0) live = false
      else {
        frontier = f
        lab = lab.union(frontier)
      }
      r += 1
    }
    lab
  }

  /** k-core decomposition by iterative peel: repeatedly delete nodes of
    * degree < k until every surviving node has ≥ k surviving neighbors —
    * the standard density filter (community cores, spam/quality screens:
    * an item connected only via low-engagement neighbors peels away even
    * when its raw degree is high). Per round: one degree aggregate over
    * the edge list + two anti joins against the (small) peel set; the edge
    * list is the only big relation and it only ever SHRINKS. Convergence
    * witness is the edge COUNT — peeling strictly removes edges, so a
    * stable count means the peel set was empty (nodes without surviving
    * edges are not in the degree table at all). Loud failure on round
    * exhaustion, as the other iterative kernels. Output: surviving nodes
    * with their within-core degree (≥ k by construction). */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    val cols = edges.columns
    var e = edges.select(col(cols(0)).cast("long").as("u"),
        col(cols(1)).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint()
    var prevCnt = -1L
    var cnt = e.count()
    var it = 0
    while (cnt != prevCnt && it < maxIter) {
      val (e2, c2) = probed("kcore", it) {
        val deg = e.select(col("u").as("x")).union(e.select(col("v").as("x")))
          .groupBy(col("x")).agg(count(lit(1)).as("d"))
        val bad = deg.where(col("d") < k).select(col("x"))
          .localCheckpoint() // peel set fans into both anti joins
        // one materialization per round serves BOTH loop needs: the
        // convergence count and the lineage cut (checkpointExact measures
        // the count while writing the blocks) — the previous shape paid a
        // separate count JOB per round plus an every-2nd-round checkpoint,
        // i.e. ~1.5 jobs of the same anti-join plan where this pays 1
        org.apache.spark.sql.graftbridge.CheckpointBridge
          .checkpointExact(
            e.join(bad.select(col("x").as("u")), Seq("u"), "left_anti")
              .join(bad.select(col("x").as("v")), Seq("v"), "left_anti")
              .select(col("u"), col("v")), 16L)
      }
      e = e2
      prevCnt = cnt
      cnt = c2
      it += 1
    }
    if (cnt != prevCnt)
      throw new IllegalStateException(
        s"kCore did not converge within maxIter=$maxIter peel rounds")
    e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .orderBy("node")
  }

  /** Multi-source BFS levels: exact hop distance from a SEED SET over an
    * undirected edge list — the quality/trust-propagation primitive ("how
    * many hops from curated seeds is this item") and the crawl-frontier
    * depth measure. Delta iteration, not full relabeling: per round one
    * equi-join of the checkpointed edge list with the FRONTIER (nodes
    * first reached last round — starts seed-sized, shrinks as the flood
    * saturates) and one anti join against the reached set; the edge table
    * never reshuffles (a small frontier broadcasts), and every round's
    * shuffle is frontier-sized, not graph-sized. Fixpoint = empty
    * frontier. Throws on
    * maxIter exhaustion like connectedComponents — a silent cap would
    * return wrong (too-large) distances. Seeds outside the graph surface as
    * isolated dist-0 rows (they ARE at distance 0 from themselves). */
  def bfsLevels(edges: DataFrame, sources: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).cast("long").as("u"),
      col(cols(1)).cast("long").as("v"))
    val e = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    var labels = sources
      .select(col(sources.columns(0)).cast("long").as("id"))
      .distinct()
      .select(col("id"), lit(0L).as("dist"))
      .localCheckpoint()
    // Delta iteration: messages flow only from the FRONTIER (nodes first
    // reached last round), never the whole label table. Level-synchronous
    // BFS guarantees a node reached at round r has exact dist r and can
    // never improve, so an already-labeled node has nothing new to say —
    // the anti join below IS the min-aggregate. The per-round edge join is
    // e ⋈ frontier: late rounds broadcast a shrinking frontier against the
    // in-place edge table instead of reshuffling edge-sized data (the
    // full-relabel form re-joined ALL labels every round). Convergence =
    // empty frontier — not a bolted-on witness but the message source the
    // round computes anyway (the no-changed-row-join rule targets
    // witness-only joins added to full-relabel rounds). */
    var frontier = labels
    var more = !frontier.isEmpty
    var it = 0
    while (it < maxIter && more) {
      val msgs = e.join(frontier, e("v") === frontier("id"))
        .select(e("u").as("id"), (col("dist") + 1L).as("dist"))
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
      val (f, fn) = ckCount(
        msgs.join(labels.select(col("id")), Seq("id"), "left_anti"))
      frontier = f
      more = fn > 0
      // labels ∪ frontier is the anti∪delta shape CLAUDE.md forbids —
      // safe here ONLY because ckCount above rebuilt the frontier as a
      // fresh LogicalRDD (new lineage / attribute ids), so the union's
      // sides share no attributes. Removing or reordering that checkpoint
      // reintroduces the UnionBase.rewriteConstraints key-not-found crash;
      // same load-bearing-checkpoint note as widestPaths'.
      if (more) labels = ckCount(labels.union(frontier))._1
      it += 1
    }
    if (more)
      throw new IllegalStateException(
        s"bfsLevels did not converge within maxIter=$maxIter rounds " +
          "(eccentricity exceeds the budget); raise maxIter")
    labels.select(col("id").as("node"), col("dist"))
  }

  /** PageRank over an undirected edge list in EXACT scaled-integer
    * arithmetic: rank₀ = `scale` per node; each round every node splits
    * floor(rank/deg) along its edges and re-collects
    * base + floor(85·Σ/100) with base = floor(15·scale/100) — the classic
    * damping 0.85 with every division a floor in the integer domain, so the
    * result is bit-identical on ANY engine (float PageRank would diverge
    * across summation orders and hash-mismatch a replaying oracle).
    *
    * Scale design: per round one equi-join of the (u, v, deg) edge table
    * with the rank table and one partial→final sum — rows are three longs;
    * no adjacency lists, no driver state. The degree-annotated edge table is
    * the loop invariant: it is hash-partitioned by `u` ONCE and
    * localCheckpoint'ed (checkpoint preserves the physical partitioning), so
    * every sweep's join re-shuffles only the node-sized rank table into the
    * edges — the edge table never moves again. The rank side is the SHJ
    * build (per-partition hash map of node-count/parallelism rows); a
    * sort-merge join would re-sort the whole edge table per sweep for no
    * benefit. Rank lineage is cut by a checkpoint every 6th sweep (not
    * every sweep — see the loop note). Fixed `iters` (pinned, replayable)
    * rather than
    * convergence detection: rank telemetry pipelines run a budgeted number
    * of sweeps.
    *
    * Overflow: Σ floor(rank/deg) over a node's in-neighbors ≤ deg·scale ≤
    * 2m·scale; ×85 stays < 2⁶³ for any m·scale < 10¹⁷ — at web scale
    * (m = 10¹²) use scale = 10⁴, same semantics. */
  def pageRank(edges: DataFrame, iters: Int = 5,
      scale: Long = 1000000L): DataFrame = {
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).cast("long").as("u"),
      col(cols(1)).cast("long").as("v"))
    val e = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
    // materialize the partitioned edge table with AQE OFF: an adaptive plan
    // reports UnknownPartitioning to the checkpoint (AdaptiveSparkPlanExec is
    // a leaf to the partitioning propagation), so under AQE the checkpoint
    // would silently lose hash(u) and every sweep would reshuffle the edges
    // — the exact cost this layout exists to avoid (pinned in
    // PlanQualitySpec "pagerank sweep").
    val ed = graft.GraftSession.withConf(edges.sparkSession,
        "spark.sql.adaptive.enabled" -> "false") {
      e.join(deg, "u").repartition(col("u")).localCheckpoint()
    }
    pageRankOn(ed, iters, scale)
  }

  /** PageRank sweeps over a PREPARED degree-annotated edge table: (u, v, d)
    * rows whose physical source already carries hash(u) partitioning — a
    * bucketed-table scan (`Sinks.ensureBucketedTable(..., key = "u")`) or a
    * checkpointed `repartition(u)`. This is the production entry point: the
    * graph layer is built/persisted ONCE and every telemetry run re-enters
    * here, paying only the sweeps — with a bucketed source, the edge side of
    * every sweep joins exchange-FREE straight off the scan (bucketing
    * satisfies the SHJ's clustered distribution), so nothing edge-sized ever
    * shuffles again, in any session. */
  def pageRankOn(ed: DataFrame, iters: Int = 5,
      scale: Long = 1000000L): DataFrame =
    prSweeps(ed, iters, _ => lit(scale), _ => lit(15L * scale / 100L))

  /** The shared PageRank sweep loop: `init(node)` seeds rank₀ and
    * `teleport(node)` is the per-round restart mass — uniform literals for
    * plain PageRank, a seed-predicate CASE for the personalized form. ONE
    * loop so the sweep discipline (SHUFFLE_HASH build side, integer DIV
    * ladder, per-sweep checkpoint) cannot drift between the two. */
  private def prSweeps(ed0: DataFrame, iters: Int,
      init: Column => Column, teleport: Column => Column): DataFrame = {
    // Materialize the prepared edge table ONCE per ranking run: the sweep
    // loop reads it every iteration, and a bucketed parquet scan pays file
    // opens + columnar decode per sweep (measured 0.33 s of the 0.5 s sweep
    // at sf0.1 — the loop was scan-bound, guide §5 "cache when reused").
    // Block-manager reads amortize that to one scan per run; the checkpoint
    // happens with AQE OFF so it keeps the source's hash(u) partitioning
    // (AdaptiveSparkPlanExec is a propagation leaf — same discipline as
    // pageRank's own materialization) and the sweeps stay exchange-free on
    // the edge side. Inputs that are already checkpoint-backed (LogicalRDD,
    // e.g. from [[pageRank]], or a select of its bare columns, which keeps
    // hash(u)) are used as-is — re-checkpointing would copy every block for
    // nothing.
    val ed = ed0.queryExecution.analyzed match {
      case _: LogicalRDD => ed0
      case Project(ps, _: LogicalRDD)
          if ps.forall(_.isInstanceOf[AttributeReference]) => ed0
      case _ =>
        graft.GraftSession.withConf(ed0.sparkSession,
            "spark.sql.adaptive.enabled" -> "false") {
          probed("pagerank", -2)(ed0.localCheckpoint())
        }
    }
    // every node appears on the u side (the prepared table holds both
    // orientations), and distinct-over-u folds WITHOUT an exchange when the
    // source is hash(u)-distributed
    var r = probed("pagerank", -1) {
      ed.select(col("u")).distinct()
        .select(col("u").as("node"), init(col("u")).as("rnk"))
    }
    var it = 0
    while (it < iters) {
      r = probed("pagerank", it) {
        ed.join(r.hint("SHUFFLE_HASH"), ed("u") === r("node"))
          .select(ed("v").as("v"), expr("rnk DIV d").as("c"))
          .groupBy(col("v"))
          .agg(sum(col("c")).as("s"))
          .select(col("v").as("node"),
            (teleport(col("v")) + expr("(85 * s) DIV 100")).as("rnk"))
          .localCheckpoint()
      }
      // per-sweep checkpoint (iteration rule) — and deliberately NOT a lazy
      // sweep chain: chaining k sweeps into one plan makes k structurally
      // distinct stages that each pay whole-stage-codegen compilation,
      // while the checkpointed loop re-executes ONE compiled sweep shape
      // per round (codegen cache hit; measured ~40% faster at 5 sweeps)
      // and keeps lineage flat for any iteration budget.
      it += 1
    }
    r
  }

  /** Personalized PageRank on the same prepared degree-annotated edge
    * table as [[pageRankOn]] — identical sweep shape and cost (the edge
    * side joins exchange-free off the bucketed scan; only the node-sized
    * rank table moves), but the teleport mass restarts ONLY at seed nodes
    * (node ≡ seedRes mod seedMod, a deterministic predicate both engines
    * replay): rnk₀ = scale·[seed], rnkₖ₊₁(v) = base·[seed v] +
    * (85·Σ rnkₖ(u) div d(u)) div 100. Exact integer arithmetic throughout,
    * so the oracle's unrolled-CTE replay lands bit-identically. This is
    * the query-time half of seed-biased ranking (recommendations,
    * trust propagation) — at 100 TB the point is that a NEW seed set costs
    * only the node-sized sweeps, never a graph rebuild. */
  def personalizedPageRankOn(ed: DataFrame, iters: Int = 5,
      scale: Long = 1000000L, seedMod: Int = 101,
      seedRes: Int = 7): DataFrame = {
    val base = 15L * scale / 100L
    def seedBase(n: Column, amt: Long) =
      when(pmod(n, lit(seedMod.toLong)) === lit(seedRes.toLong), lit(amt))
        .otherwise(lit(0L))
    prSweeps(ed, iters, seedBase(_, scale), seedBase(_, base))
  }

  /** Global triangle count by degree-ordered adjacency intersection (the
    * compact form of Suri & Vassilvitskii, "Counting Triangles and the
    * Curse of the Last Reducer", WWW'11).
    *
    * `edges` = distinct undirected (u, v) with u < v (first two columns).
    * Returns one row: (n_nodes, n_edges, n_triangles).
    *
    * Scale design: the naive wedge join explodes on hubs (Σ deg² with a
    * celebrity vertex = the "last reducer" problem). Orienting every edge
    * from its lower-(degree, id) endpoint caps out-degree at O(√m), so total
    * intersection work is Σ outdeg² ≤ O(m^{3/2}) REGARDLESS of skew — a
    * hub's million neighbors each claim the wedge work instead. In the
    * resulting DAG each triangle has exactly one source vertex with edges to
    * the other two, so summing |N⁺(s) ∩ N⁺(t)| over oriented edges (s, t)
    * counts it exactly once (via its source→middle edge).
    *
    * The intersections run over SORTED per-node out-neighbor arrays with the
    * native merge-walk kernel (ArrayExprs.intersectSizeLong, codegen'd) —
    * unlike the explicit wedge join, the Σ outdeg² candidate wedges are
    * never materialized or shuffled; the only shuffled rows are the m
    * oriented edges and the n adjacency arrays (total payload m longs).
    * Adjacency arrays are capped at O(√m) entries by the orientation, so no
    * row ever exceeds ~8·√m bytes even on a celebrity graph. The oriented
    * edge list is localCheckpoint'ed once because it feeds the adjacency
    * build and the edge probe. */
  def triangleCount(edges: DataFrame): DataFrame =
    triangleCountOriented(orientByDegree(edges).localCheckpoint())

  /** Degree-order orientation of a distinct undirected (u, v) edge list:
    * every edge re-pointed from its lower-(degree, id) endpoint — the
    * O(√m)-out-degree invariant [[triangleCountOriented]] requires. The ONE
    * definition of the orientation: the persisted DAG layer
    * (AdvancedQueries.dagLayer) and the inline path both call it, so the
    * tie rule can never drift between the layer on disk and the operator.
    * Output is NOT materialized — callers checkpoint or write it. */
  def orientByDegree(edges: DataFrame): DataFrame = {
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).cast("long").as("u"),
      col(cols(1)).cast("long").as("v"))
    val und = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u").as("x")).agg(count(lit(1)).as("deg"))
    e0
      .join(deg.select(col("x").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("deg").as("dv")), "v")
      .select(when(col("du") < col("dv")
          || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("st"))
      .select(col("st.s").as("s"), col("st.t").as("t"))
  }

  /** Triangle census over a PREPARED degree-ordered orientation: (s, t)
    * rows with every edge already pointing from its lower-(degree, id)
    * endpoint (the invariant [[triangleCount]] constructs). The production
    * entry point when the orientation layer is persisted (write-once sink):
    * re-runs pay only the adjacency build and the intersection probes, not
    * the two degree joins. The input must be materialized (checkpoint or
    * file scan) — it fans into the adjacency build AND both probe joins. */
  def triangleCountOriented(oriented: DataFrame): DataFrame = {
    val adj = oriented.groupBy(col("s"))
      .agg(sort_array(collect_list(col("t"))).as("nbrs"))
    // inner joins are exact: s always has an out-list (it sources this very
    // edge), and a t with no out-list contributes an empty intersection.
    val tri = oriented
      .join(adj.select(col("s"), col("nbrs").as("ns")), Seq("s"))
      .join(adj.select(col("s").as("t"), col("nbrs").as("nt")), Seq("t"))
      .agg(coalesce(sum(
        graft.functions.ArrayExprs.intersectSizeLong(col("ns"), col("nt"))),
        lit(0L)).as("n_triangles"))
    // endpoints: each oriented edge contributes both of its ends, so the
    // row count is 2m and every node (isolated ones can't exist in an edge
    // list) appears at least once
    val und = oriented.select(col("s").as("u"))
      .union(oriented.select(col("t").as("u")))
    val sizes = und.agg(
      (countDistinct(col("u"))).as("n_nodes"),
      (count(lit(1)) / 2).cast("long").as("n_edges"))
    sizes.crossJoin(tri)
  }
}
