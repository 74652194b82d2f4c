package graft

import graft.operators.GraphOps

/** Connected components (the dedup-cluster kernel) vs a driver union-find
  * model, over random graph shapes including the hostile ones: long chains
  * (maximum diameter for the flooding rounds) and star-heavy duplication
  * (the realistic near-dup shape).
  */
class GraphOpsSpec extends SparkTestBase {

  private def model(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent.update(x, r); r }
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.update(math.max(ra, rb), math.min(ra, rb))
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val got = GraphOps.connectedComponents(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == model(edges), s"edges=$edges")
  }

  test("random graphs match union-find") {
    val rng = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val n = 40
      val edges = Seq.fill(30)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      check(edges)
    }
  }

  test("chain graph (worst-case diameter) converges to one component") {
    val chain = (0L until 30L).sliding(2).map(s => (s(1), s(0))).toSeq
    check(chain)
    import spark.implicits._
    val comps = GraphOps.connectedComponents(chain.toDF("a", "b"))
      .select("comp").distinct().collect()
    assert(comps.length == 1 && comps.head.getLong(0) == 0L)
  }

  test("star clusters and multi-edges") {
    // two stars sharing no nodes, duplicate edges in both orientations
    val star1 = (1L to 8L).map(i => (0L, i))
    val star2 = (101L to 105L).map(i => (100L, i))
    check(star1 ++ star2 ++ star1.map(_.swap) ++ Seq((0L, 5L), (0L, 5L)))
  }

  test("incrementalComponents == from-scratch CC on random base+batch splits") {
    // every structural case in one sweep: batch edges that merge two base
    // components, batch-only chains of new nodes, a new node bridging into
    // a base component via its NON-minimum member, and stored loners
    // (nodes absent from the base label table, first paired by the batch)
    import spark.implicits._
    val rng = new scala.util.Random(11)
    (1 to 4).foreach { _ =>
      val n = 30
      val base = Seq.fill(25)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // batch touches old ids (merges), fresh ids 100+ (new-node chains),
      // and bridges between the two
      val batch = Seq.fill(10)(
        (rng.nextInt(n).toLong, (100 + rng.nextInt(8)).toLong)) ++
        Seq.fill(5)(
          ((100 + rng.nextInt(8)).toLong, (100 + rng.nextInt(8)).toLong)) ++
        Seq.fill(5)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
          .filter { case (a, b) => a != b }
      val baseLab = GraphOps.connectedComponents(base.toDF("u", "v"))
      val got = GraphOps
        .incrementalComponents(baseLab, batch.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = model(base ++ batch)
      // incremental output covers base nodes + batch-touched nodes; the
      // from-scratch model over base∪batch covers exactly the same set
      assert(got == want, s"base=$base batch=$batch")
    }
  }

  test("maximalIndependentSet matches the deterministic Luby model and is a real MIS") {
    import spark.implicits._
    import graft.functions.Portable.md5Long60
    def model(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2)
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      var rem = adj.keySet
      def prio(x: Long) = (md5Long60(x.toString), x)
      val out = scala.collection.mutable.Map.empty[Long, Long]
      var r = 1L
      while (rem.nonEmpty) {
        val win = rem.filter(n =>
          (adj(n) & rem).forall(m =>
            Ordering[(Long, Long)].lt(prio(n), prio(m))))
        win.foreach(out(_) = r)
        rem = rem -- win -- win.flatMap(adj)
        r += 1
      }
      out.toMap
    }
    val rng = new scala.util.Random(23)
    (1 to 4).foreach { _ =>
      val n = 30
      val edges = Seq.fill(40)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = GraphOps.maximalIndependentSet(edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == model(edges), s"edges=$edges")
      // structural certificate, independent of the model: no edge inside
      // the set, and every outside node conflicts with a member
      val s = got.keySet
      val und = (edges ++ edges.map(_.swap)).toSet
      assert(!und.exists { case (a, b) => s(a) && s(b) }, "set not independent")
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
      assert((nodes -- s).forall(x => und.exists {
        case (a, b) => a == x && s(b)
      }), "set not maximal")
    }
  }

  test("incrementalComponents with an empty batch returns the base labels") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val baseLab = GraphOps.connectedComponents(base.toDF("u", "v"))
    val got = GraphOps.incrementalComponents(baseLab,
        Seq.empty[(Long, Long)].toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == model(base))
  }

  // ---- pagerank ----

  private def prModel(edges: Seq[(Long, Long)], iters: Int,
      scale: Long): Map[Long, Long] = {
    val und = edges.flatMap(e => Seq(e, e.swap))
    val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = 15L * scale / 100L
    var r = deg.keys.map(_ -> scale).toMap
    (1 to iters).foreach { _ =>
      val in = und.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
      r = deg.keys.map(n => n -> (base + 85L * in(n) / 100L)).toMap
    }
    r
  }

  test("star-contraction CC == union-find on random/star/multi-edge graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(19)
    (1 to 4).foreach { _ =>
      val n = 35
      val edges = Seq.fill(28)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = GraphOps.connectedComponentsStar(edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == model(edges), s"edges=$edges")
    }
    // star + duplicate multi-edges (the near-dup cluster shape)
    val star = (1L to 12L).map(v => (0L, v)) ++ Seq((5L, 0L), (0L, 7L))
    val got = GraphOps.connectedComponentsStar(star.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == model(star))
  }

  test("both CC forms keep a node whose only edge is a self-loop") {
    import spark.implicits._
    // node 7's sole appearance is (7,7): it is a singleton component, and
    // the doc contract promises identical rosters from both algorithms —
    // dropping self-loops before deriving the node set would lose it.
    val edges = Seq((1L, 2L), (7L, 7L), (2L, 3L))
    val flood = GraphOps.connectedComponents(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val starred = GraphOps.connectedComponentsStar(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flood == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L))
    assert(starred == flood,
      s"star roster $starred diverges from flooding roster $flood")
  }

  test("star-contraction CC converges on a 400-node chain (flooding cannot)") {
    import spark.implicits._
    val chain = (0L until 400L).sliding(2).map(s => (s(0), s(1))).toSeq
    // min-label flooding would need ~400 rounds — over its budget by design
    intercept[IllegalStateException] {
      GraphOps.connectedComponents(chain.toDF("u", "v"), maxIter = 20)
    }
    // star contraction needs O(log^2 n) alternations
    val labels = GraphOps.connectedComponentsStar(chain.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 400)
    assert(labels.forall(_._2 == 0L), "chain must collapse to component 0")
  }

  test("bfsLevels matches driver BFS on random graphs, chains, isolated seeds") {
    import spark.implicits._
    def bfsModel(edges: Seq[(Long, Long)],
        seeds: Seq[Long]): Map[Long, Long] = {
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.Set[Long]]
      edges.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
      val dist = scala.collection.mutable.HashMap[Long, Long](
        seeds.map(_ -> 0L): _*)
      var frontier = seeds.toSet
      var d = 0L
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(x => adj.getOrElse(x, Set.empty))
          .filterNot(dist.contains)
        frontier.foreach(dist.update(_, d))
      }
      dist.toMap
    }
    def run(edges: Seq[(Long, Long)], seeds: Seq[Long]): Map[Long, Long] =
      GraphOps.bfsLevels(edges.toDF("u", "v"), seeds.toDF("id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rng = new scala.util.Random(11)
    (1 to 4).foreach { _ =>
      val n = 30
      val edges = Seq.fill(25)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val seeds = Seq(0L, 5L, 100L) // 100 is isolated: dist-0 row, no spread
      assert(run(edges, seeds) == bfsModel(edges, seeds), s"edges=$edges")
    }
    // chain: worst-case eccentricity, exact level per link
    val chain = (0L until 20L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = run(chain, Seq(0L))
    assert(got == (0L until 20L).map(i => i -> i).toMap)
  }

  test("widestPaths matches brute-force max-min on random weighted graphs") {
    import spark.implicits._
    def wpModel(edges: Seq[(Long, Long, Long)],
        seeds: Seq[Long]): Map[Long, Long] = {
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.Map[Long, Long]]
      edges.foreach { case (a, b, w) =>
        val ma = adj.getOrElseUpdate(a, scala.collection.mutable.Map.empty)
        ma(b) = math.max(ma.getOrElse(b, Long.MinValue), w)
        val mb = adj.getOrElseUpdate(b, scala.collection.mutable.Map.empty)
        mb(a) = math.max(mb.getOrElse(a, Long.MinValue), w)
      }
      val bn = scala.collection.mutable.HashMap[Long, Long](
        seeds.map(_ -> Long.MaxValue): _*)
      var changed = true
      while (changed) {
        changed = false
        bn.toSeq.foreach { case (x, b) =>
          adj.getOrElse(x, Map.empty).foreach { case (y, w) =>
            val cand = math.min(b, w)
            if (cand > bn.getOrElse(y, Long.MinValue)) {
              bn(y) = cand; changed = true
            }
          }
        }
      }
      bn.toMap
    }
    val rng = new scala.util.Random(37)
    (1 to 4).foreach { _ =>
      val edges = Seq.fill(30)((rng.nextInt(18).toLong,
        rng.nextInt(18).toLong, (1 + rng.nextInt(9)).toLong))
        .filter(e => e._1 != e._2)
      val seeds = Seq(0L, 17L, 99L) // 99 isolated: stays at lattice top
      val got = GraphOps.widestPaths(edges.toDF("u", "v", "w"),
          seeds.toDF("id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == wpModel(edges, seeds), s"edges=$edges")
    }
    // bottleneck chain: the narrowest link caps everything beyond it
    val chain = Seq((0L, 1L, 9L), (1L, 2L, 2L), (2L, 3L, 7L))
    val got = GraphOps.widestPaths(chain.toDF("u", "v", "w"), Seq(0L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> Long.MaxValue, 1L -> 9L, 2L -> 2L, 3L -> 2L))
  }

  test("labelPropagation matches the synchronous majority model") {
    import spark.implicits._
    def lpModel(edges: Seq[(Long, Long)], seeds: Map[Long, String],
        rounds: Int): Map[Long, String] = {
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.Set[Long]]
      edges.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
      var lab = seeds
      (1 to rounds).foreach { _ =>
        val adopted = adj.keys.filterNot(lab.contains).flatMap { u =>
          val votes = adj(u).toSeq.flatMap(lab.get)
            .groupBy(identity).map { case (l, vs) => (l, vs.size) }
          if (votes.isEmpty) None
          else Some(u -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1)
        }.toMap
        lab = lab ++ adopted
      }
      lab
    }
    val rng = new scala.util.Random(29)
    (1 to 3).foreach { _ =>
      val edges = Seq.fill(30)(
        (rng.nextInt(25).toLong, rng.nextInt(25).toLong))
        .filter { case (a, b) => a != b }
      val seeds = Map(1L -> "a", 2L -> "b", 3L -> "a", 24L -> "c")
      for (rounds <- Seq(1, 3)) {
        val got = GraphOps.labelPropagation(edges.toDF("u", "v"),
            seeds.toSeq.toDF("id", "label"), rounds)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got == lpModel(edges, seeds, rounds),
          s"rounds=$rounds edges=$edges")
      }
    }
    // chain: label radius == round budget, ties at equidistant nodes break
    // on the smaller label
    val chain = (0L until 7L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = GraphOps.labelPropagation(chain.toDF("u", "v"),
        Seq((0L, "z"), (6L, "a")).toDF("id", "label"), 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // synchronous rounds read the PREVIOUS round's labels: node 3's
    // neighbors (2 and 4) are only labeled DURING round 2, so after two
    // rounds the middle node is still unreached — radius is exactly 2
    assert(got == Map(0L -> "z", 1L -> "z", 2L -> "z",
      4L -> "a", 5L -> "a", 6L -> "a"), s"got $got")
  }

  test("labelPropagation edgesDistinct=true matches the default path on " +
      "canonical u<v input") {
    import spark.implicits._
    // the fast path skips the two-orientation dedup shuffle; on input that
    // really is distinct one-orientation pairs the VOTE multiset — and so
    // the output — must be identical to the default path's. A caller
    // passing edgesDistinct=true with duplicate or both-orientation rows
    // would double majority votes; this pin is the guard for the contract.
    val rng = new scala.util.Random(31)
    val canonical = Seq.fill(40)(
        (rng.nextInt(20).toLong, rng.nextInt(20).toLong))
      .filter { case (a, b) => a < b }.distinct
    val seeds = Seq((0L, "x"), (5L, "y"), (13L, "x"))
    for (rounds <- Seq(1, 3)) {
      val slow = GraphOps.labelPropagation(canonical.toDF("u", "v"),
          seeds.toDF("id", "label"), rounds)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val fast = GraphOps.labelPropagation(canonical.toDF("u", "v"),
          seeds.toDF("id", "label"), rounds, edgesDistinct = true)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(fast == slow, s"rounds=$rounds edges=$canonical")
    }
  }

  test("kCore matches the iterative-peel model; cascades fully") {
    import spark.implicits._
    def peelModel(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.Set[Long]]
      edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
      var changed = true
      while (changed) {
        val bad = adj.collect { case (x, s) if s.size < k => x }.toSeq
        changed = bad.nonEmpty
        bad.foreach { x =>
          adj(x).foreach(y => adj(y) -= x)
          adj.remove(x)
        }
      }
      adj.map { case (x, s) => x -> s.size.toLong }.toMap
    }
    def run(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] =
      GraphOps.kCore(edges.toDF("u", "v"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rng = new scala.util.Random(23)
    (1 to 3).foreach { _ =>
      val edges = Seq.fill(60)(
        (rng.nextInt(20).toLong, rng.nextInt(20).toLong))
      for (k <- Seq(2, 3, 4))
        assert(run(edges, k) == peelModel(edges, k), s"k=$k edges=$edges")
    }
    // chain + triangle: the chain cascades away round by round, the
    // triangle survives at k=2
    val g = (0L until 8L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((100L, 101L), (101L, 102L), (102L, 100L))
    assert(run(g, 2) == Map(100L -> 2L, 101L -> 2L, 102L -> 2L))
  }

  test("pageRank matches the integer model incl. hubs and multi-component") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    (1 to 3).foreach { round =>
      val n = 20
      val base = Seq.fill(35)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
        .distinct
      // round 3 adds a hub plus a disconnected pair (separate component)
      val extra = if (round == 3)
        (1L until n).map(i => (0L, i)).toSeq ++ Seq((100L, 101L))
      else Seq.empty
      val edges = (base ++ extra).distinct
      val got = GraphOps.pageRank(edges.toDF("u", "v"), iters = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == prModel(edges, 4, 1000000L), s"round=$round")
    }
  }

  test("pageRank mass conservation bound: ranks stay positive, hub ranks highest") {
    import spark.implicits._
    val edges = (1L to 9L).map(i => (0L, i)) ++ Seq((1L, 2L))
    val got = GraphOps.pageRank(edges.toDF("u", "v"), iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ > 0))
    assert(got(0L) == got.values.max)
  }

  test("pageRankOn over a bare-column select of a checkpointed edge table " +
      "runs no extra checkpoint job") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 6L))
      .toDF("u", "v")
    val e = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val ed = GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      e.join(deg, "u").repartition(col("u")).localCheckpoint()
    }
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (plain, plainJobs, _) = jobsOf(rows(GraphOps.pageRankOn(ed, iters = 2)))
    val (sel, selJobs, _) =
      jobsOf(rows(GraphOps.pageRankOn(ed.select("u", "v", "d"), iters = 2)))
    assert(sel == plain)
    assert(selJobs == plainJobs, s"$selJobs jobs over the select, $plainJobs over ed")
  }

  // ---- triangle counting ----

  private def triModel(edges: Set[(Long, Long)]): (Long, Long, Long) = {
    val adj = edges.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = adj.keys.toSeq.sorted
    // iterator counting, NOT a Set comprehension (which would dedupe the
    // yielded units and undercount)
    val tris = nodes.iterator.map { u =>
      val nu = adj(u)
      nu.iterator.filter(_ > u).map { v =>
        adj(v).iterator.count(w => w > v && nu(w)).toLong
      }.sum
    }.sum
    (nodes.size.toLong, edges.size.toLong, tris)
  }

  test("triangleCount matches brute force on random graphs incl. hubs") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    (1 to 4).foreach { round =>
      val n = 25
      // round 4 wires a hub (the "last reducer" shape the orientation fixes)
      val base = Seq.fill(60)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val hub = if (round == 4) (1L until n).map(i => (0L, i)) else Seq.empty
      val edges = (base ++ hub).collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet
      val got = GraphOps.triangleCount(
        edges.toSeq.toDF("u", "v")).as[(Long, Long, Long)].head()
      assert(got == triModel(edges), s"round=$round")
    }
  }

  test("triangleCount on a triangle-free bipartite graph is zero") {
    import spark.implicits._
    val edges = for (a <- 0L to 4L; b <- 10L to 14L) yield (a, b)
    val got = GraphOps.triangleCount(edges.toDF("u", "v"))
      .as[(Long, Long, Long)].head()
    assert(got == ((10L, 25L, 0L)))
  }

  /** Prepared (u, v, d) table for the *On sweep entry points: both edge
    * orientations, degree-annotated. */
  private def prepared(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    val e0 = edges.toDF("u", "v")
    val e = e0.union(e0.select($"v".as("u"), $"u".as("v")))
    val deg = e.groupBy($"u").agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("d"))
    e.join(deg, "u")
  }

  test("personalized PageRank decays with distance from the seed") {
    // path 0-1-2-...-9; only node 7 is a seed (7 mod 1000)
    val path = (0L until 9L).map(i => (i, i + 1))
    val ranks = GraphOps.personalizedPageRankOn(prepared(path), iters = 8,
        seedMod = 1000, seedRes = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(7) > ranks(6) && ranks(6) > ranks(5) &&
      ranks(5) > ranks(4), s"no decay away from the seed: $ranks")
    // far end of the path holds (near-)zero mass; the seed holds the most
    assert(ranks(0) < ranks(7) / 10, s"mass leaked to the far end: $ranks")
    assert(ranks.maxBy(_._2)._1 == 7L || ranks.maxBy(_._2)._1 == 8L)
  }

  test("personalized PageRank with no seeds is identically zero") {
    val path = (0L until 5L).map(i => (i, i + 1))
    val ranks = GraphOps.personalizedPageRankOn(prepared(path), iters = 3,
        seedMod = 1000, seedRes = 999)
      .collect().map(_.getLong(1))
    assert(ranks.forall(_ == 0L))
  }

  test("checkpointExact fills the checkpoint and counts its rows in one job") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, i % 7)).toDF("u", "v").where($"v" =!= 3L)
    val ((ck, n), jobs, _) = jobsOf(
      org.apache.spark.sql.graftbridge.CheckpointBridge.checkpointExact(df, 16L))
    assert(jobs == 1, s"$jobs jobs")
    assert(n == 171)
    assert(ck.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(n)))
    val (rows, again, _) = jobsOf(ck.collect().toSeq)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).sorted ==
      df.as[(Long, Long)].collect().toSeq.sorted)
    assert(again == 1, "reading the checkpoint re-ran more than its own scan")
  }
}
