package graft.queries

import graft.{Q, Tables}
import graft.functions.Portable._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for the LLM-data-pipeline layer: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash — each designed for the 100 TB shape.
  *
  * Scale design notes:
  * - Exact dedup shuffles only a 32-byte md5 of the normalized text, never the
  *   text itself: one narrow shuffle, map-side partial agg, no driver state.
  * - n-gram Jaccard uses *prefix filtering* (AllPairs/PPJoin, Bayardo et al.,
  *   WWW'07): each doc's grams are ordered by ascending global document
  *   frequency and only the first ⌊n·(1−t)⌋+1 participate in the inverted-
  *   index join (plus a length-ratio prune). Lossless for Jaccard ≥ t — the
  *   globally-rarest common gram of any qualifying pair provably lands in both
  *   prefixes — while hot grams ("of the") stop driving Σ df² join blowup.
  *
  *   REGIME BOUNDARY (measured, local[32]): prefix filtering is selective
  *   when vocabulary grows with the corpus (natural text, Heaps' law). On a
  *   vocabulary-DENSE corpus (this synthetic fixture: 931 bigrams total) no
  *   gram is rare, so candidates grow ~quadratically: a 5× corpus (25k docs)
  *   cost 40× (8s → 311s) for the exact join, while minhashJoin took 2.4×
  *   (5.6s) and found the same near-dup mass at its threshold. At 100 TB the
  *   engine's guidance is: ngramJaccardJoin for exact-threshold semantics on
  *   natural corpora; minhashJoin (LSH candidates + exact verification) when
  *   the gram distribution is dense or the threshold is high.
  * - MinHash+LSH is the classic shingle → signature → band-bucket join: the
  *   only shuffles are the band groupBy and the candidate verification join.
  *   Parameters r=3, b=42 ⇒ P(miss | J≥0.7) < 3e-8, so LSH output equals
  *   the exact-Jaccard oracle on any realistic near-dup distribution. The
  *   126-hash signature is computed in a typed flatMap (raw JVM loops): it is
  *   internal — every candidate is verified with exact Jaccard — and Catalyst
  *   higher-order functions are interpreted per-element, ~50× slower than
  *   codegen for this shape.
  * - SimHash blocks by 4×15-bit bands; by pigeonhole, hamming ≤ 3 guarantees
  *   an exact band match, so the blocked join is *lossless* vs the O(n²)
  *   oracle while scaling as Σ bucket².
  */
object DedupQueries {

  // ---- MinHash parameters (deterministic, seed fixed) ----
  private val P = 2147483647L // 2^31 - 1
  private val NumHashes = 126 // r * b
  private val R = 3 // rows per band
  private val B = 42 // bands
  private val (hashA, hashB) = {
    val rng = new scala.util.Random(42)
    val a = Array.fill(NumHashes)(1L + rng.nextInt(Int.MaxValue - 1).toLong)
    val b = Array.fill(NumHashes)(rng.nextInt(Int.MaxValue).toLong)
    (a, b)
  }

  /** doc_id + distinct word-trigram shingle set. Typed flatMap (same proven
    * tokenizer as the MR layer) — the nested-HOF Catalyst form pays the
    * interpreted-lambda tax on every pass. Docs too short to shingle can
    * never pair, so they are dropped (matches the oracle's empty range). */
  private def shingles(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = tokensJvm(text)
        if (t.length < 3) Iterator.empty
        else {
          val set = scala.collection.mutable.LinkedHashSet.empty[String]
          var i = 0
          while (i < t.length - 2) {
            set.add(t(i) + " " + t(i + 1) + " " + t(i + 2)); i += 1
          }
          Iterator((id, set.toSeq))
        }
      }.toDF("doc_id", "s")
  }

  /** FNV-1a 64-bit over UTF-8 bytes, folded into [0, P). Only used for the
    * internal MinHash signature — never surfaces in query output, so it needs
    * determinism, not oracle portability. */
  private def fnvModP(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    ((h % P) + P) % P
  }

  /** PPJoin verification kernel: |A∩B| of sorted gid arrays as a native
    * codegen'd expression (see [[graft.functions.ArrayExprs]]) — the merge
    * walk reads ArrayData primitives in place inside whole-stage codegen. */
  private def intersectSize(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    graft.functions.ArrayExprs.intersectSize(a, b)

  /** Word-bigram exact Jaccard self-join over a (doc_id, text) relation.
    * Gram extraction runs as a typed flatMap — same tokenizer as the proven
    * MR layer (reference main.c:22 semantics) — because interpreted Catalyst
    * HOF chains cost ~50× codegen for this per-row shape. Public so the
    * PPJoin losslessness property (JaccardPropertySpec) can drive it with
    * arbitrary generated corpora. */
  def ngramJaccardJoin(docs: DataFrame, t: Double,
      wideGids: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val e = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val tk = tokensJvm(text)
        val set = scala.collection.mutable.LinkedHashSet.empty[String]
        var i = 0
        while (i < tk.length - 1) { set.add(tk(i) + " " + tk(i + 1)); i += 1 }
        val ng = set.size.toLong
        set.iterator.map(g => (id, ng, g))
      }.toDF("doc_id", "ng", "gram")
    jaccardJoin(e, t, wideGids)
  }

  /** Exact Jaccard-join ≥ t over distinct gram sets: PPJoin (Xiao et al.,
    * WWW'08) on a dictionary-encoded corpus. `e` must have columns
    * (doc_id, ng, gram) — one row per distinct gram per doc, ng = set size.
    *
    * 1. Gram dictionary ordered by ascending document frequency — gid order
    *    IS the rarity order. The dictionary is vocabulary-sized (a dimension
    *    table), so its global row_number window is not a scale hazard.
    * 2. The dictionary-encoded corpus (one sorted gid array per doc) is
    *    localCheckpoint-materialized: it feeds four plan branches (2× prefix
    *    self-join, 2× verify arrays) and is ~1% the width of the raw text —
    *    the 100 TB analogue is writing the encoded corpus once before the
    *    join, never re-tokenizing.
    * 3. Candidates: inverted-index join restricted to each doc's prefix
    *    (first |X| − ⌈t·|X|⌉ + 1 gids — the globally-smallest common gram of
    *    any qualifying pair provably lands in both prefixes), with
    *    length-ratio (t·max ≤ min) and PPJoin positional pruning
    *    (1 + min(na−pa, nb−pb) ≥ ⌈t/(1+t)·(na+nb)⌉, valid because the first
    *    common gram has no common predecessors). Lossless for J ≥ t.
    * 4. Verify: candidates pick up each side's sorted gid array — a table of
    *    one compact row per doc that AQE broadcast-joins at bench scale and
    *    gracefully shuffle-joins beyond — and exact Jaccard via merge
    *    intersection. The document text/grams themselves never cross a
    *    shuffle after dictionary encoding.
    */
  /** Dictionary-encode a (doc_id, ng, gram) relation to one sorted-gid-array
    * row per doc — the shared front half of the jaccard and containment
    * joins. Dense gid in global (df asc, gram) rarity order via distributed
    * sort + zipWithIndex — NOT a single-partition ranking window, which
    * would serialize on one task at web-corpus vocabulary sizes. Int gids
    * cover vocabularies to 2^31; wideGids switches to long gids (offset
    * past 2^32, so the long kernel is genuinely exercised) for corpora
    * beyond — identical output either way (the offset preserves rarity
    * order), property-tested in JaccardPropertySpec. The result is the only
    * materialized intermediate (localCheckpoint) — compact (ints, not
    * grams) and it feeds the prefix explodes AND the verification joins. */
  private def encodeGids(e: DataFrame, wideGids: Boolean): DataFrame = {
    val dict = {
      val spark = e.sparkSession
      import spark.implicits._
      val ranked = e.groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .orderBy(col("df"), col("gram"))
        .select(col("gram")).as[String]
        .rdd.zipWithIndex()
      if (wideGids)
        ranked.map { case (g, i) => (g, (1L << 32) + i + 1) }.toDF("gram", "gid")
      else
        ranked.map { case (g, i) => (g, (i + 1).toInt) }.toDF("gram", "gid")
    }
    e.join(dict, "gram")
      .groupBy(col("doc_id"), col("ng"))
      .agg(sort_array(collect_list(col("gid"))).as("ids"))
      .localCheckpoint()
  }

  private def jaccardJoin(e: DataFrame, t: Double,
      wideGids: Boolean = false): DataFrame = {
    val ids = encodeGids(e, wideGids)
    // the prefix IS the head of the sorted array, so positions come from
    // posexplode of a slice — no window, no extra shuffle.
    val prefix = ids.select(col("doc_id"), col("ng"),
        posexplode(slice(col("ids"), lit(1),
          (col("ng") - ceil(col("ng") * lit(t)) + 1).cast("int"))))
      .select(col("doc_id"), col("ng"), (col("pos") + 1).as("pos"),
        col("col").as("gid"))
    val minOverlap = ceil((col("a.ng") + col("b.ng")) * lit(t / (1.0 + t)))
    // The candidate join's OUTPUT explodes (5.9 M pairs from a 6 MB prefix
    // table at sf0.1) — knowledge the optimizer does not have: sized by
    // INPUT bytes, it broadcast-joined the prefix table and the streamed
    // side kept the encoded checkpoint's partition count, so ONE task
    // generated every candidate pair (measured: a single 3.5 s stage, the
    // query's biggest). Repartition both sides on the join key at the
    // session's shuffle parallelism (REPARTITION_BY_NUM — AQE may not
    // coalesce it back down) so the pair generation + partial distinct run
    // wide under EITHER join strategy; the exchange is one narrow pass of
    // the prefix rows and is required at 100 TB anyway (an inverted index
    // does not broadcast). Self-join of the same frame: the two sides
    // reuse ONE exchange (ReusedExchange).
    val pp = prefix.repartition(
      prefix.sparkSession.sessionState.conf.numShufflePartitions, col("gid"))
    val matches = pp.as("a").join(pp.as("b"),
        col("a.gid") === col("b.gid") && col("a.doc_id") < col("b.doc_id")
          && col("a.ng") <= (col("b.ng") / t).cast("long")
          && col("b.ng") <= (col("a.ng") / t).cast("long")
          && lit(1) + least(col("a.ng") - col("a.pos"),
            col("b.ng") - col("b.pos")) >= minOverlap)
    // distinct BEFORE verification: each surviving pair would otherwise
    // re-join its gid arrays once per shared prefix gram — the narrow pair
    // shuffle is cheaper than ~1.7× array materialization. Unconditional
    // 2-column key: the earlier packed-long variant needed a max(doc_id)
    // scalar read that serialized an extra full pass over the ids table into
    // every run (a real job at 100 TB) to buy ~40% off just this hash
    // aggregate — the wrong trade, per round-1 review.
    val cand = matches
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(ids.select(col("doc_id").as("doc_a"), col("ng").as("na"),
        col("ids").as("ia")), "doc_a")
      .join(ids.select(col("doc_id").as("doc_b"), col("ng").as("nb"),
        col("ids").as("ib")), "doc_b")
      .withColumn("common",
        if (wideGids) graft.functions.ArrayExprs.intersectSizeLong(col("ia"), col("ib"))
        else intersectSize(col("ia"), col("ib")))
      .withColumn("jac", col("common").cast("double")
        / (col("na") + col("nb") - col("common")).cast("double"))
      .where(col("jac") >= t)
      .select(col("doc_a"), col("doc_b"), col("jac"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact CONTAINMENT join ≥ t over distinct bigram sets — the
    * quote/doc-in-doc detector: C(a→b) = |A∩B| / |A|, reported for the
    * small-into-large direction (na < nb, ties broken doc_a < doc_b).
    * Jaccard misses exactly this case (a paragraph quoted inside a much
    * larger page has tiny Jaccard but containment ≈ 1), and ExactSubstr
    * misses the reverse (a quote with small edits breaks the contiguous
    * run but not the gram overlap) — the third primitive of the dedup kit.
    *
    * Asymmetric prefix filter: a qualifying pair shares ≥ ⌈t·na⌉ grams, so
    * by pigeonhole one shared gram lies in a's first na − ⌈t·na⌉ + 1
    * rarity-ordered gids (the probe prefix); the container side has no
    * size-relative bound and must index ALL its grams. The rarity order is
    * what keeps that asymmetry cheap: a's prefix holds its globally RAREST
    * grams, so the candidate join fans out by rare-gram df, never by "of
    * the". Positional pruning (1 + min(na−pa, nb−pb) ≥ ⌈t·na⌉) holds for
    * the first common gram — no common predecessors on either side — and
    * verification is the same exact sorted-array intersection as Jaccard.
    *
    * REGIME BOUNDARY (measured, local[32], replicated sf0.1 corpus — same
    * protocol as the Jaccard note at the top of this file): on this
    * vocabulary-DENSE fixture the probe prefix stops being selective (no
    * gram is rare), so cost grows ~3× faster than the corpus: 1× (5k docs)
    * 6.4 s → 3× 51.9 s → 5× 92.5 s (14.5× cost at 5× corpus), while
    * minhashJoin on the same corpora went 2.1 → 4.3 → 11.1 s (5.3×). At
    * 100 TB the guidance mirrors the Jaccard one — exact containment join
    * on natural (Heaps-law) corpora where prefixes stay rare; on dense
    * gram distributions fall back to minhash-then-containment-verify
    * (LSH candidates, then this verifier's |A∩B|/|A| on the survivors) —
    * with one honest caveat the symmetric fallback carries: LSH bands
    * bound symmetric Jaccard, and a small-probe-in-big-container pair has
    * J ≈ t·na/nb, so the fallback recalls containment only between
    * similarly-sized docs; the small-in-big tail needs either this exact
    * join on a length-bucketed slice or probe-side-only asymmetric
    * banding. */
  def ngramContainmentJoin(docs: DataFrame, t: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val e = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val tk = tokensJvm(text)
        val set = scala.collection.mutable.LinkedHashSet.empty[String]
        var i = 0
        while (i < tk.length - 1) { set.add(tk(i) + " " + tk(i + 1)); i += 1 }
        val ng = set.size.toLong
        set.iterator.map(g => (id, ng, g))
      }.toDF("doc_id", "ng", "gram")
    val ids = encodeGids(e, wideGids = false)
    val probe = ids.select(col("doc_id"), col("ng"),
        posexplode(slice(col("ids"), lit(1),
          (col("ng") - ceil(col("ng") * lit(t)) + 1).cast("int"))))
      .select(col("doc_id"), col("ng"), (col("pos") + 1).as("pos"),
        col("col").as("gid"))
    val full = ids.select(col("doc_id"), col("ng"), posexplode(col("ids")))
      .select(col("doc_id"), col("ng"), (col("pos") + 1).as("pos"),
        col("col").as("gid"))
    val minCommon = ceil(col("a.ng") * lit(t))
    // Same explosive-output repartition as jaccardJoin's candidate join:
    // spread the pair generation on a pinned-width gid exchange instead of
    // single-tasking it on a broadcast's streamed side (see the note there).
    val parts = ids.sparkSession.sessionState.conf.numShufflePartitions
    val probeW = probe.repartition(parts, col("gid"))
    val fullW = full.repartition(parts, col("gid"))
    val cand = probeW.as("a").join(fullW.as("b"),
        col("a.gid") === col("b.gid")
          && (col("a.ng") < col("b.ng")
            || (col("a.ng") === col("b.ng")
              && col("a.doc_id") < col("b.doc_id")))
          && lit(1) + least(col("a.ng") - col("a.pos"),
            col("b.ng") - col("b.pos")) >= minCommon)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(ids.select(col("doc_id").as("doc_a"), col("ng").as("na"),
        col("ids").as("ia")), "doc_a")
      .join(ids.select(col("doc_id").as("doc_b"), col("ng").as("nb"),
        col("ids").as("ib")), "doc_b")
      .withColumn("common", intersectSize(col("ia"), col("ib")))
      .withColumn("cont",
        col("common").cast("double") / col("na").cast("double"))
      .where(col("cont") >= t)
      .select(col("doc_a"), col("doc_b"), col("cont"))
      .orderBy("doc_a", "doc_b")
  }

  /** (doc_id, band, bh) LSH band stream off the shingle relation: 126
    * min-hashes + 42 band hashes per doc in one raw-JVM pass (O(|s|·126)
    * long multiplies — the typed flatMap beats interpreted Catalyst HOFs
    * ~50× here and emits only 28-byte rows). Shared by the corpus-wide
    * self-join and the incremental batch probe. */
  private def bandStream(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    sh.select(col("doc_id"), col("s")).as[(Long, Seq[String])]
      .flatMap { case (id, gs) =>
        val hs = gs.iterator.map(fnvModP).toArray
        val sig = new Array[Long](NumHashes)
        var j = 0
        while (j < NumHashes) {
          val a = hashA(j); val b = hashB(j)
          var mn = Long.MaxValue
          var k = 0
          while (k < hs.length) {
            val v = (a * hs(k) + b) % P
            if (v < mn) mn = v
            k += 1
          }
          sig(j) = mn; j += 1
        }
        (0 until B).iterator.map { b =>
          var h = 0xcbf29ce484222325L
          var r = 0
          while (r < R) { h = (h ^ sig(b * R + r)) * 0x100000001b3L; r += 1 }
          (id, b, h)
        }
      }.toDF("doc_id", "band", "bh")
  }

  /** Incremental (ingest-time) MinHash dedup: only the NEW batch
    * (`batchPred` docs) is deduplicated — each batch doc LSH-probes the
    * full band table and keeps candidates with a SMALLER id (the stored
    * corpus, or an earlier doc of the same batch), exact-verified like
    * minhashJoin. This is the production shape for a corpus that grows:
    * the corpus side's bands are the persisted index (here recomputed off
    * the checkpointed shingles; at 100 TB they are the written signature
    * table), the probe side is batch-sized, and NOTHING corpus×corpus ever
    * joins — per ingest the candidate work is batch-driven, so daily cost
    * tracks the batch, not the archive. Verdict per batch doc:
    * dup_of = smallest verified near-dup id (−1 if none), classified
    * `dup_corpus` / `dup_batch` by which side that canonical doc is on. */
  def minhashIncremental(docs: DataFrame, batchPred: Column,
      t: Double): DataFrame = {
    val sh = shingles(docs).localCheckpoint()
    val bands = bandStream(sh)
    val m = 4
    val ch = bands
      .withColumn("ck", pmod(xxhash64(col("doc_id")), lit(m)).cast("int"))
    val grid = explode(sequence(lit(0), lit(m - 1)))
    val x = ch.select(col("band"), col("bh"), col("ck").as("bi"),
        col("doc_id").as("doc_a"))
      .withColumn("bj", grid)
    val y = ch.where(batchPred)
      .select(col("band"), col("bh"), col("ck").as("bj"),
        col("doc_id").as("doc_b"))
      .withColumn("bi", grid)
    val cand = x.join(y, Seq("band", "bh", "bi", "bj"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val best = verifyJaccard(cand, sh, t)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("dup_of"))
      // classify the canonical doc by MEMBERSHIP (a join against the batch
      // predicate evaluated on its own id), not by re-deriving the caller's
      // predicate shape here
      .join(docs.select(col("doc_id").as("dup_of"),
        batchPred.as("dup_in_batch")), Seq("dup_of"))
    docs.where(batchPred).select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        when(col("dup_of").isNull, "new")
          .when(col("dup_in_batch"), "dup_batch")
          .otherwise("dup_corpus").as("status"))
      .orderBy("doc_id")
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against the
    * full distinct gram sets; emits pairs with jac ≥ threshold. */
  private def verifyJaccard(cand: DataFrame, grams: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(grams.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jac", col("common").cast("double")
        / (size(col("sa")).cast("long") + size(col("sb")).cast("long")
          - col("common")).cast("double"))
      .where(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
      .orderBy("doc_a", "doc_b")

  /** Filesystem layout + lifecycle of the PERSISTENT streaming LSH index
    * (q_stream_dedup_lsh). Per micro-batch, `sh/epoch=N` and
    * `bands/epoch=N` hold that epoch's shingle sets and band table; every
    * `compactEvery` epochs the live epoch dirs fold into a GENERATION
    * `sh_gen/r=LO-HI` + `bands_gen/r=LO-HI` (the epochs it covers,
    * inclusive) and the folded epoch dirs are deleted. Generations merge
    * SIZE-TIERED (LSM discipline, r13 verdict task 2): an epoch fold reads
    * ONLY the epoch dirs it folds — never the accumulated index — and
    * `every` adjacent same-tier generations merge into one of the next
    * tier, so each row is rewritten O(log_every N) times over the index's
    * lifetime instead of once per fold (the r13 shape rewrote the ENTIRE
    * base every `compactEvery` batches: O(N²/K) lifetime write I/O, a
    * maintenance-job scale-killer once the index is TB-sized). The probe
    * index is always (active generations) + (epoch dirs above the covered
    * cut): generation count is O(log) and epoch count is bounded by
    * `compactEvery`, so probe I/O still tracks corpus size plus a bounded
    * dir count, never the total epoch count.
    *
    * Crash/replay safety, without any transaction log:
    * - A generation is ACTIVE only when BOTH sub-indexes committed its
    *   `r=LO-HI` dir (`_SUCCESS` in each — [[activeRanges]] intersects the
    *   two) and no other jointly-committed generation strictly contains
    *   its range: a crash between the two writes leaves the previous
    *   active set in force and the inputs untouched, so the next
    *   compaction simply redoes both dirs (parquet overwrite absorbs the
    *   partial); a crash after both writes but before input deletion
    *   leaves the inputs superseded-but-ignored until the next sweep.
    * - Folded-input deletion (epochs ≤ the covered cut, generations
    *   contained in an active range) is best-effort and runs on every
    *   compaction call: readers select dirs by range arithmetic, so a
    *   surviving already-folded dir is ignored, never double-read.
    * - foreachBatch replay of epoch e after its compaction committed:
    *   the epoch-dir rewrite is an overwrite, the probe finds e's docs in
    *   a generation (epoch dirs ≤ cut are excluded, so nothing is read
    *   twice — verifyJaccard's per-doc join tolerates no duplicate shingle
    *   rows), the output dir overwrite re-emits the identical pair set,
    *   and compaction no-ops (zero live epochs). */
  /** The streaming LSH dedup's persistent index — two jointly-gated
    * sub-indexes (band table + shingle sets) over the shared
    * epoch/generation LSM machinery ([[graft.operators.EpochGenIndex]]:
    * epoch-appended dirs, size-tiered generation compaction, joint
    * crash-safety activation, best-effort input sweep). */
  private[graft] val LshIndex =
    new graft.operators.EpochGenIndex(Seq("sh", "bands"))

  /** One foreachBatch body of the streaming LSH dedup (shared by the
    * driver-gated query and the restart/compaction specs): land the
    * batch's shingles + bands as epoch dirs, probe the accumulated index
    * (own epoch included, so within-batch pairs surface), exact-verify,
    * write the epoch's verified pairs, then compact if due. */
  private[graft] def lshIngestBatch(st: String, outDir: String,
      b: DataFrame, epochId: Long, compactEvery: Int): Unit = {
    val s = b.sparkSession
    shingles(b).write.mode("overwrite").parquet(s"$st/sh/epoch=$epochId")
    // bands derive from the WRITTEN shingles (one compute, no re-shingling
    // for the verification read below)
    val shBDisk = s.read.parquet(s"$st/sh/epoch=$epochId")
    bandStream(shBDisk).write.mode("overwrite")
      .parquet(s"$st/bands/epoch=$epochId")
    val bandsAll = LshIndex.read(s, st, "bands")
    val bandsB = s.read.parquet(s"$st/bands/epoch=$epochId")
    val cand = bandsAll.select(col("band"), col("bh"),
        col("doc_id").as("ida"))
      .join(bandsB.select(col("band"), col("bh"),
        col("doc_id").as("idb")), Seq("band", "bh"))
      .where(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"))
      .distinct()
    val shAll = LshIndex.read(s, st, "sh").select(col("doc_id"), col("s"))
    verifyJaccard(cand, shAll, 0.7)
      .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
    LshIndex.maybeCompact(s, st, compactEvery)
  }

  /** Exact dedup on whitespace-normalized text: keep min doc_id per group.
    * Groups on md5(norm), not norm — the shuffle carries 32 bytes per row
    * instead of the document body (the 100 TB-critical choice). Public like
    * the fuzzy joins: (doc_id, text) in, (keep_id, n_copies, norm_md5) out. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        normMd5(col("text"))
          .as("norm_md5"))
      .groupBy(col("norm_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("norm_md5"))

  /** Chunk-level (paragraph/line) dedup — the RefinedWeb/C4-style pass that
    * finds boilerplate REPEATED ACROSS documents rather than whole-document
    * copies. Text splits into fixed `chunkTokens`-token chunks (this corpus
    * has no line structure, so chunking stands in for line splits; a real
    * corpus would pass pre-split lines), each keyed by the portable 60-bit
    * md5 hash so the self-aggregation shuffles 16 bytes per chunk, never
    * chunk text. A chunk is duplicated when it occurs in ≥ 2 distinct docs;
    * output is per-doc chunk counts for docs carrying ≥ 1 duplicated chunk.
    * Both shuffles (per-chash distinct-doc count, per-doc rollup) are
    * partial→final hash aggregates; the compact (doc_id, chash) stream is
    * localCheckpoint'ed once because it feeds both the dup-set build and the
    * rollup join (fan-out rule). Hash groups equal string groups up to
    * 60-bit md5 collisions — the oracle hashes identically, so both sides
    * agree even then. */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 20): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val chunks = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        tokensJvm(text).grouped(chunkTokens)
          .map(c => (id, md5Long60(c.mkString(" "))))
      }.toDF("doc_id", "chash")
      .localCheckpoint()
    val dup = chunks.groupBy(col("chash"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select(col("chash"), lit(1L).as("is_dup"))
    chunks.join(dup, Seq("chash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_chunks"))
      .where(col("n_dup_chunks") > 0)
  }

  /** Maximal duplicated token SPANS — the ExactSubstr form of dedup (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022, which removes repeated substrings rather than whole near-dup
    * docs). The suffix-array construction the paper uses is single-machine;
    * the distributed equivalent here is sliding `w`-token shingles: a
    * position is "duplicated" when its shingle occurs in ≥ 2 distinct docs,
    * and RUNS of consecutive duplicated positions merge into maximal spans
    * ([start, start+len) covers every token of the shared substring). A
    * shared substring of L ≥ w tokens duplicates exactly its L-w+1 shingle
    * positions, so span_len recovers L exactly — no approximation at
    * span granularity.
    *
    * Scale: the shingle stream shuffles 16-byte (pos, hash) pairs, never
    * gram text; the dup-set test is min(doc)<max(doc) (algebraic,
    * partial→final — countDistinct would shuffle doc ids); the run-merge
    * window partitions by doc_id, bounded by tokens-per-doc, never
    * corpus-keyed. The stream checkpoints once (fans into dup-set + probe). */
  def substringSpans(docs: DataFrame, w: Int = 10,
      minLen: Int = 15): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sh = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = tokensJvm(text)
        (0 to t.length - w).iterator.map { i =>
          (id, i.toLong, md5Long60(t.slice(i, i + w).mkString(" ")))
        }
      }.toDF("doc_id", "pos", "gh")
      .localCheckpoint()
    val dup = sh.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .where(col("mn") < col("mx"))
      .select(col("gh"))
    val wnd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    sh.join(dup, Seq("gh"), "left_semi")
      .withColumn("isl", col("pos") - row_number().over(wnd).cast("long"))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + w).as("span_len"))
      .where(col("span_len") >= minLen)
      .select(col("doc_id"), col("span_start"), col("span_len"))
      .orderBy("doc_id", "span_start")
  }

  /** Benchmark decontamination check: flags corpus docs sharing ≥ `minShared`
    * distinct word `n`-grams with any document in the benchmark partition
    * (`benchPred`) — the standard eval-leakage scan run before training. Both
    * sides reduce to distinct (doc_id, 60-bit gram hash) pairs, so the
    * shuffle is 16 bytes per gram occurrence; the benchmark gram set is
    * benchmark-sized (MBs against a 100 TB corpus), so its distinct set
    * BROADCASTS and the probe is a map-side semi join — the corpus never
    * reshuffles on gram. The oracle hashes grams identically, so hash
    * collisions (if any) cannot split the two engines. */
  def contaminationCheck(docs: DataFrame, benchPred: Column, n: Int = 5,
      minShared: Long = 3): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    def grams(d: DataFrame): DataFrame =
      d.select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          tokensJvm(text).sliding(n).filter(_.length == n)
            .map(g => (id, md5Long60(g.mkString(" "))))
        }.toDF("doc_id", "gram").distinct()
    val bench = grams(docs.where(benchPred)).select(col("gram")).distinct()
    grams(docs.where(!benchPred))
      .join(broadcast(bench), Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Ed-Join (Xiao, Wang & Lin, VLDB'08) edit-distance self-join over
    * fixed-length ASCII document prefixes: all pairs (same lang) with
    * levenshtein ≤ d on the first `prefixLen` characters.
    *
    * Blocking is LOSSLESS: each prefix's positional q-grams are ordered by
    * ascending global document frequency, and only the q·d+1 rarest
    * participate in the inverted-index join (an edit destroys at most q
    * grams, so ≥ |G|−q·d gram occurrences survive with positions shifted at
    * most d — by the prefix-filter lemma some position-compatible match
    * lands in BOTH prefixes). Candidates therefore grow with rare-gram df,
    * not Σ df²; |Δpos| ≤ d prunes accidental hot-gram collisions; exact
    * levenshtein verifies survivors only. At 100 TB the gram dictionary is
    * vocabulary-sized, the per-doc state is q·d+1 ints, and the 48-byte
    * prefixes rejoin candidates via a compact one-row-per-doc table (AQE
    * broadcast at bench scale, shuffle join beyond).
    *
    * ASCII restriction is load-bearing for the gate: Spark's levenshtein
    * counts codepoint edits, DuckDB's counts BYTE edits — they agree exactly
    * iff every character is single-byte, so the comparable universe is
    * pinned to printable-ASCII prefixes on both sides (a normalization
    * predicate, not an approximation). */
  def editDistanceJoin(docs: DataFrame, d: Int = 3, prefixLen: Int = 48,
      q: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // base fans into three consumers (grams + both verify joins) and grams
    // into two (dict + pref): checkpoint the compact intermediates so the
    // scan and the per-doc gram explosion run once, not per branch
    // (CLAUDE.md fan-out rule; both are prefixLen-bounded per doc)
    val base = docs
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, prefixLen).as("s"))
      // \A..\z anchors, not ^..$: Java's $ also matches BEFORE a final
      // newline, so a prefix ending in \n would pass here while the
      // oracle's RE2 '^[ -~]+$' rejects it — the comparable universes must
      // be decided identically on both engines
      .where(length(col("s")) === prefixLen
        && col("s").rlike("\\A[\\x20-\\x7E]+\\z"))
      .localCheckpoint()
    // positional q-grams in one raw-JVM pass (prep stage, one pass per doc)
    val grams = base.as[(Long, String, String)]
      .flatMap { case (id, lang, s) =>
        (0 to s.length - q).iterator
          .map(i => (id, lang, i, s.substring(i, i + q)))
      }.toDF("doc_id", "lang", "pos", "gram")
      .localCheckpoint()
    // rarity dictionary: dense gid in (df asc, gram) order via distributed
    // sort + zipWithIndex — vocabulary-sized, same shape as jaccardJoin's.
    val dict = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .orderBy(col("df"), col("gram")).select(col("gram")).as[String]
      .rdd.zipWithIndex().map { case (g, i) => (g, (i + 1).toInt) }
      .toDF("gram", "gid")
    // each doc keeps only its q·d+1 rarest (gid, pos) entries — the Ed-Join
    // prefix. Per-doc gram count is prefixLen−q+1 (tiny), so the sorted
    // slice is in-row work, not a window.
    val pref = grams.join(dict, "gram")
      .groupBy(col("doc_id"), col("lang"))
      .agg(slice(sort_array(collect_list(struct(col("gid"), col("pos")))),
        1, q * d + 1).as("pg"))
      .select(col("doc_id"), col("lang"), explode(col("pg")).as("g"))
      .select(col("doc_id"), col("lang"),
        col("g.gid").as("gid"), col("g.pos").as("pos"))
      .localCheckpoint() // self-joined below: one dict join, not two
    // pinned-width gid exchange before the candidate join — the same
    // explosive-output repartition as jaccardJoin's (the checkpointed pref
    // table is bytes-tiny, so left alone the pair generation AND the
    // 48-char levenshtein verification downstream inherit ONE partition:
    // measured as two single-task ~2 s stages, the query's whole cost)
    val pw = pref.repartition(
      pref.sparkSession.sessionState.conf.numShufflePartitions, col("gid"))
    val cand = pw.as("a").join(pw.as("b"),
        col("a.gid") === col("b.gid") && col("a.lang") === col("b.lang")
          && col("a.doc_id") < col("b.doc_id")
          && abs(col("a.pos") - col("b.pos")) <= d)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // pinned-width pair exchange: the pair stream is BYTES-tiny (16 B/row)
      // so AQE coalesces the distinct's exchange to one partition — and the
      // levenshtein verification downstream (O(prefixLen²) PER PAIR, the
      // expensive half of Ed-Join) inherits it: measured as two single-task
      // ~2 s stages. The explicit pair-key repartition satisfies the
      // distinct's clustering (no extra exchange) and keeps verification
      // wide; per-pair verify cost is exactly the optimizer-invisible
      // knowledge that licenses it.
      .repartition(pref.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("lang"),
        col("s").as("sa")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("s").as("sb")),
        "doc_b")
      .withColumn("dist", levenshtein(col("sa"), col("sb")))
      .where(col("dist") <= d)
      .select(col("doc_a"), col("doc_b"), col("lang"),
        col("dist").cast("long").as("dist"))
      .orderBy("doc_a", "doc_b")
  }

  def queries: Map[String, Q] = Map(
    "dedup_exact" -> { (s, dir) =>
      exactDedup(Tables(s, dir, "documents")).orderBy("keep_id")
    },

    // Ed-Join edit-distance near-dup pairs (rarity-prefix blocked, exact
    // levenshtein verified) — the typo/OCR-noise dedup regime where token-
    // level Jaccard under-counts single-character damage.
    "dedup_editdist" -> { (s, dir) =>
      editDistanceJoin(Tables(s, dir, "documents"))
    },

    // The STREAMING exact dedup, oracle-gated (the q_stream_sessions
    // recipe): StreamingOps.dedupStream — dropDuplicatesWithinWatermark
    // keyed on the normalized-text md5 — runs over a mid-timeline
    // file-stream split of the documents table. The cross-batch property
    // is the point: a batch-2 duplicate of a batch-1 key must NOT re-emit,
    // which only holds because the key state survives the micro-batch
    // boundary (the 1-hour processing-time watermark horizon dwarfs the
    // run). WHICH doc of a dup group emits first is batch-order dependent,
    // so the gate pins the deterministic surface: the emitted KEY SET and
    // the exactly-once emission count per key — n_emits = 1 is exactly the
    // claim streaming state makes and a stateless re-run would break.
    "q_stream_dedup" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val schema = docs.schema
      val g = graft.streaming.Gate("stream_dedup", dir)
      val median = docs
        .selectExpr(
          "CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY doc_id) AS BIGINT)")
        .head().getLong(0)
      val stream = s.readStream.schema(schema).parquet(s"${g.tmp}/*.parquet")
      g.replay(s)(graft.streaming.StreamingOps.dedupStream(stream)
        .writeStream.outputMode("append")
        .format("memory").queryName(g.sink).start())(
        () => docs.where(col("doc_id") <= median)
          .write.parquet(s"${g.tmp}/b1.parquet"),
        () => docs.where(col("doc_id") > median)
          .write.parquet(s"${g.tmp}/b2.parquet"))
      s.table(g.sink)
        .groupBy(col("norm_md5"))
        .agg(count(lit(1)).as("n_emits"))
        .orderBy("norm_md5")
    },

    // STREAMING near-dup dedup with a PERSISTENT LSH index — ingest-time
    // fuzzy dedup, the streaming twin of dedup_incremental run as a real
    // multi-batch execution: each arriving batch's MinHash band table and
    // shingle sets land in epoch-keyed state dirs (the exactly-once
    // foreachBatch epoch pattern, q_stream_sink's), the batch probes the
    // ACCUMULATED band index (its own epoch included, so within-batch
    // pairs surface too), and candidates verify with exact Jaccard against
    // the stored shingle state. Every pair has ≥1 doc in the probing
    // epoch, so no pair can re-emit in a later epoch — the union over
    // epochs is exactly the corpus-wide minhashJoin, and the same
    // whp-lossless argument (P(miss | J≥0.7) < 3e-8 at r=3, b=42) gates
    // it against the exact-Jaccard oracle. Scale shape: per epoch the
    // probe join is batch-driven (bands ⋈ batch-bands on (band, bh)),
    // the index only ever appends, and nothing corpus×corpus joins — the
    // 100 TB form adds the grid distribution minhashJoin's self-join uses
    // for degenerate hot buckets. Epoch dirs COMPACT into size-tiered
    // GENERATIONS every compactEvery batches (LshIndex.maybeCompact, LSM
    // discipline: every fold reads only its inputs, never the accumulated
    // index), so probe I/O reads O(log) generations + a bounded number of
    // recent epochs — and maintenance I/O rewrites each row O(log) times
    // over the index lifetime, never the whole base per fold.
    "q_stream_dedup_lsh" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val schema = docs.schema
      val g = graft.streaming.Gate("stream_lsh", dir)
      // terciles, not a median split: THREE ingest batches so the third
      // probes a freshly COMPACTED index (compactEvery = 2 folds epochs
      // 0-1 into generation r=0-1 before batch 3 arrives) — the
      // consolidation path runs inside the gated execution, not only in
      // specs
      val cuts = docs.selectExpr(
        "CAST(percentile_cont(0.3333) WITHIN GROUP (ORDER BY doc_id) AS BIGINT)",
        "CAST(percentile_cont(0.6667) WITHIN GROUP (ORDER BY doc_id) AS BIGINT)")
        .head()
      val (t1, t2) = (cuts.getLong(0), cuts.getLong(1))
      val st = s"${g.tmp}/state"
      g.replay(s)(s.readStream.schema(schema)
        .parquet(s"${g.tmp}/in/*.parquet")
        .writeStream
        .foreachBatch { (b: DataFrame, epochId: Long) =>
          lshIngestBatch(st, s"${g.tmp}/out", b, epochId, compactEvery = 2)
        }
        .option("checkpointLocation", s"${g.tmp}/ckpt")
        .start())(
        () => docs.where(col("doc_id") <= t1)
          .write.parquet(s"${g.tmp}/in/b1.parquet"),
        () => docs.where(col("doc_id") > t1 && col("doc_id") <= t2)
          .write.parquet(s"${g.tmp}/in/b2.parquet"),
        () => docs.where(col("doc_id") > t2)
          .write.parquet(s"${g.tmp}/in/b3.parquet"))
      s.read.parquet(s"${g.tmp}/out")
        .select(col("doc_a"), col("doc_b"), col("jac"))
        .orderBy("doc_a", "doc_b")
    },

    // Cross-document repeated-chunk (paragraph) dedup; see chunkDedup.
    "dedup_chunk" -> { (s, dir) =>
      chunkDedup(Tables(s, dir, "documents")).orderBy("doc_id")
    },

    // Maximal duplicated token spans (ExactSubstr-style); see substringSpans.
    "dedup_substring" -> { (s, dir) =>
      substringSpans(Tables(s, dir, "documents"))
    },

    // Eval-set contamination scan: every 97th doc plays the benchmark.
    "dedup_contaminate" -> { (s, dir) =>
      contaminationCheck(Tables(s, dir, "documents"),
        pmod(col("doc_id"), lit(97L)) === 0).orderBy("doc_id")
    },

    // Word-bigram Jaccard near-dup pairs: PPJoin candidate generation
    // (lossless, see jaccardJoin) + exact merge-intersect verification.
    "dedup_ngram" -> { (s, dir) =>
      ngramJaccardJoin(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")), 0.5)
    },

    // Asymmetric gram-containment ≥ 0.6, small-into-large — the quote /
    // doc-in-doc detector Jaccard structurally misses (see
    // ngramContainmentJoin).
    "dedup_containment" -> { (s, dir) =>
      ngramContainmentJoin(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")), 0.6)
    },

    // MinHash + LSH banding, then exact-Jaccard verification of candidates.
    "dedup_minhash" -> { (s, dir) =>
      minhashJoin(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")), 0.7)
    },

    // Incremental ingest-time dedup: every 5th doc plays the new batch,
    // probed against the rest (the stored corpus) + earlier batch docs.
    "dedup_incremental" -> { (s, dir) =>
      minhashIncremental(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")),
        pmod(col("doc_id"), lit(5L)) === 0, 0.7)
    },

    // SimHash (60-bit, portable md5-based token hash), hamming ≤ 3 pairs via
    // lossless 4×15-bit band blocking. The per-doc signature is one typed map
    // (token tf → 60 weighted bit-sums → sign bits) in raw JVM arithmetic —
    // identical integer math to the oracle SQL, ~60× fewer shuffled rows than
    // the explode(sequence(0,59)) formulation.
    "dedup_simhash" -> { (s, dir) => simhashPairs(s, dir) },

    // Near-dup CLUSTERS: the transitive closure of the simhash pair graph —
    // the production dedup step (pairs alone under-delete: a↔b and b↔c must
    // collapse to ONE kept doc). Min-label flooding in GraphOps; cluster_id
    // is the smallest member doc_id, so "keep" = (doc_id == cluster_id).
    "dedup_cluster" -> { (s, dir) =>
      clusterReport(ccLabels(s, dir))
    },

    // Same clusters via Kiveris large-star/small-star contraction — the
    // deep-graph CC path (O(log² n) rounds regardless of diameter, where
    // flooding needs diameter-many). Two algorithms, one oracle: the
    // component labeling is unique, so both must hash identically.
    "dedup_cluster_star" -> { (s, dir) =>
      clusterReport(graft.operators.GraphOps.connectedComponentsStar(
        simhashPairs(s, dir).select(col("doc_a"), col("doc_b"))))
    },

    // Same clusters a third way: INCREMENTAL maintenance. The stored
    // corpus's CC labels (every 5th doc held out — dedup_incremental's
    // batch split) live in a write-once layer; the batch's pair edges fold
    // in via GraphOps.incrementalComponents — contract endpoints to stored
    // comp ids, CC the batch-sized contracted graph, patch by broadcast
    // remap — WITHOUT re-flooding the base graph. Min-label contraction is
    // exact, so the labels hash-match the same from-scratch oracle as the
    // other two CC paths.
    "dedup_cluster_incr" -> { (s, dir) =>
      val pairs = simhashPairs(s, dir).select(col("doc_a"), col("doc_b"))
      def isBatch(c: Column) = pmod(c, lit(5L)) === 0
      val tmp = Scratch.dir("ccbase", dir)
      graft.sources.Sinks.ensureDir(s, tmp, "v1:ccbase,simhash,mod5!=0",
          Seq(s"$dir/documents.parquet")) {
        graft.operators.GraphOps.connectedComponents(
            pairs.where(!isBatch(col("doc_a")) && !isBatch(col("doc_b"))))
          .write.parquet(tmp)
      }
      val baseLab = s.read.parquet(tmp)
      val batchE = pairs
        .where(isBatch(col("doc_a")) || isBatch(col("doc_b")))
      clusterReport(
        graft.operators.GraphOps.incrementalComponents(baseLab, batchE))
    },

    // Maximal DIVERSITY keep-set: deterministic Luby MIS over the simhash
    // near-dup pair graph (GraphOps.maximalIndependentSet) — the largest
    // greedily-certified set of docs with no near-dup pair inside it.
    // Keep-one-per-cluster (dedup_cluster) keeps ≤1 doc per component;
    // MIS keeps every doc that conflicts with nothing kept — the
    // diversity-maximizing dedup policy. Portable md5 priorities make
    // every round a pure function of the input, so the oracle unrolls the
    // SAME rounds; maxIter pins the unroll depth — deeper data throws
    // loudly instead of silently diverging from the oracle.
    "dedup_diverse" -> { (s, dir) =>
      graft.operators.GraphOps.maximalIndependentSet(
          simhashPairs(s, dir).select(col("doc_a"), col("doc_b")),
          maxIter = MisRounds)
        .select(col("id").as("doc_id"), col("round"))
        .orderBy("doc_id")
    },

    // Quality-aware canonical selection — the KEEP policy after clustering:
    // production dedup keeps the BEST member of each near-dup cluster (here
    // "longest, then lowest id" — the common keep-longest heuristic), not
    // the arbitrary smallest id. One max_by over an ordering struct per
    // cluster (≤1 row per cluster per task — never a ranking window over
    // cluster_id, which a mass-duplicate cluster would serialize).
    "dedup_keep_best" -> { (s, dir) =>
      val cc = ccLabels(s, dir)
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      cc.join(docs, cc("id") === docs("doc_id"))
        .groupBy(col("comp").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"),
            struct(col("n_chars"), (-col("doc_id")).as("neg"))).as("keep_id"),
          max(col("n_chars")).as("keep_chars"))
        .withColumn("n_dropped", col("n_members") - 1)
        .orderBy("cluster_id")
    },

    // LEAKAGE-SAFE train/holdout split: hash-split by near-dup CLUSTER, not
    // by document (q_hash_split's per-doc split leaks — a near-duplicate of
    // a holdout doc lands in train and the eval is contaminated; the
    // well-known eval-contamination failure mode). Every doc inherits its
    // simhash-CC cluster label (singletons are their own cluster), the
    // portable hash splits on that label, so a whole near-dup family moves
    // together — zero straddling pairs BY CONSTRUCTION (the split is a
    // function of cluster_id; pinned against brute force in
    // GraphOpsSpec). Scale: pairs/CC are the dedup layer's existing
    // artifacts; the split itself is one narrow left join (labels are
    // pair-graph-sized, far smaller than the corpus) plus a 2-row agg.
    "q_split_leakage" -> { (s, dir) =>
      val cc = ccLabels(s, dir)
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      val labeled = docs.join(cc, docs("doc_id") === cc("id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("cluster_id"),
          col("n_chars"))
      graft.operators.TextOps.hashSplit(labeled, "cluster_id",
          nBuckets = 10, trainBuckets = 8)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          sum(col("n_chars").cast("long")).as("total_chars"))
        .orderBy("split")
    })

  /** (id, comp) labels → the gated cluster report (doc, cluster, size). */
  private def clusterReport(cc: DataFrame): DataFrame = {
    val sizes = cc.groupBy(col("comp")).agg(count(lit(1)).as("n_members"))
    cc.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        col("n_members"))
      .orderBy("doc_id")
  }

  /** MinHash+LSH trigram-Jaccard self-join over a (doc_id, text) relation,
    * with exact-Jaccard verification of every banded candidate (so false
    * positives are impossible; recall properties in MinhashPropertySpec). */
  def minhashJoin(docs: DataFrame, t: Double): DataFrame = {
      val s = docs.sparkSession
      import s.implicits._
      // materialized once: feeds the signature pass plus both verify joins.
      val sh = shingles(docs).localCheckpoint()
      val bands = bandStream(sh)
      // grid-distributed bucket self-join: web corpora have mass-duplicate
      // clusters whose band bucket would otherwise generate its quadratic
      // candidate set on ONE task. Each side chunks by hash(doc_id) mod m
      // and replicates to its m grid blocks, so the join key
      // (band, bh, bi, bj) spreads a hot bucket across m² tasks with every
      // ordered pair met exactly once (same decomposition as
      // SimilarityOps.nearDupPairs); the rows are 28 bytes, so the m×
      // replication is noise.
      val m = 4
      val ch = bands
        .withColumn("ck", pmod(xxhash64(col("doc_id")), lit(m)).cast("int"))
      val grid = explode(sequence(lit(0), lit(m - 1)))
      val x = ch.select(col("band"), col("bh"), col("ck").as("bi"),
          col("doc_id").as("doc_a"))
        .withColumn("bj", grid)
      val y = ch.select(col("band"), col("bh"), col("ck").as("bj"),
          col("doc_id").as("doc_b"))
        .withColumn("bi", grid)
      val cand = x.join(y, Seq("band", "bh", "bi", "bj"))
        .where(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
      verifyJaccard(cand, sh, t)
  }

  /** SimHash pair graph, memoized per (session, dir) and checkpointed: the
    * pair result is tiny (near-dup pairs, not the corpus) and feeds BOTH
    * dedup_simhash and dedup_cluster — computing it once is the in-process
    * form of the 100 TB story (materialize the pair graph once, run the
    * pair report AND the transitive closure over it). LRU-bounded like the
    * similarity encode cache so stopped sessions are not pinned. */
  /** Release the executor-side blocks behind an LRU-evicted cached
    * checkpoint: a localCheckpoint'ed DataFrame's plan IS a LogicalRDD over
    * a persisted RDD, and dropping the map reference alone leaks those
    * blocks in the block manager until the session dies (r13 ADVICE) — the
    * ContextCleaner only reclaims them after the RDD object is GC'd, which
    * a large-heap bench JVM may never do between queries.
    *
    * SAFETY of the eager unpersist (r14 ADVICE): localCheckpoint blocks are
    * not recomputable, so a DataFrame derived from an evicted entry and
    * executed AFTER eviction would fail on missing blocks. That cannot
    * happen here by construction: both caches serve per-(session, dir)
    * fixture artifacts that each query re-fetches through the cache at
    * call time (no caller holds a derived plan across queries), and the
    * cap-4 LRU only evicts once 5+ distinct (session, fixture-fingerprint)
    * keys are live — i.e. the evictee belongs to a finished test session
    * or a regenerated fixture, never the query in flight. A non-LogicalRDD
    * plan here would mean the cached value was not a bare checkpoint and
    * the eviction silently leaks again — warn loudly so the fix can't
    * regress unnoticed. */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false): Unit
      case other => System.err.println(
        s"[graft] WARNING: evicted cache entry is not a bare checkpoint " +
          s"(${other.getClass.getSimpleName}) — its blocks cannot be " +
          "released and will leak until session shutdown")
    }

  private val pairsCache =
    new java.util.LinkedHashMap[(org.apache.spark.sql.SparkSession, String),
        DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(org.apache.spark.sql.SparkSession, String),
            DataFrame]): Boolean = {
        val evict = size() > 4
        if (evict) unpersistCheckpoint(e.getValue)
        evict
      }
    }
  private def simhashPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    pairsCache.synchronized {
      // fingerprint-keyed so an in-place fixture regeneration misses (one
      // LIST + bounded tail reads; same rationale as the co-purchase cache)
      val fp = graft.sources.Sinks.fingerprint(s, s"$dir/documents.parquet")
      val k = (s, s"$dir@$fp")
      val hit = pairsCache.get(k)
      if (hit != null) hit
      else {
        val v = simhashJoin(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"))).localCheckpoint()
        pairsCache.put(k, v)
        v
      }
    }

  private val ccCache =
    new java.util.LinkedHashMap[(org.apache.spark.sql.SparkSession, String),
        DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(org.apache.spark.sql.SparkSession, String),
            DataFrame]): Boolean = {
        val evict = size() > 4
        if (evict) unpersistCheckpoint(e.getValue)
        evict
      }
    }

  /** Flooding-CC labels over [[simhashPairs]], memoized like the pairs
    * themselves (fingerprint-keyed, so an in-place fixture regeneration
    * misses): the label table is the dedup layer's second shared artifact —
    * clustering, keep-policy, and the leakage-safe split all consume the
    * SAME labels, and at 100 TB it would live beside the pair layer rather
    * than being re-flooded per consumer. dedup_cluster_star / _incr stay
    * uncached on purpose (they exist to exercise the other CC algorithms). */
  private def ccLabels(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    ccCache.synchronized {
      val fp = graft.sources.Sinks.fingerprint(s, s"$dir/documents.parquet")
      val k = (s, s"$dir@$fp")
      val hit = ccCache.get(k)
      if (hit != null) hit
      else {
        val v = graft.operators.GraphOps.connectedComponents(
          simhashPairs(s, dir).select(col("doc_a"), col("doc_b")))
          .localCheckpoint()
        ccCache.put(k, v)
        v
      }
    }

  /** SimHash hamming<=3 self-join over a (doc_id, text) relation. The 4x15-bit
    * band blocking is lossless by pigeonhole (<=3 differing bits cannot touch
    * all 4 bands), asserted against brute force in SimhashPropertySpec. */
  def simhashJoin(docs: DataFrame): DataFrame = {
      val s = docs.sparkSession
      import s.implicits._
      val sim = docs
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val tf = scala.collection.mutable.HashMap.empty[String, Long]
          tokensJvm(text).foreach { w =>
            tf.update(w, tf.getOrElse(w, 0L) + 1L)
          }
          // token-free docs have no signature: the oracle's per-token unnest
          // drops them, and an all-zero sig would otherwise pair every pair
          // of empty docs (round-1 advice).
          if (tf.isEmpty) Iterator.empty
          else {
            val bsum = new Array[Long](60)
            tf.foreach { case (tok, n) =>
              val h = md5Long60(tok)
              var i = 0
              while (i < 60) {
                bsum(i) += n * (((h >>> i) & 1L) * 2L - 1L); i += 1
              }
            }
            var sig = 0L
            var i = 0
            while (i < 60) { if (bsum(i) > 0) sig |= 1L << i; i += 1 }
            Iterator((id, sig))
          }
        }.toDF("doc_id", "simhash")
      val bands = sim.select(col("doc_id"), col("simhash"),
          explode(sequence(lit(0), lit(3))).as("j"))
        .withColumn("bh", expr("shiftright(simhash, 15 * j) & 32767"))
      // grid-distributed band self-join (see minhashJoin): a mass-duplicate
      // cluster's shared band value spreads across m² tasks instead of one
      val m = 4
      val ch = bands
        .withColumn("ck", pmod(xxhash64(col("doc_id")), lit(m)).cast("int"))
      val grid = explode(sequence(lit(0), lit(m - 1)))
      val x = ch.select(col("j"), col("bh"), col("ck").as("bi"),
          col("doc_id").as("doc_a"), col("simhash").as("sa"))
        .withColumn("bj", grid)
      val y = ch.select(col("j"), col("bh"), col("ck").as("bj"),
          col("doc_id").as("doc_b"), col("simhash").as("sb"))
        .withColumn("bi", grid)
      x.join(y, Seq("j", "bh", "bi", "bj"))
        .where(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
        .distinct()
        .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
        .where(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy("doc_a", "doc_b")
  }

  private def gramSql(n: Int): String = {
    val parts = (0 until n).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""SELECT doc_id, list_distinct(list_transform(
       |  range(1, len(t) - ${n - 2}), i -> $parts)) AS s
       |FROM (SELECT doc_id, ${TOKENS("text")} AS t FROM documents)""".stripMargin
  }

  private def jaccardSql(gramCte: String, threshold: String): String =
    s"""WITH g AS ($gramCte),
       |e AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS ng, unnest(s) AS gram FROM g),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    any_value(a.ng) AS na, any_value(b.ng) AS nb, COUNT(*) AS common
       |  FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(common AS DOUBLE)/CAST(na + nb - common AS DOUBLE) AS jac
       |FROM p
       |WHERE CAST(common AS DOUBLE)/CAST(na + nb - common AS DOUBLE) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  def oracles: Map[String, String] = Map(
    "dedup_exact" ->
      s"""WITH n AS (
         |  SELECT doc_id,
         |    regexp_replace(trim(lower(text)), '[ \\t\\r\\n]+', ' ', 'g') AS norm
         |  FROM documents)
         |SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies, md5(norm) AS norm_md5
         |FROM n GROUP BY norm ORDER BY keep_id""".stripMargin,

    // brute force within lang blocks; DuckDB's byte-based levenshtein ==
    // Spark's codepoint-based one on the ASCII-pinned universe.
    "dedup_editdist" ->
      """WITH d AS (
        |  SELECT doc_id, lang, substr(text, 1, 48) AS s FROM documents
        |  WHERE length(substr(text, 1, 48)) = 48
        |    AND regexp_matches(substr(text, 1, 48), '^[ -~]+$'))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
        |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.s, b.s) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // one row per distinct normalized key, each emitted exactly once — the
    // streaming-state claim the batch oracle can express.
    "q_stream_dedup" ->
      s"""SELECT ${NORMMD5("text")} AS norm_md5, CAST(1 AS BIGINT) AS n_emits
         |FROM documents GROUP BY 1 ORDER BY norm_md5""".stripMargin,

    // chunks = successive 20-token slices (incl. the partial tail), hashed
    // with the same 60-bit md5 form the engine shuffles.
    "dedup_chunk" ->
      s"""WITH d AS (SELECT doc_id, ${TOKENS("text")} AS t FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    ${MD5LONG("array_to_string(list_slice(t, i*20+1, i*20+20), ' ')")} AS chash
         |  FROM d, LATERAL (SELECT unnest(range(CAST(ceil(len(t)/20.0) AS BIGINT))) AS i)),
         |dup AS (SELECT chash FROM c GROUP BY chash
         |        HAVING COUNT(DISTINCT doc_id) >= 2)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN chash IN (SELECT chash FROM dup)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
         |FROM c GROUP BY doc_id HAVING n_dup_chunks > 0
         |ORDER BY doc_id""".stripMargin,

    // sliding 10-token shingles via list_slice over a position range; runs
    // of duplicated positions merge via the pos - row_number island trick.
    "dedup_substring" ->
      s"""WITH d AS (SELECT doc_id, ${TOKENS("text")} AS t FROM documents),
         |c AS (
         |  SELECT doc_id, i,
         |    ${MD5LONG("array_to_string(list_slice(t, i+1, i+10), ' ')")} AS gh
         |  FROM d, LATERAL (SELECT unnest(range(len(t) - 9)) AS i)
         |  WHERE len(t) >= 10),
         |dup AS (SELECT gh FROM c GROUP BY gh HAVING min(doc_id) < max(doc_id)),
         |m AS (
         |  SELECT doc_id, i,
         |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS isl
         |  FROM c WHERE gh IN (SELECT gh FROM dup)),
         |s AS (
         |  SELECT doc_id, min(i) AS span_start, max(i) - min(i) + 10 AS span_len
         |  FROM m GROUP BY doc_id, isl)
         |SELECT doc_id, span_start, span_len FROM s WHERE span_len >= 15
         |ORDER BY doc_id, span_start""".stripMargin,

    // 5-grams via lead() windows per doc; grams hashed with the identical
    // 60-bit md5 so both engines agree even under (negligible) collisions.
    "dedup_contaminate" ->
      s"""WITH d AS (SELECT doc_id, ${TOKENS("text")} AS t FROM documents),
         |pos AS (SELECT doc_id, unnest(t) AS tokn,
         |        generate_subscripts(t, 1) AS i FROM d),
         |g AS (
         |  SELECT doc_id,
         |    tokn || ' ' || lead(tokn,1) OVER w || ' ' || lead(tokn,2) OVER w
         |      || ' ' || lead(tokn,3) OVER w || ' ' || lead(tokn,4) OVER w AS gram,
         |    lead(tokn,4) OVER w AS l4
         |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
         |gg AS (SELECT DISTINCT doc_id, ${MD5LONG("gram")} AS gh
         |       FROM g WHERE l4 IS NOT NULL),
         |bench AS (SELECT DISTINCT gh FROM gg WHERE doc_id % 97 = 0)
         |SELECT doc_id, COUNT(*) AS n_shared
         |FROM gg WHERE doc_id % 97 <> 0 AND gh IN (SELECT gh FROM bench)
         |GROUP BY doc_id HAVING COUNT(*) >= 3
         |ORDER BY doc_id""".stripMargin,

    "dedup_ngram" -> jaccardSql(gramSql(2), "0.5"),

    // brute-force containment over the same distinct-bigram relation: the
    // prefix-filtered engine join must equal the all-pairs count
    "dedup_containment" ->
      s"""WITH g AS (${gramSql(2)}),
         |e AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS ng, unnest(s) AS gram
         |      FROM g),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    any_value(a.ng) AS na, COUNT(*) AS common
         |  FROM e a JOIN e b ON a.gram = b.gram
         |    AND (a.ng < b.ng OR (a.ng = b.ng AND a.doc_id < b.doc_id))
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(common AS DOUBLE)/CAST(na AS DOUBLE) AS cont
         |FROM p
         |WHERE CAST(common AS DOUBLE)/CAST(na AS DOUBLE) >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,

    // LSH recall at these parameters is 1 - (1-J^3)^42 ≈ 1 for J ≥ 0.7+ε on
    // this corpus (pair similarity is bimodal: ≥0.85 or ≤0.15), so the
    // banded+verified output equals the exact-Jaccard result.
    "dedup_minhash" -> jaccardSql(gramSql(3), "0.7"),

    // the epoch union equals the corpus-wide join; same whp-lossless LSH
    // argument, same exact-Jaccard oracle
    "q_stream_dedup_lsh" -> jaccardSql(gramSql(3), "0.7"),

    // same exact-Jaccard pair base (recall note above), restricted to pairs
    // whose LARGER id is a batch doc; verdict = smallest matched id.
    "dedup_incremental" ->
      s"""WITH g AS (${gramSql(3)}),
         |e AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS ng, unnest(s) AS gram
         |      FROM g),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    any_value(a.ng) AS na, any_value(b.ng) AS nb, COUNT(*) AS common
         |  FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  WHERE b.doc_id % 5 = 0
         |  GROUP BY 1, 2),
         |v AS (
         |  SELECT doc_a, doc_b FROM p
         |  WHERE CAST(common AS DOUBLE)/CAST(na + nb - common AS DOUBLE) >= 0.7),
         |best AS (SELECT doc_b AS doc_id, MIN(doc_a) AS dup_of
         |         FROM v GROUP BY doc_b)
         |SELECT d.doc_id, COALESCE(b.dup_of, -1) AS dup_of,
         |  CASE WHEN b.dup_of IS NULL THEN 'new'
         |       WHEN b.dup_of % 5 = 0 THEN 'dup_batch'
         |       ELSE 'dup_corpus' END AS status
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         |LEFT JOIN best b USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $simhashShCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // transitive closure of the same pair graph by recursive min-label
    // propagation: walk floods each node with every reachable id; the MIN is
    // the component's canonical (smallest) member. Shared verbatim by the
    // star-contraction twin — unique labeling, one oracle.
    "dedup_cluster" -> clusterSql,

    // incremental maintenance path; identical unique labeling, one oracle
    "dedup_cluster_incr" -> clusterSql,

    // unrolled Luby rounds (MATERIALIZED per the k-core lesson); the row
    // comparison (p, id) < (p, id) is the engine's struct ordering
    "dedup_diverse" -> misSql(MisRounds),

    // same labeling chain; keep = longest member, ties to the lowest id.
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $ccLabCtes,
         |m AS (
         |  SELECT l.comp, l.id, d.n_chars
         |  FROM lab l JOIN documents d ON l.id = d.doc_id),
         |k AS (
         |  SELECT comp, id AS keep_id, n_chars AS keep_chars FROM m
         |  QUALIFY row_number() OVER (
         |    PARTITION BY comp ORDER BY n_chars DESC, id ASC) = 1),
         |sz AS (SELECT comp, COUNT(*) AS n FROM lab GROUP BY comp)
         |SELECT sz.comp AS cluster_id, CAST(sz.n AS BIGINT) AS n_members,
         |  k.keep_id, k.keep_chars, CAST(sz.n - 1 AS BIGINT) AS n_dropped
         |FROM sz JOIN k USING (comp)
         |ORDER BY cluster_id""".stripMargin,
    "dedup_cluster_star" -> clusterSql,

    // same labeling chain; docs outside the pair graph are their own
    // cluster (COALESCE), then the split is the md5 of the CLUSTER id.
    "q_split_leakage" ->
      s"""WITH RECURSIVE $ccLabCtes,
         |cl AS (
         |  SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS cluster_id,
         |    d.n_chars
         |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.id)
         |SELECT CASE WHEN ${MD5LONG("CAST(cluster_id AS VARCHAR)")} % 10 < 8
         |    THEN 'train' ELSE 'holdout' END AS split,
         |  COUNT(*) AS n_docs,
         |  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM cl GROUP BY 1 ORDER BY split""".stripMargin)

  /** Oracle-unroll depth for dedup_diverse — also the engine's maxIter, so
    * data needing more rounds throws rather than silently diverging. Luby
    * with random-quality priorities halves the graph per round whp; 8 is
    * ~3 doublings of headroom over the fixture's observed depth. */
  private val MisRounds = 8

  /** Unrolled deterministic-Luby MIS over the simhash pair graph: per
    * round, winners = remaining nodes whose (priority, id) precedes every
    * remaining neighbor's; next remaining = minus winners and their
    * neighbors. Tail rounds on a converged graph are no-ops. */
  private def misSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT r.id, r.p FROM n${k - 1} r
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM e JOIN n${k - 1} m ON e.v = m.id
         |    WHERE e.u = r.id AND (m.p, m.id) < (r.p, r.id))),
         |n$k AS MATERIALIZED (
         |  SELECT r.id, r.p FROM n${k - 1} r
         |  WHERE r.id NOT IN (SELECT id FROM w$k)
         |    AND NOT EXISTS (
         |      SELECT 1 FROM e JOIN w$k w ON e.v = w.id
         |      WHERE e.u = r.id))""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to rounds)
      .map(k => s"SELECT id, CAST($k AS BIGINT) AS round FROM w$k")
      .mkString("\nUNION ALL\n")
    s"""WITH $simhashShCtes,
       |pr AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |e AS MATERIALIZED (
       |  SELECT doc_a AS u, doc_b AS v FROM pr
       |  UNION SELECT doc_b, doc_a FROM pr),
       |n0 AS MATERIALIZED (
       |  SELECT DISTINCT u AS id,
       |    ${MD5LONG("CAST(u AS VARCHAR)")} AS p
       |  FROM e),
       |$roundCtes
       |SELECT id AS doc_id, round FROM ($unionAll)
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared CC labeling chain over the simhash pair graph: `lab(id, comp)`.
    * Single source of truth for the dedup_cluster(_star) and
    * dedup_keep_best oracles. */
  private lazy val ccLabCtes =
      s"""$simhashShCtes,
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |e AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pr
         |  UNION SELECT doc_b, doc_a FROM pr),
         |walk(id, comp) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT e.u, walk.comp FROM e JOIN walk ON e.v = walk.id),
         |lab AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id)""".stripMargin

  private lazy val clusterSql =
      s"""WITH RECURSIVE $ccLabCtes
         |SELECT l.id AS doc_id, l.comp AS cluster_id,
         |  CAST(sz.n AS BIGINT) AS n_members
         |FROM lab l JOIN (SELECT comp, COUNT(*) AS n FROM lab GROUP BY comp) sz
         |  USING (comp)
         |ORDER BY doc_id""".stripMargin

  /** Shared CTE chain producing `sh(doc_id, simhash)` — single source of
    * truth for the dedup_simhash and dedup_cluster oracles. */
  private val simhashShCtes =
    s"""tok AS (
       |  SELECT doc_id, unnest(${TOKENS("text")}) AS tok FROM documents),
       |tf AS (
       |  SELECT doc_id, tok, COUNT(*) AS tf, ${MD5LONG("tok")} AS h
       |  FROM tok GROUP BY doc_id, tok),
       |bits AS (
       |  SELECT doc_id, i.i AS i,
       |    CAST(SUM(tf * (((h >> i.i) & 1) * 2 - 1)) AS BIGINT) AS bsum
       |  FROM tf, range(60) i(i) GROUP BY doc_id, i.i),
       |sh AS (
       |  SELECT doc_id, CAST(SUM(CASE WHEN bsum > 0
       |    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin
}
