package graft.queries

import graft.{Q, Tables}
import graft.functions.Portable._
import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** The gated text queries: bindings of the reusable
  * [[graft.operators.TextOps]] operators (wordcount, langId, quality,
  * tokenCounts, fingerprint, cleanPipeline) to the fixture's `documents`
  * table and stopword lists, plus the text-file-source round-trip.
  *
  * Wordcount is the reference's whole client capability: tokenize
  * (reference main.c:20-27) → emit (word,"1") (main.c:26) → count per key
  * (main.c:33-43); design notes on the operators themselves.
  */
object TextQueries {

  // Stopword lists for the language-ID heuristic (tiny, deterministic).
  private val stops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu", "ein"),
    "es" -> Seq("el", "la", "de", "y", "es", "que", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "que", "un"))

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  def queries: Map[String, Q] = Map(
    "wordcount" -> { (s, dir) =>
      TextOps.wordcount(Tables(s, dir, "documents")).orderBy("word")
    },

    "wordcount_topk" -> { (s, dir) =>
      TextOps.wordcount(Tables(s, dir, "documents"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
    },

    // The STREAMING flagship, oracle-gated in COMPLETE mode (the fourth
    // streaming output shape beside the append-mode session/join/window
    // gates): StreamingOps.wordcountStream over a two-batch file-stream
    // split of the corpus. Complete mode keeps one row of state per
    // distinct word (vocabulary-bounded, not stream-bounded) and the second
    // batch's counts must ACCUMULATE onto the first's — a streaming
    // aggregate that restarts its state between batches hash-fails. No
    // watermark/sentinels needed: complete mode re-emits the whole table
    // each batch.
    "q_stream_wordcount" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val schema = docs.schema
      val g = graft.streaming.Gate("stream_wc", dir)
      val median = docs
        .selectExpr(
          "CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY doc_id) AS BIGINT)")
        .head().getLong(0)
      val stream = s.readStream.schema(schema).parquet(s"${g.tmp}/*.parquet")
      g.replay(s)(graft.streaming.StreamingOps.wordcountStream(stream)
        .writeStream.outputMode("complete")
        .format("memory").queryName(g.sink).start())(
        () => docs.where(col("doc_id") <= median)
          .write.parquet(s"${g.tmp}/b1.parquet"),
        () => docs.where(col("doc_id") > median)
          .write.parquet(s"${g.tmp}/b2.parquet"))
      s.table(g.sink).select(col("word"), col("cnt")).orderBy("word")
    },

    "text_langid" -> { (s, dir) =>
      TextOps.langId(Tables(s, dir, "documents"), stops).orderBy("doc_id")
    },

    "text_quality" -> { (s, dir) =>
      TextOps.quality(Tables(s, dir, "documents"), stops.head._2.toSet)
        .orderBy("doc_id")
    },

    "text_tokencount" -> { (s, dir) =>
      TextOps.tokenCounts(Tables(s, dir, "documents")).orderBy("doc_id")
    },

    // The training-data user story end-to-end (TextOps.cleanPipeline):
    // quality filter → exact min_by dedup → per-language corpus stats.
    "q_pipeline_clean" -> { (s, dir) =>
      TextOps.cleanPipeline(Tables(s, dir, "documents"),
        minTokens = 10, minDistinctRatio = 0.3).orderBy("lang")
    },

    // Pipeline YIELD funnel — the ops report beside q_pipeline_clean's end
    // state: docs/tokens surviving each cleaning stage (raw → length →
    // distinct-ratio → dedup-keep). All stage counts fold in ONE
    // conditional aggregate over one scan (stages are cumulative flags on
    // the same row — no per-stage rescans); the only shuffle is the
    // dedup-keep min per norm-md5 among stage-2 survivors. At 100 TB this
    // is the yield telemetry every ingest run logs: cost one pass, not
    // one pass per stage.
    "q_pipeline_yield" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), normMd5(col("text")).as("m"),
          tokens(col("text")).as("t"))
        .select(col("doc_id"), col("m"),
          size(col("t")).cast("long").as("n_tokens"),
          size(array_distinct(col("t"))).cast("long").as("n_distinct"))
      val f = d
        .withColumn("s1", col("n_tokens") >= 10)
        .withColumn("s2", col("s1") &&
          col("n_distinct").cast("double") / col("n_tokens").cast("double")
            >= 0.3)
      val keep = f.where(col("s2")).groupBy(col("m"))
        .agg(min(col("doc_id")).as("keep_id"))
      val g = f.join(keep, Seq("m"), "left")
        .withColumn("s3", col("s2") && col("doc_id") === col("keep_id"))
      val a = g.agg(
        count(lit(1)).as("d0"), sum(col("n_tokens")).as("t0"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("d1"),
        sum(when(col("s1"), col("n_tokens")).otherwise(0L)).as("t1"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("s2"), col("n_tokens")).otherwise(0L)).as("t2"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("d3"),
        sum(when(col("s3"), col("n_tokens")).otherwise(0L)).as("t3"))
        .localCheckpoint() // one row; fans into the four stage rows
      def stage(id: Int, name: String, dc: String, tc: String) =
        a.select(lit(id.toLong).as("stage_id"), lit(name).as("stage"),
          col(dc).as("n_docs"), col(tc).as("n_tokens"))
      stage(0, "raw", "d0", "t0")
        .unionAll(stage(1, "min_length", "d1", "t1"))
        .unionAll(stage(2, "distinct_ratio", "d2", "t2"))
        .unionAll(stage(3, "dedup_keep", "d3", "t3"))
        .orderBy("stage_id")
    },

    // Deterministic 80/20 train-holdout split by portable doc_id hash
    // (TextOps.hashSplit) — stable under reruns/repartitioning/appends and
    // exactly replayed by the oracle, so the per-split stats hash-gate.
    "q_hash_split" -> { (s, dir) =>
      TextOps.hashSplit(Tables(s, dir, "documents"), "doc_id",
          nBuckets = 10, trainBuckets = 8)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("split")
    },

    // The reference's literal input shape: a LIST of text files passed like
    // argv[1..] (reference main.c:13-18, mapreduce.c:177-189), tokenized and
    // counted. The corpus round-trips through multi-file line-oriented text
    // (write text → explicit multi-path spark.read.textFile), and the oracle
    // is the parquet wordcount SQL: whitespace tokenization is invariant to
    // how the writer splits rows across lines and files.
    "q_text_source" -> { (s, dir) =>
      val tmp = Scratch.dir("textsrc", dir)
      graft.sources.Sinks.ensureDir(s, tmp, "v1:documents.text,4 parts",
        inputs = Seq(s"$dir/documents.parquet")) {
        Tables(s, dir, "documents").select(col("text"))
          .repartition(4) // several part files, so the read is genuinely multi-path
          .write.mode("overwrite").text(tmp)
      }
      val parts = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("part-")).map(_.getPath).sorted
      TextOps.wordcount(
        s.read.textFile(parts.toIndexedSeq: _*).select(col("value").as("text")))
        .orderBy("word")
    },

    "text_fingerprint" -> { (s, dir) =>
      TextOps.fingerprint(Tables(s, dir, "documents")).orderBy("doc_id")
    },

    // Deterministic corpus shuffle (Layout.globalOrdinals): the global
    // training-order pass — each doc's position is its rank under a
    // portable-hash total order (md5 of the id, id tiebreak), assigned via
    // range-partitioned sort + zipWithIndex, NEVER a partitionless ranking
    // window (which funnels the whole corpus through one task). The
    // permutation is reproducible on any engine: the oracle replays it as
    // row_number over the same order.
    "q_shuffle_order" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("hk"))
      graft.operators.Layout.globalOrdinals(d, Seq(col("hk"), col("doc_id")))
        .select(col("doc_id"), col("hk"), col("pos"))
        .orderBy("pos")
    },

    // Greedy sequence packing (TextOps.packBins): 2048-token training bins
    // per (lang, portable-hash shard), one sorted-group state machine per
    // shard — the example-packing pass of a pretraining pipeline.
    "q_pack_bins" -> { (s, dir) =>
      TextOps.packBins(Tables(s, dir, "documents"))
        .orderBy("lang", "shard", "bin")
    },

    // First BPE merge-round statistics (TextOps.bpePairCounts): top-20
    // adjacent char pairs by corpus frequency — tokenizer training's
    // argmax, computed vocab-sized (over the wordcount, not the corpus).
    "q_bpe_pairs" -> { (s, dir) =>
      TextOps.bpePairCounts(Tables(s, dir, "documents"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    },

    // Unigram self-information scoring (TextOps.infoScore): corpus unigram
    // LM → per-doc information content in exact whole bits — the
    // perplexity-shaped quality signal, hash-gateable because the bit-width
    // form is pure integer arithmetic until one final division.
    "text_infoscore" -> { (s, dir) =>
      TextOps.infoScore(Tables(s, dir, "documents")).orderBy("doc_id")
    },

    // CCNet-style head/middle/tail perplexity split (TextOps.pplBuckets):
    // per-lang terciles of the centibit-quantized info score via bounded
    // histogram thresholds — never a corpus-sized ranking window.
    "text_ppl_bucket" -> { (s, dir) =>
      TextOps.pplBuckets(Tables(s, dir, "documents"))
    },

    // Token-budget mixture sampling (TextOps.mixBudgetSample): census →
    // per-lang ppm rates toward 40/15/15/15/15 weights at a 50% token
    // budget → portable-hash sampling — the data-mixing pass.
    "q_mix_budget" -> { (s, dir) =>
      TextOps.mixBudgetSample(Tables(s, dir, "documents"),
        Map("en" -> 400L, "fr" -> 150L, "es" -> 150L, "zh" -> 150L,
          "de" -> 150L)).orderBy("lang")
    },

    // tf-idf keyword extraction (TextOps.tfidfTopTerms): top-5 terms per
    // doc by exact integer tf·idf_bits — the whole-bit idf keeps ranking
    // engine-portable; window partitions are bounded by doc vocabulary.
    "text_tfidf" -> { (s, dir) =>
      TextOps.tfidfTopTerms(Tables(s, dir, "documents"), 5)
    },

    // Hashed-linear classifier inference (TextOps.classify): the
    // quality-gate shape — per-token weight lookup + per-doc sum, one typed
    // map, zero shuffles; frozen md5 weights keep it oracle-replayable.
    "text_classify" -> { (s, dir) =>
      TextOps.classify(Tables(s, dir, "documents")).orderBy("doc_id")
    },

    // Deterministic exact-k per-language sample (TextOps.sampleK): bounded
    // partial→final min-k by portable hash — eval-set carving without a
    // ranking window over the language.
    "q_sample_k" -> { (s, dir) =>
      TextOps.sampleK(Tables(s, dir, "documents"), "lang", 7)
    },

    // Deterministic weighted priority sample (TextOps.weightedPrioritySample):
    // bottom-100 docs by min-of-w portable hashes, weight = 1..8 length
    // tier — selection probability ∝ weight, exact on both engines (the
    // integer twin of A-ES keys; no pow/log). Bounded-aggregator global
    // top-k, never a ranking window or global sort.
    "q_weighted_sample" -> { (s, dir) =>
      TextOps.weightedPrioritySample(Tables(s, dir, "documents"), 100)
    },

    // Per-domain cap (TextOps.domainCap): top-k docs per source by
    // (n_chars desc, doc_id) through the pairs aggregator — the hot-host
    // guard; a flooding domain folds to ≤ k rows per map task.
    "q_domain_cap" -> { (s, dir) =>
      TextOps.domainCap(Tables(s, dir, "documents"), 5)
    },

    // Gopher-style repetition filter (TextOps.repetition): top-bigram
    // fraction + duplicate-5-gram fraction per doc, flagged at the published
    // thresholds — all per-doc, one typed map, nothing shuffled by gram.
    "text_repetition" -> { (s, dir) =>
      TextOps.repetition(Tables(s, dir, "documents")).orderBy("doc_id")
    },

    // Frozen-BPE tokenizer application (TextOps.bpeApply): the pinned
    // 6-merge table segments the vocabulary — multi-level merges (t+h,
    // th+e, o+r, or+t) compose, so "the" collapses to one token and "sort"
    // to "s ort". Vocab-sized work; the oracle replays the merge loop as a
    // recursive CTE.
    "q_bpe_apply" -> { (s, dir) =>
      TextOps.bpeApply(TextOps.wordcount(Tables(s, dir, "documents")),
        bpeMerges).orderBy("word")
    },

    // BPE merge-TRAINING loop (TextOps.bpeTrain): 8 rounds of pair-count →
    // argmax (cnt desc, pair asc) → left-to-right re-segment, all
    // vocab-sized; the output IS the learned merge table. The oracle
    // unrolls the 8 rounds, each with its own recursive leftmost-fusion
    // walk (the q_bpe_apply CTE shape), every round CTE MATERIALIZED
    // (default inlining would copy each round into its consumers — the
    // k-core lesson).
    "q_bpe_train" -> { (s, dir) =>
      TextOps.bpeTrain(TextOps.wordcount(Tables(s, dir, "documents")),
        BpeTrainRounds).orderBy("round")
    },

    // Winnowing fingerprint selection (TextOps.winnow, the MOSS
    // algorithm): per-window rightmost-argmin over 5-gram rolling hashes,
    // w=4 — per-doc counts + order-independent sums over the distinct
    // selected positions. The oracle replays gram hashes with the fp31
    // list_reduce form and the window argmin as a join + MAX(pos) on the
    // min hash — a selection that picks the wrong tie side or dedups
    // positions wrongly hash-fails.
    "text_winnow" -> { (s, dir) =>
      TextOps.winnow(Tables(s, dir, "documents")).orderBy("doc_id")
    },

    // Quality-classifier TRAINING loop (TextOps.classifierTrain): 4
    // batch-perceptron rounds over 64 hashed bag-of-words features + bias,
    // labeled is-English — the learning half of the text_classify story.
    // Integer-exact throughout (count features, ±1 labels, long weights),
    // so the oracle unrolls the rounds as MATERIALIZED score→mistake→
    // gradient→weight CTEs and the full weight trajectory hash-matches.
    "q_classify_train" -> { (s, dir) =>
      TextOps.classifierTrain(Tables(s, dir, "documents"))
        .orderBy("round", "bucket")
    },

    // RAG-style overlapping chunking (TextOps.chunk): 30-token windows
    // every 20 tokens, map-only — the embedding-pipeline pre-pass.
    "text_chunks" -> { (s, dir) =>
      TextOps.chunk(Tables(s, dir, "documents"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Token-length histogram (TextOps.tokenHist): decade buckets per lang —
    // the corpus-telemetry aggregate behind length-filter thresholds.
    "text_token_hist" -> { (s, dir) =>
      TextOps.tokenHist(Tables(s, dir, "documents"))
        .orderBy("lang", "bucket_lo")
    },

    // Heavy hitters: single-pass frequent-items sketch (Spark's builtin
    // Karp/Misra-Gries-family freqItems — bounded counters per partition,
    // mergeable, no full groupBy needed at 100 TB) gated by the
    // exact-companion pattern: the output rows are the EXACT words above the
    // support threshold, plus a boolean asserting each one was present in
    // the sketch — the sketch's one-sided guarantee (no false negatives
    // above support), so the oracle pins TRUE. The sketch itself is
    // driver-sized by construction (≤ 1/support items), so collecting it is
    // metadata, not data.
    "q_freq_items" -> { (s, dir) =>
      val words = Tables(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("word"))
      val support = 0.03
      val sketch: Seq[String] = words.stat.freqItems(Array("word"), support)
        .head().getSeq[String](0)
      val counts = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val total = words.agg(count(lit(1)).as("total"))
      counts.join(broadcast(total))
        .where(col("cnt").cast("double") > lit(support) * col("total").cast("double"))
        .select(col("word"), col("cnt"),
          array_contains(typedlit(sketch), col("word")).as("in_sketch"))
        .orderBy("word")
    },

    // Count-min sketch: the OTHER classic mergeable frequency sketch (point
    // estimates for any key in fixed memory — d·w counters — where
    // freqItems keeps only the heavy set). Built distributed (Spark's
    // treeAggregate-backed stat.countMinSketch, seed pinned), probed
    // driver-side over the metadata-sized heavy-word set. Gated by the
    // exact-companion pattern: output rows are the exact counts of words
    // above support; the boolean asserts BOTH sketch bounds per word —
    // est ≥ exact (always true, the CMS one-sided guarantee) and
    // est ≤ exact + ⌊eps·total⌋ (the error bound; deterministic here since
    // data and seed are pinned). A drifting sketch fails the hash gate.
    "q_countmin" -> { (s, dir) =>
      val words = Tables(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("word"))
      val eps = 0.001
      val cms = words.stat.countMinSketch(col("word"), eps, 0.99, 42)
      val est = udf((w: String) => cms.estimateCount(w))
      val support = 0.03
      val counts = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val total = words.agg(count(lit(1)).as("total"))
      counts.join(broadcast(total))
        .where(col("cnt").cast("double") > lit(support) * col("total").cast("double"))
        .select(col("word"), col("cnt"),
          (est(col("word")) >= col("cnt") &&
            est(col("word")) <= col("cnt")
              + floor(lit(eps) * col("total").cast("double")).cast("long"))
            .as("cms_ok"))
        .orderBy("word")
    },

    // Inverted index: per-word document frequency, total term frequency and
    // the 10 smallest posting doc_ids (as a joined string — arrays don't
    // survive the oracle's column-sorted frame compare). The posting head
    // runs through the salted top-k, NEVER a collect over the full posting
    // list: a stopword's postings are corpus-sized at 100 TB, and a ranking
    // window over `word` would sort them on one task.
    "text_inverted_index" -> { (s, dir) =>
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      val stats = tok.groupBy(col("word"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("tf_total"))
      val head = graft.operators.Salting
        .topKByKey(tok.distinct(), col("word"), Seq(col("doc_id")), k = 10,
          nSalts = 16, saltOn = col("doc_id"))
        .groupBy(col("word"))
        .agg(concat_ws(",", array_sort(collect_list(col("doc_id"))))
          .as("postings_head"))
      stats.join(head, "word").orderBy("word")
    },

    // Top-20 bigrams (TextOps.bigrams): the n-gram generalization of
    // wordcount — typed flatMap producing adjacent pairs, algebraic count,
    // global top-k via TakeOrdered (per-partition heads merge on the driver;
    // no global sort materializes).
    "q_bigram_topk" -> { (s, dir) =>
      graft.operators.TextOps.bigrams(Tables(s, dir, "documents"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    },

    // PII scrub (TextOps.redact): the corpus is synthetic word salad with no
    // PII, so each doc gets a deterministic dirty suffix (fake email + phone,
    // mirrored verbatim in the oracle) — the redaction genuinely fires
    // instead of vacuously matching nothing. Rules are RE2-safe regexes;
    // counts are per-rule on the text as that rule sees it.
    "text_redact" -> { (s, dir) =>
      val dirty = Tables(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call 555-0"), col("doc_id").cast("string"))
          .as("text"))
      graft.operators.TextOps.redact(dirty, redactRules).orderBy("doc_id")
    },

    // BM25 top-20 (TextOps.bm25): fixed query terms, per-doc tf from one
    // typed map, single-row corpus stats broadcast, score-matched docs only.
    "text_bm25" -> { (s, dir) =>
      graft.operators.TextOps.bm25(Tables(s, dir, "documents"), bmTerms)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },

    // The registered SQL UDTF (ArrayExprs.NGramsGenerator, a true Catalyst
    // Generator injected by GraftExtensions): trigram document frequency
    // written in RAW SQL text through LATERAL VIEW — the table-function
    // member of the UDF/UDAF/UDTF surface, exercised end-to-end through the
    // parser/analyzer rather than the Column API. GenerateExec evaluates
    // the generator once per doc; the aggregate after it is the ordinary
    // partial→final shape.
    "q_udtf_ngrams" -> { (s, dir) =>
      Tables(s, dir, "documents").createOrReplaceTempView("graft_udtf_docs")
      s.sql("""
        SELECT gram, CAST(count(*) AS BIGINT) AS n_occ,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(min(pos) AS INT) AS first_pos
        FROM graft_udtf_docs LATERAL VIEW graft_ngrams(text, 3) g AS pos, gram
        GROUP BY gram
        HAVING count(*) >= 3
        ORDER BY gram""")
    })

  /** RE2-compatible scrub rules shared by text_redact and its oracle. */
  private val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
  private val numPat = "[0-9][0-9-]+"
  private val redactRules = Seq(
    ("email", emailPat, "<EMAIL>"),
    ("num", numPat, "<NUM>"))

  /** BM25 query terms; constants k1=1.2, b=0.75 (TextOps.bm25 defaults). */
  private val bmTerms = Seq("spark", "merge", "vector")

  private val tokFrom =
    s"SELECT doc_id, ${TOKENS("text")} AS t FROM documents"

  // Pinned BPE merge table, priority-ordered; single source of truth for
  // the Spark loop and the oracle's recursive CTE. Later merges reference
  // earlier outputs (th+e, or+t) to exercise multi-level composition.
  private val bpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "o" -> "r", "a" -> "t", "t" -> "h", "th" -> "e", "or" -> "t")

  private val BpeTrainRounds = 8

  /** Unrolled BPE-training oracle: per round, pair stats over the previous
    * segmentation, a LIMIT-1 argmax, and a recursive walk fusing the chosen
    * pair's leftmost occurrence per step (one fusion never creates a new
    * occurrence of the same pair, so the fixpoint equals the engine's
    * left-to-right pass). The padded ' a b c ' string form makes every
    * occurrence carry its flanking spaces, and the replacement re-supplies
    * them, so chained occurrences stay well-formed. */
  private def bpeTrainSql(rounds: Int): String = {
    val init =
      s"""wc AS MATERIALIZED (
         |  SELECT word, COUNT(*) AS cnt
         |  FROM (SELECT unnest(${TOKENS("text")}) AS word FROM documents)
         |  GROUP BY word),
         |seg0 AS MATERIALIZED (
         |  SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' '
         |    AS s, cnt
         |  FROM wc)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT list_extract(l, u.i) AS lft, list_extract(l, u.i + 1) AS rgt,
         |    CAST(SUM(cnt) AS BIGINT) AS pcnt
         |  FROM (SELECT string_split(trim(s), ' ') AS l, cnt FROM seg${r - 1}),
         |    unnest(range(1, len(l))) AS u(i)
         |  GROUP BY 1, 2),
         |m$r AS MATERIALIZED (
         |  SELECT lft, rgt, pcnt,
         |    ' ' || lft || ' ' || rgt || ' ' AS patt,
         |    ' ' || lft || rgt || ' ' AS rep
         |  FROM p$r ORDER BY pcnt DESC, lft, rgt LIMIT 1),
         |w$r(s, cnt) AS (
         |  SELECT s, cnt FROM seg${r - 1}
         |  UNION ALL
         |  SELECT substr(s, 1, strpos(s, m.patt) - 1) || m.rep ||
         |      substr(s, strpos(s, m.patt) + len(m.patt)), cnt
         |  FROM w$r, m$r m WHERE strpos(s, m.patt) > 0),
         |seg$r AS MATERIALIZED (
         |  SELECT s, cnt FROM w$r
         |  WHERE strpos(s, (SELECT patt FROM m$r)) = 0)""".stripMargin
    }.mkString(",\n")
    val out = (1 to rounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS round, lft, rgt, pcnt AS pair_cnt FROM m$r"
    }.mkString("\nUNION ALL ")
    s"WITH RECURSIVE $init,\n$roundCtes\n$out\nORDER BY round"
  }

  /** Unrolled batch-perceptron training oracle: per round, score every doc
    * under the previous weights (feature⋈weight sum), count mistakes
    * (y·score ≤ 0), fold Σ y·x over the mistakes into the weights. w0 is
    * the explicit zero vector so round 1 is the all-docs update. Every
    * round CTE is MATERIALIZED (k-core lesson: default inlining re-expands
    * each round into all its consumers). */
  private def classifierTrainSql(rounds: Int, buckets: Int): String = {
    val dim = buckets + 1
    val init =
      s"""lab AS MATERIALIZED (
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
         |  FROM documents),
         |x AS MATERIALIZED (
         |  SELECT t.doc_id, lab.y, t.b, COUNT(*) AS cnt
         |  FROM (SELECT doc_id, ${MD5LONG("tok")} % $buckets AS b
         |        FROM (SELECT doc_id, unnest(${TOKENS("text")}) AS tok
         |              FROM documents)) t
         |  JOIN lab USING (doc_id) GROUP BY 1, 2, 3
         |  UNION ALL
         |  SELECT doc_id, y, $buckets, 1 FROM lab),
         |w0 AS (
         |  SELECT CAST(r.range AS BIGINT) AS b, CAST(0 AS BIGINT) AS w
         |  FROM range($dim) r)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT x.doc_id, x.y, SUM(w.w * x.cnt) AS score
         |  FROM x JOIN w${r - 1} w USING (b) GROUP BY 1, 2),
         |n$r AS MATERIALIZED (
         |  SELECT COUNT(*) AS nm FROM s$r WHERE y * score <= 0),
         |g$r AS MATERIALIZED (
         |  SELECT x.b, SUM(x.y * x.cnt) AS g
         |  FROM x JOIN s$r USING (doc_id)
         |  WHERE s$r.y * s$r.score <= 0 GROUP BY x.b),
         |w$r AS MATERIALIZED (
         |  SELECT w.b, w.w + COALESCE(g.g, 0) AS w
         |  FROM w${r - 1} w LEFT JOIN g$r g USING (b))""".stripMargin
    }.mkString(",\n")
    val out = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, b AS bucket,
         |  CAST(w AS BIGINT) AS w, CAST(n$r.nm AS BIGINT) AS n_mistakes
         |FROM w$r CROSS JOIN n$r""".stripMargin
    }.mkString("\nUNION ALL ")
    s"WITH $init,\n$roundCtes\n$out\nORDER BY round, bucket"
  }

  /** One BPE step over a ' '-delimited symbol string: the highest-priority
    * merge present fuses its leftmost occurrence; identity at fixpoint. */
  private def bpeStepSql(x: String): String = {
    val whens = bpeMerges.map { case (a, b) =>
      val patt = s" $a $b "
      s"""WHEN strpos($x, '$patt') > 0 THEN
         |    substr($x, 1, strpos($x, '$patt') - 1) || ' $a$b ' ||
         |    substr($x, strpos($x, '$patt') + ${patt.length})""".stripMargin
    }.mkString("\n  ")
    s"CASE $whens\n  ELSE $x END"
  }

  def oracles: Map[String, String] = Map(
    "wordcount" ->
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest(t) AS word FROM ($tokFrom))
         |GROUP BY word ORDER BY word""".stripMargin,

    "wordcount_topk" ->
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest(t) AS word FROM ($tokFrom))
         |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin,

    // identical count semantics as wordcount: a correct complete-mode
    // streaming aggregate must converge to the batch table.
    "q_stream_wordcount" ->
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest(t) AS word FROM ($tokFrom))
         |GROUP BY word ORDER BY word""".stripMargin,

    // row_number over the same (hash, id) total order, 0-based like
    // zipWithIndex.
    "q_shuffle_order" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk,
        |  CAST(row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT)
        |    AS pos
        |FROM documents ORDER BY pos""".stripMargin,

    // identical corpus whether read from parquet or the text round-trip:
    // tokenization collapses line/file boundaries.
    "q_text_source" ->
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest(t) AS word FROM ($tokFrom))
         |GROUP BY word ORDER BY word""".stripMargin,

    "q_hash_split" ->
      s"""SELECT CASE WHEN ${MD5LONG("CAST(doc_id AS VARCHAR)")} % 10 < 8
         |    THEN 'train' ELSE 'holdout' END AS split,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  COUNT(DISTINCT lang) AS n_langs
         |FROM documents GROUP BY 1 ORDER BY split""".stripMargin,

    "q_freq_items" ->
      s"""WITH w AS (SELECT unnest(t) AS word FROM ($tokFrom)),
         |c AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
         |t AS (SELECT COUNT(*) AS total FROM w)
         |SELECT word, cnt, TRUE AS in_sketch FROM c, t
         |WHERE CAST(cnt AS DOUBLE) > 0.03 * CAST(total AS DOUBLE)
         |ORDER BY word""".stripMargin,

    // exact heavy words + literal TRUE: the Spark side's per-word CMS bound
    // booleans must all come back true or the hash gate fails.
    "q_countmin" ->
      s"""WITH w AS (SELECT unnest(t) AS word FROM ($tokFrom)),
         |c AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
         |t AS (SELECT COUNT(*) AS total FROM w)
         |SELECT word, cnt, TRUE AS cms_ok FROM c, t
         |WHERE CAST(cnt AS DOUBLE) > 0.03 * CAST(total AS DOUBLE)
         |ORDER BY word""".stripMargin,

    "text_inverted_index" ->
      s"""WITH tok AS (SELECT doc_id, unnest(t) AS word FROM ($tokFrom)),
         |stats AS (
         |  SELECT word, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS tf_total
         |  FROM tok GROUP BY word),
         |dp AS (SELECT DISTINCT word, doc_id FROM tok),
         |hd AS (
         |  SELECT word,
         |    array_to_string(list_sort(list(doc_id)), ',') AS postings_head
         |  FROM (SELECT word, doc_id, row_number()
         |      OVER (PARTITION BY word ORDER BY doc_id) AS rn FROM dp)
         |  WHERE rn <= 10 GROUP BY word)
         |SELECT word, n_docs, tf_total, postings_head
         |FROM stats JOIN hd USING (word) ORDER BY word""".stripMargin,

    "text_langid" -> {
      val scoreCols = stops.map { case (l, ws) =>
        s"CAST(len(list_filter(t, tk -> list_contains(${sqlList(ws)}, tk))) AS BIGINT) AS s_$l"
      }.mkString(",\n  ")
      s"""SELECT doc_id,
         |  CASE WHEN s_en + s_de + s_es + s_fr = 0 THEN 'unknown'
         |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |       WHEN s_es >= s_fr THEN 'es'
         |       ELSE 'fr' END AS pred_lang,
         |  s_en, s_de, s_es, s_fr
         |FROM (SELECT doc_id, $scoreCols FROM ($tokFrom))
         |ORDER BY doc_id""".stripMargin
    },

    "text_quality" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(t) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
         |    CAST(COALESCE(list_sum(list_transform(t,
         |      tk -> CAST(length(tk) AS BIGINT))), 0) AS BIGINT) AS sum_tok_len,
         |    CAST(len(list_filter(t, tk -> list_contains(${sqlList(stops.head._2)}, tk))) AS BIGINT) AS n_stop,
         |    CAST(len(list_filter(t, tk -> regexp_full_match(tk, '[a-z]+'))) AS BIGINT) AS n_alpha
         |  FROM (SELECT doc_id, text, ${TOKENS("text")} AS t FROM documents))
         |SELECT doc_id, n_chars, n_tokens, n_distinct, sum_tok_len, n_stop, n_alpha,
         |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE
         |    CAST(sum_tok_len AS DOUBLE)/CAST(n_tokens AS DOUBLE) END AS avg_tok_len,
         |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE
         |    CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) END AS stop_ratio,
         |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE
         |    CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE)*0.5
         |    + CAST(n_alpha AS DOUBLE)/CAST(n_tokens AS DOUBLE)*0.3
         |    + CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE)*0.2 END AS quality_score
         |FROM b ORDER BY doc_id""".stripMargin,

    "text_tokencount" ->
      s"""SELECT doc_id,
         |  CAST(len(${TOKENS("text")}) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 \\t\\r\\n]')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(len(list_distinct(${TOKENS("text")})) AS BIGINT) AS n_vocab
         |FROM documents ORDER BY doc_id""".stripMargin,

    // same cumulative flags; DuckDB SUMs cast back to BIGINT.
    "q_pipeline_yield" ->
      s"""WITH d AS (
         |  SELECT doc_id, ${NORMMD5("text")} AS m, ${TOKENS("text")} AS t
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, m,
         |    CAST(len(t) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
         |    CAST(len(t) AS BIGINT) >= 10 AS s1,
         |    CAST(len(t) AS BIGINT) >= 10 AND
         |      CAST(len(list_distinct(t)) AS DOUBLE)/CAST(len(t) AS DOUBLE)
         |        >= 0.3 AS s2
         |  FROM d),
         |k AS (SELECT m, MIN(doc_id) AS keep_id FROM f WHERE s2 GROUP BY m),
         |g AS (
         |  SELECT f.*, f.s2 AND f.doc_id = k.keep_id AS s3
         |  FROM f LEFT JOIN k USING (m)),
         |a AS (
         |  SELECT COUNT(*) AS d0, CAST(SUM(n_tokens) AS BIGINT) AS t0,
         |    CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         |    CAST(SUM(CASE WHEN s1 THEN n_tokens ELSE 0 END) AS BIGINT) AS t1,
         |    CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         |    CAST(SUM(CASE WHEN s2 THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
         |    CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         |    CAST(SUM(CASE WHEN s3 THEN n_tokens ELSE 0 END) AS BIGINT) AS t3
         |  FROM g)
         |SELECT CAST(0 AS BIGINT) AS stage_id, 'raw' AS stage,
         |  d0 AS n_docs, t0 AS n_tokens FROM a
         |UNION ALL SELECT 1, 'min_length', d1, t1 FROM a
         |UNION ALL SELECT 2, 'distinct_ratio', d2, t2 FROM a
         |UNION ALL SELECT 3, 'dedup_keep', d3, t3 FROM a
         |ORDER BY stage_id""".stripMargin,

    "q_pipeline_clean" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, text, ${TOKENS("text")} AS t FROM documents),
         |q AS (
         |  SELECT doc_id, lang, text,
         |    CAST(len(t) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
         |  FROM d
         |  WHERE CAST(len(t) AS BIGINT) >= 10
         |    AND CAST(len(list_distinct(t)) AS DOUBLE)/CAST(len(t) AS DOUBLE) >= 0.3),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY ${NORMMD5("text")}
         |    ORDER BY doc_id) AS rn
         |  FROM q)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_distinct) AS BIGINT) AS total_distinct
         |FROM r WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  CAST(list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         |    (a, b) -> (a*31 + b) % 2147483647) AS BIGINT) AS fp31,
         |  ${NORMMD5("text")} AS fp_md5
         |FROM documents ORDER BY doc_id""".stripMargin,

    // char-pair expansion replays as a lateral unnest over 1-based substr
    // positions on the same wordcount CTE.
    "q_bpe_pairs" ->
      s"""WITH wc AS (
         |  SELECT t.word, COUNT(*) AS wcnt
         |  FROM (SELECT unnest(${TOKENS("text")}) AS word FROM documents) t
         |  GROUP BY t.word),
         |pairs AS (
         |  SELECT substr(word, CAST(i AS INT), 2) AS pair, wcnt
         |  FROM wc, unnest(range(1, len(word))) AS u(i))
         |SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt
         |FROM pairs GROUP BY pair
         |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    // the unigram LM and the per-doc bit sums replay as plain aggregates;
    // bits(x) = len(bin(x)) is identical integer bit width on both sides.
    "text_infoscore" ->
      s"""WITH pairs AS (
         |  SELECT doc_id, t.token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(${TOKENS("text")}) AS token
         |        FROM documents) t
         |  GROUP BY doc_id, t.token),
         |lm AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt
         |       FROM pairs GROUP BY token),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM lm)
         |SELECT p.doc_id, CAST(SUM(p.tf) AS BIGINT) AS dlen,
         |  CAST(SUM(p.tf * (len(bin(tot.t)) - len(bin(lm.cnt)))) AS BIGINT)
         |    AS score_bits,
         |  CAST(SUM(p.tf * (len(bin(tot.t)) - len(bin(lm.cnt)))) AS DOUBLE)
         |    / CAST(SUM(p.tf) AS DOUBLE) AS avg_bits
         |FROM pairs p JOIN lm USING (token), tot
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,

    // same LM CTEs as text_infoscore; the tercile thresholds replay the
    // bounded-histogram cumulative (3·cum ≥ n / ≥ 2n integer comparisons)
    // and the centibit quantization is the identical IEEE floor formula.
    "text_ppl_bucket" ->
      s"""WITH pairs AS (
         |  SELECT doc_id, lang, t.token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, lang, unnest(${TOKENS("text")}) AS token
         |        FROM documents) t
         |  GROUP BY doc_id, lang, t.token),
         |lm AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt
         |       FROM pairs GROUP BY token),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM lm),
         |perdoc AS (
         |  SELECT doc_id, p.lang, CAST(SUM(p.tf) AS BIGINT) AS dlen,
         |    CAST(floor(
         |      CAST(SUM(p.tf * (len(bin(tot.t)) - len(bin(lm.cnt)))) AS DOUBLE)
         |      / CAST(SUM(p.tf) AS DOUBLE) * 100.0) AS BIGINT) AS cb
         |  FROM pairs p JOIN lm USING (token), tot
         |  GROUP BY doc_id, p.lang),
         |hist AS (SELECT lang, cb, COUNT(*) AS nh FROM perdoc GROUP BY lang, cb),
         |cum AS (SELECT lang, cb,
         |    SUM(nh) OVER (PARTITION BY lang ORDER BY cb) AS cum
         |  FROM hist),
         |nl AS (SELECT lang, COUNT(*) AS n FROM perdoc GROUP BY lang),
         |th AS (
         |  SELECT c.lang,
         |    MIN(CASE WHEN c.cum * 3 >= nl.n THEN c.cb END) AS t1,
         |    MIN(CASE WHEN c.cum * 3 >= nl.n * 2 THEN c.cb END) AS t2
         |  FROM cum c JOIN nl USING (lang) GROUP BY c.lang)
         |SELECT lang, ppl_bucket, COUNT(*) AS n_docs,
         |  CAST(SUM(dlen) AS BIGINT) AS tok_sum,
         |  MIN(cb) AS cb_min, MAX(cb) AS cb_max
         |FROM (
         |  SELECT p.lang, p.dlen, p.cb,
         |    CAST((CASE WHEN p.cb > th.t1 THEN 1 ELSE 0 END)
         |      + (CASE WHEN p.cb > th.t2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ppl_bucket
         |  FROM perdoc p JOIN th USING (lang))
         |GROUP BY lang, ppl_bucket ORDER BY lang, ppl_bucket""".stripMargin,

    // census / budget / ppm-rate arithmetic written as the identical IEEE
    // double formula (floor + literals only — bit-deterministic), then the
    // same md5-ppm membership predicate as the Spark side.
    "q_mix_budget" ->
      s"""WITH base AS (
         |  SELECT lang, doc_id, CAST(len(${TOKENS("text")}) AS BIGINT)
         |    AS n_tokens FROM documents),
         |census AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT)
         |  AS lang_tokens FROM base GROUP BY lang),
         |tot AS (SELECT CAST(floor(CAST(SUM(n_tokens) AS DOUBLE) * 0.5)
         |  AS BIGINT) AS budget FROM base),
         |rates AS (
         |  SELECT lang, lang_tokens,
         |    LEAST(1000000, CAST(floor(
         |      floor(CAST(budget AS DOUBLE) *
         |        CAST(CASE WHEN lang = 'en' THEN 400 ELSE 150 END AS DOUBLE)
         |        / 1000.0)
         |      * 1000000.0 / CAST(lang_tokens AS DOUBLE)) AS BIGINT))
         |      AS rate_ppm
         |  FROM census, tot)
         |SELECT b.lang, r.lang_tokens, r.rate_ppm,
         |  COUNT(*) AS n_docs, CAST(SUM(b.n_tokens) AS BIGINT)
         |    AS sampled_tokens
         |FROM base b JOIN rates r USING (lang)
         |WHERE ${MD5LONG("CAST(b.doc_id AS VARCHAR)")} % 1000000 < r.rate_ppm
         |GROUP BY 1, 2, 3 ORDER BY b.lang""".stripMargin,

    // the packing state machine replays as a recursive CTE walking each
    // (lang, shard) in doc_id order, carrying (bin, fill) exactly like the
    // sorted-group iterator.
    "q_pack_bins" ->
      s"""WITH RECURSIVE d0 AS (
         |  SELECT doc_id, lang, CAST(len(${TOKENS("text")}) AS BIGINT) AS n_tokens,
         |    ${MD5LONG("CAST(doc_id AS VARCHAR)")} % 16 AS shard
         |  FROM documents),
         |d AS (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY lang, shard ORDER BY doc_id) AS rn
         |  FROM d0),
         |w(lang, shard, rn, bin, fill, n) AS (
         |  SELECT lang, shard, rn, CAST(0 AS BIGINT), n_tokens, n_tokens
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.lang, d.shard, d.rn,
         |    CASE WHEN w.fill + d.n_tokens > 2048 THEN w.bin + 1 ELSE w.bin END,
         |    CASE WHEN w.fill + d.n_tokens > 2048 THEN d.n_tokens
         |         ELSE w.fill + d.n_tokens END,
         |    d.n_tokens
         |  FROM d JOIN w ON d.lang = w.lang AND d.shard = w.shard
         |    AND d.rn = w.rn + 1)
         |SELECT lang, shard, bin, COUNT(*) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS bin_tokens
         |FROM w GROUP BY 1, 2, 3 ORDER BY lang, shard, bin""".stripMargin,

    // recursive CTE replays the one-merge-per-step loop: rows recurse while
    // a merge applies; the fixpoint filter keeps each word's final row.
    "q_bpe_apply" ->
      s"""WITH RECURSIVE wc AS (
         |  SELECT word, COUNT(*) AS cnt
         |  FROM (SELECT unnest(${TOKENS("text")}) AS word FROM documents)
         |  GROUP BY word),
         |init AS (
         |  SELECT word, cnt,
         |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s
         |  FROM wc),
         |walk(word, cnt, s) AS (
         |  SELECT word, cnt, s FROM init
         |  UNION ALL
         |  SELECT word, cnt, ${bpeStepSql("s")}
         |  FROM walk WHERE ${bpeStepSql("s")} <> s)
         |SELECT word, cnt, trim(s) AS tokens,
         |  CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_tokens
         |FROM walk WHERE ${bpeStepSql("s")} = s
         |ORDER BY word""".stripMargin,

    "q_bpe_train" -> bpeTrainSql(BpeTrainRounds),

    "q_classify_train" -> classifierTrainSql(4, 64),

    // grams at 1-based char positions (substr convention both sides);
    // windows j in 1..max(1, G-3), window covers p in [j, j+4); rightmost
    // tie = MAX(p) among the window-min hash; DISTINCT positions dedup
    // multi-window selections.
    "text_winnow" ->
      """WITH g AS (
        |  SELECT doc_id, u.i AS p,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(substr(text, CAST(u.i AS INT), 5), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (a, b) -> (a*31 + b) % 2147483647) AS BIGINT) AS h
        |  FROM documents, unnest(range(1, len(text) - 3)) AS u(i)),
        |n AS (SELECT doc_id, COUNT(*) AS ng FROM g GROUP BY doc_id),
        |wj AS (
        |  SELECT doc_id, u.j FROM n,
        |    unnest(range(1, greatest(ng - 2, 2))) AS u(j)),
        |wm AS (
        |  SELECT wj.doc_id, wj.j, MIN(g.h) AS mh
        |  FROM wj JOIN g ON g.doc_id = wj.doc_id
        |    AND g.p >= wj.j AND g.p < wj.j + 4
        |  GROUP BY 1, 2),
        |sel AS (
        |  SELECT wm.doc_id, wm.j, MAX(g.p) AS p
        |  FROM wm JOIN g ON g.doc_id = wm.doc_id
        |    AND g.p >= wm.j AND g.p < wm.j + 4 AND g.h = wm.mh
        |  GROUP BY 1, 2),
        |fp AS (SELECT DISTINCT doc_id, p FROM sel),
        |agg AS (
        |  SELECT fp.doc_id, COUNT(*) AS n_selected, SUM(g.h) AS hs,
        |    SUM(fp.p) AS ps
        |  FROM fp JOIN g ON g.doc_id = fp.doc_id AND g.p = fp.p
        |  GROUP BY fp.doc_id)
        |SELECT d.doc_id, CAST(COALESCE(n.ng, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(a.n_selected, 0) AS BIGINT) AS n_selected,
        |  CAST(COALESCE(a.hs, 0) AS BIGINT) AS sel_hash_sum,
        |  CAST(COALESCE(a.ps, 0) AS BIGINT) AS sel_pos_sum
        |FROM documents d
        |LEFT JOIN n ON n.doc_id = d.doc_id
        |LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // chunk starts via a range() lateral bounded by the same
    // 1-or-ceil((len-30)/20)+1 count formula; slices via list_slice.
    "text_chunks" ->
      s"""WITH d AS ($tokFrom),
         |c AS (
         |  SELECT doc_id, i AS chunk_idx,
         |    CAST(least(30, len(t) - i*20) AS BIGINT) AS n_tokens,
         |    array_to_string(list_slice(t, i*20 + 1, i*20 + 30), ' ')
         |      AS chunk_text
         |  FROM d, LATERAL (SELECT unnest(range(
         |    CASE WHEN len(t) <= 30 THEN 1
         |         ELSE CAST(ceil((len(t) - 30)/20.0) AS BIGINT) + 1 END)) AS i))
         |SELECT doc_id, chunk_idx, n_tokens, chunk_text FROM c
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // lead() windows per doc replay the bigram/5-gram streams; fractions are
    // the identical CAST-to-DOUBLE formulas the typed map computes.
    "text_repetition" ->
      s"""WITH pos AS (
         |  SELECT doc_id, unnest(t) AS tokn, generate_subscripts(t, 1) AS i
         |  FROM ($tokFrom)),
         |n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
         |      FROM ($tokFrom)),
         |bg AS (
         |  SELECT doc_id, tokn || ' ' || lead(tokn) OVER w AS bigram,
         |    lead(tokn) OVER w AS nxt
         |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
         |bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg
         |       WHERE nxt IS NOT NULL GROUP BY doc_id, bigram),
         |t2 AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2_cnt
         |       FROM bc GROUP BY doc_id),
         |g5 AS (
         |  SELECT doc_id,
         |    tokn || ' ' || lead(tokn,1) OVER w || ' ' || lead(tokn,2) OVER w
         |      || ' ' || lead(tokn,3) OVER w || ' ' || lead(tokn,4) OVER w AS gram,
         |    lead(tokn,4) OVER w AS l4
         |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
         |f5 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n5,
         |         CAST(COUNT(DISTINCT gram) AS BIGINT) AS nu5
         |       FROM g5 WHERE l4 IS NOT NULL GROUP BY doc_id)
         |SELECT doc_id, n_tokens, top2_cnt, top2_frac, n_5grams,
         |  n_uniq_5grams, dup5_frac,
         |  (top2_frac > 0.2 OR dup5_frac > 0.15) AS is_repetitive
         |FROM (
         |  SELECT n.doc_id, n.n_tokens,
         |    CAST(COALESCE(t2.top2_cnt, 0) AS BIGINT) AS top2_cnt,
         |    CASE WHEN n.n_tokens = 0 THEN 0.0
         |      ELSE CAST(2*COALESCE(t2.top2_cnt, 0) AS DOUBLE)
         |        / CAST(n.n_tokens AS DOUBLE) END AS top2_frac,
         |    CAST(COALESCE(f5.n5, 0) AS BIGINT) AS n_5grams,
         |    CAST(COALESCE(f5.nu5, 0) AS BIGINT) AS n_uniq_5grams,
         |    CASE WHEN COALESCE(f5.n5, 0) = 0 THEN 0.0
         |      ELSE CAST(f5.n5 - f5.nu5 AS DOUBLE)
         |        / CAST(f5.n5 AS DOUBLE) END AS dup5_frac
         |  FROM n LEFT JOIN t2 USING (doc_id) LEFT JOIN f5 USING (doc_id))
         |ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${TOKENS("text")}) AS token FROM documents),
         |p AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
         |d AS (SELECT token, COUNT(*) AS df FROM p GROUP BY token),
         |n AS (SELECT COUNT(*) AS nd FROM documents),
         |s AS (
         |  SELECT p.doc_id, p.token, CAST(p.tf AS BIGINT) AS tf,
         |    CAST(d.df AS BIGINT) AS df,
         |    CAST(p.tf * (length(bin(n.nd)) - length(bin(d.df))) AS BIGINT)
         |      AS score
         |  FROM p JOIN d USING (token) CROSS JOIN n)
         |SELECT doc_id, rnk, token, tf, df, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, token) AS rnk
         |  FROM s)
         |WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin,

    // the frozen hashed-weight model replayed per token occurrence; SUM of
    // BIGINT is HUGEINT in DuckDB, so the final CASTs pin the schema.
    "text_classify" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${TOKENS("text")}) AS tok FROM documents),
         |s AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |    SUM(${MD5LONG("tok")} % 2001 - 1000) AS score
         |  FROM t GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
         |  CAST(COALESCE(s.score, 0) AS BIGINT) > 0 AS keep
         |FROM documents d LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // the row_number form the bounded min-k aggregator is proven equal to
    "q_sample_k" ->
      s"""SELECT lang, rnk, doc_id FROM (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${MD5LONG("CAST(doc_id AS VARCHAR)")}, doc_id) AS rnk
         |  FROM documents)
         |WHERE rnk <= 7 ORDER BY lang, rnk""".stripMargin,

    // min-of-w-hashes weighted bottom-k, replayed with the same md5-60
    // priorities via unnest(generate_series(1, weight))
    "q_weighted_sample" ->
      s"""WITH w AS (
         |  SELECT doc_id, 1 + LEAST(7, n_chars // 400) AS weight
         |  FROM documents),
         |pr AS (
         |  SELECT doc_id, weight,
         |    MIN(${MD5LONG(
               "CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)")}) AS pri
         |  FROM (SELECT doc_id, weight,
         |      unnest(generate_series(1, weight)) AS r FROM w)
         |  GROUP BY doc_id, weight)
         |SELECT CAST(row_number() OVER (ORDER BY pri, doc_id) AS BIGINT)
         |    AS rnk,
         |  doc_id, weight, pri
         |FROM pr ORDER BY pri, doc_id LIMIT 100""".stripMargin,

    "q_domain_cap" ->
      s"""SELECT source, rnk, doc_id, n_chars FROM (
         |  SELECT source, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id) AS rnk
         |  FROM documents)
         |WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,

    "text_token_hist" ->
      s"""WITH d AS (
         |  SELECT lang, CAST(len(${TOKENS("text")}) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT lang, n_tokens - (n_tokens % 10) AS bucket_lo,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |FROM d GROUP BY lang, bucket_lo
         |ORDER BY lang, bucket_lo""".stripMargin,

    "q_bigram_topk" ->
      s"""WITH pos AS (
         |  SELECT doc_id, unnest(t) AS tokn, generate_subscripts(t, 1) AS i
         |  FROM ($tokFrom)),
         |pairs AS (
         |  SELECT tokn || ' ' || lead(tokn) OVER w AS bigram,
         |    lead(tokn) OVER w AS nxt
         |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i))
         |SELECT bigram, COUNT(*) AS n FROM pairs WHERE nxt IS NOT NULL
         |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    // unnest(range) replays the UDTF's (pos, gram) stream: i in
    // [1, len-2] 1-indexed == pos = i-1 0-indexed, same token list
    "q_udtf_ngrams" ->
      s"""WITH d AS (SELECT doc_id, ${TOKENS("text")} AS t FROM documents),
         |g AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
         |        FROM d))
         |SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occ,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(MIN(pos) AS INT) AS first_pos
         |FROM g GROUP BY gram HAVING COUNT(*) >= 3
         |ORDER BY gram""".stripMargin,

    "text_redact" ->
      s"""WITH dirty AS (
         |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com or call 555-0' || CAST(doc_id AS VARCHAR) AS d
         |  FROM documents),
         |e AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(d, '$emailPat')) AS BIGINT) AS n_email,
         |    regexp_replace(d, '$emailPat', '<EMAIL>', 'g') AS d2
         |  FROM dirty)
         |SELECT doc_id,
         |  regexp_replace(d2, '$numPat', '<NUM>', 'g') AS clean,
         |  n_email,
         |  CAST(len(regexp_extract_all(d2, '$numPat')) AS BIGINT) AS n_num
         |FROM e ORDER BY doc_id""".stripMargin,

    "text_bm25" -> {
      // constants interpolated from the SAME Scala doubles TextOps.bm25
      // uses, so both engines parse the identical IEEE values
      val k1 = 1.2; val b = 0.75
      val tfCols = bmTerms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(t, x -> x = '$t')) AS BIGINT) AS tf_$i"
      }.mkString(",\n  ")
      val dfCols = bmTerms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
        .mkString(",\n  ")
      val hit = bmTerms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
      val score = bmTerms.indices.map { i =>
        s"""ln((CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5)
           |    / (CAST(df_$i AS DOUBLE) + 0.5) + 1.0)
           |  * (CAST(tf_$i AS DOUBLE) * ${k1 + 1.0})
           |  / (CAST(tf_$i AS DOUBLE) + $k1 * (${1.0 - b}
           |    + $b * CAST(dlen AS DOUBLE)
           |      / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))""".stripMargin
      }.mkString("\n  + ")
      s"""WITH wide AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dlen,
         |  $tfCols
         |  FROM ($tokFrom)),
         |st AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(dlen) AS BIGINT) AS sum_dl,
         |  $dfCols
         |  FROM wide)
         |SELECT doc_id, dlen,
         |  $score AS score
         |FROM wide, st WHERE $hit
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    })
}
