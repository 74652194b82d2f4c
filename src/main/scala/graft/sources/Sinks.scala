package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-once sink registration.
  *
  * The reference's sink is an in-memory hashmap rebuilt on every run
  * (reference hashmap.c:11-19); a Spark engine's sinks are durable files. At
  * 100 TB you bucket / hive-partition a table ONCE and amortize the write over
  * every downstream query — rerunning the writer before each read would make
  * the sink cost dominate the query cost. These helpers make sink setup
  * idempotent across JVMs: the first invocation pays the write, later
  * invocations detect the committer's `_SUCCESS` marker and reuse the files
  * (re-registering the catalog entry when the in-memory catalog of a fresh
  * JVM has forgotten the table).
  *
  * Reuse is keyed on `_SUCCESS` AND a `_GRAFT_TAG` sidecar recording the
  * producing transform's version: inputs under `/root/testdata` are
  * immutable, but the producing CODE is not — editing a sink query's
  * projection must invalidate the files, not silently reuse them across
  * JVMs. A crashed partial write leaves neither marker and is rewritten.
  */
object Sinks {

  private def readSidecar(fs: FileSystem, f: Path): Option[String] =
    if (!fs.exists(f)) None
    else {
      val len = fs.getFileStatus(f).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(f)
      try { in.readFully(buf); Some(new String(buf, "UTF-8")) }
      finally in.close()
    }

  private def writeSidecar(fs: FileSystem, f: Path, content: String): Unit = {
    val out = fs.create(f, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Fingerprint of input paths: every file's (path, length, mtime) plus a
    * 64-byte tail CRC as a content witness, folded in sorted order. The
    * metadata triple alone misses a same-length in-place regeneration
    * within the store's mtime granularity (1 s on typical object stores) —
    * exactly the silent-staleness case the feature exists to catch — so
    * each file also contributes the CRC of its last 64 bytes. For a raw
    * file those are its last content bytes. For a parquet file they are
    * the end of the footer: the writer's `created_by` string, the column
    * orders, the 4-byte footer length and `PAR1`, not the row-group stats.
    * So a parquet rewrite by the same writer that keeps each file's name,
    * length, mtime and footer length keeps the fingerprint.
    * Cost: one LIST per input plus one bounded ranged read per file.
    * A missing input path is a caller bug (typo'd / renamed fixture), not
    * an empty contribution — it fails loudly instead of yielding a stable
    * fingerprint that silently no-ops the protection. */
  // NOTE (r22): a per-JVM tail-CRC memo keyed on (path, len, mtime) was
  // prototyped here (the listing stays as the staleness witness, only the
  // 64-byte ranged read is skipped — worth ~9-17 ms/call × ~300 calls per
  // bench run). Rejected: SinksSpec pins the tail CRC as an ABSOLUTE
  // content witness (a back-dated same-length in-place rewrite must be
  // caught on the very next call), and any metadata-keyed memo reintroduces
  // exactly the stale-reuse class the r10 review flagged. ~1% of bench
  // total was not worth weakening that pin.
  def fingerprint(spark: SparkSession, paths: String*): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val crc = new java.util.zip.CRC32
    val entries = scala.collection.mutable.ArrayBuffer[String]()
    for (sp <- paths.sorted) {
      val p = new Path(sp)
      val fs = p.getFileSystem(conf)
      require(fs.exists(p), s"fingerprint input missing: $sp")
      for (st <- leafFiles(fs, p))
        entries += s"${st.getPath}:${st.getLen}:${st.getModificationTime}:" +
          f"${tailCrc(fs, st.getPath, st.getLen)}%08x"
    }
    entries.sorted.foreach(e => crc.update(e.getBytes("UTF-8")))
    f"${crc.getValue}%08x"
  }

  /** Every file under `p` (or `p` itself), as `fs.listFiles(p, true)` lists
    * them, but as plain `FileStatus`es: `listFiles` returns
    * `LocatedFileStatus`es, whose constructor also loads each file's
    * permission, owner and group, which the fingerprint never reads. (On
    * the local filesystem that load no longer forks an `ls -ld`:
    * [[GraftRawLocalFileSystem]] reads it in-process.) */
  private def leafFiles(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) leafFiles(fs, st.getPath) else Seq(st)
    }

  private def tailCrc(fs: FileSystem, p: Path, len: Long): Long = {
    val n = math.min(64L, len).toInt
    if (n == 0) return 0L
    val buf = new Array[Byte](n)
    // the file can be replaced/shrunk between the LIST (which fixed `len`)
    // and this ranged read — mid-regeneration, exactly the window the
    // fingerprint exists for. An unreadable tail must contribute a
    // can't-match-anything-stable value (forcing a rebuild that the NEXT
    // call re-fingerprints consistently), never crash the ensure call.
    try {
      val in = fs.open(p)
      try { in.seek(len - n); in.readFully(buf) } finally in.close()
    } catch { case _: java.io.IOException => return -1L }
    val c = new java.util.zip.CRC32
    c.update(buf)
    c.getValue
  }

  /** Test/telemetry seam: invoked with the dir/table name whenever an
    * ensure* helper actually REBUILDS (not when it reuses a fresh layer).
    * Bench uses it to detect a rebuild landing inside a timed query. */
  @volatile var onRebuild: String => Unit = _ => ()

  /** Run `write` (which must produce `dir` via a Hadoop committer) unless a
    * previous successful write already committed it WITH the same `tag`.
    * `tag` names the producing transform's content version (column list,
    * format options, an explicit bump on logic edits) — a committed dir whose
    * recorded tag differs is stale output of older code and is rewritten.
    * `inputs` names the source paths the transform reads; their
    * [[fingerprint]] is folded into the effective tag so regenerated input
    * data (not just edited code) invalidates the layer. */
  def ensureDir(spark: SparkSession, dir: String, tag: String = "v1",
      inputs: Seq[String] = Nil)(write: => Unit): Unit = {
    val fullTag =
      if (inputs.isEmpty) tag
      else s"$tag@${fingerprint(spark, inputs: _*)}"
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tagFile = new Path(p, "_GRAFT_TAG")
    val fresh = fs.exists(new Path(p, "_SUCCESS")) &&
      readSidecar(fs, tagFile).contains(fullTag)
    if (fresh) return
    onRebuild(dir)
    fs.delete(p, true)
    write
    writeSidecar(fs, tagFile, fullTag)
  }

  /** Run an in-place mutation of a committed write-once dir safely: the tag
    * sidecar is removed before `op` and restored only after it completes, so
    * a crash mid-mutation leaves the dir tag-less (rewritten by the next
    * `ensureDir`), never half-mutated but still marked fresh. */
  def withInvalidated(spark: SparkSession, dir: String, tag: String,
      inputs: Seq[String] = Nil)(op: => Unit): Unit = {
    val fullTag =
      if (inputs.isEmpty) tag
      else s"$tag@${fingerprint(spark, inputs: _*)}"
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tagFile = new Path(p, "_GRAFT_TAG")
    fs.delete(tagFile, false)
    op
    writeSidecar(fs, tagFile, fullTag)
  }

  /** Ensure a bucketed+sorted managed table exists for `df`. Fresh files are
    * written at most once per warehouse; a fresh JVM whose in-memory catalog
    * lost the entry re-registers an external table over the existing bucket
    * files (Spark recovers bucket ids from the `_0000N` file-name suffix) —
    * but ONLY after a `_GRAFT_BUCKET_SPEC` sidecar confirms the files were
    * bucketed with the same key/count/schema. Registering `INTO N BUCKETS`
    * metadata over files bucketed differently would silently misjoin rows
    * (co-located joins trust the metadata); a spec mismatch rewrites. */
  def ensureBucketedTable(spark: SparkSession, table: String, df: => DataFrame,
      key: String, nBuckets: Int, inputs: Seq[String] = Nil): Unit = {
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val loc = new Path(wh, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val specFile = new Path(loc, "_GRAFT_BUCKET_SPEC")
    val schemaDdl = df.schema.toDDL
    val fp = if (inputs.isEmpty) "" else s";src=${fingerprint(spark, inputs: _*)}"
    // layout=1f: exactly one file per bucket (the repartition below). The
    // marker is part of the spec so tables written by the old layout —
    // one file per (writer task × bucket), e.g. 256 files for the 32-bucket
    // sf0.1 edge table — rebuild once instead of being reused: every scan
    // of such a table paid ~250 file opens (guide §6 small-files tax,
    // measured 0.45 s/scan vs 0.11 s after; the PageRank sweep loop scans
    // it every sweep).
    val spec = s"key=$key;n=$nBuckets;layout=1f;schema=$schemaDdl$fp"
    val specOk = readSidecar(fs, specFile).contains(spec)
    if (spark.catalog.tableExists(table)) {
      // A live catalog entry is not proof of freshness: an input regenerated
      // IN PLACE mid-session (driver fixture refresh) leaves the entry
      // pointing at bucket files computed from dead data. Recheck the stored
      // spec (which folds the input fingerprint) and fall through to the
      // rewrite on mismatch — mirroring ensureDir, which has no such gap.
      if (specOk) return
    }
    if (specOk && fs.exists(new Path(loc, "_SUCCESS"))) {
      spark.sql(
        s"""CREATE TABLE $table ($schemaDdl) USING PARQUET
           |CLUSTERED BY ($key) SORTED BY ($key) INTO $nBuckets BUCKETS
           |LOCATION '${loc.toString}'""".stripMargin)
    } else {
      // a previous JVM's managed-table directory can survive in the warehouse
      // while the in-memory catalog forgets it — clear both layers before the
      // write so overwrite does not become CREATE at an existing location
      onRebuild(table)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      fs.delete(loc, true)
      // repartition on the bucket key with nBuckets partitions: Spark's
      // bucket assignment is the same HashPartitioning, so each writer task
      // holds exactly one bucket's rows and writes exactly one file —
      // without it every upstream partition opens a writer per bucket and
      // the table shatters into task×bucket small files whose per-scan
      // open cost dominates downstream reads (guide §6).
      // AQE must be OFF for this one write job: when the defining plan
      // contains a join keyed on `key`, EnsureRequirements merges this
      // repartition with the join's own exchange, AQE then converts that
      // exchange to a LOCAL shuffle read after flipping the join to
      // broadcast — and a local read hands the writer the MAP-side
      // partitioning (measured: 16 tasks × 32 buckets = 512 files instead
      // of 32). V1 bucketed writes declare no required distribution, so
      // only a static plan guarantees the one-file-per-bucket layout.
      graft.GraftSession.withConf(spark,
          "spark.sql.adaptive.enabled" -> "false") {
        df.repartition(nBuckets, org.apache.spark.sql.functions.col(key))
          .write.bucketBy(nBuckets, key).sortBy(key)
          .mode("overwrite").saveAsTable(table)
      }
      writeSidecar(fs, specFile, spec)
    }
  }
}
