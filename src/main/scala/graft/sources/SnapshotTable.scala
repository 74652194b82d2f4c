package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, least, lit, when}
import org.json4s.{JArray, JInt, JLong, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact => json, parse}

/** Snapshot-versioned table: the lakehouse time-travel contract (Iceberg /
  * Delta, distilled to its two load-bearing ideas) on plain parquet dirs.
  *
  * 1. Data files are IMMUTABLE and snapshots are manifests: version N is a
  *    `_MANIFEST_vN` document naming the data dirs it reads — an append
  *    snapshot reuses every prior file and adds one delta dir, so committing
  *    v2 costs O(delta), never a table rewrite. At 100 TB this is the only
  *    viable version story: copy-on-write of the base is a full-table I/O
  *    storm per commit.
  * 2. Deletes are MERGE-ON-READ: a delete snapshot adds a key file (the
  *    erased rows' keys, request-batch-sized), and the scan applies it as a
  *    broadcast anti join — the fact files are untouched, readers of older
  *    versions are unaffected, and [[compact]] folds the delete files in
  *    later (the rewrite half — only dirs holding a deleted key rewrite).
  *
  * Time travel = read an old manifest. A manifest is one checksummed JSON
  * document, published LAST (after its data dirs' `_SUCCESS` markers
  * exist) with a put-if-absent of the complete file ([[publish]]): the
  * first committer of a version wins, a reader sees either no manifest or
  * the whole one, and a crashed commit leaves the previous version as the
  * readable head — Delta's log-store contract. Tags and branch fork
  * markers are published the same way.
  */
object SnapshotTable {

  /** Per-dir min/max of one stats column, carried IN the manifest (the
    * Iceberg idea at this table's dir granularity): values are stored as
    * strings whose comparison semantics `typ` names — `long` compares
    * numerically, `string`/`date` lexically (ISO dates sort correctly).
    * A dir with no entry is always kept by pruning — the safe direction,
    * which is how pre-bounds manifests and all-null dirs behave. */
  final case class DirBounds(dir: String, col: String, typ: String,
      min: String, max: String)

  /** Per-dir column statistics carried IN the manifest (the Iceberg
    * column-stats idea at dir granularity): exact distinct-value and
    * null counts, computed once per dir by [[analyzeColumnStats]] and
    * additive across appends — a new ingest dir needs one dir-local
    * stats pass, never a table rescan. [[manifestColumnStats]] folds
    * them into table-level stats the SQL reader reports to Catalyst, so
    * CBO can size filtered snapshot relations (broadcast decisions)
    * from metadata instead of physical bytes alone.
    *
    * `sketch`: an optional base64url DataSketches HLL (lgK=12) of the
    * column's values in the dir — MERGEABLE, so the table-level NDV can
    * be a union-estimate instead of the per-dir-sum upper bound (which
    * overstates NDV whenever key ranges overlap across dirs and skews
    * CBO toward over-aggressive broadcasts). Absent on pre-sketch
    * entries and on types the sketch doesn't cover — the fold then
    * falls back to the clamped sum. */
  final case class ColStats(dir: String, col: String, ndv: Long,
      nulls: Long, sketch: Option[String] = None)

  /** `schema`: the table schema AS OF this version, as Spark DDL — set by
    * [[evolveAddColumns]] and carried by every later commit. None (the
    * pre-evolution default) means "whatever the data dirs agree on".
    * Because the schema lives IN the versioned manifest, time travel
    * reads each version under ITS OWN schema — the Iceberg/Delta
    * contract.
    *
    * `renames`: current LOGICAL column name → the PHYSICAL name data
    * files written before the rename carry ([[evolveRenameColumn]] —
    * the name-mapping that makes rename metadata-only; dirs written
    * after the rename carry the new name and never consult the map).
    * `dropped`: physical names of columns dropped from the logical
    * schema ([[evolveDropColumn]]) that may still exist in data files —
    * kept so a later ADD/RENAME cannot reuse the name and silently
    * resurrect stale bytes (a full rewrite, e.g. [[optimizeZorder]],
    * clears both sets). */
  /** `checks`: named CHECK constraints (name → boolean SQL expression
    * over the logical schema) carried in the manifest like the schema —
    * versioned, branch-inherited, cleared by nothing short of
    * [[dropCheck]]. Every row-landing write path validates its batch
    * against them BEFORE committing (a row passes iff the expression is
    * TRUE — FALSE and NULL both violate, the Delta CHECK contract), so
    * a constraint, once added, is an invariant of every later version. */
  /** One ingested-file ledger entry ([[ingestFiles]] — the COPY INTO
    * dedup key): source path + the length/mtime it was ingested at. A
    * re-listed identical file skips; a path re-appearing with different
    * length/mtime refuses loudly (landing zones are append-only). */
  final case class IngestedFile(path: String, len: Long, mtime: Long)

  /** `partSpec`: the table's declared partition transforms (hidden
    * partitioning — set at CREATE, carried by every commit).
    * `partVals`: dir → its rendered transform tuple, recorded by routed
    * writes; a dir with no entry is ALWAYS kept by partition pruning
    * (pre-partition dirs and compaction/DML rewrite outputs degrade to
    * unpruned, never to wrong). See [[PartitionSpec]].
    *
    * PARTITION SPEC EVOLUTION ([[alterPartitionSpec]] — the Iceberg
    * spec-evolution contract): `partSpecId` names the CURRENT spec
    * (0 for never-evolved tables); `partHist` carries RETIRED specs by
    * id; and `dirSpecIds` pins each tuple-carrying dir written under a
    * retired spec to that spec's id. A dir with no pin belongs to the
    * current spec. Tuples are thus always interpreted under the spec that
    * RENDERED them — old dirs keep pruning under their own transforms
    * while new writes route under the new spec, with no data rewrite. */
  final case class Snapshot(dataDirs: Seq[String], deleteDirs: Seq[String],
      bounds: Seq[DirBounds] = Nil, schema: Option[String] = None,
      rowCounts: Map[String, Long] = Map.empty,
      renames: Map[String, String] = Map.empty,
      dropped: Seq[String] = Nil,
      colStats: Seq[ColStats] = Nil,
      checks: Seq[(String, String)] = Nil,
      ingested: Seq[IngestedFile] = Nil,
      partSpec: Seq[PartitionSpec.PartField] = Nil,
      partVals: Map[String, Seq[String]] = Map.empty,
      partSpecId: Int = 0,
      partHist: Map[Int, Seq[PartitionSpec.PartField]] = Map.empty,
      dirSpecIds: Map[String, Int] = Map.empty,
      writeOrder: Seq[String] = Nil,
      writeOrderSlices: Int = 0)

  /** The partition spec that rendered `d`'s tuple: its pinned retired
    * spec when evolution moved the table past it, else the current one.
    * A pin onto an id the manifest does not carry is damage — loud. */
  def specFor(snap: Snapshot, d: String): Seq[PartitionSpec.PartField] =
    snap.dirSpecIds.get(d) match {
      case Some(id) if id != snap.partSpecId =>
        snap.partHist.getOrElse(id, throw new IllegalArgumentException(
          s"dir $d is pinned to partition spec $id which the manifest " +
            "does not carry — manifest damaged"))
      case _ => snap.partSpec
    }

  /** Every spec that still governs live tuples: the current one plus
    * each retired spec with at least one pinned tuple-carrying dir.
    * Evolution guards (rename/drop/widen of a transform source) range
    * over these — a retired spec nothing pins anymore constrains
    * nothing. */
  def liveSpecFields(snap: Snapshot): Seq[PartitionSpec.PartField] =
    snap.partSpec ++ snap.dirSpecIds.collect {
      case (d, id) if snap.partVals.contains(d) &&
        id != snap.partSpecId => id
    }.toSet.toSeq.flatMap((id: Int) => snap.partHist.getOrElse(id, Nil))

  private def manifestPath(base: String, v: Int) =
    new Path(s"$base/_MANIFEST_v$v")

  /** Resolve the filesystem from the path's own URI, never the default FS:
    * a snapshot table on an object store (the SCALE.md deployment) must
    * read/write manifests against the store's FS even when
    * `fs.defaultFS` points elsewhere — same rule as [[Sinks]] and
    * [[KvTextSource]]. */
  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Version tag of the metadata documents below. Bumped whenever the
    * bytes of a manifest, ref or fork marker change incompatibly;
    * [[graft.queries.Scratch.dir]] folds it into every write-once dir
    * name, so tables written in an older format are rebuilt, not misread
    * (there is no legacy parser). */
  val MetaFormat = "m2"

  /** Entries a per-dir list keeps inline before it spills to sidecar
    * chunks (see [[encode]]). */
  val SidecarSpillThreshold = 48

  /** A lost version claim: `v` is already committed with other content.
    * The optimistic-concurrency loops catch exactly this, re-read the
    * winner's head and retry one version up. */
  final class CommitConflict(msg: String) extends IllegalArgumentException(msg)

  /** Commit version `v`: data dirs must already be fully written (their
    * `_SUCCESS` markers are the precondition the manifest asserts), and
    * the manifest is PUBLISHED put-if-absent ([[publish]]): the first
    * committer of `v` wins, and the file only ever holds its complete
    * document — the Delta log-store contract. A crashed commit leaves no
    * manifest. Re-committing an existing version is a no-op when the
    * parsed content is identical (idempotent replay) and a
    * [[CommitConflict]] when it differs: committed history is immutable.
    * `spillAt` is the per-dir list length past which entries spill to
    * sidecar chunks ([[SidecarSpillThreshold]]). */
  def commit(spark: SparkSession, base: String, v: Int, rawSnap: Snapshot,
      spillAt: Int = SidecarSpillThreshold): Unit = {
    // normalize FIRST: row-count entries for dirs outside the data set
    // drop here (rewrites carry the old map forward via copy — a
    // rewritten dir simply loses its count, degrading countRows to the
    // scan fallback: the direction that can only err slow, never wrong),
    // so the parsed-manifest equality in the idempotent-replay branch
    // compares like with like
    val snap = rawSnap.copy(rowCounts = rawSnap.dataDirs
      .filter(rawSnap.rowCounts.contains)
      .map(d => d -> rawSnap.rowCounts(d)).toMap,
      dropped = rawSnap.dropped.distinct.sorted,
      // colstats normalize like rowCounts: entries for dirs outside the
      // data set drop (a rewrite's dirs simply lose their stats — the
      // direction that only degrades estimates, never corrupts them),
      // and the surviving entries sort so idempotent-replay equality
      // compares canonical forms
      colStats = rawSnap.colStats
        .filter(cs => rawSnap.dataDirs.contains(cs.dir))
        .sortBy(cs => (cs.dir, cs.col)),
      checks = rawSnap.checks.sortBy(_._1),
      ingested = rawSnap.ingested.distinct.sortBy(_.path),
      // partition tuples normalize like rowCounts: entries for dirs
      // outside the data set drop (a rewritten dir simply loses its
      // tuple and degrades to never-pruned — the wide direction); spec
      // pins exist only for tuple-carrying dirs and a pin onto the
      // CURRENT spec is the default, so both normalize away
      partVals = rawSnap.partVals.filter { case (d, _) =>
        rawSnap.dataDirs.contains(d) },
      dirSpecIds = rawSnap.dirSpecIds.filter { case (d, id) =>
        rawSnap.dataDirs.contains(d) && rawSnap.partVals.contains(d) &&
          id != rawSnap.partSpecId })
    // each referenced dir may live on its own filesystem (manifests name
    // absolute URIs) — resolve per path, not once from the default FS
    for (d <- snap.dataDirs ++ snap.deleteDirs) {
      val dp = new Path(d, "_SUCCESS")
      require(fsFor(spark, dp).exists(dp),
        s"snapshot v$v references uncommitted dir $d")
    }
    require(snap.bounds.map(_.dir).forall(snap.dataDirs.contains),
      s"snapshot v$v carries bounds for dirs outside its data set")
    for ((d, n) <- snap.rowCounts)
      require(n >= 0, s"negative row count $n for $d")
    // duplicate (dir, col) entries would make manifestColumnStats
    // double-count
    for (cs <- snap.colStats)
      require(cs.ndv >= 0 && cs.nulls >= 0,
        s"negative column stat ${cs.ndv}/${cs.nulls} for ${cs.dir}|${cs.col}")
    require(snap.colStats.map(cs => (cs.dir, cs.col)).distinct.size ==
      snap.colStats.size,
      s"snapshot v$v carries duplicate colstats entries")
    for ((n, _) <- snap.checks)
      require(n.nonEmpty && n.forall(c => c.isLetterOrDigit || c == '_'),
        s"CHECK constraint name '$n' must be [A-Za-z0-9_]+")
    require(snap.checks.map(_._1).distinct.size == snap.checks.size,
      s"snapshot v$v carries duplicate CHECK constraint names")
    // the COPY INTO ledger: a duplicate path would make dedup ambiguous
    for (f <- snap.ingested)
      require(f.len >= 0 && f.mtime >= 0,
        s"negative ingested-file metadata for ${f.path}")
    require(snap.ingested.map(_.path).distinct.size ==
      snap.ingested.size,
      s"snapshot v$v carries duplicate ingested-file ledger paths")
    // parse NOW: an unparseable schema must fail the commit, not every
    // future read of the version
    snap.schema.foreach(org.apache.spark.sql.types.StructType.fromDDL(_): Unit)
    require(snap.renames.isEmpty || snap.schema.isDefined,
      "renames require a manifest-carried schema (rename is evolution)")
    require(!snap.partHist.contains(snap.partSpecId),
      s"snapshot v$v carries the current partition spec id " +
        s"${snap.partSpecId} in its retired-spec history")
    for ((id, fields) <- snap.partHist)
      require(id >= 0 && fields.nonEmpty,
        s"snapshot v$v carries an empty retired partition spec $id")
    for ((d, id) <- snap.dirSpecIds)
      require(snap.partHist.contains(id),
        s"dir $d pins partition spec $id which v$v does not carry")
    for ((d, vs) <- snap.partVals) {
      val spec = specFor(snap, d)
      require(spec.nonEmpty,
        s"snapshot v$v carries a partition tuple for $d without a " +
          "governing partition spec")
      require(vs.size == spec.size,
        s"partition tuple for $d has ${vs.size} values, its spec has " +
          s"${spec.size}")
    }
    // declared write order (WRITE ORDERED BY): hidden partitioning and a
    // write order both claim the INSERT landing layout — a manifest
    // carrying both is contradictory and refuses
    require(snap.writeOrder.nonEmpty || snap.writeOrderSlices == 0,
      s"snapshot v$v carries write-order slices without order columns")
    require(snap.writeOrder.isEmpty || snap.writeOrderSlices >= 1,
      s"snapshot v$v carries write-order columns without a slice count")
    require(snap.writeOrder.isEmpty || snap.partSpec.isEmpty,
      s"snapshot v$v declares both a partition spec and a write order " +
        "— the two landing layouts are mutually exclusive")
    val dst = manifestPath(base, v)
    val fs = fsFor(spark, dst)
    // sidecar chunks are published BEFORE the manifest that references
    // them: a crash strands orphans (swept), never a dangling reference
    if (fs.exists(dst) || !publish(fs, dst,
        encode(snap, ensureSidecar(spark, base, _), spillAt)))
      if (manifest(spark, base, v) != snap) throw new CommitConflict(
        s"snapshot v$v already committed with different content")
  }

  /** PUT-IF-ABSENT of a complete file — the one primitive every manifest,
    * sidecar chunk, tag and fork marker is published through. True when
    * this call created `dst` holding exactly `body`; false when `dst`
    * already existed (comparing its content is the caller's job).
    *  - local filesystem: the body goes to a hidden temp sibling, which is
    *    then hard-linked to `dst` (link(2) fails with EEXIST, so exactly
    *    one racer wins) and deleted — a reader never sees `dst`
    *    half-written, and a crash strands at most the temp, which
    *    [[sweepStagingOrphans]] collects. The file carries no Hadoop
    *    `.crc` sidecar; the document checksum is its integrity check.
    *  - HDFS / object stores: `create(overwrite = false)`, the store's
    *    atomic create-if-absent. Object stores show the object only once
    *    it is closed; an HDFS reader racing the write may see a short
    *    file, which the document checksum refuses loudly. */
  private def publish(fs: FileSystem, dst: Path, body: String): Boolean = {
    val bytes = body.getBytes("UTF-8")
    val scheme = dst.toUri.getScheme
    if (scheme == null || scheme == "file") {
      import java.nio.file.{Files, StandardOpenOption}
      val p = java.nio.file.Paths.get(dst.toUri.getPath)
      Files.createDirectories(p.getParent)
      val tmp = p.resolveSibling(s".${p.getFileName}." +
        java.util.UUID.randomUUID().toString.take(8) + ".tmp")
      Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW)
      try { Files.createLink(p, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally Files.delete(tmp)
    } else
      try {
        val out = fs.create(dst, false)
        try out.write(bytes) finally out.close()
        true
      } catch { case _: java.io.IOException if fs.exists(dst) => false }
  }

  def manifest(spark: SparkSession, base: String, v: Int): Snapshot = {
    val p = manifestPath(base, v)
    val fs = fsFor(spark, p)
    require(fs.exists(p), s"no committed snapshot v$v under $base")
    decode(readUtf8(fs, p), readSidecar(spark, base, _), s"manifest v$v")._1
  }

  /** The sidecar names manifest `v` references (the vacuum GC seam). */
  private def sidecarRefs(spark: SparkSession, base: String,
      v: Int): Seq[String] = {
    val p = manifestPath(base, v)
    decode(readUtf8(fsFor(spark, p), p), readSidecar(spark, base, _),
      s"manifest v$v")._2
  }

  /** Read a metadata file. A filesystem-level checksum failure (HDFS, or
    * a LocalFS `.crc` sidecar) means the same as a failed document
    * checksum, so it surfaces as the same loud rejection. */
  private def readUtf8(fs: FileSystem, p: Path): String = {
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    try {
      val in = fs.open(p)
      try in.readFully(buf) finally in.close()
    } catch {
      case e: org.apache.hadoop.fs.ChecksumException =>
        throw new IllegalArgumentException(
          s"partial/corrupt file $p: it fails the filesystem checksum", e)
    }
    new String(buf, "UTF-8")
  }

  // ---- metadata documents: one checksummed JSON object per file ----
  //
  // A manifest, a `_TAG_<name>` ref and a branch's `_FORK` marker are each
  // one JSON object whose last member, `crc`, is the CRC32 of the compact
  // JSON of the members before it. A file that does not parse or whose
  // checksum does not match is refused loudly: a damaged manifest must
  // never resurrect deleted rows, a damaged tag never serve a version.

  private def crc32(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes("UTF-8"))
    c.getValue
  }

  private def seal(members: List[(String, JValue)]): String = {
    val core = json(JObject(members))
    json(JObject(members :+ ("crc" -> JString(f"${crc32(core)}%08x"))))
  }

  /** The members of a sealed document, checksum verified, as plain values
    * (String, Long, null, List of those). */
  private def open(text: String, what: String): Map[String, Any] = {
    val members = scala.util.Try(parse(text)).toOption match {
      case Some(JObject(ms)) => ms
      case _ => Nil
    }
    val (crc, core) = members.partition(_._1 == "crc")
    require(crc.map(_._2) ==
      List(JString(f"${crc32(json(JObject(core)))}%08x")),
      s"partial/corrupt $what: not a complete checksummed document — " +
        "inspect it, then delete it to write it again")
    core.map { case (k, j) => k -> plain(j) }.toMap
  }

  private def plain(j: JValue): Any = j match {
    case JString(s) => s
    case JInt(n) => n.toLong
    case JLong(n) => n
    case JArray(xs) => xs.map(plain)
    case _ => null
  }

  private def str(s: String): JValue = JString(s)
  private def num(n: Long): JValue = JLong(n)
  private def arr(xs: Seq[JValue]): JValue = JArray(xs.toList)
  private def strs(xs: Seq[String]): JValue = arr(xs.map(str))
  private def specJson(fs: Seq[PartitionSpec.PartField]): JValue =
    arr(fs.map(f => arr(Seq(str(f.fn), num(f.n), str(f.col)))))

  /** The manifest document of `snap`. The six per-dir lists (bounds,
    * rows, colstats, ingested, partvals, partdirspec) grow with the
    * table: past `spillAt` entries a list is stored as `<key>_refs`, the
    * names of content-addressed sidecar chunks `spill` publishes, so a
    * one-dir append writes O(delta dirs) bytes instead of re-inlining
    * every entry. */
  private[graft] def encode(snap: Snapshot, spill: String => String,
      spillAt: Int = SidecarSpillThreshold): String = {
    def perDir(k: String, entries: Seq[JValue]): (String, JValue) =
      if (entries.size <= spillAt) k -> arr(entries)
      else s"${k}_refs" ->
        strs(chunkEntries(entries).map(c => spill(json(arr(c)))))
    def byDir[A](m: Map[String, A])(f: A => JValue): Seq[JValue] =
      snap.dataDirs.filter(m.contains).map(d => arr(Seq(str(d), f(m(d)))))
    seal(List(
      "data" -> strs(snap.dataDirs),
      "delete" -> strs(snap.deleteDirs),
      perDir("bounds", snap.bounds.map(b =>
        strs(Seq(b.dir, b.col, b.typ, b.min, b.max)))),
      perDir("rows", byDir(snap.rowCounts)(num)),
      perDir("colstats", snap.colStats.map(cs => arr(Seq(str(cs.dir),
        str(cs.col), num(cs.ndv), num(cs.nulls)) ++ cs.sketch.map(str)))),
      "schema" -> snap.schema.map(str).getOrElse(JNull),
      "renames" -> arr(snap.renames.toSeq.sorted.map { case (l, p) =>
        strs(Seq(l, p)) }),
      "dropped" -> strs(snap.dropped),
      "checks" -> arr(snap.checks.map { case (n, e) => strs(Seq(n, e)) }),
      perDir("ingested", snap.ingested.map(f =>
        arr(Seq(str(f.path), num(f.len), num(f.mtime))))),
      "partition" -> specJson(snap.partSpec),
      perDir("partvals", byDir(snap.partVals)(strs)),
      "partspecid" -> num(snap.partSpecId),
      "parthist" -> arr(snap.partHist.toSeq.sortBy(_._1).map {
        case (id, fs) => arr(Seq(num(id), specJson(fs))) }),
      perDir("partdirspec", byDir(snap.dirSpecIds)(id => num(id))),
      "writeorder" -> strs(snap.writeOrder),
      "writeorderslices" -> num(snap.writeOrderSlices)))
  }

  /** The inverse of [[encode]]: the snapshot and the sidecar names it
    * references. `resolve` maps a sidecar name to its hash-validated
    * payload. */
  private def decode(text: String, resolve: String => String,
      what: String): (Snapshot, Seq[String]) = {
    val doc = open(text, what)
    def list(x: Any): List[Any] = x match {
      case xs: List[_] => xs
      case _ => Nil
    }
    def at(k: String) = list(doc.getOrElse(k, null))
    def strings(k: String) = at(k).map(_.asInstanceOf[String])
    def int(k: String) = doc.get(k).collect { case n: Long => n.toInt }
      .getOrElse(0)
    def perDir(k: String): List[Any] = at(k) ++ strings(s"${k}_refs")
      .flatMap(n => list(plain(parse(resolve(n)))))
    def spec(x: Any) = list(x).map {
      case List(fn: String, n: Long, c: String) =>
        PartitionSpec.PartField(fn, n.toInt, c)
    }
    try (Snapshot(strings("data"), strings("delete"),
      perDir("bounds").map {
        case List(d: String, c: String, t: String, lo: String, hi: String) =>
          DirBounds(d, c, t, lo, hi)
      },
      doc.get("schema").collect { case s: String => s },
      perDir("rows").map { case List(d: String, n: Long) => d -> n }.toMap,
      at("renames").map { case List(l: String, p: String) => l -> p }.toMap,
      strings("dropped"),
      perDir("colstats").map {
        case List(d: String, c: String, ndv: Long, nulls: Long) =>
          ColStats(d, c, ndv, nulls)
        case List(d: String, c: String, ndv: Long, nulls: Long, sk: String) =>
          ColStats(d, c, ndv, nulls, Some(sk))
      },
      at("checks").map { case List(n: String, e: String) => n -> e },
      perDir("ingested").map {
        case List(p: String, len: Long, mt: Long) => IngestedFile(p, len, mt)
      },
      spec(doc.getOrElse("partition", null)),
      perDir("partvals").map {
        case List(d: String, vs: List[_]) =>
          d -> vs.map(_.asInstanceOf[String])
      }.toMap,
      int("partspecid"),
      at("parthist").map { case List(id: Long, fs) => id.toInt -> spec(fs) }
        .toMap,
      perDir("partdirspec").map { case List(d: String, id: Long) =>
        d -> id.toInt }.toMap,
      strings("writeorder"), int("writeorderslices")),
      doc.keys.filter(_.endsWith("_refs")).toSeq.flatMap(strings))
    catch {
      case e @ (_: MatchError | _: ClassCastException) =>
        throw new IllegalArgumentException(
          s"$what is not a snapshot manifest document", e)
    }
  }

  // ---- manifest scaling seam: content-addressed sidecar files ----
  //
  // Sidecars are CONTENT-ADDRESSED (name = sha256 of payload): write-once,
  // idempotent under racers (two writers of the same chunk publish the
  // same file), and a payload that doesn't hash to its own name is
  // rejected loudly. Entries chunk at CONTENT-DEFINED boundaries (a chunk
  // break after any entry whose own crc lands in 1/32 of the space, with
  // a hard cap), so inserting or dropping entries re-writes only the
  // chunks they touch — neighbors keep their names and a later commit
  // re-references them for free.

  private def sidecarName(payload: String): String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(payload.getBytes("UTF-8"))
      .take(16).map(b => f"${b & 0xff}%02x").mkString
    s"_SIDECAR_$h.mf"
  }

  private def sidecarPath(base: String, name: String) =
    new Path(s"$base/$name")

  /** Split entries into content-defined chunks. Boundaries are a
    * property of entry CONTENT, not position, so they survive
    * insertions/removals elsewhere in the sorted entry list. */
  private def chunkEntries(entries: Seq[JValue]): Seq[Seq[JValue]] = {
    val out = Seq.newBuilder[Seq[JValue]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[JValue]
    for (e <- entries) {
      cur += e
      if ((crc32(json(e)) & 31L) == 0L || cur.size >= 128) {
        out += cur.toList; cur.clear()
      }
    }
    if (cur.nonEmpty) out += cur.toList
    out.result()
  }

  /** Publish the chunk unless it exists; an existing file at the name
    * must carry exactly this payload. */
  private def ensureSidecar(spark: SparkSession, base: String,
      payload: String): String = {
    val name = sidecarName(payload)
    val p = sidecarPath(base, name)
    val fs = fsFor(spark, p)
    if (fs.exists(p) || !publish(fs, p, payload))
      require(readUtf8(fs, p) == payload,
        s"sidecar $name exists with content not matching its own hash " +
          s"— store corruption under $base")
    name
  }

  /** Read + hash-validate a referenced sidecar. Missing or corrupt →
    * the same loud partial/corrupt rejection manifests use. */
  private def readSidecar(spark: SparkSession, base: String,
      name: String): String = {
    val p = sidecarPath(base, name)
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) throw new IllegalArgumentException(
      s"manifest references sidecar $name which does not exist under " +
        s"$base — partial/corrupt commit detected (or the sidecar was " +
        "vacuumed from under a live manifest)")
    val txt = readUtf8(fs, p)
    if (sidecarName(txt) != name) throw new IllegalArgumentException(
      s"sidecar $name failed its content hash — partial/corrupt " +
        "sidecar write detected")
    txt
  }

  /** Scan of version `v`: union of its data dirs minus its delete keys.
    * Delete files are erase-batch-sized, so the anti join is an explicit
    * broadcast — the data files never reshuffle for a merge-on-read. */
  /** Vacuum report: manifests dropped, dirs physically deleted, dirs the
    * surviving manifests still reference. */
  final case class VacuumReport(manifestsRemoved: Int, dirsRemoved: Int,
      dirsLive: Int)

  /** Retention vacuum — the third leg of the snapshot maintenance trio
    * (time travel reads history, compaction folds deletes, vacuum BOUNDS
    * history): drop every manifest older than `keepFrom` and physically
    * delete each data/delete dir those manifests reference that no
    * surviving manifest (`keepFrom..upTo`) still references.
    *
    * Crash-safety ORDER: old manifests are deleted FIRST, orphan dirs
    * second. A crash between the two strands unreferenced dirs — garbage
    * the next vacuum re-collects — but can never leave a live manifest
    * pointing at deleted data (the reverse order could). Each old manifest
    * is read through [[manifest]]'s full crc validation before its dirs
    * are trusted for deletion: a corrupt manifest aborts the vacuum loudly
    * rather than guessing at which dirs were orphaned. Time travel to
    * vacuumed versions then fails with the ordinary "no committed
    * snapshot" error — bounded history is the feature's contract. */
  def vacuum(spark: SparkSession, base: String, keepFrom: Int,
      upTo: Int): VacuumReport = {
    require(keepFrom >= 1 && keepFrom <= upTo,
      s"vacuum needs 1 <= keepFrom <= upTo (got $keepFrom..$upTo)")
    // orphan-vs-live is decided by PATH EQUALITY between manifests, so both
    // sides are canonicalized through fs.makeQualified first: a dir recorded
    // scheme-qualified in one manifest and bare (or with a trailing slash)
    // in another must collide in the live set, or vacuum would physically
    // delete a dir a surviving manifest still references — the exact
    // failure the delete-manifests-first crash order exists to prevent.
    def canon(d: String): String = {
      val p = new Path(d)
      fsFor(spark, p).makeQualified(p).toString
    }
    val live = (keepFrom to upTo).flatMap { v =>
      val s = manifest(spark, base, v)
      (s.dataDirs ++ s.deleteDirs).map(canon)
    }.toSet
    // sidecar GC mirrors the dir GC: names referenced by any SURVIVING
    // manifest are live; old-manifest-only names delete after their
    // manifests do (same crash order — a crash strands orphan sidecars,
    // never a live manifest over deleted ones)
    val liveRefs = (keepFrom to upTo).flatMap(sidecarRefs(spark, base, _)).toSet
    val old = (1 until keepFrom).filter { v =>
      val p = manifestPath(base, v)
      fsFor(spark, p).exists(p)
    }
    // validate + collect BEFORE any deletion: a corrupt old manifest must
    // abort the whole vacuum, not a half-vacuumed state
    val oldDirs = old.flatMap { v =>
      val s = manifest(spark, base, v)
      (s.dataDirs ++ s.deleteDirs).map(canon)
    }.distinct
    val oldRefs = old.flatMap(sidecarRefs(spark, base, _)).distinct
    for (v <- old) {
      val p = manifestPath(base, v)
      require(fsFor(spark, p).delete(p, false),
        s"vacuum failed to delete manifest v$v at $p")
    }
    var removed = 0
    for (d <- oldDirs if !live.contains(d)) {
      val dp = new Path(d)
      if (fsFor(spark, dp).delete(dp, true)) removed += 1
    }
    // routed INSERTs nest their per-tuple leaf dirs under a parent
    // `_insert-<uuid>` container: once every leaf is gone, the parent
    // holds only marker files — collect the husk (any LIVE leaf keeps
    // the parent non-empty and therefore kept)
    val husks = oldDirs.filterNot(live.contains)
      .map(d => new Path(d).getParent)
      .filter(p => p != null && p.getName.startsWith("_insert-"))
      .map(_.toString).distinct
    for (h <- husks) {
      val hp = new Path(h)
      val hfs = fsFor(spark, hp)
      if (hfs.exists(hp) && hfs.listStatus(hp).forall(st =>
          st.isFile && (st.getPath.getName.startsWith("_") ||
            st.getPath.getName.startsWith("."))))
        hfs.delete(hp, true): Unit
    }
    for (n <- oldRefs if !liveRefs.contains(n)) {
      val sp = sidecarPath(base, n)
      fsFor(spark, sp).delete(sp, false): Unit
    }
    VacuumReport(old.size, removed, live.size)
  }

  /** DRY-RUN [[vacuum]]: the identical survey (canonicalized live set,
    * surviving old manifests, orphan candidates that physically exist)
    * with ZERO deletions — what `CALL vacuum_dry_run` serves so an
    * operator can see exactly what a retention pass WOULD retire before
    * running it. Metadata-only: manifest reads + existence probes. */
  def vacuumDryRun(spark: SparkSession, base: String, keepFrom: Int,
      upTo: Int): VacuumReport = {
    require(keepFrom >= 1 && keepFrom <= upTo,
      s"vacuum needs 1 <= keepFrom <= upTo (got $keepFrom..$upTo)")
    def canon(d: String): String = {
      val p = new Path(d)
      fsFor(spark, p).makeQualified(p).toString
    }
    val live = (keepFrom to upTo).flatMap { v =>
      val s = manifest(spark, base, v)
      (s.dataDirs ++ s.deleteDirs).map(canon)
    }.toSet
    val old = (1 until keepFrom).filter { v =>
      val p = manifestPath(base, v)
      fsFor(spark, p).exists(p)
    }
    val oldDirs = old.flatMap { v =>
      val s = manifest(spark, base, v)
      (s.dataDirs ++ s.deleteDirs).map(canon)
    }.distinct
    val removable = oldDirs.count { d =>
      val dp = new Path(d)
      !live.contains(d) && fsFor(spark, dp).exists(dp)
    }
    VacuumReport(old.size, removable, live.size)
  }

  /** METADATA-ONLY COUNT — `SELECT COUNT(*)` answered from the
    * manifest's per-dir row counts when version `v` has no delete set
    * and EVERY data dir carries a count: Some(sum) with zero data I/O
    * (the Iceberg/Delta count-from-metadata fast path — at 100 TB the
    * difference between a catalog lookup and a full scan). None
    * whenever any dir lacks a count (pre-counts manifests, rewrites
    * that dropped one) or deletes are pending — the caller falls back
    * to the ordinary scan; the fast path can only err SLOW, never
    * wrong. Counts enter manifests through the ops that already know
    * them ([[ingestBatch]], [[optimizeZorder]]). */
  def countRows(spark: SparkSession, base: String, v: Int): Option[Long] = {
    val snap = manifest(spark, base, v)
    if (snap.deleteDirs.nonEmpty ||
        !snap.dataDirs.forall(snap.rowCounts.contains)) None
    else Some(snap.dataDirs.map(snap.rowCounts).sum)
  }

  /** SHALLOW CLONE — commit `dstBase` v1 as an exact copy of
    * `srcBase`@`srcV`'s manifest: the clone REFERENCES the source's data
    * and delete dirs (manifests name absolute paths), so cloning is one
    * manifest write — zero data I/O at any table size, the
    * Delta/Iceberg shallow-clone contract. The clone's history then
    * evolves independently (appends/deletes/rewrites never touch the
    * source). CAVEAT, same as Delta's: the clone shares files — a
    * VACUUM of the source can orphan a clone that still references the
    * vacuumed dirs; clones are for experiments/branching, and a
    * long-lived fork should compact (rewrite into its own dirs) to cut
    * the dependency. */
  def cloneAt(spark: SparkSession, srcBase: String, srcV: Int,
      dstBase: String): Unit =
    commit(spark, dstBase, 1, manifest(spark, srcBase, srcV))

  /** RESTORE — roll the table back to `toV` by committing head+1 with
    * that version's exact manifest: history is preserved (the bad
    * versions stay readable for forensics until vacuumed), the head
    * simply becomes the old content again — the Delta RESTORE shape.
    * Returns the new head. */
  def restore(spark: SparkSession, base: String, toV: Int): Int = {
    val head = headVersion(spark, base)
    require(toV >= 1 && toV <= head, s"cannot restore $base to v$toV " +
      s"(head is v$head)")
    commit(spark, base, head + 1, manifest(spark, base, toV))
    head + 1
  }

  // ───── NAMED REFS: tags + branches (the Iceberg-style WAP story) ─────

  /** Ref names share the SQL `VERSION AS OF '<ref>'` namespace with
    * numeric versions, so all-digit names are refused; the name is also a
    * file-name suffix, so only a path-safe charset is allowed. */
  private def requireRefName(name: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"ref name '$name' — use letters/digits/_/-/. only")
    require(!name.forall(_.isDigit),
      s"ref name '$name' is all digits — it would shadow a version id")
  }

  private def tagPath(base: String, name: String) =
    new Path(s"$base/_TAG_$name")

  /** The version a ref file (tag or fork marker) points at; None when the
    * file is absent. A damaged ref fails loudly — a wrong tag silently
    * serving the wrong version is worse than an error. */
  private def readRef(spark: SparkSession, p: Path): Option[Int] = {
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) None
    else open(readUtf8(fs, p), s"ref file $p").get("version") match {
      case Some(v: Long) => Some(v.toInt)
      case _ => throw new IllegalArgumentException(
        s"ref file $p carries no version")
    }
  }

  /** Publish ref `p` → `v` put-if-absent; returns the version the ref
    * holds afterwards (the winner's, when another creator got there
    * first). */
  private def putRef(spark: SparkSession, p: Path, v: Int): Int = {
    val fs = fsFor(spark, p)
    if (!fs.exists(p) && publish(fs, p, seal(List("version" -> num(v))))) v
    else readRef(spark, p).getOrElse(
      throw new IllegalStateException(s"ref file $p vanished"))
  }

  /** CREATE TAG — an immutable named pointer to a committed version (the
    * audit/release half of write-audit-publish): one tiny file, never a
    * data copy. Re-creating an identical tag is an idempotent no-op;
    * re-pointing an existing tag refuses — tags are immutable by
    * contract (drop and recreate deliberately if that is really meant).
    * Tagged versions are STILL subject to [[vacuum]]'s keepFrom — an
    * operator retaining tags must vacuum from the oldest tagged version
    * (the same retention contract as Iceberg refs). */
  def createTag(spark: SparkSession, base: String, name: String,
      version: Int): Unit = {
    requireRefName(name)
    val mp = manifestPath(base, version)
    require(fsFor(spark, mp).exists(mp),
      s"cannot tag $base v$version — no such committed version")
    val existing = putRef(spark, tagPath(base, name), version)
    require(existing == version,
      s"tag $name already points at v$existing — tags are immutable; " +
        "pick another name or delete the tag file deliberately")
  }

  /** Resolve a tag name to its version (None = no such tag). */
  def readTagVersion(spark: SparkSession, base: String,
      name: String): Option[Int] = {
    requireRefName(name)
    readRef(spark, tagPath(base, name))
  }

  /** `(name, version)` of every tag under `base`. */
  def listTags(spark: SparkSession, base: String): Seq[(String, Int)] = {
    val b = new Path(base)
    val fs = fsFor(spark, b)
    if (!fs.exists(b)) return Nil
    fs.listStatus(b).iterator.map(_.getPath.getName)
      .filter(_.startsWith("_TAG_")).map(_.stripPrefix("_TAG_"))
      .flatMap(n => readRef(spark, tagPath(base, n)).map(n -> _))
      .toSeq.sortBy(_._1)
  }

  /** Every kind of rewrite staging dir, as [[stagingDir]] names it. */
  private val stagingKinds =
    Seq("delete", "compact", "update", "merge", "optimize", "zorder",
      "copyin")

  /** Staging kinds older writers used; [[sweepStagingOrphans]] still
    * collects their orphans. */
  private val retiredStagingKinds = Seq("mergew", "mergea")

  /** A WRITER-UNIQUE staging dir `_<kind>_v<v>-<8 hex>` for a rewrite
    * targeting version `v` — never a clobberable fixed path: the version
    * claim is a point-in-time check, so a loser of the claim must not be
    * able to delete (or overwrite) the winner's committed dir. A crashed
    * attempt's orphan is what [[sweepStagingOrphans]] collects. */
  private def stagingDir(base: String, kind: String,
      v: Int): String = {
    require(stagingKinds.contains(kind), s"unknown staging kind $kind")
    s"$base/_${kind}_v$v-" + java.util.UUID.randomUUID().toString.take(8)
  }

  /** The optimistic version claim a rewrite makes before moving data:
    * returns head+1, refusing when a concurrent committer already holds
    * it. Point-in-time only — [[commit]]'s put-if-absent publish settles
    * the race for good. */
  private def claimNext(spark: SparkSession, base: String,
      head: Int): Int = {
    val v = head + 1
    val mp = manifestPath(base, v)
    require(!fsFor(spark, mp).exists(mp),
      s"version $v is already committed under $base — a concurrent " +
        "committer won the version claim; re-read the head and retry")
    v
  }

  /** Best-effort collection of CRASHED rewrite attempts' staging
    * orphans: writer-unique staging dirs (`_update_v7-ab12cd34` etc.)
    * whose target version is SETTLED (≤ head — the claim race is over,
    * so an unreferenced dir can only belong to a loser or a crash),
    * that no surviving manifest references, and that have been idle
    * past `olderThanMs` (a doomed-but-still-writing loser's job fails
    * on a deleted dir — loud and harmless, but the margin makes even
    * that vanishingly rare). Never touches `_insert-*` dirs (their
    * target version is unbounded while the OCC loop runs), branch
    * bases, ref files, or ingest epochs. Returns dirs removed. */
  def sweepStagingOrphans(spark: SparkSession, base: String,
      olderThanMs: Long = 15L * 60 * 1000): Int = {
    val head = headVersion(spark, base)
    if (head == 0) return 0
    def canon(d: String): String = {
      val p = new Path(d)
      fsFor(spark, p).makeQualified(p).toString
    }
    val referenced = (1 to head).filter { v =>
      val mp = manifestPath(base, v)
      fsFor(spark, mp).exists(mp)
    }.flatMap { v =>
      val m = manifest(spark, base, v)
      (m.dataDirs ++ m.deleteDirs).map(canon)
    }.toSet
    // the fixed `_optimize_v<v>[-p<i>]` names of older writers match too
    val stagingRe = ("^_(" + (stagingKinds ++ retiredStagingKinds)
      .mkString("|") + """)_v(\d+)(-[0-9a-f]{8}|-p\d+)?$""").r
    val b = new Path(base)
    val fs = fsFor(spark, b)
    val now = System.currentTimeMillis()
    var n = 0
    for (st <- fs.listStatus(b) if st.isDirectory) {
      val name = st.getPath.getName
      stagingRe.findFirstMatchIn(name).foreach { m =>
        val c = canon(st.getPath.toString)
        val isReferenced = referenced
          .exists(r => r == c || r.startsWith(c + "/"))
        if (m.group(2).toInt <= head && !isReferenced &&
            now - st.getModificationTime >= olderThanMs) {
          if (fs.delete(st.getPath, true)) n += 1
        }
      }
    }
    // crashed-commit sidecar orphans (written BEFORE their manifest, so
    // a crash in the window strands them with no referencing version):
    // unreferenced by every surviving manifest AND idle past the margin
    // — an in-flight committer's freshly written chunks are younger
    val sidecarRe = """^_SIDECAR_[0-9a-f]{32}\.mf$""".r
    lazy val liveRefs = (1 to head).filter { v =>
      val mp = manifestPath(base, v)
      fsFor(spark, mp).exists(mp)
    }.flatMap(sidecarRefs(spark, base, _)).toSet
    for (st <- fs.listStatus(b) if st.isFile;
         name = st.getPath.getName
         if sidecarRe.findFirstIn(name).isDefined) {
      if (!liveRefs.contains(name) &&
          now - st.getModificationTime >= olderThanMs) {
        if (fs.delete(st.getPath, false)) n += 1
      }
    }
    // a publisher that crashed between its temp write and the link
    // strands a hidden `._<name>.<8 hex>.tmp` file — idle ones are dead
    val publishTmpRe = """^\._.+\.[0-9a-f]{8}\.tmp$""".r
    for (st <- fs.listStatus(b) if st.isFile;
         name = st.getPath.getName
         if publishTmpRe.findFirstIn(name).isDefined &&
           now - st.getModificationTime >= olderThanMs) {
      if (fs.delete(st.getPath, false)) n += 1
    }
    n
  }

  /** ANALYZE (`CALL analyze`): compute dir bounds for `statsCol` on
    * every data dir LACKING an entry and commit head+1 carrying them —
    * how an existing table (built before bounds, or by writers that
    * never passed a statsCol) gains manifest-level dir pruning after the
    * fact. Cost is one column-pruned min/max scan per uncovered dir +
    * one manifest commit; covered dirs are never re-scanned, so repeated
    * ANALYZE is incremental — at 100 TB the first run pays dir-count
    * column scans once and every later run touches only new dirs. Dirs
    * physically lacking the column (pre-ADD-evolution) get no entry —
    * pruning keeps them, the direction that errs wide. The report names
    * how many dirs REMAIN uncovered (column physically absent or
    * all-null — those re-scan on every ANALYZE, so a persistent nonzero
    * count is the operator's signal to pick another stats column). Commits only when new entries landed —
    * no empty version boundary. Refused on rename/drop-evolved tables:
    * bounds are keyed by the name pruning probes with, which must equal
    * the dirs' physical column name — optimizeZorder (which normalizes
    * names) first. */
  final case class AnalyzeReport(version: Int, dirsAnalyzed: Int,
      dirsUncovered: Int)

  def analyzeBounds(spark: SparkSession, base: String,
      statsCol: String): AnalyzeReport = {
    // per-dir scan results memoized across OCC retries: a lost version
    // claim re-reads the winner's head and re-commits the (additive,
    // per-dir) bounds on top — the expensive min/max scans are never
    // paid twice, and a dir the winner rewrote simply drops out of the
    // next attempt's missing set (its memo entry goes unused)
    val scanned = scala.collection.mutable.Map.empty[String, Seq[DirBounds]]
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val head = headVersion(spark, base)
      require(head >= 1, s"no committed snapshot under $base to analyze")
      val snap = manifest(spark, base, head)
      require(snap.renames.isEmpty && snap.dropped.isEmpty,
        "ANALYZE on a rename/drop-evolved table is refused — bounds " +
          "names must match the dirs' physical columns; optimizeZorder " +
          "first")
      val covered = snap.bounds.filter(_.col == statsCol).map(_.dir).toSet
      val missing = snap.dataDirs.filterNot(covered)
      if (missing.isEmpty) return AnalyzeReport(head, 0, 0)
      val fresh = missing.flatMap { d =>
        scanned.getOrElseUpdate(d, {
          val fields = spark.read.parquet(d).schema.fieldNames.toSet
          if (!fields(statsCol)) Nil
          else computeBounds(spark, Seq(d), statsCol)
        })
      }
      val uncovered = missing.size - fresh.size
      if (fresh.isEmpty) return AnalyzeReport(head, 0, uncovered)
      val v = head + 1
      try {
        commit(spark, base, v, snap.copy(bounds = snap.bounds ++ fresh))
        return AnalyzeReport(v, fresh.size, uncovered)
      } catch {
        // lost the version claim to a concurrent committer — fold onto
        // the winner's head instead of discarding the computed bounds
        // (the ADVICE r17 finding: every other multi-step op retries)
        case _: CommitConflict if attempt < 20 => ()
      }
    }
    throw new IllegalStateException(
      s"ANALYZE of $base could not claim a version after 20 attempts — " +
        "a committer is racing every retry or the store is wedged")
  }

  /** COLUMN ANALYZE (`CALL analyze_columns`): compute per-dir EXACT
    * distinct-value and null counts for `cols` on every data dir lacking
    * an entry — and backfill missing per-dir row counts in the same pass
    * — then commit head+1 carrying them. Incremental like
    * [[analyzeBounds]]: covered (dir, col) pairs are never re-scanned,
    * so at 100 TB the first run pays one column-pruned agg per dir and
    * every later run touches only new ingest dirs (each dir is
    * write-batch-sized, so the per-dir exact distinct is a bounded
    * shuffle — and exactness is what lets the correctness oracle replay
    * the numbers). Dirs physically lacking a column (pre-ADD evolution)
    * get no entry and count as uncovered. Refused on rename/drop-evolved
    * tables for the same reason as [[analyzeBounds]]: stats are keyed by
    * the name the reader probes with, which must equal the dirs'
    * physical column name — optimizeZorder first.
    *
    * The payoff is [[manifestColumnStats]]/[[manifestRowCount]]: the SQL
    * catalog's scan reports them to Catalyst ([[SnapshotStatsScan]]), so
    * with CBO enabled a filtered snapshot dimension is sized by
    * rowCount/ndv instead of physical bytes — the difference between
    * broadcasting a post-filter sliver and sort-merge-joining the whole
    * table. */
  final case class AnalyzeColsReport(version: Int, entriesAdded: Int,
      entriesUncovered: Int)

  def analyzeColumnStats(spark: SparkSession, base: String,
      rawCols: Seq[String]): AnalyzeColsReport = {
    // "*" = every column of the CURRENT schema (the ANALYZE-everything
    // ergonomic; resolved once here so the per-dir loop sees plain names)
    val cols =
      if (rawCols == Seq("*")) {
        val head0 = headVersion(spark, base)
        require(head0 >= 1, s"no committed snapshot under $base to analyze")
        tableSchema(spark, manifest(spark, base, head0)).fieldNames.toSeq
      } else rawCols
    require(cols.nonEmpty, "analyzeColumnStats needs at least one column")
    require(cols.distinct.size == cols.size,
      s"duplicate columns in $cols")
    // per-dir scan results memoized across OCC retries (the
    // analyzeBounds discipline): a lost version claim re-commits the
    // additive entries onto the winner's head without re-paying the
    // aggs; a dir the winner rewrote drops out of the next attempt's
    // missing set
    val scanned = scala.collection.mutable
      .Map.empty[String, (Long, Map[String, ColStats])]
    // dir schema from parquet FOOTERS only (no row scan), memoized: the
    // gate that keeps forever-uncoverable dirs (pre-evolution dirs
    // physically lacking a requested column) from re-paying the agg on
    // every nightly ANALYZE call (r18 ADVICE) — such (dir, col) pairs
    // can never become covered, so the only honest outcomes are "skip"
    // (rowCount already known) or "count rows once"
    val dirFields = scala.collection.mutable.Map.empty[String, Set[String]]
    def fieldsOf(d: String): Set[String] = dirFields.getOrElseUpdate(d, {
      // one footer, read ON THE DRIVER (spark.read.parquet(...).schema
      // launches a footer-inference JOB in Spark 4 — a job per
      // uncoverable dir per nightly run is exactly the cost this gate
      // exists to avoid); only top-level field NAMES are needed
      import scala.jdk.CollectionConverters._
      val p = new Path(d)
      val fs = fsFor(spark, p)
      fs.listStatus(p).map(_.getPath)
        .find(q => q.getName.endsWith(".parquet") &&
          !q.getName.startsWith("_") && !q.getName.startsWith("."))
        .map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(f, spark.sparkContext.hadoopConfiguration)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFileMetaData.getSchema.getFields.asScala
            .map(_.getName).toSet
          finally r.close()
        }.getOrElse(Set.empty)
    })
    def scanDir(d: String): (Long, Map[String, ColStats]) =
      scanned.getOrElseUpdate(d, {
        val (rows, cs) = scanDirStats(spark, d, cols)
        (rows, cs.map(e => e.col -> e).toMap)
      })
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val head = headVersion(spark, base)
      require(head >= 1, s"no committed snapshot under $base to analyze")
      val snap = manifest(spark, base, head)
      require(snap.renames.isEmpty && snap.dropped.isEmpty,
        "ANALYZE COLUMNS on a rename/drop-evolved table is refused — " +
          "stats names must match the dirs' physical columns; " +
          "optimizeZorder first")
      val covered = snap.colStats.map(cs => (cs.dir, cs.col)).toSet
      val missing = snap.dataDirs.filter(d =>
        cols.exists(c => !covered((d, c))) || !snap.rowCounts.contains(d))
      if (missing.isEmpty) return AnalyzeColsReport(head, 0, 0)
      val fresh = missing.flatMap { d =>
        val uncov = cols.filterNot(c => covered((d, c)))
        // skip the agg when every uncovered requested column is
        // physically ABSENT from the dir and its row count is already
        // recorded — nothing new could come out of the scan
        if (!uncov.exists(fieldsOf(d)) && snap.rowCounts.contains(d)) Nil
        else {
          val (_, byCol) = scanDir(d)
          uncov.flatMap(byCol.get)
        }
      }
      val uncovered = missing.flatMap(d =>
        cols.filterNot(c => covered((d, c)))).size - fresh.size
      val freshRows = missing.filterNot(snap.rowCounts.contains)
        .map(d => d -> scanDir(d)._1)
      if (fresh.isEmpty && freshRows.isEmpty)
        return AnalyzeColsReport(head, 0, uncovered)
      val v = head + 1
      try {
        commit(spark, base, v, snap.copy(
          colStats = snap.colStats ++ fresh,
          rowCounts = snap.rowCounts ++ freshRows))
        return AnalyzeColsReport(v, fresh.size, uncovered)
      } catch {
        case _: CommitConflict if attempt < 20 => ()
      }
    }
    throw new IllegalStateException(
      s"ANALYZE COLUMNS of $base could not claim a version after 20 " +
        "attempts — a committer is racing every retry or the store is " +
        "wedged")
  }

  /** Table-level row count from the manifest: defined iff EVERY data dir
    * carries a count (a partially-counted table must not under-report).
    * What the SQL reader's stats report as numRows — metadata-only. */
  def manifestRowCount(snap: Snapshot): Option[Long] =
    if (snap.dataDirs.nonEmpty &&
        snap.dataDirs.forall(snap.rowCounts.contains))
      Some(snap.dataDirs.map(snap.rowCounts).sum)
    else None

  /** Table-level per-column (ndv, nulls) folded from the manifest's
    * per-dir entries: a column qualifies iff EVERY data dir carries its
    * entry (partial coverage must not misstate table NDV). Null counts
    * add exactly; per-dir NDVs add as an UPPER bound on table NDV,
    * clamped to the non-null row count — for CBO's equality selectivity
    * (1/ndv) an overestimated NDV under-sizes the filter output, which
    * is the aggressive direction, so callers gating broadcasts should
    * keep thresholds honest (the clamp keeps it sane; dir-disjoint key
    * ranges — the common ingest layout — make the sum exact). */
  /** Validate `df` against the snapshot's CHECK constraints in ONE
    * combined aggregate pass (batch-sized — the write already scans the
    * batch): a row passes a check iff its expression is TRUE; FALSE and
    * NULL violate (the Delta CHECK contract — a constraint that can be
    * dodged with a NULL is not a constraint). Throws on the first
    * violating constraint, BEFORE any manifest commit. Expressions
    * reference LOGICAL column names, so callers must pass the logical
    * frame (pre-[[toPhysical]]).
    *
    * RETURNS the frame the caller must WRITE: validation and the write
    * are separate Spark jobs over the same plan, so a non-deterministic
    * source (rand(), uuid()) could pass validation here yet land
    * different — violating — rows (r18 ADVICE). When the plan carries
    * any non-deterministic expression the batch is pinned with
    * localCheckpoint first, so both jobs see identical rows; a
    * deterministic plan (the overwhelmingly common case) passes through
    * untouched. */
  private[sources] def enforceChecks(spark: SparkSession, snap: Snapshot,
      df: DataFrame, op: String): DataFrame = {
    if (snap.checks.isEmpty) return df
    val pinned =
      if (df.queryExecution.analyzed.exists(
          _.expressions.exists(e => e.exists(!_.deterministic))))
        df.localCheckpoint(true)
      else df
    import org.apache.spark.sql.functions.{expr, lit, sum, when}
    val aggs = snap.checks.zipWithIndex.map { case ((_, e), i) =>
      sum(when(!(expr(e) <=> lit(true)), 1L).otherwise(0L)).as(s"c_$i")
    }
    val row = pinned.agg(aggs.head, aggs.drop(1): _*).head()
    for (((n, e), i) <- snap.checks.zipWithIndex) {
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      require(bad == 0L,
        s"$op violates CHECK constraint $n ($e) on $bad row(s) — " +
          "refused before commit; fix the data or drop the constraint")
    }
    pinned
  }

  /** ADD a CHECK constraint: validates the expression parses, validates
    * EXISTING data satisfies it (one logical-read aggregate — the Delta
    * semantics: a constraint is retroactively true or refused), and
    * commits head+1 carrying it. From then on every row-landing write
    * ([[SnapshotCatalog]] INSERT, [[ingestBatch]], [[updateWhere]], the
    * merge family) validates its batch first — O(batch) per write, never
    * a table scan. Refused while merge-on-read delete files are pending
    * (the logical content needs the key mask; compact first) and on a
    * duplicate name with a DIFFERENT expression (same name + same
    * expression is an idempotent no-op). */
  def addCheck(spark: SparkSession, base: String, name: String,
      exprSql: String): Int = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '_'), s"CHECK constraint name '$name' must be [A-Za-z0-9_]+")
    // parse NOW — an unparseable expression must fail the CALL, not
    // every later write
    spark.sessionState.sqlParser.parseExpression(exprSql): Unit
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val head = headVersion(spark, base)
      require(head >= 1, s"no committed snapshot under $base")
      val snap = manifest(spark, base, head)
      snap.checks.find(_._1 == name) match {
        case Some((_, e)) if e == exprSql => return head // idempotent
        case Some((_, e)) => throw new IllegalArgumentException(
          s"CHECK constraint $name already exists with a different " +
            s"expression ($e) — drop it first")
        case None => ()
      }
      require(snap.deleteDirs.isEmpty,
        "ADD CHECK with pending merge-on-read delete files is refused — " +
          "validation needs the masked logical content; compact() first")
      enforceChecks(spark, snap.copy(checks = Seq(name -> exprSql)),
        readVersionData(spark, base, head), "existing data")
      try {
        commit(spark, base, head + 1,
          snap.copy(checks = snap.checks :+ (name -> exprSql)))
        return head + 1
      } catch {
        case _: CommitConflict if attempt < 20 => ()
      }
    }
    throw new IllegalStateException(
      s"ADD CHECK on $base could not claim a version after 20 attempts — " +
        "a committer is racing every retry or the store is wedged")
  }

  /** DROP a CHECK constraint: head+1 without it. Idempotent — dropping
    * an absent name returns the head unchanged (the state the caller
    * asked for already holds). */
  def dropCheck(spark: SparkSession, base: String, name: String): Int = {
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val head = headVersion(spark, base)
      require(head >= 1, s"no committed snapshot under $base")
      val snap = manifest(spark, base, head)
      if (!snap.checks.exists(_._1 == name)) return head
      try {
        commit(spark, base, head + 1,
          snap.copy(checks = snap.checks.filterNot(_._1 == name)))
        return head + 1
      } catch {
        case _: CommitConflict if attempt < 20 => ()
      }
    }
    throw new IllegalStateException(
      s"DROP CHECK on $base could not claim a version after 20 attempts " +
        "— a committer is racing every retry or the store is wedged")
  }

  /** Logical column names a CHECK expression references — the guard
    * [[evolveDropColumn]]/[[evolveRenameColumn]] use to refuse evolving
    * a constrained column out from under its constraint. */
  private def checkRefs(spark: SparkSession, exprSql: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }

  private[sources] def checksReferencing(spark: SparkSession,
      snap: Snapshot, col: String): Seq[String] =
    snap.checks.collect {
      case (n, e) if checkRefs(spark, e)
        .exists(_.equalsIgnoreCase(col)) => n
    }

  def manifestColumnStats(snap: Snapshot): Map[String, (Long, Long)] = {
    if (snap.colStats.isEmpty || snap.dataDirs.isEmpty) return Map.empty
    val rows = manifestRowCount(snap)
    // a dir whose manifest row count is 0 contributes (0, 0) whether or
    // not it was analyzed — exempt it from the coverage requirement
    // (CREATE TABLE's empty v1 dir is the standing case)
    val needing = snap.dataDirs
      .filterNot(d => snap.rowCounts.get(d).contains(0L))
    snap.colStats.groupBy(_.col).collect {
      case (c, entries)
          if needing.forall(d => entries.exists(_.dir == d)) =>
        val live = entries.filter(e => snap.dataDirs.contains(e.dir))
        val nulls = live.map(_.nulls).sum
        // TIGHT table NDV: when every contributing (non-empty) dir
        // carries a mergeable sketch, union-estimate instead of the
        // overlap-blind per-dir sum — dirs sharing key ranges otherwise
        // overstate NDV and skew CBO's 1/ndv selectivity toward
        // over-aggressive broadcasts. A foreign/corrupt sketch, or any
        // sketch-less contributor, falls back to the summed upper bound
        // clamped to non-null rows (the pre-sketch behavior).
        val contributing = live.filter(e => needing.contains(e.dir))
        val ndvSketch: Option[Long] =
          if (contributing.nonEmpty &&
              contributing.forall(_.sketch.isDefined))
            try {
              val u = new org.apache.datasketches.hll.Union(12)
              contributing.foreach { e =>
                u.update(org.apache.datasketches.hll.HllSketch.heapify(
                  java.util.Base64.getUrlDecoder.decode(e.sketch.get)))
              }
              Some(math.round(u.getEstimate))
            } catch { case _: Exception => None }
          else None
        val ndv0 = ndvSketch.getOrElse(live.map(_.ndv).sum)
        // never report ndv 0 (CBO divides by it); an all-null column
        // reports 1, which errs toward keeping the filter output large
        val ndv = math.max(1L,
          rows.fold(ndv0)(r => math.min(ndv0, r - nulls)))
        c -> (ndv, nulls)
    }
  }

  /** REF-AWARE RETENTION (`CALL expire_snapshots`): [[vacuum]] with
    * `keepFrom` CLAMPED to the oldest version a named ref still needs —
    * the oldest tag target and the oldest un-published branch fork point
    * (a branch's v1 shares the fork version's dirs by reference, and its
    * OWN commits layer on top of them, so main must keep the fork
    * version readable until the branch is published or dropped). This is
    * the Iceberg expireSnapshots contract: retention can never silently
    * break a ref. Plain [[vacuum]] stays available for the deliberate
    * "drop history, refs included" operation. */
  def expireSnapshots(spark: SparkSession, base: String,
      keepFrom: Int): VacuumReport = {
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base")
    // fork clamps come from the RAW fork markers, not listBranches: a
    // crashed createBranch (marker claimed, clone not yet committed)
    // must still hold its fork version until completed or dropped, or
    // the half-created branch becomes permanently uncompletable.
    val forkFloors = {
      val b = new Path(base)
      val fs = fsFor(spark, b)
      if (!fs.exists(b)) Nil
      else fs.listStatus(b).iterator.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("_branch_"))
        .flatMap(n => readRef(spark, forkPath(s"$base/$n"))).toSeq
    }
    val refFloor =
      (listTags(spark, base).map(_._2) ++ forkFloors).minOption
    val kf = math.min(math.min(keepFrom, head),
      refFloor.getOrElse(Int.MaxValue))
    val rep = vacuum(spark, base, math.max(kf, 1), head)
    // crashed rewrite attempts' staging orphans ride the same retention
    // pass (best-effort, idle-margin-guarded — see sweepStagingOrphans)
    sweepStagingOrphans(spark, base): Unit
    rep
  }

  /** DRY-RUN [[expireSnapshots]]: the same ref-aware clamp computation
    * (oldest tag, oldest un-published branch fork — raw fork markers
    * included) feeding [[vacuumDryRun]] — what a retention pass WOULD
    * retire with the refs honored, zero deletions. */
  def expireSnapshotsDryRun(spark: SparkSession, base: String,
      keepFrom: Int): VacuumReport = {
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base")
    val forkFloors = {
      val b = new Path(base)
      val fs = fsFor(spark, b)
      if (!fs.exists(b)) Nil
      else fs.listStatus(b).iterator.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("_branch_"))
        .flatMap(n => readRef(spark, forkPath(s"$base/$n"))).toSeq
    }
    val refFloor =
      (listTags(spark, base).map(_._2) ++ forkFloors).minOption
    val kf = math.min(math.min(keepFrom, head),
      refFloor.getOrElse(Int.MaxValue))
    vacuumDryRun(spark, base, math.max(kf, 1), head)
  }

  /** Drop a tag — releases its retention clamp on [[expireSnapshots]].
    * Idempotent: dropping an absent tag is a no-op (the state the caller
    * asked for already holds). */
  def dropTag(spark: SparkSession, base: String, name: String): Unit = {
    requireRefName(name)
    val p = tagPath(base, name)
    fsFor(spark, p).delete(p, false): Unit
  }

  /** Drop a branch — deletes its nested base (manifests, fork marker,
    * and branch-local data dirs). REFUSED while any surviving MAIN
    * manifest — or any SIBLING branch's manifest (a branch forked after
    * this one published clones main's manifest, dirs of this branch
    * included) — references a dir under the branch base: after a
    * publish, the branch's dirs ARE part of shared history, and deleting
    * them would corrupt the referencer — vacuum main (and drop or
    * re-branch the sibling) past the publish point first (path
    * comparison canonicalized, the [[vacuum]] rule). Idempotent on an
    * absent branch.
    *
    * CONCURRENT-PUBLISH ARBITRATION (the loser-deletes-winner race): a
    * publish committing between this op's referencing scan and its
    * recursive delete would leave main's new head pointing at swept
    * dirs. The drop therefore (1) fast-fails on the initial scan with
    * the branch fully intact (the common already-published case), then
    * (2) CLAIMS the drop by deleting the `_FORK` marker — after which
    * [[publishBranch]] refuses to START and re-validates the marker
    * after its commit — then (3) RE-scans for referencing manifests and
    * aborts loudly (data dirs retained, main readable) when a racer's
    * publish landed in the window, and only then (4) deletes the branch
    * base. A publish that commits after (3) finds the marker gone at
    * its own post-commit check and restores main (see there) — between
    * the two sides, no interleaving leaves a main head referencing
    * swept bytes. */
  def dropBranch(spark: SparkSession, base: String, name: String): Unit = {
    val bb = branchBase(base, name)
    val bp = new Path(bb)
    val fs = fsFor(spark, bp)
    if (!fs.exists(bp)) return
    def canon(d: String): String = {
      val p = new Path(d)
      fsFor(spark, p).makeQualified(p).toString
    }
    val bbPrefix = canon(bb) + "/"
    def referencing(rbase: String, label: String): Seq[String] = {
      val head = headVersion(spark, rbase)
      (1 to head).filter { v =>
        val mp = manifestPath(rbase, v)
        fsFor(spark, mp).exists(mp)
      }.filter { v =>
        val m = manifest(spark, rbase, v)
        (m.dataDirs ++ m.deleteDirs)
          .exists(d => canon(d).startsWith(bbPrefix))
      }.map(v => s"$label v$v")
    }
    def scanRefs(): Seq[String] = referencing(base, "main") ++
      listBranches(spark, base).collect {
        case (n, _, _) if n != name =>
          referencing(branchBase(base, n), s"branch $n")
      }.flatten
    val refs = scanRefs()
    require(refs.isEmpty,
      s"branch $name was published — ${refs.mkString(", ")} still " +
        "reference its dirs; vacuum main (and drop/re-branch any " +
        "referencing sibling) past the publish point before dropping " +
        "the branch")
    // claim: no NEW publish can start without the fork marker
    fs.delete(forkPath(bb), false): Unit
    // a publish that raced the first scan and committed before the claim
    // is visible now — abort with the branch's DATA retained (its dirs
    // are shared history; only the marker is gone, and the publisher
    // already succeeded)
    val late = scanRefs()
    if (late.nonEmpty) throw new IllegalStateException(
      s"branch $name was published concurrently with this drop — " +
        s"${late.mkString(", ")} now reference its dirs; the drop was " +
        "aborted before touching data (fork marker removed). Vacuum " +
        "past the publish point, then re-run dropBranch.")
    fs.delete(bp, true): Unit
  }

  /** `(name, branch head version, main fork version)` of every branch
    * under `base` (branches with no committed clone yet are omitted —
    * they are not readable). */
  def listBranches(spark: SparkSession,
      base: String): Seq[(String, Int, Int)] = {
    val b = new Path(base)
    val fs = fsFor(spark, b)
    if (!fs.exists(b)) return Nil
    fs.listStatus(b).iterator.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("_branch_")).map(_.stripPrefix("_branch_"))
      .flatMap { n =>
        val bb = branchBase(base, n)
        val h = headVersion(spark, bb)
        if (h < 1) None
        else readRef(spark, forkPath(bb)).map(f => (n, h, f))
      }.toSeq.sortBy(_._1)
  }

  /** A branch's own snapshot-table base — NESTED under the main base, so
    * DROP TABLE removes branches with the table and main's vacuum (which
    * deletes by old-manifest reference, never by dir listing) cannot
    * collect a branch's dirs out from under it. */
  def branchBase(base: String, name: String): String = {
    requireRefName(name)
    s"$base/_branch_$name"
  }

  private def forkPath(bb: String) = new Path(s"$bb/_FORK")

  /** CREATE BRANCH — the write half of write-audit-publish: a zero-copy
    * fork of main's head ([[cloneAt]] mechanics — the branch's v1 shares
    * every data dir by reference) plus a `_FORK` marker recording the
    * main version forked from. WAP writers mutate the BRANCH base with
    * the ordinary API ops (ingest/delete/update/merge — each a branch
    * version), auditors read the branch head, and [[publishBranch]]
    * fast-forwards main; main readers never see pre-publish rows. The
    * fork marker is claimed FIRST, so two racers forking at different
    * observed heads resolve loudly instead of diverging. Returns the
    * fork version. */
  def createBranch(spark: SparkSession, base: String,
      name: String): Int = {
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base to branch")
    val bb = branchBase(base, name)
    require(headVersion(spark, bb) == 0,
      s"branch $name already exists under $base")
    val fork = putRef(spark, forkPath(bb), head) // the claim winner's
    cloneAt(spark, base, fork, bb) // idempotent: commit's replay contract
    fork
  }

  /** PUBLISH (fast-forward) — commit the branch's head manifest onto
    * main as head+1, the atomic visibility flip of write-audit-publish.
    * Requires main to still sit at the branch's fork version: if main
    * advanced, the branch is STALE and publishing would silently drop
    * main's newer commits — refuse with the remedy (re-branch and
    * replay). The published manifest may reference dirs under the branch
    * base — absolute paths, shared by reference, zero copy. Returns
    * main's new head. */
  def publishBranch(spark: SparkSession, base: String,
      name: String): Int = {
    val bb = branchBase(base, name)
    val bHead = headVersion(spark, bb)
    require(bHead >= 1, s"no branch $name under $base")
    val fork = readRef(spark, forkPath(bb)).getOrElse(
      throw new IllegalArgumentException(
        s"branch $name has no fork marker — not a branch created by " +
          "createBranch"))
    val mHead = headVersion(spark, base)
    require(mHead == fork,
      s"main advanced since branch $name forked (v$fork → v$mHead) — " +
        "the branch is stale; re-branch from the new head and replay " +
        "its changes, or restore main first")
    val published = manifest(spark, bb, bHead)
    commit(spark, base, mHead + 1, published)
    // arbitration vs a concurrent dropBranch (see there): the dropper
    // claims by deleting the fork marker, then re-scans for referencing
    // manifests. If this commit landed BEFORE that re-scan the dropper
    // aborted and our publish stands; if it landed AFTER, the dropper
    // may already be sweeping the branch dirs this manifest references —
    // detectable exactly as "marker gone now". Restore main to its
    // pre-publish content (the fork manifest references no branch dirs)
    // and fail loudly. A third committer stealing mHead+2 in this
    // window makes the restore commit itself fail — still loud (the
    // operator restores by hand), never a silent wrong answer.
    val fp = forkPath(bb)
    if (!fsFor(spark, fp).exists(fp)) {
      try commit(spark, base, mHead + 2, manifest(spark, base, fork))
      catch {
        case e: Exception => throw new IllegalStateException(
          s"branch $name was dropped concurrently with this publish " +
            s"AND the automatic restore of main lost its version claim " +
            s"— main's v${mHead + 1} may reference swept dirs; restore " +
            s"main to the v$fork content by hand", e)
      }
      throw new IllegalStateException(
        s"branch $name was dropped concurrently with this publish — " +
          s"its dirs may be swept; main restored to the v$fork content " +
          s"as v${mHead + 2}. Re-branch and replay the changes.")
    }
    mHead + 1
  }

  /** Time-based retention (`VACUUM ... RETAIN`): resolve the newest
    * version older than the cutoff against manifest mtimes (the store's
    * clock — [[versionAsOf]]'s contract) and keep everything from there
    * forward, so "retain 7 days" works without the caller tracking
    * version numbers. The HEAD always survives (a fully-stale table
    * keeps its latest version — deleting the only readable snapshot is
    * never what retention means). Delegates to [[vacuum]] for the actual
    * manifest-first deletion order. */
  def vacuumOlderThan(spark: SparkSession, base: String,
      cutoffMillis: Long): VacuumReport = {
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base to vacuum")
    // only SURVIVING manifests participate (earlier vacuums already
    // removed some); vacuum's live-range read requires every manifest in
    // keepFrom..head to exist
    val surviving = (1 to head).filter { v =>
      val p = manifestPath(base, v)
      fsFor(spark, p).exists(p)
    }
    // newest version committed AT or BEFORE the cutoff stays readable
    // (time travel to "as of the cutoff" must keep working afterwards);
    // no version predates the cutoff → nothing to retire
    val keepFrom = surviving.reverse.find { v =>
      val p = manifestPath(base, v)
      fsFor(spark, p).getFileStatus(p).getModificationTime <= cutoffMillis
    }.getOrElse(surviving.head)
    vacuum(spark, base, keepFrom, head)
  }

  /** Row-level `DELETE WHERE` — the merge-on-read write path that closes
    * the loop between the CDC operators and the snapshot format: one scan
    * of the head version collects the matching rows' KEYS into a fresh
    * delete file (request-batch-sized — the 100 TB contract: the data
    * files are never rewritten, a delete commit costs O(matches), and
    * Compaction folds the delete files in later), then commits head+1
    * with the same data dirs and the delete file APPENDED to the delete
    * set. Readers of older versions are unaffected (time travel still
    * sees the rows); [[commit]]'s optimistic concurrency arbitrates racing
    * committers — a loser that observes its target version already
    * claimed fails loudly before touching that version's delete dir.
    * Incremental MV maintenance over the table observes the delete-set
    * change and falls back to its always-correct full rebuild
    * (MvCatalog.registerSnapshotIncremental's append-only precondition).
    * Returns the newly committed version. A predicate matching nothing
    * still commits (an empty delete file) — the caller asked for a
    * version boundary and gets one, idempotently replayable like any
    * commit. */
  def deleteWhere(spark: SparkSession, base: String, keyCol: String,
      predicate: org.apache.spark.sql.Column): Int =
    deleteMatching(spark, base, keyCol, _.where(predicate))

  /** [[deleteWhere]] generalized to JOIN-shaped match sets: `matching`
    * maps the head scan to the subset to delete — the decorrelated
    * `DELETE WHERE k IN (SELECT …)` erase-cascade shape (an uncorrelated
    * IN-subquery becomes a semi join against the scan, never a
    * driver-collected literal list). Same merge-on-read contract:
    * O(matches) delete file, data files untouched. */
  def deleteMatching(spark: SparkSession, base: String, keyCol: String,
      matching: DataFrame => DataFrame): Int = {
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base to delete from")
    val snap = manifest(spark, base, head)
    val v = claimNext(spark, base, head)
    val delDir = stagingDir(base, "delete", v)
    matching(readVersion(spark, base, head, keyCol))
      .select(col(keyCol)).distinct()
      .write.parquet(delDir)
    commit(spark, base, v, snap.copy(deleteDirs = snap.deleteDirs :+ delDir))
    v
  }

  /** Compaction report: the committed version (the prior head when the
    * call was a no-op), the data dirs rewritten vs carried over by
    * reference, and the delete files folded away. */
  final case class CompactReport(version: Int, dirsRewritten: Int,
      dirsKept: Int, deletesFolded: Int)

  /** Fold the head version's stacked delete files into the data — the
    * rewrite half of merge-on-read that [[deleteWhere]]'s scaladoc (and
    * SCALE.md) defer to. A delete set growing toward the table size makes
    * every read pay its broadcast anti join; compaction commits head+1
    * whose data carries the deletes APPLIED and whose delete set is EMPTY,
    * so reads go back to bare scans.
    *
    * Cost contract at 100 TB: one key-column probe over the data decides
    * which dirs actually hold a deleted key (a single job — every dir's
    * key column unioned under a dir tag, semi-joined against the broadcast
    * delete set; the collect is dir-count-sized, manifest granularity).
    * Only HIT dirs are rewritten (anti join → one fresh dir); untouched
    * dirs carry over by reference, so compaction costs O(affected data) +
    * one key-column scan, never an unconditional table rewrite.
    *
    * Crash safety rides the existing commit protocol: the compacted dir is
    * fully written (committer `_SUCCESS`) before the manifest commits, so
    * a crash in between strands an orphan dir that [[vacuum]] collects,
    * and the delete-carrying head stays readable. Older versions still
    * read their own manifests (time travel unaffected); incremental MV
    * maintenance observes the data-dir change and takes its full-rebuild
    * fallback. No-op (returns the current head) when the head carries no
    * deletes. */
  def compact(spark: SparkSession, base: String,
      keyCol: String): CompactReport = {
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base to compact")
    val snap = manifest(spark, base, head)
    if (snap.deleteDirs.isEmpty)
      return CompactReport(head, 0, snap.dataDirs.size, 0)
    val v = claimNext(spark, base, head)
    val dels = spark.read.parquet(snap.deleteDirs: _*)
      .select(col(keyCol)).distinct()
    // one probe job over every dir's key column: which dirs hold >= 1
    // deleted key (column pruning keeps this a key-only scan)
    val hit = probeHitDirs(spark, snap, head,
      _.join(broadcast(dels), Seq(keyCol), "left_semi"))
    val keep = snap.dataDirs.filterNot(hit)
    val folded = snap.copy(deleteDirs = Nil)
    if (hit.isEmpty) commit(spark, base, v, folded) // deletes matched nothing
    else commitRewrite(spark, base, v, folded, keep,
      Seq(stagingDir(base, "compact", v) ->
        readData(spark, snap, hit.toSeq.sorted)
          .join(broadcast(dels), Seq(keyCol), "left_anti")))
    CompactReport(v, hit.size, keep.size, snap.deleteDirs.size)
  }

  /** The staging column the dir-level probes tag rows with — rejected in
    * caller data (the KvSink collision rule). */
  private val dirTag = "_graft_compact_dir"

  /** ONE job deciding which data dirs hold at least one row surviving
    * `probe` (a filter/semi-join over the tagged union of every dir):
    * the dir-count-sized collect that lets [[compact]]/[[updateWhere]]
    * rewrite only affected dirs and carry the rest by reference. */
  private def probeHitDirs(spark: SparkSession, snap: Snapshot,
      head: Int, probe: DataFrame => DataFrame): Set[String] = {
    require(snap.dataDirs.nonEmpty, s"head v$head has no data dirs")
    // per-dir projection to the version's schema, so probe predicates may
    // reference evolved-in columns (NULL over pre-evolution dirs)
    val target = tableSchema(spark, snap)
    require(!target.fieldNames.contains(dirTag),
      s"data schema already carries the staging column $dirTag")
    val tagged = snap.dataDirs
      .map(d => readData(spark, snap, Seq(d))
        .withColumn(dirTag, lit(d)))
      .reduce(_ unionAll _)
    probe(tagged).select(col(dirTag)).distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** Rewrite report shared by the copy-on-write ops: the committed
    * version, the dirs rewritten, and the dirs carried by reference. */
  final case class RewriteReport(version: Int, dirsRewritten: Int,
      dirsKept: Int)

  /** ONE combined aggregate over `dir`: row count plus, per wanted
    * column physically present, (exact ndv, null count, and — for
    * int/long/string columns — a mergeable HLL sketch, lgK=12). The
    * sketch is what lets [[manifestColumnStats]] union per-dir NDVs
    * into a tight table estimate instead of the overlap-blind sum. */
  private def scanDirStats(spark: SparkSession, dir: String,
      wanted: Seq[String]): (Long, Seq[ColStats]) = {
    import org.apache.spark.sql.functions.{count, count_distinct, hll_sketch_agg, lit}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val df = spark.read.parquet(dir)
    val dts = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val present = wanted.filter(dts.contains)
    def sketchable(c: String) = dts(c) match {
      case IntegerType | LongType | StringType => true
      case _ => false
    }
    val aggs = count(lit(1)) +: present.flatMap { c =>
      val base = Seq(count_distinct(col(c)), count(col(c)))
      if (sketchable(c)) base :+ hll_sketch_agg(col(c), 12) else base
    }
    val row = df.agg(aggs.head, aggs.drop(1): _*).head()
    val rows = row.getLong(0)
    var idx = 1
    val cs = present.map { c =>
      val ndv = row.getLong(idx)
      val nonNull = row.getLong(idx + 1)
      idx += 2
      val sk = if (sketchable(c)) {
        val b = if (row.isNullAt(idx)) null
          else row.getAs[Array[Byte]](idx)
        idx += 1
        Option(b).map(java.util.Base64.getUrlEncoder.withoutPadding
          .encodeToString)
      } else None
      ColStats(dir, c, ndv, rows - nonNull, sk)
    }
    (rows, cs)
  }

  /** Fresh-dir COLUMN STATS + ROW COUNT for a rewrite commit — the
    * [[reboundDir]] idea for the colstats/rows lists: recompute
    * (exact ndv, nulls) for every column the PRIOR manifest fully
    * covered, and the row count when the prior manifest was fully
    * counted, so stats-driven planning (CBO sizing, metadata COUNT,
    * manifest-answered aggregates) SURVIVES routine DML instead of
    * silently decaying until the next ANALYZE. Stats-less tables pay
    * NOTHING (no tracked columns, no full count → no extra scan); a
    * stats-bearing table pays one dir-local aggregate per rewrite —
    * write-batch-sized, the same bill reboundDir already pays. Columns
    * physically absent from the fresh dir (evolution edges) drop out,
    * which only un-covers them — the safe direction. */
  private def recountDir(spark: SparkSession, prior: Snapshot,
      dir: String): (Seq[ColStats], Map[String, Long]) = {
    val tracked = manifestColumnStats(prior).keys.toSeq.sorted
    val doRows = prior.dataDirs.nonEmpty &&
      prior.dataDirs.forall(prior.rowCounts.contains)
    if (tracked.isEmpty && !doRows) return (Nil, Map.empty)
    val (rows, cs) = scanDirStats(spark, dir, tracked)
    (cs, if (doRows) Map(dir -> rows) else Map.empty)
  }

  /** Fresh bounds for a REWRITTEN dir, one entry per stats column the
    * incoming manifest tracked: the rewrite already paid a full scan +
    * write of this dir, so a min/max over each tracked column is a
    * marginal column-pruned read of the ONE new dir — without this,
    * every compact/update/merge would permanently degrade its hit dirs
    * to always-scanned and manifest pruning would decay as the table
    * ages. A column the rewrite made un-encodable (dropped, or an
    * unsupported type after a SET) contributes NO entry for this dir —
    * always scanned, the safe direction and the pre-rebound behavior. */
  private def reboundDir(spark: SparkSession, prior: Seq[DirBounds],
      dir: String): Seq[DirBounds] = {
    val cols = prior.map(_.col).distinct
    if (cols.isEmpty) return Nil
    val fields = spark.read.parquet(dir).schema.fieldNames.toSet
    cols.flatMap { c =>
      if (!fields(c)) Nil
      else
        try computeBounds(spark, Seq(dir), c)
        catch { case _: IllegalArgumentException => Nil }
    }
  }

  /** The copy-on-write epilogue every dir-granular rewrite shares: each
    * `fresh` frame lands in its own fresh dir at the table's physical
    * names, and `v` commits `snap` with those dirs appended to `keep`
    * (the dirs carried by reference). Kept dirs keep their bounds —
    * their rows are untouched; fresh dirs get FRESH bounds, column stats
    * and row counts ([[reboundDir]]/[[recountDir]]: their content is
    * new, so recompute, never carry). */
  private def commitRewrite(spark: SparkSession, base: String, v: Int,
      snap: Snapshot, keep: Seq[String],
      fresh: Seq[(String, DataFrame)]): Unit = {
    val stats = fresh.map { case (dir, rows) =>
      toPhysical(snap, rows).write.parquet(dir)
      recountDir(spark, snap, dir)
    }
    val dirs = fresh.map(_._1)
    commit(spark, base, v, snap.copy(dataDirs = keep ++ dirs,
      bounds = snap.bounds.filter(b => keep.contains(b.dir)) ++
        dirs.flatMap(reboundDir(spark, snap.bounds, _)),
      colStats = snap.colStats ++ stats.flatMap(_._1),
      rowCounts = snap.rowCounts ++ stats.flatMap(_._2)))
  }

  /** Row-level `UPDATE WHERE` — COPY-ON-WRITE of only the dirs holding a
    * matching row (the Delta/Iceberg update shape, at this table's
    * dir-level manifest granularity): one probe pass finds the hit dirs,
    * their rows rewrite with each SET column conditionally applied
    * (`when(predicate) set else original`), and head+1 commits with the
    * rewritten dir swapped in, every unhit dir carried by reference, and
    * the delete set UNCHANGED (updates stay merge-on-read-composable:
    * a masked key's row may be rewritten, but stays masked). Cost is
    * O(affected dirs), never a table rewrite — at 100 TB an update
    * touching one ingest day rewrites that day's dirs only. SET columns
    * must already exist (UPDATE never widens the schema), and the
    * predicate/SET expressions see the RAW stored rows. A predicate
    * matching nothing commits nothing and returns the head unchanged
    * (dirsRewritten = 0) — no empty version boundary, unlike
    * [[deleteWhere]], because an update that changed nothing has no
    * delete file to witness it. */
  def updateWhere(spark: SparkSession, base: String,
      predicate: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)]): RewriteReport =
    updateMatching(spark, base, Some(predicate), Nil, sets)

  /** [[updateWhere]] generalized to JOIN-shaped match conditions: each
    * `semis` entry is an uncorrelated `attr IN (subquery)` spec whose
    * (single-column) values LEFT-join onto the rows as a hit marker —
    * the predicate becomes `plain AND every marker` and evaluates
    * row-wise like any other, so both the dir probe and the
    * conditional-SET rewrite work unchanged. The erase-set can be
    * table-sized: it is never collected to the driver. */
  def updateMatching(spark: SparkSession, base: String,
      plain: Option[org.apache.spark.sql.Column],
      semis: Seq[(String, DataFrame)],
      sets: Seq[(String, org.apache.spark.sql.Column)]): RewriteReport = {
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base to update")
    val snap = manifest(spark, base, head)
    val v = claimNext(spark, base, head)
    val fieldNames = tableSchema(spark, snap).fieldNames
    val cols = fieldNames.toSet
    val missing = sets.map(_._1).filterNot(cols)
    require(missing.isEmpty,
      s"UPDATE SET names columns absent from the data: $missing")
    val dupSets = sets.map(_._1).groupBy(identity)
      .collect { case (n, vs) if vs.size > 1 => n }
    require(dupSets.isEmpty,
      s"UPDATE assigns the same column more than once: ${dupSets.toSeq}")
    for ((attr, sub) <- semis) {
      require(cols.contains(attr),
        s"UPDATE IN-subquery references unknown column $attr")
      require(sub.schema.length == 1,
        s"IN subquery must produce exactly one column, got " +
          s"${sub.schema.fieldNames.toSeq}")
    }
    val markCols = semis.indices.map(i => s"_gupd_m$i")
    require(!fieldNames.exists(_.startsWith("_gupd_m")),
      "data schema collides with the UPDATE marker column namespace")
    // distinct sub values left-join at most once per row — no row
    // duplication; a NULL attr or no match leaves the marker NULL,
    // which coalesces to false (IN's three-valued semantics: only
    // TRUE rows update)
    def marked(df: DataFrame): DataFrame =
      semis.zip(markCols).foldLeft(df) { case (acc, ((attr, sub), m)) =>
        val vcol = s"${m}_v"
        acc.join(sub.toDF(vcol).distinct().withColumn(m, lit(true)),
          acc(attr) === col(vcol), "left").drop(vcol)
      }
    val predicate = (plain.toSeq ++
      markCols.map(m => coalesce(col(m), lit(false))))
      .reduceOption(_ && _).getOrElse(lit(true))
    val hit = probeHitDirs(spark, snap, head,
      df => marked(df).where(predicate))
    if (hit.isEmpty) return RewriteReport(head, 0, snap.dataDirs.size)
    val keep = snap.dataDirs.filterNot(hit)
    // SQL UPDATE semantics: EVERY assignment and the predicate evaluate
    // against the OLD row — one simultaneous select over the original
    // frame (the MERGE discipline too), never a sequential
    // withColumn fold where `SET a = b, b = a` fails to swap and a later
    // SET sees an earlier SET's result through the re-evaluated WHERE
    val setMap = sets.toMap
    val src = readData(spark, snap, hit.toSeq.sorted)
    val updated = marked(src).select(fieldNames.toIndexedSeq.map { c =>
      setMap.get(c)
        .map(e => when(predicate, e).otherwise(col(c)))
        .getOrElse(col(c)).as(c)
    }: _*)
    // a SET may have moved the stats column: the fresh dir's bounds
    // recompute inside commitRewrite
    commitRewrite(spark, base, v, snap, keep, Seq(stagingDir(base,
      "update", v) -> enforceChecks(spark, snap, updated, "UPDATE")))
    RewriteReport(v, hit.size, keep.size)
  }

  /** A `WHEN MATCHED` clause of [[mergeIntoActions]]: apply `sets`
    * (update) or drop the row (delete). */
  sealed trait MatchedAction
  final case class MatchedUpdate(
      sets: Seq[(String, org.apache.spark.sql.Column)]) extends MatchedAction
  case object MatchedDelete extends MatchedAction

  /** An uncorrelated `attr IN (subquery)` decorrelated out of a MERGE
    * clause condition (plans/SnapshotDml): the engine left-joins the
    * DISTINCT subquery values onto the named side (target dirs or the
    * merge source — the erase set stays a distributed plan end to end,
    * never an inlined literal list) and the rewritten condition
    * references `marker`: TRUE on membership, NULL→false, which is
    * exactly IN's three-valued "only TRUE applies" semantics. */
  final case class MergeSemiMarker(marker: String, targetSide: Boolean,
      attr: String, values: DataFrame)

  /** MERGE INTO — the full Delta/Iceberg CDC clause surface over this
    * table's dir-level copy-on-write mechanics, and the table's only
    * MERGE implementation. The whole-row upsert is one matched UPDATE
    * assigning every non-key column from `s.<col>`, plus
    * `insertUnmatched`: source rows replace same-key stored rows and
    * append otherwise.
    *
    *   - `matched`: ordered `WHEN MATCHED [AND cond] THEN UPDATE/DELETE`
    *     clauses. SQL first-match semantics: per matched row the FIRST
    *     clause whose condition holds (a NULL condition does not hold)
    *     applies; no clause applying keeps the row unchanged. Conditions
    *     and update expressions see the stored row as `t.<col>` and the
    *     source row as `s.<col>` (the internal join aliases), all
    *     evaluated against the OLD row simultaneously.
    *   - `insertUnmatched`: `WHEN NOT MATCHED THEN INSERT *` — source
    *     rows whose key is absent from the stored rows append whole.
    *     `insertCond` narrows it (`WHEN NOT MATCHED AND cond THEN
    *     INSERT *`): only unmatched rows satisfying the condition
    *     insert (NULL = no, per SQL). The condition sees bare SOURCE
    *     column names — there is no target row to reference. Ordered
    *     conditional INSERT * clauses all insert the identical row, so
    *     SQL's first-match collapses to the OR of their conditions —
    *     which is exactly what callers pass here.
    *   - `bySource`: ordered `WHEN NOT MATCHED BY SOURCE [AND cond]
    *     THEN UPDATE/DELETE` clauses (first-match, like `matched`) over
    *     stored rows whose key is absent from the source. Conditions and
    *     update expressions reference bare stored column names —
    *     target-only, per SQL (there is no source row to see). Scope is
    *     dirs holding a key-absent row satisfying ANY clause condition,
    *     found by one anti-join probe, so a merge whose by-source
    *     predicates narrow to one ingest day still rewrites that day
    *     only; an UNconditioned by-source clause against a small source
    *     rewrites the whole table — that is what the clause MEANS (use
    *     it at 100 TB only with a narrowing condition).
    *
    * Copy-on-write of only the in-scope dirs: the probe finds the dirs
    * holding a matched key, those rewrite into one fresh dir together
    * with the inserted rows, unhit dirs carry over by reference and the
    * delete set is UNCHANGED — O(affected dirs + source); a merge
    * matching nothing is a pure append. Duplicate source keys refuse
    * (which copy wins would be arbitrary). Delete-masked keys stay masked
    * (the erase cascade — a merged-in row cannot resurrect an erased
    * key, and a matched-DELETE of a masked key is a no-op on visibility;
    * fold the deletes with [[compact]] first if re-insertion is
    * intended). The source evaluates more than once (probe + rewrite) —
    * localCheckpoint nondeterministic sources first. Assigning the key
    * column refuses. With `insertUnmatched` the source must carry
    * exactly the stored schema (merge never widens it); matched/by-source-
    * only merges need only the key column. */
  def mergeIntoActions(spark: SparkSession, base: String, keyCol: String,
      source: DataFrame,
      matched: Seq[(Option[org.apache.spark.sql.Column], MatchedAction)],
      insertUnmatched: Boolean,
      bySource: Seq[(Option[org.apache.spark.sql.Column], MatchedAction)] =
        Nil,
      insertCond: Option[org.apache.spark.sql.Column] = None,
      markers: Seq[MergeSemiMarker] = Nil)
      : RewriteReport = {
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base to merge into")
    val snap = manifest(spark, base, head)
    val v = claimNext(spark, base, head)
    require(matched.nonEmpty || insertUnmatched || bySource.nonEmpty,
      "mergeIntoActions needs at least one clause")
    val target = tableSchema(spark, snap)
    val stored = target.fieldNames
    require(source.columns.contains(keyCol),
      s"merge source must carry the key column $keyCol")
    if (insertUnmatched)
      require(source.columns.sorted.toSeq == stored.sorted.toSeq,
        s"merge with INSERT * needs the source schema " +
          s"${source.columns.toSeq.sorted} to equal the stored schema " +
          s"${stored.sorted.toSeq}")
    // an UPDATE clause with no assignments is legal: alignment can pad a
    // SQL `SET x = x` down to nothing, and under first-match semantics
    // the clause still CONSUMES its matched rows (blocking later clauses)
    for ((_, MatchedUpdate(sets)) <- matched ++ bySource) {
      require(!sets.exists(_._1 == keyCol),
        s"assigning the key column $keyCol in a merge is refused — it " +
          "would silently re-key rows past the match probe")
      val unknown = sets.map(_._1).filterNot(stored.contains)
      require(unknown.isEmpty,
        s"merge SET names columns absent from the data: $unknown")
    }
    val keyType = target(target.fieldIndex(keyCol)).dataType
    // align NAMES and TYPES to the stored schema: an int-typed source
    // against a bigint column would otherwise land a mixed-schema dir
    val aligned =
      if (insertUnmatched)
        source.select(target.fields.toIndexedSeq
          .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      else source.select(source.columns.toIndexedSeq.map(c =>
        if (c == keyCol) col(c).cast(keyType).as(c) else col(c)): _*)
    val dup = aligned.groupBy(col(keyCol))
      .count().where(col("count") > 1).limit(1).count()
    require(dup == 0,
      s"merge source holds duplicate $keyCol values — which copy wins " +
        "would be arbitrary; dedupe the source first")
    val srcKeys = aligned.select(col(keyCol)).distinct()
    // decorrelated-IN markers: DISTINCT subquery values left-join onto
    // the named side (distinct ⇒ multiplicity-preserving), marker names
    // must be free on both frames (the KvSink collision rule)
    require(markers.map(_.marker).distinct.size == markers.size,
      "duplicate merge marker names")
    for (m <- markers) {
      require(m.values.columns.length == 1,
        s"merge IN subquery for ${m.attr} must produce exactly one " +
          s"column, got ${m.values.columns.toSeq}")
      graft.operators.Markers.requireFree(source, "merge source",
        m.marker)
      require(!stored.contains(m.marker),
        s"merge marker ${m.marker} collides with a stored column")
      if (m.targetSide) require(stored.contains(m.attr),
        s"merge IN references unknown target column ${m.attr}")
      else require(source.columns.contains(m.attr),
        s"merge IN references unknown source column ${m.attr}")
    }
    val (tgtMk, srcMk) = markers.partition(_.targetSide)
    def attachMk(df: DataFrame, ms: Seq[MergeSemiMarker]): DataFrame =
      ms.foldLeft(df)((d, m) =>
        d.join(m.values.toDF(m.attr).distinct()
          .withColumn(m.marker, lit(true)), Seq(m.attr), "left"))
    val alignedM = attachMk(aligned, srcMk)
    // scope probes: matched clauses (and the INSERT anti-join) need the
    // dirs holding a source key; a by-source delete needs the dirs
    // holding a key-absent row satisfying its condition
    val hitMatched =
      if (matched.nonEmpty || insertUnmatched)
        probeHitDirs(spark, snap, head,
          _.join(broadcast(srcKeys), Seq(keyCol), "left_semi"))
      else Set.empty[String]
    val hitBySource =
      if (bySource.isEmpty) Set.empty[String]
      else {
        // any clause condition puts a key-absent row in scope; an
        // unconditional clause puts every key-absent row in scope
        val anyCond: Option[org.apache.spark.sql.Column] =
          if (bySource.exists(_._1.isEmpty)) None
          else Some(bySource.flatMap(_._1)
            .map(e => coalesce(e, lit(false))).reduce(_ || _))
        probeHitDirs(spark, snap, head, df =>
          anyCond.foldLeft(
            attachMk(df, tgtMk)
              .join(broadcast(srcKeys), Seq(keyCol), "left_anti"))(
            _ where _))
      }
    val rewrite = (if (matched.nonEmpty) hitMatched else Set.empty[String]) ++
      hitBySource
    val keep = snap.dataDirs.filterNot(rewrite)
    if (rewrite.isEmpty && !insertUnmatched)
      return RewriteReport(head, 0, snap.dataDirs.size)
    val rewritten: Option[DataFrame] =
      if (rewrite.isEmpty) None
      else {
        val t0 = readData(spark, snap, rewrite.toSeq.sorted)
        graft.operators.Markers.requireFree(t0, "merge target",
          ("_graft_merge_matched" +: "_graft_merge_matched_keep" +:
            markers.map(_.marker)): _*)
        val t = attachMk(t0, tgtMk)
        val joined = t.alias("t").join(broadcast(alignedM.alias("s")),
          col(s"t.$keyCol") === col(s"s.$keyCol"), "left")
        val matchedF = col(s"s.$keyCol").isNotNull
        // first-match clause guards: applied(i) = matched, no earlier
        // clause's condition held, this clause's holds (NULL = no)
        val holds = matched.map { case (c, _) =>
          c.map(e => coalesce(e, lit(false))).getOrElse(lit(true)) }
        val applied = matched.indices.map { i =>
          holds.take(i).foldLeft(matchedF)((g, h) => g && !h) && holds(i) }
        val deleteApplied = matched.indices
          .filter(i => matched(i)._2 == MatchedDelete)
          .map(applied).reduceOption(_ || _).getOrElse(lit(false))
        val rows = joined.select(stored.toIndexedSeq.map { c =>
          matched.indices.foldRight(col(s"t.$c")) { (i, alt) =>
            matched(i)._2 match {
              case MatchedUpdate(sets) => sets.toMap.get(c)
                .map(e => when(applied(i), e).otherwise(alt))
                .getOrElse(alt)
              case MatchedDelete => alt
            }
          }.as(c)
        } ++ Seq((!deleteApplied).as("_graft_merge_matched_keep"),
          matchedF.as("_graft_merge_matched"))
          // by-source conditions evaluate over this projected frame —
          // target-side IN markers ride along (dropped by the final
          // stored-columns select like the guard columns)
          ++ tgtMk.map(m => col(s"t.${m.marker}").as(m.marker)): _*)
        // by-source clauses over the projected frame: an unmatched row's
        // projected values ARE its original stored values, so the bare
        // target-only conditions and SET expressions evaluate against
        // the old row as SQL requires — same first-match chain as the
        // matched clauses, guarded on NOT matched
        val notMatched = !col("_graft_merge_matched")
        val bsHolds = bySource.map { case (c, _) =>
          c.map(e => coalesce(e, lit(false))).getOrElse(lit(true)) }
        val bsApplied = bySource.indices.map { i =>
          bsHolds.take(i).foldLeft(notMatched)((g, h) => g && !h) &&
            bsHolds(i) }
        val bsDeleteApplied = bySource.indices
          .filter(i => bySource(i)._2 == MatchedDelete)
          .map(bsApplied).reduceOption(_ || _).getOrElse(lit(false))
        val kept = rows.where(
          col("_graft_merge_matched_keep") && !bsDeleteApplied)
        Some(kept.select(stored.toIndexedSeq.map { c =>
          bySource.indices.foldRight(col(c)) { (i, alt) =>
            bySource(i)._2 match {
              case MatchedUpdate(sets) => sets.toMap.get(c)
                .map(e => when(bsApplied(i), e).otherwise(alt))
                .getOrElse(alt)
              case MatchedDelete => alt
            }
          }.as(c)
        }: _*))
      }
    // inserts: source keys absent from the RAW stored rows. The matched
    // probe's hit dirs' keys suffice — it marked every dir holding a
    // source key, so no source key lives in another dir — keeping the
    // cost at O(affected dirs), never a table key scan (a masked key's
    // source row is matched, and stays masked).
    // conditional insert: filter the SOURCE side before the anti-join
    // (cheaper — the probe against stored keys sees fewer rows, and the
    // condition references source columns only, so order is free)
    val insertSrc = insertCond.foldLeft(alignedM)((df, c) =>
      df.where(coalesce(c, lit(false))))
    val inserts: Option[DataFrame] =
      if (!insertUnmatched) None
      else if (hitMatched.isEmpty)
        Some(insertSrc.select(stored.toIndexedSeq.map(col): _*))
      else Some(insertSrc.join(
        readData(spark, snap, hitMatched.toSeq.sorted)
          .select(col(keyCol)).distinct(),
        Seq(keyCol), "left_anti")
        .select(stored.toIndexedSeq.map(col): _*))
    val merged = (rewritten, inserts) match {
      case (Some(r), Some(i)) => r.unionByName(i)
      case (Some(r), None) => r
      case (None, Some(i)) => i
      case (None, None) => throw new IllegalStateException("unreachable")
    }
    commitRewrite(spark, base, v, snap, keep, Seq(stagingDir(base,
      "merge", v) -> enforceChecks(spark, snap, merged, "MERGE")))
    RewriteReport(v, rewrite.size, keep.size)
  }

  /** Change feed between two committed versions (CDF — what a downstream
    * incremental consumer reads instead of diffing two full scans): every
    * row visible at `vTo` but not `vFrom` as `change = 'insert'`, every
    * KEY visible at `vFrom` but masked by `vTo` as `change = 'delete'`
    * (key + null payload: the delete files store keys, not rows). Cost is
    * O(delta dirs) + one `vFrom` read for delete-visibility — never a
    * two-version diff join of full scans.
    *
    * Exactness under this table's key-granular deletes: an appended row
    * whose key an OLDER delete file masks is invisible at `vTo`
    * ([[readVersion]] applies every delete file to every data dir), so
    * inserts anti-join the FULL `vTo` delete set, and deleted keys emit
    * only when they were actually visible at `vFrom` (a delete of a
    * never-present key is not a change). REFUSES a window containing a
    * rewrite ([[compact]]/[[updateWhere]]/overwrite): a rewritten dir is
    * not expressible as append + delete at key granularity, and guessing
    * would silently misreport the feed — re-baseline from a full read
    * instead. */
  def readChanges(spark: SparkSession, base: String, vFrom: Int, vTo: Int,
      keyCol: String): DataFrame = {
    require(vFrom <= vTo, s"change window needs vFrom <= vTo ($vFrom..$vTo)")
    val from = manifest(spark, base, vFrom)
    val to = manifest(spark, base, vTo)
    require(from.dataDirs.forall(to.dataDirs.contains) &&
      from.deleteDirs.forall(to.deleteDirs.contains),
      s"versions $vFrom..$vTo contain a rewrite (compaction/update/" +
        "overwrite) — the window is not expressible as append + delete; " +
        "re-baseline the consumer from a full read")
    val newData = to.dataDirs.filterNot(from.dataDirs.contains)
    val newDels = to.deleteDirs.filterNot(from.deleteDirs.contains)
    val change = "change"
    // STABLE OUTPUT SHAPE regardless of window content: every branch
    // projects to tableSchema(vTo) + change, so a per-commit consumer
    // (SnapshotCdfSource foreachBatch, the graft_changes TVF) that
    // projects payload columns works on append, delete-only, AND empty
    // windows alike, and cross-window unions line up. Delete rows carry
    // the key plus typed-NULL payload columns (the delete files store
    // keys, not rows — the documented shape, now schema-true even when
    // the window holds no insert leg to union against).
    val target = tableSchema(spark, to)
    require(target.fieldNames.contains(keyCol),
      s"key column $keyCol is not in the v$vTo schema")
    require(!target.fieldNames.contains(change),
      s"data schema already carries the staging column $change")
    def shaped(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(target.fields.toIndexedSeq.map { f =>
        if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ col(change): _*)
    }
    val inserted = newData match {
      case Nil => None
      case dirs =>
        val rows = readData(spark, to, dirs)
        val masked =
          if (to.deleteDirs.isEmpty) rows
          else rows.join(broadcast(spark.read.parquet(to.deleteDirs: _*)
            .select(col(keyCol)).distinct()), Seq(keyCol), "left_anti")
        Some(shaped(masked.withColumn(change, lit("insert"))))
    }
    val deleted = newDels match {
      case Nil => None
      case dirs =>
        val keys = spark.read.parquet(dirs: _*)
          .select(col(keyCol)).distinct()
          .join(readVersion(spark, base, vFrom, keyCol).select(col(keyCol)),
            Seq(keyCol), "left_semi")
        Some(shaped(keys.withColumn(change, lit("delete"))))
    }
    (inserted, deleted) match {
      case (Some(i), Some(d)) => i.unionByName(d)
      case (Some(i), None) => i
      case (None, Some(d)) => d
      case (None, None) =>
        // an empty feed still carries the full stable shape
        shaped(readData(spark, to, Seq(to.dataDirs.head))
          .where(lit(false)).withColumn(change, lit("")))
    }
  }

  /** EXACTLY-ONCE STREAMING INGEST — the `foreachBatch` body that turns a
    * micro-batch stream into snapshot versions, closing the write side of
    * the loop whose read side is [[SnapshotCdfSource]] (stream → versions
    * → downstream CDC consumers). Per batch:
    *
    *  1. the batch lands in a write-once epoch dir `base/ingest_<batchId>`
    *     (skipped when its `_SUCCESS` already exists — Spark re-delivers
    *     at most the LAST unacknowledged batch after a restart, and the
    *     marker makes the rewrite a no-op);
    *  2. the commit appends that dir to the head manifest — UNLESS the
    *     head already contains it (the re-delivered epoch was fully
    *     committed before the crash: return the head unchanged, never a
    *     duplicate version of the same rows).
    *
    * Both steps are idempotent on (checkpoint, batchId), so kill/restart
    * with the same checkpoint yields exactly-once TABLE CONTENTS — the
    * same two-legged protocol as [[graft.sources.Sinks]] epoch dirs, but
    * the "marker" here is the table's own commit history. A lost
    * version-number race against a CONCURRENT committer (another stream,
    * a compaction) reconciles by re-reading the winner's head and
    * re-appending on top — the OCC loop below, bounded so a genuinely
    * wedged store fails loudly instead of spinning.
    *
    * `statsCol` threads per-epoch min/max bounds into the manifest so
    * ranged reads ([[readVersionPruned]]) prune ingested epochs exactly
    * like batch-written dirs. At 100 TB sustained ingest decays the table
    * into per-trigger small dirs BY DESIGN — [[optimizeSmallDirs]] is the
    * standing repair (packing carries the delete set and re-bounds), and
    * versions the pack obsoletes age out through [[vacuum]]. Returns the
    * version holding this batch. */
  def ingestBatch(spark: SparkSession, base: String, batch: DataFrame,
      batchId: Long, statsCol: Option[String] = None): Int = {
    require(batchId >= 0, s"negative batchId $batchId")
    val epochDir = s"$base/ingest_$batchId"
    val marker = new Path(epochDir, "_SUCCESS")
    // the CHECK set this epoch's rows were last validated against: null
    // until a validation ran, then compared against each commit
    // attempt's head so a concurrent ADD CHECK landing mid-ingest (or a
    // crash-landed dir re-delivered after one) is re-validated from the
    // dir content before it can commit — the insertInto drift rule
    var validatedChecks: Seq[(String, String)] = null
    if (!fsFor(spark, marker).exists(marker)) {
      // CHECK constraints gate the batch BEFORE its dir lands
      val head0 = headVersion(spark, base)
      var landing = batch
      if (head0 >= 1) {
        val snap0 = manifest(spark, base, head0)
        landing = enforceChecks(spark, snap0, batch,
          s"ingest batch $batchId")
        validatedChecks = snap0.checks
      } else validatedChecks = Nil
      landing.write.mode("overwrite").parquet(epochDir)
    }
    // lazy: a re-delivered already-committed epoch returns from the
    // contains-check below without re-scanning for bounds or counts
    lazy val fresh = statsCol.toSeq
      .flatMap(c => computeBounds(spark, Seq(epochDir), c))
    lazy val epochRows = spark.read.parquet(epochDir).count()
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val head = headVersion(spark, base)
      val prior =
        if (head == 0) Snapshot(Nil, Nil) else manifest(spark, base, head)
      if (prior.dataDirs.contains(epochDir)) return head // already folded
      if (prior.checks.nonEmpty && prior.checks != validatedChecks) {
        // the head's constraint set differs from what this epoch was
        // validated against (a racing ADD CHECK, or a crash-landed dir
        // re-delivered after one): validate the DIR content — the rows
        // about to commit — before folding it in
        enforceChecks(spark, prior, spark.read.parquet(epochDir),
          s"ingest batch $batchId")
        validatedChecks = prior.checks
      }
      try {
        commit(spark, base, head + 1,
          prior.copy(dataDirs = prior.dataDirs :+ epochDir,
            bounds = prior.bounds ++ fresh,
            rowCounts = prior.rowCounts + (epochDir -> epochRows)))
        return head + 1
      } catch {
        case _: CommitConflict if attempt < 20 =>
          // lost the version-number race — fold onto the winner's head
      }
    }
    throw new IllegalStateException(
      s"ingest of batch $batchId could not claim a version after 20 " +
        s"attempts — a committer is racing every retry or $base is wedged")
  }

  /** COPY INTO (`CALL ingest_files`): idempotent batch ingestion of a
    * landing zone's files into the table — list the glob, skip every
    * file the manifest's ledger already carries, stage the NEW files'
    * rows as one dir (schema-aligned by name, CHECK-validated), and
    * commit head+1 with the dir appended and the ledger extended. A
    * re-run of the same CALL (operator retry, scheduler re-fire) adds
    * NOTHING — the dedup key is (path, length, mtime), so at 100 TB a
    * landing zone drains exactly once however many times the loader
    * fires. A path re-appearing with DIFFERENT length/mtime refuses
    * loudly: landing zones are append-only; a mutated file under an
    * ingested path is a pipeline bug, not new data. Cost per run is
    * O(new files) + one manifest commit; the listing is metadata-only.
    * Racing loaders fold through the OCC loop — files the winner
    * already ingested drop out of the loser's fresh set (re-staged if
    * it shrank), never double-load. */
  final case class IngestFilesReport(version: Int, filesAdded: Int,
      filesSkipped: Int)

  def ingestFiles(spark: SparkSession, base: String,
      pattern: String): IngestFilesReport = {
    val gp = new Path(pattern)
    val gfs = fsFor(spark, gp)
    val listed = Option(gfs.globStatus(gp)).getOrElse(Array.empty)
      .filter(_.isFile)
      .map(st => IngestedFile(gfs.makeQualified(st.getPath).toString,
        st.getLen, st.getModificationTime))
      .sortBy(_.path).toSeq
    // staged state carried across OCC retries; re-staged only when the
    // fresh set (a racer ingested some of our files) or the rename map
    // (a racer evolved/normalized names) drifted
    var stagedKey: (Seq[IngestedFile], Map[String, String],
      (Seq[String], Int)) = null
    var stagedDir: String = null // staging parent (ordered slices nest)
    var stagedDirs: Seq[String] = Nil
    var stagedCounts: Map[String, Long] = Map.empty
    var stagedBounds: Seq[DirBounds] = Nil
    var validatedChecks: Seq[(String, String)] = null
    def dropStaged(): Unit = if (stagedDir != null) {
      val p = new Path(stagedDir)
      fsFor(spark, p).delete(p, true): Unit
      stagedDir = null; stagedKey = null
      stagedDirs = Nil; stagedCounts = Map.empty; stagedBounds = Nil
    }
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val head = headVersion(spark, base)
      require(head >= 1,
        s"no committed snapshot under $base — CREATE the table first")
      val snap = manifest(spark, base, head)
      val ledger = snap.ingested.map(f => f.path -> f).toMap
      for (f <- listed; prev <- ledger.get(f.path))
        require(prev.len == f.len && prev.mtime == f.mtime,
          s"landing file ${f.path} changed since it was ingested " +
            s"(${prev.len}b@${prev.mtime} -> ${f.len}b@${f.mtime}) — " +
            "landing zones are append-only; land changed data under a " +
            "new name")
      val fresh = listed.filterNot(f => ledger.contains(f.path))
      if (fresh.isEmpty) {
        dropStaged() // a racer ingested everything we staged
        return IngestFilesReport(head, 0, listed.size)
      }
      if (stagedKey !=
          ((fresh, snap.renames, (snap.writeOrder, snap.writeOrderSlices)))) {
        dropStaged()
        stagedDir = stagingDir(base, "copyin", head + 1)
        val target = tableSchema(spark, snap)
        // align by NAME with casts: a landing file missing a table
        // column fails the analysis loudly (COPY INTO never guesses)
        val aligned = spark.read.parquet(fresh.map(_.path): _*)
          .select(target.fields.toIndexedSeq
            .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
        val alnChecked = enforceChecks(spark, snap, aligned, "COPY INTO")
        validatedChecks = snap.checks
        // a declared write order applies to the BULK path too: the load
        // lands range-sorted bounded slices, so ingested data is born
        // prunable exactly like routed INSERTs
        val ordered =
          if (snap.writeOrder.isEmpty) (Nil, Map.empty[String, Long], Nil)
          else landOrderedDirs(spark, snap, alnChecked, stagedDir)
        if (ordered._1.nonEmpty) {
          stagedDirs = ordered._1
          stagedCounts = ordered._2
          stagedBounds = ordered._3
        } else {
          toPhysical(snap, alnChecked).write.mode("overwrite")
            .parquet(stagedDir)
          stagedDirs = Seq(stagedDir)
          stagedCounts =
            Map(stagedDir -> spark.read.parquet(stagedDir).count())
          stagedBounds = Nil
        }
        stagedKey =
          (fresh, snap.renames, (snap.writeOrder, snap.writeOrderSlices))
      } else if (snap.checks != validatedChecks) {
        // a concurrent ADD CHECK landed since staging — re-validate the
        // staged rows before they can commit (the ingestBatch drift rule)
        enforceChecks(spark, snap, spark.read.parquet(stagedDirs: _*),
          "COPY INTO")
        validatedChecks = snap.checks
      }
      try {
        commit(spark, base, head + 1, snap.copy(
          dataDirs = snap.dataDirs ++ stagedDirs,
          bounds = snap.bounds ++ stagedBounds,
          rowCounts = snap.rowCounts ++ stagedCounts,
          ingested = snap.ingested ++ fresh))
        return IngestFilesReport(head + 1, fresh.size,
          listed.size - fresh.size)
      } catch {
        case _: CommitConflict if attempt < 20 => ()
      }
    }
    throw new IllegalStateException(
      s"COPY INTO $base could not claim a version after 20 attempts — " +
        "a committer is racing every retry or the store is wedged")
  }

  /** Highest committed version under `base` (0 when none): one LIST of
    * the base dir. This is the freshness token production MV/caching
    * layers key on — an O(1)-ish probe against the table's commit
    * counter, where fingerprinting the data would LIST every file. A
    * manifest's presence is enough for head DISCOVERY; its content is
    * still crc-validated at read time by [[manifest]]. */
  def headVersion(spark: SparkSession, base: String): Int = {
    val b = new Path(base)
    val fs = fsFor(spark, b)
    if (!fs.exists(b)) 0
    else fs.listStatus(b).iterator.map(_.getPath.getName)
      .filter(_.startsWith("_MANIFEST_v"))
      .map(_.stripPrefix("_MANIFEST_v"))
      .filter(_.forall(_.isDigit)).map(_.toInt)
      .foldLeft(0)(math.max)
  }

  /** The manifest file path for version `v` — exposed so write-once MV
    * layers can name it as their (tiny) fingerprint input, and callers
    * can read or pin its mtime (the [[versionAsOf]] clock). */
  def manifestFile(base: String, v: Int): String =
    manifestPath(base, v).toString

  final case class HistoryEntry(version: Int, commit_ms: Long,
      n_data_dirs: Int, n_delete_dirs: Int, n_bounds: Int, evolved: Boolean,
      n_rows: Option[Long])

  /** DESCRIBE HISTORY — one row per surviving committed version, oldest
    * first: commit instant (the manifest mtime, [[versionAsOf]]'s clock),
    * dir/bounds counts, whether the version carries an evolved schema,
    * and the [[countRows]] metadata answer where the version has one
    * (NULL otherwise — history never scans to fill it in).
    * METADATA-ONLY: reads each manifest (crc-validated), never a
    * data file — at 100 TB this is a version-count-sized driver list, the
    * same cost profile as [[vacuum]]'s survey phase. Vacuumed versions
    * are absent (bounded history is their contract); a corrupt manifest
    * fails the listing loudly rather than skipping silently. Also served
    * through [[SnapshotCatalog]] as SQL: `FROM <cat>.<tbl>.history`. */
  def history(spark: SparkSession, base: String): Seq[HistoryEntry] = {
    val head = headVersion(spark, base)
    (1 to head).flatMap { v =>
      val p = manifestPath(base, v)
      val fs = fsFor(spark, p)
      if (!fs.exists(p)) None // vacuumed
      else {
        val snap = manifest(spark, base, v)
        val metaCount =
          if (snap.deleteDirs.isEmpty &&
              snap.dataDirs.forall(snap.rowCounts.contains))
            Some(snap.dataDirs.map(snap.rowCounts).sum)
          else None
        Some(HistoryEntry(v, fs.getFileStatus(p).getModificationTime,
          snap.dataDirs.size, snap.deleteDirs.size, snap.bounds.size,
          snap.schema.isDefined, metaCount))
      }
    }
  }

  /** [[history]] as a DataFrame (column names = [[HistoryEntry]] fields). */
  def historyDf(spark: SparkSession, base: String): DataFrame =
    spark.createDataFrame(history(spark, base))

  def readVersion(spark: SparkSession, base: String, v: Int,
      keyCol: String): DataFrame = {
    val snap = manifest(spark, base, v)
    applyDeletes(spark, snap, readData(spark, snap, snap.dataDirs), keyCol)
  }

  /** Scan of version `v` WITHOUT delete masking — the rename-aware
    * projection read ([[readData]]) for delete-free versions whose
    * manifest carries a logical→physical name map: a bare parquet scan
    * of such a version reads pre-rename dirs' mapped columns as NULLs.
    * [[graft.plans.SnapshotDmlRule]] rewrites the SQL catalog's
    * relations through this (no key column needed — there are no
    * deletes to mask). */
  def readVersionData(spark: SparkSession, base: String,
      v: Int): DataFrame = {
    val snap = manifest(spark, base, v)
    require(snap.deleteDirs.isEmpty,
      s"v$v carries delete files — use readVersion(keyCol) so the key " +
        "mask applies")
    readData(spark, snap, snap.dataDirs)
  }

  /** The version committed as of `tsMillis` (epoch millis): the highest
    * version whose manifest's modification time is <= the timestamp —
    * the `TIMESTAMP AS OF` half of time travel, resolved from the same
    * one listing [[headVersion]] does. Commit times are the FILESYSTEM's
    * mtimes (the Delta/Iceberg contract too): a backfilled or
    * clock-skewed store answers with ITS clock, and a timestamp before
    * the first commit is refused loudly — "the table did not exist yet"
    * is not a version. */
  def versionAsOf(spark: SparkSession, base: String,
      tsMillis: Long): Int = {
    val b = new Path(base)
    val fs = fsFor(spark, b)
    require(fs.exists(b), s"no snapshot table under $base")
    val vs = fs.listStatus(b).iterator
      .filter(_.getPath.getName.startsWith("_MANIFEST_v"))
      .map(st => (st.getPath.getName.stripPrefix("_MANIFEST_v"), st))
      .filter(_._1.forall(_.isDigit))
      .map { case (n, st) => (n.toInt, st.getModificationTime) }
      .toSeq
    require(vs.nonEmpty, s"no committed snapshot under $base")
    val hit = vs.filter(_._2 <= tsMillis)
    require(hit.nonEmpty,
      s"timestamp $tsMillis predates the first commit under $base " +
        s"(earliest ${vs.map(_._2).min}) — the table did not exist yet")
    hit.map(_._1).max
  }

  /** `TIMESTAMP AS OF` read: [[versionAsOf]] then [[readVersion]]. */
  def readAsOf(spark: SparkSession, base: String, tsMillis: Long,
      keyCol: String): DataFrame =
    readVersion(spark, base, versionAsOf(spark, base, tsMillis), keyCol)

  /** Report for [[optimizeSmallDirs]]: the committed version (= the prior
    * head when nothing needed packing), dirs folded into the packed dir,
    * dirs carried by reference. */
  final case class OptimizeReport(version: Int, dirsPacked: Int,
      dirsKept: Int)

  /** OPTIMIZE — bin-pack the SMALL-FILE problem away: every data dir
    * whose total bytes fall under `targetBytes` rewrites into ONE packed
    * dir; dirs already at size carry by reference and the delete set is
    * UNCHANGED (rows raw-copy, masked keys stay masked — packing is
    * layout work, not semantics). At 100 TB a table fed by frequent
    * small commits (the CDC/streaming ingest shape) otherwise decays
    * into thousands of tiny dirs whose per-file open/footer costs
    * dominate every scan; OPTIMIZE bounds that decay at O(small bytes)
    * per run, never a table rewrite. Sizing comes from the LISTING
    * (free metadata, dir-count-sized); the packed dir lands at the
    * CURRENT schema (evolution debt folds away, like every rewrite
    * here) and gets fresh bounds per tracked stats column. Packing
    * fewer than two small dirs is a no-op — there is nothing to bin. */
  def optimizeSmallDirs(spark: SparkSession, base: String,
      targetBytes: Long): OptimizeReport = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base to optimize")
    val snap = manifest(spark, base, head)
    val small = snap.dataDirs.filter { d =>
      val p = new Path(d)
      fsFor(spark, p).getContentSummary(p).getLength < targetBytes
    }
    // PARTITION-AWARE packing: dirs bin only WITHIN their recorded
    // transform tuple (packing across partitions would collapse the
    // tuples and degrade every future structural prune to keep-all —
    // the streaming-ingest decay OPTIMIZE exists to fix lands exactly
    // on partitioned tables, so the packed dir must stay prunable).
    // Untupled dirs (pre-partition data, prior rewrite outputs) form
    // their own group, as before. The group key carries the dir's SPEC
    // id too: after spec evolution two dirs can hold byte-equal tuples
    // under DIFFERENT specs (days("2021-01-01") vs identity date), and
    // merging those would stamp one spec's tuple onto the other's rows.
    val groups: Seq[((Option[Seq[String]], Int), Seq[String])] =
      small.groupBy(d => (snap.partVals.get(d),
          snap.dirSpecIds.getOrElse(d, snap.partSpecId))).toSeq
        .filter(_._2.size >= 2)
        .sortBy(_._2.head)
    if (groups.isEmpty) return OptimizeReport(head, 0, snap.dataDirs.size)
    val v = claimNext(spark, base, head)
    val packedAway = groups.flatMap(_._2)
    val keep = snap.dataDirs.filterNot(packedAway.contains)
    val packs = groups.map { case ((tuple, specId), dirs) =>
      // coalesce toward the target: N small dirs should yield
      // ~ceil(bytes / target) output files, not N again
      val groupBytes = dirs.map(d => fsFor(spark, new Path(d))
        .getContentSummary(new Path(d)).getLength).sum
      val outFiles =
        math.max(1L, (groupBytes + targetBytes - 1) / targetBytes)
      (stagingDir(base, "optimize", v), tuple, specId,
        readData(spark, snap, dirs)
          .coalesce(math.min(outFiles, Int.MaxValue.toLong).toInt))
    }
    commitRewrite(spark, base, v, snap.copy(
      // packed dirs INHERIT their group's tuple AND its spec pin —
      // maintenance must never cost the table its structural pruning
      partVals = snap.partVals ++ packs.collect {
        case (d, Some(t), _, _) => d -> t },
      dirSpecIds = snap.dirSpecIds ++ packs.collect {
        case (d, Some(_), id, _) if id != snap.partSpecId => d -> id }),
      keep, packs.map(p => p._1 -> p._4))
    OptimizeReport(v, packedAway.size, keep.size)
  }

  final case class ZorderReport(version: Int, dirsIn: Int, dirsOut: Int)

  /** OPTIMIZE ... ZORDER BY (x, y) — rewrite the head's data into up to
    * `nDirs` dirs, each covering one contiguous slice of the Morton
    * (bit-interleaved) key space of the two columns, with fresh min/max
    * bounds recorded on BOTH ([[Layout.withZ]] is the key; the occupied
    * z range splits linearly, so the slice boundaries are pure column
    * math — deterministic, no sampling). A table laid out by ONE column
    * prunes only on that column; after this rewrite a ranged read boxes
    * on EITHER or both dimensions and [[readVersionPrunedBox]] skips the
    * non-overlapping dirs — the lakehouse ZORDER contract, at manifest
    * granularity here and at parquet row-group granularity inside each
    * dir (files are zv-sorted). Like every rewrite: the delete set FOLDS
    * (the new version carries none), the output lands at the current
    * schema, and the version claim is optimistic — a racing committer
    * fails loudly before data moves. Cost is one full read + write of
    * the table, O(table) BY DESIGN (run it like compaction: scheduled,
    * not per-commit); inputs must lie in [0, 2²¹) per [[Layout.withZ]]'s
    * enforced domain. */
  def optimizeZorder(spark: SparkSession, base: String, keyCol: String,
      xCol: String, yCol: String, nDirs: Int): ZorderReport =
    optimizeZorder(spark, base, keyCol, Seq(xCol, yCol), nDirs)

  /** The n-column form: 2 or 3 interleaved columns ([[Layout.withZ]] /
    * [[Layout.withZ3]] — a 3-D cube predicate prunes on any subset of
    * the three). STRING columns participate through the
    * order-preserving truncated-byte lane ([[graft.operators.Layout
    * .stringLane]] — the md5/text doc-id shape), and their manifest
    * bounds are the honest per-dir string min/max, so a ranged string
    * box prunes exactly like an integer one. */
  def optimizeZorder(spark: SparkSession, base: String, keyCol: String,
      cols: Seq[String], nDirs: Int): ZorderReport = {
    require(cols.size == 2 || cols.size == 3,
      s"zorder interleaves 2 or 3 columns, got ${cols.size}")
    require(nDirs >= 2 && nDirs <= 4096,
      s"nDirs must be in [2, 4096], got $nDirs")
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base to zorder")
    val snap = manifest(spark, base, head)
    val cur = tableSchema(spark, snap)
    for (c <- cols)
      require(cur.fieldNames.contains(c), s"zorder column $c not in schema")
    for (c <- Seq("zv", "zb", "_zs0", "_zs1", "_zs2"))
      require(!cur.fieldNames.contains(c),
        s"schema already carries the staging column $c — refuse rather " +
          "than silently clobber it")
    val v = claimNext(spark, base, head)
    // WRITER-UNIQUE staging: a concurrent optimizer (or a racing replay)
    // must never clobber this writer's in-progress slices — the version
    // claim in commit() arbitrates the winner; a loser's (or a crash's)
    // staging dir is unreferenced garbage, never a live manifest's data
    val outParent = stagingDir(base, "zorder", v)
    val op = new Path(outParent)
    val ofs = fsFor(spark, op)
    val data = applyDeletes(spark, snap,
      readData(spark, snap, snap.dataDirs), keyCol)
    // string columns interleave through their truncated-byte lane; the
    // staging _zsN columns drop right after the Morton key computes
    val (laned, laneNames) = cols.zipWithIndex
      .foldLeft((data, Vector.empty[String])) { case ((df, acc), (c, i)) =>
        if (cur(c).dataType ==
            org.apache.spark.sql.types.StringType)
          (df.withColumn(s"_zs$i", graft.operators.Layout.stringLane(c)),
            acc :+ s"_zs$i")
        else (df, acc :+ c)
      }
    val z = (laneNames match {
      case Seq(x, y) => graft.operators.Layout.withZ(laned, x, y)
      case Seq(x, y, w) => graft.operators.Layout.withZ3(laned, x, y, w)
    }).drop(laneNames.filter(_.startsWith("_zs")): _*)
    val ext = z.agg(org.apache.spark.sql.functions.min(col("zv")),
      org.apache.spark.sql.functions.max(col("zv"))).head
    require(!ext.isNullAt(0),
      s"$base head is empty after delete masking — nothing to zorder")
    val (zmin, zmax) = (ext.getLong(0), ext.getLong(1))
    val span = math.max(1L, zmax - zmin + 1)
    // slice id: linear split of the OCCUPIED z range, DIVIDE-FIRST
    // integer math (a 3-D zv reaches 2⁶² — multiplying by nDirs first
    // would overflow)
    val width = math.max(1L, (span + nDirs - 1) / nDirs)
    val zb = least(
      org.apache.spark.sql.functions.expr(s"(zv - ${zmin}L) div ${width}L")
        .cast("int"),
      lit(nDirs - 1))
    z.withColumn("zb", zb)
      .repartition(nDirs, col("zb"))
      .sortWithinPartitions(col("zb"), col("zv"))
      .drop("zv")
      .write.partitionBy("zb").parquet(outParent)
    val newDirs = ofs.listStatus(op).filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith("zb="))
      .sortBy(p => p.getName.stripPrefix("zb=").toInt)
      .map(_.toString).toSeq
    require(newDirs.nonEmpty, s"zorder write produced no slice dirs")
    // the parent's _SUCCESS attests the whole write; stamp each slice dir
    // so it satisfies commit's per-dir precondition
    for (d <- newDirs)
      fsFor(spark, new Path(d)).create(new Path(d, "_SUCCESS"), true).close()
    val bounds = cols.flatMap(c => computeBounds(spark, newDirs, c))
    // the rewrite just materialized every slice — record counts so the
    // metadata COUNT fast path survives the re-layout (tagged union, the
    // computeBounds shape: one job, dir-count-sized collect)
    val counts = newDirs.map(d => spark.read.parquet(d)
        .select(lit(d).as(dirTag)))
      .reduce(_ unionAll _)
      .groupBy(col(dirTag))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a FULL rewrite: every output dir carries the current logical names,
    // so rename/drop evolution debt (and its ghost-name locks) clears
    // here, and colStats go stale by construction. Everything else —
    // CHECK constraints, the COPY INTO exactly-once ledger, the partition
    // spec and its evolution history — is TABLE state, not layout state,
    // and must survive a re-layout (r19 advice: the bare-Snapshot commit
    // silently un-partitioned tables and re-armed double-loads). The
    // zb-slice dirs legitimately carry no partition tuple (wide: always
    // kept by pruning), so partVals/dirSpecIds clear while the spec
    // itself rides on for future routed INSERTs.
    commit(spark, base, v,
      snap.copy(dataDirs = newDirs, deleteDirs = Nil, bounds = bounds,
        rowCounts = counts, renames = Map.empty, dropped = Nil,
        colStats = Nil, partVals = Map.empty, dirSpecIds = Map.empty))
    ZorderReport(v, snap.dataDirs.size, newDirs.size)
  }

  /** The table schema as of `snap`: the manifest-carried DDL when the
    * version was evolved, otherwise the physical schema of its data (the
    * pre-evolution contract, where all dirs agree). */
  def tableSchema(spark: SparkSession, snap: Snapshot)
      : org.apache.spark.sql.types.StructType =
    snap.schema
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      .getOrElse(spark.read.parquet(snap.dataDirs.head).schema)

  /** SCHEMA EVOLUTION — ADD COLUMNS: commit head+1 whose manifest carries
    * the widened schema and whose data/delete/bounds are UNCHANGED — a
    * metadata-only commit, O(manifest) like every commit here, never a
    * table rewrite (the only viable evolution story at 100 TB). Dirs
    * written before the evolution read as typed NULLs for the new
    * columns; dirs appended after it may carry them; rewrites
    * ([[compact]]/[[updateWhere]]/[[mergeIntoActions]]) normalize their
    * rewritten dir to the current schema, so evolution debt folds away
    * incrementally with ordinary maintenance. Time travel is
    * SCHEMA-VERSIONED: [[readVersion]] of a pre-evolution version sees
    * the old shape, because the schema lives in that version's manifest.
    * RENAME and DROP are likewise metadata-only ([[evolveRenameColumn]] /
    * [[evolveDropColumn]] — name-mapped reads), as is LOSSLESS TYPE
    * WIDENING ([[evolveWidenColumnType]] — cast-at-read); lossy type
    * changes are a data rewrite by definition in a format whose files
    * are immutable and are refused rather than pretended. */
  def evolveAddColumns(spark: SparkSession, base: String,
      addDdl: String): Int = {
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base to evolve")
    val snap = manifest(spark, base, head)
    val cur = tableSchema(spark, snap)
    val add = org.apache.spark.sql.types.StructType.fromDDL(addDdl)
    require(add.nonEmpty, "evolveAddColumns needs at least one column")
    val dup = add.fieldNames.filter(cur.fieldNames.contains)
    require(dup.isEmpty,
      s"columns already exist: ${dup.toSeq} — evolution only ADDs")
    val ghosts = add.fieldNames.filter(physicalGhosts(snap))
    require(ghosts.isEmpty,
      s"columns ${ghosts.toSeq} are still PHYSICAL names in existing " +
        "data files (dropped or renamed-away) — adding them back would " +
        "resurrect stale bytes; rewrite the table (optimizeZorder) " +
        "first or pick another name")
    val widened = org.apache.spark.sql.types.StructType(cur ++ add)
    val v = head + 1
    commit(spark, base, v, snap.copy(schema = Some(widened.toDDL)))
    v
  }

  /** Physical column names that no longer exist in the logical schema
    * but may still exist in data files — reusing one as a new logical
    * name would make [[projectTo]] silently serve the stale bytes. */
  private def physicalGhosts(snap: Snapshot): Set[String] =
    snap.renames.values.toSet ++ snap.dropped

  /** Rename a logical-named frame to the table's PHYSICAL column names
    * before writing a data dir — the Delta-style column-mapping write
    * contract: a column's physical name is FROZEN at first appearance
    * (rename only moves the logical name), so every dir carries the same
    * physical names and [[projectTo]]'s single logical→physical map stays
    * sufficient under repeated renames and un-renames. Partial writers
    * (inserts, copy-on-write rewrites, compaction, bin-packing) go
    * through this; the one full rewrite ([[optimizeZorder]]) instead
    * lands logical names and CLEARS the map — normalization is only
    * sound when every dir rewrites at once. */
  private[sources] def toPhysical(snap: Snapshot, df: DataFrame): DataFrame =
    if (snap.renames.isEmpty) df
    else df.select(df.columns.toIndexedSeq
      .map(c => col(c).as(snap.renames.getOrElse(c, c))): _*)

  /** SCHEMA EVOLUTION — RENAME COLUMN, metadata-only like ADD: commit
    * head+1 whose manifest carries the renamed schema plus a
    * logical→physical name mapping. The PHYSICAL name is FROZEN at the
    * column's first appearance (the Delta column-mapping contract):
    * rename only moves the logical name, and every partial writer
    * ([[toPhysical]]) keeps landing the stored physical name — so one
    * flat map suffices under repeated renames, and renaming BACK to the
    * physical name is the sanctioned un-rename (the mapping just
    * drops). No data moves; time travel reads each version under its
    * own names; the one FULL rewrite ([[optimizeZorder]]) lands logical
    * names and clears the map. Renaming TO a name that is still
    * physical in old files (dropped or renamed-away) is refused — it
    * would resurrect stale bytes. Refused while merge-on-read deletes
    * are pending: the delete key files reference column names —
    * compact first. */
  def evolveRenameColumn(spark: SparkSession, base: String,
      from: String, to: String): Int = {
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base to evolve")
    val snap = manifest(spark, base, head)
    require(snap.deleteDirs.isEmpty,
      "rename with pending merge-on-read delete files is refused — the " +
        "key files reference column names; compact() first")
    val cur = tableSchema(spark, snap)
    require(cur.fieldNames.contains(from),
      s"no column $from in ${cur.fieldNames.toSeq}")
    require(!cur.fieldNames.contains(to),
      s"column $to already exists — rename cannot overwrite")
    val refChecks = checksReferencing(spark, snap, from)
    require(refChecks.isEmpty,
      s"column $from is referenced by CHECK constraint(s) $refChecks — " +
        "renaming it would orphan their expressions; drop them first")
    require(!snap.partSpec.exists(_.col == from),
      s"column $from is a partition-transform source " +
        s"(${snap.partSpec.filter(_.col == from).mkString(", ")}) — " +
        "renaming it would orphan the table's partition spec")
    require(!snap.writeOrder.contains(from),
      s"column $from is a declared write-order column — renaming it " +
        "would orphan the table's WRITE ORDERED BY; clear the order " +
        "first")
    require(to.nonEmpty, "the new column name is empty")
    val physical = snap.renames.getOrElse(from, from)
    // renaming BACK to the column's own stored physical name is an
    // un-rename (the mapping just drops) — only OTHER ghost names would
    // resurrect stale bytes
    require(to == physical || !physicalGhosts(snap).contains(to),
      s"'$to' is still a PHYSICAL name in existing data files (dropped " +
        "or renamed-away) — renaming onto it would resurrect stale " +
        "bytes; rewrite the table (optimizeZorder) first")
    val renamed = org.apache.spark.sql.types.StructType(
      cur.map(f => if (f.name == from) f.copy(name = to) else f))
    // a rename BACK to the stored physical name needs no mapping at all
    val newRenames =
      if (to == physical) snap.renames - from
      else (snap.renames - from) + (to -> physical)
    val v = head + 1
    commit(spark, base, v,
      snap.copy(schema = Some(renamed.toDDL), renames = newRenames))
    v
  }

  /** SCHEMA EVOLUTION — DROP COLUMN, metadata-only: commit head+1 whose
    * manifest schema omits the column; data files are untouched (their
    * bytes simply stop being projected) and the column's PHYSICAL name
    * is recorded in `dropped` so a later ADD/RENAME cannot reuse it and
    * resurrect the stale bytes. Time travel still reads pre-drop
    * versions with the column — the manifest-carried schema is
    * per-version, the Iceberg/Delta contract. */
  def evolveDropColumn(spark: SparkSession, base: String,
      name: String): Int = {
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base to evolve")
    val snap = manifest(spark, base, head)
    require(snap.deleteDirs.isEmpty,
      "drop with pending merge-on-read delete files is refused — the " +
        "key files reference column names; compact() first")
    val cur = tableSchema(spark, snap)
    require(cur.fieldNames.contains(name),
      s"no column $name in ${cur.fieldNames.toSeq}")
    require(cur.size > 1, "cannot drop the last column")
    val refChecks = checksReferencing(spark, snap, name)
    require(refChecks.isEmpty,
      s"column $name is referenced by CHECK constraint(s) $refChecks — " +
        "dropping it would orphan their expressions; drop them first")
    require(!snap.partSpec.exists(_.col == name),
      s"column $name is a partition-transform source " +
        s"(${snap.partSpec.filter(_.col == name).mkString(", ")}) — " +
        "dropping it would orphan the table's partition spec")
    require(!snap.writeOrder.contains(name),
      s"column $name is a declared write-order column — dropping it " +
        "would orphan the table's WRITE ORDERED BY; clear the order " +
        "first")
    val physical = snap.renames.getOrElse(name, name)
    val narrowed = org.apache.spark.sql.types.StructType(
      cur.filterNot(_.name == name))
    val v = head + 1
    commit(spark, base, v, snap.copy(schema = Some(narrowed.toDDL),
      renames = snap.renames - name,
      dropped = snap.dropped :+ physical))
    v
  }

  /** SCHEMA EVOLUTION — WIDEN COLUMN TYPE, metadata-only like ADD/RENAME:
    * commit head+1 whose manifest carries the widened schema; data,
    * deletes, and bounds are untouched. Pre-widening dirs read through
    * [[projectTo]]'s cast-to-target boundary (the same machinery that
    * already serves added/renamed columns), and every partial writer
    * aligns its rows to the CURRENT schema, so old int dirs and new
    * bigint dirs coexist under one manifest and fold away with ordinary
    * maintenance — the Delta/Iceberg type-widening contract, and the
    * only viable story at 100 TB (a type change as a rewrite would be a
    * full-table pass). Only LOSSLESS widenings are allowed
    * (byte→short/int/long, short→int/long, int→long, float→double);
    * narrowing or cross-family changes are refused — a cast that can
    * truncate must never hide inside a read path. Integral bounds
    * entries survive unchanged (every integral width shares the "long"
    * bounds encoding). Refused while merge-on-read delete files are
    * pending: the key files carry the OLD type — compact first. */
  def evolveWidenColumnType(spark: SparkSession, base: String,
      name: String, to: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    val head = headVersion(spark, base)
    require(head >= 1, s"no committed snapshot under $base to evolve")
    val snap = manifest(spark, base, head)
    require(snap.deleteDirs.isEmpty,
      "type widening with pending merge-on-read delete files is refused " +
        "— the key files carry the old type; compact() first")
    val cur = tableSchema(spark, snap)
    require(cur.fieldNames.contains(name),
      s"no column $name in ${cur.fieldNames.toSeq}")
    val from = cur(cur.fieldIndex(name)).dataType
    val widens: Boolean = (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(widens,
      s"ALTER COLUMN TYPE supports lossless widenings only (byte→short/" +
        s"int/long, short→int/long, int→long, float→double); " +
        s"${from.catalogString} → ${to.catalogString} is not one — a " +
        "narrowing or cross-family change is a data rewrite by " +
        "definition in an immutable-file format")
    // a bucket transform hashes the COLUMN TYPE: widening int→long
    // re-renders every future tuple under a different hash while old
    // dirs keep int-hashed tuples — the one evolution that silently
    // corrupts structural pruning. Monotone transforms render the same
    // string across integral widths (decimal identity) so they widen
    // safely. The guard ranges over every LIVE spec: a retired spec
    // still pinned by tuple-carrying dirs would prune those dirs with
    // literals re-hashed at the widened type — silently wrong — so it
    // locks the column exactly like the current spec does.
    require(!liveSpecFields(snap)
      .exists(f => f.fn == "bucket" && f.col == name),
      s"column $name is a bucket-partition source (current or still-" +
        "pinned retired spec) — widening its type changes the bucket " +
        "hash; rewrite the table under a new spec instead")
    val widened = StructType(cur.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    val v = head + 1
    commit(spark, base, v, snap.copy(schema = Some(widened.toDDL)))
    v
  }

  /** PARTITION SPEC EVOLUTION, metadata-only (the Iceberg contract): commit
    * head+1 whose CURRENT spec is `newSpec` under a fresh spec id. No byte
    * of data moves — every tuple-carrying dir written under the outgoing
    * spec is PINNED to that spec's id (recorded in `partHist`), so reads
    * keep pruning old dirs under the transforms that rendered their
    * tuples while writes route new rows under the new spec. `newSpec`
    * may be empty (evolve to unpartitioned: routing stops, pinned dirs
    * keep pruning). Retired specs nothing pins anymore are garbage-
    * collected from the history at the next evolution; ordinary
    * maintenance (OPTIMIZE within a tuple, rewrites dropping tuples,
    * vacuum) retires pins organically. Validated against the CURRENT
    * logical schema, which requires a manifest-carried schema (CREATE
    * TABLE tables have one; bare commit-API tables must evolve a schema
    * in first). Identical spec is an idempotent no-op. */
  def alterPartitionSpec(spark: SparkSession, base: String,
      newSpec: Seq[PartitionSpec.PartField]): Int = {
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val head = headVersion(spark, base)
      require(head >= 1, s"no committed snapshot under $base")
      val snap = manifest(spark, base, head)
      if (newSpec == snap.partSpec) return head // idempotent
      val schema = snap.schema.map(
        org.apache.spark.sql.types.StructType.fromDDL).getOrElse(
        throw new IllegalArgumentException(
          "partition spec evolution needs a manifest-carried schema to " +
            "validate the transforms against — this table has none"))
      newSpec.foreach(PartitionSpec.validate(_, schema))
      require(newSpec.isEmpty || snap.writeOrder.isEmpty,
        "PARTITIONED BY on a WRITE ORDERED table is refused — the " +
          "write order already owns the landing layout; clear it first")
      // pin every tuple-carrying dir not already pinned to the OUTGOING
      // spec, archive that spec, then GC history entries nothing pins
      val oldId = snap.partSpecId
      val pins = snap.dirSpecIds ++ snap.partVals.keysIterator
        .filterNot(snap.dirSpecIds.contains).map(_ -> oldId).toMap
      val hist0 =
        if (snap.partSpec.isEmpty) snap.partHist
        else snap.partHist + (oldId -> snap.partSpec)
      val liveIds = pins.valuesIterator.toSet
      val next = snap.copy(
        partSpec = newSpec,
        partSpecId = (Seq(oldId) ++ snap.partHist.keys).max + 1,
        partHist = hist0.filter { case (id, _) => liveIds.contains(id) },
        dirSpecIds = pins)
      try {
        commit(spark, base, head + 1, next)
        return head + 1
      } catch {
        case _: CommitConflict if attempt < 20 => ()
      }
    }
    throw new IllegalStateException(
      s"alterPartitionSpec lost the commit race 20 times under $base")
  }

  /** WRITE ORDERED BY — declare (or clear, with `cols = Nil`) the
    * table's landing sort order, METADATA-ONLY (one manifest commit,
    * existing dirs unchanged — they carry no new bounds and stay
    * wide-never-wrong). Every later INSERT range-slices its batch on
    * the order columns into `slices` dirs, sorts within each, and
    * records per-dir bounds — so a range probe prunes structurally
    * with NO maintenance CALL ever run, and maintenance can read the
    * declared order from `.detail` before deciding a re-layout is
    * needed. Mutually exclusive with hidden partitioning (both claim
    * the landing layout); refused on rename-evolved tables (bounds
    * record LOGICAL names, landed files carry PHYSICAL ones — equal
    * only while no rename mapping exists; zorder's full rewrite clears
    * the mapping). */
  /** Shared declaration-time validation (CALL set_write_order and the
    * CREATE-time TBLPROPERTIES path): distinct bounds-orderable columns
    * from the schema, a sane slice count. */
  private[sources] def validateWriteOrder(cols: Seq[String], slices: Int,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    require(cols.distinct.size == cols.size,
      s"duplicate write-order columns: $cols")
    require(slices >= 1 && slices <= 4096,
      s"write-order slice count must be in [1, 4096], got $slices")
    for (c <- cols) {
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"write-order column $c is not in the table schema " +
            schema.fieldNames.toSeq))
      boundsTyp(f.dataType): Unit // unorderable types refuse loudly
    }
  }

  def alterWriteOrder(spark: SparkSession, base: String,
      cols: Seq[String], slices: Int): Int = {
    require(cols.nonEmpty || slices == 0,
      "clearing the write order takes zero slices")
    require(cols.distinct.size == cols.size,
      s"duplicate write-order columns: $cols")
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val head = headVersion(spark, base)
      require(head >= 1, s"no committed snapshot under $base")
      val snap = manifest(spark, base, head)
      if (snap.writeOrder == cols && snap.writeOrderSlices == slices)
        return head // idempotent
      if (cols.nonEmpty) {
        require(snap.partSpec.isEmpty,
          "WRITE ORDERED BY on a PARTITIONED BY table is refused — " +
            "the partition spec already owns the landing layout")
        require(snap.renames.isEmpty,
          "WRITE ORDERED BY on a rename-evolved table is refused — " +
            "bounds record logical names but landed files carry " +
            "physical ones; zorder (a full rewrite) clears the mapping")
        val schema = snap.schema.map(
          org.apache.spark.sql.types.StructType.fromDDL).getOrElse(
          throw new IllegalArgumentException(
            "WRITE ORDERED BY needs a manifest-carried schema to " +
              "validate the order columns against — this table has none"))
        validateWriteOrder(cols, slices, schema)
      }
      try {
        commit(spark, base, head + 1, snap.copy(writeOrder = cols,
          writeOrderSlices = if (cols.isEmpty) 0 else slices))
        return head + 1
      } catch {
        case _: CommitConflict if attempt < 20 => ()
      }
    }
    throw new IllegalStateException(
      s"alterWriteOrder lost the commit race 20 times under $base")
  }

  /** Project `df` to exactly `target`: columns the frame lacks read as
    * typed NULLs (rows written before an [[evolveAddColumns]]), columns
    * it has beyond the target are dropped (a later schema seen through an
    * older version's manifest — time travel under the version's OWN
    * schema). Same-name columns keep their values, cast to the target
    * type; a target name absent physically falls back to its
    * logical→physical mapping ([[evolveRenameColumn]] — physical names
    * are frozen, so the map covers every dir uniformly). */
  private def projectTo(target: org.apache.spark.sql.types.StructType,
      renames: Map[String, String], df: DataFrame): DataFrame = {
    val have = df.schema.fieldNames.toSet
    df.select(target.fields.toIndexedSeq.map { f =>
      val src =
        if (have(f.name)) Some(f.name)
        else renames.get(f.name).filter(have)
      src.map(s => col(s).cast(f.dataType).as(f.name))
        .getOrElse(lit(null).cast(f.dataType).as(f.name))
    }: _*)
  }

  /** Scan of `dirs` under `snap`'s schema. Fast path (no evolution ever,
    * or every dir already at the current schema): ONE multi-path parquet
    * scan, exactly the pre-evolution plan. Evolved path: dirs group by
    * their physical schema (one driver-side footer read per dir —
    * dir-count-sized, the same manifest-granularity contract as
    * [[probeHitDirs]]) and each group scans once, projected to the
    * manifest schema — so a table with 10⁴ dirs and 2 historical schemas
    * plans 2 scans, not 10⁴. */
  private def readData(spark: SparkSession, snap: Snapshot,
      dirs: Seq[String]): DataFrame = snap.schema match {
    case None => spark.read.parquet(dirs: _*)
    case Some(_) =>
      val target = tableSchema(spark, snap)
      val bySchema = dirs.groupBy(d => spark.read.parquet(d).schema)
      bySchema.toSeq.map { case (sch, ds) =>
        val df = spark.read.parquet(ds: _*)
        if (sch == target) df else projectTo(target, snap.renames, df)
      }.reduce(_ unionByName _)
  }

  private def applyDeletes(spark: SparkSession, snap: Snapshot,
      data: DataFrame, keyCol: String): DataFrame =
    if (snap.deleteDirs.isEmpty) data
    else {
      val dels = spark.read.parquet(snap.deleteDirs: _*)
        .select(col(keyCol)).distinct()
      data.join(broadcast(dels), Seq(keyCol), "left_anti")
    }

  /** The bounds `typ` token for a stats column's Spark type — the closed
    * set [[DirBounds]] documents. Integral types compare numerically;
    * strings and ISO-rendered dates compare lexically. Anything else
    * (doubles, decimals, timestamps) is refused loudly rather than given
    * a comparison whose string encoding could silently disagree with the
    * value order. */
  private def boundsTyp(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => "long"
      case DateType => "date"
      case StringType => "string"
      case other => throw new IllegalArgumentException(
        s"dir bounds support long/date/string stats columns only, " +
          s"got ${other.catalogString} — widen boundsTyp deliberately " +
          "(the encoding must preserve the value order) or pick another " +
          "column")
    }
  }

  /** Lexicographic compare of the UTF-8 byte sequences — the order
    * Spark's UTF8String used when it computed the stored min/max. Java
    * String ordering (UTF-16 code units) diverges for supplementary-plane
    * characters (4-byte UTF-8 sorts after every 3-byte BMP char, while
    * their UTF-16 surrogates sort below U+E000), so comparing bounds with
    * `<` on String could wrongly prune a dir that holds matching rows. */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private[sources] def boundsOverlap(typ: String, min: String, max: String,
      lo: String, hi: String): Boolean = typ match {
    case "long" => !(max.toLong < lo.toLong || min.toLong > hi.toLong)
    case _ => !(utf8Compare(max, lo) < 0 || utf8Compare(min, hi) > 0)
  }

  /** Data dirs of `snap` whose recorded bounds intersect every
    * `(col, lo, hi)` box edge — the dir-pruning core shared by the API
    * read ([[readVersionPrunedBox]]) and the SQL path's predicate-driven
    * pruning ([[graft.plans.SnapshotDmlRule]]). A dir with no bounds
    * entry for a column is always kept (the safe direction). */
  private[graft] def pruneDirs(snap: Snapshot,
      box: Seq[(String, String, String)]): Seq[String] =
    snap.dataDirs.filter { d =>
      box.forall { case (statsCol, lo, hi) =>
        snap.bounds.find(b => b.dir == d && b.col == statsCol)
          .forall(b => boundsOverlap(b.typ, b.min, b.max, lo, hi))
      }
    }

  /** Per-dir min/max of `statsCol` across `dataDirs`, as ONE tagged-union
    * job (dir-count-sized collect — manifest granularity, same contract as
    * [[probeHitDirs]]). A dir whose column is entirely null gets NO entry:
    * a range predicate can never match null, but "no entry = always kept"
    * is the direction that can only err wide. */
  /** The WRITE ORDERED BY landing core (shared by SQL INSERT —
    * SnapshotCatalog.landOrdered — and COPY INTO): land `df` as up to
    * `snap.writeOrderSlices` range-sorted slice dirs under `parent`,
    * each stamped `_SUCCESS`, with footer-exact row counts and per-dir
    * BOUNDS on the order columns computed in the same call — freshly
    * landed data is born range-prunable. One executor-parallel job
    * lands the bytes: repartitionByRange + a partition-id staging
    * column written via partitionBy (the id is task-constant, so
    * partitionBy adds no second shuffle; toPhysical is a projection and
    * preserves both the partitioning and the intra-partition sort).
    * Empty result = empty batch (callers fall back to one plain dir).
    * [[alterWriteOrder]] refused rename/drop of order columns, so their
    * physical names equal their logical ones and computeBounds/pruning
    * agree on naming. */
  def landOrderedDirs(spark: SparkSession, snap: Snapshot,
      df: DataFrame, parent: String)
      : (Seq[String], Map[String, Long], Seq[DirBounds]) = {
    import org.apache.spark.sql.functions.spark_partition_id
    val cols = snap.writeOrder
    require(cols.nonEmpty && snap.writeOrderSlices >= 1,
      "landOrderedDirs needs a declared write order")
    graft.operators.Markers.requireFree(df, "ordered landing batch",
      "_gslice")
    val ranged = df
      .repartitionByRange(snap.writeOrderSlices, cols.map(col): _*)
    // sort by (_gslice +: order cols), not the order cols alone:
    // FileFormatWriter requires ordering on the partitionBy column, and a
    // child ordered only by the order columns makes it plan its OWN
    // SortExec above this one — were that sort unstable, the intra-slice
    // order in the files would be lost (bounds/pruning stay correct; only
    // row-group locality degrades). _gslice is task-constant, so the
    // prefixed sort is the same local sort AND already satisfies the
    // writer's required ordering — no second sort is planned.
    toPhysical(snap, ranged)
      .withColumn("_gslice", spark_partition_id())
      .sortWithinPartitions(col("_gslice") +: cols.map(col): _*)
      .write.partitionBy("_gslice").mode("overwrite").parquet(parent)
    val pp = new Path(parent)
    val fs = fsFor(spark, pp)
    val leaves = fs.listStatus(pp).toSeq.filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith("_gslice="))
      .sortBy(p => p.getName.stripPrefix("_gslice=").toInt)
    if (leaves.isEmpty) return (Nil, Map.empty, Nil)
    for (leaf <- leaves)
      fs.create(new Path(leaf, "_SUCCESS"), true).close()
    def footerRows(leaf: Path): Long =
      fs.listStatus(leaf).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet")).map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(st.getPath, spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    val dirs = leaves.map(_.toString)
    val counts = leaves.map(p => p.toString -> footerRows(p)).toMap
    val bounds = cols.flatMap(c => computeBounds(spark, dirs, c))
    (dirs, counts, bounds)
  }

  def computeBounds(spark: SparkSession, dataDirs: Seq[String],
      statsCol: String): Seq[DirBounds] = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    require(dataDirs.nonEmpty, "bounds need at least one data dir")
    val typ = boundsTyp(
      spark.read.parquet(dataDirs.head).schema(statsCol).dataType)
    val tagged = dataDirs
      .map(d => spark.read.parquet(d)
        .select(col(statsCol), lit(d).as(dirTag)))
      .reduce(_ unionAll _)
    tagged.groupBy(col(dirTag))
      .agg(fmin(col(statsCol)).cast("string").as("mn"),
        fmax(col(statsCol)).cast("string").as("mx"))
      .collect().toSeq
      .filter(r => !r.isNullAt(1))
      .map(r => DirBounds(r.getString(0), statsCol, typ,
        r.getString(1), r.getString(2)))
  }

  /** Report for a bounds-pruned read: dirs actually scanned vs the
    * version's total — the pin a caller asserts pruning on. */
  final case class PruneReport(dirsKept: Int, dirsTotal: Int)

  /** Read version `v` scanning ONLY the data dirs whose recorded bounds on
    * `statsCol` intersect [lo, hi] (encoded per the stored `typ`) — the
    * manifest-level half of file skipping: at 100 TB a date-ranged query
    * over a day-partitioned snapshot launches tasks for the matching days'
    * dirs, not the table. Dirs with no bounds entry for `statsCol` are
    * always scanned (pre-bounds manifests, all-null dirs, dirs whose
    * rewrite could not re-encode the column: the safe direction —
    * rewritten dirs otherwise get fresh bounds, see [[reboundDir]]).
    * Delete masking still applies — deletes are key-granular and
    * independent of which dirs survive.
    *
    * CONTRACT: pruning is dir-granular, so the returned frame still holds
    * out-of-range rows from kept dirs — the caller applies the actual
    * predicate on top, exactly like parquet row-group stats under a file
    * scan. */
  def readVersionPruned(spark: SparkSession, base: String, v: Int,
      keyCol: String, statsCol: String, lo: String,
      hi: String): (DataFrame, PruneReport) =
    readVersionPrunedBox(spark, base, v, keyCol, Seq((statsCol, lo, hi)))

  /** Multi-dimension bounds pruning — the read a Z-ORDERED table
    * ([[optimizeZorder]]) exists to serve: a dir survives only when its
    * recorded bounds overlap EVERY `(statsCol, lo, hi)` box edge (a box
    * is a conjunction; any non-overlapping dimension alone proves the
    * dir empty for the query). Same contract as [[readVersionPruned]]:
    * missing bounds scan (the safe direction), deletes still mask, and
    * the caller applies the real predicate on top of the kept dirs. */
  def readVersionPrunedBox(spark: SparkSession, base: String, v: Int,
      keyCol: String, box: Seq[(String, String, String)])
      : (DataFrame, PruneReport) = {
    require(box.nonEmpty, "pruned read needs at least one (col, lo, hi)")
    val snap = manifest(spark, base, v)
    val kept = pruneDirs(snap, box)
    val data =
      if (kept.isEmpty)
        // every dir pruned: an empty, schema-correct frame (no parquet
        // read of zero paths)
        readData(spark, snap, Seq(snap.dataDirs.head)).where(lit(false))
      else readData(spark, snap, kept)
    (applyDeletes(spark, snap, data, keyCol),
      PruneReport(kept.size, snap.dataDirs.size))
  }
}
