package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL catalog over [[SnapshotTable]] bases — the lakehouse SQL surface:
  *
  * {{{
  *   spark.sql.catalog.snap          = graft.sources.SnapshotCatalog
  *   spark.sql.catalog.snap.root     = /warehouse/snapshots
  *   spark.sql.catalog.snap.key.tbl  = id     // tbl's row key (enables DML)
  *
  *   SELECT ... FROM snap.`events` VERSION AS OF 3
  *   SELECT ... FROM snap.`events` TIMESTAMP AS OF '2026-08-01 00:00:00'
  *   CREATE TABLE snap.t (k BIGINT, v STRING)      -- commits v1 (empty)
  *   CREATE TABLE snap.t AS SELECT ...             -- v1 empty + v2 data
  *   INSERT INTO / INSERT OVERWRITE snap.t ...     -- one version per write
  *   DELETE FROM snap.t WHERE ...                  -- merge-on-read (O(keys))
  *   UPDATE snap.t SET ... WHERE / MERGE INTO snap.t  -- via SnapshotDmlRule
  *   ALTER TABLE snap.t ADD COLUMNS / RENAME COLUMN / DROP COLUMN
  *   DROP TABLE snap.t
  *   INSERT INTO snap.t.branch_wip ...   -- branch-addressed write (WAP):
  *     -- one BRANCH version per write; audit via VERSION AS OF 'wip',
  *     -- publish via CALL snap.system.fast_forward('t', 'wip')
  * }}}
  *
  * Each table name is a child dir of `root` holding a [[SnapshotTable]];
  * a load resolves the requested version's manifest (head when
  * unqualified, [[SnapshotTable.versionAsOf]] for timestamps — micros from
  * the parser, mtime semantics from the store) and serves it as Spark's
  * own parquet table over exactly that version's data dirs — so every
  * parquet planner feature (pushdown, pruning, vectorization, row-group
  * stats) applies unchanged, and the manifest-carried schema rides along
  * as the user-specified schema (pre-evolution dirs read the evolved
  * columns as NULLs; time travel keeps each version's OWN shape).
  *
  * ROW-LEVEL DML needs the table's key column declared
  * (`spark.sql.catalog.<cat>.key.<tbl>` — the snapshot format's deletes
  * are key files, so SQL DELETE must know which column keys rows). With a
  * key declared, a version carrying merge-on-read delete files is ALSO
  * readable through SQL: [[graft.plans.SnapshotDmlRule]] rewrites the
  * relation into the same scan-minus-broadcast-anti-join plan the API
  * read ([[SnapshotTable.readVersion]]) uses. Without a key, such a
  * version still refuses loudly (a bare parquet scan cannot apply key
  * masks — served-wrong is worse than refused).
  *
  * Every write commits exactly one snapshot version through
  * [[SnapshotTable.commit]]'s optimistic concurrency — a racing committer
  * loses the version claim loudly, never last-writer-wins. At 100 TB the
  * load path costs one listing + one manifest read per query — table
  * resolution is metadata-only, the scan plans against the version's dir
  * list exactly like the API read. */
class SnapshotCatalog extends TableCatalog with ProcedureCatalog {

  private var catName: String = _
  private var root: String = _
  // table name (lowercased — CaseInsensitiveStringMap folds option keys)
  // → declared key column; absence means "reads only" for DML surfaces
  private var keyCols: Map[String, String] = Map.empty

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = options.get("root")
    require(root != null,
      s"SnapshotCatalog '$name' needs spark.sql.catalog.$name.root")
    import scala.jdk.CollectionConverters._
    keyCols = options.entrySet().asScala
      .filter(_.getKey.startsWith("key."))
      .map(e => e.getKey.stripPrefix("key.") -> e.getValue).toMap
  }

  override def name(): String = catName

  private def spark: SparkSession = SparkSession.active

  private def basePath(ident: Identifier): String = {
    if (ident.namespace().nonEmpty)
      throw new NoSuchTableException(ident)
    s"$root/${ident.name()}"
  }

  private def keyFor(ident: Identifier): Option[String] =
    keyForName(ident.name())

  private def keyForName(tbl: String): Option[String] =
    keyCols.get(tbl.toLowerCase(java.util.Locale.ROOT))

  /** `<cat>.<tbl>.history` / `.refs` — metadata tables ([[SnapshotTable
    * .history]] etc.): version-count-sized rows computed driver-side at
    * resolution and served through a local DSv2 batch, so the SQL
    * surface needs no files. `<cat>.<tbl>.branch_<name>` — the BRANCH
    * as a full read/write table (the write half of write-audit-publish
    * through SQL: `INSERT INTO snap.t.branch_wip ...`, UPDATE/MERGE/
    * DELETE likewise — every mutation commits a branch version, main
    * readers see nothing until fast_forward publishes). Any other
    * nested name refuses. */
  private def metadataTable(ident: Identifier,
      version: Option[Int] = None): Option[Table] = {
    if (ident.namespace().length != 1) return None
    val tbl = ident.namespace()(0)
    val base = s"$root/$tbl"
    if (SnapshotTable.headVersion(spark, base) == 0)
      throw new NoSuchTableException(ident)
    // manifest-scoped metadata tables resolve the requested version's
    // manifest (head when unqualified) — `SELECT ... FROM cat.t.colstats
    // VERSION AS OF 3` audits v3's stats exactly as time travel reads
    // v3's data. History/refs are table-scoped, not manifest-scoped, so
    // a version qualifier on them refuses below.
    def snapAt: SnapshotTable.Snapshot = SnapshotTable.manifest(spark,
      base, version.getOrElse(SnapshotTable.headVersion(spark, base)))
    if (version.isDefined)
      require(!ident.name().startsWith("branch_") &&
        ident.name() != "history" && ident.name() != "refs",
        s"VERSION AS OF applies to manifest-scoped metadata tables " +
          s"(files/colstats/checks/ingested/detail/partitions), " +
          s"not ${ident.name()}")
    if (ident.name().startsWith("branch_")) {
      val bname = ident.name().stripPrefix("branch_")
      val bb = SnapshotTable.branchBase(base, bname)
      if (SnapshotTable.headVersion(spark, bb) < 1)
        throw new NoSuchTableException(ident)
      // the branch is a first-class snapshot table nested under main:
      // key column (DML surface) inherited from the parent declaration
      return Some(tableFor(ident, tbl, s"$tbl.branch_$bname", None,
        baseOverride = Some(bb)))
    }
    ident.name() match {
      case "history" =>
        val rows = SnapshotTable.history(spark, base).map(h =>
          Seq[Any](h.version, h.commit_ms, h.n_data_dirs, h.n_delete_dirs,
            h.n_bounds, h.evolved, h.n_rows.map(Long.box).orNull))
        Some(new LocalRowsTable(
          s"$catName.${ident.namespace()(0)}.history",
          StructType.fromDDL("`version` INT, `commit_ms` BIGINT, " +
            "`n_data_dirs` INT, `n_delete_dirs` INT, `n_bounds` INT, " +
            "`evolved` BOOLEAN, `n_rows` BIGINT"),
          rows))
      case "colstats" =>
        // the resolved manifest's per-dir column statistics roster
        // (CALL analyze_columns fills it): dir basename, column, exact
        // ndv/null counts — the audit surface for stats-driven planning
        val snap = snapAt
        val rows = snap.colStats.map(cs =>
          Seq[Any](new Path(cs.dir).getName, cs.col, cs.ndv, cs.nulls))
        Some(new LocalRowsTable(
          s"$catName.${ident.namespace()(0)}.colstats",
          StructType.fromDDL("`dname` STRING, `col` STRING, " +
            "`ndv` BIGINT, `nulls` BIGINT"),
          rows))
      case "files" =>
        // the resolved manifest's dir roster (the Iceberg `files` table
        // at this format's dir granularity): data + delete dirs with
        // their metadata coverage — n_rows NULL when uncounted
        val snap = snapAt
        val rows =
          snap.dataDirs.map { d =>
            Seq[Any](new Path(d).getName, "data",
              snap.rowCounts.get(d).map(Long.box).orNull,
              snap.bounds.count(_.dir == d),
              snap.colStats.count(_.dir == d))
          } ++ snap.deleteDirs.map { d =>
            Seq[Any](new Path(d).getName, "delete", null, 0, 0)
          }
        Some(new LocalRowsTable(
          s"$catName.${ident.namespace()(0)}.files",
          StructType.fromDDL("`dname` STRING, `kind` STRING, " +
            "`n_rows` BIGINT, `n_bounds` INT, `n_colstats` INT"),
          rows))
      case "ingested" =>
        // the COPY INTO ledger (ingest_files): one row per landing file
        // the resolved manifest has drained — the loader's audit surface
        val snap = snapAt
        Some(new LocalRowsTable(
          s"$catName.${ident.namespace()(0)}.ingested",
          StructType.fromDDL("`path` STRING, `len` BIGINT, " +
            "`mtime` BIGINT"),
          snap.ingested.map(f => Seq[Any](f.path, f.len, f.mtime))))
      case "checks" =>
        // the resolved manifest's CHECK constraint roster (add_check /
        // drop_check) — name + the enforced SQL expression
        Some(new LocalRowsTable(
          s"$catName.${ident.namespace()(0)}.checks",
          StructType.fromDDL("`name` STRING, `expr` STRING"),
          snapAt.checks.map { case (n, e) => Seq[Any](n, e) }))
      case "detail" =>
        // DESCRIBE DETAIL: one row summarizing the resolved manifest —
        // the operator's first stop before maintenance
        val v = version.getOrElse(SnapshotTable.headVersion(spark, base))
        val snap = SnapshotTable.manifest(spark, base, v)
        Some(new LocalRowsTable(
          s"$catName.${ident.namespace()(0)}.detail",
          StructType.fromDDL("`version` INT, `n_data_dirs` INT, " +
            "`n_delete_dirs` INT, `n_rows` BIGINT, `n_bounds` INT, " +
            "`n_colstats` INT, `n_checks` INT, `n_ingested` INT, " +
            "`evolved` BOOLEAN, `write_order` STRING"),
          Seq(Seq[Any](v, snap.dataDirs.size, snap.deleteDirs.size,
            SnapshotTable.manifestRowCount(snap)
              .filter(_ => snap.deleteDirs.isEmpty)
              .map(Long.box).orNull,
            snap.bounds.size, snap.colStats.size, snap.checks.size,
            snap.ingested.size,
            snap.schema.isDefined || snap.renames.nonEmpty ||
              snap.dropped.nonEmpty,
            // ordered-ness is OPERATOR-facing metadata: maintenance
            // reads the declared order before deciding a re-layout
            if (snap.writeOrder.isEmpty) null
            else s"${snap.writeOrder.mkString(", ")} " +
              s"[${snap.writeOrderSlices} slices]"))))
      case "partitions" =>
        // the hidden-partitioning roster (the Iceberg `partitions`
        // metadata table at dir granularity): one row per routed dir —
        // its transform tuple (rendered values, '|'-joined in spec
        // order), row count when recorded — plus one NULL-tuple row per
        // unrouted dir (pre-partition data, rewrite outputs), so "how
        // much of my table still prunes structurally" reads directly
        val snap = snapAt
        // per-DIR spec string: after spec evolution a pinned dir's tuple
        // reads under the retired spec that rendered it, and the roster
        // must say which transforms those values mean
        val rows = snap.dataDirs.map { d =>
          Seq[Any](new Path(d).getName,
            snap.partVals.get(d).map(_.mkString("|")).orNull,
            snap.rowCounts.get(d).map(Long.box).orNull,
            SnapshotTable.specFor(snap, d).map(_.toString).mkString(", "))
        }
        Some(new LocalRowsTable(
          s"$catName.${ident.namespace()(0)}.partitions",
          StructType.fromDDL("`dname` STRING, `tuple` STRING, " +
            "`n_rows` BIGINT, `spec` STRING"),
          rows))
      case "refs" =>
        // the named-ref roster: tags point at main versions; branches
        // carry their own head plus the main version they forked from
        val rows =
          SnapshotTable.listTags(spark, base).map { case (n, v) =>
            Seq[Any](n, "tag", v, null)
          } ++ SnapshotTable.listBranches(spark, base)
            .map { case (n, h, f) =>
              Seq[Any](n, "branch", h, Int.box(f))
            }
        Some(new LocalRowsTable(
          s"$catName.${ident.namespace()(0)}.refs",
          StructType.fromDDL("`name` STRING, `kind` STRING, " +
            "`version` INT, `fork_version` INT"),
          rows))
      case _ => throw new NoSuchTableException(ident)
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) return Array.empty
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rp)) return Array.empty
    fs.listStatus(rp).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => SnapshotTable.headVersion(spark, s"$root/$n") > 0)
      .map(n => Identifier.of(Array.empty, n))
  }

  override def loadTable(ident: Identifier): Table =
    metadataTable(ident).getOrElse(tableAt(ident, None))

  /** `VERSION AS OF <v>` — a numeric version id, or a NAMED REF: a tag
    * (immutable version pointer) or a branch (reads the branch's own
    * head — the audit read of write-audit-publish). Tags win name
    * collisions; all-digit ref names are refused at creation so the
    * namespaces cannot overlap. */
  override def loadTable(ident: Identifier, version: String): Table = {
    require(version.nonEmpty, "empty VERSION AS OF")
    // manifest-scoped metadata tables time-travel too: resolve the
    // version (numeric or tag) against the PARENT table, then serve the
    // nested roster at that manifest
    if (ident.namespace().length == 1) {
      val parentBase = s"$root/${ident.namespace()(0)}"
      val v =
        if (version.forall(_.isDigit)) version.toInt
        else SnapshotTable.readTagVersion(spark, parentBase, version)
          .getOrElse(throw new IllegalArgumentException(
            s"no numeric version or tag named '$version' under " +
              s"$catName.${ident.namespace()(0)} for a metadata read"))
      return metadataTable(ident, Some(v))
        .getOrElse(throw new NoSuchTableException(ident))
    }
    if (version.forall(_.isDigit))
      return tableAt(ident, Some(version.toInt))
    val base = basePath(ident)
    SnapshotTable.readTagVersion(spark, base, version) match {
      case Some(v) => tableAt(ident, Some(v))
      case None =>
        val bb = SnapshotTable.branchBase(base, version)
        val bh = SnapshotTable.headVersion(spark, bb)
        if (bh < 1) throw new IllegalArgumentException(
          s"no version, tag, or branch named '$version' under " +
            s"$catName.${ident.name()}")
        tableAt(ident, Some(bh), baseOverride = Some(bb))
    }
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands MICROseconds; manifest mtimes
    * are millis. Manifest-scoped metadata tables resolve the same way
    * (the VERSION AS OF symmetry). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (ident.namespace().length == 1) {
      val v = SnapshotTable.versionAsOf(spark,
        s"$root/${ident.namespace()(0)}", timestampMicros / 1000L)
      return metadataTable(ident, Some(v))
        .getOrElse(throw new NoSuchTableException(ident))
    }
    tableAt(ident,
      Some(SnapshotTable.versionAsOf(spark, basePath(ident),
        timestampMicros / 1000L)))
  }

  private def tableAt(ident: Identifier, version: Option[Int],
      baseOverride: Option[String] = None): Table =
    tableFor(ident, ident.name(), ident.name(), version, baseOverride)

  /** Handle construction shared by plain tables and branch tables:
    * `tbl` is the PARENT table name (key-column lookup), `display` the
    * SQL-facing name (`t` or `t.branch_wip`). */
  private def tableFor(ident: Identifier, tbl: String, display: String,
      version: Option[Int], baseOverride: Option[String]): Table = {
    val base = baseOverride.getOrElse(basePath(ident))
    val head = SnapshotTable.headVersion(spark, base)
    if (head == 0) throw new NoSuchTableException(ident)
    val v = version.getOrElse(head)
    val snap = SnapshotTable.manifest(spark, base, v)
    val keyCol = keyForName(tbl)
    // a delete-carrying version is only SQL-readable when the key column
    // is declared (SnapshotDmlRule then plans the broadcast-anti-join
    // merge-on-read read); undeclared → refuse rather than serve rows the
    // version erased
    require(snap.deleteDirs.isEmpty || keyCol.isDefined,
      s"$catName.$display v$v carries merge-on-read delete files " +
        "— a bare SQL parquet scan cannot apply key masks; declare the " +
        s"table's key (spark.sql.catalog.$catName.key.$tbl) " +
        "to enable merge-on-read SQL reads, SnapshotTable.compact() the " +
        "table first, or read through SnapshotTable.readVersion")
    val schema: StructType = SnapshotTable.tableSchema(spark, snap)
    for (k <- keyCol)
      require(schema.fieldNames.contains(k),
        s"declared key column $k is not in $catName.$display's " +
          s"v$v schema ${schema.fieldNames.toSeq}")
    val delegate = ParquetTable(s"$catName.$display@v$v", spark,
      CaseInsensitiveStringMap.empty(), snap.dataDirs,
      Some(schema), classOf[ParquetFileFormat])
    new SnapshotTableHandle(base, v, snap, keyCol,
      s"$catName.$display@v$v", schema, delegate)
  }

  /** Translate one declared `PARTITIONED BY` transform to the manifest
    * spec form: `days(ts)`-style single-column transforms, `bucket(n,
    * col)`, and Iceberg-style `truncate(n, col)` (which Spark parses as
    * a generic ApplyTransform). Anything else refuses at CREATE. */
  private def toPartField(
      t: Transform): graft.sources.PartitionSpec.PartField = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLiteral, NamedReference}
    val refs = t.arguments.collect { case r: NamedReference => r }.toSeq
    val lits = t.arguments.collect { case l: VLiteral[_] => l.value match {
      case i: java.lang.Integer => i.intValue
      case l2: java.lang.Long => l2.longValue.toInt
      case other => throw new IllegalArgumentException(
        s"partition transform ${t.describe} takes an integer argument, " +
          s"got $other")
    } }.toSeq
    require(refs.size == 1,
      s"partition transform ${t.describe} must reference exactly one " +
        "column")
    require(refs.head.fieldNames.length == 1,
      s"nested partition columns are not supported: ${t.describe}")
    val col = refs.head.fieldNames.head
    val canon = t.name.toLowerCase(java.util.Locale.ROOT) match {
      case n @ ("identity" | "years" | "months" | "days" | "hours" |
          "bucket" | "truncate") => n
      case "year" => "years"
      case "month" => "months"
      case "day" => "days"
      case "hour" => "hours"
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform '$other' — supported: " +
          "identity, years, months, days, hours, bucket(n, col), " +
          "truncate(n, col)")
    }
    val n = canon match {
      case "bucket" | "truncate" =>
        require(lits.size == 1,
          s"$canon takes exactly one integer argument: ${t.describe}")
        lits.head
      case _ =>
        require(lits.isEmpty,
          s"$canon takes no integer argument: ${t.describe}")
        0
    }
    graft.sources.PartitionSpec.PartField(canon, n, col)
  }

  /** CREATE TABLE — commits v1 as ONE EMPTY data dir at the declared
    * schema (the manifest carries the DDL), so the table is immediately
    * readable and the CTAS flow (createTable + append) lands its data as
    * v2. `PARTITIONED BY` transforms (identity/years/months/days/
    * bucket/truncate — the Iceberg hidden-partitioning surface) are
    * recorded in the manifest spec: INSERTs route rows to one dir per
    * transform tuple and reads prune structurally ([[PartitionSpec]]).
    * The staging dir is writer-unique; [[SnapshotTable.commit]]'s
    * version claim arbitrates racing creators (the loser errs loudly
    * and its orphan dir is vacuum-collectable). */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    val spec = partitions.toSeq.map(toPartField)
    require(spec.map(f => (f.fn, f.n, f.col)).distinct.size == spec.size,
      s"duplicate partition transforms in ${spec.mkString(", ")}")
    spec.foreach(graft.sources.PartitionSpec.validate(_, schema))
    // WRITE ORDERED BY at CREATE time (TBLPROPERTIES 'write.order' =
    // comma-joined columns, 'write.order.slices' = n, default 8): same
    // contract as CALL set_write_order, declared before the first row
    // lands; the commit refuses the PARTITIONED BY combination
    val woCols = Option(properties.get("write.order"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val woSlices = Option(properties.get("write.order.slices"))
      .map(_.trim.toInt).getOrElse(if (woCols.nonEmpty) 8 else 0)
    require(woCols.nonEmpty || woSlices == 0,
      "'write.order.slices' without 'write.order' — declare the columns")
    if (woCols.nonEmpty) {
      SnapshotTable.validateWriteOrder(woCols, woSlices, schema)
      // refuse the contradictory declaration BEFORE any bytes land:
      // commit-time validation would only reject it after the empty v1
      // data dir is written (orphan dir + a less-direct error)
      require(spec.isEmpty,
        "WRITE ORDERED BY on a PARTITIONED BY table is refused — " +
          "declare one layout, not both")
    }
    val base = basePath(ident)
    if (SnapshotTable.headVersion(spark, base) > 0)
      throw new TableAlreadyExistsException(
        Seq(catName, ident.name()).mkString("."))
    val dir = s"$base/_create_v1-" +
      java.util.UUID.randomUUID().toString.take(8)
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(dir)
    SnapshotTable.commit(spark, base, 1,
      SnapshotTable.Snapshot(Seq(dir), Nil, schema = Some(schema.toDDL),
        rowCounts = Map(dir -> 0L), partSpec = spec,
        writeOrder = woCols, writeOrderSlices = woSlices))
    loadTable(ident)
  }

  /** ALTER TABLE — the SQL face of the metadata-only evolution trio:
    * ADD COLUMNS → [[SnapshotTable.evolveAddColumns]], RENAME COLUMN →
    * [[SnapshotTable.evolveRenameColumn]], DROP COLUMN →
    * [[SnapshotTable.evolveDropColumn]], ALTER COLUMN TYPE (lossless
    * widening) → [[SnapshotTable.evolveWidenColumnType]]. Each is one
    * manifest commit, never a data rewrite; anything else (lossy type
    * changes, nested fields, comments) refuses loudly — in an
    * immutable-file format those are rewrites by definition. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val base = basePath(ident)
    if (SnapshotTable.headVersion(spark, base) == 0)
      throw new NoSuchTableException(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "snapshot evolution adds top-level columns only, got nested " +
            add.fieldNames().toSeq.mkString("."))
        val f = org.apache.spark.sql.types
          .StructField(add.fieldNames()(0), add.dataType(), add.isNullable)
        SnapshotTable.evolveAddColumns(spark, base,
          StructType(Seq(f)).toDDL): Unit
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "snapshot evolution renames top-level columns only, got nested " +
            ren.fieldNames().toSeq.mkString("."))
        SnapshotTable.evolveRenameColumn(spark, base,
          ren.fieldNames()(0), ren.newName()): Unit
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "snapshot evolution drops top-level columns only, got nested " +
            del.fieldNames().toSeq.mkString("."))
        SnapshotTable.evolveDropColumn(spark, base,
          del.fieldNames()(0)): Unit
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1,
          "snapshot evolution widens top-level columns only, got nested " +
            upd.fieldNames().toSeq.mkString("."))
        SnapshotTable.evolveWidenColumnType(spark, base,
          upd.fieldNames()(0), upd.newDataType()): Unit
      case other => throw new UnsupportedOperationException(
        s"snapshot ALTER TABLE supports ADD/RENAME/DROP COLUMN and " +
          s"lossless ALTER COLUMN TYPE widening only (metadata-only " +
          s"evolution); $other is a data rewrite in an immutable-file " +
          "format — refuse rather than pretend")
    }
    loadTable(ident)
  }

  /** DROP TABLE — removes the table's entire base dir (manifests + data).
    * Destructive BY CONTRACT, like Delta's DROP on a managed table; a
    * time-travel-preserving retirement is [[SnapshotTable.vacuum]]. */
  override def dropTable(ident: Identifier): Boolean = {
    val base = basePath(ident)
    if (SnapshotTable.headVersion(spark, base) == 0) return false
    val bp = new Path(base)
    bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(bp, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "snapshot RENAME TABLE is refused: a dir rename is not atomic on " +
        "object stores and would strand concurrent committers mid-claim " +
        "— clone to the new name (SnapshotTable.cloneAt) and drop the old")

  /** `CALL <cat>.system.<proc>(...)` — the maintenance procedures
    * ([[SnapshotProcedures]]: compact / optimize / zorder / vacuum /
    * vacuum_retain / restore / clone_table), each running its
    * [[SnapshotTable]] op and returning the report as the result rows. */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val known = ident.namespace().sameElements(Array("system"))
    (if (known) SnapshotProcedures.load(ident.name(), root) else None)
      .getOrElse(throw new UnsupportedOperationException(
        s"unknown procedure ${ident.namespace().mkString(".")}." +
          s"${ident.name()} — snapshot maintenance lives under " +
          s"$catName.system.{${SnapshotProcedures.names.mkString(", ")}}"))
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      SnapshotProcedures.names
        .map(Identifier.of(Array("system"), _)).toArray
    else Array.empty
}

/** The catalog's table handle: reads delegate to Spark's own
  * [[ParquetTable]] scan over the resolved version's dirs (full pushdown/
  * pruning/vectorization), writes and row-level deletes commit snapshot
  * versions through the [[SnapshotTable]] API. Carried metadata
  * (base/version/snapshot/key) is what [[graft.plans.SnapshotDmlRule]]
  * keys on to plan merge-on-read masked scans and UPDATE/MERGE commands. */
final class SnapshotTableHandle(
    val base: String, val snapVersion: Int,
    val snap: SnapshotTable.Snapshot, val keyCol: Option[String],
    tname: String, tschema: StructType, delegate: ParquetTable)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = tname
  override def schema(): StructType = tschema
  /** DESCRIBE surfaces the declared hidden-partitioning spec. */
  override def partitioning(): Array[org.apache.spark.sql.connector
      .expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    snap.partSpec.map { f =>
      f.fn match {
        case "identity" => Expressions.identity(f.col)
        case "years" => Expressions.years(f.col)
        case "months" => Expressions.months(f.col)
        case "days" => Expressions.days(f.col)
        case "hours" => Expressions.hours(f.col)
        case "bucket" => Expressions.bucket(f.n, f.col)
        case _ => Expressions.apply("truncate",
          Expressions.literal(f.n), Expressions.column(f.col))
      }
    }.toArray
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  /** Does a SQL read of this version need plan rewriting beyond a bare
    * parquet scan? Delete files need the merge-on-read key mask;
    * rename evolution needs the logical→physical projection (a bare
    * scan reads pre-rename dirs' mapped columns as NULLs). */
  def needsMask: Boolean =
    snap.deleteDirs.nonEmpty || snap.renames.nonEmpty

  /** Reads plan through Spark's own parquet scan builder (full pushdown/
    * pruning), wrapped — when the manifest carries row counts or column
    * stats — so the built Scan reports them to Catalyst
    * ([[SnapshotStatsScan]]): numRows and per-column ndv/nulls come from
    * METADATA, no file I/O, and CBO can size filtered snapshot relations
    * for broadcast decisions. A stats-less manifest serves the bare
    * builder — zero churn on the pre-stats paths. */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val b = delegate.newScanBuilder(options)
    if (SnapshotTable.manifestRowCount(snap).isEmpty &&
        SnapshotTable.manifestColumnStats(snap).isEmpty &&
        snap.bounds.isEmpty) b
    else new SnapshotStatsScanBuilder(b, snap, tschema)
  }

  private def spark: SparkSession = SparkSession.active

  /** SQL `DELETE FROM ... WHERE` — the merge-on-read delete
    * ([[SnapshotTable.deleteWhere]]): one scan collects matching KEYS
    * into a fresh delete file and head+1 commits with it appended —
    * O(matches), the data files are never rewritten (the 100 TB
    * contract; compaction folds delete files in later). Needs the
    * declared key column; predicates beyond the translatable set refuse
    * via [[canDeleteWhere]] (Spark surfaces the analysis error) rather
    * than delete the wrong rows. Always acts on the CURRENT head —
    * [[SnapshotTable.commit]]'s version claim arbitrates racers. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    keyCol.isDefined &&
      filters.forall(KvTextSource.deleteFilterColumn(_, tschema).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(keyCol.isDefined,
      s"DELETE on $tname needs the table's key column declared " +
        "(spark.sql.catalog.<cat>.key.<tbl>)")
    val pred = filters
      .map(f => KvTextSource.deleteFilterColumn(f, tschema).getOrElse(
        sys.error(s"deleteWhere got an untranslatable filter $f — " +
          "canDeleteWhere should have refused")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    SnapshotTable.deleteWhere(spark, base, keyCol.get, pred): Unit
  }

  /** INSERT INTO / INSERT OVERWRITE — a [[V1Write]] (the Delta-style
    * driver-side connector write): the batch lands in one writer-unique
    * parquet dir and head+1 commits with the dir APPENDED (insert) or as
    * the ONLY data dir with an empty delete set (overwrite — the
    * truncate contract). One snapshot version per SQL write; a lost
    * version-number race re-reads the winner's head and re-commits on
    * top (bounded OCC loop, the [[SnapshotTable.ingestBatch]] shape).
    * Row counts ride into the manifest so the metadata COUNT fast path
    * works on SQL-built tables. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        private val ow = overwrite
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                legacyOverwrite: Boolean): Unit =
              SnapshotTableHandle.insertInto(
                SparkSession.active, base, tschema, data,
                ow || legacyOverwrite): Unit
          }
        /** `writeStream.toTable` — exactly-once epoch ingest through
          * the manifest commit point ([[SnapshotStreamingWrite]]). */
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite = {
          require(!ow, "streaming into a snapshot table is APPEND-only " +
            "— complete/truncate output modes are refused")
          require(info.schema().fieldNames.toSeq ==
            tschema.fieldNames.toSeq,
            s"streaming write columns ${info.schema().fieldNames.toSeq} " +
              s"must match the table's ${tschema.fieldNames.toSeq}")
          new SnapshotStreamingWrite(base, info.queryId(),
            info.schema(), snap.renames, snap.partSpec)
        }
      }
    }
}

object SnapshotTableHandle {

  /** Land a batch ROUTED by the table's partition spec: one Spark write
    * (`partitionBy` over synthetic rendered-value columns — rows never
    * touch the driver), then each landed leaf dir becomes a manifest
    * data dir carrying its decoded transform tuple. Returns (dirs,
    * dir → tuple, dir → rowCount); empty when the batch had no rows
    * (the caller falls back to a plain empty dir). The per-dir counts
    * come from the landed files' parquet FOOTERS (exact, driver-side,
    * no extra Spark job — and immune to partition-value type inference
    * re-rendering "01" as "1" and breaking the tuple match). */
  private def landPartitioned(spark: SparkSession,
      snapFor: SnapshotTable.Snapshot, target: StructType,
      batch: DataFrame, spec: Seq[PartitionSpec.PartField],
      parent: String): (Seq[String], Map[String, Seq[String]],
        Map[String, Long]) = {
    import org.apache.spark.sql.functions.{col, expr}
    val gcols = spec.indices.map(i => s"_gpart$i")
    val taken = target.fieldNames.toSet ++ snapFor.renames.values
    val clash = gcols.filter(taken)
    require(clash.isEmpty,
      s"partition staging column(s) $clash collide with table columns " +
        "— rename the data columns")
    val dtOf = target.fields.map(f => f.name -> f.dataType).toMap
    val withParts = spec.zip(gcols).foldLeft(batch) { case (df, (f, g)) =>
      df.withColumn(g, expr(PartitionSpec.exprSql(f, dtOf(f.col))))
    }
    SnapshotTable.toPhysical(snapFor, withParts)
      .write.partitionBy(gcols: _*).mode("overwrite").parquet(parent)
    val pp = new org.apache.hadoop.fs.Path(parent)
    val fs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path, depth: Int)
        : Seq[(org.apache.hadoop.fs.Path, Seq[String])] =
      if (depth == 0) Seq((p, Nil))
      else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
        val nm = st.getPath.getName
        val eq = nm.indexOf('=')
        require(eq > 0, s"unexpected non-partition dir $nm under a " +
          "routed write")
        val v = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(nm.substring(eq + 1))
        walk(st.getPath, depth - 1).map { case (leaf, vs) =>
          (leaf, v +: vs) }
      }
    val leaves = walk(pp, spec.size)
    if (leaves.isEmpty) return (Nil, Map.empty, Map.empty)
    // the commit precondition: every manifest data dir carries _SUCCESS
    for ((leaf, _) <- leaves)
      fs.create(new org.apache.hadoop.fs.Path(leaf, "_SUCCESS"), true)
        .close()
    def footerRows(leaf: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(leaf).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet")).map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(st.getPath, spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    val dirs = leaves.map(_._1.toString)
    val vals = leaves.map { case (p, vs) => p.toString -> vs }.toMap
    val counts = leaves.map { case (p, _) =>
      p.toString -> footerRows(p) }.toMap
    (dirs, vals, counts)
  }

  /** WRITE ORDERED BY landing: range-slice the batch on the declared
    * order columns into `writeOrderSlices` dirs, sort within each, and
    * compute per-dir BOUNDS on the order columns — so the very next
    * range probe prunes structurally with no maintenance CALL. One
    * executor-parallel job lands the bytes (repartitionByRange + a
    * partition-id-constant staging column written via partitionBy:
    * every task holds ONE slice id, so partitionBy adds no shuffle);
    * per-dir counts come from parquet footers like the partitioned
    * path. Empty result = empty batch (caller falls back to one empty
    * plain dir). alterWriteOrder refused rename-evolved tables, so the
    * order columns' physical names equal their logical ones and
    * computeBounds/pruning agree on naming. */
  private def landOrdered(spark: SparkSession,
      snapFor: SnapshotTable.Snapshot, batch: DataFrame, parent: String)
      : (Seq[String], Map[String, Seq[String]], Map[String, Long],
        Seq[SnapshotTable.DirBounds]) = {
    val (ds, cs, bs) =
      SnapshotTable.landOrderedDirs(spark, snapFor, batch, parent)
    (ds, Map.empty, cs, bs)
  }

  /** One SQL write = one committed version (see
    * [[SnapshotTableHandle.newWriteBuilder]]). The analyzer already
    * reconciled the query's columns to the table schema, so alignment
    * here is positional rename + cast — never silent reordering. */
  private[graft] def insertInto(spark: SparkSession, base: String,
      target: StructType, data: DataFrame, overwrite: Boolean): Int = {
    import org.apache.spark.sql.functions.col
    require(data.schema.length == target.length,
      s"INSERT carries ${data.schema.length} columns, table has " +
        s"${target.length}")
    val head0 = SnapshotTable.headVersion(spark, base)
    require(head0 >= 1,
      s"no committed snapshot under $base — CREATE TABLE first")
    // the dir lands at the table's FROZEN physical names (rename is
    // logical-only; see SnapshotTable.toPhysical) — stable across the
    // OCC retries below because renames never move physical names
    val snap0 = SnapshotTable.manifest(spark, base, head0)
    val aligned = data.toDF(target.fieldNames.toIndexedSeq: _*)
      .select(target.fields.toIndexedSeq
        .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    // CHECK constraints gate the batch BEFORE any bytes land; a racer
    // adding a constraint mid-flight is re-checked by the drift branch
    // in the retry loop below
    // enforceChecks returns the frame to WRITE (pinned when the plan is
    // non-deterministic, so validation and the write see identical rows)
    val checked =
      SnapshotTable.enforceChecks(spark, snap0, aligned, "INSERT")
    var checkedChecks = snap0.checks
    val dir = s"$base/_insert-" + java.util.UUID.randomUUID().toString
    // routed vs plain landing, re-invocable under a winner's rename map
    // (the drift branch below): a partitioned table lands one dir per
    // transform tuple, a plain table one dir; an all-empty routed batch
    // falls back to one empty plain dir (always kept, zero rows)
    def land(snapFor: SnapshotTable.Snapshot)
        : (Seq[String], Map[String, Seq[String]], Map[String, Long],
          Seq[SnapshotTable.DirBounds]) =
      if (snapFor.writeOrder.nonEmpty) {
        val ordered = landOrdered(spark, snapFor, checked, dir)
        if (ordered._1.nonEmpty) ordered
        else {
          SnapshotTable.toPhysical(snapFor, checked)
            .write.mode("overwrite").parquet(dir)
          (Seq(dir), Map.empty, Map(dir -> 0L), Nil)
        }
      } else if (snapFor.partSpec.isEmpty) {
        SnapshotTable.toPhysical(snapFor, checked)
          .write.mode("overwrite").parquet(dir)
        (Seq(dir), Map.empty,
          Map(dir -> spark.read.parquet(dir).count()), Nil)
      } else {
        val routed = landPartitioned(spark, snapFor, target, checked,
          snapFor.partSpec, dir)
        if (routed._1.nonEmpty) (routed._1, routed._2, routed._3, Nil)
        else {
          SnapshotTable.toPhysical(snapFor, checked)
            .write.mode("overwrite").parquet(dir)
          (Seq(dir), Map.empty, Map(dir -> 0L), Nil)
        }
      }
    var (newDirs, newVals, newCounts, newBounds) = land(snap0)
    // the rename map the dir was WRITTEN under — if a racer evolves the
    // map (rename evolution) or clears it (optimizeZorder's full-rewrite
    // normalization) between the write above and the commit below, the
    // dir's physical names would no longer match the winning manifest's
    // single logical→physical map and its columns would silently read
    // NULL; the retry loop below detects the drift and re-lands the dir
    var dirRenames = snap0.renames
    // the partition spec the dirs were ROUTED under — if a racing
    // alterPartitionSpec lands between the write and the commit, the
    // tuples were rendered by the OLD spec but would be recorded
    // unpinned (= current-spec) in the winner's manifest; two specs can
    // even share arity (days(ts) vs bucket(8, k)), so this would prune
    // WRONG, not just fail the commit — re-land under the winner's spec
    var dirSpec = snap0.partSpec
    // the write order the dirs were SLICED under — a racing
    // alterWriteOrder between the write and the commit would record
    // bounds/slicing from the old declaration; re-land like spec drift
    var dirOrder = (snap0.writeOrder, snap0.writeOrderSlices)
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val head = SnapshotTable.headVersion(spark, base)
      require(head >= 1,
        s"no committed snapshot under $base — CREATE TABLE first")
      val prior = SnapshotTable.manifest(spark, base, head)
      if (prior.checks != checkedChecks) {
        // a concurrent ADD CHECK landed after this INSERT validated —
        // re-validate against the winner's constraint set (refusing is
        // the loud direction; the landed dir is vacuum-collectable)
        SnapshotTable.enforceChecks(spark, prior, checked, "INSERT"): Unit
        checkedChecks = prior.checks
      }
      if (prior.partSpec != dirSpec ||
          (prior.writeOrder, prior.writeOrderSlices) != dirOrder) {
        val r = land(prior)
        newDirs = r._1; newVals = r._2; newCounts = r._3
        newBounds = r._4
        dirSpec = prior.partSpec
        dirOrder = (prior.writeOrder, prior.writeOrderSlices)
        dirRenames = prior.renames
      }
      if (prior.renames != dirRenames) {
        val priorFields = SnapshotTable.tableSchema(spark, prior)
          .fieldNames.toSet
        val gone = target.fieldNames.filterNot(priorFields)
        require(gone.isEmpty,
          s"concurrent schema evolution renamed/dropped ${gone.toSeq} " +
            s"while this INSERT was in flight — re-plan the INSERT " +
            "against the current schema")
        // same logical names, different physical mapping (rename drift
        // or a zorder normalization): re-land the dir under the
        // WINNER's map so the manifest can read it back
        val r = land(prior)
        newDirs = r._1; newVals = r._2; newCounts = r._3
        newBounds = r._4
        dirRenames = prior.renames
      }
      val next =
        if (overwrite)
          prior.copy(dataDirs = newDirs, deleteDirs = Nil,
            bounds = newBounds, rowCounts = newCounts,
            partVals = newVals)
        else prior.copy(dataDirs = prior.dataDirs ++ newDirs,
          bounds = prior.bounds ++ newBounds,
          rowCounts = prior.rowCounts ++ newCounts,
          partVals = prior.partVals ++ newVals)
      try {
        SnapshotTable.commit(spark, base, head + 1, next)
        return head + 1
      } catch {
        case _: SnapshotTable.CommitConflict if attempt < 20 =>
          // lost the version-number race — re-commit onto the winner
      }
    }
    throw new IllegalStateException(
      s"INSERT into $base could not claim a version after 20 attempts — " +
        "a committer is racing every retry or the store is wedged")
  }
}

/** [[ParquetScanBuilder]] pass-through that wraps the BUILT scan in
  * [[SnapshotStatsScan]]. Forwards every pushdown surface the parquet
  * builder implements (required columns, catalyst filters, aggregates,
  * variant extractions) so `.explain` plans are bit-identical to the
  * bare builder's — the wrapper only adds statistics. When an AGGREGATE
  * was pushed the built scan's shape is the agg result, not the table,
  * so manifest-level stats would misstate it: serve the delegate scan
  * unwrapped (same for pushed variant extractions).
  *
  * MANIFEST-ANSWERED AGGREGATES (the Iceberg scan-less aggregate): an
  * unfiltered, ungrouped MIN/MAX/COUNT(*)/COUNT(col) aggregation whose
  * every term is answerable from the manifest — bounds covering all
  * dirs for min/max, row counts for count(*), colstats null counts for
  * count(col) — short-circuits [[pushAggregation]] into a ONE-ROW
  * [[ManifestAggScan]]: at 100 TB, `SELECT min(ts), max(ts), count(*)`
  * over the table answers from a few hundred manifest bytes with ZERO
  * file I/O. Strictly guarded: any pushed filter, any delete/rename
  * evolution, any uncovered dir, or any unsupported term falls through
  * to the delegate (the normal parquet scan) — wrong-refusing is free,
  * wrong-answering is forbidden. The PARTIAL pushdown contract is used
  * (one partial row; Spark's final aggregate merges it), so empty/null
  * semantics stay Spark's own. */
private[sources] final class SnapshotStatsScanBuilder(
    delegate: ScanBuilder, snap: SnapshotTable.Snapshot,
    tschema: StructType)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
  import org.apache.spark.sql.connector.read.{Scan, VariantExtraction}

  private var reshaped = false // agg/variant pushdown changed the scan shape
  private var filtered = false // any pushed filter forbids manifest answers
  // a manifest-answered aggregation: positional output schema + the one
  // partial row (internal values)
  private var manifestAgg: Option[(StructType, Seq[Any], String)] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
      .pruneColumns(requiredSchema)

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    if (filters.nonEmpty) filtered = true
    delegate.asInstanceOf[
      org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters]
      .pushFilters(filters)
  }

  override def pushedFilters: Array[V2Predicate] =
    delegate.asInstanceOf[
      org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters]
      .pushedFilters

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    // the manifest answer rides the PARTIAL contract — never claim
    // complete pushdown for it
    if (answerFromManifest(aggregation).isDefined) false
    else delegate.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsPushDownAggregates]
      .supportCompletePushDown(aggregation)

  override def pushAggregation(aggregation: Aggregation): Boolean =
    answerFromManifest(aggregation) match {
      case some @ Some(_) =>
        manifestAgg = some
        true
      case None =>
        val pushed = delegate.asInstanceOf[
          org.apache.spark.sql.connector.read.SupportsPushDownAggregates]
          .pushAggregation(aggregation)
        if (pushed) reshaped = true
        pushed
    }

  /** Some((positional schema, one partial row, description)) when EVERY
    * aggregate term is exactly answerable from the manifest; None falls
    * back to the real scan. See the class doc for the guard list. */
  private def answerFromManifest(
      agg: Aggregation): Option[(StructType, Seq[Any], String)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StringType}
    if (filtered || agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.isEmpty) return None
    if (snap.deleteDirs.nonEmpty || snap.renames.nonEmpty ||
        snap.dropped.nonEmpty) return None
    val rows = SnapshotTable.manifestRowCount(snap)
    lazy val colStats = SnapshotTable.manifestColumnStats(snap)
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    // per-dir bounds for `c` covering every NON-EMPTY data dir (a dir
    // whose manifest row count is 0 contributes nothing to min/max and
    // never gets a bounds entry — CREATE TABLE's empty v1 dir is the
    // standing case), folded to the table min or max under the stored
    // type's ordering, converted to the column's internal value. An
    // all-empty table folds to NULL (the partial row Spark's final
    // aggregate skips — SQL min/max over zero rows). None = uncovered /
    // type mismatch → refuse.
    def boundsValue(c: String, wantMin: Boolean)
        : Option[(org.apache.spark.sql.types.DataType, Any)] = {
      val entries = snap.bounds.filter(_.col == c)
      val needing = snap.dataDirs
        .filterNot(d => snap.rowCounts.get(d).contains(0L))
      if (!needing.forall(d => entries.exists(_.dir == d)))
        return None
      val field = tschema.fields.find(_.name == c).getOrElse(return None)
      val live = entries.filter(e => needing.contains(e.dir))
      if (live.isEmpty) return Some((field.dataType, null))
      val typs = live.map(_.typ).distinct
      if (typs.size != 1) return None
      val vals = live.map(e => if (wantMin) e.min else e.max)
      (typs.head, field.dataType) match {
        case ("long", dt @ (ByteType | ShortType | IntegerType
            | LongType)) =>
          val v = if (wantMin) vals.map(BigInt(_)).min
            else vals.map(BigInt(_)).max
          val internal: Any = dt match {
            case ByteType => v.toByte
            case ShortType => v.toShort
            case IntegerType => v.toInt
            case LongType => v.toLong
          }
          Some((dt, internal))
        case ("date", DateType) =>
          val v = if (wantMin) vals.min else vals.max // ISO sorts correctly
          Some((DateType,
            java.time.LocalDate.parse(v).toEpochDay.toInt))
        case ("string", StringType) =>
          // fold under UTF8String BINARY order (UTF-8 bytes) — the order
          // the per-dir bounds were computed under. Java String min/max
          // compares UTF-16 code units, which disagrees for values mixing
          // supplementary-plane chars with U+E000..U+FFFF, and a metadata
          // answer diverging from the real scan is a wrong answer, not a
          // refusal (r18 ADVICE).
          val cmp = (a: String, b: String) =>
            SnapshotTable.utf8Compare(a, b) <= 0
          val v = if (wantMin) vals.reduce((a, b) => if (cmp(a, b)) a else b)
            else vals.reduce((a, b) => if (cmp(a, b)) b else a)
          Some((StringType,
            org.apache.spark.unsafe.types.UTF8String.fromString(v)))
        case _ => None
      }
    }
    val terms = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => rows.map(r => (LongType: org.apache.spark.sql
        .types.DataType, r: Any, "count(*)"))
      case c: Count if !c.isDistinct =>
        for {
          n <- colName(c.column)
          r <- rows
          (_, nulls) <- colStats.get(n)
        } yield (LongType: org.apache.spark.sql.types.DataType,
          (r - nulls): Any, s"count($n)")
      case m: Min => colName(m.column).flatMap(n =>
        boundsValue(n, wantMin = true).map { case (dt, v) =>
          (dt, v, s"min($n)") })
      case m: Max => colName(m.column).flatMap(n =>
        boundsValue(n, wantMin = false).map { case (dt, v) =>
          (dt, v, s"max($n)") })
      case _ => None
    }
    if (terms.exists(_.isEmpty)) return None
    val flat = terms.map(_.get)
    val schema = StructType(flat.zipWithIndex.map { case ((dt, _, _), i) =>
      org.apache.spark.sql.types.StructField(s"agg_$i", dt)
    })
    Some((schema, flat.map(_._2),
      flat.map(_._3).mkString("[", ", ", "]")))
  }

  override def pushVariantExtractions(
      extractions: Array[VariantExtraction]): Array[Boolean] = {
    val pushed = delegate.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions]
      .pushVariantExtractions(extractions)
    if (pushed != null && pushed.exists(identity)) reshaped = true
    pushed
  }

  override def build(): Scan = manifestAgg match {
    case Some((schema, row, desc)) => new ManifestAggScan(schema, row, desc)
    case None =>
      val built = delegate.build()
      if (reshaped) built else new SnapshotStatsScan(built, snap)
  }
}

/** The one-row scan behind a manifest-answered aggregate pushdown
  * ([[SnapshotStatsScanBuilder.pushAggregation]]): one partition, one
  * partial row straight from manifest numbers — Spark's retained final
  * aggregate merges it (the V2 PARTIAL contract). `description()`
  * surfaces the answered terms in `.explain` so plans can pin that the
  * table's files were never touched. */
private[sources] final class ManifestAggScan(out: StructType,
    row: Seq[Any], terms: String)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read._

  override def readSchema(): StructType = out
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot ManifestAggregate: $terms"
  override def planInputPartitions(): Array[InputPartition] =
    Array(LocalRowsPartition(Array(row.toArray)))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[
          org.apache.spark.sql.catalyst.InternalRow] = {
        val data = p.asInstanceOf[LocalRowsPartition].rows
        new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < data.length }
          override def get(): org.apache.spark.sql.catalyst.InternalRow =
            new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(data(i))
          override def close(): Unit = {}
        }
      }
    }
}

/** Scan wrapper that reports manifest-carried statistics to Catalyst
  * ([[org.apache.spark.sql.connector.read.SupportsReportStatistics]]):
  * sizeInBytes stays the delegate's physical estimate, numRows comes
  * from [[SnapshotTable.manifestRowCount]], and per-column
  * distinct/null counts from [[SnapshotTable.manifestColumnStats]] —
  * Spark's `transformV2Stats` folds them into catalyst `ColumnStat`s,
  * so with CBO enabled FilterEstimation sizes an equality-filtered
  * snapshot dimension at rowCount/ndv and JoinSelection can broadcast a
  * post-filter sliver whose TABLE is far above the threshold. All of it
  * is metadata-only: no file I/O beyond the delegate's own listing.
  * Execution delegates wholesale (same Batch, same reader factory, same
  * columnar mode), and `getMetaData` forwards so `.explain` still shows
  * PushedFilters/ReadSchema. */
private[sources] final class SnapshotStatsScan(
    private val delegate: org.apache.spark.sql.connector.read.Scan,
    private val snap: SnapshotTable.Snapshot)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.internal.connector.SupportsMetadata {
  import java.util.OptionalLong
  import org.apache.spark.sql.connector.expressions.Expressions
  import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
  import org.apache.spark.sql.connector.read.{Batch, Scan, Statistics => V2Statistics}

  override def readSchema(): StructType = delegate.readSchema()
  override def toBatch: Batch = delegate.toBatch
  override def description(): String = delegate.description()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    delegate.supportedCustomMetrics()
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    delegate.reportDriverMetrics()
  override def getMetaData(): Map[String, String] = delegate match {
    case m: org.apache.spark.sql.internal.connector.SupportsMetadata =>
      m.getMetaData()
    case _ => Map.empty
  }

  // scan reuse / exchange reuse compare scans — identity must follow the
  // delegate plus the stats source
  override def equals(other: Any): Boolean = other match {
    case s: SnapshotStatsScan => delegate == s.delegate && snap == s.snap
    case _ => false
  }
  override def hashCode(): Int = (delegate, snap).hashCode()

  override def estimateStatistics(): V2Statistics = {
    val d = delegate match {
      case r: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        r.estimateStatistics()
      case _ => new V2Statistics {
        override def sizeInBytes(): OptionalLong = OptionalLong.empty()
        override def numRows(): OptionalLong = OptionalLong.empty()
      }
    }
    val mRows = SnapshotTable.manifestRowCount(snap)
    val mCols = SnapshotTable.manifestColumnStats(snap)
    new V2Statistics {
      override def sizeInBytes(): OptionalLong = d.sizeInBytes()
      override def numRows(): OptionalLong =
        mRows.map(OptionalLong.of).getOrElse(d.numRows())
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          ColumnStatistics]()
        for ((c, (ndvV, nullsV)) <- mCols)
          m.put(Expressions.column(c), new ColumnStatistics {
            override def distinctCount(): OptionalLong =
              OptionalLong.of(ndvV)
            override def nullCount(): OptionalLong =
              OptionalLong.of(nullsV)
          })
        m
      }
    }
  }
}

/** A driver-computed row set served as a DSv2 batch table — the vehicle
  * for metadata tables (version-count-sized; one partition, no files).
  * Values must be primitives/UTF8-encodable (the reader builds
  * GenericInternalRows directly). */
private[sources] class LocalRowsTable(tname: String,
    tschema: StructType, rows: Seq[Seq[Any]])
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.connector.catalog.TableCapability

  override def name(): String = tname
  override def schema(): StructType = tschema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalRowsScan(tname, tschema, rows)
    }
}

/** The one-partition, no-files Scan behind [[LocalRowsTable]] — also the
  * RESULT vehicle for SQL procedures ([[SnapshotProcedures]]:
  * `BoundProcedure.call` returns Scans, and Spark's InvokeProcedures
  * accepts [[org.apache.spark.sql.connector.read.LocalScan]] only —
  * `rows()` is the procedure-output path, the Batch half serves the
  * metadata-table reads). */
private[sources] class LocalRowsScan(tname: String, tschema: StructType,
    data: Seq[Seq[Any]])
    extends org.apache.spark.sql.connector.read.LocalScan
    with org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read._

  override def readSchema(): StructType = tschema
  override def toBatch: Batch = this
  override def description(): String = s"LocalRows $tname"

  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    data.map { r =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        r.map {
          case s: String =>
            org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case other => other.asInstanceOf[AnyRef]
        }.toArray[Any])
    }.toArray
  override def planInputPartitions(): Array[InputPartition] =
    Array(LocalRowsPartition(data.map(_.toArray).toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[
            org.apache.spark.sql.catalyst.InternalRow] = {
        val data = p.asInstanceOf[LocalRowsPartition].rows
        new PartitionReader[
            org.apache.spark.sql.catalyst.InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < data.length }
          override def get()
              : org.apache.spark.sql.catalyst.InternalRow = {
            val vals = data(i).map {
              case s: String =>
                org.apache.spark.unsafe.types.UTF8String.fromString(s)
              case other => other.asInstanceOf[AnyRef]
            }
            new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(vals.asInstanceOf[Array[Any]])
          }
          override def close(): Unit = {}
        }
      }
    }
}

private[sources] final case class LocalRowsPartition(rows: Array[Array[Any]])
  extends org.apache.spark.sql.connector.read.InputPartition
