package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{SnapshotTable => ST}
import graft.sources.SnapshotTable.Snapshot

/** SQL over snapshot tables (sources/SnapshotCatalog): `VERSION AS OF`
  * and `TIMESTAMP AS OF` resolve through the catalog to the version's
  * manifest and plan Spark's own parquet scan over exactly that
  * version's dirs — with the manifest-carried schema, so time travel
  * keeps each version's shape through evolution. The write/DML surface
  * (CREATE/CTAS/INSERT/DELETE/UPDATE/MERGE/ALTER, plans/SnapshotDml) is
  * covered here too. Refusals pinned: delete-carrying versions WITHOUT a
  * declared key (a pure scan cannot apply key masks), unknown tables,
  * non-upsert merges, subqueries in DML expressions, ghost-name
  * evolution. */
/** Executor-visible invocation counter for the non-deterministic-source
  * CHECK test (local mode: executors share this JVM, so a static is the
  * honest observable). Each full execution of the tagged plan drains a
  * fresh block of values — a second execution is visible as values ≥ n. */
object NdInsertCounter {
  val n = new java.util.concurrent.atomic.AtomicLong(0)
}

class SnapshotCatalogSpec extends SparkTestBase {

  // one catalog NAME per case: Spark instantiates a catalog once per name
  // and caches the instance, so a later conf change to `root` under the
  // same name would be ignored — per-name isolation is the test-side fix
  // (production configures the name once)
  private def setupCatalog(cat: String, root: String,
      keys: (String, String)*): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    for ((tbl, k) <- keys)
      spark.conf.set(s"spark.sql.catalog.$cat.key.$tbl", k)
  }

  private def writeKv(dir: String, from: Int, until: Int): Unit = {
    import spark.implicits._
    (from until until).map(i => (i, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
  }

  test("VERSION AS OF and TIMESTAMP AS OF read the version's own data " +
      "and schema; head read follows the latest commit") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapcat1", root)
    val base = s"$root/tbl"
    writeKv(s"$base/d1", 0, 10)
    writeKv(s"$base/d2", 10, 30)
    ST.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    ST.commit(spark, base, 2, Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    assert(new java.io.File(base, "_MANIFEST_v1").setLastModified(1000000L))
    assert(new java.io.File(base, "_MANIFEST_v2").setLastModified(2000000L))
    assert(spark.sql("SELECT COUNT(*) FROM snapcat1.tbl VERSION AS OF 1")
      .head().getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(*) FROM snapcat1.tbl").head()
      .getLong(0) == 30, "an unqualified read must follow the head")
    // 1 500 000 ms = 1970-01-01 00:25:00 UTC — between the two commits
    assert(spark.sql("SELECT COUNT(*) FROM snapcat1.tbl " +
      "TIMESTAMP AS OF '1970-01-01 00:25:00'").head().getLong(0) == 10)
    // manifest-scoped metadata tables time-travel by timestamp too:
    // v1's dir roster is one data dir
    assert(spark.sql("SELECT COUNT(*) FROM snapcat1.tbl.files " +
      "TIMESTAMP AS OF '1970-01-01 00:25:00'").head().getLong(0) == 1)
    // filters push into the parquet scan through the catalog path —
    // value AND plan (the whole point of serving Spark's own parquet
    // table is that the planner features apply unchanged)
    val q = spark.sql(
      "SELECT SUM(v) FROM snapcat1.tbl VERSION AS OF 2 WHERE k >= 25")
    assert(q.head().getLong(0) == (25 until 30).sum)
    val plan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("GreaterThanOrEqual(k,25)") &&
      plan.contains("PushedFilters"),
      s"catalog scan did not push the filter:\n$plan")
  }

  test("time travel keeps each version's OWN schema through evolution") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapcat2", root)
    val base = s"$root/tbl"
    writeKv(s"$base/d1", 0, 10)
    ST.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    ST.evolveAddColumns(spark, base, "`w` BIGINT")
    assert(spark.sql("SELECT * FROM snapcat2.tbl VERSION AS OF 1")
      .columns.toSeq == Seq("k", "v"))
    val head = spark.sql("SELECT * FROM snapcat2.tbl")
    assert(head.columns.toSeq == Seq("k", "v", "w") &&
      head.where(col("w").isNull).count() == 10,
      "pre-evolution dirs must read the evolved column as NULL via SQL")
  }

  test("the history metadata table lists surviving versions with their " +
      "manifest shape; vacuumed versions drop; unknown nested names refuse") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapcat4", root)
    val base = s"$root/tbl"
    writeKv(s"$base/d1", 0, 10)
    writeKv(s"$base/d2", 10, 30)
    ST.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    ST.commit(spark, base, 2, Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    ST.evolveAddColumns(spark, base, "`w` BIGINT")
    val h = spark.sql("SELECT version, n_data_dirs, n_delete_dirs, " +
      "evolved FROM snapcat4.tbl.history ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getBoolean(3))).toSeq
    assert(h == Seq((1, 1, 0, false), (2, 2, 0, false), (3, 2, 0, true)), h)
    // commit_ms is the manifest mtime — versionAsOf's clock
    val ms = spark.sql(
      "SELECT commit_ms FROM snapcat4.tbl.history WHERE version = 1")
      .head().getLong(0)
    assert(ms == new java.io.File(base, "_MANIFEST_v1").lastModified)
    // vacuumed versions are absent, not zero-row phantoms
    ST.vacuum(spark, base, 2, 3)
    assert(spark.sql("SELECT version FROM snapcat4.tbl.history")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
    // n_rows is the countRows metadata answer: NULL for uncounted
    // versions, the sum for fully-counted ones — history never scans
    assert(spark.sql(
      "SELECT n_rows FROM snapcat4.tbl.history WHERE version = 2")
      .head().isNullAt(0))
    ST.commit(spark, base, 4,
      ST.manifest(spark, base, 3).copy(rowCounts =
        Map(s"$base/d1" -> 10L, s"$base/d2" -> 20L)))
    assert(spark.sql(
      "SELECT n_rows FROM snapcat4.tbl.history WHERE version = 4")
      .head().getLong(0) == 30L)
    intercept[Exception] {
      spark.sql("SELECT * FROM snapcat4.tbl.nope").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM snapcat4.missing.history").collect()
    }
  }

  test("SHOW TABLES lists only dirs with committed snapshots") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapcat5", root)
    writeKv(s"$root/committed/d1", 0, 5)
    ST.commit(spark, s"$root/committed", 1,
      Snapshot(Seq(s"$root/committed/d1"), Nil))
    // a dir with data but NO manifest is not a table
    writeKv(s"$root/uncommitted/d1", 0, 5)
    val listed = spark.sql("SHOW TABLES IN snapcat5")
      .select("tableName").collect().map(_.getString(0)).toSeq
    assert(listed == Seq("committed"), listed.toString)
  }

  test("delete-carrying versions without a declared key, RENAME TABLE, " +
      "and unknown tables refuse loudly") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapcat3", root)
    val base = s"$root/tbl"
    writeKv(s"$base/d1", 0, 10)
    ST.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    ST.deleteWhere(spark, base, "k", col("k") === 3) // v2 carries deletes
    val e = intercept[Exception] {
      spark.sql("SELECT COUNT(*) FROM snapcat3.tbl").collect()
    }
    assert(e.getMessage.contains("delete files"), e.getMessage)
    // v1 (pre-delete) still reads
    assert(spark.sql("SELECT COUNT(*) FROM snapcat3.tbl VERSION AS OF 1")
      .head().getLong(0) == 10)
    // compaction folds the delete and SQL reads resume at the head
    ST.compact(spark, base, "k")
    assert(spark.sql("SELECT COUNT(*) FROM snapcat3.tbl").head()
      .getLong(0) == 9)
    intercept[Exception] {
      spark.sql("ALTER TABLE snapcat3.tbl RENAME TO tbl2")
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM snapcat3.nope").collect()
    }
  }

  test("full SQL DML chain: CREATE/INSERT/CTAS/DELETE/UPDATE/MERGE/" +
      "OVERWRITE, with merge-on-read masked reads in between") {
    val root = Files.createTempDirectory("snapdml").toString
    setupCatalog("snapdml1", root, "t" -> "k")
    spark.sql("CREATE TABLE snapdml1.t (k BIGINT, v STRING, n BIGINT)")
    spark.sql("INSERT INTO snapdml1.t VALUES (1,'a',10), (2,'b',20), " +
      "(3,'c',30), (4,'d',40)")
    // CTAS = CREATE (v1 empty) + append (v2)
    spark.sql("CREATE TABLE snapdml1.src AS SELECT k, concat(v,'!') AS v, " +
      "n*2 AS n FROM snapdml1.t WHERE k >= 3")
    spark.sql("INSERT INTO snapdml1.src VALUES (9,'z',90)")
    assert(ST.headVersion(spark, s"$root/src") == 3)
    // DELETE → merge-on-read key file; SQL read re-plans with the mask
    spark.sql("DELETE FROM snapdml1.t WHERE k = 2")
    assert(ST.manifest(spark, s"$root/t",
      ST.headVersion(spark, s"$root/t")).deleteDirs.nonEmpty,
      "SQL DELETE must land as a merge-on-read key file, not a rewrite")
    assert(spark.sql("SELECT sum(k) FROM snapdml1.t").head.getLong(0) == 8)
    // UPDATE through the analyzer-rule path (copy-on-write)
    spark.sql("UPDATE snapdml1.t SET n = n + 100 WHERE k >= 3")
    assert(spark.sql("SELECT sum(n) FROM snapdml1.t").head.getLong(0) ==
      10 + 130 + 140)
    // MERGE upsert: replaces matched keys, appends new; masked keys stay
    // masked (k=2 in src would resurrect — prove it doesn't)
    spark.sql("INSERT INTO snapdml1.src VALUES (2,'ghost',1)")
    spark.sql("MERGE INTO snapdml1.t USING snapdml1.src ON t.k = src.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val rows = spark.sql("SELECT k, v, n FROM snapdml1.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "a", 10L), (3L, "c!", 60L),
      (4L, "d!", 80L), (9L, "z", 90L)), rows.toSeq.toString)
    // INSERT OVERWRITE = truncate semantics, one-dir manifest, v+1
    spark.sql("INSERT OVERWRITE snapdml1.t VALUES (7,'ow',1)")
    val head = ST.headVersion(spark, s"$root/t")
    val m = ST.manifest(spark, s"$root/t", head)
    assert(m.dataDirs.size == 1 && m.deleteDirs.isEmpty)
    assert(spark.sql("SELECT k FROM snapdml1.t").head.getLong(0) == 7)
    // metadata COUNT works on SQL-built tables
    assert(ST.countRows(spark, s"$root/t", head).contains(1L))
    // DROP TABLE removes the base dir
    spark.sql("DROP TABLE snapdml1.src")
    intercept[Exception] {
      spark.sql("SELECT * FROM snapdml1.src").collect()
    }
  }

  test("DML refusals: key-less DELETE, untranslatable predicates, " +
      "subqueries, non-upsert merges, partition transforms") {
    val root = Files.createTempDirectory("snapdml").toString
    setupCatalog("snapdml2", root, "t" -> "k")
    spark.sql("CREATE TABLE snapdml2.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO snapdml2.t VALUES (1,'a'), (2,'b')")
    // untranslatable DELETE predicate refuses (canDeleteWhere) — rows kept
    intercept[Exception] {
      spark.sql("DELETE FROM snapdml2.t WHERE length(v) > 0")
    }
    assert(spark.sql("SELECT COUNT(*) FROM snapdml2.t").head.getLong(0)
      == 2, "a refused DELETE must leave the data untouched")
    // key-less table: DELETE refuses
    spark.sql("CREATE TABLE snapdml2.nokey (k BIGINT, v STRING)")
    spark.sql("INSERT INTO snapdml2.nokey VALUES (1,'a')")
    intercept[Exception] {
      spark.sql("DELETE FROM snapdml2.nokey WHERE k = 1")
    }
    // subquery in UPDATE refuses
    val e = intercept[Exception] {
      spark.sql("UPDATE snapdml2.t SET v = (SELECT max(v) FROM snapdml2.t)")
    }
    assert(e.getMessage.contains("subquer"), e.getMessage)
    // conditional INSERT * is supported (merge3 surface); the refusal
    // boundary is now PARTIAL-COLUMN inserts — which would silently
    // NULL-pad the unnamed columns if allowed
    val e2 = intercept[Exception] {
      spark.sql("MERGE INTO snapdml2.t USING snapdml2.nokey AS s " +
        "ON t.k = s.k WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)")
    }
    assert(e2.getMessage.toLowerCase.contains("insert"), e2.getMessage)
    // merge condition must be the declared key equality
    val e3 = intercept[Exception] {
      spark.sql("MERGE INTO snapdml2.t USING snapdml2.nokey AS s " +
        "ON t.v = s.v WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e3.getMessage.contains("key"), e3.getMessage)
    // partition transforms validate at CREATE: a type-incompatible
    // transform refuses (identity/bucket/truncate/days etc. are now
    // first-class — see the hidden-partitioning tests)
    intercept[Exception] {
      spark.sql("CREATE TABLE snapdml2.p (k BIGINT, v STRING) " +
        "PARTITIONED BY (years(v))")
    }
  }

  test("partial-column MERGE: matched rows compute assigned columns " +
      "from both sides, untouched columns keep values, masked keys stay " +
      "masked; key assignment and conditional actions refuse") {
    val root = Files.createTempDirectory("snapmergew").toString
    setupCatalog("snapmw1", root, "t" -> "k", "src" -> "k")
    spark.sql("CREATE TABLE snapmw1.t (k BIGINT, v STRING, n BIGINT)")
    spark.sql("INSERT INTO snapmw1.t VALUES (1,'a',10), (2,'b',20), " +
      "(3,'c',30)")
    spark.sql("DELETE FROM snapmw1.t WHERE k = 3") // masked key
    spark.sql("CREATE TABLE snapmw1.src AS SELECT * FROM VALUES " +
      "(1,'A',100), (3,'C',300), (9,'z',900) AS s(k, v, n)")
    spark.sql("MERGE INTO snapmw1.t AS t USING snapmw1.src AS s " +
      "ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET n = t.n + s.n " +
      "WHEN NOT MATCHED THEN INSERT *")
    val rows = spark.sql("SELECT k, v, n FROM snapmw1.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // k=1 matched: n added, v UNTOUCHED; k=2 unmatched-by-source: intact;
    // k=3 masked: updated-but-invisible (erase cascade); k=9 inserted
    assert(rows.toSeq == Seq((1L, "a", 110L), (2L, "b", 20L),
      (9L, "z", 900L)), rows.toSeq.toString)
    // assigning the key column refuses
    val e = intercept[Exception] {
      spark.sql("MERGE INTO snapmw1.t AS t USING snapmw1.src AS s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET k = s.k + 1 " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e.getMessage.contains("key"), e.getMessage)
    // an upsert whose only assignment is an identity: matched rows stay
    // unchanged, unmatched source rows insert, the masked key stays
    // masked
    spark.sql("CREATE TABLE snapmw1.src2 AS SELECT * FROM VALUES " +
      "(1,'X',1), (3,'Y',3), (5,'new',500) AS s(k, v, n)")
    spark.sql("MERGE INTO snapmw1.t AS t USING snapmw1.src2 AS s " +
      "ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET n = t.n " +
      "WHEN NOT MATCHED THEN INSERT *")
    val rows2 = spark.sql("SELECT k, v, n FROM snapmw1.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows2.toSeq == Seq((1L, "a", 110L), (2L, "b", 20L),
      (5L, "new", 500L), (9L, "z", 900L)), rows2.toSeq.toString)
  }

  test("generalized MERGE: conditional matched UPDATE/DELETE in clause " +
      "order, NOT MATCHED BY SOURCE DELETE, insert-less merges") {
    val root = Files.createTempDirectory("snapmergea").toString
    setupCatalog("snapma1", root, "t" -> "k", "src" -> "k")
    spark.sql("CREATE TABLE snapma1.t (k BIGINT, v STRING, n BIGINT)")
    spark.sql("INSERT INTO snapma1.t VALUES (1,'a',10), (2,'b',20), " +
      "(3,'c',30), (4,'d',40)")
    spark.sql("CREATE TABLE snapma1.src AS SELECT * FROM VALUES " +
      "(1,'A',100), (2,'B',5), (3,'C',300), (9,'z',900) AS s(k, v, n)")
    // first-match: k=1 n=10<15 → DELETE; k=2 (s.n=5<15... t-side cond)
    // use conds referencing both sides: delete where s.n >= 100, else
    // update n = t.n + s.n — k=1 (s.n=100) and k=3 (s.n=300) delete,
    // k=2 (s.n=5) updates to 25; k=9 inserts; k=4 untouched
    spark.sql("MERGE INTO snapma1.t AS t USING snapma1.src AS s " +
      "ON t.k = s.k " +
      "WHEN MATCHED AND s.n >= 100 THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET n = t.n + s.n " +
      "WHEN NOT MATCHED THEN INSERT *")
    val rows = spark.sql("SELECT k, v, n FROM snapma1.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((2L, "b", 25L), (4L, "d", 40L),
      (9L, "z", 900L)), rows.toSeq.toString)
    // clause ORDER matters: an earlier clause whose condition holds
    // CONSUMES the match — the trailing unconditional DELETE never
    // fires for rows the UPDATE took (first-match). Also: insert-less
    // merge is legal.
    spark.sql("MERGE INTO snapma1.t AS t USING snapma1.src AS s " +
      "ON t.k = s.k " +
      "WHEN MATCHED AND t.n < 1000 THEN UPDATE SET n = t.n + 1 " +
      "WHEN MATCHED THEN DELETE")
    val rows2 = spark.sql("SELECT k, n FROM snapma1.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows2.toSeq == Seq((2L, 26L), (4L, 40L), (9L, 901L)),
      rows2.toSeq.toString)
    // ordered NOT MATCHED BY SOURCE UPDATE then DELETE: the key-absent
    // row k=4 (n=40) takes the FIRST clause (update, target-only
    // expressions) and is NOT deleted by the trailing unconditional
    // delete — first-match on the by-source side too
    spark.sql("MERGE INTO snapma1.t AS t USING snapma1.src AS s " +
      "ON t.k = s.k " +
      "WHEN NOT MATCHED BY SOURCE AND n >= 30 THEN UPDATE " +
      "SET n = n + 1000 " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    val rows2b = spark.sql("SELECT k, n FROM snapma1.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows2b.toSeq == Seq((2L, 26L), (4L, 1040L), (9L, 901L)),
      rows2b.toSeq.toString)
    // NOT MATCHED BY SOURCE DELETE with a narrowing target-only
    // condition: keys absent from src (k=4, n=1040) delete where it holds
    spark.sql("MERGE INTO snapma1.t AS t USING snapma1.src AS s " +
      "ON t.k = s.k " +
      "WHEN NOT MATCHED BY SOURCE AND n >= 1000 THEN DELETE")
    val rows3 = spark.sql("SELECT k FROM snapma1.t ORDER BY k")
      .collect().map(_.getLong(0))
    assert(rows3.toSeq == Seq(2L, 9L), rows3.toSeq.toString)
    // by-source conditions may not reference source columns
    val e = intercept[Exception] {
      spark.sql("MERGE INTO snapma1.t AS t USING snapma1.src AS s " +
        "ON t.k = s.k " +
        "WHEN NOT MATCHED BY SOURCE AND s.n > 0 THEN DELETE")
    }
    assert(e.getMessage.contains("target columns only") ||
      e.getMessage.toLowerCase.contains("resolve"), e.getMessage)
    // matched DELETE of a delete-masked key: no resurrection, no error
    spark.sql("DELETE FROM snapma1.t WHERE k = 9")
    spark.sql("MERGE INTO snapma1.t AS t USING snapma1.src AS s " +
      "ON t.k = s.k WHEN MATCHED THEN DELETE")
    val rows4 = spark.sql("SELECT k FROM snapma1.t ORDER BY k")
      .collect().map(_.getLong(0))
    assert(rows4.toSeq == Seq.empty, rows4.toSeq.toString)
  }

  test("CALL procedures: maintenance ops run via SQL with report rows; " +
      "named args bind; unknown procedures refuse with the roster") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapcall").toString
    setupCatalog("snapcall1", root)
    val base = s"$root/t"
    (0 until 50).map(k => (k.toLong, k.toLong)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/d1")
    ST.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    ST.deleteWhere(spark, base, "k", col("k") < 10)
    // positional args + report row
    val c = spark.sql("CALL snapcall1.system.compact('t', 'k')").head
    assert(c.getInt(0) == 3 && c.getInt(3) == 1, c.toString)
    assert(ST.readVersion(spark, base, 3, "k").count() == 40)
    // named args (Spark binds against the declared parameters); a
    // single-dir table has nothing to bin — the no-op REPORT is the pin
    val o = spark.sql("CALL snapcall1.system.optimize(" +
      "tbl => 't', target_bytes => 999999999)").head
    assert(o.getInt(0) == 3 && o.getInt(1) == 0,
      s"single-dir bin-pack must no-op at the same head: $o")
    // restore rolls back to pre-delete content with history kept
    assert(spark.sql("CALL snapcall1.system.restore('t', 1)")
      .head.getInt(0) == 4)
    assert(spark.sql("SELECT count(*) FROM snapcall1.t").head
      .getLong(0) == 50)
    // zero-copy clone through CALL; the clone reads independently
    spark.sql("CALL snapcall1.system.clone_table('t', 3, 't2')")
    assert(spark.sql("SELECT count(*) FROM snapcall1.t2").head
      .getLong(0) == 40)
    // vacuum retires old versions
    spark.sql("CALL snapcall1.system.vacuum('t', 3)")
    intercept[Exception] { ST.manifest(spark, base, 2) }
    // SHOW PROCEDURES lists the full roster end-to-end (listProcedures
    // through the actual SQL statement, not just the API)
    val shown = spark.sql("SHOW PROCEDURES IN snapcall1.system")
      .collect().flatMap(r => (0 until r.length)
        .filter(i => !r.isNullAt(i) && r.get(i).isInstanceOf[String])
        .map(r.getString)).toSet
    val roster = Set("compact", "optimize", "zorder", "vacuum",
      "vacuum_retain", "restore", "clone_table", "create_tag",
      "create_branch", "fast_forward", "expire_snapshots", "analyze",
      "drop_tag", "drop_branch")
    assert(roster.subsetOf(shown),
      s"SHOW PROCEDURES missing ${roster -- shown} (shown: $shown)")
    // unknown procedure refuses; the roster rides the cause chain
    // (Spark wraps loadProcedure failures in FAILED_TO_LOAD_ROUTINE)
    val e = intercept[Exception] {
      spark.sql("CALL snapcall1.system.nope('t')")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("; ")
    assert(msgs.contains("nope") &&
      (msgs.contains("compact") || msgs.contains("FAILED_TO_LOAD")), msgs)
  }

  test("WAP refs: tags read via VERSION AS OF, branch writes invisible " +
      "to main until fast_forward, stale-branch publish refuses") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapwap").toString
    setupCatalog("snapwap1", root, "t" -> "k")
    spark.sql("CREATE TABLE snapwap1.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO snapwap1.t SELECT id, id * 2 FROM range(10)")
    val base = s"$root/t"
    // tag the pre-WAP state; re-tag identical = no-op, re-point refuses
    spark.sql("CALL snapwap1.system.create_tag('t', 'prewap', 2)")
    spark.sql("CALL snapwap1.system.create_tag('t', 'prewap', 2)")
    intercept[Exception] {
      spark.sql("CALL snapwap1.system.create_tag('t', 'prewap', 1)")
    }
    // all-digit and delimiter ref names refuse
    intercept[Exception] {
      spark.sql("CALL snapwap1.system.create_tag('t', '42', 2)")
    }
    // branch, write to the branch via the API, audit via VERSION AS OF
    val fork = spark.sql(
      "CALL snapwap1.system.create_branch('t', 'audit')").head.getInt(0)
    assert(fork == 2, s"fork at main head v2, got v$fork")
    val bb = ST.branchBase(base, "audit")
    ST.deleteWhere(spark, bb, "k", col("k") < 3)
    (100L until 103L).map(k => (k, k * 2)).toDF("k", "v")
      .createOrReplaceTempView("wap_batch")
    ST.ingestBatch(spark, bb,
      spark.table("wap_batch"), 0L)
    // audit read sees the branch head (7 rows + 3 inserts)
    assert(spark.sql(
      "SELECT count(*) FROM snapwap1.t VERSION AS OF 'audit'")
      .head.getLong(0) == 10)
    assert(spark.sql("SELECT count(*) FROM snapwap1.t VERSION AS OF " +
      "'audit' WHERE k >= 100").head.getLong(0) == 3)
    // main is UNTOUCHED pre-publish — both content and head version
    assert(spark.sql("SELECT count(*) FROM snapwap1.t")
      .head.getLong(0) == 10)
    assert(spark.sql("SELECT count(*) FROM snapwap1.t WHERE k >= 100")
      .head.getLong(0) == 0)
    assert(ST.headVersion(spark, base) == 2)
    // publish: main fast-forwards to the branch head atomically
    assert(spark.sql("CALL snapwap1.system.fast_forward('t', 'audit')")
      .head.getInt(0) == 3)
    assert(spark.sql("SELECT count(*) FROM snapwap1.t WHERE k >= 100")
      .head.getLong(0) == 3)
    assert(spark.sql("SELECT count(*) FROM snapwap1.t")
      .head.getLong(0) == 10)
    // the tag still reads the pre-WAP content
    assert(spark.sql(
      "SELECT count(*) FROM snapwap1.t VERSION AS OF 'prewap'")
      .head.getLong(0) == 10)
    assert(spark.sql("SELECT sum(k) FROM snapwap1.t VERSION AS OF " +
      "'prewap'").head.getLong(0) == 45)
    // a second branch forked pre-publish is now STALE: publish refuses
    // (main advanced) instead of silently dropping the WAP commit
    ST.createBranch(spark, base, "audit2") // forks at v3 (current head)
    spark.sql("INSERT INTO snapwap1.t VALUES (999, 0)") // main advances
    val e = intercept[Exception] {
      spark.sql("CALL snapwap1.system.fast_forward('t', 'audit2')")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("; ")
    assert(msgs.contains("stale") || msgs.contains("advanced"), msgs)
    // the refs metadata table lists tags and branches via SQL
    val refs = spark.sql("SELECT name, kind, version, fork_version " +
      "FROM snapwap1.t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3)))
    assert(refs.toSeq == Seq(("audit", "branch", 3, 2),
      ("audit2", "branch", 1, 3), ("prewap", "tag", 2, -1)),
      refs.toSeq.toString)
    // unknown ref refuses with a clear message
    intercept[Exception] {
      spark.sql("SELECT * FROM snapwap1.t VERSION AS OF 'nope'").collect()
    }
    // ref-aware retention: expire_snapshots clamps keep_from to the
    // oldest ref (the prewap tag at v2 / audit fork at v2) — an
    // aggressive keep_from can never break a named ref
    spark.sql("CALL snapwap1.system.expire_snapshots('t', 99)").collect()
    intercept[Exception] { ST.manifest(spark, base, 1) } // v1 expired
    assert(spark.sql(
      "SELECT count(*) FROM snapwap1.t VERSION AS OF 'prewap'")
      .head.getLong(0) == 10, "the tag's target version must survive")
    // a PUBLISHED branch cannot drop while main references its dirs
    // (v3 = the publish commit still holds bb-local delete/ingest dirs)
    val ed = intercept[Exception] {
      spark.sql("CALL snapwap1.system.drop_branch('t', 'audit')")
    }
    val edMsgs = Iterator.iterate(ed: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("; ")
    assert(edMsgs.contains("vacuum"), edMsgs)
    // the never-published branch drops cleanly; dropping a tag releases
    // the retention clamp and the refs table reflects both
    spark.sql("CALL snapwap1.system.drop_branch('t', 'audit2')").collect()
    spark.sql("CALL snapwap1.system.drop_tag('t', 'prewap')").collect()
    val refs2 = spark.sql("SELECT name FROM snapwap1.t.refs ORDER BY name")
      .collect().map(_.getString(0))
    assert(refs2.toSeq == Seq("audit"), refs2.toSeq.toString)
  }

  test("branch-addressed SQL writes: INSERT/UPDATE/DELETE/MERGE into " +
      "<tbl>.branch_<name> commit branch versions invisible to main " +
      "until fast_forward; stale re-publish refuses") {
    val root = Files.createTempDirectory("snapwapw").toString
    setupCatalog("snapwapw1", root, "t" -> "k")
    spark.sql("CREATE TABLE snapwapw1.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO snapwapw1.t SELECT id, id * 2 FROM range(10)")
    val base = s"$root/t"
    // writing to a branch that does not exist refuses loudly
    intercept[Exception] {
      spark.sql("INSERT INTO snapwapw1.t.branch_wip VALUES (100, 200)")
    }
    assert(spark.sql("CALL snapwapw1.system.create_branch('t', 'wip')")
      .head.getInt(0) == 2)
    val bb = ST.branchBase(base, "wip")
    // the full SQL write surface against the BRANCH table — one branch
    // version per statement, main's head never moves
    spark.sql(
      "INSERT INTO snapwapw1.t.branch_wip VALUES (100, 200), (101, 202)")
    spark.sql(
      "UPDATE snapwapw1.t.branch_wip SET v = v + 1 WHERE k = 100")
    spark.sql("DELETE FROM snapwapw1.t.branch_wip WHERE k = 0")
    spark.sql(
      """MERGE INTO snapwapw1.t.branch_wip AS t USING (
        |  SELECT 101 AS k, 999 AS v UNION ALL SELECT 102, 204
        |) AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(ST.headVersion(spark, bb) == 5,
      s"4 SQL writes after the clone must land bb at v5, got " +
        s"v${ST.headVersion(spark, bb)}")
    // audit reads: the nested branch table AND the named-ref spelling
    // agree (base 1..9 = 90, plus 201 + 999 + 204)
    for (src <- Seq("snapwapw1.t.branch_wip",
        "snapwapw1.t VERSION AS OF 'wip'")) {
      val r = spark.sql(s"SELECT COUNT(*) AS n, SUM(v) AS s FROM $src")
        .head
      assert((r.getLong(0), r.getLong(1)) == ((12L, 1494L)), src)
    }
    // main is untouched pre-publish
    assert(spark.sql("SELECT COUNT(*) FROM snapwapw1.t")
      .head.getLong(0) == 10)
    assert(ST.headVersion(spark, base) == 2)
    // publish = the atomic visibility flip
    assert(spark.sql("CALL snapwapw1.system.fast_forward('t', 'wip')")
      .head.getInt(0) == 3)
    val m = spark.sql("SELECT COUNT(*) AS n, SUM(v) AS s FROM snapwapw1.t")
      .head
    assert((m.getLong(0), m.getLong(1)) == ((12L, 1494L)))
    // main advanced past the fork: further branch writes still commit
    // (audit continues) but a RE-publish refuses as stale instead of
    // silently dropping main's newer history
    spark.sql("INSERT INTO snapwapw1.t.branch_wip VALUES (500, 0)")
    val e = intercept[Exception] {
      spark.sql("CALL snapwapw1.system.fast_forward('t', 'wip')")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
      .mkString("; ")
    assert(msgs.contains("stale") || msgs.contains("advanced"), msgs)
  }

  test("CALL analyze computes missing dir bounds incrementally and " +
      "enables pruning on tables built without stats") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapanalyze").toString
    setupCatalog("snapan1", root)
    val base = s"$root/t"
    for (i <- 0 until 2)
      (i * 100 until i * 100 + 100).map(k => (k.toLong, s"v$k"))
        .toDF("k", "v").write.mode("overwrite").parquet(s"$base/d$i")
    ST.commit(spark, base, 1,
      Snapshot(Seq(s"$base/d0", s"$base/d1"), Nil)) // NO bounds
    val a1 = spark.sql("CALL snapan1.system.analyze('t', 'k')").head
    assert(a1.getInt(0) == 2 && a1.getInt(1) == 2 && a1.getInt(2) == 0,
      a1.toString)
    assert(ST.manifest(spark, base, 2).bounds.map(_.dir).toSet ==
      Set(s"$base/d0", s"$base/d1"))
    // pruning now engages on the analyzed table
    assert(spark.sql("SELECT count(*) FROM snapan1.t WHERE k >= 150")
      .head.getLong(0) == 50)
    assert(Option(graft.plans.SnapshotDmlRule.lastPrune.get(base))
      .contains((1, 2)), "analyze must enable dir pruning")
    // incremental: a new uncovered dir is the ONLY one re-scanned
    (200L until 300L).map(k => (k, s"v$k")).toDF("k", "v")
      .write.parquet(s"$base/d2")
    val s2 = ST.manifest(spark, base, 2)
    ST.commit(spark, base, 3, s2.copy(dataDirs = s2.dataDirs :+ s"$base/d2"))
    val a2 = spark.sql("CALL snapan1.system.analyze('t', 'k')").head
    assert(a2.getInt(0) == 4 && a2.getInt(1) == 1, a2.toString)
    assert(ST.manifest(spark, base, 4).bounds.size == 3)
    // fully covered: no-op at the same head, no empty version
    val a3 = spark.sql("CALL snapan1.system.analyze('t', 'k')").head
    assert(a3.getInt(0) == 4 && a3.getInt(1) == 0 && a3.getInt(2) == 0,
      a3.toString)
    assert(ST.headVersion(spark, base) == 4)
  }

  test("predicate-driven SQL dir pruning: range conjuncts prune against " +
      "manifest bounds, err wide only, and never lose rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapprune").toString
    setupCatalog("snapprune1", root)
    val base = s"$root/t"
    // three dirs with disjoint k ranges, bounds recorded
    for (i <- 0 until 3)
      (i * 100 until i * 100 + 100).map(k => (k.toLong, s"v$k"))
        .toDF("k", "v").write.mode("overwrite").parquet(s"$base/d$i")
    val dirs = (0 until 3).map(i => s"$base/d$i")
    ST.commit(spark, base, 1, Snapshot(dirs, Nil,
      bounds = ST.computeBounds(spark, dirs, "k")))
    def prune() = Option(
      graft.plans.SnapshotDmlRule.lastPrune.get(base))
    // a range predicate prunes; residual conjuncts still evaluate
    val r1 = spark.sql("SELECT count(*), sum(k) FROM snapprune1.t " +
      "WHERE k >= 150 AND k < 250 AND length(v) > 0").head
    assert(prune().contains((2, 3)), s"expected 2/3 kept: ${prune()}")
    assert(r1.getLong(0) == 100 && r1.getLong(1) == (150 until 250).sum)
    // equality point lookup keeps one dir
    assert(spark.sql("SELECT count(*) FROM snapprune1.t WHERE k = 42")
      .head.getLong(0) == 1)
    assert(prune().contains((1, 3)), prune().toString)
    // a box outside every dir plans an empty relation, zero rows
    assert(spark.sql("SELECT count(*) FROM snapprune1.t WHERE k > 5000")
      .head.getLong(0) == 0)
    assert(prune().contains((0, 3)), prune().toString)
    // an IN list prunes to the dirs holding ANY listed value — the
    // point-lookup shape (42 and 61 live in d0; 542 lives nowhere)
    val rIn = spark.sql("SELECT count(*), sum(k) FROM snapprune1.t " +
      "WHERE k IN (42, 61, 542)").head
    assert(prune().contains((1, 3)),
      s"IN probe must keep only d0: ${prune()}")
    assert(rIn.getLong(0) == 2 && rIn.getLong(1) == 103)
    // an IN list spanning two dirs keeps exactly those two
    assert(spark.sql("SELECT count(*) FROM snapprune1.t " +
      "WHERE k IN (42, 242)").head.getLong(0) == 2)
    assert(prune().contains((2, 3)), prune().toString)
    // an un-extractable predicate keeps every dir (err wide)
    val all = spark.sql(
      "SELECT count(*) FROM snapprune1.t WHERE k % 7 = 0").head.getLong(0)
    assert(all == (0 until 300).count(_ % 7 == 0))
    // pruning never drops rows the predicate keeps: full-range predicate
    assert(spark.sql("SELECT count(*) FROM snapprune1.t WHERE k >= 0")
      .head.getLong(0) == 300)
  }

  test("SQL ALTER TABLE rename/drop evolution: mapped reads, " +
      "schema-versioned time travel, ghost-name refusals") {
    val root = Files.createTempDirectory("snapev").toString
    setupCatalog("snapev1", root)
    spark.sql("CREATE TABLE snapev1.t (k BIGINT, v STRING, n BIGINT)")
    spark.sql("INSERT INTO snapev1.t VALUES (1,'a',10), (2,'b',20)")
    spark.sql("ALTER TABLE snapev1.t ADD COLUMNS (extra STRING)")
    spark.sql("ALTER TABLE snapev1.t RENAME COLUMN v TO label")
    // pre-rename dirs read through the mapping (NOT as NULLs)
    assert(spark.sql("SELECT label FROM snapev1.t ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    // post-rename appends carry the new name physically and read directly
    spark.sql("INSERT INTO snapev1.t VALUES (3,'c',30,'x')")
    assert(spark.sql(
      "SELECT sum(n) FROM snapev1.t WHERE label IS NOT NULL")
      .head.getLong(0) == 60)
    spark.sql("ALTER TABLE snapev1.t DROP COLUMN n")
    assert(spark.sql("SELECT * FROM snapev1.t").columns.toSeq ==
      Seq("k", "label", "extra"))
    // time travel reads the pre-evolution shape and names
    assert(spark.sql("SELECT * FROM snapev1.t VERSION AS OF 2")
      .columns.toSeq == Seq("k", "v", "n"))
    // ghost-name locks: re-ADD of dropped 'n', rename onto 'v'
    intercept[Exception] {
      spark.sql("ALTER TABLE snapev1.t ADD COLUMNS (n BIGINT)")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE snapev1.t RENAME COLUMN k TO v")
    }
    // un-rename IS allowed (maps back to the physical name)
    spark.sql("ALTER TABLE snapev1.t RENAME COLUMN label TO v")
    assert(spark.sql("SELECT v FROM snapev1.t ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    val headSnap = ST.manifest(spark, s"$root/t",
      ST.headVersion(spark, s"$root/t"))
    assert(headSnap.renames.isEmpty,
      "an un-rename must drop the mapping entirely")
    // type change is a rewrite: refuse
    intercept[Exception] {
      spark.sql("ALTER TABLE snapev1.t ALTER COLUMN k TYPE INT")
    }
  }

  test("analyze_columns: incremental per-dir stats, metadata table, " +
      "physically-absent columns uncovered, rewrite drops stale entries") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapcs1", root)
    val base = s"$root/t"
    import spark.implicits._
    (0 until 100).map(i => (i.toLong, s"g${i % 7}"))
      .toDF("k", "g").write.parquet(s"$base/d1")
    (100 until 160).map(i => (i.toLong, s"g${i % 13}"))
      .toDF("k", "g").write.parquet(s"$base/d2")
    ST.commit(spark, base, 1, Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    val r1 = spark.sql(
      "CALL snapcs1.system.analyze_columns('t', 'k,g')").head
    assert((r1.getInt(0), r1.getInt(1), r1.getInt(2)) == ((2, 4, 0)), r1)
    val s2 = ST.manifest(spark, base, 2)
    assert(ST.manifestRowCount(s2).contains(160L),
      "analyze_columns must backfill per-dir row counts")
    assert(ST.manifestColumnStats(s2).get("k").contains((160L, 0L)),
      "disjoint per-dir key ranges must fold to the exact table ndv")
    assert(ST.manifestColumnStats(s2).get("g").contains((13L, 0L)),
      "overlapping per-dir values fold to the TRUE table ndv via the " +
        "mergeable sketches (d1 ⊂ d2's value set — the blind 7+13 sum " +
        "is exactly the overstatement the sketch fold removes)")
    // the metadata table serves the per-dir roster
    val meta = spark.sql(
      "SELECT dname, col, ndv, nulls FROM snapcs1.t.colstats " +
        "ORDER BY dname, col").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(meta == Seq(("d1", "g", 7L, 0L), ("d1", "k", 100L, 0L),
      ("d2", "g", 13L, 0L), ("d2", "k", 60L, 0L)), meta.toString)
    // a second CALL is incremental: nothing to scan, no empty commit
    val r2 = spark.sql(
      "CALL snapcs1.system.analyze_columns('t', 'k,g')").head
    assert((r2.getInt(0), r2.getInt(1)) == ((2, 0)), r2)
    assert(ST.headVersion(spark, base) == 2,
      "an all-covered analyze must not commit an empty version")
    // an append leaves old entries alone and scans ONLY the new dir
    (160 until 200).map(i => (i.toLong, s"g${i % 3}"))
      .toDF("k", "g").write.parquet(s"$base/d3")
    ST.commit(spark, base, 3, s2.copy(dataDirs = s2.dataDirs :+ s"$base/d3"))
    val r3 = spark.sql(
      "CALL snapcs1.system.analyze_columns('t', 'k,g')").head
    assert((r3.getInt(0), r3.getInt(1), r3.getInt(2)) == ((4, 2, 0)), r3)
    assert(ST.manifestRowCount(ST.manifest(spark, base, 4))
      .contains(200L))
    // a column physically absent from one dir stays uncovered (pruning/
    // stats err toward "unknown", never a fabricated entry)
    (200 until 210).map(i => Tuple1(i.toLong)).toDF("k")
      .write.parquet(s"$base/d4")
    val s4 = ST.manifest(spark, base, 4)
    ST.commit(spark, base, 5, s4.copy(dataDirs = s4.dataDirs :+ s"$base/d4"))
    val r5 = spark.sql(
      "CALL snapcs1.system.analyze_columns('t', 'k,g')").head
    assert((r5.getInt(0), r5.getInt(1), r5.getInt(2)) == ((6, 1, 1)), r5)
    val s6 = ST.manifest(spark, base, 6)
    assert(!ST.manifestColumnStats(s6).contains("g"),
      "a partially-covered column must NOT fold to table-level stats")
    assert(ST.manifestColumnStats(s6).contains("k"))
    // an overwrite rewrite drops entries for the dirs it removed —
    // commit normalization, not reader-side special cases
    (0 until 5).map(i => (i.toLong, "z")).toDF("k", "g")
      .write.parquet(s"$base/d5")
    ST.commit(spark, base, 7,
      s6.copy(dataDirs = Seq(s"$base/d5"), rowCounts = Map.empty))
    assert(ST.manifest(spark, base, 7).colStats.isEmpty,
      "colstats for rewritten-away dirs must not survive the commit")
    // null counting: exact, per dir
    val r7 = spark.sql(
      "CALL snapcs1.system.analyze_columns('t', 'g')").head
    assert(r7.getInt(1) == 1)
    assert(ST.manifest(spark, base, 8).colStats
      .map(_.copy(sketch = None)) ==
      Seq(ST.ColStats(s"$base/d5", "g", 1L, 0L)))
    // stats SURVIVE rewrites: an UPDATE recounts its fresh dir for every
    // fully-covered column (and the row count), so CBO sizing and
    // metadata COUNT keep working without a re-ANALYZE
    ST.updateWhere(spark, base, col("k") === 2L,
      Seq("g" -> lit("zz"))): Unit
    val s9 = ST.manifest(spark, base, 9)
    assert(ST.manifestRowCount(s9).contains(5L),
      "a rewrite must recount its fresh dir when the table was counted")
    assert(ST.manifestColumnStats(s9).get("g").contains((2L, 0L)),
      "a rewrite must recompute covered columns' stats for its fresh dir")
    // the files metadata table reports the head's dir roster + coverage
    val files = spark.sql("SELECT dname, kind, n_rows, n_colstats " +
      "FROM snapcs1.t.files ORDER BY dname").collect()
    assert(files.length == 1 && files(0).getString(1) == "data" &&
      files(0).getLong(2) == 5L && files(0).getInt(3) == 1,
      files.mkString(", "))
    // vacuum dry-run: the survey without the deletions
    val dr = spark.sql("CALL snapcs1.system.vacuum_dry_run('t', 9)").head
    assert((dr.getInt(0), dr.getInt(1), dr.getInt(2)) == ((8, 5, 1)),
      s"dry run must report 8 retirable manifests, 5 orphanable dirs: $dr")
    assert(new java.io.File(s"$base/d1").exists &&
      new java.io.File(ST.manifestFile(base, 1)).exists,
      "a dry run must delete NOTHING")
    // manifest-scoped metadata tables time-travel: v8's roster is the
    // pre-rewrite d5 entry, read exactly as data time travel reads v8
    val old8 = spark.sql(
      "SELECT dname, col, ndv FROM snapcs1.t.colstats VERSION AS OF 8")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(old8.toSeq == Seq(("d5", "g", 1L)), old8.mkString(", "))
    // table-scoped metadata (history/refs) refuses a version qualifier
    intercept[Exception] {
      spark.sql("SELECT * FROM snapcs1.t.history VERSION AS OF 8")
        .collect()
    }
    // '*' analyzes every schema column: the rewrite dir lacked only k
    // (g was recounted as a tracked column), so exactly one entry lands
    val rw = spark.sql("CALL snapcs1.system.analyze_columns('t', '*')")
      .head
    assert((rw.getInt(0), rw.getInt(1), rw.getInt(2)) == ((10, 1, 0)), rw)
    assert(ST.manifestColumnStats(ST.manifest(spark, base, 10))
      .contains("k"))
    // DESCRIBE DETAIL: the one-row manifest summary
    val det = spark.sql("SELECT version, n_data_dirs, n_rows, " +
      "n_colstats, n_checks, evolved FROM snapcs1.t.detail").head
    assert((det.getInt(0), det.getInt(1), det.getLong(2), det.getInt(3),
      det.getInt(4), det.getBoolean(5)) == ((10, 1, 5L, 2, 0, false)),
      det.toString)
    // expire_dry_run honors the ref clamp without deleting: a tag at v2
    // clamps keep_from 10 down to 2, so only v1 is retirable
    spark.sql("CALL snapcs1.system.create_tag('t', 'rel', 2)").collect()
    val edr = spark.sql("CALL snapcs1.system.expire_dry_run('t', 10)")
      .head
    assert(edr.getInt(0) == 1,
      s"the tag at v2 must clamp retirement to v1 only: $edr")
    assert(new java.io.File(ST.manifestFile(base, 1)).exists,
      "expire_dry_run must delete NOTHING")
  }

  test("manifest colstats flow to Catalyst: numRows + column stats let " +
      "CBO broadcast a filtered dimension whose table is past the " +
      "threshold") {
    val root = Files.createTempDirectory("snapcat").toString
    val base = s"$root/dim"
    import spark.implicits._
    // dim: 20k rows, tag ndv=500 — physical parquet far above the 16KB
    // threshold below, but an equality on tag selects ~40 rows
    (0 until 20000).map(i =>
      (i.toLong, s"tag_${i % 500}", s"payload_payload_payload_$i"))
      .toDF("k", "tag", "payload").repartition(2)
      .write.parquet(s"$base/d1")
    ST.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    // fact: big enough that IT never broadcasts
    val factPath = s"$root/fact"
    (0 until 40000).map(i => (i.toLong % 20000, i.toLong))
      .toDF("fk", "x").write.parquet(factPath)
    // isolated SQLConf: CBO + a tiny threshold + static planning (the
    // pin is the STATIC stats-driven decision; AQE would re-plan from
    // runtime sizes in both arms and mask the difference). newSession
    // shares the context but owns its conf — parallel suites unaffected.
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.snapcs2",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.snapcs2.root", root)
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", (16 * 1024).toString)
    s.read.parquet(factPath).createOrReplaceTempView("fact")
    val dimBytes = new java.io.File(s"$base/d1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(dimBytes > 16 * 1024,
      s"fixture too small to prove anything: dim is $dimBytes bytes")
    def plan(q: String): String = {
      val p = s.sql(q).queryExecution.executedPlan.toString
      p.split("== Initial Plan ==")(0)
    }
    val join = "SELECT f.x, d.payload FROM fact f JOIN %s d " +
      "ON f.fk = d.k WHERE d.tag = 'tag_42'"
    // v1: no manifest stats — the filtered dim is sized by physical
    // bytes and stays a shuffle join
    val pre = plan(join.format("snapcs2.dim VERSION AS OF 1"))
    assert(!pre.contains("BroadcastHashJoin"),
      s"without stats the dim must not broadcast:\n$pre")
    val r = s.sql(
      "CALL snapcs2.system.analyze_columns('dim', 'k,tag')").head
    assert(r.getInt(0) == 2 && r.getInt(1) == 2)
    // head (v2): numRows + tag ndv reach Catalyst; CBO sizes the
    // equality filter at rows/ndv and the planner broadcasts the sliver
    val post = plan(join.format("snapcs2.dim"))
    assert(post.contains("BroadcastHashJoin"),
      s"manifest stats must drive the broadcast decision:\n$post")
    // and the stats are metadata-only claims with real values: the
    // joined result is identical in both arms
    val a = s.sql(join.format("snapcs2.dim VERSION AS OF 1"))
      .collect().map(_.toString).sorted
    val b = s.sql(join.format("snapcs2.dim")).collect()
      .map(_.toString).sorted
    assert(a.sameElements(b), "stats must never change results")
    // pushdown survives the stats wrapper (the explain metadata is
    // forwarded, not swallowed)
    val pf = plan("SELECT payload FROM snapcs2.dim WHERE k >= 19990")
    assert(pf.contains("PushedFilters") &&
      pf.contains("GreaterThanOrEqual(k,19990)"),
      s"stats wrapper must not break filter pushdown:\n$pf")
  }

  test("manifest-answered aggregates: min/max/count from metadata with " +
      "zero file reads; filters, distinct, and uncovered dirs fall back " +
      "to the real scan") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapcs3", root)
    val base = s"$root/t"
    import spark.implicits._
    Seq((3L, "b", java.sql.Date.valueOf("2020-01-03")),
      (1L, "a", java.sql.Date.valueOf("2020-01-01")))
      .toDF("k", "s", "d").write.parquet(s"$base/d1")
    Seq((9L, "z", java.sql.Date.valueOf("2020-02-09")),
      (5L, null.asInstanceOf[String],
        java.sql.Date.valueOf("2020-01-20")))
      .toDF("k", "s", "d").write.parquet(s"$base/d2")
    ST.commit(spark, base, 1,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil,
        bounds = Seq("k", "s", "d")
          .flatMap(c => ST.computeBounds(spark, Seq(s"$base/d1",
            s"$base/d2"), c))))
    spark.sql("CALL snapcs3.system.analyze_columns('t', 's')").collect()
    def planOf(q: String): String = {
      val p = spark.sql(q).queryExecution.executedPlan.toString
      p.split("== Initial Plan ==")(0)
    }
    val agg = "SELECT MIN(k) AS a, MAX(k) AS b, MIN(s) AS c, " +
      "MAX(s) AS d, MIN(d) AS e, MAX(d) AS f, COUNT(*) AS g, " +
      "COUNT(s) AS h FROM snapcs3.t"
    val p1 = planOf(agg)
    assert(p1.contains("ManifestAggregate") &&
      !p1.contains("Format: parquet"),
      s"unfiltered min/max/count must answer from the manifest:\n$p1")
    val row = spark.sql(agg).head
    assert((row.getLong(0), row.getLong(1), row.getString(2),
      row.getString(3), row.getDate(4).toString, row.getDate(5).toString,
      row.getLong(6), row.getLong(7)) ==
      ((1L, 9L, "a", "z", "2020-01-01", "2020-02-09", 4L, 3L)))
    // a WHERE clause makes manifest numbers unsound → real scan, and the
    // value is the filtered one
    val pFiltered = planOf(
      "SELECT COUNT(*) AS n FROM snapcs3.t WHERE k > 3")
    assert(!pFiltered.contains("ManifestAggregate"),
      s"a filtered aggregate must not answer from the manifest:\n$pFiltered")
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM snapcs3.t WHERE k > 3").head.getLong(0)
      == 2L)
    // DISTINCT is not manifest-answerable
    val pDistinct = planOf(
      "SELECT COUNT(DISTINCT s) AS n FROM snapcs3.t")
    assert(!pDistinct.contains("ManifestAggregate"))
    assert(spark.sql("SELECT COUNT(DISTINCT s) AS n FROM snapcs3.t")
      .head.getLong(0) == 3L)
    // an appended dir without bounds/stats un-covers the table: fall
    // back, and the values include the new rows
    Seq((20L, "q", java.sql.Date.valueOf("2020-03-01")))
      .toDF("k", "s", "d").write.parquet(s"$base/d3")
    val s2 = ST.manifest(spark, base, 2)
    ST.commit(spark, base, 3, s2.copy(dataDirs = s2.dataDirs :+ s"$base/d3"))
    val p3 = planOf("SELECT MAX(k) AS m, COUNT(*) AS n FROM snapcs3.t")
    assert(!p3.contains("ManifestAggregate"),
      s"an uncovered dir must force the real scan:\n$p3")
    assert(spark.sql("SELECT MAX(k) AS m, COUNT(*) AS n FROM snapcs3.t")
      .head.getLong(0) == 20L)
    // re-analyzing the new dir restores the metadata answer — bounds for
    // min/max stay version-scoped (time travel to v2 still answers v2)
    ST.analyzeBounds(spark, base, "k"): Unit
    spark.sql("CALL snapcs3.system.analyze_columns('t', 's')").collect()
    val p4 = planOf("SELECT MAX(k) AS m, COUNT(*) AS n FROM snapcs3.t")
    assert(p4.contains("ManifestAggregate"),
      s"re-analyze must restore the metadata answer for covered terms:\n$p4")
    val r4 = spark.sql("SELECT MAX(k) AS m, COUNT(*) AS n FROM snapcs3.t")
      .head
    assert((r4.getLong(0), r4.getLong(1)) == ((20L, 5L)))
    // empty dirs (manifest row count 0) are exempt from bounds coverage:
    // a freshly CREATEd table answers COUNT(*)=0 and NULL min from the
    // manifest alone — zero file reads even for the empty-table case
    spark.sql("CREATE TABLE snapcs3.e (k BIGINT, s STRING)")
    val pe = planOf("SELECT MIN(k) AS m, COUNT(*) AS n FROM snapcs3.e")
    assert(pe.contains("ManifestAggregate") &&
      !pe.contains("Format: parquet"),
      s"an all-empty table must answer from the manifest:\n$pe")
    val re = spark.sql("SELECT MIN(k) AS m, COUNT(*) AS n FROM snapcs3.e")
      .head
    assert(re.isNullAt(0) && re.getLong(1) == 0L)
  }

  test("CHECK constraints: add validates existing data; every write " +
      "path refuses violations (NULL included) without committing; " +
      "evolution locks; drop restores") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapck1", root, "t" -> "k")
    val base = s"$root/t"
    import spark.implicits._
    spark.sql("CREATE TABLE snapck1.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO snapck1.t VALUES (1, 10), (2, 20)")
    // adding a constraint the EXISTING data violates refuses
    val e0 = intercept[Exception] {
      spark.sql("CALL snapck1.system.add_check('t', 'v_big', 'v > 15')")
        .collect()
    }
    assert(e0.getMessage.contains("v_big"))
    // a valid constraint lands; re-adding the same is idempotent, a
    // DIFFERENT expression under the same name refuses
    assert(spark.sql(
      "CALL snapck1.system.add_check('t', 'v_pos', 'v > 0')")
      .head.getInt(0) == 3)
    assert(spark.sql(
      "CALL snapck1.system.add_check('t', 'v_pos', 'v > 0')")
      .head.getInt(0) == 3)
    intercept[Exception] {
      spark.sql("CALL snapck1.system.add_check('t', 'v_pos', 'v > 1')")
        .collect()
    }
    assert(spark.sql("SELECT name, expr FROM snapck1.t.checks").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("v_pos", "v > 0")))
    val headBefore = ST.headVersion(spark, base)
    // INSERT: FALSE violates, and NULL violates too (a NULL-dodgeable
    // constraint is not a constraint)
    intercept[Exception] {
      spark.sql("INSERT INTO snapck1.t VALUES (3, -1)").collect()
    }
    intercept[Exception] {
      spark.sql("INSERT INTO snapck1.t VALUES (3, NULL)").collect()
    }
    // UPDATE and MERGE refuse violating assignments
    intercept[Exception] {
      spark.sql("UPDATE snapck1.t SET v = -9 WHERE k = 1").collect()
    }
    intercept[Exception] {
      spark.sql(
        """MERGE INTO snapck1.t USING (SELECT 9 AS k, -4 AS v) s
          |ON t.k = s.k WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .collect()
    }
    // streaming ingest refuses a violating batch
    intercept[Exception] {
      ST.ingestBatch(spark, base,
        Seq((7L, -3L)).toDF("k", "v"), 99L)
    }
    assert(ST.headVersion(spark, base) == headBefore,
      "refused writes must not commit a version")
    // a branch inherits the constraint: violating branch write refuses
    spark.sql("CALL snapck1.system.create_branch('t', 'wip')").collect()
    intercept[Exception] {
      spark.sql("INSERT INTO snapck1.t.branch_wip VALUES (8, -2)")
        .collect()
    }
    spark.sql("INSERT INTO snapck1.t.branch_wip VALUES (8, 80)").collect()
    // evolution cannot pull a constrained column out from under its check
    intercept[Exception] {
      spark.sql("ALTER TABLE snapck1.t DROP COLUMN v")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE snapck1.t RENAME COLUMN v TO w")
    }
    // valid writes pass, and drop_check releases enforcement
    spark.sql("INSERT INTO snapck1.t VALUES (4, 40)").collect()
    spark.sql("CALL snapck1.system.drop_check('t', 'v_pos')").collect()
    spark.sql("INSERT INTO snapck1.t VALUES (5, -50)").collect()
    assert(spark.sql("SELECT SUM(v) FROM snapck1.t").head.getLong(0) ==
      10L + 20L + 40L - 50L)
    // drop of an absent name is an idempotent no-op
    val h = ST.headVersion(spark, base)
    assert(spark.sql("CALL snapck1.system.drop_check('t', 'v_pos')")
      .head.getInt(0) == h)
  }

  test("hidden partitioning: PARTITIONED BY transforms route INSERTs " +
      "to per-tuple dirs, prune structurally on transform predicates, " +
      "and degrade wide (never wrong) everywhere else") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snappt", root)
    val base = s"$root/t"
    spark.sql("CREATE TABLE snappt.t (k BIGINT, d DATE, s STRING) " +
      "PARTITIONED BY (months(d), bucket(4, k))")
    val v1 = ST.manifest(spark, base, 1)
    assert(v1.partSpec == Seq(
      graft.sources.PartitionSpec.PartField("months", 0, "d"),
      graft.sources.PartitionSpec.PartField("bucket", 4, "k")))
    // 3 months × several keys, plus one null-date row
    spark.sql("INSERT INTO snappt.t SELECT id AS k, " +
      "date_add(DATE '2021-01-15', CAST(id % 3 AS INT) * 31) AS d, " +
      "concat('s', id) AS s FROM range(40)")
    spark.sql("INSERT INTO snappt.t VALUES (100, NULL, 'nulld')")
    val head = ST.headVersion(spark, base)
    val snap = ST.manifest(spark, base, head)
    // every routed dir carries its tuple; the CREATE dir has none
    val routed = snap.dataDirs.filter(snap.partVals.contains)
    assert(routed.size >= 4,
      s"expected one dir per (month, bucket) tuple, got ${snap.partVals}")
    assert(snap.partVals.values.forall(_.size == 2))
    val months = snap.partVals.values.map(_.head).toSet
    assert(months.subsetOf(Set("2021-01", "2021-02", "2021-03",
      graft.sources.PartitionSpec.NullValue)), months.toString)
    // counts ride per dir → metadata COUNT covers the whole table
    assert(spark.sql("SELECT COUNT(*) AS n FROM snappt.t")
      .head.getLong(0) == 41L)
    def prunedOf(q: String): (Int, Int) = {
      val out = spark.sql(q).collect()
      (out.length, 0) // force execution first
      graft.plans.SnapshotDmlRule.lastPrune.get(base)
    }
    // month-range predicate on the SOURCE column prunes structurally
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    val r1 = spark.sql("SELECT k, d, s FROM snappt.t WHERE " +
      "d >= DATE '2021-02-01' AND d < DATE '2021-03-01' " +
      "ORDER BY k").collect()
    val (kept1, total1) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(kept1 < total1,
      s"month predicate must prune dirs ($kept1/$total1)")
    assert(r1.nonEmpty && r1.forall(_.getDate(1).toString
      .startsWith("2021-02")))
    assert(r1.length == 13, s"got ${r1.length}") // ids ≡ 1 mod 3 in 0..39
    // bucket point predicate prunes to the key's bucket
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    val r2 = spark.sql(
      "SELECT k, s FROM snappt.t WHERE k = 7").collect()
    val (kept2, total2) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(kept2 < total2,
      s"bucket point predicate must prune dirs ($kept2/$total2)")
    assert(r2.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((7L, "s7")))
    // bucket RANGE predicates must NOT prune via the bucket field
    // (non-monotone): everything still answers correctly
    val r3 = spark.sql(
      "SELECT COUNT(*) AS n FROM snappt.t WHERE k >= 30").head
    assert(r3.getLong(0) == 11L)
    // the null-date row lives in the sentinel dir: excluded by any date
    // edge, still found by IS NULL (no edge → all dirs kept)
    assert(spark.sql("SELECT COUNT(*) AS n FROM snappt.t " +
      "WHERE d IS NULL").head.getLong(0) == 1L)
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    val r4 = spark.sql("SELECT COUNT(*) AS n FROM snappt.t " +
      "WHERE d = DATE '2021-01-15'").head
    assert(r4.getLong(0) == 14L) // ids ≡ 0 mod 3 in 0..39, +0 null
    // evolution guards: partition sources are locked
    intercept[Exception] {
      spark.sql("ALTER TABLE snappt.t RENAME COLUMN d TO d2") }
    intercept[Exception] {
      spark.sql("ALTER TABLE snappt.t DROP COLUMN k") }
    // the partitions metadata table: tuple + rows per routed dir, a
    // NULL tuple for unrouted dirs, the spec echoed per row
    val pmeta = spark.sql("SELECT dname, tuple, n_rows, spec " +
      "FROM snappt.t.partitions").collect()
    assert(pmeta.length == snap.dataDirs.size)
    assert(pmeta.count(_.isNullAt(1)) ==
      snap.dataDirs.size - snap.partVals.size)
    assert(pmeta.filter(!_.isNullAt(1)).forall(r =>
      r.getString(3) == "months(d), bucket(4, k)" && !r.isNullAt(2)),
      pmeta.mkString(";"))
    assert(pmeta.filter(!_.isNullAt(1)).map(_.getLong(2)).sum == 41L)
    // INSERT OVERWRITE replaces the data with newly routed dirs
    spark.sql("INSERT OVERWRITE snappt.t VALUES " +
      "(1, DATE '2022-05-01', 'a'), (2, DATE '2022-06-01', 'b')")
    val snap2 = ST.manifest(spark, base, ST.headVersion(spark, base))
    assert(snap2.dataDirs.forall(snap2.partVals.contains))
    assert(snap2.partVals.values.map(_.head).toSet ==
      Set("2022-05", "2022-06"))
    assert(spark.sql("SELECT COUNT(*) AS n FROM snappt.t")
      .head.getLong(0) == 2L)
    // time travel still reads the pre-overwrite version, pruned
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM snappt.t " +
      s"VERSION AS OF $head").head.getLong(0) == 41L)
    // vacuum to the overwrite: the retired leaves go AND their
    // now-empty `_insert-` parent husks go with them; live leaves
    // keep their parents
    ST.vacuum(spark, base, ST.headVersion(spark, base),
      ST.headVersion(spark, base)): Unit
    val husks = new java.io.File(base).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_insert-"))
      .filter(f => f.listFiles().forall(c =>
        c.isFile && (c.getName.startsWith("_") ||
          c.getName.startsWith("."))))
    assert(husks.isEmpty,
      s"empty routed-insert parent husks survived vacuum: " +
        s"${husks.map(_.getName).toSeq}")
    assert(spark.sql("SELECT COUNT(*) AS n FROM snappt.t")
      .head.getLong(0) == 2L, "vacuum touched live routed leaves")
  }

  test("OPTIMIZE on a partitioned table packs small dirs WITHIN their " +
      "transform tuple — structural pruning survives maintenance") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snappo", root)
    val base = s"$root/t"
    spark.sql("CREATE TABLE snappo.t (k BIGINT, g BIGINT) " +
      "PARTITIONED BY (identity(g))")
    // three small inserts per partition → 6 tupled dirs decaying the
    // table into the small-file shape OPTIMIZE exists to fix
    for (b <- 0 until 3)
      spark.sql(s"INSERT INTO snappo.t SELECT id + ${b * 10}, id % 2 " +
        "FROM range(10)")
    val before = ST.manifest(spark, base, ST.headVersion(spark, base))
    assert(before.partVals.size == 6, before.partVals.toString)
    val rep = ST.optimizeSmallDirs(spark, base, 1L << 30)
    assert(rep.dirsPacked == 6, rep.toString)
    val after = ST.manifest(spark, base, rep.version)
    val tupled = after.dataDirs.filter(after.partVals.contains)
    // one packed dir per tuple, each INHERITING its group's tuple
    assert(tupled.size == 2, after.dataDirs.toString)
    assert(after.partVals.values.toSet == Set(Seq("0"), Seq("1")),
      after.partVals.toString)
    // structural pruning still engages post-maintenance
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    val n0 = spark.sql(
      "SELECT COUNT(*) AS n FROM snappo.t WHERE g = 0").head.getLong(0)
    val (kept, total) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(kept < total, s"pruning died after OPTIMIZE ($kept/$total)")
    assert(n0 == 15L)
    // content unchanged as a multiset
    assert(spark.sql("SELECT COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS s " +
      "FROM snappo.t").head.toSeq == Seq(30L, (0L until 10L).sum * 3
        + 10L * 10 + 20L * 10))
  }

  test("hidden partitioning: truncate/identity transforms, values " +
      "holding , | ; route and prune, unsupported transform refusal") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snappu", root)
    val base = s"$root/u"
    spark.sql("CREATE TABLE snappu.u (k BIGINT, s STRING, g BIGINT) " +
      "PARTITIONED BY (truncate(2, s), identity(g))")
    spark.sql("INSERT INTO snappu.u VALUES (1, 'abcd', 10), " +
      "(2, 'abxy', 10), (3, 'zz', 20)")
    val snap = ST.manifest(spark, base, ST.headVersion(spark, base))
    val tuples = snap.partVals.values.toSet
    assert(tuples == Set(Seq("ab", "10"), Seq("zz", "20")), tuples)
    // truncate maps equality AND ranges (prefix is monotone)
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    val r1 = spark.sql("SELECT k FROM snappu.u WHERE s = 'abxy'").collect()
    val (kept1, total1) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(kept1 < total1 && r1.map(_.getLong(0)).toSeq == Seq(2L))
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    val r2 = spark.sql(
      "SELECT COUNT(*) AS n FROM snappu.u WHERE s >= 'x'").head
    val (kept2, total2) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(kept2 < total2 && r2.getLong(0) == 1L)
    // identity point prune on the int column
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    val r3 = spark.sql(
      "SELECT COUNT(*) AS n FROM snappu.u WHERE g = 20").head
    val (kept3, total3) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(kept3 < total3 && r3.getLong(0) == 1L)
    // partition values holding , | ; land in their own dirs, their
    // tuples round-trip the manifest, and point probes prune to them
    spark.sql("INSERT INTO snappu.u VALUES (9, 'a|b', 30), (10, ',;x', 30)")
    val tuples4 = ST.manifest(spark, base, ST.headVersion(spark, base))
      .partVals.values.toSet
    assert(tuples4.contains(Seq("a|", "30")) &&
      tuples4.contains(Seq(",;", "30")), tuples4)
    for ((v, k) <- Seq(("a|b", 9L), (",;x", 10L))) {
      graft.plans.SnapshotDmlRule.lastPrune.remove(base)
      val r4 = spark.sql(s"SELECT k FROM snappu.u WHERE s = '$v'").collect()
      val (kept4, total4) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
      assert(kept4 < total4 && r4.map(_.getLong(0)).toSeq == Seq(k), v)
    }
    // hours(ts): UTC hour floor, fixed-width rendering, range pruning
    spark.sql("CREATE TABLE snappu.h (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (hours(ts))")
    spark.sql("INSERT INTO snappu.h SELECT id, " +
      "timestamp_micros(CAST(id * 1800000000 AS BIGINT)) FROM range(8)")
    val hbase = s"$root/h"
    val hsnap = ST.manifest(spark, hbase, ST.headVersion(spark, hbase))
    assert(hsnap.partVals.values.map(_.head).toSet ==
      Set("1970-01-01-00", "1970-01-01-01", "1970-01-01-02",
        "1970-01-01-03"), hsnap.partVals.toString)
    graft.plans.SnapshotDmlRule.lastPrune.remove(hbase)
    val rh = spark.sql("SELECT COUNT(*) AS n FROM snappu.h WHERE " +
      "ts >= TIMESTAMP '1970-01-01 02:00:00'").head
    val (hk, ht) = graft.plans.SnapshotDmlRule.lastPrune.get(hbase)
    assert(hk < ht && rh.getLong(0) == 4L, s"hours prune $hk/$ht")
    // type-incompatible and unknown transforms refuse at CREATE
    intercept[Exception] {
      spark.sql("CREATE TABLE snappu.x (k BIGINT) " +
        "PARTITIONED BY (hours(k))") }
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE snappu.y (k BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (shard(ts))") }
    assert(Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8)
      .exists(t => t.getMessage != null &&
        t.getMessage.contains("unsupported partition transform")),
      e2.getMessage)
  }

  test("partition spec evolution: alter_partition_spec pins existing " +
      "dirs to the spec that rendered their tuples — both eras keep " +
      "pruning, tuples never read under the wrong spec, no data moves") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapev", root)
    val base = s"$root/t"
    spark.sql("CREATE TABLE snapev.t (k BIGINT, g BIGINT) " +
      "PARTITIONED BY (identity(g))")
    spark.sql("INSERT INTO snapev.t SELECT id, id % 2 FROM range(10)")
    val preHead = ST.headVersion(spark, base)
    val pre = ST.manifest(spark, base, preHead)
    val oldDirs = pre.dataDirs.filter(pre.partVals.contains)
    assert(oldDirs.size == 2 && pre.partSpecId == 0 &&
      pre.partHist.isEmpty && pre.dirSpecIds.isEmpty)
    // evolve to a SAME-ARITY spec over a different column — the shape
    // where a tuple read under the wrong spec prunes wrong, not loud
    val ev = spark.sql(
      "CALL snapev.system.alter_partition_spec('t', 'bucket(4, k)')")
      .head.getInt(0)
    assert(ev == preHead + 1)
    val post = ST.manifest(spark, base, ev)
    assert(post.partSpec == Seq(
      graft.sources.PartitionSpec.PartField("bucket", 4, "k")))
    assert(post.partSpecId == 1 &&
      post.partHist == Map(0 -> Seq(
        graft.sources.PartitionSpec.PartField("identity", 0, "g"))))
    assert(oldDirs.forall(d => post.dirSpecIds.get(d).contains(0)) &&
      oldDirs.forall(d => ST.specFor(post, d) ==
        pre.partSpec), post.dirSpecIds.toString)
    // idempotent re-CALL: same spec, no new version
    assert(spark.sql(
      "CALL snapev.system.alter_partition_spec('t', 'bucket(4, k)')")
      .head.getInt(0) == ev)
    // new writes route under the NEW spec, unpinned
    spark.sql("INSERT INTO snapev.t SELECT id + 100, 7 FROM range(10)")
    val head2 = ST.headVersion(spark, base)
    val snap2 = ST.manifest(spark, base, head2)
    val newDirs = snap2.dataDirs.filter(snap2.partVals.contains)
      .filterNot(oldDirs.contains)
    assert(newDirs.size >= 2 && newDirs.forall(d =>
      !snap2.dirSpecIds.contains(d)), snap2.partVals.toString)
    // predicate on the OLD spec's source column: pre-evolution dirs
    // prune structurally, new-era dirs are kept (their spec carries no
    // g transform) — answers stay exact across both eras
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    val rg = spark.sql("SELECT COUNT(*) AS n, CAST(SUM(k) AS BIGINT) " +
      "AS s FROM snapev.t WHERE g = 0").head
    val (kg, tg) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(kg < tg, s"old-spec predicate must still prune ($kg/$tg)")
    assert(rg.toSeq == Seq(5L, Seq(0L, 2L, 4L, 6L, 8L).sum))
    // predicate on the NEW spec's source column: new dirs prune via
    // bucket, pinned dirs are kept — and EVERY old-era key answers (a
    // tuple misread under the bucket spec would silently drop rows)
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    val rk = spark.sql(
      "SELECT g FROM snapev.t WHERE k = 103").collect()
    val (kk, tk) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(kk < tk, s"new-spec point predicate must prune ($kk/$tk)")
    assert(rk.map(_.getLong(0)).toSeq == Seq(7L))
    for (k <- 0L until 10L)
      assert(spark.sql(s"SELECT COUNT(*) AS n FROM snapev.t " +
        s"WHERE k = $k").head.getLong(0) == 1L,
        s"pre-evolution key $k lost under the evolved spec")
    // time travel reads the pre-evolution version under ITS spec
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapev.t " +
      s"VERSION AS OF $preHead WHERE g = 1").head.getLong(0) == 5L)
    // the partitions roster names each dir's OWN spec
    val pm = spark.sql("SELECT tuple, spec FROM snapev.t.partitions " +
      "WHERE tuple IS NOT NULL").collect()
    assert(pm.map(_.getString(1)).toSet ==
      Set("identity(g)", "bucket(4, k)"), pm.mkString(";"))
    // evolve to UNPARTITIONED: routing stops, pinned dirs keep pruning
    spark.sql("CALL snapev.system.alter_partition_spec('t', '')")
    spark.sql("INSERT INTO snapev.t VALUES (999, 9)")
    val snap3 = ST.manifest(spark, base, ST.headVersion(spark, base))
    assert(snap3.partSpec.isEmpty && snap3.partHist.size == 2)
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    val rg2 = spark.sql(
      "SELECT COUNT(*) AS n FROM snapev.t WHERE g = 0").head
    val (kg2, tg2) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(kg2 < tg2 && rg2.getLong(0) == 5L,
      s"pinned dirs must keep pruning after evolving to unpartitioned " +
        s"($kg2/$tg2)")
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapev.t")
      .head.getLong(0) == 21L)
  }

  test("partition spec evolution guards: widen refuses on a pinned " +
      "bucket source, OPTIMIZE never packs byte-equal tuples across " +
      "specs, manifests reject pins onto missing specs") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapeg", root)
    // widen guard: bucket hashed at INT; evolving the spec away does
    // NOT unlock the widen while pinned dirs remain
    spark.sql("CREATE TABLE snapeg.w (k INT, g BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO snapeg.w VALUES (1, 10), (2, 20)")
    val wbase = s"$root/w"
    ST.alterPartitionSpec(spark, wbase, Seq(
      graft.sources.PartitionSpec.PartField("identity", 0, "g")))
    val ew = intercept[Exception] {
      ST.evolveWidenColumnType(spark, wbase, "k",
        org.apache.spark.sql.types.LongType) }
    assert(ew.getMessage.contains("bucket-partition source"),
      ew.getMessage)
    // ...and a CURRENT-spec source still refuses rename, but a column
    // only a RETIRED spec references may rename (pruning on its pinned
    // dirs disengages — wide, never wrong)
    intercept[Exception] {
      spark.sql("ALTER TABLE snapeg.w RENAME COLUMN g TO g2") }
    spark.sql("ALTER TABLE snapeg.w RENAME COLUMN k TO k0")
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapeg.w WHERE k0 = 1")
      .head.getLong(0) == 1L)
    // OPTIMIZE cross-spec guard: identity(g) then identity(k) render
    // byte-equal tuples ("0"/"1") under different specs — small dirs
    // must pack only within (spec, tuple)
    spark.sql("CREATE TABLE snapeg.o (k BIGINT, g BIGINT) " +
      "PARTITIONED BY (identity(g))")
    spark.sql("INSERT INTO snapeg.o SELECT id, id % 2 FROM range(4)")
    spark.sql("INSERT INTO snapeg.o SELECT id + 4, id % 2 FROM range(4)")
    val obase = s"$root/o"
    ST.alterPartitionSpec(spark, obase, Seq(
      graft.sources.PartitionSpec.PartField("identity", 0, "k")))
    spark.sql("INSERT INTO snapeg.o VALUES (0, 50), (1, 60)")
    spark.sql("INSERT INTO snapeg.o VALUES (0, 70), (1, 80)")
    val rep = ST.optimizeSmallDirs(spark, obase, 1L << 30)
    val osnap = ST.manifest(spark, obase, rep.version)
    // 4 packed dirs: tuples "0"/"1" × two specs, never merged across
    val packed = osnap.dataDirs.filter(_.contains("_optimize"))
    assert(packed.size == 4, osnap.dataDirs.toString)
    val byKey = packed.groupBy(d => (osnap.partVals(d),
      osnap.dirSpecIds.getOrElse(d, osnap.partSpecId)))
    assert(byKey.size == 4 && byKey.keys.map(_._2).toSet.size == 2,
      byKey.toString)
    // both eras still prune and answer exactly after the pack
    graft.plans.SnapshotDmlRule.lastPrune.remove(obase)
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapeg.o WHERE g = 0")
      .head.getLong(0) == 4L)
    val (ko, to) = graft.plans.SnapshotDmlRule.lastPrune.get(obase)
    assert(ko < to, s"old-spec pruning died after OPTIMIZE ($ko/$to)")
    assert(spark.sql("SELECT CAST(SUM(g) AS BIGINT) AS s FROM snapeg.o " +
      "WHERE k = 0").head.getLong(0) == 120L)
    // a manifest pinning a dir onto a spec id it does not carry refuses
    val bogus = osnap.copy(dirSpecIds =
      osnap.dirSpecIds + (packed.head -> 99))
    val eb = intercept[IllegalArgumentException] {
      ST.commit(spark, obase, rep.version + 1, bogus) }
    assert(eb.getMessage.contains("pins partition spec"), eb.getMessage)
  }

  test("DELETE with uncorrelated IN/EXISTS subqueries decorrelates to " +
      "semi joins / run-time booleans; correlated, NOT IN, and scalar " +
      "shapes refuse loudly") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapsq", root, "t" -> "k")
    import spark.implicits._
    spark.sql("CREATE TABLE snapsq.t (k BIGINT, ck BIGINT, v BIGINT)")
    spark.sql("INSERT INTO snapsq.t SELECT id, id % 5, id * 10 " +
      "FROM range(20)")
    val badDir = s"$root/bad"
    Seq(1L, 3L).toDF("bck").write.parquet(badDir)
    // IN + plain conjunct: rows with ck ∈ {1,3} AND k < 15 go
    spark.sql(s"DELETE FROM snapsq.t WHERE ck IN " +
      s"(SELECT bck FROM parquet.`$badDir`) AND k < 15")
    val left = spark.sql("SELECT k FROM snapsq.t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(left == (0L until 20L).filterNot(k =>
      (k % 5 == 1 || k % 5 == 3) && k < 15), left.toString)
    // false uncorrelated EXISTS: deletes nothing, still commits
    val h1 = ST.headVersion(spark, s"$root/t")
    spark.sql(s"DELETE FROM snapsq.t WHERE EXISTS " +
      s"(SELECT 1 FROM parquet.`$badDir` WHERE bck > 99) AND v >= 0")
    assert(ST.headVersion(spark, s"$root/t") == h1 + 1)
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapsq.t")
      .head.getLong(0) == left.size.toLong)
    // true uncorrelated EXISTS gates a plain delete
    spark.sql(s"DELETE FROM snapsq.t WHERE EXISTS " +
      s"(SELECT 1 FROM parquet.`$badDir`) AND k = 18")
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapsq.t")
      .head.getLong(0) == left.size.toLong - 1)
    // refusals: NOT IN (three-valued NULL trap), correlated IN, scalar
    def refuses(sql: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .exists(t => t.getMessage != null &&
          (t.getMessage.contains("uncorrelated IN/EXISTS") ||
            t.getMessage.contains("subquery"))), e.getMessage)
    }
    refuses(s"DELETE FROM snapsq.t WHERE ck NOT IN " +
      s"(SELECT bck FROM parquet.`$badDir`)")
    refuses(s"DELETE FROM snapsq.t WHERE ck IN " +
      s"(SELECT bck FROM parquet.`$badDir` b WHERE b.bck = snapsq.t.k)")
    refuses(s"DELETE FROM snapsq.t WHERE ck = " +
      s"(SELECT MAX(bck) FROM parquet.`$badDir`)")
    // UPDATE decorrelates the same way: IN + plain conjunct marks only
    // TRUE rows; the SET evaluates against the OLD row
    spark.sql(s"UPDATE snapsq.t SET v = v + 1000 WHERE ck IN " +
      s"(SELECT bck FROM parquet.`$badDir`) AND k >= 15")
    val bumped = spark.sql(
      "SELECT k FROM snapsq.t WHERE v >= 1000 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(bumped == Seq(16L), s"UPDATE IN-subquery hit $bumped")
    // false uncorrelated EXISTS: a no-op, not even a version boundary
    val hBefore = ST.headVersion(spark, s"$root/t")
    spark.sql(s"UPDATE snapsq.t SET v = 0 WHERE EXISTS " +
      s"(SELECT 1 FROM parquet.`$badDir` WHERE bck > 99)")
    assert(ST.headVersion(spark, s"$root/t") == hBefore,
      "false-EXISTS UPDATE must not commit a version")
    refuses(s"UPDATE snapsq.t SET v = 0 WHERE ck NOT IN " +
      s"(SELECT bck FROM parquet.`$badDir`)")
  }

  test("manifest-answered string MIN/MAX folds under UTF8 binary order " +
      "— supplementary-plane vs private-use values match the real scan") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapu8", root)
    val base = s"$root/t"
    import spark.implicits._
    // U+10000 is D800 DC00 in UTF-16 (sorts BELOW U+E000 by Java code
    // units) but F0 90 80 80 in UTF-8 (sorts ABOVE U+E000's EE 80 80) —
    // the two orders disagree, so a Java-ordered fold picks the wrong max
    val hi = new String(Character.toChars(0x10000))
    val pe = ""
    assert(pe.compareTo(hi) > 0 && ST.utf8Compare(pe, hi) < 0,
      "fixture must be an order-disagreement witness")
    Seq((1L, pe)).toDF("k", "s").write.parquet(s"$base/d1")
    Seq((2L, hi)).toDF("k", "s").write.parquet(s"$base/d2")
    ST.commit(spark, base, 1,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil,
        bounds = Seq("k", "s").flatMap(c =>
          ST.computeBounds(spark, Seq(s"$base/d1", s"$base/d2"), c))))
    val q = "SELECT MIN(s) AS mn, MAX(s) AS mx FROM snapu8.t"
    val p = spark.sql(q).queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("ManifestAggregate"),
      s"string min/max must answer from the manifest here:\n$p")
    val meta = spark.sql(q).head
    val real = spark.read.parquet(s"$base/d1", s"$base/d2")
      .agg(min("s").as("mn"), max("s").as("mx")).head
    assert(meta.getString(0) == real.getString(0) &&
      meta.getString(1) == real.getString(1),
      "metadata answer diverged from the real scan")
    assert(meta.getString(1) == hi, "max must follow UTF-8 byte order")
  }

  test("CHECK validation and the landed write see identical rows for a " +
      "non-deterministic INSERT source (the plan is pinned, never " +
      "re-executed)") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapnd", root)
    spark.sql("CREATE TABLE snapnd.t (k BIGINT, v BIGINT)")
    spark.sql("CALL snapnd.system.add_check('t', 'v_first_run', " +
      "'v < 100')").collect()
    // each full execution of the source drains 100 fresh counter values:
    // the first execution yields 0..99 (all pass v < 100); any SECOND
    // execution yields 100..199 — if validation and the write each ran
    // the plan, the landed rows would violate the constraint it just
    // validated (the r18 ADVICE hole)
    NdInsertCounter.n.set(0)
    spark.udf.register("nd_next",
      udf(() => NdInsertCounter.n.getAndIncrement()).asNondeterministic())
    spark.sql(
      "INSERT INTO snapnd.t SELECT id AS k, nd_next() AS v FROM range(100)")
      .collect()
    val landed = spark.sql(
      "SELECT COUNT(*) AS n, MAX(v) AS mx FROM snapnd.t").head
    assert(landed.getLong(0) == 100L,
      s"INSERT must land exactly the validated batch, got ${landed}")
    assert(landed.getLong(1) < 100L,
      s"landed rows came from a SECOND plan execution (max v = " +
        s"${landed.getLong(1)}) — validation saw different rows")
  }

  test("analyze_columns never re-scans a dir that can never become " +
      "covered (column physically absent, row count known)") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapab", root)
    val base = s"$root/t"
    writeKv(s"$base/d1", 0, 10)
    ST.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    assert(spark.sql("CALL snapab.system.analyze_columns('t', 'k')")
      .head.getInt(1) == 1)
    spark.sql("ALTER TABLE snapab.t ADD COLUMNS (c BIGINT)")
    spark.sql("INSERT INTO snapab.t VALUES (100, 100, 7)").collect()
    // first ANALYZE of c: the new dir covers, d1 (physically lacking c)
    // reports uncovered
    val r1 = spark.sql("CALL snapab.system.analyze_columns('t', 'c')").head
    assert(r1.getInt(1) == 1 && r1.getInt(2) == 1,
      s"expected 1 added + 1 uncovered, got $r1")
    val head = ST.headVersion(spark, base)
    // repeat ANALYZE: d1 stays uncovered forever — the call must not pay
    // any Spark job for it (the nightly-ANALYZE cost the r18 ADVICE
    // flagged). Suites run in parallel against one context, so count
    // only THIS thread's jobs via its job group.
    val group = s"snapab-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "repeat analyze", false)
    val r2 =
      try ST.analyzeColumnStats(spark, base, Seq("c"))
      finally spark.sparkContext.clearJobGroup()
    assert(r2 == ST.AnalyzeColsReport(head, 0, 1))
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    assert(jobs.isEmpty,
      s"repeat ANALYZE of an absent column ran ${jobs.length} Spark " +
        "job(s) — the forever-uncoverable dir was re-scanned")
  }

  test("optimizeZorder is a LAYOUT rewrite, not a table reset: checks, " +
      "the COPY INTO ledger, and the partition spec survive the commit " +
      "(r19 advice: the bare-Snapshot commit silently dropped all three)") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapzm", root)
    val base = s"$root/t"
    spark.sql("CREATE TABLE snapzm.t (k BIGINT, x BIGINT, y BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO snapzm.t " +
      "SELECT id, id % 16, id DIV 16 FROM range(256)")
    ST.addCheck(spark, base, "x_nonneg", "x >= 0"): Unit
    val land = s"$root/_landing"
    spark.range(256, 288).selectExpr("id AS k", "id % 16 AS x",
      "id DIV 16 AS y").coalesce(1).write.parquet(land)
    val r1 = ST.ingestFiles(spark, base, s"$land/*.parquet")
    assert(r1.filesAdded >= 1, r1.toString)
    val before = ST.manifest(spark, base, ST.headVersion(spark, base))
    assert(before.checks.nonEmpty && before.ingested.nonEmpty &&
      before.partSpec.nonEmpty && before.partVals.nonEmpty)
    spark.sql("CALL snapzm.system.zorder('t', 'k', 'x,y', 4)").collect()
    val after = ST.manifest(spark, base, ST.headVersion(spark, base))
    // TABLE state survives the full rewrite ...
    assert(after.checks == before.checks,
      "CHECK constraints must survive a zorder rewrite")
    assert(after.ingested == before.ingested,
      "the COPY INTO exactly-once ledger must survive a zorder rewrite")
    assert(after.partSpec == before.partSpec &&
      after.partSpecId == before.partSpecId &&
      after.partHist == before.partHist,
      "the partition spec (and its evolution history) must survive")
    // ... while LAYOUT state legitimately resets: zb slices carry no
    // tuples (wide: always kept) and stats/evolution debt clears
    assert(after.partVals.isEmpty && after.dirSpecIds.isEmpty &&
      after.renames.isEmpty && after.dropped.isEmpty &&
      after.colStats.isEmpty && after.deleteDirs.isEmpty)
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapzm.t")
      .head.getLong(0) == 288L)
    // (a) the constraint still ENFORCES, by name
    val e = intercept[Exception] {
      spark.sql("INSERT INTO snapzm.t VALUES (999, -1, 0)").collect() }
    assert(e.getMessage != null && e.getMessage.contains("x_nonneg"),
      e.getMessage)
    // (b) the same glob re-fires and double-loads NOTHING
    val r2 = ST.ingestFiles(spark, base, s"$land/*.parquet")
    assert(r2.filesAdded == 0 && r2.filesSkipped >= 1, r2.toString)
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapzm.t")
      .head.getLong(0) == 288L)
    // (c) routed INSERTs after the rewrite still route and prune
    spark.sql("INSERT INTO snapzm.t " +
      "SELECT id, 1, 1 FROM range(300, 340)")
    val h = ST.manifest(spark, base, ST.headVersion(spark, base))
    assert(h.partVals.nonEmpty,
      "a post-rewrite INSERT must still route to per-tuple dirs")
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapzm.t WHERE k = 310")
      .head.getLong(0) == 1L)
    val (kept, total) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(kept < total,
      s"bucket predicate must prune post-rewrite dirs ($kept/$total)")
  }

  test("MERGE subquery conditions decorrelate: target/source IN become " +
      "semi markers, uncorrelated EXISTS folds per clause, correlated " +
      "and NOT IN still refuse") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapmsq", root, "t" -> "k")
    val base = s"$root/t"
    spark.sql("CREATE TABLE snapmsq.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO snapmsq.t SELECT id AS k, id * 10 AS v " +
      "FROM range(10)")
    spark.range(0, 20).selectExpr("id AS k", "id * 100 AS v")
      .createOrReplaceTempView("msq_src")
    spark.range(0, 3).selectExpr("id * 2 AS kk") // {0, 2, 4}
      .createOrReplaceTempView("msq_even")
    // matched DELETE gated by a TARGET-column IN (v in {0,20,40} →
    // k 0,2,4 delete); matched UPDATE gated by a SOURCE-column IN
    // (src.k in {0,2,4} — already consumed by clause 1 for 0,2,4, so
    // nothing; then k<10 matched rows not in either set stay)
    spark.sql(
      """MERGE INTO snapmsq.t AS tgt USING (
        |  SELECT k, v FROM msq_src WHERE k < 10
        |) AS src ON tgt.k = src.k
        |WHEN MATCHED AND tgt.v IN (SELECT kk * 10 FROM msq_even)
        |  THEN DELETE
        |WHEN MATCHED AND src.k IN (SELECT kk + 1 FROM msq_even)
        |  THEN UPDATE SET v = src.v""".stripMargin)
    // k 0,2,4 deleted; k 1,3,5 updated to 100,300,500; k 6..9 unchanged
    val after1 = spark.sql("SELECT k, v FROM snapmsq.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after1 == Seq((1L, 100L), (3L, 300L), (5L, 500L), (6L, 60L),
      (7L, 70L), (8L, 80L), (9L, 90L)), after1.toString)
    // ordered conditional INSERTs: the FALSE EXISTS kills only its
    // clause; the TRUE EXISTS admits its clause's rows; the IN clause
    // admits k=14 (kk*7 = {0,14,28})
    spark.sql(
      """MERGE INTO snapmsq.t AS tgt USING (
        |  SELECT k, v FROM msq_src WHERE k >= 12 AND k < 16
        |) AS src ON tgt.k = src.k
        |WHEN NOT MATCHED AND EXISTS
        |  (SELECT 1 FROM msq_even WHERE kk > 99) THEN INSERT *
        |WHEN NOT MATCHED AND src.k IN (SELECT kk * 7 FROM msq_even)
        |  THEN INSERT *
        |WHEN NOT MATCHED AND src.k = 15 AND EXISTS
        |  (SELECT 1 FROM msq_even WHERE kk = 4) THEN INSERT *"""
        .stripMargin)
    val after2 = spark.sql(
      "SELECT k FROM snapmsq.t WHERE k >= 12 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(after2 == Seq(14L, 15L), after2.toString)
    // by-source DELETE gated by a target IN: key-absent rows (k not in
    // src) whose v is in {100, 300} drop — k 1 and 3, never 14/15
    spark.sql(
      """MERGE INTO snapmsq.t AS tgt USING (
        |  SELECT k FROM msq_src WHERE k >= 5 AND k < 16
        |) AS src ON tgt.k = src.k
        |WHEN NOT MATCHED BY SOURCE AND v IN
        |  (SELECT kk * 50 + 100 FROM msq_even WHERE kk <= 4)
        |  THEN DELETE""".stripMargin)
    val after3 = spark.sql("SELECT k FROM snapmsq.t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(after3 == Seq(5L, 6L, 7L, 8L, 9L, 14L, 15L), after3.toString)
    // refusals stay loud
    for (bad <- Seq(
      // correlated IN
      """MERGE INTO snapmsq.t AS tgt USING (SELECT k FROM msq_src)
        |AS src ON tgt.k = src.k
        |WHEN MATCHED AND tgt.v IN
        |  (SELECT v FROM msq_src m WHERE m.k = tgt.k) THEN DELETE"""
        .stripMargin,
      // NOT IN
      """MERGE INTO snapmsq.t AS tgt USING (SELECT k FROM msq_src)
        |AS src ON tgt.k = src.k
        |WHEN MATCHED AND tgt.v NOT IN (SELECT kk FROM msq_even)
        |  THEN DELETE""".stripMargin,
      // scalar subquery in SET
      """MERGE INTO snapmsq.t AS tgt USING (SELECT k, v FROM msq_src)
        |AS src ON tgt.k = src.k
        |WHEN MATCHED THEN UPDATE SET v = (SELECT MAX(kk) FROM msq_even)"""
        .stripMargin))
      intercept[Exception] { spark.sql(bad).collect() }
    // untouched by the refused statements
    assert(spark.sql("SELECT COUNT(*) FROM snapmsq.t").head.getLong(0)
      == 7L)
  }

  test("WRITE ORDERED BY: ordered INSERTs land range-disjoint sorted " +
      "slices with bounds (range probes prune with no CALL), detail " +
      "reports the order, and the guard matrix refuses") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapwo", root)
    val base = s"$root/t"
    spark.sql("CREATE TABLE snapwo.t (k BIGINT, v BIGINT)")
    assert(ST.alterWriteOrder(spark, base, Seq("v"), 4) == 2)
    // idempotent re-declare
    assert(ST.alterWriteOrder(spark, base, Seq("v"), 4) == 2)
    spark.sql("INSERT INTO snapwo.t " +
      "SELECT id AS k, (id * 37) % 1000 AS v FROM range(1000)")
    val snap = ST.manifest(spark, base, 3)
    val sliced = snap.bounds.filter(_.col == "v")
    assert(sliced.size == 4,
      s"expected 4 bounds-carrying slices, got ${sliced.size}")
    // range slicing ⇒ NON-OVERLAPPING value ranges across slices
    val ranges = sliced.map(b => (b.min.toLong, b.max.toLong))
      .sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq(a, b) => a._2 < b._1
      case _ => true
    }, s"slices overlap: $ranges")
    // counts came from footers; total preserved
    assert(spark.sql("SELECT COUNT(*) FROM snapwo.t").head.getLong(0)
      == 1000L)
    // a range probe prunes structurally — no ANALYZE, no CALL, ever
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    val r = spark.sql(
      "SELECT COUNT(*) AS n FROM snapwo.t WHERE v >= 10 AND v < 50")
      .head.getLong(0)
    assert(r == 40L) // (id*37)%1000 is a bijection on 0..999
    val (kept, total) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(kept < total, s"range probe must prune dirs ($kept/$total)")
    assert(spark.sql("SELECT write_order FROM snapwo.t.detail")
      .head.getString(0) == "v [4 slices]")
    // guard matrix
    intercept[Exception] { // rename of an order column refuses
      ST.evolveRenameColumn(spark, base, "v", "v2") }
    intercept[Exception] { // drop of an order column refuses
      ST.evolveDropColumn(spark, base, "v") }
    intercept[Exception] { // partition spec on an ordered table refuses
      ST.alterPartitionSpec(spark, base,
        graft.sources.PartitionSpec.parse("bucket(4, k)")) }
    intercept[Exception] { // unknown order column refuses
      ST.alterWriteOrder(spark, base, Seq("nope"), 4) }
    intercept[Exception] { // zero slices with columns refuses
      ST.alterWriteOrder(spark, base, Seq("v"), 0) }
    // ...and the reverse exclusion: ordering a PARTITIONED table refuses
    spark.sql("CREATE TABLE snapwo.p (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k))")
    intercept[Exception] {
      ST.alterWriteOrder(spark, s"$root/p", Seq("v"), 4) }
    // COPY INTO honors the order too: the bulk load lands range-sorted
    // bounded slices, and the exactly-once ledger still dedups
    val land = s"${Files.createTempDirectory("snapwoland")}/lz"
    spark.range(2000, 2400)
      .selectExpr("id AS k", "id - 1000 AS v") // v 1000..1399, disjoint
      .coalesce(1).write.parquet(land)
    val boundsBefore = ST.manifest(spark, base,
      ST.headVersion(spark, base)).bounds.size
    val ri = ST.ingestFiles(spark, base, s"$land/*.parquet")
    assert(ri.filesAdded == 1, ri.toString)
    val mi = ST.manifest(spark, base, ST.headVersion(spark, base))
    val ingBounds = mi.bounds.size - boundsBefore
    assert(ingBounds >= 2,
      s"ordered COPY INTO must land bounds-carrying slices ($ingBounds)")
    assert(spark.sql("SELECT COUNT(*) FROM snapwo.t").head.getLong(0)
      == 1400L)
    // the new slices prune alongside the INSERT-landed ones
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM snapwo.t WHERE v >= 1200 AND v < 1250")
      .head.getLong(0) == 50L)
    val (ik, it) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(ik < it, s"ingested-slice range probe must prune ($ik/$it)")
    val ri2 = ST.ingestFiles(spark, base, s"$land/*.parquet")
    assert(ri2.filesAdded == 0 && ri2.filesSkipped == 1, ri2.toString)
    // clearing restores plain single-dir landing (no new bounds)
    val vClear = ST.alterWriteOrder(spark, base, Nil, 0)
    val boundsAtClear = ST.manifest(spark, base, vClear).bounds.size
    spark.sql("INSERT INTO snapwo.t VALUES (5000, 5000)")
    val after = ST.manifest(spark, base, vClear + 1)
    assert(after.writeOrder.isEmpty && after.writeOrderSlices == 0)
    assert(after.bounds.size == boundsAtClear,
      "a cleared order must stop recording bounds")
    assert(spark.sql("SELECT COUNT(*) FROM snapwo.t").head.getLong(0)
      == 1401L)
  }

  test("a column named `a,b|c;d` round-trips a rename, WRITE ORDERED " +
      "BY, bounds pruning and column stats") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapodd", root)
    val odd = "a,b|c;d"
    spark.sql("CREATE TABLE snapodd.r (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO snapodd.r VALUES (1, 10), (2, 20)")
    spark.sql(s"ALTER TABLE snapodd.r RENAME COLUMN v TO `$odd`")
    val rbase = s"$root/r"
    assert(ST.manifest(spark, rbase, ST.headVersion(spark, rbase))
      .renames == Map(odd -> "v"))
    assert(spark.sql(s"SELECT SUM(`$odd`) FROM snapodd.r").head
      .getLong(0) == 30L)
    spark.sql(s"ALTER TABLE snapodd.r RENAME COLUMN `$odd` TO v")
    assert(spark.sql("SELECT SUM(v) FROM snapodd.r").head.getLong(0) == 30L)
    spark.sql(s"CREATE TABLE snapodd.w (k BIGINT, `$odd` BIGINT)")
    val wbase = s"$root/w"
    ST.alterWriteOrder(spark, wbase, Seq(odd), 4)
    spark.sql("INSERT INTO snapodd.w " +
      "SELECT id AS k, (id * 37) % 1000 FROM range(1000)")
    val wm = ST.manifest(spark, wbase, ST.headVersion(spark, wbase))
    assert(wm.writeOrder == Seq(odd) && wm.bounds.count(_.col == odd) == 4,
      wm.toString)
    graft.plans.SnapshotDmlRule.lastPrune.remove(wbase)
    assert(spark.sql(s"SELECT COUNT(*) FROM snapodd.w WHERE `$odd` < 50")
      .head.getLong(0) == 50L)
    val (kept, total) = graft.plans.SnapshotDmlRule.lastPrune.get(wbase)
    assert(kept < total, s"range probe must prune ($kept/$total)")
    val v = ST.analyzeColumnStats(spark, wbase, Seq(odd)).version
    val (ndv, nulls) = ST.manifestColumnStats(ST.manifest(spark, wbase, v))(odd)
    assert(nulls == 0L && math.abs(ndv - 1000L) <= 50L, (ndv, nulls))
  }

  test("WRITE ORDERED BY landing plans exactly ONE sort (r21: the slice " +
      "sort is prefixed with _gslice, so the writer's required ordering " +
      "on the partition column is already satisfied)") {
    val root = Files.createTempDirectory("snapwoplan").toString
    setupCatalog("snapwop", root)
    spark.sql("CREATE TABLE snapwop.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('write.order' = 'v', 'write.order.slices' = '3')")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      spark.sql("INSERT INTO snapwop.t " +
        "SELECT id AS k, (id * 13) % 97 AS v FROM range(500)")
      // QueryExecutionListener delivery is async — poll for the landing
      // write's plan (the one that writes the _gslice staging column)
      def landing(): Option[String] = {
        import scala.jdk.CollectionConverters._
        plans.asScala.find(p => p.contains("_gslice") &&
          p.contains("WriteFiles"))
      }
      var i = 0
      while (landing().isEmpty && i < 100) { Thread.sleep(50); i += 1 }
      val p = landing().getOrElse(fail("no landing write plan captured"))
      // final section only (an AQE toString repeats the tree under
      // '== Initial Plan ==' — CLAUDE.md)
      val fin = p.split("== Initial Plan ==")(0)
      val sorts = "\\bSort \\[".r.findAllIn(fin).size
      assert(sorts == 1,
        s"landing write must plan exactly one sort (the prefixed " +
          s"sortWithinPartitions), got $sorts:\n$fin")
      // and the one sort leads with the staging column, order cols after
      assert(fin.contains("Sort [_gslice"),
        s"the slice sort must lead with _gslice:\n$fin")
    } finally spark.listenerManager.unregister(l)
  }

  test("WRITE ORDERED BY declared at CREATE via TBLPROPERTIES: first " +
      "INSERT already lands bounded slices; bad declarations refuse " +
      "before the table exists") {
    val root = Files.createTempDirectory("snapcat").toString
    setupCatalog("snapwoc", root)
    spark.sql("CREATE TABLE snapwoc.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('write.order' = 'v', 'write.order.slices' = '3')")
    val base = s"$root/t"
    val m1 = ST.manifest(spark, base, 1)
    assert(m1.writeOrder == Seq("v") && m1.writeOrderSlices == 3)
    spark.sql("INSERT INTO snapwoc.t " +
      "SELECT id AS k, (id * 7) % 300 AS v FROM range(300)")
    val m2 = ST.manifest(spark, base, 2)
    assert(m2.bounds.count(_.col == "v") == 3,
      s"the FIRST insert must land bounded slices: ${m2.bounds.size}")
    graft.plans.SnapshotDmlRule.lastPrune.remove(base)
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM snapwoc.t WHERE v < 40")
      .head.getLong(0) == 40L)
    val (kept, total) = graft.plans.SnapshotDmlRule.lastPrune.get(base)
    assert(kept < total, s"range probe must prune ($kept/$total)")
    // declaration-time refusals, all BEFORE any table exists
    intercept[Exception] { // unknown column
      spark.sql("CREATE TABLE snapwoc.bad1 (k BIGINT) " +
        "TBLPROPERTIES ('write.order' = 'nope')") }
    intercept[Exception] { // slices without columns
      spark.sql("CREATE TABLE snapwoc.bad2 (k BIGINT) " +
        "TBLPROPERTIES ('write.order.slices' = '4')") }
    intercept[Exception] { // order + partition spec both claim landing
      spark.sql("CREATE TABLE snapwoc.bad3 (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(2, k)) " +
        "TBLPROPERTIES ('write.order' = 'v')") }
    for (b <- Seq("bad1", "bad2", "bad3"))
      assert(ST.headVersion(spark, s"$root/$b") == 0,
        s"$b must not exist after a refused CREATE")
  }
}
