package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.Snapshot

/** Contract of the snapshot-versioned table: manifests name immutable data
  * dirs, commits are refused for uncommitted dirs, deletes apply merge-on-read
  * without touching data files, and a missing manifest (crashed commit) leaves
  * the previous version as the readable head. */
class SnapshotTableSpec extends SparkTestBase {

  /** The whole-row upsert through the one MERGE path: every non-key
    * source column replaces the stored one on a matched key, and
    * unmatched source rows insert whole. */
  private def upsert(base: String,
      src: org.apache.spark.sql.DataFrame): SnapshotTable.RewriteReport =
    SnapshotTable.mergeIntoActions(spark, base, "k", src,
      Seq(None -> SnapshotTable.MatchedUpdate(src.columns.toSeq
        .filterNot(_ == "k").map(c => c -> col(s"s.$c")))),
      insertUnmatched = true)

  private def freshBase(): String =
    Files.createTempDirectory("snaptab").toString

  private def writeNums(dir: String, from: Int, until: Int): Unit = {
    import spark.implicits._
    (from until until).toDF("k").write.mode("overwrite").parquet(dir)
  }

  test("append snapshot shares prior files; old version is unaffected") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 10)
    writeNums(s"$base/d2", 10, 15)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    SnapshotTable.commit(spark, base, 2,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    assert(SnapshotTable.readVersion(spark, base, 1, "k").count() == 10)
    assert(SnapshotTable.readVersion(spark, base, 2, "k").count() == 15)
  }

  test("delete snapshot is merge-on-read; earlier versions keep the rows") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 10)
    writeNums(s"$base/del", 0, 3) // erase keys 0,1,2
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    SnapshotTable.commit(spark, base, 2,
      Snapshot(Seq(s"$base/d1"), Seq(s"$base/del")))
    val v2 = SnapshotTable.readVersion(spark, base, 2, "k")
    assert(v2.count() == 7)
    assert(v2.agg(min(col("k"))).head().getInt(0) == 3)
    // time travel to v1 still sees the erased rows
    assert(SnapshotTable.readVersion(spark, base, 1, "k").count() == 10)
  }

  test("deleteWhere commits a merge-on-read delete at head+1: matches " +
      "erased, data files untouched, history intact, stacking works") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 20)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    val before = new java.io.File(s"$base/d1").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    val v2 = SnapshotTable.deleteWhere(spark, base, "k", col("k") % 3 === 0)
    assert(v2 == 2)
    assert(SnapshotTable.readVersion(spark, base, 2, "k")
      .collect().map(_.getInt(0)).sorted.toSeq ==
      (0 until 20).filter(_ % 3 != 0))
    // the data files were not rewritten (merge-on-read, O(matches))
    val after = new java.io.File(s"$base/d1").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == before, "deleteWhere rewrote data files")
    // time travel: v1 keeps every row
    assert(SnapshotTable.readVersion(spark, base, 1, "k").count() == 20)
    // deletes STACK: a second delete appends to the delete set
    val v3 = SnapshotTable.deleteWhere(spark, base, "k", col("k") === 1)
    assert(v3 == 3)
    assert(SnapshotTable.readVersion(spark, base, 3, "k")
      .collect().map(_.getInt(0)).sorted.toSeq ==
      (0 until 20).filter(k => k % 3 != 0 && k != 1))
    // an empty match still commits a (replayable) version boundary
    val v4 = SnapshotTable.deleteWhere(spark, base, "k", col("k") > 999)
    assert(v4 == 4)
    assert(SnapshotTable.readVersion(spark, base, 4, "k").count() ==
      SnapshotTable.readVersion(spark, base, 3, "k").count())
    // empty table guard
    intercept[IllegalArgumentException] {
      SnapshotTable.deleteWhere(spark, freshBase(), "k", col("k") === 1)
    }
  }

  test("compact folds stacked deletes: only hit dirs rewrite, the head " +
      "read is join-free, history intact, delete-after-compact stacks") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 10)
    writeNums(s"$base/d2", 10, 20)
    SnapshotTable.commit(spark, base, 1,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    assert(SnapshotTable.deleteWhere(spark, base, "k", col("k") < 2) == 2)
    assert(SnapshotTable.deleteWhere(spark, base, "k", col("k") === 5) == 3)
    val untouched = new java.io.File(s"$base/d2").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    val rep = SnapshotTable.compact(spark, base, "k")
    // both delete files fold in one pass; only d1 held deleted keys
    assert(rep == SnapshotTable.CompactReport(4, 1, 1, 2), rep.toString)
    val snap = SnapshotTable.manifest(spark, base, 4)
    assert(snap.deleteDirs.isEmpty, "fold must commit an empty delete set")
    assert(snap.dataDirs.toSet
      .map((d: String) => d.replaceAll("-[0-9a-f]{8}$", "")) ==
      Set(s"$base/d2", s"$base/_compact_v4"),
      s"unhit dir must carry over by reference, got ${snap.dataDirs}")
    assert(new java.io.File(s"$base/d2").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap == untouched,
      "kept dir's files must be physically untouched")
    val head = SnapshotTable.readVersion(spark, base, 4, "k")
    assert(!head.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0).contains("Join"),
      "compacted head read must not pay the merge-on-read anti join")
    assert(head.collect().map(_.getInt(0)).sorted.toSeq ==
      (2 until 20).filterNot(_ == 5))
    // time travel: v1 pre-delete, v2/v3 merge-on-read views unchanged
    assert(SnapshotTable.readVersion(spark, base, 1, "k").count() == 20)
    assert(SnapshotTable.readVersion(spark, base, 3, "k").count() == 17)
    // the maintenance loop keeps composing: delete on the compacted head
    assert(SnapshotTable.deleteWhere(spark, base, "k", col("k") === 19) == 5)
    assert(SnapshotTable.readVersion(spark, base, 5, "k").count() == 16)
  }

  test("compact is a no-op on a delete-free head and keeps every dir by " +
      "reference when the deletes match nothing") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 10)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    assert(SnapshotTable.compact(spark, base, "k") ==
      SnapshotTable.CompactReport(1, 0, 1, 0))
    assert(SnapshotTable.headVersion(spark, base) == 1, "no-op must not commit")
    // a delete set that misses every stored key: fold commits (the delete
    // files fold away) but no dir rewrites
    writeNums(s"$base/del", 100, 103)
    SnapshotTable.commit(spark, base, 2,
      Snapshot(Seq(s"$base/d1"), Seq(s"$base/del")))
    val rep = SnapshotTable.compact(spark, base, "k")
    assert(rep == SnapshotTable.CompactReport(3, 0, 1, 1), rep.toString)
    val snap = SnapshotTable.manifest(spark, base, 3)
    assert(snap.dataDirs == Seq(s"$base/d1") && snap.deleteDirs.isEmpty)
    assert(SnapshotTable.readVersion(spark, base, 3, "k").count() == 10)
  }

  test("compact survives an all-rows-deleted dir: the rewritten dir keeps " +
      "its schema and the head stays readable") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 5)
    writeNums(s"$base/d2", 5, 10)
    SnapshotTable.commit(spark, base, 1,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    assert(SnapshotTable.deleteWhere(spark, base, "k", col("k") < 5) == 2)
    val rep = SnapshotTable.compact(spark, base, "k")
    assert(rep == SnapshotTable.CompactReport(3, 1, 1, 1), rep.toString)
    assert(SnapshotTable.readVersion(spark, base, 3, "k")
      .collect().map(_.getInt(0)).sorted.toSeq == (5 until 10))
  }

  test("compact refuses a racing committer's claimed version and the " +
      "staging-column collision loudly") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 10)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    SnapshotTable.deleteWhere(spark, base, "k", col("k") < 2)
    // an empty manifest file (store damage — publish never leaves one):
    // the phantom head must surface loudly, never compact as if it were
    // readable committed history
    Files.createFile(java.nio.file.Paths.get(s"$base/_MANIFEST_v3"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.compact(spark, base, "k")
    }
    assert(e.getMessage.contains("partial/corrupt manifest v3"),
      e.getMessage)
    Files.delete(java.nio.file.Paths.get(s"$base/_MANIFEST_v3"))
    // caller data carrying the staging column name must be rejected
    val base2 = freshBase()
    import spark.implicits._
    (0 until 5).map(i => (i, s"dir$i")).toDF("k", "_graft_compact_dir")
      .write.parquet(s"$base2/d1")
    SnapshotTable.commit(spark, base2, 1, Snapshot(Seq(s"$base2/d1"), Nil))
    SnapshotTable.deleteWhere(spark, base2, "k", col("k") < 2)
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.compact(spark, base2, "k")
    }
    assert(e2.getMessage.contains("staging column"), e2.getMessage)
  }

  private def writeKv(dir: String, from: Int, until: Int,
      vOf: Int => Int = identity): Unit = {
    import spark.implicits._
    (from until until).map(i => (i, vOf(i))).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
  }

  test("updateWhere copy-on-writes only the hit dirs; unhit dirs and the " +
      "delete set carry over; history intact") {
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10)
    writeKv(s"$base/d2", 10, 20)
    SnapshotTable.commit(spark, base, 1,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    val untouched = new java.io.File(s"$base/d2").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    val rep = SnapshotTable.updateWhere(spark, base,
      col("k") < 3, Seq("v" -> (col("v") + 100)))
    assert(rep == SnapshotTable.RewriteReport(2, 1, 1), rep.toString)
    val snap = SnapshotTable.manifest(spark, base, 2)
    assert(snap.dataDirs.toSet
      .map((d: String) => d.replaceAll("-[0-9a-f]{8}$", "")) ==
      Set(s"$base/d2", s"$base/_update_v2") &&
      snap.deleteDirs.isEmpty, snap.toString)
    assert(new java.io.File(s"$base/d2").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap == untouched,
      "kept dir's files must be physically untouched")
    val head = SnapshotTable.readVersion(spark, base, 2, "k")
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    assert(head == (0 until 20).map(i => (i, if (i < 3) i + 100 else i)),
      s"got $head")
    // time travel: v1 still sees the pre-update values
    assert(SnapshotTable.readVersion(spark, base, 1, "k")
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ==
      (0 until 20).map(i => (i, i)))
  }

  test("updateWhere: every assignment and the predicate evaluate against " +
      "the OLD row — swap works, a SET does not feed the WHERE") {
    val base = freshBase()
    writeKv(s"$base/d1", 0, 5, _ + 10) // v = k + 10
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    // SET k = v, v = k: a sequential fold would set k := v then v := (new
    // k) = v — no swap; SQL semantics swap
    SnapshotTable.updateWhere(spark, base, col("k") === 2,
      Seq("k" -> col("v"), "v" -> col("k")))
    val got = SnapshotTable.readVersion(spark, base, 2, "k")
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    assert(got == Seq((0, 10), (1, 11), (3, 13), (4, 14), (12, 2)),
      s"got $got")
    // SET v = v + 100, k = 0 WHERE v = 12: after the v assignment no row
    // still has v = 12, but k must update on the SAME matched row anyway
    SnapshotTable.updateWhere(spark, base, col("v") === 13,
      Seq("v" -> (col("v") + 100), "k" -> lit(0)))
    val got2 = SnapshotTable.readVersion(spark, base, 3, "k")
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    assert(got2 == Seq((0, 10), (0, 113), (1, 11), (4, 14), (12, 2)),
      s"got $got2")
    // assigning the same column twice is ambiguous — refused
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, base, col("k") === 0,
        Seq("v" -> lit(1), "v" -> lit(2)))
    }
    assert(e.getMessage.contains("more than once"), e.getMessage)
  }

  test("updateWhere: no match commits nothing; unknown SET column and a " +
      "claimed version are refused; a delete-masked key stays masked " +
      "through a rewrite") {
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    assert(SnapshotTable.updateWhere(spark, base, col("k") > 99,
      Seq("v" -> lit(0))) == SnapshotTable.RewriteReport(1, 0, 1))
    assert(SnapshotTable.headVersion(spark, base) == 1,
      "an update matching nothing must not commit a version")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, base, col("k") < 1,
        Seq("nope" -> lit(0)))
    }
    assert(e.getMessage.contains("absent"), e.getMessage)
    // delete k=1, then rewrite its dir: the mask must survive the rewrite
    assert(SnapshotTable.deleteWhere(spark, base, "k", col("k") === 1) == 2)
    val rep = SnapshotTable.updateWhere(spark, base,
      col("k") < 3, Seq("v" -> (col("v") + 100)))
    assert(rep == SnapshotTable.RewriteReport(3, 1, 0), rep.toString)
    assert(SnapshotTable.manifest(spark, base, 3).deleteDirs.nonEmpty,
      "update must carry the delete set forward")
    assert(SnapshotTable.readVersion(spark, base, 3, "k")
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ==
      (0 until 10).filterNot(_ == 1)
        .map(i => (i, if (i < 3) i + 100 else i)))
    // an empty manifest file (store damage): loud, never a silent update
    // of a phantom head
    Files.createFile(java.nio.file.Paths.get(s"$base/_MANIFEST_v4"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, base, col("k") < 1,
        Seq("v" -> lit(0)))
    }
    assert(e2.getMessage.contains("partial/corrupt manifest v4"),
      e2.getMessage)
  }

  test("mergeInto replaces matched rows, appends new keys, rewrites only " +
      "hit dirs, and keeps history intact") {
    import spark.implicits._
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10)
    writeKv(s"$base/d2", 10, 20)
    SnapshotTable.commit(spark, base, 1,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    val untouched = new java.io.File(s"$base/d2").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    // keys 1,3 exist (in d1); 40,41 are new
    val src = Seq((1, 101), (3, 103), (40, 140), (41, 141)).toDF("k", "v")
    val rep = upsert(base, src)
    assert(rep == SnapshotTable.RewriteReport(2, 1, 1), rep.toString)
    val snap = SnapshotTable.manifest(spark, base, 2)
    assert(snap.dataDirs.toSet
      .map((d: String) => d.replaceAll("-[0-9a-f]{8}$", "")) ==
      Set(s"$base/d2", s"$base/_merge_v2") &&
      snap.deleteDirs.isEmpty, snap.toString)
    assert(new java.io.File(s"$base/d2").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap == untouched,
      "kept dir's files must be physically untouched")
    val head = SnapshotTable.readVersion(spark, base, 2, "k")
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    val want = ((0 until 20).map(i => (i, i)).toMap ++
      Map(1 -> 101, 3 -> 103, 40 -> 140, 41 -> 141)).toSeq.sorted
    assert(head == want, s"got $head")
    assert(SnapshotTable.readVersion(spark, base, 1, "k")
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ==
      (0 until 20).map(i => (i, i)), "v1 must see the pre-merge rows")
  }

  test("mergeInto: a no-match merge is a pure append the change feed can " +
      "read; duplicate source keys, schema drift, and erased keys behave") {
    import spark.implicits._
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    // pure append: no rewrite, and the window stays CDF-expressible
    val rep = upsert(base,
      Seq((30, 130), (31, 131)).toDF("k", "v"))
    assert(rep == SnapshotTable.RewriteReport(2, 0, 1), rep.toString)
    assert(SnapshotTable.readChanges(spark, base, 1, 2, "k")
      .select(col("change"), col("k")).collect()
      .map(r => (r.getString(0), r.getInt(1))).sorted.toSeq ==
      Seq(("insert", 30), ("insert", 31)),
      "a pure-append merge must be readable as a change window")
    // duplicate keys within the source: refused
    val e = intercept[IllegalArgumentException] {
      upsert(base,
        Seq((7, 1), (7, 2)).toDF("k", "v"))
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    // schema drift: refused
    val e2 = intercept[IllegalArgumentException] {
      upsert(base,
        Seq((7, 1, "x")).toDF("k", "v", "extra"))
    }
    assert(e2.getMessage.contains("schema"), e2.getMessage)
    // an erased key stays erased: merge cannot resurrect it
    assert(SnapshotTable.deleteWhere(spark, base, "k", col("k") === 4) == 3)
    val rep2 = upsert(base,
      Seq((4, 999)).toDF("k", "v"))
    assert(rep2.version == 4 && rep2.dirsRewritten == 1)
    val head = SnapshotTable.readVersion(spark, base, 4, "k")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(!head.contains(4),
      "a delete-masked key must stay masked through a merge (erase " +
        "cascade); compact first to re-insert")
  }

  test("readChanges emits appended rows as inserts and newly-masked " +
      "visible keys as deletes, composes across windows, and refuses a " +
      "rewrite window") {
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    writeKv(s"$base/d2", 10, 15)
    SnapshotTable.commit(spark, base, 2,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    assert(SnapshotTable.deleteWhere(spark, base, "k", col("k") < 2) == 3)
    def feed(a: Int, b: Int): Seq[(String, Int)] =
      SnapshotTable.readChanges(spark, base, a, b, "k")
        .select(col("change"), col("k")).collect()
        .map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    assert(feed(1, 2) == (10 until 15).map(("insert", _)))
    assert(feed(2, 3) == Seq(("delete", 0), ("delete", 1)))
    assert(feed(1, 3) ==
      Seq(("delete", 0), ("delete", 1)) ++ (10 until 15).map(("insert", _)))
    // STABLE SHAPE: every window — append, delete-only, empty — projects
    // to tableSchema(vTo) + change, so per-commit consumers and
    // cross-window unions never hit a content-dependent schema. Delete
    // rows carry typed-NULL payload columns.
    val delOnly = SnapshotTable.readChanges(spark, base, 2, 3, "k")
    assert(delOnly.columns.toSeq == Seq("k", "v", "change"),
      s"delete-only window must keep the full shape: ${delOnly.columns.toSeq}")
    assert(delOnly.collect().forall(_.isNullAt(1)),
      "delete rows carry typed-NULL payload columns")
    val empty = SnapshotTable.readChanges(spark, base, 3, 3, "k")
    assert(empty.columns.toSeq == Seq("k", "v", "change") &&
      empty.count() == 0)
    // cross-window union is now schema-safe by construction
    assert(SnapshotTable.readChanges(spark, base, 1, 2, "k")
      .unionByName(delOnly).count() == 7)
    // deleting never-present keys emits no change
    writeKv(s"$base/del_ghost", 100, 103)
    SnapshotTable.commit(spark, base, 4, Snapshot(
      Seq(s"$base/d1", s"$base/d2"),
      SnapshotTable.manifest(spark, base, 3).deleteDirs :+
        s"$base/del_ghost"))
    assert(feed(3, 4).isEmpty, "a ghost delete is not a change")
    // an appended row whose key an OLDER delete file masks is not visible
    // at vTo, so it must not emit as an insert
    writeKv(s"$base/d3", 0, 1) // k=0 was deleted at v3
    writeKv(s"$base/d3b", 20, 22)
    SnapshotTable.commit(spark, base, 5, Snapshot(
      Seq(s"$base/d1", s"$base/d2", s"$base/d3", s"$base/d3b"),
      SnapshotTable.manifest(spark, base, 4).deleteDirs))
    assert(feed(4, 5) == Seq(("insert", 20), ("insert", 21)),
      "the masked re-append must stay invisible to the feed")
    // a compaction window is not expressible as append+delete: refuse
    val rep = SnapshotTable.compact(spark, base, "k")
    assert(rep.version == 6 && rep.deletesFolded == 2)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.readChanges(spark, base, 5, 6, "k")
    }
    assert(e.getMessage.contains("rewrite"), e.getMessage)
  }

  test("commit refuses a data dir without _SUCCESS") {
    val base = freshBase()
    Files.createDirectories(java.nio.file.Paths.get(s"$base/raw"))
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/raw"), Nil))
    }
  }

  test("crashed commit (no manifest) leaves the previous head readable") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 5)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    // v2 was never committed: reading it must fail loudly...
    intercept[IllegalArgumentException] {
      SnapshotTable.readVersion(spark, base, 2, "k")
    }
    // ...and v1 stays fully readable.
    assert(SnapshotTable.readVersion(spark, base, 1, "k").count() == 5)
  }

  test("vacuum drops old manifests + orphan dirs, keeps shared/live dirs") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 10)
    writeNums(s"$base/d2", 10, 15)
    writeNums(s"$base/all", 0, 15) // the compaction rewrite
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    SnapshotTable.commit(spark, base, 2,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    SnapshotTable.commit(spark, base, 3, Snapshot(Seq(s"$base/all"), Nil))
    val rep = SnapshotTable.vacuum(spark, base, 3, 3)
    assert(rep == SnapshotTable.VacuumReport(2, 2, 1))
    // orphaned data dirs are physically gone, the live dir is untouched
    assert(!new java.io.File(s"$base/d1").exists)
    assert(!new java.io.File(s"$base/d2").exists)
    assert(new java.io.File(s"$base/all").exists)
    // the surviving head reads its full content
    assert(SnapshotTable.readVersion(spark, base, 3, "k").count() == 15)
    // vacuumed versions fail with the ordinary missing-snapshot error
    intercept[IllegalArgumentException] {
      SnapshotTable.readVersion(spark, base, 1, "k")
    }
    // idempotent: a second vacuum finds nothing to collect
    assert(SnapshotTable.vacuum(spark, base, 3, 3) ==
      SnapshotTable.VacuumReport(0, 0, 1))
  }

  test("vacuum keeps a dir the surviving range still references") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 10)
    writeNums(s"$base/d2", 10, 15)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    SnapshotTable.commit(spark, base, 2,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    // v2 still references d1, so dropping v1 must delete NO dirs
    val rep = SnapshotTable.vacuum(spark, base, 2, 2)
    assert(rep == SnapshotTable.VacuumReport(1, 0, 2))
    assert(SnapshotTable.readVersion(spark, base, 2, "k").count() == 15)
  }

  test("countRows answers from the manifest alone (proven: data files " +
      "deleted), degrades to None on uncounted dirs or deletes, and " +
      "round-trips the rows line") {
    import spark.implicits._
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10)
    writeKv(s"$base/d2", 10, 30)
    SnapshotTable.commit(spark, base, 1,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil,
        rowCounts = Map(s"$base/d1" -> 10L, s"$base/d2" -> 20L)))
    // round-trip through the manifest text
    assert(SnapshotTable.manifest(spark, base, 1).rowCounts ==
      Map(s"$base/d1" -> 10L, s"$base/d2" -> 20L))
    assert(SnapshotTable.countRows(spark, base, 1).contains(30L))
    // THE metadata-only proof: remove the parquet data files (keep the
    // _SUCCESS markers) — the count must still answer, because it never
    // touches data
    for (d <- Seq("d1", "d2"); f <- new java.io.File(base, d).listFiles
         if f.getName.endsWith(".parquet")) assert(f.delete())
    assert(SnapshotTable.countRows(spark, base, 1).contains(30L))
    // an uncounted dir or a pending delete → None (err slow, never wrong)
    val b2 = freshBase()
    writeKv(s"$b2/d1", 0, 5)
    writeKv(s"$b2/d2", 5, 8)
    SnapshotTable.commit(spark, b2, 1, Snapshot(Seq(s"$b2/d1", s"$b2/d2"),
      Nil, rowCounts = Map(s"$b2/d1" -> 5L)))
    assert(SnapshotTable.countRows(spark, b2, 1).isEmpty)
    SnapshotTable.commit(spark, b2, 2, Snapshot(Seq(s"$b2/d1", s"$b2/d2"),
      Nil, rowCounts = Map(s"$b2/d1" -> 5L, s"$b2/d2" -> 3L)))
    assert(SnapshotTable.countRows(spark, b2, 2).contains(8L))
    SnapshotTable.deleteWhere(spark, b2, "k", col("k") === 1)
    assert(SnapshotTable.countRows(spark, b2, 3).isEmpty,
      "a pending delete must disable the metadata count")
    // counts for dirs outside the data set normalize away; negatives refuse
    SnapshotTable.commit(spark, b2, 4, Snapshot(Seq(s"$b2/d1"), Nil,
      rowCounts = Map(s"$b2/d1" -> 5L, s"$b2/dgone" -> 9L)))
    assert(SnapshotTable.manifest(spark, b2, 4).rowCounts ==
      Map(s"$b2/d1" -> 5L))
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, b2, 5, Snapshot(Seq(s"$b2/d1"), Nil,
        rowCounts = Map(s"$b2/d1" -> -1L)))
    }
  }

  test("cloneAt carries the version's full manifest; restore rolls " +
      "forward to old content; out-of-range restore refuses") {
    val src = freshBase()
    writeKv(s"$src/d1", 0, 10)
    SnapshotTable.commit(spark, src, 1, Snapshot(Seq(s"$src/d1"), Nil))
    SnapshotTable.deleteWhere(spark, src, "k", col("k") < 3) // v2: deletes
    SnapshotTable.evolveAddColumns(spark, src, "`w` BIGINT") // v3: schema
    val dst = freshBase()
    SnapshotTable.cloneAt(spark, src, 3, dst)
    val cloned = SnapshotTable.manifest(spark, dst, 1)
    assert(cloned == SnapshotTable.manifest(spark, src, 3),
      "the clone must carry dirs, delete set, bounds AND schema verbatim")
    assert(SnapshotTable.readVersion(spark, dst, 1, "k").count() == 7)
    // the clone's delete never touches the source
    SnapshotTable.deleteWhere(spark, dst, "k", col("k") === 5)
    assert(SnapshotTable.readVersion(spark, dst, 2, "k").count() == 6)
    assert(SnapshotTable.readVersion(spark, src, 3, "k").count() == 7)
    // restore: head becomes the old content, history intact
    assert(SnapshotTable.restore(spark, dst, 1) == 3)
    assert(SnapshotTable.readVersion(spark, dst, 3, "k").count() == 7)
    assert(SnapshotTable.readVersion(spark, dst, 2, "k").count() == 6,
      "restore must preserve the rolled-past version for forensics")
    intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, dst, 9)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, dst, 0)
    }
  }

  test("vacuumOlderThan resolves the cutoff against manifest mtimes; " +
      "the head always survives") {
    val base = freshBase()
    for (v <- 1 to 4) {
      writeNums(s"$base/d$v", v * 10, v * 10 + 5)
      SnapshotTable.commit(spark, base, v,
        Snapshot((1 to v).map(i => s"$base/d$i"), Nil))
      assert(new java.io.File(base, s"_MANIFEST_v$v")
        .setLastModified(v * 1000000L))
    }
    // cutoff between v2 and v3: v2 is the newest at-or-before — v1 drops,
    // v2..4 survive (time travel "as of the cutoff" keeps working)
    val rep = SnapshotTable.vacuumOlderThan(spark, base, 2500000L)
    assert(rep.manifestsRemoved == 1, rep)
    assert(!new java.io.File(base, "_MANIFEST_v1").exists)
    assert(SnapshotTable.readVersion(spark, base, 2, "k").count() == 10)
    // a cutoff before every surviving commit keeps everything (nothing
    // qualifies; the 4 live dirs are d1..d4 via the v2..v4 manifests)
    assert(SnapshotTable.vacuumOlderThan(spark, base, 1L)
      == SnapshotTable.VacuumReport(0, 0, 4))
    // a cutoff after every commit keeps ONLY the head — never zero
    val rep2 = SnapshotTable.vacuumOlderThan(spark, base, Long.MaxValue)
    assert(rep2.manifestsRemoved == 2 &&
      SnapshotTable.headVersion(spark, base) == 4)
    assert(SnapshotTable.readVersion(spark, base, 4, "k").count() == 20)
  }

  test("vacuum canonicalizes dir spellings: a trailing-slash reference cannot orphan a live dir") {
    // the r10-advice latent bug: orphan-vs-live was decided by LEXICAL
    // string equality, so a dir recorded with a cosmetic path difference
    // (trailing slash here) in an old manifest read as "not in the live
    // set" and was physically deleted while the surviving manifest still
    // referenced it. Both sides now pass through fs.makeQualified.
    val base = freshBase()
    writeNums(s"$base/d1", 0, 10)
    // v1 names d1 with a trailing slash; v2 names the same dir bare
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1/"), Nil))
    SnapshotTable.commit(spark, base, 2, Snapshot(Seq(s"$base/d1"), Nil))
    val rep = SnapshotTable.vacuum(spark, base, 2, 2)
    // the old manifest dropped, but its differently-spelled dir collided
    // with the live set — nothing deleted, the head still reads
    assert(rep.manifestsRemoved == 1 && rep.dirsRemoved == 0,
      s"cosmetic spelling difference deleted a live dir: $rep")
    assert(new java.io.File(s"$base/d1").exists)
    assert(SnapshotTable.readVersion(spark, base, 2, "k").count() == 10)
  }

  test("partial manifest write is rejected by the crc footer") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 5)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    // Simulate store damage: truncate the committed manifest mid-body.
    // The reader must refuse it, not resurrect state. (A published
    // manifest carries no LocalFS `.crc` companion, so the document's own
    // checksum is the path under test.)
    val resolved = java.nio.file.Paths.get(s"$base/_MANIFEST_v1")
    assert(Files.exists(resolved), s"no v1 manifest found under $base")
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/._MANIFEST_v1.crc")))
    val full = Files.readAllBytes(resolved)
    Files.write(resolved, java.util.Arrays.copyOfRange(full, 0, full.length / 2))
    val partial = intercept[IllegalArgumentException] {
      SnapshotTable.manifest(spark, base, 1)
    }
    assert(partial.getMessage.contains("partial/corrupt manifest"),
      s"rejection must come from the crc footer, got: ${partial.getMessage}")
    // An intact manifest (restored bytes) reads fine again.
    Files.write(resolved, full)
    assert(SnapshotTable.readVersion(spark, base, 1, "k").count() == 5)
  }

  test("a manifest that is not a checksummed document is refused on " +
      "read and on recommit, never overwritten") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 5)
    // the pre-JSON line format, and a JSON body whose crc was not
    // recomputed after an edit: both are damage, not history
    val mp = java.nio.file.Paths.get(SnapshotTable.manifestFile(base, 1))
    val line = s"data=$base/d1\ndelete=\ncrc=00000000\n"
    SnapshotTable.commit(spark, base, 2, Snapshot(Seq(s"$base/d1"), Nil))
    val edited = new String(Files.readAllBytes(java.nio.file.Paths.get(
      SnapshotTable.manifestFile(base, 2))), "UTF-8").replace("/d1", "/d2")
    for (body <- Seq(line, edited)) {
      Files.write(mp, body.getBytes("UTF-8"))
      for (read <- Seq(() => SnapshotTable.manifest(spark, base, 1): Unit,
          () => SnapshotTable.commit(spark, base, 1,
            Snapshot(Seq(s"$base/d1"), Nil))))
        assert(intercept[IllegalArgumentException](read())
          .getMessage.contains("partial/corrupt manifest v1"))
      assert(new String(Files.readAllBytes(mp), "UTF-8") == body,
        "a recommit must never overwrite a damaged manifest")
    }
  }

  test("dir bounds round-trip the manifest and prune numerically; " +
      "unbounded dirs and empty windows behave") {
    val base = freshBase()
    writeNums(s"$base/d1", 5, 10)    // k in [5, 9]
    writeNums(s"$base/d2", 10, 100)  // k in [10, 99]
    val dirs = Seq(s"$base/d1", s"$base/d2")
    val bounds = SnapshotTable.computeBounds(spark, dirs, "k")
    assert(bounds.map(b => (b.dir, b.typ, b.min, b.max)).sorted ==
      Seq((s"$base/d1", "long", "5", "9"), (s"$base/d2", "long", "10", "99")))
    SnapshotTable.commit(spark, base, 1, Snapshot(dirs, Nil, bounds))
    assert(SnapshotTable.manifest(spark, base, 1).bounds.toSet ==
      bounds.toSet, "bounds must survive the manifest round-trip")
    // NUMERIC compare: lexically "99" < "90", so a lexical prune would
    // wrongly drop d2 for the [90, 95] window
    val (df, rep) = SnapshotTable.readVersionPruned(spark, base, 1,
      "k", "k", "90", "95")
    assert(rep == SnapshotTable.PruneReport(1, 2), rep.toString)
    assert(df.where(col("k").between(90, 95)).count() == 6)
    // a window inside d1 prunes d2
    assert(SnapshotTable.readVersionPruned(spark, base, 1,
      "k", "k", "6", "8")._2 == SnapshotTable.PruneReport(1, 2))
    // a window matching nothing prunes EVERYTHING and still yields a
    // schema-correct empty frame
    val (empty, repNone) = SnapshotTable.readVersionPruned(spark, base, 1,
      "k", "k", "200", "300")
    assert(repNone == SnapshotTable.PruneReport(0, 2) &&
      empty.columns.toSeq == Seq("k") && empty.count() == 0)
    // a dir with NO bounds entry is always kept: commit v2 with bounds
    // for d1 only
    SnapshotTable.commit(spark, base, 2,
      Snapshot(dirs, Nil, bounds.filter(_.dir == s"$base/d1")))
    assert(SnapshotTable.readVersionPruned(spark, base, 2,
      "k", "k", "200", "300")._2 == SnapshotTable.PruneReport(1, 2),
      "an unbounded dir must survive every window")
  }

  test("bounds carry over kept dirs through delete/update/merge/compact " +
      "and rewritten dirs get FRESH exact bounds") {
    import spark.implicits._
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10)
    writeKv(s"$base/d2", 10, 20)
    val dirs = Seq(s"$base/d1", s"$base/d2")
    SnapshotTable.commit(spark, base, 1,
      Snapshot(dirs, Nil, SnapshotTable.computeBounds(spark, dirs, "k")))
    // delete: data dirs untouched, ALL bounds carry
    SnapshotTable.deleteWhere(spark, base, "k", col("k") === 15)
    assert(SnapshotTable.manifest(spark, base, 2).bounds.size == 2)
    // update hits d1 only: d2's bounds carry, the rewritten dir gets
    // FRESH bounds (k untouched by the SET, so its old range)
    SnapshotTable.updateWhere(spark, base, col("k") === 1,
      Seq("v" -> lit(999)))
    val b3 = SnapshotTable.manifest(spark, base, 3).bounds
    assert(b3.size == 2, b3.toString)
    val upd3 = b3.filterNot(_.dir == s"$base/d2")
    assert(upd3.map(b => (b.min, b.max)) == Seq(("0", "9")), b3.toString)
    // a window inside the rewritten dir's range prunes d2
    val (_, rep) = SnapshotTable.readVersionPruned(spark, base, 3,
      "k", "k", "0", "5")
    assert(rep == SnapshotTable.PruneReport(1, 2), rep.toString)
    // merge matching d2: the merge dir's fresh bounds span stored ∪ source
    upsert(base, Seq((12, 112)).toDF("k", "v"))
    val b4 = SnapshotTable.manifest(spark, base, 4).bounds
    val mrg4 = b4.filter(_.dir.contains("_merge_"))
    assert(b4.size == 2 &&
      mrg4.map(b => (b.min, b.max)) == Seq(("10", "19")), b4.toString)
    // compact folds the delete: the compacted dir's fresh bounds describe
    // the MASKED content, and pruning still works on the aged table
    val cr = SnapshotTable.compact(spark, base, "k")
    val b5 = SnapshotTable.manifest(spark, base, 5).bounds
    assert(cr.version == 5 && b5.size == 2, b5.toString)
    assert(SnapshotTable.readVersion(spark, base, 5, "k").count() == 19)
    assert(SnapshotTable.readVersionPruned(spark, base, 5,
      "k", "k", "12", "14")._2 == SnapshotTable.PruneReport(1, 2))
    // a SET that MOVES the stats column: the rewritten dir's fresh bounds
    // must reflect the new values, not carry the stale range
    SnapshotTable.updateWhere(spark, base, col("k") === 10,
      Seq("k" -> lit(1000)))
    val b6 = SnapshotTable.manifest(spark, base, 6).bounds
    assert(b6.exists(b => b.max == "1000"), b6.toString)
    assert(SnapshotTable.readVersionPruned(spark, base, 6,
      "k", "k", "900", "1100")._2 == SnapshotTable.PruneReport(1, 2),
      "the moved value must be findable through pruning")
  }

  test("schema evolution: metadata-only ADD, old dirs read as typed " +
      "NULLs, time travel is schema-versioned, rewrites normalize") {
    import spark.implicits._
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    // metadata-only commit: no data I/O, dirs unchanged
    assert(SnapshotTable.evolveAddColumns(spark, base, "`w` BIGINT") == 2)
    val head2 = SnapshotTable.readVersion(spark, base, 2, "k")
    assert(head2.columns.toSeq == Seq("k", "v", "w"))
    assert(head2.where(col("w").isNull).count() == 10,
      "pre-evolution rows must read the new column as NULL")
    // time travel sees the version's OWN schema
    assert(SnapshotTable.readVersion(spark, base, 1, "k")
      .columns.toSeq == Seq("k", "v"))
    // append a post-evolution dir CARRYING the new column
    (10 until 20).map(i => (i, i, i * 2L)).toDF("k", "v", "w")
      .write.parquet(s"$base/d2")
    val snap2 = SnapshotTable.manifest(spark, base, 2)
    SnapshotTable.commit(spark, base, 3,
      snap2.copy(dataDirs = snap2.dataDirs :+ s"$base/d2"))
    val head3 = SnapshotTable.readVersion(spark, base, 3, "k")
    assert(head3.count() == 20 &&
      head3.where(col("w") === col("k") * 2).count() == 10)
    // a predicate on the EVOLVED column probes across mixed-schema dirs
    // (NULL over d1) and the rewrite normalizes its dir to the new schema
    val rep = SnapshotTable.updateWhere(spark, base,
      col("w") === 30L, Seq("v" -> lit(-1)))
    assert(rep.dirsRewritten == 1 && rep.dirsKept == 1, rep.toString)
    val head4 = SnapshotTable.readVersion(spark, base, 4, "k")
    assert(head4.where(col("v") === -1).select("k")
      .as[Int].collect().toSeq == Seq(15))
    // deletes + compaction fold evolution debt away: the compacted dir
    // physically carries the evolved column
    SnapshotTable.deleteWhere(spark, base, "k", col("k") === 0)
    val cr = SnapshotTable.compact(spark, base, "k")
    assert(cr.version == 6)
    val compDir = SnapshotTable.manifest(spark, base, 6).dataDirs
      .filter(_.contains("_compact_"))
    assert(compDir.nonEmpty &&
      spark.read.parquet(compDir.head).columns.contains("w"),
      "a rewrite must normalize its dir to the current schema")
    assert(SnapshotTable.readVersion(spark, base, 6, "k").count() == 19)
    // CDF window that crosses an evolution reads under the vTo schema
    val feed = SnapshotTable.readChanges(spark, base, 2, 3, "k")
    assert(feed.where(col("change") === "insert").count() == 10 &&
      feed.columns.contains("w"))
    // refusals: duplicate column, empty DDL, merge source missing the
    // evolved column
    intercept[IllegalArgumentException] {
      SnapshotTable.evolveAddColumns(spark, base, "`v` BIGINT")
    }
    intercept[Exception] {
      SnapshotTable.evolveAddColumns(spark, base, "")
    }
    intercept[IllegalArgumentException] {
      upsert(base,
        Seq((1, 1)).toDF("k", "v"))
    }
  }

  test("expireSnapshots clamps to a crashed createBranch's raw fork " +
      "marker, and the recovered branch completes at its original fork") {
    import spark.implicits._
    val base = freshBase()
    writeKv(s"$base/d1", 0, 5)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    // simulate a crash between the _FORK claim (at v1) and the clone
    // commit: marker exists, branch head == 0, listBranches omits it
    assert(SnapshotTable.createBranch(spark, base, "wip") == 1)
    val bb = SnapshotTable.branchBase(base, "wip")
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(SnapshotTable.manifestFile(bb, 1)))
    writeKv(s"$base/d2", 5, 10)
    SnapshotTable.commit(spark, base, 2,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    assert(SnapshotTable.listBranches(spark, base).isEmpty)
    // expire with an aggressive keep_from: the RAW marker must clamp
    // retention to v1 (listBranches alone would let v1 vacuum away and
    // strand the half-created branch forever)
    SnapshotTable.expireSnapshots(spark, base, 99)
    assert(SnapshotTable.manifest(spark, base, 1).dataDirs.nonEmpty,
      "the fork version must survive expire")
    // recovery: createBranch completes the clone at the ORIGINAL fork
    assert(SnapshotTable.createBranch(spark, base, "wip") == 1)
    assert(SnapshotTable.readVersion(spark, bb, 1, "k").count() == 5,
      "the recovered branch reads the fork version's content")
    // once completed (and published or dropped), expire can move on
    SnapshotTable.dropBranch(spark, base, "wip")
    SnapshotTable.expireSnapshots(spark, base, 99)
    intercept[IllegalArgumentException] {
      SnapshotTable.manifest(spark, base, 1)
    }
  }

  test("sweepStagingOrphans collects crashed rewrite leavings, never a " +
      "referenced dir, an in-flight claim, or a fresh dir") {
    import spark.implicits._
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    // a real rewrite: its committed staging dir is REFERENCED
    SnapshotTable.updateWhere(spark, base, col("k") < 3,
      Seq("v" -> (col("v") + 1)))
    val live = SnapshotTable.manifest(spark, base, 2).dataDirs
      .find(_.contains("_update_v2")).get
    // a crashed loser's orphan at a SETTLED version
    (0 until 3).map(i => (i, i)).toDF("k", "v")
      .write.parquet(s"$base/_update_v2-deadbeef")
    // an in-flight attempt targeting the NEXT version: never swept
    (0 until 3).map(i => (i, i)).toDF("k", "v")
      .write.parquet(s"$base/_compact_v3-cafe0123")
    assert(SnapshotTable.sweepStagingOrphans(spark, base, 0L) == 1)
    assert(!new java.io.File(s"$base/_update_v2-deadbeef").exists,
      "the settled orphan must be swept")
    // an OPTIMIZE loser's orphan is a staging dir like any other
    (0 until 3).map(i => (i, i)).toDF("k", "v")
      .write.parquet(s"$base/_optimize_v2-0badf00d")
    assert(SnapshotTable.sweepStagingOrphans(spark, base, 0L) == 1)
    assert(!new java.io.File(s"$base/_optimize_v2-0badf00d").exists,
      "an unreferenced, idle optimize staging dir must be swept")
    assert(new java.io.File(s"$base/_compact_v3-cafe0123").exists,
      "an in-flight (head+1) staging dir must survive")
    assert(new java.io.File(live).exists,
      "a manifest-referenced dir must survive")
    // the idle margin protects fresh dirs even at settled versions
    (0 until 3).map(i => (i, i)).toDF("k", "v")
      .write.parquet(s"$base/_merge_v1-00aa11bb")
    assert(SnapshotTable.sweepStagingOrphans(spark, base) == 0,
      "a fresh dir inside the idle margin must survive")
    // table state is untouched throughout
    assert(SnapshotTable.readVersion(spark, base, 2, "k").count() == 10)
  }

  test("type-widening evolution: metadata-only int→bigint, mixed-" +
      "generation dirs read cast, time travel keeps the old type, " +
      "narrowing and pending deletes refuse") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10) // k,v INT
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    // metadata-only widen: no data I/O, dirs unchanged
    assert(SnapshotTable.evolveWidenColumnType(
      spark, base, "v", LongType) == 2)
    val head2 = SnapshotTable.readVersion(spark, base, 2, "k")
    assert(head2.schema("v").dataType == LongType)
    assert(head2.agg(sum(col("v"))).head.getLong(0) == 45L,
      "pre-widening rows must read cast, values intact")
    assert(SnapshotTable.manifest(spark, base, 2).dataDirs ==
      Seq(s"$base/d1"), "widening must not touch data dirs")
    // time travel: v1 keeps the ORIGINAL type
    assert(SnapshotTable.readVersion(spark, base, 1, "k")
      .schema("v").dataType == IntegerType)
    // a post-widening dir carries the wide type natively; both
    // generations scan under one manifest
    (10 until 15).map(i => (i, 10000000000L + i)).toDF("k", "v")
      .write.parquet(s"$base/d2")
    val snap2 = SnapshotTable.manifest(spark, base, 2)
    SnapshotTable.commit(spark, base, 3,
      snap2.copy(dataDirs = snap2.dataDirs :+ s"$base/d2"))
    val head3 = SnapshotTable.readVersion(spark, base, 3, "k")
    assert(head3.count() == 15 &&
      head3.where(col("v") > 5000000000L).count() == 5)
    // a rewrite normalizes its dir to the widened schema
    val rep = SnapshotTable.updateWhere(spark, base,
      col("k") === 1, Seq("v" -> lit(7L)))
    assert(rep.dirsRewritten == 1, rep.toString)
    val updDir = SnapshotTable.manifest(spark, base, 4).dataDirs
      .filter(_.contains("_update_"))
    assert(updDir.nonEmpty && spark.read.parquet(updDir.head)
      .schema("v").dataType == LongType,
      "a rewrite must land the widened type physically")
    // refusals: narrowing, cross-family, unknown column
    intercept[IllegalArgumentException] {
      SnapshotTable.evolveWidenColumnType(spark, base, "v", IntegerType)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.evolveWidenColumnType(spark, base, "v", StringType)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.evolveWidenColumnType(spark, base, "nope", LongType)
    }
    // pending merge-on-read deletes refuse (key files carry the old type)
    SnapshotTable.deleteWhere(spark, base, "k", col("k") === 2)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.evolveWidenColumnType(spark, base, "k", LongType)
    }
    assert(e.getMessage.contains("compact"), e.getMessage)
  }

  test("TIMESTAMP AS OF resolves against manifest mtimes; pre-table " +
      "timestamps are refused") {
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10)
    writeKv(s"$base/d2", 10, 20)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    SnapshotTable.commit(spark, base, 2,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    // pin commit times deterministically (the store's clock IS the
    // contract — setting it is the honest test, not a sleep race)
    assert(new java.io.File(base, "_MANIFEST_v1").setLastModified(100000L))
    assert(new java.io.File(base, "_MANIFEST_v2").setLastModified(200000L))
    assert(SnapshotTable.versionAsOf(spark, base, 150000L) == 1)
    assert(SnapshotTable.versionAsOf(spark, base, 200000L) == 2,
      "AS OF is inclusive of the commit instant")
    assert(SnapshotTable.versionAsOf(spark, base, 999999999L) == 2)
    assert(SnapshotTable.readAsOf(spark, base, 150000L, "k").count() == 10)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.versionAsOf(spark, base, 99999L)
    }
    assert(e.getMessage.contains("did not exist"), e.getMessage)
  }

  test("a published manifest's mtime is its commit instant: versionAsOf " +
      "resolves a just-committed version by the wall clock") {
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10)
    val before = System.currentTimeMillis()
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    val after = System.currentTimeMillis()
    val mtime = new java.io.File(SnapshotTable.manifestFile(base, 1))
      .lastModified
    // the filesystem clock may trail the JVM's by a coarse tick
    assert(mtime >= before - 1000 && mtime <= after, (before, mtime, after))
    assert(SnapshotTable.versionAsOf(spark, base, after) == 1)
    // no publish temp is left behind beside the manifest
    assert(new java.io.File(base).list.forall(!_.endsWith(".tmp")))
  }

  test("OPTIMIZE bin-packs small dirs into one, keeps big dirs and the " +
      "delete set, rebounds the packed dir; sub-2 packing is a no-op") {
    val base = freshBase()
    writeKv(s"$base/big", 0, 5000)
    writeKv(s"$base/s1", 5000, 5010)
    writeKv(s"$base/s2", 5010, 5020)
    writeKv(s"$base/s3", 5020, 5030)
    val dirs = Seq(s"$base/big", s"$base/s1", s"$base/s2", s"$base/s3")
    SnapshotTable.commit(spark, base, 1,
      Snapshot(dirs, Nil, SnapshotTable.computeBounds(spark, dirs, "k")))
    SnapshotTable.deleteWhere(spark, base, "k", col("k") === 5005) // v2
    // threshold between the small dirs' and the big dir's sizes
    val bigP = new org.apache.hadoop.fs.Path(s"$base/big")
    val bigLen = bigP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(bigP).getLength
    val rep = SnapshotTable.optimizeSmallDirs(spark, base, bigLen)
    assert(rep == SnapshotTable.OptimizeReport(3, 3, 1), rep.toString)
    val s3m = SnapshotTable.manifest(spark, base, 3)
    assert(s3m.dataDirs.toSet
      .map((d: String) => d.replaceAll("-[0-9a-f]{8}$", "")) ==
      Set(s"$base/big", s"$base/_optimize_v3"), s3m.dataDirs.toString)
    assert(s3m.deleteDirs.nonEmpty,
      "packing must carry the delete set — masked keys stay masked")
    // masked key still masked; row counts preserved
    val head = SnapshotTable.readVersion(spark, base, 3, "k")
    assert(head.count() == 5029 &&
      head.where(col("k") === 5005).isEmpty)
    // the packed dir got FRESH bounds spanning the small dirs' range,
    // so pruning still engages on the optimized table
    val packed = s3m.bounds.filter(
      _.dir.replaceAll("-[0-9a-f]{8}$", "") == s"$base/_optimize_v3")
    assert(packed.map(b => (b.min, b.max)) == Seq(("5000", "5029")),
      s3m.bounds.toString)
    assert(SnapshotTable.readVersionPruned(spark, base, 3,
      "k", "k", "5015", "5025")._2 == SnapshotTable.PruneReport(1, 2))
    // nothing small left to bin: no-op at the same head
    val rep2 = SnapshotTable.optimizeSmallDirs(spark, base, 10L)
    assert(rep2 == SnapshotTable.OptimizeReport(3, 0, 2), rep2.toString)
    // a window over the optimize is a rewrite: the change feed refuses
    intercept[IllegalArgumentException] {
      SnapshotTable.readChanges(spark, base, 2, 3, "k")
    }
  }

  test("bounds computation: all-null dirs get no entry, values holding " +
      ", | ; round-trip, and unorderable types are refused loudly") {
    import spark.implicits._
    val base = freshBase()
    Seq((1, Option.empty[Int]), (2, Option.empty[Int]))
      .toDF("k", "s").write.parquet(s"$base/dnull")
    writeKv(s"$base/dv", 0, 5)
    // all-null stats col: no entry (dir is always kept — safe direction)
    assert(SnapshotTable.computeBounds(
      spark, Seq(s"$base/dnull"), "s").isEmpty)
    // string values holding , | ; and a newline: stored and read back
    // exactly, and they prune like any other bounds
    Seq(("a|b,c", 1), ("z;d\ne", 2)).toDF("name", "v")
      .write.parquet(s"$base/dodd")
    val odd = SnapshotTable.computeBounds(spark, Seq(s"$base/dodd"), "name")
    assert(odd.map(b => (b.min, b.max)) == Seq(("a|b,c", "z;d\ne")))
    SnapshotTable.commit(spark, base, 1,
      Snapshot(Seq(s"$base/dodd"), Nil, odd))
    assert(SnapshotTable.manifest(spark, base, 1).bounds == odd)
    assert(SnapshotTable.readVersionPruned(spark, base, 1, "v", "name",
      "zz", "zzz")._2 == SnapshotTable.PruneReport(0, 1))
    // a double stats column: refused (string encoding would not preserve
    // value order)
    Seq((1.5, 1)).toDF("d", "v").write.parquet(s"$base/ddbl")
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.computeBounds(spark, Seq(s"$base/ddbl"), "d")
    }
    assert(e2.getMessage.contains("bounds"), e2.getMessage)
    // bounds naming a dir outside the data set: refused
    val ok = SnapshotTable.computeBounds(spark, Seq(s"$base/dv"), "k")
    val e3 = intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, base, 2,
        Snapshot(Seq(s"$base/dnull"), Nil, ok))
    }
    assert(e3.getMessage.contains("outside"), e3.getMessage)
  }

  /** A 2-D grid of (x, y) points with a key — the zorder fixture. */
  private def writeGrid(dir: String, n: Int): Unit = {
    import spark.implicits._
    (0 until n * n).map(i => (i.toLong, (i % n).toLong, (i / n).toLong))
      .toDF("k", "x", "y").write.mode("overwrite").parquet(dir)
  }

  test("optimizeZorder slices by Morton key, folds deletes, and a box " +
      "read prunes on EITHER dimension") {
    val base = freshBase()
    writeGrid(s"$base/d0", 64)
    SnapshotTable.commit(spark, base, 1,
      Snapshot(Seq(s"$base/d0"), Nil))
    val v2 = SnapshotTable.deleteWhere(spark, base, "k", col("k") < 10)
    assert(v2 == 2)
    val rep = SnapshotTable.optimizeZorder(spark, base, "k", "x", "y", 16)
    assert(rep.version == 3 && rep.dirsIn == 1 && rep.dirsOut >= 4, rep)
    val head = SnapshotTable.manifest(spark, base, 3)
    assert(head.deleteDirs.isEmpty, "the rewrite must fold the delete set")
    assert(head.bounds.count(_.col == "x") == head.dataDirs.size &&
      head.bounds.count(_.col == "y") == head.dataDirs.size,
      "every slice dir must carry bounds on BOTH zorder columns")
    // contents: exactly the undeleted grid, once
    val (all, _) = SnapshotTable.readVersionPrunedBox(spark, base, 3, "k",
      Seq(("x", "0", "63")))
    assert(all.count() == 64L * 64 - 10 &&
      all.select(countDistinct(col("k"))).head.getLong(0) == 64L * 64 - 10)
    // a narrow box on x ALONE prunes (the single-column layout can't do
    // this on its non-sort column — the interleave is the feature)
    val (_, px) = SnapshotTable.readVersionPrunedBox(spark, base, 3, "k",
      Seq(("x", "0", "7")))
    assert(px.dirsKept < px.dirsTotal && px.dirsKept >= 1, px)
    val (_, py) = SnapshotTable.readVersionPrunedBox(spark, base, 3, "k",
      Seq(("y", "0", "7")))
    assert(py.dirsKept < py.dirsTotal && py.dirsKept >= 1, py)
    // the 2-D box keeps no more than either single-dim prune
    val (boxed, pxy) = SnapshotTable.readVersionPrunedBox(spark, base, 3,
      "k", Seq(("x", "0", "7"), ("y", "0", "7")))
    assert(pxy.dirsKept <= math.min(px.dirsKept, py.dirsKept), pxy)
    assert(boxed.where(col("x") <= 7 && col("y") <= 7).count() ==
      8L * 8 - 8, "kept dirs must still hold every box row (k<10 deletes " +
        "the first 8 of the y=0 stripe inside the box)")
  }

  test("optimizeZorder refusals: staging-column collision, missing " +
      "column, empty head, racing claim; domain guard raises") {
    import spark.implicits._
    val base = freshBase()
    writeGrid(s"$base/d0", 4)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d0"), Nil))
    intercept[IllegalArgumentException] {
      SnapshotTable.optimizeZorder(spark, base, "k", "x", "nope", 4)
    }
    // an empty manifest file (store damage): the phantom head surfaces
    // loudly through the manifest read, never rewrites as if it were
    // history
    val raced = freshBase()
    writeGrid(s"$raced/d0", 4)
    SnapshotTable.commit(spark, raced, 1, Snapshot(Seq(s"$raced/d0"), Nil))
    Files.createFile(java.nio.file.Paths.get(s"$raced/_MANIFEST_v2"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.optimizeZorder(spark, raced, "k", "x", "y", 4)
    }
    assert(e.getMessage.contains("partial/corrupt manifest v2"),
      e.getMessage)
    // schema carrying the staging column: refused, never clobbered
    val zb = freshBase()
    Seq((1L, 1L, 1L, 0)).toDF("k", "x", "y", "zb")
      .write.parquet(s"$zb/d0")
    SnapshotTable.commit(spark, zb, 1, Snapshot(Seq(s"$zb/d0"), Nil))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.optimizeZorder(spark, zb, "k", "x", "y", 4)
    }
    assert(e2.getMessage.contains("staging column"), e2.getMessage)
    // out-of-domain input: withZ's guard raises instead of mis-clustering
    val neg = freshBase()
    Seq((1L, -5L, 1L)).toDF("k", "x", "y").write.parquet(s"$neg/d0")
    SnapshotTable.commit(spark, neg, 1, Snapshot(Seq(s"$neg/d0"), Nil))
    val e3 = intercept[Exception] {
      SnapshotTable.optimizeZorder(spark, neg, "k", "x", "y", 4)
    }
    assert(e3.getMessage != null, "domain violation must raise")
    // empty head after full delete: loud refusal
    val emp = freshBase()
    writeGrid(s"$emp/d0", 2)
    SnapshotTable.commit(spark, emp, 1, Snapshot(Seq(s"$emp/d0"), Nil))
    SnapshotTable.deleteWhere(spark, emp, "k", lit(true)): Unit
    val e4 = intercept[IllegalArgumentException] {
      SnapshotTable.optimizeZorder(spark, emp, "k", "x", "y", 4)
    }
    assert(e4.getMessage.contains("empty"), e4.getMessage)
  }

  test("dir paths holding , | ; and = round-trip the manifest") {
    val base = freshBase()
    val odd = s"$base/d,1|x;y=z"
    writeKv(odd, 0, 5)
    writeNums(s"$base/del|,", 0, 2)
    val snap = Snapshot(Seq(odd), Seq(s"$base/del|,"),
      rowCounts = Map(odd -> 5L),
      partSpec = Seq(graft.sources.PartitionSpec
        .PartField("identity", 0, "k")),
      partVals = Map(odd -> Seq("1,2|3")))
    SnapshotTable.commit(spark, base, 1, snap)
    assert(SnapshotTable.manifest(spark, base, 1) == snap)
    // idempotent replay recognizes the identical snapshot
    SnapshotTable.commit(spark, base, 1, snap)
    assert(SnapshotTable.readVersion(spark, base, 1, "k").count() == 3)
  }

  test("rename evolution: mapped reads across mixed dirs, rewrite " +
      "normalizes, manifest round-trips, un-rename drops the mapping") {
    import spark.implicits._
    val base = freshBase()
    writeKv(s"$base/d1", 0, 10) // physical (k, v)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    assert(SnapshotTable.evolveRenameColumn(spark, base, "v", "val2") == 2)
    // manifest round-trip: the parsed snapshot carries the mapping
    val m2 = SnapshotTable.manifest(spark, base, 2)
    assert(m2.renames == Map("val2" -> "v"), m2.renames.toString)
    // post-rename appends land at the FROZEN physical name (the write
    // contract toPhysical enforces for the engine's own writers)
    (10 until 15).map(i => (i, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/d2")
    SnapshotTable.commit(spark, base, 3,
      m2.copy(dataDirs = m2.dataDirs :+ s"$base/d2"))
    val head = SnapshotTable.readVersion(spark, base, 3, "k")
    assert(head.columns.toSeq == Seq("k", "val2"))
    assert(head.agg(sum(col("val2"))).head.getLong(0) == (0 until 15).sum,
      "every dir must read through the mapping, not as NULLs")
    // time travel reads v1 under its own name
    assert(SnapshotTable.readVersion(spark, base, 1, "k")
      .columns.toSeq == Seq("k", "v"))
    // a copy-on-write rewrite keeps the frozen PHYSICAL names (only a
    // full rewrite may normalize — partial normalization would need two
    // physical names under one logical, which the flat map cannot hold)
    val rep = SnapshotTable.updateWhere(spark, base,
      col("k") < 3, Seq("val2" -> (col("val2") + 100)))
    assert(rep.version == 4)
    val rewritten = SnapshotTable.manifest(spark, base, 4).dataDirs
      .find(_.contains("_update_")).get
    assert(spark.read.parquet(rewritten).columns.toSeq == Seq("k", "v"),
      "a partial rewrite must land at the frozen PHYSICAL names")
    assert(SnapshotTable.readVersion(spark, base, 4, "k")
      .agg(sum(col("val2"))).head.getLong(0) ==
      (0 until 15).sum + 300)
    // repeated rename collapses the chain onto the physical name
    assert(SnapshotTable.evolveRenameColumn(spark, base, "val2",
      "val3") == 5)
    assert(SnapshotTable.manifest(spark, base, 5).renames ==
      Map("val3" -> "v"))
    assert(SnapshotTable.readVersion(spark, base, 5, "k")
      .agg(sum(col("val3"))).head.getLong(0) == (0 until 15).sum + 300)
    // un-rename: allowed, and the mapping drops entirely
    assert(SnapshotTable.evolveRenameColumn(spark, base, "val3", "v") == 6)
    assert(SnapshotTable.manifest(spark, base, 6).renames.isEmpty)
    val back = SnapshotTable.readVersion(spark, base, 6, "k")
    assert(back.columns.toSeq == Seq("k", "v") &&
      back.agg(sum(col("v"))).head.getLong(0) == (0 until 15).sum + 300,
      "after un-rename every dir reads directly — no NULLed columns")
  }

  test("drop evolution: ghost-name locks guard stale-byte resurrection " +
      "and a full rewrite clears them") {
    import spark.implicits._
    val base = freshBase()
    (0 until 10).map(i => (i.toLong, i.toLong, i.toLong))
      .toDF("k", "x", "y").write.mode("overwrite").parquet(s"$base/d1")
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    assert(SnapshotTable.evolveDropColumn(spark, base, "y") == 2)
    val m2 = SnapshotTable.manifest(spark, base, 2)
    assert(m2.dropped == Seq("y"), m2.dropped.toString)
    assert(SnapshotTable.readVersion(spark, base, 2, "k")
      .columns.toSeq == Seq("k", "x"))
    // re-adding the dropped name would serve d1's stale y bytes: refuse
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.evolveAddColumns(spark, base, "`y` BIGINT")
    }
    assert(e.getMessage.contains("PHYSICAL"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.evolveRenameColumn(spark, base, "x", "y")
    }
    assert(e2.getMessage.contains("PHYSICAL"), e2.getMessage)
    // dropping the last column refuses (separate 1-column table)
    val solo = freshBase()
    (0 until 3).map(i => Tuple1(i.toLong)).toDF("k")
      .write.mode("overwrite").parquet(s"$solo/d1")
    SnapshotTable.commit(spark, solo, 1, Snapshot(Seq(s"$solo/d1"), Nil))
    intercept[IllegalArgumentException] {
      SnapshotTable.evolveDropColumn(spark, solo, "k")
    }
    // a FULL rewrite (zorder) lands every dir at the current schema and
    // clears the locks — the name becomes reusable
    val rep = SnapshotTable.optimizeZorder(spark, base, "k",
      Seq("k", "x"), 2)
    assert(rep.dirsOut >= 1)
    val mh = SnapshotTable.manifest(spark, base,
      SnapshotTable.headVersion(spark, base))
    assert(mh.dropped.isEmpty && mh.renames.isEmpty,
      "a full rewrite must clear the evolution locks")
    assert(SnapshotTable.evolveAddColumns(spark, base, "`y` BIGINT") > 0)
    val reread = SnapshotTable.readVersion(spark, base,
      SnapshotTable.headVersion(spark, base), "k")
    assert(reread.where(col("y").isNotNull).count() == 0,
      "the re-added column must be all-NULL, never stale bytes")
  }

  test("manifest roundtrip: colstats and checks survive parse exactly — " +
      "including every manifest delimiter inside a check expression") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("snapmanifest").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(s"$base/d1")
    // the expression legitimately contains , | and quotes, which the
    // JSON document stores verbatim
    val nasty = "k > 0 AND (s IN ('a,b', 'c|d') OR s = 'x')"
    val snap = SnapshotTable.Snapshot(Seq(s"$base/d1"), Nil,
      rowCounts = Map(s"$base/d1" -> 2L),
      colStats = Seq(SnapshotTable.ColStats(s"$base/d1", "s", 2L, 0L),
        SnapshotTable.ColStats(s"$base/d1", "k", 2L, 0L)),
      checks = Seq("nasty" -> nasty, "pos" -> "k > 0"),
      ingested = Seq(SnapshotTable.IngestedFile("/lz/a.parquet", 7L, 9L)))
    SnapshotTable.commit(spark, base, 1, snap)
    val back = SnapshotTable.manifest(spark, base, 1)
    assert(back.checks == Seq("nasty" -> nasty, "pos" -> "k > 0"))
    assert(back.colStats.toSet == snap.colStats.toSet &&
      back.rowCounts == snap.rowCounts &&
      back.ingested == snap.ingested)
    // idempotent replay still recognizes the identical snapshot
    SnapshotTable.commit(spark, base, 1, snap)
    // and the nasty expression actually ENFORCES through a write
    intercept[Exception] {
      SnapshotTable.ingestBatch(spark, base,
        Seq((5L, "nope")).toDF("k", "s"), 1L)
    }
    SnapshotTable.ingestBatch(spark, base,
      Seq((5L, "x")).toDF("k", "s"), 2L): Unit
    // a bad constraint name refuses at commit (manifest-format guard)
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, base, 9,
        snap.copy(checks = Seq("bad name" -> "k > 0")))
    }
  }

  test("a crash-landed ingest epoch re-delivered after ADD CHECK is " +
      "re-validated from the dir content before it can commit") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("snapingest").toString + "/t"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").write.parquet(s"$base/d1")
    SnapshotTable.commit(spark, base, 1,
      SnapshotTable.Snapshot(Seq(s"$base/d1"), Nil))
    // crash simulation: the epoch dir landed (with _SUCCESS) but its
    // commit never happened — then a constraint arrives
    Seq((9L, -5L)).toDF("k", "v").write.parquet(s"$base/ingest_7")
    assert(SnapshotTable.addCheck(spark, base, "v_pos", "v > 0") == 2)
    val headBefore = SnapshotTable.headVersion(spark, base)
    intercept[Exception] {
      SnapshotTable.ingestBatch(spark, base,
        Seq((9L, -5L)).toDF("k", "v"), 7L)
    }
    assert(SnapshotTable.headVersion(spark, base) == headBefore,
      "a violating crash-landed epoch must not commit")
    // a VALID crash-landed epoch folds fine under the new constraint
    Seq((8L, 8L)).toDF("k", "v").write.parquet(s"$base/ingest_8")
    assert(SnapshotTable.ingestBatch(spark, base,
      Seq((8L, 8L)).toDF("k", "v"), 8L) == headBefore + 1)
  }

  test("COPY INTO: ledger dedup across re-runs, mutated-file refusal, " +
      "CHECK enforcement, and loud schema misalignment") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("snapcopyin").toString
    val base = s"$root/t"
    Seq((1L, 10L)).toDF("k", "v").write.parquet(s"$base/d1")
    SnapshotTable.commit(spark, base, 1,
      SnapshotTable.Snapshot(Seq(s"$base/d1"), Nil,
        rowCounts = Map(s"$base/d1" -> 1L)))
    // landing zone: two fixed-name files (fixed names are what the
    // mutation case needs — spark part names are per-write unique)
    def land(name: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = s"$root/stage-$name"
      rows.toDF("k", "v").coalesce(1).write
        .mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$root/lz"))
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$root/lz/$name"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    land("a.parquet", Seq((2L, 20L), (3L, 30L)))
    land("b.parquet", Seq((4L, 40L)))
    val glob = s"$root/lz/*.parquet"
    val r1 = SnapshotTable.ingestFiles(spark, base, glob)
    assert((r1.version, r1.filesAdded, r1.filesSkipped) == ((2, 2, 0)))
    assert(SnapshotTable.countRows(spark, base, 2).contains(4L),
      "COPY INTO must thread row counts into the manifest")
    // identical re-run: nothing new, no version boundary
    val r2 = SnapshotTable.ingestFiles(spark, base, glob)
    assert((r2.version, r2.filesAdded, r2.filesSkipped) == ((2, 0, 2)))
    // a new file drains alone
    land("c.parquet", Seq((5L, 50L)))
    val r3 = SnapshotTable.ingestFiles(spark, base, glob)
    assert((r3.version, r3.filesAdded, r3.filesSkipped) == ((3, 1, 2)))
    assert(SnapshotTable.readVersionData(spark, base, 3)
      .agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0) ==
      10L + 20L + 30L + 40L + 50L)
    // a file mutated under an ingested path refuses loudly
    land("b.parquet", Seq((9L, 90L), (10L, 100L)))
    val em = intercept[Exception] {
      SnapshotTable.ingestFiles(spark, base, glob)
    }
    assert(em.getMessage.contains("append-only"), em.getMessage)
    // CHECK constraints gate copied-in rows like every other write
    land("d.parquet", Seq((6L, -6L)))
    // (restore b so only d is fresh — rewrite it back byte-identically
    // is impossible; drop it instead)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$root/lz/b.parquet"))
    SnapshotTable.addCheck(spark, base, "v_pos", "v > 0"): Unit
    val ec = intercept[Exception] {
      SnapshotTable.ingestFiles(spark, base, glob)
    }
    assert(ec.getMessage.contains("v_pos"), ec.getMessage)
    // a landing file missing a table column fails loudly, never guesses
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$root/lz/d.parquet"))
    val tmp2 = s"$root/stage-narrow"
    Seq(Tuple1(7L)).toDF("k").coalesce(1).write.parquet(tmp2)
    val part2 = new java.io.File(tmp2).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part2.toPath,
      java.nio.file.Paths.get(s"$root/lz/narrow.parquet"))
    intercept[Exception] {
      SnapshotTable.ingestFiles(spark, base, glob)
    }
  }

  test("sketch-folded table NDV: overlapping dirs stop overstating — " +
      "union estimate within 5% of truth; any sketch-less contributor " +
      "falls back to the clamped sum") {
    val base = freshBase()
    // three dirs with heavily overlapping key ranges: per-dir exact
    // NDVs are 1000 each but the TABLE has only 1500 distinct keys —
    // the pre-sketch sum reported 3000 (2× overstated)
    writeNums(s"$base/d1", 0, 1000)
    writeNums(s"$base/d2", 0, 1000)
    writeNums(s"$base/d3", 500, 1500)
    SnapshotTable.commit(spark, base, 1,
      Snapshot(Seq(s"$base/d1", s"$base/d2", s"$base/d3"), Nil))
    val r = SnapshotTable.analyzeColumnStats(spark, base, Seq("k"))
    assert(r.entriesAdded == 3 && r.entriesUncovered == 0)
    val snap = SnapshotTable.manifest(spark, base, r.version)
    assert(snap.colStats.forall(_.sketch.isDefined),
      "int columns must carry HLL sketches")
    val (ndv, nulls) = SnapshotTable.manifestColumnStats(snap)("k")
    assert(nulls == 0L)
    assert(math.abs(ndv - 1500L) * 20 <= 1500L,
      s"sketch-folded NDV $ndv is not within 5% of the true 1500")
    // strip ONE sketch: the fold must drop to the summed upper bound,
    // never a silently-partial union
    val stripped = snap.copy(colStats = snap.colStats.map(e =>
      if (e.dir == s"$base/d1") e.copy(sketch = None) else e))
    val (ndvSum, _) = SnapshotTable.manifestColumnStats(stripped)("k")
    assert(ndvSum == 3000L,
      s"sketch-less contributor must fall back to the sum, got $ndvSum")
    // a corrupt sketch falls back too (never a wrong tight estimate)
    val corrupt = snap.copy(colStats = snap.colStats.map(e =>
      if (e.dir == s"$base/d1") e.copy(sketch = Some("QUJD")) else e))
    val (ndvCorrupt, _) = SnapshotTable.manifestColumnStats(corrupt)("k")
    assert(ndvCorrupt == 3000L, s"corrupt sketch must fall back")
  }

  test("manifest sidecar seam: ledger/colstats spill to content-" +
      "addressed chunks, commit payload stays O(delta), crash shapes " +
      "are loud, GC collects only unreferenced sidecars") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 10)
    writeNums(s"$base/d2", 10, 20)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifestLen(v: Int): Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$base/_MANIFEST_v$v")).getLen
    def sidecars(): Set[String] = fs.listStatus(
      new org.apache.hadoop.fs.Path(base)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("_SIDECAR_")).toSet
    def ledger(n: Int): Seq[SnapshotTable.IngestedFile] =
      (0 until n).map(i =>
        SnapshotTable.IngestedFile(f"/lz/file_$i%05d.parquet", 100L + i,
          1000L + i))
    def commit(v: Int, snap: Snapshot): Unit =
      SnapshotTable.commit(spark, base, v, snap, spillAt = 6)
    // v1: 40 ledger entries spill; the manifest stays small and the
    // parsed snapshot round-trips the exact entries
    val s1 = Snapshot(Seq(s"$base/d1"), Nil, ingested = ledger(40))
    commit(1, s1)
    assert(sidecars().nonEmpty, "ledger must have spilled")
    val m1 = SnapshotTable.manifest(spark, base, 1)
    assert(m1.ingested == ledger(40).sortBy(_.path))
    assert(manifestLen(1) < 1200,
      s"manifest v1 is ${manifestLen(1)} bytes — entries inlined?")
    // v2: +10 entries + 1 dir. O(delta): the manifest grows by the
    // dir line + a few chunk names, NOT by re-inlining 50 entries,
    // and only the touched chunk(s) write new sidecars
    val before = sidecars()
    commit(2, s1.copy(
      dataDirs = Seq(s"$base/d1", s"$base/d2"),
      ingested = ledger(50)))
    val added = sidecars() -- before
    assert(added.size <= 3,
      s"adding 10 entries wrote ${added.size} new chunks — chunking " +
        "is not content-defined")
    assert(manifestLen(2) - manifestLen(1) < 400,
      s"manifest grew ${manifestLen(2) - manifestLen(1)} bytes for a " +
        "10-entry delta — commit payload is not O(delta)")
    assert(SnapshotTable.manifest(spark, base, 2).ingested ==
      ledger(50).sortBy(_.path))
    // colstats spill the same way (8 entries over the 2 dirs)
    val cs = for (d <- Seq(s"$base/d1", s"$base/d2");
                  c <- Seq("a", "b", "c", "d"))
      yield SnapshotTable.ColStats(d, c, 5L, 1L)
    commit(3, s1.copy(
      dataDirs = Seq(s"$base/d1", s"$base/d2"),
      ingested = ledger(50), colStats = cs))
    assert(SnapshotTable.manifest(spark, base, 3).colStats ==
      cs.sortBy(x => (x.dir, x.col)))
    // idempotent replay of a spilled manifest: same content, no error
    commit(3, s1.copy(
      dataDirs = Seq(s"$base/d1", s"$base/d2"),
      ingested = ledger(50), colStats = cs))
    // CRASH SHAPE 1 — a referenced sidecar goes missing (vacuumed
    // from under a live manifest / torn store): the read is LOUD
    val refName = sidecars().head
    val refPath = new org.apache.hadoop.fs.Path(s"$base/$refName")
    val bytes = {
      val in = fs.open(refPath)
      try { val b = new Array[Byte](
        fs.getFileStatus(refPath).getLen.toInt)
        in.readFully(b); b } finally in.close()
    }
    fs.delete(refPath, false)
    val e1 = intercept[IllegalArgumentException] {
      (1 to 3).foreach(v =>
        SnapshotTable.manifest(spark, base, v): Unit)
    }
    assert(e1.getMessage.contains("does not exist"), e1.getMessage)
    // CRASH SHAPE 2 — a truncated sidecar (partial write) fails its
    // content hash loudly instead of parsing half a ledger
    val out = fs.create(refPath, true)
    try out.write(bytes.dropRight(7)) finally out.close()
    val e2 = intercept[IllegalArgumentException] {
      (1 to 3).foreach(v =>
        SnapshotTable.manifest(spark, base, v): Unit)
    }
    assert(e2.getMessage.contains("content hash"), e2.getMessage)
    // restore the real bytes: reads recover
    val out2 = fs.create(refPath, true)
    try out2.write(bytes) finally out2.close()
    assert(SnapshotTable.manifest(spark, base, 3).ingested.size == 50)
    // GC: vacuum to head keeps every sidecar the head references and
    // drops old-only ones; the never-referenced crash orphan is swept
    // age-gated (sweepStagingOrphans), never a live reference
    val orphan = new org.apache.hadoop.fs.Path(
      s"$base/_SIDECAR_${"0" * 32}.mf")
    fs.create(orphan, true).close()
    SnapshotTable.vacuum(spark, base, 3, 3): Unit
    val headRefs = sidecars()
    (1 to 2).foreach { v =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$base/_MANIFEST_v$v")))
    }
    assert(SnapshotTable.manifest(spark, base, 3).ingested.size == 50,
      "vacuum must keep every sidecar the surviving head references")
    assert(headRefs.contains(orphan.getName),
      "vacuum must NOT touch unreferenced sidecars (in-flight commits)")
    assert(SnapshotTable.sweepStagingOrphans(spark, base, 0L) >= 1)
    assert(!fs.exists(orphan),
      "the age-gated sweep collects crash-orphaned sidecars")
    assert(SnapshotTable.manifest(spark, base, 3).ingested.size == 50,
      "the sweep must keep referenced sidecars")
  }

  test("per-dir manifest lines (bounds/rows/partvals/partdirspec) spill " +
      "through the sidecar seam: a one-dir append to a bounds-carrying " +
      "partitioned table commits O(delta), and the snapshot round-trips") {
    val base = freshBase()
    val nd = 14
    for (i <- 0 to nd) writeNums(s"$base/d$i", i * 10, i * 10 + 10)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifestLen(v: Int): Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$base/_MANIFEST_v$v")).getLen
    def sidecars(): Set[String] = fs.listStatus(
      new org.apache.hadoop.fs.Path(base)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("_SIDECAR_")).toSet
    def dirsOf(n: Int): Seq[String] = (0 until n).map(i => s"$base/d$i")
    def stateOf(ds: Seq[String]): Snapshot = Snapshot(ds, Nil,
      bounds = ds.zipWithIndex.map { case (d, i) =>
        SnapshotTable.DirBounds(d, "k", "int",
          (i * 10).toString, (i * 10 + 9).toString) },
      rowCounts = ds.map(_ -> 10L).toMap,
      schema = Some("k INT"),
      partSpec = Seq(graft.sources.PartitionSpec
        .PartField("bucket", 4, "k")),
      partVals = ds.zipWithIndex
        .map { case (d, i) => d -> Seq((i % 4).toString) }.toMap,
      partSpecId = 1,
      partHist = Map(0 -> Seq(graft.sources.PartitionSpec
        .PartField("identity", 0, "k"))),
      dirSpecIds = ds.zipWithIndex.collect {
        case (d, i) if i % 2 == 0 => d -> 0 }.toMap)
    def commit(v: Int, snap: Snapshot): Unit =
      SnapshotTable.commit(spark, base, v, snap, spillAt = 6)
    val s1 = stateOf(dirsOf(nd))
    commit(1, s1)
    assert(sidecars().nonEmpty, "per-dir lines must have spilled")
    val m1 = SnapshotTable.manifest(spark, base, 1)
    // full round-trip: every per-dir structure survives the spill.
    // dirSpecIds normalize at commit (pins kept only for partVals-
    // carrying dirs off the current spec — all of these qualify)
    assert(m1.bounds.sortBy(_.dir) == s1.bounds.sortBy(_.dir))
    assert(m1.rowCounts == s1.rowCounts)
    assert(m1.partVals == s1.partVals)
    assert(m1.dirSpecIds == s1.dirSpecIds)
    assert(m1.partSpec == s1.partSpec && m1.partHist == s1.partHist)
    // one-dir append: manifest growth and new-chunk count are
    // delta-sized, never a re-inline of every per-dir entry
    val before = sidecars()
    commit(2, stateOf(dirsOf(nd + 1)))
    val added = sidecars() -- before
    assert(added.size <= 8,
      s"a one-dir append wrote ${added.size} new sidecar chunks — " +
        "chunking is not content-defined across the four lines")
    assert(manifestLen(2) - manifestLen(1) < 500,
      s"manifest grew ${manifestLen(2) - manifestLen(1)} bytes for a " +
        "one-dir delta — commit payload is not O(delta dirs)")
    val m2 = SnapshotTable.manifest(spark, base, 2)
    assert(m2.dataDirs.size == nd + 1 &&
      m2.bounds.size == nd + 1 && m2.partVals.size == nd + 1)
    // pruning still works off the spilled structures: a bucket point
    // edge keeps only matching-tuple dirs (wide dirs: none here)
    val keyHash = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal
        .create(5, org.apache.spark.sql.types.IntegerType)), 42)
      .eval(null).asInstanceOf[Int]
    val want = (((keyHash % 4) + 4) % 4).toString
    assert(m2.partVals.values.count(_ == Seq(want)) <
      m2.dataDirs.size, "fixture must have prunable tuples")
  }
}
