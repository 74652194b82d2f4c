package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.Snapshot

/** Optimistic concurrency of snapshot commits: a version's manifest is
  * published put-if-absent as a complete file, so two writers racing for
  * the same version can never silently clobber each other — the loser
  * either idempotently replays an identical snapshot or fails with the
  * committed-differently conflict, and the surviving manifest is always
  * EXACTLY one writer's content, readable from the moment it exists.
  */
class SnapshotConcurrencySpec extends SparkTestBase {

  private def freshBase(): String =
    Files.createTempDirectory("snapcc").toString

  private def writeNums(dir: String, from: Int, until: Int): Unit = {
    import spark.implicits._
    (from until until).toDF("k").write.mode("overwrite").parquet(dir)
  }

  test("sequential conflict: a writer staged against a stale head fails loudly, then retries at the next version") {
    val base = freshBase()
    writeNums(s"$base/d1", 0, 5)
    writeNums(s"$base/dA", 5, 9)
    writeNums(s"$base/dB", 9, 12)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    // writer A wins version 2
    SnapshotTable.commit(spark, base, 2,
      Snapshot(Seq(s"$base/d1", s"$base/dA"), Nil))
    // writer B, staged against v1, tries the same version: loud conflict
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, base, 2,
        Snapshot(Seq(s"$base/d1", s"$base/dB"), Nil))
    }
    assert(e.getMessage.contains("already committed with different content"))
    // the optimistic retry: B re-reads the head and commits at v3
    SnapshotTable.commit(spark, base, 3,
      Snapshot(Seq(s"$base/d1", s"$base/dA", s"$base/dB"), Nil))
    assert(SnapshotTable.readVersion(spark, base, 2, "k").count() == 9)
    assert(SnapshotTable.readVersion(spark, base, 3, "k").count() == 12)
  }

  test("racing writers: exactly one snapshot survives intact, never a silent mix") {
    val base = freshBase()
    writeNums(s"$base/dX", 0, 4)
    writeNums(s"$base/dY", 4, 10)
    val ready = new CountDownLatch(2)
    val go = new CountDownLatch(1)
    @volatile var errX: Option[Throwable] = None
    @volatile var errY: Option[Throwable] = None
    def racer(dirs: Seq[String], set: Throwable => Unit) = new Thread(() => {
      ready.countDown(); go.await()
      try SnapshotTable.commit(spark, base, 1, Snapshot(dirs, Nil))
      catch { case t: Throwable => set(t) }
    })
    val tx = racer(Seq(s"$base/dX"), t => errX = Some(t))
    val ty = racer(Seq(s"$base/dY"), t => errY = Some(t))
    tx.start(); ty.start()
    ready.await(); go.countDown()
    tx.join(30000); ty.join(30000)
    // invariant: whatever the interleaving, the surviving manifest reads
    // VALIDLY as exactly one racer's snapshot — a mix or a partial file is
    // impossible, since only a complete file is ever published
    val s = SnapshotTable.manifest(spark, base, 1)
    assert(s == Snapshot(Seq(s"$base/dX"), Nil) ||
      s == Snapshot(Seq(s"$base/dY"), Nil),
      s"manifest is a mix of both writers: $s")
    // the racer whose content lost must have seen the conflict
    val (winErr, loseErr) =
      if (s.dataDirs == Seq(s"$base/dX")) (errX, errY) else (errY, errX)
    assert(winErr.isEmpty, s"the winner failed: $winErr")
    assert(loseErr.exists(_.isInstanceOf[SnapshotTable.CommitConflict]),
      s"both racers claim success for different content: $loseErr")
  }

  test("dropBranch racing publishBranch: main's head never references " +
      "swept dirs (the loser-deletes-winner arbitration)") {
    import org.apache.hadoop.fs.Path
    for (_ <- 1 to 8) {
      val base = freshBase()
      writeNums(s"$base/d1", 0, 6)
      SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
      SnapshotTable.createBranch(spark, base, "wip")
      val bb = SnapshotTable.branchBase(base, "wip")
      writeNums(s"$bb/d2", 6, 10)
      SnapshotTable.commit(spark, bb, 2,
        Snapshot(Seq(s"$base/d1", s"$bb/d2"), Nil))
      val ready = new CountDownLatch(2)
      val go = new CountDownLatch(1)
      @volatile var pubOk = false
      @volatile var dropOk = false
      val tp = new Thread(() => {
        ready.countDown(); go.await()
        try { SnapshotTable.publishBranch(spark, base, "wip"); pubOk = true }
        catch { case _: Throwable => () }
      })
      val td = new Thread(() => {
        ready.countDown(); go.await()
        try { SnapshotTable.dropBranch(spark, base, "wip"); dropOk = true }
        catch { case _: Throwable => () }
      })
      tp.start(); td.start()
      ready.await(); go.countDown()
      tp.join(60000); td.join(60000)
      // both claiming success would mean the publish committed dirs the
      // drop then swept — the exact corruption the arbitration forbids
      assert(!(pubOk && dropOk),
        "publish and drop both claim success over the same branch")
      // whatever the interleaving, the surviving head must be READABLE:
      // every referenced dir still committed, and the row count is
      // exactly one consistent state (published = 10, not/rolled = 6)
      val head = SnapshotTable.headVersion(spark, base)
      val m = SnapshotTable.manifest(spark, base, head)
      val hconf = spark.sparkContext.hadoopConfiguration
      for (d <- m.dataDirs) {
        val s = new Path(d, "_SUCCESS")
        assert(s.getFileSystem(hconf).exists(s),
          s"head v$head references swept dir $d")
      }
      val n = SnapshotTable.readVersionData(spark, base, head).count()
      if (pubOk) assert(n == 10, s"published head lost rows: $n")
      else assert(n == 6, s"unpublished main must hold the base rows: $n")
    }
  }

  test("racing analyzeBounds writers fold onto the winner's head " +
      "instead of discarding computed bounds (OCC retry)") {
    import spark.implicits._
    val base = freshBase()
    (0 until 5).map(i => (i, i * 2)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/d1")
    (5 until 9).map(i => (i, i * 2)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/d2")
    SnapshotTable.commit(spark, base, 1,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    val ready = new CountDownLatch(2)
    val go = new CountDownLatch(1)
    @volatile var errK: Option[Throwable] = None
    @volatile var errV: Option[Throwable] = None
    def racer(c: String, set: Throwable => Unit) = new Thread(() => {
      ready.countDown(); go.await()
      try SnapshotTable.analyzeBounds(spark, base, c): Unit
      catch { case t: Throwable => set(t) }
    })
    val tk = racer("k", t => errK = Some(t))
    val tv = racer("v", t => errV = Some(t))
    tk.start(); tv.start()
    ready.await(); go.countDown()
    tk.join(60000); tv.join(60000)
    assert(errK.isEmpty, s"analyze(k) must retry a lost claim: $errK")
    assert(errV.isEmpty, s"analyze(v) must retry a lost claim: $errV")
    // both commits landed (the loser folded onto the winner's head) and
    // the final head carries bounds for BOTH columns on BOTH dirs
    assert(SnapshotTable.headVersion(spark, base) == 3)
    val m = SnapshotTable.manifest(spark, base, 3)
    for (c <- Seq("k", "v"); d <- Seq(s"$base/d1", s"$base/d2"))
      assert(m.bounds.exists(b => b.col == c && b.dir == d),
        s"head lost the $c bounds for $d")
  }

  test("readers racing commits and tag creation on one base never see " +
      "a partial manifest or ref") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    val base = freshBase()
    writeNums(s"$base/d0", 0, 5)
    val dirs = (1 to 6).map { i =>
      writeNums(s"$base/d$i", i * 10, i * 10 + 3); s"$base/d$i" }
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d0"), Nil))
    // writer w commits v with content of its own, so every version has
    // one winner and one CommitConflict loser; both then create the
    // same tag (an idempotent race)
    def snapOf(w: Int, v: Int) =
      Snapshot(Seq(s"$base/d0", dirs(v % dirs.size)).take(w + 1), Nil)
    val done = new AtomicBoolean(false)
    val reads = new AtomicInteger(0)
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val go = new CountDownLatch(1)
    def thread(body: => Unit) = new Thread(() => {
      go.await()
      try body catch { case t: Throwable => errs.add(t): Unit }
    })
    val writers = (0 to 1).map(w => thread {
      for (v <- 2 to 41) {
        try SnapshotTable.commit(spark, base, v, snapOf(w, v))
        catch { case _: SnapshotTable.CommitConflict => () }
        SnapshotTable.createTag(spark, base, s"t$v", v)
      }
    })
    val readers = (0 to 1).map(_ => thread {
      while (!done.get) {
        val h = SnapshotTable.headVersion(spark, base)
        val m = SnapshotTable.manifest(spark, base, h)
        assert(h == 1 || m == snapOf(0, h) || m == snapOf(1, h), m)
        for ((n, v) <- SnapshotTable.listTags(spark, base))
          assert(n == s"t$v", s"tag $n points at v$v")
        assert(SnapshotTable.readTagVersion(spark, base, s"t$h")
          .forall(_ == h))
        reads.incrementAndGet(): Unit
      }
    })
    (writers ++ readers).foreach(_.start())
    go.countDown()
    writers.foreach(_.join(60000))
    done.set(true)
    readers.foreach(_.join(60000))
    assert(errs.isEmpty, errs)
    assert(reads.get > 0)
    assert(SnapshotTable.headVersion(spark, base) == 41)
    assert(SnapshotTable.listTags(spark, base).toMap ==
      (2 to 41).map(v => s"t$v" -> v).toMap)
  }

  test("expire_snapshots racing a reader of a to-be-retired version: " +
      "the reader completes exactly or fails loudly — never a silent " +
      "wrong result over swept bytes") {
    for (_ <- 1 to 6) {
      val base = freshBase()
      writeNums(s"$base/d1", 0, 5)
      // v2 is a full rewrite, so retiring v1 orphans (and sweeps) d1
      writeNums(s"$base/d2", 0, 9)
      SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
      SnapshotTable.commit(spark, base, 2, Snapshot(Seq(s"$base/d2"), Nil))
      val ready = new CountDownLatch(2)
      val go = new CountDownLatch(1)
      @volatile var read: Option[Either[Throwable, Long]] = None
      val tr = new Thread(() => {
        ready.countDown(); go.await()
        read = Some(
          try Right(SnapshotTable.readVersionData(spark, base, 1).count())
          catch { case t: Throwable => Left(t) })
      })
      val te = new Thread(() => {
        ready.countDown(); go.await()
        try SnapshotTable.expireSnapshots(spark, base, 2): Unit
        catch { case t: Throwable => fail(s"expire must not fail: $t") }
      })
      tr.start(); te.start()
      ready.await(); go.countDown()
      tr.join(60000); te.join(60000)
      read match {
        case Some(Right(n)) =>
          // completed reads are EXACT — a partial scan of half-swept
          // bytes must never surface as a smaller count
          assert(n == 5, s"reader of v1 saw a torn result: $n rows")
        case Some(Left(_)) => () // loud failure is the other legal outcome
        case None => fail("reader thread never finished")
      }
      // retirement itself completed: v1 is gone, the head reads fine
      assert(SnapshotTable.headVersion(spark, base) == 2)
      assert(SnapshotTable.readVersionData(spark, base, 2).count() == 9)
    }
  }

  test("racing addCheck writers fold onto each other's heads: both " +
      "constraints land; a same-name different-expr add refuses loudly") {
    import spark.implicits._
    for (_ <- 1 to 4) {
      val base = freshBase() + "/t"
      Seq((1L, 2L, 3L)).toDF("k", "a", "b").write.parquet(s"$base/d1")
      SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
      val ready = new CountDownLatch(2)
      val go = new CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def adder(name: String, e: String) = new Thread(() => {
        ready.countDown(); go.await()
        try SnapshotTable.addCheck(spark, base, name, e): Unit
        catch { case t: Throwable => errs.add(t): Unit }
      })
      val (t1, t2) = (adder("a_pos", "a > 0"), adder("b_pos", "b >= 0"))
      t1.start(); t2.start()
      ready.await(); go.countDown()
      t1.join(60000); t2.join(60000)
      assert(errs.isEmpty, s"racing adders of DISTINCT checks must " +
        s"both fold: ${errs}")
      val head = SnapshotTable.headVersion(spark, base)
      assert(SnapshotTable.manifest(spark, base, head).checks ==
        Seq("a_pos" -> "a > 0", "b_pos" -> "b >= 0"))
      // the conflicting shape stays loud: same name, different expr
      intercept[IllegalArgumentException] {
        SnapshotTable.addCheck(spark, base, "a_pos", "a > 1")
      }
    }
  }

  test("analyzeColumnStats racing an UPDATE rewrite: the fold lands on " +
      "the winner's head and the final stats match the final content") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    for (round <- 1 to 4) {
      val base = freshBase() + "/t"
      (0 until 20).map(k => (k.toLong, (k % 5).toLong))
        .toDF("k", "g").write.parquet(s"$base/d1")
      (20 until 30).map(k => (k.toLong, (k % 3).toLong))
        .toDF("k", "g").write.parquet(s"$base/d2")
      SnapshotTable.commit(spark, base, 1,
        Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
      val ready = new CountDownLatch(2)
      val go = new CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ta = new Thread(() => {
        ready.countDown(); go.await()
        try SnapshotTable.analyzeColumnStats(spark, base,
          Seq("k", "g")): Unit
        catch { case t: Throwable => errs.add(t): Unit }
      })
      val tu = new Thread(() => {
        ready.countDown(); go.await()
        // updateWhere fails loudly on a lost claim BY CONTRACT — the
        // caller retries, which is what this loop does
        var done = false
        var tries = 0
        while (!done && tries < 50) {
          tries += 1
          try {
            SnapshotTable.updateWhere(spark, base, col("k") < 5L,
              Seq("g" -> lit(99L))): Unit
            done = true
          } catch { case _: Exception => Thread.sleep(20) }
        }
        if (!done) errs.add(new IllegalStateException(
          "updateWhere never landed")): Unit
      })
      ta.start(); tu.start()
      ready.await(); go.countDown()
      ta.join(120000); tu.join(120000)
      assert(errs.isEmpty, s"round $round: $errs")
      // whatever the interleaving, a FINAL analyze covers the head and
      // the folded stats equal the head content exactly
      SnapshotTable.analyzeColumnStats(spark, base, Seq("k", "g")): Unit
      val head = SnapshotTable.headVersion(spark, base)
      val snap = SnapshotTable.manifest(spark, base, head)
      val data = SnapshotTable.readVersionData(spark, base, head)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(SnapshotTable.manifestRowCount(snap).contains(30L))
      val folded = SnapshotTable.manifestColumnStats(snap)
      assert(folded("g")._2 == 0L &&
        folded("g")._1 >= data.map(_._2).distinct.size.toLong,
        s"round $round: folded g stats $folded vs " +
          s"${data.map(_._2).distinct.size}")
      assert(data.count(_._2 == 99L) == 5,
        s"round $round: the update must have landed exactly")
    }
  }

  test("racing COPY INTO loaders over the same landing glob: each file " +
      "loads exactly once — the loser folds, never double-loads") {
    import spark.implicits._
    for (round <- 1 to 4) {
      val root = freshBase()
      val base = s"$root/t"
      writeNums(s"$base/d1", 0, 3)
      SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
      // two fixed-name landing files
      for ((name, from) <- Seq(("a.parquet", 100), ("b.parquet", 200))) {
        val tmp = s"$root/stage-$name"
        (from until from + 5).toDF("k").coalesce(1)
          .write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$root/lz"))
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(s"$root/lz/$name"))
      }
      val glob = s"$root/lz/*.parquet"
      val ready = new CountDownLatch(2)
      val go = new CountDownLatch(1)
      val reports = new java.util.concurrent.ConcurrentLinkedQueue[
        Either[Throwable, SnapshotTable.IngestFilesReport]]()
      def loader() = new Thread(() => {
        ready.countDown(); go.await()
        val r = try Right(SnapshotTable.ingestFiles(spark, base, glob))
          catch { case t: Throwable => Left(t) }
        reports.add(r): Unit
      })
      val (t1, t2) = (loader(), loader())
      t1.start(); t2.start()
      ready.await(); go.countDown()
      t1.join(120000); t2.join(120000)
      import scala.jdk.CollectionConverters._
      val reps = reports.asScala.toList
      assert(reps.size == 2, "both loaders must finish")
      for (r <- reps) assert(r.isRight,
        s"a racing loader must fold, not fail: $r")
      // the table state is the arbiter: every landing row exactly once
      val head = SnapshotTable.headVersion(spark, base)
      val snap = SnapshotTable.manifest(spark, base, head)
      assert(snap.ingested.size == 2,
        s"ledger must hold both files exactly once: ${snap.ingested}")
      val rows = SnapshotTable.readVersionData(spark, base, head)
        .select("k").collect().map(_.getInt(0)).sorted.toSeq
      assert(rows == ((0 until 3) ++ (100 until 105) ++
        (200 until 205)),
        s"round $round: rows loaded wrong: $rows")
      // total files added across both loaders == 2 (no double count)
      val added = reps.collect { case Right(r) => r.filesAdded }.sum
      assert(added == 2, s"double/lost load across racers: $reps")
    }
  }

  test("expire racing a RUNNING streaming CDF consumer: versions retired " +
      "past the consumer's frontier fail its next batch loudly — never " +
      "a torn window") {
    import org.apache.spark.sql.functions.col
    val base = freshBase() + "/t"
    writeNums(s"$base/d1", 0, 5)
    writeNums(s"$base/d2", 5, 9)
    writeNums(s"$base/d3", 9, 12)
    SnapshotTable.commit(spark, base, 1, Snapshot(Seq(s"$base/d1"), Nil))
    SnapshotTable.commit(spark, base, 2,
      Snapshot(Seq(s"$base/d1", s"$base/d2"), Nil))
    SnapshotTable.commit(spark, base, 3,
      Snapshot(Seq(s"$base/d1", s"$base/d2", s"$base/d3"), Nil))
    val ckpt = Files.createTempDirectory("snapcc-cdf").toString
    val sinkName = s"cdf_expire_${System.nanoTime()}"
    val fmt = classOf[graft.sources.SnapshotCdfSource].getName
    val q = graft.streaming.StreamingOps.withStreamShuffle(spark) {
      spark.readStream.format(fmt).load(base)
        .writeStream
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(sinkName)
        .start()
    }
    try {
      q.processAllAvailable() // consumer frontier now at v3
      val seen3 = spark.table(sinkName).select(col("version"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(seen3 == Seq(1L, 2L, 3L), seen3.toString)
      // new commits land WHILE the consumer runs, then retention
      // retires everything below v5 — including v4, which the consumer
      // has not consumed yet
      writeNums(s"$base/d4", 12, 15)
      writeNums(s"$base/d5", 15, 20)
      val s3 = SnapshotTable.manifest(spark, base, 3)
      SnapshotTable.commit(spark, base, 4,
        s3.copy(dataDirs = s3.dataDirs :+ s"$base/d4"))
      val s4 = SnapshotTable.manifest(spark, base, 4)
      SnapshotTable.commit(spark, base, 5,
        s4.copy(dataDirs = s4.dataDirs :+ s"$base/d5"))
      SnapshotTable.vacuum(spark, base, 5, 5): Unit
      // the consumer's next window (3, 5] references vacuumed v4: the
      // batch must fail LOUDLY (the vacuumed-frontier contract), not
      // emit a torn (v5-only) window
      val e = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(10)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
      assert(msgs.contains("vacuumed version") ||
        msgs.contains("references vacuumed"), msgs)
      val after = spark.table(sinkName).select(col("version"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(after == Seq(1L, 2L, 3L),
        s"a torn window leaked rows past the failure: $after")
    } finally {
      if (q.isActive) q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $sinkName")
    }
  }
}
