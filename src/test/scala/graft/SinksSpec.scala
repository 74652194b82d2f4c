package graft

import java.nio.file.{Files, Paths}

import graft.sources.Sinks

/** Input-addressing contract of the write-once layers: a regenerated input
  * invalidates the cached layer even in the two hard cases — a same-length
  * same-mtime in-place rewrite (caught only by the tail-CRC content
  * witness) and a regeneration mid-session after the bucket table is
  * already live in the catalog (caught only by the stored-spec recheck). */
class SinksSpec extends SparkTestBase {

  test("fingerprint distinguishes a same-length same-mtime in-place rewrite") {
    val dir = Files.createTempDirectory("graft-fp").toString
    val f = Paths.get(dir, "part-000")
    Files.write(f, Array.fill[Byte](128)('a'))
    val t0 = Files.getLastModifiedTime(f)
    val fp1 = Sinks.fingerprint(spark, dir)
    // byte-for-byte same length, mtime pinned back to the original — the
    // (path, len, mtime) triple is identical; only the content differs
    Files.write(f, Array.fill[Byte](128)('b'))
    Files.setLastModifiedTime(f, t0)
    val fp2 = Sinks.fingerprint(spark, dir)
    assert(fp1 != fp2,
      "content witness missed a same-length same-mtime regeneration")
  }

  test("fingerprint refuses a missing input path") {
    val err = intercept[IllegalArgumentException] {
      Sinks.fingerprint(spark, "/tmp/graft-no-such-input-xyz")
    }
    assert(err.getMessage.contains("fingerprint input missing"))
  }

  test("ensureDir rebuilds after a same-length same-mtime input rewrite") {
    val in = Files.createTempDirectory("graft-in").toString
    val inFile = Paths.get(in, "data.bin")
    Files.write(inFile, Array.fill[Byte](64)('x'))
    val t0 = Files.getLastModifiedTime(inFile)
    val out = Files.createTempDirectory("graft-out").toString + "/layer"
    var writes = 0
    val hookFired = scala.collection.mutable.ListBuffer.empty[String]
    val prevHook = Sinks.onRebuild
    Sinks.onRebuild = hookFired += _
    try {
      def layer(): Unit =
        Sinks.ensureDir(spark, out, tag = "v1", inputs = Seq(in)) {
          writes += 1
          spark.range(1).write.mode("overwrite").parquet(out)
        }
      layer()
      layer() // warm: same input bytes → reused, no rewrite
      assert(writes == 1, s"warm layer rewrote ($writes writes)")
      Files.write(inFile, Array.fill[Byte](64)('y'))
      Files.setLastModifiedTime(inFile, t0)
      layer()
      assert(writes == 2, "regenerated input did not invalidate the layer")
      // the Bench tripwire seam fires once per actual rebuild, never on reuse
      assert(hookFired.toList == List(out, out),
        s"onRebuild fired ${hookFired.toList}, expected twice for $out")
    } finally Sinks.onRebuild = prevHook
  }

  test("ensureBucketedTable rewrites mid-session when its input regenerates") {
    val in = Files.createTempDirectory("graft-bt-in").toString + "/t"
    val table = "graft_sinks_spec_bt"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      spark.range(10).toDF("k").write.mode("overwrite").parquet(in)
      def ensure(): Unit = Sinks.ensureBucketedTable(spark, table,
        spark.read.parquet(in), "k", 4, inputs = Seq(in))
      ensure()
      assert(spark.table(table).count() == 10)
      // the input regenerates IN PLACE while the catalog entry is live —
      // the pre-r10 early return would keep serving the stale 10 rows
      spark.range(20).toDF("k").write.mode("overwrite").parquet(in)
      ensure()
      assert(spark.table(table).count() == 20,
        "live catalog entry served stale bucket files")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("fingerprint covers the files fs.listFiles(p, true) lists, unchanged") {
    // a committed layer's _GRAFT_TAG holds its inputs' fingerprint, so the
    // listing must not change which files count or how they are named
    val dir = Files.createTempDirectory("graft-fp-tree").toString
    Files.createDirectories(Paths.get(dir, "k=1", "nested"))
    for ((f, n) <- Seq("_SUCCESS" -> 0, "part-0" -> 200, "k=1/part-1" -> 70,
        "k=1/nested/part-2" -> 5))
      Files.write(Paths.get(dir, f), Array.tabulate[Byte](n)(i => (i * 7).toByte))
    // a checksum sidecar, which the local filesystem hides from listings
    Files.write(Paths.get(dir, ".part-0.crc"), Array[Byte](1, 2, 3))
    def located(p: String): String = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val entries = scala.collection.mutable.ArrayBuffer[String]()
      val it = fs.listFiles(path, true)
      while (it.hasNext) {
        val st = it.next()
        val n = math.min(64L, st.getLen).toInt
        val tail = if (n == 0) 0L else {
          val buf = new Array[Byte](n)
          val in = fs.open(st.getPath)
          try { in.seek(st.getLen - n); in.readFully(buf) } finally in.close()
          val c = new java.util.zip.CRC32
          c.update(buf)
          c.getValue
        }
        entries += s"${st.getPath}:${st.getLen}:${st.getModificationTime}:" +
          f"$tail%08x"
      }
      val crc = new java.util.zip.CRC32
      entries.sorted.foreach(e => crc.update(e.getBytes("UTF-8")))
      f"${crc.getValue}%08x"
    }
    for (p <- Seq(dir, s"$dir/k=1", s"$dir/part-0"))
      assert(Sinks.fingerprint(spark, p) == located(p), p)
  }
}
