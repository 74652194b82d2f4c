package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.queries.Scratch
import graft.sources.{GraftLocalFileSystem, GraftLocalFs,
  GraftRawLocalFileSystem, Sinks}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file` scheme is bound (classpath `core-site.xml`) to a local
  * filesystem that does chmod, chown, stat and readlink in-process. Its
  * statuses and on-disk modes match Hadoop's stock `RawLocalFileSystem`,
  * the binding holds in a bare `Configuration`, and the engine's write
  * paths start no `chmod`/`chown`/`ls`/`stat`/`readlink` child process. */
class LocalFileSystemsSpec extends SparkTestBase {

  private val fileCommands = Set("chmod", "chown", "ls", "stat", "readlink")

  /** Command lines of the file-operation child processes started while
    * `body` runs, from a JFR recording of `jdk.ProcessStart`. */
  private def fileForks(body: => Unit): Seq[String] = {
    val r = new Recording()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      try body finally r.stop()
      r.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
        .filter(c => fileCommands(c.trim.split("\\s+").head.split('/').last))
    } finally { r.close(); Files.deleteIfExists(dump) }
  }

  private def fs(impl: RawLocalFileSystem, umask: String = "022") = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    impl.initialize(URI.create("file:///"), conf)
    impl
  }

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the engine's write paths start no chmod, chown, ls, stat or readlink") {
    val control = fileForks {
      val stock = fs(new RawLocalFileSystem)
      val f = Files.createTempFile("graft-stock", ".bin")
      try stock.setPermission(new Path(f.toString), perm("644"))
      finally Files.delete(f)
    }
    assert(control.exists(_.startsWith("chmod")),
      s"the recording missed the stock filesystem's chmod: $control")

    val tmp = Files.createTempDirectory("graft-nofork")
    def out(name: String) = tmp.resolve(name).toString
    val ops = Seq[(String, () => Unit)](
      "q_stream_kv_sink replay" ->
        (() => SparkEntry.queries("q_stream_kv_sink")(spark, sf).collect()),
      "Sinks.ensureDir layer build" -> (() =>
        Sinks.ensureDir(spark, out("layer"), tag = "v1") {
          spark.range(50).write.parquet(out("layer"))
        }),
      "parquet write" -> (() =>
        spark.range(100).repartition(2).write.parquet(out("pq"))),
      "FileContext create + rename OVERWRITE" -> { () =>
        val fc = FileContext.getLocalFSFileContext()
        val (src, dst) = (new Path(out("fc/src")), new Path(out("fc/dst")))
        for (p <- Seq(dst, src)) {
          val o = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
            Options.CreateOpts.createParent())
          try o.write(p.getName.getBytes("UTF-8")) finally o.close()
        }
        fc.rename(src, dst, Options.Rename.OVERWRITE)
        assert(new String(Files.readAllBytes(Paths.get(out("fc/dst"))),
          "UTF-8") == "src")
      })
    try for ((name, op) <- ops) {
      val forks = fileForks(op())
      if (forks.nonEmpty) fail(s"$name forked ${forks.size}: ${forks.take(5)}")
    } finally Scratch.rm(tmp.toFile)
  }

  test("statuses match the stock RawLocalFileSystem") {
    val stock = fs(new RawLocalFileSystem)
    val graft = fs(new GraftRawLocalFileSystem)
    val tmp = Files.createTempDirectory("graft-parity")
    try {
      val dir = new Path(tmp.toString)
      Files.write(tmp.resolve("data"), Array.fill[Byte](100)(7))
      Files.createFile(tmp.resolve("empty"))
      Files.createDirectory(tmp.resolve("sub"))
      val sums = FileSystem.getLocal(new Configuration())
      val o = sums.create(new Path(dir, "summed"))
      try o.write(Array.fill[Byte](10)(1)) finally o.close()
      assert(Files.exists(tmp.resolve(".summed.crc")))
      Files.createSymbolicLink(tmp.resolve("link"), Paths.get("data"))
      Files.createSymbolicLink(tmp.resolve("dangling"), Paths.get("missing"))
      for (n <- Seq("a b", "50%", "x:y")) Files.write(tmp.resolve(n), n.getBytes)
      Files.setPosixFilePermissions(tmp.resolve("data"),
        java.nio.file.attribute.PosixFilePermissions.fromString("rw-r-----"))

      def fields(st: FileStatus) = (st.getPath, st.getLen, st.isDirectory,
        st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None,
        st.getModificationTime, st.getPermission, st.getOwner, st.getGroup)
      def outcome(f: => FileStatus) =
        try Right(fields(f)) catch { case e: FileNotFoundException => Left(e.getClass) }
      val names = Seq("data", "empty", "sub", "summed", ".summed.crc", "link",
        "dangling", "a b", "50%", "x:y", "missing")
      for (n <- names; p = new Path(dir, new Path(null, null, n))) {
        assert(outcome(graft.getFileStatus(p)) == outcome(stock.getFileStatus(p)),
          s"getFileStatus($n)")
        assert(outcome(graft.getFileLinkStatus(p)) ==
          outcome(stock.getFileLinkStatus(p)), s"getFileLinkStatus($n)")
      }
      for (n <- Seq("link", "dangling"); p = new Path(dir, n))
        assert(graft.getLinkTarget(p) == stock.getLinkTarget(p), n)
      def listing(impl: FileSystem, p: Path) =
        impl.listStatus(p).toSeq.map(fields).sortBy(_._1.toString)
      assert(listing(graft, dir) == listing(stock, dir))
      assert(listing(graft, dir).map(_._1.getName).toSet ==
        names.toSet -- Set("dangling", "missing"))
      assert(listing(graft, new Path(dir, "data")) ==
        listing(stock, new Path(dir, "data")))
      for (impl <- Seq[FileSystem](stock, graft)) {
        intercept[FileNotFoundException](impl.listStatus(new Path(dir, "missing")))
        intercept[FileNotFoundException](impl.getFileStatus(new Path(dir, "missing")))
      }
    } finally Scratch.rm(tmp.toFile)
  }

  test("permission writes and mkdirs leave the stock filesystem's modes") {
    val tmp = Files.createTempDirectory("graft-modes")
    try {
      // files and directories, and a setgid directory (chmod keeps the bit)
      val kinds = Seq[(String, java.nio.file.Path => Unit)](
        "file" -> (Files.createFile(_)), "dir" -> (Files.createDirectory(_)),
        "setgid-dir" -> { d =>
          Files.createDirectory(d); Files.setAttribute(d, "unix:mode", Int.box(0x5ed))
        })
      for (m <- Seq("644", "755", "700", "1777"); (kind, make) <- kinds) {
        val on = Seq("stock" -> fs(new RawLocalFileSystem),
          "graft" -> fs(new GraftRawLocalFileSystem)).map { case (side, impl) =>
          val f = tmp.resolve(s"$side-$kind-$m")
          make(f)
          impl.setPermission(new Path(f.toString), perm(m))
          mode(f) -> impl.getFileStatus(new Path(f.toString)).getPermission
        }
        assert(on(0) == on(1), s"$kind mode $m")
        assert((on(1)._1 & 0x3ff) == Integer.parseInt(m, 8), s"$kind mode $m")
      }
      for (umask <- Seq("022", "077")) {
        val modes = Seq("stock" -> fs(new RawLocalFileSystem, umask),
          "graft" -> fs(new GraftRawLocalFileSystem, umask)).map { case (side, impl) =>
          val leaf = tmp.resolve(s"mk-$umask-$side/a/b")
          assert(impl.mkdirs(new Path(leaf.toString), perm("777")))
          Seq(leaf, leaf.getParent, leaf.getParent.getParent).map(mode)
        }
        assert(modes(0) == modes(1), s"umask $umask")
      }
    } finally Scratch.rm(tmp.toFile)
  }

  test("the file scheme binds to the in-process filesystem in a bare Configuration") {
    val conf = new Configuration()
    val local = FileSystem.get(URI.create("file:///"), conf)
    assert(local.getClass == classOf[GraftLocalFileSystem])
    assert(local.isInstanceOf[LocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass ==
      classOf[GraftRawLocalFileSystem])
    assert(new Path("file:/tmp").getFileSystem(
      spark.sparkContext.hadoopConfiguration).getClass == classOf[GraftLocalFileSystem])
    assert(FileContext.getLocalFSFileContext().getDefaultFileSystem.getClass ==
      classOf[GraftLocalFs])

    // a rename onto an existing file is refused, as by the `file` scheme's
    // previous binding (hive-exec's ProxyLocalFileSystem)
    val tmp = Files.createTempDirectory("graft-rename")
    try {
      val Seq(a, b, c) = Seq("a", "b", "c").map(new Path(tmp.toString, _))
      for (p <- Seq(a, b)) local.create(p).close()
      assert(!local.rename(a, b) && local.exists(a))
      assert(local.rename(a, c) && !local.exists(a) && local.exists(c))
    } finally Scratch.rm(tmp.toFile)

    // nothing in the program builds Hadoop's forking local filesystems itself
    val stockCtor =
      """\bnew\s+(?:[\w.]*\.)?(RawLocalFileSystem|LocalFileSystem|LocalFs|RawLocalFs)\b""".r
    val offenders = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => stockCtor.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .toSeq
    assert(offenders.isEmpty, s"constructs a stock local filesystem: $offenders")
  }
}
