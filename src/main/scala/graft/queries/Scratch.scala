package graft.queries

import org.apache.spark.sql.SparkSession

/** Where a query's scratch and write-once dirs live, and the one recursive
  * delete that clears them.
  *
  * Every dir sits directly under [[root]] and is named
  * `<name>-<sf>-<format>[-<tag>]`:
  *  - `<sf>` is the fixture dir's own name (`sf0.01`), so scales never
  *    share state;
  *  - `<format>` is [[graft.sources.SnapshotTable.MetaFormat]], so a tree
  *    whose snapshot metadata format changed rebuilds its tables instead
  *    of misreading manifests written in the old one;
  *  - `<tag>` is the first 10 hex chars of the md5 of
  *    [[graft.sources.Sinks.fingerprint]] over the dir's input — a
  *    regenerated fixture lands in a fresh dir instead of re-reading
  *    snapshot manifests built from the old one.
  */
object Scratch {

  /** The scratch root, `<checkout>/target/tmp/`. A plain quoted literal:
    * `perfbench/run.py` rewrites exactly this form to its own checkout
    * when it builds the program. */
  val root: String = "/root/repo/target/tmp/"

  /** The checkout the scratch root lives in. */
  val checkout: String = root.stripSuffix("/target/tmp/")

  /** The scale name of a fixture dir: `sf0.01` for `.../sf0.01`. */
  def sfName(sfDir: String): String = new java.io.File(sfDir).getName

  /** `<root><name>-<sf>-<format>`. */
  def dir(name: String, sfDir: String): String =
    s"$root$name-${sfName(sfDir)}-${graft.sources.SnapshotTable.MetaFormat}"

  /** 10-char md5 tag of the input file's fingerprint. */
  def tag(s: SparkSession, input: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(graft.sources.Sinks.fingerprint(s, input).getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(10)

  /** `<root><name>-<sf>-<format>-<tag of sfDir/table.parquet>`. */
  def tagged(s: SparkSession, name: String, sfDir: String,
      table: String = "orders"): String =
    s"${dir(name, sfDir)}-${tag(s, s"$sfDir/$table.parquet")}"

  /** Deletes `f` and everything under it. */
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rm)
    f.delete(): Unit
  }

  /** An empty [[dir]]: whatever a previous run left there is
    * deleted first, so a per-run stream or table starts from nothing. */
  def fresh(name: String, sfDir: String): java.io.File = {
    val f = new java.io.File(dir(name, sfDir))
    if (f.exists) rm(f)
    f.mkdirs()
    f
  }

  /** Polls `done` every 100 ms for up to 60 s — the wait a fixture step
    * pays while a concurrent builder of the same write-once state
    * finishes — then requires it, failing with `stuck`. */
  def await(stuck: => String)(done: => Boolean): Unit = {
    var i = 0
    while (!done && i < 600) { Thread.sleep(100); i += 1 }
    require(done, stuck)
  }
}
