package graft.queries

import org.apache.spark.sql.SparkSession

/** A write-once chain of snapshot-table operations: version `at + 1` is
  * whatever step `at` commits, so a chain re-run in a later session (or
  * raced by a parallel suite or Bench's adjudication child building the
  * same fixture) skips every step its head has already passed.
  *
  * Rules for a chain:
  *  - `step(at)` runs its op only while the head is exactly `at`; an op
  *    that fails because a concurrent runner committed `at + 1` first is
  *    deferred to that winner, and every step then waits for `at + 1`.
  *  - Every step's predicate must be SELF-SATISFYING: an op that can
  *    legitimately match ZERO rows commits no version (a MERGE with no
  *    matching action returns without a boundary), so a predicate that
  *    relies on a cross-row value collision vanishing at sf0.001 wedges
  *    the chain in `await`. Key membership by identity — e.g.
  *    `cents IN (SELECT cents ... WHERE pri = X) AND pri = X`.
  *  - Any query that builds a chain during CONSTRUCTION must be named in
  *    [[graft.Bench.layerBacked]]: the ensure* source sweep cannot see SQL
  *    chains, and an unlisted chain builds inside its timed query the
  *    first time a clean tree runs it.
  */
class SqlChain(s: SparkSession, val base: String) {
  import graft.sources.SnapshotTable

  def head: Int = SnapshotTable.headVersion(s, base)

  /** Waits until a (possibly concurrent) builder has committed `v`. A
    * manifest is published whole ([[SnapshotTable.commit]]), so once the
    * head reaches `v` every version up to it reads back complete. */
  def await(v: Int): Unit =
    Scratch.await(s"snapshot $base stuck below v$v")(head >= v)

  /** Commits version `at + 1` with `op` unless the head has passed `at`. */
  def step(at: Int)(op: => Unit): Unit = {
    if (head == at) {
      try op catch { case _: Exception if head > at => () }
    }
    await(at + 1)
  }

  /** [[step]] for one SQL statement. */
  def step(at: Int, sql: String): Unit = step(at)(s.sql(sql).collect(): Unit)
}

/** A chain over table `tbl` of a per-fixture [[graft.sources.SnapshotCatalog]]
  * named `cat`, rooted at `root`; `t` is the table's SQL name. */
final class SqlFixture(s: SparkSession, val root: String, val tbl: String,
    val cat: String) extends SqlChain(s, s"$root/$tbl") {
  val t = s"$cat.`$tbl`"
}

object SqlChain {

  /** Registers a [[graft.sources.SnapshotCatalog]] named `cat` over `root`. */
  def register(s: SparkSession, cat: String, root: String): Unit = {
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
  }

  /** The standard orders-derived fixture: root
    * `<name>-<sf>-<format>-<tag of orders>` ([[Scratch.tagged]]), catalog
    * `<prefix><sf digits><tag>` — Spark caches a catalog instance per
    * NAME with its options, so the name must change whenever the root
    * does. `key` is the table's merge-on-read key column, if it has one. */
  def fixture(s: SparkSession, sfDir: String, name: String, prefix: String,
      tbl: String, key: Option[String] = None): SqlFixture = {
    val fp = Scratch.tag(s, s"$sfDir/orders.parquet")
    val root = s"${Scratch.dir(name, sfDir)}-$fp"
    val cat = s"$prefix${Scratch.sfName(sfDir).replace(".", "")}$fp"
    register(s, cat, root)
    key.foreach(k => s.conf.set(s"spark.sql.catalog.$cat.key.$tbl", k))
    new SqlFixture(s, root, tbl, cat)
  }
}
