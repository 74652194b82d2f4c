package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Exact-statistics localCheckpoint for iterative kernels.
  *
  * `Dataset.localCheckpoint()` cuts the LINEAGE but deliberately preserves
  * the plan's ESTIMATED statistics (`LogicalRDD.originStats`). For a loop
  * whose per-round plan joins the previous round's checkpoint against
  * itself-derived state, those estimates COMPOUND multiplicatively: the
  * size-only join estimate is left·right, so round t's sizeInBytes is a
  * product of round t-1 products — the BigInt's digit count doubles every
  * round, and by round ~25 the driver spends minutes inside
  * `BigInteger.multiplyToomCook3` just folding statistics (observed as a
  * silent stall in the delta-iteration CC kernel on a 30-node chain).
  *
  * This bridge replaces the inherited estimate with the TRUTH: the one job
  * that writes the checkpoint blocks also counts the rows, and the
  * `LogicalRDD` carries `Statistics(rows·rowBytes, rows)`. Two birds: the
  * compounding resets every round, and the optimizer sees the real
  * (usually shrinking) delta size — a tiny frontier is broadcast even at
  * static planning time, not just after AQE's runtime correction.
  *
  * Lives in the `org.apache.spark.sql` package because `LogicalRDD`'s
  * session parameter and `Dataset.ofRows` are `private[sql]` (same
  * convention as [[ColumnBridge]] / [[DatasetBridge]]).
  */
object CheckpointBridge {

  /** Materialize `df` into local-checkpoint blocks and count its rows in
    * ONE job, then return the dataset rebuilt with exact statistics plus
    * the row count (callers use it as their convergence signal — no
    * separate isEmpty job). `Dataset.localCheckpoint()` would run its own
    * eager job (`doCheckpoint`) and leave the count to a second one; here
    * the count is the job that fills the blocks, and the `doCheckpoint`
    * Spark runs after it finds every block present. `rowBytes` is the
    * caller's estimate of one row's width; only relative magnitude matters
    * (it gates broadcast thresholds). */
  def checkpointExact(df: DataFrame, rowBytes: Long): (DataFrame, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val qe = ds.queryExecution
    val (rdd, n) = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      qe.executedPlan.resetMetrics()
      val rows = qe.executedPlan.execute().map(_.copy())
      rows.localCheckpoint()
      (rows, rows.count())
    }
    val lr = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
    val stats = Statistics(
      sizeInBytes = BigInt(math.max(rowBytes, n * rowBytes)),
      rowCount = Some(BigInt(n)))
    val fixed = new LogicalRDD(
      lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
      lr.isStreaming, lr.stream)(ds.sparkSession, Some(stats), None)
    (DatasetBridge.ofRows(df.sparkSession, fixed), n)
  }
}
