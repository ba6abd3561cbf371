package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.storage.StorageLevel

/** The one way the engine pins a frame that several consumers, or the
  * next round of a loop, read. Policy:
  *  - reuse, or a loop with a bounded number of rounds: [[apply]];
  *  - a loop with no bound on its rounds, or rows that must not change
  *    when recomputed: [[reliably]];
  *  - the subtree under a trailing global sort: [[inPlan]].
  * [[release]] drops what a pinned frame holds once nothing reads it.
  */
object Materialize {

  /** `df`'s rows persisted `MEMORY_AND_DISK` under a one-leaf plan (a
    * `LogicalRDD`), computed now by one job or, without `eager`, by the
    * first action that reads them: the job and blocks of an eager
    * `localCheckpoint`, and a loop that pins each round keeps a plan of
    * constant size. The lineage stays, so a block lost with its
    * executor is recomputed.
    */
  def apply(df: DataFrame, eager: Boolean = true): DataFrame = pin(df, eager, reliable = false)

  /** [[apply]], then a reliable checkpoint of the persisted blocks under
    * the session's `spark.checkpoint.dir` (a scratch directory if it
    * set none): the lineage ends at the files, so it does not grow with
    * the rounds before, and a lost block reads back the same rows.
    */
  def reliably(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    sc.synchronized {
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(TempDirs.create("checkpoint").toString)
    }
    pin(df, eager = true, reliable = true)
  }

  /** `df` cached under its own plan, which still shows the subtree: the
    * first job that reads it (a sort's sampling pass, say) keeps its
    * rows for the next. Its blocks go with the frame.
    */
  def inPlan(df: DataFrame): DataFrame = GraftColumnBridge.inMemory(df, StorageLevel.MEMORY_AND_DISK)

  /** Drop the blocks and checkpoint files behind the [[apply]] and
    * [[reliably]] pins in each frame's plan. A frame pinned [[reliably]]
    * cannot be read after.
    */
  def release(frames: DataFrame*): Unit =
    frames.flatMap(GraftColumnBridge.pinnedRdds).foreach { rdd =>
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }

  private def pin(df: DataFrame, eager: Boolean, reliable: Boolean): DataFrame = {
    val qe = df.queryExecution
    val rows: RDD[InternalRow] = SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      val r = qe.executedPlan.execute().map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      if (reliable) r.checkpoint() // written from the blocks after the job below
      if (eager) r.foreachPartition((it: Iterator[InternalRow]) => it.foreach(_ => ()))
      r
    }
    GraftColumnBridge.overRows(df, rows)
  }
}
