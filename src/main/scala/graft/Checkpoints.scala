package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.Bridge

/** Block-manager hygiene for iterative operators and long-running
  * sessions.
  *
  * `Dataset.localCheckpoint()` persists the materialized rows in the
  * block manager and truncates lineage — which is what makes iterative
  * loops ([[graft.operators.Graph]], [[graft.operators.Bpe]]) plan-size
  * stable — but nothing ever frees those blocks. In a long-running
  * session (a service, or the 114-query bench run) superseded
  * checkpoints accumulate until executor storage memory and driver GC
  * pressure degrade every later query: the round-5 bench measured BPE
  * learning at 2.3× its round-4 time with zero code change, purely from
  * ~25 checkpoint call sites' leftovers plus seven live streaming
  * memory-sink tables. The fix is two-sided:
  *
  *  - operators free each checkpoint as soon as the next one supersedes
  *    it ([[free]]), so a single query's peak extra storage is one
  *    generation, not `iters` generations;
  *  - the harness sweeps everything between independent queries
  *    ([[sweep]]), catching the final checkpoint of each result (which
  *    the operator cannot free — the caller's plan still needs it).
  */
object Checkpoints {

  /** localCheckpoint that keeps the plan's hashpartitioning, for
    * checkpoints whose consumers aggregate/join on the partitioning
    * key: they reuse the one exchange paid before the checkpoint
    * instead of each re-shuffling the materialized rows.
    *
    * Under AQE the executed plan is an AdaptiveSparkPlanExec, from
    * which Dataset.checkpoint extracts no partitioning (the scan reads
    * as UnknownPartitioning — measured, DESIGN.md §5). So the plan is
    * materialized on a clone of the frame's session with AQE off, and
    * the resulting LogicalRDD, which carries the partitioning as leaf
    * metadata, is rebound to the frame's own session. The caller's
    * conf is never written: queries other threads plan meanwhile, and
    * this frame's consumers, run under the session's own AQE setting.
    * (Scoping the conf to the thread with `SQLConf.withExistingConf`
    * does not work: the checkpoint came out UnknownPartitioning.) A
    * clone costs about 1 ms once warm. */
  def localCheckpointKeepingPartitioning(df: DataFrame): DataFrame = {
    val clone = Bridge.cloneSession(df.sparkSession)
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    val ckpt = Bridge.ofRows(clone, df.queryExecution.logical).localCheckpoint()
    Bridge.ofRows(df.sparkSession, ckpt.queryExecution.logical)
  }

  /** Free the block-manager storage behind `localCheckpoint()`ed
    * frames (no-op on frames with no checkpoint in their plan).
    *
    * A local checkpoint's lineage is TRUNCATED — after freeing, the
    * frame can never be recomputed. Only call this on superseded
    * intermediates that nothing will read again. */
  def free(frames: DataFrame*): Unit =
    frames.foreach(_.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    })

  /** Drop every persisted RDD and SQL-cached plan still registered in
    * the session — between-queries hygiene for a service processing
    * independent requests. Callers must have fully consumed any prior
    * results first: freed checkpoints are unrecomputable.
    *
    * The explicit GC is the load-bearing half. Spark frees SHUFFLE and
    * BROADCAST state only through ContextCleaner, which is driven by
    * WEAK REFERENCES — nothing is unregistered until the driver
    * garbage-collects. A bench/service session with a generous heap
    * running small queries may not GC for many minutes, so thousands
    * of dead shuffles stay registered and every job submission walks
    * an ever-growing scheduler state: measured on the 136-query sf0.1
    * bench, the single dag-scheduler-event-loop thread burned 68 s of
    * CPU and the run took 608 s at -Xmx8g — and 829 s at -Xmx28g
    * (bigger heap ⇒ rarer GC ⇒ more starvation), with queries idling
    * 97% while the scheduler churned. A forced GC at each query
    * boundary lets the cleaner drain; pauses land in UNTIMED harness
    * code, never inside a measured query. (Spark's own safety net,
    * `spark.cleaner.periodicGC.interval`, defaults to 30 MINUTES —
    * far too slow for this shape.) */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    System.gc()
  }
}
