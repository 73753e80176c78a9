package graft.plans

import org.apache.spark.sql.Dataset

/** Shared-cache materialization policy ([[Leaves]] holds and frees the
  * shared frames built with it).
  *
  * Long-lived shared caches (the triple table, the enriched-article frame,
  * the dedup pair tables) must be LEAF plans: consumers embed up to ~8
  * copies, and an un-truncated lineage costs O(copies × plan size) of eager
  * re-analysis per query (see the spark-bench-protocol notes / BENCH/
  * BASELINE.md). Two ways to get a leaf:
  *
  *  - `localCheckpoint` (default): blocks live on executors, zero extra I/O.
  *    Correct in one local JVM; on a real cluster a lost executor makes the
  *    blocks unrecoverable MID-QUERY because the lineage is gone.
  *  - reliable `checkpoint` (conf `graft.cache.reliable=true`): blocks are
  *    written to `graft.cache.checkpointDir` (HDFS/object store on a
  *    cluster) and survive executor loss — the right setting at 100 TB,
  *    costing one write+read of the cached frame.
  */
object Caches {

  /** Eagerly materialize `ds` as a leaf plan under the session's configured
    * cache-reliability policy.
    */
  def leaf[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    if (spark.conf.get("graft.cache.reliable", "false").toBoolean) {
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(
          spark.conf.get("graft.cache.checkpointDir",
            sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-checkpoints"))
      ds.checkpoint(eager = true)
    } else ds.localCheckpoint(eager = true)
  }

  /** Free everything a [[leaf]]-materialized frame holds. Dataset.unpersist
    * alone is a no-op on a checkpoint-backed leaf (the blocks belong to the
    * RDD behind the LogicalRDD, and reclamation would wait for driver GC), so
    * the checkpointed RDD is unpersisted explicitly; and in reliable mode the
    * ReliableCheckpointRDD's files are DELETED — Spark only garbage-collects
    * them under spark.cleaner.referenceTracking.cleanCheckpoints (default
    * false) and never at context stop, so without this each rebuild cycle
    * would grow the checkpoint store by a full copy of the cached frame.
    * File relations the frame reads are never touched: a leaf that owns
    * files (the edge cache) deletes them in its own free hook
    * ([[Leaves.leaf]]). Call only after every consumer of the frame has
    * finished.
    */
  def free(ds: Dataset[_]): Unit = {
    ds.unpersist(blocking = false) // covers any persist-backed value
    val sc = ds.sparkSession.sparkContext
    ds.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach { p => // reliable mode only
          try {
            val path = new org.apache.hadoop.fs.Path(p)
            path.getFileSystem(sc.hadoopConfiguration).delete(path, true)
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      case _ => ()
    }
  }
}
