package graft.core

import org.apache.spark.sql.Dataset

/** Checkpoint-policy switch for the iterative / multi-consumer operators
  * (minhash banding, sieve pointer-doubling, contour chain merge, graph
  * relaxation rounds).
  *
  * Default is `localCheckpoint(eager = true)`: blocks live on executors
  * only — fastest on a healthy cluster and on local[N], but NOT
  * fault-tolerant (an executor loss makes the truncated lineage
  * unrecoverable, so a multi-hour 100-TB job would re-run from zero).
  *
  * Setting session conf `spark.graft.checkpoint.reliable=true` routes every
  * site through reliable `checkpoint(eager = true)` instead, persisting
  * blocks to the checkpoint directory (HDFS/object store on a cluster):
  * executor loss then costs a re-read, not a re-run. The directory comes
  * from `SparkContext.setCheckpointDir` or, if unset, session conf
  * `spark.graft.checkpoint.dir`.
  *
  * Rule of thumb: leave it off for interactive/short jobs; turn it on for
  * anything whose re-run cost exceeds the checkpoint-write cost (long
  * multi-stage pipelines on preemptible nodes).
  *
  * STORAGE NOTE (reliable mode): Spark never deletes reliable checkpoint
  * files on unpersist — each iteration of a Ckpt'd loop (sieve pointer
  * doubling, union-find rounds) leaves one working-set copy in
  * the checkpoint dir until the application exits. Launch with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (must be set
  * BEFORE the context starts) to let the ContextCleaner reap checkpoints
  * of GC'd datasets, and point `spark.graft.checkpoint.dir` at a location
  * with lifecycle rules / periodic cleanup either way.
  */
object Ckpt {
  val ReliableKey = "spark.graft.checkpoint.reliable"
  val DirKey = "spark.graft.checkpoint.dir"

  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    if (spark.conf.get(ReliableKey, "false").toBoolean) {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val dir = spark.conf.get(DirKey, "")
        require(dir.nonEmpty,
          s"$ReliableKey=true requires a checkpoint dir: set $DirKey or call sparkContext.setCheckpointDir")
        sc.setCheckpointDir(dir)
      }
      ds.checkpoint(eager = true)
    } else ds.localCheckpoint(eager = true)
  }

  /** Postfix syntax: `df.ckpt()` ≡ `Ckpt(df)`. */
  implicit class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    def ckpt(): Dataset[T] = Ckpt(ds)
  }
}
