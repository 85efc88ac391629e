package graft.util

import org.apache.spark.sql.DataFrame

/** Central frame-freezing point for every site where MATERIALIZATION IS A
  * CORRECTNESS REQUIREMENT (the nondeterministic-plan rule): frames built
  * on `repartitionByRange` (boundaries re-SAMPLED per materialization) or
  * `spark_partition_id()` that are consumed more than once inside one
  * plan, the per-iteration label/rank frames whose lineage must stay
  * flat, and the session-shared frames of `QShared` that are not
  * trajectory tables (the dup-edge set, the postings). A frozen frame
  * declares no partitioning or order, so every consumer shuffles it
  * again. The shared trajectory tables (`QShared.liTraj`, `dtrajEv`) are
  * therefore not frozen: `graft.lag.TrajectoryScan.layout` persists them
  * with their lineage intact and their layout declared, which is sound
  * only because their plans are deterministic (it requires that).
  *
  * Default (`spark.graft.reliableCheckpoint=false`): `localCheckpoint()` —
  * eager, executor-local blocks, the right call at local[32] and on
  * non-preemptible clusters (no fs round-trip).
  *
  * `spark.graft.reliableCheckpoint=true`: reliable `checkpoint()` to the
  * SparkContext checkpoint directory — on a preemptible/spot cluster a
  * localCheckpoint'ed block dies WITH its executor and, because the
  * lineage was truncated, the job cannot recompute it; the reliable path
  * survives executor loss at the price of one fs write per frozen frame.
  * The caller must have set `sc.setCheckpointDir(...)` (HDFS/object store
  * at cluster scale); enabling the flag without a directory fails loud
  * here rather than deep inside Spark.
  *
  * Both paths are eager and yield the same rows (MaterializeSpec pins
  * frame identity across the flag). */
object Materialize {

  /** Spark conf key switching frozen frames to reliable checkpoints. */
  val ReliableConfKey = "spark.graft.reliableCheckpoint"

  /** Freeze `df`: materialize it eagerly and cut lineage, so every
    * downstream consumer sees ONE consistent evaluation. */
  def frozen(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (!spark.conf.get(ReliableConfKey, "false").toBoolean) df.localCheckpoint()
    else {
      require(spark.sparkContext.getCheckpointDir.nonEmpty,
        s"$ReliableConfKey=true requires sc.setCheckpointDir(...) " +
          "(an HDFS/object-store path on a real cluster)")
      df.checkpoint()
    }
  }

  // RDD ids of frozen frames that OUTLIVE any one consumer — the
  // QShared per-(session, dir) memo hands the SAME frozen frame to many
  // registry queries, so a harness unfreezing query A's lineage must not
  // destroy the blocks query B will read (observed: 47/268 Verify
  // failures with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND when the r17
  // eager-unfreeze draft ran unpinned — the memo then hands the DEAD
  // frame to every retry). Ids, not weak refs: the set is tiny (one
  // entry per memo key) and an id is never reused within a SparkContext.
  private val pinnedIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Mark a frozen frame as SHARED: [[unfreeze]] will walk past it but
    * never unpersist it. Call on memoized frames whose lifetime is the
    * session, not one query. Returns `df` for chaining. */
  def pin(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => pinnedIds.add(lr.rdd.id)
      case _ => ()
    }
    df
  }

  /** Release the storage behind a frame frozen by [[frozen]] NOW instead
    * of waiting for the GC-driven ContextCleaner: a localCheckpoint'ed
    * frame holds its blocks (MEMORY_AND_DISK on every executor that
    * computed a partition) until the RDD object is collected, and a
    * harness that freezes many frames in one JVM (AuditBattery's
    * embedded batteries) accumulates them faster than the driver GC
    * reclaims — observed as 8g-driver OOMs in late families. Walks the
    * analyzed plan for the `LogicalRDD` leaves a checkpoint leaves
    * behind and unpersists each; a no-op for reliable-checkpoint frames
    * (file-backed, nothing persisted) and for frames that were never
    * frozen. Only call once every consumer of the frame has finished;
    * frames registered via [[pin]] (session-lifetime memo frames) are
    * skipped. */
  def unfreeze(df: DataFrame): Unit = {
    val seen = scala.collection.mutable.HashSet.empty[Int]
    // frames built ON a frozen layout (GlobalIndex's two-pass emits) hold
    // it as a PARENT RDD behind internalCreateDataFrame, not as a plan
    // leaf — walk the RDD lineage from each LogicalRDD leaf and unpersist
    // every locally-checkpointed ancestor. "Locally checkpointed" via the
    // public surface = checkpointed AND persisted (a reliable checkpoint
    // is file-backed, storage level NONE; a user .cache() is persisted
    // but not checkpointed) — so shared caller-owned caches and reliable
    // checkpoints stay untouched, and the walk stops naturally at
    // checkpoint truncations.
    def walk(rdd: org.apache.spark.rdd.RDD[_]): Unit =
      if (seen.add(rdd.id)) {
        if (!pinnedIds.contains(rdd.id) && rdd.isCheckpointed &&
            rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) {
          rdd.unpersist(blocking = false); ()
        }
        rdd.dependencies.foreach(d => walk(d.rdd))
      }
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => walk(lr.rdd)
      case _ => ()
    }
  }

  /** Method-chain sugar: `df.frozen()` == `Materialize.frozen(df)`. */
  implicit class FrozenOps(private val df: DataFrame) extends AnyVal {
    def frozen(): DataFrame = Materialize.frozen(df)
  }
}
