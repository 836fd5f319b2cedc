package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Pluggable materialization barrier for reused expensive intermediates.
  *
  * Five operators (p04/p08/p12/p16/p21) depend on a REAL barrier — a plan
  * node the optimizer cannot inline through — so HOF-computed arrays are
  * evaluated exactly once instead of once per lambda reference (see
  * `PipelineOps.materialized`'s doc for the measured failure modes of the
  * REPARTITION-hint alternative). `localCheckpoint` is the right barrier on
  * local[N]: eager, no exchange, partitioning preserved. But its blocks are
  * executor-local and NON-REPLICATED, and it truncates lineage — on a real
  * cluster one lost executor makes every downstream stage unrecoverable.
  * That failure mode cannot be observed on local[N], so the strategy must
  * be a CONFIG, not a comment:
  *
  *   - `spark.graft.barrier = localCheckpoint` (default) — fastest; single
  *     shared-JVM deployments and tests.
  *   - `spark.graft.barrier = checkpoint` — reliable checkpoint to the
  *     directory in `spark.graft.checkpointDir` (or a checkpoint dir
  *     already set on the SparkContext). Blocks live on the cluster FS and
  *     survive any executor loss; this is the 100 TB setting.
  *   - `spark.graft.barrier = persistDisk` — `persist(DISK_ONLY)` +
  *     eager materialization. Lineage is KEPT, so a lost block recomputes
  *     instead of failing the job; cheaper than a distributed-FS round-trip
  *     when the cluster FS is slow, at the cost of recompute storms under
  *     heavy executor churn.
  *
  * There is no "no barrier" mode: iterative loops rely on the barrier to
  * break lineage, and the multi-consumer re-execution hazard it prevents
  * was measured once (README "Barrier hazard, measured end-to-end").
  *
  * All three modes hold the barrier property (asserted per-mode in
  * PlanAuditSpec): the consumer plan starts from materialized data — `Scan
  * ExistingRDD` for the checkpoint modes, `InMemoryTableScan` for persist —
  * and the producing plan is never re-inlined into consumers.
  */
object Barrier {
  val ModeKey = "spark.graft.barrier"
  val DirKey = "spark.graft.checkpointDir"

  /** leaf-wrapped persist result → the original persisted Dataset, so
    * [[release]] can unpersist the real cache entry (unpersisting the
    * InMemoryRelation wrapper itself is a no-op). */
  private val persistOrigin = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, DataFrame]())

  /** Materialize `df` eagerly behind the configured barrier. */
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "localCheckpoint") match {
      case "localCheckpoint" => df.localCheckpoint()
      case "checkpoint" =>
        val sc = spark.sparkContext
        spark.conf.getOption(DirKey).foreach { d =>
          if (!sc.getCheckpointDir.contains(d)) sc.setCheckpointDir(d)
        }
        if (sc.getCheckpointDir.isEmpty)
          throw new IllegalStateException(
            s"$ModeKey=checkpoint needs $DirKey (or SparkContext.setCheckpointDir) " +
              "pointing at a cluster-visible directory — refusing to guess a " +
              "local path that executors cannot read")
        df.checkpoint() // eager by default
      case "persistDisk" =>
        val p = df.persist(StorageLevel.DISK_ONLY)
        p.count() // force materialization — barrier must be eager like the others
        // hand consumers the InMemoryRelation LEAF, not the original plan:
        // analysis-time cache substitution misses view references nested in
        // consumer CTEs (GraftPlanBridge.cachedLeaf doc), and a missed
        // substitution silently re-runs the whole producing plan
        org.apache.spark.sql.GraftPlanBridge.cachedLeaf(p) match {
          case Some(leaf) => persistOrigin.put(leaf, p); leaf
          case None => p
        }
      case other =>
        throw new IllegalArgumentException(
          s"$ModeKey='$other' — expected localCheckpoint | checkpoint | persistDisk")
    }
  }

  /** Free a barrier result that is no longer reachable (iterative loops
    * drop each round once the next is materialized). Only persistDisk holds
    * releasable state — `unpersist` is a no-op for the checkpoint modes. */
  def release(df: DataFrame): Unit = {
    val orig = persistOrigin.remove(df)
    if (orig != null) orig.unpersist() else df.unpersist()
  }
}
