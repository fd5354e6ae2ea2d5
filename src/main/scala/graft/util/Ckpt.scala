package graft.util

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The ONE way this codebase truncates iterative lineage.
  *
  * `df.localCheckpoint()` defaults to deserialized MEMORY_AND_DISK blocks —
  * fine in isolation, but inside a long suite those on-heap blocks compete
  * with every later query's execution memory, and the measured effect is
  * suite-position-sensitive timings (docs/BENCH_NOTES.md #30: x_pagerank
  * 5.4 s isolated vs 14.9 s mid-suite; round-7 driver run: x_rand_walk
  * 20.6 s — the one graph substrate that had missed the pin). DISK_ONLY
  * stores the serialized blocks off-heap-of-the-JVM entirely: checkpoint
  * reads pay a local-disk round trip (sub-second for every frame we pin —
  * these are edge lists, frontiers, and candidate sets, not the fact
  * table), and the heap stays owned by whoever is executing NOW.
  *
  * Every lineage-truncation site in src/main goes through [[CkptOps
  * .ckptDisk]] so the storage level is a single decision, not a per-file
  * convention that new modules can silently miss (exactly how RandWalk
  * regressed in round 7).
  *
  * Same caveat as always applies to localCheckpoint in any form: blocks
  * live in executor storage, so executor loss loses them — a multi-tenant
  * production run with preemption would use `spark.sparkContext
  * .setCheckpointDir` + reliable `checkpoint()` instead. Single-JVM
  * local[n] (this bench) and dedicated clusters take the cheaper local
  * form deliberately.
  */
object Ckpt {

  /** [[CkptOps.ckptDisk]] pins eagerly: it blocks the driver on a
    * dedicated materialization job, where lazy would materialize inside
    * the first consuming action. Measured at sf0.1/local[32] on the five
    * pairs-build queries (BENCH_NOTES #89): eager and lazy are within
    * noise of each other on every one, and lazy additionally surrenders
    * the layout repair below (UnknownPartitioning until materialized), so
    * eager stays.
    */
  private final val Eager = true

  implicit class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Eager localCheckpoint with serialized DISK_ONLY block storage,
      * KEEPING the frame's physical layout metadata: under AQE, Spark's
      * own localCheckpoint records UnknownPartitioning (the adaptive plan
      * wrapper hides the final plan's partitioning from
      * `LogicalRDD.fromDataset`), so every downstream join/aggregate on
      * the checkpointed keys re-shuffled data that was already in place —
      * the silent tax every iterative operator here paid per round until
      * round 10 measured it (PageRank's "partition-local" inflow
      * aggregate was shuffling the edge frame every iteration).
      * [[org.apache.spark.sql.graft.Bridge.repairCheckpointLayout]]
      * re-attaches the AQE-final plan's partitioning/ordering, and
      * degrades to Spark's behavior when anything doesn't line up.
      */
    def ckptDisk(): Dataset[T] =
      org.apache.spark.sql.graft.Bridge.repairCheckpointLayout(
        ds, ds.localCheckpoint(Eager, StorageLevel.DISK_ONLY))
  }

  /** Drops a [[CkptOps.ckptDisk]] frame's storage blocks NOW instead of
    * waiting for the ContextCleaner to notice the RDD is unreachable. An
    * iterative fold that checkpoints per round otherwise accumulates one
    * dead block set per round on executor disk for the whole query
    * (ADVICE round 8 on [[graft.analytics.Incremental]]). ONLY safe once
    * nothing will read the frame again: its lineage is truncated, so a
    * post-release access cannot recompute — it fails. No-op on frames
    * that aren't checkpoint scans.
    */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
