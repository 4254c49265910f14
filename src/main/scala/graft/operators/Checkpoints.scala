package graft.operators

import org.apache.spark.sql.SparkSession

/** Release valve for eager `localCheckpoint` blocks.
  *
  * Several operators materialize an internal relation with
  * `localCheckpoint(eager = true)` because their self-joins would
  * otherwise re-evaluate an expensive subplan once per MATCH
  * ([[Dedup.jaccardPairsPrefix]], [[Similarity.nearDupPairsLsh]],
  * [[Dedup.collapseToSurvivors]] and the incremental-ingest
  * compositions built on them — each documents the construction side
  * effect). The checkpointed blocks pin executor storage until the
  * ContextCleaner happens to collect the dropped references, which in a
  * long-lived session composing many instances accumulates storage
  * across batches.
  *
  * [[scoped]] is the deterministic form of that cleanup: it snapshots
  * the persisted-RDD set, runs the body (which must RUN its actions —
  * returning a lazy plan that still needs the blocks defeats the
  * point), and unpersists every RDD the body pinned. `Verify`, `Bench`
  * and the batch store ([[BatchStore.searchIndexBatch]]) wrap each unit
  * of work in it, which keeps storage flat across a long run.
  *
  * Concurrency contract: the diff attributes every RDD persisted DURING
  * the body to the body. Jobs racing on the same session from other
  * threads could have their blocks released — scope one logical task at
  * a time.
  */
object Checkpoints {

  /** Run `body`, then unpersist every RDD it left persisted (eager
    * localCheckpoints, caches) — non-blocking, so release overlaps the
    * next batch's work. Returns the body's result. */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = false)
      }
  }
}
