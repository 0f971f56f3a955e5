package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.text.TextDedup
import StreamingConf.eachBatch

/** Streaming twin of [[graft.text.TextDedup.duplicateGroups]]: incremental
  * connected components over a STREAM of near-dup pairs (the output shape
  * of every pair miner in this engine), maintaining a (doc_id, group_id)
  * assignment table that converges to exactly what the batch operator
  * computes over all pairs seen so far.
  *
  * Algorithm — contract-then-relabel per micro-batch:
  *
  *   1. CONTRACT: each fresh-pair endpoint maps to its representative —
  *      its prior group_id when assigned, itself when new. One pass over
  *      the prior assignment (the batch's endpoint set is broadcast, so
  *      the state streams through the lookup without shuffling) turns the
  *      batch into a BATCH-SIZED graph over representatives. A group_id
  *      is itself the min member id of its group, so the min label over a
  *      contracted component IS the min over all underlying members.
  *   2. CC on the contracted graph only — O(batch) nodes and edges,
  *      solved by the batch operator's adaptive path (driver union-find
  *      at this size).
  *   3. RELABEL: the delta is (a) the fresh endpoints that were
  *      unassigned, with their new labels, plus (b) the members of prior
  *      groups whose label CHANGED — found by a second state pass against
  *      the broadcast set of merged group ids. Groups the batch didn't
  *      merge are never read, recomputed, or rewritten.
  *
  * Per-batch COMPUTE is therefore O(batch + members of merged groups):
  * the CC loop never re-runs over corpus history (the round-9 design fed
  * the full star-contracted assignment back into `duplicateGroups` every
  * batch and diffed the full result — writes were O(novelty) but compute
  * and shuffle stayed O(corpus lifetime)). The unavoidable floor is the
  * two sequential scans of the prior assignment (endpoint lookup,
  * affected-member fetch) — scans, not shuffles: both joins broadcast the
  * batch-bounded side. Micro-batches are ingest-bounded by construction;
  * a historical backfill should use the batch operator, not replay a
  * giant batch through this sink.
  *
  * This is a `foreachBatch` operator, not a keyed state store: component
  * merges span arbitrary keys (one pair can fuse groups living on any two
  * executors), which no per-key `flatMapGroupsWithState` partitioning can
  * express — while the assignment table itself can be arbitrarily large,
  * so it belongs in a distributed table, not in a collected driver map.
  * State lives in a [[VersionedState]] table under `stateDir`: each batch
  * appends a DELTA holding only the labels it added or changed, with a
  * full compact folded in every `compactEvery` batches to bound the read
  * fan-in (built from the delta + one anti-join pass over the prior
  * state, still never a CC re-run). Reads are restricted BELOW the
  * current batch id: a replayed batch must contract against its
  * PREDECESSOR's assignment (contracting against its own failed delta
  * would see its relabels as already-applied and write an empty delta),
  * and the overwrite of its own directory is then idempotent.
  */
object DedupGroupStream {

  /** The current complete (doc_id, group_id) assignment under
    * `stateDir`, if any — newest write per doc_id wins across the
    * compact-plus-deltas chain. */
  def latestState(spark: org.apache.spark.sql.SparkSession,
                  stateDir: String): Option[DataFrame] =
    VersionedState.readKeyed(spark, stateDir, "doc_id")

  /** The delta batch `batchId` must append given the predecessor
    * assignment `prev`: new labels for the batch's unassigned endpoints
    * plus relabels for every member of a group the batch merged into a
    * smaller label. Exactly the rows on which `prev`'s view and the
    * post-batch assignment differ. */
  private[streaming] def incrementalDelta(fresh: DataFrame,
                                          prev: DataFrame): DataFrame = {
    val eps = fresh.select(col("doc_a").as("doc_id"))
      .union(fresh.select(col("doc_b").as("doc_id")))
      .distinct()
    // prior assignments of this batch's endpoints: one state SCAN, the
    // endpoint set broadcast — O(batch) rows come back, nothing shuffles
    val touched = prev.join(broadcast(eps), Seq("doc_id")).persist()
    try {
      val contracted = fresh
        .join(broadcast(touched.select(
          col("doc_id").as("doc_a"), col("group_id").as("__ga"))),
          Seq("doc_a"), "left")
        .join(broadcast(touched.select(
          col("doc_id").as("doc_b"), col("group_id").as("__gb"))),
          Seq("doc_b"), "left")
        .select(coalesce(col("__ga"), col("doc_a")).as("doc_a"),
          coalesce(col("__gb"), col("doc_b")).as("doc_b"))
      // CC over representatives only — batch-sized by construction
      val cc = TextDedup.duplicateGroups(contracted, "doc_a", "doc_b")
        .persist()
      try {
        val gset = touched.select(col("group_id").as("doc_id")).distinct()
        // fresh endpoints that had no prior group: their cc row IS their
        // new assignment (group ids live in prev, unassigned endpoints
        // don't, so the two node populations cannot collide)
        val newRows = cc.join(broadcast(gset), Seq("doc_id"), "left_anti")
        // prior groups whose label shrank: relabel ALL their members —
        // the second state scan, again against a broadcast batch-bounded
        // set, returning only the affected members
        val mergedGroups = cc.join(broadcast(gset), Seq("doc_id"))
          .filter(col("group_id") =!= col("doc_id"))
          .select(col("doc_id").as("group_id"), col("group_id").as("__new"))
        val relabeled = prev.join(broadcast(mergedGroups), Seq("group_id"))
          .select(col("doc_id"), col("__new").as("group_id"))
        // materialize while the persisted inputs are alive: the caller
        // writes this frame (possibly twice, delta + compact fold)
        val delta = newRows.select("doc_id", "group_id")
          .unionByName(relabeled).localCheckpoint(true)
        delta
      } finally cc.unpersist(false)
    } finally touched.unpersist(false)
  }

  /** Attach the incremental-components sink to a stream of (aCol, bCol)
    * pair rows and start it. */
  def attach(pairStream: DataFrame, aCol: String, bCol: String,
             stateDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow(),
             compactEvery: Int = 8): StreamingQuery =
    eachBatch(pairStream, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      // null ids carry no linkage — same up-front filter as the batch
      // operator, so contraction joins and CC agree with it
      val fresh = batch.select(
          col(aCol).cast("long").as("doc_a"), col(bCol).cast("long").as("doc_b"))
        .filter(col("doc_a").isNotNull && col("doc_b").isNotNull)
        .persist()
      try {
        val prevOpt = VersionedState.readKeyed(spark, stateDir, "doc_id", Some(batchId))
        val delta = prevOpt match {
          case None => TextDedup.duplicateGroups(fresh, "doc_a", "doc_b")
          case Some(prev) => incrementalDelta(fresh, prev)
        }
        if (VersionedState.shouldCompact(spark, stateDir, batchId, compactEvery)) {
          // fold the delta over the prior state — an anti-join on the
          // delta's (batch-bounded, broadcast) key set, NOT a CC re-run
          val full = prevOpt match {
            case None => delta
            case Some(prev) => prev
              .join(broadcast(delta.select("doc_id")), Seq("doc_id"), "left_anti")
              .unionByName(delta)
          }
          VersionedState.write(full, stateDir, batchId, compact = true)
        } else
          VersionedState.write(delta, stateDir, batchId, compact = false)
      } finally fresh.unpersist(false)
      VersionedState.prune(spark, stateDir, batchId)
    }
}
