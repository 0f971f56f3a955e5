package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared versioned-state table for the `foreachBatch` streaming twins
  * (the set-state twins through [[step]], and [[DedupGroupStream]])
  * whose state is a distributed TABLE (a seen-key set, a (doc_id →
  * group_id) assignment) rather than a per-key state store — component merges and corpus-wide
  * membership tests span arbitrary keys, which no keyed state store can
  * express.
  *
  * Layout under `stateDir` — every directory `_SUCCESS`-gated (an
  * incomplete write from a failed attempt can neither be read nor count
  * toward retention, and a replayed batch overwrites its own directory
  * idempotently):
  *
  *   - `c<batchId>` — a COMPACT: the full state as of the end of that
  *     batch.
  *   - `d<batchId>` — a DELTA: only the rows that batch ADDED (set
  *     state) or CHANGED (keyed state). Per-batch write volume is
  *     O(batch novelty), not O(corpus history) — the property that keeps
  *     a long-running 100 TB stream's state maintenance proportional to
  *     its ingest rate instead of its lifetime.
  *   - legacy `v<batchId>` directories (the round-8 full-rewrite format)
  *     read as compacts, so pre-existing state dirs keep working.
  *
  * The state visible to batch N is: the newest compact below N, plus
  * every delta between that compact and N. Restricting reads BELOW the
  * current batch id is the replay contract: a batch replayed after a
  * crash (state written, checkpoint commit lost) must read its
  * PREDECESSOR's state, not its own failed write.
  *
  * Every `compactEvery` deltas the writer folds the accumulated state
  * into a fresh compact, which bounds the per-read file-listing and
  * union fan-in; [[prune]] then deletes everything below the
  * second-newest compact — the newest compact window must survive for
  * replay of the batch that wrote the newest compact, and one extra
  * window is kept as grace for external readers mid-scan of a
  * just-superseded version. Storage is therefore bounded by ~2 compact
  * windows regardless of stream lifetime.
  */
object VersionedState {

  /** One complete state directory: its batch id, whether it is a full
    * snapshot (compact) or an increment (delta), and its path. */
  final case class Version(id: Long, compact: Boolean, path: Path)

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All COMPLETE (_SUCCESS-marked) versions under `dir`, newest first —
    * the one listing readers, the compaction decision, and the pruner all
    * share, so an incomplete directory is invisible everywhere at once. */
  def versions(spark: SparkSession, dir: String): Seq[Version] = {
    val root = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap { s =>
        val n = s.getPath.getName
        val compact = n.startsWith("c") || n.startsWith("v")
        val delta = n.startsWith("d")
        if (!compact && !delta) None
        else n.drop(1).toLongOption.map(Version(_, compact, s.getPath))
      }
      .filter(v => f.exists(new Path(v.path, "_SUCCESS")))
      .sortBy(-_.id)
  }

  /** The versions that constitute the state visible before `before`:
    * the newest compact with id < before plus every delta between it and
    * `before`, oldest first. Deltas older than the newest compact are
    * already folded into it and are never read. */
  private def readable(spark: SparkSession, dir: String,
                       before: Option[Long]): Seq[Version] = {
    val vs = versions(spark, dir).filter(v => before.forall(v.id < _))
    val base = vs.find(_.compact)
    val floor = base.map(_.id).getOrElse(Long.MinValue)
    (base.toSeq ++ vs.filter(v => !v.compact && v.id > floor)).sortBy(_.id)
  }

  /** SET state (e.g. the span-dedup seen-key table): the state is the
    * UNION of the base compact and the deltas — deltas only ever contain
    * keys absent from everything before them, so the union needs no
    * dedup. None when no complete version exists below `before`. */
  def readSet(spark: SparkSession, dir: String,
              before: Option[Long] = None): Option[DataFrame] = {
    val vs = readable(spark, dir, before)
    if (vs.isEmpty) None
    else Some(vs.map(v => spark.read.parquet(v.path.toString))
      .reduce(_.unionByName(_)))
  }

  /** [[readSet]], or an empty `schema` frame when there is no version. */
  def readSetOr(spark: SparkSession, dir: String, schema: StructType,
                before: Option[Long] = None): DataFrame =
    readSet(spark, dir, before).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  /** One micro-batch of a SET-state twin. `f` gets the state BELOW
    * `batchId` (a replayed batch never sees its own failed attempt's
    * write), writes the batch's output, and returns the rows the batch
    * adds to the state. Those land as a delta, or, when [[shouldCompact]]
    * says so, `fold`ed with the prior state into a compact; then
    * superseded windows are pruned. `fold` is the identity for a set
    * whose deltas are disjoint, a per-key re-aggregation for mergeable
    * partials. */
  def step(spark: SparkSession, dir: String, batchId: Long, schema: StructType,
           compactEvery: Int, fold: DataFrame => DataFrame = identity)
          (f: DataFrame => DataFrame): Unit = {
    val seen = readSetOr(spark, dir, schema, Some(batchId))
    val delta = f(seen)
    if (shouldCompact(spark, dir, batchId, compactEvery))
      write(fold(seen.unionByName(delta)), dir, batchId, compact = true)
    else write(delta, dir, batchId, compact = false)
    prune(spark, dir, batchId)
  }

  /** KEYED state (e.g. the dedup-group assignment table): the newest
    * write per key wins — a delta carries the keys its batch added or
    * re-labeled, so later versions override earlier ones row-by-row.
    *
    * Merge shape: only the DELTAS (novelty-sized, fan-in bounded by
    * `compactEvery`) are folded into a newest-wins override table; the
    * base compact — the corpus-sized side — then streams through one
    * anti-join on the override's keys and unions the override back in.
    * The corpus-wide `groupBy(key).max_by(__v)` this replaced re-shuffled
    * the WHOLE assignment on every read even when the deltas held a few
    * hundred rows; now the full-state shuffle is gone and AQE broadcasts
    * the delta-sized override side of the anti-join. */
  def readKeyed(spark: SparkSession, dir: String, keyCol: String,
                before: Option[Long] = None): Option[DataFrame] = {
    val vs = readable(spark, dir, before)
    if (vs.isEmpty) return None
    val base = spark.read.parquet(vs.head.path.toString)
    if (vs.lengthIs == 1) return Some(base)
    val u = vs.tail.map(v => spark.read.parquet(v.path.toString)
        .withColumn("__v", lit(v.id)))
      .reduce(_.unionByName(_))
    val valCols = u.columns.filterNot(c => c == keyCol || c == "__v")
    // a single delta needs no newest-wins fold — its keys are already
    // unique (one write per key per batch); a longer chain's fold is
    // materialized ONCE (novelty-sized, bounded by compactEvery): the
    // returned frame references the override twice (anti-join + union)
    // and callers consume the view more than once per batch, so without
    // the boundary the multi-delta union+fold re-executes per reference
    val over =
      if (vs.lengthIs == 2) u.drop("__v")
      else u.groupBy(keyCol)
        .agg(max_by(struct(valCols.map(col): _*), col("__v")).as("__s"))
        .select(col(keyCol) +: valCols.map(c => col(s"__s.$c").as(c)): _*)
        .localCheckpoint(true)
    Some(base.join(over.select(keyCol), Seq(keyCol), "left_anti")
      .unionByName(over))
  }

  /** True when batch `batchId` should write a compact instead of a
    * delta: `compactEvery` deltas (or more) have accumulated since the
    * newest compact below it, or no compact exists at all yet the delta
    * chain has grown that long. The first batch of a stream writes a
    * compact (its state IS its novelty), anchoring the chain;
    * `compactEvery` ≤ 0 compacts every batch. */
  def shouldCompact(spark: SparkSession, dir: String, batchId: Long,
                    compactEvery: Int): Boolean = {
    val vs = versions(spark, dir).filter(_.id < batchId)
    val floor = vs.find(_.compact).map(_.id).getOrElse {
      return true // no base snapshot yet → this batch anchors one
    }
    vs.count(v => !v.compact && v.id > floor) >= compactEvery
  }

  /** Write `df` as batch `batchId`'s version — a compact (full state) or
    * a delta (novelty only). Overwrite mode keeps a replayed batch
    * idempotent: it rewrites its own directory. */
  def write(df: DataFrame, dir: String, batchId: Long,
            compact: Boolean): Unit = {
    val prefix = if (compact) "c" else "d"
    df.write.mode("overwrite").parquet(s"$dir/$prefix$batchId")
  }

  /** Delete every version strictly below the SECOND-newest compact below
    * `currentBatchId`. The newest compact window (newest compact + its
    * deltas) must survive so a replay of any batch ≤ currentBatchId can
    * still resolve its predecessor state; the window below it is grace
    * for external readers mid-scan. Legacy `v` full-rewrite versions
    * count as compacts, so a pre-existing dir prunes correctly too. */
  def prune(spark: SparkSession, dir: String, currentBatchId: Long): Unit = {
    val compacts = versions(spark, dir)
      .filter(v => v.compact && v.id < currentBatchId)
    if (compacts.lengthIs < 2) return
    val floor = compacts(1).id
    val f = fs(spark, dir)
    versions(spark, dir)
      .filter(_.id < floor)
      .foreach(v => f.delete(v.path, true))
  }
}
