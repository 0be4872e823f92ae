package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.rebalance.ShadowSwap

/** Continuous materialized-view maintenance — the piece the reference leaves
  * as a manual TODO (MVs are never created or populated automatically,
  * reference `sharding_recreation.py:115-118,258-266,337`): a streaming
  * aggregation kept up to date in a catalog table via per-micro-batch keyed
  * upsert.
  *
  * Every refresh and upsert is one [[ShadowSwap]] over `__mv_stage` /
  * `__mv_old` (stage table → metadata-only renames), the same primitive
  * the rebalance uses: a reader never observes a PARTIAL batch — any
  * snapshot it resolves is complete. The swap is not fully atomic for
  * concurrent readers, though: between the two renames the canonical name
  * is briefly vacant (TABLE_OR_VIEW_NOT_FOUND), and a reader mid-scan of
  * the pre-swap file listing can hit missing files once `__mv_old` is
  * dropped — concurrent readers need plain retry-on-error (at which point
  * they see the complete next snapshot). A catalog with atomic
  * RENAME ... TO ... swaps (or view-repointing) removes the window at
  * real scale.
  *
  * Scale note (100 TB): the upsert rewrites only (previous MV ∖ batch keys)
  * ∪ batch — for windowed aggregations the batch touches the few open
  * windows, so per-refresh IO is bounded by MV size, not stream history;
  * partition the MV table by a window-derived column to turn the rewrite
  * into a partition-overwrite at real scale.
  */
object MaterializedView {

  /** Finish a crashed swap of `target`; [[upsert]] and [[refresh]] do it
    * themselves, callers that read `target` before an upsert call it.
    */
  def recover(spark: SparkSession, target: String): Unit =
    ShadowSwap.recover(ShadowSwap.catalog(spark), ShadowSwap.mv(target))

  /** One keyed upsert: rows of `batch` replace same-key rows of `target`;
    * the first batch seeds it.
    *
    * `snapshotPartitions` sizes the rewritten snapshot: an MV is orders of
    * magnitude smaller than its stream, but the merged frame inherits the
    * batch's shuffle partitioning, so without it every micro-batch writes
    * `spark.sql.shuffle.partitions` near-empty files and the next batch
    * pays the listing. Pick ~MV-size/128 MB (often 1); 0 keeps the planned
    * partitioning (the right call once the MV is partition-overwritten by a
    * window column at real scale).
    */
  def upsert(batch: DataFrame, keyCols: Seq[String], target: String,
      snapshotPartitions: Int = 0): Unit = {
    val spark = batch.sparkSession
    ShadowSwap.swap(ShadowSwap.catalog(spark), ShadowSwap.mv(target)) { stage =>
      // after recovery, so a crashed swap's snapshot is merged into, not
      // replaced by, this batch
      val merged =
        if (!spark.catalog.tableExists(target)) batch
        else {
          // the merged plan reads `batch` twice (anti-join keys + union
          // side); without a cache each micro-batch recomputes its
          // upstream aggregation twice per refresh
          batch.persist()
          spark.table(target)
            .join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
            .unionByName(batch)
        }
      val sized = if (snapshotPartitions > 0) merged.repartition(snapshotPartitions) else merged
      try sized.write.mode(SaveMode.Overwrite).saveAsTable(stage)
      finally batch.unpersist()
    }
  }

  /** Full MV rebuild through the same shadow-swap: `df` (the MV definition
    * re-evaluated against current base tables) REPLACES the MV contents.
    * Used by the rebalance workflow's opt-in MV recreation — after base
    * tables swap, their MVs are recomputed against the new canonical
    * tables.
    */
  def refresh(df: DataFrame, target: String): Unit =
    ShadowSwap.swap(ShadowSwap.catalog(df.sparkSession), ShadowSwap.mv(target))(
      df.write.mode(SaveMode.Overwrite).saveAsTable(_))

  /** Start continuous materialization of a (usually aggregated) stream into
    * catalog table `target`, keyed by `keyCols`. Update output mode: each
    * micro-batch carries only the groups that changed.
    */
  def materialize(
      stream: DataFrame,
      keyCols: Seq[String],
      target: String,
      checkpointDir: String,
      snapshotPartitions: Int = 0): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsert(batch, keyCols, target, snapshotPartitions)
      }
      .start()
}
