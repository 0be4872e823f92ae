package graft.rebalance

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode}
import org.apache.spark.sql.functions._

/** The engine's bulk-redistribution operator — the Spark-native form of the
  * reference's single data-path operation, `INSERT INTO db.canonical SELECT *
  * FROM db.versioned` (reference `sharding_recreation.py:145-161`), which in
  * ClickHouse re-scatters every row across an enlarged cluster by the
  * distributed table's sharding expression.
  *
  * Spark-first design:
  *   - the scatter is a single `repartition(shards, expr)` →
  *     `ShuffleExchangeExec` — one shuffle stage, no driver materialization;
  *   - the reference's non-atomic INSERT (a crash mid-insert leaves partial
  *     data, `sharding_recreation.py:159-160`) is fixed by writing to a
  *     staging path and swapping directories with metadata-only renames
  *     ([[ShadowSwap]]), so the destination always fronts either
  *     complete-old or complete-new data;
  *   - at 100 TB the shuffle is the only data movement; AQE handles skewed
  *     shard keys and coalesces small post-shuffle partitions. Round-robin
  *     mode mirrors ClickHouse `rand()` sharding.
  */
object Rebalancer {

  sealed trait Distribution
  /** hash-scatter by key, ClickHouse `sipHash64(key) % shards` analogue */
  final case class ByHash(key: String) extends Distribution
  /** contiguous key ranges per shard (sorted layout, range pruning) */
  final case class ByRange(key: String) extends Distribution
  /** round-robin, ClickHouse `rand()` sharding analogue */
  case object RoundRobin extends Distribution

  /** `df` scattered into `shards` partitions by `dist`: one shuffle. */
  def shape(df: DataFrame, dist: Distribution, shards: Int): DataFrame = dist match {
    case ByHash(key)  => df.repartition(shards, col(key))
    case ByRange(key) => df.repartitionByRange(shards, col(key))
    case RoundRobin   => df.repartition(shards)
  }

  /** Overwrite through `save` with `df` shaped by `dist`; returns the rows
    * written. The count rides the write pass via observe() — a separate
    * count() would re-read the whole output at 100 TB.
    */
  def written(df: DataFrame, dist: Distribution, shards: Int)(
      save: DataFrameWriter[Row] => Unit): Long = {
    val obs = new org.apache.spark.sql.Observation()
    save(shape(df, dist, shards).observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite))
    obs.get("n").asInstanceOf[Long]
  }

  /** Redistribute `df` into `shards` output partitions at `dest`, swapped
    * in through a staging path ([[ShadowSwap.path]]). Returns the row count
    * moved (forces the write).
    */
  def redistribute(df: DataFrame, dist: Distribution, shards: Int, dest: String): Long =
    ShadowSwap.swap(ShadowSwap.paths(df.sparkSession), ShadowSwap.path(dest))(stage =>
      written(df, dist, shards)(_.parquet(stage)))
}
