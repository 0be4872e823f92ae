package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rebalance.Rebalancer

/** Output checks the benchmark applies to every op. Each returns the
  * problems it found; an empty list means the op's output is correct.
  */
object Checks {

  /** Order-independent content checksum of a frame: row count, the sum of
    * each row's low 32 hash bits, and the XOR of its full 64-bit hash.
    * The sum catches duplicated or dropped rows that XOR alone would let
    * cancel; 32-bit terms keep the sum clear of BIGINT overflow below
    * 2^31 rows.
    */
  final case class Checksum(rows: Long, sum32: Long, xor64: Long)

  def checksum(df: DataFrame): Checksum = checksums(df, Seq(lit(true))).head

  /** [[checksum]] of `df.filter(p)` for each predicate, in one pass that
    * hashes only rows matching some predicate.
    */
  def checksums(df: DataFrame, preds: Seq[Column]): Seq[Checksum] = {
    val h = xxhash64(df.columns.map(col).toSeq: _*)
    val aggs = checksumAggs(preds, h)
    val r = df.filter(preds.reduce(_ || _)).agg(aggs.head, aggs.tail: _*).first()
    checksumsOf(preds.size, r.getLong)
  }

  /** Saves `df` as `table` and returns the [[checksum]] of `df.filter(p)`
    * for each predicate, computed in the write's own pass.
    */
  def saveWithChecksums(df: DataFrame, table: String, preds: Seq[Column]): Seq[Checksum] = {
    val obs = new org.apache.spark.sql.Observation()
    val aggs = checksumAggs(preds, col("__perfbench_h"))
    df.withColumn("__perfbench_h", xxhash64(df.columns.map(col).toSeq: _*))
      .observe(obs, aggs.head, aggs.tail: _*)
      .drop("__perfbench_h")
      .write.saveAsTable(table)
    val r = obs.get
    checksumsOf(preds.size, i => r(s"a$i").asInstanceOf[Long])
  }

  /** Per predicate, the count, low-32-bit sum and XOR of the row hashes `h`
    * of the rows it matches, aliased a0, a1, ... in that order.
    */
  private def checksumAggs(preds: Seq[Column], h: Column): Seq[Column] =
    preds.flatMap { p =>
      val hp = when(p, h)
      Seq(count(hp), coalesce(sum(hp.bitwiseAND(0xFFFFFFFFL)), lit(0L)),
        coalesce(bit_xor(hp), lit(0L)))
    }.zipWithIndex.map { case (c, i) => c.as(s"a$i") }

  private def checksumsOf(n: Int, value: Int => Long): Seq[Checksum] =
    (0 until n).map(i => Checksum(value(3 * i), value(3 * i + 1), value(3 * i + 2)))

  /** [[checksum]] of many tables, in one job. */
  def checksumsByTable(spark: SparkSession, tables: Seq[String]): Map[String, Checksum] = {
    val hashed = tables.map { t =>
      val df = spark.table(t)
      df.select(lit(t).as("t"), xxhash64(df.columns.map(col).toSeq: _*).as("h"))
    }.reduce(_ unionByName _)
    hashed.groupBy("t")
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)), bit_xor(col("h")))
      .collect().map(r => r.getString(0) -> Checksum(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }

  /** One output shard: the `part-NNNNN` task index in a file's name is the
    * shard its rows were written to. `misplaced` counts rows whose key does
    * not hash to this shard (meaningful for hash layouts only; Spark's
    * HashPartitioning is `pmod(hash(key), shards)`); `sum` is the
    * [[checksum]] of the shard's rows.
    */
  final case class Shard(id: Int, minKey: Long, maxKey: Long, misplaced: Long, sum: Checksum) {
    def rows: Long = sum.rows
  }

  /** [[checksum]] of a table from its shards' parts. */
  def total(shards: Seq[Shard]): Checksum =
    Checksum(shards.map(_.sum.rows).sum, shards.map(_.sum.sum32).sum,
      shards.map(_.sum.xor64).foldLeft(0L)(_ ^ _))

  /** Every shard of each table, in one scan of all of them. */
  def shards(spark: SparkSession, tables: Seq[String], key: String,
      shards: Int): Map[String, Seq[Shard]] = {
    val part = regexp_extract(col("_metadata.file_name"), "part-(\\d+)", 1).cast("int")
    val keyed = tables.map { t =>
      val df = spark.table(t)
      df.select(lit(t).as("t"), col(key).as("k"), part.as("p"),
        xxhash64(df.columns.map(col).toSeq: _*).as("h"))
    }.reduce(_ unionByName _)
    val rows = keyed.groupBy("t", "p")
      .agg(min("k"), max("k"),
        sum(when(pmod(hash(col("k")), lit(shards)) =!= col("p"), 1L).otherwise(0L)),
        count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)), bit_xor(col("h")))
      .collect().toSeq
      .map(r => r.getString(0) -> Shard(r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
        Checksum(r.getLong(5), r.getLong(6), r.getLong(7))))
    tables.map(t => t -> rows.collect { case (`t`, s) => s }.sortBy(_.id)).toMap
  }

  /** Max rows over mean rows across `shards` output shards; shards that
    * received no rows count in the mean, since they are imbalance too.
    */
  def shardSkew(rowsPerShard: Seq[Long], shards: Int): Double = {
    require(shards > 0, "shards must be positive")
    val total = rowsPerShard.sum
    if (total == 0) 1.0 else rowsPerShard.max.toDouble * shards / total
  }

  /** Problems with a rebalanced layout: too many shards, a hash row on the
    * wrong shard, overlapping range shards, or a round-robin imbalance
    * beyond one row per map task (each map task deals rows round-robin, so
    * shards differ by at most the number of tasks, here bounded by the
    * source file count).
    */
  def layoutProblems(table: String, dist: Rebalancer.Distribution, shards: Int,
      got: Seq[Shard], sourceFiles: Int): Seq[String] = {
    val tooMany = if (got.size > shards || got.exists(s => s.id < 0 || s.id >= shards))
      Seq(s"$table: ${got.size} shard files for $shards shards") else Nil
    val rule = dist match {
      case Rebalancer.ByHash(_) =>
        got.filter(_.misplaced > 0).map(s => s"$table: shard ${s.id} holds ${s.misplaced} rows of other shards")
      case Rebalancer.ByRange(_) =>
        got.sliding(2).collect {
          case Seq(a, b) if a.maxKey >= b.minKey =>
            s"$table: range shards ${a.id} and ${b.id} overlap"
        }.toSeq
      case Rebalancer.RoundRobin =>
        val counts = got.map(_.rows) ++ Seq.fill(shards - got.size)(0L)
        if (counts.max - counts.min > sourceFiles)
          Seq(s"$table: round-robin shards differ by ${counts.max - counts.min} rows")
        else Nil
    }
    tooMany ++ rule
  }

  /** Rebalance and MV swap residue left in a database. */
  def residue(names: Seq[String]): Seq[String] =
    names.filter(n => n.contains("__v") || n.endsWith("__old") ||
      n.endsWith("__mv_stage") || n.endsWith("__mv_old"))
}
