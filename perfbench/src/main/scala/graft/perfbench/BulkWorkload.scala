package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.rebalance.{RebalanceRunner, Rebalancer}

/** `rebalance_bulk`: a few large synthetic tables, each re-scattered in
  * turn through `RebalanceRunner.rebalanceTable`. Round r rebalances every
  * table once; table t uses layout (t + r) mod 3 of hash → range →
  * round-robin, so one round runs each layout once and each table cycles
  * through all three. Shard counts differ between consecutive layouts and
  * from the generated input, so every op moves every row. After each
  * rebalance a point and a seeded range lookup read the new layout.
  */
final class BulkWorkload(seed: Long) extends Workload {
  import BulkWorkload._

  private val db = "bulk"
  private val tables = Seq("bulk_a", "bulk_b", "bulk_c")
  /** Content checksum of each table, fixed by the seed. */
  private val expected = mutable.Map.empty[String, Checks.Checksum]
  /** Part files of each table's current layout. */
  private val layout = mutable.Map.empty[String, (Int, Long)]
  /** Each table's lookup batch with the answers on its generated data. */
  private val lookupBatch = mutable.Map.empty[String, Seq[(Column, Checks.Checksum)]]

  val cycle: Int = tables.size

  private def target(i: Int): (String, Rebalancer.Distribution, Int) = {
    val t = i % tables.size
    val (dist, shards) = Layouts((t + i / tables.size) % Layouts.size)
    (tables(t), dist, shards)
  }

  def opName(i: Int): String = {
    val (t, dist, shards) = target(i)
    s"$t:$dist:$shards"
  }

  def setup(spark: SparkSession): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
    val rng = new scala.util.Random(seed)
    tables.zipWithIndex.foreach { case (t, ti) =>
      val s = seed * 31 + ti
      // rank r follows a bounded power law (Zipf exponent 2/3): rank 0
      // holds ~1% of rows; hashing the rank scatters hot keys over the
      // BIGINT domain so range shards do not simply inherit rank order
      val rank = floor(pow(rand(s), 3.0) * KeyRanks).cast("long")
      val rows = spark.range(0, RowsPerTable, 1, InputShards).select(
        xxhash64(rank, lit(s)).as("k"),
        concat(lit("item-"), (col("id") * 7919 % 100003).cast("string")).as("s"),
        round(rand(s + 1) * 1000, 3).as("d"),
        array((1 to 4).map(j => col("id") * j % 997): _*).as("a"))
      // a point lookup of the hottest key, then a narrow seeded key range
      val width = Long.MaxValue / RangeFraction
      val lo = rng.nextLong(Long.MaxValue - width)
      val preds = Seq(col("k") === key(0L, s), col("k").between(lo, lo + width))
      val sums = Checks.saveWithChecksums(rows, s"$db.$t", lit(true) +: preds)
      expected(t) = sums.head
      lookupBatch(t) = preds.zip(sums.tail)
      layout(t) = Workload.tableFiles(spark, db, t)
    }
  }

  def op(spark: SparkSession, tracer: Tracer, i: Int): Long = {
    val (t, dist, shards) = target(i)
    val moved = tracer.span("rebalance")(
      RebalanceRunner.rebalanceTable(spark, db, t, dist, shards, s"$i"))
    tracer.count("rebalance.rows", moved.toDouble)
    tracer.count("rebalance.calls")
    moved
  }

  def check(spark: SparkSession, i: Int): Checked = {
    val (t, dist, shards) = target(i)
    val fq = s"$db.$t"
    val (sourceFiles, sourceBytes) = layout(t)
    val got = Checks.shards(spark, Seq(fq), "k", shards)(fq)
    val sum = Checks.total(got)
    val files = Workload.tableFiles(spark, db, t)
    layout(t) = files
    val problems =
      (if (sum != expected(t)) Seq(s"$fq: checksum $sum, expected ${expected(t)}") else Nil) ++
        Checks.layoutProblems(fq, dist, shards, got, sourceFiles) ++
        Checks.residue(graft.catalog.TableRegistry.tableNames(spark, db))
    Checked(problems, Checks.shardSkew(got.map(_.rows), shards), files._2.toDouble / sourceBytes)
  }

  def lookups(spark: SparkSession, tracer: Tracer, i: Int): Seq[LookupOut] = {
    val t = target(i)._1
    lookupBatch(t).map { case (p, want) =>
      Workload.lookup(tracer, want)(Checks.checksum(spark.table(s"$db.$t").filter(p)))
    }
  }
}

object BulkWorkload {
  /** Spark's `xxhash64(rank, seed)`, the key of a rank, computed without Spark. */
  def key(rank: Long, seed: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    XXH64.hashLong(seed, XXH64.hashLong(rank, 42L))
  }

  val RowsPerTable = 400000L
  val InputShards = 6
  val KeyRanks = 1000000L
  /** A range lookup spans 1/RangeFraction of the positive key domain. */
  val RangeFraction = 4000L
  val Layouts: Seq[(Rebalancer.Distribution, Int)] = Seq(
    Rebalancer.ByHash("k") -> 8, Rebalancer.ByRange("k") -> 12, Rebalancer.RoundRobin -> 16)
}
