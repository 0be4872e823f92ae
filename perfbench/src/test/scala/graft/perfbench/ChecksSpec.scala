package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.rebalance.Rebalancer

class ChecksSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/checks-spec-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def rows = {
    import spark.implicits._
    (1L to 1000L).map(i => (i, s"v${i % 17}", Seq(i, i * 2))).toDF("k", "s", "a")
  }

  test("checksum ignores row order and partitioning") {
    val a = Checks.checksum(rows)
    assert(a.rows == 1000)
    assert(Checks.checksum(rows.orderBy(desc("k")).repartition(7)) == a)
  }

  test("checksum changes when a value, a row or a duplicate changes") {
    val a = Checks.checksum(rows)
    assert(Checks.checksum(rows.withColumn("s", when(col("k") === 5, "x").otherwise(col("s")))) != a)
    assert(Checks.checksum(rows.filter(col("k") =!= 5)) != a)
    // swapping a row for a copy of another keeps the count, not the sum
    val swapped = rows.filter(col("k") =!= 5).union(rows.filter(col("k") === 6))
    assert(Checks.checksum(swapped).rows == a.rows)
    assert(Checks.checksum(swapped) != a)
  }

  test("per-predicate checksums match filtering first") {
    val preds = Seq(col("k") === 7, col("k").between(100, 199), lit(false))
    val got = Checks.checksums(rows, preds)
    preds.zip(got).foreach { case (p, c) => assert(c == Checks.checksum(rows.filter(p))) }
    assert(got.last == Checks.Checksum(0, 0, 0))
  }

  test("a write's observed checksums match a scan of the table") {
    spark.sql("DROP TABLE IF EXISTS observed")
    val preds = Seq(lit(true), col("k") > 900)
    val got = Checks.saveWithChecksums(rows, "observed", preds)
    assert(got == preds.map(p => Checks.checksum(spark.table("observed").filter(p))))
    spark.sql("DROP TABLE observed")
  }

  test("shards recombine to the table checksum and show hash placement") {
    spark.sql("DROP TABLE IF EXISTS hashed")
    rows.repartition(4, col("k")).write.saveAsTable("hashed")
    val shards = Checks.shards(spark, Seq("hashed"), "k", 4)("hashed")
    assert(Checks.total(shards) == Checks.checksum(rows))
    assert(shards.forall(_.misplaced == 0))
    assert(Checks.layoutProblems("hashed", Rebalancer.ByHash("k"), 4, shards, 1).isEmpty)
    // the same files read as a 3-shard hash layout are misplaced
    val as3 = Checks.shards(spark, Seq("hashed"), "k", 3)("hashed")
    assert(Checks.layoutProblems("hashed", Rebalancer.ByHash("k"), 3, as3, 1).nonEmpty)
    spark.sql("DROP TABLE hashed")
  }

  test("range shards must not overlap") {
    def shard(id: Int, lo: Long, hi: Long) = Checks.Shard(id, lo, hi, 0, Checks.Checksum(10, 0, 0))
    val ok = Seq(shard(0, 1, 5), shard(1, 6, 9))
    val overlap = Seq(shard(0, 1, 6), shard(1, 6, 9))
    assert(Checks.layoutProblems("t", Rebalancer.ByRange("k"), 2, ok, 1).isEmpty)
    assert(Checks.layoutProblems("t", Rebalancer.ByRange("k"), 2, overlap, 1).nonEmpty)
  }

  test("round-robin shards may differ by one row per source file") {
    def shard(id: Int, n: Long) = Checks.Shard(id, 0, 0, 0, Checks.Checksum(n, 0, 0))
    val near = Seq(shard(0, 10), shard(1, 12))
    assert(Checks.layoutProblems("t", Rebalancer.RoundRobin, 2, near, 2).isEmpty)
    assert(Checks.layoutProblems("t", Rebalancer.RoundRobin, 2, near, 1).nonEmpty)
    // an empty shard counts as a zero-row shard
    assert(Checks.layoutProblems("t", Rebalancer.RoundRobin, 3, near, 2).nonEmpty)
  }

  test("shard skew is max rows over mean rows, empty shards included") {
    assert(Checks.shardSkew(Seq(10L, 10L, 10L, 10L), 4) == 1.0)
    assert(Checks.shardSkew(Seq(30L, 10L), 4) == 3.0)
    assert(Checks.shardSkew(Nil, 4) == 1.0)
    intercept[IllegalArgumentException](Checks.shardSkew(Seq(1L), 0))
  }

  test("residue names the rebalance and MV swap leftovers only") {
    val names = Seq("t", "t__v3", "t__old", "agg_mv", "agg_mv__mv_stage", "agg_mv__mv_old", "vat")
    assert(Checks.residue(names) == Seq("t__v3", "t__old", "agg_mv__mv_stage", "agg_mv__mv_old"))
  }

  test("the key of a rank computed without Spark matches xxhash64") {
    Seq((0L, 31L), (7L, 12345L), (999999L, 0L)).foreach { case (rank, seed) =>
      val hashed = spark.range(1).select(xxhash64(lit(rank), lit(seed))).first().getLong(0)
      assert(BulkWorkload.key(rank, seed) == hashed)
    }
  }
}
