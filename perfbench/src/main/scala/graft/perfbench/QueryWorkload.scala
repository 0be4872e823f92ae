package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** `query_mix`: the read path users run after data lands. A fixed list of
  * registered `SparkEntry.queries`, at least one per ops family, runs over
  * the fixture tables in `sfDir` round after round, each round in its own
  * seed-shuffled order. One op is one query: building its frame
  * (`fn(spark, sfDir)`) and counting it, timed apart as `ops.build` and
  * `ops.exec`. Warm-up is one round; a measured cycle is two, so each
  * query weighs twice in a run's median and tail. Nothing here touches
  * `rebalance`.
  *
  * Every count of a query must equal its first in the run. At the end,
  * untimed, each query's full result goes to `<out>/results/<query>` next
  * to its oracle SQL in `<out>/oracle_sql.json`; `run.py` compares the two
  * in DuckDB, and each op's count with the result's rows, after the JVM
  * exits. After each op a seeded point lookup reads the fixture tables.
  */
final class QueryWorkload(seed: Long, sfDir: String, out: String) extends Workload {
  import QueryWorkload._

  private val fns = Queries.map(q => q -> SparkEntry.queries.getOrElse(q,
    throw new IllegalArgumentException(s"query_mix: $q is not a registered query"))).toMap
  private val oracles = Queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q,
    throw new IllegalArgumentException(s"query_mix: $q has no oracle SQL"))).toMap
  /** Row count of each query's first count in the run. */
  private val rowsOf = mutable.Map.empty[String, Long]
  private var lastRows = 0L
  private var lookupBatch: Seq[(String, Column, Checks.Checksum)] = Nil

  val cycle: Int = 2 * Queries.size
  override def warmUpOps: Int = Queries.size

  /** Round r's order: the list shuffled by a generator seeded from the
    * seed and r, so every round runs every query once.
    */
  private def query(i: Int): String =
    new scala.util.Random(seed * 7919 + i / Queries.size).shuffle(Queries).apply(i % Queries.size)

  def opName(i: Int): String = query(i)

  def setup(spark: SparkSession): Unit = {
    // one point lookup per key table: the key of the row with the smallest
    // seeded hash, so the seed picks the row
    lookupBatch = LookupKeys.map { case (t, k) =>
      val df = Tables.load(spark, sfDir, t)
      val key = df.agg(min_by(col(k), xxhash64(col(k), lit(seed)))).first().get(0)
      val p = col(k) === lit(key)
      (t, p, Checks.checksums(df, Seq(p)).head)
    }
    val oracleJson = Json.obj(Queries.map(q => q -> Json.str(oracles(q))))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$out/results"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), oracleJson)
  }

  def op(spark: SparkSession, tracer: Tracer, i: Int): Long = {
    val df: DataFrame = tracer.span("ops.build")(fns(query(i))(spark, sfDir))
    lastRows = tracer.span("ops.exec")(df.count())
    lastRows
  }

  def check(spark: SparkSession, i: Int): Checked = {
    val q = query(i)
    // release the query's persist()s before anything else runs
    spark.catalog.clearCache()
    val first = rowsOf.getOrElseUpdate(q, lastRows)
    Checked(
      (if (lastRows != first) Seq(s"$q: counted $lastRows rows, first count was $first") else Nil) ++
        (if (lastRows == 0) Seq(s"$q: empty result") else Nil))
  }

  def lookups(spark: SparkSession, tracer: Tracer, i: Int): Seq[LookupOut] =
    lookupBatch.map { case (t, p, want) =>
      Workload.lookup(tracer, want)(Checks.checksum(Tables.load(spark, sfDir, t).filter(p)))
    }

  override def finish(spark: SparkSession): Unit = Queries.foreach { q =>
    fns(q)(spark, sfDir).coalesce(1).write.parquet(s"$out/results/$q")
    spark.catalog.clearCache()
  }
}

object QueryWorkload {
  /** One query per ops family, all with oracle SQL: relational and TPC-H,
    * dedup, vectors/ANN, text and retrieval, graph, streaming, stats. Their
    * latencies are spread out, so the median op is the same query from run
    * to run rather than whichever of several close ones came out fastest.
    */
  val Queries: Seq[String] = Seq(
    "q103_tpch_q3", "q24_dedup_exact", "q47_ann_ivf", "q20_token_counts",
    "q264_feature_propagation", "q33_sliding_windows", "q44_moments")

  /** (table, key column) of each point lookup. */
  val LookupKeys: Seq[(String, String)] = Seq("orders" -> "o_orderkey")
}
