package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** What an op's untimed check found: the problems (none when the output is
  * correct) and the output's layout. Workloads that write no table report
  * the neutral layout: skew and write amplification 1.
  */
final case class Checked(
    problems: Seq[String],
    shardSkew: Double = 1.0,
    writeAmp: Double = 1.0)

/** One timed lookup: latency, rows it matched, and whether its answer was
  * right.
  */
final case class LookupOut(seconds: Double, rows: Long, ok: Boolean)

/** A benchmark workload. The harness times `op` alone; `check` and the
  * lookups run between ops, outside the op's time.
  */
trait Workload {
  /** Generates the inputs from the seed; counted in set-up time. */
  def setup(spark: SparkSession): Unit
  /** Ops per full cycle; a measured phase ends only on a cycle boundary,
    * so every run weighs the cycle's op kinds the same.
    */
  def cycle: Int
  /** Ops, without their lookups, that warm up the code paths before
    * measuring; counted in set-up time.
    */
  def warmUpOps: Int = cycle
  /** Short label of op `i` for the samples file. */
  def opName(i: Int): String
  /** Runs op `i`; returns the rows it moved. */
  def op(spark: SparkSession, tracer: Tracer, i: Int): Long
  /** Checks op `i`'s output. */
  def check(spark: SparkSession, i: Int): Checked
  def lookups(spark: SparkSession, tracer: Tracer, i: Int): Seq[LookupOut]
  /** Leaves outputs for checks made after the JVM exits; runs untimed
    * after the last phase.
    */
  def finish(spark: SparkSession): Unit = ()
}

object Workload {
  /** `sfDir` is the fixture directory `query_mix` reads; `out` is where a
    * workload leaves outputs for checks made after the JVM exits.
    */
  def apply(name: String, seed: Long, sfDir: Option[String], out: String): Workload = name match {
    case "rebalance_bulk"    => new BulkWorkload(seed)
    case "rebalance_catalog" => new CatalogWorkload(seed)
    case "query_mix" => new QueryWorkload(seed,
      sfDir.getOrElse(throw new IllegalArgumentException("query_mix needs --sf-dir")), out)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Times `body` in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Part files of a managed table in the session's warehouse:
    * (count, total bytes).
    */
  def tableFiles(spark: SparkSession, db: String, table: String): (Int, Long) = {
    val path = new Path(s"${spark.conf.get("spark.sql.warehouse.dir")}/$db.db/$table")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(path).filter(_.getPath.getName.startsWith("part-"))
    (parts.length, parts.map(_.getLen).sum)
  }

  /** Runs one lookup: `expected` is its answer on the source data. */
  def lookup(tracer: Tracer, expected: Checks.Checksum)(
      run: => Checks.Checksum): LookupOut = {
    val (got, s) = timed(scala.util.Try(tracer.span("lookup")(run)))
    got.foreach(g => tracer.count("lookup.rows", g.rows.toDouble))
    LookupOut(s, got.map(_.rows).getOrElse(0L), got.toOption.contains(expected))
  }
}
