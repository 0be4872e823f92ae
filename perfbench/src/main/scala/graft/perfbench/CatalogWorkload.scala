package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.TableRegistry
import graft.rebalance.{RebalancePlan, RebalanceRunner, Rebalancer}
import graft.rebalance.RebalanceRunner.MvDef

/** `rebalance_catalog`: a database of many tiny tables named by the
  * reference's conventions (`X_local`, distributed `X`, and `X_mv` views
  * over some locals). One op is one whole-database pass: catalog snapshot,
  * plan, then `rebalanceDatabase` with MV recreation. Each table's layout
  * turns hash → range → round-robin from pass to pass, so a pass moves
  * every row, and every pass mixes the three layouts in the same shares.
  * Data is tiny: per-table fixed cost (catalog calls, DDL, renames, job
  * scheduling, MV swaps) is what this workload measures.
  */
final class CatalogWorkload(seed: Long) extends Workload {
  import CatalogWorkload._

  private val db = "cat"
  private val bases = (0 until Bases).map(b => f"t$b%03d")
  private val dataTables = bases.flatMap(b => Seq(s"${b}_local", b))
  private val mvs = bases.take(Views).map(b =>
    MvDef(s"${b}_mv", s"SELECT tag, count(*) AS n, sum(v) AS s FROM $db.${b}_local GROUP BY tag"))
  private val expected = mutable.Map.empty[String, Checks.Checksum]
  private val files = mutable.Map.empty[String, (Int, Long)]
  private var lookupBatch: Seq[(String, Column, Checks.Checksum)] = Nil
  private var lastPlan: Seq[RebalancePlan.Step] = Nil

  val cycle: Int = 1

  private def dist(i: Int)(table: String): Rebalancer.Distribution =
    BulkWorkload.Layouts((math.abs(table.hashCode % 3) + i) % 3)._1

  def opName(i: Int): String = s"pass$i"

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
    val rng = new scala.util.Random(seed)
    lookupBatch = Nil
    // lookups: a point read of one existing key in each of a few tables
    val looked = rng.shuffle(dataTables).take(Lookups)
    bases.foreach { b =>
      val rows = (0 until Rows)
        .map(_ => (rng.nextLong(), rng.nextLong(1000000L), s"g${rng.nextInt(5)}"))
      val data = rows.toDF("k", "v", "tag").repartition(Shards)
      // the distributed table fronts the same rows as its local
      Seq(s"${b}_local", b).foreach { t =>
        val preds = if (looked.contains(t)) Seq(col("k") === rows(rng.nextInt(rows.size))._1) else Nil
        val sums = Checks.saveWithChecksums(data, s"$db.$t", lit(true) +: preds)
        expected(t) = sums.head
        lookupBatch ++= preds.zip(sums.tail).map { case (p, c) => (s"$db.$t", p, c) }
      }
    }
    mvs.foreach(mv => graft.streaming.MaterializedView.refresh(spark.sql(mv.sql), s"$db.${mv.name}"))
    val views = Checks.checksumsByTable(spark, mvs.map(mv => s"$db.${mv.name}"))
    mvs.foreach(mv => expected(mv.name) = views(s"$db.${mv.name}"))
    (dataTables ++ mvs.map(_.name)).foreach(t => files(t) = Workload.tableFiles(spark, db, t))
  }

  def op(spark: SparkSession, tracer: Tracer, i: Int): Long = {
    val snapshot = tracer.span("catalog")(TableRegistry.snapshot(spark, db))
    lastPlan = tracer.span("plan")(RebalancePlan.plan(db, snapshot, s"_v$i", dist(i), Shards))
    tracer.count("plan.steps", lastPlan.size.toDouble)
    val moved = tracer.span("rebalance")(RebalanceRunner.rebalanceDatabase(
      spark, db, dist(i), Shards, s"$i", mvs, recreateMvs = true))
    tracer.count("rebalance.rows", moved.values.sum.toDouble)
    tracer.count("rebalance.calls", moved.size.toDouble)
    moved.values.sum
  }

  def check(spark: SparkSession, i: Int): Checked = {
    val all = dataTables ++ mvs.map(_.name)
    val data = Checks.shards(spark, dataTables.map(t => s"$db.$t"), "k", Shards)
    val views = Checks.checksumsByTable(spark, mvs.map(mv => s"$db.${mv.name}"))
    val sums = dataTables.map(t => t -> Checks.total(data(s"$db.$t"))) ++
      mvs.map(mv => mv.name -> views(s"$db.${mv.name}"))
    val wrong = sums.collect { case (t, sum) if sum != expected(t) => s"$db.$t: content changed" }
    val layout = dataTables.flatMap(t =>
      Checks.layoutProblems(s"$db.$t", dist(i)(t), Shards, data(s"$db.$t"), files(t)._1))
    val before = all.map(files(_)._2).sum
    all.foreach(t => files(t) = Workload.tableFiles(spark, db, t))
    val redistributes = lastPlan.count(_.isInstanceOf[RebalancePlan.Redistribute])
    val planned = if (redistributes == Bases) Nil
      else Seq(s"plan has $redistributes redistribute steps for $Bases distributed tables")
    val skews = dataTables.map(t => Checks.shardSkew(data(s"$db.$t").map(_.rows), Shards))
    Checked(wrong ++ layout ++ planned ++ Checks.residue(TableRegistry.tableNames(spark, db)),
      skews.sum / skews.size, all.map(files(_)._2).sum.toDouble / before)
  }

  def lookups(spark: SparkSession, tracer: Tracer, i: Int): Seq[LookupOut] =
    lookupBatch.map { case (t, p, want) =>
      Workload.lookup(tracer, want)(Checks.checksum(spark.table(t).filter(p)))
    }
}

object CatalogWorkload {
  /** Base names; each has an `X_local` and a distributed `X` table. */
  val Bases = 3
  /** Bases that also have an `X_mv` view over their local. */
  val Views = 2
  val Rows = 256
  val Shards = 4
  val Lookups = 2
}
