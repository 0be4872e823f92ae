package graft.rebalance

import org.apache.spark.sql.SparkSession

import graft.catalog.TableRegistry

/** Executes the rebalance workflow against Spark catalog tables.
  *
  * In Spark the reference's local/distributed table split collapses
  * (SURVEY.md §1.2): per-shard `_local` tables become partitions of one
  * catalog table, and the distributed façade is the table itself. The
  * workflow therefore reduces to one [[ShadowSwap]] per table (reference
  * `sharding_recreation.py:306-342`): the stage `table__v{n}` is written
  * redistributed (one shuffle — the O18 data move, reference
  * `sharding_recreation.py:159-160`), then renamed in place of `table`
  * with `table__old` as the interim name (reference O16/O17/O19).
  *
  * The canonical name always fronts either complete-old or complete-new
  * data — fixing the reference's non-atomic INSERT window — and a rerun
  * after a crash at any step finishes the swap. At 100 TB the only data
  * movement is the shuffle; AQE handles skewed shard keys.
  */
object RebalanceRunner {

  /** Rebalance one catalog table in place; returns the row count moved.
    * A table stranded by a crashed swap (canonical name vacant, stage or
    * old copy present) is recovered first, then rebalanced like any other.
    */
  def rebalanceTable(
      spark: SparkSession,
      db: String,
      table: String,
      dist: Rebalancer.Distribution,
      shards: Int,
      version: String): Long = {
    val fq = s"$db.$table"
    val ns = ShadowSwap.catalog(spark)
    val n = ShadowSwap.versioned(fq, version)
    require(Seq(n.target, n.stage, n.old).exists(ns.exists), s"no such table: $fq")
    ShadowSwap.swap(ns, n)(stage =>
      Rebalancer.written(spark.table(fq), dist, shards)(_.saveAsTable(stage)))
  }

  /** O20 destructive rollback (reference `sharding_recreation.py:27-41`,
    * reachable there only via the commented-out call at line 342): drop
    * every versioned shadow `t__v{version}` in `db`, abandoning an
    * in-flight rebalance. Two guards the reference lacks:
    *
    *   - refuses to run at all unless `force = true` (matching the
    *     reference's decision to leave the call commented out — the drop
    *     is irreversible);
    *   - never drops a shadow whose canonical base table is vacant: after
    *     a crash between the two promotion renames the shadow is the ONLY
    *     complete copy, and [[rebalanceTable]] promotes it instead.
    *
    * Returns the table names actually dropped.
    */
  def dropVersioned(
      spark: SparkSession,
      db: String,
      version: String,
      force: Boolean = false): Seq[String] = {
    require(force,
      s"dropVersioned discards every $db.*__v$version shadow irreversibly; " +
        "pass force=true to confirm")
    val victims = TableRegistry.tableNames(spark, db)
      .filter(_.endsWith(s"__v$version"))
    val droppable = victims.filter(n =>
      spark.catalog.tableExists(s"$db.${n.stripSuffix(s"__v$version")}"))
    droppable.foreach(n => ShadowSwap.catalog(spark).drop(s"$db.$n"))
    droppable
  }

  /** A materialized view of the database: `name` is the MV's catalog table,
    * `sql` its definition over canonical table names — re-runnable at any
    * time to rebuild the view.
    */
  final case class MvDef(name: String, sql: String)

  /** The tables a whole-database pass under `version` rebalances, from
    * one catalog listing `names`: every canonical table (neither swap
    * residue nor an MV), plus every vacant table whose swap left its stage
    * `X__v<version>` or its old copy `X__old` behind — without these a
    * crash between the two renames makes `X` vanish from every later pass.
    * A stage of another version (`X__v72` on a version-7 pass) is left
    * alone: it is not this pass's to promote.
    */
  def targets(names: Seq[String], mvNames: Set[String], version: String): Seq[String] = {
    val canonical = names.filterNot(n => ShadowSwap.isResidue(n) || mvNames(n))
    val vacant = names.flatMap(ShadowSwap.versionedBase(_, version))
      .filterNot(b => names.contains(b) || mvNames(b) || ShadowSwap.isResidue(b))
    (canonical ++ vacant).distinct.sorted
  }

  /** Rebalance every data table in a database (the reference's whole-db
    * workflow): one [[rebalanceTable]] per [[targets]] entry, returning
    * table → rows moved.
    *
    * `recreateMvs` goes one step beyond the reference, whose MV handling is
    * an explicit TODO (reference `sharding_recreation.py:258-266,337` —
    * views are neither moved nor recreated): with `recreateMvs = true`,
    * after every base-table swap completes each `MvDef` is re-evaluated
    * against the new canonical tables and swapped into place
    * ([[graft.streaming.MaterializedView.refresh]]), so MVs are consistent
    * with the rebalanced data. MV tables themselves are excluded from the
    * data-table pass — they are derived state, rebuilt rather than moved.
    */
  def rebalanceDatabase(
      spark: SparkSession,
      db: String,
      dist: String => Rebalancer.Distribution,
      shards: Int,
      version: String,
      mvs: Seq[MvDef] = Nil,
      recreateMvs: Boolean = false): Map[String, Long] = {
    val moved = targets(TableRegistry.tableNames(spark, db), mvs.map(_.name).toSet, version)
      .map(t => t -> rebalanceTable(spark, db, t, dist(t), shards, version))
      .toMap
    if (recreateMvs) mvs.foreach { mv =>
      graft.streaming.MaterializedView.refresh(spark.sql(mv.sql), s"$db.${mv.name}")
    }
    moved
  }
}
