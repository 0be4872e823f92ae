package graft.rebalance

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The shadow swap (reference O14–O19, `sharding_recreation.py:159-160,
  * 194-249`), written once for table rebalance, MV refresh/upsert and the
  * path-level [[Rebalancer.redistribute]]. [[swap]] runs, over a
  * [[Namespace]]:
  *
  *   1. recover: if the target is vacant, promote the stage if present,
  *      else restore `old` if present;
  *   2. drop `old`; 3. write the stage; 4. rename target → `old` (if the
  *      target exists); 5. rename stage → target; 6. drop `old`.
  *
  * The target fronts complete-old or complete-new data, vacant only
  * between 4 and 5; a rerun after a crash at any step ends with complete
  * data under the target and no residue.
  */
object ShadowSwap {

  /** Where a swap's names live: catalog tables or filesystem paths. */
  trait Namespace {
    def exists(name: String): Boolean
    def rename(from: String, to: String): Unit
    /** Removes `name` if present. */
    def drop(name: String): Unit
  }

  final case class Names(target: String, stage: String, old: String)

  /** Catalog-table rebalance residue: `t__v<version>`, `t__old`. */
  def versioned(target: String, version: String): Names =
    Names(target, s"${target}__v$version", s"${target}__old")

  /** MV refresh/upsert residue: `t__mv_stage`, `t__mv_old`. */
  def mv(target: String): Names = Names(target, s"${target}__mv_stage", s"${target}__mv_old")

  /** Path-level redistribute residue: `p.__staging__`, `p.__old__`. */
  def path(target: String): Names = Names(target, s"$target.__staging__", s"$target.__old__")

  /** Whether a catalog table name is a swap's stage or old copy. */
  def isResidue(name: String): Boolean =
    name.contains("__v") || name.endsWith("__old") ||
      name.endsWith("__mv_stage") || name.endsWith("__mv_old")

  /** The table whose `version` swap left `name` behind as stage or old. */
  def versionedBase(name: String, version: String): Option[String] =
    Seq(s"__v$version", "__old").find(name.endsWith).map(name.stripSuffix)

  /** Step 1 alone; a no-op when the target exists. */
  def recover(ns: Namespace, n: Names): Unit =
    if (!ns.exists(n.target)) {
      if (ns.exists(n.stage)) ns.rename(n.stage, n.target)
      else if (ns.exists(n.old)) ns.rename(n.old, n.target)
    }

  /** Replace the target with what `write` puts under the stage name, and
    * return what `write` returns; `write` may read the recovered target.
    */
  def swap[A](ns: Namespace, n: Names)(write: String => A): A = {
    recover(ns, n)
    ns.drop(n.old)
    val out = write(n.stage)
    if (ns.exists(n.target)) ns.rename(n.target, n.old)
    ns.rename(n.stage, n.target)
    ns.drop(n.old)
    out
  }

  /** Spark catalog tables. A rename refreshes the new name's cached file
    * listing here and in the default session: `foreachBatch` runs on a
    * cloned session, and a reader holding the pre-swap listing would hit
    * the dropped old files.
    */
  def catalog(spark: SparkSession): Namespace = new Namespace {
    def exists(name: String): Boolean = spark.catalog.tableExists(name)
    def rename(from: String, to: String): Unit = {
      spark.sql(s"ALTER TABLE $from RENAME TO $to")
      val default = org.apache.spark.sql.classic.SparkSession.getDefaultSession
      (spark +: default.filter(_ ne spark).toSeq).foreach(_.catalog.refreshTable(to))
    }
    def drop(name: String): Unit = spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  /** Hadoop filesystem paths; renames are metadata-only on HDFS-like stores. */
  def paths(spark: SparkSession): Namespace = new Namespace {
    private val conf = spark.sessionState.newHadoopConf()
    private def fs(p: Path) = p.getFileSystem(conf)
    def exists(name: String): Boolean = { val p = new Path(name); fs(p).exists(p) }
    def rename(from: String, to: String): Unit = {
      val p = new Path(from)
      if (!fs(p).rename(p, new Path(to)))
        throw new java.io.IOException(s"rename $from -> $to failed")
    }
    def drop(name: String): Unit = { val p = new Path(name); fs(p).delete(p, true) }
  }

  /** Names in memory, logging each step: replaying a swap over one shows
    * what it would run without touching anything.
    */
  final class Dry(present: Iterable[String]) extends Namespace {
    private val names = mutable.Set.from(present)
    val steps = mutable.Buffer.empty[String]
    def exists(name: String): Boolean = names(name)
    def rename(from: String, to: String): Unit = {
      names -= from; names += to; steps += s"RENAME $from -> $to"
    }
    def drop(name: String): Unit = { names -= name; steps += s"DROP   $name" }
    def write(name: String, what: String): Unit = { names += name; steps += s"WRITE  $name <- $what" }
  }
}
