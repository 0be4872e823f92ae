package graft.rebalance

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.catalog.TableRegistry

class RebalanceRunnerSpec extends AnyFunSuite with SparkSpec {

  test("catalog table rebalance: shadow-swap ends with canonical name only") {
    import spark.implicits._
    freshDatabase("graft_rr")
    (1L to 5000L).map(i => (i, (i % 7).toString)).toDF("k", "tag")
      .write.mode("overwrite").saveAsTable("graft_rr.sales")

    val before = spark.table("graft_rr.sales").count()
    val moved = RebalanceRunner.rebalanceTable(
      spark, "graft_rr", "sales", Rebalancer.ByHash("k"), 8, "1")

    assert(moved == before)
    assert(spark.table("graft_rr.sales").count() == before)
    val names = TableRegistry.tableNames(spark, "graft_rr")
    assert(names.contains("sales"))
    assert(!names.exists(_.contains("__old")), s"leftover old table: $names")
    assert(!names.exists(_.contains("__v")), s"leftover shadow table: $names")
    // multiset preserved
    val sums = spark.sql("SELECT sum(k), count(*) FROM graft_rr.sales").first()
    assert(sums.getLong(0) == (1L to 5000L).sum && sums.getLong(1) == 5000)
  }

  test("whole-database rebalance covers every data table") {
    import spark.implicits._
    freshDatabase("graft_db2")
    Seq("t1", "t2").foreach { t =>
      (1L to 100L).map(i => (i, i * 2)).toDF("k", "v")
        .write.mode("overwrite").saveAsTable(s"graft_db2.$t")
    }
    val moved = RebalanceRunner.rebalanceDatabase(
      spark, "graft_db2", _ => Rebalancer.ByHash("k"), 4, "9")
    assert(moved == Map("t1" -> 100L, "t2" -> 100L))
  }

  test("MV swap residue is neither rebalanced nor retained as canonical") {
    import spark.implicits._
    freshDatabase("graft_res")
    (1L to 50L).map(i => (i, i)).toDF("k", "v")
      .write.saveAsTable("graft_res.t")
    // residue of a crashed MaterializedView swap: without the explicit
    // suffix exclusion these classify as canonical base tables and get
    // rebalanced (and thereby retained) by every whole-db run
    Seq((1, 2L)).toDF("k", "n").write.saveAsTable("graft_res.agg__mv_stage")
    Seq((1, 1L)).toDF("k", "n").write.saveAsTable("graft_res.agg__mv_old")
    val moved = RebalanceRunner.rebalanceDatabase(
      spark, "graft_res", _ => Rebalancer.ByHash("k"), 4, "7")
    assert(moved == Map("t" -> 50L), s"moved: $moved")
    // and no __v7 shadows were created for the residue tables
    val names = TableRegistry.tableNames(spark, "graft_res")
    assert(!names.exists(n => n.contains("__mv_") && n.contains("__v7")), names)
  }

  test("recovers a crash between the two renames (shadow present, canonical vacant)") {
    import spark.implicits._
    freshDatabase("graft_rec")
    (1L to 300L).map(i => (i, i * 3)).toDF("k", "v")
      .write.saveAsTable("graft_rec.t")
    // simulate the crash window: shadow written, canonical renamed away
    spark.table("graft_rec.t").repartition(4, $"k")
      .write.saveAsTable("graft_rec.t__v5")
    spark.sql("ALTER TABLE graft_rec.t RENAME TO graft_rec.t__old")
    // re-running the rebalance completes the promotion instead of failing
    val moved = RebalanceRunner.rebalanceTable(
      spark, "graft_rec", "t", Rebalancer.ByHash("k"), 4, "5")
    assert(moved == 300)
    val names = TableRegistry.tableNames(spark, "graft_rec")
    assert(names == Seq("t"), s"expected only canonical name, got $names")
  }

  test("missing table is rejected before any step runs") {
    intercept[IllegalArgumentException] {
      RebalanceRunner.rebalanceTable(spark, "graft_rr", "nope", Rebalancer.RoundRobin, 2, "1")
    }
  }

  test("O20 dropVersioned: refuses without force, drops only safe shadows with it") {
    import spark.implicits._
    freshDatabase("graft_o20")
    // normal in-flight rebalance: canonical + shadow both present
    (1L to 40L).map(i => (i, i)).toDF("k", "v")
      .write.saveAsTable("graft_o20.t1")
    (1L to 40L).map(i => (i, i)).toDF("k", "v")
      .write.saveAsTable("graft_o20.t1__v3")
    // crash window: shadow is the ONLY copy (canonical vacant) — must survive
    (1L to 60L).map(i => (i, i)).toDF("k", "v")
      .write.saveAsTable("graft_o20.stranded__v3")
    // different version: out of scope for this rollback
    (1L to 10L).map(i => (i, i)).toDF("k", "v")
      .write.saveAsTable("graft_o20.t1__v9")

    // destructive path is flag-gated (reference leaves the call commented out)
    intercept[IllegalArgumentException] {
      RebalanceRunner.dropVersioned(spark, "graft_o20", "3")
    }
    assert(TableRegistry.tableNames(spark, "graft_o20").size == 4)

    val dropped = RebalanceRunner.dropVersioned(spark, "graft_o20", "3", force = true)
    assert(dropped == Seq("t1__v3"), dropped)
    val names = TableRegistry.tableNames(spark, "graft_o20").sorted
    assert(names == Seq("stranded__v3", "t1", "t1__v9"), names)
  }

  test("whole-db rebalance with recreateMvs rebuilds MVs against the swapped tables") {
    import spark.implicits._
    freshDatabase("graft_mv")
    (1L to 200L).map(i => (i, (i % 5), i * 2)).toDF("k", "grp", "v")
      .write.saveAsTable("graft_mv.facts")
    val mvSql = "SELECT grp, count(*) AS n, sum(v) AS total " +
      "FROM graft_mv.facts GROUP BY grp"
    // MV exists before the rebalance (stale contents to prove it's rebuilt)
    spark.sql(mvSql).limit(1).write.saveAsTable("graft_mv.mv_by_grp")
    assert(spark.table("graft_mv.mv_by_grp").count() == 1)

    val moved = RebalanceRunner.rebalanceDatabase(
      spark, "graft_mv", _ => Rebalancer.ByHash("k"), 4, "2",
      mvs = Seq(RebalanceRunner.MvDef("mv_by_grp", mvSql)), recreateMvs = true)

    // the MV table was NOT rebalanced as a data table — it was rebuilt
    assert(moved == Map("facts" -> 200L), moved)
    val got = spark.table("graft_mv.mv_by_grp").orderBy("grp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = (0L to 4L).map(g =>
      (g, 40L, (1L to 200L).filter(_ % 5 == g).map(_ * 2).sum))
    assert(got == want, s"MV must reflect post-rebalance base data: $got")
    // no stage/old residue from the MV swap
    val names = TableRegistry.tableNames(spark, "graft_mv").sorted
    assert(names == Seq("facts", "mv_by_grp"), names)
  }

  test("whole-db run recovers tables stranded in the crash window (orphaned shadow)") {
    import spark.implicits._
    freshDatabase("graft_orph")
    (1L to 50L).map(i => (i, i + 1)).toDF("k", "v")
      .write.saveAsTable("graft_orph.ok")
    // stranded table: only its __v7 shadow exists, canonical name vacant —
    // invisible to a listing that filters out shadow names
    (1L to 80L).map(i => (i, i * 5)).toDF("k", "v")
      .write.saveAsTable("graft_orph.stranded__v7")
    // residue from a DIFFERENT version whose string merely starts with "7":
    // a contains()-based match would collect "other" as orphaned, then fail
    // the whole-db pass when its __v7 shadow turns out not to exist
    (1L to 9L).map(i => (i, i)).toDF("k", "v")
      .write.saveAsTable("graft_orph.other__v72")
    val moved = RebalanceRunner.rebalanceDatabase(
      spark, "graft_orph", _ => Rebalancer.ByHash("k"), 4, "7")
    assert(moved == Map("ok" -> 50L, "stranded" -> 80L), moved)
    val names = TableRegistry.tableNames(spark, "graft_orph").sorted
    assert(names == Seq("ok", "other__v72", "stranded"),
      s"expected recovered canonicals + untouched foreign residue, got $names")
  }

  test("whole-db run under a new version restores a table stranded by an older one") {
    import spark.implicits._
    freshDatabase("graft_xver")
    (1L to 10L).map(i => (i, i)).toDF("k", "v").write.saveAsTable("graft_xver.u")
    (1L to 30L).map(i => (i, i * 7)).toDF("k", "v").write.saveAsTable("graft_xver.t")
    // crash between the two renames of a version-1 rebalance of t
    spark.table("graft_xver.t").repartition(4, $"k").write.saveAsTable("graft_xver.t__v1")
    spark.sql("ALTER TABLE graft_xver.t RENAME TO graft_xver.t__old")
    val moved = RebalanceRunner.rebalanceDatabase(
      spark, "graft_xver", _ => Rebalancer.ByHash("k"), 4, "2")
    assert(moved == Map("t" -> 30L, "u" -> 10L), moved)
    val sums = spark.sql("SELECT sum(k), sum(v) FROM graft_xver.t").first()
    assert(sums.getLong(0) == (1L to 30L).sum && sums.getLong(1) == (1L to 30L).map(_ * 7).sum)
    // the version-1 stage is not this pass's to promote; its own rollback
    // drops it now that t is back
    assert(TableRegistry.tableNames(spark, "graft_xver") == Seq("t", "t__v1", "u"))
    assert(RebalanceRunner.dropVersioned(spark, "graft_xver", "1", force = true) == Seq("t__v1"))
    assert(TableRegistry.tableNames(spark, "graft_xver") == Seq("t", "u"))
  }

  test("snapshot normalizes SHOW CREATE TABLE's backtick quoting so the " +
    "rewriter pipeline matches") {
    import spark.implicits._
    freshDatabase("graft_snap")
    // the dashed column name is the reason normalization must stay NARROW:
    // only dotted table-name forms unquote; a column whose name NEEDS
    // quoting keeps its backticks or the shadow DDL would be unparseable
    (1L to 5L).map(i => (i, i)).toDF("k", "a-b")
      .write.saveAsTable("graft_snap.t_local")
    val snap = TableRegistry.snapshot(spark, "graft_snap")
    assert(snap.nonEmpty)
    val ddl = snap.head.ddl
    assert(!ddl.contains("`graft_snap`"), s"table name must unquote: $ddl")
    assert(!ddl.contains("`t_local`"), s"table name must unquote: $ddl")
    assert(ddl.contains("graft_snap.t_local"), ddl)
    assert(ddl.contains("`a-b`"),
      s"quoting-required column must KEEP its backticks: $ddl")
    // the normalized form is rewritable by the version pipeline
    val shadow = graft.ddl.DdlRewriter
      .versionSuffix(ddl, "graft_snap", "t_local", "__v9")
    assert(shadow.contains("graft_snap.t_local__v9"), shadow)
  }
}
