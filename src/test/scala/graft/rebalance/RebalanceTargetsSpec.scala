package graft.rebalance

import org.scalatest.funsuite.AnyFunSuite

import RebalanceRunner.targets

/** The whole-database table selection over a catalog listing: pure, no
  * Spark session.
  */
class RebalanceTargetsSpec extends AnyFunSuite {

  test("MV swap residue is not a target") {
    assert(targets(Seq("agg__mv_old", "agg__mv_stage", "t"), Set.empty, "7") == Seq("t"))
  }

  test("a present table's own residue adds nothing") {
    assert(targets(Seq("t", "t__old", "t__v7"), Set.empty, "7") == Seq("t"))
  }

  test("an orphaned stage of this version surfaces its vacant table") {
    assert(targets(Seq("ok", "stranded__v7"), Set.empty, "7") == Seq("ok", "stranded"))
  }

  test("a stage of another version is left alone (__v72 on a version-7 pass)") {
    assert(targets(Seq("ok", "other__v72"), Set.empty, "7") == Seq("ok"))
  }

  test("a vacant table whose old copy survives is a target under any version") {
    // the crash between the renames of a version-1 swap, seen by a version-2 pass
    assert(targets(Seq("t__old", "t__v1", "u"), Set.empty, "2") == Seq("t", "u"))
  }

  test("MV names are excluded, present or vacant") {
    val mvs = Set("mv_by_grp", "gone")
    assert(targets(Seq("facts", "gone__old", "gone__v3", "mv_by_grp"), mvs, "3") == Seq("facts"))
  }
}
