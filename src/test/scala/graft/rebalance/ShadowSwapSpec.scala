package graft.rebalance

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** The swap algorithm over an in-memory namespace that crashes after a
  * chosen step: no Spark, so every crash point of every rerun is cheap.
  */
class ShadowSwapSpec extends AnyFunSuite {

  private final class Crash extends RuntimeException("injected crash")

  /** Names → contents. Every rename, drop and write is a step; the step
    * numbered `crashAfter` (from 1) takes effect and then throws.
    */
  private final class Fake(init: Map[String, String]) extends ShadowSwap.Namespace {
    val tables = mutable.Map.from(init)
    val log = mutable.Buffer.empty[String]
    var crashAfter = Int.MaxValue
    private def step(s: String): Unit = {
      log += s
      if (log.size == crashAfter) throw new Crash
    }
    def exists(name: String): Boolean = tables.contains(name)
    def rename(from: String, to: String): Unit = {
      assert(tables.contains(from) && !tables.contains(to), s"rename $from -> $to over $tables")
      tables(to) = tables.remove(from).get
      step(s"rename $from $to")
    }
    def drop(name: String): Unit = { tables.remove(name); step(s"drop $name") }
    def write(name: String, content: String): Unit = {
      tables(name) = content
      step(s"write $name")
    }
  }

  private val names = ShadowSwap.versioned("db.t", "1")
  private val target = names.target

  /** One swap writing "new"; the write checks the target was recovered. */
  private def run(ns: Fake, hadTarget: Boolean): Unit =
    ShadowSwap.swap(ns, names) { stage =>
      assert(!hadTarget || ns.exists(target), s"write before recovery: ${ns.tables}")
      ns.write(stage, "new")
    }

  /** What the target holds once a crashed state is recovered. */
  private def recovered(state: collection.Map[String, String]): Option[String] = {
    val ns = new Fake(state.toMap)
    ShadowSwap.recover(ns, names)
    ns.tables.get(target)
  }

  test("a clean swap over an existing target: 2 drops, 2 renames, no residue") {
    val ns = new Fake(Map(target -> "old"))
    run(ns, hadTarget = true)
    assert(ns.log == Seq("drop db.t__old", "write db.t__v1", "rename db.t db.t__old",
      "rename db.t__v1 db.t", "drop db.t__old"))
    assert(ns.tables == Map(target -> "new"))
  }

  test("a first swap (vacant target) seeds it through the stage") {
    val ns = new Fake(Map.empty)
    run(ns, hadTarget = false)
    assert(ns.log == Seq("drop db.t__old", "write db.t__v1", "rename db.t__v1 db.t",
      "drop db.t__old"))
    assert(ns.tables == Map(target -> "new"))
  }

  for ((label, init) <- Seq("existing target" -> Map(target -> "old"), "vacant target" -> Map.empty[String, String]))
    test(s"crash after every step, and again in the rerun, always recovers ($label)") {
      val hadTarget = init.nonEmpty
      val allowed = if (hadTarget) Set("old", "new") else Set("new")
      val clean = { val ns = new Fake(init); run(ns, hadTarget); ns.log.size }
      for (k <- 1 to clean; j <- 1 to clean + 1) {
        val ns = new Fake(init)
        ns.crashAfter = k
        intercept[Crash](run(ns, hadTarget))
        val afterFirst = recovered(ns.tables)
        assert(afterFirst.forall(allowed) && (afterFirst.isDefined || !hadTarget),
          s"crash after step $k: ${ns.tables}")
        // a rerun that itself crashes after step j (j > its step count: none)
        val rerun = new Fake(ns.tables.toMap)
        rerun.crashAfter = j
        try run(rerun, hadTarget) catch { case _: Crash => }
        val afterSecond = recovered(rerun.tables)
        assert(afterSecond.forall(allowed) && (afterSecond.isDefined || !hadTarget),
          s"crash after step $k, then $j: ${rerun.tables}")
        val last = new Fake(rerun.tables.toMap)
        run(last, hadTarget)
        assert(last.tables == Map(target -> "new"), s"crash after step $k, then $j")
      }
    }

  test("a vacant target is refilled from the stage first, else from the old copy") {
    val both = new Fake(Map(names.stage -> "new", names.old -> "old"))
    ShadowSwap.recover(both, names)
    assert(both.tables == Map(target -> "new", names.old -> "old"))
    val oldOnly = new Fake(Map(names.old -> "old"))
    ShadowSwap.recover(oldOnly, names)
    assert(oldOnly.tables == Map(target -> "old"))
    val present = new Fake(Map(target -> "cur", names.stage -> "new"))
    ShadowSwap.recover(present, names)
    assert(present.log.isEmpty && present.tables(target) == "cur")
  }

  test("residue names of all three swaps are recognised") {
    val residue = Seq(ShadowSwap.versioned("t", "7"), ShadowSwap.mv("m"))
      .flatMap(n => Seq(n.stage, n.old))
    assert(residue.forall(ShadowSwap.isResidue), residue)
    assert(!Seq("t", "m", "t_local", "events_mv", "t_old").exists(ShadowSwap.isResidue))
    assert(ShadowSwap.path("/w/p") == ShadowSwap.Names("/w/p", "/w/p.__staging__", "/w/p.__old__"))
  }

  test("a dry namespace records the steps a swap would run") {
    val dry = new ShadowSwap.Dry(Seq("db.t"))
    ShadowSwap.swap(dry, names)(dry.write(_, "ByHash(k)"))
    assert(dry.steps == Seq("DROP   db.t__old", "WRITE  db.t__v1 <- ByHash(k)",
      "RENAME db.t -> db.t__old", "RENAME db.t__v1 -> db.t", "DROP   db.t__old"))
  }
}
