package graft.rebalance

import graft.ddl.DdlRewriter
import graft.model.TableKind

/** Pure planner: catalog snapshot → ordered rebalance steps, mirroring the
  * reference's `__main__` orchestration (reference
  * `sharding_recreation.py:306-342`) with its exact phase order:
  *
  *   1. ensure originals exist everywhere (O13)
  *   2. create versioned shadow locals (O14)
  *   3. rename old locals → `_old` (O16)
  *   4. rename versioned locals → canonical names (O17)
  *   5. create versioned dist façades over `_old` (O15)
  *   6. redistribute: canonical ← versioned façade (O18, the data move)
  *   7. drop `_old` + helper names (O19)
  *
  * MVs are never auto-created/populated — the reference skips them in three
  * separate guards (`sharding_recreation.py:115-118,123-127,155-158`); the
  * planner emits an explicit [[ManualMvStep]] marker instead so callers see
  * the gap rather than silently losing views.
  *
  * This is the ClickHouse-shaped rendering of a pass, driver-local over a
  * small collected snapshot. Nothing executes it: the benchmark reads it,
  * and [[RebalanceRunner.rebalanceDatabase]] selects and swaps tables on
  * its own ([[RebalanceRunner.targets]], [[ShadowSwap]]).
  */
object RebalancePlan {

  sealed trait Step
  final case class EnsureTable(name: String, ddl: String) extends Step
  final case class CreateShadow(name: String, ddl: String) extends Step
  final case class RenameTable(from: String, to: String) extends Step
  /** THE data operator: re-scatter every row of `source` into `dest` by the
    * distribution spec (reference `sharding_recreation.py:159-160`).
    */
  final case class Redistribute(source: String, dest: String,
      dist: Rebalancer.Distribution, shards: Int) extends Step
  final case class DropTable(name: String) extends Step
  /** MV recreation left manual, as in the reference (TODO at
    * `sharding_recreation.py:258-266,337`).
    */
  final case class ManualMvStep(name: String) extends Step

  final case class CatalogEntry(name: String, ddl: String)

  def plan(
      db: String,
      snapshot: Seq[CatalogEntry],
      version: String,
      dist: String => Rebalancer.Distribution,
      shards: Int): Seq[Step] = {

    val entries = snapshot.filter(e => TableKind.classify(e.name) != TableKind.Inner)
    val kinds = entries.map(e => e -> TableKind.classify(e.name))
    val locals = kinds.collect { case (e, TableKind.Local) => e }
    val dists = kinds.collect { case (e, TableKind.Distributed) => e }
    val mvs = kinds.collect { case (e, TableKind.MaterializedView) => e }
    def v(n: String) = s"$n$version"

    val ensure = entries.map(e => EnsureTable(e.name, DdlRewriter.ifNotExists(e.ddl)))
    val shadowLocals = locals.flatMap(e =>
      DdlRewriter.shadowDdl(db, e.name, e.ddl, version).map(CreateShadow(v(e.name), _)))
    val renameOld = locals.map(e => RenameTable(e.name, s"${e.name}_old"))
    val renameCanonical = locals.map(e => RenameTable(v(e.name), e.name))
    val shadowDists = dists.flatMap(e =>
      DdlRewriter.shadowDdl(db, e.name, e.ddl, version).map(CreateShadow(v(e.name), _)))
    val move = dists.map(e => Redistribute(v(e.name), e.name, dist(e.name), shards))
    val cleanup =
      locals.map(e => DropTable(s"${e.name}_old")) ++
      dists.map(e => DropTable(v(e.name)))
    val manualMvs = mvs.map(e => ManualMvStep(e.name))

    ensure ++ shadowLocals ++ renameOld ++ renameCanonical ++
      shadowDists ++ move ++ cleanup ++ manualMvs
  }
}
