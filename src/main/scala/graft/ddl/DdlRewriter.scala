package graft.ddl

import graft.model.TableKind

/** Pure DDL-string rewriting — the reference's dominant compute (reference
  * `sharding_recreation.py:49-107`), re-expressed as total functions with no
  * global state. All driver-local: these run over a collected catalog
  * snapshot (small data), never over rows.
  *
  * Differences from the reference, per SURVEY.md §2.1 quirk list:
  *   - version is caller-supplied, not `random.randint(1, 10)`
  *     (reference `config.py:17`, collision-prone);
  *   - classification is exact-suffix, not substring;
  *   - rewrites are pure `(name, ddl) => ddl`, accumulated by the caller
  *     instead of into global dicts (reference `sharding_recreation.py:23-24`).
  */
object DdlRewriter {

  /** `CREATE TABLE` / `CREATE MATERIALIZED VIEW` → idempotent form
    * (reference `sharding_recreation.py:72,85,96`).
    */
  def ifNotExists(ddl: String): String =
    if (ddl.contains("IF NOT EXISTS")) ddl
    else ddl
      .replaceFirst("^CREATE TABLE ", "CREATE TABLE IF NOT EXISTS ")
      .replaceFirst("^CREATE MATERIALIZED VIEW ", "CREATE MATERIALIZED VIEW IF NOT EXISTS ")

  /** Suffix every occurrence of `db.name` with the version, producing the
    * shadow-table DDL (reference `sharding_recreation.py:71-103`). Unlike
    * the reference's raw substring replace, matches stop at identifier
    * boundaries so sibling names sharing the prefix (`db.sales` vs
    * `db.sales_history`) are untouched.
    */
  def versionSuffix(ddl: String, db: String, name: String, version: String): String =
    ddl.replaceAll(
      "(?<![A-Za-z0-9_])" + // left boundary: `staging_db.sales` ≠ `db.sales`
        java.util.regex.Pattern.quote(s"$db.$name") + "(?![A-Za-z0-9_])",
      java.util.regex.Matcher.quoteReplacement(s"$db.$name$version"))

  /** Retarget a distributed table's engine at the renamed old locals:
    * `tbl_local` → `tbl_local_old` (reference `sharding_recreation.py:93-103`),
    * identifier-boundary safe.
    */
  def retargetAtOldLocal(ddl: String, tbl: String): String =
    ddl.replaceAll(
      "(?<![A-Za-z0-9_])" + // left boundary: `retail_sales_local` ≠ `sales_local`
        java.util.regex.Pattern.quote(s"${tbl}_local") + "(?![A-Za-z0-9_])",
      java.util.regex.Matcher.quoteReplacement(s"${tbl}_local_old"))

  /** Rewrite one table's DDL into its shadow (versioned) form, dispatching on
    * kind exactly as the reference's `_recreate_old_create_table` loop does
    * (reference `sharding_recreation.py:62-107`).
    */
  def shadowDdl(db: String, name: String, ddl: String, version: String): Option[String] =
    TableKind.classify(name) match {
      case TableKind.Inner => None
      case TableKind.Local =>
        Some(versionSuffix(ifNotExists(ddl), db, name, version))
      case TableKind.MaterializedView =>
        // version both the MV name and its X_local source
        val src = TableKind.mvSourceLocal(name)
        Some(versionSuffix(versionSuffix(ifNotExists(ddl), db, name, version), db, src, version))
      case TableKind.Distributed =>
        // versioned dist façade reads the renamed old locals
        Some(retargetAtOldLocal(versionSuffix(ifNotExists(ddl), db, name, version), name))
    }
}
