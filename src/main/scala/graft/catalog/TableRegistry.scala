package graft.catalog

import org.apache.spark.sql.SparkSession

import graft.rebalance.RebalancePlan.CatalogEntry

/** Catalog introspection — the Spark form of the reference's two
  * `system.tables` scans (`select name / create_table_query from
  * system.tables where database='{db}'`, reference
  * `sharding_recreation.py:289-298`). Driver-local, small data.
  */
object TableRegistry {

  /** All table names in `db` (reference O1). */
  def tableNames(spark: SparkSession, db: String): Seq[String] =
    spark.catalog.listTables(db).collect().map(_.name).toSeq.sorted

  /** Name + CREATE DDL snapshot (reference O1+O2), the planner's input.
    *
    * Spark's SHOW CREATE TABLE backtick-quotes every identifier
    * (`` `db`.`t` ``); the DdlRewriter pipeline matches plain `db.t`
    * forms, so quoting is normalized away here, at the snapshot boundary.
    * The normalization unquotes ONLY multi-part table names (two- and
    * three-part dotted forms) — a lone backticked identifier stays
    * quoted, because a column named after a reserved word (`` `order` ``)
    * is legal and unquoting it would make the shadow DDL unparseable,
    * and the rewriter never matches bare single identifiers anyway.
    * Table/database names themselves must be from [A-Za-z0-9_] — names
    * that NEED quoting are rejected loudly rather than rewritten wrongly.
    */
  def snapshot(spark: SparkSession, db: String): Seq[CatalogEntry] =
    tableNames(spark, db).map { t =>
      require(t.matches("[A-Za-z0-9_]+") && db.matches("[A-Za-z0-9_]+"),
        s"rebalance supports [A-Za-z0-9_]+ identifiers, got $db.$t")
      val raw = spark.sql(s"SHOW CREATE TABLE $db.$t").first().getString(0)
      val ddl = raw
        .replaceAll("`([A-Za-z0-9_]+)`\\.`([A-Za-z0-9_]+)`\\.`([A-Za-z0-9_]+)`",
          "$1.$2.$3")
        .replaceAll("`([A-Za-z0-9_]+)`\\.`([A-Za-z0-9_]+)`", "$1.$2")
      CatalogEntry(t, ddl)
    }
}
