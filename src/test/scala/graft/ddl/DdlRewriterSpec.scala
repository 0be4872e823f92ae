package graft.ddl

import org.scalatest.funsuite.AnyFunSuite

class DdlRewriterSpec extends AnyFunSuite {
  import DdlRewriter._

  val localDdl = "CREATE TABLE db.events_local (id BIGINT, v DOUBLE) ENGINE = MergeTree ORDER BY id"
  val distDdl = "CREATE TABLE db.events (id BIGINT, v DOUBLE) ENGINE = Distributed('c', 'db', 'events_local', rand())"
  val mvDdl = "CREATE MATERIALIZED VIEW db.events_mv TO db.agg_local AS SELECT id, sum(v) FROM db.events_local GROUP BY id"

  test("ifNotExists is idempotent and kind-aware") {
    assert(ifNotExists(localDdl).startsWith("CREATE TABLE IF NOT EXISTS db.events_local"))
    assert(ifNotExists(ifNotExists(localDdl)) == ifNotExists(localDdl))
    assert(ifNotExists(mvDdl).startsWith("CREATE MATERIALIZED VIEW IF NOT EXISTS db.events_mv"))
  }

  test("versionSuffix renames all qualified occurrences") {
    val out = versionSuffix(localDdl, "db", "events_local", "2")
    assert(out.contains("db.events_local2"))
    assert(!out.contains("db.events_local "))
  }

  test("shadowDdl: local gets IF NOT EXISTS + version") {
    val out = shadowDdl("db", "events_local", localDdl, "2").get
    assert(out.startsWith("CREATE TABLE IF NOT EXISTS db.events_local2"))
  }

  test("shadowDdl: distributed retargets at _local_old") {
    val out = shadowDdl("db", "events", distDdl, "2").get
    assert(out.contains("db.events2"))
    assert(out.contains("'events_local_old'"))
  }

  test("shadowDdl: MV versions both the view and its local source") {
    val out = shadowDdl("db", "events_mv", mvDdl, "2").get
    assert(out.contains("db.events_mv2"))
    assert(out.contains("db.events_local2"))
  }

  test("shadowDdl: inner tables excluded") {
    assert(shadowDdl("db", ".inner.events_mv", "CREATE TABLE ...", "2").isEmpty)
  }

  test("versionSuffix stops at identifier boundaries (sibling names untouched)") {
    val ddl = "CREATE TABLE db.sales (k BIGINT) AS SELECT * FROM db.sales_history JOIN db.sales ON 1=1"
    val out = versionSuffix(ddl, "db", "sales", "2")
    assert(out.contains("db.sales2 "))
    assert(out.contains("db.sales_history"))
    assert(!out.contains("db.sales2_history"))
  }

  test("retargetAtOldLocal stops at identifier boundaries") {
    val ddl = "ENGINE = Distributed('c','db','sales_local', k) -- sales_localization"
    val out = retargetAtOldLocal(ddl, "sales")
    assert(out.contains("'sales_local_old'"))
    assert(out.contains("sales_localization"))
    assert(!out.contains("sales_local_oldization"))
  }

  test("versionSuffix/retargetAtOldLocal enforce a LEFT identifier boundary " +
    "(prefixed sibling identifiers untouched)") {
    // `staging_db.sales` embeds `db.sales`; without the left boundary the
    // shadow DDL would point at staging_db.sales2
    val ddl = "SELECT * FROM staging_db.sales JOIN db.sales ON 1=1"
    val out = versionSuffix(ddl, "db", "sales", "2")
    assert(out.contains("staging_db.sales "), out)
    assert(out.contains("db.sales2 "), out)
    assert(!out.contains("staging_db.sales2"), out)
    // `retail_sales_local` embeds `sales_local`
    val d2 = "Distributed('c','db','sales_local', k) -- retail_sales_local"
    val o2 = retargetAtOldLocal(d2, "sales")
    assert(o2.contains("'sales_local_old'"), o2)
    assert(o2.contains("retail_sales_local"), o2)
    assert(!o2.contains("retail_sales_local_old"), o2)
  }
}
