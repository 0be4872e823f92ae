package graft

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.catalog.TableRegistry
import graft.rebalance.{RebalanceRunner, Rebalancer, ShadowSwap}

/** CLI entry point for the rebalance workflow — the engine's analogue of the
  * reference tool's `python sharding_recreation.py` invocation (reference
  * `sharding_recreation.py:306-342`), operating on the Spark catalog instead
  * of a ClickHouse cluster.
  *
  * Usage:
  *   runMain graft.RebalanceCli <parquetDir> <hash|range|rr> <key> <shards> [--plan]
  *
  * Seeds a database from every `<table>.parquet` in `parquetDir`, snapshots
  * the catalog, rebalances each table (hash/range on `key` when the table
  * has that column, round-robin otherwise), and prints per-table moved-row
  * counts.
  *
  * `--plan` prints the tables [[RebalanceRunner.targets]] selects and, per
  * table, its distribution and the steps its [[ShadowSwap]] would run
  * (replayed over an in-memory copy of the catalog listing), and exits
  * WITHOUT touching any table — the preview a destructive rename/drop
  * pipeline should offer (the reference tool has no equivalent:
  * `sharding_recreation.py:268-306` connects and executes in one motion).
  */
object RebalanceCli {
  def main(args: Array[String]): Unit = {
    val planOnly = args.lastOption.contains("--plan")
    val posArgs = if (planOnly) args.dropRight(1) else args
    require(posArgs.length == 4,
      "usage: RebalanceCli <parquetDir> <hash|range|rr> <key> <shards> [--plan]")
    val Array(dir, mode, key, shardsStr) = posArgs
    require(Set("hash", "range", "rr")(mode),
      s"unknown mode '$mode' (expected hash|range|rr) — refusing to " +
        "silently degrade every table to round-robin")
    val shards = shardsStr.toInt
    require(shards > 0, s"shards must be positive: $shards")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-rebalance")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_cli_warehouse")
      // rebalance treats payload columns as opaque; nanos timestamps ride
      // through as int64 rather than failing the whole-table scan
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val db = "graft_cli"
    // The in-memory catalog dies with the JVM but warehouse directories
    // persist; clear the seed db's location so re-runs don't collide with
    // LOCATION_ALREADY_EXISTS.
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val dbDir = new org.apache.hadoop.fs.Path(
      s"${sys.props("java.io.tmpdir")}/graft_cli_warehouse/$db.db")
    dbDir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dbDir, true)
    spark.sql(s"CREATE DATABASE $db")
    val listing = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
    val tables = listing
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet")).sorted
    require(tables.nonEmpty, s"no *.parquet tables under $dir")
    tables.foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet")
        .write.mode(SaveMode.Overwrite).saveAsTable(s"$db.$t")
    }
    println(s"[cli] catalog: ${TableRegistry.tableNames(spark, db).mkString(", ")}")

    def distFor(table: String): Rebalancer.Distribution = {
      val hasKey = spark.table(s"$db.$table").columns.contains(key)
      (mode, hasKey) match {
        case ("hash", true)  => Rebalancer.ByHash(key)
        case ("range", true) => Rebalancer.ByRange(key)
        case _               => Rebalancer.RoundRobin
      }
    }
    val version = "1"
    if (planOnly) {
      // the runner's own selection and swap, replayed over the listing in
      // memory: nothing is read or written
      val listing = TableRegistry.tableNames(spark, db)
      val picked = RebalanceRunner.targets(listing, Set.empty, version)
      val dry = new ShadowSwap.Dry(listing.map(t => s"$db.$t"))
      picked.foreach { t =>
        ShadowSwap.swap(dry, ShadowSwap.versioned(s"$db.$t", version))(
          dry.write(_, s"${distFor(t)} over $shards shards (one shuffle)"))
      }
      dry.steps.zipWithIndex.foreach { case (step, i) => println(f"[cli] plan ${i + 1}%3d: $step") }
      println(s"""[cli] {"tables":${picked.size},"plan_steps":${dry.steps.size},"executed":0}""")
      spark.stop()
      return
    }
    val moved = RebalanceRunner.rebalanceDatabase(spark, db, distFor, shards, version)
    moved.toSeq.sortBy(_._1).foreach { case (t, n) =>
      println(s"[cli] rebalanced $t: $n rows -> $shards shards (${distFor(t)})")
    }
    println(s"""[cli] {"tables":${moved.size},"rows":${moved.values.sum}}""")
    spark.stop()
  }
}
