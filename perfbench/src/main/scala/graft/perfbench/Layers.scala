package graft.perfbench

/** Per-layer metrics of a traced phase, each per op unless its name says
  * otherwise. Module layers come from the benchmark's spans around its
  * calls into `catalog`, `rebalance` (plan and run, MV refresh included)
  * and `ops`; the catalog layer also from the SQL executions and external
  * catalog events the program causes; Spark layers from the tasks of jobs
  * started inside those spans and from the ops' SQL executions.
  */
object Layers {
  /** Spans that make up an op; lookups run between ops. */
  val OpSpans = Set("catalog", "plan", "rebalance", "ops.build", "ops.exec")

  def metrics(t: Tracer, phase: Main.Phase): Map[String, Double] = {
    val ops = math.max(1, phase.ops.size).toDouble
    val spark = t.tasks(OpSpans)
    val lookup = t.tasks(Set("lookup"))
    val execs = t.opSqlExecs
    // SHOW CREATE TABLE, renames, drops, listings: SQL executions that run
    // no Spark job are the program's metadata-only catalog calls. A CREATE
    // TABLE AS SELECT shows as a job-less execution around the one that
    // ran its jobs; an op runs its statements one after another, so such
    // a parent is known by the job-running execution inside its interval.
    val withJobs = execs.filter(_.jobs > 0)
    val catalogCalls = execs.filter(e => e.jobs == 0 &&
      !withJobs.exists(j => j.op == e.op && j.start >= e.start && j.end <= e.end))
    def driverMetric(name: String) = execs.map(_.driverMetrics.getOrElse(name, 0L)).sum
    Map(
      "catalog.calls" -> catalogCalls.size / ops,
      "catalog.busy_s" -> catalogCalls.map(e => (e.end - e.start) / 1e3).sum / ops,
      "catalog.ddl_events" -> t.catalogEvents / ops,
      "plan.busy_s" -> t.busy("plan") / ops,
      "plan.steps" -> t.counts("plan.steps") / ops,
      "rebalance.busy_s" -> t.busy("rebalance") / ops,
      "rebalance.calls" -> t.counts("rebalance.calls") / ops,
      "rebalance.rows" -> t.counts("rebalance.rows") / ops,
      // MV refreshes run inside rebalanceDatabase; their window is read
      // from the SQL executions that touch the MV stage and old tables
      "streaming.mv_refresh_s" -> t.sqlWindow("__mv_") / ops,
      "ops.build_s" -> t.busy("ops.build") / ops,
      "ops.exec_s" -> t.busy("ops.exec") / ops,
      "spark.jobs_per_op" -> spark.jobs / ops,
      "spark.tasks" -> spark.tasks / ops,
      "spark.task_run_s" -> spark.runS / ops,
      "spark.sched_wait_s" -> spark.schedWaitS / ops,
      "spark.gc_s" -> spark.gcS / ops,
      "shuffle.write_bytes" -> spark.shuffleWrite / ops,
      "shuffle.read_bytes" -> spark.shuffleRead / ops,
      "shuffle.fetch_wait_s" -> spark.fetchWaitS / ops,
      "spill.bytes" -> spark.spill / ops,
      // the file scans' own "size of files read" metric: every scan counts,
      // so a plan that reads a source twice shows twice
      "scan.bytes" -> driverMetric("size of files read") / ops,
      "sink.bytes" -> spark.sinkBytes / ops,
      "sink.files" -> driverMetric("number of written files") / ops,
      "lookup.rows_scanned_per_row" ->
        lookup.scanRows / math.max(1.0, t.counts("lookup.rows")))
  }
}
