package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one closed-loop client on `local[min(4, cores)]`.
  *
  * It sets up the workload once and warms up on its first ops, then
  * runs ops until `--seconds` of op and lookup time have passed and the
  * workload's cycle is complete, checking every op's output between ops.
  * With `--trace 1` a traced phase of the same length follows, and the
  * spans are written out. Raw samples go to `<out>/samples.json`; `run.py` turns them
  * into the reported metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <n> --trace <0|1>
  *   --work <work dir> --out <dir> --budget <seconds> [--sf-dir <fixtures>]
  */
object Main {
  /** An op running longer than this is cancelled and counts as failed. */
  val OpTimeoutS = 60.0

  final case class OpSample(i: Int, name: String, seconds: Double, rows: Long,
      ok: Boolean, checked: Checked, error: String)

  final case class Phase(traced: Boolean, ops: Seq[OpSample], lookups: Seq[LookupOut],
      heapMb: Double, truncated: Boolean)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = arg("work")
    val out = arg("out")
    val budgetS = arg("budget").toDouble
    require(seed >= 0 && seconds > 0, "seed must be >= 0 and seconds > 0")
    val workload = Workload(workloadName, seed, args.get("sf-dir"), out)
    val jvmStart = System.nanoTime()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.graft.workDir", s"$work/graft")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    workload.setup(spark)
    val t2 = System.nanoTime()

    val heap = new HeapWatch
    val sc = spark.sparkContext
    val watchdog = Executors.newSingleThreadScheduledExecutor()
    var next = 0
    /** Runs `minOps` ops and, if `minSeconds` is positive, more until that
      * much op and lookup time has passed and a cycle is complete; lookups
      * run after each op only in such measured phases.
      */
    def runPhase(tracer: Tracer, minOps: Int, minSeconds: Double): Phase = {
      val ops = mutable.ArrayBuffer.empty[OpSample]
      val lookups = mutable.ArrayBuffer.empty[LookupOut]
      var measured = 0.0
      var slowest = 0.0
      var truncated = false
      def elapsed = (System.nanoTime() - jvmStart) / 1e9
      while ((ops.size < minOps ||
          minSeconds > 0 && (measured < minSeconds || ops.size % workload.cycle != 0)) &&
          !truncated) {
        if (elapsed + 2 * slowest > budgetS) truncated = true
        else {
          val i = next
          next += 1
          val opStart = System.nanoTime()
          tracer.op = i
          val group = Tracer.opGroup(i)
          sc.setJobGroup(group, s"perfbench op $i", interruptOnCancel = true)
          @volatile var timedOut = false
          val alarm = watchdog.schedule(new Runnable {
            def run(): Unit = { timedOut = true; sc.cancelJobGroup(group) }
          }, (OpTimeoutS * 1000).toLong, TimeUnit.MILLISECONDS)
          val (result, s) = Workload.timed(Try(workload.op(spark, tracer, i)))
          alarm.cancel(false)
          sc.clearJobGroup()
          val sample = result match {
            case Success(rows) if !timedOut =>
              Try(workload.check(spark, i)) match {
                case Success(c) =>
                  OpSample(i, workload.opName(i), s, rows, c.problems.isEmpty, c,
                    c.problems.take(5).mkString("; "))
                case Failure(e) =>
                  OpSample(i, workload.opName(i), s, rows, ok = false, Checked(Nil), s"check failed: $e")
              }
            case Success(_) => OpSample(i, workload.opName(i), s, 0, ok = false, Checked(Nil),
              s"timed out after $OpTimeoutS s")
            case Failure(e) => OpSample(i, workload.opName(i), s, 0, ok = false, Checked(Nil), e.toString)
          }
          if (!sample.ok) System.err.println(s"[perfbench] op $i ${sample.name} FAILED: ${sample.error}")
          ops += sample
          val ls = if (minSeconds > 0) workload.lookups(spark, tracer, i) else Nil
          lookups ++= ls
          measured += s + ls.map(_.seconds).sum
          slowest = math.max(slowest, (System.nanoTime() - opStart) / 1e9)
        }
      }
      Phase(tracer.enabled, ops.toSeq, lookups.toSeq, heap.peakMb, truncated)
    }

    // warm-up: the same ops, so the measured ones do not pay for loading
    // and compiling their code paths. The heap's peak spans warm-up and
    // measurement: more collections make its maximum steadier.
    heap.reset()
    val warm = runPhase(new Tracer(spark, enabled = false), workload.warmUpOps, 0)
    val t3 = System.nanoTime()
    val setupS = (t3 - t0) / 1e9
    System.err.println(f"[perfbench] set-up ${setupS}%.2f s: session ${(t1 - t0) / 1e9}%.2f s, " +
      f"inputs ${(t2 - t1) / 1e9}%.2f s, warm-up ${(t3 - t2) / 1e9}%.2f s")

    val untraced = runPhase(new Tracer(spark, enabled = false), 1, seconds)
    val traced = if (!trace) None else {
      val tracer = new Tracer(spark, enabled = true)
      val p = runPhase(tracer, 1, seconds)
      tracer.finish()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/spans.jsonl"), tracer.spansJsonl)
      Some((p, Layers.metrics(tracer, p)))
    }
    watchdog.shutdownNow()
    heap.close()
    workload.finish(spark)

    val env = Map(
      "spark_version" -> Json.str(spark.version),
      "spark_master" -> Json.str(sc.master),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}"),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString)
    val json = Json.obj(Seq(
      "workload" -> Json.str(workloadName),
      "op_timeout_s" -> Json.num(OpTimeoutS),
      "env" -> Json.obj(env.toSeq),
      "setup_s" -> Json.num(setupS),
      "warm" -> phaseJson(warm),
      "phases" -> Json.arr((untraced +: traced.map(_._1).toSeq).map(phaseJson)),
      "layers" -> traced.fold("{}")(t => Json.obj(t._2.toSeq.map { case (k, v) => k -> Json.num(v) }))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/samples.json"), json)
    spark.stop()
  }

  private def phaseJson(p: Phase): String = Json.obj(Seq(
    "traced" -> p.traced.toString,
    "truncated" -> p.truncated.toString,
    "heap_mb" -> Json.num(p.heapMb),
    "ops" -> Json.arr(p.ops.map(o => Json.obj(Seq(
      "i" -> o.i.toString, "name" -> Json.str(o.name), "s" -> Json.num(o.seconds),
      "rows" -> o.rows.toString, "ok" -> o.ok.toString,
      "skew" -> Json.num(o.checked.shardSkew), "write_amp" -> Json.num(o.checked.writeAmp),
      "error" -> Json.str(o.error))))),
    "lookups" -> Json.arr(p.lookups.map(l => Json.obj(Seq(
      "s" -> Json.num(l.seconds), "rows" -> l.rows.toString, "ok" -> l.ok.toString))))))
}

/** The driver's peak live heap: the largest heap left after a garbage
  * collection, as the collectors report it, from the last collection before
  * `reset` on. Reading it forces no collection, so the measured ops run on
  * the heap the program leaves behind.
  */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private var last = 0L
  private var peak = 0L
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == "com.sun.management.gc.notification") {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, use) if heapPools(pool) => use.getUsed }.sum
      synchronized { last = after; peak = math.max(peak, after) }
    }

  def reset(): Unit = synchronized { peak = last }
  def peakMb: Double = synchronized { peak.toDouble / 1048576.0 }
  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
}

/** Minimal JSON writing for the samples file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
