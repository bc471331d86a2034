package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one client thread, closed
  * loop, on `local[cores]`.
  *
  * `perfbench/run.py` prepares everything the seed decides (the fixture
  * and the operation schedule in `plan.tsv`), starts this main, and
  * checks the outputs it leaves behind. This main only sets up, warms
  * up, runs operations back to back in whole rounds of `--round` plan
  * lines until `--seconds` have passed and at least `--min-rounds`
  * rounds are done, and
  * writes `result.json`: set-up times, one record per operation, and in
  * traced runs the spans with the engine counts attributed to them.
  *
  * Usage: perfbench.Main --workload W --work DIR --data DIR --seconds S
  * --trace 0|1 --cores K --round N --min-rounds R
  */
object Main {

  /** What one operation reports besides its wall time. */
  final case class Outcome(name: String, items: Double = 0,
                           metrics: Map[String, Double] = Map.empty,
                           check: () => Option[String] = () => None)

  final case class OpRecord(id: Int, name: String, t0: Double, t1: Double,
                            sweepMs: Double, heapMb: Double, items: Double,
                            metrics: Map[String, Double],
                            error: Option[String])

  final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
                  val data: String, val plan: Seq[Array[String]],
                  val setup: mutable.LinkedHashMap[String, Double]) {
    /** Time `body` as a named set-up step (seconds, in `setup`). */
    def step[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally setup(name) = setup.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }
  }

  trait Workload {
    /** Everything before the timed window: fixture reads, warm-up,
      * store builds. */
    def setUp(ctx: Ctx): Unit
    /** Operation number `i` of the timed window (the plan cycles). */
    def op(ctx: Ctx, i: Int): Outcome
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args.getOrElse("cores", "4")
    val round = args.getOrElse("round", "1").toInt
    val minOps = round * args.getOrElse("min-rounds", "1").toInt
    val jvmStart = jvmUptimeS()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener =
      if (traced) {
        val l = new EngineListener(Set("Main", "Workloads"))
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None
    val tracer = new Tracer(spark.sparkContext, traced)
    val plan = readTsv(s"$work/plan.tsv")
    // the oracle SQL of every planned query, for the output checks
    val oracle = graft.SparkEntry.oracleSql
    val oracleOut = new PrintWriter(new File(s"$work/oracle.json"))
    try oracleOut.print(Json.obj(plan.map(_(0)).distinct.filter(oracle.contains)
      .map(n => n -> Json.str(oracle(n))): _*))
    finally oracleOut.close()
    val ctx = new Ctx(spark, tracer, work, args("data"), plan,
      mutable.LinkedHashMap("jvm_start_s" -> jvmStart, "session_s" -> (jvmUptimeS() - jvmStart)))

    val w: Workload = workload match {
      case "etl_bulk" => new Workloads.EtlBulk
      case "tpch_sf1x" => new Workloads.Tpch
      case "vector_serve" => new Workloads.VectorServe
      case "index_lifecycle" => new Workloads.Lifecycle
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setUp(ctx)
    sweep(spark)
    val setupEnd = jvmUptimeS()

    // ---- timed window: closed loop, one client ----
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    var heapPeak = 0L
    var windowS = 0.0
    var i = 0
    while (windowS < seconds || i < minOps || i % round != 0) {
      val t0 = tracer.now()
      val result = tracer.inOp(i) {
        try Right(tracer.span("op")(w.op(ctx, i)))
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      val t1 = tracer.now()
      // output checks and the heap reading run outside the window; the
      // hygiene sweep counts inside it
      val error = result.fold(Some(_), o =>
        try o.check() catch { case e: Throwable => Some(s"check: ${e.getMessage}") })
      val heap = retainedHeap()
      heapPeak = math.max(heapPeak, heap)
      val h0 = tracer.now()
      sweep(spark)
      val sweepMs = tracer.now() - h0
      windowS += (sweepMs + t1 - t0) / 1e3
      ops += OpRecord(i, result.fold(_ => plan(i % plan.size)(0), _.name), t0, t1, sweepMs,
        heap / 1048576.0,
        result.fold(_ => 0.0, _.items), result.fold(_ => Map.empty, _.metrics), error)
      i += 1
    }

    // ---- leak check: nothing the run persisted may survive the sweep ----
    val leakedRdds = spark.sparkContext.getPersistentRDDs.size
    val leakedCache = !spark.sharedState.cacheManager.isEmpty
    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))

    val out = new PrintWriter(new File(s"$work/result.json"))
    try {
      out.print(Json.obj(
        "workload" -> Json.str(workload),
        "cores" -> cores,
        "traced" -> traced.toString,
        "setup" -> Json.obj(ctx.setup.toSeq.map { case (k, v) => k -> v.toString }: _*),
        "setup_end_s" -> setupEnd.toString,
        "window_s" -> windowS.toString,
        "heap_peak_mb" -> (heapPeak / 1048576.0).toString,
        "leaked_rdds" -> leakedRdds.toString,
        "leaked_cache" -> leakedCache.toString,
        "ops" -> Json.arr(ops.toSeq.map { o =>
          Json.obj("id" -> o.id.toString, "name" -> Json.str(o.name),
            "t0" -> o.t0.toString, "t1" -> o.t1.toString, "sweep_ms" -> o.sweepMs.toString,
            "heap_mb" -> o.heapMb.toString,
            "items" -> o.items.toString,
            "metrics" -> Json.obj(o.metrics.toSeq.map { case (k, v) => k -> v.toString }: _*),
            "error" -> o.error.map(Json.str).getOrElse("null"))
        }),
        "spans" -> Json.arr(tracer.spans.toSeq.map { s =>
          val c = listener.flatMap(_.bySpan.get(s.id))
          Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString,
            "op" -> s.op.toString, "name" -> Json.str(s.name),
            "t0" -> s.t0.toString, "t1" -> s.t1.toString,
            "engine" -> c.map(countsJson).getOrElse("null"))
        })))
    } finally out.close()
    spark.stop()
  }

  private def countsJson(c: SpanCounts): String = Json.obj(
    "jobs" -> c.jobs.toString, "internal_jobs" -> c.internalJobs.toString,
    "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
    "failed_tasks" -> c.failedTasks.toString, "stage_retries" -> c.stageRetries.toString,
    "task_run_s" -> c.taskRunS.toString, "task_cpu_s" -> c.taskCpuS.toString,
    "task_gc_s" -> c.taskGcS.toString, "task_wait_s" -> c.taskWaitS.toString,
    "input_bytes" -> c.inputBytes.toString, "input_records" -> c.inputRecords.toString,
    "output_bytes" -> c.outputBytes.toString,
    "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
    "shuffle_read_bytes" -> c.shuffleReadBytes.toString,
    "spill_bytes" -> c.spillBytes.toString,
    "job_intervals" -> Json.arr(c.jobIntervals.toSeq.map { case (a, b) => s"[$a,$b]" }),
    "stage_s_by_file" -> Json.obj(c.stageSByFile.toSeq.map { case (k, v) => k -> v.toString }: _*))

  /** Heap an operation leaves in use: used heap right after a full
    * collection, read before the sweep releases what the operation
    * persisted (the sweep's unpersist is asynchronous). Spark's context
    * cleaner frees broadcast and shuffle state only after a collection
    * has found it unreachable, and after an operation with many jobs it
    * can take longer than one short pause, so collections repeat until
    * one frees less than 1 MB more (at least 3, at most 10); the lowest
    * reading is taken. Read outside the timed window. */
  def retainedHeap(): Long = {
    val heap = ManagementFactory.getMemoryMXBean
    def reading(): Long = {
      System.gc()
      Thread.sleep(50)
      heap.getHeapMemoryUsage.getUsed
    }
    var low = reading()
    var n = 1
    var freed = Long.MaxValue
    while (n < 3 || (n < 10 && freed >= (1L << 20))) {
      val r = reading()
      freed = low - r
      low = math.min(low, r)
      n += 1
    }
    low
  }

  /** Lines of a tab-separated plan file; none when it does not exist. */
  def readTsv(path: String): Seq[Array[String]] =
    if (!new File(path).exists) Nil
    else {
      val src = Source.fromFile(path)
      try src.getLines().filter(_.nonEmpty).map(_.split("\t")).toVector
      finally src.close()
    }

  def jvmUptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Per-operation hygiene, the same sweep `graft.Bench` applies between
    * queries: drop CacheManager entries and every persisted RDD. */
  def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}

/** Minimal JSON writer: values are passed pre-rendered. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
