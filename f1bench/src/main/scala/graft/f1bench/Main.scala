package graft.f1bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.pipeline.{F1Intermediate, F1Marts, F1Pipeline, F1Staging, F1Synthetic}
import graft.queries.QueryShared
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark entry point. Runs one workload in one JVM and prints, as the last
  * line of stdout, `{"correct", "attempted", "failed", "metrics"}`: the
  * end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. See `f1bench/README.md` for every metric and workload.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1
  *      --data DIR --work DIR --expected FILE
  * Main --mode record --data DIR --work DIR --expected FILE
  * }}}
  */
object Main {

  final case class Args(mode: String, workload: String, seed: Long,
                        seconds: Double, trace: Boolean, data: String,
                        work: String, expected: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv.getOrElse("mode", "run"), kv.getOrElse("workload", "query_mix"),
      kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("data", ""),
      kv.getOrElse("work", ""), kv.getOrElse("expected", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    withSession(a)(s => if (a.mode == "record") new Bench(s, a).record() else new Bench(s, a).run())
  }

  /** The session shape of `graft.Bench`: `local[N]` with N = the cores the
    * JVM sees, N shuffle partitions, AQE on with a 128k minimum partition
    * size, UTC. Scratch space lives under the work directory.
    */
  def withSession[T](a: Args)(body: SparkSession => T): T = {
    val n = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark) finally spark.stop()
  }

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}

/** The committed reference of every op: its output fingerprint and its
  * warm wall time, one tab-separated line per op.
  */
final case class Expected(fingerprints: Map[String, Fingerprint], costs: Map[String, Double])

object Expected {
  def load(path: String): Expected = {
    if (!Files.exists(Paths.get(path))) return Expected(Map.empty, Map.empty)
    val rows = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))
    Expected(
      rows.flatMap(f => scala.util.Try(f(0) -> Fingerprint.parse(f(1))).toOption).toMap,
      rows.filter(f => f(0) != MartsOp.name).map(f => f(0) -> f(2).toDouble).toMap)
  }
}

/** One op of a pass: a registry query, or the marts job. */
sealed trait Op { def name: String }
final case class QueryOp(name: String, fn: (SparkSession, String) => DataFrame) extends Op
case object MartsOp extends Op { val name = "f1_marts" }

/** Summed wall and process CPU of one pass's ops, and the heap they kept. */
final case class Pass(wallS: Double, cpuS: Double, heapMb: Double,
                      attempted: Int, failed: Int)

final class Bench(spark: SparkSession, a: Main.Args) {
  import Main.median

  private val MinPasses = 2

  private val sc = spark.sparkContext
  private val cores = Runtime.getRuntime.availableProcessors
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val martsDir = s"${a.work}/marts"
  private val loadStart = os.getSystemLoadAverage

  private val want = Expected.load(a.expected)

  private def ops: Seq[Op] = a.workload match {
    case "f1_marts" => Seq(MartsOp)
    case "query_mix" =>
      // a registry query with no reference cost joins the dearest stratum
      val costs = SparkEntry.queries.keys
        .map(q => q -> want.costs.getOrElse(q, Double.MaxValue)).toMap
      Workloads.sample(costs, a.seed, Workloads.MixSize)
        .map(q => QueryOp(q, SparkEntry.queries(q)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def log(msg: String): Unit = System.err.println(s"[f1bench] $msg")

  /** The caller contract of `graft.operators`: drop SQL-cached relations and
    * every persisted RDD once an op's result has been consumed.
    */
  private def sweep(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def cachedMb: Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Wait until the JIT compilers have drained their queue: total
    * compilation time unchanged over a 250 ms window, bounded at 10 s, so
    * compilations queued by set-up do not compete with the timed pass.
    */
  private def settleJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10000000000L
    var prev = -1L
    while (jit.getTotalCompilationTime != prev && System.nanoTime() < deadline) {
      prev = jit.getTotalCompilationTime
      Thread.sleep(250)
    }
  }

  private def heapAfterGcMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  // ---- output check -------------------------------------------------------

  private def fingerprint(df: DataFrame): Fingerprint =
    Fingerprint.of(df.columns.toSeq, df.collect().iterator)

  private def martsFingerprint(): Fingerprint =
    Seq("fct_driver_laps", "fct_driver_race_summary", "final_f1")
      .map(m => fingerprint(spark.read.parquet(s"$martsDir/$m")))
      .reduce(_ + _)

  /** Run `op` once, untimed, and fingerprint its output. */
  private def fingerprintOp(op: Op): Either[String, Fingerprint] =
    try {
      val fp = op match {
        case QueryOp(_, fn) => fingerprint(fn(spark, a.data))
        case MartsOp =>
          F1Pipeline.run(F1Synthetic.raw(spark, a.data), martsDir)
          martsFingerprint()
      }
      Right(fp)
    } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    finally sweep()

  /** Write, for every registry query and the marts job, the fingerprint of
    * its output and its warm wall time (the stratum key of `query_mix`).
    * Each op runs three times: fingerprint, timed, fingerprint again; an op
    * whose two fingerprints differ is recorded as `unstable`.
    */
  def record(): Unit = {
    val all = SparkEntry.queries.toSeq.sortBy(_._1).map { case (k, f) => QueryOp(k, f) } :+ MartsOp
    val lines = all.map { op =>
      val first = fingerprintOp(op)
      System.gc()
      val (wall, _, _) = timeOp(op)
      sweep()
      val again = fingerprintOp(op)
      val fp = (first, again) match {
        case (Right(x), Right(y)) if x == y => x.render
        case (Right(_), Right(_)) => "unstable"
        case _ => "error"
      }
      log(f"${op.name} $fp $wall%.3f")
      f"${op.name}\t$fp\t$wall%.3f"
    }
    Files.writeString(Paths.get(a.expected), lines.mkString(
      "# op\trows:hash of its output (Fingerprint.scala)\twarm wall s\n", "\n", "\n"))
  }

  // ---- timed ops ----------------------------------------------------------

  private def cpuNs: Long = os.getProcessCpuTime

  /** Run one op untraced; returns (wall s, cpu s, threw). */
  private def timeOp(op: Op): (Double, Double, Boolean) = {
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val threw =
      try {
        op match {
          case QueryOp(_, fn) => fn(spark, a.data).write.format("noop").mode("overwrite").save()
          case MartsOp => F1Pipeline.run(F1Synthetic.raw(spark, a.data), martsDir)
        }
        false
      } catch { case e: Throwable => log(s"${op.name} threw: ${e.getMessage}"); true }
    ((System.nanoTime() - t0) / 1e9, (cpuNs - c0) / 1e9, threw)
  }

  /** Run one op under spans: op > construct / plan / execute. */
  private def traceOp(t: Tracer, op: Op): (Double, Double, Boolean) = {
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val threw =
      try {
        t.span("op", op.name) {
          op match {
            case QueryOp(_, fn) =>
              val df = t.span("construct", op.name)(fn(spark, a.data))
              t.span("plan", op.name)(df.queryExecution.executedPlan)
              t.span("execute", op.name)(df.write.format("noop").mode("overwrite").save())
            case MartsOp =>
              val raw = t.span("construct", op.name)(F1Synthetic.raw(spark, a.data))
              t.span("execute", op.name)(F1Pipeline.run(raw, martsDir))
          }
        }
        false
      } catch { case e: Throwable => log(s"${op.name} threw: ${e.getMessage}"); true }
    ((System.nanoTime() - t0) / 1e9, (cpuNs - c0) / 1e9, threw)
  }

  /** Cumulative prefixes of the marts DAG, one span per dbt layer: each
    * span materializes (noop sink) every output of its layer, which
    * recomputes the layers below it. Mirrors `F1Pipeline.build` with its
    * defaults, the path `F1Pipeline.run` takes.
    */
  private def traceLayers(t: Tracer): Unit = t.span("layers", MartsOp.name) {
    def noop(dfs: DataFrame*): Unit =
      dfs.foreach(_.write.format("noop").mode("overwrite").save())
    val raw = F1Synthetic.raw(spark, a.data)
    val stgLh = F1Staging.stgLapsHistorical(raw.lapsHistorical)
    val stgLr = F1Staging.stgLapsRealtime(raw.lapsRealtime)
    val stgPh = F1Staging.stgPosition(raw.positionHistorical, isRealtime = false)
    val stgPr = F1Staging.stgPosition(raw.positionRealtime, isRealtime = true)
    val lapsAll = F1Intermediate.lapsAll(stgLh, stgLr)
    val positionAll = F1Intermediate.positionAll(stgPh, stgPr)
    val sdl = F1Intermediate.sessionDriverLapsOptimized(lapsAll, positionAll)
    val features = F1Intermediate.driverLapFeatures(sdl, partitionAggsViaJoin = true)
    // staging outputs as the intermediate layer consumes them: unioned
    t.span("pipeline.staging", MartsOp.name)(
      noop(stgLh.unionByName(stgLr), stgPh.unionByName(stgPr)))
    t.span("pipeline.intermediate", MartsOp.name)(noop(lapsAll, positionAll))
    t.span("pipeline.asof", MartsOp.name)(noop(sdl))
    t.span("pipeline.features", MartsOp.name)(noop(features))
    t.span("pipeline.marts", MartsOp.name)(noop(F1Marts.fctDriverLaps(features),
      F1Marts.fctDriverRaceSummary(features), F1Marts.finalF1(features)))
    sweep()
  }

  /** One pass over `passOps`. After each op, outside the timed window,
    * `beforeSweep` runs (the traced run reads the cache there), then the
    * cache sweep, then a full GC, after which the retained heap is read; the
    * pass reports the median over its ops. Every op thus starts on a freshly
    * collected heap (set-up ends with a full GC too).
    */
  private def pass(passOps: Seq[Op], bad: Set[String],
                   runOp: Op => (Double, Double, Boolean),
                   beforeSweep: Op => Unit = _ => ()): Pass = {
    var wall, cpu = 0.0
    var failed = 0
    val heap = passOps.map { op =>
      val (w, c, threw) = runOp(op)
      beforeSweep(op)
      sweep()
      wall += w; cpu += c
      log(f"  ${op.name} $w%.3f s")
      if (threw || bad.contains(op.name)) failed += 1
      heapAfterGcMb
    }
    Pass(wall, cpu, median(heap), passOps.size, failed)
  }

  private def dirStats(dir: File): (Long, Long) =
    Option(dir.listFiles).map(_.toSeq).getOrElse(Nil).foldLeft((0L, 0L)) {
      case ((n, b), f) =>
        if (f.isDirectory) { val (n2, b2) = dirStats(f); (n + n2, b + b2) }
        else if (f.getName.startsWith("part-")) (n + 1, b + f.length)
        else (n, b)
    }

  def run(): Unit = {
    val passOps = ops
    // ---- set-up: one untimed pass that reads every table the ops use,
    // builds their fixtures, warms the JIT and doubles as the output check
    def sinceStart = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    log(f"session up at $sinceStart%.1f s")
    val checks = passOps.map { op =>
      val got = fingerprintOp(op)
      log(f"checked ${op.name} at $sinceStart%.1f s")
      val ok = got.toOption.exists(fp => want.fingerprints.get(op.name).contains(fp))
      if (!ok) log(s"check failed: ${op.name} got ${got.fold(identity, _.render)}" +
        s" expected ${want.fingerprints.get(op.name).map(_.render).getOrElse("none")}")
      op.name -> ok
    }
    val bad = checks.collect { case (n, false) => n }.toSet
    val fixtureS = QueryShared.fixtureBuildSecs.values.asScala.map(_.doubleValue).sum
    System.gc()
    log(f"checks done at $sinceStart%.1f s")
    settleJit()
    val setupS = sinceStart
    log(f"JIT settled at $setupS%.1f s")

    // ---- timed passes until --seconds is spent, at least two untraced ones:
    // a pass takes seconds here, and one sample per run is too noisy. A
    // traced run first spends half of --seconds (at least one pass) traced,
    // so its layer metrics come from passes as warm as an untraced run's.
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val traced =
      if (a.trace) Some(runTraced(passOps, bad, elapsed < a.seconds / 2)) else None
    val plain = scala.collection.mutable.ArrayBuffer[Pass]()
    while (plain.size < MinPasses || elapsed < a.seconds) {
      plain += pass(passOps, bad, timeOp)
      log(f"pass wall ${plain.last.wallS}%.2f s cpu ${plain.last.cpuS}%.2f s")
    }
    val loadEnd = os.getSystemLoadAverage

    val all = plain ++ traced.map(_._1).getOrElse(Nil)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val host = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "nproc" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "spark" -> spark.version, "sf_dir" -> a.data,
      "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
      "passes" -> plain.size, "traced_passes" -> traced.map(_._1.size).getOrElse(0),
      "ops" -> passOps.map(_.name), "checks_failed" -> bad.toSeq.sorted)
    println(s"host $host")

    val metrics: Seq[(String, Double, String)] = traced match {
      case None =>
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", median(plain.map(_.wallS)), "s"),
          ("cpu_s", median(plain.map(_.cpuS)), "s"),
          ("heap_retained_mb", median(plain.map(_.heapMb)), "MB"),
          ("ok_ratio", (attempted - failed).toDouble / math.max(attempted, 1), "ratio"))
      case Some((tp, layer)) =>
        val overhead = median(tp.map(_.wallS)) - median(plain.map(_.wallS))
        layer ++ Seq(("sources.fixture_build_s", fixtureS, "s"),
          ("trace.overhead_s", overhead, "s"))
    }
    val n = traced.map(_._1.size).getOrElse(plain.size)
    metrics.foreach { case (k, v, u) =>
      println(f"metric $k%-26s $v%12.4f $u%-5s (median of $n passes)")
    }
    println(Json.obj(
      "correct" -> (bad.isEmpty && failed == 0),
      "attempted" -> math.max(attempted, 1),
      "failed" -> failed,
      "metrics" -> Json.Raw(metrics.map { case (k, v, u) =>
        Json.str(k) + ":" + Json.obj("value" -> v, "unit" -> u) }.mkString("{", ",", "}"))))
  }

  /** The traced passes of a `--trace 1` run, repeated while `more`; returns
    * them with the median per-layer metrics, and writes every span to the
    * work directory.
    */
  private def runTraced(passOps: Seq[Op], bad: Set[String], more: => Boolean)
    : (Vector[Pass], Seq[(String, Double, String)]) = {
    val t = new Tracer(sc)
    sc.addSparkListener(t)
    val datasetBytes = Option(new File(a.data).listFiles).map(_.map(_.length).sum).getOrElse(1L)
    val perPass = scala.collection.mutable.ArrayBuffer[(Pass, Map[String, Double])]()
    while (perPass.isEmpty || more) {
      val first = t.spans.size
      var cached = 0.0
      val p = t.span("pass", "") {
        pass(passOps, bad, op => traceOp(t, op), _ => cached = math.max(cached, cachedMb))
      }
      val (outFiles, outBytes) =
        if (a.workload == "f1_marts") dirStats(new File(martsDir)) else (0L, 0L)
      if (a.workload == "f1_marts") traceLayers(t)
      t.settle()
      perPass += ((p, layerMetrics(t, t.spans.drop(first).toSeq, p, cached,
        datasetBytes, outFiles, outBytes)))
    }
    sc.removeSparkListener(t)
    writeSpans(t)
    val names = perPass.head._2.keys.toSeq
    val units = LayerUnits
    (perPass.map(_._1).toVector,
      names.sorted.map(k => (k, median(perPass.map(_._2(k)).toSeq), units(k))))
  }

  private val LayerUnits: Map[String, String] = Map(
    "sources.load_s" -> "s", "sources.schema_jobs" -> "count",
    "sources.scan_mb" -> "MB", "sources.scan_amp" -> "ratio",
    "pipeline.staging_s" -> "s", "pipeline.intermediate_s" -> "s",
    "pipeline.asof_s" -> "s", "pipeline.features_s" -> "s",
    "pipeline.marts_s" -> "s", "pipeline.jobs" -> "count",
    "pipeline.write_s" -> "s", "pipeline.out_mb" -> "MB",
    "pipeline.out_files" -> "count",
    "operators.construct_s" -> "s", "operators.eager_jobs" -> "count",
    "operators.eager_job_med_ms" -> "ms", "queries.plan_s" -> "s",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_s" -> "s", "exec.cpu_s" -> "s",
    "exec.gc_s" -> "s", "exec.idle_core_s" -> "s", "exec.parallel_eff" -> "ratio",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.skew" -> "ratio", "exec.cached_mb" -> "MB",
    "exec.failed_tasks" -> "count", "exec.task_ok_ratio" -> "ratio")

  /** Per-layer values of one traced pass from its spans and counters. */
  private def layerMetrics(t: Tracer, spans: Seq[Span], p: Pass, cachedMb: Double,
                           datasetBytes: Long, outFiles: Long, outBytes: Long)
    : Map[String, Double] = {
    val self = Spans.selfTimes(spans)
    def selfS(name: String) = spans.filter(_.name == name).map(s => self(s.id)).sum / 1e9
    def durS(name: String) = spans.filter(_.name == name).map(_.dur).sum / 1e9
    val opIds = spans.filter(s => Set("op", "construct", "plan", "execute")(s.name)).map(_.id)
    val cs = opIds.map(t(_))
    def sum(f: Counters => Long) = cs.map(f).sum.toDouble
    val construct = spans.filter(_.name == "construct").map(s => t(s.id))
    val eagerMs = construct.flatMap(_.jobMs).map(_.toDouble)
    val tasks = sum(_.tasks)
    val taskS = sum(_.taskNs) / 1e9
    val slowest = cs.map(_.slowestStage).maxByOption(_._1).map(_._2).getOrElse(1.0)
    // layer self times: differences between cumulative prefix spans
    val prefix = Seq("staging", "intermediate", "asof", "features", "marts")
      .map(l => l -> durS(s"pipeline.$l"))
    val layers = prefix.zip(0.0 +: prefix.map(_._2)).map { case ((l, cum), prev) =>
      s"pipeline.${l}_s" -> math.max(0.0, cum - prev) }
    val marts = a.workload == "f1_marts"
    Map(
      "sources.load_s" -> sum(_.schemaJobMs) / 1e3,
      "sources.schema_jobs" -> sum(_.schemaJobs),
      "sources.scan_mb" -> sum(_.inputBytes) / 1e6,
      "sources.scan_amp" -> sum(_.inputBytes) / datasetBytes,
      "pipeline.jobs" -> (if (marts) sum(_.jobs) else 0.0),
      "pipeline.write_s" ->
        (if (marts) math.max(0.0, durS("execute") - durS("pipeline.marts")) else 0.0),
      "pipeline.out_mb" -> outBytes / 1e6,
      "pipeline.out_files" -> outFiles.toDouble,
      "operators.construct_s" -> selfS("construct"),
      "operators.eager_jobs" -> construct.map(_.jobs).sum.toDouble,
      "operators.eager_job_med_ms" -> median(eagerMs),
      "queries.plan_s" -> selfS("plan"),
      "exec.s" -> selfS("execute"),
      "exec.jobs" -> sum(_.jobs), "exec.stages" -> sum(_.stages),
      "exec.tasks" -> tasks, "exec.task_s" -> taskS,
      "exec.cpu_s" -> sum(_.cpuNs) / 1e9, "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "exec.idle_core_s" -> math.max(0.0, p.wallS * cores - taskS),
      "exec.parallel_eff" -> taskS / math.max(p.wallS * cores, 1e-9),
      "exec.shuffle_write_mb" -> sum(_.shuffleWrite) / 1e6,
      "exec.shuffle_read_mb" -> sum(_.shuffleRead) / 1e6,
      "exec.spill_mb" -> sum(_.spill) / 1e6,
      "exec.skew" -> slowest,
      "exec.cached_mb" -> cachedMb,
      "exec.failed_tasks" -> sum(_.failedTasks),
      "exec.task_ok_ratio" -> (if (tasks == 0) 1.0 else (tasks - sum(_.failedTasks)) / tasks),
    ) ++ layers
  }

  /** Every span with its self time and counters, keyed by op name. */
  private def writeSpans(t: Tracer): Unit = {
    val self = Spans.selfTimes(t.spans.toSeq)
    val rows = t.spans.map { s =>
      val c = t(s.id)
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "dur_ms" -> s.dur / 1e6, "self_ms" -> self(s.id) / 1e6, "jobs" -> c.jobs,
        "stages" -> c.stages, "tasks" -> c.tasks, "task_ms" -> c.taskNs / 1e6,
        "cpu_ms" -> c.cpuNs / 1e6, "gc_ms" -> c.gcMs,
        "shuffle_write_b" -> c.shuffleWrite, "shuffle_read_b" -> c.shuffleRead,
        "spill_b" -> c.spill, "input_b" -> c.inputBytes,
        "schema_jobs" -> c.schemaJobs, "failed_tasks" -> c.failedTasks)
    }
    val byOp = t.spans.groupBy(_.op).filter(_._1.nonEmpty).map { case (op, ss) =>
      Json.str(op) + ":" + Json.obj(ss.groupBy(_.name).toSeq.sortBy(_._1).map {
        case (n, xs) => s"${n}_self_ms" -> xs.map(s => self(s.id)).sum / 1e6 / xs.size
      }: _*)
    }.mkString("{", ",", "}")
    val unattributed = t(-1).jobs
    val out = Json.obj("workload" -> a.workload, "seed" -> a.seed,
      "unattributed_jobs" -> unattributed, "per_op_mean" -> Json.Raw(byOp),
      "spans" -> Json.Raw(rows.mkString("[\n", ",\n", "\n]")))
    val path = Paths.get(a.work, s"trace-${a.workload}-${a.seed}.json")
    Files.writeString(path, out)
    log(s"spans written to $path")
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
