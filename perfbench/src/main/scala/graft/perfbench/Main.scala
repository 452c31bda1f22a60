package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** Runs one workload in this JVM and prints its metrics; the last stdout
  * line is the one-line JSON result.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir>
  * }}}
  *
  * Protocol: start a `local[nproc]` session; generate the inputs; one
  * cold run (the first run in this JVM, reported on its own); then warm
  * runs until they add up to `--seconds` (at least [[MinWarm]]). Before
  * every run the inputs are generated and persisted again after
  * `clearCache()` + GC, outside the clock; each of those set-ups is a
  * `setup_s` sample. Before each warm run the JIT compiler is let go
  * quiet ([[jitQuiesce]]). Every run's output is checked outside the clock
  * and every run counts: a failed check or an exception is a failure.
  * With `--trace 1`, warm runs alternate traced and untraced (at least
  * one of each); only the per-layer metrics are reported, from the
  * traced runs. */
object Main {
  val MinWarm = 1

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("work"))
    require(BenchWorkloads.names.contains(o.workload),
      s"unknown workload ${o.workload}")
    o
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(opts.work, "spark-local"))
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to a live session: class loading + SparkContext start
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val result =
      try new Runner(spark, opts, sessionS,
        BenchWorkloads(opts.workload, opts.work)).execute()
      finally spark.stop()
    result.lines.foreach(println)
    println(result.json)
    sys.exit(if (result.failed == 0) 0 else 1)
  }

  /** Process CPU seconds (all threads, Spark's and the fused kernels'). */
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean =>
      os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Waits until the JIT compiler has been idle for `quietMs` (at most
    * `maxMs`), so a timed run does not share the cores with compilation
    * queued by the run before it. */
  def jitQuiesce(quietMs: Long = 500, maxMs: Long = 3000): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    if (jit == null || !jit.isCompilationTimeMonitoringSupported) return
    val start = System.currentTimeMillis()
    var last = jit.getTotalCompilationTime
    var quietSince = start
    while (System.currentTimeMillis() - quietSince < quietMs &&
        System.currentTimeMillis() - start < maxMs) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.currentTimeMillis() }
    }
  }

  /** Peak resident set of this process, in MB (Linux `VmHWM`). */
  def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status)
      .map(_.group(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}

final case class Result(lines: Seq[String], json: String, failed: Int)

/** One workload's measurement loop. */
final class Runner(spark: SparkSession, opts: Main.Opts, sessionS: Double,
    w: BenchWorkload) {
  private val sc = spark.sparkContext
  private val nproc = Runtime.getRuntime.availableProcessors()
  private val tracker = new JobTracker
  sc.addSparkListener(tracker)
  private val tracer = new Tracer(sc)

  private val setups = mutable.ArrayBuffer.empty[Double]
  private var rows = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var firstDigest: Option[String] = None

  /** A finished run: its span and the process CPU seconds it used. */
  private final case class Done(span: Span, cpuS: Double)

  private def prepare(): Unit = {
    spark.catalog.clearCache()
    System.gc()
    val t0 = System.nanoTime()
    rows = w.prepare(spark, opts.seed)
    setups += (System.nanoTime() - t0) / 1e9
  }

  /** One counted run; None when it threw or failed its check. */
  private def once(id: Int, traced: Boolean): Option[Done] = {
    attempted += 1
    try {
      prepare()
      if (id > 0) Main.jitQuiesce() // the cold run is timed as it comes
      val cpu0 = Main.cpuSeconds
      val (out, span) = tracer.run(id, traced)(w.run(tracer))
      val cpuS = Main.cpuSeconds - cpu0
      if (traced) tracer.run(id, traced = true, "isolated")(w.isolated(tracer))
      val err = w.check(out).orElse(firstDigest.filter(_ != out.digest)
        .map(d => s"output digest changed between runs: $d -> ${out.digest}"))
      if (firstDigest.isEmpty) firstDigest = Some(out.digest)
      err.foreach(e => failures += s"run $id: $e")
      if (err.isEmpty) Some(Done(span, cpuS)) else None
    } catch {
      case NonFatal(e) =>
        failures += s"run $id: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  def execute(): Result = {
    prepare() // one more set-up sample; the first one in a JVM is slow
    val cold = once(0, traced = false)
    val warm = mutable.ArrayBuffer.empty[Done]
    val traced = mutable.ArrayBuffer.empty[Done]
    var id = 1
    var elapsed = 0.0 // run time measured so far; a failed run counts whole
    def enough =
      if (opts.trace) warm.nonEmpty && traced.nonEmpty
      else warm.size >= Main.MinWarm
    // every run counts; after a failure, stop once the time is up
    while (!(elapsed >= opts.seconds && (enough || failures.nonEmpty))) {
      val tr = opts.trace && id % 2 == 1
      val t0 = System.nanoTime()
      once(id, tr) match {
        case Some(d) =>
          (if (tr) traced else warm) += d
          elapsed += d.span.seconds
        case None => elapsed += (System.nanoTime() - t0) / 1e9
      }
      id += 1
    }
    spark.catalog.clearCache()
    tracker.sync(sc)
    val peakRss = Main.peakRssMb
    val failed = failures.size
    val metrics =
      if (opts.trace) layerMetrics(warm.toSeq, traced.toSeq)
      else endToEnd(warm.toSeq)
    val lines = mutable.ArrayBuffer.empty[String]
    lines += s"[perfbench] workload=${w.name} seed=${opts.seed} " +
      s"(${w.seedNote}) nproc=$nproc " +
      s"trace=${if (opts.trace) 1 else 0} input_rows=$rows"
    lines += f"[perfbench] attempted=$attempted failed=$failed " +
      f"failed_frac=${failed.toDouble / attempted}%.4f"
    failures.foreach(f => lines += s"[perfbench] FAILED $f")
    metrics.foreach { m => lines += s"[perfbench] ${m.line}" }
    if (!opts.trace)
      reportOnly(cold, warm.toSeq, peakRss)
        .foreach(l => lines += s"[perfbench] $l")
    writeRecord(metrics, peakRss, cold.fold(Double.NaN)(_.span.seconds))
    val json = Json.obj(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map(m => m.name ->
        Json.obj("value" -> Json.num(m.value),
          "unit" -> Json.str(m.unit))): _*))
    Result(lines.toSeq, json, failed)
  }

  private def endToEnd(warm: Seq[Done]): Seq[Metric] = {
    val runs = warm.map(_.span.seconds)
    val ms = Seq(
      Metric.timing("run_s", "s", runs, "warm runs"),
      Metric("setup_s", "s", sessionS + Stats.median(setups.toSeq),
        setups.size, f"session start $sessionS%.3f s + median input " +
          "generation and persist"))
    assert(ms.map(m => (m.name, m.unit)) == Metric.EndToEnd)
    ms
  }

  /** End-to-end figures that are reported but not gated: too noisy on a
    * shared host to gate, 0 on some workloads, or on one workload only. */
  private def reportOnly(cold: Option[Done], warm: Seq[Done],
      peakRss: Double): Seq[String] = {
    val shuffle = warm.map(d =>
      tracer.work(tracker, d.span).shuffleWriteBytes / BenchWorkloads.Mb)
    val failed = failures.size.toDouble / attempted
    Seq(f"cold_run_s ${cold.fold(Double.NaN)(_.span.seconds)}%.4f s " +
      "(first run in this JVM, n=1)",
      f"peak_rss_mb $peakRss%.1f MB (VmHWM of the JVM, n=1)",
      f"shuffle_write_mb ${if (shuffle.isEmpty) Double.NaN
      else Stats.median(shuffle)}%.3f MB (median per warm run, " +
      s"n=${shuffle.size})",
      f"failed_frac $failed%.4f (${failures.size} of $attempted runs)") ++
      w.reportOnly
  }

  private def layerMetrics(warm: Seq[Done], traced: Seq[Done]): Seq[Metric] = {
    def med(f: Done => Double, ds: Seq[Done]) =
      if (ds.isEmpty) Double.NaN else Stats.median(ds.map(f))
    val perRun = traced.map { d =>
      val g = tracer.work(tracker, d.span)
      val wall = d.span.seconds
      Map(
        "spark.jobs" -> g.jobs.toDouble,
        "spark.stages" -> g.stages.toDouble,
        "spark.tasks" -> g.tasks.toDouble,
        "spark.shuffle_write_mb" -> g.shuffleWriteBytes / BenchWorkloads.Mb,
        "spark.shuffle_read_mb" -> g.shuffleReadBytes / BenchWorkloads.Mb,
        "spark.spill_mb" -> g.spillBytes / BenchWorkloads.Mb,
        "spark.gc_s" -> g.gcMs / 1000.0,
        "spark.task_run_s" -> g.taskRunMs / 1000.0,
        "spark.driver_gap_s" -> math.max(0.0, wall - g.busyMs / 1000.0),
        "jvm.cpu_util" -> d.cpuS / (wall * nproc)) ++
        w.layers(new RunView(tracer, tracker, d.span.run))
    }
    val keys = Metric.PerLayer
    val byName = keys.map { case (k, unit, _) =>
      val vs = perRun.flatMap(_.get(k))
      k -> Metric(k, unit, if (vs.isEmpty) 0.0 else Stats.median(vs),
        vs.size, Metric.Source.getOrElse(k, "call"))
    }.toMap
    val overhead = med(_.span.seconds, traced) - med(_.span.seconds, warm)
    keys.map(_._1).map {
      case "sources.gen_s" => Metric("sources.gen_s", "s",
        Stats.median(setups.toSeq), setups.size, "call")
      case "sources.rows" => Metric("sources.rows", "count", rows.toDouble,
        1, "call")
      case "trace.overhead_s" => Metric("trace.overhead_s", "s", overhead,
        traced.size, s"traced minus untraced median run_s " +
          s"(${traced.size} traced, ${warm.size} untraced)")
      case k => byName(k)
    }
  }

  /** Writes the run's full record (metrics, spans, per-span Spark work)
    * next to the other work files. */
  private def writeRecord(metrics: Seq[Metric], peakRss: Double,
      coldS: Double): Unit = {
    val spans = tracer.spans.map { s =>
      val g = tracker.statsOf(Seq(s.group))
      Json.obj(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "kind" -> Json.str(s.kind),
        "parent" -> s.parent.fold("null")(p => Json.num(p.toLong)),
        "run" -> Json.num(s.run), "start_ns" -> Json.num(s.startNs),
        "end_ns" -> Json.num(s.endNs),
        "jobs" -> Json.num(g.jobs), "stages" -> Json.num(g.stages),
        "tasks" -> Json.num(g.tasks),
        "shuffle_write_bytes" -> Json.num(g.shuffleWriteBytes),
        "jobs_by_description" -> Json.obj(g.jobsByDesc.toSeq.map {
          case (d, n) => d -> Json.num(n) }: _*),
        "job_ms_by_description" -> Json.obj(g.msByDesc.toSeq.map {
          case (d, n) => d -> Json.num(n) }: _*),
        "counters" -> Json.obj(s.counters.toSeq.map {
          case (k, v) => k -> Json.num(v) }: _*))
    }
    val rec = Json.obj(
      "workload" -> Json.str(w.name), "seed" -> Json.num(opts.seed),
      "trace" -> Json.num(
        if (opts.trace) 1 else 0),
      "nproc" -> Json.num(nproc), "attempted" -> Json.num(attempted),
      "failures" -> Json.arr(failures.map(Json.str)),
      "setup_samples_s" -> Json.arr(setups.map(Json.num(_))),
      "metrics" -> Json.arr(metrics.map(m => Json.obj(
        "name" -> Json.str(m.name), "value" -> Json.num(m.value),
        "unit" -> Json.str(m.unit), "n" -> Json.num(m.n),
        "source" -> Json.str(m.note)))),
      "peak_rss_mb" -> Json.num(peakRss), "cold_run_s" -> Json.num(coldS),
      "spans" -> Json.arr(spans))
    val path = Paths.get(opts.work,
      s"record-${w.name}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}" +
        ".json")
    Files.write(path, rec.getBytes(StandardCharsets.UTF_8))
  }
}
