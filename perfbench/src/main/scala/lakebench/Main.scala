package lakebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.sql.SparkSession

final case class Config(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    cores: Int = 4,
    tiny: Boolean = false,
    expected: String = "perfbench/expected/serve.tsv",
    runDir: String = ".bench_run/manual",
    out: String = "",
    report: String = "",
    spans: String = "",
    probe: String = "")

object Config {
  def parse(args: Array[String]): Config = {
    @annotation.tailrec
    def go(rest: List[String], c: Config): Config = rest match {
      case Nil => c
      case "--workload" :: v :: t => go(t, c.copy(workload = v))
      case "--seed" :: v :: t => go(t, c.copy(seed = v.toLong))
      case "--seconds" :: v :: t => go(t, c.copy(seconds = v.toDouble))
      case "--trace" :: v :: t => go(t, c.copy(trace = v == "1"))
      case "--cores" :: v :: t => go(t, c.copy(cores = v.toInt))
      case "--expected" :: v :: t => go(t, c.copy(expected = v))
      case "--run-dir" :: v :: t => go(t, c.copy(runDir = v))
      case "--out" :: v :: t => go(t, c.copy(out = v))
      case "--report" :: v :: t => go(t, c.copy(report = v))
      case "--spans" :: v :: t => go(t, c.copy(spans = v))
      case "--probe" :: v :: t => go(t, c.copy(probe = v))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    go(args.toList, Config())
  }
}

/** What every workload shares: the session, the tracer and listener, and
  * the per-layer samples of traced ops.
  */
final class Ctx(val spark: SparkSession, val cfg: Config) {
  val tracer = new Tracer
  val listener = new JobListener
  spark.sparkContext.addSparkListener(listener)
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v
  def sample(name: String, v: Long): Unit = sample(name, v.toDouble)
  /** Run-level per-layer values that are not per-op means. */
  val runValues = mutable.LinkedHashMap[String, Double]()
  /** Spark jobs of the last traced op. */
  var lastJobs: Seq[JobRec] = Nil
  def dir(name: String): String = Paths.get(cfg.runDir, name).toString
}

/** A closed-loop workload: one client issues op after op. */
trait Workload {
  /** Rows (events) one op feeds to the engine; fixed per workload. */
  def rowsPerOp: Int
  /** The op pool is finite; the loop stops early if it runs dry. */
  def maxOps: Int
  /** The loop ends on a multiple of this many ops, so every run measures
    * the same mix of a workload whose ops differ by design.
    */
  def roundSize: Int = 1
  /** Fresh state: wipe, generate inputs, bootstrap the lake. */
  def bootstrap(): Unit
  /** JIT/codegen warm-up ops on the last bootstrap, outside the timed loop. */
  def warmUp(): Unit
  def op(i: Int): Unit
  /** Family label of op `i` (serve reports per-family medians). */
  def family(i: Int): String = "op"
  /** What op `i` ran, for the report. */
  def label(i: Int): String = family(i)
  /** Called after a traced op, before its spans are attributed: add
    * derived spans (streaming progress) and record per-op samples.
    */
  def afterTracedOp(i: Int, root: Int, startUs: Long, endUs: Long): Unit = ()
  /** Called after every op, outside its timed window. */
  def betweenOps(): Unit = ()
  /** Called once after the loop: per-layer run values (traced runs). */
  def runLayerMetrics(ops: Int, loopStartMs: Long, loopEndMs: Long): Unit = ()
  /** Correctness problems; empty means the outputs are right. */
  def verify(): Seq[String]
  def teardown(): Unit
  def info: Map[String, Any]
}

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_ops_s" -> "1/s", "latency_p50_ms" -> "ms",
    "latency_tail_ms" -> "ms", "rss_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.checkpoint_ms" -> "ms", "streaming.source_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.trigger_ms" -> "ms", "streaming.batches_per_op" -> "count",
    "streaming.empty_batch_ratio" -> "ratio", "streaming.drain_wait_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes",
    "streaming.state_commit_ms" -> "ms",
    "sources.frame_bytes_per_op" -> "bytes",
    "tables.commits_per_op" -> "count",
    "tables.files_per_op" -> "count", "tables.bytes_per_row" -> "bytes",
    "tables.resolve_ms" -> "ms", "tables.scan_file_ratio" -> "ratio",
    "tables.lake_op_p50_ms" -> "ms", "tables.bytes_written_per_row" -> "bytes",
    "tables.live_files" -> "count",
    "operators.build_ms" -> "ms", "operators.op_p50_ms" -> "ms",
    "functions.op_p50_ms" -> "ms", "plans.plan_ms" -> "ms",
    "materialize.run_ms" -> "ms", "materialize.jobs_per_run" -> "count",
    "materialize.view_computes_per_run" -> "count",
    "materialize.scan_bytes_per_run" -> "bytes",
    "spark.exec_ms" -> "ms", "spark.scan_bytes_per_op" -> "bytes",
    "spark.shuffle_bytes_per_op" -> "bytes", "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.job_ms" -> "ms",
    "spark.scheduler_delay_ms" -> "ms", "jvm.gc_ms" -> "ms",
    "driver.remainder_ms" -> "ms") ++
    Tracer.Layers.filter(_ != "driver").map(l => s"self.${l}_ms" -> "ms") ++ Seq(
    "trace.latency_p50_ms" -> "ms", "trace.overhead_p50_ms" -> "ms")

  /** Per-layer values a traced run prints and reports beside `PerLayer`
    * but leaves out of the result's metrics: the rewrite-path timers read
    * only on `maintain`, the bookkeeping-commit share is 0 unless a job
    * commits without data, and the identity residual is 0 by construction
    * (a check on the attribution, not a measurement).
    */
  val ReportOnly: Seq[(String, String)] = Seq(
    "tables.append_ms" -> "ms", "tables.upsert_ms" -> "ms", "tables.delete_ms" -> "ms",
    "tables.maintenance_ms" -> "ms", "tables.bookkeeping_commit_ratio" -> "ratio",
    "trace.identity_error_ms" -> "ms")

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    val code =
      try run(cfg)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  def session(cfg: Config): SparkSession = {
    val s = graft.GraftSession.builder(s"local[${cfg.cores}]", cfg.cores)
      .appName("perfbench")
      .config("spark.local.dir", Paths.get(cfg.runDir, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(cfg.runDir, "spark-warehouse").toString)
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(ctx: Ctx): Workload = ctx.cfg.workload match {
    case "ingest" => new IngestWorkload(ctx)
    case "serve" => new ServeWorkload(ctx)
    case "maintain" => new MaintainWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Runs one workload; returns the JVM exit code (0 ok, 3 incorrect). */
  def run(cfg: Config): Int = {
    Files.createDirectories(Paths.get(cfg.runDir))
    val t0Run = System.nanoTime()
    val spark = session(cfg)
    val sessionS = (System.nanoTime() - t0Run) / 1e9
    val ctx = new Ctx(spark, cfg)
    if (cfg.probe.nonEmpty) {
      new ServeWorkload(ctx).probe(cfg.probe)
      spark.stop()
      return 0
    }
    val w = workload(ctx)
    def seconds(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // one bootstrap per run: at this engine's costs a run's time budget
    // does not fit several; the median over runs steadies setup_s
    val bootTime = seconds(w.bootstrap())
    val warmTime = seconds(w.warmUp())
    val setupS = sessionS + bootTime + warmTime

    val lat = mutable.ArrayBuffer[(Int, Double, Boolean)]() // (op, ms, traced)
    var attempted = 0
    var failed = 0
    val tracer = ctx.tracer
    val loopStartMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    // traced runs alternate traced and untraced ops, so a traced run needs
    // an even round to hold both of every kind
    val round = if (cfg.trace && w.roundSize % 2 == 1) 2 * w.roundSize else w.roundSize
    var i = 0
    while ((System.nanoTime() < deadline || i % round != 0) && i < w.maxOps) {
      // traced runs alternate traced and untraced ops: the difference of
      // their medians is the tracing overhead, measured under one state
      val traced = cfg.trace && i % 2 == 0
      var root = -1
      if (traced) {
        ctx.listener.take()
        ctx.listener.recording = true
        root = tracer.beginOp(i)
      }
      val gc0 = Stats.gcMs
      val t0us = tracer.nowUs
      val t0 = System.nanoTime()
      attempted += 1
      val ok =
        try { w.op(i); true }
        catch {
          case e: Throwable =>
            failed += 1
            System.err.println(s"op $i failed: $e")
            e.printStackTrace()
            false
        }
      val ms = (System.nanoTime() - t0) / 1e6
      val t1us = tracer.nowUs
      if (traced) {
        tracer.endOp(root, t0us, t1us)
        ctx.sample("jvm.gc_ms", (Stats.gcMs - gc0).toDouble)
        BusBridge.drain(spark.sparkContext)
        ctx.listener.recording = false
        attributeJobs(ctx, i, root, t0us, t1us)
        w.afterTracedOp(i, root, t0us, t1us)
        val self = Tracer.selfTimes(tracer.opSpans(i))
        Tracer.Layers.foreach { l =>
          val v = self.getOrElse(l, 0L) / 1000.0
          ctx.sample(if (l == "driver") "driver.remainder_ms" else s"self.${l}_ms", v)
        }
        ctx.sample("trace.identity_error_ms", math.abs(self.values.sum - (t1us - t0us)) / 1000.0)
      }
      w.betweenOps()
      if (ok) lat += ((i, ms, traced))
      i += 1
    }
    val loopEndMs = System.currentTimeMillis()
    val loopSeconds = (loopEndMs - loopStartMs) / 1000.0
    if (cfg.trace) w.runLayerMetrics(attempted, loopStartMs, loopEndMs)

    val t0Verify = System.nanoTime()
    val problems = (try w.verify() catch {
      case e: Throwable =>
        e.printStackTrace()
        Seq(s"verification threw: $e")
    }) ++ (if (attempted == 0) Seq("no op ran") else Nil) ++
      (if (failed > 0) Seq(s"$failed of $attempted timed ops threw") else Nil)
    val verifyS = (System.nanoTime() - t0Verify) / 1e9
    val rssMb = Stats.rssPeakMb
    w.teardown()

    val e2eLat = if (cfg.trace) lat.filter(!_._3).map(_._2) else lat.map(_._2)
    // a latency of no sample would read as 0 ms, a gain: fail without a result
    if (e2eLat.isEmpty) throw new IllegalStateException(
      s"no latency sample: $attempted ops attempted, $failed threw; ${problems.mkString("; ")}")
    val tail = Stats.tail(e2eLat.toSeq)
    val metrics: Seq[(String, String, Double)] =
      if (!cfg.trace) Seq(
        ("setup_s", "s", setupS),
        ("throughput_ops_s", "1/s", (attempted - failed) / loopSeconds),
        ("latency_p50_ms", "ms", Stats.median(e2eLat.toSeq)),
        ("latency_tail_ms", "ms", tail._2),
        ("rss_peak_mb", "MB", rssMb))
      else {
        val tracedLat = lat.filter(_._3).map(_._2).toSeq
        ctx.runValues("trace.latency_p50_ms") = Stats.median(tracedLat)
        ctx.runValues("trace.overhead_p50_ms") = Stats.median(tracedLat) - Stats.median(e2eLat.toSeq)
        val fams = lat.groupBy(x => w.family(x._1))
        Seq("operators" -> "operators.op_p50_ms", "functions" -> "functions.op_p50_ms",
          "lake" -> "tables.lake_op_p50_ms").foreach { case (f, m) =>
          fams.get(f).foreach(xs => ctx.runValues(m) = Stats.median(xs.map(_._2).toSeq))
        }
        (PerLayer ++ ReportOnly).map { case (name, unit) =>
          val v = ctx.runValues.getOrElse(name,
            ctx.samples.get(name).map(xs => xs.sum / xs.size).getOrElse(0.0))
          (name, unit, v)
        }
      }

    val table = mutable.ArrayBuffer[String]()
    table += f"workload=${cfg.workload} seed=${cfg.seed} local[${cfg.cores}] trace=${cfg.trace} " +
      f"ops=$attempted failed=$failed failed_op_ratio=${failed.toDouble / math.max(1, attempted)}%.4f " +
      f"rows_per_op=${w.rowsPerOp} measured_s=$loopSeconds%.2f"
    table += f"latency_tail = p${tail._1}%s of ${e2eLat.size} samples (${tail._3} beyond it)"
    metrics.foreach { case (n, u, v) => table += f"  $n%-36s $v%14.4f $u" }
    problems.foreach(p => table += s"CORRECTNESS: $p")

    val host = Stats.host(cfg.cores)
    val report = Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "cores" -> cfg.cores, "host" -> host, "info" -> w.info,
      "session_s" -> sessionS, "verify_s" -> verifyS, "bootstrap_s" -> bootTime,
      "warmup_s" -> warmTime, "attempted" -> attempted, "failed" -> failed,
      "failed_op_ratio" -> failed.toDouble / math.max(1, attempted),
      "measured_s" -> loopSeconds, "latency_tail_percentile" -> tail._1,
      "latency_samples" -> e2eLat.size, "samples_beyond_tail" -> tail._3,
      "latencies_ms" -> lat.map(_._2).toSeq, "op_labels" -> lat.map(x => w.label(x._1)).toSeq, "problems" -> problems,
      "metrics" -> metrics.map { case (n, u, v) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    if (cfg.report.nonEmpty) Json.write(cfg.report, report)
    if (cfg.trace && cfg.spans.nonEmpty)
      Files.write(Paths.get(cfg.spans), tracer.toJson.getBytes("UTF-8"))
    val result = Map(
      "correct" -> problems.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.filterNot(m => ReportOnly.exists(_._1 == m._1))
        .map { case (n, u, v) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "table" -> table.toSeq, "problems" -> problems)
    if (cfg.out.nonEmpty) Json.write(cfg.out, result)
    else table.foreach(println)
    spark.stop()
    if (problems.isEmpty) 0 else 3
  }

  /** Spark jobs of a traced op become `spark` spans (deepest layer), and
    * their totals become the op's `spark.*` samples.
    */
  private def attributeJobs(ctx: Ctx, op: Int, root: Int, t0us: Long, t1us: Long): Unit = {
    val jobs = ctx.listener.take().filter(j => j.endMs * 1000 >= t0us && j.startMs * 1000 <= t1us)
    ctx.lastJobs = jobs
    jobs.foreach(j => ctx.tracer.add(root, op, s"job.${j.jobId}", "spark",
      j.startMs * 1000, j.endMs * 1000))
    val intervals = jobs.map(j => (math.max(j.startMs * 1000, t0us), math.min(j.endMs * 1000, t1us)))
    ctx.sample("spark.jobs_per_op", jobs.size)
    ctx.sample("spark.tasks_per_op", jobs.map(_.tasks).sum)
    ctx.sample("spark.job_ms", Stats.unionLength(intervals) / 1000.0)
    ctx.sample("spark.scheduler_delay_ms", jobs.map(_.schedulerDelayMs).sum)
    ctx.sample("spark.scan_bytes_per_op", jobs.map(_.inputBytes).sum)
    ctx.sample("spark.shuffle_bytes_per_op", jobs.map(_.shuffleWriteBytes).sum)
    ctx.sample("spark.output_bytes", jobs.map(_.outputBytes).sum)
    ctx.sample("spark.output_records", jobs.map(_.outputRecords).sum)
    val rec = ctx.samples.get("spark.output_records").map(_.sum).getOrElse(0.0)
    if (rec > 0) ctx.runValues("tables.bytes_written_per_row") =
      ctx.samples("spark.output_bytes").sum / rec
  }
}
