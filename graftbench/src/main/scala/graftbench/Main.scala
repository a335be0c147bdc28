package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: units of work attempted and failed,
  * its end-to-end metrics, its own layer metrics, a codec/crypto probe for
  * the traced run, and descriptive fields for the result record. */
final case class WorkloadResult(units: Int, failedUnits: Int,
    endToEnd: Seq[(String, Double)], layer: Seq[(String, Double)],
    probe: () => Seq[(String, Double)], extra: Seq[(String, Any)])

/** One workload: seeded set-up, a warm-up on a throw-away store (event
  * workloads), and the measured, checked run. */
trait Workload {
  type In
  def setup(ctx: Ctx, tag: String): In
  def warm(ctx: Ctx, in: In): Unit = ()
  /** Frees an input a later set-up repetition replaced. */
  def discard(in: In): Unit = ()
  def run(ctx: Ctx, in: In): WorkloadResult
}

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <event_backfill|curation_days> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <dir> [--commit <sha>]
  * }}}
  *
  * Set-up (seeded input generation) runs [[SetupReps]] times and reports
  * its median as `setup_s`. An event workload then makes one warm-up pass
  * over a throw-away event path, timed on its own. The workload runs once,
  * checks its outputs, and the last stdout line is the result JSON. With
  * `--trace 1` the result carries the per-layer metrics instead of the
  * end-to-end ones, and the spans are written to the out dir. */
object Main {
  val SetupReps = 3

  val Workloads: Map[String, Workload] = Map(
    "event_backfill" -> EventBackfill, "curation_days" -> CurationDays)

  val Layers = Seq("store", "codec", "crypto", "replicate", "sources", "streaming",
    "functions", "operators")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "success_rate" -> "share",
    "freshness_p50_ms" -> "ms", "freshness_p90_ms" -> "ms", "delivered_per_s" -> "1/s",
    "stored_bytes_per_user_byte" -> "ratio")

  /** Layer metrics specific to one layer, with units. Workloads that do
    * not enter a layer report 0 for it. */
  val LayerSpecific: Seq[(String, String)] = Seq(
    "store.append_s.p50" -> "s", "store.append_s.sum" -> "s", "store.append_jobs" -> "count",
    "store.segment_files.end" -> "count", "store.maintain_s.sum" -> "s",
    "store.bytes_per_event" -> "bytes",
    "codec.serialize_us" -> "us", "codec.deserialize_us" -> "us", "codec.metadata_us" -> "us",
    "crypto.encrypt_us" -> "us", "crypto.decrypt_us" -> "us",
    "replicate.run_s.p50" -> "s", "replicate.run_s.sum" -> "s", "replicate.polls" -> "count",
    "replicate.jobs_per_run" -> "count", "replicate.events_per_poll" -> "count",
    "replicate.lag.max" -> "count",
    "sources.poll_s.p50" -> "s", "sources.poll_s.sum" -> "s",
    "sources.sink_files.end" -> "count", "sources.compact_s.sum" -> "s",
    "sources.consumer_lag.max" -> "count", "sources.bytes_per_event" -> "bytes",
    "functions.decode_s.sum" -> "s", "streaming.projection_commit_s.sum" -> "s",
    "operators.curation_job_s" -> "s", "operators.daily_increment_s.p50" -> "s",
    "operators.takedown_s.p50" -> "s", "operators.maintenance_s" -> "s",
    "operators.docs_kept_ratio" -> "share",
    "trace.measured_s" -> "s")

  /** Metrics every layer carries in the traced run. */
  val PerLayerSpark: Seq[(String, String)] = Seq(
    "self_s" -> "s", "jobs" -> "count", "tasks" -> "count", "executor_cpu_s" -> "s",
    "gc_s" -> "s", "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "task_busy_share" -> "share")

  def perLayer: Seq[(String, String)] =
    Layers.flatMap(l => PerLayerSpark.map { case (m, u) => s"$l.$m" -> u }) ++ LayerSpecific

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = Files.createDirectories(Paths.get(opt("work")).toAbsolutePath)
    val out = Files.createDirectories(Paths.get(opt("out")).toAbsolutePath)
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadStart = loadAvg()
    val spark = session(work, nproc)
    val code = try {
      run(spark, workload, seed, seconds, trace, work, out, nproc, loadStart,
        opts.getOrElse("commit", "unknown"))
      0
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[graftbench] run failed: $e")
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(code)
  }

  private def session(work: Path, nproc: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$nproc]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
    val s = graft.GraftSession.configure(b, nproc).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path, nproc: Int, loadStart: Double,
      commit: String): Unit = {
    val runId = s"$workload-$seed-${if (trace) "traced" else "plain"}-${System.currentTimeMillis()}"
    val tracer = new Tracer(trace, runId, spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work, seed, seconds, nproc)

    val w = Workloads(workload)

    // ---- set-up (input generation), repeated; the last input is measured ----
    val setupTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var input = Option.empty[w.In]
    (1 to SetupReps).foreach { i =>
      val t0 = System.nanoTime()
      input.foreach(w.discard)
      input = Some(w.setup(ctx, s"s$i"))
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val in = input.get
    val tw0 = System.nanoTime()
    w.warm(ctx, in)
    val warmupS = (System.nanoTime() - tw0) / 1e9
    Files2.delete(work.resolve("warm"))
    spark.catalog.clearCache()
    ctx.samples.clear()
    System.gc()

    // ---- the measured run ----
    tracer.recording = true
    val tm0 = System.nanoTime()
    val res = w.run(ctx, in)
    val measuredS = (System.nanoTime() - tm0) / 1e9
    val layer =
      if (!trace) Nil
      else {
        val probe = res.probe()
        val fromTrace = tracer.layerMetrics(Layers) ++ Seq(
          "store.append_jobs" -> tracer.jobsPerSpan("store.append"),
          "replicate.jobs_per_run" -> tracer.jobsPerSpan("replicate.run"),
          "trace.measured_s" -> measuredS)
        val have = (res.layer ++ probe ++ fromTrace).toMap
        perLayer.map { case (m, _) => m -> have.getOrElse(m, 0.0) }
      }
    tracer.recording = false

    val attempted = res.units + ctx.checksRun
    val failed = res.failedUnits + ctx.failures.size
    val rssMb = peakRssMb()
    val e2e = Seq(
      "setup_s" -> Stats.median(setupTimes.toSeq),
      "peak_rss_mb" -> rssMb,
      "success_rate" -> (1.0 - failed.toDouble / attempted)) ++ res.endToEnd
    val units = (EndToEnd ++ perLayer).toMap
    val metrics = (if (trace) layer else e2e).map { case (k, v) =>
      k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> units(k))))
    }
    val loadEnd = loadAvg()
    val stem = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    // tracing overhead: this traced run's measured phase minus that of the
    // untraced run with the same workload and seed, when one was recorded
    val plain = out.resolve(s"$workload-seed$seed-trace0.json")
    val overheadS =
      if (!trace || !Files.exists(plain)) Double.NaN
      else "\"measured_s\": ([0-9.]+)".r.findFirstMatchIn(Files.readString(plain))
        .map(measuredS - _.group(1).toDouble).getOrElse(Double.NaN)
    val record = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "run_id" -> runId, "correct" -> ctx.failures.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "failed_checks" -> ctx.failures.toSeq,
      "setup_s_each" -> setupTimes.toSeq, "warmup_s" -> warmupS, "measured_s" -> measuredS,
      "tracing_overhead_s" -> overheadS,
      "end_to_end" -> e2e.toMap, "per_layer" -> layer.toMap, "workload_info" -> res.extra.toMap,
      "env" -> Map(
        "nproc" -> nproc, "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
        "overloaded" -> (loadStart > nproc || loadEnd > nproc),
        "java_version" -> System.getProperty("java.version"),
        "jvm" -> System.getProperty("java.vm.name"), "spark_version" -> spark.version,
        "scala_version" -> scala.util.Properties.versionNumberString,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "commit" -> commit))
    Files.writeString(out.resolve(s"$stem.json"), Json.obj(record) + "\n")
    if (trace) Files.write(out.resolve(s"$stem.spans.jsonl"),
      tracer.spanLines.map(_ + "\n").mkString.getBytes("UTF-8"))
    if (loadStart > nproc || loadEnd > nproc)
      System.err.println(s"[graftbench] WARNING: load average ($loadStart, $loadEnd) exceeds nproc $nproc")
    println(Json.obj(Seq("correct" -> ctx.failures.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.Raw(Json.obj(metrics)))))
    System.out.flush()
  }

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** Peak resident set size of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }
}
