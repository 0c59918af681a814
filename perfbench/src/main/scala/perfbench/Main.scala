package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The benchmark entry point for one workload run:
  *
  * {{{
  * perfbench.Main --workload bbcode_turns|dedup_docs --seed N
  *   --seconds S --trace 0|1 --root <repo checkout> --work <scratch dir>
  *   --traces <dir for span files>
  * }}}
  *
  * A closed loop: one client runs one production job at a time, back to
  * back, for `--seconds`, on `local[min(cores, 4)]` in this JVM. Set-up
  * (session, seeded input written once as parquet, one warm-up job) comes
  * first; every timed repetition reads that input and writes a fresh output
  * directory. The last output is then checked, and `graft.core` is checked
  * against the reference goldens. The last stdout line is the JSON result;
  * the exit code is 0 only when every check passed.
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` registers a
  * Spark listener, records spans around each layer's public calls, writes
  * the spans to `--traces`, and reports the per-layer metrics.
  */
object Main {
  private val osMx = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of this whole JVM so far. */
  def processCpuS(): Double = osMx.getProcessCpuTime / 1e9

  /** End-to-end metrics (tracing off): name → unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_s" -> "s", "rows_per_s" -> "rows/s",
    "cpu_s_per_mrow" -> "cpu-s/Mrow", "out_bytes_per_in_byte" -> "ratio")

  /** Per-layer metrics (traced run): name → unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.parse_us_per_row" -> "us", "core.parse_mb_per_s" -> "MB/s",
    "core.transform_us_per_row" -> "us", "core.alloc_bytes_per_row" -> "B",
    "core.tags_per_row" -> "count", "core.cpu_share" -> "ratio",
    "pipeline.extract_noop_s" -> "s", "pipeline.passthrough_s" -> "s",
    "pipeline.overhead_us_per_row" -> "us", "pipeline.task_busy_s" -> "s",
    "pipeline.parse_errors" -> "count",
    "sources.scan_s" -> "s", "sources.read_mb" -> "MB", "sources.splits" -> "count",
    "sink.self_s" -> "s", "sink.files" -> "count", "sink.bytes" -> "B",
    "sink.spill_mb" -> "MB", "sink.commit_s" -> "s",
    "dedup.pairs_s" -> "s", "dedup.pairs" -> "count", "dedup.pairs_per_removed_doc" -> "ratio",
    "dedup.cc_s" -> "s", "dedup.cc_iterations" -> "count", "dedup.cc_converged" -> "bool",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.tasks" -> "count",
    "spark.stages" -> "count", "spark.task_p50_s" -> "s", "spark.task_max_s" -> "s",
    "spark.task_skew" -> "ratio", "spark.core_idle_frac" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "trace.overhead_s" -> "s", "trace.call_self_s" -> "s", "host.cpu_probe_gops" -> "Gop/s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: File, work: File, traces: File)

  def parseArgs(args: Array[String]): Args = {
    require(args.length % 2 == 0, s"arguments must be --flag value pairs: ${args.mkString(" ")}")
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = get("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, trace == "1",
      new File(get("root")), new File(get("work")), new File(get("traces")))
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Host CPU probe: a fixed-work xorshift spin on `threads` threads, in
    * 10^9 loop iterations per second. Context only, never gated.
    */
  def cpuProbe(threads: Int, itersPerThread: Long = 100000000L): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { seed =>
      val t = new Thread(() => {
        var x = seed.toLong | 1L
        var i = 0L
        while (i < itersPerThread) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42L) println("") // keeps the loop live
      })
      t.start(); t
    }
    ts.foreach(_.join())
    threads * itersPerThread / ((System.nanoTime() - t0) / 1e9) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val resources = new File(a.root, "src/test/resources")
    require(new File(resources, "oracle_fixtures.jsonl").isFile,
      s"no reference goldens under $resources: --root must be the repository checkout")
    FileUtils.deleteDirectory(a.work)
    a.work.mkdirs()
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val spark = session(cores, a.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ok = try run(a, spark, cores, jvmStartMs, sessionS, resources)
    finally {
      spark.stop()
      FileUtils.deleteDirectory(a.work)
    }
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  private def run(a: Args, spark: SparkSession, cores: Int, jvmStartMs: Long, sessionS: Double,
                  resources: File): Boolean = {
    val runId = f"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${System.currentTimeMillis()}%d"
    val tracer = new Tracer(runId, a.trace)
    def path(n: String) = new File(a.work, n).getPath
    println(s"# perfbench run=$runId cores=$cores seconds=${a.seconds}")

    // ---- set-up, once: the seeded input written as parquet, then one
    // warm-up job. setup_s runs from JVM start to the first timed job.
    val in = path("in")
    val b0 = System.nanoTime()
    val w = tracer.span("setup.input")(Workload(a.workload, spark, a.seed))
    tracer.span("setup.write")(w.writeInput(in))
    val buildS = (System.nanoTime() - b0) / 1e9
    val w0 = System.nanoTime()
    tracer.span("setup.warmup") {
      w.job(in, path("warm"))
      FileUtils.deleteDirectory(new File(path("warm")))
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val inBytes = w.dataFiles(in)._2
    println(s"# input ${w.props.map { case (k, v) => s"$k=$v" }.mkString("; ")}; parquet_bytes=$inBytes")
    println(f"# setup_s=$setupS%.3f (JVM start to session $sessionS%.3f, input generated and " +
      f"written $buildS%.3f, warm-up job $warmS%.3f)")

    // ---- timed repetitions: closed loop, one job at a time
    val jobS = mutable.ArrayBuffer.empty[Double]
    val cpuS = mutable.ArrayBuffer.empty[Double]
    val outs = mutable.ArrayBuffer.empty[String]
    def timedJob(): Unit = {
      val out = path(s"out-${outs.size}")
      val c0 = processCpuS()
      val t0 = System.nanoTime()
      w.job(in, out)
      jobS += (System.nanoTime() - t0) / 1e9
      cpuS += processCpuS() - c0
      outs += out
    }
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    var coreM = Map.empty[String, Double]
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    if (!a.trace) {
      while (jobS.size < 2 || elapsed < a.seconds) timedJob()
    } else {
      // untraced jobs (no listener, no spans) alternate with traced
      // repetitions; their difference is the tracing overhead
      val probe = new SparkProbe
      coreM = tracer.span("core")(w.core(tracer))
      while (layer.size < 2 || elapsed < a.seconds) {
        timedJob()
        spark.sparkContext.addSparkListener(probe)
        val out = path(s"out-${outs.size}")
        layer += tracer.span("rep")(w.traced(in, out, tracer, probe))
        outs += out
        spark.sparkContext.removeSparkListener(probe)
      }
    }

    // ---- correctness: the last repetition's output, then the core goldens.
    // Every repetition runs the same job; reading back every output would
    // cost more than the timed jobs themselves on a small box.
    val outBytes = outs.map(o => w.dataFiles(o)._2.toDouble)
    outs.init.foreach(o => FileUtils.deleteDirectory(new File(o)))
    val check0 = System.nanoTime()
    // the check lists the output tree on the driver: Spark's distributed
    // listing job for trees of more than 32 directories costs more here
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
    val checked = tracer.span("check")(w.verify(outs.last))
    spark.conf.unset("spark.sql.sources.parallelPartitionDiscovery.threshold")
    val checkS = (System.nanoTime() - check0) / 1e9
    val attempted = checked.attempted
    val failed = checked.failed
    val g0 = System.nanoTime()
    val (goldens, goldenFailed) = tracer.span("check.goldens")(Check.goldens(resources))
    val goldenS = (System.nanoTime() - g0) / 1e9
    val probe1 = cpuProbe(1)
    val probeN = cpuProbe(cores)

    println(f"# correctness: rows checked=$attempted failed=$failed " +
      f"failed_rows_frac=${if (attempted > 0) failed.toDouble / attempted else 1.0}%.6f " +
      f"(last of ${outs.size} outputs: ${checked.detail}) in $checkS%.1f s; core goldens checked=$goldens " +
      f"failed=$goldenFailed in $goldenS%.1f s")
    println(f"# host cpu probe: 1 thread $probe1%.3f Gop/s, $cores threads $probeN%.3f Gop/s")
    println(f"# job_s samples=${jobS.size} median=${Stats.median(jobS.toSeq)}%.4f " +
      f"p25=${Stats.quantile(jobS.toSeq, 0.25)}%.4f p75=${Stats.quantile(jobS.toSeq, 0.75)}%.4f " +
      f"min=${jobS.min}%.4f max=${jobS.max}%.4f" + (if (a.trace) " (untraced jobs of the traced run)" else ""))

    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) {
        val job = Stats.median(jobS.toSeq)
        val e2e = Map(
          "setup_s" -> setupS,
          "job_s" -> job,
          "rows_per_s" -> w.rows / job,
          "cpu_s_per_mrow" -> cpuS.sum / (w.rows * cpuS.size) * 1e6,
          "out_bytes_per_in_byte" -> Stats.median(outBytes.toSeq) / inBytes)
        EndToEnd.map { case (n, u) => (n, u, e2e(n)) }
      } else {
        val summary = tracer.summary
        println("# spans: name count median_s median_self_s")
        summary.foreach { case (n, c, d, s) => println(f"#   $n%-34s $c%3d $d%10.4f $s%10.4f") }
        val traceFile = new File(a.traces, s"$runId.jsonl")
        tracer.write(traceFile)
        println(s"# spans written to $traceFile")
        val keys = layer.flatMap(_.keys).distinct
        val med = keys.map(k => k -> Stats.median(layer.flatMap(_.get(k)).toSeq)).toMap ++ coreM ++ Map(
          "trace.overhead_s" -> (Stats.median(layer.map(_("job_s")).toSeq) - Stats.median(jobS.toSeq)),
          "trace.call_self_s" -> summary.find(_._1 == w.callSpan).map(_._4).getOrElse(0.0),
          "host.cpu_probe_gops" -> probe1)
        PerLayer.map { case (n, u) => (n, u, med.getOrElse(n, 0.0)) }
      }
    metrics.foreach { case (n, u, v) => println(f"# $n%-30s $v%.6g $u") }

    println(f"# JVM uptime at report ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    val correct = failed == 0 && goldenFailed == 0 && attempted > 0
    val body = metrics.map { case (n, u, v) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${attempted + goldens},""" +
      s""""failed":${failed + goldenFailed},"metrics":$body}""")
    correct
  }
}
