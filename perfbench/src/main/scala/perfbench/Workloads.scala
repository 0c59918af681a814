package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.DedupMain
import graft.core.BBCodeParser
import graft.ops.DedupOps
import graft.pipeline.{ExtractJob, TranscriptGen, Turn}
import graft.sources.TranscriptSource
import org.apache.spark.sql.SparkSession

/** One benchmark workload: how its seeded input is built, the production
  * job a timed repetition runs, the check of that job's output, and the
  * layer-by-layer decomposition of a traced repetition.
  */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  /** Span name of the production call inside a traced job. */
  def callSpan: String
  /** Input rows one job processes. */
  def rows: Long
  /** Input properties for the report: rows, text bytes, size quantiles... */
  def props: Seq[(String, String)]
  def writeInput(dir: String): Unit
  /** The launcher's job: input on disk → committed output in `out`. */
  def job(in: String, out: String): Unit
  def verify(out: String): Check.Outcome
  /** One traced repetition: the production job plus the separate layer
    * runs, each in its own span. Returns layer metrics for this repetition.
    */
  def traced(in: String, out: String, t: Tracer, probe: SparkProbe): Map[String, Double]
  /** Single-thread `graft.core` timings on a seeded sample of the input. */
  def core(t: Tracer): Map[String, Double] = Map.empty

  protected def sc = spark.sparkContext
  protected def noop(ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.write.format("noop").mode("overwrite").save()

  /** (data files, data bytes) under the local directory `dir`, ignoring
    * markers and checksums. Walked with java.nio: Hadoop's local listing
    * forks a process per file to read its permissions.
    */
  def dataFiles(dir: String): (Long, Long) =
    Using.resource(Files.walk(Paths.get(dir))) { paths =>
      val data = paths.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.map(Files.size).toSeq
      (data.size.toLong, data.sum)
    }

  /** The Spark-layer metrics of one production job's window. */
  protected def sparkMetrics(w: SparkWindow, wallS: Double, cores: Int): Map[String, Double] = {
    val dom = w.dominantStage.map(_.durS)
    Map(
      "spark.executor_cpu_s" -> w.executorCpuS,
      "spark.gc_s" -> w.gcS,
      "spark.tasks" -> w.tasks.size.toDouble,
      "spark.stages" -> w.stages.toDouble,
      "spark.task_p50_s" -> (if (dom.isEmpty) 0.0 else Stats.median(dom)),
      "spark.task_max_s" -> dom.maxOption.getOrElse(0.0),
      "spark.task_skew" -> Stats.skew(dom),
      "spark.core_idle_frac" -> Stats.idleFrac(w.tasks.map(_.durS), wallS, cores),
      "spark.shuffle_write_mb" -> w.shuffleWriteMb,
      "spark.shuffle_read_mb" -> w.shuffleReadMb,
      "spark.spill_mb" -> w.spillMb)
  }

  protected def observe(t: Tracer, w: SparkWindow): Unit =
    w.jobs.foreach(j => t.addObserved("spark.job", j.startMs, j.endMs, Map("job_id" -> j.jobId.toDouble)))
}

object Workload {
  /** `ExtractMain`'s default `--buckets`. */
  val ExtractBuckets = 256
  /** Parquet files the `bbcode_turns` input is written as. */
  val InputFiles = 4

  def percentiles(sizes: Seq[Double]): Seq[(String, String)] = Seq(
    "size_p50" -> f"${Stats.quantile(sizes, 0.5)}%.0f",
    "size_p99" -> f"${Stats.quantile(sizes, 0.99)}%.0f",
    "size_max" -> f"${sizes.max}%.0f")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "bbcode_turns" => new BBCodeTurns(spark, seed)
    case "dedup_docs" => new DedupDocs(spark, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (bbcode_turns, dedup_docs)")
  }

  private val threadMx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  def threadCpuNs(): Long = threadMx.getCurrentThreadCpuTime
  def threadAllocBytes(): Long = threadMx.getThreadAllocatedBytes(Thread.currentThread().getId)
}

/** `TranscriptGen`-shaped BBCode turns (~190 chars, 100x conversation
  * skew), written as plain parquet in a fixed number of files, through the
  * extraction path `ExtractMain` runs: `TranscriptSource.read` →
  * `ExtractJob.runResumable` with `ExtractMain`'s default bucket count.
  */
final class BBCodeTurns(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val rows = 1000000L
  private val markup = ExtractJob.BBCode
  /** Rows of the seeded core-timing sample. */
  private val coreSample = 20000
  def callSpan = "ExtractJob.runResumable"
  def turnAt(g: Long): Turn = TranscriptGen.turnAt(g, seed)
  def cores: Int = spark.sparkContext.defaultParallelism

  def writeInput(dir: String): Unit =
    TranscriptGen.turns(spark, rows, seed, Workload.InputFiles).write.parquet(dir)
  def props: Seq[(String, String)] = {
    val sizes = (0L until rows by 97).map(g => turnAt(g).text.length.toDouble)
    Seq("rows" -> rows.toString,
      "text_mb" -> f"${sizes.sum * 97 / 1e6}%.1f (estimated from every 97th row)") ++
      Workload.percentiles(sizes) ++
      Seq("conversation_skew" -> "1 in 100 conversations has 100x the turns (TranscriptGen)")
  }

  private def read(in: String) =
    TranscriptSource.read(spark, TranscriptSource.Config(format = "parquet", location = in))

  def job(in: String, out: String): Unit =
    ExtractJob.runResumable(spark, read(in), out, buckets = Workload.ExtractBuckets,
      cfg = ExtractJob.defaultCfg(markup), metrics = Some(ExtractJob.newMetrics(spark)),
      markup = markup)

  private lazy val refDigest = Check.reference(rows, turnAt, markup, cores, keyed = false)._1
  private lazy val refKeyed = Check.reference(rows, turnAt, markup, cores, keyed = true)._2

  def verify(out: String): Check.Outcome =
    Check.extractOutput(spark, out, Workload.ExtractBuckets, rows, refDigest, refKeyed)

  /** Core CPU seconds per row of `extractTurn`, once [[core]] has run. */
  private var extractCpuPerRow = Double.NaN

  override def core(t: Tracer): Map[String, Double] = {
    val rng = new Rng(seed * 31L + 17)
    val sample = IndexedSeq.fill(coreSample)(turnAt(Math.floorMod(rng.nextLong(), rows)))
    val cfg = ExtractJob.defaultCfg(markup)
    val mb = sample.map(_.text.getBytes("UTF-8").length.toLong).sum / 1e6
    var tags = 0L
    def parsePass(): Double = {
      val c0 = Workload.threadCpuNs()
      tags = 0L
      sample.foreach { s =>
        tags += BBCodeParser.parse(s.text, cfg).tagCount
      }
      (Workload.threadCpuNs() - c0) / 1e9
    }
    var alloc = 0L
    def extractPass(): Double = {
      val a0 = Workload.threadAllocBytes()
      val c0 = Workload.threadCpuNs()
      var errs = 0
      sample.foreach(s => if (ExtractJob.extractTurn(s, cfg, markup).parse_error != null) errs += 1)
      val sec = (Workload.threadCpuNs() - c0) / 1e9
      alloc = Workload.threadAllocBytes() - a0
      require(errs == 0, s"$errs sampled turns failed extractTurn")
      sec
    }
    val parseS = Stats.median(Seq.fill(3)(t.span("core.parse")(parsePass())))
    val extractS = Stats.median(Seq.fill(3)(t.span("core.extractTurn")(extractPass())))
    extractCpuPerRow = extractS / sample.size
    Map(
      "core.parse_us_per_row" -> parseS / sample.size * 1e6,
      "core.parse_mb_per_s" -> mb / parseS,
      "core.transform_us_per_row" -> (extractS - parseS) / sample.size * 1e6,
      "core.alloc_bytes_per_row" -> alloc.toDouble / sample.size,
      "core.tags_per_row" -> tags.toDouble / sample.size)
  }

  def traced(in: String, out: String, t: Tracer, probe: SparkProbe): Map[String, Double] = {
    probe.take(sc)
    val scanS = timed(t, "sources.scan")(noop(read(in)))
    val scan = probe.take(sc)
    val passS = timed(t, "pipeline.passthrough") {
      val turns = read(in)
      import turns.sparkSession.implicits._
      noop(turns.mapPartitions(it => it))
    }
    val pass = probe.take(sc)
    val m = ExtractJob.newMetrics(spark)
    val extractS = timed(t, "pipeline.extract_noop")(
      noop(ExtractJob.extract(read(in), metrics = Some(m), markup = markup)))
    val ext = probe.take(sc)
    val cpu0 = Main.processCpuS()
    val jobS = timed(t, "job") {
      val turns = t.span("sources.TranscriptSource.read")(read(in))
      t.span(callSpan) {
        ExtractJob.runResumable(spark, turns, out, buckets = Workload.ExtractBuckets,
          cfg = ExtractJob.defaultCfg(markup), metrics = Some(ExtractJob.newMetrics(spark)),
          markup = markup)
      }
    }
    val returnMs = System.currentTimeMillis()
    val jobCpu = Main.processCpuS() - cpu0
    val w = probe.take(sc)
    Seq(scan, pass, ext, w).foreach(observe(t, _))
    val (files, bytes) = dataFiles(out)
    sparkMetrics(w, jobS, cores) ++ Map(
      "job_s" -> jobS,
      "core.cpu_share" -> (if (extractCpuPerRow.isNaN) 0.0 else extractCpuPerRow * rows / jobCpu),
      "pipeline.extract_noop_s" -> extractS,
      "pipeline.passthrough_s" -> passS,
      "pipeline.overhead_us_per_row" ->
        (if (extractCpuPerRow.isNaN) 0.0 else (ext.executorCpuS - extractCpuPerRow * rows) / rows * 1e6),
      "pipeline.task_busy_s" -> m.nanos.value / 1e9,
      "pipeline.parse_errors" -> m.errors.value.toDouble,
      "sources.scan_s" -> scanS,
      // the listener's input bytes miss Parquet's vectored reads, so the
      // scanned bytes are those of the input files the scan covers
      "sources.read_mb" -> dataFiles(in)._2 / 1e6,
      "sources.splits" -> scan.dominantStage.size.toDouble,
      "sink.self_s" -> (jobS - extractS),
      "sink.files" -> files.toDouble,
      "sink.bytes" -> bytes.toDouble,
      "sink.spill_mb" -> w.writeStageTasks.map(_.spillBytes).sum / 1e6,
      "sink.commit_s" -> w.lastWriteJobEndMs.map(e => (returnMs - e) / 1e3).getOrElse(0.0))
  }

  protected def timed(t: Tracer, name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    t.span(name)(body)
    (System.nanoTime() - t0) / 1e9
  }
}

/** A `(doc_id, text)` corpus of singletons, planted near-duplicate
  * clusters and one exact boilerplate group, deduplicated by
  * `DedupMain.run` at launcher defaults.
  */
final class DedupDocs(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  def callSpan = "DedupMain.run"
  val corpus: Gen.Corpus = Gen.dedupCorpus(seed, singletons = 1200, clusters = 40, exactCopies = 800)
  def rows: Long = corpus.docs.length.toLong
  def writeInput(dir: String): Unit = {
    import spark.implicits._
    sc.parallelize(corpus.docs, Workload.InputFiles).toDF("doc_id", "text").write.parquet(dir)
  }
  def props: Seq[(String, String)] = {
    val sizes = corpus.docs.map(_._2.length.toDouble)
    val hist = corpus.clusterSizes.groupBy(s => Integer.highestOneBit(s)).toSeq.sortBy(_._1)
      .map { case (lo, ss) => s"$lo-${lo * 2 - 1}:${ss.size}" }.mkString(" ")
    Seq("rows" -> rows.toString, "text_mb" -> f"${sizes.sum / 1e6}%.1f") ++
      Workload.percentiles(sizes) ++ Seq(
        "singletons" -> corpus.singletons.toString,
        "clusters" -> s"${corpus.clusterSizes.size} holding ${corpus.clusterSizes.sum} docs",
        "cluster_size_histogram" -> hist,
        "exact_group" -> corpus.exactCopies.toString,
        "survivors" -> corpus.survivors.size.toString)
  }

  def job(in: String, out: String): Unit = DedupMain.run(spark, Map("in" -> in, "out" -> out))

  def verify(out: String): Check.Outcome = Check.dedupOutput(spark, out, corpus)

  def traced(in: String, out: String, t: Tracer, probe: SparkProbe): Map[String, Double] = {
    probe.take(sc)
    val cpu0 = Main.processCpuS()
    val t0 = System.nanoTime()
    val stats = t.span("job")(t.span(callSpan)(DedupMain.run(spark, Map("in" -> in, "out" -> out))))
    val returnMs = System.currentTimeMillis()
    val jobS = (System.nanoTime() - t0) / 1e9
    val w = probe.take(sc)

    val docs = spark.read.parquet(in)
    val p0 = System.nanoTime()
    val (pairs, nPairs) = t.span("dedup.minhashNearDups") {
      val p = DedupOps.minhashNearDups(docs, "doc_id", "text")
      val n = p.count()
      t.count("pairs", n.toDouble)
      (p, n)
    }
    val pairsS = (System.nanoTime() - p0) / 1e9
    val wp = probe.take(sc)
    val c0 = System.nanoTime()
    val cc = t.span("dedup.connectedComponentsStatus") {
      val r = DedupOps.connectedComponentsStatus(pairs.select("id_a", "id_b"))
      r.labels.count()
      t.count("iterations", r.iterations.toDouble)
      r
    }
    val ccS = (System.nanoTime() - c0) / 1e9
    pairs.unpersist(blocking = true)
    val wc = probe.take(sc)
    Seq(w, wp, wc).foreach(observe(t, _))

    val writeJob = w.jobs.filter(_.stageIds.exists(w.writeStageTasks.map(_.stageId).toSet))
    val (files, bytes) = dataFiles(out)
    sparkMetrics(w, jobS, sc.defaultParallelism) ++ Map(
      "job_s" -> jobS,
      "sink.self_s" -> writeJob.map(j => (returnMs - j.startMs) / 1e3).maxOption.getOrElse(0.0),
      "sink.files" -> files.toDouble,
      "sink.bytes" -> bytes.toDouble,
      "sink.spill_mb" -> w.writeStageTasks.map(_.spillBytes).sum / 1e6,
      "sink.commit_s" -> w.lastWriteJobEndMs.map(e => (returnMs - e) / 1e3).getOrElse(0.0),
      "dedup.pairs_s" -> pairsS,
      "dedup.pairs" -> nPairs.toDouble,
      "dedup.pairs_per_removed_doc" -> nPairs.toDouble / math.max(1L, stats.docsIn - stats.survivors),
      "dedup.cc_s" -> ccS,
      "dedup.cc_iterations" -> cc.iterations.toDouble,
      "dedup.cc_converged" -> (if (cc.converged) 1.0 else 0.0))
  }
}
