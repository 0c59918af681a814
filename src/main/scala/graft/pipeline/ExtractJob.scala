package graft.pipeline

import graft.core._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The flagship extraction pipeline: scan transcripts → (optional salted
  * repartition) → `mapPartitions` parse+strip+escape+render → ordered,
  * resumable write with per-partition lineage and global metrics.
  *
  * Scale design notes:
  *  - Parse/transform is strictly per-turn, so the hot stage runs on
  *    natural input splits with NO shuffle at all by default; an explicit
  *    salted repartition is available for pathologically skewed file splits
  *    (a single conversation never has to be colocated for extraction).
  *  - One parser/renderer "instance" per partition: the core is
  *    allocation-light (offset-only AST on the shared char[]) and carries
  *    no per-call state, so mapPartitions batches avoid per-row object
  *    churn beyond the AST itself.
  *  - Resume is per output bucket: output is hash-partitioned by `bucket`
  *    (pmod(hash(conv_id), B)); a completed bucket is skipped on re-run by
  *    listing the output tree — idempotent, no driver-side bookkeeping.
  */
object ExtractJob {

  /** Input markup dialect of the transcript text column. */
  sealed trait Markup
  case object BBCode extends Markup
  case object Html extends Markup

  /** Dialect-correct default parse config: the canonical BBCode policy map
    * for BBCode, and an EMPTY map for HTML so `HtmlParser`'s built-in
    * defaults (void elements, raw-text script/style, svg) apply unmodified —
    * BBCode policies must not leak into HTML parsing.
    */
  def defaultCfg(markup: Markup): Map[String, TagAttributes] = markup match {
    case BBCode => TagAttributes.bbcodeCanonical
    case Html   => Map.empty
  }

  /** Core per-turn transform — pure, reused by the pipeline, UDFs, and
    * tests as the single source of extraction semantics.
    *
    * BBCode mode: `plain_text` = tag strip, `html` = BBCode→HTML render
    * with escape/`<br>` transform. HTML mode (boilerplate strip):
    * `plain_text` = tag strip, `html` = strip with HTML re-escape (the
    * "escapable text" form of the extracted content).
    */
  def extractTurn(t: Turn, cfg: Map[String, TagAttributes],
                  markup: Markup = BBCode): TurnOut = {
    try {
      val offsets = new Offsets
      val doc = markup match {
        case BBCode => BBCodeParser.parse(t.text, cfg)
        case Html   => HtmlParser.parse(t.text, cfg)
      }
      val plain = Transform.textTransform(doc)
      val html = markup match {
        case BBCode => Render.renderEscaped(doc, BBCodeToHtml.renderers, offsets, cfg)
        case Html => Transform.textTransform(doc, fn = Transform.htmlEscape(offsets,
          TagAttributes.htmlDefaults ++ cfg))
      }
      val packed = offsets.set.packedArray
      TurnOut(t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
        plain, html, packed, doc.tagCount, t.text.length, null)
    } catch {
      case e: Throwable =>
        TurnOut(t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
          null, null, Array.emptyLongArray, 0,
          if (t.text == null) 0 else t.text.length,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Metrics handle: global accumulators + a lineage Dataset of
    * per-partition stats.
    */
  final case class Metrics(rows: LongAccumulator, errors: LongAccumulator,
                           nanos: LongAccumulator)

  def newMetrics(spark: SparkSession): Metrics = Metrics(
    spark.sparkContext.longAccumulator("graft.extract.rows"),
    spark.sparkContext.longAccumulator("graft.extract.parseErrors"),
    spark.sparkContext.longAccumulator("graft.extract.nanos"))

  /** The extraction stage: typed Dataset map over partitions. `cfg = null`
    * (the default) resolves to [[defaultCfg]] for the given markup dialect.
    */
  def extract(turns: Dataset[Turn],
              cfg: Map[String, TagAttributes] = null,
              metrics: Option[Metrics] = None,
              markup: Markup = BBCode): Dataset[TurnOut] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val resolvedCfg = if (cfg != null) cfg else defaultCfg(markup)
    turns.mapPartitions { iter =>
      val t0 = System.nanoTime()
      var n = 0L
      var errs = 0L
      val out = iter.map { t =>
        val r = extractTurn(t, resolvedCfg, markup)
        n += 1
        if (r.parse_error != null) errs += 1
        r
      }
      new Iterator[TurnOut] {
        private var reported = false
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && !reported) {
            reported = true
            metrics.foreach { m =>
              m.rows.add(n); m.errors.add(errs); m.nanos.add(System.nanoTime() - t0)
            }
          }
          h
        }
        def next(): TurnOut = out.next()
      }
    }
  }

  /** Per-partition lineage rows (for a lineage sink table). `cfg = null`
    * resolves per markup dialect, as in [[extract]].
    */
  def lineage(turns: Dataset[Turn],
              cfg: Map[String, TagAttributes] = null,
              markup: Markup = BBCode): Dataset[PartitionStat] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val resolvedCfg = if (cfg != null) cfg else defaultCfg(markup)
    turns.mapPartitions { iter =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val t0 = System.nanoTime()
      var n = 0L
      var errs = 0L
      while (iter.hasNext) {
        val r = extractTurn(iter.next(), resolvedCfg, markup)
        n += 1
        if (r.parse_error != null) errs += 1
      }
      Iterator.single(PartitionStat(pid, n, errs, System.nanoTime() - t0))
    }
  }

  /** `bucket=N` directories under `path`, by bucket number. Each carries
    * its own commit marker ([[Sink.committed]]); an unmarked one is
    * repaired, never trusted.
    */
  private def bucketDirs(fs: org.apache.hadoop.fs.FileSystem, path: Path): Map[Int, Path] =
    if (!fs.exists(path)) Map.empty
    else fs.listStatus(path).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map(s => s.getPath.getName.stripPrefix("bucket=").toInt -> s.getPath).toMap

  /** List COMMITTED output buckets (`bucket=N` dirs carrying the marker). */
  def completedBuckets(spark: SparkSession, outDir: String): Set[Int] = {
    val path = new Path(outDir)
    val fs = Sink.fs(spark, path)
    bucketDirs(fs, path).filter { case (_, d) => Sink.committed(fs, d) }.keySet
  }

  /** Resumable run: hash-bucket by conversation, skip buckets whose commit
    * marker is present, delete (repair) partially-written unmarked bucket
    * dirs, write the rest partitioned by bucket, then mark them committed.
    * Re-running after any partial failure completes exactly the missing
    * work; a bucket is either fully present and marked, or rewritten.
    */
  def runResumable(spark: SparkSession, turns: Dataset[Turn], outDir: String,
                   buckets: Int = 32,
                   cfg: Map[String, TagAttributes] = null,
                   metrics: Option[Metrics] = None,
                   markup: Markup = BBCode): Set[Int] =
    resumable(spark, turns, outDir, buckets) { pending =>
      extract(pending, cfg, metrics, markup).toDF()
    }

  /** Main-content variant of the resumable run (`--mode main-content`):
    * identical bucket-commit/repair machinery, but the per-turn stage is
    * the DOM-heuristic main-content extraction over HTML turns.
    */
  def runResumableMainContent(spark: SparkSession, turns: Dataset[Turn], outDir: String,
                              buckets: Int = 32,
                              cfg: Map[String, TagAttributes] = null,
                              metrics: Option[Metrics] = None): Set[Int] =
    resumable(spark, turns, outDir, buckets) { pending =>
      extractMainContent(pending, cfg, metrics).toDF()
    }

  /** Core per-turn main-content transform — pure; shared by the batch and
    * streaming faces so per-turn equality between them holds by
    * construction (same contract as [[extractTurn]]).
    */
  def mainContentTurn(t: Turn, cfg: Map[String, TagAttributes]): MainContentOut =
    try MainContentOut(t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
      ContentExtract.mainContent(t.text, cfg),
      if (t.text == null) 0 else t.text.length, null)
    catch {
      case e: Throwable =>
        MainContentOut(t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
          null, if (t.text == null) 0 else t.text.length,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Main-content extraction stage: per-turn `ContentExtract.mainContent`
    * inside `mapPartitions` — same zero-shuffle hot-stage shape and metrics
    * plumbing as [[extract]].
    */
  def extractMainContent(turns: Dataset[Turn],
                         cfg: Map[String, TagAttributes] = null,
                         metrics: Option[Metrics] = None): Dataset[MainContentOut] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val resolvedCfg = if (cfg != null) cfg else defaultCfg(Html)
    turns.mapPartitions { iter =>
      var n = 0L
      var errs = 0L
      val out = iter.map { t =>
        val r = mainContentTurn(t, resolvedCfg)
        n += 1
        if (r.parse_error != null) errs += 1
        r
      }
      new Iterator[MainContentOut] {
        private var reported = false
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && !reported) {
            reported = true
            metrics.foreach { m => m.rows.add(n); m.errors.add(errs) }
          }
          h
        }
        def next(): MainContentOut = out.next()
      }
    }
  }

  /** Shared resumable-bucket machinery: list committed buckets, repair
    * unmarked partials, run `stage` over the pending turns only, write
    * partitioned by bucket, mark new buckets committed. The output tree is
    * listed once before the write and once after it.
    */
  private def resumable(spark: SparkSession, turns: Dataset[Turn], outDir: String,
                        buckets: Int)(stage: Dataset[Turn] => org.apache.spark.sql.DataFrame): Set[Int] = {
    import spark.implicits._
    val path = new Path(outDir)
    val fs = Sink.fs(spark, path)
    val (marked, partial) = bucketDirs(fs, path).partition { case (_, d) => Sink.committed(fs, d) }
    val done = marked.keySet

    // repair: an unmarked bucket dir is a partial write — remove it so the
    // re-run regenerates it instead of silently skipping half a bucket
    partial.values.foreach(d => fs.delete(d, true))

    val withBucket = turns.withColumn("bucket", pmod(hash(col("conv_id")), lit(buckets)))
    val remaining = if (done.isEmpty) withBucket
      else withBucket.filter(!col("bucket").isin(done.toSeq: _*))

    val pending = remaining.select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn]
    val out = stage(pending)
      .withColumn("bucket", pmod(hash(col("conv_id")), lit(buckets)))

    out.write.mode(SaveMode.Append).options(Sink.writeOptions(spark, outDir))
      .partitionBy("bucket").parquet(outDir)

    // the write job succeeded: commit every bucket dir it produced (the
    // committed ones were filtered out of its input, so it left them as is)
    val written = bucketDirs(fs, path)
    written.foreach { case (b, d) => if (!done(b)) Sink.mark(fs, d) }
    written.keySet
  }
}
