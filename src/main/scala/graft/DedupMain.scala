package graft

import graft.ops.DedupOps
import graft.pipeline.Sink
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Production launch entry for the corpus dedup pipeline, run via
  * spark-submit on a real cluster:
  *
  * {{{
  * spark-submit --class graft.DedupMain <jar> \
  *   --in <documents parquet> --out <survivor dir> \
  *   [--id-col doc_id] [--text-col text] \
  *   [--threshold 0.8] [--hashes 64] [--bands 16] [--max-bucket N] \
  *   [--keep-by min-id|longest|col:<numeric-col>] \
  *   [--artifact-dir <dir>] [--checkpoint-dir <dir>]
  * }}}
  *
  * Resumable TWICE over: `--artifact-dir` makes the expensive stages
  * restartable (`_COMMITTED`-marked pair/label parquet — a run that dies
  * in clustering resumes from pairs, see [[DedupOps.dedupCorpus]]), and
  * the final survivor write itself is commit-marked, so a re-launch after
  * success is a no-op that just reports. `--checkpoint-dir` selects
  * reliable (HDFS/object-store) checkpoints for the label-propagation
  * rounds so a 1000-executor cluster recovers rounds on executor loss.
  * Emits ONE JSON metrics line: docs in, survivors, dropped, wall sec.
  */
object DedupMain {
  final case class Stats(docsIn: Long, survivors: Long, dropped: Long,
                         skipped: Boolean)

  private def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"arguments must be --flag value pairs, got: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case Array(k, v) => sys.error(s"expected a --flag, got '$k $v'")
    }.toMap
  }

  /** The launchable body, separated from `main` so tests drive it with
    * their own session and tmp dirs.
    */
  private val KnownFlags = Set("in", "out", "id-col", "text-col", "threshold",
    "hashes", "bands", "max-bucket", "max-iter", "keep-by", "artifact-dir",
    "checkpoint-dir")

  def run(spark: SparkSession, a: Map[String, String]): Stats = {
    // fail fast on unknown flags: a typo'd --thresold must not silently
    // launch a 100 TB dedup at the default threshold
    val unknown = a.keySet -- KnownFlags
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.toSeq.sorted.map("--" + _).mkString(", ")}; " +
        s"known: ${KnownFlags.toSeq.sorted.map("--" + _).mkString(", ")}")
    val in = a.getOrElse("in", sys.error("--in <documents parquet> is required"))
    val out = a.getOrElse("out", sys.error("--out <dir> is required"))
    val idCol = a.getOrElse("id-col", "doc_id")
    val textCol = a.getOrElse("text-col", "text")
    val keepBy = a.getOrElse("keep-by", "min-id") match {
      case "min-id"                    => None
      case "longest"                   => Some(length(col(textCol)))
      case s if s.startsWith("col:")   => Some(col(s.stripPrefix("col:")))
      case other => sys.error(s"--keep-by must be min-id, longest, or col:<name>, got '$other'")
    }

    val outPath = new Path(out)
    val fs = Sink.fs(spark, outPath)
    if (Sink.committed(fs, outPath)) {
      // a completed run: re-launching is a reporting no-op, never a rewrite
      val prior = spark.read.parquet(out)
      val survivors = prior.count()
      return Stats(docsIn = -1L, survivors = survivors, dropped = -1L, skipped = true)
    }

    val docs = spark.read.parquet(in)
    val docsIn = docs.count()
    val survivors = DedupOps.dedupCorpus(docs, idCol, textCol,
      threshold = a.getOrElse("threshold", "0.8").toDouble,
      numHashes = a.getOrElse("hashes", "64").toInt,
      bands = a.getOrElse("bands", "16").toInt,
      maxBucket = a.get("max-bucket").map(_.toInt).getOrElse(Int.MaxValue),
      maxIter = a.getOrElse("max-iter", "20").toInt,
      checkpointDir = a.get("checkpoint-dir"),
      keepBy = keepBy,
      artifactDir = a.get("artifact-dir"))
    survivors.write.mode("overwrite").options(Sink.writeOptions(spark, out)).parquet(out)
    Sink.mark(fs, outPath)
    val nOut = spark.read.parquet(out).count() // count what was WRITTEN
    Stats(docsIn, nOut, docsIn - nOut, skipped = false)
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val spark = SparkSession.builder()
      .appName("graft-dedup")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val t0 = System.nanoTime()
    val s = run(spark, a)
    val sec = (System.nanoTime() - t0) / 1e9
    def f(d: Double): String = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    println(s"""{"docs_in":${s.docsIn},"survivors":${s.survivors},""" +
      s""""dropped":${s.dropped},"skipped":${s.skipped},"wall_sec":${f(sec)}}""")
    spark.stop()
  }
}
