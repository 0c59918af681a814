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

  private val KnownFlags = Set("in", "out", "id-col", "text-col", "threshold",
    "hashes", "bands", "max-bucket", "max-iter", "keep-by", "artifact-dir",
    "checkpoint-dir")

  /** The launchable body, separated from `main` so tests drive it with
    * their own session and tmp dirs.
    */
  def run(spark: SparkSession, a: Map[String, String]): Stats = {
    Launcher.checkFlags(a, KnownFlags)
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

  /** The metrics line's fields for a run that took `sec` seconds. */
  def report(s: Stats, sec: Double): Seq[(String, Any)] =
    Seq("docs_in" -> s.docsIn, "survivors" -> s.survivors, "dropped" -> s.dropped,
      "skipped" -> s.skipped, "wall_sec" -> sec)

  def main(args: Array[String]): Unit = Launcher.submit("graft-dedup", args) { (spark, a) =>
    val (s, sec) = Launcher.timed(run(spark, a))
    report(s, sec)
  }
}
