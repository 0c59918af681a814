package graft

import graft.ops.{ShuffleOps, TextOps}
import graft.pipeline.Sink
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Production launch entry for the training-shard writer, run via
  * spark-submit on a real cluster: deterministic global shuffle →
  * contiguous shard assignment → shard-partitioned parquet, the layout a
  * training loader consumes directly.
  *
  * {{{
  * spark-submit --class graft.ShardMain <jar> \
  *   --in <documents parquet> --out <shard dir> \
  *   [--id-col doc_id] [--seed s42] [--shards 64] [--partitions N] \
  *   [--sample-mille 1000] [--sample-col text]
  * }}}
  *
  * `--sample-mille` (per-mille keep rate, default 1000 = keep all)
  * down-samples FIRST with the salted content-hash decision
  * ([[TextOps.sampleKeep]] machinery): reproducible across runs and
  * layouts, and monotone in the rate (a 200‰ sample is a subset of the
  * 600‰ one — nested samples for scaling-law runs). The shuffle order is
  * decided by md5(seed:id), so re-running with the same seed reproduces
  * the exact same shards byte-for-byte.
  *
  * The output write is commit-marked: a re-launch after success is a
  * reporting no-op, and a torn write (no marker) is overwritten whole.
  * Emits ONE JSON metrics line: docs in/kept, shards, wall sec.
  */
object ShardMain {
  final case class Stats(docsIn: Long, docsKept: Long, shards: Int,
                         skipped: Boolean)

  private def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"arguments must be --flag value pairs, got: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case Array(k, v) => sys.error(s"expected a --flag, got '$k $v'")
    }.toMap
  }

  private val KnownFlags = Set("in", "out", "id-col", "seed", "shards",
    "partitions", "sample-mille", "sample-col")

  def run(spark: SparkSession, a: Map[String, String]): Stats = {
    // fail fast on unknown flags — a typo'd --shard must not silently
    // launch a 100 TB shuffle with the default shard count
    val unknown = a.keySet -- KnownFlags
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.toSeq.sorted.map("--" + _).mkString(", ")}; " +
        s"known: ${KnownFlags.toSeq.sorted.map("--" + _).mkString(", ")}")
    val in = a.getOrElse("in", sys.error("--in <documents parquet> is required"))
    val out = a.getOrElse("out", sys.error("--out <dir> is required"))
    val idCol = a.getOrElse("id-col", "doc_id")
    val seed = a.getOrElse("seed", "s42")
    val nShards = a.getOrElse("shards", "64").toInt
    val sampleMille = a.getOrElse("sample-mille", "1000").toInt
    require(sampleMille >= 0 && sampleMille <= 1000,
      s"--sample-mille must be in [0, 1000], got $sampleMille")

    val outPath = new Path(out)
    val fs = Sink.fs(spark, outPath)
    if (Sink.committed(fs, outPath)) {
      val prior = spark.read.parquet(out)
      return Stats(docsIn = -1L, docsKept = prior.count(),
        shards = prior.select("shard").distinct().count().toInt, skipped = true)
    }

    val docs = spark.read.parquet(in)
    val docsIn = docs.count()
    val kept =
      if (sampleMille >= 1000) docs
      else {
        val sampleCol = a.getOrElse("sample-col", "text")
        docs.filter(TextOps.sampleKeep(col(sampleCol), lit("all"), seed,
          Map("all" -> sampleMille)))
      }
    // attach (shard, pos): ONE corpus shuffle on the id (the join back),
    // then cluster by shard for the partitioned write — each shard dir's
    // file is pos-ordered, which is what a sequential loader streams
    val placed = ShuffleOps.globalShuffle(kept, idCol, seed, nShards,
      partitions = a.get("partitions").map(_.toInt).getOrElse(0))
    val sharded = kept.join(placed, idCol)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "pos")
    if (sharded.isEmpty) {
      // an empty keep set (tiny corpus × aggressive --sample-mille) must
      // not poison the output: partitionBy would write NO parquet files
      // (only _SUCCESS), the marker would commit, and every relaunch would
      // die in schema inference. Write the empty frame UNpartitioned —
      // parquet keeps the schema, reads back as 0 rows — and report it.
      sharded.write.mode("overwrite").options(Sink.writeOptions(spark, out)).parquet(out)
      Sink.mark(fs, outPath)
      return Stats(docsIn, 0L, 0, skipped = false)
    }
    sharded.write.mode("overwrite").options(Sink.writeOptions(spark, out))
      .partitionBy("shard").parquet(out)
    Sink.mark(fs, outPath)
    val written = spark.read.parquet(out)
    Stats(docsIn, written.count(),
      written.select("shard").distinct().count().toInt, skipped = false)
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val spark = SparkSession.builder()
      .appName("graft-shard")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val t0 = System.nanoTime()
    val s = run(spark, a)
    val sec = (System.nanoTime() - t0) / 1e9
    def f(d: Double): String = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    println(s"""{"docs_in":${s.docsIn},"docs_kept":${s.docsKept},""" +
      s""""shards":${s.shards},"skipped":${s.skipped},"wall_sec":${f(sec)}}""")
    spark.stop()
  }
}
