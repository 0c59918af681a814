package graft

import graft.ops.{CurateOps, TextOps}
import graft.pipeline.Sink
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Production launch entry for the corpus-curation pipeline, run via
  * spark-submit on a real cluster: per-source cap → temperature mixing →
  * global token budget, writing the curated corpus (original columns)
  * as commit-marked parquet.
  *
  * {{{
  * spark-submit --class graft.CurateMain <jar> \
  *   --in <documents parquet> --out <curated dir> \
  *   [--id-col doc_id] [--text-col text] [--group-col source] \
  *   [--cap N]            per-group cap, 0 = off (default) \
  *   [--mix-alpha A]      temperature mixing in [0,1], off unless set \
  *   [--mix-seed s]       content-hash salt for the mixing decision \
  *   [--budget T]         global token budget, 0 = off (default) \
  *   [--partitions N]
  * }}}
  *
  * Stage order is fixed and deliberate: the cap bounds any one group
  * first (cheap bounded-heap aggregate), mixing rebalances what remains,
  * and the budget — the only globally-ordered stage — runs last over the
  * already-reduced survivor set. Every stage keys its join back to the
  * corpus on the id alone, so document text crosses an exchange at most
  * once (the final write's clustering).
  *
  * The output write is commit-marked: a re-launch after success is a
  * reporting no-op, and a torn write (no marker) is overwritten whole.
  * Emits ONE JSON metrics line with per-stage survivor counts.
  */
object CurateMain {
  final case class Stats(docsIn: Long, afterCap: Long, afterMix: Long,
                         afterBudget: Long, tokensKept: Long, skipped: Boolean)

  private def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"arguments must be --flag value pairs, got: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case Array(k, v) => sys.error(s"expected a --flag, got '$k $v'")
    }.toMap
  }

  private val KnownFlags = Set("in", "out", "id-col", "text-col", "group-col",
    "cap", "mix-alpha", "mix-seed", "budget", "partitions")

  def run(spark: SparkSession, a: Map[String, String]): Stats = {
    // fail fast on unknown flags — a typo'd --buget must not silently
    // launch an uncapped 100 TB write
    val unknown = a.keySet -- KnownFlags
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.toSeq.sorted.map("--" + _).mkString(", ")}; " +
        s"known: ${KnownFlags.toSeq.sorted.map("--" + _).mkString(", ")}")
    val in = a.getOrElse("in", sys.error("--in <documents parquet> is required"))
    val out = a.getOrElse("out", sys.error("--out <dir> is required"))
    val idCol = a.getOrElse("id-col", "doc_id")
    val textCol = a.getOrElse("text-col", "text")
    val groupCol = a.getOrElse("group-col", "source")
    val cap = a.getOrElse("cap", "0").toInt
    val mixAlpha = a.get("mix-alpha").map(_.toDouble)
    val budget = a.getOrElse("budget", "0").toLong
    require(cap >= 0, s"--cap must be non-negative, got $cap")
    require(budget >= 0, s"--budget must be non-negative, got $budget")
    mixAlpha.foreach(al => require(al >= 0.0 && al <= 1.0,
      s"--mix-alpha must be in [0,1], got $al"))
    val partitions = a.get("partitions").map(_.toInt).getOrElse(0)

    val outPath = new Path(out)
    val fs = Sink.fs(spark, outPath)
    if (Sink.committed(fs, outPath)) {
      val prior = spark.read.parquet(out)
      return Stats(-1L, -1L, -1L, prior.count(), -1L, skipped = true)
    }

    val docs = spark.read.parquet(in)
    // fail fast on missing columns before any heavy work
    for (c <- Seq(idCol, textCol, groupCol))
      require(docs.columns.contains(c),
        s"input has no column '$c' (columns: ${docs.columns.mkString(", ")})")
    val docsIn = docs.count()

    val capped =
      if (cap == 0) docs
      else {
        // longest-first, ties by id — the tie-free composite is exact in a
        // double up to lengths of 2^32 (far past any document)
        val score = length(col(textCol)).cast("double") * lit(1048576.0) -
          col(idCol).cast("double")
        val keep = CurateOps.capPerGroup(docs, idCol, groupCol, score, cap)
          .select(idCol)
        docs.join(keep, idCol) // near-unique key semi-join shape
      }
    val afterCap = if (cap == 0) docsIn else capped.count()

    val mixed = mixAlpha match {
      case None => capped
      case Some(al) =>
        val keep = CurateOps.mixByTemperature(capped, idCol, textCol, groupCol,
          alpha = al, seed = a.getOrElse("mix-seed", "mix")).select(idCol)
        capped.join(keep, idCol)
    }
    val afterMix = if (mixAlpha.isEmpty) afterCap else mixed.count()

    val (selected, tokensKept) =
      if (budget == 0) {
        val toks = mixed.agg(coalesce(sum(TextOps.tokenCount(col(textCol))
          .cast("long")), lit(0L))).head.getLong(0)
        (mixed, toks)
      } else {
        val sel = CurateOps.budgetSelect(mixed, idCol,
          priority = length(col(textCol)),
          tokenCount = TextOps.tokenCount(col(textCol)),
          budget = budget, partitions = partitions)
        val toks = sel.agg(coalesce(max(col("cum_tokens")), lit(0L)))
          .head.getLong(0)
        (mixed.join(sel.select(idCol), idCol), toks)
      }

    selected.write.mode("overwrite").options(Sink.writeOptions(spark, out)).parquet(out)
    Sink.mark(fs, outPath)
    val afterBudget = spark.read.parquet(out).count()
    Stats(docsIn, afterCap, afterMix, afterBudget, tokensKept, skipped = false)
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val spark = SparkSession.builder()
      .appName("graft-curate")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val t0 = System.nanoTime()
    val s = run(spark, a)
    val sec = (System.nanoTime() - t0) / 1e9
    def f(d: Double): String = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    println(s"""{"docs_in":${s.docsIn},"after_cap":${s.afterCap},""" +
      s""""after_mix":${s.afterMix},"after_budget":${s.afterBudget},""" +
      s""""tokens_kept":${s.tokensKept},"skipped":${s.skipped},"wall_sec":${f(sec)}}""")
    spark.stop()
  }
}
