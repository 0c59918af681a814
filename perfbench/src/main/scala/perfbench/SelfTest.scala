package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import graft.pipeline.{ExtractJob, TranscriptGen, Turn}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

/** Self-tests of the benchmark's own pieces: generator determinism, the
  * correctness checks against planted faults, the task-shape arithmetic,
  * and agreement of `BENCHMARK.json` with the metrics `Main` emits.
  *
  * {{{ perfbench.SelfTest --root <repo checkout> --work <scratch dir> }}}
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => println(s"  $name threw $e"); false }
    if (ok) passed += 1 else failures += name
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  private def digest(texts: Iterator[String]): Long =
    texts.foldLeft(new RowHash(1))((h, s) => h.str(s)).value

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = new File(m("root"))
    val work = new File(m("work"))
    FileUtils.deleteDirectory(work)
    work.mkdirs()

    // ---- arithmetic on fixed inputs
    check("quantile interpolates between closest ranks") {
      close(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.25), 1.75) &&
        close(Stats.median(Seq(5.0, 1.0, 3.0)), 3.0) && close(Stats.quantile(Seq(7.0), 0.9), 7.0)
    }
    check("task skew is max over median") {
      close(Stats.skew(Seq(1.0, 2.0, 3.0, 10.0)), 4.0) && close(Stats.skew(Nil), 0.0)
    }
    check("core idle fraction is 1 - task time / (wall x cores), clamped") {
      close(Stats.idleFrac(Seq(1.0, 1.0, 1.0, 1.0), 2.0, 4), 0.5) &&
        close(Stats.idleFrac(Seq(4.0, 4.0, 4.0, 4.0), 2.0, 4), 0.0) &&
        close(Stats.idleFrac(Nil, 2.0, 4), 1.0)
    }
    check("self time subtracts the union of child intervals") {
      Stats.uncovered(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L), (90L, 120L))) == 60 &&
        Stats.uncovered(0, 100, Nil) == 100
    }
    check("tracer nests spans and shares the run id") {
      val t = new Tracer("r1", enabled = true)
      t.span("a") { t.span("b") { Thread.sleep(5) }; t.count("n", 3) }
      val s = t.spans
      val a = s.find(_.name == "a").get
      val b = s.find(_.name == "b").get
      b.parent == a.id && a.parent == -1 && a.counts == Map("n" -> 3.0) &&
        t.selfNs(a.id) == a.durNs - b.durNs
    }
    check("a disabled tracer runs the body and records nothing") {
      val t = new Tracer("r2", enabled = false)
      t.span("x")(41 + 1) == 42 && t.spans.isEmpty
    }

    // ---- generator determinism
    def bb(seed: Long) = digest((0L until 5000L).iterator.map(g => TranscriptGen.turnAt(g, seed).text))
    def corpus(seed: Long) = Gen.dedupCorpus(seed, singletons = 300, clusters = 20, exactCopies = 50)
    def dd(seed: Long) = digest(corpus(seed).docs.iterator.map { case (id, t) => s"$id:$t" })
    check("bbcode_turns input: same seed same digest, other seed other digest") {
      bb(1) == bb(1) && bb(1) != bb(2)
    }
    check("dedup_docs input: same seed same digest, other seed other digest") {
      dd(1) == dd(1) && dd(1) != dd(2)
    }
    check("dedup ground truth keeps singletons, one per cluster and one exact copy") {
      val c = corpus(5)
      c.docs.length == 300 + c.clusterSizes.sum + 50 && c.survivors.size == 300 + 20 + 1 &&
        c.docs.map(_._1).distinct.length == c.docs.length
    }
    check("planted cluster members sit far above the 0.8 Jaccard threshold, others near 0") {
      val c = corpus(7)
      val sh = c.docs.map { case (id, t) => id -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet }.toMap
      def jac(a: Long, b: Long) = (sh(a) & sh(b)).size.toDouble / (sh(a) | sh(b)).size
      val byGroup = c.docs.map(_._1).groupBy(c.group)
      val within = byGroup.filter(_._1 >= 0).values.flatMap(g => g.combinations(2).map(p => jac(p(0), p(1))))
      val singles = byGroup(-1)
      val across = singles.zip(singles.tail).map { case (a, b) => jac(a, b) } ++
        byGroup.filter(_._1 >= 0).values.map(g => jac(g.head, singles.head))
      within.nonEmpty && within.min >= 0.95 && across.max < 0.1
    }

    // ---- the correctness checks catch planted faults
    val spark = Main.session(2, work)
    try {
      import spark.implicits._
      val rows = 3000L
      val buckets = 8
      val in = new File(work, "in").getPath
      val good = new File(work, "out").getPath
      TranscriptGen.turns(spark, rows, 11, 4).write.parquet(in)
      val read = spark.read.parquet(in).as[Turn]
      ExtractJob.runResumable(spark, read, good, buckets = buckets)
      val (ref, keyed) = Check.reference(rows, g => TranscriptGen.turnAt(g, 11), ExtractJob.BBCode,
        2, keyed = true)
      def verify(dir: String) = Check.extractOutput(spark, dir, buckets, rows, ref, keyed)
      def copy(n: String): File = {
        val d = new File(work, n)
        FileUtils.copyDirectory(new File(good), d)
        d
      }
      def bucketRows(d: File, b: Int) = spark.read.parquet(new File(d, s"bucket=$b").getPath).count()

      check("extract check passes the job's own output") { verify(good).failed == 0 }
      check("extract check counts a planted one-row corruption as one failed row") {
        val d = copy("corrupt")
        val b = new File(d, "bucket=3")
        val df = spark.read.parquet(b.getPath)
        val victim = df.select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx").first()
        val changed = df.withColumn("plain_text",
          when(col("conv_id") === victim.getString(0) && col("turn_idx") === victim.getInt(1),
            concat(col("plain_text"), lit("!"))).otherwise(col("plain_text")))
        val tmp = new File(work, "rewrite").getPath
        changed.write.parquet(tmp)
        b.listFiles().filter(_.getName.startsWith("part-")).foreach(_.delete())
        new File(tmp).listFiles().filter(_.getName.startsWith("part-"))
          .foreach(f => FileUtils.moveFile(f, new File(b, f.getName)))
        verify(d.getPath).failed == 1
      }
      check("extract check fails every row of an unmarked bucket") {
        val d = copy("unmarked")
        new File(d, "bucket=5/_COMMITTED").delete()
        verify(d.getPath).failed == bucketRows(d, 5)
      }
      check("extract check fails every row of a dropped bucket") {
        val d = copy("dropped")
        val n = bucketRows(d, 2)
        FileUtils.deleteDirectory(new File(d, "bucket=2"))
        n > 0 && verify(d.getPath).failed == n
      }

      val c = corpus(9)
      def writeSurvivors(n: String, ids: Set[Long]): String = {
        val d = new File(work, n).getPath
        c.docs.filter(x => ids(x._1)).toDF("doc_id", "text").write.parquet(d)
        new File(d, "_COMMITTED").createNewFile()
        d
      }
      check("dedup check passes the ground truth and fails a dropped or extra survivor") {
        val nonSurvivor = c.docs.map(_._1).find(id => !c.survivors(id)).get
        Check.dedupOutput(spark, writeSurvivors("dd-ok", c.survivors), c).failed == 0 &&
          Check.dedupOutput(spark, writeSurvivors("dd-drop", c.survivors - c.survivors.min), c).failed == 1 &&
          Check.dedupOutput(spark, writeSurvivors("dd-extra", c.survivors + nonSurvivor), c).failed == 1
      }
      check("dedup check fails an uncommitted output") {
        val d = writeSurvivors("dd-unmarked", c.survivors)
        new File(d, "_COMMITTED").delete()
        Check.dedupOutput(spark, d, c).failed == c.docs.length
      }
    } finally spark.stop()

    // ---- BENCHMARK.json lists exactly the metrics Main emits
    check("BENCHMARK.json metric names and units match Main") {
      val j = new ObjectMapper().readTree(new File(root, "BENCHMARK.json"))
      def list(k: String) = {
        val it = j.get(k).elements()
        val b = Seq.newBuilder[(String, String)]
        while (it.hasNext) { val n = it.next(); b += n.get("name").asText -> n.get("unit").asText }
        b.result()
      }
      list("end_to_end") == Main.EndToEnd && list("per_layer") == Main.PerLayer
    }

    FileUtils.deleteDirectory(work)
    println(s"self-test: $passed passed, ${failures.size} failed${
      if (failures.isEmpty) "" else failures.mkString(": ", "; ", "")}")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
