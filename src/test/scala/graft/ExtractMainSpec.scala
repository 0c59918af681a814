package graft

import java.nio.file.Files

import graft.pipeline.TranscriptGen
import graft.sources.TranscriptSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The spark-submit extraction launcher: flags are validated before the
  * input is read, and a small BBCode run commits and reports its buckets.
  */
class ExtractMainSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = spark = Launcher.local(4)

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("an unknown flag is rejected before any work") {
    val out = tmp("graft_em_out") + "/x"
    for (typo <- Seq("date-form" -> "2026-01-01", "bucket" -> "1024")) {
      // the input does not exist: only a check ahead of the read can name the flag
      val ex = intercept[IllegalArgumentException] {
        ExtractMain.run(spark, Map("in" -> "/nonexistent", "out" -> out) + typo)
      }
      assert(ex.getMessage.contains("--" + typo._1), ex.getMessage)
    }
    assert(!new java.io.File(out).exists)
  }

  test("--mode main-content --markup html is still rejected") {
    val ex = intercept[IllegalArgumentException] {
      ExtractMain.run(spark, Map("in" -> "/nonexistent", "out" -> tmp("graft_em_mc"),
        "mode" -> "main-content", "markup" -> "html"))
    }
    assert(ex.getMessage.contains("--markup"), ex.getMessage)
  }

  test("a small BBCode run returns its completed buckets") {
    val in = tmp("graft_em_in")
    TranscriptSource.writePartitioned(TranscriptGen.turns(spark, 2000, seed = 42, partitions = 4), in)
    val base = tmp("graft_em_run")
    val out = s"$base/out"
    val args = Map("in" -> in, "out" -> out, "buckets" -> "8",
      "lineage" -> s"$base/lineage", "spans" -> s"$base/spans")

    val s1 = ExtractMain.run(spark, args)
    assert(s1.rows == 2000 && s1.out == out)
    assert(s1.completedBuckets == (0 until 8).toSet)
    (0 until 8).foreach(b => assert(new java.io.File(s"$out/bucket=$b/_COMMITTED").exists))
    assert(spark.read.parquet(out).count() == 2000)
    assert(spark.read.parquet(s"$base/lineage").agg(sum("rows")).head().getLong(0) == 2000)
    assert(spark.read.parquet(s"$base/spans").count() > 0)

    // relaunch: every bucket is committed, so nothing is extracted again
    val s2 = ExtractMain.run(spark, args - "lineage" - "spans")
    assert(s2.rows == 0 && s2.completedBuckets == s1.completedBuckets)
  }
}
