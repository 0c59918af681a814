package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import scala.collection.mutable

/** Dev utility (NOT part of the driver contract), the one probe main: run
  * the named SparkEntry queries (each `SPARK_GRAFT_PROBE_RUNS` times, 2 by
  * default — the second run is JIT-warm) and print each run's total
  * seconds, then every Spark job's wall-clock plus the driver-side gap
  * before it, attributed to the action's call site. This localizes where a
  * multi-action operator (e.g. minhashNearDups's persist/count ladder, or
  * the filter/dedup/decontaminate stages of `q_pretrain_e2e`) actually
  * spends its time — task time vs. driver planning time per job. Layer
  * timings of the extract and dedup launch paths come from
  * `perfbench/run.py --trace 1`.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.JobProbe q_pretrain_e2e q_dedup_keepers"
  * }}}
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "2").toInt
    val spark = Launcher.local(32)

    final case class JobRec(id: Int, site: String, start: Long, var end: Long = 0L)
    val jobs = mutable.ArrayBuffer[JobRec]()
    val byId = mutable.HashMap[Int, JobRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        val r = JobRec(js.jobId, site, js.time)
        jobs += r
        byId(js.jobId) = r
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
        byId.get(je.jobId).foreach(_.end = je.time)
      }
    })

    args.foreach { name =>
      for (run <- 1 to runs) {
        jobs.clear(); byId.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"== $name run $run: $sec%.2f s, ${jobs.size} jobs ==")
        var prevEnd = 0L
        jobs.sortBy(_.start).foreach { j =>
          val gap = if (prevEnd == 0) 0.0 else (j.start - prevEnd) / 1e3
          val dur = (j.end - j.start) / 1e3
          println(f"  job ${j.id}%3d  dur $dur%7.2f s  gap-before $gap%6.2f s  ${j.site}")
          prevEnd = math.max(prevEnd, j.end)
        }
      }
    }
    spark.stop()
  }
}
