package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerSync
import org.apache.spark.scheduler._

/** One finished task as the listener saw it. Times in seconds, sizes in bytes. */
final case class TaskRec(stageId: Int, durS: Double, cpuS: Double, gcS: Double,
                         writeBytes: Long, shuffleWrite: Long, shuffleRead: Long,
                         spillBytes: Long)

/** One finished Spark job: epoch-ms start and end, and its stages. */
final case class JobRec(jobId: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** What Spark ran between two reads of a [[SparkProbe]]. */
final case class SparkWindow(tasks: Seq[TaskRec], jobs: Seq[JobRec], stages: Int) {
  private def mb(b: Long): Double = b / 1e6
  def executorCpuS: Double = tasks.map(_.cpuS).sum
  def gcS: Double = tasks.map(_.gcS).sum
  def shuffleWriteMb: Double = mb(tasks.map(_.shuffleWrite).sum)
  def shuffleReadMb: Double = mb(tasks.map(_.shuffleRead).sum)
  def spillMb: Double = mb(tasks.map(_.spillBytes).sum)

  /** Tasks of the stage that ran longest in total: the stage whose task
    * shape sets the job's time.
    */
  def dominantStage: Seq[TaskRec] =
    tasks.groupBy(_.stageId).values.maxByOption(_.map(_.durS).sum).getOrElse(Nil).toSeq

  /** Tasks of stages that wrote output files. */
  def writeStageTasks: Seq[TaskRec] = {
    val writing = tasks.filter(_.writeBytes > 0).map(_.stageId).toSet
    tasks.filter(t => writing(t.stageId))
  }

  /** End (epoch ms) of the last job that wrote output files, if any. */
  def lastWriteJobEndMs: Option[Long] = {
    val writing = tasks.filter(_.writeBytes > 0).map(_.stageId).toSet
    jobs.filter(_.stageIds.exists(writing)).map(_.endMs).maxOption
  }
}

/** Listener the benchmark registers for a traced run: keeps per-task
  * metrics, job spans and completed-stage counts until [[take]] reads them.
  */
final class SparkProbe extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val started = new ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val stages = new AtomicInteger()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, e.taskInfo.duration / 1e3, m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    started.put(e.jobId, (e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = started.remove(e.jobId)
    if (s != null) jobs.add(JobRec(e.jobId, s._1, e.time, s._2))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

  /** Everything recorded since the previous call, once the bus is drained. */
  def take(sc: SparkContext): SparkWindow = {
    ListenerSync.drain(sc)
    def drainQ[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val b = Seq.newBuilder[T]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    SparkWindow(drainQ(tasks), drainQ(jobs).sortBy(_.startMs), stages.getAndSet(0))
  }
}
