package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime work, summed over the jobs of one tag. */
final case class Exec(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, gcMs: Long = 0, bytesWritten: Long = 0,
    shuffleBytes: Long = 0, planMs: Long = 0) {
  def +(o: Exec): Exec = Exec(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskMs + o.taskMs, gcMs + o.gcMs,
    bytesWritten + o.bytesWritten, shuffleBytes + o.shuffleBytes,
    planMs + o.planMs)
  def -(o: Exec): Exec = Exec(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
    bytesWritten - o.bytesWritten, shuffleBytes - o.shuffleBytes,
    planMs - o.planMs)
}

/** Listeners the traced run registers to see the runtime beneath the
  * engine: jobs, completed stages, tasks, executor run and GC time,
  * bytes written, shuffle bytes, and planning time (analysis,
  * optimization and physical planning of every executed query).
  *
  * Work is attributed to the tag in the job's local property
  * [[TagKey]], which the calling thread sets with [[tagged]]; jobs
  * without one count under "-". The engine's own threads (streaming
  * micro-batches) carry no tag, so their work is read as the
  * untagged delta across the call. Planning time is reported on the
  * listener bus, away from the calling thread, so it is only kept as
  * a total over all tags.
  */
final class ExecProbe(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  import ExecProbe._

  private val byTag = new ConcurrentHashMap[String, Exec]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def add(tag: String, e: Exec): Unit =
    byTag.merge(tag, e, (a: Exec, b: Exec) => a + b): Unit

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(TagKey))).getOrElse(NoTag)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    e.stageInfos.foreach(si => stageTag.put(si.stageId, tag))
    add(tag, Exec(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageTag.getOrDefault(e.stageInfo.stageId, NoTag), Exec(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      add(stageTag.getOrDefault(e.stageId, NoTag), Exec(
        tasks = 1, taskMs = m.executorRunTime, gcMs = m.jvmGCTime,
        bytesWritten = m.outputMetrics.bytesWritten,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten))
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = plan(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = plan(qe)

  private val planMs = new java.util.concurrent.atomic.AtomicLong()

  private def plan(qe: QueryExecution): Unit =
    planMs.addAndGet(
      qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum): Unit

  /** Work recorded so far for `tag`, or for every tag; the listener
    * bus is drained first so every finished task is counted.
    */
  def snapshot(tag: Option[String] = None): Exec = {
    org.apache.spark.graft.Listeners.drain(sc)
    tag match {
      case Some(t) => byTag.getOrDefault(t, Exec())
      case None    => byTag.values().toArray(Array.empty[Exec])
        .foldLeft(Exec(planMs = planMs.get))(_ + _)
    }
  }

  /** Run `body` with its jobs tagged `tag` and return the work they did. */
  def tagged[T](tag: String)(body: => T): (T, Exec) = {
    val before = snapshot(Some(tag))
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    val out = try body finally sc.setLocalProperty(TagKey, prev)
    (out, snapshot(Some(tag)) - before)
  }
}

object ExecProbe {
  val TagKey = "graftbench.tag"
  val NoTag = "-"

  def register(spark: org.apache.spark.sql.SparkSession): ExecProbe = {
    val p = new ExecProbe(spark.sparkContext)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}
