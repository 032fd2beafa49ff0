package streambench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/**
 * In-memory span recorder. Times are wall-clock microseconds (derived from
 * one nanoTime origin, so they line up with Spark's millisecond listener
 * timestamps). Disabled, it records nothing and `span` is a plain call.
 */
final class Tracer(val enabled: Boolean) {
  private val originNs = System.nanoTime()
  private val originUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000L

  // (id, name, start_us, end_us, parent, epoch)
  private val spans = new ConcurrentLinkedQueue[Seq[Any]]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  def add(name: String, startUs: Long, endUs: Long, parent: Int, epoch: Long): Int = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Seq(id, name, startUs, endUs, parent, epoch))
    id
  }

  def span[T](name: String, epoch: Long, parent: Int = 0)(f: => T): T = {
    if (!enabled) return f
    val s = nowUs
    try f finally add(name, s, nowUs, parent, epoch)
  }

  /** Median wall time in ms of `n` runs of `f`. */
  def median(n: Int)(f: => Any): Double = {
    val xs = (1 to n).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }.sorted
    xs(xs.size / 2)
  }

  def all: Seq[Seq[Any]] = spans.asScala.toSeq
}

/** Spark job/stage/task recorder; jobs carry the micro-batch id and the
  * benchmark's span tag from their local properties. */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val batch: Long, val query: String,
      val tag: String, val stages: Seq[Int]) { @volatile var endMs: Long = -1L }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  // stage id -> (submitted ms, completed ms, tasks, reads the graft source)
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Any]]()
  // (stage, launch ms, finish ms, run ms, cpu ns, gc ms, shuffle-write bytes, failed)
  val tasks = new ConcurrentLinkedQueue[Seq[Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs.put(e.jobId, new Job(e.jobId, e.time,
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop("sql.streaming.queryId").orNull, prop(Main.SpanTagKey).orNull,
      e.stageInfos.map(_.stageId)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.put(s.stageId, Seq(s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L),
      s.numTasks.toLong, s.rddInfos.exists(_.name.contains("DataSourceRDD"))))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val failed = e.reason != Success
    tasks.add(Seq(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      failed))
  }

  /** Wait (bounded) until every started job has ended on the listener bus. */
  def settle(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
      jobs.values().asScala.exists(_.endMs < 0)) Thread.sleep(20)
    Thread.sleep(100)
  }
}

/** Progress of the measured query, from Spark's streaming listener channel. */
final class ProgressRecorder extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.id == queryId).toSeq.sortBy(_.batchId)
}

object Spans {
  /** Order in which MicroBatchExecution runs the timed phases of a trigger. */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /**
   * Build the span tree of a traced run: one `epoch` span per progress
   * event, its phases laid out in execution order from the trigger start
   * (progress reports durations, not start times), and the recorded jobs,
   * stages and tasks under the epoch's `addBatch` (or under the
   * `writeBatch` span whose tag they carry).
   */
  def build(tr: Tracer, epochs: Seq[StreamingQueryProgress], queryId: String,
      jobs: JobRecorder, writeBatchSpans: Map[Long, Int]): Unit = {
    val addBatchOf = mutable.HashMap.empty[Long, Int]
    epochs.foreach { p =>
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      val root = tr.add("epoch", ts, ts + d.getOrElse("triggerExecution", 0L) * 1000L, 0, p.batchId)
      var t = ts
      Phases.foreach { ph =>
        d.get(ph).foreach { ms =>
          val id = tr.add(s"epoch.$ph", t, t + ms * 1000L, root, p.batchId)
          if (ph == "addBatch") addBatchOf(p.batchId) = id
          t += ms * 1000L
        }
      }
    }
    val stageParent = mutable.HashMap.empty[Int, (Int, Long)]
    jobs.jobs.values().asScala.toSeq.sortBy(_.id).foreach { j =>
      if (j.query == queryId && j.batch >= 0) {
        val tagged = Option(j.tag).filter(_.startsWith("writeBatch:"))
          .flatMap(t => writeBatchSpans.get(t.stripPrefix("writeBatch:").toLong))
        val parent = tagged.getOrElse(addBatchOf.getOrElse(j.batch, 0))
        val id = tr.add("job", j.startMs * 1000L, math.max(j.startMs, j.endMs) * 1000L, parent, j.batch)
        j.stages.foreach(s => if (!stageParent.contains(s)) stageParent(s) = (id, j.batch))
      }
    }
    val stageSpan = mutable.HashMap.empty[Int, (Int, Long)]
    jobs.stages.asScala.foreach { case (sid, s) =>
      stageParent.get(sid).foreach { case (parent, batch) =>
        val sub = s(0).asInstanceOf[Long]; val done = s(1).asInstanceOf[Long]
        if (sub > 0 && done >= sub) {
          val scan = s(3).asInstanceOf[Boolean]
          val id = tr.add(if (scan) "stage.source_scan" else "stage", sub * 1000L, done * 1000L, parent, batch)
          stageSpan(sid) = (id, batch)
        }
      }
    }
    jobs.tasks.asScala.foreach { t =>
      stageSpan.get(t(0).asInstanceOf[Int]).foreach { case (parent, batch) =>
        val scan = jobs.stages.get(t(0).asInstanceOf[Int])(3).asInstanceOf[Boolean]
        tr.add(if (scan) "task.source_scan" else "task", t(1).asInstanceOf[Long] * 1000L,
          t(2).asInstanceOf[Long] * 1000L, parent, batch)
      }
    }
  }
}
