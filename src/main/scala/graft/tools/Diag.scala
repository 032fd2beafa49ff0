package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.{GraftSession, SparkEntry}

/**
 * Where a gate's time goes:
 * `runMain graft.tools.Diag <gate[,gate…]> [passes] [sqlConf=value …]`
 * on `SPARK_GRAFT_SF_DIR` (default sf0.001), 2 passes by default. Each pass
 * clears the cache, builds the gate and counts its rows, then prints
 *  - wall time, rows, and the jobs, stages, tasks and summed task-ms it ran;
 *  - the Janino compile-count delta (CodegenMetrics) and its compile ms;
 *  - one line per streaming epoch the gate ran: `durationMs` by phase and
 *    the state operators' commit ms and rows;
 *  - on the last pass, the longest jobs with their own stages/tasks/task-ms.
 * Each `key=value` argument is set on the session, e.g.
 *  - `spark.sql.codegen.factoryMode=NO_CODEGEN spark.sql.codegen.wholeStage=false`
 *    for interpreted evaluation (the compile delta drops to the planner's);
 *  - `spark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`;
 *  - `spark.sql.shuffle.partitions=N` (the stream gates pin their own 4
 *    state partitions, so this sizes only what inherits the session's).
 */
object Diag {
  private final class Job(val id: Int, val start: Long, val desc: String) {
    @volatile var end = -1L
    @volatile var stages, tasks = 0
    @volatile var taskMs = 0L
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Diag <gate[,gate…]> [passes] [sqlConf=value …]")
    val gates = args(0).split(',').toSeq
    val (confArgs, rest) = args.drop(1).partition(_.contains('='))
    val passes = rest.headOption.fold(2)(_.toInt)
    val confs = confArgs.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession(overrides = confs)

    val jobs = new ConcurrentHashMap[Int, Job]()
    val stageToJob = new ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the description (a streaming epoch's query), else the result
        // stage's call site ("count at Dedup.scala:806")
        val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
        val j = new Job(e.jobId, e.time,
          desc.flatMap(_.linesIterator.nextOption()).getOrElse(""))
        jobs.put(e.jobId, j)
        e.stageIds.foreach(stageToJob.put(_, j))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageToJob.get(e.stageInfo.stageId)).foreach { j =>
          j.stages += 1
          j.tasks += e.stageInfo.numTasks
          j.taskMs += e.stageInfo.taskMetrics.executorRunTime
        }
    })
    val epochs = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        epochs.add(e.progress); ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    // listener events arrive asynchronously: wait (bounded) until every
    // started job has ended, then give the progress events a moment
    def settle(): Unit = {
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
        jobs.values.asScala.exists(_.end < 0)) Thread.sleep(20)
      Thread.sleep(200)
    }
    val compileTime = CodegenMetrics.METRIC_COMPILATION_TIME
    def compileMs: Long =
      math.round(compileTime.getSnapshot.getMean * compileTime.getCount)

    for (gate <- gates; pass <- 1 to passes) {
      spark.catalog.clearCache()
      settle()
      jobs.clear(); stageToJob.clear(); epochs.clear()
      val (c0, ms0) = (compileTime.getCount, compileMs)
      val t0 = System.nanoTime()
      val rows =
        try SparkEntry.queries(gate)(spark, sfDir).count().toString
        catch { case e: Throwable => s"FAILED ($e)" }
      val wall = (System.nanoTime() - t0) / 1e9
      settle()
      val js = jobs.values.asScala.toSeq
      println(f"DIAG $gate pass $pass/$passes: wall=$wall%.2fs rows=$rows " +
        s"jobs=${js.size} stages=${js.map(_.stages).sum} tasks=${js.map(_.tasks).sum} " +
        s"taskMs=${js.map(_.taskMs).sum} compiles=+${compileTime.getCount - c0} " +
        s"(~${compileMs - ms0} ms)")
      epochs.asScala.toSeq.sortBy(p => (p.timestamp, p.batchId)).foreach { p =>
        val phases = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        val so = p.stateOperators
        val state = if (so.isEmpty) "" else
          s" | state commitMs=${so.map(_.commitTimeMs).sum} " +
            s"rowsTotal=${so.map(_.numRowsTotal).sum} " +
            s"rowsUpdated=${so.map(_.numRowsUpdated).sum}"
        println(s"  epoch ${Option(p.name).getOrElse(p.id.toString.take(8))} " +
          s"batch ${p.batchId}: rows=${p.numInputRows} $phases$state")
      }
      if (pass == passes) {
        js.sortBy(j => j.start - math.max(j.end, j.start)).take(10).foreach { j =>
          println(f"  job ${j.id}%4d wall=${math.max(j.end - j.start, 0L)}%6dms " +
            f"stages=${j.stages}%2d tasks=${j.tasks}%4d taskMs=${j.taskMs}%7d  " +
            j.desc.take(90))
        }
      }
    }
    spark.stop()
  }
}
