package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Attributes Spark jobs to the (query, phase) job group the runner set
  * with `setJobGroup("<query>|<phase>", ...)`, and sums each job's stage
  * and task counters. Also sums optimizer + planning time of the `noop`
  * writes that serve as each query's action. Registered only in traced
  * runs. */
class JobTracer extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val group: String, val start: Long,
      val infer: Boolean) {
    var end = 0L
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var schedDelayMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  @volatile var actionPlanMs = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    // Schema inference runs as a job whose call site is the parquet read
    // in graft.Tables.
    val infer = e.stageInfos.exists(_.details.contains("Tables.scala"))
    jobs(e.jobId) = new Job(e.jobId, group, e.time, infer)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      for (jid <- stageJob.get(info.stageId); j <- jobs.get(jid)) {
        j.stages += 1
        j.tasks += info.numTasks
        val m = info.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
        }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null && i.finishTime > 0)
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        val fetch =
          if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime
          else 0L
        j.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - fetch)
      }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val isNoopWrite = qe.logical match {
      case w: V2WriteCommand => w.table match {
        case r: DataSourceV2Relation => r.table.name == "noop-table"
        case _                       => false
      }
      case _ => false
    }
    if (isNoopWrite) {
      val ph = qe.tracker.phases
      val ms = Seq("optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
      synchronized { actionPlanMs += ms }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def record: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      val (query, phase) = j.group.split('|') match {
        case Array(q, p) => (q, p)
        case _           => ("", "other")
      }
      Map("id" -> j.id, "query" -> query, "phase" -> phase,
        "start_ms" -> j.start, "end_ms" -> j.end, "infer" -> j.infer,
        "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "cpu_ns" -> j.cpuNs, "sched_delay_ms" -> j.schedDelayMs,
        "shuffle_read_bytes" -> j.shuffleReadBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_bytes" -> j.spillBytes)
    }
  }
}
