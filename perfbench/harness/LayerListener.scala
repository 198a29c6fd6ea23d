package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Attributes every Spark job to the graft module that submitted it and
  * keeps job/stage spans in memory until the run ends.
  *
  * A job belongs to the first `graft.` frame (outside this package) of its
  * long call site (`StageInfo.details`). Jobs without such a frame — AQE
  * stage jobs submitted from pool threads — inherit the call site of the SQL
  * execution they belong to (`spark.sql.execution.id`); jobs the harness
  * itself starts (an item's action) go to the module the item exercises.
  * The job group
  * (`spark.jobGroup.id`) ties each job to the benchmark item and phase that
  * ran it. */
final class LayerListener extends SparkListener {
  import LayerListener._

  final class JobRec(val id: Int, val group: String, val module: String,
      val firstStageName: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }

  final class StageAgg {
    var tasks = 0L; var failedTasks = 0L
    var runMs = 0L; var waitMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var submitMs = -1L; var endMs = -1L; var name = ""
  }

  private val execDetails = new ConcurrentHashMap[Long, String]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execDetails.put(e.executionId, e.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
    val own = e.stageInfos.iterator.flatMap(s => moduleOf(s.details)).nextOption()
    val inherited = prop("spark.sql.execution.id").flatMap(id =>
      Option(execDetails.get(id.toLong)).flatMap(moduleOf))
    val module = own.orElse(inherited).orElse(prop(ModuleProperty).map(named))
      .getOrElse("other")
    val firstName = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      module, firstName, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  private def agg(stageId: Int): StageAgg = stages.computeIfAbsent(stageId, _ => new StageAgg)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val a = agg(e.stageInfo.stageId)
    a.synchronized {
      a.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      a.name = e.stageInfo.name
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(e.stageInfo.stageId)
    a.synchronized {
      a.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      if (a.submitMs < 0) a.submitMs = e.stageInfo.submissionTime.getOrElse(a.endMs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(e.stageId)
    val info = e.taskInfo
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (info.failed || info.killed) a.failedTasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        // scheduler delay as the Spark UI defines it
        val total = info.finishTime - info.launchTime
        val overhead = m.executorDeserializeTime + m.resultSerializationTime
        val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        a.waitMs += math.max(0L, total - m.executorRunTime - overhead - gettingResult)
      }
    }
  }

  /** Jobs not yet ended, to drain the listener bus before reading. */
  def openJobs: Int = jobs.values.asScala.count(_.endMs < 0)

  /** (stage, owning job, aggregate); a stage belongs to the first job that lists it. */
  def stageEntries: Seq[(Int, Int, StageAgg)] =
    stageJob.asScala.toSeq.flatMap { case (s, j) => Option(stages.get(s)).map(a => (s, j, a)) }
}

object LayerListener {
  /** Modules reported by name; every other module rolls up into `other`. */
  val Modules: Seq[String] = Seq("Tables", "Relational", "TextAnalysis", "Dedup",
    "Similarity", "Clustering", "Summarize", "Pipeline", "ServerFlow",
    "EventAnalytics", "Events", "other")

  /** Local property naming the module an item exercises. */
  val ModuleProperty = "perfbench.module"

  private val Frame = """graft\.(?!perfbench\.)(?:[a-z][A-Za-z0-9_]*\.)*([A-Z][A-Za-z0-9_]*)""".r

  /** The module of the first graft frame in a long call site, if any. */
  def moduleOf(details: String): Option[String] =
    if (details == null) None
    else details.linesIterator.flatMap(l => Frame.findFirstMatchIn(l)).nextOption()
      .map(m => named(m.group(1)))

  private def named(module: String): String = if (Modules.contains(module)) module else "other"
}
