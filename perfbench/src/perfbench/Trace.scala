package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** How a Spark job or SQL execution is tied back to the benchmark
  * operation (query run or micro-batch) that caused it, and to
  * the program module that issued it. Pure functions, pinned by the
  * self-test. */
object Attribution {
  /** Local property the benchmark sets around each query run it drives. */
  val OpKey = "perfbench.op"
  /** Local property naming the phase of a query run: `build` or `exec`. */
  val PhaseKey = "perfbench.phase"
  val ExecKey = "spark.sql.execution.id"
  val BatchKey = "streaming.sql.batchId"
  val StreamKey = "sql.streaming.queryId"

  def batchOp(streamId: String, batchId: Long): String = s"batch:$streamId:$batchId"

  /** The op a job belongs to. A streaming batch id wins (every job a
    * micro-batch runs carries it, including those started from a
    * foreachBatch handler's own thread pool); otherwise the op of the
    * job's SQL execution, learned from any sibling job that carried an
    * explicit op; otherwise the job's own op property. */
  def jobOp(props: Map[String, String], execOp: Long => Option[String]): Option[String] =
    props.get(BatchKey).map(b => batchOp(props.getOrElse(StreamKey, "?"), b.toLong))
      .orElse(props.get(ExecKey).flatMap(id => execOp(id.toLong)))
      .orElse(props.get(OpKey))

  /** Top operator of a physical plan description, skipping the
    * headers and the adaptive wrapper: `Execute
    * InsertIntoHadoopFsRelationCommand` for a file write, `HashAggregate`
    * for a count. Names an execution's span, so a batch's merge-and-write
    * executions stand apart from its probes. */
  def planRoot(desc: String): String =
    Option(desc).toSeq.flatMap(_.linesIterator)
      .map(_.replaceAll("""^[\s:+\-|*()0-9]+""", "").trim)
      .find(l => l.nonEmpty && !l.startsWith("==") && !l.startsWith("AdaptiveSparkPlan"))
      .map { l =>
        val w = l.split("""[\s(\[]+""")
        if (w(0) == "Execute" && w.length > 1) s"Execute ${w(1)}" else w(0)
      }.getOrElse("")

  private val GraftFrame = """(?m)^\s*(?:at\s+)?graft\.(?:([a-z]\w*)\.)?[A-Z]""".r
  private val BenchFrame = """(?m)^\s*(?:at\s+)?perfbench\.""".r

  /** Module of a call site (a `SparkListenerSQLExecutionStart.details` or
    * `StageInfo.details` long-form stack): the sub-package of the first
    * program frame (`graft.ops.Merge$...` -> `ops`), `root` for the
    * top-level `graft` objects, `bench` when only the benchmark's own
    * frames are present, `spark` otherwise. */
  def moduleOf(callSite: String): String =
    if (callSite == null) "spark"
    else GraftFrame.findFirstMatchIn(callSite) match {
      case Some(m) => Option(m.group(1)).getOrElse("root")
      case None => if (BenchFrame.findFirstIn(callSite).isDefined) "bench" else "spark"
    }
}

/** Task-metric sums for one stage. */
final class StageAgg(val stageId: Int) {
  var name = ""
  var details = ""
  var start = 0L
  var end = 0L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRows = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(id: Int, start: Long, props: Map[String, String], stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}

final case class ExecRec(id: Long, start: Long, module: String, root: Boolean, plan: String) {
  @volatile var end: Long = -1L
}

final case class PlanPhases(analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** The traced run's recorder: one SparkListener, registered only while
  * tracing. It keeps raw events in memory; [[Ledger]] turns them into
  * spans and metrics after the run. Planner phase times come from the
  * `QueryExecution.tracker` the execution-end event carries, keyed by
  * that event's execution id. */
final class Recorder extends SparkListener {
  val jobs = TrieMap.empty[Int, JobRec]
  val execs = TrieMap.empty[Long, ExecRec]
  val execOps = TrieMap.empty[Long, String]
  val stages = TrieMap.empty[Int, StageAgg]
  val plans = TrieMap.empty[Long, PlanPhases]
  private val blocks = mutable.HashMap.empty[String, Long]
  @volatile var cacheBytes = 0L
  @volatile var cacheBytesPeak = 0L

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg(id))

  def execOp(id: Long): Option[String] = execOps.get(id)

  def jobOp(j: JobRec): Option[String] = Attribution.jobOp(j.props, execOp)

  /** Module of a job: its SQL execution's call site, or, outside any
    * execution, the call site of its first stage. */
  def jobModule(j: JobRec): String =
    j.props.get(Attribution.ExecKey).flatMap(id => execs.get(id.toLong)).map(_.module)
      .getOrElse(j.stageIds.sorted.headOption.flatMap(stages.get)
        .map(s => Attribution.moduleOf(s.details)).getOrElse("spark"))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties).map { p =>
      p.stringPropertyNames().toArray.map(_.toString).map(k => k -> p.getProperty(k)).toMap
    }.getOrElse(Map.empty[String, String])
    val j = JobRec(e.jobId, e.time, props, e.stageIds)
    jobs(e.jobId) = j
    e.stageInfos.foreach { si =>
      val s = stage(si.stageId)
      s.name = si.name
      s.details = si.details
    }
    for (id <- props.get(Attribution.ExecKey); op <- Attribution.jobOp(props, _ => None))
      execOps.putIfAbsent(id.toLong, op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.name = e.stageInfo.name
    s.details = e.stageInfo.details
    s.start = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    if (s.start == 0L) s.start = e.stageInfo.submissionTime.getOrElse(s.end)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    s.synchronized {
      s.tasks += 1
      s.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
        s.outputRows += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) blocks.synchronized {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cacheBytes += size - blocks.getOrElse(info.blockId.name, 0L)
      if (size > 0L) blocks(info.blockId.name) = size else blocks.remove(info.blockId.name)
      cacheBytesPeak = math.max(cacheBytesPeak, cacheBytes)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs(s.executionId) = ExecRec(s.executionId, s.time, Attribution.moduleOf(s.details),
        s.rootExecutionId.forall(_ == s.executionId), Attribution.planRoot(s.physicalPlanDescription))
    case s: SparkListenerSQLExecutionEnd =>
      execs.get(s.executionId).foreach(_.end = s.time)
      Option(org.apache.spark.sql.PerfbenchAccess.queryExecution(s)).foreach { qe =>
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        plans(s.executionId) = PlanPhases(ms("analysis"), ms("optimization"), ms("planning"))
      }
    case _ =>
  }
}
