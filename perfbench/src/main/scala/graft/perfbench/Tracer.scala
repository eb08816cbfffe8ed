package graft.perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.jackson.Serialization

/** In-memory span recorder of the traced run.
  *
  * Everything here is observed from outside the program: a SparkListener
  * (jobs, stages, task totals, RDD block puts, SQL plan descriptions), a
  * QueryExecutionListener (Catalyst phase times from `qe.tracker`) and a
  * StreamingQueryListener (micro-batch phases and state-operator progress).
  *
  * A job belongs to the query execution named by the benchmark-owned local
  * property [[Tracer.ExecProperty]]; events that carry no properties belong
  * to the execution running when they are delivered. The harness drains the
  * listener bus after every execution, so that is the execution's own time
  * window. Spans are kept in memory and written once, when the run ends.
  */
final class Tracer(dataDir: String) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  @volatile var currentExec: Int = NoExec

  /** Reserves a span id, so children can name a parent that has not ended. */
  def newId(): Long = synchronized { val id = nextId; nextId += 1; id }

  def put(id: Long, parent: Long, name: String, kind: String, start: Double,
      end: Double, exec: Int, attrs: Seq[(String, Any)] = Nil): Unit = synchronized {
    spans += Span(id, parent, name, kind, start, end, exec, attrs)
  }

  def add(parent: Long, name: String, kind: String, start: Double, end: Double,
      exec: Int, attrs: Seq[(String, Any)] = Nil): Long = synchronized {
    val id = newId()
    put(id, parent, name, kind, start, end, exec, attrs)
    id
  }

  private final class JobRec(val id: Int, val start: Long, val exec: Int,
      val callSite: String) { var end: Long = start }
  private final class StageAcc {
    var job = -1; var start = 0L; var end = 0L
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var schedMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var fetchWaitMs = 0L; var spillDisk = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageAcc]()
  private val plans = mutable.ArrayBuffer[PlanRec]()
  private val batches = mutable.ArrayBuffer[BatchRec]()
  private val blockBytes = mutable.Map[Int, Long]().withDefaultValue(0L)
  private val blockPuts = mutable.Map[Int, Long]().withDefaultValue(0L)
  private val tablesRead = mutable.LinkedHashSet[String]()
  private val tableRe = (java.util.regex.Pattern.quote(dataDir) + """/(\w+)\.parquet""").r

  /** Fixture tables that any traced execution's physical plan scanned. */
  def mixTables: Seq[String] = synchronized(tablesRead.toSeq)

  private def stage(id: Int, attempt: Int): StageAcc =
    stages.getOrElseUpdate((id, attempt), new StageAcc)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty(ExecProperty)))
        .map(_.toInt).getOrElse(currentExec)
      // A job's call site is the name of its result stage (the last one).
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs(e.jobId) = new JobRec(e.jobId, e.time, exec, site)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        val s = stage(i.stageId, i.attemptNumber())
        s.job = stageJob.getOrElse(i.stageId, -1)
        s.start = i.submissionTime.getOrElse(0L)
        s.end = i.completionTime.getOrElse(s.start)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stage(e.stageId, e.stageAttemptId)
        val info = e.taskInfo
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.schedMs += math.max(0L, (info.finishTime - info.launchTime) -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillDisk += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        blockBytes(currentExec) += b.memSize + b.diskSize
        blockPuts(currentExec) += 1
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.physicalPlanDescription != null =>
        Tracer.this.synchronized {
          tableRe.findAllMatchIn(s.physicalPlanDescription).foreach(m => tablesRead += m.group(1))
        }
      case _ =>
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val exec = currentExec
      qe.tracker.phases.foreach { case (phase, p) =>
        plans += PlanRec(exec, phase, p.startTimeMs, p.endTimeMs)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        val ops = p.stateOperators
        batches += BatchRec(currentExec, String.valueOf(p.name), p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          StreamPhases.map(k => k -> ms(k)), ms("triggerExecution"), p.numInputRows,
          ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
          ops.map(_.memoryUsedBytes).sum)
      }
  }

  /** Attaches listener-derived records to the harness's execution spans and
    * writes every span as one JSON line. `execs` maps an execution id to its
    * span ids and the instant its query-function call ended. */
  def write(path: java.nio.file.Path, execs: Map[Int, ExecSpans]): Unit = synchronized {
    def parentOf(exec: Int, at: Double): Long = execs.get(exec) match {
      case Some(e) => if (at <= e.callEnd) e.call else e.write
      case None => 0L
    }
    val jobSpan = mutable.Map[Int, Long]()
    jobs.values.foreach { j =>
      jobSpan(j.id) = add(parentOf(j.exec, j.start.toDouble), "job", "job",
        j.start, j.end, j.exec, Seq("job_id" -> j.id, "call_site" -> j.callSite))
    }
    stages.foreach { case ((id, attempt), s) =>
      val exec = jobs.get(s.job).map(_.exec).getOrElse(NoExec)
      add(jobSpan.getOrElse(s.job, 0L), "stage", "stage", s.start, s.end, exec, Seq(
        "stage_id" -> id, "attempt" -> attempt, "tasks" -> s.tasks,
        "task_run_ms" -> s.runMs, "task_cpu_ns" -> s.cpuNs, "task_gc_ms" -> s.gcMs,
        "sched_delay_ms" -> s.schedMs, "shuffle_write_bytes" -> s.shuffleWrite,
        "shuffle_read_bytes" -> s.shuffleRead, "fetch_wait_ms" -> s.fetchWaitMs,
        "spill_disk_bytes" -> s.spillDisk))
    }
    plans.foreach { p =>
      add(parentOf(p.exec, p.end.toDouble), "plan." + p.phase, "plan", p.start, p.end, p.exec)
    }
    batches.foreach { b =>
      val id = add(parentOf(b.exec, b.start.toDouble), "batch", "batch", b.start,
        b.start + b.trigger, b.exec, Seq("query" -> b.query, "batch_id" -> b.batchId,
          "input_rows" -> b.inputRows, "state_commit_ms" -> b.stateCommitMs,
          "state_rows" -> b.stateRows, "state_memory_bytes" -> b.stateMemory))
      // durationMs holds phase lengths, not instants: lay the phases end to
      // end in MicroBatchExecution's order inside the batch span.
      var at = b.start.toDouble
      b.phases.foreach { case (name, ms) =>
        add(id, "batch." + name, "batch_phase", at, at + ms, b.exec)
        at += ms
      }
    }
    execs.foreach { case (exec, e) =>
      add(e.exec, "rdd_block_puts", "storage", e.end, e.end, exec,
        Seq("puts" -> blockPuts(exec), "bytes" -> blockBytes(exec)))
    }
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(Serialization.write(ListMap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind, "start" -> s.start, "end" -> s.end,
        "exec" -> s.exec, "attrs" -> ListMap(s.attrs: _*)))(Harness.formats))
      w.write('\n')
    } finally w.close()
  }
}

object Tracer {
  /** Benchmark-owned local property naming the running query execution. */
  val ExecProperty = "graft.perfbench.exec"
  val NoExec: Int = -1
  /** MicroBatchExecution's phase order within one trigger. */
  val StreamPhases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  final case class Span(id: Long, parent: Long, name: String, kind: String,
      start: Double, end: Double, exec: Int, attrs: Seq[(String, Any)])
  private[perfbench] final case class PlanRec(exec: Int, phase: String, start: Long, end: Long)
  private[perfbench] final case class BatchRec(exec: Int, query: String, batchId: Long,
      start: Long, phases: Seq[(String, Long)], trigger: Long, inputRows: Long,
      stateCommitMs: Long, stateRows: Long, stateMemory: Long)
  final case class ExecSpans(exec: Long, call: Long, write: Long, callEnd: Double, end: Double)
}
