package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, LogicalPlan, OverwriteByExpression}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of what Spark's public listeners report, keyed by
  * benchmark op. Ops running on the benchmark's own thread carry the op
  * id as the local property [[OpProp]], so every job and stage they
  * start is attributed exactly, however late the listener bus delivers
  * it. Work started by threads the benchmark does not own (the HTTP
  * server's dispatcher) records op -1 and is attributed by time later.
  */
object Recorder {
  val OpProp = "perfbench.op"

  /** The op running on the benchmark thread (-1 between ops). */
  @volatile var currentOp: Int = -1
  /** Keep per-task intervals (traced runs build task spans from them). */
  @volatile var keepTasks: Boolean = false

  final case class Job(id: Int, op: Int, startMs: Long, var endMs: Long)
  final case class Stage(id: Int, attempt: Int, op: Int, var submitMs: Long,
      var endMs: Long, var numTasks: Int)
  final class TaskAgg {
    var n = 0L; var failed = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    val spans = ArrayBuffer.empty[(Long, Long)]
  }
  final case class Phases(op: Int, phases: Map[String, (Long, Long)])
  final case class Batch(op: Int, batchId: Long, startMs: Long,
      durations: Map[String, Long], stateRows: Long, stateMem: Long,
      stateCommitMs: Long)

  val jobs = TrieMap.empty[Int, Job]
  val stages = TrieMap.empty[(Int, Int), Stage]
  val tasks = TrieMap.empty[(Int, Int), TaskAgg]
  val phases = ArrayBuffer.empty[Phases]
  val batches = ArrayBuffer.empty[Batch]
  val queryOp = TrieMap.empty[java.util.UUID, Int]
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpProp)))
      .map(_.toInt).getOrElse(-1)

  /** Block until every started job has ended and the bus has been quiet
    * for `quietMs` (bounded by `maxMs`), so attribution reads complete
    * records.
    */
  def drain(quietMs: Long = 250, maxMs: Long = 15000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def open = jobs.values.exists(_.endMs < 0)
    while (System.nanoTime() < deadline &&
        (open || System.nanoTime() - lastEvent.get < quietMs * 1000000L))
      Thread.sleep(20)
  }

  /** Scheduler events: jobs, stages and task metrics. */
  class Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, Job(e.jobId, opOf(e.properties), e.time, -1))
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      touch()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      stages.put((i.stageId, i.attemptNumber()), Stage(i.stageId,
        i.attemptNumber(), opOf(e.properties),
        i.submissionTime.getOrElse(System.currentTimeMillis()), -1, i.numTasks))
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.endMs = i.completionTime.getOrElse(System.currentTimeMillis())
        s.numTasks = i.numTasks
      }
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskAgg)
      a.synchronized {
        a.n += 1
        if (e.reason != TaskSuccess) a.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        if (keepTasks) a.spans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
      touch()
    }
  }

  /** Catalyst phases of each sink write; the write carries its op id as
    * the write option [[OpProp]], which the noop source ignores.
    */
  class Queries extends QueryExecutionListener {
    private def tagged(p: LogicalPlan): Option[Int] = p match {
      case w: OverwriteByExpression => w.writeOptions.get(OpProp).map(_.toInt)
      case w: AppendData => w.writeOptions.get(OpProp).map(_.toInt)
      case _ => None
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      tagged(qe.logical).foreach { op =>
        val ph = qe.tracker.phases.map { case (k, s) =>
          k -> ((s.startTimeMs, s.endTimeMs)) }
        phases.synchronized(phases += Phases(op, ph))
      }
      touch()
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      touch()
  }

  /** Micro-batch progress. Query start is delivered synchronously on the
    * thread that starts the stream, i.e. inside the op, so the query id
    * maps to the op running at that moment.
    */
  class Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      queryOp.put(e.id, currentOp); touch()
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val st = Option(p.stateOperators).getOrElse(Array.empty)
      val b = Batch(queryOp.getOrElse(p.id, -1), p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
        st.map(_.commitTimeMs).sum)
      batches.synchronized(batches += b)
      touch()
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = touch()
  }
}
