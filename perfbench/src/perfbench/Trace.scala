package perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One traced interval. Times are epoch milliseconds, so spans opened by
  * the benchmark and spans reported by Spark share one clock. */
final case class Span(id: Long, parent: Long, query: String, name: String,
    start: Double, end: Double, attrs: Seq[(String, Double)] = Nil)

/** In-memory trace of the traced passes. The benchmark opens the query,
  * `build`, `plan` and `execute` spans; Spark's listener bus reports jobs,
  * stages and tasks, which are attached to the phase span whose id the
  * client thread put into the `perfbench.span` local property before the
  * call that caused them. Counters that carry no job properties (block
  * updates, catalyst phases, codegen) are attributed to the query that is
  * running: the client drains the bus after every traced query. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var active = false
  @volatile var query = ""
  private val ids = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, (Long, Long, String, Double)]
  private val stageJob = mutable.Map.empty[Int, (Long, String)]
  private val stageSpan = mutable.Map.empty[(Int, Int), Long]
  private val counters = new AtomicReference(Map.empty[String, Double])
  val unattributedJobs = new AtomicLong(0)

  def newId(): Long = ids.getAndIncrement()
  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized { spans.toList }

  def count(key: String, v: Double): Unit =
    counters.getAndUpdate(m => m.updated(key, m.getOrElse(key, 0.0) + v)): Unit

  /** Counters since the last call, then reset. */
  def takeCounters(): Map[String, Double] = counters.getAndSet(Map.empty)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
    val (parent, q) = prop.map(_.split("\\|", 2)) match {
      case Some(Array(id, q)) => (id.toLong, q)
      case _ => unattributedJobs.incrementAndGet(); (0L, query)
    }
    val id = newId()
    synchronized {
      jobs(e.jobId) = (id, parent, q, e.time.toDouble)
      e.stageIds.foreach(s => stageJob(s) = (id, q))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (id, parent, q, start) =>
      spans += Span(id, parent, q, "job", start, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { case (job, q) =>
      val id = stageSpan.remove((si.stageId, si.attemptNumber())).getOrElse(newId())
      spans += Span(id, job, q, "stage",
        si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { case (_, q) =>
      val stage = stageSpan.getOrElseUpdate((e.stageId, e.stageAttemptId), newId())
      val ti = e.taskInfo
      val m = Option(e.taskMetrics)
      def mv(f: org.apache.spark.executor.TaskMetrics => Long): Double =
        m.map(f).getOrElse(0L).toDouble
      spans += Span(newId(), stage, q, "task", ti.launchTime.toDouble, ti.finishTime.toDouble, Seq(
        "failed" -> (if (e.reason == Success) 0.0 else 1.0),
        "run_ms" -> mv(_.executorRunTime),
        "cpu_ns" -> mv(_.executorCpuTime),
        "gc_ms" -> mv(_.jvmGCTime),
        "deser_ms" -> mv(_.executorDeserializeTime),
        "ser_ms" -> mv(_.resultSerializationTime),
        "getres_ms" -> (if (ti.gettingResultTime > 0) (ti.finishTime - ti.gettingResultTime).toDouble else 0.0),
        "in_b" -> mv(_.inputMetrics.bytesRead),
        "sw_b" -> mv(_.shuffleWriteMetrics.bytesWritten),
        "sw_r" -> mv(_.shuffleWriteMetrics.recordsWritten),
        "sr_b" -> mv(_.shuffleReadMetrics.totalBytesRead),
        "spill_b" -> mv(t => t.memoryBytesSpilled + t.diskBytesSpilled)))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (active) {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid) {
      count("materialized_blocks", 1)
      count("materialized_b", (b.memSize + b.diskSize).toDouble)
    }
  }

  // Every SQL execution's planning phases: the eager actions run while a
  // frame is built and the noop write of the timed action, which is the
  // planning an untraced execution pays. The `plan` span of a traced
  // execution runs no action and is not counted here.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (active) phases(qe)

  def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) => count(s"catalyst_${phase}_ms", s.durationMs.toDouble) }
}

object Tracer {
  val Key = "perfbench.span"
}

/** Janino compile time as Spark logs it ("Code generated in N ms"): the
  * codegen metrics source only keeps a sampled histogram of it. */
object CodegenLog {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val Logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def attach(onCompile: Double => Unit): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case Generated(ms) => onCompile(ms.toDouble)
        case _ =>
      }
    }
    app.start()
    val lc = new LoggerConfig(Logger, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    ctx.getConfiguration.addLogger(Logger, lc)
    ctx.updateLoggers()
  }
}
