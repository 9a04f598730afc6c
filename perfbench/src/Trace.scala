package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * A span wraps one call the benchmark makes into a module's public
  * function. Spans are recorded only when tracing is on; with tracing off
  * `span` runs its body and nothing else, so untraced runs pay nothing.
  * Times are epoch milliseconds (fractional), the clock Spark's listener
  * events use, so job intervals and spans can be intersected offline.
  *
  * Spark counters reach a span through the job group set on entry
  * (`pb-<span id>`); jobs the streaming engine runs under its own group
  * are assigned offline to the span whose interval holds their start.
  * Codegen compile time is the delta of Spark's process-wide compile
  * counter across the span: the caller is single-threaded, so no other
  * span can be open at the same time at the same depth. */
final class Tracer(val on: Boolean) {
  final class Span(val id: Int, val name: String, val parent: Int,
      val op: Int, val spark: Boolean, val start: Double, cg0: Long) {
    var end: Double = Double.NaN
    var codegenNs: Long = 0L
    private[Tracer] def close(): Unit = {
      end = Tracer.nowMs()
      codegenNs = CodeGenerator.compileTime - cg0
    }
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var op = 0
  @volatile private var sparkRef: Option[SparkSession] = None
  val listener = new EventLog

  /** Starts a new operation id; spans opened until the next call share it. */
  def nextOp(): Unit = op += 1

  /** Routes job groups and listener events of `spark` to this tracer. */
  def attach(spark: SparkSession): Unit = if (on) {
    sparkRef = Some(spark)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener.queries)
  }

  def span[A](name: String, spark: Boolean = true)(body: => A): A =
    if (!on) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op,
        spark, Tracer.nowMs(), CodeGenerator.compileTime)
      spans += s
      stack = s :: stack
      if (spark) setGroup(Some(s))
      try body
      finally {
        s.close()
        stack = stack.tail
        if (spark) setGroup(stack.find(_.spark))
      }
    }

  private def setGroup(s: Option[Span]): Unit = sparkRef.foreach { sp =>
    val sc = sp.sparkContext
    s match {
      case Some(x) => sc.setJobGroup(s"pb-${x.id}", x.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  /** Spans as JSON-ready maps. */
  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "spark" -> s.spark, "start" -> s.start, "end" -> s.end,
      "codegen_ms" -> s.codegenNs / 1e6)
  }
}

object Tracer {
  private val base = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs(): Double = base + System.nanoTime() / 1e6
}

/** Raw Spark events for the traced run: jobs with their task totals, and
  * the planning time of every SQL execution. */
final class EventLog extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long) {
    var end: Long = -1L
    var tasks = 0L
    var runMs = 0L
    var inBytes = 0L
    var outBytes = 0L
    var shReadBytes = 0L
    var shWriteBytes = 0L
    var spillBytes = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val planning = new ConcurrentLinkedQueue[(Long, Double)]()
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(e.jobId, group, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.inBytes += m.inputMetrics.bytesRead
          j.outBytes += m.outputMetrics.bytesWritten
          j.shReadBytes += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          j.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    events += 1
  }

  /** Planning time per SQL execution, from the query's own tracker. The
    * listener runs on the listener bus, not on the caller's thread, so
    * each record carries the time its first phase started; the span it
    * belongs to is the one open at that time. */
  val queries: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        planning.add(phases.map(_.startTimeMs).min -> phases.map(_.durationMs).sum.toDouble)
      events += 1
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Waits until the asynchronous listener bus has gone quiet. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.currentTimeMillis() + 10000
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      if (events == last) quiet += 1 else { quiet = 0; last = events }
    }
  }

  def jobRecords: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    Map("id" -> j.id, "group" -> j.group, "start" -> j.start,
      "end" -> j.end, "tasks" -> j.tasks, "run_ms" -> j.runMs,
      "input_bytes" -> j.inBytes, "output_bytes" -> j.outBytes,
      "shuffle_read_bytes" -> j.shReadBytes, "shuffle_write_bytes" -> j.shWriteBytes,
      "spill_bytes" -> j.spillBytes)
  }

  def execRecords: Seq[Map[String, Any]] = planning.asScala.toSeq.sortBy(_._1).map {
    case (start, ms) => Map("group" -> "", "start" -> start, "planning_ms" -> ms)
  }
}
