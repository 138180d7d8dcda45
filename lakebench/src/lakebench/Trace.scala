package lakebench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

final case class Span(
    id: Int, parent: Int, name: String, startNs: Long, var endNs: Long,
    attrs: mutable.LinkedHashMap[String, Any]) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced pass. Spans nest by call
  * stack; each open span's id is set as a Spark local property, so every
  * job the span starts is attributed to it by [[ExecListener]]. With
  * `enabled = false`, `span` is a plain call and records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  /** Query executions of `sql.query` spans, by span id. */
  val queries: mutable.Map[Int, QueryExecution] = mutable.Map.empty
  private var stack: List[Span] = Nil
  /** nanoTime → epoch-ms offset, to place Spark's ms job times in spans. */
  val epochNsOffset: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def span[A](name: String, attrs: (String, Any)*)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), name,
        System.nanoTime(), 0L, mutable.LinkedHashMap(attrs: _*))
      spans += s
      stack = s :: stack
      spark.sparkContext.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def currentId: Int = stack.headOption.map(_.id).getOrElse(0)
}

object Tracer {
  val SpanProp = "lakebench.span"

  /** Layer of a span name; layers are named after the engine's modules. */
  def layer(name: String): String =
    if (name.startsWith("lake.maintain")) "lake.maintain"
    else if (name.startsWith("lake.plan")) "lake.plan"
    else if (name.startsWith("lake.commit")) "lake.commit"
    else if (name.startsWith("ingest")) "ingest"
    else if (name.startsWith("sql")) "sql"
    else "other"

  val Layers: Seq[String] = Seq("ingest", "sql", "lake.plan", "lake.commit", "lake.maintain", "exec")
}

/** Spark jobs (attributed to the span that started them) and task
  * totals, for the traced pass.
  */
final class ExecListener extends SparkListener {
  final class Job(val span: Int, val startMs: Long) { @volatile var endMs: Long = -1L }
  val jobs = new ConcurrentHashMap[Int, Job]
  val taskMs = new AtomicLong
  val bytesRead = new AtomicLong
  val shuffleBytes = new AtomicLong
  val bytesWritten = new AtomicLong
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    jobs.put(e.jobId, new Job(span, e.time))
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait (at most 10 s) for the asynchronous listener bus to deliver
    * every job end and go quiet.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
        (jobs.values.asScala.exists(_.endMs < 0) || System.nanoTime() - lastEventNs < 300000000L))
      Thread.sleep(20)
  }
}

/** Collects every query execution, including those the engine runs
  * internally, for their Catalyst phase times.
  */
final class QeListener extends QueryExecutionListener {
  val executions = new ConcurrentLinkedQueue[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    executions.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    executions.add(qe)
}
