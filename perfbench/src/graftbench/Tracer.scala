package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BroadcastBlockId

/** One span: an op, or the `build` / `action` part of one. */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long)

/** Spans plus the three listeners of the traced run.
  *
  * Jobs carry the current span id and phase through the local properties
  * [[SpanProp]] and [[PhaseProp]]; the SparkListener counts the jobs each
  * phase launches (`build.jobs`: module work before the action). Spans
  * and sums are held in memory and written out once, when the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(1)

  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private def add(k: String, v: Double): Unit =
    sums.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  private def sum(k: String): Double =
    Option(sums.get(k)).map(_.sum).getOrElse(0.0)

  private val batchMs = ArrayBuffer.empty[Double]
  private val stateRows = new ConcurrentHashMap[java.util.UUID, Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = Option(e.properties).flatMap(p =>
        Option(p.getProperty(PhaseProp))).getOrElse("other")
      add(s"jobs.$phase", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      add("task.count", 1)
      add("task.cpu_s", m.executorCpuTime / 1e9)
      add("task.run_s", m.executorRunTime / 1e3)
      add("task.gc_s", m.jvmGCTime / 1e3)
      add("task.deser_s", m.executorDeserializeTime / 1e3)
      add("scan.mb", m.inputMetrics.bytesRead / MB)
      add("scan.rows", m.inputMetrics.recordsRead.toDouble)
      add("write.mb", m.outputMetrics.bytesWritten / MB)
      add("write.rows", m.outputMetrics.recordsWritten.toDouble)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      add("shuffle.wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill.mb", m.diskBytesSpilled / MB)
      add("result.mb", m.resultSize / MB)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case b: BroadcastBlockId if b.field.startsWith("piece") =>
          add("broadcast.mb", e.blockUpdatedInfo.memSize / MB +
            e.blockUpdatedInfo.diskSize / MB)
        case _ =>
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planned(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = planned(qe)
  }

  /** Analysis + optimisation + planning time of one query execution. */
  def planned(qe: QueryExecution): Unit = {
    add("plan.executions", 1)
    add("plan.s", qe.tracker.phases.values
      .map(p => (p.endTimeMs - p.startTimeMs) / 1e3).sum)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val total = d.getOrElse("triggerExecution", 0L)
      add("stream.batches", 1)
      if (p.numInputRows == 0) add("stream.empty_batches", 1)
      add("stream.fixed_ms", (total - d.getOrElse("addBatch", 0L)).toDouble)
      p.stateOperators.foreach(s => add("stream.state_commit_ms",
        s.commitTimeMs.toDouble))
      stateRows.put(p.id, p.stateOperators.map(_.numRowsTotal).sum)
      batchMs.synchronized(batchMs += total.toDouble)
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Runs `body` as a span whose jobs carry its id and `phase`. */
  def span[T](name: String, parent: Long, phase: String)(body: Long => T): T = {
    val id = nextId.getAndIncrement()
    val (oldSpan, oldPhase) =
      (sc.getLocalProperty(SpanProp), sc.getLocalProperty(PhaseProp))
    sc.setLocalProperty(SpanProp, id.toString)
    sc.setLocalProperty(PhaseProp, phase)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      spans.synchronized(spans += Span(id, parent, name, t0, t1))
      sc.setLocalProperty(SpanProp, oldSpan)
      sc.setLocalProperty(PhaseProp, oldPhase)
    }
  }

  /** The per-layer sums; call after [[detach]]. */
  def layerMetrics: Map[String, Double] = {
    val batches = sum("stream.batches")
    val sorted = batchMs.synchronized(batchMs.sorted.toIndexedSeq)
    val keys = Seq("task.count", "task.cpu_s", "task.run_s", "task.gc_s",
      "task.deser_s", "scan.mb", "scan.rows", "write.mb", "write.rows",
      "shuffle.write_mb", "shuffle.read_mb", "shuffle.wait_s", "spill.mb",
      "result.mb", "broadcast.mb", "plan.s", "plan.executions",
      "stream.batches", "stream.fixed_ms", "stream.state_commit_ms")
    keys.map(k => k -> sum(k)).toMap ++ Map(
      "build.jobs" -> sum("jobs.build"),
      "stream.empty_batch_frac" ->
        (if (batches == 0) 0.0 else sum("stream.empty_batches") / batches),
      "stream.batch_ms_p50" ->
        (if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)),
      "stream.state_rows" -> stateRows.values.asScala.map(_.toDouble).sum)
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
  val PhaseProp = "graftbench.phase"
  val MB = 1024.0 * 1024.0
}
