package graftbench

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans and counts recorded at the boundaries between the benchmark and
  * the library's layers. Disabled, `span` only runs its body: untraced
  * runs install no listener and keep nothing. Enabled, it installs a
  * SparkListener (jobs, stages, task metrics), a QueryExecutionListener
  * (Catalyst phases, files written) and a StreamingQueryListener
  * (micro-batch progress), and keeps every span in memory until [[write]]. */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  /** Counter totals over the traced window, and the same per operation
    * (batch calls by job group, micro-batches by query and batch id). */
  val totals: mutable.Map[String, Double] = mutable.Map().withDefaultValue(0.0)
  private val perOp = mutable.Map[String, mutable.Map[String, Double]]()
  private val progress = mutable.Map[String, mutable.ArrayBuffer[StreamingQueryProgress]]()
  private val stageOp = mutable.Map[Int, String]()
  private val stageLayer = mutable.Map[Int, String]()

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.set(stack.get.tail)
        val t1 = System.nanoTime()
        synchronized { spans += Span(id, name, t0, t1, parent, op) }
      }
    }

  /** Records a span measured elsewhere (a micro-batch from its progress). */
  def addSpan(name: String, startNs: Long, endNs: Long, op: String): Unit =
    if (enabled) synchronized { nextId += 1; spans += Span(nextId, name, startNs, endNs, 0, op) }

  def spanDurationsMs(name: String): Vector[Double] = synchronized {
    spans.iterator.filter(_.name == name).map(s => (s.end - s.start) / 1e6).toVector
  }

  def add(key: String, v: Double, op: String): Unit = synchronized {
    totals(key) += v
    if (op != null) perOp.getOrElseUpdate(op, mutable.Map().withDefaultValue(0.0))(key) += v
  }

  def opTotal(op: String, key: String): Double = synchronized {
    perOp.get(op).map(_(key)).getOrElse(0.0)
  }

  /** Waits until every listener event posted so far has been handled. */
  def drain(): Unit = if (installedOn != null) ListenerDrain(installedOn.sparkContext)

  def streamProgress(name: String): Vector[StreamingQueryProgress] = synchronized {
    progress.get(name).map(_.toVector).getOrElse(Vector.empty)
  }

  // ------------------------------------------------------------ listeners

  private def opOf(props: java.util.Properties): String =
    if (props == null) null
    else Option(props.getProperty("sql.streaming.queryId")) match {
      case Some(q) => s"$q:${props.getProperty("streaming.sql.batchId")}"
      case None => props.getProperty("spark.jobGroup.id")
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      val layer = Option(e.properties).map(_.getProperty(Trace.LayerKey)).orNull
      synchronized(e.stageIds.foreach { s => stageOp(s) = op; stageLayer(s) = layer })
      add("exec.jobs", 1, op)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1, synchronized(stageOp.getOrElse(e.stageInfo.stageId, null)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val (op, layer) = synchronized(
        (stageOp.getOrElse(e.stageId, null), stageLayer.getOrElse(e.stageId, null)))
      add("exec.tasks", 1, op)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_ms", m.executorRunTime.toDouble, op)
        add("exec.task_cpu_ms", m.executorCpuTime / 1e6, op)
        add("exec.gc_ms", m.jvmGCTime.toDouble, op)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble, op)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble, op)
        add("exec.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble, op)
        add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble, op)
        add("io.bytes_read", m.inputMetrics.bytesRead.toDouble, op)
        add("io.bytes_written", m.outputMetrics.bytesWritten.toDouble, op)
        add("io.records_written", m.outputMetrics.recordsWritten.toDouble, op)
        if (layer != null) {
          add(s"$layer.bytes_written", m.outputMetrics.bytesWritten.toDouble, null)
          add(s"$layer.records_written", m.outputMetrics.recordsWritten.toDouble, null)
        }
      }
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case c: CommandResultExec => planNodes(c.commandPhysicalPlan)
    case other => other.children.flatMap(planNodes)
  })

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // delivered on the listener thread, which carries no job group,
      // so these count toward the totals only
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { ph =>
        phases.get(ph).foreach(s => add(s"catalyst.${ph}_ms", s.durationMs.toDouble, null))
      }
      val files = planNodes(qe.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
      add("io.files_written", files.toDouble, null)
      add("catalyst.queries", 1, null)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("catalyst.failed_queries", 1, null)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val name = Option(p.name).getOrElse(p.id.toString)
      Trace.this.synchronized(progress.getOrElseUpdate(name, mutable.ArrayBuffer()) += p)
      if (p.numInputRows > 0) {
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        val nsNow = System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L
        addSpan(s"stream.$name.batch", nsNow, nsNow + p.batchDuration * 1000000L, s"$name:${p.batchId}")
      }
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private var installedOn: SparkSession = _
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  def install(spark: SparkSession): Unit = if (enabled) {
    installedOn = spark
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Waits for queued listener events, then detaches the listeners. */
  def uninstall(): Unit = if (installedOn != null) {
    drain()
    installedOn.sparkContext.removeSparkListener(sparkListener)
    installedOn.listenerManager.unregister(qeListener)
    installedOn.streams.removeListener(streamListener)
    installedOn = null
  }

  // --------------------------------------------------------------- memory

  /** Samples what the library left cached; call between operations. */
  def sampleStorage(spark: SparkSession): Unit = if (enabled) {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.size.toDouble
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
    synchronized {
      totals("spark.persisted_rdds_left") = math.max(totals("spark.persisted_rdds_left"), persisted)
      totals("spark.cached_bytes_peak") = math.max(totals("spark.cached_bytes_peak"), cached)
    }
  }

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  // ---------------------------------------------------------------- output

  /** Writes spans and per-operation counts as JSON lines. */
  def write(path: Path): Unit = if (enabled) synchronized {
    Files.createDirectories(path.getParent)
    def str(s: String) = if (s == null) "null" else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"span":${s.id},"name":${str(s.name)},"start_us":${(s.start - t0) / 1000},""" +
        s""""end_us":${(s.end - t0) / 1000},"parent":${s.parent},"op":${str(s.op)}}"""
    } ++ perOp.toSeq.sortBy(_._1).map { case (op, m) =>
      s"""{"op":${str(op)},"counts":${m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: String)

  /** Local property a decorator sets so its Spark jobs count to a layer. */
  val LayerKey = "pipebench.layer"
}
