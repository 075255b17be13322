package graftbench

import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What one measured segment of a workload produced. `latMs` holds the
  * latencies the workload reports (one per operation, or one per tick);
  * `ops` counts its operations, `items` the work they completed in
  * `seconds`. `named` carries the workload's own metrics by the names
  * the doc uses (bronze_to_silver_s, read_p95_ms, ...). */
final case class Segment(latMs: Vector[Double], tailPct: Double, ops: Int,
    items: Double, seconds: Double, attempted: Long, failed: Long,
    named: Seq[(String, Double, String)])

/** The state one run shares with its workload. `trace` is disabled except
  * during the traced segment of a traced run (`traced`). */
final class Bench(val seed: Long, val cpus: Int, val work: Path, val traced: Boolean) {
  var spark: SparkSession = _
  @volatile var trace: Trace = new Trace(false)

  def path(name: String): String = work.resolve(name).toString

  /** Session settings as `graft.Bench` uses them. */
  def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", path("spark-local"))
      .config("spark.sql.warehouse.dir", path("warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  /** Runs `body` as one batch operation: its Spark jobs carry `op` as
    * their job group, so the trace can attribute them. */
  def op[T](op: String, name: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(op, name)
    try trace.span(name, op)(body)
    finally spark.sparkContext.clearJobGroup()
  }

  /** Releases the caches `CorpusPipeline.prepare` leaves, which the
    * library documents as the caller's to release. */
  def releaseLibraryCaches(): Unit = {
    graft.llm.Dedup.releaseCaches()
    graft.llm.LanguageModel.releaseCaches()
  }
}

trait Workload {
  /** Generates the inputs and writes what the timed operations read, on
    * the fresh session in `b.spark`. Repeated once per set-up round. */
  def prepare(b: Bench): Unit
  /** Starts what the operations need and runs them once untimed; runs
    * once, after the last round. */
  def warmUp(b: Bench): Unit
  def measure(b: Bench, seconds: Double): Segment
  /** Checks made once at the end of the run: (attempted, failed). */
  def finish(b: Bench): (Long, Long)
  /** This workload's own per-layer metrics, from `b.trace`. */
  def layers(b: Bench): Map[String, Double]
}

object Stats {
  /** Linear-interpolation percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "medallion_batch" -> (() => new MedallionBatch),
    "tick_stream" -> (() => new TickStream))

  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work-dir"))
    val layerNames = new ObjectMapper().readTree(Paths.get(opts("spec")).toFile)
      .get("per_layer").elements().asScala.map(_.get("name").asText()).toSeq
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = new Bench(opts("seed").toLong, cpus, work, traced)
    val w = Workloads(name)()
    Files.createDirectories(work)

    // Set-up time is the median of the session start, input generation
    // and input write over the rounds (the last round's state is the one
    // measured), plus the one warm-up, which ends at the first timed
    // operation.
    val rounds = (1 to SetupRounds).map { round =>
      val t0 = System.nanoTime()
      b.startSession()
      w.prepare(b)
      val s = (System.nanoTime() - t0) / 1e9
      if (round < SetupRounds) b.spark.stop()
      s
    }
    val t0 = System.nanoTime()
    w.warmUp(b)
    val warmUpS = (System.nanoTime() - t0) / 1e9
    val setupS = Stats.median(rounds) + warmUpS
    println(s"settings master=local[$cpus] shuffle_partitions=$cpus timezone=UTC ui=false " +
      s"workload=$name seed=${b.seed} seconds=$seconds trace=${if (traced) 1 else 0} " +
      s"setup_rounds=$SetupRounds")

    // A traced run first measures a third of its time untraced, so the
    // tracing overhead is the difference of two segments of one run.
    HeapWatch.install()
    val untraced = if (traced) Some(w.measure(b, seconds / 3)) else None
    if (traced) { b.trace = new Trace(true); b.trace.install(b.spark) }
    val seg = w.measure(b, if (traced) seconds - seconds / 3 else seconds)
    val heapLivePeakMb = HeapWatch.livePeakMb()
    val layerValues =
      if (!traced) Map.empty[String, Double]
      else {
        // the shared layers are read before the workload's own probes run
        b.trace.drain()
        val shared = Layers.shared(b, layerNames, seg, untraced.get)
        Layers.complete(layerNames, shared ++ w.layers(b) ++ Layers.memory(b) +
          ("jvm.heap_live_peak_mb" -> heapLivePeakMb))
      }
    b.trace.uninstall()
    val (endAttempted, endFailed) = w.finish(b)

    val attempted = seg.attempted + untraced.fold(0L)(_.attempted) + endAttempted
    val failed = seg.failed + untraced.fold(0L)(_.failed) + endFailed
    val values: Map[String, Double] =
      if (traced) layerValues
      else Map(
        "setup_s" -> setupS,
        "p50_ms" -> Stats.median(seg.latMs),
        "tail_ms" -> Stats.pct(seg.latMs, seg.tailPct),
        "per_s" -> seg.items / seg.seconds,
        "ok_ratio" -> (attempted - failed).toDouble / math.max(1L, attempted))
    seg.named.foreach { case (n, v, unit) => println(f"metric $n $v%.4f $unit") }
    println(f"metric setup_s $setupS%.4f s (rounds: ${rounds.map(s => f"$s%.3f").mkString(" ")}; warm-up: $warmUpS%.3f)")
    println(f"metric heap_live_peak_mb $heapLivePeakMb%.4f MB (highest heap after a collection)")
    println(f"metric peak_rss_mb ${peakRssMb()}%.4f MB (resident-set high-water mark)")
    println(f"metric failed_ratio ${failed.toDouble / math.max(1L, attempted)}%.6f ratio ($failed of $attempted)")
    if (traced) {
      val out = work.getParent.resolve("traces").resolve(s"$name-seed${b.seed}.jsonl")
      b.trace.write(out)
      println(s"trace written to $out")
    }
    val json = values.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
    println(s"""RESULT {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"values":{$json}}""")
    b.spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** High-water mark of this process's resident set (Linux). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Heap in use after each collection during the measured segments, and
  * after a full collection at their end, at its highest, each as the
  * collection left it (so what threads still running allocate afterwards
  * is not in it): near what the run keeps live, where the heap's own peak
  * also counts garbage not yet collected. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq
  private val heapPoolNames = heapPools.map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong

  private def record(used: Long): Unit = peak.accumulateAndGet(used, math.max(_, _))

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      record(info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPoolNames(pool) => u.getUsed }.sum)
    }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def livePeakMb(): Double = {
    System.gc()
    record(heapPools.map(_.getCollectionUsage.getUsed).sum)
    peak.get / 1048576.0
  }
}
