package graftbench

import graft.ml.{ModelStore, Regression}
import graft.streaming.{KeyedStore, PartitionedParquetKeyedStore, StreamJobs, StreamOps, Ticks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `tick_stream`: an open loop at a fixed offered rate. One generator
  * thread lands Kafka-shaped JSON ticks, on their schedule, as files in a
  * directory the queries read as a text stream; `StreamJobs.predictor`
  * serves them into a partitioned keyed store on a 1 s trigger while
  * `continuousTrainer` runs beside it. A tick's latency runs from its due
  * time to the end of the predictor micro-batch that read its file: the
  * batch's progress gives its end and its source offsets, and the file
  * source's log in the predictor's checkpoint names the files behind
  * each offset.
  *
  * A file source rather than a MemoryStream: MemoryStream plans one
  * relation per `addData` call into each micro-batch, so its plans, not
  * the library, would set the batch time.
  *
  * In a traced run `labelUpdater` reads the landed ticks on its own
  * trigger beside the predictor; a watchdog restarts it from its
  * checkpoint whenever it fails and counts the failures
  * (`stream.updater.failed_batches`). Its read of the serving store lists
  * files outside the store's lock, so a predictor upsert that replaces
  * them in between fails it with FAILED_READ_FILE.FILE_NOT_EXIST. An
  * untraced run, whose operations must not fail, runs the updater only
  * in its final check. */
final class TickStream extends Workload {
  import TickStream._

  private implicit var bench: Bench = _
  private var feed: Gen.TickFeed = _
  private var ticks: Vector[Gen.Tick] = _
  private var sent = 0
  private var files = 0
  @volatile private var queries: Map[String, StreamingQuery] = Map.empty
  private var models: ModelStore = _
  private var store: KeyedStore = _
  private var fitMs = 0.0
  private val sendLog = mutable.ArrayBuffer[(Int, Int, Int, Long)]() // (file, from, until, sent ms)
  private val late = mutable.ArrayBuffer[Double]()
  private var backlogMax = 0.0
  private var rowsPerBatch = Vector.empty[Double]
  private val updaterFailures = new AtomicInteger
  @volatile private var watching = false
  private var watchdog: Thread = _

  private def dir(name: String) = bench.path(s"stream/$name")

  def prepare(b: Bench): Unit = {
    bench = b
    feed = Gen.ticks(b.seed, Rate, MaxTicks, 0.02, 0.03, 0.01)
    ticks = feed.ticks
  }

  /** Trains the first model on generated history the way the trainer
    * trains (on ten-minute window averages of the features), starts the
    * three queries and has the predictor serve a second of ticks. */
  def warmUp(b: Bench): Unit = {
    val spark = b.spark
    val history = Gen.ticks(b.seed + 7777, Rate, 3000, 0, 0, 0)
    val hist = spark.createDataFrame(history.ticks.map(t => Tuple1(t.json))).toDF("value")
    val windows = StreamOps.windowedFeatureAvg(streaming = false)(parse(hist))
    val train = windows.select(Ticks.featureColumns.map(f => windows(s"avg_$f").as(f)) :+ windows("label"): _*)
    models = new ModelStore(dir("models"))
    val t0 = System.nanoTime()
    val model = Regression.linearPipeline(Ticks.featureColumns).fit(train)
    fitMs = (System.nanoTime() - t0) / 1e6
    models.save(model, FirstModelId)

    Files.createDirectories(Paths.get(dir("landing")))
    store = new TimedStore(new PartitionedParquetKeyedStore(dir("serving"), "symbol",
      Seq("symbol", "timestamp"), "version"), b)
    def source(d: String) = parse(spark.readStream.text(dir(d)))
    queries = Map(
      "predictor" -> StreamJobs.predictor(source("landing"), models, store, Ticks.featureColumns,
        dir("ckpt-predictor"), Trigger.ProcessingTime(TriggerMs)),
      "trainer" -> StreamJobs.continuousTrainer(StreamOps.windowedFeatureAvg()(source("landing")),
        models, Ticks.featureColumns, dir("ckpt-trainer"), Trigger.ProcessingTime(SideTriggerMs)))
    if (b.traced) {
      val updaterSource = StreamOps.windowedFeatureAvg()(source("landing"))
      def updater() = StreamJobs.labelUpdater(updaterSource, store, dir("ckpt-updater"),
        Trigger.ProcessingTime(SideTriggerMs))
      queries += "updater" -> updater()
      watching = true
      watchdog = new Thread(() => {
        while (watching) {
          if (countUpdaterFailure()) queries += "updater" -> updater()
          Thread.sleep(100)
        }
      }, "updater-watchdog")
      watchdog.setDaemon(true)
      watchdog.start()
    }
    send(WarmupTicks)
    queries("predictor").processAllAvailable()
  }

  /** The consumer-side plan: parse, drop invalid ticks, repair the XTB
    * sentinels and project each symbol's model input. */
  private def parse(raw: DataFrame): DataFrame = {
    val (valid, _) = Ticks.partitionValid(Ticks.parseTicks(raw), feed.nowMs)
    val repaired = Ticks.repairEthSentinels(valid)
    Gen.TickSymbols.map(s => Ticks.modelInput(s)(repaired)).reduce(_ unionByName _)
  }

  /** Lands ticks as one file, written aside and renamed in, so a
    * listing never sees it half written. */
  private def land(d: String, ts: Seq[Gen.Tick]): Unit = {
    files += 1
    val tmp = Paths.get(dir("tmp"), f"$files%08d.json")
    Files.createDirectories(tmp.getParent)
    Files.write(tmp, ts.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir(d), f"ticks-$files%08d.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Sends ticks [sent, until) and logs when. */
  private def send(until: Int): Unit = {
    land("landing", ticks.slice(sent, until))
    sendLog += ((files, sent, until, System.currentTimeMillis()))
    sent = until
  }

  /** Counts the updater query's failure, if it has ended with one;
    * returns whether it had. */
  private def countUpdaterFailure(): Boolean = {
    val q = queries("updater")
    val failed = !q.isActive && q.exception.isDefined
    if (failed) {
      updaterFailures.incrementAndGet()
      System.err.println(s"label updater failed beside the predictor: ${q.exception.get.getMessage.take(300)}")
    }
    failed
  }

  /** The predictor batch that read each landed file, by file number: a
    * file the source logged under offset k was read by the batch whose
    * offsets span (start, end] over k. */
  private def batchOfFile(): Map[Int, Long] = {
    val json = new ObjectMapper()
    val listing = Files.list(Paths.get(dir("ckpt-predictor"), "sources", "0"))
    val logged = try listing.iterator().asScala.toVector
      .filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1).filter(_.nonEmpty).map(json.readTree))
      .map(e => e.get("path").asText().replaceAll(".*ticks-(\\d+)\\.json$", "$1").toInt -> e.get("batchId").asLong())
      .toMap
    finally listing.close()
    def offset(o: String) = if (o == null) -1L else json.readTree(o).get("logOffset").asLong()
    val spans = queries("predictor").recentProgress.toSeq.map { p =>
      (offset(p.sources(0).startOffset), offset(p.sources(0).endOffset), p.batchId)
    }
    logged.flatMap { case (f, k) => spans.find(s => s._1 < k && k <= s._2).map(f -> _._3) }
  }

  def measure(b: Bench, seconds: Double): Segment = {
    val from = sent
    val until = math.min(ticks.size, from + (Rate * seconds).toInt)
    require(until > from, "tick schedule exhausted")
    val startMs = System.currentTimeMillis()
    val startNs = System.nanoTime()
    val base = ticks(from).due
    def dueMs(i: Int) = ticks(i).due - base
    // one file per SendEveryMs holds the ticks that fell due in it; the
    // wait counts toward their latency
    val gen = new Thread(() => {
      while (sent < until) {
        val now = (System.nanoTime() - startNs) / 1e6
        var j = sent
        while (j < until && dueMs(j) <= now) j += 1
        if (j > sent) {
          val first = sent
          send(j)
          (first until j).foreach(i => late += now - dueMs(i))
        }
        if (j < until) Thread.sleep(math.max(1L, SendEveryMs - (now.toLong % SendEveryMs)))
      }
    }, "tick-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    queries("predictor").processAllAvailable()

    val valid = (from until until).count(ticks(_).valid)
    val fileBatch = batchOfFile()
    val servedBy: Map[Int, Long] = sendLog.toSeq.filter(_._2 >= from).flatMap { case (f, lo, hi, _) =>
      fileBatch.get(f).toSeq.flatMap(id => (lo until hi).filter(ticks(_).valid).map(_ -> id))
    }.toMap
    val batches = done(queries("predictor"))
    val lat = servedBy.toVector.flatMap { case (i, id) => batches.get(id).map(_._2 - (startMs + dueMs(i))) }
    val used = servedBy.values.toSet.toVector.sorted.flatMap(id => batches.get(id).map(id -> _))
    val lastEnd = used.map(_._2._2).foldLeft(startMs)(math.max)
    // backlog seen at each batch start: sent by then, not yet served
    used.foreach { case (_, (start, _)) =>
      val sentBy = sendLog.filter(l => l._2 >= from && l._4 <= start).map(l => l._3 - l._2).sum
      val served = servedBy.count { case (_, id) => batches.get(id).exists(_._2 <= start) }
      backlogMax = math.max(backlogMax, (sentBy - served).toDouble)
    }
    rowsPerBatch ++= servedBy.groupBy(_._2).values.map(_.size.toDouble)
    b.trace.sampleStorage(b.spark)
    val secs = (lastEnd - startMs) / 1000.0
    Segment(lat, 99, used.size, lat.size, secs, until - from, valid - lat.size, Seq(
      ("tick_latency_p50_ms", Stats.median(lat), "ms"),
      ("tick_latency_p99_ms", Stats.pct(lat, 99), "ms"),
      ("ticks_per_s", lat.size / secs, "ticks/s"),
      ("offered_ticks_per_s", Rate, "ticks/s"),
      ("generator_late_p99_ms", Stats.pct(late.toSeq, 99), "ms")))
  }

  /** Every sent valid tick served exactly once and none of the invalid
    * ones, each labelled with its window's average price. The labels are
    * completed first by a fresh label updater over the whole stream, as
    * a restarted updater without its checkpoint would run (an updater
    * beside the predictor drops ticks behind the watermark). */
  def finish(b: Bench): (Long, Long) = {
    if (watchdog != null) {
      watching = false
      watchdog.join()
      countUpdaterFailure()
      println(s"metric updater_failed_batches ${updaterFailures.get} count (label updater beside the predictor)")
    }
    val failedQueries = queries.collect {
      case (n, q) if n != "updater" && q.exception.isDefined => n -> q.exception.get
    }
    failedQueries.foreach { case (n, e) => System.err.println(s"stream query $n failed: $e") }
    queries.values.foreach(q => if (q.isActive) q.stop())
    val spark = b.spark
    Files.createDirectories(Paths.get(dir("replay")))
    land("replay", ticks.take(sent))
    val replay = StreamJobs.labelUpdater(StreamOps.windowedFeatureAvg()(parse(spark.readStream.text(dir("replay")))),
      store, dir("ckpt-replay"), Trigger.ProcessingTime(100L))
    try replay.processAllAvailable() finally replay.stop()

    val served = store.read(spark).select("symbol", "timestamp", "label", "prediction").collect()
    val want = Expect.windowLabels(Gen.TickFeed(ticks.take(sent), feed.nowMs, feed.simStart))
    val seen = mutable.Map[(String, Long), Int]().withDefaultValue(0)
    var wrong = 0L
    served.foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      seen(k) += 1
      if (!want.get(k).exists(w => Expect.close(r.getDouble(2), w, 1e-9)) || r.isNullAt(3)) wrong += 1
    }
    val missing = want.keys.count(k => seen(k) != 1)
    if (wrong + missing > 0)
      System.err.println(s"tick stream: ${served.length} served, $wrong wrong or unexpected, $missing missing or duplicated")
    (WarmupTicks.toLong, wrong + missing + failedQueries.size)
  }

  def layers(b: Bench): Map[String, Double] = {
    val t = b.trace
    def prog(q: String) = t.streamProgress(queries(q).id.toString).filter(_.numInputRows > 0)
    def dur(ps: Seq[StreamingQueryProgress], k: String) =
      Stats.median(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val pred = prog("predictor")
    val trainState = t.streamProgress(queries("trainer").id.toString).lastOption
      .flatMap(_.stateOperators.headOption)
    val upserts = t.spanDurationsMs("sink.upsert")
    val loads = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); models.loadLatest(); (System.nanoTime() - t0) / 1e6
    }
    Seq("predictor", "trainer", "updater").flatMap { q =>
      val d = prog(q).map(_.batchDuration.toDouble)
      Seq(s"stream.$q.batch_ms_p50" -> Stats.median(d), s"stream.$q.batch_ms_p99" -> Stats.pct(d, 99))
    }.toMap ++ Map(
      "stream.predictor.add_batch_ms" -> dur(pred, "addBatch"),
      "stream.predictor.query_planning_ms" -> dur(pred, "queryPlanning"),
      "stream.predictor.wal_commit_ms" -> dur(pred, "walCommit"),
      "stream.predictor.rows_per_batch" -> Stats.median(rowsPerBatch),
      "stream.trainer.state_rows" -> trainState.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "stream.trainer.state_bytes" -> trainState.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "stream.backlog_ticks_max" -> backlogMax,
      "stream.generator_late_ms" -> Stats.pct(late.toSeq, 99),
      "stream.updater.failed_batches" -> updaterFailures.get.toDouble,
      "sink.upserts" -> upserts.size.toDouble,
      "sink.upsert_ms_p50" -> Stats.median(upserts),
      "sink.upsert_ms_p99" -> Stats.pct(upserts, 99),
      "sink.bytes_written_per_row" ->
        t.totals("sink.bytes_written") / math.max(1.0, t.totals("sink.records_written")),
      "ml.fit_ms" -> fitMs,
      "ml.load_latest_ms" -> Stats.median(loads))
  }

  /** Start and end (epoch ms) of the query's finished batches, by id. */
  private def done(q: StreamingQuery): Map[Long, (Long, Long)] =
    q.recentProgress.toSeq.map { p =>
      val t0 = Instant.parse(p.timestamp).toEpochMilli
      p.batchId -> (t0, t0 + p.batchDuration)
    }.toMap
}

object TickStream {
  /** Offered load, ticks per second over all five symbols. */
  val Rate = 50.0
  val TriggerMs = 1000L
  val SendEveryMs = 100L
  /** Short enough that the trainer fires several times a run. */
  val SideTriggerMs = 4000L
  val WarmupTicks = 50
  val MaxTicks = 7000
  /** Saved before any trainer batch, so no trainer save overwrites it. */
  val FirstModelId = 999999999L
}

/** A `KeyedStore` decorator that records each upsert as a span, and tags
  * the upsert's Spark jobs so the trace can count the bytes they write. */
final class TimedStore(inner: KeyedStore, b: Bench) extends KeyedStore {
  def upsert(batch: DataFrame): Unit = {
    val sc = batch.sparkSession.sparkContext
    val prev = sc.getLocalProperty(Trace.LayerKey)
    sc.setLocalProperty(Trace.LayerKey, "sink")
    try b.trace.span("sink.upsert", null)(inner.upsert(batch))
    finally sc.setLocalProperty(Trace.LayerKey, prev)
  }
  def read(spark: SparkSession): DataFrame = inner.read(spark)
  def exists: Boolean = inner.exists
}
