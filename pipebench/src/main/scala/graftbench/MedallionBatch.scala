package graftbench

import graft.etl.Medallion
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** `medallion_batch`: generated bronze news and quote dumps through
  * `Medallion` to partitioned silver, then to partitioned gold. One
  * operation is one bronze-to-gold pass, checked against the planted
  * facts and [[Expect.gold]]. */
final class MedallionBatch extends Workload {
  import MedallionBatch._

  private var news: Gen.News = _
  private var quotes: Gen.Quotes = _
  private var expected: Expect.Gold = _
  private var passes = 0
  private var probeFailed = 0L

  def prepare(b: Bench): Unit = {
    news = Gen.news(b.seed, Articles, Days, 0.15)
    quotes = Gen.quotes(b.seed, Days, 10, 60, 120, 0.05, 0.02)
    expected = Expect.gold(news, quotes)
    writeBronze(b.spark, news, quotes, b.path("bronze_news"), b.path("bronze_quotes"))
  }

  /** Untimed passes while pass times still fall fast (by about a fifth
    * over the first four, as the JIT compiles the hot paths). */
  def warmUp(b: Bench): Unit = (1 to WarmUpPasses).foreach(i => pass(b, -i))

  private def out(n: Int, table: String)(implicit b: Bench) = b.path(s"pass-$n/$table")

  /** Runs pass `n` into its own directories, so every pass can be
    * checked after the timed segment; returns (bronze-to-silver s,
    * silver-to-gold s). */
  def pass(b: Bench, n: Int): (Double, Double) = b.op(s"pass-$n", "medallion.pass") {
    implicit val bench: Bench = b
    val spark = b.spark
    val tr = b.trace
    val op = s"pass-$n"
    val t0 = System.nanoTime()
    val newsBronze = spark.read.parquet(b.path("bronze_news"))
    val quotesBronze = spark.read.parquet(b.path("bronze_quotes"))
    val newsSilver = tr.span("etl.news_silver", op)(Medallion.newsToSilver(newsBronze))
    val quotesSilver = tr.span("etl.quotes_silver", op)(
      Medallion.quotesToSilver(quotesBronze, Gen.QuoteSymbols))
    tr.span("etl.silver_write", op) {
      Medallion.writePartitioned(newsSilver, out(n, "silver_news"), Seq("source_site"))
      Medallion.writePartitioned(quotesSilver, out(n, "silver_quotes"), Seq("company"))
    }
    val t1 = System.nanoTime()
    val sn = Medallion.readSilver(spark, out(n, "silver_news"))
    val sq = Medallion.readSilver(spark, out(n, "silver_quotes"))
    val nd = tr.span("etl.news_daily", op)(Medallion.newsDailyCounts(sn))
    val kd = tr.span("etl.keyword_daily", op)(Medallion.keywordDailyCounts(sn))
    val qd = tr.span("etl.quotes_daily", op)(Medallion.quotesDailyGold(sq))
    tr.span("etl.gold_write", op) {
      Medallion.writePartitioned(nd, out(n, "gold_news"), Seq("aggregation_date"))
      Medallion.writePartitioned(kd, out(n, "gold_keywords"), Seq("aggregation_date"))
      Medallion.writePartitioned(qd, out(n, "gold_quotes"), Seq("aggregation_date"))
    }
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def measure(b: Bench, seconds: Double): Segment = {
    val lat = Vector.newBuilder[Double]
    val b2s = Vector.newBuilder[Double]
    val s2g = Vector.newBuilder[Double]
    var n = 0
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var last = 0.0
    // a pass starts only if one as long as the last still ends in time
    while (n == 0 || System.nanoTime() + last * 1e9 <= end) {
      passes += 1
      n += 1
      val (a, c) = pass(b, passes)
      b2s += a
      s2g += c
      lat += (a + c) * 1000
      last = a + c
    }
    val l = lat.result()
    val rows = news.rows.size + quotes.exploded
    Segment(l, 95, l.size, rows.toDouble * l.size, l.sum / 1000, n, 0, Seq(
      ("bronze_to_silver_s", Stats.median(b2s.result()), "s"),
      ("silver_to_gold_s", Stats.median(s2g.result()), "s"),
      ("bronze_rows_per_pass", rows.toDouble, "rows")))
  }

  /** Every timed pass: silver row counts against the planted distinct
    * keys, every gold table against the independent recomputation. */
  def finish(b: Bench): (Long, Long) = {
    val failed = (1 to passes).count { n =>
      val problems = check(b, n)
      if (problems.nonEmpty) System.err.println(s"medallion pass $n failed: ${problems.take(5).mkString("; ")}")
      problems.nonEmpty
    }
    (0L, failed + probeFailed)
  }

  private def check(b: Bench, n: Int): Seq[String] = {
    implicit val bench: Bench = b
    val spark = b.spark
    val p = Seq.newBuilder[String]
    val sn = spark.read.parquet(out(n, "silver_news")).count()
    if (sn != news.distinct) p += s"silver news $sn rows, planted ${news.distinct} titles"
    val sq = spark.read.parquet(out(n, "silver_quotes")).count()
    if (sq != quotes.distinctKeys) p += s"silver quotes $sq rows, planted ${quotes.distinctKeys} keys"
    val newsDaily = spark.read.parquet(out(n, "gold_news")).collect().map { r =>
      (r.getAs[java.sql.Date]("aggregation_date").toString, r.getAs[String]("source_site")) ->
        r.getAs[Long]("article_count")
    }.toMap
    if (newsDaily != expected.newsDaily) p += "gold news_daily differs"
    val kwDaily = spark.read.parquet(out(n, "gold_keywords")).collect().map { r =>
      (r.getAs[java.sql.Date]("aggregation_date").toString, r.getAs[String]("keyword")) ->
        r.getAs[Long]("keyword_count")
    }.toMap
    if (kwDaily != expected.keywordDaily) p += "gold keyword_daily differs"
    val qd = spark.read.parquet(out(n, "gold_quotes")).collect()
    if (qd.length != expected.quotesDaily.size) p += s"gold quotes_daily ${qd.length} rows"
    qd.foreach { r =>
      val k = (r.getAs[String]("company"), r.getAs[java.sql.Date]("aggregation_date").toString)
      expected.quotesDaily.get(k) match {
        case None => p += s"gold quotes_daily unexpected $k"
        case Some(e) =>
          val ok = Expect.close(r.getAs[Double]("avg_price"), e.avgPrice, 1e-9) &&
            r.getAs[Double]("max_price") == e.maxPrice && r.getAs[Double]("min_price") == e.minPrice &&
            Expect.close(r.getAs[Double]("avg_volume"), e.avgVolume, 1e-9) &&
            Expect.close(r.getAs[Double]("avg_volatility"), e.avgVolatility, 1e-9) &&
            Expect.close(r.getAs[Double]("avg_sentiment"), e.avgSentiment, 1e-9)
          if (!ok) p += s"gold quotes_daily $k differs"
      }
    }
    p.result()
  }

  /** The `etl.Medallion` spans of the traced passes; the dashboard reads
    * (`operators.Aggregates`) against the gold the last pass wrote; and
    * one corpus pass for the `graft.plans` kernels and `graft.llm`. */
  def layers(b: Bench): Map[String, Double] = {
    implicit val bench: Bench = b
    val t = b.trace
    val kept = b.spark.read.parquet(out(passes, "silver_quotes")).count().toDouble / quotes.exploded
    val dashboard = new Dashboard(b, table => out(passes, table), expected)
    val (readMs, failures) = dashboard.probe(DashboardReads)
    val (corpusLayers, corpusFailures) = CorpusPrep.probe(b)
    probeFailed += failures + corpusFailures
    corpusLayers ++ Seq("news_silver", "quotes_silver", "silver_write", "news_daily", "keyword_daily",
      "quotes_daily", "gold_write").map(s => s"etl.${s}_ms" -> Stats.median(t.spanDurationsMs(s"etl.$s")))
      .toMap ++ readMs + ("etl.quotes_dedup_kept_ratio" -> kept)
  }
}

object MedallionBatch {
  val Articles = 5000
  val Days = 21
  val WarmUpPasses = 3
  /** Dashboard reads per kind in a traced run. */
  val DashboardReads = 3

  private val updateType = StructType(Seq(
    StructField("timestamp", LongType), StructField("price", DoubleType),
    StructField("volume", DoubleType), StructField("volatility", DoubleType),
    StructField("bid_ask_spread", DoubleType), StructField("market_sentiment", DoubleType),
    StructField("trading_activity", DoubleType)))

  val NewsSchema: StructType = StructType(Seq(
    StructField("title", StringType), StructField("date", StringType),
    StructField("source_site", StringType), StructField("keywords", ArrayType(StringType)),
    StructField("link", StringType)))

  val QuotesSchema: StructType = StructType(StructField("timestamp", LongType) +:
    Gen.QuoteSymbols.map(s => StructField(s"updates_$s", ArrayType(updateType))))

  def newsFrame(spark: SparkSession, news: Gen.News): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(news.rows.map(a =>
      Row(a.title, a.date, a.sourceSite, a.keywords, a.link)), 4), NewsSchema)

  def quotesFrame(spark: SparkSession, quotes: Gen.Quotes): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(quotes.dumps.map { d =>
      Row.fromSeq(d.ts +: Gen.QuoteSymbols.map(s => d.updates(s).map(u =>
        Row(u.ts, u.price, u.volume, u.volatility, u.spread, u.sentiment, u.activity))))
    }, 4), QuotesSchema)

  /** Lands generated bronze as parquet, as the reference's ingest does. */
  def writeBronze(spark: SparkSession, news: Gen.News, quotes: Gen.Quotes,
      newsPath: String, quotesPath: String): Unit = {
    newsFrame(spark, news).write.mode("overwrite").parquet(newsPath)
    quotesFrame(spark, quotes).write.mode("overwrite").parquet(quotesPath)
  }
}
