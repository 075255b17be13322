package graftbench

import graft.operators.Aggregates
import graft.streaming.PartitionedParquetKeyedStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.time.LocalDate

/** The reads of the reference dashboard's three tabs: 14-day
  * partition-pruned gold ranges, top-10 keywords, prediction-vs-label
  * RMSE over serving data and Pearson/Spearman matrices across symbols.
  * One client issues them in turn; each result is checked against a
  * recomputation from the generated inputs. `goldDir` maps a gold
  * table's name to its directory; the serving data is written through
  * the keyed store here. */
final class Dashboard(b: Bench, goldDir: String => String, gold: Expect.Gold) {
  import Dashboard._

  private val rnd = new scala.util.Random(b.seed * 17 + 3)
  private val serving: Map[String, Seq[(Double, Double)]] = {
    val r = new scala.util.Random(b.seed * 31 + 5)
    val rows = for {
      sym <- Gen.TickSymbols
      i <- 0 until ServingRowsPerSymbol
    } yield {
      val label = 50.0 + r.nextDouble() * 50
      (sym, 1736000000000L + i * 60000L, label + r.nextGaussian() * (1 + Gen.TickSymbols.indexOf(sym)), label)
    }
    val df = b.spark.createDataFrame(b.spark.sparkContext.parallelize(rows.map { case (s, ts, p, l) =>
      Row(s, ts, new java.sql.Timestamp(ts), p, l, s"""{"volume":$p}""", 0L)
    }, 4), ServingSchema)
    store.upsert(df)
    rows.groupBy(_._1).map { case (s, v) => s -> v.map(x => (x._3, x._4)) }
  }

  private def store = new PartitionedParquetKeyedStore(
    b.path("serving"), "symbol", Seq("symbol", "timestamp"), "version")

  /** Issues `perKind` reads of every kind; returns each kind's median
    * latency as `read.<kind>_ms`, and how many reads returned a wrong
    * result. */
  def probe(perKind: Int): (Map[String, Double], Long) = {
    val results = (0 until perKind).flatMap(i => Kinds.map(k => k -> read(k, s"read-$k-$i")))
    val failed = results.count { case (k, (_, problems)) =>
      if (problems.nonEmpty) System.err.println(s"dashboard read $k failed: ${problems.mkString("; ")}")
      problems.nonEmpty
    }
    val all = results.map(_._2._1)
    println(f"metric read_p50_ms ${Stats.median(all)}%.4f ms (dashboard probe, ${all.size} reads)")
    println(f"metric read_p95_ms ${Stats.pct(all, 95)}%.4f ms (dashboard probe, ${all.size} reads)")
    (results.groupBy(_._1).map { case (k, v) => s"read.${k}_ms" -> Stats.median(v.map(_._2._1)) }, failed.toLong)
  }

  private def range(): (String, String) = {
    val from = LocalDate.parse(gold.newsDaily.keys.map(_._1).min)
      .plusDays(rnd.nextInt(MedallionBatch.Days - RangeDays).toLong)
    (from.toString, from.plusDays(RangeDays - 1L).toString)
  }

  private def inRange(df: DataFrame, from: String, to: String): DataFrame =
    df.filter(col("aggregation_date").between(lit(java.sql.Date.valueOf(from)), lit(java.sql.Date.valueOf(to))))

  /** Issues one read; returns (latency ms, problems found). */
  private def read(kind: String, op: String): (Double, Seq[String]) = {
    val spark = b.spark
    val (from, to) = range()
    val t0 = System.nanoTime()
    val rows: Array[Row] = b.op(op, s"read.$kind") {
      kind match {
        case "gold_range" =>
          inRange(spark.read.parquet(goldDir("gold_quotes")), from, to).collect()
        case "top_keywords" =>
          inRange(spark.read.parquet(goldDir("gold_keywords")), from, to)
            .groupBy("keyword").agg(sum("keyword_count").as("n"))
            .orderBy(desc("n"), asc("keyword")).limit(10).collect()
        case "rmse" =>
          Aggregates.rmse(Seq("symbol"), "prediction", "label")(store.read(spark)).collect()
        case "corr_matrix" =>
          val wide = inRange(spark.read.parquet(goldDir("gold_quotes")), from, to)
            .groupBy("aggregation_date").pivot("company", Gen.QuoteSymbols)
            .agg(first("avg_price"))
          Aggregates.corrMatrix(Gen.QuoteSymbols, "pearson")(wide).collect().map(r => Row("pearson" +: r.toSeq: _*)) ++
            Aggregates.corrMatrix(Gen.QuoteSymbols, "spearman")(wide).collect().map(r => Row("spearman" +: r.toSeq: _*))
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    (ms, check(kind, from, to, rows))
  }

  private def check(kind: String, from: String, to: String, rows: Array[Row]): Seq[String] = kind match {
    case "gold_range" =>
      val want = gold.quotesDaily.filter { case ((_, d), _) => d >= from && d <= to }
      val bad = rows.filterNot { r =>
        want.get((r.getAs[String]("company"), r.getAs[java.sql.Date]("aggregation_date").toString))
          .exists(e => Expect.close(r.getAs[Double]("avg_price"), e.avgPrice, 1e-9))
      }
      if (rows.length != want.size || bad.nonEmpty) Seq(s"gold range $from..$to: ${rows.length} rows, ${bad.length} wrong")
      else Nil
    case "top_keywords" =>
      val got = rows.map(r => (r.getString(0), r.getLong(1))).toSeq
      val want = Expect.topKeywords(gold, from, to)
      if (got != want) Seq(s"top keywords $from..$to: $got, want $want") else Nil
    case "rmse" =>
      val got = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
      val bad = serving.filterNot { case (s, pairs) => got.get(s).exists(g => math.abs(g - Expect.rmse(pairs)) <= 1.5e-4) }
      if (got.size != serving.size || bad.nonEmpty) Seq(s"rmse: $got") else Nil
    case "corr_matrix" =>
      val days = gold.quotesDaily.keys.map(_._2).filter(d => d >= from && d <= to).toSeq.sorted
      val series = Gen.QuoteSymbols.map(s => s -> days.map(d => gold.quotesDaily((s, d)).avgPrice)).toMap
      val bad = rows.filterNot { r =>
        val (x, y) = (series(r.getString(1)), series(r.getString(2)))
        val want = if (r.getString(0) == "pearson") Expect.pearson(x, y) else Expect.spearman(x, y)
        !r.isNullAt(3) && math.abs(r.getDouble(3) - want) <= 1.5e-6
      }
      if (rows.length != 2 * series.size * series.size || bad.nonEmpty)
        Seq(s"corr $from..$to: ${bad.length} of ${rows.length} cells wrong") else Nil
  }

}

object Dashboard {
  val Kinds: Seq[String] = Seq("gold_range", "top_keywords", "rmse", "corr_matrix")
  val RangeDays = 14
  val ServingRowsPerSymbol = 2000

  val ServingSchema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("timestamp", LongType),
    StructField("event_time", TimestampType), StructField("prediction", DoubleType),
    StructField("label", DoubleType), StructField("input_data", StringType),
    StructField("version", LongType)))
}
