package graftbench

/** Independent recomputation of every result the checks compare:
  * plain Scala collections over the generated inputs, no Spark. */
object Expect {

  final case class QuoteDay(avgPrice: Double, maxPrice: Double, minPrice: Double,
      avgVolume: Double, avgVolatility: Double, avgSentiment: Double)

  final case class Gold(
      newsDaily: Map[(String, String), Long],
      keywordDaily: Map[(String, String), Long],
      quotesDaily: Map[(String, String), QuoteDay])

  def gold(news: Gen.News, quotes: Gen.Quotes): Gold = {
    val articles = news.rows.groupBy(_.title).values.map(_.head).toVector
    val newsDaily = articles.groupBy(a => (a.date, a.sourceSite))
      .map { case (k, v) => k -> v.size.toLong }
    val keywordDaily = articles.flatMap(a => a.keywords.map(k => (a.date, k)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    // silver keeps one row per (record, update, company); dumps that
    // overlap in time are different records and all stay
    val silver = quotes.dumps.flatMap { d =>
      d.updates.toVector.flatMap { case (sym, ups) => ups.map(u => (d.ts, u.ts, sym) -> u) }
    }.toMap
    val quotesDaily = silver.toVector.groupBy { case ((_, uts, sym), _) => (sym, Gen.utcDate(uts)) }
      .map { case (k, rows) =>
        val us = rows.map(_._2)
        def avg(f: Gen.Update => Double) = us.map(f).sum / us.size
        k -> QuoteDay(avg(_.price), us.map(_.price).max, us.map(_.price).min,
          avg(_.volume), avg(_.volatility), avg(_.sentiment))
      }
    Gold(newsDaily, keywordDaily, quotesDaily)
  }

  /** Ten most frequent keywords over [from, to] (inclusive ISO dates),
    * ties broken by keyword. */
  def topKeywords(g: Gold, from: String, to: String): Seq[(String, Long)] =
    g.keywordDaily.toSeq.filter { case ((d, _), _) => d >= from && d <= to }
      .groupBy(_._1._2).map { case (k, v) => k -> v.map(_._2).sum }
      .toSeq.sortBy { case (k, n) => (-n, k) }.take(10)

  def rmse(pairs: Seq[(Double, Double)]): Double =
    math.sqrt(pairs.map { case (p, l) => (p - l) * (p - l) }.sum / pairs.size)

  def pearson(x: Seq[Double], y: Seq[Double]): Double = {
    val mx = x.sum / x.size
    val my = y.sum / y.size
    val cov = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum
    cov / math.sqrt(x.map(a => (a - mx) * (a - mx)).sum * y.map(b => (b - my) * (b - my)).sum)
  }

  /** Average ranks (ties share the mean rank), as Spark's Spearman. */
  def ranks(x: Seq[Double]): Seq[Double] = {
    val sorted = x.zipWithIndex.sortBy(_._1)
    val out = new Array[Double](x.size)
    var i = 0
    while (i < sorted.size) {
      var j = i
      while (j + 1 < sorted.size && sorted(j + 1)._1 == sorted(i)._1) j += 1
      val rank = (i + j) / 2.0 + 1
      (i to j).foreach(k => out(sorted(k)._2) = rank)
      i = j + 1
    }
    out.toSeq
  }

  def spearman(x: Seq[Double], y: Seq[Double]): Double = pearson(ranks(x), ranks(y))

  /** Served label after back-fill: the average price of the valid ticks
    * in the same symbol and ten-minute event-time window. */
  def windowLabels(feed: Gen.TickFeed): Map[(String, Long), Double] = {
    val win = 600000L
    val byWindow = feed.valid.groupBy(t => (t.symbol, Math.floorDiv(t.ts, win)))
      .map { case (k, ts) => k -> ts.map(_.price).sum / ts.size }
    feed.valid.map(t => (t.symbol, t.ts) -> byWindow((t.symbol, Math.floorDiv(t.ts, win)))).toMap
  }

  def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
}
