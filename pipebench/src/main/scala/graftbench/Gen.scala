package graftbench

import java.time.{Instant, LocalDate, ZoneOffset}
import scala.collection.mutable

/** Seeded input generator for every workload. Pure Scala: it sees only
  * the seed and sizes, and returns the inputs together with the facts it
  * planted (distinct keys, duplicates, invalid and late ticks), so the
  * checks never ask the library under test what the right answer is. */
object Gen {

  /** The yfinance-fed symbols whose quotes the batch path carries. */
  val QuoteSymbols: Seq[String] = Seq("XOM", "BP", "SHEL", "COP")
  /** The tick stream adds the slower XTB feed. */
  val TickSymbols: Seq[String] = QuoteSymbols :+ "ETHEREUM"

  private val DayMs = 86400000L
  private val BaseDay = LocalDate.parse("2024-10-01")

  private def rng(seed: Long, salt: Long) = new scala.util.Random(seed * 1000003L + salt)

  def utcDate(ms: Long): String =
    Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC).toLocalDate.toString

  // ---------------------------------------------------------------- news

  final case class Article(title: String, date: String, sourceSite: String,
      keywords: Vector[String], link: String)

  /** Bronze news: `distinct` articles plus exact re-scraped copies. */
  final case class News(rows: Vector[Article], distinct: Int, duplicates: Int)

  val Sites: Seq[String] = Seq("wnp.pl", "beurs.nl", "wysokienapiecie.pl",
    "reuters.com", "oilprice.com")
  val Keywords: Vector[String] = Vector("oil", "gas", "opec", "brent", "wti",
    "lng", "refinery", "pipeline", "drilling", "shale", "offshore", "energy",
    "renewables", "solar", "wind", "nuclear", "coal", "hydrogen", "carbon",
    "emissions", "tariff", "sanctions", "inflation", "rates", "dividend",
    "earnings", "merger", "exploration", "crude", "diesel", "gasoline",
    "storage", "supply", "demand", "prices", "output", "quota", "strike",
    "hurricane", "winter")

  def news(seed: Long, articles: Int, days: Int, dupShare: Double): News = {
    val r = rng(seed, 1)
    val base = (0 until articles).map { i =>
      val day = BaseDay.plusDays(r.nextInt(days).toLong).toString
      // skewed keyword popularity, so top-10 has a real ordering
      val n = 1 + r.nextInt(4)
      val kws = Iterator.continually(
        Keywords((Keywords.size * math.pow(r.nextDouble(), 2.0)).toInt))
        .distinct.take(n).toVector
      Article(s"Headline $seed-$i ${Keywords(r.nextInt(Keywords.size))} moves",
        day, Sites(r.nextInt(Sites.size)), kws, s"https://news.example/$seed/$i")
    }.toVector
    val dups = (0 until (articles * dupShare).toInt)
      .map(_ => base(r.nextInt(articles)))
    News(r.shuffle(base ++ dups), articles, dups.size)
  }

  // -------------------------------------------------------------- quotes

  final case class Update(ts: Long, price: Double, volume: Double,
      volatility: Double, spread: Double, sentiment: Double, activity: Double)

  /** One 10-minute-style dump: the updates each symbol saw in the
    * look-back window before `ts`. */
  final case class Dump(ts: Long, updates: Map[String, Vector[Update]])

  /** Bronze quotes. Consecutive dumps overlap (look-back longer than the
    * dump interval); some dumps are delivered twice and some arrays
    * repeat an update, and those two are what silver dedup removes. */
  final case class Quotes(dumps: Vector[Dump], exploded: Long, distinctKeys: Long,
      redelivered: Int, repeatedInArray: Int)

  def quotes(seed: Long, days: Int, updateEveryMin: Int, dumpEveryMin: Int,
      lookbackMin: Int, redeliverShare: Double, repeatShare: Double): Quotes = {
    val r = rng(seed, 2)
    val start = BaseDay.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
    val end = start + days * DayMs
    val series = QuoteSymbols.map { sym =>
      var price = 40.0 + r.nextInt(80)
      val ups = (start until end by updateEveryMin * 60000L).map { t =>
        price = math.max(1.0, price * (1.0 + r.nextGaussian() * 0.004))
        Update(t + r.nextInt(60000), round4(price), (1000 + r.nextInt(90000)).toDouble,
          round4(r.nextDouble() * 0.05), round4(r.nextDouble() * 0.2),
          round4(r.nextDouble() * 2 - 1), round4(r.nextDouble() * 100))
      }.toVector
      sym -> ups
    }.toMap
    var repeated = 0
    val dumps = (start + lookbackMin * 60000L until end by dumpEveryMin * 60000L).map { t =>
      Dump(t, QuoteSymbols.map { sym =>
        val s = series(sym)
        val inWindow = s.filter(u => u.ts <= t && u.ts > t - lookbackMin * 60000L)
        val arr =
          if (inWindow.nonEmpty && r.nextDouble() < repeatShare) {
            repeated += 1
            inWindow :+ inWindow(r.nextInt(inWindow.size))
          } else inWindow
        sym -> arr
      }.toMap)
    }.toVector
    val again = dumps.filter(_ => r.nextDouble() < redeliverShare)
    val all = r.shuffle(dumps ++ again)
    val exploded = all.map(_.updates.values.map(_.size.toLong).sum).sum
    val distinct = dumps.map(d => d.updates.values.map(_.map(_.ts).distinct.size.toLong).sum).sum
    Quotes(all, exploded, distinct, again.size, repeated)
  }

  private def round4(x: Double): Double = math.rint(x * 1e4) / 1e4

  // --------------------------------------------------------------- ticks

  /** One message on the tick topic. `due` is its send time, in ms after
    * the stream starts; `ts` its event time; `price` the label the
    * predictor serves (ETHEREUM carries the -1 sentinel, repaired to the
    * bid/ask midpoint). */
  final case class Tick(json: String, symbol: String, ts: Long, due: Double,
      price: Double, valid: Boolean, late: Boolean, outOfOrder: Boolean)

  final case class TickFeed(ticks: Vector[Tick], nowMs: Long, simStart: Long) {
    def valid: Vector[Tick] = ticks.filter(_.valid)
  }

  /** Event time runs `speedup` times faster than send time, so ten-minute
    * windows open and close during a short run. */
  val Speedup = 60L

  /** Per-symbol share of the offered rate: the XTB feed is the slowest. */
  val TickWeights: Seq[(String, Double)] =
    Seq("XOM" -> 0.3, "BP" -> 0.25, "SHEL" -> 0.2, "COP" -> 0.2, "ETHEREUM" -> 0.05)

  def ticks(seed: Long, ratePerS: Double, count: Int, lateShare: Double,
      outOfOrderShare: Double, invalidShare: Double): TickFeed = {
    val r = rng(seed, 3)
    val simStart = BaseDay.plusDays(40).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
    val nowMs = simStart + 30 * DayMs
    val used = mutable.Map[String, mutable.Set[Long]]()
    val price = mutable.Map(TickSymbols.map(s => s -> (if (s == "ETHEREUM") 3000.0 else 50.0 + r.nextInt(60))): _*)
    def pick(): String = {
      var u = r.nextDouble()
      TickWeights.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse("XOM")
    }
    val out = (0 until count).map { i =>
      val due = i * 1000.0 / ratePerS
      val sym = pick()
      val late = r.nextDouble() < lateShare
      val ooo = !late && r.nextDouble() < outOfOrderShare
      // late ticks fall up to 30 event-minutes back (past the 20-minute
      // watermark for some); out-of-order ones up to a minute back
      val back = if (late) 60000L + r.nextInt(1800000) else if (ooo) 1 + r.nextInt(60000) else 0
      var ts = simStart + (due * Speedup).toLong - back
      val seen = used.getOrElseUpdate(sym, mutable.Set())
      while (seen.contains(ts)) ts += 1
      seen += ts
      val p = price(sym) * (1.0 + r.nextGaussian() * 0.002)
      price(sym) = p
      val xtb = sym == "ETHEREUM"
      val bid = round4(p - 0.5)
      val ask = round4(p + 0.5)
      val label = if (xtb) (bid + ask) / 2 else round4(p)
      val fields = Seq(
        "symbol" -> s""""$sym"""",
        "timestamp" -> ts.toString,
        "source" -> (if (xtb) "\"XTB_FEED\"" else "\"YLIFE_FEED\""),
        "data_type" -> "\"MARKET_DATA\"",
        "bid" -> (if (xtb) bid else -1.0).toString,
        "ask" -> (if (xtb) ask else -1.0).toString,
        "price" -> (if (xtb) -1.0 else label).toString,
        "volume" -> (if (xtb) -1.0 else (100 + r.nextInt(5000)).toDouble).toString,
        "spread_raw" -> (if (xtb) round4(ask - bid) else -1.0).toString,
        "spread_table" -> -1.0.toString,
        "volatility" -> round4(r.nextDouble() * 0.05).toString,
        "market_sentiment" -> round4(r.nextDouble() * 2 - 1).toString,
        "trading_activity" -> round4(r.nextDouble() * 100).toString)
      val invalid = r.nextDouble() < invalidShare
      val json =
        if (!invalid) obj(fields)
        else r.nextInt(5) match {
          case 0 => obj(fields.map { case ("market_sentiment", _) => "market_sentiment" -> "2.5"; case f => f })
          case 1 => obj(fields.map { case ("trading_activity", _) => "trading_activity" -> "150.0"; case f => f })
          case 2 => obj(fields.map { case ("source", _) => "source" -> "\"UNKNOWN_FEED\""; case f => f })
          case 3 => obj(fields.map { case ("timestamp", _) => "timestamp" -> (nowMs + DayMs).toString; case f => f })
          case _ => "{\"symbol\": \"" + sym + "\", \"timestamp\": " // truncated message
        }
      Tick(json, sym, ts, due, label, !invalid, late && !invalid, ooo && !invalid)
    }.toVector
    TickFeed(out, nowMs, simStart)
  }

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  // ---------------------------------------------------------------- html

  final case class Doc(id: Long, url: String, html: String)

  /** Generated pages: `originals` distinct documents, exact duplicates
    * (same text, different markup) and near duplicates (one word of the
    * body changed). Duplicates carry larger ids than their original, so
    * the original is the one dedup keeps. */
  final case class Corpus(docs: Vector[Doc], originals: Set[Long],
      exactDups: Set[Long], nearDups: Set[Long])

  private val Stop = Vector("the", "of", "and", "to", "in", "a", "is", "that",
    "for", "on", "with", "as", "by", "at", "from")

  /** A fixed pseudo-word vocabulary (seed independent). */
  val Vocab: Vector[String] = {
    val r = new scala.util.Random(7)
    val syl = Vector("ka", "lo", "mi", "ne", "tur", "vas", "pre", "dom", "sil",
      "ber", "gan", "ro", "te", "qua", "fin", "mor", "zel", "pa", "dri", "ul")
    Iterator.continually((0 until 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.size))).mkString)
      .distinct.take(3000).toVector
  }

  def corpus(seed: Long, originals: Int, exactShare: Double, nearShare: Double): Corpus = {
    val r = rng(seed, 4)
    def word(): String =
      if (r.nextDouble() < 0.3) Stop(r.nextInt(Stop.size)) else Vocab(r.nextInt(Vocab.size))
    def paragraph(): Vector[String] = Vector.fill(30 + r.nextInt(20))(word())
    val bodies = Vector.fill(originals)(Vector.fill(3 + r.nextInt(3))(paragraph()))
    def page(id: Long, paras: Vector[Vector[String]], variant: Int): String = {
      val nav = (0 until 4).map(k => s"""<a href="/s$variant/$k">section $k</a>""").mkString(" ")
      val ps = paras.map(p => s"<p class=\"v$variant\">${p.mkString(" ")}.</p>").mkString("\n")
      s"""<html><head><title>${paras.head.take(6).mkString(" ")}</title></head>""" +
        s"""<body><nav>$nav</nav><article>$ps</article>""" +
        s"""<footer>site $variant</footer></body></html>"""
    }
    val orig = bodies.zipWithIndex.map { case (b, i) => Doc(i.toLong, s"https://pages.example/$seed/$i", page(i, b, 0)) }
    var next = originals.toLong
    val exact = (0 until (originals * exactShare).toInt).map { _ =>
      val o = r.nextInt(originals)
      next += 1
      Doc(next, s"https://mirror.example/$seed/$o", page(next, bodies(o), 1))
    }
    val near = (0 until (originals * nearShare).toInt).map { _ =>
      val o = r.nextInt(originals)
      val b = bodies(o)
      val pi = r.nextInt(b.size)
      val wi = r.nextInt(b(pi).size)
      var w = Vocab(r.nextInt(Vocab.size))
      while (w == b(pi)(wi)) w = Vocab(r.nextInt(Vocab.size))
      next += 1
      Doc(next, s"https://copy.example/$seed/$o", page(next, b.updated(pi, b(pi).updated(wi, w)), 2))
    }
    Corpus(r.shuffle(orig ++ exact ++ near), orig.map(_.id).toSet,
      exact.map(_.id).toSet, near.map(_.id).toSet)
  }
}
