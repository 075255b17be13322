package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator is deterministic in its seed and its planted facts
  * agree with the data it returns. */
class GenSpec extends AnyFunSuite {

  test("same seed, same inputs; another seed, other inputs") {
    assert(Gen.news(5, 200, 21, 0.15) == Gen.news(5, 200, 21, 0.15))
    assert(Gen.quotes(5, 3, 10, 60, 120, 0.05, 0.02) == Gen.quotes(5, 3, 10, 60, 120, 0.05, 0.02))
    assert(Gen.ticks(5, 50, 300, 0.02, 0.03, 0.01) == Gen.ticks(5, 50, 300, 0.02, 0.03, 0.01))
    assert(Gen.corpus(5, 50, 0.1, 0.1) == Gen.corpus(5, 50, 0.1, 0.1))
    assert(Gen.news(5, 200, 21, 0.15) != Gen.news(6, 200, 21, 0.15))
    assert(Gen.ticks(5, 50, 300, 0.02, 0.03, 0.01) != Gen.ticks(6, 50, 300, 0.02, 0.03, 0.01))
  }

  test("news: planted duplicates are exact copies of distinct titles") {
    val n = Gen.news(1, 500, 21, 0.2)
    assert(n.rows.size == n.distinct + n.duplicates)
    assert(n.rows.map(_.title).distinct.size == n.distinct)
    assert(n.rows.groupBy(_.title).values.forall(_.distinct.size == 1))
    assert(n.rows.forall(a => a.keywords.nonEmpty && a.keywords.distinct == a.keywords))
  }

  test("quotes: distinct keys count (record, update, company) triples") {
    val q = Gen.quotes(1, 3, 10, 60, 120, 0.2, 0.2)
    val triples = q.dumps.flatMap(d => d.updates.toSeq.flatMap { case (s, us) => us.map(u => (d.ts, u.ts, s)) })
    assert(q.exploded == triples.size)
    assert(q.distinctKeys == triples.distinct.size)
    assert(q.redelivered > 0 && q.repeatedInArray > 0)
    assert(q.exploded > q.distinctKeys)
    // dumps overlap: one update shows up under several records
    assert(triples.map(t => (t._2, t._3)).distinct.size < q.distinctKeys)
  }

  test("ticks: keys unique per symbol; invalid and late ticks planted") {
    val f = Gen.ticks(1, 50, 3000, 0.02, 0.03, 0.01)
    assert(f.ticks.map(t => (t.symbol, t.ts)).distinct.size == f.ticks.size)
    assert(f.ticks.exists(!_.valid) && f.ticks.exists(_.late) && f.ticks.exists(_.outOfOrder))
    assert(f.ticks.map(_.due) == f.ticks.map(_.due).sorted)
    assert(f.valid.forall(t => t.ts <= f.nowMs))
    assert(f.ticks.filter(_.symbol == "ETHEREUM").forall(_.json.contains("\"price\": -1.0")))
    assert(f.ticks.count(_.symbol == "ETHEREUM") < f.ticks.count(_.symbol == "XOM"))
  }

  test("corpus: duplicates follow their original, near duplicates differ by one word") {
    val c = Gen.corpus(1, 100, 0.1, 0.1)
    assert(c.docs.size == c.originals.size + c.exactDups.size + c.nearDups.size)
    assert(c.originals.max < (c.exactDups ++ c.nearDups).min)
    def words(html: String) = html.replaceAll("<[^>]*>", " ").split("\\s+").filter(_.nonEmpty).toSeq
    val byId = c.docs.map(d => d.id -> d).toMap
    c.nearDups.foreach { id =>
      val origId = byId(id).url.split("/").last.toLong
      val (a, b) = (words(byId(origId).html), words(byId(id).html))
      assert(a.size == b.size && a.zip(b).count { case (x, y) => x != y } >= 1)
    }
  }

  test("window labels average the valid ticks of a window") {
    val f = Gen.ticks(2, 50, 500, 0, 0, 0.05)
    val labels = Expect.windowLabels(f)
    assert(labels.size == f.valid.size)
    val t = f.valid.head
    val w = f.valid.filter(x => x.symbol == t.symbol && x.ts / 600000 == t.ts / 600000)
    assert(math.abs(labels((t.symbol, t.ts)) - w.map(_.price).sum / w.size) < 1e-9)
  }
}
