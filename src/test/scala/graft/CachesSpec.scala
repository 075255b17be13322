package graft

import graft.llm.{Dedup, Unigram}

/** The owner-keyed registry frees what each owner cached — persisted
  * frames and checkpoint blocks alike — and nothing of another
  * owner's. */
class CachesSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (3L, "completely different content about spark query engines here"))
    .toDF("doc_id", "text")

  private val corpus = (0 until 20)
    .map(i => (i.toLong, if (i % 2 == 0) "hello world hello" else "world peace"))
    .toDF("doc_id", "text")

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDD ids that `body` left persisted. */
  private def pinnedBy(body: => Unit): Set[Int] = {
    val before = persisted
    body
    persisted -- before
  }

  test("persist- and checkpoint-backed frames are tracked and released by owner") {
    Caches.releaseAll() // start clean regardless of suite order
    val dedupIds = pinnedBy(Dedup.minhashClusters(docs, "doc_id", "text").count())
    val unigramIds = pinnedBy(Unigram.train(corpus, "text", vocabSize = 50,
      iters = 2, maxPieceLen = 6, seedSize = 200))
    assert(Caches.count(Dedup) > 0, "minhashClusters should persist its signatures")
    assert(Caches.count(Unigram) > 0, "train should track its word-table checkpoint")
    assert(dedupIds.nonEmpty && unigramIds.nonEmpty)

    val unigramTracked = Caches.count(Unigram)
    Caches.release(Dedup)
    assert(Caches.count(Dedup) == 0)
    assert(Caches.count(Unigram) == unigramTracked,
      "releasing Dedup must not touch Unigram's entries")
    assert(unigramIds.subsetOf(persisted), "Unigram's checkpoint must stay pinned")

    Caches.releaseAll()
    assert(Caches.count(Unigram) == 0)
    val left = (dedupIds ++ unigramIds) & persisted
    assert(left.isEmpty, s"RDDs still persisted after releaseAll: $left")
  }
}
