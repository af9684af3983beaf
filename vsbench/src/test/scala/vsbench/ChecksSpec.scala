package vsbench

import java.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Every output check accepts a correct answer and rejects a corrupted one. */
class ChecksSpec extends AnyFunSuite {
  private val dims = 8

  private def corpus(n: Int, seed: Long = 7L): Corpus = {
    val c = new Corpus(dims)
    val it = new Gen(seed, dims).stream(Gen.CorpusStream)
    (0 until n).foreach(i => c.upsert(i.toLong, it.next()))
    c
  }

  private def query(seed: Long = 7L): Array[Float] =
    new Gen(seed, dims).stream(Gen.QueryStream).next()

  /** The exact answer, as the engine would report it (float distances). */
  private def answer(truth: Seq[(Long, Double)]): Seq[Hit] =
    truth.zipWithIndex.map { case ((id, d), i) => Hit(i + 1, id, d.toFloat) }

  private def trueDistance(c: Corpus, q: Array[Float]): Long => Option[Double] =
    id => if (c.contains(id)) Some(c.distance(id, q)) else None

  test("wellFormed: k rows, ranks 1..k, ascending finite distances") {
    val c = corpus(200); val q = query()
    val good = answer(c.topK(q, 10))
    assert(Checks.wellFormed(good, 10).isEmpty)
    assert(Checks.wellFormed(good.take(9), 10).isDefined, "short answer")
    assert(Checks.wellFormed(good.updated(3, good(3).copy(rank = 9)), 10).isDefined, "bad rank")
    assert(Checks.wellFormed(good.updated(0, good(0).copy(dist = good(9).dist + 1)), 10).isDefined,
      "distances out of order")
    assert(Checks.wellFormed(good.updated(9, good(9).copy(dist = Float.NaN)), 10).isDefined, "NaN")
  }

  test("matchesExact: rejects a wrong distance, a foreign id and a misplaced id") {
    val c = corpus(500); val q = query()
    val truth = c.topK(q, 10)
    val good = answer(truth)
    assert(Checks.matchesExact(good, truth, trueDistance(c, q)).isEmpty)
    val far = good.updated(4, good(4).copy(dist = good(4).dist * 1.001f))
    assert(Checks.matchesExact(far, truth, trueDistance(c, q)).isDefined)
    val foreign = good.updated(2, good(2).copy(id = 99999L))
    assert(Checks.matchesExact(foreign, truth, trueDistance(c, q)).isDefined)
    // the 11th neighbour's id in place of the 10th: distances still match
    // the ground truth, but that id does not lie at the reported distance
    val eleventh = c.topK(q, 11).last._1
    val swapped = good.updated(9, good(9).copy(id = eleventh))
    assert(Checks.matchesExact(swapped, truth, trueDistance(c, q)).isDefined)
  }

  test("sameResults: accepts reordered ties, rejects a changed id or distance") {
    val a = Seq(Hit(1, 5, 1.0f), Hit(2, 6, 2.0f), Hit(3, 7, 2.0f), Hit(4, 8, 3.0f))
    assert(Checks.sameResults(a, a).isEmpty)
    val tieSwap = Seq(Hit(1, 5, 1.0f), Hit(2, 7, 2.0f), Hit(3, 6, 2.0f), Hit(4, 8, 3.0f))
    assert(Checks.sameResults(a, tieSwap).isEmpty)
    assert(Checks.sameResults(a, a.updated(1, Hit(2, 66, 2.0f))).isDefined)
    assert(Checks.sameResults(a, a.updated(3, Hit(4, 8, 3.1f))).isDefined)
    assert(Checks.sameResults(a, a.take(3)).isDefined)
  }

  test("noneDeleted and selfFirst reject a deleted id and a missing self match") {
    val h = Seq(Hit(1, 5, 0.0f), Hit(2, 6, 2.0f))
    assert(Checks.noneDeleted(h, Set(7L)).isEmpty)
    assert(Checks.noneDeleted(h, Set(6L)).isDefined)
    assert(Checks.selfFirst(h, 5L).isEmpty)
    assert(Checks.selfFirst(h, 6L).isDefined)
    assert(Checks.selfFirst(Nil, 5L).isDefined)
  }

  test("sameIds rejects a missing, an extra and a duplicated id") {
    val live = Set(1L, 2L, 3L)
    assert(Checks.sameIds(Seq(3L, 1L, 2L), live).isEmpty)
    assert(Checks.sameIds(Seq(1L, 2L), live).isDefined)
    assert(Checks.sameIds(Seq(1L, 2L, 3L, 4L), live).isDefined)
    assert(Checks.sameIds(Seq(1L, 2L, 3L, 3L), live).isDefined)
  }

  test("recall counts the true top-k ids found") {
    val truth = Seq((1L, 0.1), (2L, 0.2), (3L, 0.3), (4L, 0.4))
    assert(Checks.recall(Seq(Hit(1, 1, 0.1f), Hit(2, 9, 0.2f), Hit(3, 3, 0.3f), Hit(4, 8, 0.5f)), truth) == 0.5)
  }

  test("Corpus.topK equals a full sort, across upserts and deletes") {
    val c = corpus(300)
    val fresh = new Gen(8L, dims).stream(Gen.UpsertStream)
    (0 until 50).foreach(i => c.upsert(i.toLong * 3, fresh.next())) // overwrites
    (300 until 340).foreach(i => c.upsert(i.toLong, fresh.next())) // new ids
    (0 until 60).foreach(i => c.delete(i.toLong * 5 + 1))
    assert(c.size == 300 + 40 - 60)
    val q = query(9L)
    val all = c.liveIds.toSeq.map(id => (id, c.distance(id, q))).sortBy { case (id, d) => (d, id) }
    assert(c.topK(q, 10).toSeq == all.take(10))
    assert(!c.contains(1L) && c.contains(2L))
  }

  test("Gen is deterministic per seed and queries are not corpus members") {
    val a = new Gen(3L, dims).stream(Gen.CorpusStream).take(100).toSeq
    val b = new Gen(3L, dims).stream(Gen.CorpusStream).take(100).toSeq
    val other = new Gen(4L, dims).stream(Gen.CorpusStream).take(100).toSeq
    assert(a.map(_.toSeq) == b.map(_.toSeq))
    assert(a.map(_.toSeq) != other.map(_.toSeq))
    val qs = new Gen(3L, dims).stream(Gen.QueryStream).take(100).map(_.toSeq).toSet
    assert(a.forall(v => !qs(v.toSeq)))
  }

  test("WriteBatch ids are distinct, new ids are unused, deletes are live") {
    val c = corpus(1000)
    val rng = new Random(1L)
    var next = 1000L
    (0 until 20).foreach { _ =>
      val wb = WriteBatch.draw(c, rng, next, 30, 30, 20)
      val ids = wb.newIds ++ wb.overwrites ++ wb.deletes
      assert(ids.distinct.length == ids.length)
      assert(wb.newIds.forall(id => id >= next && !c.contains(id)))
      assert((wb.overwrites ++ wb.deletes).forall(c.contains))
      next += 30
      wb.upsertIds.foreach(id => c.upsert(id, query(id)))
      wb.deletes.foreach(c.delete)
    }
  }
}
