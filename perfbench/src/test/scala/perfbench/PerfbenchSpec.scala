package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.MarkerSplit

class PerfbenchSpec extends AnyFunSuite {

  test("books and ids are a function of the seed") {
    assert(Books.ids(3, 50, 20, 10) == Books.ids(3, 50, 20, 10))
    assert(Books(3).text(42) == Books(3).text(42))
    val a = Books.ids(3, 50, 20, 10)
    val b = Books.ids(4, 50, 20, 10)
    assert((a.bulk ++ a.fresh ++ a.missing).toSet.size == 80)
    assert(a.bulk.toSet.intersect(b.bulk.toSet).isEmpty)
    assert(Books(3).text(42) != Books(4).text(42))
  }

  test("books carry both marker spellings, and one in fifty no end marker") {
    val books = Books(5)
    val texts = (1L to 400L).map(books.text)
    for (m <- MarkerSplit.StartMarkers ++ MarkerSplit.EndMarkers)
      assert(texts.exists(_.contains(m)), m)
    val unsplittable = (1L to 400L).filter(Books.unsplittable(5, _))
    assert(unsplittable.size > 2 && unsplittable.size < 20)
    unsplittable.foreach(id =>
      assert(!MarkerSplit.EndMarkers.exists(books.text(id).contains)))
    val sizes = texts.map(_.length)
    assert(sizes.min >= 32768 && sizes.max < 100000)
  }

  test("the expected split is the marker split's header and body") {
    val books = Books(6)
    val id = (1L to 100L).find(!Books.unsplittable(6, _)).get
    val text = books.text(id)
    val (header, body) = books.expectedSplit(id)
    val s = MarkerSplit.StartMarkers.filter(text.contains(_))
      .map(m => text.indexOf(m) + m.length).min
    val e = MarkerSplit.EndMarkers.map(text.lastIndexOf).max
    assert(header == text.substring(0, s).trim)
    assert(body == text.substring(s, e).trim)
  }

  test("a list missing an acknowledged id, or naming an unsent one, fails") {
    val sent = Set(1L, 2L, 3L)
    assert(ListCheck.snapshot(Set(1L, 2L), Seq(1L, 2L), sent).isEmpty)
    assert(ListCheck.snapshot(Set(1L, 2L, 3L), Seq(1L, 2L), sent).isEmpty)
    assert(ListCheck.snapshot(Set(1L), Seq(1L, 2L), sent).isDefined)
    assert(ListCheck.snapshot(Set(1L, 2L, 9L), Seq(1L, 2L), sent).isDefined)
    assert(ListCheck.exact(Seq(2L, 1L), Set(1L, 2L)).isEmpty)
    assert(ListCheck.exact(Seq(1L), Set(1L, 2L)).isDefined)
  }

  test("the request stream is a function of the seed and keeps the deck's mix") {
    val ids = Books.ids(7, 30, 200, 50)
    val hits = ids.bulk.take(20)
    def stream(seed: Long) = {
      val r = new LakeServe.Requests(seed, hits, ids)
      Seq.fill(100)(r.next())
    }
    assert(stream(7) == stream(7))
    assert(stream(7) != stream(8))
    val kinds = stream(7).groupBy(_.kind).map { case (k, v) => k -> v.size }
    assert(kinds == Map("hit" -> 45, "miss" -> 25, "list" -> 10, "ingest" -> 20))
    val s = stream(7)
    assert(s.filter(_.kind == "hit").forall(q => hits.contains(q.id)))
    assert(s.filter(_.kind == "ingest").map(_.id) == ids.fresh.take(20))
  }

  test("list bodies parse to their ids") {
    assert(LakeServe.listedIds("""{"count":2,"books":[5,17],"backend":"x"}""") == Set(5L, 17L))
    assert(LakeServe.listedIds("""{"count":0,"books":[],"backend":"x"}""").isEmpty)
  }
}
