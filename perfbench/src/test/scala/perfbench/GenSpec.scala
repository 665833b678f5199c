package perfbench

import java.util.zip.ZipInputStream
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def csv(zip: Array[Byte]): Array[Byte] = {
    val in = new ZipInputStream(new java.io.ByteArrayInputStream(zip))
    in.getNextEntry
    in.readAllBytes()
  }

  test("focos archives: the same seed writes the same bytes, another seed does not") {
    val a = new FocosGen(7L, 2016, 3, 3000)
    val b = new FocosGen(7L, 2016, 3, 3000)
    val c = new FocosGen(8L, 2016, 3, 3000)
    a.years.foreach { y =>
      assert(a.archive(y, 120).bytes.sameElements(b.archive(y, 120).bytes))
      assert(!a.archive(y, 120).bytes.sameElements(c.archive(y, 120).bytes))
    }
  }

  test("a growing year keeps its earlier rows and adds to its counts") {
    val g = new FocosGen(3L, 2016, 2, 5000)
    val before = g.archive(g.currentYear, 100)
    val after = g.archive(g.currentYear, 101)
    assert(csv(after.bytes).startsWith(csv(before.bytes)))
    assert(after.rows >= before.rows)
    assert(after.valid.values.sum >= before.valid.values.sum)
  }

  test("focos dirt is present and expected counts exclude it") {
    val g = new FocosGen(5L, 2016, 1, 20000)
    val a = g.archive(2016, 366)
    val text = new String(csv(a.bytes), java.nio.charset.StandardCharsets.ISO_8859_1)
    Seq("not-a-date", "NOAA-20", "aqua_m-t", "NAN").foreach(d => assert(text.contains(d), d))
    assert(a.valid.values.sum < a.rows)
    assert(a.valid.keySet.forall(_.startsWith("2016-")))
  }

  test("feed: the same seed gives the same records and images") {
    val a = new FeedGen(11L, 50, 40, 3)
    val b = new FeedGen(11L, 50, 40, 3)
    val c = new FeedGen(12L, 50, 40, 3)
    assert(a.records.length == 170)
    a.records.zip(b.records).foreach { case (x, y) =>
      assert(x.copy(embedding = null) == y.copy(embedding = null))
      assert(x.embedding.sameElements(y.embedding))
    }
    assert(a.image(a.records(60)).sameElements(b.image(b.records(60))))
    assert(a.records.map(_.text) != c.records.map(_.text))
  }

  test("feed plants every duplicate class against earlier batches") {
    val g = new FeedGen(1L, 100, 100, 4)
    val byId = g.records.map(r => r.docId -> r).toMap
    val planted = g.records.filter(_.planted != FeedGen.Fresh)
    Seq(FeedGen.Exact, FeedGen.Near, FeedGen.Retyped, FeedGen.Twin)
      .foreach(k => assert(planted.exists(_.planted == k), k))
    planted.foreach { r =>
      val ref = byId(r.ref)
      assert(ref.planted == FeedGen.Fresh)
      assert((ref.docId - 100) / 100 < (r.docId - 100) / 100 || ref.docId < 100)
      if (r.planted == FeedGen.Exact) assert(r.text == ref.text && ref.docId >= 100)
    }
    assert(g.records.take(100).forall(_.planted == FeedGen.Fresh))
  }

  test("every batch holds a retyped key; every later batch holds all four classes") {
    val g = new FeedGen(9L, 200, 40, 3)
    (0 until 3).foreach { b =>
      val (lo, hi) = g.batchRange(b)
      val kinds = g.records.filter(r => r.docId >= lo && r.docId < hi).map(_.planted).toSet
      val want = if (b == 0) Set[FeedGen.Planted](FeedGen.Retyped)
                 else Set[FeedGen.Planted](FeedGen.Exact, FeedGen.Near, FeedGen.Twin, FeedGen.Retyped)
      assert(want.subsetOf(kinds), s"batch $b: $kinds")
    }
  }
}
