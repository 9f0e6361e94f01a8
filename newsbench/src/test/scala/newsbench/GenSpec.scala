package newsbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same corpus and backlog; another seed does not") {
    assert(Gen.corpus(7, 200, 50000, 0.1) == Gen.corpus(7, 200, 50000, 0.1))
    assert(Gen.backlog(7, 10, 12, 0.1, 0.1) == Gen.backlog(7, 10, 12, 0.1, 0.1))
    assert(Gen.corpus(7, 200, 50000, 0.1) != Gen.corpus(8, 200, 50000, 0.1))
  }

  test("lengths keep the word budget and the minimum; the tail moves with the seed") {
    val a = Gen.lengths(300, 75000, 120, new java.util.SplittableRandom(1))
    val b = Gen.lengths(300, 75000, 120, new java.util.SplittableRandom(2))
    Seq(a, b).foreach { l =>
      assert(l.min >= 120)
      assert(math.abs(l.sum - 75000) < 300) // per-article truncation only
      assert(l.max > 3 * l.sum / l.size)    // a long right tail
    }
    assert(a.max != b.max)
  }

  test("copies point at an earlier original, and survivors are the non-copies") {
    val c = Gen.corpus(3, 300, 75000, 0.1)
    val planted = c.plantedPairs
    assert(planted.nonEmpty)
    val originals = c.articles.filter(_.dupOf.isEmpty).map(_.id).toSet
    planted.foreach { case (o, d) => assert(o < d && originals(o)) }
    assert(c.survivors == originals)
    assert(c.articles.map(_.url).distinct.size == c.articles.size)
  }

  test("backlog re-deliveries repeat a row of the previous three slices") {
    val b = Gen.backlog(5, 30, 10, 0.1, 0.1)
    var seen = Map.empty[String, Int]
    var replays = 0
    b.slices.zipWithIndex.foreach { case (s, i) =>
      s.foreach { a =>
        seen.get(a.url) match {
          case Some(j) => replays += 1; assert(i - j <= 3)
          case None => seen += a.url -> i
        }
      }
    }
    assert(replays > 0)
    val fresh = b.slices.flatten.map(_.id).distinct
    assert(fresh == fresh.sorted) // ids grow with arrival
  }

  test("dates come in both RSS spellings") {
    assert(Gen.rssDate(1727740800L, rfc = true) == "Tue, 01 Oct 2024 07:00:00 +0700")
    assert(Gen.rssDate(1727740800L, rfc = false) == "2024-10-01T07:00:00+07:00")
  }
}
