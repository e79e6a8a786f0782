package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  private def stream(seed: Long) = {
    val m = Corpus.materials(seed)
    (m, (0 to 3).flatMap(Corpus.block(seed, _, m)))
  }

  test("the same seed gives the same corpus and request stream") {
    assert(stream(11) == stream(11))
  }

  test("another seed gives another corpus and request stream") {
    val (m1, s1) = stream(11)
    val (m2, s2) = stream(12)
    assert(m1 != m2)
    assert(s1 != s2)
  }

  test("every block holds the same mix of tools, exports and refusals") {
    def mix(seed: Long, i: Int) = {
      val b = Corpus.block(seed, i, Corpus.materials(seed))
      (b.size, b.groupBy(_.tool).map { case (t, rs) => t -> rs.size },
        b.count(_.export), b.count(r => Corpus.expect(Corpus.materials(seed), r).code == -1))
    }
    val first = mix(1, 1)
    assert(first._1 == Corpus.BlockSize)
    assert(first._2.keySet == Corpus.ToolNames.toSet)
    assert(first._4 == 2)
    // half of the accepted calls write files
    assert(first._3 * 2 == first._1 - first._4)
    for (seed <- 1L to 5L; i <- 0 to 3) assert(mix(seed, i) == first)
  }

  test("the corpus exercises dedup and the quota water-fill") {
    val m = Corpus.materials(3)
    val ids = m.providers.flatMap(_._2.map(_.id))
    assert(ids.distinct.size < ids.size, "no id is shared by two providers")
    val sizes = m.providers.map(_._2.size)
    assert(sizes.min < 50 && sizes.max > 200)
    val spg = Corpus.block(3, 1, m).collectFirst { case r: Corpus.SpgCall => r }.get
    val want = Corpus.expect(m, spg)
    assert(want.planTotal.get == math.min(spg.nResults,
      m.providers.map(_._2.count(_.spg == spg.spg).min(spg.nResults)).sum))
  }
}
