package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def draw(seed: Long) = {
    val g = new Gen(seed)
    (g.batch(300, allowReupload = false), g.batch(300), g.pages(20), g.planted.toList)
  }

  test("the same seed yields identical inputs") {
    assert(draw(7) == draw(7))
  }

  test("a different seed yields different inputs") {
    val (a1, a2, ap, _) = draw(7)
    val (b1, b2, bp, _) = draw(8)
    assert(a1 != b1 && a2 != b2 && ap != bp)
    assert(a1.map(_.url).intersect(b1.map(_.url)).isEmpty, "urls differ between seeds")
  }

  test("realised shares follow the parameters and every kind of row occurs") {
    val g = new Gen(3)
    g.batch(1000, allowReupload = false)
    g.batch(1000)
    val st = g.realised
    assert(math.abs(st.share(st.invalid) - 0.06) < 0.02)
    assert(math.abs(st.share(st.reupload) - 0.05) < 0.02) // only the second batch re-uploads
    assert(math.abs(st.share(st.nearDup) - 0.03) < 0.015)
    assert(g.planted.nonEmpty)
  }

  test("re-uploads arrive un-normalized and normalize to an earlier url") {
    val g = new Gen(5)
    val first = g.batch(200, allowReupload = false).map(_.url).toSet
    val second = g.batch(200)
    val reups = second.filter(r => first(Model.normalize(r.url)))
    assert(reups.nonEmpty)
    assert(reups.forall(r => !first(r.url)), "re-uploads are not in canonical form")
  }

  test("planted near-duplicates are above the MinHash threshold, fresh rows are not") {
    val g = new Gen(9)
    val rows = g.batch(400, allowReupload = false).map(r => r.url -> r.content).toMap
    g.planted.foreach { case (a, b) => assert(Model.shingleJaccard(rows(a), rows(b)) >= 0.8) }
    val fresh = rows.values.take(50).toSeq
    assert(fresh.combinations(2).forall { case Seq(x, y) => Model.shingleJaccard(x, y) < 0.5 })
  }

  test("keyword skew stays bounded: the hottest keyword is on a few percent of links") {
    val m = new Model
    m.upload(new Gen(11).batch(2000, allowReupload = false))
    val hottest = m.keywordDegrees.values.max.toDouble / m.links.size
    assert(hottest > 0.01 && hottest < 0.04, s"hottest keyword share $hottest")
  }
}
