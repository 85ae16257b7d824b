package layerbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** Everything the generator produces for one seed, as bytes. */
  private def inputs(seed: Long): Seq[Array[Byte]] = {
    val sales = Gen.sales(seed)
    val corpus = Gen.corpus(seed, base = 50, k = 3, plantedShare = 0.1)
    val media = Gen.media(seed, firstId = 1000L, images = 4, imageTwins = 2, clips = 3,
      clipTwins = 1, arts = 2, videos = 1)
    Gen.star(seed, Gen.StarSize(customers = 50, suppliers = 10, parts = 40, orders = 100,
        events = 200)).map(Gen.rowBytes) ++
      Seq(Gen.salesCsv(sales), Gen.salesXlsx(sales)) ++
      corpus.docs.map(_.text.getBytes("UTF-8")) ++
      Seq(corpus.planted.mkString(",").getBytes("UTF-8")) ++
      media.items.map(_.bytes) ++
      Gen.embeddings(seed, corpus.docs.map(_.id)).map(_._2.mkString(",").getBytes("UTF-8")) ++
      (0L until 40L).map(i => SqlStar.op(seed, i).toString.getBytes("UTF-8")) ++
      (0L until 12L).map { i =>
        val (shape, first) = Shapes.draw(seed, i, 20000, 400)
        s"${shape.spec}/$first".getBytes("UTF-8")
      }
  }

  test("the same seed gives byte-identical inputs") {
    assert(Gen.digest(inputs(11)) == Gen.digest(inputs(11)))
  }

  test("different seeds give different inputs") {
    assert(Gen.digest(inputs(11)) != Gen.digest(inputs(12)))
  }

  test("planted near-duplicates differ from their source by one token") {
    val c = Gen.corpus(5, base = 40, k = 3, plantedShare = 0.2)
    val byId = c.docs.map(d => d.id -> d).toMap
    assert(c.planted.nonEmpty)
    c.planted.foreach { case (src, twin) =>
      val (a, b) = (byId(src).tokens, byId(twin).tokens)
      assert(a.size == b.size && a.zip(b).count { case (x, y) => x != y } <= 1)
      assert(Gen.jaccard(Gen.shingles(byId(src)), Gen.shingles(byId(twin))) > 0.8)
    }
    // perturbed copies are related, not near-duplicates
    val copy = byId(40L)
    assert(Gen.jaccard(Gen.shingles(byId(0L)), Gen.shingles(copy)) < 0.5)
  }

  test("every 20 sql ops hold one planted statement") {
    val kinds = (40L until 60L).map(i => SqlStar.op(3, i).kind)
    assert(kinds.count(_ == "reject") == 1)
    assert(kinds.count(_ == "csv") == 2 && kinds.count(_ == "xlsx") == 1)
  }
}
