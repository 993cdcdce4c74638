package graft.geom

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** The kNN count quadtree against brute force over the same labels:
  * histogram roll-ups, the leaf-level rule, and the per-point search's
  * guarantee radius and cell cut.
  */
class CellQuadtreeSpec extends AnyFunSuite {

  private def histOf(xy: Seq[(Double, Double)], level: Int,
                     maxCells: Int = CellHistogram.MaxCells): CellHistogram = {
    val b = new CellHistogram.Builder(level, maxCells)
    xy.foreach { case (x, y) => b.add(x, y) }
    b.result()
  }

  private def check(p: Prop, n: Int): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(n)
      .withInitialSeed(20261017L), p)
    assert(r.passed, r.status.toString)
  }

  private val genLabels: Gen[Vector[(Double, Double)]] = for {
    n <- Gen.choose(0, 60)
    cx <- Gen.choose(-170.0, 170.0); cy <- Gen.choose(-80.0, 80.0)
    spread <- Gen.oneOf(0.0, 0.01, 1.0, 40.0)
    xy <- Gen.listOfN(n, Gen.zip(Gen.choose(-1.0, 1.0), Gen.choose(-1.0, 1.0)))
  } yield xy.map { case (u, v) => (cx + u * spread, cy + v * spread) }.toVector

  test("histogram: builder cap, merge and coarsen agree with a direct roll-up") {
    check(Prop.forAll(genLabels, genLabels, Gen.choose(0, CellIndex.MaxLevel)) { (a, b, lvl) =>
      val whole = histOf(a ++ b, lvl)
      val merged = CellHistogram.merge(histOf(a, lvl), histOf(b, lvl))
      val capped = histOf(a ++ b, lvl, maxCells = 4)
      val rolled = whole.coarsen(capped.level)
      merged.cells.sameElements(whole.cells) && merged.counts.sameElements(whole.counts) &&
        whole.total == (a ++ b).size && capped.cells.length <= 4 &&
        rolled.cells.sameElements(capped.cells) && rolled.counts.sameElements(capped.counts) &&
        whole.cells.forall(c => CellIndex.levelOf(c) == lvl) &&
        (a ++ b).forall { case (x, y) =>
          whole.coarsen(0).cells.sameElements(Array(CellIndex.cellOf(x, y, 0))) &&
            rolled.cells.contains(CellIndex.cellOf(x, y, rolled.level))
        }
    }, 100)
  }

  test("autoLeafLevel: finest level whose occupied cells average >= 2 labels") {
    // 4 labels in one level-26 cell: every level averages 4
    val same = histOf(Seq.fill(4)((10.0, 20.0)), CellIndex.MaxLevel)
    assert(CellHistogram.autoLeafLevel(same) === CellIndex.MaxLevel)
    // two far-apart pairs: the pairs split only below level 0..1
    val pairs = histOf(Seq((-100.0, -50.0), (-100.0, -50.0), (100.0, 50.0), (100.0, 50.0)), 12)
    assert(CellHistogram.autoLeafLevel(pairs) === 12)
    // distinct spread labels: one per cell at fine levels, so a coarse level
    val spread = histOf((0 until 64).map(i => (-170.0 + i * 5.3, -80.0 + i * 2.5)), 20)
    val l = CellHistogram.autoLeafLevel(spread)
    def occ(lvl: Int) = spread.coarsen(lvl).cells.length
    assert(64 >= 2 * occ(l) && (l == spread.level || 64 < 2 * occ(l + 1)), s"level $l")
    assert(CellHistogram.autoLeafLevel(histOf(Seq((1.0, 1.0)), 9)) === 0)
    assert(CellHistogram.autoLeafLevel(CellHistogram.empty(9)) === 0)
  }

  test("search == brute force: minimal guarantee, complete and exact cell cut") {
    // labels inside the domain, so the brute force's plain cell rectangles
    // are the search's; points go past the domain edge
    def clamp(v: Double, lo: Double, hi: Double) = math.max(lo, math.min(hi, v))
    val gen = for {
      labels <- genLabels.map(_.map { case (x, y) => (clamp(x, -180, 180), clamp(y, -90, 90)) })
      pts <- Gen.listOfN(8, Gen.zip(Gen.choose(-185.0, 185.0), Gen.choose(-95.0, 95.0)))
      k <- Gen.choose(1, 8)
      leaf <- Gen.choose(0, 14)
    } yield (labels, pts, k, leaf)
    check(Prop.forAll(gen) { case (labels, pts, k, leaf) =>
      val h = histOf(labels, leaf)
      val search = new CellQuadtree.Search(CellQuadtree(h, leaf))
      val leaves = h.cells.zip(h.counts)
      pts.forall { case (x, y) =>
        val r2 = search.run(x, y, k)
        val got = search.cells.take(search.nCells).toSet
        // brute guarantee: leaves by farthest-corner distance until >= k
        def far2(c: Long) = { val r = CellIndex.cellRect(c)
          val dx = math.max(x - r.minX, r.maxX - x); val dy = math.max(y - r.minY, r.maxY - y)
          dx * dx + dy * dy }
        def near2(c: Long) = { val r = CellIndex.cellRect(c)
          val dx = math.max(math.max(r.minX - x, x - r.maxX), 0.0)
          val dy = math.max(math.max(r.minY - y, y - r.maxY), 0.0)
          dx * dx + dy * dy }
        val byFar = leaves.sortBy { case (c, _) => far2(c) }
        val reach = byFar.scanLeft(0L)(_ + _._2).indexWhere(_ >= k)
        val g2 = if (reach <= 0) Double.PositiveInfinity else far2(byFar(reach - 1)._1)
        val wantCells = leaves.map(_._1)
          .filter(c => near2(c) <= g2 * (1.0 + CellQuadtree.CutSlack)).toSet
        val d2s = labels.map { case (lx, ly) => (x - lx) * (x - lx) + (y - ly) * (y - ly) }.sorted
        val kth = if (d2s.size >= k) d2s(k - 1) else Double.NegativeInfinity
        val inside = labels.filter { case (lx, ly) =>
          (x - lx) * (x - lx) + (y - ly) * (y - ly) <= r2 }
        r2 == g2 * (1.0 + CellQuadtree.FilterSlack) && got == wantCells &&
          got.size == search.nCells && kth <= r2 &&
          inside.forall { case (lx, ly) => got.contains(CellIndex.cellOf(lx, ly, leaf)) }
      }
    }, 200)
  }

  test("out-of-domain labels: border cells stretch to the label box") {
    // cellOf clamps (500, 0) into the east border cell; the point next to
    // it must see the label, and the guarantee must not trust the clamp
    val labels = Seq((500.0, 0.0), (501.0, 0.0), (-10.0, 0.0))
    val h = histOf(labels, 6)
    val s = new CellQuadtree.Search(CellQuadtree(h, 6))
    val r2 = s.run(499.0, 0.0, 2)
    assert(r2 >= 4.0, s"r2 $r2 must cover the label at distance 2")
    val cells = s.cells.take(s.nCells).toSet
    assert(cells.contains(CellIndex.cellOf(500.0, 0.0, 6)))
    val r1 = s.run(0.0, 0.0, 1)
    assert(r1 >= 100.0 && s.cells.take(s.nCells).contains(CellIndex.cellOf(-10.0, 0.0, 6)))
  }

  test("empty tree and fewer than k labels: infinite bound, every leaf") {
    val empty = new CellQuadtree.Search(CellQuadtree(CellHistogram.empty(5), 5))
    assert(empty.run(1.0, 2.0, 3) === Double.PositiveInfinity && empty.nCells === 0)
    val two = histOf(Seq((1.0, 1.0), (50.0, 50.0)), 10)
    val s = new CellQuadtree.Search(CellQuadtree(two, 10))
    assert(s.run(-170.0, -80.0, 3) === Double.PositiveInfinity)
    assert(s.cells.take(s.nCells).toSet === two.cells.toSet)
  }
}
