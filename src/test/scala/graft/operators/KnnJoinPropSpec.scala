package graft.operators

import graft.TestSpark
import graft.geom.CellIndex
import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Generated differential test of knnJoin: random label and point sets
  * against a cross-join brute force ranked by (d2, poly_id), in both label
  * modes. The generator covers clustered labels, isolated far-away
  * points, fewer than k labels, an empty label table, duplicate label
  * positions (exact d2 ties broken by poly_id) and explicit leaf levels
  * from 0 to MaxLevel. A failure shrinks by dropping labels and points.
  */
class KnnJoinPropSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  final case class Case(labels: Vector[(Double, Double)], points: Vector[(Double, Double)],
                        k: Int, level: Int) {
    override def toString: String =
      s"Case(k=$k, level=${if (level == SpatialJoins.AutoLevel) "auto" else level}, " +
        s"labels=${labels.mkString(" ")}, points=${points.mkString(" ")})"
  }

  // a 1/8-degree lattice: distances repeat exactly, so d2 ties are common
  private def coord(lo: Double, hi: Double): Gen[Double] =
    Gen.choose(math.round(lo * 8).toInt, math.round(hi * 8).toInt).map(_ / 8.0)
  private def near(cx: Double, cy: Double, r: Double): Gen[(Double, Double)] =
    Gen.zip(coord(cx - r, cx + r), coord(cy - r, cy + r))
  private val anywhere: Gen[(Double, Double)] = Gen.zip(coord(-180, 180), coord(-90, 90))

  private val genLabels: Gen[Vector[(Double, Double)]] = Gen.frequency(
    4 -> (for { // clustered around a few centres
      centres <- Gen.listOfN(3, Gen.zip(coord(-150, 150), coord(-60, 60)))
      n <- Gen.choose(1, 40)
      xy <- Gen.listOfN(n, Gen.oneOf(centres).flatMap { case (cx, cy) => near(cx, cy, 2.0) })
    } yield xy.toVector),
    2 -> Gen.choose(0, 30).flatMap(Gen.listOfN(_, anywhere)).map(_.toVector),
    2 -> Gen.choose(0, 4).flatMap(Gen.listOfN(_, anywhere)).map(_.toVector), // < k, or empty
    2 -> (for { // duplicate positions: exact ties
      pool <- Gen.listOfN(3, near(10.0, 10.0, 3.0))
      n <- Gen.choose(2, 30)
      xy <- Gen.listOfN(n, Gen.oneOf(pool))
    } yield xy.toVector))

  private def genPoints(labels: Vector[(Double, Double)]): Gen[Vector[(Double, Double)]] = {
    val nearLabel =
      if (labels.isEmpty) anywhere
      else Gen.oneOf(labels).flatMap { case (x, y) => near(x, y, 1.0) }
    val isolated = Gen.zip(Gen.oneOf(-179.5, 179.5), Gen.oneOf(-89.5, 89.5))
    Gen.choose(1, 20).flatMap(Gen.listOfN(_,
      Gen.frequency(4 -> nearLabel, 2 -> anywhere, 1 -> isolated))).map(_.toVector)
  }

  private val genCase: Gen[Case] = for {
    labels <- genLabels
    points <- genPoints(labels)
    k <- Gen.choose(1, 6)
    level <- Gen.frequency(2 -> Gen.const(SpatialJoins.AutoLevel),
      1 -> Gen.oneOf(0, CellIndex.MaxLevel), 3 -> Gen.choose(0, CellIndex.MaxLevel))
  } yield Case(labels, points, k, level)

  private def drops[T](v: Vector[T]): LazyList[Vector[T]] =
    v.indices.to(LazyList).map(i => v.patch(i, Nil, 1))
  private implicit val shrinkCase: Shrink[Case] = Shrink.withLazyList { c =>
    drops(c.labels).map(l => c.copy(labels = l)) #:::
      drops(c.points).filter(_.nonEmpty).map(p => c.copy(points = p))
  }

  private def polyId(i: Int) = s"L$i" // lexical order != numeric: "L10" < "L2"

  /** (point_id, poly_id, rank, d2) of the k nearest, by (d2, poly_id). */
  private def brute(c: Case): Set[(Long, String, Int, Double)] =
    c.points.zipWithIndex.flatMap { case ((x, y), p) =>
      c.labels.zipWithIndex
        .map { case ((lx, ly), i) => (polyId(i), (x - lx) * (x - lx) + (y - ly) * (y - ly)) }
        .sortWith { case ((ia, da), (ib, db)) => da < db || (da == db && ia < ib) }
        .take(c.k).zipWithIndex
        .map { case ((id, d2), r) => (p.toLong, id, r + 1, d2) }
    }.toSet

  private def run(c: Case, broadcastLabels: Boolean): Set[(Long, String, Int, Double)] = {
    val labels = c.labels.zipWithIndex.map { case ((x, y), i) => (polyId(i), x, y) }
      .toDF("poly_id", "lx", "ly")
    // an RDD-backed point side keeps the search inside whole-stage codegen
    val points = spark.sparkContext.parallelize(
      c.points.zipWithIndex.map { case ((x, y), p) => (p.toLong, x, y) }, 2)
      .toDF("point_id", "x", "y")
    SpatialJoins.knnJoin(points, labels, c.k, c.level, broadcastLabels)
      .select("point_id", "poly_id", "rank", "d2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
  }

  test("knnJoin == cross-join brute force on generated cases, both label modes") {
    val prop = Prop.forAll(genCase) { c =>
      val want = brute(c)
      Prop.all(Seq(true, false).map { b =>
        val got = run(c, b)
        (got == want) :| s"broadcastLabels=$b: missing ${want -- got}, extra ${got -- want}"
      }: _*)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40)
      .withInitialSeed(20261017L), prop)
    assert(res.passed, res.status.toString)
  }
}
