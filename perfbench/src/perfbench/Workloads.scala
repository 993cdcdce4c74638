package perfbench

import graft.Pipeline
import graft.functions.GraftFunctions.polylabel
import graft.geom.{CellIndex, Fixtures, Geom, PolygonG, Polylabel}
import graft.operators.{Caching, Dedup, SpatialJoins}
import graft.sources.{GeoTables, IcebergLite, Images, PolyRow}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Input description printed in the run header. */
final case class InputInfo(rows: Long, bytes: Long, note: String)

/** One benchmark workload. `generate` writes the seeded inputs under the
  * work dir (parquet, so no iteration starts with a cached RDD), `expect`
  * derives the reference answers by an independent path, `iterate` is
  * the timed closed-loop job and `check` compares its output.
  */
trait Workload {
  type In
  type Exp
  type Out
  def name: String
  /** The stated input rows behind `rows_per_s`. */
  def inputRows: Long
  /** `job_s_tail` is the (tailBeyond+1)-th largest of the last `tailN`
    * iterations; the loop runs at least `tailN` of them. Fixed per
    * workload, so every run reports the same percentile.
    */
  def tailN: Int
  def tailBeyond: Int
  def generate(spark: SparkSession, seed: Long, dir: Path): (In, InputInfo)
  def expect(spark: SparkSession, in: In): Exp
  def iterate(spark: SparkSession, in: In, tr: Tracer, dir: Path): Out
  /** None when the output is correct, else what is wrong. */
  def check(spark: SparkSession, in: In, exp: Exp, out: Out, iter: Int): Option[String]
  def release(out: Out): Unit = ()
}

object Workloads {
  val all: Seq[Workload] = Seq(PolylabelWl, KnnWl, ImagePipelineWl, DedupWl)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Order-free checksum over a frame's rows. */
  def checksumCols(cols: Seq[String]): Seq[org.apache.spark.sql.Column] =
    Seq(count(lit(1)).as("n"), bit_xor(xxhash64(cols.map(col): _*)).as("h"))

  def checksum(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(checksumCols(cols).head, checksumCols(cols).tail: _*).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Write `df` as parquet under dir/name; returns (path, rows, bytes). */
  def persistParquet(df: DataFrame, dir: Path, name: String): (String, Long, Long) = {
    val p = dir.resolve(name).toString
    df.write.mode("overwrite").parquet(p)
    val rows = df.sparkSession.read.parquet(p).count()
    (p, rows, dirBytes(dir.resolve(name)))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val it = Files.walk(p).iterator()
      var b = 0L
      while (it.hasNext) { val f = it.next(); if (Files.isRegularFile(f)) b += Files.size(f) }
      b
    }

  def fileCount(p: Path, suffix: String): Int =
    if (!Files.exists(p)) 0
    else {
      val it = Files.walk(p).iterator()
      var n = 0
      while (it.hasNext) { if (it.next().toString.endsWith(suffix)) n += 1 }
      n
    }

  def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  /** Observed metrics of a noop write of `df`: row count "n", checksum
    * "h" and any `extra` aggregates, by alias.
    */
  def sinkObserved(df: DataFrame, cols: Seq[String], extra: org.apache.spark.sql.Column*): Map[String, Any] = {
    val obs = Observation("perfbench")
    val cs = checksumCols(cols) ++ extra
    df.observe(obs, cs.head, cs.tail: _*).write.format("noop").mode("overwrite").save()
    obs.get
  }
}

/** polylabel: the kernel expression over the mixed polygon table. */
object PolylabelWl extends Workload {
  import Workloads._
  val name = "polylabel"
  val nSyn = 18000
  val nNorway = 180
  def inputRows: Long = nSyn + nNorway + Fixtures.all.size
  val tailN = 50
  val tailBeyond = 10

  final case class In(path: String, rows: Long)
  final case class Exp(n: Long, h: Long)
  type Out = Map[String, Any]

  /** Reference label points of the fixtures (FIXTURES.md); poly2 has no
    * pinned point, only the property that the label lies inside.
    */
  val reference: Map[String, (Double, Double)] = Map(
    "poly1" -> (59.356155563645696, 121.83919629746435),
    "poly3" -> (-0.45556816445920356, 51.54848888202887),
    "ell" -> (0.5625, 0.5625),
    "degenerate_a" -> (0.0, 0.0),
    "degenerate_b" -> (0.0, 0.0),
    "square_with_hole" -> (35.15625, 35.15625),
    "hexagon_two_holes" -> (2.515625, 2.828125),
    "norway" -> (10.29301152092468, 61.6784192527327))

  def table(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val syn = GeoTables.syntheticPolygons(spark, nSyn, seed).toDF
    val nw = GeoTables.fixtures(spark).toDF.where($"poly_id" === "norway")
      .crossJoin(spark.range(nNorway).select($"id".as("copy")))
      .select(concat(lit("nw-"), $"copy").as("poly_id"), $"exterior", $"holes", $"tolerance")
    syn.unionByName(nw).unionByName(GeoTables.fixtures(spark).toDF)
  }

  def generate(spark: SparkSession, seed: Long, dir: Path): (In, InputInfo) = {
    val (p, rows, bytes) = persistParquet(table(spark, seed), dir, "polygons")
    (In(p, rows), InputInfo(rows, bytes,
      s"$nSyn synthetic (6-512 vertices) + $nNorway Norway copies (8,854 vertices) + 9 fixtures"))
  }

  def expect(spark: SparkSession, in: In): Exp = {
    import spark.implicits._
    val typed = GeoTables.labels(spark.read.parquet(in.path).as[PolyRow]).toDF
    val (n, h) = checksum(typed, Seq("poly_id", "x", "y", "dist"))
    Exp(n, h)
  }

  def iterate(spark: SparkSession, in: In, tr: Tracer, dir: Path): Out = tr.call("functions.polylabel") {
    val labels = spark.read.parquet(in.path)
      .withColumn("label", polylabel(col("exterior"), col("holes"), col("tolerance")))
      .select(col("poly_id"), col("label.x").as("x"), col("label.y").as("y"), col("label.dist").as("dist"))
    sinkObserved(labels, Seq("poly_id", "x", "y", "dist"),
      collect_list(when(col("poly_id").isin(Fixtures.all.map(_._1): _*),
        struct(col("poly_id"), col("x"), col("y")))).as("fixtures"))
  }

  def check(spark: SparkSession, in: In, exp: Exp, out: Out, iter: Int): Option[String] = {
    val (n, h) = (out("n").asInstanceOf[Long], out("h").asInstanceOf[Long])
    val fixtures = out("fixtures").asInstanceOf[Seq[Row]].map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val wrongFixture = Fixtures.all.map(_._1).find { f =>
      fixtures.get(f) match {
        case None => true
        case Some((x, y)) => reference.get(f) match {
          case Some(ref) => ref != ((x, y))
          case None => !Geom.pointInPolygon(x, y, Fixtures.poly2)
        }
      }
    }
    if (n != exp.n || h != exp.h)
      Some(s"rows/checksum $n/$h != typed path ${exp.n}/${exp.h}")
    else wrongFixture.map(f => s"fixture $f label ${fixtures.get(f)} != reference")
  }
}

/** knn_join: k=5 nearest polygon labels for synthetic points. */
object KnnWl extends Workload {
  import Workloads._
  val name = "knn_join"
  val nPoints = 60000L
  val nPolys = 2000
  val k = 5
  val nSample = 200
  def inputRows: Long = nPoints
  val tailN = 15
  val tailBeyond = 3

  final case class In(points: String, labels: String, sampleIds: Array[Long])
  type Exp = Map[Long, Seq[(String, Double)]]
  final case class Out(result: DataFrame, n: Long)

  def generate(spark: SparkSession, seed: Long, dir: Path): (In, InputInfo) = {
    val labels = GeoTables.syntheticPolygons(spark, nPolys, seed).toDF
      .withColumn("label", polylabel(col("exterior"), col("holes"), col("tolerance")))
      .select(col("poly_id"), col("label.x").as("lx"), col("label.y").as("ly"))
    val (lp, lr, lb) = persistParquet(labels, dir, "labels")
    val (pp, pr, pb) = persistParquet(GeoTables.syntheticPoints(spark, nPoints, seed + 1).toDF, dir, "points")
    val rng = new scala.util.Random(seed)
    val sample = Array.fill(nSample)((rng.nextDouble() * nPoints).toLong).distinct
    (In(pp, lp, sample), InputInfo(pr + lr, pb + lb, s"$pr points x $lr labels (40x30 degree window), k=$k"))
  }

  /** Cross-join brute force on the driver over the sampled points,
    * ranked by (d2, poly_id) with the operator's d2 arithmetic.
    */
  def expect(spark: SparkSession, in: In): Exp = {
    val labs = spark.read.parquet(in.labels).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val pts = spark.read.parquet(in.points).where(col("point_id").isin(in.sampleIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    pts.map { case (id, x, y) =>
      id -> labs.map { case (pid, lx, ly) => (pid, (x - lx) * (x - lx) + (y - ly) * (y - ly)) }
        .sortBy { case (pid, d2) => (d2, pid) }.take(k).toSeq
    }.toMap
  }

  def iterate(spark: SparkSession, in: In, tr: Tracer, dir: Path): Out = {
    val result = tr.call("knn.call") {
      SpatialJoins.knnJoin(spark.read.parquet(in.points), spark.read.parquet(in.labels), k = k)
    }
    val obs = tr.call("knn.exec") { sinkObserved(result, Seq("point_id", "poly_id", "d2")) }
    Out(result, obs("n").asInstanceOf[Long])
  }

  def check(spark: SparkSession, in: In, exp: Exp, out: Out, iter: Int): Option[String] = {
    if (out.n != nPoints * k) return Some(s"${out.n} result rows, expected ${nPoints * k}")
    val got = out.result.where(col("point_id").isin(in.sampleIds.toSeq: _*))
      .select("point_id", "poly_id", "d2").collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(r => (r.getString(1), r.getDouble(2))).sortBy { case (p, d) => (d, p) }.toSeq
      }
    exp.collectFirst { case (id, want) if !got.get(id).contains(want) =>
      s"point $id: got ${got.get(id)} want $want"
    }
  }

  override def release(out: Out): Unit = Caching.release(out.result)
}

/** image_pipeline: the composed north-star job into a fresh table dir. */
object ImagePipelineWl extends Workload {
  import Workloads._
  val name = "image_pipeline"
  val nImages = 1200L
  val nPolys = 500
  val level = 12
  val buckets = 16
  def inputRows: Long = nImages
  val tailN = 10
  val tailBeyond = 2
  val dataCols = Seq("image_id", "tile_ix", "tile_iy", "cell_id", "poly_id")

  final case class In(seed: Long)
  final case class Exp(n: Long, h: Long)
  type Out = Path

  def tableDir(dir: Path): Path = dir.resolve("iceberg")

  def generate(spark: SparkSession, seed: Long, dir: Path): (In, InputInfo) = {
    // the image table is synthesized inside the job (Pipeline has no seed
    // parameter); its encoded size is measured for the header
    val bytes = Images.table(spark, nImages).toDF
      .agg(sum(length(col("bytes"))).cast("long")).head().getLong(0)
    (In(seed), InputInfo(nImages, bytes,
      s"$nImages images synthesized in-job (tiles of 32 px) x $nPolys polygons, level $level, $buckets buckets"))
  }

  /** Tile label points (rect footprint -> kernel polylabel -> cell) and
    * polygon membership by driver-side brute force over every polygon.
    */
  def expect(spark: SparkSession, in: In): Exp = {
    val polys = GeoTables.syntheticPolygons(spark, nPolys).collect()
      .map(r => (r.poly_id, GeoTables.toPolygon(r)))
      .map { case (id, p) => (id, p, Geom.boundingRect(p.exterior)) }
    val rows = for {
      id <- 0L until nImages
      (fx0, fy0, fx1, fy1) = Images.footprint(id)
      nx = Images.widthOf(id) / 32
      ny = Images.heightOf(id) / 32
      ty <- 0 until ny
      tx <- 0 until nx
      sx = (fx1 - fx0) / nx
      sy = (fy1 - fy0) / ny
      (a, b, c, d) = (fx0 + tx * sx, fy1 - (ty + 1) * sy, fx0 + (tx + 1) * sx, fy1 - ty * sy)
      lab = Polylabel.polylabel(PolygonG(Seq((a, b), (c, b), (c, d), (a, d), (a, b))),
        math.min(c - a, d - b) / 64.0)
      (pid, poly, bb) <- polys
      if lab.x >= bb.minX && lab.x <= bb.maxX && lab.y >= bb.minY && lab.y <= bb.maxY
      if Geom.pointInPolygon(lab.x, lab.y, poly)
    } yield Row(f"img-$id%08d", tx, ty, CellIndex.cellOf(lab.x, lab.y, level), pid)
    val schema = StructType(Seq(StructField("image_id", StringType), StructField("tile_ix", IntegerType),
      StructField("tile_iy", IntegerType), StructField("cell_id", LongType), StructField("poly_id", StringType)))
    val (n, h) = checksum(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema), dataCols)
    Exp(n, h)
  }

  def iterate(spark: SparkSession, in: In, tr: Tracer, dir: Path): Path = {
    val t = tableDir(dir)
    tr.call("pipeline.run") {
      Pipeline.runImagePipeline(spark, nImages, nPolys, t.toString, level = level,
        buckets = buckets, bucketsPerWave = buckets)
    }
    t
  }

  def check(spark: SparkSession, in: In, exp: Exp, t: Path, iter: Int): Option[String] = {
    val lin = IcebergLite.readLineage(spark, t.toString)
      .agg(sum("rows").cast("long"), bit_xor(col("checksum")), count(lit(1))).head()
    val committed = IcebergLite.readTable(spark, t.toString)
    val nTable = committed.count()
    if (lin.getLong(0) != exp.n || lin.getLong(1) != exp.h || lin.getLong(2) != buckets)
      return Some(s"lineage rows/checksum/buckets ${lin.getLong(0)}/${lin.getLong(1)}/${lin.getLong(2)} " +
        s"!= expected ${exp.n}/${exp.h}/$buckets")
    if (nTable != exp.n) return Some(s"committed table has $nTable rows, expected ${exp.n}")
    // codec invariants on sampled committed rows: re-tile the row's image
    // and compare the decoded tile against the source pixels
    val rng = new scala.util.Random(in.seed * 31 + iter)
    val sample = committed.select("image_id", "tile_ix", "tile_iy").collect()
    (0 until 2).map(_ => sample(rng.nextInt(sample.length))).flatMap { r =>
      val id = r.getString(0).stripPrefix("img-").toLong
      val (tx, ty) = (r.getInt(1), r.getInt(2))
      import spark.implicits._
      val tile = graft.operators.Tiling.tile(Seq(Images.row(id)).toDS())
        .collect().find(t => t.tile_ix == tx && t.tile_iy == ty)
      tile match {
        case None => Some(s"no tile ($tx,$ty) for image $id")
        case Some(t) =>
          val src = Images.decode(Images.row(id).bytes).getSubimage(tx * 32, ty * 32, 32, 32)
          val p = Images.psnr(src, Images.decode(t.tile_bytes))
          if (p < 40.0) Some(f"tile ($tx,$ty) of image $id: PSNR $p%.1f dB < 40")
          else if (t.caption != Images.caption(id)) Some(s"caption of image $id changed")
          else None
      }
    }.headOption
  }
}

/** dedup_clusters: near-duplicate cluster assignment over a documents
  * table shaped like sf0.1 `documents`, replicated with copy tokens.
  */
object DedupWl extends Workload {
  import Workloads._
  val name = "dedup_clusters"
  val nBase = 1200
  val copies = 2
  def inputRows: Long = nBase.toLong * copies
  val tailN = 10
  val tailBeyond = 2
  val vocab: Array[String] = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key query " +
    "a scan batch").split(" ")
  val langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  final case class In(path: String, rows: Long)
  final case class Exp(n: Long, h: Long, pairs: Long)
  type Out = (DataFrame, Map[String, Any])

  /** sf0.1-shaped documents: 10-100 words from the same 30-word
    * vocabulary; every 20th document re-uses an earlier one with a "dup"
    * token. Each base document is replicated `copies` times with a copy
    * token, so copies are near-duplicates (doc_id = base * copies + copy).
    */
  def docs(spark: SparkSession, seed: Long): DataFrame = {
    val rng = new scala.util.Random(seed)
    val base = Array.ofDim[String](nBase)
    for (i <- 0 until nBase) {
      base(i) =
        if (i % 20 == 19) base(rng.nextInt(i)) + " dup"
        else Seq.fill(10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val rows = for (i <- 0 until nBase; c <- 0 until copies) yield {
      val t = if (copies > 1) s"${base(i)} copy$c" else base(i)
      Row(i.toLong * copies + c, t, langs(i % langs.length), s"src${i % 20}", t.length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
  }

  def generate(spark: SparkSession, seed: Long, dir: Path): (In, InputInfo) = {
    val (p, rows, bytes) = persistParquet(docs(spark, seed), dir, "documents")
    (In(p, rows), InputInfo(rows, bytes, s"$nBase base documents x $copies near-duplicate copies"))
  }

  /** Union-find over the verified pairs (public minhashLshPairs); each
    * document's component is the minimum id of its cluster.
    */
  def expect(spark: SparkSession, in: In): Exp = {
    val d = spark.read.parquet(in.path)
    val pairsDf = Dedup.minhashLshPairs(d, 16, 4, 1, 2)
    val pairs = pairsDf.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    Caching.release(pairsDf)
    val ids = d.select("doc_id").collect().map(_.getLong(0))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    import spark.implicits._
    val (n, h) = checksum(ids.toSeq.map(i => (i, find(i))).toDF("id", "component"), Seq("id", "component"))
    Exp(n, h, pairs.length.toLong)
  }

  def iterate(spark: SparkSession, in: In, tr: Tracer, dir: Path): Out = {
    val result = tr.call("dedup.clusterAssign") {
      Dedup.clusterAssign(spark.read.parquet(in.path), 16, 4, 1, 2)
    }
    (result, tr.call("dedup.exec") { sinkObserved(result, Seq("id", "component")) })
  }

  def check(spark: SparkSession, in: In, exp: Exp, out: Out, iter: Int): Option[String] = {
    val (n, h) = (out._2("n").asInstanceOf[Long], out._2("h").asInstanceOf[Long])
    if (n != exp.n || h != exp.h)
      Some(s"assignment rows/checksum $n/$h != union-find ${exp.n}/${exp.h}")
    else None
  }

  override def release(out: Out): Unit = Caching.release(out._1)
}
