package perfbench

import graft.functions.GraftFunctions.{cell_of, polygon_cover, polylabel}
import graft.geom.{CellIndex, Fixtures, Geom, PolygonG, Polylabel}
import graft.operators.{Caching, Dedup, SpatialJoins, Tiling}
import graft.sources.{GeoTables, Images}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer section of the traced run: each layer is timed by calling
  * its public functions from outside, with Spark work attributed to the
  * call through a job group. `listener` and `tr` are the traced loop's;
  * the outputs behind the knn, image and dedup figures are checked, with
  * the outcomes in [[checks]].
  */
final class Layers(spark: SparkSession, seed: Long, dir: Path, cores: Int, warm: String,
                   listener: BenchListener, tr: Tracer) {
  type M = (String, Double, String)
  private val sc = spark.sparkContext
  /** One entry per output check: None when it passed. */
  val checks = scala.collection.mutable.ArrayBuffer.empty[Option[String]]

  private def verify(what: String)(r: Option[String]): Unit = {
    r.foreach(e => Main.say(s"layer check $what FAILED: $e"))
    checks += r.map(e => s"$what: $e")
  }

  def all(): Seq[M] = {
    sc.addSparkListener(listener)
    def timedSection(name: String, f: => Seq[M]): Seq[M] = {
      val (r, s) = secs(f)
      Main.say(f"layer section $name took $s%.1f s")
      r
    }
    try timedSection("geom", geom()) ++ timedSection("functions", functions()) ++
      timedSection("knn", knn()) ++ timedSection("image_pipeline", imageStages()) ++
      timedSection("dedup", dedup())
    finally sc.removeSparkListener(listener)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds of one call of `body`, after a warm-up call unless
    * `workload` is the one whose loop just ran in this JVM.
    */
  private def timed(workload: String)(body: => Unit): Double = {
    if (workload != warm) body
    secs(body)._2
  }

  /** Median per-call seconds of `f` over batches of `batch` calls. */
  private def perCall(batch: Int, batches: Int = 5)(f: Int => Unit): Double = {
    (0 until batch).foreach(f) // warm-up
    Stats.median((0 until batches).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < batch) { f(i); i += 1 }
      (System.nanoTime() - t0) / 1e9 / batch
    })
  }

  // -- geom: single-thread kernel calls --------------------------------
  def geom(): Seq[M] = {
    val syn = GeoTables.syntheticPolygons(spark, 2000, seed).collect()
      .map(r => (GeoTables.toPolygon(r), r.tolerance))
    val pipPolys = GeoTables.syntheticPolygons(spark, ImagePipelineWl.nPolys).collect()
      .map(GeoTables.toPolygon)
    val norway = Fixtures.norway
    val nb = Geom.boundingRect(norway.exterior)
    val prepared = Polylabel.prepare(norway)
    val rng = new scala.util.Random(seed)
    val probes = Array.fill(1024)((nb.minX + rng.nextDouble() * nb.width, nb.minY + rng.nextDouble() * nb.height))
    val pipProbes = pipPolys.map { p =>
      val b = Geom.boundingRect(p.exterior)
      (p, b.minX + rng.nextDouble() * b.width, b.minY + rng.nextDouble() * b.height)
    }
    var sink = 0.0
    val norwayMs = perCall(40)(_ => sink += Polylabel.polylabel(norway, 1.0).dist) * 1e3
    val synUs = perCall(syn.length) { i => sink += Polylabel.polylabel(syn(i)._1, syn(i)._2).dist } * 1e6
    val sdNs = perCall(probes.length) { i =>
      sink += Polylabel.signedDistance(probes(i)._1, probes(i)._2, prepared)
    } * 1e9 / norway.exterior.nVertices
    val coverUs = perCall(pipPolys.length) { i => sink += CellIndex.cover(pipPolys(i), ImagePipelineWl.level).length } * 1e6
    val pipNs = perCall(pipProbes.length) { i =>
      val (p, x, y) = pipProbes(i)
      if (Geom.pointInPolygon(x, y, p)) sink += 1
    } * 1e9
    require(!sink.isNaN)
    Seq(("geom.polylabel_norway_ms", norwayMs, "ms"),
      ("geom.polylabel_syn_us", synUs, "us"),
      ("geom.signed_distance_ns_per_vertex", sdNs, "ns"),
      ("geom.cover_us_per_poly", coverUs, "us"),
      ("geom.pip_ns_per_test", pipNs, "ns"))
  }

  // -- functions: expression throughput at local[nproc] ------------------
  def functions(): Seq[M] = {
    val (in, _) = PolylabelWl.generate(spark, seed, dir.resolve("polylabel"))
    val syn = spark.read.parquet(in.path).where(col("poly_id").startsWith("poly-"))
    val nSyn = syn.count()
    val plS = timed(PolylabelWl.name)(noop(syn.select(polylabel(col("exterior"), col("holes"), col("tolerance")).as("l"))))
    val nCell = 4000000L
    val pts = spark.range(0L, nCell, 1L, cores * 4)
      .select(((col("id") % 3600) / 10.0 - 180.0).as("x"), ((col("id") % 1799) / 10.0 - 90.0).as("y"))
    val cellS = timed("")(noop(pts.select(cell_of(col("x"), col("y"), lit(12)).as("c"))))
    Seq(("functions.polylabel_rows_per_s", nSyn / plS, "rows/s"),
      ("functions.cell_of_rows_per_s", nCell / cellS, "rows/s"))
  }

  /** Spans of one call of `body` under a root "section" span, after a
    * warm-up call unless `workload` is the one whose loop just ran in this
    * JVM. `after` takes each call's output outside the span.
    */
  private def section[T](name: String, workload: String)(body: => T)(after: T => Unit): Seq[Span] = {
    if (workload != warm) after(body)
    listener.quiesce()
    tr.clear()
    listener.clear()
    val out = tr.span("section", name)(body)
    listener.quiesce()
    val spans = tr.spans ++ listener.synchronized(
      Stats.sparkSpans(listener.jobs.values.toSeq, listener.stages.toSeq, () => tr.nextId()))
    after(out)
    val root = Stats.roots(spans)
    val id = spans.find(_.kind == "section").get.id
    spans.filter(s => root(s.id) == id)
  }

  private def durOf(spans: Seq[Span], name: String): Double =
    spans.filter(s => s.kind == "call" && s.name == name).map(_.dur / 1e9).sum

  /** The spans below a call span named `call`. */
  private def under(spans: Seq[Span], call: String): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    def inCall(s: Span): Boolean = byId.get(s.parent).exists(p => (p.kind == "call" && p.name == call) || inCall(p))
    spans.filter(inCall)
  }

  private def shuffleWriteMb(jobSpans: Seq[Span]): Double = listener.synchronized {
    val ids = jobSpans.filter(_.kind == "job").map(_.name.stripPrefix("job-").toInt).toSet
    val stages = listener.jobs.values.filter(j => ids(j.jobId)).flatMap(_.stageIds).toSet
    listener.tasks.filter(t => stages(t.stageId)).map(_.shuffleWrite).sum / 1e6
  }

  // -- knn: SpatialJoins.knnJoin --------------------------------------
  def knn(): Seq[M] = {
    val d = dir.resolve("knn")
    val (in, _) = KnnWl.generate(spark, seed, d)
    val exp = KnnWl.expect(spark, in)
    val spans = section("knn", KnnWl.name)(KnnWl.iterate(spark, in, tr, d)) { out =>
      try verify("knn")(KnnWl.check(spark, in, exp, out, 0)) finally KnnWl.release(out)
    }
    // waste ratio: candidate rows entering the (d2, poly_id) ranking over
    // output rows, from the SQL metrics of the executions the call ran
    val cand = SqlMetrics.rankInputRows(spark, execsOf(under(spans, "knn.call")))
    Seq(("knn.call_s", durOf(spans, "knn.call"), "s"),
      ("knn.exec_s", durOf(spans, "knn.exec"), "s"),
      ("knn.jobs", spans.count(_.kind == "job").toDouble, "count"),
      ("knn.stages", spans.count(_.kind == "stage").toDouble, "count"),
      ("knn.shuffle_write_mb", shuffleWriteMb(spans), "MB"),
      ("knn.candidates_per_output", cand / (KnnWl.nPoints * KnnWl.k), "ratio"))
  }

  private def execsOf(ss: Seq[Span]): Set[Long] = listener.synchronized {
    val ids = ss.filter(_.kind == "job").map(_.name.stripPrefix("job-").toInt).toSet
    listener.jobs.values.filter(j => ids(j.jobId)).flatMap(_.sqlExecution).toSet
  }

  // -- image pipeline stages: timed prefixes of the same public calls ------
  def imageStages(): Seq[M] = {
    import spark.implicits._
    val n = ImagePipelineWl.nImages
    val lvl = ImagePipelineWl.level
    val polys = GeoTables.syntheticPolygons(spark, ImagePipelineWl.nPolys).toDF
    def tiles = Tiling.tile(Images.table(spark, n))
    def assigned = Tiling.assign(tiles, lvl)
      .withColumnRenamed("label_x", "x").withColumnRenamed("label_y", "y")
      .withColumnRenamed("cell_id", "tile_cell_id")
    def joined = SpatialJoins.pipJoin(assigned, polys, lvl)
    val nTiles = tiles.count()
    val matches = joined.count()
    val candidates = assigned.withColumn("cell_id", cell_of($"x", $"y", lit(lvl)))
      .join(broadcast(polys.select(explode(polygon_cover($"exterior", $"holes", lit(lvl))).as("cell_id"))), "cell_id")
      .count()
    // the tile prefix projects the columns assign reads, so the assign
    // step's time is the difference of two prefixes over the same rows
    val tileS = timed(ImagePipelineWl.name)(noop(tiles.select("image_id", "tile_ix", "tile_iy", "fminx", "fminy", "fmaxx", "fmaxy")))
    val assignS = timed(ImagePipelineWl.name)(noop(assigned))
    val pipS = timed(ImagePipelineWl.name)(noop(joined))
    val t = dir.resolve("image")
    val in = ImagePipelineWl.In(seed)
    val fullS = timed(ImagePipelineWl.name) {
      Workloads.deleteTree(t)
      Files.createDirectories(t)
      ImagePipelineWl.iterate(spark, in, Tracer.off, t)
    }
    val table = ImagePipelineWl.tableDir(t)
    verify("image_pipeline")(ImagePipelineWl.check(spark, in, ImagePipelineWl.expect(spark, in), table, 0))
    val written = Workloads.dirBytes(table)
    val dataBytes = Workloads.dirBytes(table.resolve("data"))
    val files = Workloads.fileCount(table, ".parquet") + Workloads.fileCount(table, ".json")
    Seq(("tiling.tile_s", tileS, "s"),
      ("tiling.tiles_per_s", nTiles / tileS, "tiles/s"),
      ("tiling.assign_s", assignS - tileS, "s"),
      ("pip.exec_s", pipS - assignS, "s"),
      ("pip.candidates_per_match", candidates.toDouble / matches, "ratio"),
      ("iceberg.write_s", fullS - pipS, "s"),
      ("iceberg.bytes_written_mb", written / 1e6, "MB"),
      ("iceberg.files_written", files.toDouble, "count"),
      ("iceberg.write_amp", written.toDouble / dataBytes, "ratio"))
  }

  // -- dedup / connected components ------------------------------------
  def dedup(): Seq[M] = {
    val d = dir.resolve("dedup")
    val (in, _) = DedupWl.generate(spark, seed, d)
    val docs = spark.read.parquet(in.path)
    val exp = DedupWl.expect(spark, in)
    var nPairs = 0L
    val spans = section("dedup", DedupWl.name) {
      val pairs = tr.call("dedup.pairs")(Dedup.minhashLshPairs(docs, 16, 4, 1, 2))
      tr.call("dedup.pairs_exec")(noop(pairs))
      nPairs = pairs.count() // the result is cached by the operator
      Caching.release(pairs)
      DedupWl.iterate(spark, in, tr, d)
    } { out => try verify("dedup")(DedupWl.check(spark, in, exp, out, 0)) finally DedupWl.release(out) }
    val pairsS = durOf(spans, "dedup.pairs") + durOf(spans, "dedup.pairs_exec")
    val clusterS = durOf(spans, "dedup.clusterAssign") + durOf(spans, "dedup.exec")
    val ccJobs = under(spans, "dedup.clusterAssign").count(_.kind == "job").toDouble
    Seq(("dedup.pairs_s", pairsS, "s"),
      ("dedup.cluster_s", clusterS - pairsS, "s"),
      ("dedup.candidates_per_pair", bandCandidates(docs).toDouble / nPairs, "ratio"),
      ("cc.jobs", ccJobs, "count"))
  }

  /** Distinct document pairs sharing any LSH band (16 hashes, 4 rows per
    * band), from the public long-form signatures; the band key is the
    * operator's sum_r m_{b*rows+r} * 31^r in wrapping long arithmetic.
    */
  private def bandCandidates(docs: DataFrame): Long = {
    val rows = 4
    val sig = Dedup.minhashSignatures(docs, 16)
      .select(col("doc_id"), (col("j") / rows).cast("int").as("band"),
        (col("minh") * pow(lit(31), col("j") % rows).cast("long")).as("term"))
      .groupBy("doc_id", "band").agg(sum("term").as("key"))
    val a = sig.select(col("doc_id").as("a"), col("band"), col("key"))
    val b = sig.select(col("doc_id").as("b"), col("band"), col("key"))
    a.join(b, Seq("band", "key")).where(col("a") < col("b")).select("a", "b").distinct().count()
  }
}

object Layers {
  /** Spans as JSON lines: id, parent, kind, name, start/end (epoch ns). */
  def writeSpans(p: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(p.getParent)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": "${s.kind}", "name": "${esc(s.name)}", "start_ns": ${s.start}, "end_ns": ${s.end}}"""
    }
    Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** SQL plan metrics of finished executions, read from the session's SQL
  * status store.
  */
object SqlMetrics {
  private val Rank = Set("Window", "WindowGroupLimit")
  private val Rows = "number of output rows"

  /** Rows entering the ranking, summed over `execs`: below every lowest
    * rank operator (Window / WindowGroupLimit with no rank operator under
    * it), the output rows of the first descendants that count rows.
    */
  def rankInputRows(spark: SparkSession, execs: Set[Long]): Double = {
    val store = spark.sharedState.statusStore
    execs.toSeq.map { e =>
      val values = store.executionMetrics(e)
      val g = store.planGraph(e)
      val byId = g.allNodes.map(n => n.id -> n).toMap
      val children = g.edges.groupBy(_.toId).map { case (k, es) => k -> es.map(_.fromId) }
      def kids(id: Long) = children.getOrElse(id, Nil).flatMap(byId.get)
      def hasRank(id: Long): Boolean = kids(id).exists(c => Rank(c.name) || hasRank(c.id))
      def rows(n: org.apache.spark.sql.execution.ui.SparkPlanGraphNode): Double =
        n.metrics.find(_.name == Rows) match {
          case Some(m) => values.get(m.accumulatorId).map(_.replaceAll("[^0-9]", ""))
            .filter(_.nonEmpty).map(_.toDouble).getOrElse(0.0)
          case None => kids(n.id).map(rows).sum
        }
      g.allNodes.filter(n => Rank(n.name) && !hasRank(n.id)).map(n => kids(n.id).map(rows).sum).sum
    }.sum
  }
}
