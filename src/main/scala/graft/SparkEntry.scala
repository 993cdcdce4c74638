package graft

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.operators.{Components, Dedup, Sampling, Similarity, SpatialJoins, TextOps, Tiling}
import graft.sources.GeoTables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Oracle-parity rules used throughout (driver hashes values after sorting
  * columns by name):
  *  - every aggregate/computed column aliased identically in Spark and SQL;
  *  - double outputs either exact-by-construction (same IEEE expression
  *    shape in both engines) or decimal-cast before aggregation;
  *  - deterministic tie-breaks on every rank/top-k.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def g(spark: SparkSession): SparkSession = GraftSession.install(spark)

  /** Deterministic phash-SHAPED table shared by q_phash_neardup and
    * q_cc_clusters: per-id group g, parity-coded 7-bit value replicated
    * into all 8 bytes (cross-group distance >= 16) with planted 1/2/3-bit
    * perturbations at closed-form positions — both engines derive the
    * pair set exactly (real pixel phashes of distinct renders come as
    * close as Hamming 2, so they can't carry a closed-form oracle; the
    * real-pixel path is spec-covered in PipelineOpsSpec).
    */
  private def syntheticPhashTable(s: SparkSession): DataFrame = {
    val ids = s.range(240)
      .withColumn("g", col("id") % 60)
      .withColumn("v", expr("shiftleft(g, 1) | (bit_count(g) % 2)"))
      .withColumn("phash", col("v") * lit(72340172838076673L)) // x 0x0101..01: v in every byte
    val base = ids.select(
      concat(lit("img-"), lpad(col("id").cast("string"), 8, "0")).as("image_id"),
      col("phash"))
    val twins = ids.where(col("id") % 4 =!= 0)
      .withColumn("p1", (col("id") * 7) % 61)
      .withColumn("p2", (col("p1") + 1 + col("id") % 31) % 61)
      .withColumn("p3", (col("p2") + 1 + (col("id") * 3) % 29) % 61)
      .withColumn("mask",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p1 AS INT))")
          .bitwiseOR(when(col("id") % 4 >= 2,
            expr("shiftleft(CAST(1 AS BIGINT), CAST(p2 AS INT))")).otherwise(0L))
          .bitwiseOR(when(col("id") % 4 >= 3,
            expr("shiftleft(CAST(1 AS BIGINT), CAST(p3 AS INT))")).otherwise(0L)))
      .select(concat(lit("prt-"), lpad(col("id").cast("string"), 8, "0")).as("image_id"),
        col("phash").bitwiseXOR(col("mask")).as("phash"))
    base.unionByName(twins)
  }

  /** Flagship query on /root/testdata/sf0.001: polylabel over the reference
    * fixtures joined (PIP) against synthetic points — exercises the kernel
    * expression, the cell cover, and the staged spatial join in one plan.
    */
  def entry(spark: SparkSession): DataFrame = {
    g(spark)
    val polys = GeoTables.syntheticPolygons(spark, 20).toDF
    val points = GeoTables.syntheticPoints(spark, 5000).toDF
    val labels = polys
      .withColumn("label", polylabel(col("exterior"), col("holes"), col("tolerance")))
      .select(col("poly_id"), col("label.x").as("label_x"),
        col("label.y").as("label_y"), col("label.dist").as("label_dist"))
    SpatialJoins.pipJoin(points, polys, level = 9)
      .join(labels, "poly_id")
      .groupBy("poly_id")
      .agg(count(lit(1)).as("points_inside"),
        first("label_x").as("label_x"), first("label_y").as("label_y"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- kernel surface (E5): exact fixture outputs -------------------
    "q_polylabel_fixtures" -> ((s, _) => {
      g(s)
      GeoTables.fixtures(s)
        .withColumn("label", polylabel(col("exterior"), col("holes"), col("tolerance")))
        .select(col("poly_id"), col("label.x").as("x"), col("label.y").as("y"))
        .orderBy("poly_id")
    }),

    // ---- cell index (E6): quadkey encode over derived points ----------
    "q_cell_of" -> ((s, dir) => {
      g(s)
      t(s, dir, "lineitem")
        .withColumn("x", (col("l_orderkey") % 3600) / 10.0 - 180.0)
        .withColumn("y", (col("l_partkey") % 1800) / 10.0 - 90.0)
        .withColumn("cell_id", cell_of(col("x"), col("y"), lit(12)))
        .withColumn("parent_id", cell_parent(col("cell_id")))
        .groupBy("cell_id", "parent_id")
        .agg(count(lit(1)).as("n"))
        .orderBy("cell_id")
    }),

    // ---- polygon cover (E6) over rectangles (SQL-checkable exactly) ---
    "q_cover_rect" -> ((s, dir) => {
      g(s)
      rectPolys(s, dir)
        .withColumn("cell_id", explode(polygon_cover(col("exterior"), col("holes"), lit(8))))
        .select(col("poly_id"), col("cell_id"))
        .orderBy("poly_id", "cell_id")
    }),

    // ---- PIP spatial join (E7) -----------------------------------------
    "q_pip_join" -> ((s, dir) => {
      g(s)
      val points = t(s, dir, "orders")
        .select(col("o_orderkey").as("point_id"),
          ((col("o_orderkey") % 360) / 10.0 - 18.0).as("x"),
          ((col("o_custkey") % 180) / 10.0 - 9.0).as("y"))
      SpatialJoins.pipJoin(points, rectPolys(s, dir), level = 8)
        .select(col("point_id"), col("poly_id"))
        .orderBy("point_id", "poly_id")
    }),

    // ---- kNN join: label-count quadtree, one cell join (E9) ------------
    "q_knn_join" -> ((s, dir) => knnQuery(s, dir, broadcastLabels = true)),

    // cell-partitioned kNN (no label broadcast — points and labels
    // shuffle on the cell key): identical truth, so it shares the
    // q_knn_join oracle
    "q_knn_join_part" -> ((s, dir) => knnQuery(s, dir, broadcastLabels = false)),

    // fine-grid kNN: at level 13 almost every leaf near a point is
    // empty, so each point's guarantee radius spans many cells and the
    // quadtree search climbs far from the point — truth is
    // level-independent, so this shares the brute-force oracle; run in
    // cell-partitioned mode to drive the no-cartesian path end-to-end
    // under the driver's oracle
    "q_knn_adaptive" -> ((s, dir) =>
      knnQuery(s, dir, broadcastLabels = false, level = 13)),

    // ---- radius (distance-within) join: the fixed-radius range join,
    // kNN's sibling — same cell grid, no ranking. Broadcast and
    // co-partitioned shuffle variants share one brute-force oracle.
    "q_radius_join" -> ((s, dir) => radiusQuery(s, dir, broadcastLabels = true)),
    "q_radius_join_part" -> ((s, dir) => radiusQuery(s, dir, broadcastLabels = false)),

    // ---- aggregation (E12): TPC-H Q1 shape, decimal-exact sums ---------
    // Fixed-point BIGINT output (milli-units): Spark renders sum(decimal)
    // as decimal(28,3), DuckDB as decimal(38,3) — same values, different
    // hashed representation. BIGINT is canonical in both engines.
    "q_agg_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum(col("l_quantity").cast("decimal(18,3)")) * 1000).cast("long").as("sum_qty_milli"),
          (sum(col("l_extendedprice").cast("decimal(18,3)")) * 1000).cast("long").as("sum_base_milli"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- multi-way join + top-k window (E13) ----------------------------
    "q_window_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5)
        .select(col("c_mktsegment"), col("rk"), col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,3)") * 1000).cast("long").as("price_milli"))
        .orderBy("c_mktsegment", "rk")
    }),

    // ---- anti join (E14/E15 resume shape) -------------------------------
    "q_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // ---- raster->vector tiling + cell assignment (E10, north_star) -----
    // The full image pipeline: synth images -> decode -> 32x32 tiles ->
    // re-encode -> footprint subdivision -> polylabel of each tile's
    // footprint -> containing cell. The oracle re-derives footprint math +
    // quadkey encoding in SQL (pixels don't affect assignments).
    "q_tile_assign" -> ((s, _) => {
      g(s)
      val images = graft.sources.Images.table(s, 240)
      Tiling.assign(Tiling.tile(images), level = 12)
        .select(col("image_id"), col("tile_ix"), col("tile_iy"), col("cell_id"))
        .orderBy("image_id", "tile_ix", "tile_iy")
    }),

    // ---- training-pipeline: deduplication ------------------------------
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy("rep_id")),

    // dfMax=50: candidates only from shingles with block-local document
    // frequency <= 50 (the 100 TB-safe path); verify on full sets. The
    // oracle mirrors the same criterion.
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), num = 1, den = 2, dfMax = 50)
        .orderBy("doc_a", "doc_b")),

    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), numHashes = 16,
        rowsPerBand = 4, num = 1, den = 2).orderBy("doc_a", "doc_b")),

    "q_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents")).orderBy("doc_id")),

    // phash groups over the synthetic images. The grouping KEY is the
    // pixel-derived phash (not SQL-derivable), but the group STRUCTURE is:
    // phash is injective on distinct renders here (asserted in
    // PipelineOpsSpec), so groups == the planted mod-17 duplicate pairs,
    // which the oracle re-derives in closed form.
    "q_phash_groups" -> ((s, _) => {
      Dedup.phashGroups(graft.sources.Images.table(s, 240).toDF)
        .select(element_at(col("ids"), 1).as("rep_id"), col("n"),
          concat_ws(",", col("ids")).as("ids"))
        .orderBy("rep_id")
    }),

    // phash near-dup pairs at Hamming radius 3 (banding + pigeonhole +
    // exact verify). The REAL pixel phashes of distinct renders come as
    // close as Hamming 2 (measured), so no closed-form oracle can know
    // those pairs; this query instead runs the operator over a
    // deterministic phash-SHAPED column both engines derive exactly — a
    // parity-coded 7-bit value replicated into all 8 bytes (cross-group
    // distance >= 16) with planted 1/2/3-bit perturbations at closed-form
    // positions. The operator-on-real-pixels path is spec-covered against
    // a brute-force all-pairs oracle (PipelineOpsSpec).
    "q_phash_neardup" -> ((s, _) =>
      Dedup.phashNearDupPairs(syntheticPhashTable(s), t = 3)
        .orderBy("id_a", "id_b")),

    // dedup cluster ASSIGNMENT: near-dup pairs are edges; every image in
    // a pair gets its transitive cluster's min id (connected components
    // via large-star/small-star — the step after pair generation in a
    // web-scale dedup pipeline). Oracle: recursive-CTE label propagation
    // over the same closed-form pair set.
    "q_cc_clusters" -> ((s, _) => {
      val pairs = Dedup.phashNearDupPairs(syntheticPhashTable(s), t = 3)
      val out = Components.connectedComponents(pairs.select("id_a", "id_b"))
        .orderBy("id")
      graft.operators.Caching.release(pairs)
      out
    }),

    // ---- training-pipeline: text analysis ------------------------------
    "q_text_quality" -> ((s, dir) =>
      TextOps.quality(t(s, dir, "documents")).orderBy("doc_id")),

    "q_lang_id" -> ((s, dir) =>
      TextOps.langId(t(s, dir, "documents")).orderBy("doc_id")),

    // Gopher-style repetition quality signals (duplicate 3-gram fraction
    // + most-common-word share), integer-exact fixed-point
    "q_repetition" -> ((s, dir) =>
      TextOps.repetition(t(s, dir, "documents")).orderBy("doc_id")),

    "q_fingerprint" -> ((s, dir) => {
      g(s) // text_fingerprint is a registered graft expression
      TextOps.fingerprint(t(s, dir, "documents")).orderBy("doc_id")
    }),

    // decontamination: per src0 (eval) document, its distinct 3-gram
    // shingles found anywhere in the rest of the corpus (train)
    "q_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.contamination(docs.where(col("source") === "src0"),
        docs.where(col("source") =!= "src0")).orderBy("doc_id")
    }),

    // near-dup cluster assignment end to end: minhash pairs (compact
    // (rep, member) shape) -> connected components -> every document's
    // cluster id, singletons included
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.clusterAssign(t(s, dir, "documents"), 16, 4, 1, 2).orderBy("id")),

    // signature-only verification: Jaccard estimated from matching
    // minhash components (1 in-row zip_with per candidate pair — no
    // shingle re-join), threshold est/16 >= 1/2
    "q_dedup_minhash_est" -> ((s, dir) =>
      Dedup.minhashEstimatePairs(t(s, dir, "documents"), 16, 4, 1, 2)
        .orderBy("doc_a", "doc_b")),

    // the shipped corpus: one representative per near-dup cluster
    // (longest text, doc_id tie-break), picked with a map-side-combinable
    // argmax — the step after clusterAssign a pipeline actually consumes
    "q_dedup_corpus" -> ((s, dir) =>
      Dedup.dedupedCorpus(t(s, dir, "documents"), 16, 4, 1, 2)
        .orderBy("component")),

    // ---- training-pipeline: stratified sampling ------------------------
    // rate-based: a pure map-stage filter (scan-speed at 100 TB) keeping
    // exact ppm fractions per language via the deterministic splitter
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 250000L, "zh" -> 600000L, "de" -> 100000L), defaultPpm = 50000L)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // exact-count: n smallest splitter values per stratum, id tie-break
    "q_sample_quota" -> ((s, dir) =>
      Sampling.stratifiedQuota(t(s, dir, "documents"), "doc_id", "lang", 20)
        .select(col("doc_id"), col("lang"), col("rank").cast("long").as("rank"))
        .orderBy("doc_id")),

    // ---- training-pipeline: similarity search --------------------------
    "q_embed_topk" -> ((s, dir) =>
      Similarity.bruteTopK(t(s, dir, "embeddings"), nQueries = 10, k = 3)
        .orderBy("query_id", "rank")),

    "q_embed_ann" -> ((s, dir) => {
      g(s) // lsh_bucket is a registered graft expression
      Similarity.annTopK(t(s, dir, "embeddings"), nQueries = 10, k = 3)
        .orderBy("query_id", "rank")
    }),

    // multi-probe variant: each query also probes the buckets one
    // plane-flip away (recall fix for near-neighbours straddling a
    // hyperplane); oracle mirrors the 9-bucket probe exactly
    "q_embed_ann_mp" -> ((s, dir) => {
      g(s)
      Similarity.annTopK(t(s, dir, "embeddings"), nQueries = 10, k = 3,
        multiProbe = true).orderBy("query_id", "rank")
    }),

    // IVF-Flat variant: deterministic codebook (quantized vectors of the
    // 16 lowest vec_ids), exact-integer-L2 list assignment, 2 probed
    // lists per query, exact integer dot re-rank — the oracle derives the
    // identical codebook/assignment relationally
    "q_embed_ivf" -> ((s, dir) => {
      g(s) // ivf_nearest is a registered graft expression
      Similarity.annTopKIvf(t(s, dir, "embeddings"), nQueries = 10, k = 3)
        .orderBy("query_id", "rank")
    }),

    // IVF with a k-means-TRAINED codebook: two Lloyd iterations from the
    // deterministic seed (integer centroids — training is deterministic,
    // so the oracle unrolls the same two iterations in SQL)
    "q_embed_ivf_kmeans" -> ((s, dir) => {
      g(s)
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.ivfCodebookKMeans(emb, nLists = 16, iters = 2)
      Similarity.annTopKIvf(emb, nQueries = 10, k = 3, codebook = Some(cb))
        .orderBy("query_id", "rank")
    }),

    "q_embed_neardup" -> ((s, dir) => {
      g(s)
      Similarity.nearDupPairs(t(s, dir, "embeddings"), tau2x10000 = 900)
        .orderBy("vec_a", "vec_b")
    }),

    // ---- event-time tumbling window agg (E17 batch shape) ---------------
    "q_events_window" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("bucket", (floor(unix_timestamp(col("ts")) / 300L) * 300L))
        .groupBy("bucket", "event_type")
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast("decimal(18,4)")) * 10000).cast("long").as("sum_value_e4"))
        .orderBy("bucket", "event_type")
    }),

    // ---- GeoJSON scan (E2): FeatureCollection file -> flattened rings ---
    "q_geojson" -> ((s, _) => {
      g(s)
      val dir = java.nio.file.Paths.get(tempDir("graft_gj_"))
      java.nio.file.Files.writeString(dir.resolve("fc.geojson"), geoJsonLiteral)
      val polys = GeoTables.readGeoJson(s, dir.toString)
      val ext = polys.select(col("poly_id"), lit(0).as("ring"),
        posexplode(col("exterior")).as(Seq("i", "pt")))
      val hol = polys.select(col("poly_id"),
          posexplode(col("holes")).as(Seq("hix", "hole")))
        .select(col("poly_id"), (col("hix") + 1).as("ring"),
          posexplode(col("hole")).as(Seq("i", "pt")))
      ext.unionByName(hol)
        .select(col("poly_id"), col("ring"), col("i"),
          col("pt.x").as("x"), col("pt.y").as("y"))
        .orderBy("poly_id", "ring", "i")
    }),

    // ---- salted PIP join (E8): same truth as the unsalted oracle --------
    "q_salted_join" -> ((s, dir) => {
      g(s)
      val points = t(s, dir, "orders")
        .select(col("o_orderkey").as("point_id"),
          ((col("o_orderkey") % 360) / 10.0 - 18.0).as("x"),
          ((col("o_custkey") % 180) / 10.0 - 9.0).as("y"))
      SpatialJoins.pipJoinSalted(points, rectPolys(s, dir), level = 8, salt = 4)
        .select(col("point_id"), col("poly_id"))
        .orderBy("point_id", "poly_id")
    }),

    // ---- vector->raster (E11): per-cover-cell 8x8 coverage samples ------
    // hits64 = coverage * 64 is integer-exact (64 = 2^6), and every sample
    // point / rect-edge comparison is IEEE-identical to the SQL oracle.
    "q_rasterize" -> ((s, dir) => {
      g(s)
      Tiling.rasterize(rectPolys(s, dir), level = 8, samples = 8)
        .select(col("poly_id"), col("cell_id"),
          (col("coverage") * 64).cast("long").as("hits64"))
        .orderBy("poly_id", "cell_id")
    }),

    // ---- scalar function surface (E16) ----------------------------------
    "q_scalar_fns" -> ((s, dir) => {
      g(s)
      val r = rectPolys(s, dir)
      val c6 = cell_of(col("cx"), col("cy"), lit(6))
      r.select(col("poly_id"),
        pip(col("cx"), col("cy"), col("exterior"), col("holes")).as("inside"),
        (signed_dist(col("cx"), col("cy"), col("exterior"), col("holes")) > 0).as("sd_pos"),
        cell_of(col("cx"), col("cy"), lit(12)).as("cell12"),
        cell_parent(cell_of(col("cx"), col("cy"), lit(12))).as("cell11"),
        size(cell_kring(c6, lit(2))).as("kring_n"),
        isnan(polylabel(col("exterior"), col("holes"), col("tolerance"))("x")).as("label_nan"))
        .orderBy("poly_id")
    }),

    // ---- sink + per-partition lineage metrics (E3) -----------------------
    // bucket expression is a modular key (not xxhash64) so the oracle can
    // re-derive the per-bucket row counts the lineage table records.
    "q_sink_metrics" -> ((s, dir) => {
      val tmp = tempDir("graft_sink_")
      val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      graft.sources.IcebergLite.run(c, Seq("c_custkey"), buckets = 16,
        bucketsPerWave = 4, tableDir = tmp,
        bucketExpr = Some(pmod(col("c_custkey"), lit(16)).cast("int")))(identity)
      graft.sources.IcebergLite.readLineage(s, tmp)
        .select(col("bucket"), col("rows").as("n_rows"))
        .orderBy("bucket")
    }),

    // ---- checkpoint/resume (E15): lineage anti-join skips committed work -
    // Buckets 0..7 are pre-marked complete (a simulated prior partial run);
    // the resumed run must process ONLY buckets 8..15, so the data table
    // holds exactly the rows whose bucket >= 8.
    "q_resume" -> ((s, dir) => {
      import s.implicits._
      val tmp = tempDir("graft_resume_")
      (0 until 8).toDF("bucket")
        .withColumn("rows", lit(0L)).withColumn("checksum", lit(0L))
        .withColumn("wall_ms", lit(0L)).withColumn("snapshot_id", lit(0L))
        .write.mode("append").parquet(s"$tmp/lineage")
      val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      graft.sources.IcebergLite.run(c, Seq("c_custkey"), buckets = 16,
        bucketsPerWave = 8, tableDir = tmp,
        bucketExpr = Some(pmod(col("c_custkey"), lit(16)).cast("int")))(identity)
      graft.sources.IcebergLite.readTable(s, tmp)
        .groupBy(col("bucket").cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("bucket")
    }),

    // ---- multimodal plumbing: frame sampling + audio windowing ----------
    // Counts and metadata are closed-form in the id (SQL-derivable); the
    // payload-derived features (energy, zero-crossings) stay spec-only —
    // the decode stubs never touch the oracle path.
    "q_multimodal" -> ((s, _) => {
      // cached: three consumers (metadata select, frame sampling, audio
      // windowing) would otherwise regenerate all payloads per branch;
      // released per the house cache rule once the (small) result is
      // materialized
      val media = graft.sources.Multimodal.table(s, 500).cache()
      val frames = graft.sources.Multimodal.frameSample(media, everyN = 7)
        .groupBy("media_id").agg(count(lit(1)).as("n_frames_sampled"))
      val feats = graft.sources.Multimodal.audioFeatures(media, windows = 8)
        .groupBy("media_id").agg(count(lit(1)).as("n_windows"))
      val out = media.toDF.select(col("media_id"), col("kind"),
          col("meta.n_frames").as("n_frames"),
          col("meta.duration_ms").as("duration_ms"))
        .join(frames, Seq("media_id"), "left")
        .join(feats, Seq("media_id"), "left")
        .na.fill(Map("n_frames_sampled" -> 0L, "n_windows" -> 0L))
        .orderBy("media_id")
      graft.operators.Caching.materializeAndRelease(out, media.toDF)
    }),

    // ---- Structured Streaming (E17): file stream == batch oracle ---------
    // The events table replayed through readStream with an AvailableNow
    // trigger and a tumbling event-time window; epoch-aligned windows mean
    // the batch SQL oracle (same as q_events_window) is the exact truth.
    "q_stream_window" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val schema = t(s, dir, "events").schema
      // the file-stream source wants a DIRECTORY to watch; testdata tables
      // are single files, so expose the file through a temp dir symlink
      val src = java.nio.file.Paths.get(s"$dir/events.parquet")
      val streamDir =
        if (java.nio.file.Files.isDirectory(src)) src
        else {
          val d = java.nio.file.Paths.get(tempDir("graft_stream_"))
          java.nio.file.Files.createSymbolicLink(d.resolve("events.parquet"), src)
          d
        }
      val stream = s.readStream.schema(schema).parquet(streamDir.toString)
      val agg = stream
        .groupBy(window(col("ts"), "5 minutes").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast("decimal(18,4)")) * 10000).cast("long").as("sum_value_e4"))
      val q = agg.writeStream.format("memory").queryName("graft_stream_window")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_stream_window")
        .select(unix_timestamp(col("win.start")).as("bucket"), col("event_type"),
          col("n"), col("sum_value_e4"))
        .orderBy("bucket", "event_type")
    }),

    // ---- E17 watermark semantics: late data dropped, append-mode flush ---
    // Two AvailableNow runs over a shared CHECKPOINT (the watermark
    // persists in the commit log — the production resume shape; a single
    // run can legally batch every available file together, which is why
    // this replay uses two runs, not maxFilesPerTrigger). Run 1: the
    // on-time 2/3 of events plus a sentinel 20 min past the table max —
    // it leaves the watermark 10 min past max, so in run 2 EVERY
    // remaining base row (unchanged timestamps) is late and dropped.
    // Run 2's own sentinel (max+120 min) advances the watermark so the
    // final flush emits the last open run-1 window (sentinel 1's) while
    // run 2's sentinel window stays open forever (append mode never
    // emits it). Closed-form truth: a plain batch aggregate over exactly
    // the run-1 input.
    "q_stream_late" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = t(s, dir, "events")
      def sentinel(minutes: Int) = ev.agg(max(col("ts")).as("mts")).select(
        lit(-1L).as("event_id"),
        (col("mts") + expr(s"INTERVAL $minutes MINUTES")).as("ts"),
        lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"), lit(null).cast("string").as("props"))
      val batchA = ev.where(col("event_id") % 3 =!= 0).unionByName(sentinel(20))
      val batchB = ev.where(col("event_id") % 3 === 0).unionByName(sentinel(120))
      val streamDir = java.nio.file.Paths.get(tempDir("graft_stream_late_src_"))
      val outDir = tempDir("graft_stream_late_out_")
      val ckptDir = tempDir("graft_stream_late_ckpt_")
      def addFile(df: DataFrame, name: String): Unit = {
        val tmp = java.nio.file.Paths.get(tempDir(s"graft_late_tmp_${name}_"))
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).filter(_.getFileName.toString
          .matches("part-.*\\.parquet")).findFirst().get()
        java.nio.file.Files.move(part, streamDir.resolve(s"$name.parquet"))
      }
      def runOnce(): Unit = {
        val stream = s.readStream.schema(ev.schema).parquet(streamDir.toString)
        val q = stream
          .withColumn("ts", col("ts").cast("timestamp")) // parquet NTZ -> event time
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "5 minutes").as("win"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            (sum(col("value").cast("decimal(18,4)")) * 10000).cast("long").as("sum_value_e4"))
          .select(unix_timestamp(col("win.start")).as("bucket"), col("event_type"),
            col("n"), col("sum_value_e4"))
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckptDir)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      addFile(batchA, "a"); runOnce()
      addFile(batchB, "b"); runOnce()
      s.read.parquet(outDir).orderBy("bucket", "event_type")
    }),

    // ---- E17 streaming exact-dedup: stateful dropDuplicates --------------
    // Which physical row survives a duplicate key is micro-batch-order-
    // dependent, so the output projects key-DERIVED columns only
    // (fingerprint + length of the text): deterministic, and the oracle
    // is a plain DISTINCT-text aggregate.
    "q_stream_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      g(s)
      val schema = t(s, dir, "documents").schema
      // the table is symlinked TWICE: the corpus streams through in two
      // files of identical rows, so the dedup state must drop the entire
      // second file — without planted duplicates (the sf tables carry
      // none) the query would pass even if dropDuplicates were a no-op
      val src = java.nio.file.Paths.get(s"$dir/documents.parquet").toAbsolutePath
      val d = java.nio.file.Paths.get(tempDir("graft_stream_dedup_"))
      for (name <- Seq("a", "b")) {
        if (java.nio.file.Files.isDirectory(src)) {
          // flat prefixed links: the file-stream source does not recurse
          java.nio.file.Files.list(src)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .forEach { f =>
              java.nio.file.Files.createSymbolicLink(
                d.resolve(s"$name-${f.getFileName}"), f)
            }
        } else java.nio.file.Files.createSymbolicLink(d.resolve(s"$name.parquet"), src)
      }
      val stream = s.readStream.schema(schema).parquet(d.toString)
      val dd = graft.streaming.Streaming.dedupByKey(stream.select(col("text")), "text")
        .select(graft.functions.GraftFunctions.text_fingerprint(col("text")).as("fp"),
          length(col("text")).cast("long").as("n_chars"))
      val q = dd.writeStream.format("memory").queryName("graft_stream_dedup")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_stream_dedup").orderBy("fp", "n_chars")
    }),

    // ---- E17 BOUNDED-STATE streaming dedup: dropDuplicatesWithinWatermark
    // Three AvailableNow runs over one shared checkpoint, replaying the
    // state lifecycle end to end:
    //   run 1 (file a): every document at T0, planted duplicates (doc_id
    //     % 5 == 0) one minute later — dropped by live state — and a
    //     sentinel at T0+60 that leaves the watermark at T0+50;
    //   run 2 (file b): a second sentinel at T0+90. Its batch END evicts
    //     every run-1 entry (expiry T0+10 <= watermark T0+50) — eviction
    //     runs at the end of every data batch, so the replay does not
    //     depend on no-data micro-batches firing;
    //   run 3 (file c): the distinct texts of doc_id % 3 == 0 at T0+120 —
    //     beyond the watermark delay, their state is GONE, so every one
    //     re-emits. That re-emission is the operator's bounded-state
    //     contract (and what plain dropDuplicates would never do).
    // Closed-form truth: every distinct text once, plus the %3 texts once
    // more. Sentinels are filtered out; output projects key-derived
    // columns only (same argument as q_stream_dedup).
    "q_stream_dedup_wm" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      g(s)
      val docs = t(s, dir, "documents")
      val t0 = to_timestamp(lit("2030-01-01 00:00:00"))
      def named(df: DataFrame, plusMin: Int): DataFrame =
        df.select(col("text"), (t0 + expr(s"INTERVAL $plusMin MINUTES")).as("ts"))
      val sent1 = s.range(1).select(lit("graft wm sentinel 1").as("text"))
      val sent2 = s.range(1).select(lit("graft wm sentinel 2").as("text"))
      val fileA = named(docs, 0)
        .unionByName(named(docs.where(col("doc_id") % 5 === 0), 1))
        .unionByName(named(sent1, 60))
      val fileB = named(sent2, 90)
      val fileC = named(docs.where(col("doc_id") % 3 === 0).select("text").distinct(), 120)
      val streamDir = java.nio.file.Paths.get(tempDir("graft_wm_dedup_src_"))
      val outDir = tempDir("graft_wm_dedup_out_")
      val ckptDir = tempDir("graft_wm_dedup_ckpt_")
      def addFile(df: DataFrame, name: String): Unit = {
        val tmp = java.nio.file.Paths.get(tempDir(s"graft_wm_tmp_${name}_"))
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).filter(_.getFileName.toString
          .matches("part-.*\\.parquet")).findFirst().get()
        java.nio.file.Files.move(part, streamDir.resolve(s"$name.parquet"))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
      def runOnce(): Unit = {
        val stream = s.readStream.schema(schema).parquet(streamDir.toString)
        val q = graft.streaming.Streaming
          .dedupByKeyWithinWatermark(stream, "text", "ts", "10 minutes")
          .where(!col("text").startsWith("graft wm sentinel"))
          .select(graft.functions.GraftFunctions.text_fingerprint(col("text")).as("fp"),
            length(col("text")).cast("long").as("n_chars"))
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckptDir)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      addFile(fileA, "a"); runOnce()
      addFile(fileB, "b"); runOnce()
      addFile(fileC, "c"); runOnce()
      s.read.parquet(outDir).orderBy("fp", "n_chars")
    }),

    // ---- cross-modal caption dedup (captionJoin driver coverage) ---------
    // Every 7th media row's caption is REPLACED by the text of document
    // (3*id mod |documents|) — a closed-form overlap both engines can
    // derive — then captionJoin left-joins captions against document
    // texts. Planted rows match their document (plus any duplicate-text
    // docs, which the oracle reproduces by the same join); synthetic
    // captions match nothing and surface as matched_doc = -1.
    "q_caption_join" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val nDocs = docs.count() // bounded metadata: one scalar for the mod
      val media = graft.sources.Multimodal.table(s, 300).toDF
        .withColumn("mid", expr("CAST(substring(media_id, 5) AS BIGINT)"))
      val planted = media
        .withColumn("want_doc",
          when(col("mid") % 7 === 0, (col("mid") * 3) % nDocs))
        .join(docs.select(col("doc_id").as("want_doc"),
          col("text").as("dtext")), Seq("want_doc"), "left")
        // planted rows take the document text EVEN WHEN NULL (a want_doc
        // matching no doc_id leaves the caption NULL — exactly what the
        // oracle's scalar subquery produces); the former coalesce fallback
        // silently reverted such rows to the synthetic caption and only
        // agreed with the oracle while no document text happened to equal
        // a synthetic caption. Non-planted rows keep their synthetic
        // caption, as in the oracle's ELSE branch.
        .select(col("media_id"), col("kind"), col("bytes"),
          when(col("mid") % 7 === 0, col("dtext"))
            .otherwise(col("caption")).as("caption"), col("meta"))
        .as[graft.sources.Multimodal.MediaRow]
      graft.sources.Multimodal.captionJoin(planted, docs)
        .select(col("media_id"),
          coalesce(col("doc_id"), lit(-1L)).as("matched_doc"))
        .orderBy("media_id", "matched_doc")
    }))

  /** Deterministic rectangle "polygons" derived from `part` — the
    * SQL-expressible polygon family used by the join oracles. Corners at
    * x.x5 offsets so no derived point ever lands exactly on an edge.
    * cx/cy/hw/hh ride along for oracles that need the closed form.
    */
  private def rectPolys(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
      .withColumn("cx", (col("p_partkey") % 360) / 10.0 - 18.0)
      .withColumn("cy", (col("p_partkey") * 7 % 180) / 10.0 - 9.0)
      .withColumn("hw", (col("p_size") % 10 + 1) / 10.0 + 0.05)
      .withColumn("hh", (col("p_size") * 3 % 10 + 1) / 10.0 + 0.05)
    p.select(
      concat(lit("r"), col("p_partkey")).as("poly_id"),
      array(
        struct((col("cx") - col("hw")).as("x"), (col("cy") - col("hh")).as("y")),
        struct((col("cx") + col("hw")).as("x"), (col("cy") - col("hh")).as("y")),
        struct((col("cx") + col("hw")).as("x"), (col("cy") + col("hh")).as("y")),
        struct((col("cx") - col("hw")).as("x"), (col("cy") + col("hh")).as("y")),
        struct((col("cx") - col("hw")).as("x"), (col("cy") - col("hh")).as("y"))
      ).as("exterior"),
      lit(null).cast(graft.functions.GeomEncoding.holesType).as("holes"),
      lit(0.01).as("tolerance"),
      col("cx"), col("cy"), col("hw"), col("hh"))
  }

  /** Shared body of q_knn_join / q_knn_join_part — one derivation of the
    * point/label tables, two execution strategies, one oracle.
    */
  private def knnQuery(s: SparkSession, dir: String,
                       broadcastLabels: Boolean, level: Int = 7): DataFrame = {
    g(s)
    val points = t(s, dir, "customer")
      .select(col("c_custkey").as("point_id"),
        ((col("c_custkey") % 360) / 10.0 - 18.0).as("x"),
        ((col("c_custkey") * 7 % 180) / 10.0 - 9.0).as("y"))
    val labels = t(s, dir, "supplier")
      .select(concat(lit("s"), col("s_suppkey")).as("poly_id"),
        ((col("s_suppkey") * 13 % 360) / 10.0 - 18.0).as("lx"),
        ((col("s_suppkey") * 29 % 180) / 10.0 - 9.0).as("ly"))
    SpatialJoins.knnJoin(points, labels, k = 3, level = level,
      broadcastLabels = broadcastLabels)
      .select(col("point_id"), col("poly_id"), col("rank"))
      .orderBy("point_id", "rank")
  }

  /** Same synthetic point/label tables as knnQuery; radius 2.0 spans a
    * few grid cells at the auto-picked level so both the ring cover and
    * the refine filter do real work under the oracle.
    */
  private def radiusQuery(s: SparkSession, dir: String,
                          broadcastLabels: Boolean): DataFrame = {
    g(s)
    val points = t(s, dir, "customer")
      .select(col("c_custkey").as("point_id"),
        ((col("c_custkey") % 360) / 10.0 - 18.0).as("x"),
        ((col("c_custkey") * 7 % 180) / 10.0 - 9.0).as("y"))
    val labels = t(s, dir, "supplier")
      .select(concat(lit("s"), col("s_suppkey")).as("poly_id"),
        ((col("s_suppkey") * 13 % 360) / 10.0 - 18.0).as("lx"),
        ((col("s_suppkey") * 29 % 180) / 10.0 - 9.0).as("ly"))
    SpatialJoins.radiusJoin(points, labels, radius = 2.0,
      broadcastLabels = broadcastLabels)
      .select(col("point_id"), col("poly_id"))
      .orderBy("point_id", "poly_id")
  }

  /** Temp dir for query-side scratch output, removed on JVM exit so
    * repeated driver checks in one session don't accumulate copies.
    */
  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(c => rm(c)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      try rm(d) catch { case _: Throwable => () }
    }))
    d.toString
  }

  /** Deterministic GeoJSON FeatureCollection literal (E2 driver query):
    * all coordinates exactly binary-representable so the oracle can pin
    * them as VALUES.
    */
  private[graft] val geoJsonLiteral: String =
    """{"type":"FeatureCollection","features":[
      |{"type":"Feature","properties":{"name":"sq"},"geometry":{"type":"Polygon","coordinates":
      |[[[0.0,0.0],[4.0,0.0],[4.0,4.0],[0.0,4.0],[0.0,0.0]],
      |[[1.5,1.5],[2.5,1.5],[2.5,2.5],[1.5,2.5],[1.5,1.5]]]}},
      |{"type":"Feature","properties":{"name":"tri"},"geometry":{"type":"Polygon","coordinates":
      |[[[-10.5,20.25],[-8.0,20.25],[-8.0,22.75],[-10.5,20.25]]]}}]}""".stripMargin

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Geometry oracles re-derive the quadkey bit
    * math inline; see OracleSql for the shared fragments.
    */
  def oracleSql: Map[String, String] = OracleSql.all
}
