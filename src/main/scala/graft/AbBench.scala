package graft

import graft.operators.SpatialJoins
import graft.sources.GeoTables
import org.apache.spark.sql.functions._

/** A/B harnesses for structural plan decisions — each mode runs the same
  * workload under both formulations in one JVM (interleaved, min-able by
  * re-running) and prints per-pass seconds. Evidence lands in COVERAGE.md
  * next to the decision it justifies.
  *
  * {{{
  *   sbt "runMain graft.AbBench pip_shuffle [copies] [points] [level]"
  * }}}
  */
object AbBench {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("pip_shuffle") => pipShuffle(
      args.lift(1).map(_.toInt).getOrElse(30),
      args.lift(2).map(_.toLong).getOrElse(2000000L),
      args.lift(3).map(_.toInt).getOrElse(10))
    case other => sys.error(s"unknown A/B mode: $other")
  }

  /** pipJoin non-broadcast (shuffle) path: slim (cell_id, poly_id) cover +
    * geometry re-join vs geometry riding the cell shuffle once per cover
    * cell — the mega-polygon regime both paths exist for (Norway copies:
    * 8,854 vertices each, covers of thousands of cells).
    */
  private def pipShuffle(copies: Int, nPts: Long, level: Int): Unit = {
    val spark = GraftSession.create("local[32]", 64, "graft-ab-pip")
    // the A/B compares the two SHUFFLE formulations of the known-huge
    // polygon regime; at harness scale the optimizer's size estimates
    // would otherwise sneak a (mis-estimated, multi-GB) broadcast in
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import spark.implicits._
    val nw = GeoTables.fixtures(spark).toDF.where($"poly_id" === "norway")
      .crossJoin(spark.range(copies).select($"id".as("copy")))
      .drop("poly_id").withColumn("poly_id", concat(lit("nw"), $"copy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    nw.count()
    val pts = GeoTables.syntheticPoints(spark, nPts).toDF
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pts.count()
    for (pass <- 1 to Option(System.getenv("AB_PASSES")).map(_.toInt).getOrElse(2); slim <- Seq(true, false)) {
      val t0 = System.nanoTime()
      SpatialJoins.pipJoin(pts, nw, level,
          broadcastPolygons = Some(false), slimShuffle = slim)
        .write.format("noop").mode("overwrite").save()
      println(f"[ab pip_shuffle] pass=$pass slim=$slim copies=$copies pts=$nPts " +
        f"level=$level  ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
