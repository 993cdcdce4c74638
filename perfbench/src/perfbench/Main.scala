package perfbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Heap in use right after each GC, from GC notifications: the peak is the
  * peak live data of the measured window, not GC timing.
  */
object GcWatch {
  @volatile private var peak = 0L
  @volatile private var events = 0L
  private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      import com.sun.management.GarbageCollectionNotificationInfo
      import javax.management.openmbean.CompositeData
      import javax.management.{Notification, NotificationEmitter, NotificationListener}
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val l = new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            GcWatch.synchronized { events += 1; if (used > peak) peak = used }
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(l, null, null)
        case _ => ()
      }
    }
  }
  def reset(): Unit = synchronized { peak = 0L; events = 0L }
  /** Peak after-GC heap in MB since [[reset]] (NaN if no GC ran). */
  def peakMb: Double = synchronized(if (events > 0) peak / 1e6 else Double.NaN)
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      launchMs: Long, header: Map[String, String])

final case class IterResult(seconds: Double, ok: Boolean, leaked: Int,
                            error: Option[String], gcSeconds: Double, heapPeakMb: Double)

/** Closed-loop benchmark driver: one client, one JVM, local[nproc]; each
  * job is submitted after the previous one completed and its output was
  * checked. Prints `# ...` report lines and, last, one JSON result line.
  */
object Main {
  /** Checked iterations run in the set-up, before the timed loop. */
  val WarmUps = 3
  /** The loop stops extending towards `tailN` iterations after this long. */
  val CapSeconds = 100.0

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.get("launch-ms").map(_.toLong)
        .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime),
      m.collect { case (k, v) if k.startsWith("hdr-") => k.drop(4) -> v })
  }

  def say(s: String): Unit = { println(s"# $s"); System.out.flush() }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.byName(o.workload).getOrElse {
      System.err.println(s"unknown workload ${o.workload}; known: ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    GcWatch.install()
    // named by pid so the launcher can remove it after a killed run
    val work = Paths.get(".bench_build", "work", ProcessHandle.current().pid().toString).toAbsolutePath
    Files.createDirectories(work)
    val code =
      try { new Run(o, wl, work).run(); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: run failed: $e")
          e.printStackTrace()
          1
      } finally Workloads.deleteTree(work)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    sys.exit(code)
  }

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

final class Run(o: Opts, val wl: Workload, work: Path) {
  import Main._
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val master = s"local[$cores]"
  var spark: SparkSession = _
  var tracer: Tracer = Tracer.off
  val results = mutable.ArrayBuffer.empty[IterResult]
  var leakedTotal = 0

  def session(m: String): SparkSession = {
    if (spark != null) spark.stop()
    spark = GraftSession.create(m, cores, "perfbench")
    spark
  }

  /** Release whatever cached RDDs survived an iteration; returns how many. */
  def cleanup(): Int = {
    val left = spark.sparkContext.getPersistentRDDs
    if (left.nonEmpty) {
      spark.catalog.clearCache()
      left.values.foreach(_.unpersist(blocking = true))
    }
    left.size
  }

  def iteration(in: wl.In, exp: wl.Exp, iter: Int): IterResult = {
    val pre = cleanup() // a clean start: no persistent RDDs, fresh output dir, collected heap
    val out = work.resolve("out")
    Workloads.deleteTree(out)
    Files.createDirectories(out)
    GcWatch.reset() // the forced GC's reading is the iteration's baseline live heap
    System.gc()
    val gc0 = GcWatch.gcSeconds
    val t0 = System.nanoTime()
    val res = try Right(tracer.span("iteration", s"${wl.name}#$iter")(wl.iterate(spark, in, tracer, out)))
    catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val gc = GcWatch.gcSeconds - gc0
    val heap = GcWatch.peakMb
    val err = res match {
      case Left(e) => Some(s"iteration threw $e")
      case Right(r) =>
        try tracer.check(s"${wl.name}.check")(wl.check(spark, in, exp, r, iter))
        catch { case e: Exception => Some(s"check threw $e") }
        finally wl.release(r)
    }
    val leaked = pre + cleanup()
    leakedTotal += leaked
    val r = IterResult(secs, err.isEmpty && leaked == 0, leaked,
      err.orElse(if (leaked > 0) Some(s"$leaked cached RDD(s) leaked") else None), gc, heap)
    r.error.foreach(e => say(s"iteration $iter FAILED: $e"))
    results += r
    r
  }

  /** Closed loop for `seconds` and at least `minIters` iterations, but
    * no longer than [[CapSeconds]].
    */
  def loop(in: wl.In, exp: wl.Exp, seconds: Double, minIters: Int): Seq[IterResult] = {
    val t0 = System.nanoTime()
    def el = (System.nanoTime() - t0) / 1e9
    val out = mutable.ArrayBuffer.empty[IterResult]
    while (out.isEmpty || ((el < seconds || out.size < minIters) && el < CapSeconds))
      out += iteration(in, exp, results.size)
    out.toSeq
  }

  def run(): Unit = {
    say(s"perfbench workload=${wl.name} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0}")
    say(s"nproc=$cores master=$master shuffle_partitions=$cores jvm=${System.getProperty("java.vm.name")} " +
      s"${System.getProperty("java.version")} spark=${org.apache.spark.SPARK_VERSION} " +
      s"max_heap_mb=${Runtime.getRuntime.maxMemory / 1000000} " +
      o.header.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    // set-up, from the JVM launch to the first timed iteration: session,
    // seeded inputs, the checker's answers and checked warm-up iterations
    session(master)
    val (in, info) = wl.generate(spark, o.seed, work.resolve("in"))
    val exp = wl.expect(spark, in)
    (0 until WarmUps).foreach(_ => iteration(in, exp, results.size))
    val setupS = (Clock.nowNs - Clock.fromEpochMs(o.launchMs)) / 1e9
    val storageMb = Runtime.getRuntime.maxMemory * 0.6 / 1e6 // spark.memory.fraction
    say(f"input ${wl.name}: rows=${info.rows} bytes=${info.bytes} (${info.bytes / 1e6}%.1f MB parquet) " +
      f"fits_storage_memory=${info.bytes / 1e6 < storageMb} (unified memory $storageMb%.0f MB) -- ${info.note}")
    say(f"setup_s=$setupS%.3f (JVM start, session, inputs, expected answers, $WarmUps warm-up iterations)")
    if (!o.trace) untraced(in, exp, setupS) else traced(in, exp)
  }

  /** Prints the metrics and the JSON result line; `extraChecks` are output
    * checks made outside the loop (None when they passed).
    */
  def finish(metrics: Seq[(String, Double, String)], extraChecks: Seq[Option[String]] = Nil): Unit = {
    metrics.foreach { case (n, v, u) => say(f"$n%-34s $v%.6g $u") }
    val failed = results.count(!_.ok) + extraChecks.count(_.isDefined)
    println(Main.json(failed == 0, results.size + extraChecks.size, failed, metrics))
  }

  def untraced(in: wl.In, exp: wl.Exp, setupS: Double): Unit = {
    val it = loop(in, exp, o.seconds, wl.tailN)
    val heaps = it.map(_.heapPeakMb).filterNot(_.isNaN)
    val heap = if (heaps.isEmpty) Double.NaN else Stats.median(heaps)
    say(s"iteration_s: ${it.map(r => f"${r.seconds}%.3f").mkString(",")}")
    say(s"heap_peak_mb per iteration: ${it.map(r => f"${r.heapPeakMb}%.0f").mkString(",")}")
    val times = it.map(_.seconds)
    val med = Stats.median(times)
    val (tail, pct, n) = Stats.tail(times, wl.tailN, wl.tailBeyond)
    say(f"iterations=${times.size} median_s=$med%.4f job_s_tail=p$pct%.1f of the last $n iterations " +
      s"(${wl.tailBeyond} samples beyond)")
    finish(Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", wl.inputRows / med, "rows/s"),
      ("job_s_tail", tail, "s"),
      ("ok_frac", results.count(_.ok).toDouble / results.size, "fraction"),
      ("heap_peak_mb", heap, "MB")))
  }

  def traced(in: wl.In, exp: wl.Exp): Unit = {
    val sc = spark.sparkContext
    val listener = new BenchListener
    sc.addSparkListener(listener)
    val on = new Tracer(true, spark.sparkContext) // follows the session into the layer sections
    listener.resetPeakCache()
    // untraced and traced iterations alternate, so both see the same JIT
    // state and host load; the listener stays attached throughout, so the
    // overhead is that of the spans and job-group properties
    val untraced, traced = mutable.ArrayBuffer.empty[IterResult]
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < o.seconds || traced.size < 3) {
      tracer = Tracer.off
      untraced += iteration(in, exp, results.size)
      tracer = on
      traced += iteration(in, exp, results.size)
    }
    tracer = Tracer.off
    listener.quiesce()
    val tr = traced.toSeq
    val peakCacheMb = listener.peakCachedBytes / 1e6
    val all = on.spans ++ listener.synchronized(
      Stats.sparkSpans(listener.jobs.values.toSeq, listener.stages.toSeq, () => on.nextId()))
    // jobs of the untraced iterations carry no group: drop them, but count
    // any group-less job that started inside a traced iteration
    val iters = all.filter(_.kind == "iteration")
    val orphans = all.filter(s => s.kind == "job" && s.parent == 0L)
    val unattributed = orphans.count(j => iters.exists(i => j.start >= i.start && j.start <= i.end))
    val root = Stats.roots(all)
    val orphanIds = orphans.map(_.id).toSet
    val loopSpans = all.filterNot(s => orphanIds(root(s.id)))
    val spark1 = listener.synchronized(
      SparkStats(loopSpans, listener.tasks.toList, Stats.stageOwner(listener.jobs.values.toSeq), cores, tr))
    Layers.writeSpans(work.getParent.getParent.resolve("trace").resolve(s"${wl.name}-seed${o.seed}.jsonl"), loopSpans)
    val selfByKind = SparkStats.selfByKind(loopSpans, tr.size)
    say(s"traced loop: ${tr.size} traced + ${untraced.size} untraced iterations, ${loopSpans.size} spans, " +
      s"$unattributed job(s) without a span")
    SparkStats.selfByName(loopSpans).foreach { case (n, s) => say(f"self_time $n%-28s $s%.4f s/iteration") }
    sc.removeSparkListener(listener)

    // single-thread baseline of the same job
    session("local[1]")
    val one = iteration(in, exp, results.size).seconds // JIT and codegen cache are warm
    session(master)
    val sections = new Layers(spark, o.seed, work.resolve("layers"), cores, warm = wl.name, listener, on)
    val layers = sections.all()
    val medU = Stats.median(untraced.map(_.seconds).toSeq)
    val medT = Stats.median(tr.map(_.seconds))
    finish(spark1 ++ Seq(
      ("spark.speedup_1to4", one / medU, "x"),
      ("cache.peak_mb", peakCacheMb, "MB"),
      ("cache.leaked_rdds", leakedTotal.toDouble, "count"),
      ("trace.overhead_frac", medT / medU - 1.0, "fraction"),
      ("trace.spans_per_iteration", SparkStats.inIterations(loopSpans).size.toDouble / tr.size, "count")) ++
      selfByKind ++ layers, sections.checks.toSeq)
  }
}
