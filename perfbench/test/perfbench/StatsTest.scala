package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: its statistics, self time from nested spans
  * and job-to-span attribution by job group. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure.
  */
object StatsTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit =
    if (try cond catch { case e: Throwable => System.err.println(e); false }) passed += 1
    else { failures += 1; println(s"# FAIL $name") }

  def main(args: Array[String]): Unit = {
    tail()
    selfTime()
    attribution()
    println(s"# selftest: $passed passed, $failures failed")
    println(s"""{"passed": $passed, "failed": $failures}""")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def tail(): Unit = {
    val fifty = scala.util.Random.shuffle((1 to 50).map(_.toDouble))
    check("tail of 50 with 10 beyond is the 11th largest at p80") { Stats.tail(fifty, 50, 10) == ((40.0, 80.0, 50)) }
    val hundred = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    check("tail of 100 with 10 beyond is p90") { Stats.tail(hundred, 100, 10) == ((90.0, 90.0, 100)) }
    check("only the last n samples count, so the percentile stays fixed") {
      val slowStart = Seq(99.0, 98.0, 97.0) ++ (1 to 10).map(_.toDouble)
      Stats.tail(slowStart, 10, 2) == ((8.0, 80.0, 10)) && Stats.tail((1 to 13).map(_.toDouble), 10, 2) == ((11.0, 80.0, 10))
    }
    check("a series shorter than beyond+1 clamps to its smallest sample") {
      Stats.tail(Seq(3.0, 1.0, 2.0), 10, 3) == ((1.0, 100.0 / 3, 3))
    }
    check("median odd/even") { Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0 && Stats.median(Seq(4.0, 1.0)) == 2.5 }
  }

  def selfTime(): Unit = {
    check("union of overlapping and disjoint intervals") {
      Stats.unionLength(Seq((10L, 30L), (20L, 50L), (60L, 70L), (65L, 66L), (5L, 5L))) == 50L
    }
    val spans = Seq(
      Span(1, 0, "iteration", "it", 0, 100),
      Span(2, 1, "call", "a", 10, 30),
      Span(3, 1, "call", "b", 20, 50), // overlaps a
      Span(4, 1, "call", "c", 90, 120), // runs past its parent: clipped
      Span(5, 2, "job", "job-0", 15, 20),
      Span(6, 5, "stage", "stage-0.0", 15, 20))
    val self = Stats.selfTimes(spans)
    check("parent self time excludes the union of its children, clipped") { self(1) == 100 - 40 - 10 }
    check("child self time excludes its own children") { self(2) == 20 - 5 }
    check("leaf self time is its duration") { self(3) == 30 && self(6) == 5 }
    check("fully covered span has zero self time") { self(5) == 0 }
    check("roots follow parents up the tree") {
      val r = Stats.roots(spans)
      r(6) == 1 && r(4) == 1 && r(1) == 1
    }
  }

  def attribution(): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val sc = spark.sparkContext
      val listener = new BenchListener
      sc.addSparkListener(listener)
      val tr = new Tracer(true, sc)
      tr.span("iteration", "it") {
        tr.call("a")(spark.range(100).count())
        tr.call("b") {
          spark.range(10).collect()
          tr.call("c")(spark.range(5).collect())
          spark.range(7).count()
        }
      }
      val groupAfter = sc.getLocalProperty(Tracer.GroupKey)
      spark.range(3).collect() // outside every span
      listener.quiesce()
      val spans = tr.spans
      val id = spans.map(s => s.name -> s.id).toMap
      val jobs = Stats.sparkSpans(listener.jobs.values.toSeq, listener.stages.toSeq, () => tr.nextId())
        .filter(_.kind == "job")
      val byParent = jobs.groupBy(_.parent).map { case (p, js) => p -> js.size }
      check("job group is cleared after the outermost call") { groupAfter == null }
      check("jobs of a call hang under its span") { byParent.getOrElse(id("a"), 0) >= 1 }
      check("jobs of a nested call hang under the nested span") { byParent.getOrElse(id("c"), 0) >= 1 }
      check("the enclosing call's group is restored after a nested call") { byParent.getOrElse(id("b"), 0) >= 2 }
      check("a job outside every call is unattributed") { byParent.getOrElse(0L, 0) >= 1 }
      check("iteration spans set no group") { !byParent.contains(id("it")) }
      check("every attributed job's root is the iteration") {
        val all = spans ++ jobs
        val r = Stats.roots(all)
        jobs.filter(_.parent != 0).forall(j => r(j.id) == id("it"))
      }
      sc.removeSparkListener(listener)
    } finally spark.stop()
  }
}
