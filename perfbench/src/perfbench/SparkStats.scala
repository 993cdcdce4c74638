package perfbench

/** Per-iteration Spark mechanics of a traced loop, attributed through the
  * span tree: task -> stage -> job -> call -> iteration.
  */
object SparkStats {

  def apply(spans: Seq[Span], tasks: Seq[TaskRec], stageJob: Map[Int, Int], cores: Int,
            iters: Seq[IterResult]): Seq[(String, Double, String)] = {
    val root = Stats.roots(spans)
    val iterSpans = spans.filter(_.kind == "iteration")
    val jobRoot: Map[Int, Long] = spans.filter(_.kind == "job")
      .map(s => s.name.stripPrefix("job-").toInt -> root(s.id)).toMap
    val stageSpans = spans.filter(_.kind == "stage")
    def rootOfStage(stageId: Int): Option[Long] = stageJob.get(stageId).flatMap(jobRoot.get)
    val tasksByIter = tasks.groupBy(t => rootOfStage(t.stageId))
    val per = iterSpans.map { it =>
      val ts = tasksByIter.getOrElse(Some(it.id), Nil)
      val wall = it.dur.toDouble
      val busy = Stats.unionLength(ts.map(t => (math.max(t.launch, it.start), math.min(t.finish, it.end))))
      Map(
        "jobs" -> spans.count(s => s.kind == "job" && root(s.id) == it.id).toDouble,
        "stages" -> stageSpans.count(s => root(s.id) == it.id).toDouble,
        "tasks" -> ts.size.toDouble,
        "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / 1e6,
        "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
        "spill_mb" -> ts.map(_.spill).sum / 1e6,
        "busy_frac" -> ts.map(_.runNs).sum / (wall * cores),
        "driver_idle_s" -> (wall - busy) / 1e9)
    }
    def med(k: String) = if (per.isEmpty) Double.NaN else Stats.median(per.map(_(k)))
    Seq(
      ("spark.jobs", med("jobs"), "count"),
      ("spark.stages", med("stages"), "count"),
      ("spark.tasks", med("tasks"), "count"),
      ("spark.shuffle_read_mb", med("shuffle_read_mb"), "MB"),
      ("spark.shuffle_write_mb", med("shuffle_write_mb"), "MB"),
      ("spark.spill_mb", med("spill_mb"), "MB"),
      ("spark.gc_s", Stats.median(iters.map(_.gcSeconds)), "s"),
      ("spark.busy_frac", med("busy_frac"), "fraction"),
      ("spark.driver_idle_s", med("driver_idle_s"), "s"))
  }

  /** Spans of the timed iterations: those whose root is an iteration
    * (output checks run outside the iteration span and are left out).
    */
  def inIterations(spans: Seq[Span]): Seq[Span] = {
    val root = Stats.roots(spans)
    val iters = spans.filter(_.kind == "iteration").map(_.id).toSet
    spans.filter(s => iters(root(s.id)))
  }

  /** Self time per span kind, per iteration. */
  def selfByKind(spans: Seq[Span], iterations: Int): Seq[(String, Double, String)] = {
    val self = Stats.selfTimes(spans)
    val timed = inIterations(spans)
    Seq("iteration", "call", "job", "stage").map { k =>
      (s"trace.self_${k}_s", timed.filter(_.kind == k).map(s => self(s.id)).sum / 1e9 / iterations, "s")
    }
  }

  /** Self time per call name (jobs and stages grouped by kind), summed
    * over the loop, divided by its iteration count.
    */
  def selfByName(spans: Seq[Span]): Seq[(String, Double)] = {
    val self = Stats.selfTimes(spans)
    val n = math.max(1, spans.count(_.kind == "iteration"))
    spans.groupBy(s => if (s.kind == "call" || s.kind == "check") s.name else s.kind)
      .map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / 1e9 / n }.toSeq.sortBy(_._1)
  }
}
