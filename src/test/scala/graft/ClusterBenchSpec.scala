package graft

import org.scalatest.funsuite.AnyFunSuite

/** ScalingBench's report over the spark-submit campaign's
  * `executors`-keyed lines (BENCH/cluster_runs.jsonl). The report is an
  * evidence artifact: its estimator (per-workload MIN per side,
  * same-round pair totals, N→4N efficiency) must be exactly what
  * BENCH/BASELINE.md documents, and the sample-line parser must ignore
  * the raw per-pass arrays and the meta fields. The local `cores` side
  * is covered in ScalingBenchSpec.
  */
class ClusterBenchSpec extends AnyFunSuite {

  // two interleaved rounds at scale 64; round 2's lo side caught an
  // interference window on pip (9.0 vs quiet 8.0)
  private val lines = Seq(
    """{"executors":1,"observed":1,"scale":64.0,"sf":"/x","seconds":{"pip_join":8.000,"pipeline":16.000},"passes":{"pip_join":[8.000,99.000],"pipeline":[16.000]}}""",
    """{"executors":4,"observed":4,"scale":64.0,"sf":"/x","seconds":{"pip_join":2.500,"pipeline":5.000},"passes":{"pip_join":[2.500],"pipeline":[5.000]}}""",
    """{"executors":1,"observed":1,"scale":64.0,"sf":"/x","seconds":{"pip_join":9.000,"pipeline":18.000},"passes":{"pip_join":[9.000]}}""",
    """{"executors":4,"observed":4,"scale":64.0,"sf":"/x","seconds":{"pip_join":2.000,"pipeline":4.000},"passes":{"pip_join":[2.000]}}""",
    // different scale: must be filtered out entirely (its absurd times
    // would otherwise drag the per-workload minima)
    """{"executors":4,"observed":4,"scale":2.0,"sf":"/x","seconds":{"pip_join":0.001,"pipeline":0.001}}""")

  test("per-workload minima per side, scale-filtered, passes ignored") {
    val r = ScalingBench.renderReport(lines, "executors", 1, 4, "64")
    // min(8.0, 9.0)=8.0 vs min(2.5, 2.0)=2.0 -> speedup 4.00, eff 1.00
    assert(r.contains("| pip_join | 8.00 | 2.00 | 4.00 | 1.00 |"))
    // pipeline 16.0 vs 4.0 -> 4.00 / 1.00
    assert(r.contains("| pipeline | 16.00 | 4.00 | 4.00 | 1.00 |"))
    // totals over the min vectors: 24.0 vs 6.0
    assert(r.contains("| **total** | 24.00 | 6.00 | 4.00 | **1.00** |"))
    // the 99.0 raw pass value and the scale-2 line must not leak in
    assert(!r.contains("99.00") && !r.contains("0.00 |"))
  }

  test("same-round pair totals pair the i-th lo line with the i-th hi line") {
    val r = ScalingBench.renderReport(lines, "executors", 1, 4, "64")
    // round 1: (8+16)/(2.5+5)=3.2 -> eff 0.80; round 2: (9+18)/(2+4)=4.5
    // -> 1.125, rendered HALF_UP as 1.13
    assert(r.contains("| 1 | 24.00 | 7.50 | 3.20 | 0.80 |"))
    assert(r.contains("| 2 | 27.00 | 6.00 | 4.50 | 1.13 |"))
  }

  test("north-star pipeline throughput line uses the same minima") {
    val r = ScalingBench.renderReport(lines, "executors", 1, 4, "64")
    // 96000 images / 16.0 s = 6000 img/s -> / 4.0 s = 24000 img/s, eff 1.00
    assert(r.contains("96000 images"))
    assert(r.contains("6000 img/s at 1 executor(s) -> 24000 img/s"))
  }

  test("a side with no matching lines renders an empty table, not a crash") {
    val r = ScalingBench.renderReport(lines, "executors", 2, 8, "64")
    assert(r.contains("| workload |"))
    assert(!r.contains("pip_join |"))
  }
}
