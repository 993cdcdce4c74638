package graft

import org.scalatest.funsuite.AnyFunSuite

/** ScalingBench's report over the local campaign's `cores`-keyed lines
  * (BENCH/scaling_runs.jsonl): the same estimator as the `executors` side
  * (ClusterBenchSpec), with efficiency taken against the real core ratio.
  */
class ScalingBenchSpec extends AnyFunSuite {

  test("cores-keyed report: minima, totals, same-round pairs, pipeline img/s") {
    val lines = Seq(
      // the older line shape (no raw passes) and the current one both parse
      """{"cores":4,"scale":64.0,"sf":"/x","seconds":{"knn_join":32.000,"pipeline":104.000}}""",
      """{"cores":16,"scale":64.0,"sf":"/x","seconds":{"knn_join":12.000,"pipeline":25.000}}""",
      """{"cores":4,"scale":64.0,"sf":"/x","seconds":{"knn_join":44.000,"pipeline":100.000},"passes":{"knn_join":[44.000,77.000],"pipeline":[100.000]}}""",
      """{"cores":16,"scale":64.0,"sf":"/x","seconds":{"knn_join":10.000,"pipeline":30.000},"passes":{"knn_join":[10.000],"pipeline":[30.000]}}""",
      // other scale, other core count sharing a prefix, other side key:
      // none may leak into the minima
      """{"cores":4,"scale":256.0,"sf":"/x","seconds":{"knn_join":1.000,"pipeline":1.000}}""",
      """{"cores":160,"scale":64.0,"sf":"/x","seconds":{"knn_join":1.000,"pipeline":1.000}}""",
      """{"executors":16,"observed":16,"scale":64.0,"sf":"/x","seconds":{"knn_join":1.000,"pipeline":1.000}}""")
    val r = ScalingBench.renderReport(lines, "cores", 4, 16, "64")
    assert(r.contains("| workload | local[4] s | local[16] s | speedup | efficiency |"))
    // min(32, 44)=32 vs min(12, 10)=10 -> 3.20, / 4 -> 0.80
    assert(r.contains("| knn_join | 32.00 | 10.00 | 3.20 | 0.80 |"))
    assert(r.contains("| pipeline | 100.00 | 25.00 | 4.00 | 1.00 |"))
    // 132 / 35 = 3.771 -> 0.943
    assert(r.contains("| **total** | 132.00 | 35.00 | 3.77 | **0.94** |"))
    // round 1: 136 / 37 = 3.676 -> 0.919; round 2: 144 / 40 = 3.6 -> 0.90
    assert(r.contains("| 1 | 136.00 | 37.00 | 3.68 | 0.92 |"))
    assert(r.contains("| 2 | 144.00 | 40.00 | 3.60 | 0.90 |"))
    assert(r.contains("Best same-round pair efficiency: 0.92"))
    // 96000 images / 100 s = 960 img/s -> / 25 s = 3840 img/s
    assert(r.contains("960 img/s at local[4] -> 3840 img/s at local[16] (efficiency 1.00)"))
  }

  test("efficiency divides by the real core ratio, not a fixed 4x (8 vs 16)") {
    val lines = Seq(
      """{"cores":8,"scale":8.0,"sf":"/x","seconds":{"pip_join":20.000}}""",
      """{"cores":16,"scale":8.0,"sf":"/x","seconds":{"pip_join":12.500}}""")
    val r = ScalingBench.renderReport(lines, "cores", 8, 16, "8")
    // speedup 1.6 over a 2x ratio: efficiency 0.80 (a fixed 4x reads 0.40)
    assert(r.contains("| pip_join | 20.00 | 12.50 | 1.60 | 0.80 |"))
    assert(r.contains("| **total** | 20.00 | 12.50 | 1.60 | **0.80** |"))
    assert(r.contains("| 1 | 20.00 | 12.50 | 1.60 | 0.80 |"))
  }
}
