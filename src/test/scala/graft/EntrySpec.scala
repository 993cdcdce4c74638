package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver smoke contract: entry() must return rows. */
class EntrySpec extends AnyFunSuite {
  test("flagship entry returns rows and sane labels") {
    val df = SparkEntry.entry(TestSpark.spark)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("points_inside") > 0))
  }

  test("every query has an oracle") {
    // since round 2 even q_phash_groups carries one (group structure via
    // the closed-form render_id mapping; injectivity asserted in
    // PipelineOpsSpec)
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty,
      "oracle entries without a query")
  }

  test("every graft main the docs and scripts name resolves and has a main") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val scripts = Files.list(Paths.get("BENCH")).iterator.asScala
      .filter(_.toString.endsWith(".sh")).toSeq
    val sources = Seq(Paths.get("README.md"), Paths.get(".claude/skills/verify/SKILL.md"))
      .filter(Files.exists(_)) ++ scripts
    // a class reference is graft.[package.]Name: it covers `runMain X`,
    // `--class X` and a plain `java ... X` command line alike
    val ref = """\bgraft\.(?:[a-z]\w*\.)*[A-Z]\w*""".r
    val named = sources.flatMap(p =>
      ref.findAllIn(new String(Files.readAllBytes(p), "UTF-8"))).toSet
    assert(named.contains("graft.ScalingBench") && named.contains("graft.Verify"),
      s"expected the documented mains, found $named")
    val stale = named.filterNot { n =>
      scala.util.Try(Class.forName(n + "$", false, getClass.getClassLoader)
        .getMethod("main", classOf[Array[String]])).isSuccess
    }
    assert(stale.isEmpty, s"named in docs or scripts but no such main: $stale")
  }
}
