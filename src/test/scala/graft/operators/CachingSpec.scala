package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Cache-ownership contract: release() must drop exactly what the graft
  * operators own — their persisted results and graft-made checkpoint
  * leaves — and never a caller's own storage.
  */
class CachingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("release() leaves caller-made localCheckpoint leaves alone") {
    val ck = spark.range(50).toDF("a").localCheckpoint(true)
    assert(ck.count() === 50)
    // a frame DERIVED from the caller's checkpoint, released by graft code
    Caching.release(ck.select($"a" * 2 as "b"))
    // the caller's checkpoint must still be readable (its blocks are
    // unrecoverable if dropped — the ownership rule exists for exactly this)
    assert(ck.count() === 50)
  }

  test("own() + release() drops graft-made checkpoint blocks") {
    val ck = Caching.own(spark.range(50).toDF("a").localCheckpoint(true))
    assert(ck.count() === 50)
    Caching.release(ck)
    // blocks gone: a recompute attempt must fail (LocalCheckpointRDD
    // cannot rebuild) — count() now throws
    intercept[Exception] { ck.count() }
  }
}
