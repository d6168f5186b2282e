package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The driver-side quantizer fits hash ids into `__h` to pick their
  * bounded sample; an input already carrying `__h` must be rejected up
  * front like every other reserved column, not fail later as an
  * ambiguous `orderBy`. */
class FitReservedColumnsSpec extends AnyFunSuite {
  import TestSpark.spark

  private def withH = {
    import spark.implicits._
    Seq((1L, Array(1.0f, 0.0f), 7L), (2L, Array(0.0f, 1.0f), 8L))
      .toDF("vec_id", "embedding", "__h")
  }

  test("IvfIndex.buildLocalFit rejects an input carrying __h") {
    val e = intercept[IllegalArgumentException] {
      IvfIndex.buildLocalFit(withH, "embedding", "vec_id", nCells = 4)
    }
    assert(e.getMessage.contains("__h"))
  }

  test("cosineNearDupsBlocked rejects an input carrying __h") {
    val e = intercept[IllegalArgumentException] {
      Extensions.cosineNearDupsBlocked(withH, "embedding", "vec_id", 0.5)
    }
    assert(e.getMessage.contains("__h"))
  }
}
