package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Smoke test for the A/B harness: every mode runs at a tiny size on
  * the shared session, prints one parseable JSON line with both arms
  * timed, and leaves the session running.
  */
class AbSpec extends AnyFunSuite with SparkSpec with Matchers {

  private val modes = Seq("columnar-flat", "columnar-nums", "columnar-arrays",
    "columnar-structs", "columnar-unions", "columnar-rename", "blockskip",
    "chunkbloom", "profile proj_rename /root/testdata/sf0.001")

  for (mode <- modes) test(s"Ab.run $mode: one JSON line, both arms timed") {
    val line = Ab.run(spark, mode, 20000L, 1)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    json.get("mode").asText() shouldBe mode
    json.get("a_sec").asDouble() should be > 0.0
    json.get("b_sec").asDouble() should be > 0.0
    spark.sparkContext.isStopped shouldBe false
  }

  test("an unknown mode is rejected") {
    intercept[IllegalArgumentException](Ab.run(spark, "columnar-bogus", 10L, 1))
    intercept[IllegalArgumentException](Ab.run(spark, "nope", 10L, 1))
  }
}
