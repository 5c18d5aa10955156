package graft.run

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.graph.GraphOps

class PreparedStepSpec extends AnyFunSuite with SparkTestBase {

  test("a step whose output is laid out unlike its input fails at set-up") {
    val input = PreparedStep.checkpoint(spark.range(20).select(col("id").as("vid")).repartition(2, col("vid")))
    try {
      val err = intercept[IllegalArgumentException](
        PreparedStep(input, input.repartition(3, col("vid")), Seq(count(lit(1)))))
      assert(err.getMessage.contains("partitioning"), err.getMessage)
    } finally GraphOps.releaseCheckpoint(input)
  }
}
