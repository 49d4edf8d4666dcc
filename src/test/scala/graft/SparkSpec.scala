package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = LocalSession("graft-test", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** a fresh directory under `java.io.tmpdir`, deleted when the test JVM
    * exits */
  def scratchDir(prefix: String): String = ScratchDir(prefix)
}
