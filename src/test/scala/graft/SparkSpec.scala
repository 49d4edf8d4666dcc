package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.SnapshotTable

/** Shared local SparkSession for all specs (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = LocalSession("graft-test", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** a fresh directory under `java.io.tmpdir`, deleted when the test JVM
    * exits */
  def scratchDir(prefix: String): String = ScratchDir(prefix)

  /** commit `df` into `table`'s own (`""`) table as one snapshot, the way
    * every writer does: stage it, [[SnapshotTable.moveIn]], then
    * [[SnapshotTable.commit]] under `txn` (a fresh key when None). */
  def appendTo(table: SnapshotTable, df: DataFrame, txn: Option[String]): SnapshotTable.CommitResult = {
    val staged = scratchDir("graft-staged")
    df.write.mode("overwrite").parquet(staged)
    table.commit(txn.getOrElse(s"t-${java.util.UUID.randomUUID()}"), None,
      Seq(SnapshotTable.Slice("", table.moveIn(staged), Some(df.schema))))
  }
}
