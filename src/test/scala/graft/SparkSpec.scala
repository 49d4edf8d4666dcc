package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
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

  /** Codegen ↔ interpreted agreement: `build` runs once through generated
    * code only (whole-stage codegen, `CODEGEN_ONLY` projections) and once
    * interpreted only (the fallback Spark switches to when generated code
    * fails to compile); the sorted rows must be identical and non-empty.
    * An expression whose generated code diverges from its interpreted eval
    * is a silent-corruption bug that only appears under fallback.
    *
    * `ConvertToLocalRelation` is excluded for both runs: over a
    * `Seq(…).toDF()` input the optimizer would otherwise evaluate the
    * projection interpretively before any code is generated, and the
    * "codegen" run would compare interpreted output with itself. The
    * generated run must hold every graft expression of its plan inside a
    * whole-stage-codegen stage, so an aggregate that plans outside one
    * (`ordered_topk`'s ObjectHashAggregate) fails by name: both of its runs
    * would be interpreted. Returns the generated run's rows, stringified
    * and sorted. */
  def codegenParity(name: String)(build: => DataFrame): Seq[String] = {
    def run(): (Seq[String], SparkPlan) = {
      val df = build
      (df.collect().map(_.toString).toSeq.sorted, df.queryExecution.executedPlan)
    }
    val conf = spark.conf
    conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val ((gen, plan), interp) =
      try {
        conf.set("spark.sql.codegen.wholeStage", "true")
        conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
        val g = run()
        conf.set("spark.sql.codegen.wholeStage", "false")
        conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        (g, run()._1)
      } finally {
        Seq("spark.sql.optimizer.excludedRules", "spark.sql.codegen.wholeStage",
          "spark.sql.codegen.factoryMode").foreach(conf.unset)
      }
    assert(gen == interp, s"$name: codegen and interpreted outputs differ")
    assert(gen.nonEmpty, s"$name: empty result proves nothing")
    val kernels = graftKernels(plan, inStage = false)
    assert(kernels.nonEmpty, s"$name: no graft expression in the plan\n$plan")
    val outside = kernels.collect { case (e, false) => e.prettyName }
    assert(outside.isEmpty,
      s"$name: ${outside.mkString(", ")} not in a whole-stage-codegen stage\n$plan")
    gen
  }

  /** every graft-defined expression of `p`, with whether it runs inside a
    * whole-stage-codegen stage (an `InputAdapter` ends a stage) */
  private def graftKernels(p: SparkPlan, inStage: Boolean): Seq[(Expression, Boolean)] =
    p match {
      case a: AdaptiveSparkPlanExec => graftKernels(a.executedPlan, inStage)
      case q: QueryStageExec => graftKernels(q.plan, inStage = false)
      case w: WholeStageCodegenExec => graftKernels(w.child, inStage = true)
      case i: InputAdapter => graftKernels(i.child, inStage = false)
      case _ =>
        p.expressions.flatMap(_.collect {
          case e if e.getClass.getName.startsWith("graft.") => e -> inStage
        }) ++ p.children.flatMap(graftKernels(_, inStage))
    }
}
