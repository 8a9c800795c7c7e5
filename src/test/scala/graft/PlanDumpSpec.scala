package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanDump

/** PlanDump writes normalized plans: one entry planned twice dumps the
 * same text, so a diff of two dumps shows only a changed plan. */
class PlanDumpSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  private def formatted(s: SparkSession, name: String): String =
    SparkEntry.queries(name)(s, sf).queryExecution.explainString(FormattedMode)

  test("one entry planned in two sessions dumps equal normalized text") {
    for (name <- Seq("q_merge_upsert", "q_explode_outer")) {
      val a = formatted(spark, name)
      val b = formatted(spark.newSession(), name)
      assert(a != b, s"$name: two plannings already print equal text")
      assert(PlanDump.normalize(a) == PlanDump.normalize(b), name)
    }
  }

  test("normalize rewrites every per-run token and nothing else") {
    val root = graft.sources.ArtifactStore.root
    val raw = s"Project [k#12L, price#7] plan_id=3 Exchange [id=#45] " +
      s"Foo@1a2b3c4d lambdafunction(lambda x_17#9, false) " +
      s"$root/graft_idx/part-00003-0a1b2c3d-4e5f-6789-abcd-ef0123456789-c000.snappy.parquet " +
      "Scan parquet  (1) [l_orderkey]"
    assert(PlanDump.normalize(raw) ==
      "Project [k#nL, price#n] plan_id=n Exchange [id=#n] " +
      "Foo@h lambdafunction(lambda x_n#n, false) " +
      "<tmp>/graft_idx/part-n.snappy.parquet " +
      "Scan parquet  (1) [l_orderkey]")
  }
}
