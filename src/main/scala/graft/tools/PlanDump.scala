package graft.tools

import graft.{GraftSession, SparkEntry}

/** Write `.explain("formatted")` for the named gate queries to an output
 * directory — the r21 optimization round's plan-evidence capture
 * (plans/r21/<query>_{before,after}.txt).
 *
 * runMain graft.tools.PlanDump <outDir> <suffix> <name>[,<name>...] [sfDir]
 *
 * The session is Bench's (GraftSession) so the dumped plan is the plan
 * the bench actually runs. The dump is the PRE-execution plan
 * (AdaptiveSparkPlan isFinalPlan=false) — deterministic and
 * diff-friendly; executed-plan scan/reuse counts are PlanAudit's job.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt " +
        s"(${txt.linesIterator.length} lines)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
