package graft.tools

import graft.{GraftSession, SparkEntry}

/** Write the normalized `.explain("formatted")` text of the named gate
 * queries to `<outDir>/<query>_<suffix>.txt`: two dumps of one entry
 * (two sessions, two JVMs, two commits) diff clean unless the plan did.
 *
 * runMain graft.tools.PlanDump <outDir> <suffix> <name>[,<name>...] [sfDir]
 *
 * The session is Bench's (GraftSession) so the dumped plan is the plan
 * the bench actually runs. The dump is the PRE-execution plan
 * (AdaptiveSparkPlan isFinalPlan=false) — deterministic and
 * diff-friendly; executed-plan scan/reuse counts are PlanAudit's job.
 */
object PlanDump {

  /** `txt` with every per-run token replaced by a fixed one: expression
   * and plan ids (`#12`, `plan_id=3`, `[id=#4]`), object hashes
   * (`@1f2e3d`), lambda variable names (`x_17`), part-file names and
   * the artifact root. */
  def normalize(txt: String): String = Seq(
      """#\d+""" -> "#n", // also [id=#n]
      """plan_id=\d+""" -> "plan_id=n",
      """@[0-9a-f]{4,}\b""" -> "@h",
      """(lambda [A-Za-z]\w*?)_\d+\b""" -> "$1_n",
      """part-\d{5}-[0-9a-f-]{36}(-c\d{3})?""" -> "part-n")
    .foldLeft(txt.replace(graft.sources.ArtifactStore.root.toString, "<tmp>")) {
      case (t, (re, to)) => t.replaceAll(re, to)
    }

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
      val txt = normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt " +
        s"(${txt.linesIterator.length} lines)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
