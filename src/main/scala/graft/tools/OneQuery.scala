package graft.tools

import graft.{GraftSession, SparkEntry}

/** Time a single query in isolation (repeat N times), printing each
 * rep's wall time and row count:
 * runMain graft.tools.OneQuery <name> [sfDir] [reps] */
object OneQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    // session warmup
    spark.read.parquet(s"$dir/lineitem.parquet").groupBy("l_returnflag").count().count()
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, dir).count()
      spark.catalog.clearCache()
      println(f"[onequery] $name rep$i ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$rows")
    }
    spark.stop()
  }
}
