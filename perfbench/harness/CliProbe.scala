package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerJobStart}

/** Traced launch of the DDL CLI: runs `graft.chschema.SchemaGen.main`
 * unchanged in this fresh JVM and splits its wall into parts.
 *
 * Usage: CliProbe <out.json> <SchemaGen args...>, with
 * `-Dspark.extraListeners=perfbench.CliListener` so the CLI's own session
 * carries the listener. Written times are epoch ms:
 *  - `main_ms`: this main entered (JVM start is before it);
 *  - `session_ms`: the listener was constructed, i.e. the SparkContext is
 *    up (its bus starts near the end of context init);
 *  - `app_end_ms`: `stop()` posted ApplicationEnd;
 *  - `return_ms`: `SchemaGen.main` returned (the stop is complete).
 */
object CliProbe {
  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    graft.chschema.SchemaGen.main(args.drop(1))
    val returnMs = System.currentTimeMillis()
    Files.writeString(Paths.get(args(0)),
      s"""{"main_ms":$mainMs,"session_ms":${CliListener.createdMs},""" +
        s""""app_end_ms":${CliListener.appEndMs},"return_ms":$returnMs,"jobs":${CliListener.jobs}}""")
  }
}

final class CliListener extends SparkListener {
  CliListener.createdMs = System.currentTimeMillis()
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = CliListener.appEndMs = e.time
  override def onJobStart(e: SparkListenerJobStart): Unit = CliListener.jobs += 1
}

object CliListener {
  @volatile var createdMs = 0L
  @volatile var appEndMs = 0L
  @volatile var jobs = 0
}
