package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec

/** Spans kept in memory and written as JSON lines when the run ends: name,
 * start, end (ns, one monotonic clock), parent span name and the entry
 * execution id that groups the spans of one execution. */
final class Trace {
  private val spans = mutable.ArrayBuffer.empty[String]

  def span(name: String, start: Long, end: Long, parent: String, exec: String): Unit =
    spans += s"""{"name":${Json.str(name)},"start":$start,"end":$end,""" +
      s""""parent":${if (parent == null) "null" else Json.str(parent)},"exec":${Json.str(exec)}}"""

  def write(path: Path): Unit = Files.writeString(path, spans.mkString("", "\n", "\n"))
}

/** Engine counters per entry execution. The harness tags each execution
 * with the local property [[EngineListener.Key]]; jobs and stages carry it,
 * and tasks are attributed through their stage. */
final class EngineListener extends SparkListener {
  private final class Acc {
    var jobs, stages, tasks = 0L
    var taskMs, gcMs, shuffleRead, shuffleWrite, spill, input, schedWaitMs = 0L
  }
  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private val stageExec = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def acc(exec: String): Acc = accs.getOrElseUpdate(exec, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(EngineListener.Key)))
      .foreach(acc(_).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(EngineListener.Key))).foreach { x =>
      val id = e.stageInfo.stageId
      acc(x).stages += 1
      stageExec(id) = x
      stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageExec.get(e.stageId).foreach { x =>
      val a = acc(x)
      a.tasks += 1
      a.schedWaitMs += math.max(0L, e.taskInfo.launchTime - stageSubmit(e.stageId))
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  /** One JSON line per execution. Skew is kept as two sums over the
   * execution's stages, of the slowest task and of the median task. */
  def records(): Seq[String] = synchronized {
    val skew = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    stageTaskMs.foreach { case (stage, ts) =>
      val s = ts.sorted
      val x = stageExec(stage)
      val (mx, md) = skew(x)
      skew(x) = (mx + s.last, md + s(s.length / 2))
    }
    accs.toSeq.map { case (x, a) =>
      s"""{"kind":"engine","exec":${Json.str(x)},"jobs":${a.jobs},"stages":${a.stages},""" +
        s""""tasks":${a.tasks},"task_s":${a.taskMs / 1e3},"gc_s":${a.gcMs / 1e3},""" +
        s""""shuffle_read_b":${a.shuffleRead},"shuffle_write_b":${a.shuffleWrite},""" +
        s""""spill_b":${a.spill},"input_b":${a.input},"sched_wait_s":${a.schedWaitMs / 1e3},""" +
        s""""stage_max_task_s":${skew(x)._1 / 1e3},"stage_median_task_s":${skew(x)._2 / 1e3}}"""
    }
  }
}

object EngineListener {
  val Key = "perfbench.exec"
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

/** Walks an executed plan, AQE query stages and subqueries included. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def counts(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan
    val windows = collectWithSubqueries(plan) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.size
    val exchanges = collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
    (windows, exchanges)
  }
}

/** Files under the run's artifact root, for bytes-written accounting. */
object Artifacts {
  type Snap = Map[String, (Long, Long)]

  def snapshot(root: Path): Snap =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
        try Some(p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        catch { case _: java.io.IOException => None } // deleted while walking
      }.toMap
      finally s.close()
    }

  def bytes(root: Path): Long = snapshot(root).values.map(_._1).sum

  /** (bytes in files that are new or changed, new entries directly under
   * the root). */
  def diff(root: Path, before: Snap, after: Snap): (Long, Int) = {
    val written = after.collect { case (p, v @ (size, _)) if !before.get(p).contains(v) => size }.sum
    val top = (s: Snap) => s.keySet.map(p => root.relativize(Path.of(p)).getName(0).toString)
    (written, (top(after) -- top(before)).size)
  }
}

/** Hadoop FileSystem statistics, summed over schemes: (bytes, read ops). */
object FsStats {
  def read(): (Long, Long) = {
    @annotation.nowarn("cat=deprecation")
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (all.map(_.getBytesRead).sum, all.map(_.getReadOps.toLong).sum)
  }
}
