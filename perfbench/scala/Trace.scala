package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the benchmark makes into a layer. Times are nanoTime for
  * durations and epoch milliseconds for matching Spark's planning phases.
  */
final class Span(val id: Int, val name: String, val parent: Int, val pass: Int,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
}

/** Spans kept in memory and written out at the end of the run. Each open
  * span is also the SparkContext job group, so the listeners below can
  * charge every job, stage and task to the innermost span that started it.
  */
final class Tracer(sc: SparkContext) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  var enabled = false
  var pass = 0
  private var open: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), pass,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** The innermost span open at epoch millisecond `ms`, or -1. Spans are
    * appended in start order, so the last one containing `ms` is the
    * deepest.
    */
  def at(ms: Long): Int =
    spans.lastIndexWhere(s => s.startMs <= ms && ms <= s.endMs)
}

/** Spark's work counters per span, from task, stage and job events. */
final class Counters extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Int, Array[Double]]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def spanOf(props: Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toIntOption).getOrElse(-1)

  private def add(span: Int, key: String, v: Double): Unit =
    bySpan.getOrElseUpdate(span, new Array[Double](Counters.Keys.size))(Counters.index(key)) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add(spanOf(e.properties), "jobs", 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(stageSpan.getOrElse(e.stageInfo.stageId, -1), "stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stageSpan.getOrElse(e.stageId, -1)
    add(s, "tasks", 1)
    if (e.reason != Success) add(s, "task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(s, "task_run_s", m.executorRunTime / 1e3)
      add(s, "task_cpu_s", m.executorCpuTime / 1e9)
      add(s, "gc_s", m.jvmGCTime / 1e3)
      add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(s, "shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add(s, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(s, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(s, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  def snapshot: Map[Int, Map[String, Double]] = synchronized {
    bySpan.map { case (k, v) => k -> Counters.Keys.zip(v).toMap }.toMap
  }
}

object Counters {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_records", "fetch_wait_s", "input_bytes", "spill_bytes",
    "task_failures")
  private val index: Map[String, Int] = Keys.zipWithIndex.toMap
}

/** Analysis, optimization and planning phases of every executed query,
  * as (epoch ms start, ms spent); charged to spans after the run.
  */
final class Planning extends QueryExecutionListener {
  val phases: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
