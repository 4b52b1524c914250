package graft.tools

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.{Ivf, ScratchCache, VectorOps}

/** The diagnostic main. Two forms:
  *
  *   - `Probe <sfDir> <q1,q2,...> [passes]` runs each named SparkEntry
  *     query `passes` times (default 1) through the noop sink, as Bench
  *     does, printing each pass's wall and then the query's per-stage
  *     table over all its passes: tasks, run/cpu/GC time, fetch wait,
  *     shuffle write time, spill, shuffle read/write and input — the
  *     table a cluster UI would show, for a session with the UI off.
  *   - `Probe <sfDir> margin [tau,tau,...] [nt]` prints the assignment
  *     margin distribution of the shared IMI assignment and the
  *     [[VectorOps.marginSweep]] behind `VectorOps.PROBE_MARGIN_T`;
  *     `nt` sweeps the near-twin corpus instead.
  *
  * Run with `tools/runmain.sh graft.tools.Probe ...`.
  */
object Probe {

  /** Task-end totals of one stage, across its tasks. */
  final class Stage(val id: Int, var name: String) {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var fetchWaitMs = 0L
    var shWriteNs = 0L
    var memSpillB = 0L
    var diskSpillB = 0L
    var shReadB = 0L
    var shReadRec = 0L
    var shWriteB = 0L
    var shWriteRec = 0L
    var inputB = 0L

    def add(m: TaskMetrics): Unit = {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      shWriteNs += m.shuffleWriteMetrics.writeTime
      memSpillB += m.memoryBytesSpilled
      diskSpillB += m.diskBytesSpilled
      shReadB += m.shuffleReadMetrics.totalBytesRead
      shReadRec += m.shuffleReadMetrics.recordsRead
      shWriteB += m.shuffleWriteMetrics.bytesWritten
      shWriteRec += m.shuffleWriteMetrics.recordsWritten
      inputB += m.inputMetrics.bytesRead
    }

    def add(o: Stage): Unit = {
      tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      fetchWaitMs += o.fetchWaitMs; shWriteNs += o.shWriteNs
      memSpillB += o.memSpillB; diskSpillB += o.diskSpillB
      shReadB += o.shReadB; shReadRec += o.shReadRec
      shWriteB += o.shWriteB; shWriteRec += o.shWriteRec; inputB += o.inputB
    }
  }

  /** Stages shown per query, longest run time first; TOTAL covers all. */
  private val TableRows = 20

  private val DefaultTaus = Seq(0.005, 0.01, 0.02, 0.05, 0.1, 0.2, 2.0)

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    try args(1) match {
      case "margin" =>
        val taus = args.lift(2).filter(_.nonEmpty)
          .map(_.split(",").toSeq.map(_.toDouble)).getOrElse(DefaultTaus)
        margin(spark, dir, taus, args.lift(3).contains("nt"))
      case list =>
        val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = names.filterNot(graft.SparkEntry.queries.contains)
        require(names.nonEmpty && unknown.isEmpty,
          s"query names not in SparkEntry.queries (or empty list): $unknown")
        val passes = args.lift(2).map(_.toInt).getOrElse(1)
        names.foreach(q => printTable(q, stages(spark, dir, q, passes)))
    } finally spark.stop()
  }

  /** Runs `query` `passes` times through the noop sink, printing each
    * pass's wall, and returns the stages its passes ran. The listener bus
    * is drained before the totals are read: task-end events are delivered
    * asynchronously and can still be queued when `save()` returns.
    */
  def stages(s: SparkSession, dir: String, query: String, passes: Int): Seq[Stage] = {
    val seen = mutable.Map[Int, Stage]()
    def stage(id: Int): Stage = seen.getOrElseUpdate(id, new Stage(id, "?"))
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        seen.synchronized { stage(e.stageInfo.stageId).name = e.stageInfo.name }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) seen.synchronized { stage(e.stageId).add(e.taskMetrics) }
    }
    s.sparkContext.addSparkListener(listener)
    try {
      for (p <- 1 to passes) {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(query)(s, dir).write.format("noop").mode("overwrite").save()
        println(f"[probe] $query pass=$p wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
        ScratchCache.drain()
      }
      GraftListenerBus.drain(s.sparkContext)
    } finally s.sparkContext.removeSparkListener(listener)
    seen.synchronized(seen.values.toSeq.sortBy(-_.runMs))
  }

  private def printTable(query: String, stages: Seq[Stage]): Unit = {
    def mb(b: Long): Double = b / 1e6
    def row(id: String, a: Stage): Unit =
      println(f"[probe] $id%5s ${a.tasks}%6d ${a.runMs / 1e3}%8.2f ${a.cpuNs / 1e9}%8.2f " +
        f"${a.gcMs / 1e3}%7.2f ${a.fetchWaitMs / 1e3}%7.2f ${a.shWriteNs / 1e9}%7.2f " +
        f"${mb(a.memSpillB)}%12.1f ${mb(a.diskSpillB)}%12.1f ${mb(a.shReadB)}%10.1f " +
        f"${a.shReadRec}%11d ${mb(a.shWriteB)}%10.1f ${a.shWriteRec}%11d " +
        f"${mb(a.inputB)}%9.1f  ${a.name.take(80)}")
    val total = new Stage(-1, s"${stages.size} stages")
    stages.foreach(total.add)
    println(s"[probe] $query stages (sums across tasks, longest $TableRows shown):")
    println("[probe] stage  tasks    run_s    cpu_s    gc_s fetch_s shw_s " +
      "spill_mem_mb spill_dsk_mb  shread_mb  shread_rec shwrite_mb shwrite_rec  input_mb  name")
    stages.take(TableRows).foreach(a => row(a.id.toString, a))
    row("TOTAL", total)
  }

  /** The margin distribution of the shared IMI assignment, then recall
    * and second-probe fraction per candidate τ.
    */
  private def margin(s: SparkSession, dir: String, taus: Seq[Double], nt: Boolean): Unit = {
    val t0 = System.nanoTime()
    val sweep = VectorOps.marginSweep(s, dir, taus, nt)
    val assign = Ivf.assignment(s, dir, if (nt) Ivf.NearTwin else Ivf.Augmented, Ivf.Imi)
    val dist = assign.filter(col("mgn").isNotNull).agg(
      count(lit(1)).as("n"),
      expr("percentile(mgn, array(0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9))").as("pcts"))
      .collect()(0)
    println(s"[probe] margin dir=$dir nt=$nt n_with_cell2=${dist.getLong(0)} " +
      s"mgn_pcts(1/5/10/25/50/75/90)=${dist.getSeq[Double](1).map(v => f"$v%.4f").mkString(",")}")
    for ((tau, band, nTrue, found, recall, frac) <- sweep)
      println(f"[probe] margin tau=$tau%.4f band=$band%-11s n_true=$nTrue%8d " +
        f"n_found=$found%8d recall=$recall%.4f probe_frac=$frac%.4f")
    println(f"[probe] margin wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
    ScratchCache.drain()
  }
}
