package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

class ProbeSpec extends graft.SparkSpec {

  test("the stage table counts every task a separate listener saw") {
    val seen = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = seen.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val stages =
      try Probe.stages(spark, "/root/testdata/sf0.001", "glamira_pipeline_e2e", 1)
      finally {
        GraftListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
    assert(stages.size > 1)
    assert(stages.map(_.tasks).sum == seen.get)
  }
}
