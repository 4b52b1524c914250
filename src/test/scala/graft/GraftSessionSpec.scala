package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

class GraftSessionSpec extends SparkSpec {

  test("the suites' session carries every GraftSession setting") {
    for ((k, v) <- GraftSession.settings(SparkSpec.Cores))
      assert(spark.conf.get(k) == v, k)
    assert(spark.sparkContext.master == s"local[${SparkSpec.Cores}]")
  }

  test("a deployment setting may not override the session config") {
    val e = intercept[IllegalArgumentException](
      GraftSession(SparkSpec.Cores, Map("spark.sql.shuffle.partitions" -> "64")))
    assert(e.getMessage.contains("spark.sql.shuffle.partitions"))
  }

  test("GraftSession is the only file under src/ that builds a session") {
    val builds = "SparkSession\\s*\\.\\s*builder".r
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => builds.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => p.toString).toSeq
    assert(files == Seq(Paths.get("src/main/scala/graft/GraftSession.scala").toString))
  }

  test("perfbench's session config mirrors GraftSession key for key") {
    val src = Files.readString(Paths.get("perfbench/scala/Harness.scala"))
    val body = src.substring(src.indexOf("def sessionConfig"))
    val block = body.substring(0, body.indexOf("\n\n"))
    val keys = "\"(spark\\.[\\w.]+)\" ->".r.findAllMatchIn(block).map(_.group(1)).toSet
    val literals = "\"(spark\\.[\\w.]+)\" -> \"([^\"]*)\"".r.findAllMatchIn(block)
      .map(m => m.group(1) -> m.group(2)).toSeq
    val ours = GraftSession.settings(SparkSpec.Cores)
    assert(keys == ours.map(_._1).toSet)
    assert(literals.nonEmpty && literals.forall(ours.contains))
  }
}
