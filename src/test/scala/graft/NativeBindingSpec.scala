package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{BloomMightContain, CmsEstimate, Native}

/** DataFrame code binds the native expressions as Columns ([[Native]]), so
  * a session needs no function registration to run it; SQL-text clients
  * reach the same Expression classes by name through the
  * [[GraftExtensions]] tuples. The two paths must answer alike.
  */
class NativeBindingSpec extends SparkSpec {

  test("only GraftExtensions names the function registry under src/main") {
    val registry = "functionRegistry|call_function".r
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val named = sources.filter(p => registry.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString)
    assert(named.forall(_ == "GraftExtensions.scala"), named)
    val registers = sources.flatMap { p =>
      "def register\\b".r.findAllMatchIn(Files.readString(p)).map(_ => p.getFileName.toString)
    }
    assert(registers == Seq("ScratchCache.scala"), registers)
  }

  private val rows = Seq(
    (1L, "abc", Seq(1.5f, 2.0f, -0.25f), Seq(2.0f, 0.5f, 4.0f), 1L, 0.5),
    (2L, "", Seq(0.1f, 0.2f, 0.3f), Seq(-1.0f, 1.0f, 0.0f), 1L, 0.9),
    (3L, "glamira", Seq(3.0f, -3.0f, 1.0f), Seq(0.3f, 0.7f, 0.9f), 1L, 0.1),
    (4L, "x|y", Seq(0.0f, 0.0f, 0.0f), Seq(1.0f, 1.0f, 1.0f), 2L, 0.7),
    (5L, null, Seq(1.0f, 1.0f, 1.0f), Seq(1.0f, 1.0f, 1.0f), 2L, 0.7))

  private def input(s: SparkSession): DataFrame = {
    import s.implicits._
    rows.toDF("id", "s", "a", "b", "g", "ord")
  }

  test("the eight Column constructors run in a bare session and match SQL text") {
    val probe = spark.range(1, 4).toDF("id")
    val bloom = BloomMightContain.serialize(probe.stat.bloomFilter("id", 100L, 0.01))
    val cms = CmsEstimate.serialize(
      input(spark).stat.countMinSketch("id", eps = 0.1, confidence = 0.9, seed = 7))
    def hex(b: Array[Byte]) = b.map(x => f"$x%02X").mkString

    val bare = spark.newSession()
    assert(!bare.catalog.functionExists("farm_fingerprint"))
    val in = input(bare)
    val scalars = in.select(col("id"),
      Native.farmFingerprint(col("s")),
      Native.vecDot(col("a"), col("b")),
      Native.vecPackHalf(col("a")),
      Native.vecDotHalf(Native.vecPackHalf(col("a")), Native.vecPackHalf(col("b"))),
      Native.bloomMightContain(lit(bloom), col("id")),
      Native.cmsEstimate(lit(cms), col("id")))
      .orderBy("id").collect().toSeq
    val aggs = in.groupBy(col("g")).agg(
      Native.vecArgTop2(col("ord"), col("id")),
      Native.vecArgTopN(col("ord"), col("id"), lit(3)))
      .orderBy("g").collect().toSeq

    val named = spark.newSession()
    GraftExtensions.functions.foreach { case (id, _, builder) =>
      named.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }
    input(named).createOrReplaceTempView("t")
    val sqlScalars = named.sql(
      s"""SELECT id, farm_fingerprint(s), vec_dot(a, b), vec_pack_half(a),
         |  vec_dot_half(vec_pack_half(a), vec_pack_half(b)),
         |  bloom_might_contain(X'${hex(bloom)}', id),
         |  cms_estimate(X'${hex(cms)}', id)
         |FROM t ORDER BY id""".stripMargin).collect().toSeq
    val sqlAggs = named.sql(
      """SELECT g, vec_arg_top2(ord, id), vec_arg_topn(ord, id, 3)
        |FROM t GROUP BY g ORDER BY g""".stripMargin).collect().toSeq

    assert(scalars.size == rows.size && aggs.size == 2)
    assert(scalars == sqlScalars)
    assert(aggs == sqlAggs)
    // non-vacuous: the three bloom members answer true, the sketch counts each once
    assert(scalars.take(3).forall(_.getBoolean(5)))
    assert(scalars.forall(r => r.getLong(6) >= 1L))
    assert(scalars.head.getLong(1) == 2640714258260161385L)
    assert(aggs.head.getStruct(1) == Row(2L, 1L, 0.9, 0.5))
  }
}
