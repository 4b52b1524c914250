package graft

/** The `spark.sql.extensions` deployment path: GraftExtensions carries the
  * same function descriptions `injectFunction` hands the FunctionRegistry
  * at session build. The shared-session suite can't rebuild the session
  * with a conf-driven extension, so the spec registers THROUGH the
  * extension's own builder tuples and exercises the functions from pure
  * SQL — exactly the surface a Thrift/JDBC client of an extension-loaded
  * cluster sees — and separately proves the class is instantiable the way
  * Spark's reflective loader requires (public, no-arg, Extensions => Unit).
  */
class ExtensionsSpec extends SparkSpec {

  private def registerSqlFunctions(): Unit =
    GraftExtensions.functions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }

  test("extension function descriptions answer through pure SQL") {
    registerSqlFunctions()
    val row = spark.sql(
      """SELECT farm_fingerprint('abc') AS f,
        |  vec_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
        |          array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d""".stripMargin)
      .collect().head
    assert(row.getAs[Long]("f") === 2640714258260161385L)   // BigQuery parity vector
    assert(row.getAs[Double]("d") === 4.0)
    // the aggregate extension answers through SQL GROUP BY too (the
    // Thrift/JDBC surface a cluster client scores assignments from):
    // group g=1 best ord 0.9@id 7, second 0.5@id 3
    val agg = spark.sql(
      """SELECT g, t.cell, t.cell2 FROM (
        |  SELECT g, vec_arg_top2(o, id) AS t FROM VALUES
        |    (1, CAST(0.5 AS DOUBLE), CAST(3 AS BIGINT)),
        |    (1, CAST(0.9 AS DOUBLE), CAST(7 AS BIGINT)),
        |    (1, CAST(0.1 AS DOUBLE), CAST(9 AS BIGINT)) AS v(g, o, id)
        |  GROUP BY g)""".stripMargin).collect().head
    assert(agg.getAs[Long]("cell") === 7L && agg.getAs[Long]("cell2") === 3L)
  }

  test("extension class loads the way spark.sql.extensions instantiates it") {
    val inst = Class.forName("graft.GraftExtensions")
      .getDeclaredConstructor().newInstance()
    // type erasure makes isInstanceOf[SparkSessionExtensions => Unit]
    // vacuous — actually APPLY it to a fresh extensions object, which is
    // exactly what Spark's loader does (throws if the function type lies)
    inst.asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("wrong arity is a clear analysis error, not an index crash") {
    registerSqlFunctions()
    val e1 = intercept[Exception](spark.sql("SELECT farm_fingerprint('a', 'b')").collect())
    assert(e1.getMessage.contains("farm_fingerprint"))
    val e2 = intercept[Exception](spark.sql("SELECT vec_dot(array(CAST(1.0 AS FLOAT)))").collect())
    assert(e2.getMessage.contains("vec_dot"))
  }

  test("cms_estimate is one-sided: estimate >= exact count for every key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a planted heavy key among a uniform tail — the approx_heavy_hitters
    // shape in miniature
    val df = (Seq.fill(100)(7L) ++ (1L to 50L)).toDF("k")
    val cms = df.stat.countMinSketch("k", eps = 0.001, confidence = 0.99, seed = 42)
    val sketch = lit(graft.expr.CmsEstimate.serialize(cms))
    val rows = df.groupBy($"k").agg(count(lit(1)).as("exact"))
      .withColumn("est", graft.expr.Native.cmsEstimate(sketch, $"k"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (k, exact, est) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(est >= exact, s"key $k: estimate $est under-counts exact $exact")
    }
    // the heavy key's estimate is exact at this sketch width (ε·N ≪ 1)
    val heavy = rows.find(_.getLong(0) == 7L).get
    assert(heavy.getLong(2) === heavy.getLong(1))
  }

  test("cms_estimate rejects a null-folding sketch at analysis time") {
    registerSqlFunctions()
    val e = intercept[Exception](
      spark.sql("SELECT cms_estimate(CAST(NULL AS BINARY), 1L)").collect())
    assert(e.getMessage.contains("non-null serialized sketch"))
  }
}
