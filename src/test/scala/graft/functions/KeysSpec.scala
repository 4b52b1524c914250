package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SURVEY §7.4 risk 1: every surrogate key hashes a '|'-joined,
  * COALESCE-defaulted pre-image, and any whitespace/NULL-default mismatch
  * breaks downstream joins silently. These tests pin the pre-image
  * semantics, including its known (reference-faithful) collision classes.
  */
class KeysSpec extends SparkSpec {
  import spark.implicits._

  private def key(parts: (Option[String], Option[String])*): Seq[Long] =
    parts.toSeq.toDF("a", "b")
      .select(Keys.surrogateKey($"a", $"b"))
      .as[Long].collect().toSeq

  test("distinct values produce distinct keys; keys are non-negative and stable") {
    val ks = key(Some("x") -> Some("y"), Some("y") -> Some("x"), Some("xy") -> None)
    assert(ks.distinct.length === 3)
    assert(ks.forall(_ >= 0))
    assert(key(Some("x") -> Some("y")).head === ks.head)   // deterministic
  }

  test("documented collision classes of the COALESCE('') pre-image") {
    // NULL and empty-string both default to '' — same key (the reference's
    // stg_order.sql:88-102 has the identical property; callers needing the
    // distinction must classify fake-nulls BEFORE keying, as stg_customer does)
    assert(key(None -> Some("y")).head === key(Some("") -> Some("y")).head)
    // the '|' separator also means ('a|', 'b') == ('a', '|b') — keys only
    // need internal consistency, so both classes are accepted and pinned
    assert(key(Some("a|") -> Some("b")).head === key(Some("a") -> Some("|b")).head)
  }

  test("seeded permutations: key equality iff pre-image equality") {
    val rnd = new scala.util.Random(7)
    val vals = Seq(None, Some(""), Some("a"), Some("b"), Some("a|b"), Some(" a"))
    val samples = Seq.fill(300)((vals(rnd.nextInt(vals.length)), vals(rnd.nextInt(vals.length))))
    val pre = samples.map { case (a, b) => s"${a.getOrElse("")}|${b.getOrElse("")}" }
    val ks = key(samples: _*)
    pre.zip(ks).groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).distinct.length === 1)   // same pre-image → same key
    }
    assert(pre.distinct.length === ks.distinct.length) // distinct pre-image → distinct key
  }

  test("xxhash64 engine-internal variant agrees with itself, differs from md5 key") {
    val df = Seq(("x", "y")).toDF("a", "b")
    val m = df.select(Keys.surrogateKey($"a", $"b")).as[Long].head()
    val x1 = df.select(Keys.xxhash64Key($"a", $"b")).as[Long].head()
    val x2 = df.select(Keys.xxhash64Key($"a", $"b")).as[Long].head()
    assert(x1 === x2)
    assert(x1 !== m)
  }
}

class ModelGraphSpec extends SparkSpec {
  import graft.glamira.ModelGraph

  test("cycle detection fails fast with the offending model named") {
    val g = new ModelGraph(spark, java.nio.file.Files.createTempDirectory("mg").toString)
    g.view("a", "b")(d => d("b"))
    g.view("b", "a")(d => d("a"))
    val e = intercept[RuntimeException](g.resolve("a"))
    assert(e.getMessage.contains("cycle"))
  }

  test("unknown model and unknown dependency are clear errors") {
    val g = new ModelGraph(spark, java.nio.file.Files.createTempDirectory("mg2").toString)
    val e = intercept[RuntimeException](g.resolve("nope"))
    assert(e.getMessage.contains("unknown model"))
  }

  /** Jobs started outside any SQL execution while `body` runs: the
    * footer-reading job of parquet schema inference is one, a table write
    * never is (its jobs carry the execution id).
    */
  private def jobsOutsideSql[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a table node reads back with the written schema and starts no inference job") {
    import graft.glamira.{Glamira, GlamiraFixtures}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val workDir = java.nio.file.Files.createTempDirectory("mg3").toString
    val g = Glamira.graph(spark, workDir,
      GlamiraFixtures.summary(spark), GlamiraFixtures.productRaw(spark),
      GlamiraFixtures.ipLocationRaw(spark), GlamiraFixtures.fxSeed(spark))
    g.table("fact_nested", "mart_fact_order")(d => d("mart_fact_order")
      .withColumn("s", struct(col("order_id"), col("line_total_amount")))
      .withColumn("a", array(col("event_datetime")))
      .withColumn("m", map(col("item_key"), col("product_price_usd"))))

    val tables = Seq("customer_email_scd", "mart_dim_customer", "mart_dim_product",
      "mart_fact_order", "fact_nested")
    val (resolved, inferenceJobs) = jobsOutsideSql(tables.map(t => t -> g.resolve(t)).toMap)
    assert(inferenceJobs === 0)

    // the control: an inferring read of the same files does start that job
    assert(jobsOutsideSql(spark.read.parquet(s"$workDir/fact_nested"))._2 >= 1)

    val fields = resolved("fact_nested").schema.map(_.dataType)
    assert(fields.contains(TimestampNTZType) && fields.contains(DecimalType(38, 9)))
    assert(fields.exists(_.isInstanceOf[StructType]) && fields.exists(_.isInstanceOf[ArrayType])
      && fields.exists(_.isInstanceOf[MapType]))
    tables.foreach { t =>
      val inferred = spark.read.parquet(s"$workDir/$t")
      assert(resolved(t).schema === inferred.schema, t)
      assert(resolved(t).collect().map(_.toString).sorted ===
        inferred.collect().map(_.toString).sorted, t)
    }
  }
}
