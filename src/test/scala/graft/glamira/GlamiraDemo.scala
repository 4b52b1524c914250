package graft.glamira

import org.apache.spark.sql.functions._

/** End-to-end drive of the Glamira DAG on reference-shaped fixtures:
  * `sbt "Test/runMain graft.glamira.GlamiraDemo"`. Prints the materialized
  * mart_fact_order and the multimodal decode output.
  */
object GlamiraDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(4)
    spark.sparkContext.setLogLevel("ERROR")

    val workDir = java.nio.file.Files.createTempDirectory("glamira_demo").toString
    val g = Glamira.graph(spark, workDir,
      GlamiraFixtures.summary(spark), GlamiraFixtures.productRaw(spark),
      GlamiraFixtures.ipLocationRaw(spark), GlamiraFixtures.fxSeed(spark))

    val fact = g.resolve("mart_fact_order")
    fact.select(col("order_id"), col("product_currency"), col("currency_code"),
        col("currency_status"), col("product_price"), col("product_price_usd"),
        col("product_key").isNotNull.as("has_product"),
        col("location_key").isNotNull.as("has_location"),
        col("customer_key").isNotNull.as("has_customer"))
      .orderBy(col("order_id"), col("product_currency"))
      .show(20, truncate = false)

    println(s"fact rows: ${fact.count()}; snapshot rows: ${g.resolve("customer_email_scd").count()}")
    graft.operators.Multimodal.decode(
      graft.operators.Multimodal.mediaFromDocuments(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")))
      .groupBy(col("media_type")).agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("bytes"))
      .orderBy(col("media_type")).show()
    spark.stop()
  }
}
