package graft.glamira

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expr.Native.farmFingerprint

/** Mart models — tables in the reference (dbt_project.yml:47-48); the
  * ModelGraph materializes them to parquet. Dim joins broadcast: customer/
  * product/location/fx build sides are small relative to the fact at any
  * scale factor.
  */
object Marts {

  /** mart_dim_date.sql: calendar spine 2015-01-01..2050-12-31, in date
    * order. One seed row in one partition explodes an ascending sequence,
    * so the rows come out sorted without the global sort (and its sampling
    * job and range shuffle) that an `orderBy` would plan.
    */
  def martDimDate(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(0, 1, 1, 1).select(explode(sequence(
        lit(java.sql.Date.valueOf("2015-01-01")),
        lit(java.sql.Date.valueOf("2050-12-31")),
        expr("interval 1 day"))).as("date"))
      .select(col("date"), year(col("date")).as("year"), month(col("date")).as("month"))

  /** mart_dim_location.sql: dedup stg_location per location_key by lowest ip. */
  def martDimLocation(stgLocation: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("location_key")).orderBy(col("ip"))
    stgLocation.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("location_key"), col("country_code"), col("country_name"),
        col("region"), col("city"))
  }

  /** mart_dim_product.sql: projection of stg_product. */
  def martDimProduct(stgProduct: DataFrame): DataFrame =
    stgProduct.select(col("product_key"), col("product_id"), col("sku"),
      col("gender"), col("category_name"), col("product_type"), col("store_code"),
      col("attribute_set"), col("category"), col("material_design"), col("product_name"))

  /** mart_dim_customer.sql: latest-seen email per user resolved from the
    * SCD history, falling back to the staging email; raw signed
    * FARM_FINGERPRINT customer_key (no ABS — mart_dim_customer.sql:67).
    */
  def martDimCustomer(stgCustomer: DataFrame, snapshot: DataFrame): DataFrame = {
    val customerEmails = stgCustomer
      .filter(col("email_address").isNotNull && trim(col("email_address")) =!= "")
      .select(col("user_db_id").cast(LongType).as("user_db_id"),
        lower(trim(col("email_address"))).as("email_address"))

    val emailEvents = snapshot
      .filter(col("user_db_id").isNotNull &&
        col("email_address").isNotNull && trim(col("email_address")) =!= "")
      .select(col("user_db_id").cast(LongType).as("user_db_id"),
        lower(trim(col("email_address"))).as("email_address"), col("time"))

    val w = Window.partitionBy(col("email_address"), col("user_db_id"))
      .orderBy(col("time").desc)
    val latestSeen = emailEvents
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("email_address").as("latest_seen_email_address"),
        col("user_db_id"), col("time").as("last_seen_ts"))

    customerEmails
      .join(latestSeen, Seq("user_db_id"), "left")
      .withColumn("email_address_final",
        when(col("latest_seen_email_address").isNotNull, col("latest_seen_email_address"))
          .otherwise(col("email_address")))
      .select(col("user_db_id"), col("email_address_final"), col("last_seen_ts"),
        farmFingerprint(col("email_address_final")).as("customer_key"))
  }

  /** fx_latest (mart_fact_order.sql:142): the rows of the max fx_date. */
  def latestRates(fxSeed: DataFrame): DataFrame =
    fxSeed.withColumn("_mx", max(col("fx_date")).over())
      .filter(col("fx_date") === col("_mx"))
      .drop("_mx")

  /** mart_fact_order.sql: currency clean/infer → fx_latest join → USD
    * measures → dim joins. Grain: order line-item × option (stg_order).
    */
  def martFactOrder(stgOrder: DataFrame, fxSeed: DataFrame,
                    dimCustomer: DataFrame, dimProduct: DataFrame): DataFrame = {
    val raw = col("product_currency")
    val inferred = CurrencyRules.applyCurrencyRules(
      stgOrder.withColumn("product_currency_raw", trim(raw)),
      raw, col("current_url"))

    val fxLatest = latestRates(fxSeed)
      .select(col("currency_code").as("fx_currency_code"),
        col("usd_to_ccy").cast(DecimalType(38, 9)).as("usd_to_ccy"))

    val eventTs = timestamp_seconds(col("time_stamp").cast(LongType))
    val withFx = inferred
      .withColumn("currency_code", coalesce(col("currency_code_mapped"), col("inferred_currency")))
      .join(broadcast(fxLatest), col("fx_currency_code") === col("currency_code"), "left")

    // Guard on the PRE-coalesce mapped code, exactly as the reference's
    // final CTE (`when c.currency_code is null then null` where
    // c.currency_code is the cleaned map output, not the coalesced alias):
    // an AMBIGUOUS row resolved only by TLD inference joins to an FX rate
    // via the coalesced code but still emits NULL USD measures.
    val usd = (amount: Column) =>
      CurrencyRules.usdMeasure(col("currency_code_mapped"), col("usd_to_ccy"),
        amount.cast(DecimalType(38, 9))).cast(DecimalType(38, 9))

    val fact = withFx.select(
      col("item_key"), col("order_id"), col("product_id"), col("option_id"),
      col("user_db_id"), col("ip"), col("time_stamp"),
      eventTs.as("event_ts"),
      eventTs.cast(TimestampNTZType).as("event_datetime"),
      to_date(eventTs).as("date"),
      eventTs.cast(TimestampNTZType).as("time"),
      col("collection"), col("product_currency_raw").as("product_currency"),
      col("currency_code"), col("currency_status_final").as("currency_status"),
      col("email_address"), col("device_id"), col("user_agent"), col("resolution"),
      col("store_id"), col("local_time"), col("current_url"), col("referrer_url"),
      col("show_recommendation"), col("location_key"),
      col("product_quantity"), col("product_price"), col("line_total_amount"),
      usd(col("product_price")).as("product_price_usd"),
      usd(col("line_total_amount")).as("line_total_amount_usd"))

    // Join on the FK first, project it out after — the SQL's
    // `select fl.* except(email_address) ... join on fl.email_address = ...`.
    val withCust = fact
      .join(broadcast(dimCustomer.select(col("customer_key"), col("email_address_final"))),
        col("email_address") === col("email_address_final"), "left")
      .drop("email_address")
    withCust
      .join(broadcast(dimProduct.select(col("product_key"),
          col("product_id").as("dim_product_id"))),
        col("product_id") === col("dim_product_id"), "left")
      .drop("product_id")
      .withColumnRenamed("dim_product_id", "product_id")
  }
}
