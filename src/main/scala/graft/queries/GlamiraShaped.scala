package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{Keys, LocaleNumeric}
import graft.glamira.{CurrencyRules, Marts, Staging}

/** The Glamira pipeline semantics under the DRIVER's oracle gate.
  *
  * `GlamiraPipelineSpec` proves the library on hand-built fixtures; these
  * queries prove the same staging/fact semantics against DuckDB at test
  * scale: a countly_summary-shaped table (nested cart_products with
  * options, locale-junk prices, fake-null user ids, ambiguous currencies,
  * TLD-bearing URLs) is synthesized DETERMINISTICALLY from `events` in both
  * engines, then pushed through
  *  - `glamira_stg_order`: THE production `Staging.stgOrderDetailed` —
  *    checkout filter, wide cast projection, double outer UNNEST WITH
  *    OFFSET, locale price parse, surrogate item_key, location join
  *    (stg_order.sql semantics, with the portable md5-64 key injected for
  *    FARM_FINGERPRINT so the oracle can recompute it), and
  *  - `glamira_fact_currency`: the currency map / ambiguity classification /
  *    URL-TLD inference / latest-FX USD conversion (mart_fact_order.sql
  *    semantics).
  */
object GlamiraShaped {

  private val TLDS = Seq("co.uk", "de", "se", "fr", "dk", "com")
  private val CCYS = Seq("€", "$", "kr", "usd", "XYZ")

  // ---- Spark-side synthesis of the nested summary table ------------------

  private def cartProducts: Column = {
    val ncp = col("event_id") % 3
    val item = (k: Column) => {
      val nopt = (col("event_id") + k) % 3
      val opts = when(nopt === 0, lit(null).cast(ArrayType(StructType(Seq(
          StructField("option_id", StringType), StructField("option_label", StringType))))))
        .otherwise(transform(sequence(lit(0), (nopt - 1).cast(IntegerType)), j => struct(
          ((col("event_id") + k * 10 + j) % 50).cast(StringType).as("option_id"),
          concat(lit("lbl"), j).as("option_label"))))
      struct(
        ((col("event_id") * 7 + k) % 2000).cast(StringType).as("product_id"),
        (lit(1) + (col("event_id") + k) % 3).cast(StringType).as("amount"),
        Scalars.junkPrice(
          (col("value") * (k + 1)).cast(DecimalType(18, 2)).cast(StringType),
          (col("event_id") + k) % 6).as("price"),
        element_at(array(CCYS.map(lit(_)): _*),
          ((col("event_id") + k) % 5 + 1).cast(IntegerType)).as("currency"),
        opts.as("option"))
    }
    when(ncp === 0, lit(null))
      .otherwise(transform(sequence(lit(0), (ncp - 1).cast(IntegerType)), item))
  }

  /** countly_summary-shaped frame derived from events — the FULL raw schema
    * `Staging.stgOrderDetailed` expects. `collection` carries non-checkout
    * rows (7-multiples offset 3) so the production checkout filter has real
    * work; `ip` collapses onto 997 values feeding the location join. The
    * passthrough-only columns the gate never projects (user_agent, …) are
    * constants: they exercise the wide cast projection without growing the
    * oracle.
    */
  private def summaryShaped(s: SparkSession, dir: String,
      email: Column = lit("e@example.com")): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      concat(lit("o"), col("event_id")).as("order_id"),
      unix_timestamp(col("ts")).as("time_stamp"),
      when(col("event_id") % 7 === 3, lit("view_cart"))
        .otherwise(lit("checkout_success")).as("collection"),
      concat(lit("ip"), col("event_id") % 997).as("ip"),
      when(col("event_id") % 11 === 0, lit("null"))
        .otherwise(col("user_id").cast(StringType)).as("user_id_db"),
      concat(lit("https://www.shop."),
        element_at(array(TLDS.map(lit(_)): _*), (col("user_id") % 6 + 1).cast(IntegerType)),
        lit("/p/"), col("event_id")).as("current_url"),
      lit("2026-01-21 00:00:00").as("local_time"),
      lit("Mozilla/5.0").as("user_agent"),
      lit("1920x1080").as("resolution"),
      lit("d0").as("device_id"),
      lit("1.0").as("api_version"),
      lit("s1").as("store_id"),
      lit("true").as("show_recommendation"),
      lit(null).cast(StringType).as("referrer_url"),
      email.as("email_address"),
      cartProducts.as("cart_products"))

  /** stg_location stand-in for the stg_order location join: exactly one row
    * per ip (attributes a pure function of the ip number, so the join can
    * never fan out), md5-64 key standing in for FARM_FINGERPRINT.
    */
  private def stgLocationForOrder(s: SparkSession, dir: String): DataFrame = {
    val m = col("n") % 37
    Tables.events(s, dir)
      .select((col("event_id") % 997).as("n")).distinct()
      .select(
        concat(lit("ip"), col("n")).as("ip"),
        element_at(array(Seq("US", "DE", "SE", "FR", "DK").map(lit(_)): _*),
          (m % 5 + 1).cast(IntegerType)).as("country_code"),
        concat(lit("R"), m % 7).as("region"),
        concat(lit("City"), m).as("city"))
      .withColumn("location_key", Keys.md5Key64(concat(
        lower(trim(col("country_code"))), lit("|"),
        lower(trim(col("region"))), lit("|"),
        lower(trim(col("city"))))))
      .select(col("ip"), col("location_key"))
  }

  /** THE production stg_order (`Staging.stgOrderDetailed`) over the shaped
    * input — no inline twin; the oracle proves the code a user calls. The
    * portable md5-64 key is injected so DuckDB can recompute item_key (farm
    * bit-parity is gated separately by x1); prices/line totals are cast
    * DOUBLE at the gate boundary only (exact DECIMAL(38,9) renders trailing
    * zeros the driver's stringify-hash rejects).
    */
  private def stgOrderShaped(s: SparkSession, dir: String): DataFrame =
    Staging.stgOrderDetailed(
        summaryShaped(s, dir), stgLocationForOrder(s, dir), Keys.md5Key64)
      .withColumn("product_price", col("product_price").cast(DoubleType))
      .withColumn("line_total_amount", col("line_total_amount").cast(DoubleType))

  // ---- dim_customer inputs synthesized deterministically from events -----

  /** stg_customer stand-in: one row per user; raw emails carry mixed case,
    * padding, NULLs (11-multiples) and blanks (13-multiples) so the
    * filter + lower/trim normalization has real work.
    */
  private def stgCustomerShaped(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id").as("user_db_id")).distinct()
      .withColumn("email_address",
        when(col("user_db_id") % 11 === 0, lit(null).cast(StringType))
          .when(col("user_db_id") % 13 === 0, lit("  "))
          .otherwise(concat(lit("  U"), col("user_db_id"), lit("@Example.COM "))))

  /** customer_email_scd stand-in: signup/purchase events carry an email that
    * flips between two variants, so latest-per-(email,user) resolution and
    * the reference's user-level fan-out both occur.
    */
  private def scdSnapshotShaped(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("event_type").isin("signup", "purchase"))
      .select(col("user_id").as("user_db_id"),
        concat(lit("u"), col("user_id"),
          when(col("event_id") % 4 === 0, "+alt").otherwise(""),
          lit("@scd.com")).as("email_address"),
        col("ts").as("time"))

  /** mart_dim_customer semantics via the production Marts implementation,
    * with the portable md5-64 key substituted for FARM_FINGERPRINT so the
    * oracle can recompute it (farm bit-parity is gated separately by x1).
    */
  private def dimCustomerShaped(s: SparkSession, dir: String): DataFrame =
    Marts.martDimCustomer(stgCustomerShaped(s, dir), scdSnapshotShaped(s, dir))
      .select(col("user_db_id"), col("email_address_final"), col("last_seen_ts"),
        Keys.md5Key64(col("email_address_final")).as("customer_key"))

  /** ip_location-shaped rows derived from events: ~997 ips collapse onto 37
    * (country, region, city) triples, so mart_dim_location's per-key dedup
    * has real work. All rows sharing a location_key share every attribute
    * (they derive from the same modulus), so which ip wins rn=1 cannot
    * change the projected output. md5-64 key stands in for FARM_FINGERPRINT
    * (same substitution as dimCustomerShaped; farm parity gated by x1).
    */
  private def stgLocationShaped(s: SparkSession, dir: String): DataFrame = {
    val m = col("event_id") % 37
    Tables.events(s, dir).select(
        concat(lit("ip"), col("event_id") % 997).as("ip"),
        element_at(array(Seq("US", "DE", "SE", "FR", "DK").map(lit(_)): _*),
          (m % 5 + 1).cast(IntegerType)).as("country_code"),
        concat(lit("Country"), m % 5).as("country_name"),
        concat(lit("R"), m % 7).as("region"),
        concat(lit("City"), m).as("city"))
      .withColumn("location_key", Keys.md5Key64(concat(
        lower(trim(col("country_code"))), lit("|"),
        lower(trim(col("region"))), lit("|"),
        lower(trim(col("city"))))))
  }

  /** Product-crawl raw rows (ref Source/step2_crawl_product_names.py:46-67):
    * one JSON document per event, built by string concatenation so DuckDB
    * can synthesize the byte-identical payload. Deliberate hazards for
    * `Staging.stgProduct`: the id key ROTATES across the four paths of the
    * multi-path coalesce (product_id/productId/id/_id), ids that are the
    * string 'null' / empty / non-numeric, a sometimes-missing
    * material_design field, junk weight strings ('n/a' → SAFE_CAST NULL),
    * and NULL product_json rows (23-multiples, filtered pre-parse).
    */
  private def productRawShaped(s: SparkSession, dir: String): DataFrame = {
    val eid = col("event_id")
    val idKey = element_at(
      array(lit("product_id"), lit("productId"), lit("id"), lit("_id")),
      (eid % 4 + 1).cast(IntegerType))
    val idVal = when(eid % 13 === 0, lit("null"))
      .when(eid % 17 === 0, lit(""))
      .when(eid % 19 === 0, concat(lit("X-"), eid % 500))
      .otherwise((eid % 3000).cast(StringType))
    def weight(m: Int, d: Int, junkMod: Int): Column =
      when(eid % junkMod === 0, lit("n/a"))
        .otherwise(concat(eid % m, lit("."), eid % d))
    val optionalMd = when(eid % 3 === 0, lit(""))
      .otherwise(concat(lit(", \"material_design\": \"md"), eid % 8, lit("\"")))
    val json = concat(
      lit("{\"product\": {\""), idKey, lit("\": \""), idVal,
      lit("\", \"gender\": \"g"), eid % 3,
      lit("\", \"category_name\": \"cat"), eid % 7,
      lit("\", \"name\": \"Ring "), eid % 2000,
      lit("\", \"product_type\": \"t"), eid % 4,
      lit("\", \"store_code\": \"s"), eid % 10,
      lit("\", \"attribute_set\": \"as"), eid % 5,
      lit("\", \"category\": \"c"), eid % 6,
      lit("\""), optionalMd,
      lit(", \"sku\": \"SKU"), eid % 2500,
      lit("\", \"none_metal_weight\": \""), weight(90, 10, 29),
      lit("\", \"fixed_silver_weight\": \""), weight(70, 4, 31),
      lit("\", \"gold_weight\": \""), weight(50, 8, 5),
      lit("\"}}"))
    Tables.events(s, dir).select(
      when(eid % 23 === 0, lit(null).cast(StringType)).otherwise(json).as("product_json"))
  }

  /** Deterministic FX seed shared by both fact gates (two dates so the
    * latest-rate filter has real work; one EUR rate per date so the
    * scalar-max join provably picks 0.8, not 0.9).
    */
  private def fxShaped(s: SparkSession): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(java.sql.Date.valueOf("2026-01-21"), "EUR", 0.9),
        org.apache.spark.sql.Row(java.sql.Date.valueOf("2026-01-22"), "EUR", 0.8),
        org.apache.spark.sql.Row(java.sql.Date.valueOf("2026-01-22"), "USD", 1.0),
        org.apache.spark.sql.Row(java.sql.Date.valueOf("2026-01-22"), "GBP", 0.5),
        org.apache.spark.sql.Row(java.sql.Date.valueOf("2026-01-22"), "SEK", 10.0),
        org.apache.spark.sql.Row(java.sql.Date.valueOf("2026-01-22"), "DKK", 7.5)),
      StructType(Seq(StructField("fx_date", DateType),
        StructField("fx_ccy", StringType), StructField("usd_to_ccy", DoubleType))))

  // ---- full-DAG (ModelGraph) inputs for the e2e lineage gate -------------

  /** ip_location raw rows for the e2e graph: ONE row per ip (the reference
    * table is keyed by ip), with ~20% of ips absent (n % 5 = 3) so the
    * staging left join has real misses; attributes a pure function of the
    * ip number so the join can never fan out.
    */
  private def ipLocationRawE2e(s: SparkSession, dir: String): DataFrame = {
    val m = col("n") % 37
    Tables.events(s, dir)
      .select((col("event_id") % 997).as("n")).distinct()
      .filter(col("n") % 5 =!= 3)
      .select(
        concat(lit("ip"), col("n")).as("ip"),
        element_at(array(Seq("US", "DE", "SE", "FR", "DK").map(lit(_)): _*),
          (m % 5 + 1).cast(IntegerType)).as("country_code"),
        concat(lit("Country"), m % 5).as("country_name"),
        concat(lit("R"), m % 7).as("region"),
        concat(lit("City"), m).as("city"),
        concat(lit("isp"), m % 3).as("isp"))
  }

  /** Product-crawl raw rows for the e2e graph: one JSON payload per
    * DISTINCT candidate id (the crawler's catalog is one row per product —
    * a per-event payload table would make mart_dim_product's ids non-unique
    * and fan the fact join out). 13-multiples carry the 'null' sentinel and
    * are dropped by the production stg_product filter, so the fact's
    * product merge-back has real misses.
    */
  private def productRawE2e(s: SparkSession, dir: String): DataFrame = {
    val pid = col("pid")
    val idVal = when(pid % 13 === 0, lit("null")).otherwise(pid.cast(StringType))
    Tables.events(s, dir)
      .select((col("event_id") % 3000).as("pid")).distinct()
      .select(concat(
        lit("{\"product\": {\"product_id\": \""), idVal,
        lit("\", \"name\": \"Ring "), pid % 2000,
        lit("\", \"sku\": \"SKU"), pid,
        lit("\"}}")).as("product_json"))
  }

  /** The shared FX seed in the graph's seed schema (fx_to_usd csv columns). */
  private def fxSeedE2e(s: SparkSession): DataFrame =
    fxShaped(s).select(col("fx_date"), lit("USD").as("base_code"),
      col("fx_ccy").as("currency_code"), col("usd_to_ccy"))

  /** The e2e gate's ModelGraph over the shaped inputs. */
  private[queries] def e2eGraph(s: SparkSession, dir: String): graft.glamira.ModelGraph = {
    val work = TempDirs.fresh("glamira_e2e")
    // 7-mod-2 uids carry a MESSY raw email: stg_customer normalizes it
    // into the dim, but mart_fact_order's raw-email equi-join (reference
    // semantics: fl.email_address = dc.email_address_final) misses — the
    // structural has_customer=false path at every sf (sf0.001 has no
    // null-user events to miss on)
    val email = when(col("user_id").isNull, lit(null).cast(StringType))
      .when(col("user_id") % 7 === 2,
        concat(lit("  U"), col("user_id"), lit("@Example.COM ")))
      .otherwise(concat(lit("u"), col("user_id"), lit("@example.com")))
    graft.glamira.Glamira.graph(s, work,
      summaryShaped(s, dir, email),
      productRawE2e(s, dir),
      ipLocationRawE2e(s, dir),
      fxSeedE2e(s))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "glamira_stg_order" -> ((s, dir) => stgOrderShaped(s, dir)
      .select(col("order_id"), col("time_stamp"), col("user_db_id"),
        col("event_ts"), col("ip"), col("location_key"),
        col("cp_offset"), col("opt_offset"), col("product_id"),
        col("product_quantity"), col("product_price"), col("line_total_amount"),
        col("product_currency"), col("option_id"), col("option_label"),
        col("current_url"), col("item_key"))),

    "glamira_dim_customer" -> ((s, dir) => dimCustomerShaped(s, dir)),

    // mart_dim_date.sql: the full calendar spine, via the production mart.
    "glamira_dim_date" -> ((s, _) => Marts.martDimDate(s)),

    // mart_dim_location.sql: per-location_key dedup by lowest ip, via the
    // production mart over the shaped ip_location stand-in.
    "glamira_dim_location" -> ((s, dir) =>
      Marts.martDimLocation(stgLocationShaped(s, dir))),

    // mart_dim_product.sql:3-15 over stg_product.sql:5-35: the production
    // Staging.stgProduct (single from_json parse, multi-path id coalesce,
    // sentinel filter) → Marts.martDimProduct projection, md5-64 key
    // injected for FARM_FINGERPRINT (farm bit-parity gated by x1).
    "glamira_dim_product" -> ((s, dir) =>
      Marts.martDimProduct(
        Staging.stgProduct(productRawShaped(s, dir), Keys.md5Key64))),

    // Full mart_fact_order shape (ref mart_fact_order.sql:186-224): currency
    // pipeline → latest-FX join → time derivations → original + USD measures
    // (guarded on the PRE-coalesce mapped code) → broadcast dim joins for
    // customer_key (on checkout email vs resolved email) and product_key.
    "glamira_fact_order" -> ((s, dir) => {
      val so = stgOrderShaped(s, dir)
      val raw = col("product_currency")

      val fxLatest = Marts.latestRates(fxShaped(s))
        .select(col("fx_ccy"), col("usd_to_ccy"))

      val dimCust = dimCustomerShaped(s, dir)
        .select(col("customer_key"), col("email_address_final"))
      val dimProd = so.filter(col("product_id").isNotNull)
        .select(col("product_id").as("dim_product_id")).distinct()
        .withColumn("product_key",
          Keys.md5Key64(concat(lit("p:"), col("dim_product_id"))))

      val eventTs = timestamp_seconds(col("time_stamp"))
      // checkout email: scd variant for most users, staging variant for
      // 3-multiples — so the dim join has hits and deliberate misses
      val email = when(col("user_db_id").isNull, lit(null).cast(StringType))
        .otherwise(concat(lit("u"), col("user_db_id"),
          when(col("user_db_id") % 3 === 0, "@example.com").otherwise("@scd.com")))

      // the PRODUCTION guard (CurrencyRules.usdMeasure), DOUBLE-typed at the
      // gate boundary with the oracle's round-6 spelling
      val usd = (amount: Column) =>
        round(CurrencyRules.usdMeasure(
          col("currency_code_mapped"), col("usd_to_ccy"), amount), 6).cast(DoubleType)

      CurrencyRules.applyCurrencyRules(so, raw, col("current_url"))
        .withColumn("currency_code", coalesce(col("currency_code_mapped"), col("inferred_currency")))
        .join(broadcast(fxLatest), col("fx_ccy") === col("currency_code"), "left")
        .withColumn("email_address", email)
        .withColumn("line_total_amount",
          col("product_price") * col("product_quantity").cast(DoubleType))
        .withColumn("product_price_usd", usd(col("product_price")))
        .withColumn("line_total_amount_usd", usd(col("line_total_amount")))
        .join(broadcast(dimCust), col("email_address") === col("email_address_final"), "left")
        .join(broadcast(dimProd), col("product_id") === col("dim_product_id"), "left")
        .select(col("item_key"), col("order_id"), col("user_db_id"),
          eventTs.as("event_ts"), to_date(eventTs).as("event_date"),
          col("product_id"), col("product_key"), col("customer_key"),
          col("currency_code"), col("currency_status_final").as("currency_status"),
          col("product_quantity"), col("product_price"), col("line_total_amount"),
          col("product_price_usd"), col("line_total_amount_usd"))
    }),

    // THE FULL DAG UNDER THE ORACLE: Glamira.graph executes end-to-end —
    // raw summary/product/ip_location/fx in, stg_order materialized once,
    // the other stg views fused by Catalyst, customer_email_scd materialized
    // to parquet (Scd2.firstRun), dims and the fact materialized across
    // table boundaries — and the FINAL
    // mart_fact_order faces a DuckDB recompute of the whole lineage. The
    // per-node gates prove each model; this entry proves the COMPOSITION
    // (ModelGraph resolution order, view fusion, snapshot persistence,
    // dim merge-backs) as one pipeline, the SURVEY §7.4 risk-5 seam.
    // FARM-keyed surrogate columns (item/location/product/customer keys)
    // leave the projection as join-outcome BOOLEANS — farm itself is
    // bit-parity-gated by x1, and the md5-twin per-node gates prove each
    // key derivation; what this gate must prove is that the JOINS resolved
    // through those keys' lineage.
    "glamira_pipeline_e2e" -> ((s, dir) => {
      e2eGraph(s, dir).resolve("mart_fact_order").select(
        col("order_id"), col("user_db_id"), col("time_stamp"),
        col("event_ts"), col("date").as("event_date"),
        col("product_id"), col("option_id"),
        col("product_currency"), col("currency_code"), col("currency_status"),
        col("product_quantity"),
        col("product_price").cast(DoubleType).as("product_price"),
        col("line_total_amount").cast(DoubleType).as("line_total_amount"),
        round(col("product_price_usd").cast(DoubleType), 6).as("product_price_usd"),
        round(col("line_total_amount_usd").cast(DoubleType), 6).as("line_total_amount_usd"),
        col("customer_key").isNotNull.as("has_customer"),
        col("location_key").isNotNull.as("has_location"))
    }),

    "glamira_fact_currency" -> ((s, dir) => {
      val so = stgOrderShaped(s, dir)
      val raw = col("product_currency")

      val fxLatest = Marts.latestRates(fxShaped(s))
        .select(col("fx_ccy"), col("usd_to_ccy"))

      CurrencyRules.applyCurrencyRules(so, raw, col("current_url"))
        .withColumn("currency_code", coalesce(col("currency_code_mapped"), col("inferred_currency")))
        .join(broadcast(fxLatest), col("fx_ccy") === col("currency_code"), "left")
        // Reference semantics (mart_fact_order.sql final CTE) via the
        // production CurrencyRules.usdMeasure: the guard tests the
        // PRE-coalesce mapped code — AMBIGUOUS rows resolved only by
        // inference join to an FX rate but still emit NULL USD measures.
        .withColumn("price_usd",
          round(CurrencyRules.usdMeasure(col("currency_code_mapped"),
            col("usd_to_ccy"), col("product_price").cast(DoubleType)), 6).cast(DoubleType))
        .select(col("item_key"), col("order_id"), col("cp_offset"), col("opt_offset"),
          col("product_currency"), col("currency_code"),
          col("currency_status_final").as("currency_status"),
          col("product_price"), col("price_usd"))
    })
  )

  // ---- DuckDB twin -------------------------------------------------------

  /** Locale junk price in SQL over a base string and variant expression —
    * the mirror of Scalars.junkPrice.
    */
  private def junkSql(base: String, v: String): String =
    s"""CASE ($v)
       |  WHEN 1 THEN replace($base, '.', ',')
       |  WHEN 2 THEN replace($base, '.', '٫')
       |  WHEN 3 THEN concat(' ', $base, ' ')
       |  WHEN 4 THEN concat('1.', replace($base, '.', ','))
       |  WHEN 5 THEN concat('1,', $base)
       |  ELSE $base END""".stripMargin

  private val tldList = TLDS.map(t => s"'$t'").mkString("[", ", ", "]")
  private val ccyList = CCYS.map(c => s"'$c'").mkString("[", ", ", "]")

  /** Shaped + double-unnested flat rows, outer semantics via the
    * k/j < greatest(n,1) trick (NULL-marked when the array is NULL/empty).
    * CTE chain base → cp (cart-product level) → opt (option level).
    */
  private val stgCte: String = {
    val baseStr = "CAST(CAST(value * (k + 1) AS DECIMAL(18,2)) AS VARCHAR)"
    s"""base AS (
       |  SELECT event_id, 'o' || event_id AS order_id,
       |    CAST(floor(date_part('epoch', ts)) AS BIGINT) AS time_stamp,
       |    'ip' || CAST(event_id % 997 AS VARCHAR) AS ip,
       |    CASE WHEN event_id % 11 = 0 THEN 'null' ELSE CAST(user_id AS VARCHAR) END AS user_id_db,
       |    concat('https://www.shop.', $tldList[CAST(user_id % 6 AS INTEGER) + 1], '/p/', event_id) AS current_url,
       |    value, event_id % 3 AS ncp
       |  FROM events
       |  -- the production checkout filter (collection = 'checkout_success'),
       |  -- over the shaped collection CASE
       |  WHERE (CASE WHEN event_id % 7 = 3 THEN 'view_cart'
       |              ELSE 'checkout_success' END) = 'checkout_success'),
       |ks(k) AS (VALUES (0), (1)),
       |js(j) AS (VALUES (0), (1)),
       |cp AS (
       |  SELECT b.*,
       |    CASE WHEN ncp = 0 THEN NULL ELSE k END AS cp_offset,
       |    CASE WHEN ncp = 0 THEN NULL ELSE CAST((event_id * 7 + k) % 2000 AS VARCHAR) END AS pid_str,
       |    CASE WHEN ncp = 0 THEN NULL ELSE CAST(1 + (event_id + k) % 3 AS VARCHAR) END AS amount_str,
       |    CASE WHEN ncp = 0 THEN NULL ELSE ${junkSql(baseStr, "(event_id + k) % 6")} END AS price_str,
       |    CASE WHEN ncp = 0 THEN NULL ELSE $ccyList[CAST((event_id + k) % 5 AS INTEGER) + 1] END AS product_currency,
       |    CASE WHEN ncp = 0 THEN NULL ELSE (event_id + k) % 3 END AS nopt
       |  FROM base b JOIN ks ON k < greatest(ncp, 1)),
       |opt AS (
       |  SELECT c.*,
       |    CASE WHEN nopt IS NULL OR nopt = 0 THEN NULL ELSE j END AS opt_offset,
       |    CASE WHEN nopt IS NULL OR nopt = 0 THEN NULL
       |         ELSE CAST((event_id + cp_offset * 10 + j) % 50 AS VARCHAR) END AS option_id,
       |    CASE WHEN nopt IS NULL OR nopt = 0 THEN NULL ELSE concat('lbl', j) END AS option_label
       |  FROM cp c JOIN js ON j < greatest(coalesce(nopt, 0), 1))""".stripMargin
  }

  def oracleSql: Map[String, String] = {
    // item_key pre-image mirrors the Spark CONCAT exactly (defaults '' / -1)
    val preimage =
      """concat(coalesce(order_id, ''), '|',
        |  coalesce(CAST(TRY_CAST(pid_str AS BIGINT) AS VARCHAR), ''), '|',
        |  coalesce(option_id, ''), '|',
        |  CAST(coalesce(cp_offset, -1) AS VARCHAR), '|',
        |  CAST(coalesce(opt_offset, -1) AS VARCHAR), '|',
        |  CAST(coalesce(time_stamp, -1) AS VARCHAR))""".stripMargin
    val itemKey = s"CAST(concat('0x', substr(md5($preimage), 1, 15)) AS BIGINT)"

    val stgSelect =
      s"""SELECT order_id, time_stamp,
         |  TRY_CAST(user_id_db AS BIGINT) AS user_db_id,
         |  cp_offset, opt_offset,
         |  TRY_CAST(pid_str AS BIGINT) AS product_id,
         |  TRY_CAST(amount_str AS BIGINT) AS product_quantity,
         |  CAST(${LocaleNumeric.duckdbSql("price_str")} AS DOUBLE) AS product_price,
         |  product_currency, option_id, option_label, current_url,
         |  $itemKey AS item_key
         |FROM opt""".stripMargin

    // one row per ip, attributes a pure function of the ip number — the
    // DuckDB twin of stgLocationForOrder
    val locCte = {
      val keyPre = "lower(trim(country_code)) || '|' || lower(trim(region)) || '|' || lower(trim(city))"
      s"""loc AS (
         |  SELECT ip, ${Keys.md5Key64Sql(keyPre)} AS location_key
         |  FROM (
         |    SELECT 'ip' || CAST(n AS VARCHAR) AS ip,
         |      ['US', 'DE', 'SE', 'FR', 'DK'][CAST((n % 37) % 5 AS INTEGER) + 1] AS country_code,
         |      'R' || CAST((n % 37) % 7 AS VARCHAR) AS region,
         |      'City' || CAST(n % 37 AS VARCHAR) AS city
         |    FROM (SELECT DISTINCT event_id % 997 AS n FROM events)))""".stripMargin
    }

    // the extended stg_order gate projection: the shared flat grain plus the
    // production-path extras (event_ts, location join, decimal line total)
    val stgOrderSelect =
      s"""SELECT order_id, time_stamp,
         |  TRY_CAST(user_id_db AS BIGINT) AS user_db_id,
         |  make_timestamp(time_stamp * 1000000) AS event_ts,
         |  ip, location_key, cp_offset, opt_offset,
         |  TRY_CAST(pid_str AS BIGINT) AS product_id,
         |  TRY_CAST(amount_str AS BIGINT) AS product_quantity,
         |  CAST(${LocaleNumeric.duckdbSql("price_str")} AS DOUBLE) AS product_price,
         |  -- stay in the decimal domain: DECIMAL(29,9) * DECIMAL(9,0) fits
         |  -- DuckDB's 38-digit cap (38,9); at full (38,9)x(38,9) DuckDB
         |  -- silently falls back to DOUBLE multiply and drifts a ULP off
         |  -- Spark's exact decimal product
         |  CAST(CAST(${LocaleNumeric.duckdbSql("price_str")} AS DECIMAL(29,9))
         |       * CAST(TRY_CAST(amount_str AS BIGINT) AS DECIMAL(9,0)) AS DOUBLE) AS line_total_amount,
         |  product_currency, option_id, option_label, current_url,
         |  $itemKey AS item_key
         |FROM opt LEFT JOIN loc USING (ip)""".stripMargin

    // The currency CTEs are GENERATED from graft.glamira.CurrencyRules'
    // own rule tables — the full production map sits under this gate and
    // cannot drift from the mart implementation.
    val currencyCtes =
      s"""cur AS (
         |  SELECT *,
         |    ${CurrencyRules.currencyCodeSql("product_currency")} AS currency_code_mapped,
         |    ${CurrencyRules.currencyStatusSql("product_currency")} AS currency_status,
         |    ${CurrencyRules.urlHostSql("current_url")} AS url_host
         |  FROM stg),
         |inf AS (
         |  SELECT *,
         |    ${CurrencyRules.inferredCurrencySql("currency_code_mapped", "currency_status",
                "url_host", CurrencyRules.urlTldSql("url_host"))} AS inferred_currency
         |  FROM cur),
         |fin AS (
         |  SELECT *,
         |    ${CurrencyRules.statusFinalSql("currency_code_mapped", "currency_status",
                "inferred_currency")} AS currency_status_final,
         |    coalesce(currency_code_mapped, inferred_currency) AS currency_code
         |  FROM inf),
         |fx(fx_date, fx_ccy, usd_to_ccy) AS (VALUES
         |  (DATE '2026-01-21', 'EUR', 0.9), (DATE '2026-01-22', 'EUR', 0.8),
         |  (DATE '2026-01-22', 'USD', 1.0), (DATE '2026-01-22', 'GBP', 0.5),
         |  (DATE '2026-01-22', 'SEK', 10.0), (DATE '2026-01-22', 'DKK', 7.5)),
         |fx_latest AS (
         |  SELECT fx_ccy, CAST(usd_to_ccy AS DOUBLE) AS usd_to_ccy FROM fx
         |  WHERE fx_date = (SELECT max(fx_date) FROM fx))""".stripMargin

    // mart_dim_customer twin: filter/normalize raw emails, resolve latest
    // per (email,user) from the SCD stand-in (rn=1 by time DESC over the
    // pair ≡ GROUP BY pair MAX(time) — only the partition keys survive),
    // merge back on user (fan-out on multi-email users), md5-64 key.
    val dimCustCtes =
      s"""ce AS (
         |  SELECT user_db_id, lower(trim(email_raw)) AS email_address
         |  FROM (
         |    SELECT DISTINCT user_id AS user_db_id,
         |      CASE WHEN user_id % 11 = 0 THEN NULL
         |           WHEN user_id % 13 = 0 THEN '  '
         |           ELSE concat('  U', user_id, '@Example.COM ') END AS email_raw
         |    FROM events WHERE user_id IS NOT NULL)
         |  WHERE email_raw IS NOT NULL AND trim(email_raw) <> ''),
         |ee AS (
         |  SELECT user_id AS user_db_id,
         |    lower(trim(concat('u', user_id,
         |      CASE WHEN event_id % 4 = 0 THEN '+alt' ELSE '' END, '@scd.com'))) AS email_address,
         |    ts AS time
         |  FROM events
         |  WHERE user_id IS NOT NULL AND event_type IN ('signup', 'purchase')),
         |latest AS (
         |  SELECT email_address, user_db_id, max(time) AS last_seen_ts
         |  FROM ee GROUP BY 1, 2),
         |dim_cust AS (
         |  SELECT ce.user_db_id,
         |    coalesce(l.email_address, ce.email_address) AS email_address_final,
         |    l.last_seen_ts,
         |    ${Keys.md5Key64Sql("coalesce(l.email_address, ce.email_address)")} AS customer_key
         |  FROM ce LEFT JOIN latest l ON ce.user_db_id = l.user_db_id)""".stripMargin

    Map(
      "glamira_stg_order" -> s"WITH $stgCte,\n$locCte\n$stgOrderSelect",

      "glamira_dim_date" ->
        """SELECT CAST(d AS DATE) AS date,
          |  CAST(year(d) AS INTEGER) AS year, CAST(month(d) AS INTEGER) AS month
          |FROM (SELECT unnest(generate_series(DATE '2015-01-01', DATE '2050-12-31',
          |  INTERVAL 1 DAY)) AS d)""".stripMargin,

      "glamira_dim_location" -> {
        val keyPre = "lower(trim(country_code)) || '|' || lower(trim(region)) || '|' || lower(trim(city))"
        s"""WITH ms AS (
           |  SELECT DISTINCT event_id % 37 AS m FROM events),
           |attrs AS (
           |  SELECT ['US', 'DE', 'SE', 'FR', 'DK'][CAST(m % 5 AS INTEGER) + 1] AS country_code,
           |    'Country' || CAST(m % 5 AS VARCHAR) AS country_name,
           |    'R' || CAST(m % 7 AS VARCHAR) AS region,
           |    'City' || CAST(m AS VARCHAR) AS city
           |  FROM ms)
           |SELECT ${Keys.md5Key64Sql(keyPre)} AS location_key,
           |  country_code, country_name, region, city
           |FROM attrs""".stripMargin
      },

      "glamira_dim_customer" ->
        s"""WITH $dimCustCtes
           |SELECT user_db_id, email_address_final, last_seen_ts, customer_key
           |FROM dim_cust""".stripMargin,

      "glamira_dim_product" -> {
        val idKeys = "['product_id', 'productId', 'id', '_id']"
        def w(m: Int, d: Int, junkMod: Int): String =
          s"""CASE WHEN event_id % $junkMod = 0 THEN 'n/a'
             |  ELSE CAST(event_id % $m AS VARCHAR) || '.' || CAST(event_id % $d AS VARCHAR) END""".stripMargin
        def jv(field: String): String =
          s"json_extract_string(product_json, '$$.product.$field')"
        s"""WITH raw AS (
           |  SELECT CASE WHEN event_id % 23 = 0 THEN NULL ELSE
           |    '{"product": {"' || $idKeys[CAST(event_id % 4 AS INTEGER) + 1] || '": "' ||
           |    (CASE WHEN event_id % 13 = 0 THEN 'null'
           |          WHEN event_id % 17 = 0 THEN ''
           |          WHEN event_id % 19 = 0 THEN 'X-' || CAST(event_id % 500 AS VARCHAR)
           |          ELSE CAST(event_id % 3000 AS VARCHAR) END) ||
           |    '", "gender": "g' || CAST(event_id % 3 AS VARCHAR) ||
           |    '", "category_name": "cat' || CAST(event_id % 7 AS VARCHAR) ||
           |    '", "name": "Ring ' || CAST(event_id % 2000 AS VARCHAR) ||
           |    '", "product_type": "t' || CAST(event_id % 4 AS VARCHAR) ||
           |    '", "store_code": "s' || CAST(event_id % 10 AS VARCHAR) ||
           |    '", "attribute_set": "as' || CAST(event_id % 5 AS VARCHAR) ||
           |    '", "category": "c' || CAST(event_id % 6 AS VARCHAR) || '"' ||
           |    (CASE WHEN event_id % 3 = 0 THEN ''
           |          ELSE ', "material_design": "md' || CAST(event_id % 8 AS VARCHAR) || '"' END) ||
           |    ', "sku": "SKU' || CAST(event_id % 2500 AS VARCHAR) ||
           |    '", "none_metal_weight": "' || (${w(90, 10, 29)}) ||
           |    '", "fixed_silver_weight": "' || (${w(70, 4, 31)}) ||
           |    '", "gold_weight": "' || (${w(50, 8, 5)}) ||
           |    '"}}' END AS product_json
           |  FROM events),
           |typed AS (
           |  SELECT
           |    coalesce(${jv("product_id")}, ${jv("productId")}, ${jv("id")}, ${jv("_id")}) AS product_id_str,
           |    ${jv("gender")} AS gender,
           |    ${jv("category_name")} AS category_name,
           |    ${jv("name")} AS product_name,
           |    ${jv("product_type")} AS product_type,
           |    ${jv("store_code")} AS store_code,
           |    ${jv("attribute_set")} AS attribute_set,
           |    ${jv("category")} AS category,
           |    ${jv("material_design")} AS material_design,
           |    ${jv("sku")} AS sku
           |  FROM raw WHERE product_json IS NOT NULL)
           |SELECT ${Keys.md5Key64Sql("lower(trim(product_id_str))")} AS product_key,
           |  TRY_CAST(product_id_str AS BIGINT) AS product_id,
           |  sku, gender, category_name, product_type, store_code,
           |  attribute_set, category, material_design, product_name
           |FROM typed
           |WHERE product_id_str IS NOT NULL
           |  AND trim(product_id_str) <> '' AND trim(product_id_str) <> 'null'""".stripMargin
      },

      // The full-DAG twin: replays raw → staging → currency chain → fx →
      // dim-membership joins in one SQL lineage. The customer and product
      // hops collapse to membership tests because the synthesized emails /
      // catalog ids are pure functions of the event row: a uid is VALID
      // (stg_customer) iff it appears on a non-poisoned event, and a
      // catalog id survives stg_product iff it is not a 13-multiple
      // sentinel — so "my email/id is in the dim" is exactly these sets.
      "glamira_pipeline_e2e" ->
        s"""WITH $stgCte,
           |stg AS (
           |  SELECT event_id, order_id, time_stamp,
           |    TRY_CAST(user_id_db AS BIGINT) AS user_db_id,
           |    TRY_CAST(pid_str AS BIGINT) AS product_id,
           |    TRY_CAST(amount_str AS BIGINT) AS product_quantity,
           |    CAST(${LocaleNumeric.duckdbSql("price_str")} AS DOUBLE) AS product_price,
           |    CAST(CAST(${LocaleNumeric.duckdbSql("price_str")} AS DECIMAL(29,9))
           |         * CAST(TRY_CAST(amount_str AS BIGINT) AS DECIMAL(9,0)) AS DOUBLE)
           |      AS line_total_amount,
           |    product_currency, option_id, current_url
           |  FROM opt),
           |$currencyCtes,
           |validu AS (
           |  SELECT DISTINCT user_id FROM events
           |  WHERE user_id IS NOT NULL AND event_id % 11 <> 0),
           |dimp AS (
           |  SELECT DISTINCT event_id % 3000 AS pid FROM events
           |  WHERE (event_id % 3000) % 13 <> 0)
           |SELECT fin.order_id, fin.user_db_id, fin.time_stamp,
           |  make_timestamp(time_stamp * 1000000) AS event_ts,
           |  CAST(make_timestamp(time_stamp * 1000000) AS DATE) AS event_date,
           |  dimp.pid AS product_id,
           |  option_id, product_currency, currency_code,
           |  currency_status_final AS currency_status,
           |  product_quantity, product_price, line_total_amount,
           |  CASE WHEN currency_code_mapped IS NULL OR usd_to_ccy IS NULL
           |         OR product_price IS NULL THEN NULL
           |       ELSE round(product_price / usd_to_ccy, 6) END AS product_price_usd,
           |  CASE WHEN currency_code_mapped IS NULL OR usd_to_ccy IS NULL
           |         OR line_total_amount IS NULL THEN NULL
           |       ELSE round(line_total_amount / usd_to_ccy, 6) END AS line_total_amount_usd,
           |  (ev.user_id IS NOT NULL AND ev.user_id % 7 <> 2
           |    AND ev.user_id IN (SELECT user_id FROM validu)) AS has_customer,
           |  ((fin.event_id % 997) % 5 <> 3) AS has_location
           |FROM fin
           |LEFT JOIN fx_latest ON fx_ccy = currency_code
           |JOIN events ev ON ev.event_id = fin.event_id
           |LEFT JOIN dimp ON dimp.pid = fin.product_id""".stripMargin,

      "glamira_fact_currency" ->
        s"""WITH $stgCte,
           |stg AS ($stgSelect),
           |$currencyCtes
           |SELECT item_key, order_id, cp_offset, opt_offset, product_currency,
           |  currency_code, currency_status_final AS currency_status, product_price,
           |  CASE WHEN currency_code_mapped IS NULL THEN NULL
           |       WHEN usd_to_ccy IS NULL THEN NULL
           |       ELSE round(CAST(product_price AS DOUBLE) / usd_to_ccy, 6) END AS price_usd
           |FROM fin LEFT JOIN fx_latest ON fx_ccy = currency_code""".stripMargin,

      // Full mart_fact_order.sql:186-224 twin: USD measures guarded on the
      // pre-coalesce mapped code + dim_customer/dim_product merge-backs.
      "glamira_fact_order" ->
        s"""WITH $stgCte,
           |stg AS ($stgSelect),
           |$currencyCtes,
           |$dimCustCtes,
           |dim_prod AS (
           |  SELECT DISTINCT product_id AS dim_product_id,
           |    ${Keys.md5Key64Sql("concat('p:', CAST(product_id AS VARCHAR))")} AS product_key
           |  FROM stg WHERE product_id IS NOT NULL),
           |fact AS (
           |  SELECT fin.*, usd_to_ccy,
           |    make_timestamp(time_stamp * 1000000) AS event_ts,
           |    CAST(make_timestamp(time_stamp * 1000000) AS DATE) AS event_date,
           |    CASE WHEN user_db_id IS NULL THEN NULL
           |         ELSE concat('u', user_db_id,
           |           CASE WHEN user_db_id % 3 = 0 THEN '@example.com' ELSE '@scd.com' END)
           |    END AS email_address,
           |    product_price * CAST(product_quantity AS DOUBLE) AS line_total_amount
           |  FROM fin LEFT JOIN fx_latest ON fx_ccy = currency_code)
           |SELECT item_key, order_id, fact.user_db_id, event_ts, event_date,
           |  product_id, product_key, customer_key,
           |  currency_code, currency_status_final AS currency_status,
           |  product_quantity, product_price, line_total_amount,
           |  CASE WHEN currency_code_mapped IS NULL THEN NULL
           |       WHEN usd_to_ccy IS NULL THEN NULL
           |       ELSE round(product_price / usd_to_ccy, 6) END AS product_price_usd,
           |  CASE WHEN currency_code_mapped IS NULL THEN NULL
           |       WHEN usd_to_ccy IS NULL THEN NULL
           |       ELSE round(line_total_amount / usd_to_ccy, 6) END AS line_total_amount_usd
           |FROM fact
           |LEFT JOIN dim_cust ON fact.email_address = dim_cust.email_address_final
           |LEFT JOIN dim_prod ON fact.product_id = dim_prod.dim_product_id""".stripMargin
    )
  }
}
