package graft.glamira

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

class GlamiraPipelineSpec extends SparkSpec {

  private lazy val workDir = java.nio.file.Files.createTempDirectory("glamira").toString
  private lazy val g = Glamira.graph(spark, workDir,
    GlamiraFixtures.summary(spark), GlamiraFixtures.productRaw(spark),
    GlamiraFixtures.ipLocationRaw(spark), GlamiraFixtures.fxSeed(spark))

  // Drop this suite's .cache()s: the shared session would otherwise swap
  // them into any later suite's plan over the same fixtures (suites run
  // one after another in the forked test JVM, see ConcurrencySoakSpec).
  override protected def afterAll(): Unit = {
    spark.catalog.clearCache()
    super.afterAll()
  }

  test("stg_order grain: line-item × option with outer-unnest semantics") {
    val so = g.resolve("stg_order").cache()
    // o1: cp0 with 2 options (2 rows) + cp1 empty options (1 row) = 3
    // o2: NULL cart_products = 1; o3: 1 cp, NULL options = 1
    // o4: 1 cp × 1 option = 1; o5: 1 cp × 1 option = 1; o6 filtered out
    assert(so.count() === 7)
    assert(so.filter(col("order_id") === "o6").count() === 0)
    // NULL cart_products row keeps base cols, null product/option fields
    // (offsets feed the item_key pre-image but are projected out of the
    // output, matching the reference's stg_order.sql column list)
    val o2 = so.filter(col("order_id") === "o2").collect().head
    assert(o2.getAs[Any]("product_id") == null && o2.getAs[Any]("option_id") == null)
    // both options of o1's first product survive the double unnest
    val o1opts = so.filter(col("order_id") === "o1" && col("product_id") === 11)
      .select("option_id").collect().map(_.get(0)).toSet
    assert(o1opts === Set("sz", "cl"))
  }

  test("stg_order: locale prices parsed branch-for-branch") {
    val so = g.resolve("stg_order")
    val prices = so.filter(col("product_price").isNotNull)
      .select(col("order_id"), col("product_id"), col("product_price").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(prices(("o1", 11L)) === 1234.56)  // '1.234,56' european
    assert(prices(("o1", 12L)) === 1234.56)  // '1,234.56' us
    assert(prices(("o3", 13L)) === 99.5)     // '99٫5' arabic separator
    assert(prices(("o4", 14L)) === 1234.56)  // '1 234.56' space-grouped
  }

  test("stg_order: item_key unique, non-null, offset defaults in pre-image") {
    val so = g.resolve("stg_order")
    assert(so.filter(col("item_key").isNull).count() === 0)
    assert(so.select("item_key").distinct().count() === so.count())
  }

  test("stg_customer: fake-null users excluded, email cardinality flagged") {
    val sc = g.resolve("stg_customer").cache()
    // user 'null' (o4) excluded; users 101,102,103 valid with emails
    assert(!sc.select("user_db_id").collect().map(_.get(0)).contains(null))
    val a = sc.filter(col("email_address") === "A@X.com").collect()
    assert(a.map(_.getAs[Long]("user_db_id")).toSet === Set(101L, 103L))
    assert(a.forall(_.getAs[String]("has_email_multiple_user_ids") == "Multiple"))
  }

  /** stg_customer as the reference spells it (stg_customer.sql): classify
    * each distinct user_id_db, join the status back, count distinct users
    * per email and join that back. Kept as the reference for the
    * filter-and-window production spelling.
    */
  private def stgCustomerReference(summary: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val userCheck = summary
      .groupBy(col("user_id_db"))
      .agg(count(lit(1)).as("_one"))
      .withColumn("user_status",
        when(col("user_id_db").isNull, "NULL")
          .when(trim(col("user_id_db").cast(StringType)) === "", "EMPTY")
          .when(lower(trim(col("user_id_db").cast(StringType)))
            .isin("null", "n/a", "na", "none", "undefined"), "FAKE_NULL")
          .otherwise("VALID"))
      .select(col("user_id_db"), col("user_status"))
    val valid = userCheck
      .join(summary.select(col("email_address"), col("user_id_db")), Seq("user_id_db"))
      .filter(col("email_address").isNotNull && trim(col("email_address")) =!= "")
      .filter(col("user_status") === "VALID")
    val emailBase = valid
      .groupBy(col("email_address"))
      .agg(countDistinct(col("user_id_db").cast(StringType)).as("n_users"))
      .withColumn("has_email_multiple_user_ids",
        when(col("n_users") === 1, "Unique")
          .when(col("n_users") > 1, "Multiple")
          .otherwise("Unknown"))
      .select(col("email_address"), col("has_email_multiple_user_ids"))
    valid
      .select(col("email_address"), col("user_id_db").cast(StringType).as("user_db_id"))
      .distinct()
      .join(emailBase, Seq("email_address"))
      .select(col("email_address"),
        col("user_db_id").try_cast(LongType).as("user_db_id"),
        col("has_email_multiple_user_ids"))
      .orderBy(col("email_address"), col("user_db_id"))
  }

  test("stg_customer: adversarial ids and emails match the reference spelling row for row") {
    def event(uid: String, email: String) = Row("o", 1700000000L, "t", "checkout_success",
      "1.1.1.1", "ua", "r", uid, "d", "v1", "s1", "true", "u", null, email, null)
    val rows = Seq(
      event(null, "nul@x.com"), event("", "empty@x.com"), event(" null ", "fake@x.com"),
      event("N/A", "na@x.com"), event("NONE", "a@x.com"), event("undefined", "a@x.com"),
      event("201", null), event("201", ""), event("201", "   "),
      event("202", "shared@x.com"), event("203", "shared@x.com"), event("203", "shared@x.com"),
      event("204", "one@x.com"), event("204", "two@x.com"),
      event(" 205 ", "pad@x.com"), event("205", "pad@x.com"),
      event("abc", "junk@x.com"), event("xyz", "junk@x.com"), event("206", "Case@X.com"),
      event("206", "case@x.com"))
    val summary = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), Schemas.countlySummary)
    val got = Staging.stgCustomer(summary)
    val want = stgCustomerReference(summary)
    assert(got.schema === want.schema)
    val gotRows = got.collect().map(_.toString).sorted.toSeq
    assert(gotRows === want.collect().map(_.toString).sorted.toSeq)
    // the fixture exercises every branch: no fake-null user survives, a shared
    // email and a padded duplicate id are Multiple, a one-user email Unique
    assert(gotRows.contains("[shared@x.com,202,Multiple]"))
    assert(gotRows.count(_ == "[pad@x.com,205,Multiple]") === 2)
    assert(gotRows.contains("[one@x.com,204,Unique]") && gotRows.contains("[two@x.com,204,Unique]"))
    assert(gotRows.count(_ == "[junk@x.com,null,Multiple]") === 2)
    assert(gotRows.length === 10)
  }

  test("stg_product: multi-path id coalesce + sentinel filters + weights") {
    val sp = g.resolve("stg_product").cache()
    assert(sp.count() === 4)   // 'null', '', missing-id filtered
    assert(sp.select("product_id").collect().map(_.getLong(0)).toSet === Set(11L, 12L, 13L, 14L))
    val p11 = sp.filter(col("product_id") === 11).collect().head
    assert(p11.getAs[java.math.BigDecimal]("gold_weight").doubleValue() === 2.5)
    val p12 = sp.filter(col("product_id") === 12).collect().head
    assert(p12.getAs[Any]("gold_weight") == null)  // SAFE_CAST junk → null
  }

  test("mart_dim_location: dedup by location_key keeps lowest ip") {
    val dl = g.resolve("mart_dim_location").cache()
    assert(dl.count() === 3)   // SF(2 ips)→1, Stockholm, Berlin
    assert(dl.filter(col("city") === "SF").count() === 1)
  }

  test("mart_dim_customer: latest-seen resolution at (email,user) pair grain") {
    val dc = g.resolve("mart_dim_customer").cache()
    // Reference semantics (mart_dim_customer.sql:41-50): stg_customer rows
    // (incl. non-checkout events) LEFT JOIN latest-seen per (email,user) on
    // user_db_id alone — user 101 fans out to both pair-resolved emails.
    val u101 = dc.filter(col("user_db_id") === 101).collect()
    assert(u101.map(_.getAs[String]("email_address_final")).toSet ===
      Set("a@x.com", "a2@x.com"))
    // each final email carries its own pair's last_seen_ts
    val latest = u101.filter(_.getAs[String]("email_address_final") == "a2@x.com")
    assert(latest.forall(_.getAs[java.sql.Timestamp]("last_seen_ts").getTime ===
      1700000400L * 1000))
    // customer_key = raw signed FARM_FINGERPRINT of the final email
    val k = latest.head.getAs[Long]("customer_key")
    assert(k === com.google.common.hash.Hashing.farmHashFingerprint64()
      .hashBytes("a2@x.com".getBytes("UTF-8")).asLong())
  }

  test("mart_fact_order: currency map, TLD inference, USD conversion") {
    val f = g.resolve("mart_fact_order").cache()
    // fact drops offsets (mart_fact_order.sql output): key rows by the raw
    // product_currency instead, unique per (order, cart product) in fixtures
    val byCcy = f.select(col("order_id"), col("product_currency"), col("currency_code"),
        col("currency_status"), col("product_price_usd").cast("double"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap

    // o1/'$': ambiguous + co.uk host → GBP INFERRED. Reference semantics
    // (mart_fact_order.sql final CTE): the USD guard tests the PRE-coalesce
    // mapped code, so inference-resolved rows keep NULL USD measures even
    // though the FX join found a GBP rate.
    val gbp = byCcy(("o1", "$"))
    assert(gbp.getAs[String]("currency_code") === "GBP")
    assert(gbp.getAs[String]("currency_status") === "INFERRED")
    assert(gbp.get(4) == null)

    // o1/'€': clean EUR; 1234.56/0.8 — mapped pre-coalesce, USD computed
    val eur = byCcy(("o1", "€"))
    assert(eur.getAs[String]("currency_code") === "EUR")
    assert(eur.getAs[String]("currency_status") === "CLEAN")
    assert(math.abs(eur.getDouble(4) - 1543.2) < 1e-6)

    // o3/'kr': ambiguous + .se → SEK INFERRED → NULL USD (same guard)
    val sek = byCcy(("o3", "kr"))
    assert(sek.getAs[String]("currency_code") === "SEK")
    assert(sek.get(4) == null)

    // o4/'XYZ': unmapped → UNKNOWN, null code, null USD
    val unk = byCcy(("o4", "XYZ"))
    assert(unk.getAs[String]("currency_code") == null)
    assert(unk.getAs[String]("currency_status") === "UNKNOWN")
    assert(unk.get(4) == null)

    // o2 (null cart): survives to fact with null measures
    assert(f.filter(col("order_id") === "o2").count() === 1)
  }

  test("snapshot state feeds back across runs (SURVEY §7.4 risk 5)") {
    // run 1 produced the persisted snapshot; feed it into a second graph —
    // the SCD table must accept it as prior state and stay idempotent when
    // the same events arrive again.
    val snap1 = g.resolve("customer_email_scd")
    val g2 = Glamira.graph(spark, workDir + "_run2",
      GlamiraFixtures.summary(spark), GlamiraFixtures.productRaw(spark),
      GlamiraFixtures.ipLocationRaw(spark), GlamiraFixtures.fxSeed(spark),
      priorSnapshot = Some(snap1))
    val snap2 = g2.resolve("customer_email_scd")
    assert(snap2.count() === snap1.count())             // same batch → no-op
    assert(snap2.filter(col("dbt_valid_to").isNull).count() ===
      snap1.filter(col("dbt_valid_to").isNull).count())
  }

  test("with prior state the snapshot node is Scd2.snapshot over the feed") {
    val feed = Staging.customerEmailScdFeed(g.resolve("stg_order"), g.resolve("stg_customer"))
    val key = Seq("user_db_id", "email_address", "time_stamp")
    // day-1 state without o5, so the merge has one new version to open
    val prior = graft.operators.Scd2.firstRun(
      feed.filter(col("time_stamp") =!= 1700000400L), key, "event_ts")
    val g2 = Glamira.graph(spark, workDir + "_prior",
      GlamiraFixtures.summary(spark), GlamiraFixtures.productRaw(spark),
      GlamiraFixtures.ipLocationRaw(spark), GlamiraFixtures.fxSeed(spark),
      priorSnapshot = Some(prior))
    val got = g2.resolve("customer_email_scd")
    val want = graft.operators.Scd2.snapshot(prior, feed, key, "event_ts")
    assert(got.schema.fieldNames.toSeq === want.schema.fieldNames.toSeq)
    assert(got.collect().map(_.toString).sorted === want.collect().map(_.toString).sorted)
    assert(got.count() === prior.count() + 1)
  }

  test("fact FKs resolve: product_key and location_key joined") {
    val f = g.resolve("mart_fact_order")
    val withKey = f.filter(col("order_id") === "o1" && col("product_currency") === "$")
      .collect().head
    assert(withKey.getAs[Any]("product_key") != null)     // product 11 crawled
    assert(withKey.getAs[Any]("location_key") != null)    // ip 1.1.1.1 located
  }
}
