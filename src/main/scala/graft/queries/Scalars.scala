package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.expr.Native
import graft.functions.{Keys, LocaleNumeric}

/** Scalar-function operators (SURVEY.md §2.6). */
object Scalars {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Deterministic locale-junk price strings rebuilt identically in the
    * oracle: six variants per line keyed on l_linenumber % 6.
    */
  private[queries] def junkPrice(base: Column, variant: Column): Column =
    when(variant === 1, regexp_replace(base, "\\.", ","))         // 12345,67
      .when(variant === 2, regexp_replace(base, "\\.", "٫"))      // 12345٫67 (Arabic)
      .when(variant === 3, concat(lit(" "), base, lit(" ")))      // ' 12345.67 '
      .when(variant === 4, concat(lit("1."), regexp_replace(base, "\\.", ","))) // 1.12345,67 → dot-first branch
      .when(variant === 5, concat(lit("1,"), base))               // 1,12345.67 → comma-first branch
      .otherwise(base)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // X1: FARM_FINGERPRINT-style surrogate key over a '|'-joined COALESCE'd
    // pre-image (ref: stg_order.sql:88-102). Portable md5-based 64-bit key.
    "x1_surrogate_key" -> ((s, dir) => {
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        Keys.surrogateKey(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
          .as("item_key"))
    }),

    // X2: SAFE_CAST null-on-failure (ref: stg_order.sql:16,34-35).
    "x2_safe_cast" -> ((s, dir) => {
      val mixed = when(col("event_id") % 3 === 0, col("user_id").cast(StringType))
        .when(col("event_id") % 3 === 1, concat(lit("u"), col("user_id")))
        .otherwise(lit(""))
      Tables.events(s, dir)
        .withColumn("mixed", mixed)
        .select(col("event_id"), col("mixed"),
          col("mixed").try_cast(LongType).as("parsed"))
    }),

    // X3: SAFE.PARSE_NUMERIC + locale decimal repair (ref: stg_order.sql:37-61),
    // transcribed branch-for-branch in graft.functions.LocaleNumeric.
    "x3_locale_numeric" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .withColumn("base", dec(col("l_extendedprice")).cast(StringType))
        .withColumn("raw_price", junkPrice(col("base"), col("l_linenumber") % 6))
        .select(col("l_orderkey"), col("l_linenumber"), col("raw_price"),
          // DOUBLE at the output boundary: the exact DECIMAL(38,9) parse
          // renders trailing zeros that the driver's stringify-hash rejects
          LocaleNumeric.parseLocaleNumeric(col("raw_price")).cast(DoubleType).as("parsed_price"))
    }),

    // X4/X5/X6: epoch↔timestamp, date/year/month/day/hour derivations
    // (ref: stg_order.sql:8, mart_fact_order.sql:164-168, mart_dim_date.sql:10-12).
    "x4_time_derive" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"),
        unix_timestamp(col("ts")).as("epoch_s"),
        date_trunc("second", col("ts")).as("ts_sec"),
        to_date(col("ts")).as("event_date"),
        year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"), hour(col("ts")).as("h"))
    }),

    // X7: GENERATE_DATE_ARRAY + UNNEST date spine (ref: mart_dim_date.sql:3-13).
    "x7_date_spine" -> ((s, dir) => {
      s.range(1).select(explode(sequence(
          lit(java.sql.Date.valueOf("2015-01-01")),
          lit(java.sql.Date.valueOf("2020-12-31")),
          expr("interval 1 day"))).as("date"))
        .select(col("date"), year(col("date")).as("y"), month(col("date")).as("m"),
          dayofmonth(col("date")).as("d"))
    }),

    // X8: LOWER/TRIM/CONCAT/REPLACE/STRPOS/LENGTH/STARTS_WITH normalization
    // (ref: stg_location.sql:4-12, int_order_qa.sql:35).
    "x8_string_normalize" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        concat_ws("|", lower(trim(col("lang"))), col("source")).as("norm_key"),
        length(col("text")).as("text_len"),
        instr(col("text"), "spark").as("spark_pos"),
        col("text").startsWith("key").as("starts_key"),
        regexp_replace(col("source"), "src", "source_").as("source_renamed"))
    }),

    // X9: REGEXP_EXTRACT of URL host + TLD (ref: mart_fact_order.sql:18-19).
    "x9_regexp_extract" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("url",
          concat(lit("https://"), col("source"), lit(".example.com/p/"), col("doc_id")))
        .withColumn("host", regexp_extract(col("url"), "://([^/]+)", 1))
        .select(col("doc_id"), col("host"),
          regexp_extract(col("host"), "\\.([a-z]{2,})$", 1).as("tld"))
    }),

    // X10: REGEXP_CONTAINS predicates (ref: int_order_qa.sql:25-42).
    "x10_rlike_flags" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("is_src", col("source").rlike("^src[0-9]+$"))
        .withColumn("has_digit", col("text").rlike("[0-9]"))
        .groupBy(col("is_src"), col("has_digit"))
        .agg(count(lit(1)).as("n"))
    }),

    // X12: business CASE-chain mapping with fallback inference
    // (ref: mart_fact_order.sql:21-65 currency map + :88-121 TLD inference).
    "x12_case_chain" -> ((s, dir) => {
      // 'es' deliberately unmapped so the TLD-style inference fallback fires.
      val currency = when(col("lang") === "en", "USD")
        .when(col("lang") === "de", "EUR")
        .when(col("lang") === "fr", "EUR")
        .when(col("lang") === "zh", "CNY")
        .otherwise(lit(null).cast(StringType))
      // try_cast, not cast: a non-digit final character must fall through to
      // 'XXX' like the oracle's TRY_CAST, not abort the job under ANSI mode
      val inferred = coalesce(col("currency"),
        when(substring(col("source"), -1, 1).try_cast(IntegerType) % 2 === 0, "USD")
          .otherwise("XXX"))
      Tables.documents(s, dir)
        .withColumn("currency", currency)
        .withColumn("currency_final", inferred)
        .groupBy(col("currency_final")).agg(count(lit(1)).as("n"))
    }),

    // X13: decimal arithmetic + SAFE_DIVIDE (ref: stg_order.sql:131,
    // mart_fact_order.sql:191-201, audit_*.sql). Division in double with
    // round(…, 6): decimal division scale rules differ across engines,
    // IEEE double division does not.
    "x13_arithmetic" -> ((s, dir) => {
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        (dec(col("l_quantity")) * dec(col("l_extendedprice"))).cast(DoubleType).as("line_total"),
        (dec(col("l_discount")) + dec(col("l_tax"))).cast(DoubleType).as("disc_plus_tax"),
        round(dec(col("l_discount")).cast(DoubleType) /
          nullif(dec(col("l_tax")).cast(DoubleType), lit(0.0)), 6).as("disc_tax_ratio"))
    }),

    // X15: BETWEEN timestamp range sanity (ref: int_order_qa.sql:59-60).
    "x15_between_ts" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("ts").between(
          lit("2024-01-03 00:00:00").cast(TimestampType),
          lit("2024-01-05 23:59:59").cast(TimestampType)))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }),

    // X16: row stringification to JSON (ref: ETL/export_to_gcs.py:143-188).
    "x16_to_json" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"))).as("js"))
    }),

    // X17: higher-order array functions — filter / aggregate(fold) /
    // transform+max / sort+slice stay whole-stage-codegen'd Column
    // expressions (never a UDF), the per-row array never explodes.
    "x17_higher_order" -> ((s, dir) => {
      val toks = graft.functions.TextFns.rawTokens(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(filter(toks, t => length(t) > 4)).as("n_long_tokens"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("total_chars"),
        array_max(transform(toks, t => length(t))).as("max_token_len"),
        concat_ws("-", slice(array_sort(toks), 1, 3)).as("first3_sorted"))
    }),

    // X18: the Spark 4 VARIANT path — parse_json once into a binary
    // variant, then typed variant_get extractions. Unlike get_json_object
    // (string re-parse per path), the variant parses once and every
    // extraction is a typed struct walk — the semi-structured storage model
    // a 100 TB event pipeline wants. Gated through SQL expr(): the variant
    // itself never reaches the output schema (extractions are typed
    // scalars), so the parquet dump stays engine-portable.
    "x18_variant" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("vp", expr("parse_json(props)"))
        .select(col("event_id"),
          expr("variant_get(vp, '$.k', 'long')").as("k"),
          expr("variant_get(vp, '$.missing', 'long')").as("k_missing"),
          expr("schema_of_variant(vp)").as("v_schema"))
        .filter(col("event_id") % 10 === 0)
    }),

    // X19: the NATIVE farm_fingerprint expression under the hash gate.
    // x1_surrogate_key gates the portable md5-64 key because DuckDB cannot
    // compute farmhash; this gate closes the remaining proof gap by
    // pinning the codegen'd Catalyst expression itself against LITERAL
    // farmHashFingerprint64 reference values (the x18_variant literal-pin
    // pattern) over the fixed 25-row nation table — both the bare-string
    // form and the '|'-joined pre-image form production surrogate keys use
    // (ref: stg_order.sql:88-102). A regression anywhere in eval, codegen,
    // or the UTF-8 byte path flips the hash compare.
    "x19_farm_fingerprint" -> ((s, dir) => {
      Tables.nation(s, dir).select(
        col("n_nationkey"),
        Native.farmFingerprint(col("n_name")).as("fp_name"),
        Native.farmFingerprint(
          concat_ws("|", col("n_nationkey").cast(StringType), col("n_name")))
          .as("fp_key"))
    })
  )

  private def nullif(c: Column, v: Column): Column = when(c === v, lit(null)).otherwise(c)

  def oracleSql: Map[String, String] = Map(
    "x1_surrogate_key" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${Keys.duckdbSql(Seq("l_orderkey", "l_linenumber", "l_partkey"))} AS item_key
         |FROM lineitem""".stripMargin,

    "x2_safe_cast" ->
      """SELECT event_id, mixed, TRY_CAST(mixed AS BIGINT) AS parsed
        |FROM (SELECT event_id, CASE
        |  WHEN event_id % 3 = 0 THEN CAST(user_id AS VARCHAR)
        |  WHEN event_id % 3 = 1 THEN concat('u', user_id)
        |  ELSE '' END AS mixed FROM events)""".stripMargin,

    "x3_locale_numeric" ->
      s"""WITH j AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CASE (l_linenumber % 6)
         |      WHEN 1 THEN replace(base, '.', ',')
         |      WHEN 2 THEN replace(base, '.', '٫')
         |      WHEN 3 THEN concat(' ', base, ' ')
         |      WHEN 4 THEN concat('1.', replace(base, '.', ','))
         |      WHEN 5 THEN concat('1,', base)
         |      ELSE base END AS raw_price
         |  FROM (SELECT l_orderkey, l_linenumber,
         |          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS base
         |        FROM lineitem))
         |SELECT l_orderkey, l_linenumber, raw_price,
         |  CAST(${LocaleNumeric.duckdbSql("raw_price")} AS DOUBLE) AS parsed_price
         |FROM j""".stripMargin,

    "x4_time_derive" ->
      """SELECT event_id,
        |  CAST(floor(date_part('epoch', ts)) AS BIGINT) AS epoch_s,
        |  date_trunc('second', ts) AS ts_sec,
        |  CAST(ts AS DATE) AS event_date,
        |  CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m,
        |  CAST(day(ts) AS INTEGER) AS d, CAST(hour(ts) AS INTEGER) AS h
        |FROM events""".stripMargin,

    "x7_date_spine" ->
      """SELECT CAST(d AS DATE) AS date,
        |  CAST(year(d) AS INTEGER) AS y, CAST(month(d) AS INTEGER) AS m,
        |  CAST(day(d) AS INTEGER) AS d
        |FROM (SELECT unnest(generate_series(DATE '2015-01-01', DATE '2020-12-31',
        |  INTERVAL 1 DAY)) AS d)""".stripMargin,

    "x8_string_normalize" ->
      """SELECT doc_id,
        |  concat_ws('|', lower(trim(lang)), source) AS norm_key,
        |  CAST(length(text) AS INTEGER) AS text_len,
        |  CAST(strpos(text, 'spark') AS INTEGER) AS spark_pos,
        |  starts_with(text, 'key') AS starts_key,
        |  replace(source, 'src', 'source_') AS source_renamed
        |FROM documents""".stripMargin,

    "x9_regexp_extract" ->
      """SELECT doc_id,
        |  regexp_extract(url, '://([^/]+)', 1) AS host,
        |  regexp_extract(regexp_extract(url, '://([^/]+)', 1), '\.([a-z]{2,})$', 1) AS tld
        |FROM (SELECT doc_id, concat('https://', source, '.example.com/p/', doc_id) AS url
        |      FROM documents)""".stripMargin,

    "x10_rlike_flags" ->
      """SELECT regexp_matches(source, '^src[0-9]+$') AS is_src,
        |  regexp_matches(text, '[0-9]') AS has_digit, count(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin,

    "x12_case_chain" ->
      """SELECT coalesce(
        |    CASE WHEN lang = 'en' THEN 'USD'
        |         WHEN lang = 'de' THEN 'EUR'
        |         WHEN lang = 'fr' THEN 'EUR'
        |         WHEN lang = 'zh' THEN 'CNY' END,
        |    CASE WHEN TRY_CAST(substr(source, -1, 1) AS INTEGER) % 2 = 0
        |         THEN 'USD' ELSE 'XXX' END) AS currency_final,
        |  count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,

    "x13_arithmetic" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS line_total,
        |  CAST(CAST(l_discount AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE) AS disc_plus_tax,
        |  round(CAST(CAST(l_discount AS DECIMAL(18,2)) AS DOUBLE) /
        |    nullif(CAST(CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE), 0.0), 6) AS disc_tax_ratio
        |FROM lineitem""".stripMargin,

    "x15_between_ts" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-03 00:00:00' AND TIMESTAMP '2024-01-05 23:59:59'
        |GROUP BY event_type""".stripMargin,

    "x16_to_json" ->
      """SELECT event_id,
        |  to_json(struct_pack(event_id := event_id, user_id := user_id,
        |                      event_type := event_type)) AS js
        |FROM events""".stripMargin,

    "x17_higher_order" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(toks, t -> len(t) > 4)) AS INTEGER) AS n_long_tokens,
        |  CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS total_chars,
        |  CAST(list_max(list_transform(toks, t -> len(t))) AS INTEGER) AS max_token_len,
        |  array_to_string(list_sort(toks)[1:3], '-') AS first3_sorted
        |FROM t""".stripMargin,

    // the literal v_schema pins Spark's variant schema inference for the
    // corpus's uniform {"k": int} payload — a change in inference (or a
    // corpus drift) fails the hash compare
    "x18_variant" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.missing') AS BIGINT) AS k_missing,
        |  'OBJECT<k: BIGINT>' AS v_schema
        |FROM events WHERE event_id % 10 = 0""".stripMargin,

    // DuckDB has no farmhash; the oracle therefore carries the LITERAL
    // farmHashFingerprint64 reference values (computed out-of-band from
    // Guava's implementation, the same library BigQuery parity is pinned
    // to in FarmFingerprintSpec) joined back against the live nation table
    // so row presence still derives from the data, not the literal list.
    "x19_farm_fingerprint" ->
      """WITH exp(n_nationkey, fp_name, fp_key) AS (VALUES
        |  (0, CAST(4210427918795399827 AS BIGINT), CAST(7304011407864836663 AS BIGINT)),
        |  (1, -5399752347965891369, -5057967113123135761),
        |  (2, 865407350320067906, -1663754257158868734),
        |  (3, 3658362939161141792, -9001032866941766259),
        |  (4, -9215726740144356302, 1094167051938393732),
        |  (5, -64446467873277369, 6131138664666518471),
        |  (6, -5286468587901691800, -4656351038862417281),
        |  (7, -8385317787080201000, -2002749624808093205),
        |  (8, -2423759832413576607, -194489839794536306),
        |  (9, -4556024567122332949, 18145374016186418),
        |  (10, -6543248874084780775, 1640913122776742558),
        |  (11, -4033215346672109646, 3315333136388735405),
        |  (12, 8421928504110752284, 3576041832845829995),
        |  (13, 507033600632888216, 2862114497763699762),
        |  (14, -2224157361147434402, -5144075159930900499),
        |  (15, -6217368043180583979, -4952327760362386110),
        |  (16, 4036097040316457790, 8148198247809496191),
        |  (17, 2300591819391865906, -4759052487868992510),
        |  (18, -8759436104520094381, 349617794942849100),
        |  (19, -7607326709865506644, -6942438668356567015),
        |  (20, 1597049789855964846, -1636209975882421354),
        |  (21, 411098423061997854, -3518136126102293454),
        |  (22, -993055324354144135, -4467785430213481384),
        |  (23, -3962708045624151468, 3105432864641080076),
        |  (24, 4136373251785314357, 4013857099073123777))
        |SELECT n.n_nationkey, e.fp_name, e.fp_key
        |FROM nation n JOIN exp e ON n.n_nationkey = e.n_nationkey""".stripMargin
  )
}
