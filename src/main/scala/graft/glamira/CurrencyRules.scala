package graft.glamira

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Currency normalization business logic, transcribed verbatim from
  * mart_fact_order.sql:21-121 (explicit-label map, symbol map, ambiguity
  * classification, URL-TLD inference for ambiguous '$'/'kr').
  */
object CurrencyRules {

  private[glamira] val cleanLower: Map[Seq[String], String] = Map(
    Seq("usd $", "usd", "us$", "us $") -> "USD",
    Seq("cad $") -> "CAD", Seq("au $") -> "AUD", Seq("sgd $") -> "SGD",
    Seq("nzd $") -> "NZD", Seq("hkd $") -> "HKD", Seq("mxn $") -> "MXN",
    Seq("cop $") -> "COP", Seq("dop $") -> "DOP", Seq("gtq q") -> "GTQ",
    Seq("pen s/.", "s/.", "s/. ") -> "PEN",
    Seq("clp") -> "CLP", Seq("uyu") -> "UYU", Seq("chf") -> "CHF",
    Seq("lei") -> "RON", Seq("ft") -> "HUF", Seq("kč") -> "CZK",
    Seq("zł") -> "PLN", Seq("лв.", "лв") -> "BGN", Seq("kn") -> "HRK",
    Seq("din.", " din.", "din") -> "RSD", Seq("r$") -> "BRL")

  private[glamira] val cleanSymbols: Map[String, String] = Map(
    "€" -> "EUR", "£" -> "GBP", "₺" -> "TRY", "₫" -> "VND", "₱" -> "PHP",
    "₹" -> "INR", "￥" -> "JPY", "₲" -> "PYG", "د.ك.‏" -> "KWD")

  private[glamira] val tldCurrency: Seq[(String, String)] = Seq(
    "uk" -> "GBP", "de" -> "EUR", "fr" -> "EUR", "es" -> "EUR", "it" -> "EUR",
    "au" -> "AUD", "ca" -> "CAD", "nz" -> "NZD", "sg" -> "SGD", "se" -> "SEK",
    "no" -> "NOK", "dk" -> "DKK", "ch" -> "CHF", "jp" -> "JPY", "mx" -> "MXN",
    "br" -> "BRL", "pl" -> "PLN", "nl" -> "EUR", "ie" -> "EUR", "be" -> "EUR",
    "in" -> "INR", "ph" -> "PHP", "vn" -> "VND", "pt" -> "EUR")

  def urlHost(currentUrl: Column): Column =
    lower(trim(coalesce(regexp_extract(currentUrl, "://([^/]+)", 1), lit(""))))

  def urlTld(host: Column): Column =
    regexp_extract(host, "\\.([a-z]{2,})$", 1)

  /** mart_fact_order.sql:21-65 — NULL when empty, unmapped, or ambiguous. */
  def currencyCode(raw: Column): Column = {
    val norm = lower(trim(raw))
    val t = trim(raw)
    val base = when(raw.isNull || t === "", lit(null).cast(StringType))
    val labeled = cleanLower.foldLeft(base) { case (acc, (keys, code)) =>
      acc.when(norm.isin(keys: _*), code)
    }
    val symboled = cleanSymbols.foldLeft(labeled) { case (acc, (sym, code)) =>
      acc.when(t === sym, code)
    }
    symboled
      .when(t === "$", lit(null).cast(StringType))
      .when(norm === "kr", lit(null).cast(StringType))
      .otherwise(lit(null).cast(StringType))
  }

  /** mart_fact_order.sql:67-81 — UNKNOWN / CLEAN / AMBIGUOUS. */
  def currencyStatus(raw: Column): Column = {
    val norm = lower(trim(raw))
    val t = trim(raw)
    when(raw.isNull || t === "", "UNKNOWN")
      .when(norm.isin(cleanLower.keys.flatten.toSeq: _*), "CLEAN")
      .when(t.isin(cleanSymbols.keys.toSeq: _*), "CLEAN")
      .when(t === "$", "AMBIGUOUS")
      .when(norm === "kr", "AMBIGUOUS")
      .otherwise("UNKNOWN")
  }

  /** mart_fact_order.sql:88-121 — TLD inference for AMBIGUOUS rows only;
    * 'co.uk' host suffix checked before the generic TLD chain.
    */
  def inferredCurrency(code: Column, status: Column, host: Column, tld: Column): Column = {
    val amb = status === "AMBIGUOUS"
    val base = when(code.isNotNull, code)
      .when(amb && host.endsWith("co.uk"), "GBP")
    tldCurrency.foldLeft(base) { case (acc, (t, ccy)) =>
      acc.when(amb && tld === t, ccy)
    }.otherwise(lit(null).cast(StringType))
  }

  /** mart_fact_order.sql:123-131. */
  /** The mart_fact_order.sql final-CTE USD-measure guard: NULL unless the
    * PRE-coalesce MAPPED code resolved (an AMBIGUOUS row rescued only by
    * TLD inference joins to a rate via the coalesced code but still emits
    * NULL USD) and an FX rate joined; otherwise amount/rate. Type-
    * polymorphic — the division result follows the input types, so the
    * production mart wraps it in DECIMAL(38,9) and the DOUBLE-boundary
    * gate in round(..., 6); ONE implementation of the guard either way.
    */
  def usdMeasure(mappedCode: Column, rate: Column, amount: Column): Column =
    when(mappedCode.isNull, lit(null))
      .when(rate.isNull, lit(null))
      .otherwise(amount / rate)

  def statusFinal(code: Column, status: Column, inferred: Column): Column =
    when(code.isNotNull, status)
      .when(status === "AMBIGUOUS" && inferred.isNotNull, "INFERRED")
      .otherwise(status)

  private def literalMap(pairs: Seq[(String, String)]): Column =
    map(pairs.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  // The rule tables as literal maps. Symbols carry no cased letters, so one
  // key space, lower(trim(raw)), covers both the label map (matched on
  // lower(trim)) and the symbol map (matched on trim).
  private val codeByKey: Column = literalMap(
    cleanLower.toSeq.flatMap { case (keys, code) => keys.map(_ -> code) } ++ cleanSymbols.toSeq)
  private val ccyByTld: Column = literalMap(tldCurrency)

  /** The full currency pipeline as literal-map lookups: adds
    * currency_code_mapped, currency_status, url_host, url_tld,
    * inferred_currency, currency_status_final, row for row equal to the
    * Column chains above (CurrencyRulesSpec pins it).
    */
  def applyCurrencyRules(df: org.apache.spark.sql.DataFrame, raw: Column,
                         url: Column): org.apache.spark.sql.DataFrame = {
    val norm = lower(trim(raw))
    val blank = raw.isNull || trim(raw) === ""
    val amb = col("currency_status") === "AMBIGUOUS"
    df.withColumn("currency_code_mapped",
        when(blank, lit(null).cast(StringType)).otherwise(codeByKey(norm)))
      .withColumn("currency_status",
        when(blank, "UNKNOWN")
          .when(col("currency_code_mapped").isNotNull, "CLEAN")
          .when(norm.isin("$", "kr"), "AMBIGUOUS")
          .otherwise("UNKNOWN"))
      .withColumn("url_host", urlHost(url))
      .withColumn("url_tld", urlTld(col("url_host")))
      .withColumn("inferred_currency",
        when(col("currency_code_mapped").isNotNull, col("currency_code_mapped"))
          .when(amb && col("url_host").endsWith("co.uk"), "GBP")
          .when(amb, ccyByTld(col("url_tld")))
          .otherwise(lit(null).cast(StringType)))
      .withColumn("currency_status_final",
        statusFinal(col("currency_code_mapped"), col("currency_status"), col("inferred_currency")))
  }

  // ---- DuckDB twins, generated from the SAME rule tables as the Column
  // chains above, so the full business map sits under the oracle gate and
  // cannot drift from the mart implementation. Branches are disjoint, so
  // map iteration order is immaterial.

  private def q(s: String): String = "'" + s.replace("'", "''") + "'"

  def urlHostSql(url: String): String =
    s"lower(trim(coalesce(regexp_extract($url, '://([^/]+)', 1), '')))"

  def urlTldSql(host: String): String =
    s"regexp_extract($host, '\\.([a-z]{2,})$$', 1)"

  def currencyCodeSql(raw: String): String = {
    val norm = s"lower(trim($raw))"
    val t = s"trim($raw)"
    val labeled = cleanLower.map { case (keys, code) =>
      s"WHEN $norm IN (${keys.map(q).mkString(", ")}) THEN ${q(code)}" }
    val syms = cleanSymbols.map { case (sym, code) =>
      s"WHEN $t = ${q(sym)} THEN ${q(code)}" }
    (Seq(s"CASE WHEN $raw IS NULL OR $t = '' THEN NULL") ++ labeled ++ syms ++
      Seq(s"WHEN $t = '$$' THEN NULL", s"WHEN $norm = 'kr' THEN NULL",
        "ELSE NULL END")).mkString("\n    ")
  }

  def currencyStatusSql(raw: String): String = {
    val norm = s"lower(trim($raw))"
    val t = s"trim($raw)"
    val allLower = cleanLower.keys.flatten.map(q).mkString(", ")
    val allSyms = cleanSymbols.keys.map(q).mkString(", ")
    s"""CASE WHEN $raw IS NULL OR $t = '' THEN 'UNKNOWN'
       |    WHEN $norm IN ($allLower) THEN 'CLEAN'
       |    WHEN $t IN ($allSyms) THEN 'CLEAN'
       |    WHEN $t = '$$' THEN 'AMBIGUOUS'
       |    WHEN $norm = 'kr' THEN 'AMBIGUOUS'
       |    ELSE 'UNKNOWN' END""".stripMargin
  }

  def inferredCurrencySql(code: String, status: String, host: String, tld: String): String = {
    val amb = s"$status = 'AMBIGUOUS'"
    val chain = tldCurrency.map { case (t, ccy) =>
      s"WHEN $amb AND $tld = ${q(t)} THEN ${q(ccy)}" }
    (Seq(s"CASE WHEN $code IS NOT NULL THEN $code",
      s"WHEN $amb AND $host LIKE '%co.uk' THEN 'GBP'") ++ chain ++
      Seq("ELSE NULL END")).mkString("\n    ")
  }

  def statusFinalSql(code: String, status: String, inferred: String): String =
    s"""CASE WHEN $code IS NOT NULL THEN $status
       |    WHEN $status = 'AMBIGUOUS' AND $inferred IS NOT NULL THEN 'INFERRED'
       |    ELSE $status END""".stripMargin
}
