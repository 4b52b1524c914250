package graft.glamira

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The literal-map spellings the fact builds on (`applyCurrencyRules`,
  * `Marts.latestRates`) against the rule chains and joins they replace.
  */
class CurrencyRulesSpec extends SparkSpec {
  import CurrencyRules._

  private val urls: Seq[String] = Seq(
    "https://www.shop.co.uk/p/1",   // the co.uk rule, ahead of the TLD chain
    "https://shop.se/p/2",          // TLD hit
    "https://WWW.SHOP.DE/p/3",      // TLD hit after lower()
    "https://shop.com/p/4",         // TLD miss
    "https://localhost/p/5",        // no TLD at all
    "no-scheme.fr/p/6",             // no host extracted
    "",
    null)

  /** Every label and symbol key as written, upper-cased and padded, the
    * ambiguous pair in several spellings, blanks and misses; each crossed
    * with every URL above.
    */
  private def fixture: DataFrame = {
    val keys = cleanLower.keys.flatten.toSeq ++ cleanSymbols.keys
    val raws: Seq[String] = keys ++ keys.map(_.toUpperCase) ++ keys.map(k => s"  $k ") ++
      Seq(null, "", " ", "   ", "ЛВ.", "$", " $ ", "kr", "KR", " Kr ", "$$", "kr.",
        "XYZ", "eur", "us", "din ", "s/.. ")
    val rows = for ((raw, i) <- raws.zipWithIndex; (url, j) <- urls.zipWithIndex)
      yield Row(i * urls.length + j, raw, url)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("id", IntegerType), StructField("raw", StringType), StructField("url", StringType))))
  }

  private val outCols = Seq("id", "raw", "url", "currency_code_mapped", "currency_status",
    "url_host", "url_tld", "inferred_currency", "currency_status_final")

  test("applyCurrencyRules equals the rule chains row for row") {
    val df = fixture
    val host = urlHost(col("url"))
    val tld = urlTld(host)
    val code = currencyCode(col("raw"))
    val status = currencyStatus(col("raw"))
    val inferred = inferredCurrency(code, status, host, tld)
    val want = df.select(col("id"), col("raw"), col("url"),
      code.as("currency_code_mapped"), status.as("currency_status"),
      host.as("url_host"), tld.as("url_tld"), inferred.as("inferred_currency"),
      statusFinal(code, status, inferred).as("currency_status_final"))
    val got = applyCurrencyRules(df, col("raw"), col("url")).select(outCols.map(col): _*)

    assert(got.schema.map(f => f.name -> f.dataType) === want.schema.map(f => f.name -> f.dataType))
    val gotRows = got.collect().sortBy(_.getInt(0)).toSeq
    val wantRows = want.collect().sortBy(_.getInt(0)).toSeq
    assert(gotRows.length === wantRows.length)
    gotRows.zip(wantRows).foreach { case (g, w) => assert(g === w, s"raw='${w.get(1)}'") }

    // the fixture reaches every branch of the rules
    val finals = gotRows.map(_.getString(8)).toSet
    assert(finals === Set("CLEAN", "AMBIGUOUS", "INFERRED", "UNKNOWN"))
    def at(raw: String, url: String): Row =
      gotRows.find(r => r.getString(1) == raw && r.getString(2) == url).get
    assert(at("$", urls(0)).getString(7) === "GBP")      // co.uk
    assert(at("kr", urls(1)).getString(7) === "SEK")     // TLD hit
    assert(at("KR", urls(2)).getString(7) === "EUR")
    assert(at("$", urls(3)).getString(8) === "AMBIGUOUS") // TLD miss
    assert(at("kr", null).getString(8) === "AMBIGUOUS")
    assert(at("ЛВ.", null).getString(3) === "BGN")
    assert(at(" din.", null).getString(3) === "RSD")      // trimmed to 'din.'
    assert(at("s/. ", null).getString(3) === "PEN")
    assert(at(null, null).getString(4) === "UNKNOWN")
    assert(at("   ", null).getString(4) === "UNKNOWN")
  }

  /** The join spelling `Marts.latestRates` replaced: a self-join on a
    * broadcast scalar max.
    */
  private def latestRatesJoin(fx: DataFrame): DataFrame =
    fx.join(broadcast(fx.agg(max(col("fx_date")).as("mx"))), col("fx_date") === col("mx"))
      .drop("mx")

  test("latestRates keeps the max-fx_date rows, as the scalar-max join did") {
    def seed(rows: (String, String, java.lang.Double)*): DataFrame = {
      val rs = rows.map { case (d, ccy, rate) =>
        Row(Option(d).map(java.sql.Date.valueOf).orNull, "USD", ccy, rate) }
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 3), Schemas.fxSeed)
    }
    val cases = Seq(
      "several dates and a NULL date" -> seed(
        ("2026-01-20", "EUR", 0.95), (null, "JPY", 150.0), ("2026-01-22", "EUR", 0.8),
        ("2026-01-21", "GBP", 0.6), ("2026-01-22", "GBP", 0.5), ("2026-01-22", "SEK", null)),
      "only NULL dates" -> seed((null, "EUR", 0.9), (null, "GBP", 0.5)),
      "empty seed" -> seed())
    for ((name, fx) <- cases) {
      val got = Marts.latestRates(fx)
      val want = latestRatesJoin(fx)
      assert(got.schema === want.schema, name)
      assert(got.collect().map(_.toString).sorted.toSeq ===
        want.collect().map(_.toString).sorted.toSeq, name)
    }
    assert(Marts.latestRates(cases.head._2).count() === 3)
    assert(Marts.latestRates(cases(1)._2).isEmpty && Marts.latestRates(cases(2)._2).isEmpty)
  }
}
