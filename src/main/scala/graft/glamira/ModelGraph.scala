package graft.glamira

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** dbt-style model DAG (SURVEY §3.1): named nodes with ref() edges.
  *
  * "view" nodes return the unmaterialized plan — Catalyst fuses it into
  * every consumer, exactly as BigQuery inlines views. "table" nodes write
  * parquet under `workDir` and re-read, cutting the plan like a dbt table
  * materialization (and bounding recomputation + plan depth at scale).
  * A view with more than one consumer is planned, compiled and run once
  * per consumer, so a heavy one pays for a table instead (see `stg_order`
  * in [[Glamira.graph]]). Snapshot state is a table fed back across runs
  * (SURVEY §7.4 risk 5).
  *
  * The re-read passes the schema the node just wrote. Parquet stores that
  * Spark schema in its footer and a file read marks every field nullable
  * either way, so the frame equals an inferring `spark.read.parquet(path)`
  * (ModelGraphSpec pins it, nested and NTZ columns included) without the
  * footer-reading Spark job that inference starts.
  */
final class ModelGraph(spark: SparkSession, workDir: String) {

  sealed trait Mat
  case object View extends Mat
  case object Table extends Mat

  private case class Node(deps: Seq[String], build: Map[String, DataFrame] => DataFrame, mat: Mat)

  private val nodes = mutable.LinkedHashMap.empty[String, Node]
  private val cache = mutable.HashMap.empty[String, DataFrame]
  private val building = mutable.HashSet.empty[String]

  def view(name: String, deps: String*)(build: Map[String, DataFrame] => DataFrame): this.type = {
    nodes(name) = Node(deps, build, View); this
  }

  def table(name: String, deps: String*)(build: Map[String, DataFrame] => DataFrame): this.type = {
    nodes(name) = Node(deps, build, Table); this
  }

  /** Bind an external input (source table / persisted snapshot state). */
  def source(name: String, df: DataFrame): this.type = { cache(name) = df; this }

  def resolve(name: String): DataFrame = cache.getOrElseUpdate(name, {
    val node = nodes.getOrElse(name, sys.error(s"unknown model: $name"))
    if (!building.add(name)) sys.error(s"cycle at model: $name")
    try {
      val deps = node.deps.map(d => d -> resolve(d)).toMap
      val df = node.build(deps)
      node.mat match {
        case View => df
        case Table =>
          val path = s"$workDir/$name"
          df.write.mode("overwrite").parquet(path)
          spark.read.schema(df.schema).parquet(path)
      }
    } finally building.remove(name)
  })
}

/** The full Glamira DAG wired per the reference lineage
  * (images/glamira_datamodel.jpg; Modelling/README.md:25-35).
  */
object Glamira {

  /** Inputs: typed countly_summary, raw product JSON, ip_location, fx seed,
    * and (optional) previously-persisted snapshot state.
    */
  def graph(spark: SparkSession, workDir: String,
            summary: DataFrame, productRaw: DataFrame,
            ipLocationRaw: DataFrame, fxSeed: DataFrame,
            priorSnapshot: Option[DataFrame] = None): ModelGraph = {
    val g = new ModelGraph(spark, workDir)
    g.source("raw.countly_summary", summary)
    g.source("raw.product", productRaw)
    g.source("raw.ip_location", ipLocationRaw)
    g.source("seed.fx_to_usd", fxSeed)

    g.view("stg_location", "raw.ip_location")(d => Staging.stgLocation(d("raw.ip_location")))
    // a table, not the reference's view: its two consumers (the snapshot
    // feed and the fact) would each re-run the double explode, price parse,
    // item_key hash and location join, and compile them into their stages
    g.table("stg_order", "raw.countly_summary", "stg_location")(d =>
      Staging.stgOrder(d("raw.countly_summary"), d("stg_location")))
    g.view("stg_customer", "raw.countly_summary")(d => Staging.stgCustomer(d("raw.countly_summary")))
    g.view("stg_product", "raw.product")(d => Staging.stgProduct(d("raw.product")))

    // dbt's unique_key 'user|email|time_stamp' (customer_email_scd.sql:7):
    // the first run opens a version per row, later runs merge into the prior
    // state; only the branch in use is planned
    g.table("customer_email_scd", "stg_order", "stg_customer") { d =>
      val feed = Staging.customerEmailScdFeed(d("stg_order"), d("stg_customer"))
      val uniqueKey = Seq("user_db_id", "email_address", "time_stamp")
      priorSnapshot match {
        case Some(prior) => graft.operators.Scd2.snapshot(prior, feed, uniqueKey, "event_ts")
        case None => graft.operators.Scd2.firstRun(feed, uniqueKey, "event_ts")
      }
    }

    g.table("mart_dim_date")(_ => Marts.martDimDate(spark))
    g.table("mart_dim_location", "stg_location")(d => Marts.martDimLocation(d("stg_location")))
    g.table("mart_dim_product", "stg_product")(d => Marts.martDimProduct(d("stg_product")))
    g.table("mart_dim_customer", "stg_customer", "customer_email_scd")(d =>
      Marts.martDimCustomer(d("stg_customer"), d("customer_email_scd")))
    g.table("mart_fact_order", "stg_order", "seed.fx_to_usd", "mart_dim_customer", "mart_dim_product")(d =>
      Marts.martFactOrder(d("stg_order"), d("seed.fx_to_usd"),
        d("mart_dim_customer"), d("mart_dim_product")))
    g
  }
}
