package perfbench

import java.io.{File, FileInputStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct, sum}

import graft.SparkEntry
import graft.glamira.{Glamira, Marts, Schemas, Staging}
import graft.ingest.Normalize
import graft.operators.{Assertions, Merge, Scd2}
import graft.queries.ScratchCache
import graft.sources.Sinks

/** One benchmark run in one JVM: set up a session, run one workload as a
  * closed loop with a single client for at least the requested seconds,
  * check the outputs in an untimed pass, and write everything measured to
  * a JSON result file. `run.py` builds this, generates the inputs and
  * turns the result file into the benchmark's metrics.
  *
  * The engine is driven only through its public entry points:
  * `SparkEntry.queries`, `Glamira.graph` + `ModelGraph.resolve`,
  * `Normalize`, `Scd2` / `Merge` / `Assertions` and `Sinks`.
  */
object Harness {

  /** One timed operation: a registry query, or one nightly cycle. */
  final case class Op(name: String, pass: Int, traced: Boolean, seconds: Double,
                      cpuSeconds: Double, ok: Boolean, error: String, built: Int)

  final case class Pass(index: Int, traced: Boolean, seconds: Double)

  /** One nightly cycle's work dir, dbt violation counts and bytes written. */
  final class Cycle(val dir: String) {
    var violations: Map[String, Long] = Map.empty
    var bytesWritten = 0L
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val conf = new Properties()
    val in = new FileInputStream(args(0))
    try conf.load(in) finally in.close()
    def p(k: String): String = Option(conf.getProperty(k)).getOrElse(sys.error(s"missing config $k"))

    val workload = p("workload")
    val seed = p("seed").toLong
    val seconds = p("seconds").toDouble
    val trace = p("trace") == "1"
    val cores = p("cores").toInt
    val work = p("work")
    val mix = p("mix").split(",").toSeq.filter(_.nonEmpty)

    // Every name is validated before anything is timed: a renamed query
    // must stop the run here, not after the window has been spent.
    val unknown = (mix ++ p("check").split(",").filter(_.nonEmpty) :+ "q1_agg")
      .filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"names not in SparkEntry.queries: ${unknown.mkString(",")}")
    setupLog("registry checked")

    val spark = session(cores, work)
    setupLog("session ready")
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    // the fixed warm-up action on a tiny input ends set-up
    SparkEntry.queries("q1_agg")(spark, p("tiny")).write.format("noop").mode("overwrite").save()
    val readyMs = System.currentTimeMillis()
    val setupCpuS = cpuBean.getProcessCpuTime / 1e9
    setupLog("warm-up done")

    val tracer = new Tracer(sc)
    val counters = new Counters
    val planning = new Planning
    var current = spark
    // The listener bus is asynchronous: it is drained before a listener is
    // removed, so no event of the traced work is lost.
    def attach(on: Boolean): Unit = if (on != tracer.enabled) {
      if (on) { sc.addSparkListener(counters); current.listenerManager.register(planning) }
      else {
        org.apache.spark.PerfbenchListenerBus.drain(sc)
        sc.removeSparkListener(counters)
        current.listenerManager.unregister(planning)
      }
      tracer.enabled = on
    }

    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val cycles = mutable.ArrayBuffer.empty[Cycle]

    def timed(name: String, pass: Int)(body: => Unit): Unit = {
      val before = sc.getPersistentRDDs.size
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val err =
        try { tracer.span(s"op:$name")(body); "" }
        catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      // per-query scratch persists are harness bookkeeping, as in graft.Bench
      ScratchCache.drain()
      ops += Op(name, pass, tracer.enabled, dt, cpu, err.isEmpty, err,
        (sc.getPersistentRDDs.size - before).max(0))
    }

    def registryOp(s: SparkSession, name: String, dir: String): Unit = {
      val df = tracer.span("queries.build")(SparkEntry.queries(name)(s, dir))
      tracer.span("queries.action")(df.write.format("noop").mode("overwrite").save())
    }

    // The window is whole passes and lasts at least `seconds`; past 100 s
    // no new pass starts, which keeps a run inside its time limit. In a
    // trace run every pass is traced.
    def windowDone(spent: Double, wall: Double): Boolean = spent >= seconds || wall > 100.0

    val data = p("data")
    val windowStart = System.nanoTime()
    var spent = 0.0
    var i = 0
    attach(trace)
    while (i == 0 || !windowDone(spent, (System.nanoTime() - windowStart) / 1e9)) {
      i += 1
      tracer.pass = i
      val first = ops.size
      workload match {
        case "adhoc_marts" =>
          order(mix, seed, i).foreach(n => timed(n, i)(registryOp(current, n, data)))
        case "corpus_curation" =>
          // every pass starts cold: a fresh session owns fresh CorpusCache
          // entries, and nothing persisted by the last pass survives
          sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache()
          if (tracer.enabled) {
            org.apache.spark.PerfbenchListenerBus.drain(sc)
            current.listenerManager.unregister(planning)
          }
          current = spark.newSession()
          if (tracer.enabled) current.listenerManager.register(planning)
          order(mix, seed, i).foreach(n => timed(n, i)(registryOp(current, n, data)))
        case "nightly_dag" =>
          val c = new Cycle(s"$work/cycle-$i")
          cycles += c
          timed("cycle", i) {
            val (violations, dir) = cycle(current, tracer, data, c.dir)
            c.violations = violations
            c.bytesWritten = du(new File(dir))
          }
        case other => sys.error(s"unknown workload $other")
      }
      val dt = ops.drop(first).map(_.seconds).sum
      spent += dt
      passes += Pass(i, tracer.enabled, dt)
    }
    val windowWall = (System.nanoTime() - windowStart) / 1e9
    val peakRssMb = peakRss() / 1024.0
    val cacheBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    log(s"window done: ${passes.size} passes, ${ops.size} ops")

    // ---- trace overhead: a short warm slice of the workload's own calls,
    // run untraced and traced in ABBA order so that the JIT's warming
    // between neighbours cancels out of the traced/untraced ratio ---------
    val overhead = mutable.ArrayBuffer.empty[(Boolean, Double)]
    if (trace) {
      tracer.pass = 0
      val slice: () => Unit = workload match {
        case "nightly_dag" => () =>
          typedIngest(current, tracer, s"$data/countly_summary_day2.parquet", s"$work/slice/summary")
        case _ => () => registryOp(current, mix.head, data)
      }
      // untimed calls first: the first ones after the window still warm up
      val warmStart = System.nanoTime()
      while ((System.nanoTime() - warmStart) / 1e9 < 2.0) { slice(); ScratchCache.drain() }
      val sliceStart = System.nanoTime()
      var quartets = 0
      while (quartets < 2 || (quartets < 200 && (System.nanoTime() - sliceStart) / 1e9 < 6.0)) {
        Seq(false, true, true, false).foreach { on =>
          attach(on)
          val t0 = System.nanoTime()
          slice()
          overhead += ((on, (System.nanoTime() - t0) / 1e9))
          ScratchCache.drain()
        }
        quartets += 1
      }
    }
    attach(false)

    // ---- untimed check pass -------------------------------------------
    val checks = mutable.LinkedHashMap.empty[String, Any]
    workload match {
      case "nightly_dag" =>
        val expect = conf.stringPropertyNames.asScala.filter(_.startsWith("expect."))
          .map(k => k.stripPrefix("expect.") -> conf.getProperty(k)).toMap
        cycles.zipWithIndex.foreach { case (c, k) =>
          val got = scala.util.Try(nightlyActuals(spark, c.dir)).getOrElse(Map.empty) ++
            c.violations.map { case (t, n) => s"dbt.$t" -> n.toString }
          val want = expect ++ c.violations.keys.map(t => s"dbt.$t" -> "0")
          val bad = (if (c.violations.isEmpty) Seq("dbt tests did not run") else Nil) ++
            want.toSeq.sorted.collect {
              case (key, v) if !got.get(key).contains(v) =>
                s"$key: got ${got.getOrElse(key, "missing")}, want $v"
            }
          checks(s"cycle-${k + 1}") = Map("ok" -> bad.isEmpty, "mismatches" -> bad, "actual" -> got)
        }
      case _ =>
        val names = p("check").split(",").toSeq.filter(_.nonEmpty)
        val out = p("check_out")
        Files.createDirectories(Paths.get(out))
        names.foreach { n =>
          val err =
            try { SparkEntry.queries(n)(current, data).write.mode("overwrite").parquet(s"$out/$n"); "" }
            catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
          ScratchCache.drain()
          checks(n) = Map("ok" -> err.isEmpty, "error" -> err)
        }
        Files.writeString(Paths.get(s"$out/oracle_sql.json"),
          Json(names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap))
    }

    log("checks done")
    val phases = planning.synchronized(planning.phases.toList)
    val planMs = phases.groupMapReduce { case (ms, _) => tracer.at(ms) }(_._2)(_ + _)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "ready_epoch_ms" -> readyMs,
      "setup_cpu_s" -> setupCpuS,
      "stamp" -> Map(
        "cores" -> cores, "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "jdk" -> System.getProperty("java.vm.version"), "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "session_config" -> sessionConfig(cores).toMap),
      "window_wall_s" -> windowWall,
      "peak_rss_mb" -> peakRssMb,
      "corpus_cache_bytes" -> cacheBytes,
      "bytes_written_per_cycle" -> cycles.map(_.bytesWritten),
      "passes" -> passes.map(x => Map("pass" -> x.index, "traced" -> x.traced, "seconds" -> x.seconds)),
      "ops" -> ops.map(o => Map("name" -> o.name, "pass" -> o.pass, "traced" -> o.traced,
        "seconds" -> o.seconds, "cpu_s" -> o.cpuSeconds, "ok" -> o.ok, "error" -> o.error,
        "built" -> o.built)),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "pass" -> s.pass, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run" -> p("run_id"))),
      "span_counters" -> counters.snapshot.map { case (k, v) => k.toString -> v },
      "span_plan_ms" -> planMs.map { case (k, v) => k.toString -> v },
      "overhead" -> overhead.map { case (on, t) => Map("traced" -> on, "seconds" -> t) },
      "checks" -> checks)
    Files.writeString(Paths.get(p("out")), Json(result))
    spark.stop()
  }

  private def log(msg: String): Unit =
    System.err.println(s"[perfbench] ${java.time.Instant.now()} $msg")

  /** A set-up stage with the JVM's uptime and process CPU so far. */
  private def setupLog(stage: String): Unit =
    log(f"set-up: $stage%s, uptime ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s, " +
      f"process cpu ${cpuBean.getProcessCpuTime / 1e9}%.2f s")

  /** The fixed session config, mirroring graft.Bench. */
  def sessionConfig(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "8388608",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  private def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    sessionConfig(cores).foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
  }

  /** The mix in this pass's seeded order. */
  private def order(mix: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(mix)

  private val ModelNodes = Seq("customer_email_scd", "mart_dim_date", "mart_dim_location",
    "mart_dim_product", "mart_dim_customer", "mart_fact_order")

  private def typedIngest(s: SparkSession, t: Tracer, raw: String, out: String): DataFrame =
    t.span("ingest.typed_ingest") {
      Normalize.typedIngest(Normalize.repair(s.read.parquet(raw)), Schemas.countlySummary)
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

  /** One nightly run of the reference job over two days. Day 1: typed
    * ingest, the Glamira DAG node by node, the dbt tests, and the
    * date-partitioned fact write. Day 2: the delta's ingest, the SCD2
    * snapshot against day-1 state, and the merge into the day-1 fact.
    * Returns the dbt violation counts and the partitioned-write directory.
    */
  def cycle(s: SparkSession, t: Tracer, in: String, wd: String): (Map[String, Long], String) = {
    val product = s.read.parquet(s"$in/product.parquet")
    val ipLocation = s.read.parquet(s"$in/ip_location.parquet")
    val fx = s.read.parquet(s"$in/fx_seed.parquet")

    val summary1 = typedIngest(s, t, s"$in/countly_summary_day1.parquet", s"$wd/day1/summary")
    val g1 = Glamira.graph(s, s"$wd/day1/models", summary1, product, ipLocation, fx)
    val m = ModelNodes.map(n => n -> t.span(s"glamira.$n")(g1.resolve(n))).toMap
    val fact = m("mart_fact_order")

    val violations = t.span("operators.dbt_tests") {
      val nonNull = (c: String) => fact.filter(col(c).isNotNull)
      Map(
        "fact_item_key_unique" -> Assertions.unique(fact, Seq("item_key")),
        "fact_item_key_not_null" -> Assertions.notNull(fact, "item_key"),
        "fact_order_id_not_null" -> Assertions.notNull(fact, "order_id"),
        "fact_currency_status_accepted" -> Assertions.acceptedValues(fact, "currency_status",
          Seq("CLEAN", "AMBIGUOUS", "INFERRED", "UNKNOWN")),
        "fact_product_key_relationship" -> Assertions.relationships(
          nonNull("product_key"), "product_key", m("mart_dim_product"), "product_key"),
        "fact_customer_key_relationship" -> Assertions.relationships(
          nonNull("customer_key"), "customer_key", m("mart_dim_customer"), "customer_key"),
        "fact_location_key_relationship" -> Assertions.relationships(
          nonNull("location_key"), "location_key", m("mart_dim_location"), "location_key"),
        "dim_product_key_unique" -> Assertions.unique(m("mart_dim_product"), Seq("product_key")),
        "dim_customer_key_unique" -> Assertions.unique(m("mart_dim_customer"), Seq("customer_key")),
        "dim_location_key_unique" -> Assertions.unique(m("mart_dim_location"), Seq("location_key")),
        "dim_date_unique" -> Assertions.unique(m("mart_dim_date"), Seq("date")))
        .map { case (k, v) => k -> v.count() }
    }
    val factOut = s"$wd/day1/fact_by_date"
    t.span("sources.write")(Sinks.writePartitioned(fact, factOut, "date", Seq("order_id")))

    val summary2 = typedIngest(s, t, s"$in/countly_summary_day2.parquet", s"$wd/day2/summary")
    val g2 = Glamira.graph(s, s"$wd/day2/models", summary2, product, ipLocation, fx)
    val feed = Staging.customerEmailScdFeed(g2.resolve("stg_order"), g2.resolve("stg_customer"))
    t.span("operators.scd2_snapshot") {
      Scd2.snapshot(m("customer_email_scd"), feed,
        Seq("user_db_id", "email_address", "time_stamp"), "event_ts")
        .write.mode("overwrite").parquet(s"$wd/day2/customer_email_scd")
    }
    val fact2 = t.span("glamira.day2_fact") {
      Marts.martFactOrder(g2.resolve("stg_order"), fx, m("mart_dim_customer"), m("mart_dim_product"))
        .write.mode("overwrite").parquet(s"$wd/day2/fact_delta")
      s.read.parquet(s"$wd/day2/fact_delta")
    }
    t.span("operators.merge_upsert") {
      Merge.upsert(fact, fact2, Seq("item_key")).write.mode("overwrite").parquet(s"$wd/day2/fact_merged")
    }
    (violations, factOut)
  }

  /** What one nightly cycle produced, in the generator's expectation keys. */
  private def nightlyActuals(s: SparkSession, wd: String): Map[String, String] = {
    def read(rel: String) = s.read.parquet(s"$wd/$rel")
    val fact = read("day1/models/mart_fact_order")
    val agg = fact.agg(countDistinct(col("order_id")), sum(col("product_quantity")),
      sum(col("product_price"))).head()
    val byDate = read("day1/fact_by_date")
    Map(
      "fact_rows" -> fact.count().toString,
      "fact_orders" -> agg.getLong(0).toString,
      "fact_quantity_sum" -> agg.getLong(1).toString,
      "fact_price_sum" -> agg.getDecimal(2).setScale(9).toPlainString,
      "dim_product_rows" -> read("day1/models/mart_dim_product").count().toString,
      "dim_location_rows" -> read("day1/models/mart_dim_location").count().toString,
      "dim_date_rows" -> read("day1/models/mart_dim_date").count().toString,
      "scd_rows_day1" -> read("day1/models/customer_email_scd").count().toString,
      "scd_rows_day2" -> read("day2/customer_email_scd").count().toString,
      "merged_rows" -> read("day2/fact_merged").count().toString,
      "fact_dates" -> byDate.select("date").distinct().count().toString,
      "written_rows" -> byDate.count().toString)
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum else f.length()

  /** Peak resident set of this process in KiB (VmHWM), or 0 if unknown. */
  private def peakRss(): Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    }.getOrElse(0.0)
}
