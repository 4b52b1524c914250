package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins [[graft.expr.ArgTopN]] value-for-value against the window spelling
  * it replaces (`row_number() OVER (ORDER BY ord DESC, id ASC) <= cap`),
  * with the data spread over many partitions (repartition(7)) so BOTH
  * imperative paths execute: the per-row sorted-insert in update() inside
  * each partial, and merge()'s cross-exchange buffer blend (each ≤cap
  * partial buffer's entries re-insert into the final buffer — the path a
  * single-partition run never touches), with the randomized case running
  * at several capacities and group sizes that straddle the buffer width
  * from both sides so null-padded and overflowing buffers both merge.
  */
class ArgTopNSpec extends SparkSpec {

  // the score as its bits, so NaN equals itself and -0.0 differs from 0.0
  private def row(r: org.apache.spark.sql.Row): (Long, Long, Long, Long) =
    (r.getLong(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3))

  private def compare(rows: Seq[(Long, java.lang.Double, Long)], cap: Int): Unit = {
    import spark.implicits._
    val df = rows.toDF("g", "ord", "id").repartition(7, col("id"))
    val got = df.groupBy(col("g"))
      .agg(graft.expr.Native.vecArgTopN(col("ord"), col("id"), lit(cap)).as("tops"))
      .select(col("g"), posexplode(col("tops")).as(Seq("pos", "t")))
      .filter(col("t").isNotNull)
      .select(col("g"), (col("pos") + 1).cast("long").as("rn"),
        col("t").getField("cs").as("cs"), col("t").getField("cid").as("cid"))
      .collect().map(row).toSet
    val w = Window.partitionBy(col("g")).orderBy(col("ord").desc, col("id").asc)
    val want = df.filter(col("ord").isNotNull)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= cap)
      .select(col("g"), col("rn").cast("long"), col("ord"), col("id"))
      .collect().map(row).toSet
    assert(got === want, s"cap=$cap agg=${got.size} window=${want.size} " +
      s"diff=${(got diff want).take(5)} / ${(want diff got).take(5)}")
  }

  test("randomized groups match the row_number twin at several capacities") {
    val rnd = new scala.util.Random(20260816L)
    for (cap <- Seq(2, 3, 8, 16)) {
      val rows = for {
        g <- 0L until 30L
        // group sizes straddle the capacity from both sides, so both the
        // null-padded and the overflowing buffer shapes merge
        i <- 0 until (1 + rnd.nextInt(2 * cap + 4))
      } yield {
        // quantized ords plant frequent exact ties; ~8% null ords
        val ord: java.lang.Double =
          if (rnd.nextInt(12) == 0) null
          else java.lang.Double.valueOf(rnd.nextInt(8) / 4.0)
        (g, ord, g * 1000L + i)
      }
      compare(rows, cap)
    }
  }

  test("edge groups: single row, all-null ords, top-tie, exactly-cap rows") {
    compare(Seq(
      (1L, java.lang.Double.valueOf(0.5), 10L),
      (2L, null, 20L), (2L, null, 21L),
      (3L, java.lang.Double.valueOf(1.0), 31L),
      (3L, java.lang.Double.valueOf(1.0), 30L),
      (3L, java.lang.Double.valueOf(1.0), 32L),
      (4L, java.lang.Double.valueOf(0.1), 43L),
      (4L, java.lang.Double.valueOf(0.2), 42L),
      (4L, java.lang.Double.valueOf(0.3), 41L),
      (4L, java.lang.Double.valueOf(0.4), 40L)), cap = 4)
  }

  test("NaN ranks first, -0.0 ties 0.0 and ties break on the lower id, as in the window") {
    // Spark's double ordering, the row_number twin's: NaN above every
    // number and equal to itself, -0.0 equal to 0.0
    def d(v: Double): java.lang.Double = java.lang.Double.valueOf(v)
    compare(Seq(
      (1L, d(Double.NaN), 10L), (1L, d(0.7), 11L), (1L, d(0.9), 12L), (1L, d(Double.NaN), 13L),
      (2L, d(-0.0), 20L), (2L, d(0.0), 21L), (2L, d(-0.0), 22L), (2L, d(0.5), 23L),
      (3L, d(1.0), 31L), (3L, d(1.0), 30L), (3L, d(Double.NaN), 32L), (3L, d(1.0), 29L),
      (4L, d(Double.NaN), 41L), (4L, d(Double.NaN), 40L),
      (5L, d(0.0), 51L), (5L, d(-0.0), 50L), (5L, d(-1.0), 52L)), cap = 3)
  }

  test("the aggregate plans as HashAggregate, never SortAggregate") {
    import spark.implicits._
    val df = Seq((1L, 0.5, 1L), (1L, 0.7, 2L)).toDF("g", "ord", "id")
      .groupBy(col("g"))
      .agg(graft.expr.Native.vecArgTopN(col("ord"), col("id"), lit(16)).as("tops"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"ArgTopN must keep the HashAggregate fast path:\n$p")
  }

  test("capacity must be a literal int within bounds") {
    import spark.implicits._
    val df = Seq((1L, 0.5, 1L)).toDF("g", "ord", "id")
    intercept[Exception] {
      df.groupBy(col("g"))
        .agg(graft.expr.Native.vecArgTopN(col("ord"), col("id"), col("id")).as("t"))
        .collect()
    }
    intercept[Exception] {
      df.groupBy(col("g"))
        .agg(graft.expr.Native.vecArgTopN(col("ord"), col("id"), lit(1)).as("t"))
        .collect()
    }
  }
}
