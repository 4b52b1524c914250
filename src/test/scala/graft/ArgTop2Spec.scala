package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins [[graft.expr.ArgTop2]] value-for-value against the window spelling
  * it replaces (`row_number() OVER (ORDER BY ord DESC, id ASC) <= 2`),
  * with the data spread over many partitions so BOTH halves of the
  * DeclarativeAggregate algebra execute: updateExpressions inside each
  * partial and mergeExpressions across the exchange. The randomized case
  * plants duplicate ord values (the id tie-break path) and null ords (the
  * skip path); edge groups cover empty-after-nulls, single-row, and
  * exact-tie-at-the-top shapes the random draw could miss.
  */
class ArgTop2Spec extends SparkSpec {

  private def compare(rows: Seq[(Long, java.lang.Double, Long)]): Unit = {
    import spark.implicits._
    val df = rows.toDF("g", "ord", "id").repartition(7, col("id"))
    val agg = df.groupBy(col("g"))
      .agg(graft.expr.Native.vecArgTop2(col("ord"), col("id")).as("t2"))
      .select(col("g"), col("t2").getField("cell").as("cell"),
        col("t2").getField("cell2").as("cell2"))
    val w = Window.partitionBy(col("g")).orderBy(col("ord").desc, col("id").asc)
    val win = df.filter(col("ord").isNotNull)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .groupBy(col("g"))
      .agg(max(when(col("rn") === 1, col("id"))).as("cell"),
        max(when(col("rn") === 2, col("id"))).as("cell2"))
    val got = agg.collect().map(r => (r.getLong(0),
      Option(r.get(1)), Option(r.get(2)))).toSet
    val want = win.collect().map(r => (r.getLong(0),
      Option(r.get(1)), Option(r.get(2)))).toSet
    // groups whose every ord is null: the aggregate returns a null struct
    // row (group key still present); the window twin drops the group.
    val gotNonNull = got.filter(t => t._2.isDefined || t._3.isDefined)
    assert(gotNonNull === want, s"agg=$gotNonNull window=$want")
  }

  test("randomized groups match the row_number twin across partial merges") {
    val rnd = new scala.util.Random(20260814L)
    val rows = for {
      g <- 0L until 40L
      i <- 0 until (1 + rnd.nextInt(50))
    } yield {
      // quantized ords plant frequent exact ties; ~8% null ords
      val ord: java.lang.Double =
        if (rnd.nextInt(12) == 0) null
        else java.lang.Double.valueOf(rnd.nextInt(10) / 4.0)
      (g, ord, g * 1000L + i)
    }
    compare(rows)
  }

  test("edge groups: single row, all-null ords, top-tie, two rows") {
    compare(Seq(
      (1L, java.lang.Double.valueOf(0.5), 10L),                // single row → cell2 null
      (2L, null, 20L), (2L, null, 21L),                        // all null → null struct
      (3L, java.lang.Double.valueOf(1.0), 31L),                // exact top tie →
      (3L, java.lang.Double.valueOf(1.0), 30L),                //   id ASC breaks it
      (3L, java.lang.Double.valueOf(1.0), 32L),
      (4L, java.lang.Double.valueOf(0.1), 41L),
      (4L, java.lang.Double.valueOf(0.2), 40L)))
  }

  test("NaN ranks first, -0.0 ties 0.0 and ties break on the lower id, as in the window") {
    // GreaterThan and EqualTo on doubles follow Spark's ordering, the
    // row_number twin's: NaN above every number and equal to itself,
    // -0.0 equal to 0.0
    def d(v: Double): java.lang.Double = java.lang.Double.valueOf(v)
    compare(Seq(
      (1L, d(Double.NaN), 10L), (1L, d(0.7), 11L), (1L, d(0.9), 12L), (1L, d(Double.NaN), 13L),
      (2L, d(-0.0), 20L), (2L, d(0.0), 21L), (2L, d(-0.0), 22L), (2L, d(-0.5), 23L),
      (3L, d(1.0), 31L), (3L, d(1.0), 30L), (3L, d(Double.NaN), 32L), (3L, d(1.0), 29L),
      (4L, d(Double.NaN), 41L), (4L, d(Double.NaN), 40L),
      (5L, d(0.0), 51L), (5L, d(-0.0), 50L), (5L, d(-1.0), 52L)))
  }

  test("the aggregate plans as HashAggregate, never SortAggregate") {
    import spark.implicits._
    val df = Seq((1L, 0.5, 1L), (1L, 0.7, 2L)).toDF("g", "ord", "id")
      .groupBy(col("g"))
      .agg(graft.expr.Native.vecArgTop2(col("ord"), col("id")).as("t2"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"ArgTop2 must keep the HashAggregate fast path:\n$p")
  }
}
