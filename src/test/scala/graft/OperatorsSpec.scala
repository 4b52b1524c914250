package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.functions.Keys
import graft.operators.{Assertions, Merge, Multimodal, Scd2}

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (Long, String, Long)*) =
    rows.toSeq.toDF("user_id", "email", "ts_us")
      .withColumn("updated_at", timestamp_micros($"ts_us"))

  test("dbt timestamp-strategy: change closes, stale ignored, new inserts") {
    val s1 = Scd2.firstRun(batch((1L, "a@x.com", 100L), (2L, "b@x.com", 100L)),
      Seq("user_id"), "updated_at")
    assert(s1.filter($"dbt_valid_to".isNull).count() === 2)

    val s2 = Scd2.snapshot(s1,
      batch((1L, "a2@x.com", 200L), (2L, "old@x.com", 50L), (3L, "c@x.com", 150L)),
      Seq("user_id"), "updated_at").cache()

    assert(s2.count() === 4)
    val u1 = s2.filter($"user_id" === 1).orderBy($"dbt_valid_from").collect()
    assert(u1.map(_.getAs[String]("email")).toSeq === Seq("a@x.com", "a2@x.com"))
    assert(u1.head.getAs[Any]("dbt_valid_to") != null)   // closed at v2's ts
    assert(u1.last.getAs[Any]("dbt_valid_to") == null)   // open
    // stale update rejected: user 2 unchanged, still open on original email
    val u2 = s2.filter($"user_id" === 2).collect()
    assert(u2.length === 1 && u2.head.getAs[String]("email") === "b@x.com"
      && u2.head.getAs[Any]("dbt_valid_to") == null)
    // new key open
    assert(s2.filter($"user_id" === 3 && $"dbt_valid_to".isNull).count() === 1)
  }

  test("one batch with several newer rows per key opens exactly one version") {
    val s1 = Scd2.firstRun(batch((1L, "a@x.com", 100L)), Seq("user_id"), "updated_at")
    val s2 = Scd2.snapshot(s1,
      batch((1L, "mid@x.com", 120L), (1L, "new@x.com", 150L)),
      Seq("user_id"), "updated_at").cache()
    assert(s2.count() === 2)   // original (closed) + latest incoming only
    val open = s2.filter($"dbt_valid_to".isNull).collect()
    assert(open.length === 1 && open.head.getAs[String]("email") === "new@x.com")
    val closed = s2.filter($"dbt_valid_to".isNotNull).collect()
    assert(closed.length === 1 && closed.head.getAs[String]("email") === "a@x.com")
  }

  test("duplicate incoming rows at one updated_at open one version and close the old at it") {
    val s1 = Scd2.firstRun(batch((1L, "a@x.com", 100L), (2L, "b@x.com", 100L)),
      Seq("user_id"), "updated_at")
    val s2 = Scd2.snapshot(s1,
      batch((1L, "new@x.com", 200L), (1L, "new@x.com", 200L), (1L, "new@x.com", 200L),
        (2L, "b@x.com", 100L), (2L, "b@x.com", 100L), (3L, "c@x.com", 150L), (3L, "c@x.com", 150L)),
      Seq("user_id"), "updated_at").cache()
    // key 1: one new open version, the old one closed at the duplicates' ts;
    // key 2: duplicates at the current updated_at are a no-op; key 3: one insert
    assert(s2.count() === 4)
    val u1 = s2.filter($"user_id" === 1).orderBy($"dbt_valid_from").collect()
    assert(u1.map(_.getAs[String]("email")).toSeq === Seq("a@x.com", "new@x.com"))
    assert(u1.head.getAs[java.sql.Timestamp]("dbt_valid_to") ===
      u1.last.getAs[java.sql.Timestamp]("dbt_valid_from"))
    assert(u1.last.getAs[Any]("dbt_valid_to") == null)
    assert(s2.filter($"user_id" === 2).count() === 1)
    assert(s2.filter($"user_id" === 3 && $"dbt_valid_to".isNull).count() === 1)
  }

  test("idempotent re-apply: same batch twice is a no-op") {
    val b = batch((1L, "a@x.com", 100L))
    val s1 = Scd2.firstRun(b, Seq("user_id"), "updated_at")
    val s2 = Scd2.snapshot(s1, b, Seq("user_id"), "updated_at")
    assert(s2.count() === 1 && s2.filter($"dbt_valid_to".isNull).count() === 1)
  }

  /** The earlier spelling of `Scd2.snapshot`, kept as the reference: the
    * superseded versions close through a left join of the current state
    * against the change rows' (_key, updatedAt), which plans the incoming
    * left join and its row_number window a second time.
    */
  private def snapshotByJoin(current: DataFrame, incoming: DataFrame,
                             uniqueKey: Seq[String], updatedAt: String): DataFrame = {
    val keyCol = Keys.preimage(uniqueKey.map(col)).as("_key")
    val cur = current.withColumn("_key", keyCol)
    val inc = incoming.withColumn("_key", keyCol)
    val curState = cur.filter($"dbt_valid_to".isNull)
      .select($"_key", $"dbt_updated_at".as("_cur_ts"))
    val latestW = Window.partitionBy($"_key").orderBy(col(updatedAt).desc)
    val incNew = inc.join(curState, Seq("_key"), "left")
      .filter($"_cur_ts".isNull || col(updatedAt) > $"_cur_ts")
      .drop("_cur_ts")
      .withColumn("_rn", row_number().over(latestW))
      .filter($"_rn" === 1)
      .drop("_rn")
    val changes = incNew
      .withColumn("dbt_scd_id", Keys.md5Key64(Keys.preimage(uniqueKey.map(col))))
      .withColumn("dbt_updated_at", col(updatedAt))
      .withColumn("dbt_valid_from", col(updatedAt))
      .withColumn("dbt_valid_to", lit(null).cast(TimestampType))
    val closeAt = incNew.select($"_key", col(updatedAt).as("_close_ts"))
    val curClosed = cur.join(closeAt, Seq("_key"), "left")
      .withColumn("dbt_valid_to",
        when($"dbt_valid_to".isNull && $"_close_ts".isNotNull
          && $"_close_ts" > $"dbt_updated_at", $"_close_ts")
          .otherwise($"dbt_valid_to"))
      .drop("_close_ts")
    curClosed.unionByName(changes.select(curClosed.columns.map(col): _*)).drop("_key")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("one window over current and changes closes exactly as the join-back did") {
    // day 1, then a day that closes user 1 and opens user 3: the current
    // state below holds a closed history row as well as open ones
    val s1 = Scd2.firstRun(batch((1L, "a@x.com", 100L), (2L, "b@x.com", 100L),
      (4L, "d@x.com", 100L)), Seq("user_id"), "updated_at")
    val cur = Scd2.snapshot(s1, batch((1L, "a2@x.com", 200L), (3L, "c@x.com", 150L)),
      Seq("user_id"), "updated_at").cache()
    assert(cur.filter($"dbt_valid_to".isNotNull).count() === 1)
    val cases = Seq(
      // a newer row closes the open version, not the closed history row
      "newer" -> batch((1L, "a3@x.com", 300L)),
      // stale and equal rows are no-ops
      "stale or equal" -> batch((2L, "old@x.com", 50L), (3L, "c@x.com", 150L)),
      // several new rows for one key open one version
      "several for one key" -> batch((4L, "d1@x.com", 120L), (4L, "d2@x.com", 180L),
        (4L, "d3@x.com", 160L), (5L, "e@x.com", 110L), (5L, "e2@x.com", 130L)),
      "mixed" -> batch((1L, "a4@x.com", 250L), (2L, "b2@x.com", 100L),
        (3L, "c2@x.com", 400L), (6L, "f@x.com", 10L)))
    cases.foreach { case (name, inc) =>
      val got = rows(Scd2.snapshot(cur, inc, Seq("user_id"), "updated_at"))
      val want = rows(snapshotByJoin(cur, inc, Seq("user_id"), "updated_at"))
      assert(got === want, name)
    }
  }

  test("the day-2 snapshot plans its row_number window once") {
    val s1 = Scd2.firstRun(batch((1L, "a@x.com", 100L), (2L, "b@x.com", 100L)),
      Seq("user_id"), "updated_at")
    val inc = batch((1L, "a2@x.com", 200L), (3L, "c@x.com", 150L))
    def rowNumberWindows(df: DataFrame): Int = {
      val p = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
      p.collect {
        case w: WindowExec if w.windowExpression.exists(_.toString.contains("row_number")) => w
      }.size
    }
    assert(rowNumberWindows(Scd2.snapshot(s1, inc, Seq("user_id"), "updated_at")) === 1)
    assert(rowNumberWindows(snapshotByJoin(s1, inc, Seq("user_id"), "updated_at")) === 2)
  }
}

class MergeSpec extends SparkSpec {
  import spark.implicits._

  test("upsert: overlap replaced, new appended, untouched kept") {
    val existing = Seq((1, "old"), (2, "old"), (3, "old")).toDF("k", "v")
    val incoming = Seq((2, "new"), (4, "new")).toDF("k", "v")
    val m = Merge.upsert(existing, incoming, Seq("k")).cache()
    assert(m.count() === 4)
    val vs = m.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(vs === Map(1 -> "old", 2 -> "new", 3 -> "old", 4 -> "new"))
  }

  test("sync_all_columns: incoming may add columns") {
    val existing = Seq((1, "old")).toDF("k", "v")
    val incoming = Seq((2, "new", "extra")).toDF("k", "v", "w")
    val m = Merge.upsert(existing, incoming, Seq("k"))
    assert(m.columns.toSet === Set("k", "v", "w"))
    assert(m.filter($"k" === 1).collect().head.getAs[Any]("w") == null)
  }

  test("applyCdc: latest version wins regardless of batch application order") {
    // the CDC-ingest property that ORDER-based upsert lacks: any
    // interleaving of change batches converges to the same table
    val b1 = Seq((1, "a", 1L), (2, "a", 1L)).toDF("k", "v", "ver")
    val b2 = Seq((2, "b", 2L), (3, "b", 2L)).toDF("k", "v", "ver")
    val empty = b1.limit(0)
    def table(df: org.apache.spark.sql.DataFrame): Map[Int, (String, Long)] =
      df.collect().map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    val fwd = table(Merge.applyCdc(Merge.applyCdc(empty, b1, Seq("k"), "ver"), b2, Seq("k"), "ver"))
    val rev = table(Merge.applyCdc(Merge.applyCdc(empty, b2, Seq("k"), "ver"), b1, Seq("k"), "ver"))
    val one = table(Merge.applyCdc(empty, b1.unionByName(b2), Seq("k"), "ver"))
    val want = Map(1 -> ("a", 1L), 2 -> ("b", 2L), 3 -> ("b", 2L))
    assert(fwd === want && rev === want && one === want)
  }
}

class AssertionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq((1, "a"), (1, "b"), (2, null), (3, "c")).toDF("id", "v")

  test("unique: reports duplicated keys with counts") {
    val viol = Assertions.unique(df, Seq("id")).collect()
    assert(viol.length === 1 && viol.head.getInt(0) === 1 && viol.head.getLong(1) === 2)
    assert(Assertions.passed(Assertions.unique(df.filter($"id" =!= 1), Seq("id"))))
  }

  test("not_null / accepted_values / relationships") {
    assert(Assertions.notNull(df, "v").count() === 1)
    assert(Assertions.acceptedValues(df, "v", Seq("a", "b", "c")).count() === 1) // the null
    val parent = Seq(1, 2).toDF("pk")
    assert(Assertions.relationships(df, "id", parent, "pk").count() === 1)      // id=3 orphan
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("binary payload plumbing: schema, determinism, null handling") {
    val docs = Seq((0L, "hello world", "en", "src0", 11L),
        (1L, "audio blob", "en", "src1", 10L),
        (2L, "video blob", "en", "src2", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.mediaFromDocuments(docs)
    assert(media.schema.fieldNames.toSeq ===
      Seq("media_id", "media_type", "payload", "meta_json"))

    val out = Multimodal.decode(media).cache()
    assert(out.schema === Multimodal.decodedSchema)
    assert(out.count() === 3)
    val img = out.filter($"media_type" === "image").collect().head
    assert(img.getAs[Boolean]("ok") && img.getAs[Int]("width") >= 64)
    val audio = out.filter($"media_type" === "audio").collect().head
    assert(audio.getAs[Int]("width") === 0 && audio.getAs[Int]("n_frames") > 0)
    // deterministic: second run identical
    assert(Multimodal.decode(media).collect().toSet === out.collect().toSet)
  }

  test("empty payload decodes as not-ok, no crash") {
    val media = Seq((9L, "image", Array.empty[Byte], "{}"))
      .toDF("media_id", "media_type", "payload", "meta_json")
    val out = Multimodal.decode(media).collect().head
    assert(!out.getAs[Boolean]("ok") && out.getAs[Int]("n_bytes") === 0)
  }

  test("PngDecoder: a REAL ImageIO decode through the production seam") {
    val png = Multimodal.syntheticPng(42L, 9, 5)
    assert(png.length > 8 &&
      (png.take(4).map(_ & 0xff).toSeq === Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt)))
    val media = Seq(
        (42L, "image", png, "{}"),
        (43L, "image", "not a png".getBytes("UTF-8"), "{}"))
      .toDF("media_id", "media_type", "payload", "meta_json")
    val out = Multimodal.decode(media, Multimodal.PngDecoder)
      .collect().map(r => r.getLong(0) -> r).toMap
    // true dimensions recovered from the compressed stream
    assert(out(42L).getAs[Boolean]("ok") &&
      out(42L).getAs[Int]("width") === 9 && out(42L).getAs[Int]("height") === 5)
    // garbage bytes are not-ok, no crash
    assert(!out(43L).getAs[Boolean]("ok"))
    // pixel fidelity via the stats path: formula mean for id=42, 9x5
    val stats = Multimodal.decodeImageStats(
        Seq((42L, png)).toDF("media_id", "payload"))
      .collect().head
    val expected = (for (x <- 0 until 9; y <- 0 until 5)
      yield ((42L * 31 + x * 7 + y * 13) % 256).toDouble).sum / 45
    assert(math.abs(stats.getAs[Double]("mean_px") - expected) < 1e-9)
  }

  test("WavDecoder: a REAL AudioSystem decode through the production seam") {
    val wav = Multimodal.syntheticWav(7L, 250)
    assert(new String(wav.take(4), "US-ASCII") === "RIFF")
    val media = Seq(
        (7L, "audio", wav, "{}"),
        (8L, "audio", "not audio".getBytes("UTF-8"), "{}"))
      .toDF("media_id", "media_type", "payload", "meta_json")
    val out = Multimodal.decode(media, Multimodal.WavDecoder)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(7L).getAs[Boolean]("ok") && out(7L).getAs[Int]("n_frames") === 250)
    assert(!out(8L).getAs[Boolean]("ok"))
    // sample fidelity via the stats path: formula mean for id=7, n=250
    val stats = Multimodal.decodeAudioStats(
        Seq((7L, wav)).toDF("media_id", "payload")).collect().head
    val expected = (0 until 250).map(t => (7L * 131 + t * 17) % 65536 - 32768).sum.toDouble / 250
    assert(math.abs(stats.getAs[Double]("mean_amp") - expected) < 1e-9)
  }

  test("GifDecoder: multi-frame animated GIF parsed through the production seam") {
    val gif = Multimodal.syntheticGif(5L, 6, 4, 5)
    assert(new String(gif.take(3), "US-ASCII") === "GIF")
    val media = Seq(
        (5L, "video", gif, "{}"),
        (6L, "video", Array[Byte](1, 2, 3), "{}"))
      .toDF("media_id", "media_type", "payload", "meta_json")
    val out = Multimodal.decode(media, Multimodal.GifDecoder)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(5L).getAs[Boolean]("ok") && out(5L).getAs[Int]("n_frames") === 5 &&
      out(5L).getAs[Int]("width") === 6 && out(5L).getAs[Int]("height") === 4)
    assert(!out(6L).getAs[Boolean]("ok"))
  }

  test("decoder seam: a plugged codec replaces the stub; open/close once per partition") {
    val media = (0L until 40L).map(i => (i, "image", Array[Byte](i.toByte), "{}"))
      .toDF("media_id", "media_type", "payload", "meta_json")
      .repartition(4)
    val out = Multimodal.decode(media, MultimodalSpec.FixedSizeDecoder).cache()
    // the plugged codec's output, not the stub's header-derived fake
    assert(out.select("width").distinct().collect().map(_.getInt(0)).toSeq === Seq(1234))
    assert(out.count() === 40)
    // lifecycle: exactly one open and one close per partition, none per row
    assert(MultimodalSpec.opens.get() === 4, s"opens=${MultimodalSpec.opens.get()}")
    assert(MultimodalSpec.closes.get() === 4, s"closes=${MultimodalSpec.closes.get()}")
  }
}

object MultimodalSpec {
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
  val closes = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stand-in for a real codec: fixed dimensions, lifecycle counted.
    * (local-mode executors share the JVM, so static counters observe the
    * per-partition open/close calls.)
    */
  object FixedSizeDecoder extends Multimodal.MediaDecoder {
    override def open(): Unit = { opens.incrementAndGet(); () }
    def decode(mediaType: String, payload: Array[Byte]): (Int, Int, Int, Boolean) =
      (1234, 5678, 1, true)
    override def close(): Unit = { closes.incrementAndGet(); () }
  }
}

class FarmFingerprintSpec extends SparkSpec {
  import spark.implicits._

  test("matches BigQuery FARM_FINGERPRINT on known values") {
    val got = Seq("abc", "", "glamira").toDF("s")
      .select(graft.expr.Native.farmFingerprint($"s")).as[Long].collect()
    // farmHashFingerprint64 reference values (BigQuery-compatible)
    assert(got(0) === 2640714258260161385L)
    assert(got(1) === com.google.common.hash.Hashing.farmHashFingerprint64()
      .hashBytes(Array.empty[Byte]).asLong())
    assert(got(2) === com.google.common.hash.Hashing.farmHashFingerprint64()
      .hashBytes("glamira".getBytes("UTF-8")).asLong())
  }

  test("null propagates; non-string input rejected at analysis") {
    val n = Seq[Option[String]](None).toDF("s")
      .select(graft.expr.Native.farmFingerprint($"s")).collect().head
    assert(n.isNullAt(0))
    intercept[Exception] {
      Seq(1).toDF("i").select(graft.expr.Native.farmFingerprint($"i")).collect()
    }
  }
}
