package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The partition-width law, and the one place a query reads or sets the
  * session's shuffle-partition count. Every scale-derived partition count
  * is ⌈units / perPart⌉ clamped to [floor, cap]: the reference's
  * rows-per-chunk export rule (ETL/export_to_gcs.py:78), where the chunk
  * count grows with the data and each chunk stays the same size.
  *
  * Fixed splits (sink writers, range splits) take [[parts]] as is.
  * Exchange widths only widen the session: [[widen]] is `Some(n)` only
  * when the capped value is above the session's count. Gate corpora derive
  * below it, get `None`, and keep their plans; a session whose own setting
  * is higher keeps it, at any value.
  */
object Widths {

  /** Rows per partition of the pair scan's dominant exchanged side
    * (≈50–80 MB of packed-sketch UnsafeRows), and of exchanges that move
    * full embedding or probes-array rows (~300 B raw: the sketch⋈assignment
    * joins, the rescore). SCALE.md "the 10⁷ wall ATTRIBUTED" (round 17): at
    * these widths and the build width the probe side ran 458 partitions,
    * pair-join spill went 37 GB → 0 and the wall 1245.6 → 788.3 s.
    */
  val PAIR_PART_ROWS = 524288L
  val EMB_PART_ROWS = 262144L

  /** Estimated UnsafeRow width of one keyed ER exchange row, the (name,
    * blk) pair the blocking explode ships: 8 B null bitset + 2×8 B
    * offset-and-length words + ~24 B padded name + ~16 B padded key ≈ 64.
    * It only sizes partition counts, never results. Its effect at the
    * 10⁸-name tier it was added for has not been measured: the re-run needs
    * a ~24 GB heap (ROADMAP "carried over").
    */
  val ER_KEYED_ROW_BYTES = 64L

  /** Rows per chunk file of the unsorted chunk exports: the reference's
    * 5000 (export_to_gcs.py:78). SCALE.md "the derived chunk writers at
    * their first tiers" (round 12).
    */
  val CHUNK_ROWS = 5000L

  /** Rows per part of the sorted sink writers (SCALE.md "the derived sink
    * splits at their first tier", round 12), the s19 writer (SCALE.md "the
    * s19 export writer under a derived range split", round 11), and the
    * shard-export and SNM range splits.
    */
  val SHARD_PART_ROWS = 62500L

  /** Cap of a split whose parts are rows of a single-task side table (an
    * offsets window, a broadcast): ≈ shuffle.partitions × 10k rows.
    */
  val LEVEL2_CAP = 320000L

  /** Spark's own advisory partition size, for widths derived from bytes. */
  val ADVISORY_BYTES: Long = 64L << 20

  /** Cap of the widening exchange widths. The cap itself is unmeasured;
    * the widest measured width is the round-17 row's 458.
    */
  val WIDEN_CAP = 4096L

  /** ⌈units / perPart⌉, clamped to [floor, cap]. */
  def parts(units: Long, perPart: Long, floor: Long, cap: Long): Int =
    math.max(floor, math.min((units + perPart - 1) / perPart, cap)).toInt

  /** The session's configured shuffle-partition count. */
  def sessionParts(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt

  /** The widen-only form: [[parts]] capped at [[WIDEN_CAP]], when that is
    * above the session's count.
    */
  def widen(s: SparkSession, units: Long, perPart: Long): Option[Int] =
    Some(parts(units, perPart, 0L, WIDEN_CAP)).filter(_ > sessionParts(s))

  /** Bytes on disk under `paths` through the Hadoop file system (`.crc`
    * checksums do not count). An unreadable path is an error, not 0 bytes.
    */
  def onDiskBytes(s: SparkSession, paths: String*): Long = {
    val conf = s.sessionState.newHadoopConf()
    paths.map { p =>
      val path = new Path(p)
      try path.getFileSystem(conf).getContentSummary(path).getLength
      catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(s"cannot read the on-disk size of $p", e)
      }
    }.sum
  }

  /** Isolated child session with `parts` shuffle partitions: same context,
    * catalog and cache as `s`, own conf, so `s` never observes the setting.
    */
  def childSession(s: SparkSession, parts: Int): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s2
  }

  private val initialPartsLock = new Object

  /** Runs `f` with AQE's INITIAL partition count set to `width` (coalescing
    * then right-sizes each stage); `None` runs `f` unchanged. Set and
    * restore serialize on one lock, so concurrent builds never interleave
    * a stale restore.
    */
  def withInitialParts[T](s: SparkSession, width: Option[Int])(f: => T): T =
    width match {
      case None => f
      case Some(n) => initialPartsLock.synchronized {
        val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        val prev = s.conf.getOption(key)
        s.conf.set(key, n.toString)
        try f
        finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      }
    }
}
