package graft.util

import java.io.File

import org.apache.spark.sql.SparkSession

/** Input-proportional shuffle sizing.
  *
  * A fixed `spark.sql.shuffle.partitions` pinned to the core count is right
  * for the small-SF correctness runs but wrong at scale: the round-5 100×
  * bench showed the global quad dedup spilling at 32 partitions (~3 GB per
  * reducer, SCALE.md §12) while the PLAN was already the right shape — the
  * missing piece was exchange width tracking input volume.
  *
  * The fix is the AQE-native one: leave `spark.sql.shuffle.partitions` at
  * the core-count floor and raise
  * `spark.sql.adaptive.coalescePartitions.initialPartitionNum`
  * proportionally to the bytes under the input directory. Every exchange
  * then STARTS wide enough that no reducer sees more than a bounded slice
  * of the shuffle, and AQE coalesces the small exchanges (most of them)
  * back down to the floor at runtime — small queries keep small-query
  * scheduling overhead, the one big exchange keeps its width. In the RML
  * path that exchange is the source rows' hash exchange by subject when
  * the quad dedup is subject-clustered (`MappingCompiler.dedupQuads`; the
  * sort by subject and the per-subject dedup then run in its reducers, so
  * AQE sizes them by SOURCE-row bytes, not quad bytes, and a reducer's
  * dedup memory follows its largest subject), and the quad dedup's own
  * exchange otherwise. On a real cluster the same dial scales with executor count
  * × input size; here it scales with the SF directory.
  */
object ShuffleScaling {

  /** Input bytes steering one initial shuffle partition. Parquet inputs
    * decompress and widen (the RML pipeline explodes ~11 POMs of string
    * quads out of each source row), so shuffle bytes run 20–50× the
    * on-disk input; 4 MB of input per initial partition keeps the worst
    * exchange (~50×) near the 128–256 MB per-reducer sweet spot.
    */
  val BytesPerPartition: Long = 4L << 20

  /** Upper bound on initial partitions — past this, task-launch overhead
    * dominates on any plausible single-box run, and a real cluster would
    * raise the floor (cores) instead.
    */
  val MaxPartitions: Int = 4096

  /** Recursive byte count of regular files under `path` (0 if absent). */
  def inputBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.iterator.map(walk).sum).getOrElse(0L)
    walk(new File(path))
  }

  /** Initial-partition count for `bytes` of input: proportional, floored at
    * the session's core-count default, capped at [[MaxPartitions]].
    */
  def initialPartitions(bytes: Long, floor: Int): Int =
    math.min(MaxPartitions.toLong,
      math.max(floor.toLong, bytes / BytesPerPartition)).toInt

  /** Point the session's AQE initial partition number at the input rooted
    * at `dir`; returns the chosen count. The floor is the session's
    * current `spark.sql.shuffle.partitions`, so small inputs are a no-op.
    */
  def tuneFor(spark: SparkSession, dir: String): Int = {
    val floor = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val n = initialPartitions(inputBytes(dir), floor)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", n.toString)
    n
  }
}
