package graft.lakebench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** What a workload's timed loop measured. Op latencies of failed ops are
  * left out of the latency lists and counted in `failed`. */
final case class LoopResult(
    untracedOpSeconds: Seq[Double],
    tracedOpSeconds: Seq[Double],
    attempted: Int,
    failed: Int,
    rows: Long,
    wallSeconds: Double,
    // workload-specific per-layer values (e.g. write amplification)
    extra: Map[String, Double] = Map.empty)

/** One benchmark workload. [[Main]] sets up several instances, each on its
  * own session and into a fresh directory, and keeps the last: on it it
  * calls [[warmUp]], then [[run]] once, then [[check]] against the
  * workload's own model of the expected outputs. */
trait Workload {
  /** Generate the inputs from `seed` and seed any store tables. */
  def setup(dir: String): Unit

  /** Untimed ops that compile and cache what every later op reuses. */
  def warmUp(): Unit

  /** Closed-loop run of about `seconds` of timed ops. When `tracer` is
    * enabled, part of the ops are traced and the rest measure the untraced
    * latency in the same run. */
  def run(seconds: Double, tracer: Tracer): LoopResult

  /** Mismatches between the engine's outputs and the model (empty = correct). */
  def check(): Seq[String]

  /** Sizes to compare with the store's cache limits. */
  def sizes(): Seq[(String, Double)]
}

object Workload {
  /** Run `cycle` for about `seconds`: at least `minCycles` times, then
    * again only while another cycle as long as the last one would end
    * within `seconds` and `cycle` reports inputs left. */
  def cycles(seconds: Double, minCycles: Int = 1)(cycle: => Boolean): Unit = {
    val start = System.nanoTime()
    var done = 0
    var more = true
    while (more) {
      val t0 = System.nanoTime()
      more = cycle
      done += 1
      val now = System.nanoTime()
      more = more && (done < minCycles || (now - start) + (now - t0) <= seconds * 1e9)
    }
  }

  /** Whether the n-th timed op of a traced run is traced: untraced,
    * traced, traced, untraced, repeated, so a warming trend over the run
    * favours neither side of the tracing-overhead comparison. */
  def tracedSlot(n: Int): Boolean = n % 4 == 1 || n % 4 == 2

  /** Bytes written through Hadoop's local file system since JVM start
    * (every store data, delete, segment, snapshot and ledger file). */
  def localBytesWritten(): Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)

  def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Store-cache occupancy of a set of tables: manifest entries (the
    * segment cache holds 500k), outstanding delete files (the delete-key
    * cache holds 256) and bloom sidecar bytes (the bloom cache holds
    * 256 MiB). */
  def storeSizes(spark: SparkSession, tables: Seq[graft.store.LakeTable]): Seq[(String, Double)] = {
    val snaps = tables.flatMap(_.currentSnapshot)
    Seq(
      "store.manifest_entries" -> snaps.map(_.entries.size).sum.toDouble,
      "store.manifest_entries_limit" -> 500000.0,
      "store.delete_files" -> snaps.map(_.deleteEntries.size).sum.toDouble,
      "store.delete_files_limit" -> 256.0,
      "store.bloom_bytes" -> tables.map(t => dirBytes(spark, s"${t.location}/blooms")).sum.toDouble,
      "store.bloom_bytes_limit" -> (256L << 20).toDouble)
  }
}
