package graft.lakebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store.{LakeCatalog, LakeTable}

/** `lake_read`: one client, closed loop, reads against one store table of
  * [[TotalRows]] rows built through the write path over many commits
  * (one create, [[Appends]] appends, then merge-on-read upserts and
  * deletes whose delete files stay outstanding). The timed loop runs a
  * seeded, shuffled mix in cycles of 20 requests: 12 primary-key point
  * lookups and 2 two-partition range aggregates through
  * `readWhereCounted`, 4 time-travel aggregates through `readVersion` of
  * a version after the appends, 2 incremental aggregates through
  * `changes(from, to)` over a range that holds both appends. The drawn
  * versions and ranges vary the plan, not the rows a cycle covers. Every result is compared with
  * a replay model of the commits. The same store layer as `cdc_ingest`,
  * used for reads: a commit-path change should not move it, a
  * scan-planning change should. */
final class LakeRead(spark: SparkSession, seed: Long) extends Workload {
  import LakeRead._

  private val mix = Seq.fill(12)("lookup") ++ Seq.fill(2)("range") ++
    Seq.fill(4)("travel") ++ Seq.fill(2)("incremental")

  /** Model of one committed version. */
  private final case class Version(version: Long, count: Long, sum: Long,
      partCount: Array[Long], partSum: Array[Long], addedCount: Long, addedSum: Long)

  private var table: LakeTable = _
  // current model state: value per id, -1 for absent
  private var value: Array[Long] = _
  private var versions: IndexedSeq[Version] = IndexedSeq.empty
  // note of rows an upsert rewrote; created rows carry "n<id>"
  private val upsertedNote = mutable.Map.empty[Int, String]
  private val mismatches = mutable.ArrayBuffer.empty[String]

  private val seedMix = java.lang.Math.floorMod(seed, Modulus)
  private def baseValue(id: Long): Long = (id * 7919 + seedMix) % Modulus
  private def part(id: Long): Int = (id / RowsPerPart).toInt

  private def range(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id"),
      floor(col("id") / RowsPerPart).cast("int").as("part"),
      ((col("id") * 7919 + lit(seedMix)) % Modulus).as("v"),
      concat(lit("n"), col("id").cast("string")).as("note"))

  private def record(s: graft.store.Snapshot, added: Seq[Long]): Unit = {
    val pc = new Array[Long](Parts)
    val ps = new Array[Long](Parts)
    var i = 0
    while (i < value.length) {
      if (value(i) >= 0) { pc(part(i.toLong)) += 1; ps(part(i.toLong)) += value(i) }
      i += 1
    }
    versions :+= Version(s.version, pc.sum, ps.sum, pc, ps, added.size.toLong, added.sum)
  }

  def setup(dir: String): Unit = {
    val cat = new LakeCatalog(spark, s"$dir/warehouse")
    cat.createDatabase("bench")
    table = cat.table("bench.events")
    value = Array.fill(TotalRows)(-1L)
    versions = IndexedSeq.empty
    upsertedNote.clear()
    mismatches.clear()
    val rng = new Random(seed)

    val initial = TotalRows - Appends * AppendRows
    val created = table.createOrReplace(range(0, initial), partitionBy = Seq("part"))
    (0 until initial).foreach(i => value(i) = baseValue(i.toLong))
    record(created, Nil)
    (0 until Appends).foreach { a =>
      val from = initial + a * AppendRows
      val s = table.append(range(from, from + AppendRows))
      (from until from + AppendRows).foreach(i => value(i) = baseValue(i.toLong))
      record(s, (from until from + AppendRows).map(i => value(i)))
    }
    record(table.setProperties(Map(
      "write.merge.mode" -> "merge-on-read", "write.delete.mode" -> "merge-on-read")), Nil)
    (0 until MorCommits).foreach { m =>
      val ids = Iterator.continually(rng.nextInt(TotalRows)).filter(value(_) >= 0)
        .distinct.take(MorRows).toVector
      if (m % 2 == 0) {
        val rows = ids.map { i =>
          val v = value(i) + Modulus * (m + 1)
          Row(i.toLong, part(i.toLong), v, s"u$m-$i")
        }
        val s = table.upsert(spark.createDataFrame(rows.asJava, Schema), Seq("id"))
        ids.zip(rows).foreach { case (i, r) => value(i) = r.getLong(2); upsertedNote(i) = r.getString(3) }
        record(s, rows.map(_.getLong(2)))
      } else {
        val keys = spark.createDataFrame(ids.map(i => Row(i.toLong)).asJava,
          StructType(Seq(StructField("id", LongType))))
        val s = table.deleteMatching(keys, Seq("id"))
        ids.foreach { i => value(i) = -1L; upsertedNote.remove(i) }
        record(s, Nil)
      }
    }
  }

  private def expectedNote(id: Int): String = upsertedNote.getOrElse(id, s"n$id")

  /** One read request, checked against the model; returns the table rows
    * it covers by the model. */
  private def request(kind: String, rng: Random, tracer: Tracer): Long = kind match {
    case "lookup" =>
      val id = rng.nextInt(TotalRows)
      val got = scan(tracer, table.readWhereCounted(col("id") === id.toLong))(
        _.select("part", "v", "note").collect().toSeq)
      val want = if (value(id) < 0) Nil else Seq((part(id.toLong), value(id), expectedNote(id)))
      val have = got.map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
      if (have != want) mismatches += s"lookup id=$id: got $have, expected $want"
      want.size.toLong
    case "range" =>
      val lo = rng.nextInt(Parts - 1)
      val hi = lo + 1
      val cur = versions.last
      val got = scan(tracer, table.readWhereCounted(col("part").between(lo, hi)))(aggregate)
      val want = ((lo to hi).map(cur.partCount(_)).sum, (lo to hi).map(cur.partSum(_)).sum)
      if (got != want) mismatches += s"range part $lo..$hi: got $got, expected $want"
      want._1
    case "travel" =>
      val v = versions(1 + Appends + rng.nextInt(versions.size - 1 - Appends))
      val got = scan(tracer, (table.readVersion(v.version), 0, 0))(aggregate)
      if (got != ((v.count, v.sum))) mismatches += s"version ${v.version}: got $got, expected ${(v.count, v.sum)}"
      v.count
    case "incremental" =>
      val a = 0
      val b = Appends + rng.nextInt(versions.size - Appends)
      val in = versions.slice(a + 1, b + 1)
      val want = (in.map(_.addedCount).sum, in.map(_.addedSum).sum)
      val got = scan(tracer,
        (table.changes(versions(a).version, Some(versions(b).version)), 0, 0))(aggregate)
      if (got != want)
        mismatches += s"changes ${versions(a).version}..${versions(b).version}: got $got, expected $want"
      want._1
  }

  private def aggregate(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("v"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Plan (the call that returns the frame) and execute (the action) as
    * two spans; the plan's entry counts are recorded when it has them. */
  private def scan[T](tracer: Tracer, plan: => (DataFrame, Int, Int))(exec: DataFrame => T): T = {
    val (df, planned, total) = tracer.span("store.scan_plan")(plan)
    if (total > 0) {
      tracer.count("store.entries_planned", planned.toDouble)
      tracer.count("store.entries_total", total.toDouble)
    }
    tracer.span("store.scan_exec")(exec(df))
  }

  def warmUp(): Unit = {
    val rng = new Random(seed ^ 0x3a2b)
    mix.distinct.foreach(k => request(k, rng, Tracer.Off))
  }

  def run(seconds: Double, tracer: Tracer): LoopResult = {
    val rng = new Random(seed ^ 0x5eed)
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var n = 0
    var failed = 0
    val start = System.nanoTime()
    // whole cycles only, so every run holds the mix in the same proportions
    Workload.cycles(seconds) {
      rng.shuffle(mix).foreach { kind =>
        val traceThis = tracer.enabled && Workload.tracedSlot(n)
        val t0 = System.nanoTime()
        try {
          rows += (if (traceThis) tracer.op(s"op.$kind")(request(kind, rng, tracer))
                   else request(kind, rng, Tracer.Off))
          (if (traceThis) traced else untraced) += (System.nanoTime() - t0) / 1e9
        } catch {
          case scala.util.control.NonFatal(e) =>
            failed += 1
            mismatches += s"$kind request failed: $e"
        }
        n += 1
      }
      true
    }
    LoopResult(untraced.toSeq, traced.toSeq, n, failed, rows, (System.nanoTime() - start) / 1e9)
  }

  def check(): Seq[String] = {
    val cur = versions.last
    val got = aggregate(table.read)
    (if (got != ((cur.count, cur.sum))) Seq(s"final table: got $got, expected ${(cur.count, cur.sum)}")
     else Nil) ++ mismatches.take(20)
  }

  def sizes(): Seq[(String, Double)] =
    Workload.storeSizes(spark, Seq(table)) ++ Seq(
      "lake_read.rows" -> versions.last.count.toDouble,
      "lake_read.versions" -> versions.size.toDouble)
}

object LakeRead {
  val TotalRows = 1000000
  val Appends = 2
  val AppendRows = 100000
  val MorCommits = 3
  val MorRows = 2000
  val Parts = 16
  val RowsPerPart = TotalRows / Parts
  private val Modulus = 100003L

  private val Schema = StructType(Seq(
    StructField("id", LongType), StructField("part", IntegerType),
    StructField("v", LongType), StructField("note", StringType)))
}
