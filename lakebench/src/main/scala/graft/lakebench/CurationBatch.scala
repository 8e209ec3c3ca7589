package graft.lakebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Curation, Dedup}

/** `curation_batch`: one client, closed loop, LLM-data curation over
  * seeded synthetic documents with planted exact duplicates (case and
  * punctuation variants that normalize equal) and near-duplicates (about
  * one token in ten replaced). Each batch runs `exactDedup` →
  * `lshNearDuplicates` → `nearDupClusters` → `repetitionStats` +
  * `unigramLogLoss` into the noop sink. Kernel- and shuffle-heavy
  * operator work with no store I/O: a store change should not move it.
  * The check: the exact-duplicate count equals the planted count, and
  * every reported near-duplicate pair's Jaccard, recomputed here, is at
  * least the threshold. */
final class CurationBatch(spark: SparkSession, seed: Long) extends Workload {
  import CurationBatch._

  private final case class Batch(df: DataFrame, texts: Map[Long, String], exactDups: Int)

  private var batches: IndexedSeq[Batch] = IndexedSeq.empty
  private val mismatches = mutable.ArrayBuffer.empty[String]

  def setup(dir: String): Unit = {
    val rng = new Random(seed)
    val vocab = Vector.tabulate(Vocabulary)(i => word(i))
    val zipf = new Zipf(Vocabulary, 1.0, rng)
    var nextId = 0L
    batches = (0 until Batches).map { _ =>
      val originals = Vector.fill(Originals)(
        Vector.fill(MinTokens + rng.nextInt(MaxTokens - MinTokens))(vocab(zipf.next())))
      val exact = Vector.fill(ExactDups) {
        // same normalized text: some tokens capitalized, punctuation added
        originals(rng.nextInt(originals.size)).map { t =>
          val c = if (rng.nextInt(4) == 0) t.capitalize else t
          if (rng.nextInt(6) == 0) c + "," else c
        }
      }
      val near = Vector.fill(NearDups) {
        val src = originals(rng.nextInt(originals.size))
        val forced = rng.nextInt(src.size) // at least one token differs
        src.zipWithIndex.map { case (t, i) =>
          if (i == forced || rng.nextInt(10) == 0)
            Iterator.continually(vocab(zipf.next())).find(_ != t).get
          else t
        }
      }
      val docs = rng.shuffle(originals ++ exact ++ near).map { toks =>
        val id = nextId; nextId += 1
        id -> toks.mkString(" ")
      }
      val df = spark.createDataFrame(docs.map { case (id, t) => Row(id, t) }.asJava, DocSchema)
      Batch(df, docs.toMap, exact.size)
    }
    mismatches.clear()
  }

  /** One batch through the curation stages; returns the near-dup pairs. */
  private def process(b: Batch, tracer: Tracer): Seq[(Long, Long, Double)] = {
    val deduped = tracer.span("operators.exact_dedup") {
      Dedup.exactDedup(b.df).localCheckpoint()
    }
    val removed = b.texts.size - deduped.count()
    if (removed != b.exactDups)
      mismatches += s"exact dedup removed $removed documents, planted ${b.exactDups}"
    val pairs = tracer.span("operators.lsh_pairs") {
      Dedup.lshNearDuplicates(deduped, threshold = Threshold)
    }
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    tracer.count("operators.lsh_verified", got.size.toDouble)
    tracer.span("operators.clusters") {
      Dedup.nearDupClusters(pairs).write.format("noop").mode("overwrite").save()
    }
    tracer.span("operators.quality") {
      Curation.repetitionStats(deduped).write.format("noop").mode("overwrite").save()
      Curation.unigramLogLoss(deduped).write.format("noop").mode("overwrite").save()
    }
    got
  }

  private def checkPairs(b: Batch, pairs: Seq[(Long, Long, Double)]): Unit =
    pairs.foreach { case (a, c, j) =>
      val ta = b.texts(a).trim.split("\\s+").toSet
      val tc = b.texts(c).trim.split("\\s+").toSet
      val jaccard = (ta & tc).size.toDouble / (ta | tc).size
      if (jaccard < Threshold || math.abs(jaccard - j) > 1e-4)
        mismatches += s"pair ($a, $c): reported Jaccard $j, recomputed $jaccard"
    }

  def warmUp(): Unit =
    (0 until WarmUpBatches).foreach(i => checkPairs(batches(i), process(batches(i), Tracer.Off)))

  def run(seconds: Double, tracer: Tracer): LoopResult = {
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    var docs = 0L
    var n = 0
    var failed = 0
    def batch(): Unit = {
      val b = batches(WarmUpBatches + n)
      val traceThis = tracer.enabled && Workload.tracedSlot(n)
      val t0 = System.nanoTime()
      try {
        val pairs = if (traceThis) tracer.op("op.curation_batch")(process(b, tracer)) else process(b, Tracer.Off)
        (if (traceThis) traced else untraced) += (System.nanoTime() - t0) / 1e9
        docs += b.texts.size
        checkPairs(b, pairs)
        if (traceThis) tracer.count("operators.lsh_candidates",
          Dedup.lshNearDuplicates(Dedup.exactDedup(b.df), threshold = 0.0).count().toDouble)
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          mismatches += s"batch ${WarmUpBatches + n} failed: $e"
      }
      n += 1
    }
    val start = System.nanoTime()
    Workload.cycles(seconds) {
      (1 to BatchesPerCycle).foreach { _ => batch() }
      WarmUpBatches + n + BatchesPerCycle <= batches.size
    }
    LoopResult(untraced.toSeq, traced.toSeq, n, failed, docs, (System.nanoTime() - start) / 1e9)
  }

  def check(): Seq[String] = mismatches.take(20).toSeq

  def sizes(): Seq[(String, Double)] = Seq(
    "curation.docs_per_batch" -> (Originals + ExactDups + NearDups).toDouble,
    // (band, doc_id) rows the LSH band self-join shuffles per batch
    "curation.band_rows_per_batch" -> ((Originals + NearDups) * Bands).toDouble,
    "curation.broadcast_threshold_bytes" -> (10L << 20).toDouble)
}

object CurationBatch {
  val Originals = 800
  val ExactDups = 100
  val NearDups = 100
  /** Batches per timed cycle: whole cycles give every run the same batches'
    * share of warm and cold plans. */
  val BatchesPerCycle = 4
  val MinTokens = 40
  val MaxTokens = 90
  val Vocabulary = 5000
  val Threshold = 0.5
  /** `lshNearDuplicates`'s default band count. */
  val Bands = 4
  /** Untimed batches before the loop: after one, the next batches still
    * run about 20% slower while the JIT settles. */
  val WarmUpBatches = 2
  /** The warm-up batches and three cycles; a run normally ends on its
    * deadline first. */
  val Batches = WarmUpBatches + 3 * BatchesPerCycle

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** A pronounceable lowercase word for vocabulary index i. */
  private def word(i: Int): String = {
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val sb = new StringBuilder
    var x = i + 1
    while (x > 0) {
      sb += cons(x % cons.length); x /= cons.length
      sb += vows(x % vows.length); x /= vows.length
    }
    sb.toString
  }
}
