package graft.lakebench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.cdc.{CdcPipeline, DebeziumSchema, InMemorySchemaRegistry, PipelineContext}
import graft.functions.Transforms
import graft.ledger.Watermark
import graft.maintenance.{Maintenance, ProcessedTableTracker}
import graft.store.{CommitConflictException, LakeCatalog, LakeTable}
import graft.streaming.StreamRunner

/** Column kinds of the generated Debezium tables: how a value is put on
  * the wire, what the catalog stores, and how both are compared. */
private sealed trait Kind {
  def avro: String
  def sparkType: DataType
  /** Wire value → the comparable form the model keeps. */
  def expect(wire: Any): Any = wire
  /** Catalog column → the same comparable form. */
  def readBack(c: Column): Column = c
  /** Comparable form → a value for the raw seeding frame. */
  def rawType: DataType = sparkType
  def fromRaw(c: Column): Column = c
}

private object Kind {
  // Debezium ms/µs epoch timestamps are source wall-clock in Asia/Seoul
  // (UTC+9, no daylight saving since 1988); the engine shifts them to UTC
  private val SeoulMicros = 9L * 3600 * 1000 * 1000

  case object IntK extends Kind { val avro = "\"int\""; val sparkType = IntegerType }
  case object LongK extends Kind { val avro = "\"long\""; val sparkType = LongType }
  case object DoubleK extends Kind { val avro = "\"double\""; val sparkType = DoubleType }
  case object StrK extends Kind {
    val avro = """["null","string"]"""; val sparkType = StringType
  }
  case object DateK extends Kind {
    val avro = """{"type":"int","connect.version":1,"connect.name":"io.debezium.time.Date"}"""
    val sparkType = DateType
    override def readBack(c: Column): Column = unix_date(c)
    override def rawType: DataType = IntegerType
    override def fromRaw(c: Column): Column = date_from_unix_date(c)
  }
  case object TsMillisK extends Kind {
    val avro = """{"type":"long","connect.version":1,"connect.name":"io.debezium.time.Timestamp"}"""
    val sparkType = TimestampType
    override def expect(wire: Any): Any = wire.asInstanceOf[Long] * 1000 - SeoulMicros
    override def readBack(c: Column): Column = unix_micros(c)
    override def rawType: DataType = LongType
    override def fromRaw(c: Column): Column = timestamp_micros(c)
  }
  case object TsMicrosK extends Kind {
    val avro = """{"type":"long","connect.version":1,"connect.name":"io.debezium.time.MicroTimestamp"}"""
    val sparkType = TimestampType
    override def expect(wire: Any): Any = wire.asInstanceOf[Long] - SeoulMicros
    override def readBack(c: Column): Column = unix_micros(c)
    override def rawType: DataType = LongType
    override def fromRaw(c: Column): Column = timestamp_micros(c)
  }
  /** Kafka Connect decimal(12,2): big-endian unscaled bytes. */
  case object Dec12_2K extends Kind {
    val avro = """{"type":"bytes","scale":2,"precision":12,"connect.version":1,""" +
      """"connect.parameters":{"scale":"2","connect.decimal.precision":"12"},""" +
      """"connect.name":"org.apache.kafka.connect.data.Decimal","logicalType":"decimal"}"""
    val sparkType = DecimalType(12, 2)
    override def expect(wire: Any): Any = {
      val b = wire.asInstanceOf[ByteBuffer].duplicate()
      val bytes = new Array[Byte](b.remaining()); b.get(bytes)
      new java.math.BigDecimal(new java.math.BigInteger(bytes), 2).toPlainString
    }
    override def readBack(c: Column): Column = c.cast(StringType)
    override def rawType: DataType = StringType
    override def fromRaw(c: Column): Column = c.cast(sparkType)
  }
}

/** One generated Debezium topic and its target table. */
private final case class TopicSpec(
    topic: String,
    table: String,
    keyCols: Seq[String],
    cols: Seq[(String, Kind)],
    initialKeys: Int,
    // after-image field values (wire form) for key index k
    gen: (Int, Random) => Map[String, Any],
    keyValues: Int => Seq[Any],
    partitionBy: Seq[String] = Nil,
    properties: Map[String, String] = Map.empty,
    // value-schema version 2 adds this optional field
    bumpField: Option[String] = None) {

  val fqn: String = s"${CdcIngest.Service}_shop.$table"

  private def record(name: String, fields: Seq[String]): String =
    s"""{"type":"record","name":"$name","fields":[${fields.mkString(",")}]}"""

  val keySchemaJson: String = record("Key",
    keyCols.map(k => s"""{"name":"$k","type":${cols.toMap.apply(k).avro}}"""))

  def valueSchemaJson(version: Int): String = {
    val extra = if (version >= 2) bumpField.toSeq.map(f =>
      s"""{"name":"$f","type":["null","string"],"default":null}""") else Nil
    val value = record("Value", cols.map { case (n, k) =>
      if (k == Kind.StrK) s"""{"name":"$n","type":${k.avro},"default":null}"""
      else s"""{"name":"$n","type":${k.avro}}"""
    } ++ extra)
    s"""{"type":"record","name":"Envelope","namespace":"$topic","fields":[""" +
      s"""{"name":"before","type":["null",$value],"default":null},""" +
      s"""{"name":"after","type":["null","Value"],"default":null},""" +
      s"""{"name":"op","type":"string"},""" +
      s"""{"name":"ts_ms","type":["null","long"],"default":null}]}"""
  }

  /** Catalog columns the check compares, in catalog order. */
  def compared: Seq[(String, Column)] =
    cols.map { case (n, k) => n -> k.readBack(col(n)) } ++ Seq(
      "last_applied_date" -> unix_micros(col("last_applied_date")),
      "id_iceberg" -> col("id_iceberg"))

  def idIceberg(k: Int): String = CdcIngest.md5Hex(keyValues(k).map(_.toString).mkString("|"))

  /** Expected catalog row (comparable form) for an after-image. */
  def expectedRow(k: Int, after: Map[String, Any], tsMs: Long): Vector[Any] =
    cols.map { case (n, kind) => Option(after(n)).map(kind.expect).orNull }.toVector ++
      Vector(tsMs * 1000, idIceberg(k))
}

/** Kafka-shaped change events for one topic micro-batch. */
private final case class Batch(rows: java.util.List[Row], events: Int, payloadBytes: Long,
    minOffset: Long, maxOffset: Long,
    // the batch's events in offset order: (key index, op, after image, ts)
    applied: Seq[(Int, Char, Map[String, Any], Long)])

/** `cdc_ingest`: three Debezium topics on one session, three client
  * threads through `StreamRunner.runTopicsConcurrently`, one
  * pre-generated micro-batch per topic per round, `processBatch` per
  * batch. Zipf-skewed keys (hot keys repeat inside a batch, so the
  * offset-ordered dedup does work), ~60% updates / 25% creates / 15%
  * deletes, and one value-schema bump on `orders` so one batch carries
  * two schema ids. `orders` is partitioned copy-on-write, `items`
  * merge-on-read with position-delete compaction every
  * [[PositionDeleteEvery]] rounds, `customers` copy-on-write with a
  * composite key and decimal/timestamp Debezium types; compaction runs on
  * the rounds' tracked tables every [[CompactionEvery]] rounds, as the
  * daemon does. Round 1 warms the session up and is not timed. A cycle is
  * [[CompactionEvery]] rounds and the compaction after them. */
final class CdcIngest(spark: SparkSession, seed: Long) extends Workload {
  import CdcIngest._

  private val regions = Vector("apac", "emea", "latam", "namer")
  private val statuses = Vector("new", "paid", "packed", "shipped", "returned")

  private val specs: Seq[TopicSpec] = Seq(
    TopicSpec("dbz.shop.orders", "orders", Seq("order_id"),
      Seq("order_id" -> Kind.IntK, "customer_id" -> Kind.IntK, "status" -> Kind.StrK,
        "amount" -> Kind.DoubleK, "order_date" -> Kind.DateK, "region" -> Kind.StrK),
      initialKeys = 10000,
      gen = (k, r) => Map("order_id" -> k, "customer_id" -> r.nextInt(50000),
        "status" -> (if (r.nextInt(20) == 0) null else statuses(r.nextInt(statuses.size))),
        "amount" -> r.nextInt(1000000) / 100.0, "order_date" -> (19000 + r.nextInt(800)),
        // the partition value is a property of the key, never updated
        "region" -> regions(k % regions.size)),
      keyValues = k => Seq(k),
      partitionBy = Seq("region"),
      bumpField = Some("note")),
    TopicSpec("dbz.shop.items", "items", Seq("item_id"),
      Seq("item_id" -> Kind.LongK, "sku" -> Kind.StrK, "price" -> Kind.DoubleK,
        "qty" -> Kind.IntK, "updated_at" -> Kind.TsMillisK),
      initialKeys = 10000,
      gen = (k, r) => Map("item_id" -> itemId(k), "sku" -> s"sku-${r.nextInt(1 << 20)}",
        "price" -> r.nextInt(100000) / 100.0, "qty" -> r.nextInt(500),
        "updated_at" -> (BaseMillis + r.nextInt(1 << 30).toLong)),
      keyValues = k => Seq(itemId(k)),
      properties = Map("write.merge.mode" -> "merge-on-read",
        "write.delete.mode" -> "merge-on-read")),
    TopicSpec("dbz.shop.customers", "customers", Seq("region", "customer_no"),
      Seq("region" -> Kind.StrK, "customer_no" -> Kind.IntK, "name" -> Kind.StrK,
        "balance" -> Kind.Dec12_2K, "created_at" -> Kind.TsMicrosK, "birth_date" -> Kind.DateK),
      initialKeys = 6000,
      gen = (k, r) => Map("region" -> regions(k % regions.size), "customer_no" -> k / regions.size,
        "name" -> s"c${r.nextInt(1 << 24)}",
        "balance" -> ByteBuffer.wrap(java.math.BigInteger.valueOf(
          r.nextInt(2000000000).toLong - 1000000000L).toByteArray),
        "created_at" -> ((BaseMillis + r.nextInt(1 << 30).toLong) * 1000 + r.nextInt(1000)),
        "birth_date" -> (-3000 + r.nextInt(15000))),
      keyValues = k => Seq(regions(k % regions.size), k / regions.size)))

  private val topics = specs.map(_.topic)
  private val specByTopic = specs.map(s => s.topic -> s).toMap
  private val items = specs(1)

  // schema registry ids: key, value v1 (and v2 for the bumped topic) per topic
  private val keyIds = specs.zipWithIndex.map { case (s, i) => s.topic -> (10 * i + 1) }.toMap
  private def valueId(s: TopicSpec, version: Int): Int = keyIds(s.topic) + version
  private val registry = new InMemorySchemaRegistry(specs.flatMap { s =>
    Seq(keyIds(s.topic) -> s.keySchemaJson) ++
      (1 to (if (s.bumpField.isDefined) 2 else 1)).map(v => valueId(s, v) -> s.valueSchemaJson(v))
  }.toMap)

  // generated in setup
  private var catalog: LakeCatalog = _
  private var batches: Map[String, IndexedSeq[Batch]] = Map.empty
  private var initial: Map[String, Map[Int, Vector[Any]]] = Map.empty
  // what the engine was given and accepted, per topic, in order
  private val appliedBatches = new ConcurrentHashMap[String, mutable.ArrayBuffer[(Long, Batch)]]()

  def setup(dir: String): Unit = {
    catalog = new LakeCatalog(spark, s"$dir/warehouse")
    val rng = new Random(seed)
    initial = specs.map(s => s.topic -> seedTable(s, new Random(rng.nextLong()))).toMap
    batches = specs.map(s => s.topic -> generate(s, new Random(rng.nextLong()))).toMap
    Watermark.ensureWatermarkTables(catalog)
    appliedBatches.clear()
  }

  private def seedTable(s: TopicSpec, rng: Random): Map[Int, Vector[Any]] = {
    val rows = (0 until s.initialKeys).map(k => k -> s.gen(k, rng))
    val rawSchema = StructType(s.cols.map { case (n, k) => StructField(n, k.rawType) })
    val raw = rows.map { case (_, after) =>
      Row.fromSeq(s.cols.map { case (n, k) =>
        Option(after(n)).map(v => if (k.rawType == k.sparkType) v else k.expect(v)).orNull
      })
    }
    val df = spark.createDataFrame(raw.asJava, rawSchema)
      .select(s.cols.map { case (n, k) => k.fromRaw(col(n)).as(n) }: _*)
    val withMeta = Transforms.withPkHash(
      Transforms.withAuditColumn(df, timestamp_millis(lit(SeedMillis))), s.keyCols)
    catalog.createDatabase(s.fqn.takeWhile(_ != '.'))
    catalog.table(s.fqn).createOrReplace(withMeta, s.partitionBy,
      tableProperties = s.properties)
    rows.map { case (k, after) => k -> s.expectedRow(k, after, SeedMillis) }.toMap
  }

  /** Pre-generate [[MaxRounds]] micro-batches for one topic. */
  private def generate(s: TopicSpec, rng: Random): IndexedSeq[Batch] = {
    val keySchema = new Schema.Parser().parse(s.keySchemaJson)
    val valueSchemas = (1 to 2).map(v => v -> new Schema.Parser().parse(s.valueSchemaJson(v))).toMap
    val zipf = new Zipf(s.initialKeys, 1.1, rng)
    // rank → key, so hot keys spread over partitions
    val hot = rng.shuffle((0 until s.initialKeys).toVector)
    val live = mutable.Map.empty[Int, Map[String, Any]]
    (0 until s.initialKeys).foreach(k => live(k) = Map.empty) // images only needed for before
    val dead = mutable.ArrayBuffer.empty[Int]
    var nextKey = s.initialKeys
    var offset = 0L
    var ts = BaseMillis
    def pickLive(): Option[Int] =
      Iterator.continually(hot(zipf.next())).take(16).find(live.contains)
        .orElse(live.keysIterator.drop(rng.nextInt(live.size)).nextOption())
    (1 to MaxRounds).map { round =>
      // the warm-up round runs the same plans on fewer events
      val size = if (round == 1) WarmUpEvents else EventsPerBatch
      val rows = new java.util.ArrayList[Row](size)
      val applied = mutable.ArrayBuffer.empty[(Int, Char, Map[String, Any], Long)]
      var bytes = 0L
      val first = offset
      (0 until size).foreach { i =>
        val dice = rng.nextDouble()
        val (k, op) =
          if (dice < 0.60) pickLive().map(_ -> 'u').getOrElse(nextKey -> 'c')
          else if (dice < 0.85)
            (if (dead.nonEmpty && rng.nextBoolean()) dead.remove(dead.size - 1) else nextKey) -> 'c'
          else pickLive().map(_ -> 'd').getOrElse(nextKey -> 'c')
        if (k == nextKey) nextKey += 1
        val before = live.get(k)
        val after = if (op == 'd') None else Some(s.gen(k, rng))
        after match {
          case Some(a) => live(k) = a
          case None => live.remove(k); dead += k
        }
        ts += 1 + rng.nextInt(5)
        // the bump lands halfway through round 2: one batch, two schema ids
        val version =
          if (s.bumpField.isDefined && (round > 2 || (round == 2 && i >= size / 2))) 2 else 1
        val vs = valueSchemas(version)
        val key = encode(keySchema, s.keyCols.zip(s.keyValues(k)).toMap)
        val valueRec = new GenericData.Record(vs)
        val image = vs.getField("after").schema().getTypes.get(1)
        def rec(fields: Map[String, Any]): GenericRecord = {
          val r = new GenericData.Record(image)
          s.cols.foreach { case (n, _) => r.put(n, fields(n)) }
          r
        }
        before.filter(_.nonEmpty).foreach(b => valueRec.put("before", rec(b)))
        after.foreach(a => valueRec.put("after", rec(a)))
        valueRec.put("op", op.toString)
        valueRec.put("ts_ms", ts)
        val keyBytes = frame(keyIds(s.topic), key)
        val valueBytes = frame(valueId(s, version), encodeRecord(vs, valueRec))
        bytes += keyBytes.length + valueBytes.length
        rows.add(Row(keyBytes, valueBytes, s.topic, 0, offset, new Timestamp(ts), 0))
        applied += ((k, op, after.orNull, ts))
        offset += 1
      }
      Batch(rows, size, bytes, first, offset - 1, applied.toSeq)
    }
  }

  private def batchFrame(b: Batch): DataFrame =
    CdcPipeline.stripConfluentHeader(spark.createDataFrame(b.rows, KafkaSchema))

  private def context(s: TopicSpec, tracker: ProcessedTableTracker): PipelineContext =
    PipelineContext(catalog, registry, s.topic, DagId, Service, tracker = Some(tracker))

  private val tracker = new ProcessedTableTracker
  private val untraced = mutable.ArrayBuffer.empty[Double]
  private val traced = mutable.ArrayBuffer.empty[Double]
  private val skews = mutable.ArrayBuffer.empty[Double]
  private var attempted = 0
  private var failed = 0
  private var events = 0L
  private var payload = 0L

  def warmUp(): Unit = doRound(1, timed = false, traceThis = false, Tracer.Off)

  def run(seconds: Double, tracer: Tracer): LoopResult = {
    val start = System.nanoTime()
    val bytes0 = Workload.localBytesWritten()
    var round = 1
    var cycle = 0
    // whole cycles only: each holds the same mix of batches, position-delete
    // compactions and compactions; a traced run traces the middle one of
    // three, so the untraced cycles bracket it in time
    Workload.cycles(seconds, minCycles = if (tracer.enabled) 3 else 1) {
      (1 to CompactionEvery).foreach { _ =>
        round += 1
        doRound(round, timed = true, traceThis = tracer.enabled && cycle % 2 == 1, tracer)
      }
      cycle += 1
      round + CompactionEvery <= MaxRounds
    }
    val wall = (System.nanoTime() - start) / 1e9
    val written = Workload.localBytesWritten() - bytes0
    LoopResult(untraced.toSeq, traced.toSeq, attempted, failed, events, wall,
      Map("write_amp" -> written.toDouble / math.max(1L, payload),
        "store.bytes_written" -> written.toDouble,
        "streaming.round_skew" -> Stats.median(skews.toSeq)))
  }

  private def doRound(round: Int, timed: Boolean, traceThis: Boolean, tracer: Tracer): Unit = {
    val lat = new ConcurrentHashMap[String, java.lang.Double]()
    def roundOfTopics(): Seq[(String, Throwable)] =
      StreamRunner.runTopicsConcurrently(spark, topics, concurrency = 3) { topic =>
        val s = specByTopic(topic)
        val b = batches(topic)(round - 1)
        val t0 = System.nanoTime()
        if (traceThis) tracer.op("op.cdc_batch") { tracedBatch(s, b, round, tracker, tracer) }
        else {
          CdcPipeline.processBatch(batchFrame(b), round.toLong, context(s, tracker))
          // the gated position-delete compaction `runTopicStream` runs
          if (s == items && positionDeleteRound(round))
            Maintenance.runPositionDeleteCompaction(catalog, DagId, items.fqn)
        }
        lat.put(topic, (System.nanoTime() - t0) / 1e9)
        appliedBatches.computeIfAbsent(topic, _ => mutable.ArrayBuffer.empty)
          .synchronized(appliedBatches.get(topic) += (round.toLong -> b))
        ()
      }
    val errors =
      if (traceThis) tracer.span("streaming.round")(roundOfTopics()) else roundOfTopics()
    val ok = topics.filterNot(t => errors.exists(_._1 == t))
    errors.foreach { case (t, e) => System.err.println(s"round $round topic $t failed: $e") }
    if (timed) {
      attempted += topics.size
      failed += errors.size
      val secs = ok.map(t => lat.get(t).doubleValue)
      (if (traceThis) traced else untraced) ++= secs
      events += ok.map(t => batches(t)(round - 1).events).sum
      payload += ok.map(t => batches(t)(round - 1).payloadBytes).sum
      if (traceThis && secs.size == topics.size) skews += secs.max / Stats.median(secs)
    }
    // the daemon's compaction phase over the tables the cycle modified
    if (errors.isEmpty && round > 1 && (round - 1) % CompactionEvery == 0)
      tracker.getAndClear().toSeq.sorted.foreach { fqn =>
        if (traceThis) tracedCompaction(fqn, tracer)
        else Maintenance.runCompaction(catalog, DagId, fqn)
      }
  }

  /** `processBatch` step by step, in its order, with a span per step. */
  private def tracedBatch(s: TopicSpec, b: Batch, round: Int,
      tracker: ProcessedTableTracker, tr: Tracer): Unit = {
    val ctx = context(s, tracker)
    val table = catalog.table(s.fqn)
    val guard = tr.span("ledger.guard") {
      Watermark.lastCdcBatch(catalog, DagId, ctx.icebergSchema, ctx.icebergTable)
    }
    if (guard.exists(_ >= round)) return
    tr.count("cdc.events_in", b.events.toDouble)
    val startNs = System.nanoTime()
    val batchDf = batchFrame(b).persist(StorageLevel.MEMORY_AND_DISK)
    val stats = try {
      val (valueSchemas, keySchemas) = tr.span("cdc.resolve_schemas") {
        def ids(c: String) = batchDf.select(c).distinct().collect().map(_.getInt(0))
        (ids("value_schema_id").map(id => id -> registry.getSchema(id)).toMap,
          ids("key_schema_id").map(id => id -> registry.getSchema(id)).toMap)
      }
      for ((valueSchemaId, valueSchemaStr) <- valueSchemas.toSeq.sortBy(_._1)) {
        val slice = batchDf.filter(col("value_schema_id") === valueSchemaId)
        val keyRows = tr.span("cdc.resolve_schemas") {
          slice.select("key_schema_id").distinct().collect()
        }
        keyRows.headOption.flatMap(r => keySchemas.get(r.getInt(0))).foreach { keySchemaStr =>
          tr.count("cdc.version_splits", 1)
          // lazy, as in the pipeline: the decode runs in the store writes
          val sides = tr.span("cdc.transform") {
            CdcPipeline.transformAndDedup(slice, keySchemaStr, valueSchemaStr,
              DebeziumSchema.extract(valueSchemaStr), DebeziumSchema.keyColumns(keySchemaStr),
              table)
          }
          sides.foreach { case (up, del) =>
            storeWrite(table, "store.merge", up, s"upsert_view_${ctx.icebergTable}", tr) { v =>
              table.upsert(spark.table(s"global_temp.$v"), Seq("id_iceberg"))
            }
            storeWrite(table, "store.delete", del, s"delete_view_${ctx.icebergTable}", tr) { v =>
              table.deleteMatching(spark.table(s"global_temp.$v").select("id_iceberg"),
                Seq("id_iceberg"))
            }
          }
        }
      }
      tracker.mark(ctx.fullTableName)
      tr.span("cdc.batch_stats") {
        batchDf.agg(count(lit(1)),
          date_format(max("timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
          min("offset"), max("offset")).head()
      }
    } finally batchDf.unpersist()
    tr.span("ledger.append") {
      Watermark.appendCdcWatermark(catalog, DagId, ctx.icebergSchema, ctx.icebergTable,
        eventCount = stats.getLong(0),
        maxEventTs = Option(stats.getString(1)).map(Timestamp.valueOf),
        minOffset = Option(stats.get(2)).map(_.asInstanceOf[Long]),
        maxOffset = Option(stats.get(3)).map(_.asInstanceOf[Long]),
        batchId = Some(round.toLong),
        processingDurationSec = Some((System.nanoTime() - startNs) / 1e9))
    }
    if (s == items && positionDeleteRound(round)) {
      val before = tr.span("trace.snapshot") { table.currentSnapshot.get }
      tr.span("maintenance.position_delete") {
        Maintenance.runPositionDeleteCompaction(catalog, DagId, items.fqn)
      }
      tr.span("trace.snapshot") { maintenanceCounts(table, before, tr) }
    }
  }

  /** One store write as `applyCdcChanges` makes it: persist the side, skip
    * it when empty, stage it in a global temp view and write. The side's
    * row count and the commit's manifest changes are counted afterwards,
    * from the cache the write filled, under `trace.*` spans. */
  private def storeWrite(table: LakeTable, name: String, side: DataFrame, view: String,
      tr: Tracer)(write: String => Unit): Unit = {
    val cached = side.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (!tr.span("cdc.apply_probe")(cached.isEmpty)) {
        cached.createOrReplaceGlobalTempView(view)
        val before = tr.span("trace.snapshot") { table.currentSnapshot.get }
        try tr.span(name)(write(view))
        catch {
          case e: CommitConflictException => tr.count("store.commit_conflicts", 1); throw e
        }
        tr.span("trace.count") { tr.count("cdc.rows_out", cached.count().toDouble) }
        tr.span("trace.snapshot") {
          val after = table.currentSnapshot.get
          val oldDirs = before.entries.map(e => (e.dir, e.partition)).toSet
          val oldDels = before.deleteEntries.map(_.dir).toSet
          tr.count("store.commits", (after.version - before.version).toDouble)
          tr.count("store.data_files_added",
            after.entries.count(e => !oldDirs((e.dir, e.partition))).toDouble)
          tr.count("store.delete_files_added",
            after.deleteEntries.count(e => !oldDels(e.dir)).toDouble)
        }
      }
    } finally cached.unpersist(false)
  }

  private def tracedCompaction(fqn: String, tr: Tracer): Unit = {
    val table = catalog.table(fqn)
    val before = tr.span("trace.snapshot") { table.currentSnapshot.get }
    tr.span("maintenance.compaction") { Maintenance.runCompaction(catalog, DagId, fqn) }
    tr.span("trace.snapshot") { maintenanceCounts(table, before, tr) }
  }

  /** Entries and bytes a maintenance commit wrote in place of `before`'s. */
  private def maintenanceCounts(table: LakeTable, before: graft.store.Snapshot, tr: Tracer): Unit = {
    val after = table.currentSnapshot.get
    if (after.version != before.version) {
      val old = before.entries.map(e => (e.dir, e.partition)).toSet
      val fresh = after.entries.filterNot(e => old((e.dir, e.partition)))
      tr.count("maintenance.files_rewritten", fresh.size.toDouble)
      tr.count("maintenance.bytes_rewritten",
        fresh.map(e => Workload.dirBytes(spark, e.dataPath(table.location))).sum.toDouble)
    }
  }

  def check(): Seq[String] = {
    val tableIssues = specs.flatMap { s =>
      val model = mutable.Map.empty[Int, Vector[Any]] ++= initial(s.topic)
      val applied = Option(appliedBatches.get(s.topic)).map(_.toSeq).getOrElse(Nil)
      applied.foreach { case (_, b) =>
        // latest op per key by offset wins
        b.applied.foreach { case (k, op, after, ts) =>
          if (op == 'd') model.remove(k) else model(k) = s.expectedRow(k, after, ts)
        }
      }
      val expected = model.values.toSet
      val actual = catalog.table(s.fqn).read
        .select(s.compared.map { case (n, c) => c.as(n) }: _*)
        .collect().map(r => r.toSeq.toVector).toSeq
      val actualSet = actual.toSet
      val missing = expected.diff(actualSet)
      val extra = actualSet.diff(expected)
      Seq(
        if (actual.size != actualSet.size) Some(s"${s.fqn}: ${actual.size - actualSet.size} duplicate rows") else None,
        if (missing.nonEmpty || extra.nonEmpty)
          Some(s"${s.fqn}: ${missing.size} expected rows missing, ${extra.size} unexpected " +
            s"(e.g. missing ${missing.headOption}, unexpected ${extra.headOption})")
        else None).flatten
    }
    val ledger = catalog.table(Watermark.CdcTable).read
      .filter(col("dag_id") === DagId && col("batch_id").isNotNull)
      .select("table_name", "batch_id", "event_count", "min_offset", "max_offset")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    val ledgerIssues = specs.flatMap { s =>
      val got = ledger.filter(_._1 == s.table).map(r => (r._2, r._3, r._4, r._5)).sorted
      val want = Option(appliedBatches.get(s.topic)).map(_.toSeq).getOrElse(Nil)
        .map { case (id, b) => (id, b.events.toLong, b.minOffset, b.maxOffset) }.sorted
      if (got == want) None
      else Some(s"ledger for ${s.table}: ${got.size} rows, expected one per applied batch " +
        s"(${want.size}); first difference ${got.zipAll(want, null, null).find(p => p._1 != p._2)}")
    }
    tableIssues ++ ledgerIssues
  }

  def sizes(): Seq[(String, Double)] = {
    val maxBatch = batches.values.flatten.map(_.payloadBytes).maxOption.getOrElse(0L)
    Workload.storeSizes(spark, specs.map(s => catalog.table(s.fqn))) ++ Seq(
      "cdc.batch_payload_bytes_max" -> maxBatch.toDouble,
      "cdc.broadcast_threshold_bytes" -> (10L << 20).toDouble)
  }
}

object CdcIngest {
  val Service = "bench"
  val DagId = "lakebench"
  val EventsPerBatch = 1000
  val WarmUpEvents = 100
  val PositionDeleteEvery = 2

  /** Rounds whose items op ends with a position-delete compaction: the
    * warm-up round and the last round of every cycle, so the cycle's
    * other heavy op (the schema bump, in its first round) sits in a
    * different round. */
  def positionDeleteRound(round: Int): Boolean = round % PositionDeleteEvery == 1
  val CompactionEvery = 2
  /** The warm-up round plus at most three cycles; a run normally ends on
    * its deadline first. */
  val MaxRounds = 1 + 3 * CompactionEvery
  private val BaseMillis = 1704067200000L // 2024-01-01T00:00:00Z
  private val SeedMillis = BaseMillis - 86400000L

  private[lakebench] def itemId(k: Int): Long = 1000000000L + k

  val KafkaSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private def encode(schema: Schema, fields: Map[String, Any]): Array[Byte] = {
    val r = new GenericData.Record(schema)
    fields.foreach { case (k, v) => r.put(k, v) }
    encodeRecord(schema, r)
  }

  private def encodeRecord(schema: Schema, r: GenericRecord): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(r, enc)
    enc.flush()
    out.toByteArray
  }

  /** Confluent wire format: magic byte 0, 4-byte big-endian schema id, body. */
  private def frame(schemaId: Int, body: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(5 + body.length).put(0.toByte).putInt(schemaId).put(body).array()
}

/** Zipf(n, s) sampler over ranks 0 until n (inverse CDF by binary search). */
private final class Zipf(n: Int, s: Double, rng: Random) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).drop(1).map(_ / total)
  }
  def next(): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
