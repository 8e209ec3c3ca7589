package graft.lakebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. `op` is the id of the enclosing op span (an op span
  * is its own op); `parent` is 0 at the top. */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class SparkWork {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
  var planningMs = 0L

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs); planningMs += o.planningMs
  }
}

/** Spans and counts recorded around the benchmark's calls into the engine.
  *
  * Spans live in memory until [[spans]] is read at the end of the run. The
  * current span travels with the thread (and into threads it starts), and
  * is also set as a Spark local property, so the jobs a span launches are
  * attributed to it by a public `SparkListener`; query planning time comes
  * from a `QueryExecutionListener` and is attributed through the SQL
  * execution id the jobs carry. A disabled tracer runs bodies untouched. */
final class Tracer private (spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()
  // (op id, span id) of the innermost open span on this thread
  private val current = new InheritableThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  private val listener = new SpanListener
  private val planListener = new PlanListener

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** A span that starts a new op (the unit whose latency is reported). */
  def op[T](name: String)(body: => T): T = region(name, newOp = true)(body)

  def span[T](name: String)(body: => T): T = region(name, newOp = false)(body)

  private def region[T](name: String, newOp: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val (op0, parent) = current.get
      val id = nextId.incrementAndGet()
      val op = if (newOp) id else op0
      val prevProp = sc.getLocalProperty(SpanProperty)
      current.set((op, id))
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      val ms0 = System.currentTimeMillis()
      try body
      finally {
        recorded.add(Span(id, parent, op, name, t0, System.nanoTime(), ms0, System.currentTimeMillis()))
        current.set((op0, parent))
        sc.setLocalProperty(SpanProperty, prevProp)
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) { counters.merge(name, v, (a, b) => a + b); () }

  def counts: Map[String, Double] = counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.id)

  /** Spark work per span id, after the listener buses drained. A query's
    * planning report carries no span, so it goes to the shortest span whose
    * wall-clock interval holds the query's planning phases (with
    * concurrent traced threads, possibly a sibling's span). */
  def sparkWork(): Map[Long, SparkWork] = {
    if (!enabled) return Map.empty
    drain()
    val all = spans
    planListener.planned.asScala.foreach { case (from, to, ms) =>
      all.filter(s => s.startMs <= from && to <= s.endMs).minByOption(s => s.endNs - s.startNs)
        .foreach(s => listener.work(s.id).planningMs += ms)
    }
    listener.byspan.asScala.collect { case (k, v) if k > 0 => k -> v }.toMap
  }

  /** Both listener buses deliver in order, so once a marker query's job
    * and its planning report arrive, everything the run launched has too. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProperty)
    val reports = planListener.planned.size
    sc.setLocalProperty(SpanProperty, DrainSpan.toString)
    try spark.range(1).collect()
    finally sc.setLocalProperty(SpanProperty, prev)
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    def seen = listener.byspan.containsKey(DrainSpan) && planListener.planned.size > reports
    while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }
}

object Tracer {
  val SpanProperty = "lakebench.span"
  private val DrainSpan = -1L

  def apply(spark: SparkSession, enabled: Boolean): Tracer = new Tracer(spark, enabled)

  /** Runs every body untouched. */
  val Off: Tracer = new Tracer(null, enabled = false)

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanProperty)))
      .flatMap(_.toLongOption).getOrElse(0L)

  private final class SpanListener extends SparkListener {
    val byspan = new ConcurrentHashMap[Long, SparkWork]()
    val stageSpan = new ConcurrentHashMap[Int, Long]()

    def work(span: Long): SparkWork = byspan.computeIfAbsent(span, _ => new SparkWork)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      e.stageIds.foreach(stageSpan.put(_, span))
      work(span).synchronized { work(span).jobs += 1 }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val w = work(stageSpan.getOrDefault(e.stageId, 0L))
      w.synchronized {
        w.tasks += 1
        if (e.taskInfo != null) w.maxTaskMs = math.max(w.maxTaskMs, e.taskInfo.duration)
        val m = e.taskMetrics
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Planning phases (analysis, optimization, physical planning) of each
    * finished query: (first phase start, last phase end, total) in ms. */
  private final class PlanListener extends QueryExecutionListener {
    val planned = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        planned.add((phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max,
          phases.map(_.durationMs).sum))
      ()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Nanoseconds of [start, end] covered by the union of `parts`. */
  def covered(start: Long, end: Long, parts: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = start
    parts.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Self time of every span: its duration minus what its children cover. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> ((s.endNs - s.startNs) - covered(s.startNs, s.endNs, kids))
    }.toMap
  }
}
