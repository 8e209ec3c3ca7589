package graft.lakebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.PerfBudget
import graft.core.GraftSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** The benchmark driver: one workload, one seed, one run.
  *
  * {{{
  *   Main --workload cdc_ingest|lake_read|curation_batch --seed N
  *        --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Set-up (session start, input generation and table seeding) runs
  * several times, each with a fresh session and directory; the last is
  * kept. `setup_s` is the median of the warm set-ups, every one but the
  * first: the first counts from JVM start and pays one-time class loading
  * and code generation, which swing from run to run; all are printed. The
  * timed loop then runs for `--seconds`, the outputs are checked against the
  * workload's model, and the last stdout line is one JSON object:
  * `{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports
  * the end-to-end metrics, `--trace 1` the per-layer metrics of a traced
  * run. Every line before it is human-readable detail: each metric with
  * its unit, sample counts, host calibration and cache-relative sizes.
  * The full record of the run, spans included when traced, is written
  * under `DIR/results`. Exit code 1 on any correctness mismatch. */
object Main {

  /** Set-ups per run: at least [[MinSetupReps]], then more, up to
    * [[MaxSetupReps]], while the warm ones add up to less than
    * [[MinWarmSetupSeconds]], so that a set-up of a fraction of a second
    * still gets a steady median. */
  val MinSetupReps = 3
  val MaxSetupReps = 10
  val MinWarmSetupSeconds = 2.0
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"--$k is required"))
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString

    // each set-up builds its own session; the last one is kept for the run
    val runDir = s"$work/run-${ProcessHandle.current().pid()}"
    val setups = mutable.ArrayBuffer.empty[Setup]
    def warmSeconds = setups.drop(1).map(_.seconds).sum
    while (setups.size < MinSetupReps ||
        (setups.size < MaxSetupReps && warmSeconds < MinWarmSetupSeconds)) {
      val rep = setups.size + 1
      // a running session would be returned again, not built
      setups.lastOption.foreach { prev =>
        prev.spark.stop()
        deleteTree(s"$runDir/setup-${rep - 1}")
      }
      val t0 = System.nanoTime()
      val spark = session(work)
      // the first session's start counts from JVM start
      val sessionSeconds = if (rep == 1) uptime() else (System.nanoTime() - t0) / 1e9
      val workload = newWorkload(workloadName, spark, seed)
      val t1 = System.nanoTime()
      try workload.setup(s"$runDir/setup-$rep")
      catch { case e: Throwable => spark.stop(); throw e }
      val setupSeconds = sessionSeconds + (System.nanoTime() - t1) / 1e9
      setups += Setup(spark, workload, sessionSeconds, setupSeconds)
    }
    val kept = setups.last
    val exit = try runOnce(kept.spark, kept.workload, setups.toSeq, workloadName, seed, seconds,
      trace, work, runDir) finally kept.spark.stop()
    System.err.println(f"lakebench: stopped at ${uptime()}%.1f s")
    sys.exit(exit)
  }

  /** One set-up: its session and workload, the session's start time and
    * the whole set-up's time, session included. */
  private final case class Setup(spark: SparkSession, workload: Workload, sessionSeconds: Double,
      seconds: Double)

  private def session(work: String): SparkSession = {
    val spark = GraftSession.builder(appName = "lakebench", master = s"local[$Cores]",
      shufflePartitions = Cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def newWorkload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "cdc_ingest" => new CdcIngest(spark, seed)
    case "lake_read" => new LakeRead(spark, seed)
    case "curation_batch" => new CurationBatch(spark, seed)
    case other => sys.error(s"unknown workload $other")
  }

  private def runOnce(spark: SparkSession, workload: Workload, setups: Seq[Setup],
      workloadName: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      runDir: String): Int = {
    System.err.println(f"lakebench: set-up done at ${uptime()}%.1f s")
    workload.warmUp()
    System.err.println(f"lakebench: warm-up done at ${uptime()}%.1f s")
    val (cpu0, fs0) = calibrate(spark)
    val confBefore = spark.conf.getAll
    val tracer = Tracer(spark, trace)
    val loop = workload.run(seconds, tracer)
    val confAfter = spark.conf.getAll
    val confChanged = (confBefore.keySet ++ confAfter.keySet).count(k => confBefore.get(k) != confAfter.get(k))
    System.err.println(f"lakebench: loop done at ${uptime()}%.1f s")
    val mismatches = workload.check()
    val sizes = workload.sizes()
    val sparkWork = tracer.sparkWork()
    tracer.close()
    System.err.println(f"lakebench: check done at ${uptime()}%.1f s")
    val (cpu1, fs1) = calibrate(spark)
    deleteTree(runDir)
    System.err.println(f"lakebench: calibrated at ${uptime()}%.1f s")

    val latencies = if (trace) loop.untracedOpSeconds ++ loop.tracedOpSeconds else loop.untracedOpSeconds
    val endToEnd = Seq(
      ("setup_s", "s", Stats.median(setups.tail.map(_.seconds))),
      ("op_s.p50", "s", Stats.median(latencies)),
      ("rows_per_s", "rows/s", loop.rows / loop.wallSeconds))
    val perLayer = if (trace) Report.perLayer(tracer, sparkWork, loop, confChanged) else Nil
    val reported = if (trace) perLayer else endToEnd
    val correct = mismatches.isEmpty

    val info = mutable.ArrayBuffer.empty[(String, String, Double)]
    info ++= endToEnd
    info += (("op_count", "count", latencies.size.toDouble))
    // the highest percentile with at least ten samples beyond it
    if (latencies.size >= 100) info += (("op_s.p90", "s", Stats.quantile(latencies, 0.9)))
    info += (("failed_frac", "ratio", loop.failed.toDouble / math.max(1, loop.attempted)))
    info ++= loop.extra.toSeq.sortBy(_._1).map { case (k, v) => (k, "", v) }
    info += (("core.session_conf_changed", "count", confChanged.toDouble))
    info ++= Seq(("host.cpu_calib_start_s", "s", cpu0), ("host.fs_calib_start_s", "s", fs0),
      ("host.cpu_calib_end_s", "s", cpu1), ("host.fs_calib_end_s", "s", fs1))
    info ++= sizes.map { case (k, v) => (k, "", v) }
    setups.zipWithIndex.foreach { case (s, i) =>
      info += ((s"setup_s.rep${i + 1}.session", "s", s.sessionSeconds))
      info += ((s"setup_s.rep${i + 1}", "s", s.seconds))
    }
    if (trace) info ++= perLayer

    info.foreach { case (n, u, v) => println(f"$n%-36s $v%.6f $u") }
    mismatches.foreach(m => println(s"MISMATCH $m"))

    val resultsDir = Paths.get(work, "results")
    Files.createDirectories(resultsDir)
    val record = Json.obj(Seq(
      "workload" -> Json.str(workloadName), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> trace.toString,
      "correct" -> correct.toString, "mismatches" -> Json.arr(mismatches.map(Json.str)),
      "info" -> Json.obj(info.toSeq.map { case (n, _, v) => n -> Json.num(v) }),
      "op_seconds_untraced" -> Json.arr(loop.untracedOpSeconds.map(Json.num)),
      "op_seconds_traced" -> Json.arr(loop.tracedOpSeconds.map(Json.num))) ++
      (if (trace) Seq("spans" -> Report.spansJson(tracer, sparkWork)) else Nil))
    Files.writeString(resultsDir.resolve(s"$workloadName-seed$seed-trace${if (trace) 1 else 0}.json"), record)

    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> loop.attempted.toString,
      "failed" -> loop.failed.toString,
      "metrics" -> Json.obj(reported.map { case (n, u, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.err.println(f"lakebench: reported at ${uptime()}%.1f s")
    if (correct) 0 else 1
  }

  /** One reading of each of `PerfBudget`'s host probes (CPU/shuffle and
    * task-launch/file system), recorded beside the metrics and never used
    * to rescale them. `PerfBudget.calibrate` takes the best of three of
    * each; one reading keeps the two calibrations per run at ~2 s. */
  private def calibrate(spark: SparkSession): (Double, Double) =
    (PerfBudget.cpuCalibOnce(spark), PerfBudget.fsCalibOnce(spark))

  /** Seconds since the JVM started. */
  private def uptime(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
  }
}

/** Minimal JSON rendering for the result line and the run record. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
