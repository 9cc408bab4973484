package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation's outcome: its wall interval, the input documents it
  * processed, and whether it threw or failed its output check. */
final class OpRes(val op: Stats.Op, val label: String, val docs: Long,
    var failed: Boolean = false, var error: Option[String] = None) {
  def ms: Double = (op.end - op.start).toDouble
}

/** A measured window: its operations and the time they were measured
  * over (copies and output checks between rounds are not counted). */
final case class Window(ops: Seq[OpRes], measuredMs: Double)

/** A workload the benchmark can run; see NOTES.md for each one. */
trait Workload {
  /** Writes this run's inputs under `dir` and makes them current. */
  def prepare(dir: String): Unit
  /** Lets caches fill and lazy set-up finish before timing. */
  def warmup(): Unit = ()
  /** Runs operations until `seconds` of measured time have passed. */
  def measure(seconds: Double): Window
  /** Checks every output the window produced, outside the timed
    * window; marks failed operations and returns failure messages. */
  def check(w: Window): Seq[String]
  /** Traced runs only: direct timings of layer functions, recorded on
    * the trace; returns extra per-layer values and failed checks. */
  def layerReplay(w: Window): (Map[String, Double], Seq[String]) =
    (Map.empty, Nil)
}

/** Runs one workload in this JVM and prints the result as the last
  * line of standard output:
  * {{{
  * Main --workload query|curate --seed N --seconds S
  *      --trace 0|1 --work DIR [--spans FILE]
  * }}} */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val ticks0 = Host.cpuTicks()
    val calibBefore = Host.calibMs()
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    try run(spark, workload, seed, seconds, traced, work, cores, jvmStart,
      sessionS, calibBefore, ticks0, opt)
    finally spark.stop()
    sys.exit(0)
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def newWorkload(name: String, spark: SparkSession,
      tr: Trace, seed: Long): Workload = name match {
    case "query" => new QueryWorkload(spark, tr, seed)
    case "curate" => new CurateWorkload(spark, tr, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (query, curate)")
  }

  private def run(spark: SparkSession, name: String, seed: Long,
      seconds: Double, traced: Boolean, work: String, cores: Int,
      jvmStart: Long, sessionS: Double, calibBefore: Double,
      ticks0: Option[(Long, Long)], opt: Map[String, String]): Unit = {
    val tr = new Trace(spark)
    tr.install()
    val w = newWorkload(name, spark, tr, seed)
    val t0 = System.nanoTime()
    w.prepare(s"$work/inputs")
    val t1 = System.nanoTime()
    w.warmup()
    val t2 = System.nanoTime()
    // set-up is everything before the first timed operation
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    err(f"setup: session $sessionS%.2f s, inputs ${(t1 - t0) / 1e9}%.2f s, " +
      f"warm-up ${(t2 - t1) / 1e9}%.2f s, total $setupS%.2f s")

    // a traced run measures one window with tracing on; its end-to-end
    // numbers compare with an untraced run of the same seed
    tr.enabled = traced
    val window = w.measure(seconds)
    tr.enabled = false
    val checkFailures = w.check(window)
    val (extra, replayFailures) =
      if (!traced) (Map.empty[String, Double], Nil)
      else {
        tr.enabled = true
        try w.layerReplay(window) finally tr.enabled = false
      }
    val failures = checkFailures ++ replayFailures
    val calibAfter = Host.calibMs()
    val steal = Host.stealPct(ticks0, Host.cpuTicks())
    val calib = (calibBefore + calibAfter) / 2

    failures.take(20).foreach(f => err(s"check failed: $f"))
    val ops = window.ops
    ops.groupBy(_.label).toSeq.sortBy(_._1)
      .foreach { case (label, os) =>
        err(f"  $label%-28s n=${os.size}%4d median " +
          f"${Stats.median(os.map(_.ms))}%8.1f ms")
      }
    ops.filter(_.error.isDefined).take(10).foreach(o =>
      err(s"${o.label} threw: ${o.error.get}"))
    val e2e = endToEnd(window, setupS)
    val failed = ops.count(_.failed)
    val aborted = ops.count(_.error.isDefined)
    val host = Map("host.calib_ms" -> calib, "host.steal_pct" -> steal)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e.metrics
      else Layers.report(name, tr, window, cores, extra, host, e2e,
        opt.get("spans"))
    println(f"[perfbench] $name seed=$seed: ${e2e.describe}; " +
      f"host.calib_ms=$calib%.1f host.steal_pct=$steal%.2f; " +
      s"operations: ${ops.size} attempted, $aborted threw (left out of " +
      s"the rates and latencies), $failed failed")
    val correct = failures.isEmpty && failed == 0
    val json = metrics.map { case (k, v, unit) =>
      s""""$k": {"value": ${num(v)}, "unit": "$unit"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${ops.size}, """ +
      s""""failed": $failed, "metrics": $json}""")
  }

  /** Tail percentile reported beside the median. A `query` window has
    * at least 52 requests, which keep 13 samples beyond it; a `curate`
    * run has too few batches for any tail percentile to keep ten. */
  val TailPct = 75

  /** A window's end-to-end numbers. */
  final case class EndToEnd(setupS: Double, opsPerS: Double,
      docsPerS: Double, p50: Double, tail: Double, n: Int,
      peakRss: Double) {
    def metrics: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"), ("ops_per_s", opsPerS, "1/s"),
      ("docs_per_s", docsPerS, "docs/s"),
      ("latency_p50_ms", p50, "ms"), (s"latency_p${TailPct}_ms", tail, "ms"),
      ("peak_rss_mb", peakRss, "MB"))
    def describe: String = {
      val beyond = Stats.beyond(n, TailPct)
      val note = if (Stats.supported(n, TailPct)) "" else ", fewer than 10"
      f"latency_p50_ms=$p50%.1f (n=$n) latency_p${TailPct}_ms=$tail%.1f " +
        f"(n=$n, $beyond beyond$note) ops_per_s=$opsPerS%.3f " +
        f"docs_per_s=$docsPerS%.0f setup_s=$setupS%.2f " +
        f"peak_rss_mb=$peakRss%.0f"
    }
  }

  /** Rates and latencies cover only the operations the engine
    * completed; the time spent on those that threw is taken out of the
    * measured time. An operation that completed but failed its output
    * check still counts here, and in `failed`. */
  def endToEnd(w: Window, setupS: Double): EndToEnd = {
    val (done, threw) = w.ops.partition(_.error.isEmpty)
    val lat = done.map(_.ms)
    val secs = (w.measuredMs - threw.map(_.ms).sum) / 1000.0
    def orNaN(f: Seq[Double] => Double) =
      if (lat.isEmpty) Double.NaN else f(lat)
    EndToEnd(setupS, done.size / secs, done.map(_.docs).sum / secs,
      orNaN(Stats.median), orNaN(Stats.percentile(_, TailPct)), lat.size,
      Host.peakRssMb())
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def err(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** Times `body` in epoch milliseconds as operation `id`; exceptions
    * mark the operation failed instead of ending the run. */
  def timed(id: Int, label: String, docs: Long, tag: Option[String] = None)(
      body: => Unit): OpRes = {
    val t0 = System.currentTimeMillis()
    var error: Option[String] = None
    try body catch {
      case e: Exception => error = Some(e.toString.take(300))
    }
    val r = new OpRes(Stats.Op(id, t0, System.currentTimeMillis(), tag),
      label, if (error.isDefined) 0L else docs)
    if (error.isDefined) { r.failed = true; r.error = error }
    r
  }

  /** Order-insensitive digest of rows: row count and the wrapping sum
    * of a 64-bit hash of each row's rendering. */
  def digest(rows: Seq[Row]): (Long, Long) =
    (rows.size.toLong, rows.iterator.map(r => hash64(r.toString)).sum)

  def hash64(s: String): Long = {
    val h = scala.util.hashing.MurmurHash3.stringHash(s)
    val g = scala.util.hashing.MurmurHash3.stringHash(s.reverse)
    (h.toLong << 32) ^ (g.toLong & 0xffffffffL)
  }

  /** Order-insensitive digest of a table computed in Spark: row count
    * and the sum of a per-row hash over every column, in name order,
    * rendered as text. */
  def tableDigest(df: DataFrame): (Long, BigDecimal) = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.sorted.toSeq.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000")))
    val r = df.select(xxhash64(cols :+ lit(df.columns.sorted.mkString(",")):
        _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_))
      .getOrElse(BigDecimal(0)))
  }
}
