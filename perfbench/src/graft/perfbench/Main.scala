package graft.perfbench

import java.io.File
import java.util.{ArrayList => JList, LinkedHashMap => JMap}


import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark run: `Main <workload> <seed> <seconds> <trace 0|1> <outDir>`.
  *
  * Sets the workload up [[Main.Setups]] times (fresh directories each time;
  * the median is `setup_s`), warms up with one round, then runs the
  * workload's rounds in a closed loop for `seconds`. With trace = 1 the
  * window is split: the first half untraced, the second half under the
  * [[Tracer]], so the run also reports the tracing overhead.
  *
  * Writes `<outDir>/result.json`: raw samples, input sizes, per-layer
  * counters and one check record per operation. The checks themselves
  * (DuckDB recomputation) run in `run.py` after the JVM has exited. */
object Main {

  /** Set-ups per run; the first pays the generator's JIT warm-up. */
  val Setups = 5

  /** Samples and check records of one run. Thread-safe: dashboard visuals
    * record from pool threads. */
  final class Recorder {
    val buildS = new JList[Double]()
    val updateMs = new JList[Double]()
    val readMs = new JList[Double]()
    val roundS = new JList[Double]()
    val tracedRoundS = new JList[Double]()
    val checks = new JList[JMap[String, AnyRef]]()
    @volatile var traced = false
    var failed = 0
    var readPhaseS = 0.0
    def build(s: Double): Unit = synchronized { if (!traced) buildS.add(s) }
    def update(ms: Double): Unit = synchronized { if (!traced) updateMs.add(ms) }
    def read(ms: Double): Unit = synchronized { if (!traced) readMs.add(ms) }
    def readPhase(s: Double): Unit = synchronized { if (!traced) readPhaseS += s }
    def round(s: Double): Unit = synchronized {
      (if (traced) tracedRoundS else roundS).add(s)
    }
    def check(kind: String, fields: (String, AnyRef)*): Unit = synchronized {
      val m = new JMap[String, AnyRef]()
      m.put("kind", kind)
      fields.foreach { case (k, v) => m.put(k, v) }
      checks.add(m)
    }
    def fail(what: String, e: Throwable): Unit = synchronized {
      failed += 1
      System.err.println(s"[perfbench] $what failed: $e")
    }
    /** Operations a failure kept from running count as failed too. */
    def skip(n: Int): Unit = synchronized { failed += n }
  }

  /** A workload: inputs and stores under `dir`, measured in rounds. A
    * round builds (bulk load or corpus build), updates (incremental
    * appends) and reads (visuals or probe batches), recording each
    * operation's latency and a check record for it. */
  trait Workload {
    /** Generate inputs and build stores under `dir`; returns input sizes. */
    def setup(dir: File): Map[String, Gen.Sizes]
    /** One closed-loop round; records its samples and checks. */
    def round(i: Int, tr: Tracer, rec: Recorder): Unit
    /** Number of operations one round attempts. */
    def opsPerRound: Int
    /** Called once after the measured window, outside it: reference
      * results the checks compare against. */
    def finish(rec: Recorder): Unit = ()
    /** Called once after the traced rounds (traced run only). */
    def traceExtras(tr: Tracer): Map[String, Double] = Map.empty
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, outDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val out = new File(outDir)
    val cpus = Runtime.getRuntime.availableProcessors()
    val started = System.nanoTime()
    def phase(what: String): Unit =
      println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1fs $what")
    val spark = graft.GraftSession.build(cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    val loadStart = loadavg()
    val wl: Workload = workload match {
      case "warehouse" => new Warehouse(spark, seed, cpus)
      case "curation" => new Curation(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val noTrace = new Tracer(spark, enabled = false)

    phase("session up")
    // set-up, several times into fresh directories; the last one is used
    val setups = (0 until Setups).map { i =>
      val d = new File(out, s"setup$i")
      val t0 = System.nanoTime()
      val sizes = wl.setup(d)
      val dt = (System.nanoTime() - t0) / 1e9
      sweep(spark)
      (dt, sizes)
    }
    val sizes = setups.last._2
    phase(s"set-up x$Setups: ${setups.map(x => f"${x._1}%.2f").mkString(" ")}s")

    // warm-up: one round, untimed and unchecked, that runs every plan once
    // (the workloads shorten it to one page, or one update and one read).
    // The first run of each plan fills the codegen cache and does most of
    // the JIT work; a cold round costs ~2x a warm one, which the run budget
    // cannot pay twice
    wl.round(-1, noTrace, new Recorder)
    phase("warm-up: 1 round")
    // closed loop: rounds start while the window is open; the last one
    // runs to completion
    def measure(tr: Tracer, budget: Double, first: Int): Int = {
      val t0 = System.nanoTime()
      var i = first
      while (i == first || (System.nanoTime() - t0) / 1e9 < budget) {
        val r0 = System.nanoTime()
        wl.round(i, tr, rec)
        rec.round((System.nanoTime() - r0) / 1e9)
        System.gc()
        i += 1
      }
      i
    }
    var layers = Map.empty[String, Double]
    val rounds =
      if (!trace) measure(noTrace, seconds, 0)
      else {
        val n = measure(noTrace, seconds / 2, 0)
        val tr = new Tracer(spark, enabled = true)
        rec.traced = true
        val n2 = measure(tr, seconds / 2, n)
        layers = tr.report() ++ wl.traceExtras(tr)
        tr.close()
        n2
      }
    val loadEnd = loadavg()
    wl.finish(rec)
    phase(s"measured: $rounds rounds")

    val res = new JMap[String, AnyRef]()
    res.put("workload", workload)
    res.put("seed", Long.box(seed))
    res.put("setup_s", list(setups.map(_._1)))
    res.put("build_s", rec.buildS)
    res.put("update_ms", rec.updateMs)
    res.put("read_ms", rec.readMs)
    res.put("read_phase_s", Double.box(rec.readPhaseS))
    res.put("round_s", rec.roundS)
    res.put("traced_round_s", rec.tracedRoundS)
    res.put("rounds", Int.box(rounds))
    res.put("attempted", Int.box(rounds * wl.opsPerRound))
    res.put("failed", Int.box(rec.failed))
    res.put("peak_rss_mb", Double.box(peakRssMb()))
    res.put("loadavg_start", loadStart)
    res.put("loadavg_end", loadEnd)
    val sz = new JMap[String, AnyRef]()
    sizes.toSeq.sortBy(_._1).foreach { case (k, s) =>
      sz.put(k, map("rows" -> Long.box(s.rows), "bytes" -> Long.box(s.bytes)))
    }
    res.put("inputs", sz)
    val ly = new JMap[String, AnyRef]()
    layers.toSeq.sortBy(_._1).foreach { case (k, v) => ly.put(k, Double.box(v)) }
    res.put("layers", ly)
    res.put("checks", rec.checks)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new File(out, "result.json"), res)
    spark.stop()
  }

  /** `graft.Bench`'s between-query sweep, run outside every timed window:
    * stop streams, drop cached plans, unpersist persistent RDDs (frees the
    * ETL's `dimKeys`), unload state stores. */
  def sweep(spark: SparkSession, stopStreams: Boolean = true): Unit = {
    if (stopStreams) spark.streams.active.foreach(q =>
      try q.stop() catch { case scala.util.control.NonFatal(_) => () })
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.sql.graftbridge.StateBridge.unloadAllStateStores()
  }

  def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case scala.util.control.NonFatal(_) => "" }

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
    catch { case scala.util.control.NonFatal(_) => Double.NaN }

  def map(kv: (String, AnyRef)*): JMap[String, AnyRef] = {
    val m = new JMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def list(xs: Seq[Any]): JList[AnyRef] = {
    val l = new JList[AnyRef]()
    xs.foreach(x => l.add(jsonValue(x)))
    l
  }

  /** Spark row values as JSON-friendly Java values. */
  def jsonValue(v: Any): AnyRef = v match {
    case null => null
    case d: java.math.BigDecimal => Double.box(d.doubleValue)
    case d: scala.math.BigDecimal => Double.box(d.toDouble)
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => list(s.toSeq)
    case r: Row => list(r.toSeq)
    case x: Double => Double.box(x)
    case x: Float => Double.box(x.toDouble)
    case x: Long => Long.box(x)
    case x: Int => Long.box(x.toLong)
    case x: Short => Long.box(x.toLong)
    case x: Boolean => Boolean.box(x)
    case x: String => x
    case other => other.toString
  }

  /** Milliseconds since `t0` (a `System.nanoTime`). */
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
