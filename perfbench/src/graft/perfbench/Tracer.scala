package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing, benchmark-side only: the engine is unchanged.
  *
  * A span is one call into a layer's public function. The caller's thread
  * runs it under a fresh Spark job group, so every job, stage, task and
  * SQL execution it triggers can be attributed back to it:
  *
  *  - a `SparkListener` records each job's group and interval, each
  *    stage's owning job, and sums task metrics per stage;
  *  - a `QueryExecutionListener` records each execution's analysis +
  *    optimization + planning time from its `QueryPlanningTracker`
  *    (executions are tied to a group by `SparkListenerSQLExecutionStart`,
  *    and to their query execution by `SparkListenerSQLExecutionEnd`);
  *  - the Janino compile-time counter is read before and after the span.
  *
  * Everything stays in memory and is folded once, in [[report]], after the
  * listener bus has drained. With `enabled = false` every method is a
  * plain pass-through: the untraced run installs no listener, sets no job
  * group and forces no frame. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val seq = new AtomicLong()
  private val invocations = new ConcurrentLinkedQueue[Open]()
  private val aliases = new ConcurrentLinkedQueue[Alias]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val execGroup = new ConcurrentHashMap[Long, (String, Long)]()
  private val execQe = new ConcurrentHashMap[Long, Int]()
  private val planMs = new ConcurrentHashMap[Int, Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
      jobs.put(e.jobId, JobRec(g, e.time))
      e.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        stages.computeIfAbsent(e.stageId, _ => new StageAcc).add(m)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, (g, s.time)))
      case s: SparkListenerSQLExecutionEnd =>
        Option(Internals.queryExecution(s)).foreach(qe =>
          execQe.put(s.executionId, System.identityHashCode(qe)))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(ph.get).map(_.durationMs).sum
      planMs.merge(System.identityHashCode(qe), ms, (a: Long, b: Long) => a + b)
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Stop listening (the tracer's data stays readable). */
  def close(): Unit = if (enabled) {
    Internals.drainListenerBus(sc)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(sparkListener)
  }

  /** Evaluate every row and column of `df` without writing anything — in
    * the traced run only, so a span around a lazy call measures the work
    * the call stands for. The untraced run keeps the fused plan. */
  def force(df: DataFrame): DataFrame = {
    if (enabled) df.write.format("noop").mode("overwrite").save()
    df
  }

  /** Run `body` as one invocation of span `name`.
    *
    * `prefix`: frames the body recomputes from a lazy input. They are
    * forced first, as an invocation of their own, and its counters are
    * subtracted from this one's: the layer reports the difference from
    * the previous forced prefix.
    * `codegen = false` leaves compile time to an enclosing
    * [[codegenWindow]] (concurrent invocations would count it twice).
    * `parent`: an open invocation on another thread that this one nests
    * in; the parent's driver gap then excludes this span's window. */
  def span[A](name: String, prefix: Seq[DataFrame] = Nil, codegen: Boolean = true,
              parent: Option[Open] = None)(body: => A): A =
    if (!enabled) body
    else {
      val minus = if (prefix.isEmpty) None else {
        val p = open(PrefixSpan, codegen)
        try withGroup(p.group)(prefix.foreach(force)) finally finish(p)
        Some(p.id)
      }
      val o = open(name, codegen, minus, parent.map(_.id))
      try withGroup(o.group)(body) finally finish(o)
    }

  /** Compile time of a block whose invocations run concurrently, booked
    * once to span `name`. */
  def codegenWindow[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val o = open(name, codegen = true, kind = CodegenOnly)
      try body finally finish(o)
    }

  /** Open an invocation whose jobs run under a job group that Spark sets
    * on another thread (a streaming query's run id): jobs of `group` that
    * start inside the window are booked to it. Close with [[finish]]. */
  def openAliased(name: String, group: String): Option[Open] =
    if (!enabled) None
    else {
      val o = open(name, codegen = true)
      aliases.add(Alias(group, o))
      Some(o)
    }

  def finish(o: Open): Unit = {
    o.t1Ns = System.nanoTime()
    o.t1Ms = System.currentTimeMillis()
    o.codegenNs = Internals.compileNanos - o.codegenNs
  }

  private def open(name: String, codegen: Boolean, minus: Option[Long] = None,
                   parent: Option[Long] = None, kind: Int = Normal): Open = {
    val id = seq.incrementAndGet()
    val o = new Open(id, name, s"graftbench:$name#$id", kind, codegen, minus, parent)
    o.t0Ms = System.currentTimeMillis()
    o.t0Ns = System.nanoTime()
    o.codegenNs = Internals.compileNanos
    invocations.add(o)
    o
  }

  private def withGroup[A](group: String)(body: => A): A = {
    val saved = Seq(GroupKey, DescKey, InterruptKey).map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Fold everything recorded into per-span means per invocation:
    * `<span>.<counter>` for the eight counters, plus `<span>.io_mb`. */
  def report(): Map[String, Double] = {
    if (!enabled) return Map.empty
    Internals.drainListenerBus(sc)
    val invs = invocations.asScala.toSeq
    val byGroup = invs.map(o => o.group -> o).toMap
    val aliasSeq = aliases.asScala.toSeq
    def owner(group: String, atMs: Long): Option[Open] =
      if (group == null) None
      else byGroup.get(group).orElse(aliasSeq.find(a => a.group == group &&
        atMs >= a.o.t0Ms && atMs <= a.o.t1Ms).map(_.o))
    val jobOwner: Map[Int, Open] = jobs.asScala.toSeq.flatMap { case (j, r) =>
      owner(r.group, r.startMs).map(j -> _)
    }.toMap
    val c = invs.map(o => o.id -> new Counters).toMap
    jobOwner.foreach { case (j, o) =>
      val r = jobs.get(j)
      c(o.id).jobs += 1
      c(o.id).jobIntervals += ((r.startMs, if (r.endMs > 0) r.endMs else o.t1Ms))
    }
    stages.asScala.foreach { case (s, acc) =>
      Option(stageJob.get(s)).flatMap(jobOwner.get).foreach(o => c(o.id).add(acc))
    }
    execGroup.asScala.foreach { case (e, (g, t)) =>
      val ms = Option(execQe.get(e)).flatMap(q => Option(planMs.get(q))).getOrElse(0L)
      owner(g, t).foreach(o => c(o.id).planMs += ms)
    }
    val children = invs.flatMap(o => o.parent.map(_ -> o)).groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._2) }
    invs.foreach { o =>
      val cc = c(o.id)
      if (o.kind == CodegenOnly) cc.clearAllButCodegen()
      cc.wallS = (o.t1Ns - o.t0Ns) / 1e9
      cc.codegenS = if (o.codegen) o.codegenNs / 1e9 else 0.0
      val busy = cc.jobIntervals.toSeq ++
        children.getOrElse(o.id, Nil).map(ch => (ch.t0Ms, ch.t1Ms))
      cc.gapS = math.max(0.0, cc.wallS - covered(busy, o.t0Ms, o.t1Ms) / 1000.0)
    }
    // a prefix-subtracted span reports its difference from the prefix
    invs.foreach(o => o.minus.foreach(p => c(o.id).subtract(c(p))))
    invs.filter(o => o.name != PrefixSpan).groupBy(_.name).flatMap { case (name, os) =>
      val normal = os.filter(_.kind == Normal)
      val n = math.max(1, normal.size).toDouble
      val cs = normal.map(o => c(o.id))
      val cg = os.map(o => c(o.id)).map(_.codegenS).sum
      def mean(f: Counters => Double): Double = cs.map(f).sum / n
      Map(
        s"$name.wall_s" -> mean(_.wallS),
        s"$name.plan_s" -> mean(_.planMs / 1000.0),
        s"$name.codegen_s" -> cg / n,
        s"$name.jobs" -> mean(_.jobs.toDouble),
        s"$name.driver_gap_s" -> mean(_.gapS),
        s"$name.exec_cpu_s" -> mean(_.cpuNs / 1e9),
        s"$name.shuffle_mb" -> mean(_.shuffleBytes / 1e6),
        s"$name.spill_mb" -> mean(_.spillBytes / 1e6),
        s"$name.io_mb" -> mean(x => (x.inBytes + x.outBytes) / 1e6))
    }
  }
}

object Tracer {
  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"
  private val InterruptKey = "spark.job.interruptOnCancel"
  private val PrefixSpan = "__prefix"
  private val Normal = 0
  private val CodegenOnly = 1

  final class Open(val id: Long, val name: String, val group: String,
                   val kind: Int, val codegen: Boolean,
                   val minus: Option[Long], val parent: Option[Long]) {
    @volatile var t0Ms, t1Ms, t0Ns, t1Ns, codegenNs: Long = 0L
  }
  private final case class Alias(group: String, o: Open)
  private final case class JobRec(group: String, startMs: Long) {
    @volatile var endMs: Long = 0L
  }

  private final class StageAcc {
    var cpuNs, shuffleBytes, spillBytes, inBytes, outBytes: Long = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
      cpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inBytes += m.inputMetrics.bytesRead
      outBytes += m.outputMetrics.bytesWritten
    }
  }

  private final class Counters {
    var wallS, codegenS, gapS: Double = 0.0
    var planMs, jobs, cpuNs, shuffleBytes, spillBytes, inBytes, outBytes: Long = 0L
    val jobIntervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def add(s: StageAcc): Unit = {
      cpuNs += s.cpuNs; shuffleBytes += s.shuffleBytes; spillBytes += s.spillBytes
      inBytes += s.inBytes; outBytes += s.outBytes
    }
    def clearAllButCodegen(): Unit = {
      planMs = 0; jobs = 0; cpuNs = 0; shuffleBytes = 0; spillBytes = 0
      inBytes = 0; outBytes = 0; jobIntervals.clear()
    }
    def subtract(p: Counters): Unit = {
      wallS -= p.wallS; codegenS -= p.codegenS; gapS -= p.gapS
      planMs -= p.planMs; jobs -= p.jobs; cpuNs -= p.cpuNs
      shuffleBytes -= p.shuffleBytes; spillBytes -= p.spillBytes
      inBytes -= p.inBytes; outBytes -= p.outBytes
    }
  }

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}
