package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region of benchmark code around one call into the engine. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The wall-clock window of one executed op. */
final case class OpWindow(op: Op, startMs: Long, endMs: Long, wallS: Double,
    traced: Boolean)

/** Records what the engine did while the benchmark's ops ran.
  *
  * Spans come from the benchmark's own code (see [[span]]); Spark's side
  * comes from a SparkListener (jobs, stages, tasks) and a
  * QueryExecutionListener (Catalyst phases and the executed plan), both
  * registered on the session; a stack sampler watches the thread that
  * calls into the engine, to attribute jobs to modules and to time calls
  * the harness does not make itself (inside the SPARQL server). Nothing
  * is recorded while tracing is off, and the engine itself is not
  * instrumented. Everything is kept in memory and summarized once, after
  * the traced phase.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var on = false
  @volatile private var currentOp = -1

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextSpan = 0
  private val windows = ArrayBuffer.empty[OpWindow]

  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val samples = new ConcurrentHashMap[(Int, String), java.lang.Double]()
  private val sampleMs = 5L

  /** The innermost `graft.<module>` frame of a stack, if any. */
  private def moduleOf(st: Array[StackTraceElement]): String =
    st.iterator.map(_.getClassName)
      .collectFirst { case moduleClass(m) => m }.getOrElse("other")
  private val moduleClass = """graft\.([a-z][a-z0-9]*)\..*""".r
  // what the driving thread was inside, sampled every few ms while
  // tracing: epoch ms -> module. Under AQE most jobs are submitted from
  // Spark's own threads, so a job's call site does not show which
  // module asked for it; the blocked driving thread does.
  private val timeline = new java.util.concurrent.ConcurrentSkipListMap[Long, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      jobs.put(e.jobId, JobRec(e.jobId, e.time, e.stageIds))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.endMs = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      val dur = math.max(0L, i.finishTime - i.launchTime)
      val run = m.map(_.executorRunTime).getOrElse(0L)
      val overhead = m.map(x => x.executorDeserializeTime +
        x.resultSerializationTime).getOrElse(0L)
      val getting = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
      tasks.add(TaskRec(e.stageId, dur, run,
        m.map(_.executorCpuTime).getOrElse(0L),
        math.max(0L, dur - run - overhead - getting),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.shuffleReadMetrics.remoteBytesRead +
          x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        i.failed || i.killed))
      ()
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(planNodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = if (on) {
      val phases = qe.tracker.phases
      val start = phases.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      val nodes = scala.util.Try(planNodes(qe.executedPlan))
        .getOrElse(Seq.empty)
      queries.add(QueryRec(start, phases.values.map(_.durationMs).sum,
        nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
        nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.flatMap(_.metrics.get("bufferSpills")).map(_.value).sum))
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  // GC, heap and CPU at the start of the traced phase
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var gcMs0 = 0L
  private var cpuNs0 = 0L

  private var sampler: Option[Thread] = None

  def enabled: Boolean = on

  /** Turns tracing on. `driver` is the thread that calls into the engine
    * for each op (the op loop, or the server's dispatcher); it and
    * `sampleThreads` are stack-sampled every few milliseconds: the
    * driver's samples attribute jobs to modules, and each sample of
    * `sampleThreads` is filed under the current op in every category
    * `classify` returns for its stack.
    */
  def start(driver: Thread, sampleThreads: Seq[Thread] = Seq.empty,
      classify: Array[StackTraceElement] => Seq[String] = _ => Nil): Unit = {
    gcMs0 = gcBeans.map(_.getCollectionTime).sum
    cpuNs0 = os.getProcessCpuTime
    heapPools.foreach(_.resetPeakUsage())
    on = true
    val t = new Thread(() => {
      var last = System.nanoTime()
      while (on) {
        Thread.sleep(sampleMs)
        // each sample stands for the time since the previous one
        val now = System.nanoTime()
        val dt = (now - last) / 1e9
        last = now
        val op = currentOp
        if (op >= 0) {
          timeline.put(System.currentTimeMillis(), moduleOf(driver.getStackTrace))
          sampleThreads.foreach { th =>
            classify(th.getStackTrace).foreach(c =>
              samples.merge((op, c), dt, (a, b) => a + b))
          }
        }
      }
    }, "graftbench-sampler")
    t.setDaemon(true)
    t.start()
    sampler = Some(t)
  }

  private var gcS = 0.0
  private var cpuS = 0.0
  private var heapPeakMb = 0.0

  def stop(): Unit = {
    on = false
    sampler.foreach(_.join())
    gcS = (gcBeans.map(_.getCollectionTime).sum - gcMs0) / 1e3
    cpuS = (os.getProcessCpuTime - cpuNs0) / 1e9
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    // let the listener bus deliver the last ops' events
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() < deadline &&
        jobs.values.asScala.exists(_.endMs < 0)) Thread.sleep(20)
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Times `f` as a span named `layer.what` under the innermost open span. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, name, parent, currentOp, t0, System.nanoTime())
        open = open.tail
      }
    }

  /** Runs one op, recording its window; tracing state decides whether
    * spans and events are kept.
    */
  def op[T](o: Op)(f: => T): (T, Double) = {
    currentOp = o.idx
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val wall = (System.nanoTime() - t0) / 1e9
      windows += OpWindow(o, ms0, System.currentTimeMillis(), wall, on)
      currentOp = -1
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  def tracedWindows: Seq[OpWindow] = windows.filter(_.traced).toSeq

  /** Sampled seconds of `category` per op index. */
  def sampled(category: String): Map[Int, Double] =
    samples.asScala.collect {
      case ((op, c), secs) if c == category => op -> secs.doubleValue
    }.toMap

  /** Per-op sums of the named spans' durations, over traced ops. */
  def spanSeconds(name: String): Map[Int, Double] =
    spans.filter(_.name == name).groupBy(_.op)
      .map { case (op, xs) => op -> xs.map(_.seconds).sum }

  /** Each layer's self time: span time minus the time of its child spans. */
  def layerSelfSeconds: Map[String, (Int, Double, Double)] = {
    val childTime = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, xs) => p -> xs.map(_.seconds).sum }
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, xs) =>
      layer -> ((xs.size, xs.map(_.seconds).sum,
        xs.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum))
    }
  }

  /** The traced op whose window holds epoch ms `ms`. */
  private def opOf(ms: Long): Option[Int] =
    windows.find(w => w.traced && ms >= w.startMs && ms <= w.endMs).map(_.op.idx)

  private def tracedJobs: Seq[(Int, JobRec)] =
    jobs.values.asScala.toSeq.flatMap(j => opOf(j.startMs).map(_ -> j))

  private def tracedTasks(js: Seq[(Int, JobRec)]): Seq[(Int, TaskRec)] = {
    val stageOp = js.flatMap { case (op, j) => j.stageIds.map(_ -> op) }.toMap
    tasks.asScala.toSeq.flatMap(t => stageOp.get(t.stageId).map(_ -> t))
  }

  /** Spark- and JVM-layer metrics over the traced ops, per op unless the
    * name says otherwise.
    */
  def sparkMetrics(memoEntries: Int): Map[String, Double] = {
    val ws = tracedWindows
    val n = math.max(1, ws.size)
    val js = tracedJobs
    val ts = tracedTasks(js)
    val qs = queries.asScala.toSeq.flatMap(q => opOf(q.startMs).map(_ -> q))
    def perOp(x: Double): Double = x / n
    def jobMs(j: JobRec): Long =
      math.max(0L, (if (j.endMs < 0) j.startMs else j.endMs) - j.startMs)
    // a job belongs to the module the driving thread was inside while it ran
    def moduleJobs(m: String): Seq[JobRec] = js.map(_._2).filter { j =>
      Option(timeline.floorEntry(j.startMs + jobMs(j) / 2))
        .map(_.getValue).getOrElse("other") == m
    }
    def moduleShuffle(m: String): Double = {
      val stages = moduleJobs(m).flatMap(_.stageIds).toSet
      ts.filter(t => stages(t._2.stageId)).map(_._2.shuffleW).sum.toDouble
    }
    // op wall time not covered by any running job
    val gaps = ws.map { w =>
      val iv = js.filter(_._1 == w.op.idx).map { case (_, j) =>
        (math.max(j.startMs, w.startMs),
          math.min(if (j.endMs < 0) w.endMs else j.endMs, w.endMs))
      }.filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (s, e) =>
        if (s >= end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      math.max(0.0, w.wallS - covered / 1e3)
    }
    // worst stage of each op: max / median task time
    val skews = ts.groupBy(_._1).values.flatMap { opTasks =>
      opTasks.map(_._2).groupBy(_.stageId).values
        .filter(_.size >= 2)
        .map { xs => xs.map(_.durMs).max /
          math.max(1.0, Workload.median(xs.map(_.durMs.toDouble))) }
        .maxOption
    }.toSeq
    Map(
      "spark.jobs" -> perOp(js.size),
      "spark.stages" -> perOp(js.flatMap(_._2.stageIds).distinct.size),
      "spark.tasks" -> perOp(ts.size),
      "spark.task_wait_s" -> Workload.median(ts.map(_._2.waitMs / 1e3)),
      "spark.driver_gap_s" -> Workload.median(gaps),
      "spark.task_busy_s" -> perOp(ts.map(_._2.runMs).sum / 1e3),
      "spark.shuffle_write_bytes" -> perOp(ts.map(_._2.shuffleW).sum.toDouble),
      "spark.shuffle_read_bytes" -> perOp(ts.map(_._2.shuffleR).sum.toDouble),
      "spark.input_bytes" -> perOp(ts.map(_._2.input).sum.toDouble),
      "spark.spill_bytes" -> perOp(ts.map(_._2.spill).sum.toDouble),
      "spark.task_skew" -> Workload.median(skews),
      "spark.broadcast_exchanges" -> perOp(qs.map(_._2.broadcasts).sum),
      "spark.shuffle_exchanges" -> perOp(qs.map(_._2.shuffles).sum),
      "spark.catalyst_s" -> perOp(qs.map(_._2.catalystMs).sum / 1e3),
      "spark.failed_tasks" -> ts.count(_._2.failed).toDouble,
      "plans.buffer_spills" -> perOp(qs.map(_._2.bufferSpills).sum.toDouble),
      "graph.jobs" -> perOp(moduleJobs("graph").size),
      "graph.job_s" -> perOp(moduleJobs("graph").map(jobMs).sum / 1e3),
      "graph.shuffle_bytes" -> perOp(moduleShuffle("graph")),
      "scale.jobs" -> perOp(moduleJobs("scale").size),
      "scale.job_s" -> perOp(moduleJobs("scale").map(jobMs).sum / 1e3),
      "scale.guard_memo_entries" -> memoEntries.toDouble,
      "jvm.gc_s" -> perOp(gcS),
      "jvm.heap_peak_mb" -> heapPeakMb,
      "jvm.driver_cpu_s" -> perOp(math.max(0.0,
        cpuS - ts.map(_._2.cpuNs).sum / 1e9))
    )
  }

  /** Shuffle bytes written and input bytes read by each traced op's tasks. */
  def opBytes: Map[Int, (Long, Long)] =
    tracedTasks(tracedJobs).groupBy(_._1).map { case (op, xs) =>
      op -> ((xs.map(_._2.shuffleW).sum, xs.map(_._2.input).sum))
    }
}

object Tracer {
  private final case class JobRec(id: Int, startMs: Long,
      stageIds: Seq[Int]) { @volatile var endMs: Long = -1L }
  private final case class TaskRec(stageId: Int, durMs: Long, runMs: Long,
      cpuNs: Long, waitMs: Long, shuffleW: Long, shuffleR: Long,
      input: Long, spill: Long, failed: Boolean)
  private final case class QueryRec(startMs: Long, catalystMs: Long,
      broadcasts: Int, shuffles: Int, bufferSpills: Long)
}
