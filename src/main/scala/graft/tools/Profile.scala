package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import graft.{Bench, GraftSession, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did while one body of code ran. Where perfbench's Tracer
  * names a figure, the name is given.
  *
  * @param jobs      jobs started (`spark.jobs`)
  * @param stages    distinct stages the jobs listed when they started,
  *                  run or skipped (`spark.stages`)
  * @param completed the stages that ran to completion
  * @param inputRecords records the tasks read from their input
  * @param sites     per job its first `graft.` call site (else the stage
  *                  name), and per root SQL execution `exec:` and its
  *                  description, with the number of times each was seen
  * @param executed  the last SQL execution that succeeded, executed
  */
final case class Profile(jobs: Long, stages: Long, completed: Seq[StageInfo],
    inputRecords: Long, sites: Map[String, Long],
    executed: Option[QueryExecution]) {

  /** Shuffle bytes the completed stages wrote (`spark.shuffle_write_bytes`). */
  def shuffleWriteBytes: Long =
    completed.map(_.taskMetrics.shuffleWriteMetrics.bytesWritten).sum
}

/** The one way to measure a run: [[of]] around any body of code, and
  * [[main]] over registry queries.
  */
object Profile {

  /** `body`'s result and what Spark did while it ran. The listener bus
    * is drained before and after, so the figures are complete.
    */
  def of[T](spark: SparkSession)(body: => T): (T, Profile) = {
    val jobs = new AtomicLong
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val completed = new ConcurrentLinkedQueue[StageInfo]()
    val records = new AtomicLong
    val sites = new ConcurrentHashMap[String, java.lang.Long]()
    val last = new AtomicReference[QueryExecution]()
    def tally(site: String): Unit = { sites.merge(site, 1L, (a, b) => a + b); () }
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        j.stageIds.foreach(stageIds.add)
        // the action that asked for the job; jobs AQE submits from its
        // own threads carry no graft frame, only the stage name
        tally(j.stageInfos.lastOption.map { si =>
          si.details.linesIterator.find(l => l.contains("graft.") &&
            !l.contains("graft.tools.Profile") && !l.contains("graft.Bench"))
            .getOrElse(si.name.takeWhile(_ != '+')).trim
        }.getOrElse("?"))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        completed.add(s.stageInfo); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          records.addAndGet(t.taskMetrics.inputMetrics.recordsRead); ()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) =>
          tally(s"exec:${s.description.takeWhile(_ != '\n')}")
        case _ => ()
      }
    }
    val executions = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = last.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    GraftShim.waitListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(executions)
    try {
      val r = body
      GraftShim.waitListeners(spark)
      (r, Profile(jobs.get(), stageIds.size.toLong, completed.asScala.toSeq,
        records.get(), sites.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        Option(last.get())))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(executions)
    }
  }

  /** Times each named registry query (`all`: the whole registry) with
    * Bench's protocol, and prints one line per query: the min time over
    * `reps`, the rows its last rep wrote or its error, and, summed over
    * the reps, jobs, stages, shuffle bytes and the top call sites, plus
    * any native RangeJoin/AsOfJoin its executed plan holds. Given
    * `planDir`, writes each query's post-execution formatted plan there
    * as `<name>.txt`. Returns the names that failed or are unknown.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int,
      planDir: Option[String]): Seq[String] = {
    val registry = SparkEntry.registry.map(q => q.name -> q).toMap
    val todo = if (names == Seq("all")) registry.keys.toSeq.sorted else names
    planDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val timed = todo.map { name =>
      registry.get(name) match {
        case None =>
          println(s"[profile] $name: unknown query")
          (name, -1.0, false)
        case Some(q) =>
          val (Seq(t), p) = of(spark)(Bench.timeQueries(spark, sfDir, Seq(q), reps))
          val plan = p.executed.filter(_ => t.error.isEmpty)
          val rows = plan.flatMap(_.executedPlan.collectFirst {
            case w: V2TableWriteExec => w.commitProgress
          }.flatten).map(c => s"${c.numOutputRows} rows").getOrElse("rows unknown")
          val native = plan.toSeq.flatMap { qe =>
            val tree = qe.executedPlan.toString
            Seq("RangeJoin", "AsOfJoin").filter(tree.contains)
          }
          val top = p.sites.toSeq.sortBy(-_._2).take(12)
            .map { case (k, v) => s"${v}x $k" }.mkString(", ")
          println(f"[profile] $name: ${t.minSec}%.2f s (reps=$reps, max ${t.maxSec}%.2f), " +
            t.error.getOrElse(rows) + s", spark.jobs=${p.jobs}, " +
            s"spark.stages=${p.stages}, spark.shuffle_write_bytes=${p.shuffleWriteBytes}" +
            (if (native.nonEmpty) s", native ${native.mkString(",")}" else "") +
            s"; sites: $top")
          for (d <- planDir; qe <- plan) {
            val out = java.nio.file.Paths.get(d, s"$name.txt")
            java.nio.file.Files.writeString(out, qe.explainString(FormattedMode))
            println(s"[profile] wrote $out")
          }
          (name, t.minSec, t.error.isEmpty)
      }
    }
    if (timed.size > 10)
      println("[profile] slowest: " + timed.sortBy(-_._2).take(10)
        .map { case (n, s, _) => f"$n=$s%.2f" }.mkString(", "))
    timed.collect { case (n, _, false) => n }
  }

  /** `Profile [--plans <dir>] <query names… | all>` over
    * `SPARK_GRAFT_SF_DIR` (default sf0.1), with
    * `SPARK_GRAFT_BENCH_REPS` reps per query (default 3) on a
    * [[GraftSession.local]] session. Exits 1 when any query fails or is
    * unknown.
    */
  def main(args: Array[String]): Unit = {
    val planDir = args.sliding(2).collectFirst { case Array("--plans", d) => d }
    val names = planDir.fold(args.toSeq)(d => args.toSeq.diff(Seq("--plans", d)))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local()
    val failed = try run(spark, sfDir, names, reps, planDir) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[profile] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
