package graft.tools

/** Ad-hoc plan capture (not part of the driver contract): writes each
  * named query's `explain("formatted")` output to
  * `<SPARK_GRAFT_PLAN_DIR>/<query>_<SPARK_GRAFT_PLAN_SUFFIX>.txt` in a
  * single JVM — the before/after evidence files the optimization
  * ledgers commit under `plans/rNN/`. For iterative queries (path
  * doubling, k-core peel) the final DataFrame's plan reads from
  * checkpointed RDDs; the capture still pins scan pruning, join
  * strategies and exchange placement of the result-edge plan. Exits
  * non-zero when any capture fails.
  */
object PlanCapture {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/tmp")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val failed = try capture(spark, sfDir, outDir, suffix, args.toSeq)
      finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plans] ${failed.size} capture(s) failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }

  /** Capture each named query's plan; returns the names that failed. */
  def capture(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      outDir: String, suffix: String, names: Seq[String]): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs = graft.SparkEntry.queries
    names.filterNot { name =>
      try {
        val df = qs(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
        true
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"[plans] $name: ERROR ${e.toString.take(120)}")
        false
      }
    }
  }
}
