package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

/** One benchmark run inside one JVM: set up the workload from empty,
  * warm up, then run the op sequence closed-loop. With `--trace 1` the
  * whole timed phase is traced. Writes `ops.tsv` (one line
  * per timed op) and `summary.json` into `--run-dir`; run.py turns them
  * into the benchmark's result line.
  *
  * Usage: graftbench.Main --workload bgp|serve --corpus DIR
  *   --run-dir DIR --ops FILE --deadline-ms EPOCH_MS --trace 0|1
  *   [--warm-updates N]
  */
object Main {

  private def argMap(args: Array[String]): Map[String, String] =
    args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  private final case class Done(op: Op, latency: Double,
      answer: Option[Answer], error: Option[String])

  private def vmHwmMb: Double = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
  }.getOrElse(-1.0)

  private def oneLine(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .replaceAll("[\t\r\n]+", " ").take(300)

  def main(args: Array[String]): Unit = {
    val a = argMap(args)
    val workload = a("workload")
    val corpus = a("corpus")
    val runDir = Paths.get(a("run-dir"))
    val deadlineMs = a("deadline-ms").toLong
    val trace = a.getOrElse("trace", "0") == "1"
    val ops = Ops.read(a("ops"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val nproc = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(nproc.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark)

    val w: Workload = workload match {
      case "bgp" => new BgpWorkload(spark, corpus)
      case "serve" => new ServeWorkload(spark, corpus)
    }
    try {
      // set-up from empty into a fresh directory
      val s0 = System.nanoTime()
      val layoutDir = w.setup(runDir.resolve("setup"))
      val loadS = (System.nanoTime() - s0) / 1e9
      val (layoutFiles, layoutBytes) = Workload.layout(layoutDir)
      // warm-up: the first op of every query class, untimed
      val w0 = System.nanoTime()
      val warmDigests = scala.collection.mutable.LinkedHashMap.empty[String, String]
      w match {
        case b: BgpWorkload =>
          // registry ops also leave their answer for the oracle check
          ops.groupBy(_.cls).values.map(_.head).toSeq.sortBy(_.idx).foreach { o =>
            Workload.registryName(o) match {
              case Some(name) =>
                warmDigests(o.key) = b.dump(name, runDir.resolve("dumps")).digest
              case None => b.run(o, tracer)()
            }
          }
        case s: ServeWorkload =>
          ops.filter(_.kind != "update").groupBy(_.cls).values
            .map(_.head).foreach(o => s.run(o, tracer)())
          s.warmUpdates(a.getOrElse("warm-updates", "0").toInt, tracer)
      }
      val warmupS = (System.nanoTime() - w0) / 1e9
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

      // the timed phase runs the whole op file (run.py sizes it to about
      // `seconds` of work in whole mix blocks); at the deadline it stops
      // early and run.py reports no result
      if (trace) w match {
        case s: ServeWorkload =>
          s.beginTrace()
          tracer.start(s.serverThread, Seq(s.serverThread), s.classify)
        case _ => tracer.start(Thread.currentThread())
      }
      val done = ArrayBuffer.empty[Done]
      val startNs = System.nanoTime()
      val it = ops.iterator
      while (System.currentTimeMillis() < deadlineMs && it.hasNext) {
        val op = it.next()
        val t1 = System.nanoTime()
        val res = scala.util.Try(tracer.op(op)(w.run(op, tracer)))
        val lat = res.map(_._2).getOrElse((System.nanoTime() - t1) / 1e9)
        val ans = res.flatMap(r => scala.util.Try(r._1()))
        done += Done(op, lat, ans.toOption,
          ans.failed.toOption.map(oneLine))
        w.afterOp(op, tracer)
      }
      val timedS = (System.nanoTime() - startNs) / 1e9
      if (tracer.enabled) tracer.stop()

      val sb = new StringBuilder
      done.foreach { d =>
        sb ++= Seq(d.op.idx.toString, d.op.kind, d.op.cls, d.op.key,
          f"${d.latency}%.6f",
          if (d.error.isEmpty) "1" else "0",
          d.answer.map(_.rows.toString).getOrElse("0"),
          d.answer.map(_.digest).getOrElse(""),
          d.error.getOrElse("")).mkString("\t")
        sb += '\n'
      }
      Files.write(runDir.resolve("ops.tsv"), sb.toString.getBytes(UTF_8))

      val layers: Map[String, Double] =
        if (!trace) Map.empty
        else {
          val traced = tracer.tracedWindows
          // DREAM's communication figures, over the traced BGP ops
          val bgpOps = traced.filter(x => x.op.kind == "query" &&
            Workload.registryName(x.op).isEmpty).map(_.op.idx).toSet
          val bytes = tracer.opBytes.filter(kv => bgpOps(kv._1))
          val answers = done.filter(d => bgpOps(d.op.idx)).flatMap(_.answer)
          val dream = Map(
            "bgp.shuffle_per_result_byte" -> bytes.values.map(_._1).sum.toDouble /
              math.max(1L, answers.map(_.bytes).sum),
            "bgp.scan_bytes_per_result_row" -> bytes.values.map(_._2).sum.toDouble /
              math.max(1L, answers.map(_.rows).sum))
          val spanMetrics = w match {
            case _: BgpWorkload =>
              val Seq(parse, plan, exec, build, qexec) = Seq("bgp.parse",
                "bgp.plan", "bgp.exec", "queries.build", "queries.exec")
                .map(tracer.spanSeconds)
              val reg = traced.filter(x => Workload.registryName(x.op).isDefined)
              val bgp = traced.filter(x => bgpOps(x.op.idx))
              def med(m: Map[Int, Double], ws: Seq[OpWindow]) =
                Workload.median(ws.map(x => m.getOrElse(x.op.idx, 0.0)))
              val planTotal = parse.values.sum + plan.values.sum
              Map("bgp.parse_s" -> med(parse, bgp), "bgp.plan_s" -> med(plan, bgp),
                "bgp.exec_s" -> med(exec, bgp),
                "bgp.plan_share" -> planTotal / math.max(1e-9, planTotal + exec.values.sum),
                "queries.build_s" -> med(build, reg),
                "queries.exec_s" -> med(qexec, reg))
            case _ => Map.empty[String, Double]
          }
          tracer.sparkMetrics(graft.scale.GuardedBroadcast.memoSize) ++
            dream ++ spanMetrics ++ w.layerMetrics(tracer, traced) ++
            Map("bgp.load_s" -> loadS,
              "bgp.layout_files" -> layoutFiles.toDouble,
              "bgp.layout_bytes" -> layoutBytes.toDouble)
        }
      val table = if (!trace) Seq.empty else
        tracer.layerSelfSeconds.toSeq.sortBy(_._1).map {
          case (layer, (n, total, self)) =>
            Map("layer" -> layer, "spans" -> n, "total_s" -> total,
              "self_s" -> self)
        }
      if (trace) {
        val sp = new StringBuilder
        tracer.allSpans.foreach { s =>
          sp ++= Json.render(Map("id" -> s.id, "name" -> s.name,
            "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs,
            "end_ns" -> s.endNs))
          sp += '\n'
        }
        Files.write(runDir.resolve("spans.jsonl"), sp.toString.getBytes(UTF_8))
      }
      val summary = Map(
        "setup_s" -> setupS,
        "session_s" -> sessionS,
        "load_s" -> loadS,
        "warmup_s" -> warmupS,
        "timed_s" -> timedS,
        "peak_rss_mb" -> vmHwmMb,
        "ops_in_file" -> ops.size,
        "warm_digests" -> warmDigests,
        "oracle_sql" ->
          graft.SparkEntry.oracleSql.filter(kv => warmDigests.contains(kv._1)),
        "record" -> Map(
          "nproc" -> nproc,
          "java_version" -> System.getProperty("java.version"),
          "spark_version" -> spark.version,
          "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576),
        "layers" -> layers,
        "layer_table" -> table)
      Files.write(runDir.resolve("summary.json"),
        Json.render(summary).getBytes(UTF_8))
    } finally {
      w.close()
      spark.stop()
    }
  }
}
