package graftbench

import org.apache.spark.sql.SparkSession
import java.io.File
import java.time.LocalDate
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the harness's flat outputs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** The benchmark's JVM side: starts the session and runs the warm-up pass
  * (together: the set-up), runs untraced passes for the requested seconds,
  * optionally one traced pass plus layer probes, leaves the outputs the
  * correctness gate reads, and writes one result JSON (plus the spans of a
  * traced run) to the work directory.
  *
  * Usage: Main --workload <name> --input <dir> --work <dir> --seconds <s>
  *   --trace <0|1> --cpus <n> --rows <n> --as-of <yyyy-mm-dd>
  */
object Main {
  /** query-mix, each query with the layer it is reported under: the queries
    * whose work `count()` hides, the headline full-scan aggregate, the
    * streaming sessionizer, and one lake merge-on-read commit. */
  val queryMix: Seq[(String, String)] = Seq(
    "q146_content_chunking" -> "functions", "q70_rolling_hash_fingerprint" -> "functions",
    "q66_approx_percentile" -> "operators", "q18_percentiles" -> "operators",
    "q93_repetition_signals" -> "functions", "q94_pii_redaction" -> "functions",
    "q01_agg_fullscan" -> "operators", "q51_sessionize" -> "streaming",
    "q144_lake_merge_on_read" -> "io.lake")

  /** Layers the query workload reports build, plan and exec times for. The
    * mix has no rules-module query: the submission workload measures rules. */
  val modules = Seq("operators", "functions", "streaming", "io.lake")

  def sessionConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.app.name" -> "graft-perfbench",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.files.maxPartitionBytes" -> graft.EngineConf.MaxPartitionBytes,
    "spark.sql.cteRecursionRowLimit" -> graft.EngineConf.CteRecursionRowLimit,
    "spark.ui.enabled" -> "false")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile; with fewer samples than the rank needs, the
    * highest percentile the sample supports (its maximum). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Old-generation bytes still in use after a full collection. The second
    * collection follows Spark's cleaner, which frees the blocks of
    * broadcasts and checkpoints the first one found unreachable. */
  private def liveOldGenBytes(): Long = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum
  }

  final case class PassRec(seconds: Double, ops: Seq[Op], bytes: Long, files: Long,
      counters: Counters, gc: Double)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val wlName = o("workload")
    val work = new File(o("work")).getAbsoluteFile
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val conf = sessionConf(o("cpus").toInt)
    val gateDir = new File(work, "gate").getPath
    val wl: Workload = wlName match {
      case "submission-batch" => new SubmissionWorkload(o("input"),
        new File(work, "errors").getPath, o("rows").toLong, LocalDate.parse(o("as-of")),
        gateDir)
      case "query-mix" => new QueryWorkload(o("input"), queryMix.map(_._1), queryMix.toMap,
        new File(System.getProperty("java.io.tmpdir")), gateDir)
    }

    // set-up: JVM and session start plus the warm-up pass
    val spark = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val listener = new BenchListener
    sc.addSparkListener(listener)
    val warmOps = wl.warmUp(spark)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    wl.settle()

    def run(body: => Seq[Op]): PassRec = {
      val c0 = listener.snapshot()
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val ops = body
      val dt = (System.nanoTime() - t0) / 1e9
      val gc = gcSeconds() - gc0
      org.apache.spark.BenchBus.drain(sc)
      val (bytes, files) = wl.settle()
      PassRec(dt, ops, bytes, files, listener.snapshot().minus(c0), gc)
    }

    // timed, untraced passes: closed loop until `seconds` have passed
    val passes = mutable.ArrayBuffer.empty[PassRec]
    var heapPeak = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.isEmpty || System.nanoTime() < deadline) {
      passes += run(wl.pass(spark, passes.size + 1))
      heapPeak = math.max(heapPeak, liveOldGenBytes())
    }

    val mb = 1e6
    val ops = passes.flatMap(_.ops)
    val passS = median(passes.map(_.seconds).toSeq)
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (passS, "s"),
      "submission_p50_s" -> (percentile(ops.map(_.seconds).toSeq, 0.5), "s"),
      "submission_p90_s" -> (percentile(ops.map(_.seconds).toSeq, 0.9), "s"),
      "rows_per_s" -> (median(passes.map { p =>
        (if (wl.inputRows > 0) wl.inputRows else p.counters.recordsRead) / p.seconds
      }.toSeq), "1/s"),
      "bytes_written_mb" -> (median(passes.map(p =>
        (p.bytes + p.counters.shuffleWriteBytes).toDouble).toSeq) / mb, "MB"),
      "heap_live_peak_mb" -> (heapPeak / mb, "MB"))

    // traced pass and layer probes
    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit = perLayer(k) = (v, unit)
    var spansJson = ""
    if (trace) {
      val tracer = new Tracer(spark, listener, s"$wlName-${System.currentTimeMillis()}")
      val traced = run(wl.tracedPass(spark, tracer, passes.size + 1))
      ops ++= traced.ops
      val probes = wl.layerProbes(spark, tracer)
      org.apache.spark.BenchBus.drain(sc)
      val spans = tracer.finished
      spansJson = tracer.json(spans)
      def named(n: String) = spans.filter(_.name == n)
      def layerOf(s: Span) = s.name.substring(0, s.name.lastIndexOf('.'))
      val c = traced.counters

      for (p <- Seq("analysis", "optimization", "planning"))
        put(s"catalyst.${p}_s", probes.getOrElse(s"catalyst.${p}_s", 0.0), "s")
      put("catalyst.plan_nodes", probes.getOrElse("catalyst.plan_nodes", 0.0), "count")
      put("app.frame_build_s", named("app.frame_build").map(_.seconds).sum, "s")
      put("spark.jobs", c.jobs.toDouble, "count")
      put("spark.stages", c.stages.toDouble, "count")
      put("spark.tasks", c.tasks.toDouble, "count")
      put("spark.task_cpu_s", c.taskCpuNs / 1e9, "s")
      put("spark.shuffle_write_mb", c.shuffleWriteBytes / mb, "MB")
      put("spark.shuffle_read_mb", c.shuffleReadBytes / mb, "MB")
      put("spark.spill_mb", c.spillBytes / mb, "MB")
      for (n <- Seq("io.load", "io.icd", "app.validate", "io.errwrite", "app.status",
          "dispatch.merge", "dispatch.catalog", "rules.evaluate", "rules.dupids",
          "dispatch.crosssheet", "rules.dedup"))
        put(s"${n}_s", named(n).map(_.seconds).sum, "s")
      for (n <- Seq("io.load", "app.validate", "io.errwrite", "app.status"))
        put(s"${n}_jobs", named(n).map(_.counters.jobs).sum.toDouble, "count")
      val sub = wl.isInstanceOf[SubmissionWorkload]
      put("io.errwrite_mb", if (sub) traced.bytes / mb else 0.0, "MB")
      put("rules.compiled", probes.getOrElse("rules.compiled", 0.0), "count")
      put("rules.emitted_rows", probes.getOrElse("rules.emitted_rows", 0.0), "count")
      put("rules.dedup_keep_ratio", probes.getOrElse("rules.dedup_keep_ratio", 0.0), "ratio")
      val planOf = wl match {
        case q: QueryWorkload => q.planSeconds.toMap
        case _ => Map.empty[String, Double]
      }
      for (m <- modules) {
        val qs = queryMix.collect { case (q, `m`) => q }
        val plan = qs.map(planOf.getOrElse(_, 0.0)).sum
        put(s"$m.build_s", named(s"$m.build").map(_.seconds).sum, "s")
        put(s"$m.plan_s", plan, "s")
        put(s"$m.exec_s", named(s"$m.exec").map(_.seconds).sum - plan, "s")
        put(s"$m.jobs", spans.filter(layerOf(_) == m).map(_.counters.jobs).sum.toDouble,
          "count")
      }
      put("io.lake.bytes_written_mb", if (sub) 0.0 else traced.bytes / mb, "MB")
      put("io.lake.files_written", if (sub) 0.0 else traced.files.toDouble, "count")
      for ((q, _) <- queryMix)
        put(s"$q.s", spans.filter(_.name.endsWith("." + q)).map(_.seconds).sum, "s")
      for (l <- Seq("app", "io", "dispatch", "rules") ++ modules)
        put(s"$l.self_s", spans.filter(layerOf(_) == l)
          .map(s => tracer.selfSeconds(s, spans)).sum, "s")
      put("jvm.gc_s", traced.gc, "s")
      put("trace.overhead_frac", traced.seconds / passS - 1, "ratio")
    }

    wl.finish()
    spark.stop()

    def metrics(m: Seq[(String, (Double, String))]) = Json.obj(m.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val failedOps = (warmOps ++ ops).filterNot(_.ok)
    val result = Json.obj(Seq(
      "workload" -> Json.str(wlName),
      "passes" -> passes.size.toString,
      "pass_seconds" -> passes.map(p => Json.num(p.seconds)).mkString("[", ",", "]"),
      "attempted" -> (warmOps.size + ops.size).toString,
      "failed" -> failedOps.size.toString,
      "errors" -> failedOps.map(op => Json.str(s"${op.name}: ${op.error}"))
        .mkString("[", ",", "]"),
      "conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
      "gate_dir" -> Json.str(gateDir),
      "end_to_end" -> metrics(endToEnd),
      "per_layer" -> metrics(perLayer.toSeq)))
    java.nio.file.Files.writeString(new File(work, "result.json").toPath, result)
    if (spansJson.nonEmpty)
      java.nio.file.Files.writeString(new File(work, "spans.jsonl").toPath, spansJson + "\n")
  }
}
