package graftbench

import graft.app.{BatchRunner, StatusDerivation, SubmissionRunner, SummaryFormatter}
import graft.dispatch.{CrossSheet, MergeTables, SheetCatalog}
import graft.io.{ErrorWriter, IcdCatalog, SubmissionSource}
import graft.rules.RuleEvaluator
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.File
import java.time.LocalDate
import scala.collection.mutable

/** Outcome of one timed operation (a submission or a query). */
final case class Op(name: String, seconds: Double, ok: Boolean, error: String = "")

trait Workload {
  /** The set-up pass, on a fresh session. */
  def warmUp(spark: SparkSession): Seq[Op]
  /** One untraced pass: the path a user runs. */
  def pass(spark: SparkSession, passNo: Int): Seq[Op]
  /** One traced pass doing the same work, every public call in a span. */
  def tracedPass(spark: SparkSession, t: Tracer, passNo: Int): Seq[Op]
  /** Bytes and files the last pass wrote; called outside the timed region,
    * where it also removes what earlier passes left behind. */
  def settle(): (Long, Long)
  /** Traced calls into single layers on pinned inputs, after the traced
    * pass; returns extra per-layer metrics. */
  def layerProbes(spark: SparkSession, t: Tracer): Map[String, Double] = Map.empty
  /** Leaves the outputs the correctness gate checks in the gate dir. */
  def finish(): Unit
  /** Input rows one pass validates; 0 when rows come from the listener. */
  def inputRows: Long
}

object Fs {
  def sizeAndCount(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(sizeAndCount)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** SeroNet submissions through the validator app. Each pass validates every
  * submission directory under `inputDir`, one at a time, via
  * `BatchRunner.run`, writing `*_Errors.csv` under `outRoot/pass_<n>`.
  */
final class SubmissionWorkload(inputDir: String, outRoot: String, rows: Long,
    asOf: LocalDate, gateDir: String) extends Workload {
  import Fs._
  val cbcId = 14
  private val subs = new File(inputDir).listFiles().filter(_.isDirectory)
    .map(_.getPath).sorted.toSeq
  private var outs = List.empty[String]

  def inputRows: Long = rows

  private def outDir(passNo: Int): String = {
    outs = s"$outRoot/pass_$passNo" :: outs
    outs.head
  }

  def settle(): (Long, Long) = {
    outs.drop(1).foreach(d => rm(new File(d)))
    outs = outs.take(1)
    sizeAndCount(new File(outs.head))
  }

  private def outcome(o: BatchRunner.Outcome, t: Double): Op = o match {
    case v: BatchRunner.Validated => Op(v.submission, t, ok = true)
    case BatchRunner.Rejected(s, r) => Op(s, t, ok = false, s"rejected: $r")
    case BatchRunner.Failed(s, e) => Op(s, t, ok = false, s"failed: $e")
  }

  def warmUp(spark: SparkSession): Seq[Op] = pass(spark, 0)

  def pass(spark: SparkSession, passNo: Int): Seq[Op] = {
    val out = outDir(passNo)
    subs.map { dir =>
      val t0 = now()
      val res = BatchRunner.run(spark, Seq(dir), out, cbcId, asOf)
      outcome(res.head, secs(t0))
    }
  }

  /** The same call sequence as `BatchRunner.run`, each call in a span. */
  def tracedPass(spark: SparkSession, t: Tracer, passNo: Int): Seq[Op] = {
    val out = outDir(passNo)
    subs.map { dir =>
      val name = new File(dir).getName
      val t0 = now()
      try t.span("app.submission") {
        val (sheets, meta) = t.span("io.load") {
          val sheets = SubmissionSource.load(spark, dir)
          val gate = SubmissionSource.qualityGate(sheets, 0, cbcKnown = true)
          require(gate.isEmpty, s"$name rejected: $gate")
          (sheets, sheets.get("submission.csv").flatMap(SubmissionSource.metadata))
        }
        val icd = t.span("io.icd")(IcdCatalog.existsFn(spark))
        val result = t.span("app.validate") {
          SubmissionRunner.validate(spark, sheets, SubmissionRunner.Config(
            cbcId = cbcId, asOf = asOf,
            declaredParticipants = meta.flatMap(_.declaredParticipants),
            declaredBiospecimens = meta.flatMap(_.declaredBiospecimens),
            icdExists = Some(icd)))
        }
        t.span("io.errwrite")(ErrorWriter.write(result.errors, s"$out/$name"))
        t.span("app.status") {
          val counts = StatusDerivation.severityCounts(result.errors)
          StatusDerivation.derive(sheets.keys.toSeq.sorted, counts)
          SummaryFormatter.format(name, "0", cbcId.toString,
            sheets.keys.toSeq.sorted, counts, asOf.toString)
        }
        Op(name, secs(t0), ok = true)
      } catch { case e: Exception => Op(name, secs(t0), ok = false, s"failed: ${e.getMessage}") }
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Each layer on its own, on the first submission. First the validator's
    * whole error frame is built lazily (no declared counts, so nothing is
    * pinned) and planned from scratch for the Catalyst metrics. Then sheets
    * and merged sheets are pinned with localCheckpoint outside the spans,
    * and every span materializes its frames with a noop write.
    */
  override def layerProbes(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val dir = subs.head
    val icd = IcdCatalog.existsFn(spark)
    val frame = t.span("app.frame_build") {
      SubmissionRunner.validate(spark, SubmissionSource.load(spark, dir),
        SubmissionRunner.Config(cbcId = cbcId, asOf = asOf, icdExists = Some(icd))).errors
    }
    val (phases, nodes) = org.apache.spark.sql.BenchCatalyst.plan(frame)
    val sheets = SubmissionSource.load(spark, dir).map { case (k, v) => k -> v.localCheckpoint() }
    val meta = SubmissionSource.metadata(sheets("submission.csv"))
    val names = sheets.keys.toSeq.sorted.filterNot(SubmissionRunner.skippedSheets)
    var compiled = 0L
    val merged = t.span("dispatch.merge") {
      names.map { n =>
        val (m, drop) = MergeTables.merge(n, sheets(n), sheets)
        noop(m)
        (n, m, drop)
      }
    }.map { case (n, m, drop) => (n, m.localCheckpoint(), drop) }
    val plans = t.span("dispatch.catalog") {
      merged.map { case (n, m, drop) =>
        n -> SheetCatalog.plan(n, m.columns.filterNot(_ == "Row_Index").toSeq, drop,
          cbcId, asOf, icd)
      }.toMap
    }
    var seq = 0L
    val evaluated = t.span("rules.evaluate") {
      merged.map { case (n, m, _) =>
        val rules = plans(n).rowRules
        compiled += rules.size
        val e = RuleEvaluator.evaluate(n, m, rules, seq)
        seq += rules.size
        t.span("sheet." + n.stripSuffix(".csv"))(noop(e))
        e
      }
    }
    val dups = t.span("rules.dupids") {
      merged.flatMap { case (n, m, _) =>
        plans(n).dupIdColumns.map { c =>
          val e = RuleEvaluator.dupIds(n, m, c, seq)
          seq += 1
          noop(e)
          e
        }
      }
    }
    val perSheet = (evaluated ++ dups).map(_.localCheckpoint())
    val partList = names.filter(plans(_).contributesPartList)
    val bioList = names.filter(plans(_).contributesBioList)
    val cross = t.span("dispatch.crosssheet") {
      val slices: String => Option[DataFrame] = n => MergeTables.slice(sheets, n)
      val p = CrossSheet.allPartIds(slices).map(CrossSheet.crossSheetParticipant(_, cbcId, seq))
      val b = CrossSheet.allBioIds(slices).map(CrossSheet.crossSheetBiospecimen(_, cbcId, seq + 10))
      val all = (p ++ b).toSeq
      all.foreach(noop)
      val union = perSheet.reduce(_ unionByName _)
      val recon = meta.toSeq.flatMap { m =>
        m.declaredParticipants.map(CrossSheet.passingIdReconciliation(
          "Research_Participant_ID", partList, sheets, union, _, seq + 60)).toSeq ++
          m.declaredBiospecimens.map(CrossSheet.passingIdReconciliation(
            "Biospecimen_ID", bioList, sheets, union, _, seq + 61)).toSeq
      }
      all ++ recon
    }.map(_.localCheckpoint())
    val union = (perSheet ++ cross).reduce(_ unionByName _).localCheckpoint()
    val before = union.count()
    val emitted = evaluated.map(_.count()).sum
    val after = t.span("rules.dedup")(RuleEvaluator.dedupFirst(union).localCheckpoint()).count()
    phases.map { case (k, v) => s"catalyst.${k}_s" -> v } ++ Map(
      "catalyst.plan_nodes" -> nodes.toDouble,
      "rules.compiled" -> compiled.toDouble,
      "rules.emitted_rows" -> emitted.toDouble,
      "rules.dedup_keep_ratio" -> (if (before == 0) 1.0 else after.toDouble / before))
  }

  /** The gate reads the `*_Errors.csv` files of the last pass. */
  def finish(): Unit = {
    settle()
    val src = new File(outs.head)
    require(src.renameTo(new File(gateDir)), s"cannot move $src to $gateDir")
  }
}

/** Registry queries, each built, planned and materialized with a noop
  * write, in a fixed order. `module` maps a query to the layer it is
  * reported under. The warm-up pass writes every result as parquet to
  * `gateDir` instead, for the DuckDB oracle.
  */
final class QueryWorkload(sfDir: String, queries: Seq[String],
    module: String => String, scratchRoot: File, gateDir: String) extends Workload {
  import Fs._
  private val registry = graft.QueryRegistry.queries
  queries.foreach(q => require(registry.contains(q), s"unknown query $q"))

  def inputRows: Long = 0L

  /** Per-query lake directories under the engine's scratch root. */
  private def scratch(): Set[File] =
    Option(scratchRoot.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft-scratch")).flatMap(d =>
        Option(d.listFiles()).getOrElse(Array.empty[File])).toSet

  private var known = scratch()

  /** Measures and removes what the last pass left under the scratch root,
    * so every pass starts alike. */
  def settle(): (Long, Long) = {
    val fresh = scratch() -- known
    val sized = fresh.toSeq.map(sizeAndCount)
    fresh.foreach(rm)
    known = scratch()
    (sized.map(_._1).sum, sized.map(_._2).sum)
  }

  private def timed(q: String)(body: => Unit): Op = {
    val t0 = now()
    try { body; Op(q, secs(t0), ok = true) }
    catch { case e: Throwable => Op(q, secs(t0), ok = false, String.valueOf(e.getMessage)) }
  }

  /** Runs every query once, on as many threads as the session has cores,
    * writing each result as parquet for the oracle gate. */
  def warmUp(spark: SparkSession): Seq[Op] = {
    new File(gateDir).mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    val ops = try {
      queries.map(q => pool.submit(() => timed(q)(registry(q)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$gateDir/$q")))).map(_.get())
    } finally pool.shutdown()
    val sql = graft.QueryRegistry.oracleSql
    val body = queries.flatMap(q => sql.get(q).map(s => Json.str(q) + ":" + Json.str(s)))
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(new File(gateDir, "oracle_sql.json").toPath, body)
    ops
  }

  def pass(spark: SparkSession, passNo: Int): Seq[Op] = queries.map(q => timed(q)(
    registry(q)(spark, sfDir).write.format("noop").mode("overwrite").save()))

  /** Catalyst seconds (analysis + optimization + planning) of every action
    * the session has finished, from each QueryExecution's tracker. */
  @volatile private var catalystTotal = 0.0
  private var listening: Option[SparkSession] = None

  private def listen(spark: SparkSession): Unit = if (!listening.contains(spark)) {
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        catalystTotal += qe.tracker.phases.values.map(_.durationMs).sum / 1e3
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    })
    listening = Some(spark)
  }

  /** Catalyst seconds of each query's noop write in the traced pass. */
  val planSeconds = mutable.HashMap.empty[String, Double]

  def tracedPass(spark: SparkSession, t: Tracer, passNo: Int): Seq[Op] = {
    listen(spark)
    val sc = spark.sparkContext
    queries.map { q =>
      val m = module(q)
      timed(q) {
        t.span(s"$m.$q") {
          val df = t.span(s"$m.build")(registry(q)(spark, sfDir))
          org.apache.spark.BenchBus.drain(sc)
          val c0 = catalystTotal
          t.span(s"$m.exec")(df.write.format("noop").mode("overwrite").save())
          org.apache.spark.BenchBus.drain(sc)
          planSeconds(q) = catalystTotal - c0
        }
      }
    }
  }

  def finish(): Unit = { settle(); () }
}
