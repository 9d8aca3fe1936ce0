package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.quality.Checks

/** What one pass returned: problems found in its report, and per-layer
  * values (traced runs). */
final case class PassOutcome(problems: Seq[String],
                             layer: Map[String, Double])

trait Workload {
  def describe(variant: Int): String
  def generate(dir: Path, variant: Int): Unit
  def beforePass(pass: String, data: Path): Unit = ()
  def pass(pass: String, data: Path, wh: Path,
           tracer: Option[Tracer]): PassOutcome
  /** (name, table dir) of every mart the correctness check hashes. */
  def marts(wh: Path): Seq[(String, String)]
}

/** QuickBooks exports landed as XLSX → `cli.Main.run` → marts. */
final class QbWorkload(spark: SparkSession) extends Workload {
  private var heldOut = ""
  def describe(variant: Int): String = s"invoices of $heldOut"

  def generate(dir: Path, variant: Int): Unit = {
    Inputs.writeStar(spark, dir.resolve("star"), Inputs.QbScale)
    heldOut = Inputs.writeQbTree(spark, dir.resolve("star"), dir, variant)
  }

  def pass(p: String, data: Path, wh: Path,
           tracer: Option[Tracer]): PassOutcome = {
    val mode = if (p == "seed") "seed" else "incremental"
    tracer match {
      case None =>
        val r = graft.cli.Main.run(spark, mode, data.toString, wh.toString)
        PassOutcome(Workload.reportProblems(r.overallStatus, r.quality) ++
          (if (p == "noop" && r.modelsSkipped.isEmpty)
            Seq("no-op pass served no model") else Nil), Map.empty)
      case Some(t) =>
        val o = t.span(s"pass.$p")(
          QbTraced.run(spark, t, mode, data.toString, wh.toString))
        val root = t.find(s"pass.$p").last
        val rebuilt = o.dagModels.count(m => !o.served(m))
        val decode = t.total(root, "sources.decode")
        val layer = Map(
          "sources.decode_s" -> decode,
          "sources.rows" -> o.rows.toDouble,
          "ingest.land_s" -> (t.total(root, "ingest") - decode),
          "ref.dag_s" -> t.total(root, "ref.dag"),
          "ref.model_busy_s" -> o.dagModels.map(o.timings).sum,
          "ref.models_rebuilt" -> rebuilt.toDouble,
          "ref.models_served" -> (o.dagModels.size - rebuilt).toDouble,
          "quality.checks_s" ->
            (t.total(root, "quality.checks") + t.total(root, "quality.lint")),
          "operators.recover_s" -> t.total(root, "operators.recover"),
          "operators.manifest_s" -> t.total(root, "operators.manifest"),
          "trace.coverage" -> t.childSeconds(root) / root.seconds) ++
          (if (p == "incremental")
            o.dagModels.map(m => s"model.${m}_s" -> o.timings(m))
          else Nil)
        PassOutcome(Workload.reportProblems(o.status, o.quality) ++
          (if (p == "noop" && rebuilt > 0)
            Seq(s"no-op pass rebuilt $rebuilt models") else Nil), layer)
    }
  }

  /** Every fct_* / dim_* / mart_* table. */
  def marts(wh: Path): Seq[(String, String)] =
    Inputs.dirs(wh.resolve("mart"))
      .map(_.getFileName.toString)
      .filter(n => Seq("fct_", "dim_", "mart_").exists(n.startsWith))
      .map(n => s"mart.$n" -> wh.resolve(s"mart/$n").toString)
}

/** Document batches → `corpus.CorpusPipeline.run` → training marts. */
final class CorpusWorkload(spark: SparkSession) extends Workload {
  def describe(variant: Int): String =
    s"documents with doc_id mod 3 = $variant"

  def generate(dir: Path, variant: Int): Unit =
    Inputs.writeCorpusBatches(spark, dir, variant)

  private def staged(data: Path) = data.resolve("staged_batch_003")
  private def live(data: Path) = data.resolve("batches/batch_003")

  override def beforePass(p: String, data: Path): Unit =
    if (p == "incremental") Files.move(staged(data), live(data))

  def pass(p: String, data: Path, wh: Path,
           tracer: Option[Tracer]): PassOutcome = {
    val mode = if (p == "seed") "seed" else "incremental"
    def run() = graft.corpus.CorpusPipeline.run(spark, mode, data.toString,
      wh.toString)
    val (r, wall) = tracer match {
      case None => (run(), 0.0)
      case Some(t) =>
        val r = t.span(s"pass.$p")(run())
        (r, t.find(s"pass.$p").last.seconds)
    }
    val walls = r.stageWalls.groupMapReduce(_._1)(_._2)(_ + _)
    val layer =
      if (tracer.isEmpty) Map.empty[String, Double]
      else Seq("folds", "doc_labels", "split", "canonical", "packed",
          "export", "quality")
        .map(s => s"corpus.${s}_s" -> walls.getOrElse(s, 0.0)).toMap ++
        Map("corpus.other_s" -> (wall - walls.values.sum),
          "corpus.models_served" -> r.modelsSkipped.size.toDouble,
          "trace.coverage" -> walls.values.sum / wall)
    PassOutcome(Workload.reportProblems(r.overallStatus, r.quality) ++
      (if (p == "noop" && (r.modelsSkipped.isEmpty || r.exportRewritten))
        Seq("no-op pass rebuilt the corpus marts") else Nil), layer)
  }

  def marts(wh: Path): Seq[(String, String)] =
    Seq("split_assignment", "canonical_docs", "packed_train").map(n =>
      s"corpus.$n" -> wh.resolve(s"corpus/$n").toString)
}

object Workload {
  def reportProblems(status: String, quality: Seq[Checks.Result])
      : Seq[String] =
    (if (status == "success") Nil else Seq(s"report status $status")) ++
      quality.filterNot(_.passed).map(r =>
        s"check ${r.table}.${r.check}: ${r.violations} violations")
}
