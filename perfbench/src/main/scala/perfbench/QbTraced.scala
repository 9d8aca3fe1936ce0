package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Fns
import graft.ingest.Ingest
import graft.operators.{MergeUpsert, SnapshotManifest, TxnCommit}
import graft.quality.Checks
import graft.ref.{Catalog, ModelDag}

/** The traced QuickBooks pass: the public functions `cli.Main.run`
  * calls, in the same order, each inside a span. Its committed marts
  * must hash-equal the untraced `Main.run`'s (both are checked against
  * the same pinned hashes), which guards this copy against drift from
  * `Main`'s private `runQuickbooks` and `qualityBattery`.
  *
  * Covers the landing trees [[Inputs.writeQbTree]] builds: QuickBooks
  * workbooks only — no trade-show workbooks, enrichment file or config
  * overrides, so `Main.run` takes its defaults for those. */
object QbTraced {

  final case class Outcome(status: String, quality: Seq[Checks.Result],
                           dagModels: Seq[String], served: Set[String],
                           timings: Map[String, Double], rows: Long)

  // `Main`'s sheet → raw table map and DLT merge keys
  private val sheetTables: Map[String, (String, Map[String, String])] = Map(
    "Customer" -> (("xlsx_customer", Map.empty)),
    "Item" -> (("xlsx_item", Map.empty)),
    "Invoice" -> (("xlsx_invoice",
      Map("product_service_amount" -> "product_service__amount"))),
    "Sales Receipt" -> (("xlsx_sales_receipt", Map.empty)))
  private val mergeKeys: Map[String, Seq[String]] = Map(
    "xlsx_customer" -> Seq("quick_books_internal_id"),
    "xlsx_item" -> Seq("item_name", "snapshot_date"),
    "xlsx_invoice" -> Seq("invoice_no", "product_service"),
    "xlsx_sales_receipt" -> Seq("sales_receipt_no", "product_service"))

  def run(spark: SparkSession, t: Tracer, mode: String, dataDir: String,
          wh: String): Outcome = {
    Seq("trade_shows", "config", "seed/company_enrichment.jsonl")
      .foreach(p => require(!Files.exists(Paths.get(s"$dataDir/$p")),
        s"traced pass covers QuickBooks-only trees; found $p"))
    t.span("operators.recover")(TxnCommit.recover(spark, s"$wh/_txn"))
    val cat = new Catalog(spark, wh, skipUnchanged = true)
    val store = new Ingest.StateStore(s"$wh/_state/processed_files.json")
    if (mode == "incremental")
      require(cat.exists("raw", "xlsx_customer"), "no seeded raw layer")

    var rows = 0L
    val failed = t.span("ingest") {
      try { rows = quickbooks(spark, t, cat, store, mode, dataDir); false }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] source quickbooks failed: $e")
          true
      }
    }
    val ingestKeys = cat.timings.keySet

    val out = t.span("ref.dag") {
      ModelDag.run(cat, ModelDag.RawInputs(
        customers = cat.load("raw", "xlsx_customer"),
        items = cat.load("raw", "xlsx_item"),
        invoices = cat.load("raw", "xlsx_invoice"),
        salesReceipts = cat.load("raw", "xlsx_sales_receipt"),
        tradeShowLeads =
          if (cat.exists("raw", "trade_show_leads"))
            Some(cat.load("raw", "trade_show_leads"))
          else None))
    }
    val dagModels = (cat.timings.keySet -- ingestKeys).toSeq.sorted

    val quality = t.span("quality.checks") {
      Checks.runAll(battery(out) ++
        Seq("fct_orders", "fct_companies").flatMap(m => Seq(
          Checks.snapshotDrift(spark, s"${cat.root}/mart/$m", m,
            maxRelDrift = 0.5),
          Checks.schemaDrift(spark, s"${cat.root}/mart/$m", m))))
    }
    t.span("operators.manifest") {
      SnapshotManifest.publish(spark, s"$wh/_snapshots",
        cat.commits.toSeq.sortBy(_._1).map { case (d, v) =>
          TxnCommit.Staged(d, v) })
    }
    t.span("quality.lint")(graft.tools.DagLint.check(cat.lineage))

    val status =
      if (failed) "partial_failure"
      else if (quality.exists(!_.passed)) "quality_issues"
      else "success"
    Outcome(status, quality, dagModels, cat.skipped.toSet, cat.timings,
      rows)
  }

  /** `Main.runQuickbooks`; returns the decoded sheet rows. */
  private def quickbooks(spark: SparkSession, t: Tracer, cat: Catalog,
                         store: Ingest.StateStore, mode: String,
                         dataDir: String): Long = {
    val dir = if (mode == "seed") s"$dataDir/seed" else s"$dataDir/input"
    val files = t.span("ingest.discover")(Ingest.discover(dir))
    if (files.isEmpty || !store.changed(files.map(_.path))) return 0L
    val replaced = mutable.Set[String]()
    var rows = 0L
    files.foreach { f =>
      val sheets = t.span("sources.decode")(
        graft.sources.Xlsx.readAll(spark, f.path))
      rows += sheets.values.map(localRows).sum
      sheets.foreach { case (sheet, df) =>
        sheetTables.get(sheet).foreach { case (table, renames) =>
          t.span("ingest.land") {
            val std = renames.foldLeft(Fns.standardizeColumns(df)) {
              case (d, (from, to)) => d.withColumnRenamed(from, to)
            }
            val stamped = Ingest.withLoadMetadata(std, f.date,
              isSeed = mode == "seed", sourceFile = f.path)
            val firstSeedBatch = mode == "seed" && replaced.add(table)
            val landed =
              if (!firstSeedBatch && cat.exists("raw", table))
                MergeUpsert.upsert(cat.load("raw", table), stamped,
                  mergeKeys(table))
              else stamped
            cat.saveTable("raw", table, landed).count()
          }
        }
      }
    }
    store.markProcessed(files.map(_.path))
    rows
  }

  /** Rows of a decoded sheet, read from its local relation (no job). */
  private def localRows(df: DataFrame): Long =
    df.queryExecution.logical.collectLeaves().map {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.size.toLong
      case _ => 0L
    }.sum

  /** `Main.qualityBattery`: the mart schema tests. */
  private def battery(out: Map[String, DataFrame]): Seq[Checks.Result] = {
    def on(name: String)(
        checks: DataFrame => Seq[Checks.Result]): Seq[Checks.Result] =
      out.get(name).map(checks).getOrElse(Nil)
    on("mart.fct_orders") { o =>
      Checks.singlePass(o, "fct_orders",
        uniqueCols = Seq("order_number"),
        notNullCols = Seq("order_number"),
        accepted = Seq(
          "sales_channel" -> Seq("Amazon", "Website", "Invoice", "Other"),
          "customer_segment" -> Seq("OEM", "Distributor", "Export",
            "Direct"))).results
    } ++ on("mart.fct_products")(p =>
      Seq(Checks.unique(p, "fct_products", "product_name"))) ++
      on("mart.fct_company_orders")(c =>
        Seq(Checks.uniqueCombination(c, "fct_company_orders",
          Seq("company_domain_key", "order_number")))) ++
      on("mart.fct_companies")(c =>
        Checks.singlePass(c, "fct_companies",
          uniqueCols = Seq("company_domain_key"),
          checkNonEmpty = true).results) ++
      on("mart.dim_company_health")(h =>
        Seq(Checks.unique(h, "dim_company_health",
          "company_domain_key"))) ++
      on("mart.fct_inventory_history")(i =>
        Seq(Checks.uniqueCombination(i, "fct_inventory_history",
          Seq("item_name", "inventory_date")))) ++
      on("mart.fct_trade_show_leads")(l =>
        Seq(Checks.notNull(l, "fct_trade_show_leads", "lead_id")))
  }
}
