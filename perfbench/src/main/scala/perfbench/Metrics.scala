package perfbench

/** Every metric the benchmark prints, by name and unit; BENCHMARK.json
  * lists the same names (BenchSpec checks both directions). */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "incremental_s" -> "s", "setup_s" -> "s",
    "peak_live_heap_mb" -> "MB", "warehouse_mb" -> "MB")

  /** Per pass; a layer a workload bypasses reads 0 on that workload. */
  private val perPass: Seq[(String, String)] = Seq(
    "sources.decode_s" -> "s", "sources.rows" -> "count",
    "ingest.land_s" -> "s",
    "ref.dag_s" -> "s", "ref.model_busy_s" -> "s",
    "ref.models_rebuilt" -> "count", "ref.models_served" -> "count",
    "quality.checks_s" -> "s",
    "operators.recover_s" -> "s", "operators.manifest_s" -> "s") ++
    Seq("folds", "doc_labels", "split", "canonical", "packed", "export",
      "quality", "other").map(s => s"corpus.${s}_s" -> "s") ++
    Seq("corpus.models_served" -> "count",
      "spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.shuffle_mb" -> "MB", "spark.output_mb" -> "MB",
      "spark.gc_s" -> "s",
      "trace.wall_s" -> "s", "trace.coverage" -> "ratio")

  /** Zero on every passing no-op pass of both workloads, so they could
    * never move: a no-op pass decodes nothing and folds no batch, and
    * the correctness check fails one that rebuilds a model, rewrites
    * the corpus export or writes table data. */
  private val zeroOnNoop = Set("sources.decode_s", "sources.rows",
    "ref.models_rebuilt", "corpus.folds_s", "corpus.export_s",
    "spark.output_mb")

  /** The tables `ModelDag.run` commits from a QuickBooks-only tree. */
  val models: Seq[String] = Seq(
    "intermediate.company_consolidation",
    "intermediate.contact_email_parsing",
    "intermediate.contact_name_enrichment",
    "intermediate.contact_quality_scoring",
    "intermediate.customer_company_mapping",
    "intermediate.customer_contacts",
    "intermediate.customer_person_mapping",
    "intermediate.customer_person_mapping_fixed",
    "intermediate.customer_revenue", "intermediate.inventory_history",
    "intermediate.item_kits", "intermediate.items_enriched",
    "intermediate.material_type", "intermediate.orders",
    "intermediate.product_family", "mart.bridge_customer_company",
    "mart.dim_accounts_receivable_aging", "mart.dim_company_health",
    "mart.dim_customer_contacts", "mart.dim_customer_contacts_fixed",
    "mart.fct_companies", "mart.fct_company_orders",
    "mart.fct_company_orders_time_series", "mart.fct_company_products",
    "mart.fct_dso_metrics", "mart.fct_inventory_history",
    "mart.fct_order_line_items", "mart.fct_orders",
    "mart.fct_product_pricing_history", "mart.fct_products",
    "mart.mart_company_period_metrics",
    "mart.mart_product_company_period_spending",
    "mart.mart_product_margin_analytics", "mart.mart_product_unit_sales",
    "raw.customer_name_mapping", "raw.domain_mapping",
    "staging.customer_name_mapping", "staging.domain_mapping")

  val perLayer: Seq[(String, String)] =
    perPass.map { case (n, u) => s"incremental.$n" -> u } ++
      perPass.filterNot(m => zeroOnNoop(m._1))
        .map { case (n, u) => s"noop.$n" -> u } ++
      models.map(m => s"incremental.model.${m}_s" -> "s")
}
