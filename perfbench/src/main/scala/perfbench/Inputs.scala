package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic input generators. The base tables are drawn from a
  * FIXED internal seed, so the marts they produce can be pinned in
  * `golden.json`; the workload seed only picks a variant (the held-out
  * invoice day, the incremental document third), of which there are
  * few enough to pin every one. Nothing is read from outside the
  * checkout: the testdata-shaped star tables the program's
  * `RefFixturesScale` maps into QuickBooks exports are generated here.
  */
object Inputs {

  private val BaseSeed = 20240601L

  /** Held-out invoice days to choose from (the latest ones). */
  val QbVariants = 2
  /** Document thirds the incremental pass can fold (two of the three
    * keep the first run's seeding cost down). */
  val CorpusVariants = 2

  // ---- QuickBooks landing tree -------------------------------------

  /** Star-table volume behind the QuickBooks exports: ~12k order lines
    * (a fifth of sf0.01) keeps one seed → incremental → no-op cycle in
    * the time a run may take while decode, merge and models still move
    * real rows. */
  final case class StarScale(customers: Int, parts: Int, orders: Int,
                             maxLines: Int)
  val QbScale = StarScale(customers = 300, parts = 400, orders = 3000,
    maxLines = 7)

  private val FirstDay = LocalDate.of(1992, 1, 1)
  private val Days = 2405 // through 1998-08-02, the TPC-H order range

  private def ts(d: LocalDate) =
    java.sql.Timestamp.from(d.atStartOfDay(ZoneOffset.UTC).toInstant)

  /** Writes `customer`, `part`, `orders` and `lineitem` parquet with the
    * testdata columns `RefFixturesScale` reads. */
  def writeStar(spark: SparkSession, dir: Path, s: StarScale): Unit = {
    val rnd = new scala.util.Random(BaseSeed)
    def money(lo: Double, hi: Double) =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    val types = Vector("STANDARD ANODIZED TIN", "SMALL PLATED BRASS",
      "MEDIUM BURNISHED COPPER", "LARGE BRUSHED STEEL",
      "ECONOMY POLISHED NICKEL", "PROMO ANODIZED STEEL")
    val customers = (1 to s.customers).map(k =>
      Row(k.toLong, f"Customer#$k%09d", money(-999, 9999)))
    val parts = (1 to s.parts).map(k =>
      Row(k.toLong, types(rnd.nextInt(types.size)), rnd.nextInt(50) + 1,
        money(900, 2000)))
    val price = parts.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val orders = Vector.newBuilder[Row]
    val lines = Vector.newBuilder[Row]
    (1 to s.orders).foreach { o =>
      val nLines = rnd.nextInt(s.maxLines) + 1
      val ls = (1 to nLines).map { _ =>
        val pk = (rnd.nextInt(s.parts) + 1).toLong
        val q = (rnd.nextInt(50) + 1).toDouble
        val tax = if (rnd.nextInt(4) == 0) 0.0 else rnd.nextInt(9) / 100.0
        Row(o.toLong, pk, q, math.round(q * price(pk) * 100) / 100.0, tax)
      }
      lines ++= ls
      orders += Row(o.toLong, (rnd.nextInt(s.customers) + 1).toLong,
        Vector("F", "O", "P")(rnd.nextInt(3)),
        math.round(ls.map(_.getDouble(3)).sum * 100) / 100.0,
        ts(FirstDay.plusDays(rnd.nextInt(Days).toLong)))
    }
    def save(name: String, rows: Seq[Row], schema: StructType): Unit =
      writeParquet(spark.createDataFrame(rows.asJava, schema),
        dir.resolve(s"$name.parquet"))
    save("customer", customers, StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_acctbal", DoubleType))))
    save("part", parts, StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))))
    save("orders", orders.result(), StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType))))
    save("lineitem", lines.result(), StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_tax", DoubleType))))
  }

  /** The QuickBooks landing tree `cli.Main` consumes, built from the
    * program's own fixture mapping (`RefFixturesScale`) and XLSX writer
    * (`DemoSource.writeXlsx`):
    *
    *  - `seed/All Lists_01_01_1995_seed.xlsx`: customers + the 1995
    *    item snapshot;
    *  - `seed/<day before>_transactions.xlsx`: every invoice and sales
    *    receipt except the held-out day's invoices;
    *  - `input/All Lists_01_01_1996_export.xlsx`: customers + the 1996
    *    item snapshot;
    *  - `input/<held-out day>_transactions.xlsx`: that day's invoices.
    *
    * `variant` picks the held-out day among the [[QbVariants]] latest
    * invoice days. Returns the held-out day. */
  def writeQbTree(spark: SparkSession, star: Path, root: Path,
                  variant: Int): String = {
    import graft.ref.RefFixturesScale
    val dir = star.toString
    Seq("seed", "input").foreach(d =>
      Files.createDirectories(root.resolve(d)))
    val customers = sheetOf(RefFixturesScale.rawCustomers(spark, dir))
    val items = RefFixturesScale.rawItems(spark, dir)
    // rawItems carries its snapshot date; sheetOf drops it, so split
    // the snapshots before writing
    def snap(d: String) = sheetOf(items.filter(col("snapshot_date") === d))
    val invoices = sheetOf(RefFixturesScale.rawInvoices(spark, dir))
    val dateAt = invoices.head.indexOf("Invoice Date")
    def day(r: Seq[String]) = r(dateAt).take(10)
    val days = invoices.tail.map(day).distinct.sorted.reverse
      .take(QbVariants)
    val heldOut = days(variant % days.length)
    val dayBefore = LocalDate.parse(heldOut).minusDays(1).toString
    val (held, kept) = invoices.tail.partition(day(_) == heldOut)
    xlsx(root.resolve("seed/All Lists_01_01_1995_seed.xlsx"), Seq(
      "Customer" -> customers, "Item" -> snap("1995-01-01")))
    xlsx(root.resolve("input/All Lists_01_01_1996_export.xlsx"), Seq(
      "Customer" -> customers, "Item" -> snap("1996-01-01")))
    xlsx(root.resolve(s"seed/${dayBefore}_transactions.xlsx"), Seq(
      "Invoice" -> (invoices.head +: kept),
      "Sales Receipt" -> sheetOf(
        RefFixturesScale.rawSalesReceipts(spark, dir))))
    xlsx(root.resolve(s"input/${heldOut}_transactions.xlsx"), Seq(
      "Invoice" -> (invoices.head +: held)))
    heldOut
  }

  /** QuickBooks export header for a DLT column name (the inverse of
    * `Fns.standardizeColumns`; `cli.Main` renames the double-underscore
    * amount back after standardization). */
  private def header(snake: String): String = snake match {
    case "product_service" => "Product/Service"
    case "product_service_description" => "Product/Service Description"
    case "product_service_quantity" => "Product/Service Quantity"
    case "product_service_rate" => "Product/Service Rate"
    case "product_service__amount" => "Product/Service Amount"
    case "product_service_amount" => "Product Service Amount"
    case _ => snake.split('_').filter(_.nonEmpty)
      .map(w => w.head.toUpper + w.tail).mkString(" ")
  }

  /** Header + string rows in a stable row order, without the load
    * metadata the pipeline stamps itself. */
  private def sheetOf(df: DataFrame): Seq[Seq[String]] = {
    val cols = df.columns.toSeq
      .filterNot(Set("load_date", "snapshot_date", "is_seed"))
    val rows = df.select(cols.map(c => col(c).cast("string")): _*)
      .collect().toSeq
      .map(r => cols.indices.map(i => Option(r.getString(i)).getOrElse("")))
      .sortBy(_.mkString("\u0001"))
    cols.map(header) +: rows
  }

  /** `DemoSource.writeXlsx`, then the zip entries re-stamped with one
    * fixed time: the writer stamps the wall clock, and the same seed
    * must give byte-identical workbooks. */
  private def xlsx(path: Path, sheets: Seq[(String, Seq[Seq[String]])])
      : Unit = {
    graft.cli.XlsxWriter.write(path, sheets)
    val in = new java.util.zip.ZipInputStream(Files.newInputStream(path))
    val entries =
      try Iterator.continually(in.getNextEntry).takeWhile(_ != null)
        .map(e => e.getName -> in.readAllBytes()).toVector
      finally in.close()
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(path))
    try entries.foreach { case (name, bytes) =>
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(FixedZipTime)
      out.putNextEntry(e)
      out.write(bytes)
      out.closeEntry()
    } finally out.close()
  }

  private val FixedZipTime =
    java.time.LocalDateTime.of(2024, 6, 1, 0, 0)
      .atZone(java.time.ZoneId.systemDefault()).toInstant.toEpochMilli

  // ---- corpus batches ----------------------------------------------

  /** The shape of the program's `documents` test table at sf0.1,
    * measured on its 5,000 rows (figures in README.md): texts of 10–99
    * tokens (uniform) drawn uniformly from a 30-word vocabulary; 5% near
    * copies, each another document's text with the token `dup`
    * appended (two near copies of one document are the exact copies);
    * languages en 40% and de/es/fr/zh 15% each; `source` is
    * `src<doc_id mod 20>`; `n_chars` is the text's length. */
  val CorpusDocs = 5000
  private val Vocabulary = Vector("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  private val NearCopyShare = 0.05
  private val Sources = 20

  def documents(spark: SparkSession): DataFrame = {
    val rnd = new scala.util.Random(BaseSeed + 1)
    val texts = Array.fill(CorpusDocs)(
      Seq.fill(10 + rnd.nextInt(90))(
        Vocabulary(rnd.nextInt(Vocabulary.size))).mkString(" "))
    texts.indices.foreach { i =>
      if (rnd.nextDouble() < NearCopyShare) {
        val j = (i + 1 + rnd.nextInt(CorpusDocs - 1)) % CorpusDocs
        texts(i) = texts(j) + " dup"
      }
    }
    val rows = texts.indices.map { i =>
      val u = rnd.nextDouble()
      val lang = if (u < 0.4) "en" else Vector("de", "es", "fr", "zh")(
        math.min(3, ((u - 0.4) / 0.15).toInt))
      Row(i.toLong, texts(i), lang, s"src${i % Sources}",
        texts(i).length.toLong)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  /** Splits [[documents]] into thirds by `doc_id mod 3`. The two thirds
    * other than `variant` become `batches/batch_001` and `_002`
    * (the seed pass folds both); the held-out third is written to
    * `staged_batch_003`, which [[CorpusWorkload]] moves into `batches/`
    * after the seed pass as the incremental drop. */
  def writeCorpusBatches(spark: SparkSession, root: Path,
                         variant: Int): Unit = {
    val docs = documents(spark).cache()
    val seedThirds = (0 until 3).filterNot(_ == variant)
    seedThirds.zipWithIndex.foreach { case (k, i) =>
      writeParquet(docs.filter(pmod(col("doc_id"), lit(3)) === k),
        root.resolve(s"batches/batch_00${i + 1}"))
    }
    writeParquet(docs.filter(pmod(col("doc_id"), lit(3)) === variant),
      root.resolve("staged_batch_003"))
    docs.unpersist()
  }

  /** One parquet file per directory under a fixed name, no checksum or
    * success files — so a frame of local rows gives byte-identical files
    * on every run. */
  def writeParquet(df: DataFrame, dir: Path): Unit = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(dir)
    Files.move(part, dir.resolve("part-00000.parquet"))
    deleteTree(tmp)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  def dirs(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else Files.list(p).iterator().asScala.filter(Files.isDirectory(_))
      .toSeq.sortBy(_.toString)

  def absolute(s: String): Path = Paths.get(s).toAbsolutePath.normalize
}
