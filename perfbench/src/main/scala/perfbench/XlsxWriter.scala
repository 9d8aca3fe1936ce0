package graft.cli

/** Public door to `DemoSource.writeXlsx`, which is package-private to
  * `graft`: the benchmark lands its QuickBooks exports with the
  * program's own workbook writer. Forwarding call only. */
object XlsxWriter {
  def write(path: java.nio.file.Path,
            sheets: Seq[(String, Seq[Seq[String]])]): Unit =
    DemoSource.writeXlsx(path, sheets)
}
