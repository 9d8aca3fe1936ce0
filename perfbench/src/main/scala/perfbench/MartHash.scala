package perfbench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.AtomicTable

/** Order-insensitive content hashes of committed marts. A mart's hash
  * covers its schema and the multiset of its rows: each row is hashed
  * over its columns in name order and the row hashes are summed exactly,
  * which makes row order and partitioning irrelevant while a changed,
  * missing or duplicated row still changes the sum. Marts are small
  * enough to hash in this JVM; they are read and collected
  * concurrently. */
object MartHash {

  /** Load-metadata columns that carry the clock or temp paths. */
  val Excluded = Set("load_date", "source_file")

  /** mart name → hash of the latest committed version of each
    * (name, table dir); a dir with no committed version is left out. */
  def hashAll(spark: SparkSession, marts: Seq[(String, String)])
      : Map[String, String] = {
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(marts) { case (n, dir) =>
      Future(AtomicTable.read(spark, dir).map(df => n -> hash(df)))
    }, Duration.Inf).flatten.toMap
    finally pool.shutdown()
  }

  def hash(df: DataFrame): String = {
    val fields = df.schema.fields.zipWithIndex
      .filterNot { case (f, _) => Excluded(f.name) }.sortBy(_._1.name)
    val schema = fields.map { case (f, _) =>
      s"${f.name}:${f.dataType.simpleString}" }.mkString(",")
    val rows = df.collect()
    val sum = rows.iterator.map(r =>
      BigInt(1, sha(fields.map { case (_, i) => cell(r, i) }
        .mkString("\u0001")).take(8))).sum
    hex(sha(s"$schema|${rows.length}|$sum")).take(16)
  }

  /** Canonical text of one cell. Doubles are compared to 6 decimals: a
    * sum whose addition order follows task timing may differ in the
    * last bits. Dates and timestamps are rendered zone-free. */
  def cell(r: Row, i: Int): String = r.get(i) match {
    case null => "\u0000null"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => BigDecimal(d).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
    case f: Float => cell(Row(f.toDouble), 0)
    case b: java.math.BigDecimal => b.toPlainString
    case t: java.sql.Timestamp => s"${Math.floorDiv(t.getTime, 1000L)}.${t.getNanos}"
    case d: java.sql.Date => d.toLocalDate.toString
    case nested: Row => nested.toSeq.indices.map(cell(nested, _))
      .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] =>
      s.map(v => cell(Row(v), 0)).mkString("[", ",", "]")
    case v => v.toString
  }

  private def sha(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
}
