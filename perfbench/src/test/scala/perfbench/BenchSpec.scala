package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.Sessions.pipeline("2")
  private lazy val scratch: Path = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target").toAbsolutePath, "bench-spec")
  }

  override def afterAll(): Unit = {
    Inputs.deleteTree(scratch)
    spark.stop()
  }

  /** relative path → SHA-256 of content, for every file under `dir`. */
  private def tree(dir: Path): Map[String, String] =
    Fingerprint.files(dir).map(f => dir.relativize(f).toString ->
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString).toMap

  private def qbTree(name: String, variant: Int): Path = {
    val d = scratch.resolve(name)
    new QbWorkload(spark).generate(d, variant)
    d
  }

  private def corpusTree(name: String, variant: Int): Path = {
    val d = scratch.resolve(name)
    new CorpusWorkload(spark).generate(d, variant)
    d
  }

  test("one seed gives byte-identical XLSX and parquet inputs") {
    val a = tree(qbTree("qb_a", 1))
    val b = tree(qbTree("qb_b", 1))
    assert(a.keys.exists(_.endsWith(".xlsx")))
    assert(a.keys.exists(_.endsWith(".parquet")))
    assert(a == b)
    val c = tree(corpusTree("corpus_a", 2))
    assert(c.keys.count(_.endsWith(".parquet")) == 3)
    assert(c == tree(corpusTree("corpus_b", 2)))
  }

  test("the seed picks the held-out invoice day and the incremental third") {
    def inputFiles(d: Path) = Files.list(d.resolve("input")).iterator()
      .asScala.map(_.getFileName.toString).toSet
    assert(inputFiles(qbTree("qb_v0", 0)) != inputFiles(qbTree("qb_v1", 1)))
    def staged(d: Path) = tree(d.resolve("staged_batch_003"))
    assert(staged(corpusTree("corpus_v0", 0)) !=
      staged(corpusTree("corpus_v1", 1)))
  }

  test("mart hashes ignore row order and load metadata, see row changes") {
    import spark.implicits._
    val rows = Seq((1L, "a", 1.5, "2024-01-01", "/tmp/x"),
      (2L, "b", 2.25, "2024-01-01", "/tmp/x"),
      (3L, "c", 0.1 + 0.2, "2024-01-01", "/tmp/x"))
    val cols = Seq("id", "name", "amount", "load_date", "source_file")
    val df = rows.toDF(cols: _*)
    val h = MartHash.hash(df)
    assert(MartHash.hash(rows.reverse.toDF(cols: _*).repartition(3)) == h)
    assert(MartHash.hash(rows.map(_.copy(_4 = "2030-12-31", _5 = "/y"))
      .toDF(cols: _*)) == h)
    assert(MartHash.hash(rows.map(r => r.copy(_3 = r._3 + 1e-9))
      .toDF(cols: _*)) == h, "last-bit float noise is not a change")
    assert(MartHash.hash(rows.updated(1, rows(1).copy(_2 = "B"))
      .toDF(cols: _*)) != h)
    assert(MartHash.hash((rows :+ rows.head).toDF(cols: _*)) != h)
    assert(MartHash.hash(rows.tail.toDF(cols: _*)) != h)
    assert(MartHash.hash(df.withColumnRenamed("name", "label")) != h)
  }

  test("every printed metric is listed in BENCHMARK.json, with its unit") {
    val spec = new ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json")
      .toFile)
    def listed(key: String) = spec.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(listed("end_to_end") == Metrics.endToEnd)
    assert(listed("per_layer") == Metrics.perLayer)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText)
      .toSet == Set("qb_nightly", "corpus_nightly"))
  }
}
