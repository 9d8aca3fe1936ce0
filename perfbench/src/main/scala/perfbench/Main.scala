package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.tools.Steal

/** Nightly-refresh benchmark harness, driven by `run.py`.
  *
  * {{{
  * perfbench.Main --prepare --cpus C --work DIR --cache DIR --golden FILE
  *   [--pin]
  * perfbench.Main --workload W --seed N --trace 0|1 --cpus C
  *   --work DIR --cache DIR --golden FILE --out FILE [--pin]
  * }}}
  *
  * `--prepare` (its own JVM; does the work once per checkout) generates
  * the inputs of every variant of every workload, runs the SEED pass
  * through the production entry point, checks it, and keeps the landing
  * tree and the seeded warehouse in `--cache`.
  *
  * A measuring JVM restores that state into a fresh warehouse and runs
  * one INCREMENTAL pass over the day's drop as the first work of the
  * JVM — the cron job's cold start. A traced run (`--trace 1`) runs the
  * traced composition and follows the incremental pass with a NO-OP
  * pass (nothing new), started when the incremental pass has returned,
  * and reports per-layer metrics; untraced runs leave the no-op pass
  * out to fit the time a check may take. A second pass in the same JVM
  * would run warm, so `run.py` starts another JVM while `--seconds`
  * have not been measured. Every pass is checked: a `success`
  * report with no check violations, marts that hash to the pinned
  * values, and a no-op pass that writes no table data. `--pin` records
  * hashes in `--golden` instead of checking them.
  */
object Main {

  final case class Opts(prepare: Boolean, workload: String, seed: Long,
                        trace: Boolean, cpus: Int,
                        work: Path, cache: Path, golden: Path,
                        out: Option[Path], pin: Boolean)

  /** One timed pass. `layer` holds per-layer values (traced runs). */
  final case class Pass(name: String, wall: Double, steal: Option[Double],
                        peakHeapMb: Double, problems: Seq[String],
                        hashes: Map[String, String],
                        layer: Map[String, Double])

  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val ok = if (o.prepare) prepare(o) else measure(o)
    if (!ok) sys.exit(1)
  }

  val Workloads = Seq("qb_nightly", "corpus_nightly")

  private def workloadOf(name: String, spark: SparkSession): Workload =
    name match {
      case "qb_nightly" => new QbWorkload(spark)
      case "corpus_nightly" => new CorpusWorkload(spark)
      case w => sys.error(s"unknown workload $w")
    }

  private def variants(workload: String): Int = workload match {
    case "qb_nightly" => Inputs.QbVariants
    case _ => Inputs.CorpusVariants
  }

  private def session(o: Opts): SparkSession = {
    val s = graft.Sessions.pipeline(o.cpus.toString)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixed location of a workload's landing tree and warehouse: the
    * seeded state is restored to the same paths it was written at, so
    * paths recorded inside the warehouse stay valid. */
  private def runDir(o: Opts, workload: String) =
    o.work.resolve("run").resolve(workload)

  private def variantOf(o: Opts) =
    Math.floorMod(o.seed, variants(o.workload).toLong).toInt

  private def cacheDir(o: Opts, workload: String, variant: Int) =
    o.cache.resolve(workload).resolve(s"v$variant")

  // ---- prepare: inputs + seed pass, kept per variant ------------------

  /** Every variant of every workload, so that no later run has to seed:
    * the first run in a checkout pays for all of them, then marks the
    * cache `complete`. */
  private def prepare(o: Opts): Boolean = {
    val todo = Workloads.flatMap(w =>
      (0 until variants(w)).map(v => (w, v, cacheDir(o, w, v))))
      .filterNot(t => Files.exists(t._3.resolve("seeded.json")))
    val ok = todo.isEmpty || seedAll(o, todo)
    val done = o.cache.resolve("complete")
    if (ok && !Files.exists(done)) Files.createFile(done)
    ok
  }

  private def seedAll(o: Opts, todo: Seq[(String, Int, Path)]): Boolean = {
    val spark = session(o)
    val golden = Golden.load(json, o.golden)
    val heap = new LiveHeap
    val ok = todo.forall { case (name, variant, cache) =>
      val w = workloadOf(name, spark)
      val root = runDir(o, name)
      Inputs.deleteTree(root)
      val data = root.resolve("input")
      w.generate(data, variant)
      val seed = runPass(spark, w, "seed", data, root.resolve("warehouse"),
        None, None, heap,
        if (o.pin) None else Some(golden.expected(name, variant, "seed")))
      if (seed.problems.isEmpty) {
        if (o.pin)
          Golden.pin(json, o.golden, name, variant, "seed", seed.hashes)
        val tmp = cache.resolveSibling(cache.getFileName.toString + ".tmp")
        Inputs.deleteTree(tmp)
        copyTree(root, tmp)
        val meta = json.createObjectNode().put("variant", variant)
          .put("held_out", w.describe(variant)).put("seed_s", seed.wall)
        seed.steal.foreach(meta.put("seed_steal_pct", _))
        json.writeValue(tmp.resolve("seeded.json").toFile, meta)
        Files.move(tmp, cache, StandardCopyOption.ATOMIC_MOVE)
      }
      Inputs.deleteTree(root)
      seed.problems.isEmpty
    }
    spark.stop()
    ok
  }

  // ---- measure ----------------------------------------------------------

  private def measure(o: Opts): Boolean = {
    val variant = variantOf(o)
    val cache = cacheDir(o, o.workload, variant)
    require(Files.exists(cache.resolve("seeded.json")),
      s"no prepared state at $cache")
    val seeded = json.readTree(cache.resolve("seeded.json").toFile)
    val t0 = System.nanoTime()
    val spark = session(o)
    val w = workloadOf(o.workload, spark)
    val root = runDir(o, o.workload)
    val data = root.resolve("input")
    val wh = root.resolve("warehouse")
    Inputs.deleteTree(root)
    copyTree(cache, root)
    Files.delete(root.resolve("seeded.json"))
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up $setupS%.2f s")

    val heap = new LiveHeap
    val counters = new SparkCounters
    if (o.trace) spark.sparkContext.addSparkListener(counters)
    val tracer = if (o.trace) Some(new Tracer) else None
    val golden = Golden.load(json, o.golden)
    def expected(p: String) =
      if (o.pin) None else Some(golden.expected(o.workload, variant, p))

    val inc = runPass(spark, w, "incremental", data, wh, tracer,
      Some(counters), heap, expected("incremental"))
    // the no-op pass runs in traced runs only (see the object doc)
    val noop = tracer.map(_ =>
      if (inc.problems.nonEmpty) Pass("noop", 0, None, 0,
        Seq("previous pass failed"), Map.empty, Map.empty)
      else runPass(spark, w, "noop", data, wh, tracer, Some(counters),
        heap, expected("noop"), unchanged = Some(inc.hashes)))
    val whMb = Inputs.treeBytes(wh) / 1048576.0
    val all = inc +: noop.toSeq
    if (o.pin && all.forall(_.problems.isEmpty))
      Golden.pin(json, o.golden, o.workload, variant, "incremental",
        inc.hashes)

    val failed = all.count(_.problems.nonEmpty)
    val values: Map[String, Double] =
      if (!o.trace) Map(
        "incremental_s" -> inc.wall,
        "setup_s" -> setupS,
        "peak_live_heap_mb" -> all.map(_.peakHeapMb).max,
        "warehouse_mb" -> whMb)
      else Metrics.perLayer.map { case (name, _) =>
        val (p, key) = name.splitAt(name.indexOf('.'))
        name -> all.find(_.name == p).get.layer.getOrElse(key.tail, 0.0)
      }.toMap

    val res = json.createObjectNode()
    res.put("correct", failed == 0)
    res.put("attempted", all.size)
    res.put("failed", failed)
    val m = res.putObject("metrics")
    (if (o.trace) Metrics.perLayer else Metrics.endToEnd).foreach {
      case (n, u) => m.putObject(n).put("value", values(n)).put("unit", u)
    }
    val d = res.putObject("detail")
    d.put("workload", o.workload).put("seed", o.seed)
      .put("variant", variant)
      .set[JsonNode]("prepared", seeded)
    val pa = d.putArray("passes")
    all.foreach { p =>
      val n = pa.addObject().put("pass", p.name).put("wall_s", p.wall)
      p.steal.foreach(n.put("steal_pct", _))
      p.problems.foreach(n.withArray("problems").add(_))
    }
    tracer.foreach { t =>
      val s = d.putArray("spans")
      t.all.foreach(sp => s.addObject().put("id", sp.id)
        .put("parent", sp.parent).put("name", sp.name)
        .put("start_ms", (sp.startNs - t0) / 1e6)
        .put("end_ms", (sp.endNs - t0) / 1e6))
    }
    val out = o.out.get
    Files.createDirectories(out.getParent)
    json.writerWithDefaultPrettyPrinter().writeValue(out.toFile, res)
    Inputs.deleteTree(root)
    spark.stop()
    true
  }

  /** Runs, times and checks one pass. `expected`: None skips the hash
    * check (pinning); Some(None) means no hashes are pinned. A pass
    * given `unchanged` (the no-op) must leave the warehouse's table data
    * exactly as it found it; its marts are then the previous pass's
    * committed files, whose hashes are `unchanged`. */
  private def runPass(spark: SparkSession, w: Workload, p: String,
                      data: Path, wh: Path, tracer: Option[Tracer],
                      counters: Option[SparkCounters], heap: LiveHeap,
                      expected: Option[Option[Map[String, String]]],
                      unchanged: Option[Map[String, String]] = None)
      : Pass = {
    val before = Fingerprint.files(wh)
    val traced = tracer.isDefined
    val c0 = if (traced) counters.get.snap(spark) else Vector.empty
    val gc0 = Jvm.gcSeconds
    w.beforePass(p, data)
    val st0 = Steal.sample()
    heap.arm()
    val t0 = System.nanoTime()
    val outcome =
      try Right(w.pass(p, data, wh, tracer))
      catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val peak = heap.disarm()
    val steal = Steal.pct(st0, Steal.sample())
    outcome match {
      case Left(e) =>
        e.printStackTrace()
        Pass(p, wall, steal, peak, Seq(s"threw $e"), Map.empty, Map.empty)
      case Right(r) =>
        val layer = if (!traced) r.layer else {
          val d = counters.get.snap(spark).zip(c0).map {
            case (a, b) => (a - b).toDouble }
          r.layer ++ Map("spark.jobs" -> d(0), "spark.tasks" -> d(1),
            "spark.shuffle_mb" -> d(2) / 1048576.0,
            "spark.output_mb" -> d(3) / 1048576.0,
            "spark.gc_s" -> (Jvm.gcSeconds - gc0),
            "trace.wall_s" -> wall)
        }
        val after = Fingerprint.files(wh)
        val touched = ((after -- before) ++ (before -- after))
          .filter(Fingerprint.isData)
        val hashes = unchanged.filter(_ => touched.isEmpty)
          .getOrElse(MartHash.hashAll(spark, w.marts(wh)))
        val problems = r.problems ++
          (if (unchanged.isDefined && touched.nonEmpty)
            Seq(s"no-op pass changed ${touched.toSeq.sorted.take(5)
              .mkString(", ")}")
          else Nil) ++
          (expected match {
            case None => Nil
            case Some(None) => Seq("no pinned hashes for this pass")
            case Some(Some(exp)) =>
              (exp.keySet ++ hashes.keySet).toSeq.sorted
                .filter(k => exp.get(k) != hashes.get(k))
                .map(k => s"$k hash ${hashes.getOrElse(k, "missing")} " +
                  s"!= pinned ${exp.getOrElse(k, "missing")}")
          })
        System.err.println(f"[perfbench] $p: $wall%.2f s")
        problems.foreach(q => System.err.println(s"[perfbench] $p: $q"))
        Pass(p, wall, steal, peak, problems, hashes, layer)
    }
  }

  /** Copies a tree keeping file times: the processed-file state in a
    * seeded warehouse records its inputs' modification times. */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  private def parse(args: Array[String]): Opts = {
    def opt(k: String) = {
      val i = args.indexOf(k)
      if (i < 0) None
      else {
        require(i + 1 < args.length, s"$k needs a value")
        Some(args(i + 1))
      }
    }
    def v(k: String) = opt(k).getOrElse(sys.error(s"missing $k"))
    val prepare = args.contains("--prepare")
    val trace = opt("--trace").getOrElse("0")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Opts(prepare, opt("--workload").getOrElse(""),
      opt("--seed").fold(0L)(_.toLong),
      trace == "1",
      v("--cpus").toInt, Inputs.absolute(v("--work")),
      Inputs.absolute(v("--cache")), Inputs.absolute(v("--golden")),
      if (prepare) None else Some(Inputs.absolute(v("--out"))),
      args.contains("--pin"))
  }
}

/** Pinned mart hashes: workload → variant → pass → mart → hash. The
  * no-op pass must leave the incremental pass's marts unchanged. */
final case class Golden(root: JsonNode) {
  def expected(workload: String, variant: Int, pass: String)
      : Option[Map[String, String]] = {
    val n = root.path(workload).path(variant.toString)
      .path(if (pass == "noop") "incremental" else pass)
    if (n.isMissingNode) None
    else Some(n.fields().asScala.map(e => e.getKey -> e.getValue.asText)
      .toMap)
  }
}

object Golden {
  def load(json: ObjectMapper, p: Path): Golden =
    Golden(if (Files.exists(p)) json.readTree(p.toFile)
           else json.createObjectNode())

  def pin(json: ObjectMapper, p: Path, workload: String, variant: Int,
          pass: String, hashes: Map[String, String]): Unit = {
    val root = load(json, p).root.asInstanceOf[ObjectNode]
    val n = root.withObject(s"/$workload").withObject(s"/$variant")
      .putObject(pass)
    hashes.toSeq.sorted.foreach { case (k, h) => n.put(k, h) }
    // stable key order, so pinning one variant leaves a small diff
    def sorted(node: JsonNode): JsonNode =
      if (!node.isObject) node
      else {
        val out = json.createObjectNode()
        node.fieldNames().asScala.toSeq.sorted
          .foreach(k => out.set[JsonNode](k, sorted(node.get(k))))
        out
      }
    json.writerWithDefaultPrettyPrinter().writeValue(p.toFile, sorted(root))
  }
}

/** The files of a warehouse, to see what a pass wrote. */
object Fingerprint {
  def files(dir: Path): Set[Path] =
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSet
      finally s.close()
    }

  /** Table data or commit markers, as opposed to the per-pass snapshot
    * manifest, transaction journal and processed-file state. */
  def isData(p: Path): Boolean = !p.iterator().asScala.map(_.toString)
    .exists(Set("_snapshots", "_txn", "_state"))
}
