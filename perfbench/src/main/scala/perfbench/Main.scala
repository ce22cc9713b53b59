package perfbench

import java.io.InputStream
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.io.StageJson
import graft.rdf.TripleEmitter

/** Values recorded at the seed commit (perfbench/expected.json). */
final case class Expected(canary: Map[String, String], leaves: Map[String, String])

object Expected {
  def read(p: Path): Expected = {
    if (!Files.exists(p)) return Expected(Map.empty, Map.empty)
    val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    def obj(k: String) =
      Option(t.get(k)).map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
        .getOrElse(Map.empty[String, String])
    Expected(obj("canary"), obj("leaves"))
  }
}

/** Run-wide bookkeeping shared with the workloads. */
object Recorder {
  private val notes = mutable.ArrayBuffer.empty[String]
  def note(s: String): Unit = synchronized { notes += s; System.err.println(s"[perfbench] $s") }
  def all: Vector[String] = synchronized(notes.toVector)

  // wall-clock epoch ms -> this JVM's nanoTime scale, for spans built from
  // timestamps Spark reports
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def epochMsToNano(ms: Long): Long = ms * 1000000L + nanoOffset

  private var last = System.nanoTime()
  /** Log the time spent since the previous phase mark. */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    note(f"phase $name ${(now - last) / 1e9}%.2f s")
    last = now
  }
}

/** Golden frames/entities replayed through `TripleEmitter.convert` against
  * the reference's own triples, as the parity test suite does.
  */
object Parity {
  def run(repo: Path): (Double, Double) = {
    val golden = repo.resolve("src/test/resources/golden")
    def lines(p: Path) = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toVector
    var tp, fp, fn = 0L
    lines(golden.resolve("index.txt")).filter(_.nonEmpty).foreach { l =>
      val parts = l.split('\t')
      val (dir, a) = (parts(0), parts(parts.length - 1))
      def open(f: String): InputStream = Files.newInputStream(golden.resolve(s"$dir/$f"))
      val frames = StageJson.parseFrames(a, open("frames.json"))
      val entities = StageJson.parseEntities(a, open("entities.json"))
      val ours = TripleEmitter.convert(a, frames.sentences, entities).map(_.ttlLine).toSet
      val gold = lines(golden.resolve(s"$dir/rdf.ttl")).filter(x => x.nonEmpty && !x.startsWith("#")).toSet
      tp += (ours & gold).size; fp += (ours -- gold).size; fn += (gold -- ours).size
    }
    (tp.toDouble / (tp + fp), tp.toDouble / (tp + fn))
  }
}

/** Benchmark entry point: one workload, one run, one result file.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --repo <checkout> [--tiny 1]
  *   [--corrupt store|leaf] [--record <expected.json>]
  */
object Main {

  /** (name, unit) of the metrics BENCHMARK.json declares under `key`. */
  private def declared(repo: Path, key: String): Vector[(String, String)] = {
    val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(repo.resolve("BENCHMARK.json").toFile)
    t.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toVector
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** Live heap after a full collection, in MB (untimed). */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Record the canary digest and, for the suite, each leaf's digest as
    * the values later runs must reproduce.
    */
  private def writeExpected(out: Path, w: Workload, spark: SparkSession): Unit = {
    val leaves = w match { case s: OperatorSuite => s.recorded; case _ => Map.empty[String, String] }
    def obj(m: Map[String, String]) =
      m.toVector.sortBy(_._1).map { case (k, v) => s"    ${Json.str(k)}: ${Json.str(v)}" }
        .mkString("{\n", ",\n", "\n  }")
    Files.write(out, s"""{\n  "canary": ${obj(Canary.digests(spark))},\n  "leaves": ${obj(leaves)}\n}\n"""
      .getBytes(StandardCharsets.UTF_8))
    Recorder.note(s"recorded expected values to $out")
  }

  def main(args: Array[String]): Unit = {
    Recorder.phase("jvm")
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val traced = opts.get("--trace").contains("1")
    val work = Paths.get(opts("--work")).toAbsolutePath
    val repo = Paths.get(opts("--repo")).toAbsolutePath
    val tiny = opts.get("--tiny").contains("1")
    val corrupt = opts.get("--corrupt")
    val record = opts.get("--record").map(Paths.get(_))
    val result = work.resolve("result.json")

    // session settings as BuildKg sets them, at the core count BuildKg
    // defaults to
    val cores = 4
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    Recorder.phase("session")
    try {
      val runId = s"$workload-$seed-${if (traced) "traced" else "plain"}-${System.currentTimeMillis()}"
      val tracer = new Tracer(runId)
      val obs = new Observers
      val ctx = Ctx(spark, work, repo, seed, tiny, tracer, obs, corrupt,
        Expected.read(repo.resolve("perfbench/expected.json")))
      val w: Workload = workload match {
        case "crawl_build" => new CrawlBuild(ctx)
        case "operator_suite" => new OperatorSuite(ctx)
        case other => sys.error(s"unknown workload $other")
      }

      // set-up: stage the seeded inputs three times and report the median,
      // which leaves out the first staging's cold JVM
      val setupTimes = (1 to (if (tiny) 1 else 3)).map { _ =>
        Files2.deleteTree(w.in)
        val t0 = System.nanoTime()
        w.stage()
        val s = (System.nanoTime() - t0) / 1e9
        Recorder.note(f"setup $s%.3f s")
        s
      }
      val inputsDigest = Files2.contentDigest(w.in)
      Recorder.note(s"staged inputs digest $inputsDigest")
      Recorder.phase("setup")
      w.warmup()
      (1 to w.warmOps).foreach(k => w.op(-k))
      Recorder.phase("warmup")

      if (record.nonEmpty) {
        writeExpected(record.get, w, spark)
        return
      }

      // measured window: operations until the time is spent (at least one)
      var peak = liveHeapMb()
      var nextOp = 0
      def window(budget: Double): Vector[(Sample, Double)] = {
        val out = Vector.newBuilder[(Sample, Double)]
        val t0 = System.nanoTime()
        val first = nextOp
        while (nextOp == first || (System.nanoTime() - t0) / 1e9 < budget) {
          val gc0 = gcMs
          val samples = w.op(nextOp)
          val gc = (gcMs - gc0) / samples.size
          samples.foreach { s =>
            out += s -> gc
            Recorder.note(f"op $nextOp ${s.seconds}%.3f s, ${s.rows} rows")
          }
          nextOp += 1
          peak = math.max(peak, liveHeapMb())
        }
        out.result()
      }
      // a traced run spends its first half untraced, so the tracing
      // overhead is measured against the same inputs in the same JVM
      val plain = window(if (traced) seconds / 2 else seconds)
      val tracedSamples =
        if (!traced) Vector.empty
        else {
          val ss = new SparkStats
          val st = new StreamStats
          spark.sparkContext.addSparkListener(ss)
          spark.streams.addListener(st)
          ss.take(spark); st.take(spark)
          obs.spark = Some(ss); obs.stream = Some(st)
          tracer.enabled = true
          tracer.span("perfbench.window")(window(seconds / 2))
        }
      val (extras, extraErrors) =
        if (traced) tracer.span("perfbench.extras")(w.tracedExtras()) else (Map.empty[String, Double], Vector.empty)

      Recorder.phase("window")
      val parity = Parity.run(repo)
      val errors = extraErrors ++ w.check() ++ {
        val (p, r) = parity
        if (p < 0.95 || r < 0.95) Vector(f"parity precision $p%.4f / recall $r%.4f below 0.95") else Vector.empty
      }
      errors.foreach(e => Recorder.note(s"CHECK FAILED: $e"))
      w.probes.foreach { case (k, (a, f)) => Recorder.note(s"probe $k: $f of $a drains failed") }

      Recorder.phase("checks")
      val all = plain ++ tracedSamples
      val samples = all.map(_._1)
      val metrics: Vector[(String, String, Double)] =
        if (!traced) {
          // operations report their best in the window (the repository's
          // best-of-N discipline): on a shared 4-core host, contention only
          // ever adds time, and the median of a run's builds spread 0.23
          // across ten seeds where the best build spread 0.15 (NOTES.md)
          val vals = Map(
            "setup_s" -> Stats.median(setupTimes),
            "op_s" -> samples.map(_.seconds).min,
            "rows_per_s" -> samples.map(s => s.rows / s.seconds).max,
            "peak_heap_mb" -> peak,
            "parity_precision" -> parity._1,
            "parity_recall" -> parity._2)
          declared(repo, "end_to_end").map { case (k, u) => (k, u, vals(k)) }
        } else {
          val ts = tracedSamples
          val keys = ts.flatMap(_._1.layer.keys).distinct
          val med = keys.map(k => k -> Stats.median(ts.flatMap(_._1.layer.get(k)))).toMap
          val vals = med ++ extras ++ Map(
            "spark.gc_ms" -> Stats.median(ts.map(_._2)),
            "spark.executor_cpu_ms" -> med.getOrElse("store.cpu_ms", med.getOrElse("spark.executor_cpu_ms", 0.0)),
            "trace.overhead_ms" ->
              (Stats.median(ts.map(_._1.seconds)) - Stats.median(plain.map(_._1.seconds))) * 1000,
            "trace.spans" -> tracer.all.size.toDouble)
          // a layer the workload does not reach reads 0
          declared(repo, "per_layer").map { case (k, u) => (k, u, vals.getOrElse(k, 0.0)) }
        }

      if (traced) {
        val out = repo.resolve("perfbench/out")
        Files.createDirectories(out)
        val f = out.resolve(s"trace-$workload-$seed.json")
        tracer.write(f, Map(
          "inputs_digest" -> Json.str(inputsDigest),
          "notes" -> Recorder.all.map(Json.str).mkString("[", ",", "]")))
        Recorder.note(s"spans written to $f")
        tracer.selfMsByName.toVector.sortBy(-_._2).take(12).foreach { case (n, ms) =>
          Recorder.note(f"self $n%-45s $ms%10.1f ms")
        }
      }

      val attempted = samples.map(_.ops).sum
      val body = metrics.map { case (k, u, v) =>
        s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
      }.mkString("{", ", ", "}")
      Files.write(result,
        s"""{"correct": ${errors.isEmpty}, "attempted": $attempted, "failed": 0, "metrics": $body}"""
          .getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
