package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.TripleStore
import graft.model.PageRow
import graft.pipeline.{Pipeline, SynthCorpus}
import graft.streaming.StreamingPipeline

/** What a workload's run needs from the harness. */
final case class Ctx(
    spark: SparkSession,
    work: Path,
    repo: Path,
    seed: Long,
    tiny: Boolean,
    tracer: Tracer,
    obs: Observers,
    corrupt: Option[String],
    expected: Expected)

/** Listeners attached for the traced half of a traced run. */
final class Observers {
  @volatile var spark: Option[SparkStats] = None
  @volatile var stream: Option[StreamStats] = None
}

/** One timed unit of work: its wall seconds, the output rows it committed
  * or produced, the operations it stands for, and its per-layer counters
  * (traced runs only).
  */
final case class Sample(seconds: Double, rows: Long, ops: Int = 1,
    layer: Map[String, Double] = Map.empty)

abstract class Workload(val ctx: Ctx) {
  import ctx._

  val in: Path = work.resolve("in")

  /** Stage the seeded inputs under `in` (timed as set-up). */
  def stage(): Unit

  /** Untimed work before the warm-up operations (default none). */
  def warmup(): Unit = ()

  /** Untimed operations before the measured window: the JVM is still
    * compiling for the first few.
    */
  def warmOps: Int

  /** One operation; returns its timed samples. */
  def op(i: Int): Vector[Sample]

  /** Output checks after the measured window; returns failures. */
  def check(): Vector[String]

  /** Per-layer numbers a traced run adds besides the per-sample ones, and
    * the failures of the checks made along the way.
    */
  def tracedExtras(): (Map[String, Double], Vector[String]) = (Map.empty, Vector.empty)

  /** Operations run outside the measured samples: name -> (attempted, failed). */
  val probes = mutable.Map.empty[String, (Int, Int)]

  private[perfbench] def stats(prefix: String): Map[String, Double] =
    obs.spark.map(_.take(spark).map { case (k, v) => s"$prefix.$k" -> v }).getOrElse(Map.empty)
}

/** Many short synthetic pages whose text must be extracted from html,
  * built into a fresh store by `TripleStore.runCheckpointed` per operation.
  * A traced run also merges recrawl segments into the last store with
  * `StreamingPipeline.streamToStore` (see [[Recrawl]]).
  */
final class CrawlBuild(c: Ctx) extends Workload(c) {
  import c._
  import spark.implicits._

  private val docs = if (tiny) 300 else 8000
  val warmOps: Int = if (tiny) 0 else 2
  private def pages = spark.read.parquet(in.resolve("pages").toString).as[PageRow]
  private var lastStore: Option[Path] = None

  def stage(): Unit =
    SynthCorpus.pages(spark, docs, seed = seed, skewFraction = 0.05, partitions = 16,
      blankText = true).write.mode(SaveMode.Overwrite).parquet(in.resolve("pages").toString)

  // the per-document code needs far more calls than a few builds make
  // before the JIT settles: run it over many more pages once, untimed
  override def warmup(): Unit =
    if (!tiny) Pipeline.triples(SynthCorpus.pages(spark, 8L * docs, seed = seed + 1,
      skewFraction = 0.05, partitions = 64, blankText = true)).count()

  def op(i: Int): Vector[Sample] = {
    lastStore.foreach(Files2.deleteTree) // only the last store is checked
    val dir = work.resolve(s"stores/op$i")
    Files2.deleteTree(dir)
    lastStore = Some(dir)
    val t0 = System.nanoTime()
    val lin = tracer.span("io.TripleStore.runCheckpointed") {
      TripleStore.runCheckpointed(pages, dir.toString)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val layer =
      if (!tracer.enabled) Map.empty[String, Double]
      else stats("store") ++ Map("store.call_ms" -> secs * 1000,
        "store.size_mb" -> Files2.dataBytes(dir.resolve("data")) / 1048576.0)
    Vector(Sample(secs, lin.map(_.triples).sum, 1, layer))
  }

  /** Lineage against a read-back count, the committed triples against
    * `Pipeline.triples` over the same pages, and a fixed canary corpus
    * against the digest recorded at the seed commit.
    */
  def check(): Vector[String] = {
    val dir = lastStore.get
    if (corrupt.contains("store")) Files2.dropOneDataFile(dir.resolve("data"))
    val errs = Vector.newBuilder[String]
    val lin = TripleStore.lineage(dir.toString)
    val readBack = spark.read.parquet(dir.resolve("data").toString)
    val nPages = pages.count()
    val nStored = readBack.count()
    if (lin.map(_.docs).sum != nPages)
      errs += s"lineage docs ${lin.map(_.docs).sum} != pages $nPages"
    if (lin.map(_.triples).sum != nStored)
      errs += s"lineage triples ${lin.map(_.triples).sum} != read-back $nStored"
    val want = Digest.triples(Pipeline.triples(pages))
    val got = Digest.triples(readBack)
    if (want != got) errs += s"store digest ${got.token} != Pipeline.triples ${want.token}"
    val canary = Digest.triples(Pipeline.triples(Canary.synth(spark))).token
    if (!expected.canary.get("synth").contains(canary))
      errs += s"canary digest $canary != recorded ${expected.canary.get("synth")}"
    errs.result()
  }

  override def tracedExtras(): (Map[String, Double], Vector[String]) = {
    val stages = stagePass()
    val (merge, errs) = new Recrawl(ctx, this, docs, lastStore.get).run()
    (stages ++ merge, errs)
  }

  /** The traced stage pass over the pages: per-stage totals, checked
    * against the untraced `Pipeline.triples` output of the same pages.
    */
  private def stagePass(): Map[String, Double] = {
    val t0 = System.nanoTime()
    val plain = Digest.triples(Pipeline.triples(pages))
    val plainS = (System.nanoTime() - t0) / 1e9
    val acc = spark.sparkContext.collectionAccumulator[PartStages]("perfbench.stages")
    val t1 = System.nanoTime()
    val traced = tracer.span("perfbench.stagePass") {
      val d = Digest.triples(StageTrace.triples(pages, acc))
      StageTrace.record(tracer, tracer.current, acc.value.asScala.toSeq)
      d
    }
    val tracedS = (System.nanoTime() - t1) / 1e9
    require(traced == plain,
      s"traced stage decomposition ${traced.token} != Pipeline.triples ${plain.token}: " +
        "Pipeline.convertPage no longer composes the five traced stages")
    val parts = acc.value.asScala.toSeq
    def ms(f: PartStages => Long) = parts.map(f).sum / 1e6
    def n(f: PartStages => Long) = parts.map(f).sum.toDouble
    val nDocs = n(_.docs)
    Map(
      "extract.html_ms" -> ms(_.htmlNs),
      "extract.segment_ms" -> ms(_.segmentNs),
      "frames.detect_ms" -> ms(_.framesNs),
      "link.link_ms" -> ms(_.linkNs),
      "rdf.emit_ms" -> ms(_.emitNs),
      "pipeline.convert_ms" -> ms(p => p.endNs - p.startNs),
      "extract.sentences" -> n(_.sentences),
      "frames.frames" -> n(_.frames),
      "link.mentions" -> n(_.mentions),
      "rdf.triples" -> n(_.triples),
      "rdf.docs_with_triples_share" -> (if (nDocs == 0) 0.0 else n(_.docsWithTriples) / nDocs),
      "trace.stage_overhead_ms" -> (tracedS - plainS) * 1000)
  }
}

/** Recrawl segments merged into a built store by the streaming drain: each
  * segment is a tenth of the store's documents, half newer crawls of stored
  * urls with changed text and half never-seen urls, stamped after all
  * earlier segments. One `streamToStore` drain per segment; then a
  * backfill segment that exposes a known defect (see `backfillProbe`).
  */
final class Recrawl(ctx: Ctx, owner: CrawlBuild, storeDocs: Int, base: Path) {
  import ctx._
  import spark.implicits._

  private val segments = 2
  private val segDocs = math.max(2, storeDocs / 10)
  private val baseTs = 1758931200000L // SynthCorpus page k is stamped baseTs + k s
  private val hour = 3600000L
  private def segTs(k: Int): Long = baseTs + storeDocs * 1000L + (k + 1) * 24 * hour
  private val dir = work.resolve("recrawl")
  private val store = dir.resolve("store")
  private val crawl = dir.resolve("crawl")

  private def segment(k: Int): Seq[PageRow] = {
    val half = segDocs / 2
    val start = (SfData.mix(seed, 12, 0) >>> 1) % storeDocs
    val recrawled = (0 until half).map { j =>
      SynthCorpus.row(seed + 7919L * (k + 1), (start + k * half + j) % storeDocs, 0.05, blankText = true)
        .copy(warc_ts = new Timestamp(segTs(k) + j * 1000L))
    }
    val fresh = (0 until half).map { j =>
      SynthCorpus.row(seed, storeDocs.toLong + k * half + j, 0.05, blankText = true)
        .copy(warc_ts = new Timestamp(segTs(k) + (half + j) * 1000L))
    }
    recrawled ++ fresh
  }

  /** Never-seen urls from an older snapshot, stamped three hours before
    * the newest crawl: more than the drain's 1 h watermark behind it.
    */
  private def backfill: Seq[PageRow] = (0 until segDocs / 2).map { j =>
    SynthCorpus.row(seed, storeDocs.toLong + segments * segDocs + j, 0.05, blankText = true)
      .copy(warc_ts = new Timestamp(segTs(segments - 1) - 3 * hour + j * 1000L))
  }

  private def stageSegment(rows: Seq[PageRow], name: String): Path = {
    val out = dir.resolve(s"staged/$name")
    spark.createDataset(rows).coalesce(1).write.mode(SaveMode.Overwrite).parquet(out.toString)
    out
  }

  /** Land a staged segment in the crawl directory the stream watches. */
  private def land(staged: Path, name: String): Unit = {
    val ls = Files.list(staged)
    val f = try ls.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    finally ls.close()
    Files.copy(f, crawl.resolve(s"$name.parquet"))
  }

  def run(): (Map[String, Double], Vector[String]) = {
    Files2.deleteTree(dir)
    Files.createDirectories(crawl)
    Files2.copyTree(base, store)
    val segs = (0 until segments).map(k => stageSegment(segment(k), s"seg$k"))
    val segTriples = segs.map(p => Pipeline.triples(spark.read.parquet(p.toString).as[PageRow]).count())
    owner.stats("merge"); obs.stream.foreach(_.take(spark))

    val drains = segs.indices.map { k =>
      land(segs(k), s"seg$k")
      val t0 = System.nanoTime()
      val spanId = tracer.span("streaming.StreamingPipeline.streamToStore", Map("segment" -> k.toString)) {
        StreamingPipeline.streamToStore(spark, crawl.toString, store.toString)
        tracer.current
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val s = owner.stats("merge")
      val batches = obs.stream.map(_.take(spark)).getOrElse(Vector.empty)
      recordBatches(spanId, batches)
      def sum(key: String) = batches.map(_.getOrElse(key, 0.0)).sum
      Recorder.note(f"recrawl drain $k $secs%.3f s")
      s ++ Map(
        "recrawl.merge_round_s" -> secs,
        "recrawl.merge_docs_per_s" -> segDocs / secs,
        "merge.call_ms" -> sum("addBatch"),
        "merge.rewrite_amplification" -> s.getOrElse("merge.records_written", 0.0) / segTriples(k),
        "stream.batches" -> batches.size.toDouble,
        "stream.trigger_ms" -> sum("triggerExecution"),
        "stream.planning_ms" -> sum("queryPlanning"),
        "stream.wal_commit_ms" -> sum("walCommit"),
        "stream.state_rows" -> batches.lastOption.map(_("state_rows")).getOrElse(0.0),
        "stream.state_commit_ms" -> sum("state_commit_ms"))
    }

    // the merged store must equal a batch build over the newest crawl of
    // every url
    if (corrupt.contains("store")) Files2.dropOneDataFile(store.resolve("data"))
    val all = (Seq(owner.in.resolve("pages")) ++ segs)
      .map(p => spark.read.parquet(p.toString).as[PageRow]).reduce(_ unionByName _)
    val newest = all.toDF()
      .withColumn("rk", row_number().over(Window.partitionBy("url").orderBy(col("warc_ts").desc)))
      .filter(col("rk") === 1).drop("rk").as[PageRow]
    val want = Digest.triples(Pipeline.triples(newest))
    val got = Digest.triples(spark.read.parquet(store.resolve("data").toString))
    val errs =
      if (want == got) Vector.empty
      else Vector(s"merged store ${got.token} != batch build over newest pages ${want.token}")

    val failed = backfillProbe(stageSegment(backfill, "backfill"))
    val keys = drains.flatMap(_.keys).distinct
    val med = keys.map(k => k -> Stats.median(drains.flatMap(_.get(k)))).toMap
    (med + ("stream.backfill_failed_share" -> (if (failed) 1.0 else 0.0)), errs)
  }

  /** The known backfill defect: pages below the watermark make
    * `latestVersionPerUrl` set an event-time timeout under the watermark,
    * and the drain aborts. Attempted after the store check, never timed.
    */
  private def backfillProbe(staged: Path): Boolean = {
    land(staged, "backfill")
    val failed =
      try {
        tracer.span("streaming.StreamingPipeline.streamToStore", Map("segment" -> "backfill")) {
          StreamingPipeline.streamToStore(spark, crawl.toString, store.toString)
        }
        false
      } catch {
        case e: Exception =>
          val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(x => Option(x.getMessage).getOrElse(x.getClass.getName)).mkString(" <- ")
          Recorder.note(s"backfill drain failed: ${msg.take(300)}")
          true
      }
    spark.streams.active.foreach(_.stop())
    obs.stream.foreach(_.take(spark))
    owner.stats("merge")
    val (a, f) = owner.probes.getOrElse("backfill", (0, 0))
    owner.probes("backfill") = (a + 1, f + (if (failed) 1 else 0))
    failed
  }

  /** Spans for a drain's micro-batches from their progress reports: each
    * batch's phases laid end to end from its trigger start. The
    * foreachBatch body, `upsertDocs` over `Pipeline.triples`, is the
    * `addBatch` phase.
    */
  private def recordBatches(parent: Int, batches: Vector[Map[String, Double]]): Unit =
    batches.foreach { b =>
      val start = Recorder.epochMsToNano(b.getOrElse("trigger_start_ms", 0.0).toLong)
      val id = tracer.add(parent, "streaming.microBatch", start,
        start + (b.getOrElse("triggerExecution", 0.0) * 1e6).toLong, 1L)
      var t = start
      Seq("latestOffset" -> "streaming.latestOffset", "queryPlanning" -> "streaming.queryPlanning",
        "getBatch" -> "streaming.getBatch", "addBatch" -> "io.TripleStore.upsertDocs",
        "walCommit" -> "streaming.walCommit", "commitOffsets" -> "streaming.commitOffsets")
        .foreach { case (k, name) =>
          val ns = (b.getOrElse(k, 0.0) * 1e6).toLong
          tracer.add(id, name, t, t + ns, 1L)
          t += ns
        }
    }
}

/** Fixed corpus whose triple digest is recorded in expected.json. */
object Canary {
  def synth(spark: SparkSession): Dataset[PageRow] =
    SynthCorpus.pages(spark, 1000L, seed = 42L, skewFraction = 0.05, partitions = 4,
      blankText = true)

  def digests(spark: SparkSession): Map[String, String] = Map(
    "synth" -> Digest.triples(Pipeline.triples(synth(spark))).token)
}
