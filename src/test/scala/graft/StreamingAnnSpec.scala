package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Pipeline, SynthCorpus}
import graft.similarity.Ann
import graft.streaming.StreamingPipeline

class StreamingAnnSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("streaming pipeline yields the same triple set as batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pages_stream").toString
    val pages = SynthCorpus.pages(spark, 30, seed = 5L)
    pages.write.mode("overwrite").parquet(dir)

    val streamed = StreamingPipeline.runOnce(spark, dir, "stream_test")
      .select("docId", "subj", "frame", "pred", "obj")
      .as[(String, String, String, String, String)].collect().toSet
    val batch = Pipeline.triples(spark.read.parquet(dir).as[graft.model.PageRow])
      .map(t => (t.docId, t.subj, t.frame, t.pred, t.obj)).collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stateful recrawl dedup keeps only the newest version per url") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("pages_recrawl").toString
    // batch 1: original crawls
    SynthCorpus.pages(spark, 10, seed = 21L)
      .write.mode("overwrite").parquet(s"$dir/b1")
    // batch 2: recrawl of the same urls, 1 day newer, plus 5 new urls
    val recrawl = SynthCorpus.pages(spark, 15, seed = 21L)
      .map(p => p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L)))
    recrawl.write.mode("overwrite").parquet(s"$dir/b2")

    val name = "recrawl_test"
    spark.streams.active.filter(_.name == name).foreach(_.stop())
    val q = StreamingPipeline.latestVersionPerUrl(
      StreamingPipeline.readPages(spark, s"$dir/b*", globFilter = "*.parquet"))
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table(name)
      .select("url", "warc_ts")
      .as[(String, java.sql.Timestamp)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2.getTime).max).toMap
    assert(out.size == 15, s"expected 15 urls, got ${out.size}")
    // urls present in both batches resolve to the newer timestamp
    val doc0 = SynthCorpus.row(21L, 0L, 0.0)
    assert(out(doc0.url) == doc0.warc_ts.getTime + 86400000L)
  }

  test("streamToStore merges recrawls into the bucketed store in place") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pages_merge").toString
    val store = Files.createTempDirectory("store_merge").toString
    // batch 1: 10 original crawls
    val b1 = SynthCorpus.pages(spark, 10, seed = 33L)
    b1.write.mode("overwrite").parquet(s"$dir/b1")
    StreamingPipeline.streamToStore(spark, s"$dir/b*", store, units = 4)
    val after1 = spark.read.parquet(s"$store/data")
      .select("docId", "subj", "frame", "pred", "obj")
      .as[(String, String, String, String, String)].collect().toSet
    val expect1 = Pipeline.triples(b1)
      .map(t => (t.docId, t.subj, t.frame, t.pred, t.obj)).collect().toSet
    assert(after1 == expect1)

    // batch 2: recrawl of the same 10 urls with CHANGED text (1 day newer)
    // plus 5 brand-new urls
    val b2 = SynthCorpus.pages(spark, 15, seed = 33L).map(p =>
      p.copy(
        warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L),
        text = p.text + " Albert Camus wrote a celebrated novel in Paris."))
    b2.write.mode("overwrite").parquet(s"$dir/b2")
    StreamingPipeline.streamToStore(spark, s"$dir/b*", store, units = 4)
    val after2 = spark.read.parquet(s"$store/data")
      .select("docId", "subj", "frame", "pred", "obj")
      .as[(String, String, String, String, String)].collect().toSet
    val expect2 = Pipeline.triples(b2)
      .map(t => (t.docId, t.subj, t.frame, t.pred, t.obj)).collect().toSet
    // recrawled docs were REPLACED (old-only triples gone), new docs added
    assert(after2 == expect2)
    assert(after2 != after1)

    // batch 3: a backfill of 5 never-seen urls stamped 12 h after b1, so
    // 12 h below b2's crawl. Rows under the previous batch's watermark
    // (b1's) are dropped as late; these pass that filter but sit below the
    // watermark b2 advanced, and the drain must not set an event-time
    // timeout under it (it aborted)
    val b3 = (15L until 20L).map(i => SynthCorpus.row(33L, i, 0.0)).map(p =>
      p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 43200000L))).toDS()
    b3.write.mode("overwrite").parquet(s"$dir/b3")
    StreamingPipeline.streamToStore(spark, s"$dir/b*", store, units = 4)
    val after3 = spark.read.parquet(s"$store/data")
      .select("docId", "subj", "frame", "pred", "obj")
      .as[(String, String, String, String, String)].collect().toSet
    val expect3 = Pipeline.triples(b2.union(b3))
      .map(t => (t.docId, t.subj, t.frame, t.pred, t.obj)).collect().toSet
    assert(after3 == expect3)
  }

  /** Deterministic clustered unit vectors — the realistic embedding shape
    * (documents cluster by topic), where the ≥0.9 recall gate must hold.
    */
  private def clusteredVecs(nClusters: Int, perCluster: Int, dim: Int = 32) = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def unit(seed: Long, scale: Double): Array[Double] =
      Array.tabulate(dim)(d => (mix(seed * 131 + d).toDouble / Long.MaxValue) * scale)
    for {
      c <- 0 until nClusters
      m <- 0 until perCluster
    } yield {
      val center = unit(c.toLong + 1, 1.0)
      val noise = unit((c * perCluster + m).toLong + 7919, 0.25)
      val raw = Array.tabulate(dim)(d => center(d) + noise(d))
      val norm = math.sqrt(raw.map(x => x * x).sum)
      ((c * perCluster + m).toLong, raw.map(x => (x / norm).toFloat))
    }
  }

  test("ann recall gate: >=0.9 on clustered embeddings for LSH and IVF") {
    import spark.implicits._
    val vecs = clusteredVecs(nClusters = 30, perCluster = 20).toDS().cache()
    val k = 5
    val exact = Ann.bruteTopK(vecs, _ < 100, k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshTopK(vecs, k = k, tables = 12, bits = 8)
      .filter(org.apache.spark.sql.functions.col("qid") < 100)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val lshRecall = (exact & lsh).size.toDouble / exact.size
    info(f"clustered lsh recall@$k = $lshRecall%.3f")
    assert(lshRecall >= 0.9, f"lsh recall $lshRecall%.3f below the 0.9 gate")
    val ivf = Ann.ivfTopK(vecs, k = k, nlist = 16, nprobe = 6)
      .filter(org.apache.spark.sql.functions.col("qid") < 100)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    info(f"clustered ivf recall@$k = $ivfRecall%.3f")
    assert(ivfRecall >= 0.9, f"ivf recall $ivfRecall%.3f below the 0.9 gate")
    vecs.unpersist()
  }

  test("int8-quantized storage preserves ANN recall (store int8, search dequantized)") {
    import spark.implicits._
    import graft.similarity.Quantize
    // the 100 TB loop: embeddings stored as int8 codes + scale, search
    // runs over the dequantized vectors — neighbor sets must survive
    // the 4x storage cut
    val vecs = clusteredVecs(nClusters = 30, perCluster = 20).toDS().cache()
    val k = 5
    val exact = Ann.bruteTopK(vecs, _ < 100, k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val dequantized = Quantize.int8(vecs)
      .as[(Long, Double, Array[Byte])]
      .map { case (id, scale, codes) => (id, Quantize.dequantize(scale, codes)) }
    val viaInt8 = Ann.bruteTopK(dequantized, _ < 100, k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val overlap = (exact & viaInt8).size.toDouble / exact.size
    info(f"int8-dequantized top-$k overlap = $overlap%.3f")
    assert(overlap >= 0.9, f"quantization degraded neighbor recall to $overlap%.3f")
    vecs.unpersist()
  }

  test("int8 SEARCH path: lshTopKI8/ivfTopKI8 overlap >=0.9 vs the float path") {
    import spark.implicits._
    import graft.similarity.Quantize
    // the serve-time win: search the quantized store directly (integer
    // dot kernel, 1 B/component) — neighbor sets must match the float
    // path within the spec gate
    val vecs = clusteredVecs(nClusters = 30, perCluster = 20).toDS().cache()
    val k = 5
    val q = Quantize.int8(vecs).as[(Long, Double, Array[Byte])].cache()
    val floatLsh = Ann.lshTopK(vecs, k = k, tables = 12, bits = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val i8Lsh = Ann.lshTopKI8(q, k = k, tables = 12, bits = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val lshOverlap = (floatLsh & i8Lsh).size.toDouble / floatLsh.size
    info(f"int8 lsh overlap vs float = $lshOverlap%.3f")
    assert(lshOverlap >= 0.9, f"int8 lsh overlap $lshOverlap%.3f below 0.9")
    val floatIvf = Ann.ivfTopK(vecs, k = k, nlist = 16, nprobe = 6)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val i8Ivf = Ann.ivfTopKI8(q, k = k, nlist = 16, nprobe = 6)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivfOverlap = (floatIvf & i8Ivf).size.toDouble / floatIvf.size
    info(f"int8 ivf overlap vs float = $ivfOverlap%.3f")
    assert(ivfOverlap >= 0.9, f"int8 ivf overlap $ivfOverlap%.3f below 0.9")
    // and the quantized sims are the EXACT rescaled integer dots
    val resims = Ann.lshTopKI8(q, k = k, tables = 12, bits = 8)
      .select("qid", "nid", "sim").as[(Long, Long, Double)].collect()
    val byId = q.collect().map(r => r._1 -> ((r._2, r._3))).toMap
    resims.foreach { case (a, b, sim) =>
      val (sa, ca) = byId(a); val (sb, cb) = byId(b)
      assert(sim == Ann.simI8(sa, ca, sb, cb))
    }
    q.unpersist(); vecs.unpersist()
  }

  test("embedding-cosine near-dup: LSH recall >=0.9 vs exact on clustered vecs") {
    import spark.implicits._
    val vecs = clusteredVecs(nClusters = 20, perCluster = 15).toDS().cache()
    val tau = 0.9 // in-cluster sims sit well above, cross-cluster below
    val exact = Ann.cosineDupPairsExact(vecs, tau)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val approx = Ann.cosineDupPairsLsh(vecs, tau, tables = 12, bits = 8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"cosine-dup recall@tau=$tau = $recall%.3f (${exact.size} exact pairs)")
    assert(recall >= 0.9, f"recall $recall%.3f below the 0.9 gate")
    // LSH verifies with the exact dot, so no false positives
    assert((approx -- exact).isEmpty)
    vecs.unpersist()
  }

  test("pruned topK equals the naive global window under ties and duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // heavy ties (13 distinct sims over 50 candidates) + duplicated
    // (qid, nid) rows spread across 16 partitions — the shapes the
    // per-partition prune must not get wrong
    val rows = for {
      q <- 0L until 20L
      n <- 0L until 50L
      rep <- 0 until (if (n % 7 == 0) 3 else 1)
    } yield (q, n, ((q * 31 + n * 17) % 13).toDouble / 13.0)
    val sims = rows.toDF("qid", "nid", "sim").repartition(16)
    val naive = sims.dropDuplicates("qid", "nid")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("sim").desc, col("nid"))))
      .filter(col("rk") <= 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val pruned = graft.similarity.Ann.topK(sims, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(pruned == naive,
      s"prune diverged:\n only pruned: ${pruned -- naive}\n only naive: ${naive -- pruned}")
  }

  test("hot buckets are sub-sharded: bounded groups, identical results") {
    import spark.implicits._
    // every vector in ONE bucket (identical signatures): the old code's
    // single-task group; with cap=16 the members split into ~n/16 shards
    val vecs = (0L until 200L).map(i => (i, Array.fill(8)(1.0f))).toDS()
    val keyed = vecs.flatMap { case (id, v) => Iterator((42L, id, v)) }
    val assigned = Ann.shardAssignments(keyed, cap = 16)
      .groupBy("key", "shard").count()
      .as[(Long, Int, Long)].collect()
    assert(assigned.length > 4, "hot bucket was not sub-sharded")
    assert(assigned.map(_._3).max <= 48, // hash-balanced around 16
      s"shard blew past the cap: ${assigned.map(_._3).max}")
    // sharding must be invisible in the results
    val capped = Ann.lshTopK(vecs, k = 3, tables = 2, bits = 4, bucketCap = 16)
      .select("qid", "nid", "sim").as[(Long, Long, Double)].collect().toSet
    val uncapped = Ann.lshTopK(vecs, k = 3, tables = 2, bits = 4, bucketCap = 1 << 20)
      .select("qid", "nid", "sim").as[(Long, Long, Double)].collect().toSet
    assert(capped == uncapped)
  }

  test("lsh ann reaches usable recall vs brute force on real embeddings") {
    import spark.implicits._
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].cache()
    val k = 5
    val exact = Ann.bruteTopK(vecs, _ < 50, k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(vecs, k = k, tables = 24, bits = 6)
      .filter(org.apache.spark.sql.functions.col("qid") < 50)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(vecs, k = k, nlist = 12, nprobe = 4)
      .filter(org.apache.spark.sql.functions.col("qid") < 50)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    info(f"ivf recall@$k = $ivfRecall%.3f")
    assert(ivfRecall >= 0.2, f"ivf recall $ivfRecall%.3f too low")
    val recall = (exact & approx).size.toDouble / exact.size
    // testdata embeddings are random unit vectors (no cluster structure),
    // the hardest case for LSH; random guessing of 5 of 499 would land
    // recall ≈ 0.01 — require a large lift over chance, not high absolute
    val n = vecs.count().toDouble
    val chance = k / (n - 1)
    info(f"ann recall@$k = $recall%.3f (chance=$chance%.3f, lift=${recall / chance}%.0fx)")
    assert(recall >= 10 * chance, f"recall $recall%.3f not above 10x chance")
    vecs.unpersist()
  }
}
