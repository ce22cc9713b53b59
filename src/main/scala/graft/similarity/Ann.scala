package graft.similarity

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest neighbors over an embedding column.
  *
  * Scale path: random-hyperplane LSH — each vector gets `tables` signatures
  * of `bits` sign-bits; candidates are pairs sharing any (table, signature)
  * bucket; exact cosine reranks within buckets. The shuffle is on bucket
  * keys (tables × |docs| rows), never the |docs|² cross join the
  * brute-force baseline needs. Deterministic hyperplanes via splitmix64.
  *
  * Hot-bucket bound: a skewed bucket (duplicate-heavy corpora, a dense
  * cluster) used to land in ONE task as an unbounded in-memory array.
  * [[boundedPairSims]] sub-shards every bucket above `bucketCap` members
  * by id-hash and replicates probes across the shards — per-task member
  * arrays stay ≤ ~cap while probes STREAM through the cogroup iterator,
  * so task memory is bounded no matter how hot the bucket.
  */
object Ann {

  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic pseudo-gaussian hyperplane component (sum of 4 uniform). */
  private def gauss(table: Int, bit: Int, dim: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < 4) {
      val h = mix64(table.toLong << 40 ^ bit.toLong << 20 ^ dim.toLong ^ (i.toLong << 56))
      s += (h.toDouble / Long.MaxValue)
      i += 1
    }
    s / 2.0
  }

  // Hyperplanes are PURE deterministic data (gauss is a hash), so they
  // are precomputed once per (table, bits, dim) per JVM instead of
  // re-hashing 4 mix64 per component per VECTOR — measured dominant in
  // the signature pass at high dim (768-dim: bits·dim·4 hashes per
  // vector vs a plain multiply-add sweep). Bounded: bits·dim doubles
  // per entry, a handful of configs per job; safe JVM-global state
  // (value-deterministic, write-once per key).
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Double]]()

  private def planes(table: Int, bits: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent(
      (table.toLong << 40) | (bits.toLong << 20) | dim.toLong,
      _ => Array.tabulate(bits * dim)(i => gauss(table, i / dim, i % dim)))

  def signature(vec: Array[Float], table: Int, bits: Int): Long = {
    val p = planes(table, bits, vec.length)
    var sig = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var d = 0
      val off = b * vec.length
      while (d < vec.length) {
        dot += vec(d) * p(off + d)
        d += 1
      }
      if (dot > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Exact pair similarities inside buckets, with hot buckets sub-sharded
    * to a bounded per-task size.
    *
    * members/probes: (key, id, vec). Every probe is evaluated against every
    * member of its key — sharding is transparent to the result (a probe is
    * replicated to all of its bucket's shards), it only bounds task memory:
    * the member side is materialized per (key, shard) group (≤ ~cap rows),
    * the probe side streams. Returns (qid, nid, sim) with self-pairs
    * dropped and duplicates (same pair via several buckets) removed.
    */
  private def shardsCol(cap: Int) =
    greatest(ceil(col("n") / cap), lit(1)).cast("int")

  /** Members with their (key, shard) assignment — shard count grows with
    * bucket size so per-shard membership stays ≈ cap. Exposed for the
    * boundedness test.
    */
  def shardAssignments(
      members: Dataset[(Long, Long, Array[Float])],
      cap: Int): DataFrame = {
    val sizes = members.toDF("key", "id", "vec")
      .groupBy("key").agg(count(lit(1)).as("n"))
    members.toDF("key", "id", "vec")
      .join(sizes, "key")
      .select(col("key"),
        pmod(xxhash64(col("id")), shardsCol(cap)).cast("int").as("shard"),
        col("id"), col("vec"))
  }

  /** The pre-dedup candidate stream (one row per (bucket-hit, pair)).
    * [[boundedPairSims]] dedups it globally — the PAIR contract; the
    * top-k paths instead prune per partition FIRST ([[topK]]), because
    * a global dedup shuffle over the full candidate stream was measured
    * as the dominant sf1 cost of q42/q52.
    */
  private def boundedPairSimsRaw(
      members: Dataset[(Long, Long, Array[Float])],
      probes: Dataset[(Long, Long, Array[Float])],
      cap: Int): DataFrame = {
    val spark = members.sparkSession
    import spark.implicits._
    // NOTE (r6): caching this into a CacheScope was tried and REVERTED —
    // it is referenced by both the member and the probe join, but the
    // cache's materialization barrier measured uniformly SLOWER at sf0.1
    // (q61 +0.4 s, q79 +0.2 s) than letting both subtrees evaluate it
    val sizes = members.toDF("key", "id", "vec")
      .groupBy("key").agg(count(lit(1)).as("n"))
    val m = shardAssignments(members, cap)
      .as[(Long, Int, Long, Array[Float])]
    val p = probes.toDF("key", "id", "vec")
      .join(sizes, "key")
      .select(col("key"), shardsCol(cap).as("shards"), col("id"), col("vec"))
      .as[(Long, Int, Long, Array[Float])]
      .flatMap { case (key, shards, id, vec) =>
        (0 until shards).iterator.map(sh => (key, sh, id, vec))
      }
    p.groupByKey(r => (r._1, r._2))
      .cogroup(m.groupByKey(r => (r._1, r._2))) { (_, ps, ms) =>
        val mem = ms.map(t => (t._3, t._4)).toArray // bounded by ~cap
        ps.flatMap { case (_, _, qid, qv) =>
          mem.iterator.collect {
            case (nid, nv) if nid != qid =>
              (qid, nid, math.floor(dot(qv, nv) * 1e5 + 0.5) / 1e5)
          }
        }
      }
      .toDF("qid", "nid", "sim")
  }

  def boundedPairSims(
      members: Dataset[(Long, Long, Array[Float])],
      probes: Dataset[(Long, Long, Array[Float])],
      cap: Int): DataFrame =
    boundedPairSimsRaw(members, probes, cap).dropDuplicates("qid", "nid")

  /** Global top-k with a per-partition bounded pre-prune: each input
    * partition keeps at most k DISTINCT (sim DESC, nid ASC)-best
    * candidates per qid (a TreeSet dedups identical (sim, nid) pairs in
    * place), so the global dedup + rank window runs over
    * ≤ partitions·|qids|·k rows instead of the full candidate stream —
    * the 45M-row window/dedup shuffle that dominated q42/q52 at sf1.
    * Correct for any partitioning: every true global top-k row survives
    * its own partition's prune (its in-partition rank ≤ its global
    * rank), and cross-partition duplicates fall to the global
    * dropDuplicates before ranking.
    */
  private val simNidOrd = new java.util.Comparator[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1) // sim desc
      if (c != 0) c else java.lang.Long.compare(a._2, b._2) // nid asc
    }
  }

  /** The per-partition bounded prune [[topK]] opens with, exposed so
    * sim-generating kernels can FUSE it into their own mapPartitions
    * (e.g. the q79/q80 exact-truth pass): pruning before the object→row
    * boundary keeps ≤|qids|·k rows per partition off the encoder instead
    * of the full |window|·n sim stream. Idempotent — re-pruning pruned
    * output is a no-op — so fused callers still feed [[topK]] unchanged.
    */
  private[graft] def localTopK(
      it: Iterator[(Long, Long, Double)], k: Int): Iterator[(Long, Long, Double)] = {
    val acc = scala.collection.mutable.HashMap
      .empty[Long, java.util.TreeSet[(Double, Long)]]
    it.foreach { case (qid, nid, sim) =>
      val set = acc.getOrElseUpdate(qid,
        new java.util.TreeSet[(Double, Long)](simNidOrd))
      set.add((sim, nid))
      if (set.size > k) set.pollLast()
    }
    acc.iterator.flatMap { case (qid, set) =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(set.iterator())
        .asScala.map { case (sim, nid) => (qid, nid, sim) }
    }
  }

  private[graft] def topK(sims: DataFrame, k: Int): DataFrame = {
    val spark = sims.sparkSession
    import spark.implicits._
    val pruned = sims.as[(Long, Long, Double)].mapPartitions(localTopK(_, k))
    // ONE qid shuffle finishes the job: the per-group TreeSet merges the
    // partition-pruned candidates, dedups and ranks in the same pass —
    // the former dropDuplicates + rank-window pair cost a second
    // exchange plus a sort per query. Dedup on (sim, nid) ≡ dedup on
    // (qid, nid): sim is a pure function of the (qid, nid) vectors, so
    // a pair re-surfacing via several buckets always carries the SAME
    // sim. Group payload is bounded: ≤ upstream-partitions · k rows per
    // qid survive the prune.
    pruned.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val set = new java.util.TreeSet[(Double, Long)](simNidOrd)
      it.foreach { case (_, nid, sim) =>
        set.add((sim, nid))
        if (set.size > k) set.pollLast()
      }
      var rk = 0
      scala.jdk.CollectionConverters.IteratorHasAsScala(set.iterator())
        .asScala.map { case (sim, nid) => rk += 1; (qid, nid, sim, rk) }
    }.toDF("qid", "nid", "sim", "rk")
  }

  // ------------------------------------------------------------------
  // Scale-adaptive hyperparameters
  // ------------------------------------------------------------------
  // LSH bucket population n/2^bits and IVF cell population n/nlist must
  // stay ~constant as the corpus grows, or the within-bucket exact rerank
  // degenerates quadratically. MEASURED on the 10x scale-up bench
  // (BENCH.md round 3): fixed bits=4 went 3.7 s -> 76 s (20x at 10x
  // data), fixed nlist=32 went 2.0 s -> 79 s. With bits ~ log2(n/target)
  // and nlist ~ n/target the per-bucket work is flat and total work is
  // ~linear in n (recall is then governed by `tables` / `nprobe`).

  /** bits so that expected bucket size ≈ targetBucket; clamped to 40 —
    * deliberately below the 48-bit packed-signature space `lshTopK` masks
    * to, so random-hyperplane signatures keep collision mass (2^40 buckets
    * already exceeds any corpus this engine targets divided by
    * targetBucket).
    */
  def autoBits(n: Long, targetBucket: Int = 128): Int = {
    val ratio = math.max(1.0, n.toDouble / targetBucket)
    math.min(40, math.max(4, math.ceil(math.log(ratio) / math.log(2)).toInt))
  }

  /** nlist so that expected cell size ≈ targetCell. */
  def autoNlist(n: Long, targetCell: Int = 256): Int =
    math.min(1 << 16, math.max(16, math.ceil(n.toDouble / targetCell).toInt))

  /** nprobe: a slowly-growing slice of the cell table — constant work per
    * query as n grows (the standard IVF recall/cost dial).
    */
  def autoNprobe(nlist: Int): Int = math.min(64, math.max(8, nlist / 8))

  /** LSH-bucketed approximate top-k cosine neighbors for every vector.
    * Output: (qid, nid, sim, rk). Recall improves with more tables /
    * fewer bits (bigger buckets); `bucketCap` bounds per-task memory on
    * hot buckets without changing results.
    */
  def lshTopK(
      vectors: Dataset[(Long, Array[Float])],
      k: Int = 5,
      tables: Int = 8,
      bits: Int = 10,
      bucketCap: Int = 4096): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val keyed = vectors.flatMap { case (id, v) =>
      (0 until tables).iterator.map(t =>
        ((t.toLong << 48) ^ (signature(v, t, bits) & 0xffffffffffffL), id, v))
    }
    topK(boundedPairSimsRaw(keyed, keyed, bucketCap), k)
  }

  /** Deterministic k-means coarse quantizer trained on a driver-side
    * sample — the IVF pattern: the centroid table is tiny (≈√n cells) and
    * broadcasts; only assignment and probing are distributed.
    */
  def trainCentroids(
      vectors: Dataset[(Long, Array[Float])],
      nlist: Int,
      iters: Int = 5,
      sampleSize: Int = 0): Array[Array[Float]] = {
    // the sample must back the requested cell count, or the effective
    // nlist silently caps at the sample size and cell population grows
    // linearly again (the degeneration auto-sizing exists to prevent);
    // 4 samples/centroid, bounded — 2^16 cells × 4 × 64-dim floats ≈ 67 MB
    // on the driver, the documented ceiling of this coarse quantizer
    val effSample =
      if (sampleSize > 0) sampleSize
      else math.max(10000, math.min(1 << 18, nlist * 4))
    val sample = vectors.orderBy(vectors.columns.head)
      .limit(effSample).collect().map(_._2)
    require(sample.nonEmpty, "empty vector set")
    val dim = sample.head.length
    // deterministic spread init: every (n/nlist)-th sample vector
    var cents = Array.tabulate(math.min(nlist, sample.length)) { c =>
      sample((c.toLong * sample.length / math.min(nlist, sample.length)).toInt).clone()
    }
    // the assignment sweep is the training cost (|sample|·nlist·dim
    // multiply-adds per iteration — single-threaded it dominated q52 at
    // sf1) and is embarrassingly parallel: fixed-range chunks are
    // reduced independently and MERGED IN CHUNK ORDER, so the double
    // summation order — and therefore every centroid bit — is identical
    // regardless of thread scheduling (determinism is contractual)
    // FIXED chunk count, not availableProcessors: chunk boundaries set
    // the double-summation order, so a machine-dependent count would
    // make centroid bits (and IVF assignments, and the q80 hard recall
    // gate) differ across hosts
    val chunkCount = 64
    val chunkSize = math.max(1, (sample.length + chunkCount - 1) / chunkCount)
    val chunks = sample.grouped(chunkSize).toArray
    (0 until iters).foreach { _ =>
      val snap = cents
      val partials = chunks.par.map { chunk =>
        val sums = Array.fill(snap.length)(new Array[Double](dim))
        val counts = new Array[Int](snap.length)
        chunk.foreach { v =>
          val c = nearestCentroid(v, snap)
          counts(c) += 1
          var d = 0
          while (d < dim) { sums(c)(d) += v(d); d += 1 }
        }
        (sums, counts)
      }.toArray // .toArray preserves chunk order (par collections keep order)
      val sums = Array.fill(snap.length)(new Array[Double](dim))
      val counts = new Array[Int](snap.length)
      partials.foreach { case (ps, pc) =>
        var c = 0
        while (c < snap.length) {
          counts(c) += pc(c)
          var d = 0
          while (d < dim) { sums(c)(d) += ps(c)(d); d += 1 }
          c += 1
        }
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(d => (sums(c)(d) / counts(c)).toFloat)
      }.toArray
    }
    cents
  }

  def nearestCentroid(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestDot = Double.MinValue
    var c = 0
    while (c < cents.length) {
      val d = dot(v, cents(c))
      if (d > bestDot) { bestDot = d; best = c }
      c += 1
    }
    best
  }

  private def topCentroids(v: Array[Float], cents: Array[Array[Float]], p: Int): Seq[Int] =
    cents.indices.sortBy(c => -dot(v, cents(c))).take(p)

  /** IVF approximate top-k: assign vectors to their nearest centroid cell,
    * probe each query's `nprobe` closest cells, exact-rerank inside. The
    * shuffle is the (cell) bucket join — |docs| × nprobe rows, no cross
    * join; hot cells are sub-sharded to `bucketCap` like the LSH path.
    */
  def ivfTopK(
      vectors: Dataset[(Long, Array[Float])],
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4,
      bucketCap: Int = 4096): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = spark.sparkContext.broadcast(trainCentroids(vectors, nlist))
    // probe count follows the EFFECTIVE cell count (the sample can back
    // fewer centroids than requested), never the nominal nlist
    val effProbe = math.min(nprobe, cents.value.length)
    val assigned = vectors.map { case (id, v) =>
      (nearestCentroid(v, cents.value).toLong, id, v)
    }
    val probes = vectors.flatMap { case (id, v) =>
      topCentroids(v, cents.value, effProbe).iterator.map(c => (c.toLong, id, v))
    }
    topK(boundedPairSimsRaw(assigned, probes, bucketCap), k)
  }

  /** Embedding-cosine near-duplicate pairs, exact: every (a < b) pair with
    * dot ≥ tau. The |n|² broadcast product is the CORRECTNESS BASELINE for
    * small n — [[cosineDupPairsLsh]] is the 100 TB path.
    */
  def cosineDupPairsExact(
      vectors: Dataset[(Long, Array[Float])],
      tau: Double): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // one broadcast of the (bounded, by this baseline's contract) vector
    // table, streamed against the corpus in a single map-only pass: the
    // former broadcast-nested-loop join materialized |n|² rows through
    // the tuple encoder (two Array[Float] deserializations per PAIR) just
    // to feed the same dot kernel — per-task work, not the join, was the
    // cost (guide §1.2 step 2). Same pairs, same rounding, same filter.
    val all = vectors.collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(all)
    vectors.mapPartitions { it =>
      val arr = bc.value
      it.flatMap { case (x, vx) =>
        // index of the first id > x (ids are sorted; x itself may or may
        // not be present — search for (x, +inf))
        var lo = 0
        var hi = arr.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (arr(mid)._1 <= x) lo = mid + 1 else hi = mid
        }
        Iterator.range(lo, arr.length).flatMap { i =>
          val (y, vy) = arr(i)
          val sim = math.floor(dot(vx, vy) * 1e5 + 0.5) / 1e5
          if (sim >= tau) Iterator.single((x, y, sim)) else Iterator.empty
        }
      }
    }.toDF("a", "b", "sim")
  }

  /** Embedding-cosine near-duplicate pairs at scale: LSH buckets generate
    * candidates (shuffle on bucket keys, hot buckets sub-sharded — never a
    * cross join), exact dot verifies. Same output shape as the exact
    * baseline; recall gated ≥0.9 on clustered embeddings in tests.
    */
  def cosineDupPairsLsh(
      vectors: Dataset[(Long, Array[Float])],
      tau: Double,
      tables: Int = 16,
      bits: Int = 6,
      bucketCap: Int = 4096): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val keyed = vectors.flatMap { case (id, v) =>
      (0 until tables).iterator.map(t =>
        ((t.toLong << 48) ^ (signature(v, t, bits) & 0xffffffffffffL), id, v))
    }
    // filter BELOW the dedup exchange: Catalyst pushes qid < nid through
    // dropDuplicates (grouping columns) but cannot push `sim >= tau` —
    // sim surfaces as an aggregated column — so unfiltered sub-threshold
    // candidates (most of the stream) would ride the shuffle just to be
    // discarded. A pair re-surfacing via several buckets always carries
    // the SAME sim (pure function of the two vectors), so filter-then-
    // dedup ≡ dedup-then-filter.
    boundedPairSimsRaw(keyed, keyed, bucketCap)
      .filter(col("qid") < col("nid") && col("sim") >= tau)
      .dropDuplicates("qid", "nid")
      .select(col("qid").as("a"), col("nid").as("b"), col("sim"))
  }

  // ------------------------------------------------------------------
  // Int8 search path: ANN directly over quantized (scale, codes)
  // ------------------------------------------------------------------
  // Searching the quantized store WITHOUT dequantizing is the actual
  // serve-time win of int8 storage: the rerank kernel reads 1 B/component
  // instead of 4 (the memory-bandwidth-bound part of ANN at scale) and
  // accumulates integer products, with ONE float multiply (scale_a ·
  // scale_b · acc) per pair instead of one per component. Neighbor
  // overlap vs the float path is spec-gated ≥ 0.9 (StreamingAnnSpec);
  // the 64- vs 768-dim A/B timings are in BENCH.md "Round 5" (int8 ANN).

  /** Integer dot over int8 codes — the bandwidth-bound kernel. Exact in
    * Long (|codes| · 127² ≪ 2⁶³).
    */
  def dotI8(a: Array[Byte], b: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { s += a(i).toInt * b(i).toInt; i += 1 }
    s
  }

  /** Quantized pair similarity with the operator family's rounding:
    * scale_a · scale_b · (integer dot), floor(x·1e5+0.5)/1e5.
    */
  @inline def simI8(sa: Double, ca: Array[Byte], sb: Double, cb: Array[Byte]): Double =
    math.floor(sa * sb * dotI8(ca, cb).toDouble * 1e5 + 0.5) / 1e5

  /** Random-hyperplane signature over codes. The per-vector scale is
    * POSITIVE, so sign(Σ codeᵢ·scale·gᵢ) = sign(Σ codeᵢ·gᵢ): the
    * signature needs no dequantization and no scale at all (zero-scale
    * vectors are all-zero codes → signature 0, deterministic).
    */
  def signatureI8(codes: Array[Byte], table: Int, bits: Int): Long = {
    val p = planes(table, bits, codes.length)
    var sig = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var d = 0
      val off = b * codes.length
      while (d < codes.length) {
        dot += codes(d).toInt * p(off + d)
        d += 1
      }
      if (dot > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** [[boundedPairSims]]'s int8 twin: identical sub-sharded cogroup shape
    * (members materialized ≤ ~cap per task, probes streaming), the rerank
    * kernel is [[dotI8]]. rows: (key, id, scale, codes).
    */
  private def boundedPairSimsRawI8(
      members: Dataset[(Long, Long, Double, Array[Byte])],
      probes: Dataset[(Long, Long, Double, Array[Byte])],
      cap: Int): DataFrame = {
    val spark = members.sparkSession
    import spark.implicits._
    val sizes = members.toDF("key", "id", "scale", "codes")
      .groupBy("key").agg(count(lit(1)).as("n"))
    val m = members.toDF("key", "id", "scale", "codes")
      .join(sizes, "key")
      .select(col("key"),
        pmod(xxhash64(col("id")), shardsCol(cap)).cast("int").as("shard"),
        col("id"), col("scale"), col("codes"))
      .as[(Long, Int, Long, Double, Array[Byte])]
    val p = probes.toDF("key", "id", "scale", "codes")
      .join(sizes, "key")
      .select(col("key"), shardsCol(cap).as("shards"),
        col("id"), col("scale"), col("codes"))
      .as[(Long, Int, Long, Double, Array[Byte])]
      .flatMap { case (key, shards, id, sc, cs) =>
        (0 until shards).iterator.map(sh => (key, sh, id, sc, cs))
      }
    p.groupByKey(r => (r._1, r._2))
      .cogroup(m.groupByKey(r => (r._1, r._2))) { (_, ps, ms) =>
        val mem = ms.map(t => (t._3, t._4, t._5)).toArray // bounded by ~cap
        ps.flatMap { case (_, _, qid, qs, qc) =>
          mem.iterator.collect {
            case (nid, ns, nc) if nid != qid =>
              (qid, nid, simI8(qs, qc, ns, nc))
          }
        }
      }
      .toDF("qid", "nid", "sim")
  }

  /** [[lshTopK]] over the quantized store: same bucket/shard topology,
    * signatures from codes, rerank via the integer kernel.
    */
  def lshTopKI8(
      vectors: Dataset[(Long, Double, Array[Byte])],
      k: Int = 5,
      tables: Int = 8,
      bits: Int = 10,
      bucketCap: Int = 4096): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val keyed = vectors.flatMap { case (id, sc, cs) =>
      (0 until tables).iterator.map(t =>
        ((t.toLong << 48) ^ (signatureI8(cs, t, bits) & 0xffffffffffffL),
          id, sc, cs))
    }
    topK(boundedPairSimsRawI8(keyed, keyed, bucketCap), k)
  }

  /** [[ivfTopK]] over the quantized store. The tiny centroid table stays
    * float (trained on the dequantized driver sample — centroid work is
    * the cheap part); cell assignment maximizes Σ codeᵢ·centᵢ, which
    * equals the dequantized argmax because scale > 0 is constant per
    * vector. The within-cell rerank — the bandwidth-bound part — runs
    * the integer kernel.
    */
  def ivfTopKI8(
      vectors: Dataset[(Long, Double, Array[Byte])],
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4,
      bucketCap: Int = 4096): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val deq = vectors.map { case (id, sc, cs) =>
      (id, cs.map(c => (c * sc).toFloat))
    }
    val cents = spark.sparkContext.broadcast(trainCentroids(deq, nlist))
    val effProbe = math.min(nprobe, cents.value.length)
    def nearestByCodes(cs: Array[Byte]): Int = {
      val c = cents.value
      var best = 0
      var bestDot = Double.MinValue
      var i = 0
      while (i < c.length) {
        var s = 0.0
        var d = 0
        while (d < cs.length) { s += cs(d).toInt * c(i)(d); d += 1 }
        if (s > bestDot) { bestDot = s; best = i }
        i += 1
      }
      best
    }
    val assigned = vectors.map { case (id, sc, cs) =>
      (nearestByCodes(cs).toLong, id, sc, cs)
    }
    val probes = vectors.flatMap { case (id, sc, cs) =>
      val c = cents.value
      val scored = c.indices.map { i =>
        var s = 0.0
        var d = 0
        while (d < cs.length) { s += cs(d).toInt * c(i)(d); d += 1 }
        (i, s)
      }
      scored.sortBy(-_._2).take(effProbe).iterator
        .map { case (ci, _) => (ci.toLong, id, sc, cs) }
    }
    topK(boundedPairSimsRawI8(assigned, probes, bucketCap), k)
  }

  /** Brute-force exact top-k (the baseline; |q|×|n| via broadcast). */
  def bruteTopK(
      vectors: Dataset[(Long, Array[Float])],
      queryFilter: Long => Boolean,
      k: Int = 5): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val q = vectors.filter(v => queryFilter(v._1)).toDF("qid", "qv")
    val n = broadcast(vectors.toDF("nid", "nv"))
    val pairs = q.crossJoin(n).filter(col("qid") =!= col("nid"))
      .as[(Long, Array[Float], Long, Array[Float])]
      .map { case (qid, qv, nid, nv) =>
        (qid, nid, math.floor(dot(qv, nv) * 1e5 + 0.5) / 1e5)
      }.toDF("qid", "nid", "sim")
    topK(pairs, k)
  }
}
