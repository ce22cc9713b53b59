package graft.canon

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.Triple

/** Entity canonicalization: sameAs edges → connected components →
  * triple rewrite (north_star: "canonicalization via connected-components
  * (GraphFrames-style iterative DataFrame joins) over sameAs edges").
  *
  * The reference has no canonicalization (each doc links independently);
  * at web scale the same entity surfaces under many URIs/mention spellings,
  * so we cluster URIs that share a lowercased mention surface and rewrite
  * every triple's subj/obj to the cluster representative (lexicographic
  * min — deterministic).
  *
  * CC is min-label propagation by iterative joins with AQE handling the
  * head-entity skew (a handful of URIs like wiki/Americans participate in
  * a large share of edges): each round joins current labels to the
  * bidirected edge list, takes the min over neighbors + self, and stops
  * when no label changes. Lineage is truncated every round — by reliable
  * `checkpoint` when a checkpoint dir is configured (survives executor
  * loss on a real cluster), else `localCheckpoint` (fine for local/test).
  */
object Canonicalize {

  /** sameAs edges from entity-link output: URIs sharing a mention surface.
    * Input columns: (mention, uri). Output: (src, dst) URI pairs.
    *
    * Genuinely ambiguous surfaces — those the disambiguator resolves
    * per-document to DIFFERENT entities ("Chinese" → China vs
    * Chinese_language) — must NOT generate edges: merging them would undo
    * the per-document disambiguation. `ambiguousSurfaces` (lowercased) is
    * that exclusion list; by default it comes from the same candidate
    * dictionary the disambiguator uses.
    */
  def sameAsEdges(
      mentionUri: DataFrame,
      ambiguousSurfaces: Set[String]): DataFrame = {
    val spark = mentionUri.sparkSession
    import spark.implicits._
    val amb = ambiguousSurfaces.toSeq.sorted.toDF("m")
    val m = mentionUri
      .select(lower(col("mention")).as("m"), col("uri"))
      .filter(col("uri").startsWith("http"))
      .join(broadcast(amb), Seq("m"), "left_anti")
      .distinct()
    // per-mention min URI as hub → star edges, avoids quadratic pair blowup
    val hubs = m.groupBy("m").agg(min("uri").as("hub"))
    m.join(hubs, "m")
      .filter(col("uri") =!= col("hub"))
      .select(col("uri").as("src"), col("hub").as("dst"))
      .distinct()
  }

  /** Default exclusion list: every surface the disambiguation dictionary
    * lists >1 candidate URI for (link.Disambiguator.isAmbiguous).
    */
  def defaultAmbiguousSurfaces: Set[String] =
    graft.link.Disambiguator.default.candidates
      .collect { case (surface, cs) if cs.length > 1 => surface }.toSet

  def sameAsEdges(mentionUri: DataFrame): DataFrame =
    sameAsEdges(mentionUri, defaultAmbiguousSurfaces)

  /** Dictionary-encode edge endpoints: `dict(node: string, nid: long)`
    * with nid order == node string order, plus the edges re-expressed over
    * nids. `save` materializes the dict before reuse — ids come from
    * sampled range boundaries and must not change under lineage
    * recomputation.
    */
  private[graft] def encodeEdges(
      edges: DataFrame,
      save: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val nodesStr = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val dict = save(nodesStr.orderBy("node")
      .withColumn("nid", monotonically_increasing_id()))
    val byName = (as: String) => dict
      .select(col("node").as(as), col("nid").as(s"${as}_id"))
    val encoded = edges
      .join(byName("src"), "src")
      .join(byName("dst"), "dst")
      .select(col("src_id").as("src"), col("dst_id").as("dst"))
    (dict, encoded)
  }

  /** Connected components via iterative min-label propagation with
    * pointer jumping. At scale the rounds run over DICTIONARY-ENCODED
    * node ids: node strings are mapped once to dense `Long` ids whose
    * order matches string order (range sort +
    * `monotonically_increasing_id` — partition index forms the high bits
    * and range partitions are sort-ordered, so id order == string order
    * and min-id == lexicographic-min string, preserving the
    * representative contract). Every per-round shuffle then moves 8-byte
    * longs instead of full URI strings — at 10⁹-node scale that cuts
    * per-round shuffle bytes several-fold; strings join back exactly once
    * after convergence. Small graphs skip the encoding (see
    * `encodeMinEdges` on the 5-arg overload).
    *
    * @param edges           (src, dst) string pairs
    * @param maxIter         hard round cap; with pointer jumping rounds
    *                        grow O(log diameter), so 20 covers ~2^20
    * @param checkpointDir   when set, per-round reliable `checkpoint` into
    *                        this directory (cluster-safe: survives executor
    *                        loss, unlike `localCheckpoint` whose truncated
    *                        lineage dies with its executors). NOTE: this
    *                        calls `SparkContext.setCheckpointDir`, which is
    *                        context-global — concurrent callers in one JVM
    *                        should pass the same directory. Superseded
    *                        per-round snapshots are deleted as the loop
    *                        advances (disk stays ~4 tables, not maxIter);
    *                        the FINAL labels' files stay — callers may
    *                        delete the directory after materializing the
    *                        result elsewhere.
    * @param convergeEvery   run the convergence-count job only every k
    *                        rounds (each check is an extra Spark job; at
    *                        scale checking every round doubles job count).
    *                        The final (iter == maxIter) check falls back to
    *                        comparing against the immediately preceding
    *                        round, so a graph that genuinely needs close to
    *                        maxIter rounds is not falsely declared
    *                        unconverged against a k-rounds-old snapshot.
    * @throws IllegalStateException if labels were still changing at
    *                        maxIter — silent unconverged output would
    *                        rewrite triples to non-canonical representatives
    * @return (node, component)
    */
  def connectedComponents(
      edges: DataFrame,
      maxIter: Int = 20,
      checkpointDir: Option[String] = None,
      convergeEvery: Int = 2): DataFrame =
    connectedComponents(edges, maxIter, checkpointDir, convergeEvery,
      encodeMinEdges = 1000000L, encodeMinBytesPerName = 16.0,
      localMaxEdges = 100000L)

  /** DEFLATE-compressed bytes per node name over a bounded driver-side
    * sample — the shuffle-cost proxy the encode decision needs. Shuffle
    * blocks are lz4-compressed, so RAW name length overstates the
    * string path's cost on repetitive names: BENCH.md "CC
    * dictionary-encode path at data scale" measured the encode path at
    * 3.32× shuffle / −12% wall on high-entropy ~70 B URIs but
    * BREAK-EVEN-to-slower (+10% wall) on compressible padded /
    * sequential names whose shuffled bytes deflate to almost nothing.
    * The per-round cost the decision models is the LABEL table's — one
    * row per distinct NODE — so the probe dedups its sample before
    * compressing: a head-entity hub repeated across the first million
    * edge rows must not masquerade as a compressible corpus (the spoke
    * names carry the real entropy). Both endpoints are sampled (hub
    * graphs put all heads on one side), the distinct set is compressed
    * as one block (cross-name redundancy counts, like a shuffle block);
    * ≈128 KB-bounded driver probe, no shuffle.
    */
  private[graft] def sampledBytesPerName(edges: DataFrame, n: Int = 2048): Double = {
    val sample = (edges.select("src").limit(n).collect() ++
      edges.select("dst").limit(n).collect())
      .map(_.getString(0)).distinct
    if (sample.isEmpty) 0.0
    else {
      val bytes = sample.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val deflater = new java.util.zip.Deflater(6)
      deflater.setInput(bytes)
      deflater.finish()
      val buf = new Array[Byte](bytes.length + 128)
      var total = 0
      while (!deflater.finished()) total += deflater.deflate(buf)
      deflater.end()
      total.toDouble / sample.length
    }
  }

  /** @param encodeMinEdges dictionary-encode only when the (materialized)
    *   bidirected edge list is at least this large: below it the string
    *   shuffles are trivially small and the encode/decode's ~6 extra
    *   stages are pure fixed latency (measured ~1 s on the sf0.1 bench's
    *   few-hundred-edge graphs); above it 8-byte-id rounds cut per-round
    *   shuffle bytes several-fold. The count is taken on the
    *   checkpointed edge list — a metadata-cheap job, not a recompute.
    * @param encodeMinBytesPerName entropy gate (round-5, from the
    *   both-directions finding in BENCH.md "CC dictionary-encode path
    *   at data scale"): even above the edge threshold, encode only
    *   when the sampled COMPRESSED name size exceeds this — names that
    *   deflate below ~2× the 8-byte id cost the string path less than
    *   the encode machinery's fixed stages.
    *   0.0 forces the encode path regardless of entropy (benches/specs).
    * @param localMaxEdges graphs whose bidirected edge list fits under
    *   this bound are solved by a DRIVER-LOCAL union-find instead of
    *   the iterative machinery (the production hybrid: ~6 fixed Spark
    *   stages per round dominate tiny graphs — q32's few-hundred-edge
    *   graph spent 3.8 s on round latency). Bounded memory:
    *   localMaxEdges edges ≈ tens of MB of strings on the driver.
    *   Identical results (min-string representative, deterministic);
    *   0 forces the distributed path (benches/plan specs).
    */
  def connectedComponents(
      edges: DataFrame,
      maxIter: Int,
      checkpointDir: Option[String],
      convergeEvery: Int,
      encodeMinEdges: Long,
      encodeMinBytesPerName: Double,
      localMaxEdges: Long): DataFrame = {
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)

    // checkpoint-file bookkeeping: each checkpointed df owns exactly the
    // rdd-* dir its own materialized RDD wrote — read off the checkpointed
    // plan's LogicalRDD, NOT a before/after directory-listing diff, which
    // would capture dirs a CONCURRENT caller sharing this checkpoint dir
    // just created and let gcExcept delete them while still live. With
    // per-RDD ownership, superseded per-round snapshots can be deleted
    // safely (otherwise up to maxIter copies of a web-scale labels table
    // accumulate under the checkpoint dir per run).
    val ckptFs = checkpointDir.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    val dirsOf = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, Set[String])]
    def ownedCkptDirs(df: DataFrame): Set[String] =
      df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.getCheckpointFile
      }.flatten.toSet
    def save(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        val out = df.checkpoint()
        dirsOf += ((out, ownedCkptDirs(out)))
        out
      } else df.localCheckpoint()
    def gcExcept(live: Seq[DataFrame]): Unit = ckptFs.foreach { case (fs, _) =>
      val dead = dirsOf.filterNot { case (df, _) => live.exists(_ eq df) }
      dead.foreach { case (_, dirs) =>
        dirs.foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
      }
      dirsOf.filterInPlace { case (df, _) => live.exists(_ eq df) }
    }

    // min-label propagation with pointer jumping — label type agnostic
    // (runs over string labels on small graphs, encoded longs at scale)
    def ccLoop(bidir: DataFrame, pinned: Seq[DataFrame]): DataFrame = {
      // seed with round 1 for free: every node starts at min(self,
      // neighbors) — one groupBy instead of the loop's join+union+groupBy
      // (bidir is symmetric, so every node appears on the src side)
      var labels = save(
        bidir.select(col("src").as("node"), col("dst").as("component"))
          .union(bidir.select(col("src").as("node"), col("src").as("component")))
          .groupBy("node").agg(min("component").as("component")))

      var converged = false
      var iter = 0
      var prev = labels
      var lastChecked = labels
      while (!converged && iter < maxIter) {
        prev = labels
        val viaNeighbors = bidir
          .join(labels.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), col("component"))
        // pointer jumping (path compression) off the previous round's
        // labels (safe self-join: labels is checkpointed, lineage already
        // broken): node n with label c adopts c's own label — O(log
        // diameter) rounds instead of O(diameter), the difference between
        // ~40 and ~6 shuffle rounds at web scale
        val jumped = labels
          .join(
            labels.select(col("node").as("component"), col("component").as("jump")),
            Seq("component"))
          .select(col("node"), col("jump").as("component"))
        labels = save(
          labels.select(col("node"), col("component"))
            .union(viaNeighbors)
            .union(jumped)
            .groupBy("node").agg(min("component").as("component")))
        iter += 1
        if (iter % convergeEvery == 0 || iter == maxIter) {
          def changedVs(base: DataFrame): Long = labels
            .join(base.withColumnRenamed("component", "old"), "node")
            .filter(col("component") =!= col("old")).count()
          converged = changedVs(lastChecked) == 0
          // min-labels only ever decrease, so unchanged-since-k-rounds-ago
          // implies converged; at the cap, fall back to the one-round
          // check so convergence ON round maxIter-1/maxIter is not
          // misreported
          if (!converged && iter == maxIter) converged = changedVs(prev) == 0
          lastChecked = labels
        }
        gcExcept(pinned ++ Seq(bidir, labels, prev, lastChecked))
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxIter rounds — " +
            "raise maxIter (components would be silently split otherwise)")
      labels
    }

    val bidirStr = save(
      edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())

    val nBidir = bidirStr.count()
    if (nBidir <= localMaxEdges) return localUnionFind(edges.sparkSession, bidirStr)

    // the entropy probe only runs once the edge threshold is reached —
    // small graphs take the string path with zero extra work
    if (nBidir < encodeMinEdges ||
        sampledBytesPerName(bidirStr) < encodeMinBytesPerName) {
      // small graph OR compressible names: string labels directly
      // (min-string == the contract; lz4'd string shuffles are cheap)
      ccLoop(bidirStr, Seq.empty)
    } else {
      val (dict, encoded) = encodeEdges(bidirStr, save)
      val byName = (as: String) => dict
        .select(col("node").as(as), col("nid").as(s"${as}_id"))
      val bidir = save(encoded) // bidirStr is already bidirected + distinct
      val labels = ccLoop(bidir, Seq(dict))
      // decode ids back to strings (once, after convergence)
      labels
        .join(byName("node_str").withColumnRenamed("node_str_id", "node"), "node")
        .join(byName("comp_str").withColumnRenamed("comp_str_id", "component"),
          "component")
        .select(col("node_str").as("node"), col("comp_str").as("component"))
    }
  }

  /** Driver-local connected components for BOUNDED small graphs:
    * union-find with path halving + union by size over the collected
    * bidirected edge list, then per-root lexicographic-min node as the
    * representative — the exact contract of the distributed loop
    * (OperatorsSpec asserts equality on shared inputs). The result
    * returns as a parallelized DataFrame so downstream joins behave
    * like any other (node, component) table.
    */
  private def localUnionFind(
      spark: org.apache.spark.sql.SparkSession,
      bidir: DataFrame): DataFrame = {
    import spark.implicits._
    val es = bidir.select("src", "dst").as[(String, String)].collect()
    val idOf = new java.util.HashMap[String, Integer]()
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    def id(n: String): Int = {
      val cur = idOf.get(n)
      if (cur != null) cur.intValue
      else { val i = names.length; idOf.put(n, i); names += n; i }
    }
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    val size = scala.collection.mutable.ArrayBuffer.empty[Int]
    def ensure(i: Int): Unit =
      while (parent.length <= i) { parent += parent.length; size += 1 }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    es.foreach { case (a, b) =>
      val ia = id(a); val ib = id(b)
      ensure(math.max(ia, ib))
      val ra = find(ia); val rb = find(ib)
      if (ra != rb) {
        if (size(ra) >= size(rb)) { parent(rb) = ra; size(ra) += size(rb) }
        else { parent(ra) = rb; size(rb) += size(ra) }
      }
    }
    ensure(names.length - 1)
    val minName = new java.util.HashMap[Int, String]()
    names.indices.foreach { i =>
      val r = find(i)
      val cur = minName.get(r)
      // UTF-8 byte order, matching the distributed paths' Spark string
      // min — non-BMP node names (emoji in crawled URIs) must pick the
      // SAME representative on both sides of the size-based dispatch
      if (cur == null || graft.util.Utf8Order.lt(names(i), cur))
        minName.put(r, names(i))
    }
    val rows = names.indices.map(i => (names(i), minName.get(find(i))))
    spark.createDataset(rows).toDF("node", "component")
  }

  /** Rewrite triple subj/obj URIs to their component representative.
    *
    * The mapping only contains aliased URIs, typically tiny next to the
    * triple table — but "typically" is not a plan: at 10^12-doc scale the
    * alias mapping itself can be huge, and an unconditional broadcast OOMs
    * the driver. No eager size probe runs here (a `count()` per call is an
    * extra job at scale): the joins are left unhinted and AQE converts
    * them to broadcast joins at runtime when the mapping's measured size
    * is under `spark.sql.autoBroadcastJoinThreshold`, falling back to a
    * shuffled join (with AQE skew splitting on head URIs) otherwise.
    * Callers that KNOW the mapping is small can pass `broadcast(mapping)`.
    */
  def rewrite(triples: Dataset[Triple], mapping: DataFrame): Dataset[Triple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    val m = mapping.select(col("node"), col("component"))
    triples.toDF()
      .join(m.withColumnRenamed("node", "subj").withColumnRenamed("component", "subj_canon"),
        Seq("subj"), "left")
      .join(m.withColumnRenamed("node", "obj").withColumnRenamed("component", "obj_canon"),
        Seq("obj"), "left")
      .select(
        col("docId"),
        coalesce(col("subj_canon"), col("subj")).as("subj"),
        col("subjIsUri"),
        col("frame"), col("role"), col("pred"),
        coalesce(col("obj_canon"), col("obj")).as("obj"),
        col("objIsUri"))
      .as[Triple]
  }

  /** Full pass: edges from mention/uri pairs, CC, rewrite, dedup.
    * `checkpointDir` selects the reliable (cluster-safe) per-round
    * checkpoint for the CC iterations; None = localCheckpoint
    * (single-JVM/test runs).
    */
  /** @param hintBroadcastMapping pass true when the CALLER knows the
    *   alias mapping is bounded (e.g. derived from a fixed dictionary):
    *   the rewrite joins are then broadcast-hinted, skipping the fact
    *   table's shuffle-write that AQE's runtime conversion still pays
    *   (measured 2.4× on a 12.4M-triple store). Default false — at
    *   web scale an unbounded mapping must go through AQE sizing.
    */
  def canonicalize(
      triples: Dataset[Triple],
      mentionUri: DataFrame,
      ambiguousSurfaces: Set[String],
      checkpointDir: Option[String] = None,
      hintBroadcastMapping: Boolean = false): Dataset[Triple] = {
    val cc = connectedComponents(
      sameAsEdges(mentionUri, ambiguousSurfaces), checkpointDir = checkpointDir)
    val mapping = if (hintBroadcastMapping) broadcast(cc) else cc
    rewrite(triples, mapping).dropDuplicates("docId", "subj", "frame", "pred", "obj")
  }

  def canonicalize(triples: Dataset[Triple], mentionUri: DataFrame): Dataset[Triple] =
    canonicalize(triples, mentionUri, defaultAmbiguousSurfaces)
}
