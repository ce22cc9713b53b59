package graft.io

import java.io.IOException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{PageRow, Triple}
import graft.pipeline.Pipeline
import graft.util.ParquetMeta

/** Iceberg-style materialization of the triples table (no Iceberg jars ship
  * in this environment, so the same contract is built on parquet). All
  * store IO goes through the Hadoop `FileSystem` of the store path, so a
  * plain path and a `file://`, `hdfs://` or `s3a://` URI behave alike.
  *
  *  - **layout**: `runCheckpointed`/`upsertDocs` partition `outDir/data` by
  *    `unit = pmod(xxhash64(docId), units)` (docId is the page url; a
  *    recrawl rewrites only its unit); `write` (the canonicalized store)
  *    buckets by `pmod(xxhash64(subj), N)` so subject joins prune by
  *    bucket. Rows are sorted by subj within partitions.
  *  - **per-partition lineage + metrics checkpoints enabling exact resume**:
  *    each completed unit gets a lineage record (doc/triple counts) under
  *    `outDir/lineage`, written *after* its data commit. Resume filters
  *    pages to units without lineage and rewrites only those partitions
  *    (dynamic partition overwrite → idempotent). A kill between data and
  *    lineage writes re-processes that unit; the final triple set is
  *    identical.
  */
object TripleStore {

  final case class UnitLineage(unit: Int, docs: Long, triples: Long)

  def bucketOf(c: org.apache.spark.sql.Column, n: Int) =
    pmod(xxhash64(c), lit(n)).cast("int")

  /** Plain bucketed write of a triple Dataset (no resume bookkeeping). */
  def write(triples: Dataset[Triple], path: String, buckets: Int = 32): Unit = {
    triples.toDF()
      .withColumn("bucket", bucketOf(col("subj"), buckets))
      .repartition(col("bucket"))
      .sortWithinPartitions("subj", "pred", "obj")
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  private def fsOf(spark: SparkSession, outDir: String): FileSystem =
    new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataDir(outDir: String) = s"$outDir/data"
  private def lineageDir(outDir: String) = new Path(outDir, "lineage")

  private def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Iceberg-MERGE-style copy-on-write upsert: replace ALL existing
    * triples of the given documents with `newTriples`, rewriting only the
    * unit partitions those documents hash into. Two-hop commit (staging
    * parquet, then dynamic partition overwrite of the main store) so the
    * store is never read and overwritten in the same job; replays of the
    * same batch (streaming checkpoint recovery) converge to the same
    * bytes. Returns the affected units.
    */
  def upsertDocs(
      newTriples: Dataset[Triple],
      outDir: String,
      units: Int = 16): Seq[Int] = {
    val spark = newTriples.sparkSession
    import spark.implicits._
    val withUnit = newTriples.toDF().withColumn("unit", bucketOf(col("docId"), units))
    val affected = withUnit.select("unit").distinct().as[Int].collect().toSeq.sorted
    if (affected.isEmpty) return Seq.empty
    val fs = fsOf(spark, outDir)
    val main = dataDir(outDir)
    val staging = s"$outDir/_staging"
    // staging is per-batch scratch: clear it first, so unit partitions from
    // EARLIER batches can't leak into this batch's second hop (they would
    // both grow each write toward a full-store rewrite and silently revert
    // units another writer touched in between)
    fs.delete(new Path(staging), true)
    val docs = newTriples.toDF().select("docId").distinct()
    val combined =
      if (fs.exists(new Path(main)))
        spark.read.parquet(main)
          .filter(col("unit").isin(affected: _*))
          .join(broadcast(docs), Seq("docId"), "left_anti")
          .unionByName(withUnit)
      else withUnit
    // overwrite mode scoped to the writer, not the session conf — mutating
    // the session would silently flip TripleStore.write's later
    // SaveMode.Overwrite from truncate to dynamic semantics
    combined
      .repartition(col("unit")).sortWithinPartitions("subj", "pred", "obj")
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("unit").parquet(staging)
    spark.read.parquet(staging)
      .filter(col("unit").isin(affected: _*))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("unit").parquet(main)
    affected
  }

  // ------------------------------------------------------------------
  // Checkpointed (exact-resume) run
  // ------------------------------------------------------------------

  def completedUnits(outDir: String): Set[Int] = lineage(outDir).map(_.unit).toSet

  /** Every committed unit's lineage record, read through the store's
    * filesystem (Hadoop conf of the active session). Only `*.tsv` attempt
    * files count: an attempt being written still has its temp name.
    */
  def lineage(outDir: String): Vector[UnitLineage] = {
    val fs = fsOf(SparkSession.active, outDir)
    val dir = lineageDir(outDir)
    if (!fs.exists(dir)) Vector.empty
    else
      fs.listStatus(dir).toVector
        .filter(_.getPath.getName.endsWith(".tsv"))
        .flatMap(st => readString(fs, st.getPath).split("\n").filter(_.nonEmpty))
        .map(_.split("\t"))
        .map(a => UnitLineage(a(0).toInt, a(1).toLong, a(2).toLong))
        .sortBy(_.unit)
  }

  /** Run (or resume) the pipeline over `pages`, materializing
    * `outDir/data/unit=N` parquet partitions plus lineage. Returns units processed
    * in this invocation.
    */
  def runCheckpointed(
      pages: Dataset[PageRow],
      outDir: String,
      units: Int = 16,
      cfg: Pipeline.Config = Pipeline.Config()): Vector[UnitLineage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val fs = fsOf(spark, outDir)

    // resume is only valid against the same unit partitioning
    val unitsFile = new Path(lineageDir(outDir), "_units")
    if (fs.exists(unitsFile)) {
      val prev = readString(fs, unitsFile).trim.toInt
      require(prev == units,
        s"store at $outDir was built with --units $prev; resume must use the same value")
    }

    val done = completedUnits(outDir)
    val pending =
      if (done.isEmpty) pages
      else pages.filter(!bucketOf(col("url"), units).isin(done.toSeq: _*))

    val docCounts = pending.groupBy(bucketOf(col("url"), units))
      .agg(count(lit(1))).as[(Int, Long)].collect().toMap
    if (docCounts.isEmpty) return Vector.empty

    // docId is the page url, so triples land in their page's unit
    Pipeline.triples(pending, cfg)
      .withColumn("unit", bucketOf(col("docId"), units))
      .repartition(col("unit"))
      .sortWithinPartitions("subj", "pred", "obj")
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("unit").parquet(dataDir(outDir))

    // metrics from what was actually committed (parquet footers, no job);
    // a unit whose pages yield no triples writes no partition
    val results = docCounts.keys.toVector.sorted.map { u =>
      val part = new Path(dataDir(outDir), s"unit=$u")
      val triples = if (fs.exists(part)) ParquetMeta.rowCount(spark, part.toString) else 0L
      UnitLineage(u, docCounts(u), triples)
    }

    // lineage is the commit point: write the attempt under a temp name, then
    // rename it into place, so a reader never sees a partial attempt
    val dir = lineageDir(outDir)
    fs.mkdirs(dir)
    if (!fs.exists(unitsFile)) writeString(fs, unitsFile, units.toString)
    val attempt = fs.listStatus(dir).count(_.getPath.getName.endsWith(".tsv"))
    val target = new Path(dir, f"attempt-$attempt%04d.tsv")
    val tmp = new Path(dir, s"${target.getName}.tmp")
    writeString(fs, tmp, results.map(r => s"${r.unit}\t${r.docs}\t${r.triples}").mkString("\n"))
    // a local rename replaces an existing target, so check first
    if (fs.exists(target) || !fs.rename(tmp, target))
      throw new IOException(s"cannot commit lineage $target: it exists or the rename failed")
    results
  }
}
