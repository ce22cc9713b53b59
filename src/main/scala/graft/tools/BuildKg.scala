package graft.tools

import org.apache.spark.sql.Dataset

import graft.io.TripleStore
import graft.model.PageRow
import graft.pipeline.{Pipeline, SynthCorpus}

/** spark-submit entry point: pages table → checkpointed bucketed triple
  * store with per-unit lineage.
  *
  * Usage:
  *   BuildKg --input synth:10000[:skew] | --input /path/to/pages.parquet
  *           --out /path/out [--units 16] [--cores N]
  *
  * Re-running with the same --out resumes from lineage (exact resume).
  */
object BuildKg {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val input = opts.getOrElse("--input", "synth:1000")
    val out = opts.getOrElse("--out", sys.error("--out required"))
    val units = opts.getOrElse("--units", "16").toInt
    val cores = opts.get("--cores").fold(Session.defaultCores)(_.toInt)

    val spark = Session("graft-build-kg", cores)
    import spark.implicits._

    val pages: Dataset[PageRow] =
      if (input.startsWith("synth:")) {
        val parts = input.stripPrefix("synth:").split(":")
        val n = parts(0).toLong
        val skew = if (parts.length > 1) parts(1).toDouble else 0.0
        SynthCorpus.pages(spark, n, seed = 42L, skewFraction = skew,
          partitions = cores * 4)
      } else spark.read.parquet(input).as[PageRow]

    val t0 = System.nanoTime()
    val done = TripleStore.runCheckpointed(pages, out, units = units)
    val secs = (System.nanoTime() - t0) / 1e9
    val docs = done.map(_.docs).sum
    val triples = done.map(_.triples).sum
    println(f"build_kg: units=${done.size} docs=$docs triples=$triples " +
      f"seconds=$secs%.2f triples_per_sec=${triples / math.max(secs, 1e-9)}%.1f")
    spark.stop()
  }
}
