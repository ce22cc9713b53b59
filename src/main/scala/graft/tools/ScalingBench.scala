package graft.tools

import graft.pipeline.{Pipeline, SynthCorpus}

/** Scaling-efficiency evidence for the north rule (N vs 4N executors).
  *
  * No real cluster exists in this sandbox, so per the driver instruction the
  * same job runs at two parallelism levels — local[8] and local[32] — on the
  * same input; we report throughput at both and
  * `efficiency = (thr_32 / thr_8) / 4`. The pipeline is one shuffle-free
  * mapPartitions over `spark.range`-generated input partitions, so the
  * expected scaling limit is CPU saturation, not shuffle or skew.
  *
  * Usage: runMain graft.tools.ScalingBench [nDocs] — prints one JSON line.
  * Leave `SPARK_MASTER` unset: `Session` would use it for both levels.
  */
object ScalingBench {

  private def measure(cores: Int, nDocs: Long, skew: Double): (Long, Double) = {
    val spark = Session(s"graft-scaling-$cores", cores)
    // text column blanked → the full path runs, including html→text
    // extraction (the real per-row work on a Common-Crawl-style table)
    def pages(n: Long) =
      SynthCorpus.pages(spark, n, seed = 42L, skewFraction = skew,
        partitions = cores * 4, blankText = true)
    try {
      // warmup (JIT + classloading), then one measured run
      Pipeline.triples(pages(2000)).count()
      val t0 = System.nanoTime()
      val n = Pipeline.triples(pages(nDocs)).count()
      (n, (System.nanoTime() - t0) / 1e9)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    // single-measure mode for the multi-JVM cluster proxy:
    //   ScalingBench single <cores> <docs> [seedOffset]
    if (args.headOption.contains("single")) {
      val cores = args(1).toInt
      val nDocs = args(2).toLong
      val (n, s) = measure(cores, nDocs, skew = 0.05)
      println(f"scaling_single: cores=$cores docs=$nDocs triples=$n secs=$s%.2f docs_per_sec=${nDocs / s}%.1f")
      return
    }
    val nDocs = args.headOption.map(_.toLong).getOrElse(400000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val lo = args.lift(2).map(_.toInt).getOrElse(8)
    val hi = args.lift(3).map(_.toInt).getOrElse(32)
    val skew = 0.05
    // The sandbox host shows minute-scale noisy-neighbor load swings, so
    // interleave the two levels (lo,hi,lo,hi,...) and take each level's
    // best — time-correlated noise then cannot bias the ratio.
    val results = (1 to reps).flatMap { _ =>
      Seq(lo -> measure(lo, nDocs, skew), hi -> measure(hi, nDocs, skew))
    }
    results.foreach { case (c, (n, s)) =>
      println(f"scaling_run: cores=$c docs=$nDocs secs=$s%.2f docs_per_sec=${nDocs / s}%.1f")
    }
    val (n8, s8) = results.collect { case (`lo`, r) => r }.minBy(_._2)
    val (n32, s32) = results.collect { case (`hi`, r) => r }.minBy(_._2)
    require(n8 == n32, s"nondeterministic triple count: $n8 vs $n32")
    val factor = hi.toDouble / lo
    val thr8 = nDocs / s8
    val thr32 = nDocs / s32
    val tps8 = n8 / s8
    val tps32 = n32 / s32
    val eff = (thr32 / thr8) / factor
    println(
      f"""{"metric":"scaling_efficiency","value":$eff%.3f,"docs":$nDocs,""" +
        f""""cores_lo":$lo,"cores_hi":$hi,""" +
        f""""triples":$n8,"secs_lo":$s8%.2f,"secs_hi":$s32%.2f,""" +
        f""""docs_per_sec_lo":$thr8%.1f,"docs_per_sec_hi":$thr32%.1f,""" +
        f""""triples_per_sec_lo":$tps8%.1f,"triples_per_sec_hi":$tps32%.1f}""")
  }
}
