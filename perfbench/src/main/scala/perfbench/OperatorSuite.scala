package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** A fixed set of `SparkEntry.queries` leaves over staged star-schema
  * tables, in bench mode with the noop sink, as `BenchExtra` runs them.
  *
  * The set holds one leaf per operator family (about 4.5 s a pass at
  * `local[4]`); the full 91-leaf pass takes 43 s after warm-up on tables
  * of this size, more than a run can spend. The tables come from a
  * fixed data seed so each leaf's row count and digest can be checked
  * against the values recorded at the seed commit; `--seed` orders the
  * leaves within a pass.
  */
final class OperatorSuite(c: Ctx) extends Workload(c) {
  import c._

  private def sfDir = in.resolve("sf").toString

  private val leaves: Vector[String] =
    if (tiny) Vector("q04_join3", "q37_edges_export", "q74_pii_redact")
    else OperatorSuite.Leaves.keys.toVector.sorted
  private val order: Vector[String] =
    leaves.sortBy(n => SfData.mix(seed, 13, n.hashCode.toLong))
  private val digests = mutable.Map.empty[String, Digest]

  def stage(): Unit = SfData.write(spark, sfDir, OperatorSuite.DataSeed)

  private def leafDf(name: String) = SparkEntry.queries(name)(spark, sfDir)

  val warmOps: Int = if (tiny) 0 else 1

  /** The untimed first pass computes each leaf's digest: it warms the
    * same plans the timed passes run.
    */
  override def warmup(): Unit = bench {
    order.foreach { n =>
      val df = leafDf(n)
      // the self-test's damaged result: one row duplicated
      digests(n) = Digest.of(if (corrupt.contains("leaf") && n == order.head) df.union(df.limit(1)) else df)
      spark.catalog.clearCache()
    }
  }

  private def bench[T](body: => T): T = {
    System.setProperty("graft.bench", "1")
    try body
    finally System.clearProperty("graft.bench")
  }

  def op(i: Int): Vector[Sample] = bench {
    val fam = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var total = 0.0
    tracer.span("perfbench.suitePass") {
      order.foreach { n =>
        spark.sparkContext.setJobDescription(n)
        val t0 = System.nanoTime()
        tracer.span(s"leaf.$n", Map("family" -> OperatorSuite.Leaves(n))) {
          leafDf(n).write.format("noop").mode("overwrite").save()
        }
        val s = (System.nanoTime() - t0) / 1e9
        total += s
        fam(OperatorSuite.Leaves(n)) += s
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(null)
      }
    }
    val layer =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        val s = obs.spark.map(_.take(spark)).getOrElse(Map.empty)
        OperatorSuite.Families.map(f => s"ops.${f}_s" -> fam(f)).toMap ++
          Map("spark.executor_cpu_ms" -> s.getOrElse("cpu_ms", 0.0))
      }
    Vector(Sample(total, leaves.map(digests(_).rows).sum, leaves.size, layer))
  }

  def check(): Vector[String] = leaves.flatMap { n =>
    val want = expected.leaves.get(n)
    val got = digests(n).token
    if (want.isEmpty) Some(s"$n: no recorded digest")
    else if (want.get != got) Some(s"$n: rows:digest $got != recorded ${want.get}")
    else None
  }

  def recorded: Map[String, String] = digests.map { case (k, v) => k -> v.token }.toMap
}

object OperatorSuite {
  val DataSeed = 20261017L

  val Families: Vector[String] = Vector("relational", "kg", "dedup", "similarity", "canon",
    "streaming", "text", "multimodal", "curation")

  /** Leaf → family of the module its operator lives in (plain Spark SQL is
    * `relational`; the KG exports over the materialized corpus are `kg`).
    */
  val Leaves: Map[String, String] = Map(
    "q04_join3" -> "relational",
    "q37_edges_export" -> "kg",
    "q77_decontaminate" -> "dedup",
    "q60_cosine_dup_exact" -> "similarity",
    "q32_connected_components" -> "canon",
    "q45_stream_triples" -> "streaming",
    "q74_pii_redact" -> "text",
    "q41_multimodal" -> "multimodal",
    "q69_curation" -> "curation")
}
