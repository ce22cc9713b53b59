package graft.tools

import java.io.{File, PrintWriter}

import graft.SparkEntry

/** Optimization-round instrumentation (guide §1): per-query isolation with
  * the noop sink — timing the computation, not the driver's count() — plus
  * `.explain("formatted")` capture to `plans/<tag>/<query>_<label>.txt`.
  *
  * Separate from the FROZEN `graft.Bench` harness on purpose: cited
  * bench numbers come from Bench's methodology; this main exists to
  * isolate and attribute cost while optimizing, and to persist the plan
  * evidence the round's writeup points at.
  *
  * Usage: runMain graft.tools.BenchExtra <label> [query names...]
  *   SPARK_GRAFT_SF_DIR as in Bench; SPARK_GRAFT_CPUS, SPARK_MASTER and
  *   SPARK_GRAFT_EVENTLOG as in `Session`;
  *   SPARK_GRAFT_PLANS_DIR overrides the plans output dir (default
  *   plans/r06). With no query names, runs every declared query.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val label = args.headOption.getOrElse("before")
    val wanted = args.drop(1).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val plansDir = new File(sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r06"))
    plansDir.mkdirs()

    val spark = Session("graft-bench-extra", Session.defaultCores)

    // same bench-mode contract as graft.Bench: fixture-writing queries
    // return their bare plan, so the timing measures the operator
    System.setProperty("graft.bench", "1")
    try {
      // warmup (codegen/classloader), as in Bench
      try SparkEntry.queries("q01_agg")(spark, sfDir).count()
      catch { case _: Throwable => }

      val names = SparkEntry.queries.keys.toVector.sorted
        .filter(n => wanted.isEmpty || wanted(n))
      // SPARK_GRAFT_REPS: interleaved best-of-N (Bench's discipline) for
      // A/B work on a query subset without paying a full-suite run
      val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(1)
      val best = scala.collection.mutable.Map.empty[String, Double]
      (1 to reps).foreach { _ =>
        names.foreach { name =>
          spark.sparkContext.setJobDescription(name)
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t0) / 1e9
          if (secs < best.getOrElse(name, Double.MaxValue)) best(name) = secs
          val pw = new PrintWriter(new File(plansDir, s"${name}_$label.txt"))
          try pw.println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          finally pw.close()
          spark.catalog.clearCache()
          spark.sparkContext.setJobDescription(null)
        }
      }
      println(best.toVector.sortBy(_._1)
        .map { case (n, s) => f""""$n":$s%.3f""" }
        .mkString("{", ",", "}"))
    } finally {
      System.clearProperty("graft.bench")
      spark.stop()
    }
  }
}
