package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic N×-scaled copy of a driver testdata dir (sf0.1 → "sf1"),
  * for scale-up bench evidence: the shipped testdata tops out at 17 MB
  * (sf0.1), small enough that every shuffle stays in page cache; a 10×
  * copy exercises the spill/AQE paths the 100 TB story depends on.
  *
  * Copy k (k ∈ [0, factor)) shifts every KEY column by k·STRIDE — one
  * consistent offset across fact and dimension tables, so referential
  * integrity (orders↔customer, lineitem↔orders/part/supplier) holds and
  * join selectivities match the original. Non-key attributes are kept
  * verbatim: exact-duplicate text is exactly what a web crawl scaled 10×
  * looks like (boilerplate), and the dedup operators are built for it.
  * region/nation stay as-is (true dimensions).
  */
object MakeScale {

  val Stride = 100000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Session("graft-make-scale", Session.defaultCores)

    val keyCols = Map(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    def scaled(name: String): DataFrame = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val keys = keyCols.getOrElse(name, Seq.empty)
      // shifted 32-bit keys must not wrap (silently desynchronizing fact
      // and dimension copies) — fail fast on the ACTUAL max key, not just
      // the stride budget: a source key near Stride would wrap even when
      // (factor-1)*Stride alone fits
      val intKeys = keys.filter(c =>
        base.schema(c).dataType == org.apache.spark.sql.types.IntegerType)
      if (intKeys.nonEmpty) {
        val row = base.agg(
          max(col(intKeys.head)), intKeys.tail.map(c => max(col(c))): _*).head()
        intKeys.zipWithIndex.foreach { case (c, i) =>
          val maxKey = if (row.isNullAt(i)) 0L else row.getInt(i).toLong
          require(maxKey + (factor - 1).toLong * Stride <= Int.MaxValue,
            s"factor $factor overflows 32-bit key column $name.$c " +
              s"(max key $maxKey + ${(factor - 1).toLong * Stride} > Int.MaxValue)")
        }
      }
      if (keys.isEmpty) base
      else (0 until factor).map { k =>
        keys.foldLeft(base) { (df, c) =>
          df.withColumn(c, (col(c) + lit(k * Stride)).cast(base.schema(c).dataType))
        }
      }.reduce(_ unionByName _)
    }

    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { name =>
      scaled(name).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[make-scale] $name done")
    }
    spark.stop()
  }
}
