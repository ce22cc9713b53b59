package graft.tools

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.PageRow

/** Ingest stage: a directory of raw `*.txt` documents — the reference's
  * own input format (batch_pipeline.py:265-284, doc_id = file stem) — into
  * the canonical pages table `(url, warc_ts, html, text, lang)`.
  *
  * Usage: IngestTexts --in <dir-of-txt> --out <pages.parquet> [--limit n]
  * A reference user points this at their authors directory and then runs
  * BuildKg on the output.
  */
object IngestTexts {

  def ingest(spark: SparkSession, dir: String, limit: Int = 0): Dataset[PageRow] = {
    import spark.implicits._
    val raw = spark.read.option("wholetext", "true").text(s"$dir/*.txt")
      .withColumn("file", input_file_name())
    val limited = if (limit > 0) raw.limit(limit) else raw
    limited.select(col("file"), col("value")).as[(String, String)].map {
      case (file, text) =>
        val stem = {
          val base = file.substring(file.lastIndexOf('/') + 1)
          val decoded = java.net.URLDecoder.decode(base, "UTF-8")
          decoded.stripSuffix(".txt")
        }
        PageRow(
          url = s"ref://$stem",
          warc_ts = new java.sql.Timestamp(1758931200000L),
          html = Array.emptyByteArray,
          text = text,
          lang = "en")
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val in = opts.getOrElse("--in", sys.error("--in required"))
    val out = opts.getOrElse("--out", sys.error("--out required"))
    val limit = opts.getOrElse("--limit", "0").toInt
    val cores = opts.get("--cores").fold(Session.defaultCores)(_.toInt)

    val spark = Session("graft-ingest-texts", cores)

    val pages = ingest(spark, in, limit)
    pages.write.mode(SaveMode.Overwrite).parquet(out)
    println(s"ingest_texts: wrote ${spark.read.parquet(out).count()} pages to $out")
    spark.stop()
  }
}
