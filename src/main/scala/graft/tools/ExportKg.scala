package graft.tools

import org.apache.spark.sql.SaveMode

import graft.io.{Exports, TripleStore}
import graft.model.Triple

/** spark-submit export stage: materialized triple store → the reference's
  * sink formats (S6–S8).
  *
  * Usage: ExportKg --store /path/from/BuildKg --out /path/exports
  *        [--evals /path/evals.parquet]
  * Writes: ttl/ (custom TTL lines), queryable_ttl/, triples_csv/,
  * edges_csv/, rag_json/, sparql_templates/, node_categories/,
  * predicate_histogram/, entity_index/, top_degree/, dot/ (one styled
  * DOT graph per document, json-lines of (docId, dot)). With --evals
  * (docId, idx, eval_triple, confidence, source_sentence, extractable),
  * triples_csv AND the DOT edge labels carry the J3 fuzzy-join
  * enrichment (confidence/extractability suffixes) instead of defaults.
  */
object ExportKg {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val store = opts.getOrElse("--store", sys.error("--store required"))
    val out = opts.getOrElse("--out", sys.error("--out required"))
    val cores = opts.get("--cores").fold(Session.defaultCores)(_.toInt)

    val spark = Session("graft-export-kg", cores)
    import spark.implicits._

    val triples = spark.read.parquet(s"$store/data")
      .select("docId", "subj", "subjIsUri", "frame", "role", "pred", "obj", "objIsUri")
      .as[Triple]

    Exports.customTtl(triples).write.mode(SaveMode.Overwrite).text(s"$out/ttl")
    Exports.queryableTtl(triples).write.mode(SaveMode.Overwrite).text(s"$out/queryable_ttl")
    val enriched = opts.get("--evals") match {
      case Some(evalsPath) =>
        val evals = spark.read.parquet(evalsPath).as[Exports.EvalRow]
        Exports.enrichedTriples(triples, evals)
      case None => Exports.triplesCsvWithDoc(triples)
    }
    enriched.drop("docId") // reference CSV shape has no doc column
      .write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(s"$out/triples_csv")
    Exports.dotGraphs(enriched).write.mode(SaveMode.Overwrite).json(s"$out/dot")
    Exports.edgesCsv(triples).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(s"$out/edges_csv")
    Exports.ragJson(triples).write.mode(SaveMode.Overwrite).json(s"$out/rag_json")
    Exports.sparqlTemplates(triples).write.mode(SaveMode.Overwrite)
      .json(s"$out/sparql_templates")
    Exports.categorizeNodes(triples).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(s"$out/node_categories")
    Exports.predicateHistogram(triples).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(s"$out/predicate_histogram")
    Exports.entityIndex(triples).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(s"$out/entity_index")
    Exports.topKByDegree(triples, 30).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(s"$out/top_degree")
    println(s"export_kg: wrote 11 sinks under $out")
    spark.stop()
  }
}
