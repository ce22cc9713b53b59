package graft.io

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.Triple

/** The reference's export sinks (S6–S8, batch_pipeline.py:393-803)
  * re-expressed as DataFrame transforms; callers pick the writer
  * (`.write.text/csv/json`).
  *
  * Fidelity note: every sink except [[customTtl]] derives from triples
  * RE-PARSED out of the custom TTL checkpoint (batch_pipeline.py:462-507),
  * exactly as the reference does — including the degenerate behavior on
  * multi-word literal subjects (the first whitespace token becomes the
  * subject and the second becomes the predicate). [[reparsed]] is that
  * shared re-parse step; QueryableTtlParitySpec gates it golden-exact
  * against the reference's own checkpoint files.
  */
object Exports {

  /** Custom line-per-triple TTL (rdfify_improved.py:944-981). The
    * rdf:type / participates_in / frame→frame filters (P5) are already
    * applied structurally — the emitter never materializes those triples.
    */
  def customTtl(triples: Dataset[Triple]): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    // project before the typed map so the parquet scan prunes to the four
    // columns the line actually uses
    triples.select("subj", "frame", "pred", "obj")
      .as[(String, String, String, String)]
      .map { case (s, f, p, o) => Triple.ttlLine(s, f, p, o) }
      .toDF("line")
  }

  /** P6: re-parse a custom-TTL line into (subject, predicate, object) —
    * port of `_parse_custom_rdf_triples` (batch_pipeline.py:462-507),
    * including its behavior on multi-word literal subjects (the first
    * whitespace token becomes the subject). Returns None for comments,
    * blanks, and sub-3-token lines.
    */
  def parseCustomTtlLine(line0: String): Option[(String, String, String)] = {
    val line = graft.util.PyStr.strip(line0)
    if (line.isEmpty || line.startsWith("@") || line.startsWith("#")) return None
    val noTail = line.replaceAll("[;.]$", "")
    val parts = graft.util.PyStr.split(noTail)
    if (parts.length < 3) return None
    def stripQuotes(s: String) = s.replaceAll("^[\"']+|[\"']+$", "")
    Some((
      stripQuotes(parts(0)),
      stripQuotes(parts(1)),
      stripQuotes(parts.drop(2).mkString(" "))))
  }

  /** The shared sink-side view: emit the custom-TTL line per triple and
    * re-parse it, exactly as the reference's export path does for every
    * downstream sink (batch_pipeline.py:409-420 re-reads the rdf.ttl
    * checkpoint). Columns: (docId, subject, predicate, object). Narrow
    * (per-row), no shuffle.
    */
  def reparsed(triples: Dataset[Triple]): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples.select("docId", "subj", "frame", "pred", "obj")
      .as[(String, String, String, String, String)]
      .flatMap { case (d, s0, f, p0, o0) =>
        parseCustomTtlLine(Triple.ttlLine(s0, f, p0, o0))
          .map { case (s, p, o) => (d, s, p, o) }
      }
      .toDF("docId", "subject", "predicate", "object")
  }

  /** Queryable-TTL line from a re-parsed triple (batch_pipeline.py:700-712). */
  def queryableLineFromParsed(s: String, p: String, o: String): String = {
    val subj = if (s.startsWith("<")) s else s"<$s>"
    val pred = if (p.startsWith("<")) p else s"<$p>"
    val obj = if (o.startsWith("<") || o.startsWith("\"")) o else "\"" + o + "\""
    s"$subj $pred $obj ."
  }

  /** SPARQL-ish queryable TTL (batch_pipeline.py:687-712), built from the
    * re-parsed checkpoint like the reference (verified golden-exact against
    * `*_queryable.ttl`; QueryableTtlParitySpec).
    */
  def queryableTtl(triples: Dataset[Triple]): DataFrame =
    reparsed(triples).select(
      concat(
        when(col("subject").startsWith("<"), col("subject"))
          .otherwise(concat(lit("<"), col("subject"), lit(">"))),
        lit(" "),
        when(col("predicate").startsWith("<"), col("predicate"))
          .otherwise(concat(lit("<"), col("predicate"), lit(">"))),
        lit(" "),
        when(col("object").startsWith("<") || col("object").startsWith("\""),
          col("object"))
          .otherwise(concat(lit("\""), col("object"), lit("\""))),
        lit(" .")).as("line"))

  /** Enriched triples CSV (batch_pipeline.py:462-507,668-685) on the
    * defaults path: confidence 0.9, source_sentence "Unknown",
    * extractable true. With evaluation results, use [[enrichedTriples]].
    * [[triplesCsvWithDoc]] keeps the docId column (for per-document
    * sinks like [[dotGraphs]]); the reference CSV shape drops it.
    */
  def triplesCsvWithDoc(triples: Dataset[Triple]): DataFrame =
    reparsed(triples).select(
      col("docId"),
      col("subject"),
      col("predicate"),
      col("object"),
      lit(0.9).as("confidence"),
      lit("Unknown").as("source_sentence"),
      lit(true).as("extractable"))

  /** One evaluation-result row, the J3 join's build side
    * (batch_pipeline.py:489-499): `idx` is the row's position in the doc's
    * evaluation list (first match wins), `extractable` is the doc-level
    * flag (batch_pipeline.py:505).
    */
  final case class EvalRow(
      docId: String,
      idx: Long,
      eval_triple: String,
      confidence: Double,
      source_sentence: String,
      extractable: Boolean)

  /** J3: triple↔evaluation fuzzy containment join
    * (batch_pipeline.py:489-518). For each custom-TTL line, the FIRST
    * evaluation row (by list position) whose `triple` text equals or
    * contains / is contained in the line (lowercased) supplies
    * confidence + source sentence; otherwise defaults (0.9, "Unknown").
    * Doc-local nested scan via cogroup on docId — the join never leaves
    * the document, so the shuffle is one hash partition by docId and the
    * per-task working set is one document's triples + evaluations.
    */
  def enrichedTriples(triples: Dataset[Triple], evals: Dataset[EvalRow]): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples.groupByKey(_.docId)
      .cogroup(evals.groupByKey(_.docId)) { (docId, ts, es) =>
        val evalList = es.toVector.sortBy(_.idx)
        val docExtractable = evalList.headOption.forall(_.extractable)
        ts.flatMap { t =>
          val line = graft.util.PyStr.strip(t.ttlLine).replaceAll("[;.]$", "")
          parseCustomTtlLine(t.ttlLine).map { case (s, p, o) =>
            // _triples_match (batch_pipeline.py:510-518): equality or
            // either-direction containment, lowercased; empty never matches
            val lc = graft.util.PyStr.lower(graft.util.PyStr.strip(line))
            val hit = evalList.find { e =>
              val ec = graft.util.PyStr.lower(graft.util.PyStr.strip(e.eval_triple))
              ec.nonEmpty && lc.nonEmpty && (ec == lc || lc.contains(ec) || ec.contains(lc))
            }
            (docId, s, p, o,
              hit.map(_.confidence).getOrElse(0.9),
              hit.map(_.source_sentence).getOrElse("Unknown"),
              if (evalList.isEmpty) true else docExtractable)
          }
        }
      }
      .toDF("docId", "subject", "predicate", "object", "confidence",
        "source_sentence", "extractable")
  }

  /** batch_pipeline.py:997-1006 — quotes stripped; non-URIs lose brackets. */
  def cleanNodeName(c: Column): Column = {
    val stripped = regexp_replace(c, "^[\"']+|[\"']+$", "")
    when(stripped.startsWith("http://") || stripped.startsWith("https://"), stripped)
      .otherwise(regexp_replace(stripped, "[<>{}\\[\\]()]", ""))
  }

  /** _clean_edge_label (batch_pipeline.py:1026-1036): part after the last
    * ':', underscores → spaces, '#' dropped, truncated to 20 chars.
    */
  def cleanEdgeLabel(pred: Column): Column = {
    val base = substring_index(pred, ":", -1)
    val label0 = regexp_replace(regexp_replace(base, "_", " "), "#", "")
    when(length(label0) > 20, concat(substring(label0, 1, 17), lit("...")))
      .otherwise(label0)
  }

  /** Graph edges CSV (batch_pipeline.py:621-643): Source, Target, Label,
    * Frame — from the re-parsed checkpoint (golden-exact,
    * QueryableTtlParitySpec).
    */
  def edgesCsv(triples: Dataset[Triple]): DataFrame =
    reparsed(triples).select(
      cleanNodeName(col("subject")).as("Source"),
      cleanNodeName(col("object")).as("Target"),
      cleanEdgeLabel(col("predicate")).as("Label"),
      substring_index(col("predicate"), ":", 1).as("Frame"))

  /** Predicate histogram (A3, batch_pipeline.py:602-619) over re-parsed
    * predicates.
    */
  def predicateHistogram(triples: Dataset[Triple]): DataFrame =
    reparsed(triples)
      .groupBy(col("predicate"))
      .agg(count(lit(1)).as("n"))

  /** Entity index (A4, batch_pipeline.py:581-600): distinct union of
    * re-parsed subjects and objects. At 10^12-doc scale prefer
    * `approx_count_distinct` for the cardinality; the index itself stays
    * exact (it is the dimension table of the KG).
    */
  def entityIndex(triples: Dataset[Triple]): DataFrame = {
    val t = reparsed(triples)
    t.select(col("subject").as("entity"))
      .union(t.select(col("object").as("entity")))
      .distinct()
  }

  /** Node degree + top-k (A8/W3, visualization/simple_graph_generator.py:55-60). */
  def nodeDegree(triples: Dataset[Triple]): DataFrame = {
    val t = reparsed(triples)
    t.select(col("subject").as("node"))
      .union(t.select(col("object").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
  }

  def topKByDegree(triples: Dataset[Triple], k: Int = 30): DataFrame =
    nodeDegree(triples).orderBy(col("degree").desc, col("node")).limit(k)

  /** F12 triple categorization for RAG retrieval
    * (batch_pipeline.py:552-579): people/location/event/concept/other
    * cascade over lowercased subject/predicate/object, exact keyword lists
    * and check order of `_categorize_triples_for_rag`.
    */
  def tripleCategory(subj: Column, pred: Column, obj: Column): Column = {
    val s = lower(subj); val p = lower(pred); val o = lower(obj)
    def anyIn(cols: Seq[Column], kws: Seq[String]): Column =
      kws.flatMap(k => cols.map(_.contains(k))).reduce(_ || _)
    when(anyIn(Seq(s, o), Seq("christie", "agatha", "person", "author")),
      "people_related")
      .when(anyIn(Seq(s, o), Seq("torquay", "england", "place", "location")),
        "location_related")
      .when(anyIn(Seq(p, o), Seq("born", "death", "event", "happened")),
        "event_related")
      .when(anyIn(Seq(s, o), Seq("mystery", "novel", "book", "writing")),
        "concept_related")
      .otherwise("other")
  }

  /** F12 node classification (batch_pipeline.py:949-969,
    * `_classify_node_type`): first matching keyword family wins.
    */
  def nodeCategory(node: Column): Column = {
    val n = lower(node)
    def anyIn(kws: Seq[String]): Column = kws.map(n.contains(_)).reduce(_ || _)
    when(anyIn(Seq("christie", "agatha", "person", "author", "writer")), "people")
      .when(anyIn(Seq("torquay", "england", "place", "location", "city", "country")),
        "locations")
      .when(anyIn(Seq("born", "death", "died", "event", "happened")), "events")
      .when(anyIn(Seq("mystery", "novel", "book", "work", "writing", "literature")),
        "concepts")
      .otherwise("other")
  }

  /** _clean_node_name_for_dot (batch_pipeline.py:1008-1024): quotes and
    * brackets stripped, wiki URIs reduced to their entity name
    * (underscores → spaces), other http URIs to their last path segment,
    * everything else truncated to 30 chars. Column and scalar twins —
    * the scalar feeds the pure [[dotGraphText]] generator.
    */
  def dotNodeName(c: Column): Column = {
    val stripped = regexp_replace(c, "^[\"']+|[\"']+$", "")
    val n = regexp_replace(stripped, "[<>{}\\[\\]()]", "")
    when(n.startsWith("http://en.wikipedia.org/wiki/"),
      regexp_replace(substring_index(n, "/", -1), "_", " "))
      .when(n.startsWith("http://"), substring_index(n, "/", -1))
      .when(length(n) > 30, concat(substring(n, 1, 27), lit("...")))
      .otherwise(n)
  }

  def dotNodeNameText(name0: String): String = {
    val stripped = name0.replaceAll("^[\"']+|[\"']+$", "")
    val n = stripped.replaceAll("[<>{}\\[\\]()]", "")
    if (n.startsWith("http://en.wikipedia.org/wiki/"))
      n.substring(n.lastIndexOf('/') + 1).replace('_', ' ')
    else if (n.startsWith("http://")) n.substring(n.lastIndexOf('/') + 1)
    else if (n.length > 30) n.substring(0, 27) + "..."
    else n
  }

  /** Distinct re-parsed nodes with their F12 category. Nodes are cleaned
    * with the DOT cleaner (the reference's `_categorize_nodes`,
    * batch_pipeline.py:946-957, classifies `_clean_node_name_for_dot`
    * output — wiki-URI entity extraction, 30-char truncation — not the
    * CSV cleaner).
    */
  def categorizeNodes(triples: Dataset[Triple]): DataFrame = {
    val t = reparsed(triples)
    t.select(dotNodeName(col("subject")).as("node"))
      .union(t.select(dotNodeName(col("object")).as("node")))
      .distinct()
      .select(col("node"), nodeCategory(col("node")).as("category"))
  }

  /** RAG-JSON shape (batch_pipeline.py:520-600): one JSON doc per document
    * with its triples (each carrying its F12 category), the entity index
    * and predicate index nested. The reference preserves file order inside
    * each doc; distributed execution has no stable row order, so arrays
    * are sorted — a documented determinism-over-order deviation.
    */
  def ragJson(triples: Dataset[Triple]): DataFrame = {
    val t = reparsed(triples)
    t.groupBy(col("docId"))
      .agg(
        count(lit(1)).as("total_triples"),
        sort_array(collect_list(struct(
          col("subject"),
          col("predicate"),
          col("object"),
          tripleCategory(col("subject"), col("predicate"), col("object"))
            .as("category")))).as("triples"),
        sort_array(array_distinct(
          flatten(collect_list(array(col("subject"), col("object"))))))
          .as("entities"),
        sort_array(array_distinct(collect_list(col("predicate"))))
          .as("unique_predicates"))
      .select(
        col("docId"),
        to_json(struct(
          col("total_triples"), col("triples"),
          col("entities"), col("unique_predicates"))).as("json"))
  }

  /** S7: SPARQL query-template export (batch_pipeline.py:714-769) — one
    * template file body per document, byte-identical to the reference's
    * `*_queries.sparql` save for the per-file header name.
    */
  def sparqlTemplateText(fileName: String): String = {
    val sb = new StringBuilder
    sb ++= s"# SPARQL Query Templates for $fileName\n"
    sb ++= "# Generated for RAG applications\n\n"
    sb ++= "# PREFIX definitions\n"
    sb ++= "PREFIX : <http://example.org/>\n"
    sb ++= "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>\n"
    sb ++= "PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>\n\n"
    sb ++= "# Query 1: Find all people mentioned\n"
    sb ++= "SELECT ?person ?predicate ?value WHERE {\n"
    sb ++= "  ?person ?predicate ?value .\n"
    sb ++= "  FILTER(CONTAINS(STR(?person), \"christie\") || CONTAINS(STR(?person), \"agatha\"))\n"
    sb ++= "}\n\n"
    sb ++= "# Query 2: Find all locations\n"
    sb ++= "SELECT ?location ?predicate ?value WHERE {\n"
    sb ++= "  ?location ?predicate ?value .\n"
    sb ++= "  FILTER(CONTAINS(STR(?location), \"torquay\") || CONTAINS(STR(?location), \"england\"))\n"
    sb ++= "}\n\n"
    sb ++= "# Query 3: Find all events (birth, death, etc.)\n"
    sb ++= "SELECT ?event ?predicate ?value WHERE {\n"
    sb ++= "  ?event ?predicate ?value .\n"
    sb ++= "  FILTER(CONTAINS(STR(?predicate), \"born\") || CONTAINS(STR(?predicate), \"death\"))\n"
    sb ++= "}\n\n"
    sb ++= "# Query 4: Find all relationships for a specific entity\n"
    sb ++= "SELECT ?subject ?predicate ?object WHERE {\n"
    sb ++= "  ?subject ?predicate ?object .\n"
    sb ++= "  FILTER(?subject = <http://example.org/entity/Agatha_Christie>)\n"
    sb ++= "}\n\n"
    sb ++= "# Query 5: Find all triples with specific predicate type\n"
    sb ++= "SELECT ?subject ?predicate ?object WHERE {\n"
    sb ++= "  ?subject ?predicate ?object .\n"
    sb ++= "  FILTER(CONTAINS(STR(?predicate), \"has_location\"))\n"
    sb ++= "}\n\n"
    sb ++= "# Query 6: Count triples by predicate type\n"
    sb ++= "SELECT ?predicate (COUNT(*) as ?count) WHERE {\n"
    sb ++= "  ?subject ?predicate ?object .\n"
    sb ++= "} GROUP BY ?predicate ORDER BY DESC(?count)\n\n"
    sb ++= "# Query 7: Find all unique entities\n"
    sb ++= "SELECT DISTINCT ?entity WHERE {\n"
    sb ++= "  { ?entity ?p ?o } UNION { ?s ?p ?entity }\n"
    sb ++= "}\n\n"
    sb ++= "# Query 8: Find entities connected to a specific concept\n"
    sb ++= "SELECT ?entity ?predicate ?concept WHERE {\n"
    sb ++= "  ?entity ?predicate ?concept .\n"
    sb ++= "  FILTER(CONTAINS(STR(?concept), \"mystery\") || CONTAINS(STR(?concept), \"novel\"))\n"
    sb ++= "}\n"
    sb.result()
  }

  /** One (docId, sparql) row per document; the template text is a pure
    * function of the doc name, so this is a narrow distinct-projection.
    */
  def sparqlTemplates(triples: Dataset[Triple]): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples.map(_.docId).distinct().map(d => (d, sparqlTemplateText(d)))
      .toDF("docId", "sparql")
  }

  // ------------------------------------------------------------------
  // S7: DOT graph text export (batch_pipeline.py:805-926)
  // ------------------------------------------------------------------

  final case class DotTriple(
      subject: String,
      predicate: String,
      obj: String,
      confidence: Double,
      extractable: Boolean)

  /** `_get_frame_color` palette (batch_pipeline.py:645-653) — duplicate
    * entries included, value-for-value (the reference cycles mod 15).
    */
  val DotFrameColors: Vector[String] = Vector(
    "lightblue", "lightcoral", "lightgreen", "lightyellow", "lightpink",
    "lightcyan", "lightsteelblue", "lightgray", "lightgoldenrodyellow",
    "lightseagreen", "lightsalmon", "lightgoldenrod", "lightpink",
    "lightsteelblue", "lightcoral")

  private val DotClusters = Seq(
    ("people", "People", "lightcoral", "red", "circle"),
    ("locations", "Locations", "lightgreen", "green", "box"),
    ("concepts", "Concepts", "lightblue", "blue", "ellipse"),
    ("events", "Events", "lightyellow", "orange", "diamond"),
    ("other", "Other", "lightgray", "gray", "hexagon"))

  /** `_get_node_style` (batch_pipeline.py:959-968). */
  def dotNodeStyle(category: String): String = DotClusters
    .collectFirst { case (k, _, fill, color, shape) if k == category =>
      s"fillcolor=$fill, color=$color, shape=$shape"
    }.getOrElse("fillcolor=lightgray, color=gray, shape=hexagon")

  /** `_clean_edge_label` as a scalar (the Column twin is [[cleanEdgeLabel]]). */
  def dotEdgeLabelText(p: String): String = {
    val base = if (p.contains(":")) p.substring(p.lastIndexOf(':') + 1) else p
    val l = base.replace("_", " ").replace("#", "")
    if (l.length > 20) l.substring(0, 17) + "..." else l
  }

  /** `_extract_frame_from_predicate` as a scalar. */
  def frameOfPredicateText(p: String): String =
    if (p.contains(":")) p.substring(0, p.indexOf(':')) else p

  /** `_classify_node_type` as a scalar (Column twin: [[nodeCategory]]). */
  def classifyNodeText(node: String): String = {
    val n = graft.util.PyStr.lower(node)
    def any(ks: String*) = ks.exists(n.contains)
    if (any("christie", "agatha", "person", "author", "writer")) "people"
    else if (any("torquay", "england", "place", "location", "city", "country"))
      "locations"
    else if (any("born", "death", "died", "event", "happened")) "events"
    else if (any("mystery", "novel", "book", "work", "writing", "literature"))
      "concepts"
    else "other"
  }

  /** `_get_edge_style` (batch_pipeline.py:970-984): base color/penwidth by
    * predicate family. `has_location`/`location` etc. collapse to the
    * substring check (`has_location` contains `location`).
    */
  def dotEdgeBaseStyle(pred: String): String = {
    val p = graft.util.PyStr.lower(pred)
    if (p.contains("location")) "color=green, penwidth=2"
    else if (p.contains("person")) "color=red, penwidth=2"
    else if (p.contains("time")) "color=purple, penwidth=2"
    else if (p.contains("topic")) "color=blue, penwidth=2"
    else "color=gray, penwidth=1"
  }

  /** The constant header lines AFTER the `digraph <name> {` opener —
    * including the reference's literal `{{`/`}}` quirk (its cluster lines
    * were written with f-string escapes in a non-f-string list,
    * batch_pipeline.py:807-871; the golden files carry the doubled
    * braces, so fidelity requires them).
    */
  val dotHeaderTail: Vector[String] = {
    val sb = Vector.newBuilder[String]
    sb += "    rankdir=TB;"
    sb += "    compound=true;"
    sb += "    node [fontname=\"Arial\", fontsize=12, style=filled];"
    sb += "    edge [fontname=\"Arial\", fontsize=10, color=gray];"
    sb += "    "
    sb += "    // Graph styling"
    sb += "    bgcolor=white;"
    sb += "    "
    sb += "    // Node type definitions"
    DotClusters.zipWithIndex.foreach { case ((key, label, fill, color, shape), i) =>
      sb += s"    subgraph cluster_$key {{"
      sb += s"        label=\"$label\";"
      sb += "        style=filled;"
      sb += s"        fillcolor=$fill;"
      sb += s"        color=$color;"
      sb += s"        node [fillcolor=$fill, color=$color, shape=$shape];"
      sb += "    }}"
      sb += (if (i < DotClusters.size - 1) "    " else "")
    }
    sb.result()
  }

  /** `_generate_dot_content_from_triples` (batch_pipeline.py:805-926) as a
    * pure function: styled DOT text with color-coded node categories,
    * frame-colored edges (palette assigned by FIRST APPEARANCE in triple
    * order), confidence/extractability suffixes on edge labels, and the
    * frame legend. Edge and legend order follow the input triple order
    * exactly (the reference iterates its parsed list); node lines within
    * a category are SORTED — the reference iterates a Python set whose
    * order is hash-randomized per process, so a deterministic order is a
    * documented determinism-over-order deviation (DotParitySpec compares
    * node lines as sets).
    */
  def dotGraphText(fileName: String, triples: Seq[DotTriple]): String = {
    val sb = Vector.newBuilder[String]
    sb += s"digraph ${fileName.replace(' ', '_')} {"
    dotHeaderTail.foreach(sb += _)

    val cleaned = triples.map(t => (dotNodeNameText(t.subject), dotNodeNameText(t.obj), t))

    val frameColors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val edges = cleaned.map { case (sc, oc, t) =>
      val frame = frameOfPredicateText(t.predicate)
      val color = frameColors.getOrElseUpdate(
        frame, DotFrameColors(frameColors.size % DotFrameColors.length))
      val style = dotEdgeBaseStyle(t.predicate)
        .replace("color=gray", s"color=$color")
      val lbl = new StringBuilder(dotEdgeLabelText(t.predicate))
        .append(" [").append(frame).append("]")
      if (t.confidence < 0.5) lbl.append(" (low conf)")
      else if (t.confidence < 0.8) lbl.append(" (med conf)")
      if (!t.extractable) lbl.append(" (not extractable)")
      "    \"" + sc + "\" -> \"" + oc + "\" [label=\"" + lbl + "\", " + style + "];"
    }

    val byCat = cleaned.flatMap(c => Seq(c._1, c._2)).distinct
      .groupBy(classifyNodeText)
    DotClusters.foreach { case (key, label, _, _, _) =>
      val nodes = byCat.getOrElse(key, Nil).sorted
      if (nodes.nonEmpty) {
        sb += s"    // $label nodes"
        nodes.foreach(n =>
          sb += "    \"" + n + "\" [label=\"" + n + "\", " + dotNodeStyle(key) + "];")
        sb += ""
      }
    }

    sb += "    // Relationships"
    edges.foreach(sb += _)

    if (frameColors.nonEmpty) {
      sb += ""
      sb += "    // Frame Legend"
      sb += "    subgraph cluster_legend {"
      sb += "        label=\"Semantic Frames\";"
      sb += "        style=filled;"
      sb += "        fillcolor=white;"
      sb += "        color=black;"
      sb += "        rank=sink;"
      frameColors.foreach { case (f, c) =>
        sb += "        \"" + f + "_legend\" [label=\"" + f + "\", fillcolor=\"" +
          c + "\", style=filled, shape=box, fontsize=8];"
      }
      sb += "    }"
    }
    sb += "}"
    sb.result().mkString("\n")
  }

  /** One (docId, dot) row per document from J3-enriched triples (the
    * reference builds the DOT from the same enriched list as the CSV,
    * batch_pipeline.py:446). Doc-local: one shuffle on docId, per-task
    * working set is a single document's triples. Input rows are sorted
    * per doc so the text (edge order, frame-color assignment) is
    * deterministic under distributed execution.
    */
  def dotGraphs(enriched: DataFrame): DataFrame = {
    val spark = enriched.sparkSession
    import spark.implicits._
    enriched
      .select("docId", "subject", "predicate", "object", "confidence", "extractable")
      .as[(String, String, String, String, Double, Boolean)]
      .groupByKey(_._1)
      .mapGroups { (doc, it) =>
        val ts = it.map { case (_, s, p, o, c, e) => DotTriple(s, p, o, c, e) }
          .toVector
          .sortBy(t => (t.subject, t.predicate, t.obj, t.confidence))
        (doc, dotGraphText(doc, ts))
      }
      .toDF("docId", "dot")
  }
}
