package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Dataset

import graft.extract.{HtmlText, Segmenter}
import graft.frames.FrameDetect
import graft.link.{AliasDict, EntityLink}
import graft.model.{PageRow, Triple}
import graft.rdf.TripleEmitter

/** The KG-construction DAG: pages → text → sentences → frames → entities →
  * triples.
  *
  * Every stage is url-local (SURVEY.md §3.1), so the whole transform is ONE
  * `mapPartitions` — shuffle-free map-side execution. The reference runs the
  * same stages as per-author subprocesses with files between them
  * (batch_pipeline.py:73-202); here the stage boundaries disappear and task
  * parallelism over input partitions replaces its 4-process pool. At
  * cluster scale this is embarrassingly parallel: no groupBy, no join — the
  * alias dictionary and frame lexicon ship on the classpath (equivalent to
  * broadcast; loaded once per executor JVM). The only shuffles in the full
  * job are the ones we *choose* downstream: partitioning at write time
  * (TripleStore) and canonicalization/stats aggregations.
  */
object Pipeline {

  final case class Config(
      relThreshold: Double = EntityLink.BatchThreshold,
      dict: AliasDict = null, // null → AliasDict.default (classpath singleton)
      disambiguate: Boolean = true) {
    def dictionary: AliasDict = if (dict == null) AliasDict.default else dict
    def disambiguator: graft.link.Disambiguator =
      if (disambiguate) graft.link.Disambiguator.default else null
  }

  /** Per-page pure conversion — the unit of work. */
  def convertPage(p: PageRow, cfg: Config): Vector[Triple] = {
    val text =
      if (p.text != null && p.text.nonEmpty) p.text
      else HtmlText.extract(new String(p.html, StandardCharsets.UTF_8))
    val sentences = Segmenter.sentences(text)
    val frames = FrameDetect.detectDoc(sentences)
    val entities = EntityLink.link(p.url, text, cfg.dictionary, cfg.relThreshold,
      disambiguator = cfg.disambiguator)
    TripleEmitter.convert(p.url, frames.toVector, entities)
  }

  def triples(pages: Dataset[PageRow], cfg: Config = Config()): Dataset[Triple] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      val dict = cfg.dictionary // resolve once per partition
      val c = cfg.copy(dict = dict)
      it.flatMap(p => convertPage(p, c))
    }
  }
}
