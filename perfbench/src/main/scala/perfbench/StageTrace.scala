package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Dataset
import org.apache.spark.util.CollectionAccumulator

import graft.extract.{HtmlText, Segmenter}
import graft.frames.FrameDetect
import graft.link.EntityLink
import graft.model.{PageRow, Triple}
import graft.pipeline.Pipeline
import graft.rdf.TripleEmitter

/** Per-partition totals of the five per-document stages. */
final case class PartStages(
    startNs: Long,
    endNs: Long,
    docs: Long,
    htmlDocs: Long,
    htmlNs: Long,
    segmentNs: Long,
    framesNs: Long,
    linkNs: Long,
    emitNs: Long,
    sentences: Long,
    frames: Long,
    mentions: Long,
    triples: Long,
    docsWithTriples: Long)

/** The per-document conversion of `Pipeline.convertPage`, with each stage
  * call timed: html→text, sentence segmentation, frame detection, entity
  * linking, triple emission, in that order. The traced pass checks its
  * triples against the untraced `Pipeline.triples`, so a change to
  * `convertPage`'s composition fails the run instead of being timed with a
  * stale decomposition.
  */
object StageTrace {

  def triples(pages: Dataset[PageRow], acc: CollectionAccumulator[PartStages],
      cfg: Pipeline.Config = Pipeline.Config()): Dataset[Triple] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      val c = cfg.copy(dict = cfg.dictionary)
      val start = System.nanoTime()
      var docs, htmlDocs, htmlNs, segNs, frNs, linkNs, emitNs = 0L
      var nSent, nFrames, nMentions, nTriples, withTriples = 0L
      val out = Vector.newBuilder[Triple]
      it.foreach { p =>
        val t0 = System.nanoTime()
        val fromHtml = !(p.text != null && p.text.nonEmpty)
        val text =
          if (!fromHtml) p.text
          else HtmlText.extract(new String(p.html, StandardCharsets.UTF_8))
        val t1 = System.nanoTime()
        val sentences = Segmenter.sentences(text)
        val t2 = System.nanoTime()
        val frames = FrameDetect.detectDoc(sentences)
        val t3 = System.nanoTime()
        val entities = EntityLink.link(p.url, text, c.dictionary, c.relThreshold,
          disambiguator = c.disambiguator)
        val t4 = System.nanoTime()
        val ts = TripleEmitter.convert(p.url, frames.toVector, entities)
        val t5 = System.nanoTime()
        docs += 1
        if (fromHtml) { htmlDocs += 1; htmlNs += t1 - t0 }
        segNs += t2 - t1; frNs += t3 - t2; linkNs += t4 - t3; emitNs += t5 - t4
        nSent += sentences.size
        nFrames += frames.iterator.map(_.frames.size).sum
        nMentions += entities.size
        nTriples += ts.size
        if (ts.nonEmpty) withTriples += 1
        out ++= ts
      }
      acc.add(PartStages(start, System.nanoTime(), docs, htmlDocs, htmlNs, segNs, frNs,
        linkNs, emitNs, nSent, nFrames, nMentions, nTriples, withTriples))
      out.result().iterator
    }
  }

  /** Record the partitions as spans under `parent`: one
    * `pipeline.convertPage` span per partition whose children are the five
    * stage totals (aggregated spans carry their call counts).
    */
  def record(tracer: Tracer, parent: Int, parts: Seq[PartStages]): Unit =
    parts.foreach { p =>
      val convertId = tracer.add(parent, "pipeline.convertPage", p.startNs, p.endNs, p.docs)
      var t = p.startNs
      Seq("extract.HtmlText.extract" -> (p.htmlNs, p.htmlDocs),
        "extract.Segmenter.sentences" -> (p.segmentNs, p.docs),
        "frames.FrameDetect.detectDoc" -> (p.framesNs, p.docs),
        "link.EntityLink.link" -> (p.linkNs, p.docs),
        "rdf.TripleEmitter.convert" -> (p.emitNs, p.docs)).foreach { case (n, (ns, calls)) =>
        tracer.add(convertId, n, t, t + ns, calls)
        t += ns
      }
    }
}
