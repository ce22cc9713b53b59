package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.io.Source

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.HtmlText
import graft.io.TripleStore
import graft.link.AliasDict
import graft.pipeline.{Pipeline, SynthCorpus}

/** End-to-end over the synthetic Common-Crawl-style corpus (FIXTURES.md §4):
  * byte-identical HTML extraction, full DAG to triples, bucketed store, and
  * exact resume from per-unit lineage.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("html -> text extraction is byte-identical on synthetic pages") {
    (0L until 200L).foreach { i =>
      val r = SynthCorpus.row(42L, i, skewFraction = 0.1)
      val extracted = HtmlText.extract(new String(r.html, StandardCharsets.UTF_8))
      assert(extracted == r.text, s"doc $i extraction mismatch:\n$extracted\nvs\n${r.text}")
    }
  }

  test("driver entry point returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("full DAG: every synthetic doc yields triples with linked subjects") {
    import spark.implicits._
    val pages = SynthCorpus.pages(spark, 48, seed = 42L)
    val triples = Pipeline.triples(pages).collect()
    val byDoc = triples.groupBy(_.docId)
    assert(byDoc.size == 48, s"docs with triples: ${byDoc.size}")
    // each doc: a born-year triple on a wikipedia URI subject
    byDoc.foreach { case (doc, ts) =>
      assert(ts.exists(t => t.pred == "has_time" && t.frame == "Being_born"),
        s"$doc missing Being_born:has_time, has: ${ts.map(_.predShort).distinct.mkString(",")}")
      assert(ts.exists(_.subjIsUri), s"$doc has no URI subject")
    }
    // protagonist linking: known alias resolves to its dictionary URI
    val doc0Text = SynthCorpus.text(42L, 0L, 0.0)
    val name = doc0Text.split(" was born").head
    val expectedUri = AliasDict.default.lookup(name.toLowerCase).get.uri
    val doc0 = triples.filter(_.docId == "https://example.org/wiki/doc_00000000")
    assert(doc0.exists(_.subj == expectedUri),
      s"doc0 subjects ${doc0.map(_.subj).distinct.mkString(",")} lack $expectedUri")
  }

  test("bucketed store round-trips and buckets by subject hash") {
    import spark.implicits._
    val dir = Files.createTempDirectory("triples_store").toString
    val pages = SynthCorpus.pages(spark, 24, seed = 7L)
    val triples = Pipeline.triples(pages)
    TripleStore.write(triples, dir, buckets = 8)
    val back = TripleStore.read(spark, dir)
    assert(back.count() == triples.count())
    // same subj → same bucket
    val conflicting = back.groupBy("subj").agg(
      org.apache.spark.sql.functions.countDistinct("bucket").as("nb"))
      .filter($"nb" > 1).count()
    assert(conflicting == 0)
  }

  /** Build into `dir`, lose one unit (its data partition and lineage
    * line), resume, and compare. The lineage edit goes through the store's
    * Hadoop filesystem, as the store's own IO does: Hadoop's local
    * filesystem keeps `.crc` side files that a java.nio edit leaves stale.
    */
  private def resumesAfterLosingAUnit(dir: String): Unit = {
    import spark.implicits._
    val pages = SynthCorpus.pages(spark, 40, seed = 11L)

    val first = TripleStore.runCheckpointed(pages, dir, units = 8)
    assert(first.nonEmpty)
    val full = spark.read.parquet(s"$dir/data")
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet

    // simulate a lost unit: drop its data partition and lineage line
    val victim = first.head.unit
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$dir/data/unit=$victim"), true))
    fs.listStatus(new Path(s"$dir/lineage")).map(_.getPath)
      .filter(_.getName.endsWith(".tsv"))
      .foreach { f =>
        val in = fs.open(f)
        val kept =
          try Source.fromInputStream(in, "UTF-8").getLines()
            .filterNot(_.startsWith(s"$victim\t")).toVector
          finally in.close()
        val out = fs.create(f, true)
        try out.write(kept.mkString("\n").getBytes(StandardCharsets.UTF_8))
        finally out.close()
      }

    val second = TripleStore.runCheckpointed(pages, dir, units = 8)
    assert(second.map(_.unit) == Vector(victim), s"resumed units: $second")
    val resumed = spark.read.parquet(s"$dir/data")
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet
    assert(resumed == full, "resumed triple set differs from original")

    // third run: nothing pending
    assert(TripleStore.runCheckpointed(pages, dir, units = 8).isEmpty)
  }

  test("checkpointed run resumes exactly after losing a unit") {
    resumesAfterLosingAUnit(Files.createTempDirectory("triples_ckpt").toString)
  }

  // a URI-form store path must keep data and lineage together under it
  test("checkpointed run resumes exactly after losing a unit (file:// store)") {
    resumesAfterLosingAUnit("file://" + Files.createTempDirectory("triples_ckpt_uri"))
  }
}
