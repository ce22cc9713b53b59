package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.Row

import graft.model.{PageRow, Triple}
import graft.pipeline.Pipeline

/** Structured Streaming ingestion of the pages table (SURVEY.md §2.10).
  *
  * The per-document transform is stateless per row, so the batch pipeline
  * streams unchanged: file source → same mapPartitions → sink. Cross-batch
  * triple dedup uses `dropDuplicatesWithinWatermark` keyed on the triple
  * identity with the page's `warc_ts` watermark, bounding state (the batch
  * path dedups per document only — within a doc the emitter already
  * dedups, so streaming adds at-most-once across late re-crawls of a url
  * within the watermark).
  */
object StreamingPipeline {

  val pageSchema: StructType = Encoders.product[PageRow].schema

  /** Streaming pages source from a parquet directory. */
  def readPages(spark: SparkSession, dir: String, globFilter: String = "*.parquet"): Dataset[PageRow] = {
    import spark.implicits._
    spark.readStream
      .schema(pageSchema)
      .option("pathGlobFilter", globFilter)
      .parquet(dir)
      .as[PageRow]
  }

  /** Streaming triples with event-time + cross-batch dedup within the
    * watermark. Output columns: warc_ts + the Triple fields.
    */
  def triples(
      pages: Dataset[PageRow],
      cfg: Pipeline.Config = Pipeline.Config(),
      watermark: String = "1 hour"): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .mapPartitions { it =>
        val c = cfg.copy(dict = cfg.dictionary)
        it.flatMap(p => Pipeline.convertPage(p, c).map(t => (p.warc_ts, t)))
      }
      .select(org.apache.spark.sql.functions.col("_1").as("warc_ts"),
        org.apache.spark.sql.functions.col("_2.*"))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("docId", "subj", "frame", "pred", "obj")
  }

  /** Stateful recrawl handling: across micro-batches, emit a page only
    * when its `warc_ts` is strictly newer than the newest version of the
    * same url seen so far (keyed state = newest timestamp per url).
    * Downstream the page's triples replace the previous crawl's via the
    * idempotent per-unit overwrite in TripleStore. Event-time timeout
    * bounds state: urls idle past the watermark are evicted.
    */
  def latestVersionPerUrl(
      pages: Dataset[PageRow],
      watermark: String = "1 hour"): Dataset[PageRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .withWatermark("warc_ts", watermark)
      .groupByKey(_.url)
      .flatMapGroupsWithState[Long, PageRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[PageRow], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val newest = state.getOption.getOrElse(Long.MinValue)
            val fresh = rows.filter(_.warc_ts.getTime > newest).toVector
            if (fresh.isEmpty) Iterator.empty
            else {
              val winner = fresh.maxBy(_.warc_ts.getTime)
              state.update(winner.warc_ts.getTime)
              // a backfilled page can sit far below the watermark; a
              // timeout under the watermark aborts the query
              state.setTimeoutTimestamp(
                math.max(winner.warc_ts.getTime, state.getCurrentWatermarkMs()), watermark)
              Iterator.single(winner)
            }
          }
      }
  }

  /** Continuous KG maintenance: watch a pages directory, keep only the
    * newest crawl per url (stateful, checkpointed across restarts), and
    * MERGE each micro-batch's triples into the bucketed triple store —
    * recrawled documents replace their previous triples in place
    * (TripleStore.upsertDocs copy-on-write on the affected unit
    * partitions), new documents append. AvailableNow trigger: each call
    * drains what is new since the last checkpoint and terminates, the
    * incremental-backfill pattern. A continuous deployment must swap the
    * trigger AND drop the `StreamRun.withoutNoDataBatches` wrapper: without
    * no-data batches, event-time timeouts never fire while idle, so per-url
    * state is not evicted until the next data batch.
    */
  def streamToStore(
      spark: SparkSession,
      dir: String,
      storeDir: String,
      units: Int = 16,
      name: String = "graft_stream_to_store",
      watermark: String = "1 hour"): Unit = {
    spark.streams.active.filter(_.name == name).foreach(_.stop())
    val writer = latestVersionPerUrl(readPages(spark, dir), watermark)
      .writeStream
      .queryName(name)
      .option("checkpointLocation", s"$storeDir/_checkpoint")
      .foreachBatch { (batch: Dataset[PageRow], _: Long) =>
        graft.io.TripleStore.upsertDocs(Pipeline.triples(batch), storeDir, units)
        ()
      }
      .trigger(Trigger.AvailableNow())
    // timeout branch emits nothing -> the no-data finalization batch is a
    // pure state-store pass; skip it for this drain (see StreamRun)
    StreamRun.withoutNoDataBatches(spark) {
      writer.start().awaitTermination()
    }
  }

  /** Run the stream synchronously over whatever is in `dir` (test/backfill
    * helper): memory sink, processAllAvailable, return the result table.
    */
  def runOnce(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.streams.active.filter(_.name == name).foreach(_.stop())
    val writer = triples(readPages(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
    // dropDuplicatesWithinWatermark emits on arrival: the no-data batch
    // is a pure state-eviction pass here too (see StreamRun)
    StreamRun.withoutNoDataBatches(spark) {
      writer.start().awaitTermination()
    }
    spark.table(name)
  }
}
