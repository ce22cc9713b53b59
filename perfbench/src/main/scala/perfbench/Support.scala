package perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.model.Triple

/** Order-independent digest of a table: row count, and the sum and xor of
  * a 64-bit hash of every row.
  */
final case class Digest(rows: Long, sum: String, xor: Long) {
  def token: String = s"$rows:$sum:${java.lang.Long.toHexString(xor)}"
}

object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): Digest = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(struct(c)) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    Digest(r.getLong(0),
      if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString,
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  val tripleCols: Seq[String] =
    Seq("docId", "subj", "subjIsUri", "frame", "role", "pred", "obj", "objIsUri")

  def triples(ds: Dataset[_]): Digest = of(ds.toDF().select(tripleCols.map(col): _*))
}

/** Job, stage and task counters for the Spark work of one operation. */
final class SparkStats extends SparkListener {
  private var jobs = 0
  private var stages = 0
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private var recordsWritten = 0L
  private var cpuNs = 0L
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled + m.memoryBytesSpilled
      recordsWritten += m.outputMetrics.recordsWritten
      cpuNs += m.executorCpuTime
    }
  }

  /** Counters since the last call, then reset. Waits for the listener bus
    * so every event of the finished work is counted.
    */
  def take(spark: SparkSession): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      // skew: max over median task time, worst stage with one task per core
      val skews = taskMs.values.filter(_.size >= 4).map { d =>
        val s = d.sorted
        val med = s(s.size / 2).toDouble
        s.last / math.max(med, 1.0)
      }
      val out = Map(
        "jobs" -> jobs.toDouble,
        "stages" -> stages.toDouble,
        "shuffle_write_mb" -> shuffleWrite / 1048576.0,
        "shuffle_read_mb" -> shuffleRead / 1048576.0,
        "spill_mb" -> spill / 1048576.0,
        "records_written" -> recordsWritten.toDouble,
        "cpu_ms" -> cpuNs / 1e6,
        "task_skew" -> (if (skews.isEmpty) 1.0 else skews.max))
      jobs = 0; stages = 0; shuffleWrite = 0; shuffleRead = 0
      spill = 0; recordsWritten = 0; cpuNs = 0; taskMs.clear()
      out
    }
  }
}

/** Micro-batch progress of the streaming drains. */
final class StreamStats extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e }

  /** Per-batch duration breakdowns since the last call, then reset. */
  def take(spark: SparkSession): Vector[Map[String, Double]] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val out = progress.toVector.map { e =>
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        val states = p.stateOperators.toSeq
        d.toMap ++ Map(
          "trigger_start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "input_rows" -> p.numInputRows.toDouble,
          "state_rows" -> states.map(_.numRowsTotal).sum.toDouble,
          "state_commit_ms" -> states.map(_.commitTimeMs).sum.toDouble)
      }
      progress.clear()
      out
    }
  }
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).iterator.asScala.foreach(Files.delete)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally s.close()
  }

  /** Bytes of the data files under `p` (Hadoop checksum side files and
    * commit markers excluded).
    */
  def dataBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator.asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }.map(Files.size).sum
    finally s.close()
  }

  /** Digest of every data file's bytes under `p`, in content order: the
    * same staged inputs give the same digest whatever the file names.
    */
  def contentDigest(p: Path): String = {
    val s = Files.walk(p)
    val hashes = try s.iterator.asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }.map(f => sha256(Files.readAllBytes(f))).toVector.sorted
    finally s.close()
    sha256(hashes.mkString("\n").getBytes("UTF-8"))
  }

  /** Delete one committed data file under `p`: the damage a lost file
    * does, for the benchmark's self-test of its output checks.
    */
  def dropOneDataFile(p: Path): Unit = {
    val s = Files.walk(p)
    val victim = try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toVector.min
    finally s.close()
    Files.delete(victim)
    Files.deleteIfExists(victim.resolveSibling("." + victim.getFileName + ".crc"))
  }

  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
