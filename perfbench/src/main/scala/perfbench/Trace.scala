package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** One traced interval. `parent` is the id of the span that caused it
  * (-1 for the run's root); `count` is how many calls an aggregated span
  * stands for (per-doc stage spans are summed per partition).
  */
final case class Span(
    id: Int,
    parent: Int,
    name: String,
    startNs: Long,
    endNs: Long,
    count: Long = 1L,
    attrs: Map[String, String] = Map.empty) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the benchmark's own calls into the program.
  * Disabled tracers record nothing and cost one branch per call; spans are
  * written once, when the run ends.
  */
final class Tracer(val runId: String) {
  @volatile var enabled: Boolean = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil

  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = current
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized { spans += Span(id, parent, name, t0, t1, 1L, attrs) }
      }
    }

  /** Add a span measured elsewhere (per-partition aggregates, streaming
    * progress durations), as a child of `parent`.
    */
  def add(parent: Int, name: String, startNs: Long, endNs: Long, count: Long,
      attrs: Map[String, String] = Map.empty): Int =
    if (!enabled) -1
    else synchronized {
      nextId += 1
      spans += Span(nextId, parent, name, startNs, endNs, count, attrs)
      nextId
    }

  def all: Vector[Span] = synchronized(spans.toVector)

  /** Self time per span name: a span's duration minus the part of its
    * interval covered by its children (children may overlap when they are
    * per-partition aggregates, so their covered time is capped at the
    * parent's duration).
    */
  def selfMsByName: Map[String, Double] = {
    val s = all
    val childNs = s.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    s.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(x => math.max(0L, x.durNs - math.min(x.durNs, childNs.getOrElse(x.id, 0L)))).sum / 1e6
    }
  }

  def write(path: Path, extra: Map[String, String]): Unit = {
    val sb = new StringBuilder
    sb.append("{\"run_id\":").append(Json.str(runId))
    extra.toVector.sortBy(_._1).foreach { case (k, v) => sb.append(',').append(Json.str(k)).append(':').append(v) }
    sb.append(",\"self_ms\":{")
    sb.append(selfMsByName.toVector.sortBy(_._1).map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString(","))
    sb.append("},\"spans\":[\n")
    sb.append(all.sortBy(_.id).map { x =>
      val a = x.attrs.toVector.sortBy(_._1).map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")
      s"""{"run_id":${Json.str(runId)},"id":${x.id},"parent":${x.parent},"name":${Json.str(x.name)},""" +
        s""""start_ns":${x.startNs},"end_ns":${x.endNs},"count":${x.count},"attrs":$a}"""
    }.mkString(",\n"))
    sb.append("\n]}\n")
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
