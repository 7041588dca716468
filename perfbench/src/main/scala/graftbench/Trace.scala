package graftbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans recorded by the benchmark around its calls into the
  * program: name, start, end and parent. Written out as JSON at the end. */
final class Tracer {
  import Tracer.Span

  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val durS = (System.nanoTime() - t0) / 1e9
      stack = stack.tail
      done += Span(id, name, parent, startMs, System.currentTimeMillis(), durS)
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  def get(name: String): Span = done.find(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"no span $name"))

  /** Duration minus the time covered by its child spans (children of one
    * parent run one after another, so their durations add up). */
  def selfS(s: Span): Double =
    s.durS - done.filter(_.parent == s.id).map(_.durS).sum

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${s.durS},""" +
      s""""self_s":${selfS(s)}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startMs: Long,
      endMs: Long, durS: Double)
}

object Json {
  def str(s: String): String = graft.util.Json.quote(s)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalArgumentException(s"not a number: $d")
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
