package graft.perfbench

import scala.collection.mutable.ArrayBuffer

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** One timed region of the traced run. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Spans nest by the calling
  * thread's stack; nothing is written until `write` at the end of the run.
  * When disabled, `span` only runs its block.
  */
final class Trace(val enabled: Boolean) {
  private val spans = ArrayBuffer[Span]()
  /** Open spans, innermost first: (id, op). */
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  private val t0 = System.nanoTime()

  /** Runs `f` inside a span; `op` defaults to the enclosing span's op. */
  def span[T](name: String, op: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val opId = if (op.nonEmpty) op else stack.headOption.map(_._2).getOrElse("")
      stack = (id, opId) :: stack
      val start = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, opId, start - t0, System.nanoTime() - t0)
      }
    }

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  /** Total and self seconds per span name; self time is the span's time
    * minus the time of its direct children.
    */
  def selfTimes: Map[String, (Double, Double)] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.secs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(_.secs).sum, ss.map(s => s.secs - childTime.getOrElse(s.id, 0.0)).sum)
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s => Json.render(Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** JSON rendering of the result and span files. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
