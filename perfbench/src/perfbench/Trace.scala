package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval of the benchmark's own code. `parent` is the id of the
  * enclosing span (-1 for a root); spans of one query share `query`. */
final case class Span(id: Int, name: String, parent: Int, query: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. While not recording it runs the body and records
  * nothing, so untraced phases pay one branch per boundary. Spans nest by
  * call structure on the single driver thread; they are written out once,
  * when the run ends. */
final class Tracer {
  var recording = false
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var query = ""

  def spans: Seq[Span] = done.toSeq

  /** Time `body` as span `name`, attributed to query `q`. */
  def span[T](name: String, q: String = query)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val outerQuery = query
      query = q
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        query = outerQuery
        done += Span(id, name, parent, q, t0, System.nanoTime())
      }
    }

  /** Rename the most recently closed span called `from` (a registry call is
    * only known to have built or served after its construct span closed). */
  def relabelLast(from: String, to: String): Unit = {
    val i = done.lastIndexWhere(_.name == from)
    if (i >= 0) done(i) = done(i).copy(name = to)
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "query" -> s.query, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Self time per span name: each span's duration minus the part of its
    * interval that its direct children cover. Children of one parent run one
    * after another on the driver thread, so their durations do not overlap. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val childSum = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.groupMapReduce(_.name)(s => s.seconds - childSum.getOrElse(s.id, 0.0))(_ + _)
  }
}
