package perfbench

import scala.collection.mutable.ArrayBuffer

/** One span: name, start, end, parent span id (-1 for none) and request
  * id (-1 for none).
  */
final case class Span(id: Int, name: String, parent: Int, request: Int,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory spans. A span is opened around a call into one layer of the
  * program; nested calls on the same thread become its children. Spans
  * are kept until the run ends and written with the run's artifact.
  */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String, request: Int = -1)(body: => T): T = {
    val s = synchronized {
      val sp = Span(spans.length, name, open.get.headOption.getOrElse(-1), request, System.nanoTime())
      spans += sp
      sp
    }
    open.set(s.id :: open.get)
    try body
    finally {
      s.endNs = System.nanoTime()
      open.set(open.get.tail)
    }
  }

  /** Duration minus the part covered by direct children, in seconds. */
  def selfTimes: Seq[(Span, Double)] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map(s => s -> (s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum))
  }

  /** Summed self seconds per span name. */
  def selfByName: Map[String, Double] =
    selfTimes.groupMapReduce(_._1.name)(_._2)(_ + _)

  /** Summed total seconds per span name. */
  def totalByName: Map[String, Double] = synchronized {
    spans.toSeq.groupMapReduce(_.name)(_.seconds)(_ + _)
  }

  def records: Seq[Map[String, Any]] = selfTimes.map { case (s, self) =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9, "self_s" -> self)
  }
}
