package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for one run. Spans are opened and closed on the
  * driver thread, nest by call order, and all carry the run's id; they are
  * written out with the rest of the raw result when the run ends. */
final class Trace(val runId: String) {
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def current: Int = stack.headOption.getOrElse(0)

  def span[T](name: String, attrs: (String, Any)*)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = current
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += (Map[String, Any]("trace" -> runId, "id" -> id, "parent" -> parent,
        "name" -> name, "start_ns" -> t0, "end_ns" -> t1) ++ attrs)
    }
  }

  def toSeq: Seq[Map[String, Any]] = spans.toSeq
}
