package layerbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One call into a layer: name, interval, the span that caused it, and
  * the run it belongs to. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, var endNs: Long)

/** Spans around the benchmark's calls into the program's layers.
  *
  * Off (the untimed end-to-end run) it only runs the body. On, each span
  * also becomes the calling thread's Spark job group, so the
  * [[ExecListener]] can charge every job the body starts to the
  * innermost open span. Spans stay in memory until the run ends.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  @volatile var enabled = false
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L

  def spans: Seq[Span] = done.toSeq

  /** Forgets the finished spans. */
  def reset(): Unit = done.clear()

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val sp = Span(nextId, parent, name, System.nanoTime(), 0L)
      nextId += 1
      stack = sp :: stack
      sc.setJobGroup(s"$runId:${sp.id}", name, interruptOnCancel = false)
      try body
      finally {
        sp.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"$runId:${p.id}", p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
        done += sp
      }
    }
}
