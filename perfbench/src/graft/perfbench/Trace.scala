package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** Spans recorded by the benchmark around its calls into each layer's
  * public functions: name, start, end, parent span and op id. Kept in
  * memory and written out when the run ends. Disabled (one volatile
  * read per call) unless the run is traced. */
object Trace {
  final case class Span(id: Int, parent: Int, op: Long, name: String,
                        start: Long, end: Long) {
    def nanos: Long = end - start
  }

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[Integer]](
    () => new java.util.ArrayDeque[Integer]())
  private val currentOp = ThreadLocal.withInitial[java.lang.Long](() => -1L)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val st = stack.get
      val parent = if (st.isEmpty) 0 else st.peek.intValue
      st.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        st.pop()
        spans.add(Span(id, parent, currentOp.get, name, t0, t1))
      }
    }

  /** A root span (an op's timed region, or a replayed op); every span
    * opened inside carries `opId`. */
  def op[T](opId: Long, root: String = "op")(body: => T): T = {
    currentOp.set(opId)
    try span(root)(body) finally currentOp.set(-1L)
  }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  /** Per span name: (calls, total ns, self ns), where self time is the
    * span's duration minus its direct children's (children run on the
    * parent's thread, one after another, so they never overlap). */
  def summary: Map[String, (Int, Long, Long)] = {
    val s = all
    val childNanos = s.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.nanos).sum }
    s.groupBy(_.name).map { case (n, group) =>
      n -> ((group.size, group.map(_.nanos).sum,
        group.map(sp => sp.nanos - childNanos.getOrElse(sp.id, 0L)).sum))
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { sp =>
      w.write(org.json4s.jackson.Serialization.write(sp)(org.json4s.DefaultFormats))
      w.newLine()
    } finally w.close()
  }
}
