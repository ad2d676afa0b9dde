package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

/** One traced interval. `parent` is 0 for an op span; `op` is the id of
  * the op that was in flight when the span started. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the traced run. Spans nest along the
  * calling thread; a span opened on a thread with no open span (a Spark
  * task thread, say) is parented to the op in flight, which is sound
  * because the client keeps exactly one op in flight. Spans are kept in
  * memory and read once, at the end of the run. */
object Tracer {
  @volatile var enabled = false
  @volatile private var opSpan = 0
  @volatile private var opId = 0
  private val ids = new AtomicInteger
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def reset(): Unit = spans.synchronized { spans.clear() }
  def all: Seq[Span] = spans.synchronized(spans.toSeq)

  private def record(s: Span): Unit = spans.synchronized { spans += s }

  /** Time `body` as a span named `name` (a no-op when tracing is off). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val st = stack.get
      val parent = st.headOption.getOrElse(opSpan)
      val id = ids.incrementAndGet()
      stack.set(id :: st)
      val op = opId
      val t0 = System.nanoTime()
      try body
      finally {
        record(Span(id, parent, op, name, t0, System.nanoTime()))
        stack.set(st)
      }
    }

  /** Run one op as the root span `op.<kind>`; `n` numbers the op. */
  def op[T](kind: String, n: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      opId = n
      opSpan = id
      stack.set(id :: Nil)
      val t0 = System.nanoTime()
      try body
      finally {
        record(Span(id, 0, n, s"op.$kind", t0, System.nanoTime()))
        stack.set(Nil)
        opSpan = 0
        opId = 0
      }
    }

  /** Self time of every span: its length minus the union of its
    * children's intervals (children on parallel threads overlap, so the
    * union, not the sum, is what the parent waited for). */
  def selfNanos(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.filter(_.parent != 0).groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
      s.id -> math.max(0L, s.ns - covered)
    }.toMap
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
