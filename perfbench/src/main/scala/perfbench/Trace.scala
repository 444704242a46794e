package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run.
  *
  * A span is opened around each call that crosses a layer boundary
  * (store → backend session → KV client). Open spans live on a per-thread
  * stack, so a span's parent is whatever span the same thread has open.
  * When a span closes, its duration is added to its parent's child time and
  * the span is folded into an aggregate keyed by (batch id, partition, span
  * name, parent span name): count, total time and self time. Self time is
  * the span's duration minus the part covered by its child spans. Children
  * of one span run on the same thread one after another, so the covered
  * part is the sum of their durations. [[SelfTime.reference]] computes the
  * same quantity from raw intervals and is what the self-tests check the
  * recorder against.
  *
  * Aggregates stay in memory until [[snapshot]] is called at the end of a
  * run; nothing is written while the workload runs.
  */
object Trace {
  @volatile var enabled: Boolean = false
  /** Monotonic clock in nanoseconds; tests substitute a fake. */
  @volatile var clock: () => Long = () => System.nanoTime()

  final case class Key(batch: Long, partition: Int, name: String, parent: String)
  final class Agg(var count: Long = 0L, var totalNs: Long = 0L, var selfNs: Long = 0L)

  private final class Frame(val name: String, val batch: Long, val partition: Int, val start: Long) {
    var childNs = 0L
  }
  private final class PerThread {
    val stack = new java.util.ArrayDeque[Frame]()
    val aggs = new java.util.HashMap[Key, Agg]()
  }
  private val threads = new ConcurrentLinkedQueue[PerThread]()
  private val local = ThreadLocal.withInitial[PerThread](() => {
    val p = new PerThread
    threads.add(p)
    p
  })

  /** Run `body` inside a span. `batch`/`partition` of -1 inherit from the
    * enclosing span. `count` is how many operations the span stands for
    * (0 for the continuation of an operation already counted, such as the
    * consumption of an iterator returned earlier). */
  def span[T](name: String, batch: Long = -1L, partition: Int = -1, count: Long = 1L)(body: => T): T = {
    if (!enabled) return body
    val pt = local.get()
    val parent = pt.stack.peek()
    val b = if (batch >= 0 || parent == null) batch else parent.batch
    val p = if (partition >= 0 || parent == null) partition else parent.partition
    val f = new Frame(name, b, p, clock())
    pt.stack.push(f)
    try body
    finally {
      val dur = clock() - f.start
      pt.stack.pop()
      if (parent != null) parent.childNs += dur
      val k = Key(b, p, name, if (parent == null) "" else parent.name)
      var a = pt.aggs.get(k)
      if (a == null) { a = new Agg(); pt.aggs.put(k, a) }
      a.count += count
      a.totalNs += dur
      a.selfNs += dur - f.childNs
    }
  }

  /** Add `n` units (rows, bytes) to a counter recorded like a span with no time. */
  def add(name: String, n: Long): Unit = if (enabled) {
    val pt = local.get()
    val parent = pt.stack.peek()
    val k = Key(if (parent == null) -1L else parent.batch,
      if (parent == null) -1 else parent.partition, name, if (parent == null) "" else parent.name)
    var a = pt.aggs.get(k)
    if (a == null) { a = new Agg(); pt.aggs.put(k, a) }
    a.count += n
  }

  /** Merge every thread's aggregates. Call only once the traced work has
    * stopped (threads are not synchronised with this read). */
  def snapshot(): Map[Key, Agg] = {
    val out = scala.collection.mutable.HashMap.empty[Key, Agg]
    threads.asScala.foreach { pt =>
      pt.aggs.asScala.foreach { case (k, a) =>
        val m = out.getOrElseUpdate(k, new Agg())
        m.count += a.count; m.totalNs += a.totalNs; m.selfNs += a.selfNs
      }
    }
    out.toMap
  }

  def reset(): Unit = threads.asScala.foreach { pt => pt.aggs.clear(); pt.stack.clear() }

  /** Aggregates written out one per line (tab-separated), for the trace file. */
  def dump(aggs: Map[Key, Agg]): String =
    aggs.toSeq.sortBy { case (k, _) => (k.batch, k.partition, k.name, k.parent) }
      .map { case (k, a) =>
        s"${k.batch}\t${k.partition}\t${k.name}\t${k.parent}\t${a.count}\t${a.totalNs}\t${a.selfNs}"
      }
      .mkString("batch\tpartition\tname\tparent\tcount\ttotal_ns\tself_ns\n", "\n", "\n")
}

/** Self time from raw spans: a span's duration minus the length of the
  * union of its children's intervals clipped to the span. */
object SelfTime {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

  def reference(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}
