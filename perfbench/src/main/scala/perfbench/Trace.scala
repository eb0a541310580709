package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

/** One timed interval. `op` ties every span of one operation (a query
  * or an HTTP request) together; `parent` is -1 for the op's root span.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store. With `on = false` every call just runs its
  * body, so the untraced path pays one branch per boundary.
  *
  * The benchmark drives one op at a time (closed loop, one caller), so
  * a span opened on another thread — the HTTP server's handler pool —
  * hangs under the op's root span when its own thread has no open span.
  */
final class Trace(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile private var curOp = -1
  @volatile private var curRoot = -1

  /** Epoch-ms of a `System.nanoTime` reading, to line spans up with
    * Spark listener timestamps (which are wall-clock ms).
    */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs(ns: Long): Double = (ns + epochOffsetNs) / 1e6

  /** The root span of op `opId`. Ops numbered 0 or below (warm-up) and
    * everything under them are not recorded.
    */
  def op[A](name: String, opId: Int)(body: => A): A =
    if (!on || opId <= 0) body
    else {
      val id = ids.incrementAndGet()
      curOp = opId; curRoot = id
      record(id, -1, opId, name)(body)
    }

  def apply[A](name: String)(body: => A): A =
    if (!on || curOp <= 0) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(curRoot)
      record(id, parent, curOp, name)(body)
    }

  private def record[A](id: Int, parent: Int, opId: Int, name: String)(body: => A): A = {
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      spans.synchronized { spans += Span(id, parent, opId, name, t0, t1) }
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Span duration minus the part of it that its children cover. */
  def selfNs: Map[Int, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** One JSON object per line: name, start/end (ns), parent, op, self. */
  def write(path: String): Unit = {
    val self = selfNs
    val lines = all.sortBy(_.startNs).map { s =>
      Js.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> Js.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_ns" -> self(s.id).toString))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
