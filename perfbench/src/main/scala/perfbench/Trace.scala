package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Every span of one operation (a
  * ticket, a catalog query or a micro-batch) carries that operation's id;
  * `parent` is the id of the span that caused it (0 for an operation root).
  * Times are epoch microseconds so in-JVM spans and Spark's task times
  * (epoch millis) share one clock.
  */
final case class Span(id: Long, op: Long, name: String, parent: Long, startUs: Long, endUs: Long)

/** In-memory span recorder. Spans are kept in memory and written once when
  * the run ends. With tracing off every call is a plain pass-through.
  *
  * The client is closed-loop (one operation in flight at a time), so the
  * current operation is a single global: node handler threads and Spark
  * listener callbacks attribute their spans to it.
  */
object Trace {
  @volatile var enabled: Boolean = false

  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  @volatile private var opId = 0L
  @volatile private var opRoot = 0L
  @volatile private var innermost = 0L
  private val opIds = new AtomicLong(0)

  /** Id and root-span id of the operation in flight (0 between operations). */
  def currentOp: Long = opId
  def currentRoot: Long = opRoot

  /** The client's innermost open span: the parent of work other threads do
    * for it (node calls, Spark jobs).
    */
  def currentParent: Long = if (innermost != 0L) innermost else opRoot

  /** Run `body` as one operation: a root span named `name` that every span
    * recorded while it runs is attributed to.
    */
  def op[T](name: String)(body: => T): T = {
    val id = opIds.incrementAndGet()
    val root = ids.incrementAndGet()
    opId = id; opRoot = root
    try timed(root, id, name, 0L)(body)
    finally { opId = 0L; opRoot = 0L }
  }

  /** Run `body` inside a span nested under the caller's innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else timed(ids.incrementAndGet(), opId, name, open.get.headOption.getOrElse(opRoot))(body)

  private def timed[T](id: Long, op: Long, name: String, parent: Long)(body: => T): T = {
    val start = nowUs()
    open.set(id :: open.get)
    innermost = id
    try body
    finally {
      open.set(open.get.tail)
      innermost = open.get.headOption.getOrElse(0L)
      if (enabled) spans.add(Span(id, op, name, parent, start, nowUs()))
    }
  }

  def newId(): Long = ids.incrementAndGet()

  /** Record an interval timed elsewhere (node calls, Spark jobs and tasks). */
  def record(name: String, op: Long, parent: Long, startUs: Long, endUs: Long): Unit =
    recordAs(newId(), name, op, parent, startUs, endUs)

  /** [[record]] under an id handed out earlier, so children can name it. */
  def recordAs(id: Long, name: String, op: Long, parent: Long, startUs: Long, endUs: Long): Unit =
    if (enabled) spans.add(Span(id, op, name, parent, startUs, endUs))

  def all: Seq[Span] = spans.asScala.toSeq
}
