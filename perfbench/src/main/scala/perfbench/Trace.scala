package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed op of the closed loop: wall interval (epoch µs), outcome,
  * and the per-op facts its check or the traced run recorded.
  */
final case class OpRecord(index: Int, kind: String, t0: Long, t1: Long,
    ok: Boolean, error: String, rows: Long,
    facts: Map[String, Double])

/** A span around one call into a layer. Spans of one op share `op`;
  * `parent` is the enclosing span's id (-1 for the op's root span).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    t0: Long, t1: Long)

/** The op/span recorder. Ops are always recorded (their wall times are
  * the end-to-end metrics); spans only when tracing is on, so an
  * untraced run pays one branch per layer call. Everything stays in
  * memory until the run ends. Single client thread by construction.
  */
final class Recorder(val tracing: Boolean) {
  val ops = ArrayBuffer[OpRecord]()
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var currentOp = -1
  private var nextId = 0

  /** Epoch microseconds on the monotonic clock: Spark's listener
    * events carry epoch milliseconds, so both land on one time axis.
    */
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowUs()
      try body
      finally {
        spans += Span(id, parent, currentOp, name, t0, nowUs())
        stack = stack.tail
      }
    }

  /** Time one op. `run` is the measured work; `check` runs after the
    * clock stops and returns an error when the output is wrong. A
    * thrown exception or a failed check makes the op failed.
    */
  def op(index: Int, kind: String)(run: => Long)(
      check: Long => Option[String]): OpRecord = {
    currentOp = index
    facts.clear()
    val t0 = nowUs()
    val (rows, err) =
      try {
        val n = span(s"op.$kind")(run)
        (n, null: String)
      } catch { case e: Throwable => (-1L, Main.describe(e)) }
    val t1 = nowUs()
    currentOp = -1
    val checkErr =
      if (err != null) err
      else try check(rows).orNull
      catch { case e: Throwable => "check threw: " + Main.describe(e) }
    val rec = OpRecord(index, kind, t0, t1, checkErr == null, checkErr,
      rows, facts.toMap)
    ops += rec
    rec
  }

  /** Per-op facts (counts and ratios measured at a layer boundary). */
  val facts = scala.collection.mutable.Map[String, Double]()
  def fact(name: String, value: Double): Unit = facts(name) = value
}
