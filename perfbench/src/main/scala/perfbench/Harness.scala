package perfbench

import java.util.UUID
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}

object Json {
  def str(s: String): String = "\"" +
    new String(com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance.quoteAsString(s)) +
    "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** One client operation. `ms` is its timed interval; `ok` is None while
  * its output still awaits the external oracle check. */
final class Op(val id: Int, val kind: String) {
  var ms = 0.0
  var ok: Option[Boolean] = None
  var note = ""
  var rows = 0L
  var check = ""
  var jobs: Seq[JobSpan] = Nil
  var spanMark = 0
  val m = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  def fail(why: String): Unit = {
    ok = Some(false)
    if (note.isEmpty) note = why.take(300)
  }
  def pass(cond: Boolean, why: => String): Unit =
    if (!cond) fail(why) else if (ok.isEmpty) ok = Some(true)

  def json: String = Json.obj(Seq(
    "id" -> id.toString, "kind" -> Json.str(kind), "ms" -> Json.num(ms),
    "ok" -> ok.fold("null")(_.toString), "rows" -> rows.toString,
    "check" -> Json.str(check), "note" -> Json.str(note),
    "m" -> Json.obj(m.map { case (k, v) => k -> Json.num(v) })))
}

/** Streaming progress per query run, from a listener the benchmark
  * registers. Start events arrive synchronously; progress and
  * termination arrive on the listener bus. */
final class StreamEvents extends StreamingQueryListener {
  import StreamingQueryListener._
  private val progress = mutable.HashMap.empty[UUID, ArrayBuffer[StreamingQueryProgress]]
  private val done = mutable.HashSet.empty[UUID]
  private var last: Option[UUID] = None

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    progress(e.runId) = ArrayBuffer.empty
    last = Some(e.runId)
  }
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    progress.getOrElseUpdate(e.progress.runId, ArrayBuffer.empty) += e.progress
  }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
    done += e.runId
    notifyAll()
  }

  /** Progress of the most recently started run, once it has terminated
    * (waiting at most 30 s for the termination event). */
  def lastRun(): Seq[StreamingQueryProgress] =
    synchronized {
      val id = last.getOrElse(sys.error("no streaming query has started"))
      val deadline = System.currentTimeMillis() + 30000L
      while (!done(id) && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      require(done(id), s"streaming run $id did not report termination")
      progress.remove(id).map(_.toSeq).getOrElse(Nil)
    }
}

/** The closed-loop client: runs operations one at a time, times them,
  * and in the traced run records spans and per-operation engine metrics.
  * Work the benchmark does for itself (generation, checks, probes) is
  * accumulated in `harnessNs` so it can be kept out of throughput. */
final class Harness(val spark: SparkSession, val traced: Boolean) {
  val tracer = new Tracer(traced)
  val probe: Option[SparkProbe] = if (traced) Some(new SparkProbe(spark)) else None
  val streams = new StreamEvents
  spark.streams.addListener(streams)
  val ops = ArrayBuffer.empty[Op]
  var harnessNs = 0L
  private var nextOp = 0

  def untimed[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally harnessNs += System.nanoTime() - t
  }

  /** Time one operation; `body` is exactly the timed interval. A throw
    * fails the operation without stopping the loop. `derive` runs after
    * the interval, untimed, to add spans measured elsewhere before the
    * operation's Spark jobs are attached to their enclosing spans. */
  def op(kind: String, derive: Op => Unit = _ => ())(body: Op => Unit): Op = {
    val o = new Op(nextOp, kind)
    nextOp += 1
    val before = untimed(probe.map(_.snap()))
    o.spanMark = tracer.spans.length
    val t0 = Clock.now()
    try tracer.span(s"op.$kind", "op" -> o.id.toString)(body(o))
    catch { case NonFatal(e) => o.fail(s"threw: $e") }
    val t1 = Clock.now()
    o.ms = (t1 - t0) / 1e6
    untimed {
      probe.foreach { p =>
        o.m ++= p.delta(before.get, p.snap(), t0, t1)
        o.jobs = p.jobsSince(before.get).filter(_.endMs >= 0)
      }
      derive(o)
      if (traced) attachJobs(o)
    }
    ops += o
    o
  }

  /** A timed layer call inside an operation: a span in the traced run
    * and the `<name>_ms` metric of the operation. */
  def layer[T](o: Op, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(name)(body)
    finally if (traced) o.add(s"${name}_ms", (System.nanoTime() - t0) / 1e6)
  }

  def spansOf(o: Op): Seq[Span] = tracer.since(o.spanMark)

  /** Each Spark job becomes a child of the innermost span enclosing it. */
  private def attachJobs(o: Op): Unit = {
    val mine = spansOf(o)
    o.jobs.foreach { j =>
      val (s, e) = (Clock.fromEpochMs(j.startMs), Clock.fromEpochMs(j.endMs))
      val slack = 1000000L
      val parent = mine.filter(sp => sp.start - slack <= s && e <= sp.end + slack)
        .sortBy(sp => sp.end - sp.start).headOption.map(_.id).getOrElse(-1)
      val site = j.callSite.linesIterator.find(_.contains("graft.")).getOrElse("")
      tracer.add(parent, "spark.job", s, e, "job" -> j.id.toString,
        "site" -> site.trim)
    }
  }

  /** Forget operations and spans recorded so far (set-up is not measured
    * as operations). */
  def reset(): Unit = {
    ops.clear()
    tracer.spans.clear()
    harnessNs = 0L
  }
}
