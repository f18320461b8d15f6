package perfbench

import scala.collection.mutable

/** A timed interval at one layer boundary. Times are epoch microseconds;
  * `parent` is the id of the span that caused it, or -1 until resolved. */
final case class Span(id: Int, parent: Int, layer: String, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  /** Epoch microseconds from the monotonic clock (Spark's listener events
    * carry epoch milliseconds; both land on one axis). */
  def nowUs: Long = epoch0 + (System.nanoTime() - nano0) / 1000L
}

/**
 * Spans and counters, kept in memory and written out when the run ends.
 * When disabled every call is a no-op apart from evaluating the body, so
 * the untraced run pays nothing for the hooks.
 */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, String, Long)]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var nextId = 0

  def open(layer: String, name: String): Unit =
    if (enabled) synchronized { stack.push((newId(), layer, name, Clock.nowUs)) }

  def close(): Unit =
    if (enabled) synchronized {
      if (stack.nonEmpty) {
        val (id, layer, name, start) = stack.pop()
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        spans += Span(id, parent, layer, name, start, Clock.nowUs)
      }
    }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else { open(layer, name); try body finally close() }

  /** A span observed elsewhere (a listener event); its parent is resolved
    * by [[Trace.resolveParents]] when the run ends. */
  def record(layer: String, name: String, start: Long, end: Long, parent: Int = -1): Int =
    if (!enabled) -1 else synchronized {
      val id = newId(); spans += Span(id, parent, layer, name, start, end); id
    }

  def count(name: String, v: Double = 1.0): Unit =
    if (enabled) synchronized { counters(name) = counters.getOrElse(name, 0.0) + v }

  def max(name: String, v: Double): Unit =
    if (enabled) synchronized { counters(name) = math.max(counters.getOrElse(name, 0.0), v) }

  def snapshot: (Vector[Span], Map[String, Double]) = synchronized((spans.toVector, counters.toMap))

  private def newId(): Int = { nextId += 1; nextId }
}

object Trace {
  /** Length of the union of `intervals` clipped to `[lo, hi)`. */
  def coverage(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toVector.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.get(s.id).fold(0L)(cs => coverage(cs.map(c => (c.start, c.end)), s.start, s.end))
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Self time summed per layer, in seconds. */
  def layerSelfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e6 }
  }

  /** Linear interpolation between closest ranks (numpy's default), the
    * percentile rule every reported latency uses. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p >= 0 && p <= 100)
    val v = xs.sorted
    val h = (v.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, v.length - 1)
    v(lo) + (h - lo) * (v(hi) - v(lo))
  }

  /**
   * Give every listener-sourced span its cause. Driver-side spans (benchmark,
   * etl, io) nest by construction; a job or planner phase belongs to the
   * innermost driver span open at its start; a stage to its job; a task to
   * its stage. `jobOf` maps stage id to job id, `stageSpan`/`jobSpan` map
   * ids to span ids (names carry the ids as `job <id>` / `stage <id>`).
   */
  def resolveParents(spans: Vector[Span], driverLayers: Set[String],
      jobOfStage: Map[Int, Int]): Vector[Span] = {
    val driver = spans.filter(s => driverLayers(s.layer))
    def innermost(t: Long): Int =
      driver.filter(d => d.start <= t && t < d.end).sortBy(d => (-d.start, d.dur))
        .headOption.map(_.id).getOrElse(-1)
    val jobSpan = spans.collect { case s if s.name.startsWith("job ") => s.name.drop(4).toInt -> s.id }.toMap
    val stageSpan = spans.collect { case s if s.name.startsWith("stage ") => s.name.drop(6).takeWhile(_ != '.').toInt -> s.id }.toMap
    spans.map {
      case s if s.parent >= 0 => s
      case s if s.name.startsWith("task ") =>
        s.copy(parent = stageSpan.getOrElse(s.name.drop(5).takeWhile(_ != '.').toInt, -1))
      case s if s.name.startsWith("stage ") =>
        val stage = s.name.drop(6).takeWhile(_ != '.').toInt
        s.copy(parent = jobOfStage.get(stage).flatMap(jobSpan.get).getOrElse(innermost(s.start)))
      case s if driverLayers(s.layer) => s
      case s => s.copy(parent = innermost(s.start))
    }
  }
}
