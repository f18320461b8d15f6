package graft.monitoring

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

/**
 * Zero-dependency custom-metric registry — the reference's Prometheus
 * collectors (reference core SparkRunner.scala:165-205) re-expressed without
 * the prometheus jar: jobs register named counters/gauges (optionally
 * labeled), bump them from driver-side stage code, and the runner drains a
 * flat `Map[String, Double]` snapshot into every stage's [[MetricsEvent]].
 *
 * Driver-side by design: per-record executor-side counting belongs in Spark
 * accumulators / task metrics (which [[JobMetrics]] already publishes);
 * this registry is for job-level business counters ("partitions compacted",
 * "rows quarantined") that ride the same monitoring channel.
 */
sealed trait Metric {
  def name: String
  def help: String
  def labelNames: Seq[String]

  protected final def requireArity(labelValues: Seq[String]): Unit =
    require(labelValues.length == labelNames.length,
      s"metric $name expects labels $labelNames, got ${labelValues.mkString("[", ",", "]")}")

  /** Sample key: `name` for the unlabeled series, `name{l=v,...}` for labeled. */
  protected final def seriesKey(labelValues: Seq[String]): String =
    if (labelNames.isEmpty) name
    else name + labelNames.zip(labelValues)
      .map { case (l, v) => s"$l=$v" }.mkString("{", ",", "}")

  private[monitoring] def samples: Map[String, Double]
  private[monitoring] def reset(): Unit
}

/** Monotonic counter; labeled series materialize on first touch. */
final class Counter private[monitoring] (
    val name: String,
    val help: String,
    val labelNames: Seq[String])
    extends Metric {
  private val children = new ConcurrentHashMap[Seq[String], DoubleAdder]()

  final class Child private[Counter] (adder: DoubleAdder) {
    def inc(): Unit = inc(1.0)
    def inc(v: Double): Unit = {
      require(v >= 0, s"counter $name can only increase (got $v)")
      adder.add(v)
    }
  }

  def labels(values: String*): Child = {
    requireArity(values)
    new Child(children.computeIfAbsent(values, _ => new DoubleAdder))
  }

  def inc(): Unit = labels().inc()
  def inc(v: Double): Unit = labels().inc(v)

  private[monitoring] def samples: Map[String, Double] =
    children.asScala.map { case (values, a) => seriesKey(values) -> a.sum }.toMap
  private[monitoring] def reset(): Unit = children.clear()
}

/** Settable gauge (last write wins across threads). */
final class Gauge private[monitoring] (
    val name: String,
    val help: String,
    val labelNames: Seq[String])
    extends Metric {
  private val children = new ConcurrentHashMap[Seq[String], AtomicLong]()

  final class Child private[Gauge] (cell: AtomicLong) {
    def set(v: Double): Unit = cell.set(java.lang.Double.doubleToLongBits(v))
    def get: Double = java.lang.Double.longBitsToDouble(cell.get)
    def inc(v: Double = 1.0): Unit = {
      cell.updateAndGet(bits =>
        java.lang.Double.doubleToLongBits(java.lang.Double.longBitsToDouble(bits) + v))
      ()
    }
    def dec(v: Double = 1.0): Unit = inc(-v)
  }

  def labels(values: String*): Child = {
    requireArity(values)
    new Child(children.computeIfAbsent(values, _ => new AtomicLong(0L)))
  }

  def set(v: Double): Unit = labels().set(v)
  def inc(v: Double = 1.0): Unit = labels().inc(v)
  def dec(v: Double = 1.0): Unit = labels().dec(v)

  private[monitoring] def samples: Map[String, Double] =
    children.asScala.map { case (values, c) =>
      seriesKey(values) -> java.lang.Double.longBitsToDouble(c.get)
    }.toMap
  private[monitoring] def reset(): Unit = children.clear()
}

/**
 * Registry of one runner's custom metrics. Registration is idempotent for an
 * identical (type, help, labels) re-declaration — runners are re-entered
 * (`runWith` per test, backfills) and must not crash on the second pass —
 * but a conflicting re-use of a name fails fast.
 */
final class MetricRegistry {
  private val metrics = new ConcurrentHashMap[String, Metric]()

  private def register[M <: Metric](created: M): M = {
    val resolved = metrics.compute(created.name, (_, prev) => prev match {
      case null => created
      case existing if existing.getClass == created.getClass &&
        existing.help == created.help && existing.labelNames == created.labelNames => existing
      case _ => throw new IllegalArgumentException(
        s"metric ${created.name} already registered with a different shape")
    })
    resolved.asInstanceOf[M]
  }

  def counter(name: String, help: String, labelNames: String*): Counter =
    register(new Counter(name, help, labelNames))

  def gauge(name: String, help: String, labelNames: String*): Gauge =
    register(new Gauge(name, help, labelNames))

  /** Counters reset before each job run (reference SparkRunner.scala:165-168). */
  def resetCounters(): Unit =
    metrics.values.asScala.foreach { case c: Counter => c.reset(); case _ => }

  /** Flat snapshot of every registered series, for `publishMetrics`. */
  def snapshot: Map[String, Double] =
    metrics.values.asScala.flatMap(_.samples).toMap
}
