package graft.monitoring

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.config.GraftConfig
import graft.time.Day

class MonitoringSpec extends AnyFunSuite with Matchers with graft.testkit.TempDirs {

  private val ctx = new MessagingSystem.Context {
    val jobId = "job1"
    val eventDate = Day(2026, 8, 12)
    val processId = "p-1"
    val startTime = System.currentTimeMillis() - 1000
  }

  test("create picks the transport from config") {
    MessagingSystem.create(GraftConfig("messaging.transport" -> "memory")) shouldBe
      an[InMemoryMessagingSystem]
    MessagingSystem.create(GraftConfig.empty) shouldBe a[PrintMessagingSystem]
    val dir = tmpDir("msg")
    MessagingSystem.create(GraftConfig(
      "messaging.transport" -> "file", "messaging.dir" -> dir)) shouldBe
      a[FileMessagingSystem]
    a[RuntimeException] should be thrownBy
      MessagingSystem.create(GraftConfig("messaging.transport" -> "file"))
  }

  test("file transport lands one JSON line per event, per topic, append-safe") {
    val dir = java.nio.file.Paths.get(tmpDir("msgfile"))
    val m = new FileMessagingSystem(dir.toString)
    m.publishProcessStarting(ctx)
    m.publishStageComplete(ctx, "clean")
    m.publishMetrics(ctx, "clean", Map("rows" -> 7.0))
    m.publishProcessComplete(ctx)
    m.stop()
    def lines(topic: String): Seq[String] =
      java.nio.file.Files.readAllLines(dir.resolve(s"$topic.jsonl"))
        .toArray(Array.empty[String]).toSeq
    lines("jobs") should have size 2
    lines("stages") should have size 1
    lines("metrics").head should include("\"rows\":7.0")
    all(lines("jobs")) should (startWith("{") and endWith("}"))
    // a second system appends to the same history instead of truncating it
    val m2 = new FileMessagingSystem(dir.toString)
    m2.publishProcessStarting(ctx)
    m2.stop()
    lines("jobs") should have size 3
  }

  test("run events carry state, date, and duration only on completion") {
    val m = new InMemoryMessagingSystem
    m.publishProcessStarting(ctx)
    m.publishProcessComplete(ctx)
    m.publishProcessFailed(ctx, new RuntimeException("kaput"))
    val jobs = m.events.filter(_._1 == "jobs").map(_._2)
    jobs should have size 3
    jobs(0) should include("\"state\":\"Processing\"")
    jobs(0) should include("\"duration\":0")
    jobs(0) should include("\"processingDate\":\"2026-08-12\"")
    jobs(1) should include("\"state\":\"Complete\"")
    jobs(1) should not include "\"duration\":0"
    jobs(2) should include("\"state\":\"Failed\"")
    jobs(2) should include("kaput")
  }

  test("stage and metrics events are shaped JSON") {
    val m = new InMemoryMessagingSystem
    m.publishStageStarting(ctx, "clean")
    m.publishStageRetrying(ctx, "clean")
    m.publishMetrics(ctx, "clean", Map("rows" -> 42.0))
    val stages = m.events.filter(_._1 == "stages").map(_._2)
    stages(0) should include("\"stage\":\"clean\"")
    stages(1) should include("\"state\":\"Retrying\"")
    val metrics = m.events.filter(_._1 == "metrics").map(_._2)
    metrics.head should include("\"rows\":42.0")
  }

  test("JSON quoting escapes control characters") {
    Json.quote("a\"b\\c\nd") shouldBe "\"a\\\"b\\\\c\\nd\""
  }

  test("notifier shapes webhook-style payloads") {
    val n = new InMemoryNotifier
    n.jobStarted("etl")
    n.jobFailed("etl", new RuntimeException("oops"))
    n.notifications should have size 2
    n.notifications.head.severity shouldBe Notifier.Info
    val failed = n.notifications(1)
    failed.severity shouldBe Notifier.Error
    failed.toPayload should include("oops")
    failed.toPayload should include(":rotating_light:")
    Notifier.create(GraftConfig("notifier.transport" -> "memory")) shouldBe an[InMemoryNotifier]
  }

  test("metric registry: counters sum per series and reset; gauges set") {
    val reg = new MetricRegistry
    val c = reg.counter("rows_quarantined", "rows dropped by quality gates", "reason")
    c.labels("pii").inc()
    c.labels("pii").inc(2.0)
    c.labels("lang").inc(5.0)
    val g = reg.gauge("store_partitions", "partitions in the band store")
    g.set(42.0)
    g.inc(3.0)
    reg.snapshot shouldBe Map(
      "rows_quarantined{reason=pii}" -> 3.0,
      "rows_quarantined{reason=lang}" -> 5.0,
      "store_partitions" -> 45.0)
    reg.resetCounters()
    // counters zero out (series vanish until touched); gauges keep their value
    reg.snapshot shouldBe Map("store_partitions" -> 45.0)
  }

  test("metric registry: idempotent identical re-registration, conflicting shape fails") {
    val reg = new MetricRegistry
    val c1 = reg.counter("n", "help", "a")
    val c2 = reg.counter("n", "help", "a") // same shape -> same collector
    c1.labels("x").inc()
    c2.labels("x").inc()
    reg.snapshot("n{a=x}") shouldBe 2.0
    an[IllegalArgumentException] should be thrownBy reg.counter("n", "other help", "a")
    an[IllegalArgumentException] should be thrownBy reg.gauge("n", "help", "a")
    an[IllegalArgumentException] should be thrownBy c1.labels("x").inc(-1.0) // counters only go up
    an[IllegalArgumentException] should be thrownBy {
      c1.labels("x", "y").inc() // wrong label arity
    }
  }
}
