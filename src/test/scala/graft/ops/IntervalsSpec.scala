package graft.ops

import org.apache.spark.SparkTestAccess.withSqlConf
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.testkit.SparkTestBase

class IntervalsSpec extends SparkTestBase {
  import spark.implicits._

  test("withRunningTotal equals the one-window definition under any partitioning") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 400).map(i => (i.toLong, rnd.nextInt(11).toLong - 5))
    val naive = {
      var acc = 0L
      rows.sortBy(_._1).map { case (id, v) => acc += v; (id, acc) }.toMap
    }
    for (parts <- Seq(1, 4, 17)) {
      val df = rows.toDF("id", "v").repartition(parts)
      val out = Intervals.withRunningTotal(df, "total", "v", col("id"))
        .select($"id", $"total").as[(Long, Long)].collect().toMap
      withClue(s"parts=$parts") { out shouldBe naive }
    }
  }

  test("withRunningTotal counts a null value as 0, identically at any shuffle partition count") {
    // every third value null, the first row's among them: the running
    // total must skip over a null, not turn null where one opens a shard
    val rows = (1 to 40).map(i => (i.toLong, if (i % 3 == 1) None else Some(i.toLong * 2 - 7)))
    val model = rows.scanLeft((0L, 0L)) { case ((_, acc), (id, v)) => (id, acc + v.getOrElse(0L)) }
      .tail.toMap
    for (p <- Seq(1, 4, 7, 13)) {
      val out = withSqlConf(spark, "spark.sql.shuffle.partitions", p.toString) {
        Intervals.withRunningTotal(rows.toDF("id", "v").repartition(3), "total", "v", col("id"))
          .select($"id", $"total").as[(Long, Option[Long])].collect().toMap
      }
      withClue(s"shuffle partitions=$p") { out shouldBe model.map { case (k, v) => k -> Some(v) } }
    }
  }

  test("concurrency: overlapping intervals count, exclusive ends hand over cleanly") {
    // [0,10) [5,15): overlap 5..10 -> active 2; [15,20) starts exactly when
    // the second ends -> never 2 concurrent with it
    val iv = Seq((1L, 0L, 10L), (2L, 5L, 15L), (3L, 15L, 20L))
      .toDF("id", "s", "e")
    val out = Intervals.concurrency(iv, "s", "e", "id")
      .select($"ts", $"delta", $"active").as[(Long, Long, Long)].collect().toSet
    out shouldBe Set(
      (0L, 1L, 1L), (5L, 1L, 2L), (10L, -1L, 1L),
      (15L, -1L, 0L), (15L, 1L, 1L), (20L, -1L, 0L))
    out.map(_._3).max shouldBe 2L
  }

  test("concurrency profile starts and ends at zero and never dips negative") {
    val rnd = new scala.util.Random(9)
    val iv = (1 to 200).map { i =>
      val s = rnd.nextInt(1000).toLong
      (i.toLong, s, s + 1 + rnd.nextInt(100))
    }.toDF("id", "s", "e")
    val prof = Intervals.concurrency(iv, "s", "e", "id")
      .orderBy($"ts", $"delta", $"id").select($"active").as[Long].collect()
    prof.last shouldBe 0L
    prof.min should be >= 0L
    // cross-check the peak against a brute-force point census
    val rows = iv.as[(Long, Long, Long)].collect()
    val brute = (0L to 1101L).map(t => rows.count(r => r._2 <= t && t < r._3)).max
    prof.max shouldBe brute.toLong
  }

  private val DayUs = 86400000000L

  test("timeWeightedDaily: hand-computed integral, midnight split exact") {
    // one interval covering half of day 0 and a quarter of day 1, plus a
    // second interval overlapping the first for 6h inside day 0
    val iv = Seq(
      (1L, DayUs / 2, DayUs + DayUs / 4),          // 12h of day0 + 6h of day1
      (2L, DayUs * 3 / 4, DayUs)                   // last 6h of day0
    ).toDF("id", "s", "e")
    val out = Intervals.timeWeightedDaily(iv, "s", "e", "id")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // day0: 6h at active=1 + 6h at active=2 = 18h weighted
    out(0L) shouldBe ((DayUs / 4 + DayUs / 4 * 2, 750L))
    // day1: 6h at active=1
    out(1L) shouldBe ((DayUs / 4, 250L))
  }

  test("timeWeightedDaily: idle days produce no rows, zero-length intervals nothing") {
    val iv = Seq(
      (1L, 0L, DayUs),             // all of day 0
      (2L, 5L * DayUs, 5L * DayUs) // zero-length: contributes nothing
    ).toDF("id", "s", "e")
    val out = Intervals.timeWeightedDaily(iv, "s", "e", "id")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    out shouldBe Map(0L -> ((DayUs, 1000L)))
  }

  test("timeWeightedDaily is partitioning-independent") {
    val rnd = new scala.util.Random(11)
    val iv = (1 to 300).map { i =>
      val s = rnd.nextInt(10 * 86400).toLong * 1000000
      (i.toLong, s, s + (1 + rnd.nextInt(3 * 86400)).toLong * 1000000)
    }.toDF("id", "s", "e")
    val a = Intervals.timeWeightedDaily(iv, "s", "e", "id").collect().map(_.toSeq).toSet
    val b = Intervals.timeWeightedDaily(iv.repartition(13), "s", "e", "id")
      .collect().map(_.toSeq).toSet
    a shouldBe b
    a.nonEmpty shouldBe true
  }
}
