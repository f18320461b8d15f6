package graft

import org.apache.spark.SparkTestAccess.withSqlConf
import org.apache.spark.sql.functions._

import graft.testkit.SourceScan.{codeLines, sourceRoot}
import graft.testkit.SparkTestBase

/** The local mains' shared pieces: one session definition, and the plan
  * shape counters `Profile` prints. */
class HarnessSpec extends SparkTestBase {

  test("src/main builds a SparkSession only in LocalSession and SparkRunner.createSession") {
    val sites = codeLines("""SparkSession\s*\.\s*builder\b""".r)
    withClue(sites.mkString("\n")) {
      sites.map(_._1.takeWhile(_ != ':')) shouldBe Seq(
        sourceRoot.resolve("graft/LocalSession.scala").toString,
        sourceRoot.resolve("graft/etl/SparkRunner.scala").toString)
      sites.last._2 should include("SparkSession.builder.config(sparkConf)")
    }
  }

  test("Profile.shape counts the final adaptive plan once, through its query stages") {
    val agg = spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n"))
    val df = withSqlConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
      val joined = agg.as("a").join(agg.as("b"), "k").orderBy("k")
      joined.collect().length shouldBe 10
      joined
    }
    val (counts, _) = Profile.shape(df.queryExecution.executedPlan)
    val c = counts.toMap
    withClue(df.queryExecution.executedPlan.toString) {
      c("smj") shouldBe 1
      c("bhj") shouldBe 0
      c("cartesian") shouldBe 0
      c("exchange") shouldBe 1
      c("reused") shouldBe 1
      c("rangeExchange") shouldBe 1
      c("codegenSpans") should be > 0
    }
  }
}
