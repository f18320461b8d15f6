package graft.etl.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.etl.{SparkJob, Stage}
import graft.io.{Warehouse, WarehouseTable}
import graft.ops.Graphs
import graft.time.DateInterval

/**
 * Incremental host-graph authority monitoring — [[Graphs.pageRank]] run
 * daily over an accumulating edge store, with a top-movers report. The
 * link graph is the one curation signal that only exists ACROSS crawl
 * days (today's crawl holds today's pages but the web's opinion of a host
 * accretes), so the job follows the library's incremental-store pattern
 * ([[IncrementalDedupJob]], [[DriftMonitorJob]]). Per date:
 *
 *  1. read the day's observed links, reduce to distinct `(src, dst)`;
 *  2. append only the NEVER-SEEN edges to `edgeStore` (anti-join against
 *     [[WarehouseTable.loadBefore]] — strictly earlier partitions, so a
 *     crash-rerun never anti-joins the day against its own write) — the
 *     store grows with the DISTINCT graph, not with crawl volume;
 *  3. run the fixed-iteration exact PageRank over the whole accumulated
 *     graph and snapshot `(id, rank)` into `ranks` — host-sized rows;
 *  4. report the top-`k` movers vs the most recent earlier rank snapshot
 *     that holds rows ([[WarehouseTable.hasDataForDate]], walking back up
 *     to `lookbackDays`): `(id, rank_prev, rank_cur, delta)` by absolute
 *     shift — new hosts arrive with `rank_prev` 0, vanished hosts keep a
 *     row with `rank_cur` 0, so de-listings are as visible as arrivals.
 *     The first day writes an EMPTY report (`exists` still gates reruns).
 *
 * Scale: the full-data pass is the day's distinct + anti-join; the rank
 * iterations touch edge-store-sized frames (the deduplicated graph), and
 * the report is a join of two host-sized snapshots — rank history never
 * re-reads crawl data. The rank rounds are [[graft.util.Barrier]]s: set
 * `spark.checkpoint.dir` on a real cluster so they survive executor loss.
 */
class HostRankJob(
    links: DateInterval => DataFrame,
    edgeStore: WarehouseTable,
    ranks: WarehouseTable,
    reports: WarehouseTable,
    srcCol: String = "src",
    dstCol: String = "dst",
    iterations: Int = 5,
    dampingPct: Int = 85,
    k: Int = 20,
    lookbackDays: Int = 30)
    extends SparkJob {

  override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
    !reports.exists(spark, date)

  /** Most recent STRICTLY EARLIER rank snapshot holding rows. */
  private def previousRankDate(spark: SparkSession, date: DateInterval): Option[DateInterval] =
    Iterator.iterate(date.prev)(_.prev)
      .take(lookbackDays)
      .find(d => ranks.hasDataForDate(spark, d))

  private def emptyReport(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id", StringType),
        StructField("rank_prev", LongType),
        StructField("rank_cur", LongType),
        StructField("delta", LongType))))
  }

  override def stages: Stage[SparkSession, _] = for {
    day <- "read_links".source { ctx =>
      links(ctx.date)
        .select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
        .distinct()
    }
    _ <- "append_new_edges".sink[org.apache.spark.sql.Row] { ctx =>
      // hasAnyPartition first: the store does not exist on day one (and a
      // crashed first run can leave only a _temporary skeleton)
      val novel =
        if (edgeStore.hasAnyPartition(ctx.spark))
          ctx.value.toDF()
            .join(edgeStore.loadBefore(ctx.spark, ctx.date).select("src", "dst"),
              Seq("src", "dst"), "left_anti")
        else ctx.value.toDF()
      edgeStore.save(novel, ctx.date, Warehouse.WriteTruncate)
    }
    _ <- "snapshot_ranks".sink[org.apache.spark.sql.Row] { ctx =>
      val all = edgeStore.loadBetween(ctx.spark,
        graft.time.Day(1970, 1, 1), ctx.date.next).select("src", "dst")
      val ranked = Graphs.pageRank(all, iterations = iterations, dampingPct = dampingPct)
      ranks.save(ranked, ctx.date, Warehouse.WriteTruncate)
    }
    _ <- "write_report".sink[org.apache.spark.sql.Row] { ctx =>
      val report = previousRankDate(ctx.spark, ctx.date) match {
        case Some(prev) =>
          val p = ranks.load(ctx.spark, prev).select(col("id"), col("rank").as("rank_prev"))
          val c = ranks.load(ctx.spark, ctx.date).select(col("id"), col("rank").as("rank_cur"))
          p.join(c, Seq("id"), "full")
            .select(col("id"),
              coalesce(col("rank_prev"), lit(0L)).as("rank_prev"),
              coalesce(col("rank_cur"), lit(0L)).as("rank_cur"))
            .withColumn("delta", col("rank_cur") - col("rank_prev"))
            .orderBy(abs(col("delta")).desc, col("id"))
            .limit(k)
        case None => emptyReport(ctx.spark)
      }
      reports.save(report, ctx.date, Warehouse.WriteTruncate)
    }
  } yield ()
}
