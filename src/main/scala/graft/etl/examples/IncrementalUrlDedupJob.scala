package graft.etl.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.etl.{SparkJob, Stage}
import graft.io.{Warehouse, WarehouseTable}
import graft.ops.Web
import graft.time.DateInterval

/**
 * Incremental cross-date URL dedup — the batch twin of the streaming
 * [[graft.streaming.EventStreams.dedupUrlsAgainstStore]] and the
 * cheapest-first front of an ingestion funnel: recrawls of pages already
 * ingested on ANY earlier date drop on a URL string compare, before any
 * text is normalized, hashed or shingled.
 *
 * Per date: read the day's crawl, canonicalize URLs
 * ([[Web.normalizeUrl]]), drop rows whose canonical URL the store already
 * holds (bloom-short-circuited anti join — the store grows with every
 * past day and almost every new page misses it), keep one row per
 * canonical URL within the day ([[Web.dedupByUrl]] — smallest `idCol`
 * wins), then append the day's new canonical URLs to the store and write
 * the clean partition. Rows with a NULL URL pass through untouched and
 * are never stored (no URL != same URL).
 *
 * Scale notes: the store holds one short string per unique page ever
 * ingested; the anti join shuffles on the canonical-URL hash (or stays
 * shuffle-free when both sides are bucketed via [[graft.io.Bucketing]]);
 * the within-day keeper is ONE min_by partial agg. Text-level dedup
 * ([[IncrementalDedupJob]] / [[IncrementalNearDedupJob]]) still runs
 * after this tier — same page text republished under a new URL is its
 * problem, not this one's.
 */
class IncrementalUrlDedupJob(
    source: DateInterval => DataFrame,
    clean: WarehouseTable,
    urls: WarehouseTable,
    urlCol: String = "url",
    idCol: String = "doc_id")
    extends SparkJob {

  override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
    !clean.exists(spark, date)

  /**
   * Canonical URLs from partitions strictly BEFORE `date`: a rerun after a
   * crash between write_urls and write_clean must not anti-join the day's
   * pages against their own already-stored URLs (that would silently write
   * an empty clean partition).
   */
  private def seenUrls(spark: SparkSession, date: DateInterval): DataFrame =
    if (urls.hasAnyPartition(spark))
      urls.loadBefore(spark, date).select(col("canon_url"))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("canon_url", org.apache.spark.sql.types.StringType))))

  override def stages: Stage[SparkSession, _] = Stage.holding { held =>
    for {
      raw <- "read_docs".source(ctx => source(ctx.date))
      withCanon <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("canonicalize") { ctx =>
        // persisted: the null-URL branch and the dedup branch both read it,
        // and antiJoinWithBloom's union would otherwise re-run the read
        held.persist(ctx.value.toDF()
          .withColumn("canon_url", Web.normalizeUrl(col(urlCol))))
      }
      deduped <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("url_dedup") { ctx =>
        val day = ctx.value.toDF()
        val newPages = graft.ops.Bloom.antiJoinWithBloom(
          day.filter(col("canon_url").isNotNull), seenUrls(ctx.spark, ctx.date), "canon_url")
        // within-day keeper on the smallest id; dedupByUrl unions its own
        // null branch, but newPages has none — nulls rejoin below
        val kept = Web.dedupByUrl(newPages, urlCol, idCol)
        held.persist(kept.unionByName(day.filter(col("canon_url").isNull)))
      }
      _ <- "write_urls".sink[org.apache.spark.sql.Row] { ctx =>
        urls.save(ctx.value.toDF().filter(col("canon_url").isNotNull)
          .select(col("canon_url")).distinct(), ctx.date, Warehouse.WriteTruncate)
      }
      _ <- "write_clean".sink[org.apache.spark.sql.Row] { ctx =>
        clean.save(ctx.value.toDF().drop("canon_url"), ctx.date, Warehouse.WriteTruncate)
      }
    } yield deduped
  }
}
