package graft.etl.examples

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, IntegerType, StructField, StructType}

import graft._
import graft.etl.{SparkJob, Stage}
import graft.io.{Warehouse, WarehouseTable}
import graft.ops.{Decontaminate, Dedup, TextAnalysis, Web}
import graft.time.DateInterval
import graft.util.Barrier

/**
 * The INCREMENTAL twin of the [[Release]] capstone: days arrive one at a
 * time, flow through the store-backed dedup tiers + per-row gates without
 * ever re-reading history, and the release is CUT from the accumulated
 * curated pool — producing, by construction, the same manifest law as the
 * one-shot batch over the union.
 *
 * Split of responsibilities (what a real pretraining pipeline does):
 *
 *  - **Curation is incremental** ([[curateDay]]): the day's documents pass
 *    URL → exact → near dedup against three persistent stores (canonical
 *    URLs, text fingerprints, LSH bands — tiny rows, never the text),
 *    then the quality gate and benchmark decontamination (per-row,
 *    stateless). Each day costs one day of data plus store-sized
 *    equi-joins.
 *  - **The cut is global but curated-sized** ([[cut]]): target-mix rates
 *    depend on the REALIZED composition of the whole pool (a per-day mix
 *    would rebalance each day against itself, not the release), so mix →
 *    pack → shuffle → manifest run over the accumulated curated
 *    survivors — far smaller than the raw corpus — via the SAME
 *    [[Release.assemble]] code path as the batch build. Stage 0–5
 *    kept/rejected counts are additive, so the manifest's audit rows are
 *    the SUM of the persisted per-day stats.
 *
 * **The batch ≡ incremental law** (IncrementalReleaseJobSpec pins it):
 * day-split runs produce the IDENTICAL manifest to `Release.build` over
 * the union of the days, provided
 *
 *  1. ids are monotone across days (a day-2 duplicate of a day-1 doc has
 *     the larger id, so the batch keep-smallest rule and the incremental
 *     drop-the-newcomer rule pick the same keeper — true of any ingest
 *     with time-ordered ids);
 *  2. *(default mode only — struck entirely by `verifyNear = true`)*
 *     every cross-day LSH band collision is a true near-duplicate at the
 *     threshold: with `verifyNear = false` the store keeps `(band, bh)`
 *     only, so cross-day candidates are dropped UNVERIFIED — the same
 *     one-sided rule as [[IncrementalNearDedupJob]] (raise `rowsPerBand`
 *     to push the false-candidate rate down). With `verifyNear = true`
 *     the store keeps each band-input document's word shingles BESIDE its
 *     `(band, bh)` rows (the S13/S14 streaming tier's opt-in, in batch
 *     form) and a cross-day collision drops a document only when the
 *     exact shingle Jaccard — the IDENTICAL [[Dedup.jaccard]] predicate
 *     the batch verify applies — clears `threshold`; a FALSE band
 *     collision now survives incrementally exactly as it survives the
 *     batch build (IncrementalReleaseJobSpec constructs one and pins the
 *     agreement);
 *  3. no near-dup cluster is bridged across days only through a
 *     later-day doc (batch connected components would merge what the
 *     day-by-day view saw as separate — the inherent blind spot of any
 *     incremental clustering);
 *  4. text is never null (a null fingerprint matches nothing across days
 *     but batch exact-dedup groups all null texts together).
 *
 * Store-append discipline (what makes the law hold): each tier appends
 * the keys of its INPUT rows — every raw canonical URL, every
 * post-URL-tier fingerprint, every post-exact-tier band, kept or not —
 * because the batch tier would have deduplicated a future recrawl against
 * those rows even when a LATER stage (quality, decontamination, mix)
 * rejects them.
 */
object IncrementalRelease {

  /** One day's curation output: the stage-5 survivors (with `n_tokens`),
    * the day's additive `(ord, stage, n, tokens)` stats rows for ords
    * 0–5 (a driver-built local relation of the numbers each stage's
    * barrier observed), and the key rows to append to the three dedup
    * stores. */
  final case class DayCuration(
      curated: DataFrame,
      stats: DataFrame,
      urls: DataFrame,
      fps: DataFrame,
      bands: DataFrame)

  /** Store schemas (also the empty-store shapes for the first day). */
  val UrlStoreSchema: StructType = StructType(Seq(StructField("canon_url", StringType)))
  val FpStoreSchema: StructType = StructType(Seq(StructField("fp", StringType)))
  val BandStoreSchema: StructType = StructType(Seq(
    StructField("band", IntegerType), StructField("bh", StringType)))

  /** Band-store shape under `verifyNear = true`: the band-input document's
    * word shingles ride beside each of its `(band, bh)` rows (colocated,
    * never an id-keyed side table — a cross-day collision verifies as a
    * residual on the SAME equi-join, no second shuffle; the cost is the
    * shingles stored `bands` times, the trade the S14 streaming tier made). */
  val VerifiedBandStoreSchema: StructType = StructType(Seq(
    StructField("band", IntegerType), StructField("bh", StringType),
    StructField("sh", org.apache.spark.sql.types.ArrayType(StringType, containsNull = false))))

  /**
   * Curate one day against the stores: URL / exact / near dedup (cross-day
   * via `seenUrls`/`seenFps`/`seenBands`, within-day via the same
   * keep-smallest-id laws as [[Release.build]]), then the quality gate and
   * decontamination. `docs` needs `doc_id, url, lang, source, text`;
   * `bench` needs `bench_id, text`; a caller curating many days against
   * one eval suite materializes it once, so each day shingles stored rows.
   *
   * Scale: the day's text is token-counted and shingled ONCE each; the
   * cross-day checks are equi-joins against key-sized stores (anti-join on
   * canonical URL and fingerprint, semi-join on `(band, bh)`) — one
   * shuffle each, broadcast when the day is small, bloom-prefilterable
   * like [[IncrementalDedupJob]] when the store outgrows the day. Stage
   * frames materialize once, and each barrier's job also observes the
   * stage's stats row ([[Release.observedStage]]) — no aggregate job.
   */
  def curateDay(
      docs: DataFrame,
      bench: DataFrame,
      seenUrls: DataFrame,
      seenFps: DataFrame,
      seenBands: DataFrame,
      threshold: Double = 0.8,
      numHashes: Int = 12,
      rowsPerBand: Int = 3,
      minHits: Int = 3,
      verifyNear: Boolean = false): DayCuration = {
    val (s0, r0) = Release.observedStage(docs.select(col("doc_id"), col("url"), col("lang"),
      col("source"), col("text"),
      TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_tokens")))
    // tier-input keys append to the store BEFORE any within-day keep rule:
    // the batch tier dedups a future recrawl against every row it SAW,
    // not just the rows that survived the rest of the chain
    val urls = s0.filter(col("url").isNotNull)
      .select(Web.normalizeUrl(col("url")).as("canon_url")).distinct()
    val fresh0 = s0.withColumn("__canon", Web.normalizeUrl(col("url")))
      .join(seenUrls.select(col("canon_url").as("__canon")), Seq("__canon"), "left_anti")
      .drop("__canon")
    val (s1, r1) = Release.observedStage(Web.dedupByUrl(fresh0, "url", "doc_id"))

    val fps = s1.select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
    val fresh1 = s1.withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      .join(seenFps.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      .drop("__fp")
    val (s2, r2) = Release.observedStage(Dedup.exact(fresh1, "text", "doc_id"))

    // band rows of the near tier's INPUT — the day is shingled once; the
    // same frame feeds the cross-day semi-join and the store append
    val dayBands =
      Barrier.checkpoint(Dedup.bandedIds(s2, "doc_id", "text", numHashes, rowsPerBand))
    // verified mode: the day's shingles ride the band frame (computed once,
    // reused by the cross-day residual AND the store append), and a
    // cross-day collision drops the doc only when the exact Jaccard — the
    // batch verify's identical predicate — clears the threshold
    val daySh =
      if (!verifyNear) null
      else Barrier.checkpoint(
        s2.select(col("doc_id"), Dedup.wordShingles(col("text")).as("__dsh")))
    val nearSeen =
      if (!verifyNear)
        dayBands.join(seenBands, Seq("band", "bh"), "left_semi")
          .select(col("doc_id")).distinct()
      else
        dayBands.join(daySh, "doc_id")
          .join(seenBands.select(col("band"), col("bh"), col("sh").as("__vsh")),
            Seq("band", "bh"))
          .where(Dedup.jaccard(col("__dsh"), col("__vsh")) >= threshold)
          .select(col("doc_id")).distinct()
    val fresh2 = s2.join(nearSeen, Seq("doc_id"), "left_anti")
    // within-day candidates reuse the SAME band rows (restricted to the
    // cross-day survivors — bands are per-doc, so the restriction IS the
    // survivors' bandedIds frame): the day is shingled exactly once
    val freshBands = dayBands.join(nearSeen, Seq("doc_id"), "left_anti")
    val (s3, r3) = Release.observedStage(Dedup.removeNearDuplicatesFromBands(fresh2, freshBands,
      "doc_id", "text", threshold))

    val passes = TextAnalysis.qualityFlags(col("text"))
      .collectFirst { case ("passes", c) => c }.get
    // materialized (same reasoning as Release.build): decontaminate reads
    // s4 twice — re-running the per-row regex gate per read measured
    // slower than the barrier
    val (s4, r4) = Release.observedStage(s3.filter(passes === 1L))
    val (s5, r5) = Release.observedStage(Decontaminate.removeContaminated(
      s4, "doc_id", "text", bench, "bench_id", "text", minHits = minHits))

    val bandRows =
      if (!verifyNear) dayBands.select(col("band"), col("bh")).distinct()
      else dayBands.join(daySh, "doc_id")
        .select(col("band"), col("bh"), col("__dsh").as("sh")).distinct()
    DayCuration(s5, Release.stageStats(docs.sparkSession, Seq(r0, r1, r2, r3, r4, r5)),
      urls, fps, bandRows)
  }

  /**
   * Cut the release from the accumulated curated pool + per-day stats:
   * sums the additive ord 0–5 rows (one stage-count-sized aggregate,
   * collected once by [[Release.assemble]]) and hands off to it
   * — the manifest is produced by the batch build's own code path, so the
   * two can only differ if the curated pool differs.
   */
  def cut(
      curated: DataFrame,
      stats: DataFrame,
      targetsPpm: Map[String, Int],
      contextLen: Int = 512,
      shuffleSalt: String = "release"): (DataFrame, DataFrame) = {
    val base05 = stats.groupBy(col("ord"), col("stage"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("tokens")).cast("long").as("tokens"))
      .select(col("ord"), col("stage"), col("n"), col("tokens"))
    Release.assemble(curated, base05, targetsPpm, contextLen, shuffleSalt)
  }
}

/**
 * [[IncrementalRelease]] as a date-driven warehouse job: per date, curate
 * the day against the three stores, append the stores + the day's curated
 * partition + its stats partition, then cut and write the
 * RELEASE-SO-FAR (export chunks + manifest over all days up to and
 * including this one). Reruns are gated on the manifest partition; every
 * write is `WriteTruncate`; the stores are read strictly BEFORE the date
 * (a rerun after a crash must not dedup the day against its own
 * already-appended keys) — the library's exactly-once discipline.
 */
class IncrementalReleaseJob(
    source: DateInterval => DataFrame,
    benchmark: SparkSession => DataFrame,
    urlStore: WarehouseTable,
    fpStore: WarehouseTable,
    bandStore: WarehouseTable,
    curatedTable: WarehouseTable,
    statsTable: WarehouseTable,
    release: WarehouseTable,
    manifest: WarehouseTable,
    targetsPpm: Map[String, Int],
    contextLen: Int = 512,
    threshold: Double = 0.8,
    minHits: Int = 3,
    numHashes: Int = 12,
    rowsPerBand: Int = 3,
    shuffleSalt: String = "release",
    verifyNear: Boolean = false)
    extends SparkJob {

  override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
    !manifest.exists(spark, date)

  /** Partitions strictly before `date`, or an empty frame of `schema` on
    * the first day (`loadBefore` needs at least one partition to infer
    * from); the `date` partition column is dropped so store rows union
    * cleanly with the day's fresh rows. */
  private def storedOrEmpty(
      spark: SparkSession, table: WarehouseTable, date: DateInterval,
      schema: StructType): DataFrame =
    if (table.hasAnyPartition(spark)) table.loadBefore(spark, date).drop("date")
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  import IncrementalRelease._

  override def stages: Stage[SparkSession, _] = for {
    raw <- "read_docs".source(ctx => source(ctx.date))
    day <- Stage[org.apache.spark.sql.Dataset[Row], DayCuration]("curate_day") { ctx =>
      curateDay(ctx.value.toDF(), benchmark(ctx.spark),
        storedOrEmpty(ctx.spark, urlStore, ctx.date, UrlStoreSchema),
        storedOrEmpty(ctx.spark, fpStore, ctx.date, FpStoreSchema),
        storedOrEmpty(ctx.spark, bandStore, ctx.date,
          if (verifyNear) VerifiedBandStoreSchema else BandStoreSchema),
        threshold, numHashes, rowsPerBand, minHits, verifyNear)
    }
    _ <- Stage[DayCuration, DayCuration]("append_stores") { ctx =>
      urlStore.save(ctx.value.urls, ctx.date, Warehouse.WriteTruncate)
      fpStore.save(ctx.value.fps, ctx.date, Warehouse.WriteTruncate)
      bandStore.save(ctx.value.bands, ctx.date, Warehouse.WriteTruncate)
      ctx.value
    }
    _ <- Stage[DayCuration, DayCuration]("write_curated") { ctx =>
      curatedTable.save(ctx.value.curated, ctx.date, Warehouse.WriteTruncate)
      statsTable.save(ctx.value.stats, ctx.date, Warehouse.WriteTruncate)
      ctx.value
    }
    cutRes <- Stage[DayCuration, (DataFrame, DataFrame)]("cut_release") { ctx =>
      // history from the tables (strictly before the date — rerun-safe),
      // today from the in-flight frames (already materialized)
      val allCurated = storedOrEmpty(ctx.spark, curatedTable, ctx.date,
        ctx.value.curated.schema).unionByName(ctx.value.curated)
      val allStats = storedOrEmpty(ctx.spark, statsTable, ctx.date,
        ctx.value.stats.schema).unionByName(ctx.value.stats)
      cut(allCurated, allStats, targetsPpm, contextLen, shuffleSalt)
    }
    _ <- Stage[(DataFrame, DataFrame), (DataFrame, DataFrame)]("write_release") { ctx =>
      release.save(ctx.value._1, ctx.date, Warehouse.WriteTruncate); ctx.value
    }
    _ <- Stage[(DataFrame, DataFrame), (DataFrame, DataFrame)]("write_manifest") { ctx =>
      manifest.save(ctx.value._2, ctx.date, Warehouse.WriteTruncate); ctx.value
    }
  } yield cutRes
}
