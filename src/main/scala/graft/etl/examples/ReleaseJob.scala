package graft.etl.examples

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft._
import graft.etl.{SparkJob, Stage}
import graft.io.{Warehouse, WarehouseTable}
import graft.ops.{Decontaminate, Dedup, TextAnalysis, Web}
import graft.time.DateInterval
import graft.util.Barrier

/**
 * The CAPSTONE training-data release: the full corpus-to-export chain a
 * 100 TB pretraining pipeline ships, composed from the library's audited
 * stages in their canonical order, with an auditable MANIFEST — per-stage
 * row/token counts, reject reasons, mix shares, packed-sequence totals and
 * an order checksum — emitted as one small, engine-replayable frame (the
 * `release_manifest` battery query hash-matches it against DuckDB).
 *
 * Chain (each stage feeds the next; the manifest reads every stage):
 *
 *  0. `raw` — the day's documents, token-counted once
 *     ([[TextAnalysis.bpeTokenCount]]; the count rides every later stage
 *     so reject rows carry their token cost, not just row counts),
 *  1. `url_dedup` — canonical-URL keep-first ([[Web.dedupByUrl]]; the
 *     cheapest tier runs first: a dropped recrawl never costs a hash),
 *  2. `exact_dedup` — normalized-text keep-first ([[Dedup.exact]]),
 *  3. `near_dedup` — MinHash LSH → Jaccard verify → connected components
 *     → smallest-id representative ([[Dedup.removeNearDuplicates]]),
 *  4. `quality_gate` — the Gopher-style gate ([[TextAnalysis.qualityFlags]]),
 *  5. `decontaminate` — ≥ `minHits` shared word 5-grams with any single
 *     benchmark doc flags a training doc ([[Decontaminate.removeContaminated]]),
 *  6. `target_mix` — deterministic hash-rate rebalancing to the requested
 *     ppm composition ([[TextAnalysis.targetMixSample]]),
 *  7. `mix_share` rows — the realized per-group composition of stage 6,
 *  8. `pack` — context-window sequence packing
 *     ([[TextAnalysis.packSequences]]): rows become packed CHUNKS,
 *  9. `shuffle` — the deterministic export permutation
 *     ([[TextAnalysis.deterministicShuffle]] over the chunk key); its
 *     manifest row carries `checksum = Σ rank·bucket16(key) mod 2^31−1`,
 *     an order-SENSITIVE integer that any engine can replay without
 *     collecting the export (a plain two-column aggregate).
 *
 * Manifest schema: `(ord, stage, detail, n, tokens, checksum)` — `detail`
 * is `kept`, `rejected:<reason>` (one fixed reason per stage) or the mix
 * group; all values exact integers, so the whole audit replays
 * digit-for-digit.
 *
 * Scale: every stage is one of the library's pinned plans (keep-first
 * min_by aggs, the bucketed LSH pipeline, per-row gates, the broadcast
 * gram semi-join, one pack window per source). Each stage frame
 * materializes ONCE (a [[graft.util.Barrier]]: local, or reliable under
 * `spark.checkpoint.dir`) and that barrier's job also OBSERVES the
 * stage's manifest numbers ([[graft.util.Barrier.checkpointObserved]]:
 * row count, token total, per-group mix counts, the shuffle checksum).
 * The manifest is then built on the driver from those stage-count-sized
 * numbers as a local relation — no aggregate job, union or window of its
 * own.
 */
object Release {
  /** One fixed reject reason per chain stage — the manifest's audit
    * vocabulary. */
  val RejectReasons: Seq[(String, String)] = Seq(
    "url_dedup" -> "dup_url",
    "exact_dedup" -> "dup_text",
    "near_dedup" -> "near_dup",
    "quality_gate" -> "low_quality",
    "decontaminate" -> "contaminated",
    "target_mix" -> "mix_downsample")

  /** The packed, shuffled export chunks AND the manifest, as one build
    * (stage frames are shared — the chain runs once for both outputs).
    * `docs` needs `doc_id, url, lang, source, text`; `bench` needs
    * `bench_id, text`. */
  def build(
      docs: DataFrame,
      bench: DataFrame,
      targetsPpm: Map[String, Int],
      contextLen: Int = 512,
      threshold: Double = 0.8,
      minHits: Int = 3,
      shuffleSalt: String = "release"): (DataFrame, DataFrame) = {
    val (s0, r0) = observedStage(docs.select(col("doc_id"), col("url"), col("lang"),
      col("source"), col("text"),
      TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_tokens")))
    val (s1, r1) = observedStage(Web.dedupByUrl(s0, "url", "doc_id"))
    val (s2, r2) = observedStage(Dedup.exact(s1, "text", "doc_id"))
    val (s3, r3) = observedStage(Dedup.removeNearDuplicates(s2, "doc_id", "text", threshold))
    val passes = TextAnalysis.qualityFlags(col("text"))
      .collectFirst { case ("passes", c) => c }.get
    // materialized: the gate's regex battery is per-row expensive and
    // decontaminate reads s4 twice (the gram probe and the anti-join back);
    // round 19 measured the lazy form re-running the gate per read and
    // LOSING 0.5-1 s despite the saved barrier
    val (s4, r4) = observedStage(s3.filter(passes === 1L))
    val (s5, r5) = observedStage(Decontaminate.removeContaminated(
      s4, "doc_id", "text", bench, "bench_id", "text", n = 5, minHits = minHits))
    assemble(s5, stageStats(docs.sparkSession, Seq(r0, r1, r2, r3, r4, r5)),
      targetsPpm, contextLen, shuffleSalt)
  }

  /** Chain stage names by `ord`: `raw`, then the stages with a reject
    * reason. */
  private val StageNames: Seq[String] = "raw" +: RejectReasons.map(_._1)

  /** The `(ord, stage, n, tokens)` stats rows the manifest's kept/rejected
    * rows are built from. The incremental twin persists these per day and
    * SUMS them at cut time (counts and token totals are additive across a
    * day split), which is why the row shape is public to the package. */
  private[examples] val StageStatSchema: StructType = StructType(Seq(
    StructField("ord", LongType, nullable = false),
    StructField("stage", StringType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("tokens", LongType, nullable = false)))

  /** A stage frame's `(n, tokens)`: row count and token total. */
  private val StageMetrics: Seq[Column] = Seq(count(lit(1)).cast("long"),
    coalesce(sum(col("n_tokens")), lit(0L)).cast("long"))

  /** Materializes a stage frame (it has `n_tokens`) and observes its
    * `(n, tokens)` on the same job. */
  private[examples] def observedStage(df: DataFrame): (DataFrame, Row) =
    Barrier.checkpointObserved(df, StageMetrics: _*)

  /** The observed `(n, tokens)` of stages 0, 1, … as a driver-built
    * [[StageStatSchema]] frame. */
  private[examples] def stageStats(spark: SparkSession, observed: Seq[Row]): DataFrame =
    spark.createDataFrame(observed.zipWithIndex.map { case (r, ord) =>
      Row(ord.toLong, StageNames(ord), r.getLong(0), r.getLong(1))
    }.asJava, StageStatSchema)

  /**
   * The release CUT — stages 6–9 (target mix, pack, shuffle) plus manifest
   * assembly — over a curated stage-5-shaped frame and the dedup/gate
   * stats rows (ords 0–5, `(ord, stage, n, tokens)`, collected here once:
   * they are stage-count-sized). Shared verbatim by [[build]] and
   * [[IncrementalRelease.cut]] so the one-shot and incremental manifests
   * are produced by the SAME code path and can only differ if their
   * inputs do (the batch≡incremental law IncrementalReleaseJobSpec pins).
   */
  private[examples] def assemble(
      s5: DataFrame,
      base05: DataFrame,
      targetsPpm: Map[String, Int],
      contextLen: Int,
      shuffleSalt: String): (DataFrame, DataFrame) = {
    // the mix keeps only target langs: one (n, tokens) pair per target
    // observes every mix_share row
    val langs = targetsPpm.keys.toSeq.sorted
    val shareMetrics = langs.flatMap { g =>
      val in = col("lang") === g
      Seq(count(when(in, lit(1))).cast("long"), sum(when(in, col("n_tokens"))).cast("long"))
    }
    val (s6, r6) = Barrier.checkpointObserved(
      TextAnalysis.targetMixSample(s5, "lang", "doc_id", targetsPpm),
      StageMetrics ++ shareMetrics: _*)
    val packed = TextAnalysis.packSequences(
      s6.select(col("doc_id"), col("source"), col("n_tokens")),
      "source", "doc_id", "n_tokens", contextLen)
    val (chunks, pack) = Barrier.checkpointObserved(
      packed.groupBy(col("source"), col("chunk_id"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"))
        .withColumn("chunk_key", concat(col("source"), lit(":"), col("chunk_id"))),
      count(lit(1)).cast("long"), sum(col("n_tokens")).cast("long"))
    // order-sensitive checksum: Σ rank·bucket16 accumulates in DECIMAL(38,0)
    // (a 100 TB export's rank·bucket terms overflow a LONG sum), reduced
    // mod 2^31−1 — a pure integer function of the permutation
    val (shuffled, shuffle) = Barrier.checkpointObserved(
      TextAnalysis.deterministicShuffle(chunks, "chunk_key", shuffleSalt),
      count(lit(1)).cast("long"), sum(col("n_tokens")).cast("long"),
      (sum(col("shuffle_rank").cast("decimal(38,0)") *
        TextAnalysis.hashBucket(col("chunk_key"), "graft")) % 2147483647L).cast("long"))

    // the 7 stage rows (ords 0–6) in `ord` order: each stage's rejected
    // row is its predecessor's kept count minus its own
    val baseCols = base05.select(col("ord"), col("stage"), col("n"), col("tokens"))
    val base = (baseCols.collect().toSeq :+ Row(6L, "target_mix", r6.get(0), r6.get(1)))
      .sortBy(_.getLong(0))
    val reasons = RejectReasons.toMap
    val kept = base.map(r => Row(r.get(0), r.get(1), "kept", r.get(2), r.get(3), null))
    val rejected = base.sliding(2).map { case Seq(prev, r) =>
      Row(r.get(0), r.get(1), "rejected:" + reasons(r.getString(1)),
        prev.getLong(2) - r.getLong(2), prev.getLong(3) - r.getLong(3), null)
    }
    val shares = langs.zipWithIndex.collect {
      case (g, i) if r6.getLong(2 + 2 * i) > 0 =>
        Row(7L, "mix_share", g, r6.get(2 + 2 * i), r6.get(3 + 2 * i), null)
    }
    val rows = kept ++ rejected ++ shares ++ Seq(
      Row(8L, "pack", "kept", pack.get(0), pack.get(1), null),
      Row(9L, "shuffle", "kept", shuffle.get(0), shuffle.get(1), shuffle.get(2)))
    // nullability as a union of the per-stage rows would declare it: ord
    // and stage as the stats rows carry them, every value column nullable
    val schema = StructType(Seq(
      baseCols.schema("ord"), baseCols.schema("stage"),
      StructField("detail", StringType), StructField("n", LongType),
      StructField("tokens", LongType), StructField("checksum", LongType)))
    (shuffled, s5.sparkSession.createDataFrame(rows.asJava, schema))
  }
}

/**
 * [[Release]] as a date-driven warehouse job: per date, read the day's raw
 * documents and the (external, date-independent) benchmark set, run the
 * chain once, and write BOTH the packed/shuffled export chunks and the
 * manifest partition. Reruns are gated on the manifest partition and every
 * write is `WriteTruncate` — crash-rerun idempotent, the library's
 * exactly-once discipline.
 */
class ReleaseJob(
    source: DateInterval => DataFrame,
    benchmark: SparkSession => DataFrame,
    release: WarehouseTable,
    manifest: WarehouseTable,
    targetsPpm: Map[String, Int],
    contextLen: Int = 512,
    threshold: Double = 0.8,
    minHits: Int = 3,
    shuffleSalt: String = "release")
    extends SparkJob {

  override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
    !manifest.exists(spark, date)

  override def stages: Stage[SparkSession, _] = for {
    raw <- "read_docs".source(ctx => source(ctx.date))
    // the chain's value is a PAIR of frames (export, manifest), so these
    // stages use the generic Stage constructor rather than the
    // Dataset-shaped transform/sink helpers
    built <- Stage[org.apache.spark.sql.Dataset[Row], (DataFrame, DataFrame)](
      "release_chain") { ctx =>
      Release.build(ctx.value.toDF(), benchmark(ctx.spark), targetsPpm,
        contextLen, threshold, minHits, shuffleSalt)
    }
    withExport <- Stage[(DataFrame, DataFrame), (DataFrame, DataFrame)](
      "write_release") { ctx =>
      release.save(ctx.value._1, ctx.date, Warehouse.WriteTruncate); ctx.value
    }
    _ <- Stage[(DataFrame, DataFrame), (DataFrame, DataFrame)](
      "write_manifest") { ctx =>
      manifest.save(ctx.value._2, ctx.date, Warehouse.WriteTruncate); ctx.value
    }
  } yield built
}
