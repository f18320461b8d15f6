package graft.etl.examples

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
 * `spark.checkpoint.dir`) because two consumers read it — the next stage
 * and its manifest aggregate; the manifest itself is stage-count-sized
 * rows built from 1-row aggregates and a 7-row lag window (bounded by
 * the stage count, never by data).
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
    val s0 = Barrier.checkpoint(docs.select(col("doc_id"), col("url"), col("lang"),
      col("source"), col("text"),
      TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_tokens")))
    val s1 = Barrier.checkpoint(Web.dedupByUrl(s0, "url", "doc_id"))
    val s2 = Barrier.checkpoint(Dedup.exact(s1, "text", "doc_id"))
    val s3 = Barrier.checkpoint(Dedup.removeNearDuplicates(s2, "doc_id", "text", threshold))
    val passes = TextAnalysis.qualityFlags(col("text"))
      .collectFirst { case ("passes", c) => c }.get
    // materialized: the gate's regex battery is per-row expensive and s4
    // has THREE consumers (decontaminate reads it twice — the gram probe
    // and the anti-join back — plus the stage-4 stats row); round 19
    // measured the lazy form re-running the gate 3× per build and LOSING
    // 0.5-1 s despite the saved barrier
    val s4 = Barrier.checkpoint(s3.filter(passes === 1L))
    val s5 = Barrier.checkpoint(Decontaminate.removeContaminated(
      s4, "doc_id", "text", bench, "bench_id", "text", n = 5, minHits = minHits))
    val base05 = Seq(
      (0L, "raw", s0), (1L, "url_dedup", s1), (2L, "exact_dedup", s2),
      (3L, "near_dedup", s3), (4L, "quality_gate", s4),
      (5L, "decontaminate", s5))
      .map { case (ord, name, df) => stageStat(ord, name, df) }
      .reduce(_ unionByName _)
    assemble(s5, base05, targetsPpm, contextLen, shuffleSalt)
  }

  /** One `(ord, stage, n, tokens)` stats row for a stage frame — the unit
    * the manifest's kept/rejected rows are built from. The incremental
    * twin persists these per day and SUMS them at cut time (counts and
    * token totals are additive across a day split), which is why the row
    * shape is public to the package. */
  private[examples] def stageStat(ord: Long, name: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).cast("long").as("n"),
      coalesce(sum(col("n_tokens")), lit(0L)).cast("long").as("tokens"))
      .select(lit(ord).as("ord"), lit(name).as("stage"), col("n"), col("tokens"))

  /**
   * The release CUT — stages 6–9 (target mix, pack, shuffle) plus manifest
   * assembly — over a curated stage-5-shaped frame and the dedup/gate
   * stats rows (ords 0–5). Shared verbatim by [[build]] and
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
    val s6 = Barrier.checkpoint(
      TextAnalysis.targetMixSample(s5, "lang", "doc_id", targetsPpm))
    val packed = TextAnalysis.packSequences(
      s6.select(col("doc_id"), col("source"), col("n_tokens")),
      "source", "doc_id", "n_tokens", contextLen)
    val chunks = Barrier.checkpoint(packed.groupBy(col("source"), col("chunk_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
      .withColumn("chunk_key",
        concat(col("source"), lit(":"), col("chunk_id"))))
    val shuffled = Barrier.checkpoint(
      TextAnalysis.deterministicShuffle(chunks, "chunk_key", shuffleSalt))

    val noChk = lit(null).cast("long").as("checksum")
    // materialized: the kept AND rejected branches both read the 7-row
    // stage-stats frame — without the barrier each branch DUPLICATES the
    // whole aggregate-union subtree (2×7 single-partition exchanges, an
    // AQE stage each; round 19 measured the lazy form costing +2 s on
    // the protocol bench despite the saved job — the barrier here buys
    // plan deduplication, not data reuse)
    val base = Barrier.checkpoint(base05.unionByName(stageStat(6L, "target_mix", s6)))
    val kept = base.select(col("ord"), col("stage"), lit("kept").as("detail"),
      col("n"), col("tokens"), noChk)
    // the lag window is global over the STAGE-COUNT-sized frame (7 rows by
    // construction) — bounded control flow, not a data-sized one-reducer sort
    val wOrd = Window.orderBy(col("ord"))
    val reason = RejectReasons.foldLeft(lit(null).cast("string")) {
      case (alt, (stage, r)) => when(col("stage") === stage, lit(r)).otherwise(alt)
    }
    val rejected = base
      .withColumn("__pn", lag(col("n"), 1).over(wOrd))
      .withColumn("__pt", lag(col("tokens"), 1).over(wOrd))
      .where(col("ord") >= 1)
      .select(col("ord"), col("stage"),
        concat(lit("rejected:"), reason).as("detail"),
        (col("__pn") - col("n")).as("n"),
        (col("__pt") - col("tokens")).as("tokens"), noChk)
    val shares = s6.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("n_tokens")).cast("long").as("tokens"))
      .select(lit(7L).as("ord"), lit("mix_share").as("stage"),
        col("lang").as("detail"), col("n"), col("tokens"), noChk)
    val packRow = chunks
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("n_tokens")).cast("long").as("tokens"))
      .select(lit(8L).as("ord"), lit("pack").as("stage"),
        lit("kept").as("detail"), col("n"), col("tokens"), noChk)
    // order-sensitive checksum: Σ rank·bucket16 accumulates in DECIMAL(38,0)
    // (a 100 TB export's rank·bucket terms overflow a LONG sum), reduced
    // mod 2^31−1 — a pure integer function of the permutation
    val shuffleRow = shuffled
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("n_tokens")).cast("long").as("tokens"),
        (sum(col("shuffle_rank").cast("decimal(38,0)") *
          TextAnalysis.hashBucket(col("chunk_key"), "graft")) % 2147483647L)
          .cast("long").as("checksum"))
      .select(lit(9L).as("ord"), lit("shuffle").as("stage"),
        lit("kept").as("detail"), col("n"), col("tokens"), col("checksum"))
    val manifest = Seq(kept, rejected, shares, packRow, shuffleRow)
      .reduce(_ unionByName _)
    (shuffled, manifest)
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
