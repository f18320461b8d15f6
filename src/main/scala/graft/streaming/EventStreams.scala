package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/**
 * Structured Streaming operators over the `events` stream shape
 * (`event_id, ts, user_id, event_type, value`): the streaming half of the
 * batch battery — watermarked windowed rollups, exactly-once-ish streaming
 * dedup, and stateful gap sessionization.
 *
 * Scale notes: every operator keys its state by a high-cardinality column
 * (`user_id`, `event_id`), so state partitions across executors; watermarks
 * bound state size (late data beyond the watermark is dropped, state for
 * closed windows/sessions is evicted). At 100 TB/day the same topology runs
 * with a checkpoint dir on durable storage and more shuffle partitions.
 */
case class Event(eventId: Long, ts: Timestamp, userId: Long, eventType: String, value: Double)

/** A closed user session emitted once the gap (and watermark) passes. */
case class Session(userId: Long, startMs: Long, endMs: Long, nEvents: Long) {
  def durationMs: Long = endMs - startMs
}

private[streaming] case class SessionState(startMs: Long, endMs: Long, n: Long)

/** A flagged (event_type, window) whose count spiked vs its trailing average. */
case class VolumeAnomaly(
    eventType: String, windowStartMs: Long, n: Long, prevN: Long, prevWindows: Long)

private[streaming] case class VolumeState(
    open: Map[Long, Long], closed: Seq[(Long, Long)])

object EventStreams {

  implicit val eventEncoder: Encoder[Event] = Encoders.product[Event]
  implicit val sessionEncoder: Encoder[Session] = Encoders.product[Session]
  implicit val volumeAnomalyEncoder: Encoder[VolumeAnomaly] = Encoders.product[VolumeAnomaly]
  private implicit val stateEncoder: Encoder[SessionState] = Encoders.product[SessionState]
  private implicit val volumeStateEncoder: Encoder[VolumeState] = Encoders.product[VolumeState]
  private implicit val longEncoder: Encoder[Long] = Encoders.scalaLong
  private implicit val stringEncoder: Encoder[String] = Encoders.STRING

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Stream of events from a directory of parquet/json drops. */
  def readEvents(spark: SparkSession, path: String, format: String = "parquet"): DataFrame =
    spark.readStream.schema(eventSchema).format(format).load(path)

  /**
   * The one window law of every rollup below: watermark `ts`, add the
   * tumbling `window` column, hand that frame and `"window" +: keys` to a
   * cells function — a batch cells operator, so a window's cells ARE the
   * batch cells of its rows, or [[aggCells]] — and emit `window.start` as
   * `window_start`. Cells from disjoint windows add up like cells from
   * disjoint batch slices.
   */
  private def windowed(
      events: DataFrame,
      windowLength: String,
      watermark: String,
      keys: Seq[String])(cells: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    val out = cells(
      events.withWatermark("ts", watermark).withColumn("window", window(col("ts"), windowLength)),
      "window" +: keys)
    out.select(col("window.start").as("window_start") +:
      out.columns.filterNot(_ == "window").map(col): _*)
  }

  /** The cells function of a rollup with no batch twin: one aggregate list. */
  private def aggCells(aggs: Column*)(df: DataFrame, groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)

  /**
   * Tumbling-window rollup per event type. With Append output the row for a
   * window emits exactly once, when the watermark passes the window end —
   * the streaming twin of the batch `events_daily_rollup`.
   */
  def windowedRollup(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    windowed(events, windowLength, watermark, Seq("event_type"))(
      aggCells(count(lit(1)).as("n"), sum(col("value")).as("total_value")))

  /**
   * Windowed unique-user rollup with a HyperLogLog++ sketch
   * (`approx_count_distinct`): exact streaming distinct needs state
   * proportional to the id universe per window; the sketch is a fixed-size
   * register set per (window, event_type), mergeable across partitions —
   * the only way a distinct-users metric survives 100 TB/day. At small
   * cardinalities HLL++ runs in sparse mode and is exact; `rsd` trades
   * sketch size against error at scale.
   */
  def uniqueUsersRollup(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes",
      rsd: Double = 0.05): DataFrame =
    windowed(events, windowLength, watermark, Seq("event_type"))(
      aggCells(count(lit(1)).as("n"), approx_count_distinct(col("user_id"), rsd).as("approx_users")))

  /**
   * Windowed value-quantile rollup with a mergeable quantile sketch
   * (`percentile_approx`, Greenwald-Khanna): exact streaming quantiles
   * need every value per window in state; the sketch keeps a bounded
   * summary per (window, event_type) that merges across partitions and
   * micro-batches — the streaming twin of the batch bottom-k rollup
   * ([[graft.ops.Sketches.quantileSketch]]). `accuracy` trades state size
   * against rank error (1/accuracy relative rank); at small windows the
   * summary holds everything and the result is exact.
   */
  def valueQuantilesRollup(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes",
      quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99),
      accuracy: Int = 1000): DataFrame =
    windowed(events, windowLength, watermark, Seq("event_type"))(
      aggCells(count(lit(1)).as("n"),
        percentile_approx(col("value"),
          array(quantiles.map(lit): _*), lit(accuracy)).as("value_quantiles")))

  /**
   * S19 — windowed OLS trend rollup: per (window, event_type) the
   * [[graft.ops.Stats.olsSums]] of `value` against epoch-second time,
   * with x kept GLOBAL (seconds since epoch, not window-relative) so
   * emitted window rows merge across any horizon
   * ([[graft.ops.Stats.mergeOlsSums]]) and finish into the exact fit over
   * the union ([[graft.ops.Stats.olsFromSums]]) — "is this metric
   * drifting, per hour and per month" from seven numbers of state per
   * window.
   */
  def olsTrendRollup(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    windowed(events, windowLength, watermark, Seq("event_type")) { (d, g) =>
      graft.ops.Stats.olsSums(d.withColumn("__x", unix_timestamp(col("ts"))), g, "__x", "value")
    }

  /**
   * S20 — windowed A/B cells rollup: per (window, event_type) the
   * DECIMAL(38,0) 2x2 cells of [[graft.ops.Stats.chiSquare2x2]] over
   * `exposureExpr` x `outcomeExpr` (SQL boolean expressions evaluated
   * per row). Cells ADD across windows, so emitted rows re-aggregate to
   * any horizon and finish into the exact staged chi-squared/lift via
   * [[graft.ops.Stats.chi2FromCells]] — live experiment monitoring per
   * hour AND per campaign from one pass.
   */
  def abCellsRollup(
      events: DataFrame,
      exposureExpr: String,
      outcomeExpr: String,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    windowed(events, windowLength, watermark, Seq("event_type"))(
      graft.ops.Stats.chi2Cells(_, _, expr(exposureExpr), expr(outcomeExpr)))

  /**
   * Windowed HEAVY-HITTERS rollup with the mergeable Misra-Gries summary
   * ([[graft.functions.MisraGries]] — the streaming twin of
   * [[graft.ops.Sketches.heavyHittersRollup]]): exact streaming top-key
   * counting needs per-window state proportional to the key universe; the
   * summary keeps at most `capacity` counters per (window, event_type)
   * that merge across partitions and micro-batches with the
   * n/(capacity+1) bound intact. Emits the summary column itself
   * (`hh_summary`, sorted `(cnt DESC, key)`), so a sink can both report
   * top keys and re-roll windows to coarser horizons later
   * ([[graft.ops.Sketches.reRollupHeavyHitters]]) — hot-domain / hot-user
   * monitoring that survives 100 TB/day.
   */
  def heavyHittersRollup(
      events: DataFrame,
      keyCol: String = "user_id",
      windowLength: String = "1 hour",
      watermark: String = "10 minutes",
      capacity: Int = 256): DataFrame =
    windowed(events, windowLength, watermark, Seq("event_type"))(
      aggCells(count(lit(1)).as("n"),
        graft.functions.functions
          .misra_gries(col(keyCol).cast("string"), capacity).as("hh_summary")))

  /**
   * S18 — windowed COUNT-MIN rollup ([[graft.functions.CountMinSketch]],
   * the streaming twin of [[graft.ops.Sketches.cmsRollup]]): per
   * (window, event_type) a fixed `depth x width` counter grid answering
   * "how often did THIS key occur" for ANY key — the point-frequency
   * complement of the Misra-Gries tier (which only retains dominators).
   * The grid merges EXACTLY (element-wise add) across partitions and
   * micro-batches, and emitted windows re-roll to coarser horizons later
   * ([[graft.ops.Sketches.reRollupCms]]) bit-identically to a sketch
   * built from the union — state per window is the 32 KB grid however
   * many distinct keys flow through.
   */
  def cmsRollup(
      events: DataFrame,
      keyCol: String = "user_id",
      windowLength: String = "1 hour",
      watermark: String = "10 minutes",
      width: Int = 1024,
      depth: Int = 4): DataFrame =
    windowed(events, windowLength, watermark, Seq("event_type"))(
      aggCells(count(lit(1)).as("n"),
        graft.functions.functions
          .count_min(col(keyCol).cast("string"), width, depth).as("cms")))

  /**
   * S21 — windowed HISTOGRAM cells, the streaming feed of the
   * distribution-drift suite ([[graft.ops.Drift.histogramDrift]] /
   * [[graft.ops.Drift.chi2FromKx2Cells]]): per (window, event_type, bin)
   * an exact count over FIXED caller-supplied integer edges
   * (`bin = clamp((v - lo) DIV width, 0, bins-1)` — a stream cannot scan
   * for min/max the way batch [[graft.ops.DataQuality.histogram]] does;
   * out-of-range values CLAMP into the edge bins so mass is conserved and
   * totals stay comparable). Cells are trivially mergeable (counts add
   * per bin), so emitted windows re-aggregate to any horizon and finish
   * against a reference histogram with the exact staged chi-squared —
   * live distribution-shift monitoring per hour AND per campaign from at
   * most `bins` counters per (window, type). Null values are dropped
   * (count them separately if absence is the signal).
   */
  def histogramCellsRollup(
      events: DataFrame,
      valueCol: String = "value",
      lo: Long = 0L,
      width: Long = 10L,
      bins: Int = 20,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val bin = least(greatest(
      expr(s"(CAST($valueCol AS BIGINT) - ${lo}L) DIV ${width}L"), lit(0L)),
      lit((bins - 1).toLong))
    windowed(events, windowLength, watermark, Seq("event_type")) { (d, g) =>
      aggCells(count(lit(1)).as("n"))(
        d.where(col(valueCol).cast("long").isNotNull).withColumn("bin", bin), g :+ "bin")
    }
  }

  /**
   * S26 — windowed POWER-OF-TWO histogram cells: per (window, event_type,
   * bin) the counts of [[graft.ops.DataQuality.log2Histogram]]
   * (`bin = bit-length(v) − 1`, non-positive values in bin −1) for
   * LONG-TAILED value streams — the bins are a pure function of the
   * VALUE, never of observed min/max, so unlike S21's fixed-edge cells
   * nothing has to be tuned up front and a spend column that grows 100×
   * next month still lands in comparable bins. Cells ADD across
   * windows/partitions/days and finish against any reference through
   * [[graft.ops.Drift.histogramDrift]] or
   * [[graft.ops.Drift.tvFromKx2Cells]]; at most 65 counters per
   * (window, type).
   */
  def log2CellsRollup(
      events: DataFrame,
      valueCol: String = "value",
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    windowed(events, windowLength, watermark, Seq("event_type"))(
      graft.ops.DataQuality.log2Cells(_, _, valueCol))

  /**
   * S22 — windowed CALIBRATION cells, the streaming feed of the
   * classifier-calibration gate ([[graft.ops.Stats.calibrationFromCells]]
   * → [[graft.ops.Stats.eceFromBins]]): per (window, event_type, bin) the
   * [[graft.ops.Stats.calibrationCells]] numerators `(n, sum_score, pos)`
   * over the fixed [0, 1e6]-ppm bin edges — numerators, not rates,
   * because numerators merge digit-for-digit across windows and days
   * while truncated rates would compose truncations. At most `bins`
   * counters per (window, type) — a 100 TB/day stream reduces to KBs of
   * state.
   */
  def calibrationCellsRollup(
      events: DataFrame,
      scorePpmCol: String,
      outcomeCol: String,
      bins: Int = 10,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    windowed(events, windowLength, watermark, Seq("event_type"))(
      graft.ops.Stats.calibrationCells(_, _, scorePpmCol, outcomeCol, bins))

  /**
   * S27 — windowed BRIER numerators: per (window, event_type) the
   * `(n, se)` cells of [[graft.ops.Stats.brierScore]], with
   * `se = Σ(score_ppm − y·1e6)²` in DECIMAL(38,0) — numerators, not the
   * finished score, because numerators ADD digit-for-digit across
   * windows/days (the S22 discipline); any horizon finishes with the
   * batch division `se DIV (n·1e6)`. Two numbers of state per
   * (window, type).
   */
  def brierCellsRollup(
      events: DataFrame,
      scorePpmCol: String,
      outcomeCol: String,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    windowed(events, windowLength, watermark, Seq("event_type"))(
      graft.ops.Stats.brierCells(_, _, scorePpmCol, outcomeCol))

  /**
   * S23 — windowed k×2 CELLS, the streaming feed of the CATEGORICAL
   * drift gate ([[graft.ops.Drift.chi2FromKx2Cells]], the finisher
   * behind `category_drift`): per (window, category) the
   * [[graft.ops.Drift.kx2Cells]] two-sample counts `(a, b)`, with `inA`
   * labeling each event's sample (deploy ring, cohort, traffic split).
   * Counts ADD per category, so emitted windows re-aggregate to any
   * horizon and finish to the exact staged chi-squared — the windowed
   * treatment S21 gives a value distribution, for the event-type/
   * language/source MIX. State per window is one `(a, b)` pair per live
   * category.
   */
  def kx2CellsRollup(
      events: DataFrame,
      categoryCol: String = "event_type",
      inA: Column = col("user_id") % 2 === 0,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    windowed(events, windowLength, watermark, Nil)(
      graft.ops.Drift.kx2Cells(_, _, categoryCol, inA))

  /**
   * S24 — windowed GRAM-MATRIX rollup over an embedding stream: per
   * (window, label) the packed `[n | Σx_i | Σx_i·x_j]` micro-unit
   * aggregate behind [[graft.ops.Similarity.gramSums]]
   * ([[graft.functions.GramMatrix]] — per-row truncate then exact long
   * accumulate, so cells are a pure function of the vector multiset).
   * Summaries merge EXACTLY (`gram_merge` element-wise add) across
   * windows, partitions and days, so hourly emissions re-roll to the
   * all-time covariance/PCA statistics bit-identically to a batch gram
   * over the union, from `1 + d + d²` longs of state per (window, label).
   * Wrong-dimension vectors fail loudly (a silent skip would bias the
   * statistics).
   */
  def gramCellsRollup(
      vecs: DataFrame,
      vecCol: String = "embedding",
      labelCol: String = "label",
      dim: Int = 64,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    windowed(vecs, windowLength, watermark, Seq(labelCol))(
      graft.ops.Similarity.gramCells(_, _, vecCol, dim))

  /**
   * S25 — windowed KMV SET-sketch rollup: per (window, event_type) the
   * [[graft.ops.Sketches.kmvSetSketch]] of `keyCol` — the `k` smallest
   * distinct `md5(key)` hashes ([[graft.functions.BottomKDistinct]],
   * dedup inside the O(k) buffer). Emitted window sketches merge EXACTLY
   * ([[graft.ops.Sketches.reRollupKmvSetSketch]]) to any horizon, then
   * answer audience INTERSECTION/Jaccard between types or days via
   * [[graft.ops.Sketches.kmvSetOps]] — the set-overlap question HLL's
   * distinct counter (S2) cannot, from k strings of state per
   * (window, type).
   */
  def kmvSetCellsRollup(
      events: DataFrame,
      keyCol: String = "user_id",
      windowLength: String = "1 hour",
      watermark: String = "10 minutes",
      k: Int = 128): DataFrame =
    windowed(events, windowLength, watermark, Seq("event_type"))(
      graft.ops.Sketches.kmvSetSketch(_, _, keyCol, k))

  /**
   * S28 — windowed CONFUSION-cells rollup, the streaming twin of the
   * [[graft.ops.Stats.f1FromConfusion]] feed: per (window, true, pred)
   * label pair, the count cell of a live classifier's scoring stream.
   * Cells from disjoint windows/partitions/days ADD per (true, pred)
   * before finishing (the same mergeable-cells law as S23's k×2 drift
   * cells), so hourly emissions re-roll to the all-time confusion matrix
   * bit-identically to a batch count over the union — live per-class
   * precision/recall/F1 monitoring from one long of state per live
   * (window, true, pred) cell, however many predictions flow through.
   * Null labels on either side drop (an unlabeled or unscored row
   * carries no confusion information).
   */
  def confusionCellsRollup(
      scored: DataFrame,
      trueCol: String = "label",
      predCol: String = "pred",
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    windowed(scored, windowLength, watermark, Seq(trueCol, predCol)) { (d, g) =>
      aggCells(count(lit(1)).as("n"))(
        d.where(col(trueCol).isNotNull && col(predCol).isNotNull), g)
    }

  /**
   * S29 — windowed VARIANCE-DECOMPOSITION cells: per (window, group,
   * category) the DECIMAL(38,0) `(n, s, ss)` sum triple behind
   * [[graft.ops.Stats.etaSquared]] — sufficient statistics, not the
   * finished ratio, so cells ADD element-wise across windows/partitions/
   * days (the S22/S27 numerator discipline) and any horizon finishes
   * through [[graft.ops.Stats.etaSquaredFromCells]] bit-identically to a
   * batch η² over the union: live seasonality-strength / feature-
   * association monitoring from THREE numbers of state per (window,
   * group, category). `valueCol` must be integral (cents, counts — the
   * exactness contract).
   */
  def etaCellsRollup(
      events: DataFrame,
      groupCol: String = "event_type",
      categoryCol: String = "category",
      valueCol: String = "value_units",
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    windowed(events, windowLength, watermark, Seq(groupCol))(
      graft.ops.Stats.etaCells(_, _, categoryCol, valueCol))

  /**
   * S30 — windowed PREFERENCE cells: per (window, canonical pair) the
   * [[graft.ops.Retrieval.preferenceCells]] judgment counts
   * `(lo, hi, wins_lo, wins_hi, ties)` of a live preference/judgment
   * stream (`itemA, itemB, winner`; winner null = tie). Cells ADD per
   * pair across windows/days, so any horizon finishes through
   * [[graft.ops.Retrieval.copelandFromCells]] bit-identically to a
   * batch leaderboard over the union — a LIVE RLHF preference
   * leaderboard from three longs of state per (window, pair).
   */
  def preferenceCellsRollup(
      judgments: DataFrame,
      itemACol: String = "item_a",
      itemBCol: String = "item_b",
      winnerCol: String = "winner",
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    windowed(judgments, windowLength, watermark, Nil)(
      graft.ops.Retrieval.preferenceCells(_, _, itemACol, itemBCol, winnerCol))

  /**
   * S31 — windowed POISSON-BOOTSTRAP cells: per (window, group,
   * replicate) the DECIMAL(38,0) `(nw, s)` weighted sums behind
   * [[graft.ops.Stats.poissonBootstrapCI]], the replicate weights drawn
   * by [[graft.ops.Stats.poissonWeightArray]] — a pure function of the
   * ids, so cells ADD element-wise across windows/days and any horizon
   * finishes to replicate means (then the nearest-rank CI band)
   * bit-identically to a batch bootstrap over the union: LIVE
   * confidence intervals on a streaming metric from `2·b` decimals of
   * state per (window, group).
   */
  def bootstrapCellsRollup(
      events: DataFrame,
      groupCol: String = "event_type",
      idCol: String = "event_id",
      valueCol: String = "value_units",
      b: Int = 32,
      salt: String = "boot",
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    windowed(events, windowLength, watermark, Seq(groupCol))(
      graft.ops.Stats.bootstrapCells(_, _, idCol, valueCol, b, salt))

  /**
   * Streaming exact dedup on `idCol`: duplicates arriving within the
   * watermark horizon are dropped; the watermark bounds the id-set state.
   */
  def dedup(events: DataFrame, idCol: String = "event_id", watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(idCol)

  /**
   * Stream-static enrichment: join the event stream against a (batch) dim
   * table. Stream-static joins are stateless — each micro-batch joins
   * against the current dim snapshot, and a broadcast dim never shuffles
   * the stream.
   */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /**
   * Streaming twin of [[graft.etl.examples.IncrementalDedupJob]]: drop
   * streamed documents whose normalized-content fingerprint already exists
   * in the (batch) fingerprint store, then drop in-stream repeats within
   * the watermark horizon. The store anti-join is stream-static — stateless
   * per micro-batch, re-snapshotted each trigger — so only the within-
   * stream dedup keeps state, and the watermark bounds it. Emits the input
   * columns plus the computed `fp`.
   */
  def dedupAgainstStore(
      docs: DataFrame,
      store: DataFrame,
      textCol: String = "text",
      tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", graft.ops.TextAnalysis.fingerprint(col(textCol)))
      .join(store.select(col("fp")), Seq("fp"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /**
   * S13 — streaming URL-canonical dedup, the stream twin of
   * [[graft.ops.Web.dedupByUrl]] (the cheapest dedup tier of a crawl
   * funnel): canonicalize each document's URL, drop rows whose canonical
   * URL the batch store already holds (stream-static anti-join —
   * recrawls of known pages), then drop in-stream repeats within the
   * watermark (`dropDuplicatesWithinWatermark` — state bounded by the
   * horizon, never by crawl history). Rows with a NULL URL pass through
   * both filters (no URL != same URL), matching the batch operator; the
   * canonical URL lands as `canon_url` so the sink can append survivors
   * back into the store, closing the incremental loop.
   *
   * First-seen wins within the horizon — the arrival-order analogue of
   * the batch min_by keeper. Scale: the store side prunes to one column;
   * streaming state keys are the canonical URLs seen inside the
   * watermark only.
   */
  def dedupUrlsAgainstStore(
      docs: DataFrame,
      store: DataFrame,
      urlCol: String = "url",
      tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame = {
    val withCanon = docs.withColumn("canon_url",
      graft.ops.Web.normalizeUrl(col(urlCol)))
    val deduped = withCanon
      .filter(col("canon_url").isNotNull)
      .join(store.select(col("canon_url")), Seq("canon_url"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("canon_url")
    deduped.unionByName(withCanon.filter(col("canon_url").isNull))
  }

  /**
   * S14 — streaming NEAR-dedup, the stream twin of
   * [[graft.etl.examples.IncrementalNearDedupJob]]'s cross-date tier: the
   * MinHash tier a crawl ingest needs beside the exact (S8) and URL (S13)
   * tiers, since recrawls routinely differ by a timestamp or ad block and
   * fingerprint/URL equality both miss them.
   *
   * Per row the codegen'd [[graft.functions.MinHashSignature]] kernel
   * computes the signature and its LSH band hashes — stateless, scan-speed.
   * Then two tiers:
   *
   *  1. **Store tier** — one stream-static LEFT ANTI join per band against
   *     the batch band store (the SAME `(band, bh)` rows
   *     [[graft.ops.Dedup.bandedIds]] writes, so batch and stream band
   *     hashes can never drift): a document any of whose bands the store
   *     holds is a candidate duplicate of history and is dropped.
   *     Stateless — re-snapshotted per micro-batch, no streaming state.
   *     **Precision tradeoff, by default**: candidates are dropped
   *     UNVERIFIED — a document sharing even ONE band with any stored
   *     document is gone permanently. At rows-per-band r = 3 a pair with
   *     true similarity s collides per band with probability s^3 (~41%
   *     across 4 bands at s = 0.5), so this tier is strictly MORE
   *     aggressive than batch
   *     [[graft.ops.Dedup.removeNearDuplicates]], which keeps sub-threshold
   *     candidates; the two verdicts agree on clear dups and clear
   *     non-dups but diverge in the gray zone.
   *     **Opt-in exact verify** — pass `verifyDocs` (the stored documents'
   *     `(id, text)`, the corpus the band store was built from) and the
   *     store tier trades that precision back: each band collision joins
   *     the colliding stored document's word shingles and a row is dropped
   *     only when the exact shingle Jaccard (the IDENTICAL
   *     [[graft.ops.Dedup.jaccard]] expression batch verification uses)
   *     clears `verifyThreshold` — a below-threshold band collision now
   *     SURVIVES, matching the batch verdict on the store tier. Still
   *     stateless: the verify is a residual predicate on the same
   *     stream-static band equi-join (shingles ride the static side,
   *     re-snapshotted per micro-batch; the stream side shingles are
   *     per-row codegen). Cost: the anti-join becomes band-equal pairs x
   *     one array-intersect each — bounded by band-collision count, the
   *     same verify cost the batch tier pays.
   *  2. **In-stream tier** — `dropDuplicatesWithinWatermark` per band
   *     column: first-seen wins per band bucket inside the watermark
   *     horizon, so near-identical documents arriving together also
   *     collapse. State is band-hash-keyed and watermark-bounded, never
   *     crawl-history-sized. (Chained per-band dedup checks later rows
   *     against SURVIVORS' bands — a row dropped at band b does not leave
   *     its other bands in state, the arrival-order analogue of batch
   *     clustering keeping one representative per cluster.)
   *
   * Emits the input columns plus `band0..band{b-1}` so the sink can append
   * survivors' bands back to the store ([[graft.io.WarehouseTable]]),
   * closing the incremental loop exactly like the batch job.
   */
  def dedupNearAgainstStore(
      docs: DataFrame,
      store: DataFrame,
      textCol: String = "text",
      tsCol: String = "ts",
      numHashes: Int = 12,
      rowsPerBand: Int = 3,
      watermark: String = "10 minutes",
      scriptAware: Boolean = false,
      verifyDocs: Option[DataFrame] = None,
      verifyIdCol: String = "id",
      verifyTextCol: String = "text",
      verifyThreshold: Double = 0.8): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide evenly into bands")
    val bands = numHashes / rowsPerBand
    val banded = graft.ops.Dedup
      .withMinhashSignature(docs, textCol, numHashes, scriptAware)
      .select(docs.columns.map(col) ++
        graft.ops.Dedup.bandHashes(numHashes, rowsPerBand): _*)
    val unseen = verifyDocs match {
      case None =>
        (0 until bands).foldLeft(banded) { (acc, b) =>
          acc.join(
            store.filter(col("band") === b).select(col("bh").as(s"band$b")),
            Seq(s"band$b"), "left_anti")
        }
      case Some(stored) =>
        // verified store tier: re-band the stored docs (bit-identical to
        // the store rows by construction — same bandedIds recipe) and keep
        // their shingles beside each (band, bh) row; a stream row is
        // dropped only when a band-equal stored doc ALSO clears the exact
        // Jaccard, evaluated as a residual on the hash equi-join
        val storedSh = graft.ops.Dedup
          .bandedIds(stored, verifyIdCol, verifyTextCol, numHashes,
            rowsPerBand, scriptAware)
          .join(
            stored.select(col(verifyIdCol),
              graft.ops.Dedup.wordShingles(col(verifyTextCol),
                scriptAware = scriptAware).as("__vsh")),
            verifyIdCol)
        val withSh = banded.withColumn("__ssh",
          graft.ops.Dedup.wordShingles(col(textCol), scriptAware = scriptAware))
        (0 until bands).foldLeft(withSh) { (acc, b) =>
          val side = storedSh.filter(col("band") === b)
            .select(col("bh").as(s"__vbh$b"), col("__vsh"))
          acc.join(side,
            acc(s"band$b") === side(s"__vbh$b") &&
              graft.ops.Dedup.jaccard(acc("__ssh"), side("__vsh"))
                >= verifyThreshold,
            "left_anti")
        }.drop("__ssh")
    }
    (0 until bands).foldLeft(unseen.withWatermark(tsCol, watermark)) {
      (acc, b) => acc.dropDuplicatesWithinWatermark(s"band$b")
    }
  }

  /**
   * S15 — streaming SEMANTIC dedup, the stream twin of
   * [[graft.etl.examples.IncrementalSemanticDedupJob]]: the embedding-space
   * tier beside exact (S8), URL (S13) and MinHash (S14), for paraphrases
   * and re-renders that share no n-grams. Reads the SAME two stores the
   * batch job maintains.
   *
   * Per row, [[graft.ops.Similarity.nearestCentroidCol]] assigns the IVF
   * cell with the centroid table fused into the expression (k x dim floats
   * — no join, no window, which streams could not run anyway; `centroids`
   * is collected ONCE at query definition, correct because the batch job
   * pins centroids forever). Then two tiers:
   *
   *  1. **Store tier** — one stream-static LEFT ANTI join against the
   *     keeper store on `centroid_id` equality plus the SAME 4-dp cosine
   *     threshold the batch job applies: a document duplicating any stored
   *     keeper is dropped, with full verification (unlike S14's band-only
   *     drop, the cosine IS the batch predicate — batch and stream agree
   *     exactly on this tier). Stateless, re-snapshotted per micro-batch.
   *  2. **In-stream tier** — `dropDuplicatesWithinWatermark` on a
   *     `sketchBits`-bit sign sketch of the vector
   *     ([[graft.ops.Similarity.signSketch]]). **Precision tradeoff, by
   *     design**: in-flight near-dups collapse only when they share the
   *     whole sketch (a near-dup pair straddling one hyperplane is KEPT —
   *     the batch job would drop it; they reconcile when the batch store
   *     catches up), and unrelated vectors sharing a sketch are DROPPED
   *     unverified (probability ~2^-sketchBits for random pairs). State is
   *     sketch-keyed and watermark-bounded.
   *
   * Emits the input columns plus `centroid_id` and `sem_sketch`, so the
   * sink can append survivors `(centroid_id, id, vec)` back to the keeper
   * store, closing the incremental loop exactly like the batch job.
   */
  def dedupSemanticAgainstStore(
      docs: DataFrame,
      keepers: DataFrame,
      centroids: DataFrame,
      vecCol: String = "embedding",
      tsCol: String = "ts",
      threshold: Double = 0.9,
      watermark: String = "10 minutes",
      sketchBits: Int = 24): DataFrame = {
    import graft.ops.Similarity
    val cents = centroids.select(col("centroid_id").cast("int"), col("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
      .toSeq.sortBy(_._1)
    val assigned = docs.withColumn("centroid_id",
      Similarity.nearestCentroidCol(col(vecCol), cents))
    val k = keepers.select(col("centroid_id").as("__kcid"), col(vecCol).as("__kvec"))
    val unseen = assigned.join(k,
      assigned("centroid_id") === k("__kcid") &&
        round(Similarity.cosine(col(vecCol), col("__kvec")), 4) >= threshold,
      "left_anti")
    unseen
      .withColumn("sem_sketch", Similarity.signSketch(col(vecCol), sketchBits))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("sem_sketch")
  }

  /**
   * Stream-stream join within a time bound: each left event pairs with the
   * right-stream events for the same key that occurred in the `maxGap`
   * window before it (e.g. purchases matched to the clicks that preceded
   * them). Both sides are watermarked and the join carries an explicit
   * event-time range condition, which is what lets Spark EVICT buffered
   * state — a stream-stream join without the range would buffer both
   * streams forever. State partitions by the join key.
   */
  def joinWithin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      maxGap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") >= col("l.ts") - expr(s"INTERVAL $maxGap") &&
        col("r.ts") <= col("l.ts"))
  }

  /**
   * S6 — stream into a date-partitioned [[WarehouseTable]] via
   * `foreachBatch`: each micro-batch appends to the partition of its
   * processing date, so downstream batch jobs (and `shouldRunForDate`
   * gates) see streaming output exactly like batch output.
   *
   * EXACTLY-ONCE, not at-least-once: the batch lands through
   * [[graft.io.WarehouseTable.saveStreamBatch]], which keys the append on
   * the `foreachBatch` batchId with a marker-commit protocol — a
   * micro-batch replayed after a partial write scrubs its own partials
   * and a replay after a completed commit is a no-op, matching the
   * crash-safe discipline of the batch MERGE path. `date()` should be
   * stable across a batch's retries (see `saveStreamBatch`'s scaladoc for
   * the midnight-roll caveat of a wall-clock date).
   *
   * `sinkId` namespaces the commit markers per query lineage — REQUIRED
   * the moment a partition can see more than one writer lineage (two
   * queries sharing a table, or a checkpoint reset restarting batchIds
   * at 0, whose replayed ids would otherwise hit the old lineage's
   * markers and silently drop new batches). Use the query's stable name;
   * keep it in lockstep with `checkpointLocation` (new checkpoint → new
   * sinkId, or clear the old sinkId's `_graft_batch-*` markers).
   */
  def warehouseSink(
      events: DataFrame,
      table: graft.io.WarehouseTable,
      date: () => graft.time.DateInterval = () => graft.time.Day.today,
      sinkId: String = "")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      table.saveStreamBatch(batch, date(), batchId, sinkId)
    }

  /**
   * The scan-speed curation verdicts on a document frame, batch OR
   * streaming — every gate here is a pure per-row codegen expression
   * (Gopher quality flags; optionally the CCNet-style typicality score as
   * a literal map, [[graft.ops.TextAnalysis.typicalityScoreColN]] —
   * `typicalityN` picks the gram order, 1 = bag-of-words, 2 = bigrams), so the
   * SAME column logic produces bit-identical verdicts on a static
   * DataFrame and on every micro-batch — no state, no watermark, no
   * batch/stream divergence to reason about. Adds `passes` (boolean) and
   * `reject_reason` (first failing gate in declaration order —
   * `ok_word_count`/`ok_mean_word_len`/`ok_symbol_ratio`/
   * `ok_distinct_ratio`/`atypical`/`low_quality_score` — null when
   * passing). With `qualityWeights` supplied, a trained linear quality
   * model ([[graft.ops.TextAnalysis.qualityLinearScore]]) also gates at
   * `minQualityScore`.
   */
  def curationVerdicts(
      docs: DataFrame,
      textCol: String = "text",
      typicalityModel: Option[Map[String, Long]] = None,
      minTypicalityPpm: Long = 0L,
      typicalityN: Int = 1,
      backoffUniModel: Option[Map[String, Long]] = None,
      backoffAlphaPct: Int = 40,
      qualityWeights: Option[Map[String, Long]] = None,
      minQualityScore: Long = 0L,
      scriptAware: Boolean = false): DataFrame = {
    val flags =
      if (scriptAware) graft.ops.TextAnalysis.qualityFlagsScriptAware(col(textCol))
      else graft.ops.TextAnalysis.qualityFlags(col(textCol))
    val gopherPasses = flags.collectFirst { case ("passes", c) => c }.get === 1L
    // null score (no tokens) never reaches the typicality verdict: the
    // word-count flag fails first, and false && null = false
    // with a backoff unigram model supplied, typicalityModel is the BIGRAM
    // model and unseen pairs earn backoffAlphaPct% of the second word's
    // unigram weight (stupid backoff) — still one fused per-row fold
    val typicalOk = typicalityModel.fold(lit(true)) { m =>
      val score = backoffUniModel match {
        case Some(uni) =>
          graft.ops.TextAnalysis.typicalityBackoffCol(col(textCol), uni, m,
            backoffAlphaPct, scriptAware)
        case None =>
          graft.ops.TextAnalysis.typicalityScoreColN(col(textCol), m, typicalityN,
            scriptAware)
      }
      score >= minTypicalityPpm
    }
    // optional trained-model gate: a linear classifier served as literals
    // (graft.ops.TextAnalysis.qualityLinearScore) — per-row like the rest
    val modelOk = qualityWeights.fold(lit(true)) { w =>
      graft.ops.TextAnalysis.qualityLinearScore(col(textCol), w) >= minQualityScore
    }
    val reasons = flags.filter(_._1 != "passes")
      .map { case (name, c) => (name, c === 0L) } :+
      ("atypical" -> !typicalOk) :+ ("low_quality_score" -> !modelOk)
    val reason = reasons.foldRight(lit(null).cast("string")) { case ((name, failed), alt) =>
      when(failed, lit(name)).otherwise(alt)
    }
    val passes = gopherPasses && typicalOk && modelOk
    docs.withColumn("passes", passes)
      .withColumn("reject_reason", when(!passes, reason))
  }

  /**
   * S12 — streaming curation gate with a tagged reject side-output: per
   * micro-batch, score [[curationVerdicts]] once, land accepted rows
   * clean (verdict columns dropped) in `accepted` and rejected rows —
   * tagged with their `reject_reason` — in `rejected`, both as date
   * partitions ([[warehouseSink]] semantics). The reject stream is the
   * audit/replay half a production gate needs: quarantined documents
   * stay queryable by reason instead of vanishing.
   *
   * Scale: the verdicts are exchange-free per-row expressions over the
   * micro-batch scan; the batch is cached once so the accept/reject
   * split does not recompute it.
   */
  def curationGate(
      docs: DataFrame,
      accepted: graft.io.WarehouseTable,
      rejected: graft.io.WarehouseTable,
      textCol: String = "text",
      typicalityModel: Option[Map[String, Long]] = None,
      minTypicalityPpm: Long = 0L,
      typicalityN: Int = 1,
      backoffUniModel: Option[Map[String, Long]] = None,
      backoffAlphaPct: Int = 40,
      qualityWeights: Option[Map[String, Long]] = None,
      minQualityScore: Long = 0L,
      date: () => graft.time.DateInterval = () => graft.time.Day.today,
      scriptAware: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.util.Barrier.holding { held =>
        val v = held.persist(curationVerdicts(batch, textCol, typicalityModel,
          minTypicalityPpm, typicalityN, backoffUniModel, backoffAlphaPct,
          qualityWeights, minQualityScore, scriptAware))
        accepted.save(v.filter(col("passes")).drop("passes", "reject_reason"),
          date(), graft.io.Warehouse.WriteAppend)
        rejected.save(v.filter(!col("passes")).drop("passes"),
          date(), graft.io.Warehouse.WriteAppend)
      }
    }

  /**
   * Streaming ingest volume-anomaly monitor — the streaming twin of batch
   * [[graft.ops.Drift.volumeAnomalies]] (L43), same exact integer verdict:
   * a window is flagged when `n * prevWindows * 100 > prevN * factorPct`
   * against the trailing `trailing` OBSERVED windows of its event type.
   * Cross-window comparison is what windowed aggregation can't express, so
   * this is a single `flatMapGroupsWithState` keyed by event type: state
   * holds the open windows' counts plus the last `trailing` closed counts;
   * a window is scored and retired once the watermark passes its end (via
   * event-time timeout, so quiet sources still close their windows).
   *
   * Scale: state per key is bounded — at most (watermark horizon /
   * window) open counters + `trailing` closed pairs, independent of event
   * volume — and keys partition across executors. Empty (unobserved)
   * windows are skipped, not zero-filled, matching the batch semantics.
   *
   * Retention: a key that stops emitting keeps its closed history only for
   * `retentionWindows` windows past its last closed window (enforced by an
   * event-time timeout), then its state is reaped. A key that resumes
   * after the horizon restarts with empty history, so it must re-earn
   * `minPrevWindows` before it can be flagged again — the documented
   * divergence from batch (which sees all history) in exchange for state
   * that cannot grow with the lifetime set of retired event types.
   */
  def volumeAnomalyMonitor(
      events: Dataset[Event],
      windowMinutes: Int = 60,
      watermark: String = "10 minutes",
      trailing: Int = 7,
      factorPct: Int = 150,
      minPrevWindows: Int = 3,
      retentionWindows: Int = 168): Dataset[VolumeAnomaly] = {
    require(trailing >= minPrevWindows && minPrevWindows >= 1,
      s"need 1 <= minPrevWindows ($minPrevWindows) <= trailing ($trailing)")
    require(retentionWindows >= 1, s"retentionWindows ($retentionWindows) must be >= 1")
    val windowMs = windowMinutes * 60L * 1000
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.eventType)
      .flatMapGroupsWithState[VolumeState, VolumeAnomaly](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (eventType: String, newEvents: Iterator[Event], state: GroupState[VolumeState]) =>
          val prior = state.getOption.getOrElse(VolumeState(Map.empty, Vector.empty))
          val open = newEvents.foldLeft(prior.open) { (m, e) =>
            val w = Math.floorDiv(e.ts.getTime, windowMs) * windowMs
            m.updated(w, m.getOrElse(w, 0L) + 1L)
          }
          val wm = state.getCurrentWatermarkMs()
          // windows fully behind the watermark are final: score in window
          // order against the trailing history, then retire into it
          val (done, live) = open.partition { case (w, _) => w + windowMs <= wm }
          var closed = prior.closed
          val out = Vector.newBuilder[VolumeAnomaly]
          done.toVector.sortBy(_._1).foreach { case (w, n) =>
            val hist = closed.takeRight(trailing)
            val prevN = hist.map(_._2).sum
            if (hist.size >= minPrevWindows && n * hist.size * 100 > prevN * factorPct)
              out += VolumeAnomaly(eventType, w, n, prevN, hist.size.toLong)
            closed = (closed :+ (w -> n)).takeRight(trailing)
          }
          val reapAt = closed.lastOption.map(_._1 + (retentionWindows + 1L) * windowMs)
          if (live.isEmpty && closed.isEmpty) state.remove()
          else if (live.isEmpty && reapAt.exists(_ <= wm)) state.remove()
          else {
            state.update(VolumeState(live, closed))
            // wake when the earliest live window can close, or — for a key
            // with no open windows — at the retention horizon so a retired
            // event type's history is reaped instead of leaking forever
            // (strictly past the current watermark, as the API requires)
            val wake =
              if (live.nonEmpty) live.keys.min + windowMs
              else reapAt.get // live empty && closed empty handled above
            state.setTimeoutTimestamp(math.max(wake, wm + 1))
          }
          out.result().iterator
      }
  }

  /**
   * Gap-based sessionization with [[Dataset.flatMapGroupsWithState]] state
   * per user: a session closes (and emits) when `gap` passes with no event —
   * enforced by an event-time timeout, so emission is driven by the
   * watermark, not wall clock. The streaming twin of batch
   * `sessionize_events`.
   */
  def sessionize(
      events: Dataset[Event],
      gapMinutes: Int = 30,
      watermark: String = "10 minutes"): Dataset[Session] = {
    val gapMs = gapMinutes * 60L * 1000
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, newEvents: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.startMs, s.endMs, s.n))
          } else {
            // fold sorted events into sessions, emitting every closed one
            val sorted = newEvents.map(_.ts.getTime).toVector.sorted
            var current = state.getOption
            val closed = Vector.newBuilder[Session]
            sorted.foreach { t =>
              current match {
                case Some(s) if t - s.endMs <= gapMs =>
                  current = Some(s.copy(endMs = math.max(s.endMs, t), n = s.n + 1))
                case Some(s) =>
                  closed += Session(userId, s.startMs, s.endMs, s.n)
                  current = Some(SessionState(t, t, 1))
                case None =>
                  current = Some(SessionState(t, t, 1))
              }
            }
            current.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /**
   * S17 — streaming percolation: every arriving document matched against
   * a REGISTERED standing-query set with
   * [[graft.ops.Retrieval.percolate]]'s verdict semantics — "page
   * mentioning X entered the crawl" alerting, topic routing into
   * per-subject sinks. The batch operator's `(doc, query)` count is a
   * streaming AGGREGATION (state, watermark, output-mode friction), so
   * the stream tier takes the literal-map road the curation gates take
   * ([[graft.ops.TextAnalysis.typicalityScoreCol]] pattern): the
   * human-sized query set arrives as a LITERAL `query_id -> text` map,
   * fuses into the scan as per-row array intersections against the
   * document's distinct tokens, and emits matches with NO state, no
   * watermark, append-safe. Verdicts are bit-identical to the batch
   * operator (same tokenizer, same distinct-term counting — the parity
   * spec holds them together). Emits
   * `(docs.columns..., query_id, n_matched, n_terms)`.
   */
  def percolateStream(
      docs: DataFrame,
      queries: Map[String, String],
      textCol: String = "text",
      minMatchPct: Int = 100): DataFrame = {
    require(queries.nonEmpty, "need at least one standing query")
    require(minMatchPct >= 1 && minMatchPct <= 100,
      s"minMatchPct must be in [1,100], got $minMatchPct")
    // deterministic literal order; token sets precomputed on the driver
    // with the SAME tokenizer rule the batch operator applies
    val qs = queries.toSeq.sortBy(_._1).map { case (qid, qtext) =>
      (qid, qtext.toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9]+").filter(_.nonEmpty).distinct.toSeq)
    }.filter(_._2.nonEmpty)
    val qlit = array(qs.map { case (qid, terms) =>
      struct(lit(qid).as("query_id"),
        array(terms.map(lit): _*).as("terms"),
        lit(terms.size.toLong).as("n_terms"))
    }: _*)
    docs
      .withColumn("__q", explode(qlit))
      .withColumn("n_matched",
        size(array_intersect(
          array_distinct(graft.ops.TextAnalysis.tokens(col(textCol))),
          col("__q.terms"))).cast("long"))
      .where(col("n_matched") * 100 >= col("__q.n_terms") * minMatchPct)
      .select(docs.columns.map(col) ++ Seq(col("__q.query_id").as("query_id"),
        col("n_matched"), col("__q.n_terms").as("n_terms")): _*)
  }
}
