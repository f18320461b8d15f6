package graft.etl.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.etl.{SparkJob, Stage}
import graft.io.{Warehouse, WarehouseTable}
import graft.ops.{Dedup, TextAnalysis}
import graft.time.DateInterval

/**
 * The complete text-curation recipe as one date-driven job — the template
 * a training-data team starts from, chaining the library's gates in their
 * canonical order. Per date:
 *
 *  1. read the day's raw documents,
 *  1a. with `htmlSource = true`, extract text from crawled HTML first
 *     ([[TextAnalysis.htmlToText]] — tag/script/style strip, entity
 *     decode, whitespace fold; the front gate of a C4/FineWeb-style
 *     funnel, so every later stage sees text, not markup). With
 *     `mainContentOnly = true` the extraction is boilerplate-aware
 *     instead ([[TextAnalysis.mainContent]] — text-density block
 *     filtering: nav menus, sidebars, tag clouds and footers die here,
 *     per row, by word floor + link density, so they never reach the
 *     gates or cost a MinHash signature; tune with
 *     `mainContentMinWords` / `mainContentMaxLinkPct`),
 *  1a'. with `urlCol` + `urlQualityGate` set, drop rows whose URL fails
 *     the C4/RefinedWeb pre-fetch heuristics ([[graft.ops.Web.urlQualityFlags]]
 *     — asset extensions, path depth, length, parameter count, blocked
 *     words): the cheapest gate in the whole pipeline, so it runs before
 *     anything touches the text,
 *  1b. with `urlCol` set, collapse recrawls and tracking-param variants of
 *     the same page by canonical URL ([[graft.ops.Web.dedupByUrl]] —
 *     keep-first by `idCol`; rows with a null URL pass through). This is
 *     the cheapest dedup tier (one min_by shuffle on a short string, no
 *     shingling), so it runs FIRST: every recrawl dropped here never costs
 *     a gate, a scrub or a MinHash signature downstream,
 *  2. Unicode-normalize the text (NFKC — composed/fullwidth/ligature forms
 *     fold BEFORE any byte-equality step sees them),
 *  3. drop documents failing the Gopher-style quality gate (and, with
 *     `qualityWeights` supplied, documents a trained linear quality
 *     classifier scores under `minQualityScore` —
 *     [[TextAnalysis.qualityLinearScore]], the FineWeb-Edu-style
 *     model gate served as scan-speed literals),
 *  4. with a `typicalityModel` supplied, drop documents scoring under
 *     `minTypicalityPpm` ([[TextAnalysis.typicalityScoreColN]] — the
 *     CCNet-style reference-LM filter, fused into the scan as a literal
 *     map; `typicalityN` picks the gram order: 1 = bag-of-words, 2 =
 *     bigrams, which also demand common word ORDER — build the matching
 *     model once with [[TextAnalysis.typicalityModel]] /
 *     [[TextAnalysis.typicalityModelN]]; with `backoffUniModel` also
 *     supplied, `typicalityModel` is the BIGRAM model and unseen pairs
 *     earn `backoffAlphaPct`% of the second word's unigram weight —
 *     [[TextAnalysis.typicalityBackoffCol]], the stupid-backoff scheme
 *     that stops rare-but-well-formed text scoring like gibberish;
 *     documents with fewer than 2 (or `typicalityN`) tokens score null
 *     and fail the gate, but the step-3 word-count gate has already
 *     removed them),
 *  5. scrub PII from the survivors (email/phone/IPv4/SSN -> `<KIND>`;
 *     with `scrubCards` set, Luhn-validated payment-card runs mask to
 *     `<CARD>` FIRST — the [[graft.functions.functions.card_scan]]
 *     native kernel, bit-identical to the composed
 *     [[TextAnalysis.scrubCardNumbers]] (parity spec) — since the
 *     generic phone pattern would otherwise consume card digits),
 *  6. remove near-duplicates (MinHash LSH -> Jaccard verify -> cluster
 *     representative; the label rounds are [[graft.util.Barrier]]s,
 *     reliable once the session sets `spark.checkpoint.dir`),
 *  7. with a `benchmark` set supplied, drop documents contaminated
 *     against it ([[graft.ops.Decontaminate.removeContaminated]] — the
 *     pre-ship gate against eval leakage). The benchmark text passes
 *     through the SAME PII scrubber first: the corpus was scrubbed at
 *     step 5, so comparing against raw benchmark text would mean any
 *     5-gram spanning a scrubbed span (`<EMAIL>`/`<PHONE>`/...) could
 *     never match and a leaked eval doc containing PII-like tokens
 *     would silently undercount hits,
 *  7a. with `domainCol`/`blockedDomains` set, drop documents from
 *     blocklisted domains (the verdict half of
 *     [[graft.ops.Web.domainQualityProfile]]'s measurement: profile the
 *     corpus, feed the flagged domains back here as the blocklist; a
 *     per-row literal `isin` — no join, the list is human-curated-sized),
 *  8. with `domainCol`/`maxPerDomain` set, cap each domain's document
 *     count ([[TextAnalysis.sourceCap]] — deterministic hash-order keep,
 *     the anti-monoculture guard against a single hot crawl host
 *     dominating the mix),
 *  9. with `targetMix` set, rebalance group shares to the requested ppm
 *     composition ([[TextAnalysis.targetMixSample]] over `mixCol` — the
 *     FineWeb-style recipe runs caps and mix HERE, after dedup (counts
 *     must reflect surviving unique documents, not raw crawl volume) and
 *     before the split (every kept row draws exactly one split); note
 *     targetMixSample fails fast if a target group has no rows that day —
 *     drop the key for sparse batches),
 *  10. assign a deterministic train/valid/test split,
 *  11. write the clean partition.
 *
 * Order matters and is load-bearing: normalize precedes dedup (equivalent
 * byte forms must collide), the quality gate precedes the PII scrub and
 * dedup (no sense hashing junk), decontamination runs on the deduped
 * survivors (one representative per family decides once for the whole
 * family), and the split is assigned AFTER dedup so every surviving
 * document draws exactly one split. Near-duplicates are REMOVED here
 * rather than co-split ([[Dedup.leakageSafeSplit]] is the alternative
 * when duplicates must be kept but contained).
 *
 * Scale: every stage is one of the library's audited shapes — per-row
 * codegen (normalize, gate, scrub, split) plus the LSH pipeline's bucketed
 * equi-joins; nothing here adds a shuffle beyond them.
 *
 * `scriptAware = true` runs the whole pipeline on the script-aware
 * tokenizer (CJK/Thai character bigrams, all routed word scripts): the
 * quality gate stops rejecting every non-Latin page, near-dedup stops
 * collapsing a CJK corpus into one empty-shingle cluster, and the
 * typicality gates score real grams — the switch a multilingual crawl
 * must flip. Supply typicality/quality models BUILT with the same flag.
 */
class CurationPipelineJob(
    source: DateInterval => DataFrame,
    clean: WarehouseTable,
    weights: Seq[(String, Int)] = Seq("train" -> 90, "valid" -> 5, "test" -> 5),
    threshold: Double = 0.8,
    idCol: String = "doc_id",
    textCol: String = "text",
    benchmark: Option[DataFrame] = None,
    benchIdCol: String = "bench_id",
    minContaminationHits: Int = 3,
    typicalityModel: Option[Map[String, Long]] = None,
    minTypicalityPpm: Long = 0L,
    typicalityN: Int = 1,
    backoffUniModel: Option[Map[String, Long]] = None,
    backoffAlphaPct: Int = 40,
    qualityWeights: Option[Map[String, Long]] = None,
    minQualityScore: Long = 0L,
    htmlSource: Boolean = false,
    mainContentOnly: Boolean = false,
    mainContentMinWords: Int = 5,
    mainContentMaxLinkPct: Int = 33,
    urlCol: Option[String] = None,
    domainCol: Option[String] = None,
    blockedDomains: Set[String] = Set.empty,
    maxPerDomain: Int = 0,
    mixCol: String = "lang",
    targetMix: Map[String, Int] = Map.empty,
    scriptAware: Boolean = false,
    urlQualityGate: Boolean = false,
    scrubCards: Boolean = false)
    extends SparkJob {

  override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
    !clean.exists(spark, date)

  override def stages: Stage[SparkSession, _] = for {
    raw <- "read_docs".source(ctx => source(ctx.date))
    extracted <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("html_extract") { ctx =>
      if (!htmlSource) ctx.value.toDF()
      else if (mainContentOnly) ctx.value.toDF().withColumn(textCol,
        TextAnalysis.mainContent(col(textCol), mainContentMinWords, mainContentMaxLinkPct))
      else ctx.value.toDF().withColumn(textCol, TextAnalysis.htmlToText(col(textCol)))
    }
    urlGated <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("url_filter") { ctx =>
      // cheapest gate of all: pure URL heuristics (asset extensions, path
      // depth, parameter explosions, blocked words) — rows dropped here
      // never cost a canonicalization, a gate, a scrub or a signature
      urlCol.filter(_ => urlQualityGate).fold(ctx.value.toDF()) { u =>
        val passes = graft.ops.Web.urlQualityFlags(col(u))
          .collectFirst { case ("passes", c) => c }.get
        // null-URL rows pass through, like every URL stage here: a gate
        // cannot judge a URL it does not have
        ctx.value.toDF().filter(col(u).isNull || passes === 1L)
      }
    }
    urlDeduped <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("url_dedup") { ctx =>
      urlCol.fold(ctx.value.toDF()) { u =>
        graft.ops.Web.dedupByUrl(ctx.value.toDF(), u, idCol)
      }
    }
    normalized <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("normalize") { ctx =>
      ctx.value.toDF().withColumn(textCol,
        graft.functions.functions.unicode_normalize(col(textCol)))
    }
    gated <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("quality_gate") { ctx =>
      val flags =
        if (scriptAware) TextAnalysis.qualityFlagsScriptAware(col(textCol))
        else TextAnalysis.qualityFlags(col(textCol))
      val passes = flags.collectFirst { case ("passes", c) => c }.get
      val modelOk = qualityWeights.fold(lit(true)) { w =>
        TextAnalysis.qualityLinearScore(col(textCol), w) >= minQualityScore
      }
      ctx.value.toDF().filter(passes === 1L && modelOk)
    }
    typical <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("typicality_gate") { ctx =>
      typicalityModel.fold(ctx.value.toDF()) { model =>
        val score = backoffUniModel match {
          case Some(uni) =>
            TextAnalysis.typicalityBackoffCol(col(textCol), uni, model, backoffAlphaPct,
              scriptAware)
          case None =>
            TextAnalysis.typicalityScoreColN(col(textCol), model, typicalityN, scriptAware)
        }
        ctx.value.toDF().filter(score >= minTypicalityPpm)
      }
    }
    scrubbed <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("pii_scrub") { ctx =>
      // cards first: scrubPii's phone pattern can consume card digits, so
      // the Luhn check must see the text before the generic patterns do
      val carded =
        if (scrubCards)
          ctx.value.toDF().withColumn(textCol,
            graft.functions.functions.card_scan(col(textCol))("scrubbed"))
        else ctx.value.toDF()
      carded.withColumn(textCol, TextAnalysis.scrubPii(col(textCol)))
    }
    deduped <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("near_dedup") { ctx =>
      Dedup.removeNearDuplicates(ctx.value.toDF(), idCol, textCol, threshold,
        scriptAware = scriptAware)
    }
    decontaminated <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("decontaminate") { ctx =>
      benchmark.fold(ctx.value.toDF()) { bench =>
        // scrub the bench side too — the corpus is already scrubbed, and
        // gram overlap must compare like with like (see scaladoc step 7)
        val cardedBench =
          if (scrubCards) bench.withColumn(textCol,
            graft.functions.functions.card_scan(col(textCol))("scrubbed"))
          else bench
        val scrubbedBench = cardedBench.withColumn(textCol, TextAnalysis.scrubPii(col(textCol)))
        graft.ops.Decontaminate.removeContaminated(
          ctx.value.toDF(), idCol, textCol, scrubbedBench, benchIdCol, textCol,
          minHits = minContaminationHits)
      }
    }
    unblocked <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("domain_blocklist") { ctx =>
      domainCol.filter(_ => blockedDomains.nonEmpty).fold(ctx.value.toDF()) { dom =>
        ctx.value.toDF().filter(!col(dom).isin(blockedDomains.toSeq.sorted: _*))
      }
    }
    capped <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("domain_cap") { ctx =>
      domainCol.filter(_ => maxPerDomain > 0).fold(ctx.value.toDF()) { dom =>
        TextAnalysis.sourceCap(ctx.value.toDF(), dom, idCol, maxPerDomain).drop("cap_rank")
      }
    }
    mixed <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("target_mix") { ctx =>
      if (targetMix.isEmpty) ctx.value.toDF()
      else TextAnalysis.targetMixSample(ctx.value.toDF(), mixCol, idCol, targetMix)
    }
    split <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("split") { ctx =>
      ctx.value.toDF().withColumn("split", TextAnalysis.hashSplit(col(idCol), weights))
    }
    _ <- "write_clean".sink[org.apache.spark.sql.Row] { ctx =>
      clean.save(ctx.value.toDF(), ctx.date, Warehouse.WriteTruncate)
    }
  } yield split
}
