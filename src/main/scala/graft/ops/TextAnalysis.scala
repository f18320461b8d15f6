package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis primitives for LLM training-data pipelines, built entirely
 * from codegen'd Catalyst functions (no UDFs): tokenization, token counting,
 * language identification, quality scoring and fingerprinting.
 *
 * Everything here is a `Column`, so it fuses into whole-stage codegen and
 * scales linearly with input — no shuffle, no state. All hash primitives are
 * md5 so results are reproducible in any engine (the driver's DuckDB oracle
 * computes the same hex).
 */
object TextAnalysis {

  /** Lowercased alphanumeric word tokens. */
  // the hot form is the Tokenize kernel: the composed filter(split(lower))
  // evaluates its filter lambda interpreted per element at every explode
  // site in the battery (round 19; guide §4). tokensComposed stays as the
  // spec twin — the TextAnalysisSpec parity property and every oracle hash
  // pin the kernel to it.
  def tokens(text: Column): Column =
    graft.functions.functions.tokenize_text(text)

  /** Composed SPECIFICATION form of [[tokens]]. */
  private[graft] def tokensComposed(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Non-ASCII word-script ranges (space-delimited scripts the ASCII
    * tokenizer drops): Greek+Cyrillic, Hebrew, Arabic, Devanagari, Hangul.
    * `\x{...}` escapes parse identically in Java regex and RE2. */
  private[graft] val NonAsciiWordRanges: String =
    "\\x{0370}-\\x{04ff}\\x{0590}-\\x{05ff}\\x{0600}-\\x{06ff}" +
      "\\x{0900}-\\x{097f}\\x{ac00}-\\x{d7a3}"

  /** Segmentation-script ranges (written without word spaces): Thai, kana, Han. */
  private[graft] val SegScriptRanges: String =
    "\\x{0e00}-\\x{0e7f}\\x{3040}-\\x{30ff}\\x{4e00}-\\x{9fff}"

  /**
   * Script-aware tokens ([[graft.functions.TextHash.scriptTokenize]]
   * kernel, one codegen'd pass) — what the token-based ops need on a
   * multilingual crawl, where [[tokens]] sees NOTHING outside ASCII:
   * word-script runs (ASCII — uppercase folded — plus Greek, Cyrillic,
   * Hebrew, Arabic, Devanagari, Hangul) emit word tokens; Han/kana/Thai
   * runs emit overlapping character bigrams (the standard dictionary-free
   * CJK segmentation recipe). Deterministic and engine-portable: ASCII-only
   * case folding, fixed BMP ranges — [[scriptTokensComposed]] is the
   * regex-built twin the DuckDB oracle mirrors.
   */
  def scriptTokens(text: Column): Column =
    graft.functions.functions.script_tokens(text)

  /** Tokenizer switch for the ops that take a `scriptAware` flag. */
  private def toksOf(text: Column, scriptAware: Boolean): Column =
    if (scriptAware) scriptTokens(text) else tokens(text)

  /** Script-aware token count — the [[whitespaceTokenCount]] upgrade for
    * corpora with CJK/Thai text (a spaceless sentence is ONE whitespace
    * token but `chars-1` script bigrams). */
  def scriptTokenCount(text: Column): Column = size(scriptTokens(text))

  /** Composed-builtin SPECIFICATION twin of [[scriptTokens]] — the
    * regexp/higher-order-function form the DuckDB oracle mirrors
    * (bit-identical on any text; cross-checked in TextAnalysisSpec).
    * `translate` folds ASCII case so non-ASCII case law never enters. */
  private[graft] def scriptTokensComposed(text: Column): Column = {
    val wordCls = s"a-z0-9$NonAsciiWordRanges"
    val lowered = translate(text,
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")
    val runs = regexp_extract_all(lowered,
      lit(s"[$wordCls]+|[$SegScriptRanges]+"), lit(0))
    flatten(transform(runs, r =>
      when(r.rlike(s"^[$SegScriptRanges]"),
        when(length(r) === 1, array(r))
          .otherwise(transform(sequence(lit(1), length(r) - 1),
            i => substring(r, i, lit(2)))))
        .otherwise(array(r))))
  }

  /** Whitespace-delimited token count (fast, locale-free). */
  def whitespaceTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= ""))

  /**
   * BPE-style pre-tokenizer count: word runs and individual non-space
   * punctuation each count as one token — a deterministic proxy for
   * subword-tokenizer input size.
   */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("""[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"""), lit(0)))

  /**
   * Stopword profiles for the language-ID heuristic — high-frequency
   * function words per language, restricted to forms that survive the
   * ASCII tokenizer (`tokens` treats every non-`[a-z0-9]` char, including
   * diacritics, as a separator — so each profile lists only fully-ASCII
   * stopwords). Overlap between related languages (da/no, cs/sk, fi/et)
   * is real and expected: the multiset hit count argmax with its
   * alphabetical tie-break keeps the pick deterministic. Scripts the
   * tokenizer cannot segment (CJK, Cyrillic, Arabic, ...) are handled
   * BEFORE this table by the [[ScriptRanges]] pre-filter in [[languageId]].
   */
  val StopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "des", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "que", "de", "en", "es", "una", "con", "por"),
    "pt" -> Seq("de", "que", "em", "uma", "para", "com", "os", "mais", "como", "seu"),
    "it" -> Seq("di", "che", "per", "con", "del", "una", "sono", "questo", "anche", "come"),
    "nl" -> Seq("de", "het", "een", "van", "dat", "niet", "met", "voor", "aan", "zijn"),
    "sv" -> Seq("och", "att", "som", "det", "han", "var", "med", "den", "till", "inte"),
    "da" -> Seq("og", "det", "at", "en", "til", "er", "som", "med", "han", "ikke"),
    "no" -> Seq("og", "det", "som", "en", "til", "av", "ikke", "den", "har", "jeg"),
    "fi" -> Seq("ja", "on", "ei", "joka", "kun", "mutta", "ovat", "oli", "sen", "niin"),
    "pl" -> Seq("nie", "jest", "jak", "ale", "czy", "tak", "oraz", "przez", "tego", "jego"),
    "cs" -> Seq("je", "na", "se", "to", "jako", "ale", "pro", "tak", "jsou", "byl"),
    "sk" -> Seq("je", "sa", "na", "to", "ako", "ale", "pre", "tak", "aj", "som"),
    "ro" -> Seq("de", "la", "cu", "un", "este", "care", "din", "pentru", "mai", "sau"),
    "hu" -> Seq("hogy", "nem", "egy", "az", "ez", "volt", "csak", "mint", "ki", "meg"),
    "tr" -> Seq("ve", "bir", "bu", "da", "ile", "ne", "gibi", "daha", "sonra", "kadar"),
    "id" -> Seq("yang", "dan", "di", "dengan", "untuk", "dari", "ini", "itu", "pada", "adalah"),
    "hr" -> Seq("je", "se", "da", "su", "za", "na", "ali", "kao", "ili", "biti"),
    "sl" -> Seq("je", "in", "se", "da", "za", "na", "so", "pa", "kot", "tudi"),
    "et" -> Seq("ja", "on", "ei", "et", "oli", "ka", "see", "oma", "kui", "mis"),
    "lt" -> Seq("ir", "yra", "kad", "tai", "su", "bet", "kaip", "jis", "bei", "buvo"),
    "lv" -> Seq("un", "ir", "ka", "ar", "par", "bet", "tas", "vai", "no", "tika"),
    "ca" -> Seq("els", "amb", "per", "una", "dels", "que", "com", "aquest", "ser", "hi"),
    "vi" -> Seq("khi", "cho", "trong", "anh", "con", "hay", "nay", "hai", "nam", "em"),
    "tl" -> Seq("ang", "ng", "sa", "na", "mga", "ay", "para", "ito", "hindi", "kung"),
    "sw" -> Seq("na", "ya", "wa", "kwa", "ni", "za", "katika", "la", "kuwa", "hii"))

  /**
   * Unicode-script character classes for the language-ID pre-filter, as
   * `\x{...}` range escapes that parse identically in Java regex and RE2
   * (ASCII-safe for JSON/SQL serialization, all ranges inside the BMP so
   * code-unit and code-point counting agree). Sorted keys — the argmax
   * tie-break is alphabetical, `latn` included.
   */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "arab" -> "\\x{0600}-\\x{06ff}",
    "cyrl" -> "\\x{0400}-\\x{04ff}",
    "deva" -> "\\x{0900}-\\x{097f}",
    "grek" -> "\\x{0370}-\\x{03ff}",
    "hang" -> "\\x{ac00}-\\x{d7a3}",
    "hani" -> "\\x{4e00}-\\x{9fff}",
    "hebr" -> "\\x{0590}-\\x{05ff}",
    "kana" -> "\\x{3040}-\\x{30ff}",
    "latn" -> "A-Za-z",
    "thai" -> "\\x{0e00}-\\x{0e7f}")

  /** Dominant non-Latin script → language (hani/kana resolve via the kana-share rule). */
  val ScriptLang: Map[String, String] = Map(
    "arab" -> "ar", "cyrl" -> "ru", "deva" -> "hi", "grek" -> "el",
    "hang" -> "ko", "hebr" -> "he", "thai" -> "th")

  /** Number of tokens that appear in `words` (multiset count, not set
    * intersection). Composed SPECIFICATION form — the `aggregate` lambda is
    * CodegenFallback and scans the word array per token; hot paths use
    * [[stopwordHitsKernel]] (TextAnalysisSpec pins the parity). */
  def stopwordHits(toks: Column, words: Seq[String]): Column = {
    val wordArray = array(words.map(lit): _*)
    aggregate(toks, lit(0), (acc, t) => acc + when(array_contains(wordArray, t), 1).otherwise(0))
  }

  /** [[stopwordHits]] over `tokens(text)` as one kernel pass (LONG-typed;
    * callers cast as their schema needs, exactly as they cast the
    * composed INT form). */
  private[graft] def stopwordHitsKernel(text: Column, words: Seq[String]): Column =
    element_at(graft.functions.functions.stopword_scores(text, Seq(words)), 1)

  /** Characters of `text` inside the regex char-class `range` (exact count). */
  private def scriptChars(text: Column, range: String): Column =
    length(text) - length(regexp_replace(text, s"[$range]", ""))

  /** The composed-builtin SPECIFICATION form of the per-script counts —
    * ten `regexp_replace` passes, each allocating a stripped copy of the
    * document — kept as the oracle-shaped twin of the single-pass
    * [[graft.functions.TextHash.scriptCounts]] kernel [[languageId]] uses
    * (bit-identical on non-null text; cross-checked in TextAnalysisSpec).
    * Null text: the kernel null-propagates to a null ARRAY where this form
    * yields an array of null counts — both argmax to "und" in
    * [[languageId]], the only consumer. */
  private[ops] def scriptCountsComposed(text: Column): Column =
    array(ScriptRanges.map { case (_, r) => scriptChars(text, r) }: _*)

  /** Alphabetical language keys — the argmax tie-break order. */
  private val StopLangs: Seq[String] = StopwordProfiles.keys.toSeq.sorted

  /** Stopword → per-language one-hot count vector (a word can belong to
    * several profiles: `de` scores es/pt/ro at once). One literal map,
    * so the whole 27-profile scoring is a single fold over the tokens. */
  private val StopwordVecs: Map[String, Seq[Long]] =
    StopwordProfiles.toSeq.flatMap { case (lang, ws) => ws.map(w => (w, lang)) }
      .groupBy(_._1).map { case (w, ls) =>
        val langs = ls.map(_._2).toSet
        w -> StopLangs.map(l => if (langs(l)) 1L else 0L)
      }

  /**
   * Stopword-profile argmax in ONE pass: a single `aggregate` fold
   * accumulates the per-language multiset hit counts (literal-map lookup +
   * `zip_with` add per token), and the argmax with its alphabetical
   * tie-break is decided inside the finish lambda, where the accumulated
   * array is a BOUND VARIABLE — so the fold runs exactly once per row.
   * (The naive form — one `aggregate` per profile, each referenced by
   * `greatest` and every argmax branch — re-evaluates the token fold
   * hundreds of times per row; measured 100x slower at 27 profiles.)
   * Bit-identical to scoring each profile with [[stopwordHits]].
   *
   * Composed SPECIFICATION form (round 19): the fold's higher-order
   * lambdas are CodegenFallback — per token, an O(vocabulary) linear scan
   * of the literal map plus a boxed 27-element accumulator allocation.
   * [[languageId]] now rides [[stopwordPickKernel]] (one tokenize pass +
   * hash lookups, [[graft.functions.StopwordScores]]); TextAnalysisSpec
   * pins the parity over the battery corpus and adversarial shapes.
   */
  private[ops] def stopwordPickComposed(toks: Column): Column = {
    val m = typedLit(StopwordVecs)
    val zero = array_repeat(lit(0L), StopLangs.size)
    aggregate(
      toks,
      zero,
      (acc, t) => zip_with(acc, coalesce(element_at(m, t), zero), (a, b) => a + b),
      acc => {
        val best = array_max(acc)
        StopLangs.zipWithIndex.foldRight(lit("und")) { case ((lang, i), alt) =>
          when(element_at(acc, i + 1) === best && best > 0, lit(lang)).otherwise(alt)
        }
      })
  }

  /** Kernel twin of [[stopwordPickComposed]]: the 27-profile counts come
    * from ONE [[graft.functions.StopwordScores]] pass over the text, and
    * the identical argmax/tie-break decides inside a transform lambda
    * where the count array is a bound variable (computed once per row). */
  private[ops] def stopwordPickKernel(text: Column): Column = {
    val scores =
      graft.functions.functions.stopword_scores(text, StopLangs.map(StopwordProfiles))
    // null text -> null pick, exactly like the composed fold over a null
    // token array (the bare argmax chain would fall through to "und")
    element_at(transform(array(scores), acc =>
      when(acc.isNull, lit(null).cast("string")).otherwise {
        val best = array_max(acc)
        StopLangs.zipWithIndex.foldRight(lit("und")) { case ((lang, i), alt) =>
          when(element_at(acc, i + 1) === best && best > 0, lit(lang)).otherwise(alt)
        }
      }), 1)
  }

  /**
   * Two-stage language-ID heuristic, exact and engine-portable:
   *
   * 1. **Script pre-filter** — count characters per Unicode script
   *    ([[ScriptRanges]]) and take the argmax (alphabetical tie-break).
   *    A dominant non-Latin script classifies directly (Cyrillic → ru,
   *    Hangul → ko, ... per [[ScriptLang]]); scripts the ASCII tokenizer
   *    cannot segment — CJK above all, which tokenizes to NOTHING and
   *    previously scored 0 everywhere — never reach the stopword stage.
   *    Within CJK, Japanese is any text whose kana share of Han+kana
   *    characters is at least 1/20 (Japanese prose is kana-laced;
   *    Chinese is kana-free), else Chinese.
   * 2. **Stopword argmax** — when Latin wins (or no script letters at
   *    all), score each [[StopwordProfiles]] entry by multiset stopword
   *    hits and pick the argmax (alphabetical tie-break, "und" when
   *    nothing matches).
   *
   * All integer counts and comparisons — no floats, so the pick is a pure
   * function of the text on any engine. Cyrillic maps to ru (ru/uk/bg/sr
   * share the script; separating them needs per-language Cyrillic
   * stopwords the ASCII tokenizer cannot carry — documented coarseness),
   * Arabic to ar (ar/fa/ur likewise).
   */
  def languageId(text: Column): Column = {
    // pack the 10 script counts (ONE codegen'd char pass — the kernel
    // replaced ten per-range regexp_replace passes that each allocated a
    // stripped copy of the document; battery query 1.68 s -> 1.0-1.3 s,
    // the residual being the stopword fold below) and the stopword pick
    // into a struct, then decide inside a transform lambda where the
    // struct is a BOUND VARIABLE — every count is computed exactly once
    // however many argmax branches reference it (same trick as
    // stopwordPick's finish lambda)
    val counts = graft.functions.functions.script_counts(text)
    val packed = array(struct(counts.as("c"), stopwordPickKernel(text).as("s")))
    val kanaIdx = ScriptRanges.indexWhere(_._1 == "kana") + 1
    val haniIdx = ScriptRanges.indexWhere(_._1 == "hani") + 1
    element_at(transform(packed, p => {
      val sc = p.getField("c")
      val best = array_max(sc)
      val kana = element_at(sc, kanaIdx)
      val hani = element_at(sc, haniIdx)
      val cjk = when(kana * 20 >= kana + hani, lit("ja")).otherwise(lit("zh"))
      ScriptRanges.zipWithIndex.foldRight(lit("und")) { case (((script, _), i), alt) =>
        val value = script match {
          case "latn" => p.getField("s")
          case "hani" | "kana" => cjk
          case other => lit(ScriptLang(other))
        }
        when(element_at(sc, i + 1) === best && best > 0, value).otherwise(alt)
      }
    }), 1)
  }

  /**
   * Quality-scoring stats per document: character/token counts, punctuation
   * ratio, stopword ratio, mean word length. Filter thresholds on these are
   * the standard cheap quality gate before expensive dedup/training steps.
   */
  def qualityStats(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nChars = length(text)
    val nTokens = size(toks)
    val punct = length(text) - length(regexp_replace(text, """[^a-zA-Z0-9\s]""", ""))
    val stopHits = stopwordHitsKernel(text, StopwordProfiles("en"))
    val wordChars = aggregate(toks, lit(0), (acc, t) => acc + length(t))
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTokens,
      "punct_ratio" -> round(punct.cast("double") / greatest(nChars, lit(1)), 4),
      "stopword_ratio" -> round(stopHits.cast("double") / greatest(nTokens, lit(1)), 4),
      "mean_word_len" -> round(wordChars.cast("double") / greatest(nTokens, lit(1)), 4))
  }

  /**
   * Exact-integer quality feature vector — the serving side of a trained
   * linear quality classifier (the FineWeb-Edu recipe: train a small
   * classifier offline on labeled pages, serve it as a scan-speed gate).
   * Every feature is BIGINT ppm or x100 — no floats, so a trained model
   * scores bit-identically on any engine:
   *
   *  - `n_chars`, `n_tokens` — raw sizes;
   *  - `punct_ppm`, `digit_ppm` — character-class shares of `n_chars`;
   *  - `stopword_ppm` — English-stopword multiset share of `n_tokens`
   *    (the classic "looks like prose" signal);
   *  - `distinct_ppm` — distinct-token share of `n_tokens` (low =
   *    repetitive boilerplate);
   *  - `mean_word_len_x100` — average token length in hundredths.
   */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    // exact floor division on non-negative longs (numerators <= ~1e12, so
    // the double division is exact well inside 2^53)
    def div(a: Column, b: Column): Column = ((a - a % b) / b).cast("long")
    val nChars = length(text).cast("long")
    val nTokens = size(toks).cast("long")
    val punct = (length(text) -
      length(regexp_replace(text, """[^a-zA-Z0-9\s]""", ""))).cast("long")
    val digits = (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("long")
    val stopHits = stopwordHitsKernel(text, StopwordProfiles("en"))
    val distinctToks = size(array_distinct(toks)).cast("long")
    val wordChars = aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("long")
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTokens,
      "punct_ppm" -> div(punct * 1000000L, greatest(nChars, lit(1L))),
      "digit_ppm" -> div(digits * 1000000L, greatest(nChars, lit(1L))),
      "stopword_ppm" -> div(stopHits * 1000000L, greatest(nTokens, lit(1L))),
      "distinct_ppm" -> div(distinctToks * 1000000L, greatest(nTokens, lit(1L))),
      "mean_word_len_x100" -> div(wordChars * 100L, greatest(nTokens, lit(1L))))
  }

  /**
   * Linear quality score over [[qualityFeatures]]:
   * `bias + Σ weights(name) * feature(name)` — exact long arithmetic, the
   * whole model fused into the scan as literals (no join, no UDF, no
   * state). Train the weights offline (logistic regression / SGD on
   * labeled pages — features are deliberately few and integer); gate with
   * `qualityLinearScore(...) >= threshold`. Unknown feature names fail
   * fast at plan time. Weights scale: features reach ~1e6 (ppm), so any
   * |weight| <= ~1e9 stays far from Long overflow.
   */
  def qualityLinearScore(text: Column, weights: Map[String, Long], bias: Long = 0L): Column = {
    val feats = qualityFeatures(text).toMap
    val unknown = weights.keySet -- feats.keySet
    require(unknown.isEmpty,
      s"unknown quality features: ${unknown.mkString(", ")} (have: ${feats.keys.mkString(", ")})")
    weights.toSeq.sortBy(_._1).foldLeft(lit(bias)) {
      case (acc, (name, w)) => acc + lit(w) * feats(name)
    }
  }

  /**
   * Train the [[qualityLinearScore]] weights: logistic regression (MLlib)
   * over the exact-integer [[qualityFeatures]] of a labeled frame
   * (`labelCol` = 1 keep / 0 drop), with the learned float coefficients
   * quantized to the integer serving scale — `round(w * scale)` per
   * feature, `round(intercept * scale)` as the bias — so
   * `qualityLinearScore(text, weights, bias) >= 0` approximates the
   * decision boundary `margin >= 0` to `1/scale` granularity. The full
   * train→serve loop stays in-library: fit here (distributed treeAggregate
   * under MLlib, labeled sets are small anyway), serve as scan-speed
   * literals with no MLlib dependency at inference.
   */
  def trainQualityWeights(
      labeled: org.apache.spark.sql.DataFrame,
      textCol: String,
      labelCol: String,
      scale: Long = 1000000L): (Map[String, Long], Long) = {
    val feats = qualityFeatures(col(textCol))
    val assembled = labeled.select(
      col(labelCol).cast("double").as("label"),
      org.apache.spark.ml.functions.array_to_vector(
        array(feats.map(_._2.cast("double")): _*)).as("features"))
    val model = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(100)
      .fit(assembled)
    val weights = feats.map(_._1).zip(
      model.coefficients.toArray.map(w => math.round(w * scale))).toMap
    (weights, math.round(model.intercept * scale))
  }

  /**
   * PII patterns, engine-portable (identical in Java regex and RE2): email,
   * international-ish phone runs, IPv4, US SSN. Conservative by design —
   * a production scrubber layers locale-specific patterns on top.
   */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""",
    "phone" -> """\+[0-9][0-9 ()-]{7,}[0-9]""",
    "ipv4" -> """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b""",
    "ssn" -> """\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b""")

  /** Redact every PII pattern with `<KIND>` markers; pure codegen'd regexp chain. */
  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (kind, pattern)) =>
      regexp_replace(c, pattern, s"<${kind.toUpperCase}>")
    }

  /**
   * Payment-card candidate runs: 13-19 digits with at most one space or
   * dash between digits, bounded by non-digits. Lookaround-free (RE2 has
   * none): boundaries are a consumed `(^|[^0-9-])` / `([^0-9-]|$)` pair,
   * so two candidates separated by a SINGLE character miss the second —
   * the documented cost of engine portability. Runs LONGER than 19 digits
   * never match at all (any suffix window has a digit on its left
   * boundary), which is the right call: over-long runs are serial
   * numbers/hashes, not PANs. The candidate run is capture group 2.
   */
  val CardCandidatePattern: String =
    """(^|[^0-9-])((?:[0-9][ -]?){12,18}[0-9])([^0-9-]|$)"""

  /** All card-candidate runs of a text, separators kept, document order. */
  def cardCandidates(text: Column): Column =
    regexp_extract_all(text, lit(CardCandidatePattern), lit(2))

  /**
   * Luhn (mod-10) checksum validity of one candidate run — the checksum
   * every real PAN satisfies, which cuts the false-positive rate of a
   * bare digit-run pattern by ~10x (random digit runs pass 1-in-10).
   * Exact integer fold over the separator-stripped, reversed digits
   * (double every second digit, fold >9 by -9), pure codegen'd
   * higher-order functions — identical digits on any engine.
   */
  def luhnValid(candidate: Column): Column = {
    val digits = regexp_replace(candidate, "[ -]", "")
    val rev = reverse(digits)
    val total = aggregate(
      sequence(lit(1), length(rev)), lit(0),
      (acc, i) => {
        val d = substr(rev, i, lit(1)).cast("int")
        acc + when(i % 2 === 0, when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      })
    length(digits).between(13, 19) && total % 10 === 0
  }

  /** Card-candidate runs that pass [[luhnValid]]. */
  def validCardNumbers(text: Column): Column =
    filter(cardCandidates(text), luhnValid(_))

  /**
   * Mask every Luhn-valid card run with `<CARD>`, leaving checksum-failing
   * digit runs (order ids, timestamps, phone-like runs) untouched — the
   * precision/recall point a production scrubber wants: scrub what is
   * provably card-shaped, don't destroy every long number. One fold of
   * literal `replace` calls over the valid candidates; per-row, no
   * shuffle, composes with [[scrubPii]] (run this FIRST — `scrubPii`'s
   * phone pattern can consume card digits).
   */
  def scrubCardNumbers(text: Column): Column =
    aggregate(validCardNumbers(text), text, (acc, c) => replace(acc, c, lit("<CARD>")))

  /**
   * Remove repeated lines WITHIN a document, keeping each line's first
   * occurrence in order — the intra-document sibling of the corpus-wide
   * [[removeBoilerplateLines]]: navigation menus, cookie banners and
   * chat-log boilerplate repeat inside a single crawled page, and
   * per-line multiplicity is exactly what the Gopher repetition signals
   * flag. Pure per-row higher-order functions (first-occurrence filter by
   * index), shuffle-free, O(lines²) per document in string compares —
   * lines per page are small; the corpus never shuffles.
   */
  def dedupLinesInDoc(text: Column): Column = {
    val lines = split(text, "\n")
    array_join(filter(lines, (l, i) => array_position(lines, l) === i + 1), "\n")
  }

  /**
   * HTML-strip patterns applied in order by [[htmlToText]], engine-portable
   * (identical semantics in Java regex and RE2 — inline `(?is)` flags, no
   * backreferences): first drop non-content blocks WITH their contents
   * (script/style/noscript/template — their bodies are code, not text, and
   * may contain raw `<`/`>` that would corrupt the tag pass), then
   * comments, then every remaining tag.
   */
  private[graft] val HtmlStripPatterns: Seq[String] =
    Seq("script", "style", "noscript", "template")
      .map(tag => s"(?is)<$tag\\b[^>]*>.*?</$tag\\s*>") ++
      Seq("(?s)<!--.*?-->", "<[^>]*>")

  /**
   * Character-entity decodes applied after tag removal, in order. `&amp;`
   * is decoded LAST so double-encoded entities (`&amp;lt;`) resolve to the
   * single-decoded literal (`&lt;`), exactly like a real single-pass
   * decoder. A fixed common-entity table (regex replacement cannot compute
   * arbitrary `&#NNN;` code points portably); rarer numeric entities pass
   * through unchanged.
   */
  private[graft] val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#34;" -> "\"",
    "&apos;" -> "'", "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /**
   * Explicit whitespace class for the final fold — NOT `\s`, whose
   * definition differs between Java regex (includes `\x0B`) and RE2; an
   * explicit class keeps the result bit-identical across engines.
   */
  private[graft] val HtmlWhitespacePattern: String = "[ \\t\\n\\r\\f]+"

  /**
   * HTML → text extraction — the front gate of a crawled-corpus curation
   * funnel (C4/FineWeb-style recipes start from raw HTML): drop
   * script/style/noscript/template blocks with their contents, strip
   * comments and tags, decode the common character entities, fold
   * whitespace runs to single spaces and trim. A pure per-row codegen'd
   * regexp/replace chain — shuffle-free, stays inside whole-stage codegen,
   * and every step is expressible identically in RE2, so results are
   * engine-reproducible (the `html_extract` oracle runs this very chain).
   *
   * Deliberately a text extractor, not an HTML parser: malformed markup
   * degrades gracefully (an unpaired `<` without `>` passes through; a
   * stray `a < b and c > d` comparison in PLAIN text is stripped as if a
   * tag — the standard regex-extraction tradeoff, identical on every
   * engine). Layer a DOM parser upstream if boilerplate-aware extraction
   * (readability scoring, main-content detection) is needed;
   * [[removeBoilerplateLines]] covers the corpus-statistical part here.
   */
  def htmlToText(html: Column): Column = {
    val untagged = HtmlStripPatterns.foldLeft(html)((c, p) => regexp_replace(c, p, " "))
    val decoded = HtmlEntities.foldLeft(untagged) { case (c, (e, r)) =>
      replace(c, lit(e), lit(r))
    }
    trim(regexp_replace(decoded, HtmlWhitespacePattern, " "))
  }

  /**
   * Block-level tag boundary for [[mainContentBlocks]] — any opening or
   * closing occurrence of the HTML block elements splits the page into
   * candidate text blocks (inline tags like `<a>`/`<span>`/`<b>` stay
   * inside their block, which is what lets per-block link density be
   * measured). Engine-portable: inline `(?i)`, no backreferences, no `\s`.
   */
  private[graft] val BlockTagPattern: String =
    "(?i)</?(p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|" +
      "section|article|aside|header|footer|nav|form|fieldset|blockquote|" +
      "pre|figure|figcaption|main|hr|br)\\b[^>]*>"

  /** Anchor-content extractor for link density: group 1 is the anchor's
    * inner HTML. Explicit whitespace class (no `\s` — see
    * [[HtmlWhitespacePattern]]); non-greedy body, RE2-compatible. */
  private[graft] val AnchorPattern: String =
    "(?is)<a\\b[^>]*>(.*?)</a[ \\t\\n\\r\\f]*>"

  /** Per-block text cleanup shared by [[mainContentBlocks]]'s measure and
    * output: strip remaining (inline) tags, decode entities, fold
    * whitespace, trim — the tail of [[htmlToText]] without the block
    * strip. */
  private def blockText(c: Column): Column = {
    val untagged = regexp_replace(c, "<[^>]*>", " ")
    val decoded = HtmlEntities.foldLeft(untagged) { case (acc, (e, r)) =>
      replace(acc, lit(e), lit(r))
    }
    trim(regexp_replace(decoded, HtmlWhitespacePattern, " "))
  }

  /**
   * MAIN-CONTENT extraction — the boilerpipe/trafilatura-style text-density
   * heuristic [[htmlToText]] deliberately does not attempt: split the page
   * into blocks at block-level tag boundaries ([[BlockTagPattern]]) and
   * keep only blocks that read like body text — at least `minWords` words
   * AND anchor-text share at most `maxLinkPct`% of the block's characters
   * (`link chars x 100 <= text chars x maxLinkPct`, exact integer math).
   * Navigation menus, sidebars, tag clouds and footers are short and/or
   * link-saturated, so they die PER ROW at extraction time instead of
   * hoping corpus-wide line dedup ([[removeBoilerplateLines]]) catches
   * them later; those two are complementary (this one also kills unique
   * boilerplate, that one also kills repeated plain-text disclaimers).
   *
   * `script`/`style`/`noscript`/`template` blocks and comments are dropped
   * with their contents first (as in [[htmlToText]]); each surviving
   * block's text is tag-stripped, entity-decoded and whitespace-folded.
   * Returns the kept blocks' texts in document order. The whole chain is
   * per-row higher-order-function string math — shuffle-free, codegen'd,
   * and every step replays identically in RE2, so a SQL oracle can verify
   * it bit-for-bit (the standard regex-not-parser tradeoffs of
   * [[htmlToText]] apply).
   */
  def mainContentBlocks(html: Column, minWords: Int = 5, maxLinkPct: Int = 33): Column = {
    require(minWords >= 1, "minWords must be at least 1")
    require(maxLinkPct >= 0 && maxLinkPct <= 100, "maxLinkPct must be in [0, 100]")
    val pre = HtmlStripPatterns.dropRight(1).foldLeft(html)((c, p) => regexp_replace(c, p, " "))
    val kept = filter(split(pre, BlockTagPattern), b => {
      val text = blockText(b)
      val words = size(filter(split(text, " "), w => w =!= ""))
      val linkText = blockText(array_join(
        regexp_extract_all(b, lit(AnchorPattern), lit(1)), " "))
      words >= minWords && length(linkText) * 100 <= length(text) * maxLinkPct
    })
    transform(kept, b => blockText(b))
  }

  /** [[mainContentBlocks]] joined back into one newline-separated text —
    * the drop-in for [[htmlToText]] when boilerplate-aware extraction is
    * wanted at the front gate of a curation funnel. */
  def mainContent(html: Column, minWords: Int = 5, maxLinkPct: Int = 33): Column =
    array_join(mainContentBlocks(html, minWords, maxLinkPct), "\n")

  /** 1 when any PII pattern matches, else 0. */
  def hasPii(text: Column): Column =
    PiiPatterns.map { case (_, p) => when(regexp_like(text, lit(p)), 1).otherwise(0) }
      .reduce(_ + _).gt(0).cast("int")

  /**
   * Gopher-style document quality gate: word-count bounds, mean word length
   * bounds, symbol ratio, and distinct-token ratio (low = degenerate
   * repetition). Returns (flagName -> 0/1 column) plus an overall `passes`.
   */
  def qualityFlags(
      text: Column,
      minWords: Int = 5,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 2.0,
      maxMeanWordLen: Double = 12.0,
      maxSymbolRatio: Double = 0.2,
      minDistinctRatio: Double = 0.2): Seq[(String, Column)] =
    qualityFlagsWith(text, tokens(text), """[^a-zA-Z0-9\s]""",
      minWords, maxWords, minMeanWordLen, maxMeanWordLen, maxSymbolRatio,
      minDistinctRatio)

  /**
   * [[qualityFlags]] over [[scriptTokens]] — the gate a multilingual crawl
   * needs: under the ASCII tokenizer a Chinese/Japanese/Thai page has ZERO
   * tokens (fails the word-count gate) and every script character counts
   * as a symbol (fails the symbol-ratio gate), so the standard gates
   * silently reject entire languages. Here token counts come from the
   * script-aware tokenizer (CJK bigrams average length 2, inside the
   * default mean-word-length band) and the symbol class admits all word-
   * and segmentation-script characters, so the gates measure what they
   * mean — degenerate repetition, symbol soup, trivial length — in every
   * script the language-ID routes.
   */
  def qualityFlagsScriptAware(
      text: Column,
      minWords: Int = 5,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 2.0,
      maxMeanWordLen: Double = 12.0,
      maxSymbolRatio: Double = 0.2,
      minDistinctRatio: Double = 0.2): Seq[(String, Column)] =
    qualityFlagsWith(text, scriptTokens(text),
      s"""[^a-zA-Z0-9\\s$NonAsciiWordRanges$SegScriptRanges]""",
      minWords, maxWords, minMeanWordLen, maxMeanWordLen, maxSymbolRatio,
      minDistinctRatio)

  private def qualityFlagsWith(
      text: Column,
      toks: Column,
      symbolPattern: String,
      minWords: Int,
      maxWords: Int,
      minMeanWordLen: Double,
      maxMeanWordLen: Double,
      maxSymbolRatio: Double,
      minDistinctRatio: Double): Seq[(String, Column)] = {
    val nTokens = size(toks)
    val meanLen = aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") /
      greatest(nTokens, lit(1))
    val symbolRatio = (length(text) - length(regexp_replace(text, symbolPattern, "")))
      .cast("double") / greatest(length(text), lit(1))
    val distinctRatio = size(array_distinct(toks)).cast("double") / greatest(nTokens, lit(1))
    val flags = Seq(
      "ok_word_count" -> (nTokens >= minWords && nTokens <= maxWords),
      "ok_mean_word_len" -> (meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen),
      "ok_symbol_ratio" -> (symbolRatio <= maxSymbolRatio),
      "ok_distinct_ratio" -> (distinctRatio >= minDistinctRatio))
    val asInts = flags.map { case (n, c) => n -> when(c, 1L).otherwise(0L) }
    asInts :+ ("passes" -> asInts.map(_._2).reduce(_ * _))
  }

  /**
   * Corpus-level top-k word n-grams by frequency: explode (multiset) n-grams,
   * one count shuffle with map-side partials, deterministic tiebreak. The
   * standard corpus-statistics pass before vocabulary or contamination
   * analysis.
   */
  def topNgrams(df: org.apache.spark.sql.DataFrame, textCol: String, n: Int = 2, k: Int = 100): org.apache.spark.sql.DataFrame =
    df.select(explode(Dedup.wordShingles(col(textCol), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(k)

  /**
   * Benchmark-contamination detection: count how many of a document's word
   * n-grams appear in the (small, broadcast) probe corpus — the
   * decontamination pass run before training on scraped data. Probe n-grams
   * are deduplicated and broadcast; the document side streams, no shuffle of
   * the corpus.
   */
  def contamination(
      docs: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame,
      docTextCol: String = "text",
      probeTextCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val probeGrams = broadcast(
      probes.select(explode(Dedup.wordShingles(col(probeTextCol), n)).as("gram")).distinct())
    val docGrams = docs.select(col(idCol),
      explode(array_distinct(Dedup.wordShingles(col(docTextCol), n))).as("gram"))
    docGrams
      .join(probeGrams, Seq("gram"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_contaminated_grams"))
  }

  /** Whitespace-normalized, lowercased text — the canonical form for hashing. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /**
   * Gopher-style intra-document repetition stats: the fraction of lines that
   * repeat an earlier line (`dup_line_frac`) and the fraction of line
   * characters inside repeated lines (`dup_char_frac`) — the cheap signal
   * for machine-generated/templated text. Documents whose every line
   * normalizes to empty are omitted (nothing to measure).
   *
   * Scale: explode + two aggs keyed on the doc id — partial aggregation
   * combines map-side, and the (id, line) key never concentrates (a doc's
   * lines are one group). All ratios are exact integer divisions done once.
   */
  def repetitionStats(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val lines = df
      .select(col(idCol), explode(split(col(textCol), "\n")).as("__line"))
      .withColumn("__norm", normalize(col("__line")))
      .filter(col("__norm") =!= "")
    val perLine = lines
      .groupBy(col(idCol), col("__norm"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__len", length(col("__norm")))
    perLine
      .groupBy(col(idCol))
      .agg(
        sum(col("__n")).cast("long").as("n_lines"),
        round((sum(col("__n")) - count(lit(1))) / sum(col("__n")).cast("double"), 4)
          .as("dup_line_frac"),
        round(sum(when(col("__n") > 1, col("__n") * col("__len")).otherwise(0L)) /
          sum(col("__n") * col("__len")).cast("double"), 4).as("dup_char_frac"))
  }

  /**
   * Gopher's n-gram repetition signals, completing [[repetitionStats]]:
   * per document, the fraction of tokens inside occurrences of the single
   * most frequent `n`-gram (`top_ngram_frac`) and inside any `n`-gram that
   * occurs more than once (`dup_ngram_frac`, counting every occurrence, so
   * heavily looped text can exceed 1 — the gate thresholds well below
   * that). Token-count fractions rather than the paper's character counts:
   * same signal, and exact integer arithmetic both engines reproduce.
   * Documents with fewer than `n` tokens have no n-grams and report 0.
   *
   * Scale: explode + two aggs keyed on the doc id, exactly like
   * [[repetitionStats]] — map-side partials, no skew (a doc's grams are
   * one group).
   */
  def ngramRepetition(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    // multiset n-grams from the native kernel (occurrence counts matter, and
    // the composed transform/slice/array_join form is interpreted per
    // element); the kernel emits one whole-run gram for docs shorter than n,
    // so guard those to empty. NOTHING else rides the select: a column next
    // to a generator is re-evaluated once per exploded row, so carrying
    // size(tokens(text)) here cost 72 interpreted tokenizations per doc —
    // the token count is recovered as sum(cnt) + (n-1) after the agg
    // (native kernel + generator-clean select: 10.4 s -> 1.6 s at sf0.1).
    val grams = when(size(toks) >= n, graft.functions.functions.word_shingles(col(textCol), n))
      .otherwise(array().cast("array<string>"))
    val perGram = df
      .select(col(idCol), explode(grams).as("__gram"))
      .groupBy(col(idCol), col("__gram"))
      .agg(count(lit(1)).as("__cnt"))
    val stats = perGram
      .groupBy(col(idCol))
      .agg(
        round(max(col("__cnt")) * n / (sum(col("__cnt")) + (n - 1)).cast("double"), 4)
          .as("top_ngram_frac"),
        round(sum(when(col("__cnt") > 1, col("__cnt")).otherwise(0L)) * n /
          (sum(col("__cnt")) + (n - 1)).cast("double"), 4).as("dup_ngram_frac"))
    df.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .na.fill(0.0, Seq("top_ngram_frac", "dup_ngram_frac"))
  }

  /**
   * Per-document top-`k` terms by tf-idf-style weight. The weight is the
   * exact rational `tf * n_docs / doc_freq` — deliberately no logarithm:
   * `ln` is libm-implementation-specific and would break bit-reproducibility
   * across engines, while the rational ranks identically for top-k within a
   * document (both are monotonic in tf and 1/df).
   *
   * Scale: term-frequency agg on (doc, term), document-frequency agg on
   * term, equi-join on term (vocabulary-sized — shuffle, not broadcast, at
   * corpus scale), corpus size as a broadcast scalar, one bounded top-k per
   * doc id ([[TopK.ranked]] by `(score desc, term)`, no window). No
   * collect, no cross join beyond the 1-row scalar.
   */
  def tfidfTopTerms(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val terms = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy(col("term")).agg(countDistinct(col(idCol)).as("df"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("__n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .join(broadcast(nDocs))
      .withColumn("score", round(col("tf") * col("__n_docs") / col("df"), 6))
    TopK.ranked(scored, Seq(idCol), Seq(col("score").desc, col("term")),
      Seq("term", "tf", "df", "score"), k)
  }

  /**
   * Line-level boilerplate removal (the C4/RefinedWeb recipe): a line whose
   * normalized form appears in at least `minDocs` distinct documents is
   * boilerplate (nav bars, cookie banners, footers) and is dropped from
   * every document; surviving lines reassemble in their original order.
   * Documents whose lines are all boilerplate come back with empty text
   * (caller filters as desired) — no document is silently lost.
   *
   * Scale: one shuffle on the normalized line hash to count, one broadcast-
   * able join back (the boilerplate line set is tiny relative to the
   * corpus), one shuffle on the doc id to reassemble. Line text never
   * travels twice: the count side carries only hashes.
   */
  def removeBoilerplateLines(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int = 2): org.apache.spark.sql.DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__norm_fp", md5(normalize(col("__line"))))
    val boilerplate = lines
      .groupBy(col("__norm_fp"))
      .agg(countDistinct(col(idCol)).as("__ndocs"))
      .filter(col("__ndocs") >= minDocs)
      .select(col("__norm_fp"))
    val rebuilt = lines
      .join(boilerplate, Seq("__norm_fp"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          e => e.getField("__line")), "\n").as(textCol))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .na.fill("", Seq(textCol))
  }

  /**
   * Deterministic train/validation/test assignment by hashed id: the first
   * 4 md5 hex digits of `salt || id` give a uniform bucket in [0, 65536),
   * split by cumulative `weights` (percent-style, any positive scale).
   * Pure per-row math — reproducible across engines, runs, and cluster
   * sizes, unlike `randomSplit` (which is partition-order dependent).
   */
  /**
   * First 16 bits of `md5(salt:id)` as a uniform bucket in [0, 65536) —
   * THE portable sampling primitive every split/keep operator shares (one
   * definition here; the SQL oracle twins mirror it digit by digit via
   * `Queries.sqlHashBucket`). Changing salt format or digit width here
   * changes every sampling op in lockstep, never one of them silently.
   */
  private[graft] def hashBucket(id: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), lit(":"), id.cast("string"))), 1, 4), 16, 10)
      .cast("long")

  /**
   * Deterministic GROUP-CONSISTENT k-fold assignment for cross-validation:
   * `fold = (hashBucket(groupKey) * k) >> 16`, a uniform value in [0, k).
   * Every row sharing `groupKey` lands in the SAME fold — the leakage-safe
   * law for CV over web data (a near-duplicate family, a user's sessions,
   * a host's pages must never straddle train/eval folds; pass the dedup
   * cluster id / user id / host as the key, exactly like
   * [[graft.ops.Dedup.leakageSafeSplit]] routes whole clusters). Pure
   * per-row integer math on the shared [[hashBucket]] primitive —
   * reproducible across engines, runs and cluster sizes, no shuffle.
   */
  def kfoldAssign(groupKey: Column, k: Int, salt: String = "graft"): Column = {
    require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")
    shiftright(hashBucket(groupKey, salt) * k, 16)
  }

  def hashSplit(id: Column, weights: Seq[(String, Int)], salt: String = "graft"): Column = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    val total = weights.map(_._2).sum
    val bucket = hashBucket(id, salt)
    val bounds = weights.scanLeft(0L) { case (acc, (_, w)) => acc + w }.tail
    weights.zip(bounds).foldRight(lit(weights.last._1)) { case (((name, _), bound), alt) =>
      when(bucket * total < bound * 65536L, name).otherwise(alt)
    }
  }

  /**
   * Deterministic stratified sampling: keep a row when its hashed id falls
   * under the stratum's rate (percent units, exact integer compare — no
   * float thresholds to drift between engines). The per-stratum rates are
   * how training mixes re-weight domains (upsample curated sources,
   * downsample crawl) without a shuffle: pure per-row math, reproducible
   * across runs and cluster sizes, unlike `df.sampleBy` (RNG
   * partition-order dependent). Strata absent from `ratesPct` keep 0 rows.
   */
  def stratifiedKeep(
      id: Column,
      stratum: Column,
      ratesPct: Map[String, Int],
      salt: String = "graft"): Column = {
    require(ratesPct.values.forall(r => r >= 0 && r <= 100), "rates are percents in [0, 100]")
    val bucket = hashBucket(id, salt)
    // sort for a deterministic CASE chain (Map iteration order is not)
    val pctOf = ratesPct.toSeq.sortBy(_._1).foldRight(lit(0L)) { case ((name, pct), alt) =>
      when(stratum === name, lit(pct.toLong)).otherwise(alt)
    }
    (bucket * 100L) < (pctOf * 65536L)
  }

  /**
   * Greedy sequence packing: assign documents to fixed-budget context
   * windows ("chunks") per group, in deterministic `orderCol` order — the
   * standard pre-training step that concatenates documents up to the model
   * context length. A document lands in chunk `floor(tokens_before /
   * contextLen)`, i.e. budget boundaries may split a document (production
   * packers truncate or pad; the assignment is what matters here).
   *
   * Scale: one window shuffle on `groupCol` (source/shard), never a global
   * sort — each group packs independently, so 1000 executors pack 1000
   * groups concurrently.
   */
  def packSequences(
      df: org.apache.spark.sql.DataFrame,
      groupCol: String,
      orderCol: String,
      tokensCol: String,
      contextLen: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(col(tokensCol)).over(w))
      .withColumn("chunk_id",
        floor((col("__cum") - col(tokensCol)).cast("long") / contextLen).cast("long"))
      .drop("__cum")
  }

  /**
   * Split documents into fixed-size character chunks with overlap — the
   * standard pre-embedding / long-document-training step. Chunk `i` covers
   * `[i*(size-overlap), i*(size-overlap)+size)`; the last chunk may be
   * short; every document yields at least one chunk. Pure per-row explode —
   * shuffle-free, streams at scan speed.
   */
  def chunkDocuments(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      chunkChars: Int = 1000,
      overlap: Int = 100): org.apache.spark.sql.DataFrame = {
    require(overlap < chunkChars, "overlap must be smaller than the chunk size")
    val step = chunkChars - overlap
    // exact integer ceil((len - overlap) / step), floored at 1 chunk
    val nChunks = greatest(
      floor((length(col(textCol)) - overlap + (step - 1)) / lit(step)).cast("long"), lit(1L))
    df.select(col(idCol), col(textCol),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        substring(col(textCol), (col("chunk_id") * step + 1).cast("int"), lit(chunkChars))
          .as("chunk_text"))
  }

  /**
   * Training-mix report: per-stratum (source, language, ...) document and
   * token counts plus each stratum's exact share of corpus tokens in parts
   * per million — the summary every mixture-weight decision starts from,
   * and the input [[stratifiedKeep]] rates are tuned against. The share is
   * integer ppm (`tokens * 1e6 DIV total`), not a float ratio, so it is
   * bit-identical in any engine. One agg shuffle on the strata plus a
   * 1-row broadcast for the total — no collect.
   */
  def mixReport(
      df: org.apache.spark.sql.DataFrame,
      strata: Seq[String],
      tokensCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val per = df.groupBy(strata.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col(tokensCol)).cast("long").as("n_tokens"))
    val total = broadcast(df.agg(sum(col(tokensCol)).cast("long").as("__total")))
    per.join(total)
      // decimal(38,0) intermediate: long `n_tokens * 1e6` overflows past
      // ~9e12 stratum tokens — a 100 TB corpus is ~2e13 (DuckDB's HUGEINT
      // sum does the same exact floor division)
      .withColumn("share_ppm",
        expr("CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000 DIV __total AS BIGINT)"))
      .drop("__total")
  }

  /**
   * Corpus vocabulary statistics, one row: total tokens, distinct terms,
   * hapax legomena (terms occurring exactly once) and their exact
   * integer-ppm share of the vocabulary — the Zipf-tail health check run
   * before tokenizer training (a crawl with too few hapaxes has been
   * over-deduplicated; too many means OCR noise / encoding damage).
   * Two agg shuffles (term counts with map-side partials, then a global
   * fold); everything integer-exact.
   */
  def vocabStats(df: org.apache.spark.sql.DataFrame, textCol: String): org.apache.spark.sql.DataFrame =
    df.select(explode(tokens(col(textCol))).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__n"))
      .agg(
        sum(col("__n")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(when(col("__n") === 1, 1L).otherwise(0L)).as("hapax_terms"))
      .withColumn("hapax_ppm",
        expr("CAST(CAST(hapax_terms AS DECIMAL(38,0)) * 1000000 DIV n_terms AS BIGINT)"))

  /**
   * Exact vocabulary-growth (Heaps'-law) curve: how many NEW word types
   * each successive slab of the corpus contributes, in the canonical
   * document order given by `idCol`. Emits one row per occupied slab of
   * `bucketSize` consecutive ids — `(bucket, n_docs, n_tokens,
   * new_types, cum_tokens, cum_types)` — the curve whose flattening
   * says "more of this source adds volume, not vocabulary" (the
   * marginal-value read a data-mixing decision wants beside
   * [[vocabStats]]'s hapax share). A type's debut slab is
   * `min(id) DIV bucketSize` over the docs containing it, so the curve
   * is a pure function of the data and replays digit-for-digit.
   *
   * Shape: one explode + (type) min-agg — the vocabulary-sized exchange
   * [[vocabStats]] already pays — plus two slab-sized count aggs; the
   * running sums ride ONE unpartitioned window over the SLAB frame,
   * which has `id_range / bucketSize` rows by construction: size
   * `bucketSize` so that stays thousands (1e9 docs / 1e6 per slab =
   * 1000 rows), never row- or type-sized.
   */
  def vocabGrowth(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      bucketSize: Long): org.apache.spark.sql.DataFrame = {
    require(bucketSize >= 1, s"bucketSize must be >= 1, got $bucketSize")
    import org.apache.spark.sql.expressions.Window
    val bucket = expr(s"CAST($idCol AS BIGINT) DIV ${bucketSize}L")
    val base = df.where(col(idCol).isNotNull)
    val toks = base
      .select(bucket.as("__b"), explode(tokens(col(textCol))).as("__t"))
    val perBucket = base
      .select(bucket.as("__b"),
        greatest(coalesce(size(tokens(col(textCol))), lit(0)), lit(0))
          .cast("long").as("__nt"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))
    val debuts = toks.groupBy(col("__t")).agg(min(col("__b")).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(debuts, Seq("__b"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .withColumnRenamed("__b", "bucket")
  }

  /**
   * Per-stratum document cap (the "domain cap" step of web-corpus curation:
   * no single domain may dominate the training mix): keep at most `maxDocs`
   * documents per stratum, chosen by hashed-id order so the kept set is an
   * unbiased deterministic sample of the stratum rather than its lowest
   * ids. Adds a `cap_rank` column (1-based position in the stratum's hash
   * order).
   *
   * One shuffle on the stratum. A hot domain with billions of rows would
   * make the window sort one partition — pre-thin such strata with
   * [[stratifiedKeep]] at rate ~ cap/count first, so the exact window only
   * sees ~cap rows per stratum (two cheap passes instead of one giant sort).
   */
  def sourceCap(
      df: org.apache.spark.sql.DataFrame,
      stratumCol: String,
      idCol: String,
      maxDocs: Int,
      salt: String = "graft"): org.apache.spark.sql.DataFrame = {
    require(maxDocs > 0, "maxDocs must be positive")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(stratumCol))
      .orderBy(md5(concat(lit(salt), lit(":"), col(idCol).cast("string"))), col(idCol))
    df.withColumn("cap_rank", row_number().over(w).cast("long"))
      .filter(col("cap_rank") <= maxDocs)
  }

  /**
   * Deterministic per-row weighted sampling: keep a row with probability
   * `ratePct`/100, where the rate is a per-row integer-percent column (a
   * quality score, a length prior, ...) — importance sampling for training
   * mixes. Same hash-threshold construction as [[stratifiedKeep]] but the
   * rate varies per row instead of per stratum. Shuffle-free pure per-row
   * math, reproducible across engines, runs and partitionings.
   */
  def weightedKeep(id: Column, ratePct: Column, salt: String = "graft"): Column =
    (hashBucket(id, salt) * 100L) < (ratePct.cast("long") * 65536L)

  /**
   * Rebalance to a TARGET group mix — [[stratifiedKeep]]'s data-driven
   * sibling: instead of fixed per-group rates, give target SHARES (ppm)
   * and the per-group keep rates are computed FROM the group counts so the
   * expected output composition is the target at the largest feasible
   * size. The binding group (whose target share most exceeds its supply)
   * is kept whole; every other group downsamples to match it. Groups
   * absent from `targetsPpm` drop; a `targetsPpm` key with ZERO corpus
   * rows fails fast (its share can never be realized, and silently
   * excluding it from the feasibility minimum would skew the realized
   * mix away from the requested one). This is the training-mix knob:
   * "make the corpus 40% en / 20% de / 20% fr / 20% zh" without anyone
   * hand computing rates that silently go stale as the corpus grows.
   * ([[mixPlan]] is the PLANNING view of the same problem — token budgets,
   * rates, epoch multipliers as a report; this executes the row selection.)
   *
   * Exact integer math end-to-end: the feasible output size is
   * `M = min_g floor(n_g * 1e6 / t_g)` and a row of group `g` survives iff
   * `bucket * n_g * 1e6 < t_g * M * 65536` — evaluated as a per-group
   * BigInt bucket limit on the driver, never a float rate — so the kept
   * set is a pure function of the data on any engine and any partitioning.
   *
   * Scale: one targets-sized group-count agg (map-side combine, pre-thinned
   * to the target groups) collected as driver control flow, then the
   * per-group limits fuse into the scan as a literal case-when over a
   * codegen'd integer compare — the corpus is scanned once per pass and
   * the filter plan has NO joins at all.
   */
  def targetMixSample(
      df: org.apache.spark.sql.DataFrame,
      groupCol: String,
      idCol: String,
      targetsPpm: Map[String, Int],
      salt: String = "graft"): org.apache.spark.sql.DataFrame = {
    require(targetsPpm.nonEmpty && targetsPpm.values.forall(_ > 0),
      "targetsPpm must be non-empty with positive shares")
    require(targetsPpm.values.map(_.toLong).sum <= 1000000L,
      "target shares must sum to at most 1e6 ppm")
    val counts = df.filter(col(groupCol).isin(targetsPpm.keys.toSeq: _*))
      .groupBy(col(groupCol).cast("string").as("__g"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = targetsPpm.keySet -- counts.keySet
    require(missing.isEmpty,
      s"targetsPpm groups absent from the corpus: ${missing.toSeq.sorted.mkString(", ")} — " +
        "a requested share cannot be realized from zero rows; drop the key or fix the input")
    val feasible = counts.map { case (g, n) => BigInt(n) * 1000000 / targetsPpm(g) }.min
    // bucket*n*1e6 < t*M*65536  <=>  bucket < (t*M*65536 - 1) div (n*1e6) + 1
    val limits = counts.map { case (g, n) =>
      g -> ((BigInt(targetsPpm(g)) * feasible * 65536 - 1) / (BigInt(n) * 1000000) + 1).toLong
    }
    val keep = limits.toSeq.sortBy(_._1).foldLeft(lit(false)) { case (alt, (g, limit)) =>
      when(col(groupCol) === g, hashBucket(col(idCol), salt) < limit).otherwise(alt)
    }
    df.filter(keep)
  }

  /**
   * Tokenizer-training pair statistics — the counting step of one BPE merge
   * iteration: corpus-wide counts of adjacent character pairs inside words,
   * weighted by word frequency, highest first. Counting words FIRST
   * collapses the corpus to its vocabulary, so the quadratic-ish pair
   * explode runs once per distinct word, not once per occurrence — the
   * standard trick that makes BPE training corpus-size-independent after
   * the first count. Two shuffles, both over vocabulary-sized data.
   */
  def bpePairs(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      k: Int = 50): org.apache.spark.sql.DataFrame = {
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    words
      .filter(length(col("w")) >= 2)
      // nothing else in the generator select: a column beside explode() is
      // re-evaluated once per OUTPUT row (see ngramRepetition)
      .select(col("wc"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  /**
   * Reference-model typicality score — the CCNet/KenLM perplexity-filter
   * recipe re-expressed in exact integer math. CCNet scores each document
   * under a reference n-gram language model and drops the worst-perplexity
   * tail; the log-probability itself is libm-bound (`ln` differs across
   * implementations), so the portable re-expression scores each document by
   * the MEAN REFERENCE FREQUENCY (ppm) of its tokens under a capped unigram
   * model built from `ref`: text made of common reference vocabulary scores
   * high; gibberish, wrong-language and codec-noise text scores near 0.
   * Both statistics are monotone in per-token reference likelihood, so the
   * filter tail is the same — and every digit is engine-reproducible.
   *
   * The model is the top-`vocabSize` terms of `ref` by count (ties by
   * term), weighted `ppm = cnt * 1e6 DIV total_ref_tokens` — BOUNDED, so it
   * broadcasts at any corpus scale; out-of-vocabulary tokens weigh 0.
   * Documents with no tokens produce no row (nothing to score).
   *
   * Scale: the reference total is a per-row `size(tokens)` sum (no explode,
   * map-side partials); the vocab agg is vocabulary-sized after its
   * partials; top-V is a bounded single-partition limit; the scoring join
   * is a BROADCAST into the per-token stream feeding one doc-keyed agg.
   * Two hash shuffles total, both aggs.
   */
  /** The capped unigram model behind [[typicalityScores]]: the top
    * `vocabSize` terms of `ref` by count (ties by term) as `(term, ppm)`
    * with `ppm = cnt * 1e6 DIV total_ref_tokens`. Bounded by construction,
    * so it broadcasts — or collects to a literal map for
    * [[typicalityScoreCol]] — at any reference-corpus scale. */
  def typicalityModel(
      ref: org.apache.spark.sql.DataFrame,
      refTextCol: String,
      vocabSize: Int = 4096,
      scriptAware: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val total = ref.agg(
      sum(size(toksOf(col(refTextCol), scriptAware)).cast("long")).as("__tot"))
    ref.select(explode(toksOf(col(refTextCol), scriptAware)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(total))
      .withColumn("ppm",
        expr("CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000 DIV __tot AS BIGINT)"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(vocabSize)
      .select(col("term"), col("ppm"))
  }

  def typicalityScores(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      ref: org.apache.spark.sql.DataFrame,
      refTextCol: String,
      vocabSize: Int = 4096,
      scriptAware: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val model = typicalityModel(ref, refTextCol, vocabSize, scriptAware)
    df.select(col(idCol), explode(toksOf(col(textCol), scriptAware)).as("term"))
      .join(broadcast(model), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tok"),
        sum(coalesce(col("ppm"), lit(0L))).as("__sum_ppm"))
      .withColumn("typicality_ppm",
        expr("CAST(CAST(__sum_ppm AS DECIMAL(38,0)) DIV n_tok AS BIGINT)"))
      .select(col(idCol), col("n_tok"), col("typicality_ppm"))
  }

  /**
   * CCNet head/middle/tail bucketing — the final step of the CCNet recipe
   * the typicality scorers feed: rank every document by its reference-
   * model typicality and split the corpus into exact TERCILES (`head` =
   * most typical third, `tail` = least). CCNet trains on head+middle and
   * inspects tail; the buckets are also the standard strata for
   * quality-vs-quantity ablations. Ranks come from [[withGlobalRank]]
   * (never a corpus-on-one-reducer window), the tercile is exact integer
   * math (`(rank - 1) * 3 DIV total`), and ties rank deterministically by
   * id — so the assignment is a pure function of the data. Documents
   * with no tokens produce no row (nothing to score), matching
   * [[typicalityScores]].
   */
  def typicalityTerciles(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      ref: org.apache.spark.sql.DataFrame,
      refTextCol: String,
      vocabSize: Int = 4096,
      scriptAware: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val scores = typicalityScores(df, idCol, textCol, ref, refTextCol, vocabSize, scriptAware)
    val ranked = withGlobalRank(scores, "__rank", col("typicality_ppm").desc, col(idCol))
    val total = broadcast(scores.agg(count(lit(1)).cast("long").as("__total")))
    ranked.join(total)
      .withColumn("bucket",
        when(expr("((__rank - 1) * 3) DIV __total") === 0, lit("head"))
          .when(expr("((__rank - 1) * 3) DIV __total") === 1, lit("middle"))
          .otherwise(lit("tail")))
      .drop("__rank", "__total")
  }

  /**
   * Per-row [[typicalityScores]] against an already-materialized model
   * (`term -> ppm`, e.g. `typicalityModel(...).collect()` — O(vocabSize),
   * bounded): the model becomes ONE literal map inside the expression, so
   * scoring fuses into whole-stage codegen over the scan — no join, no
   * shuffle, no state. This is the form a streaming quality gate or a
   * scan-speed batch filter wants; the agg form is for when the model
   * must stay distributed. Same exact integer arithmetic (the quotient is
   * computed on an exactly-divisible numerator, so the double division is
   * exact); rows with no tokens score null.
   */
  def typicalityScoreCol(text: Column, model: Map[String, Long],
      scriptAware: Boolean = false): Column = {
    val m = typedLit(model)
    val toks = toksOf(text, scriptAware)
    val n = size(toks).cast("long")
    val s = aggregate(toks, lit(0L),
      (acc, t) => acc + coalesce(element_at(m, t), lit(0L)))
    when(n > 0, ((s - (s % n)) / n).cast("long"))
  }

  /**
   * Sentence segments: maximal runs ending in a `[.!?]+` terminator run,
   * plus any trailing unterminated segment. Segments keep their leading
   * whitespace (trim downstream where it matters). Deliberately
   * lookbehind-free — RE2 has no lookbehind, and this split must replay
   * identically there — so the pattern enumerates segments instead of
   * splitting at boundaries. The primitive under sentence-aware chunking
   * and C4-style sentence-level heuristics.
   */
  def sentences(text: Column): Column =
    regexp_extract_all(text, lit("[^.!?]+[.!?]+|[^.!?]+$"), lit(0))

  /**
   * Flesch reading-ease in exact integer fixed-point (x1000) with its
   * three ingredient counts — the classic complexity signal next to the
   * Gopher gates (a corpus slice whose reading ease collapses is
   * table-soup or legalese; a slice near the top is children's text).
   * Syllables are vowel-group runs (`[aeiouy]+` of the lowercased text —
   * the standard regex approximation, off-by-a-bit on silent e's but
   * DETERMINISTIC and engine-identical, which the exactness contract
   * prizes over linguistic nicety). Sentences come from [[sentences]],
   * words from [[tokens]].
   *
   * `flesch_fp = 206835 - 1015 * words DIV sentences
   *            - 84600 * syllables DIV words` — integer `DIV` floors, so
   * the score replays digit-for-digit in SQL; word-free documents score
   * null (both ratios undefined). Pure per-row codegen'd regexp/HOF
   * work, exchange-free.
   */
  def readabilityStats(text: Column): Seq[(String, Column)] = {
    // exact integer division for non-negative longs without an expr()
    // name dependency: a - (a mod b) is an exact multiple of b, and
    // dividing exact multiples is exact in double well past these sizes
    def udiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")
    val words = size(tokens(text)).cast("long")
    val sents = size(sentences(text)).cast("long")
    val syllables = length(
      regexp_replace(regexp_replace(lower(text), "[aeiouy]+", "V"), "[^V]", ""))
      .cast("long")
    val flesch = when(words > 0 && sents > 0,
      lit(206835L) - udiv(lit(1015L) * words, sents) - udiv(lit(84600L) * syllables, words))
    Seq(
      "n_words" -> words,
      "n_sentences" -> sents,
      "n_syllables" -> syllables,
      "flesch_fp" -> flesch)
  }

  /**
   * Tokenizer-vocabulary coverage: per document, token count, OOV token
   * count and `oov_ppm` (exact integer) against a vocabulary frame — the
   * pre-training check that a tokenizer actually covers the corpus it
   * will serve (a language or domain slice with collapsing coverage
   * trains as `<unk>` soup). The vocabulary joins as a BROADCAST
   * left-anti (tokenizer vocabularies are bounded by construction), so
   * the scan never shuffles: explode → anti-join → one doc-keyed count.
   * Token-free documents report `oov_ppm` null.
   */
  def vocabCoverage(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      vocab: org.apache.spark.sql.DataFrame,
      termCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
    val counts = df.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val oov = toks.join(broadcast(vocab.select(col(termCol).as("__t")).distinct()),
        Seq("__t"), "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).as("__oov"))
    counts.join(oov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__oov"), lit(0L)).as("n_oov"),
        when(col("n_tokens") > 0,
          expr("(coalesce(__oov, 0L) * 1000000) DIV n_tokens")).as("oov_ppm"))
  }

  /**
   * Sentence-aware chunking: split documents into ~`maxChars`-character
   * chunks that break ONLY at [[sentences]] boundaries — the upgrade over
   * [[chunkDocuments]], which splits mid-sentence. Offsets are measured in
   * the concatenated sentence stream; chunk `k` covers the offset window
   * `[k*step, k*step + maxChars)` with `step = maxChars - overlap`, and a
   * sentence joins every chunk whose window contains its START offset — so
   * with `overlap > 0` the sentences opening a chunk's tail repeat in the
   * next chunk (sentence-granular overlap), and with `overlap = 0` the
   * chunks partition the document exactly. Sentences are atomic: a chunk
   * may exceed `maxChars` by one sentence tail rather than cut one.
   * `overlap` is capped at `maxChars/2` so a sentence joins at most two
   * chunks. Chunk ids may be SPARSE: a single sentence longer than
   * `maxChars + step` (minified / legal text) spans several offset
   * windows, and the windows containing no sentence start are dropped
   * rather than emitted as empty chunks.
   *
   * Per-row and exchange-free: the sentence split, offset prefix sums and
   * window membership all run in ONE character scan per row
   * ([[graft.functions.SentenceChunks]], inside whole-stage codegen), and
   * the only row multiplier is the explode to one output row per chunk —
   * the same scan-speed shape as [[chunkDocuments]]. Documents with no
   * sentences (null/empty text) yield no rows.
   */
  def chunkBySentences(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxChars: Int = 1000,
      overlap: Int = 0): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
        explode(graft.functions.functions.sentence_chunks(
          col(textCol), maxChars, overlap)).as("__c"))
      .select(col(idCol), col("__c.chunk_id").as("chunk_id"),
        col("__c.chunk_text").as("chunk_text"))

  /** The composed higher-order-function SPECIFICATION form of
    * [[chunkBySentences]] — the shape the DuckDB oracle replays. The
    * public entry point rides the bit-identical single-scan kernel
    * [[graft.functions.SentenceChunks]] (cross-checked in
    * TextAnalysisSpec): the membership scan here is
    * O(sentences × chunks) interpreted-lambda evals per row, which made
    * `sentence_chunks` the battery's biggest per-row CPU after the
    * round-17 PoissonDraw win. */
  private[ops] def chunkBySentencesComposed(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxChars: Int = 1000,
      overlap: Int = 0): org.apache.spark.sql.DataFrame = {
    require(maxChars > 0, "maxChars must be positive")
    require(overlap >= 0 && overlap * 2 <= maxChars, "overlap must be in [0, maxChars/2]")
    val step = maxChars - overlap
    val sents = sentences(col(textCol))
    // start offset of each sentence in the sentence stream: one-pass
    // prefix sum — state is (offsets so far, running total)
    val starts = aggregate(sents,
      struct(array().cast("array<long>").as("a"), lit(0L).as("t")),
      (acc, s) => struct(
        concat(acc.getField("a"), array(acc.getField("t"))).as("a"),
        (acc.getField("t") + length(s)).as("t")),
      acc => acc.getField("a"))
    // exact integer floor(o / step) (o - o%step is a multiple of step, so
    // the double division is exact)
    def bin(o: Column): Column = ((o - o % step) / step).cast("long")
    // the membership scan is O(sentences x chunks) interpreted-lambda
    // evals per row; precomputing the per-sentence bins bought only ~9%
    // at the 20x sweep (lambda dispatch + chunk-string building dominate,
    // not the arithmetic), so the direct spec-shaped form stays
    val lastStart = element_at(col("__starts"), -1)
    df.select(col(idCol), sents.as("__sents"), starts.as("__starts"))
      .filter(size(col("__sents")) > 0)
      .select(col(idCol), col("__sents"), col("__starts"),
        explode(sequence(lit(0L), bin(lastStart))).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        array_join(filter(col("__sents"), (_, i) => {
          val o = element_at(col("__starts"), i + 1)
          bin(o) === col("chunk_id") ||
            (bin(o) - 1 === col("chunk_id") && o % step < overlap)
        }), "").as("chunk_text"))
      // offset windows with no sentence start (an over-long sentence spans
      // them) would otherwise surface as empty-string chunks
      .filter(col("chunk_text") =!= "")
  }

  /** Adjacent word n-grams of a token array, space-joined; empty when the
    * document has fewer than `n` tokens (null text included). This is the
    * composed-builtin SPECIFICATION form — `sequence`/`transform`/`slice`
    * are higher-order functions evaluated interpreted, outside whole-stage
    * codegen, which made the bigram battery query ~7x its unigram sibling.
    * The hot paths below call the bit-identical codegen'd kernel
    * [[graft.functions.TextHash.wordNgrams]] instead (cross-checked in
    * TextAnalysisSpec); this form remains as the oracle-shaped twin. */
  private[ops] def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** The codegen'd gram stream the typicality hot paths use: the
    * [[graft.functions.WordNgrams]] kernel for n >= 2, or plain
    * [[tokens]] for n = 1 (unigrams ARE the token stream — no join key
    * rewrite needed, and the unigram path keeps its measured plan). */
  private def wordNgramsFast(text: Column, n: Int, scriptAware: Boolean = false): Column =
    if (n == 1) toksOf(text, scriptAware)
    else graft.functions.functions.word_ngrams(text, n, scriptAware)

  /**
   * Collocation mining: the top-`k` adjacent word pairs by PMI-style
   * association in exact fixed-point —
   * `score_fp = n_pair * N * 1e6 DIV (n_w1 * n_w2)` (the PMI argument
   * without the log, which is monotone, so the RANKING is PMI's ranking —
   * the same no-libm substitution as tfidf/BM25). The phrase-discovery
   * pass before tokenizer training or n-gram feature design: pairs that
   * co-occur far above chance ("new york", "machine learning") surface,
   * chance-level neighbors don't. `minPairCount` suppresses noise pairs
   * whose tiny unigram counts would otherwise dominate the ratio.
   *
   * Plan: two corpus-token aggregations (unigrams via the token kernel,
   * pairs via the codegen'd [[graft.functions.WordNgrams]] bigram
   * kernel), vocab-sized equi-joins, a 1-row total broadcast and a
   * bounded global `TakeOrdered` — never a corpus-sized sort.
   * Intermediates ride DECIMAL(38,0) (`n_pair * N * 1e6` at web scale
   * ~1e32, inside headroom).
   */
  def collocations(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      k: Int = 20,
      minPairCount: Long = 5,
      scriptAware: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    require(k >= 1, s"k must be >= 1, got $k")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    val uni = df.select(explode(toksOf(col(textCol), scriptAware)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val total = uni.agg(sum(col("n_w")).as("__n"))
    val pairs = df.select(
        explode(wordNgramsFast(col(textCol), 2, scriptAware)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPairCount)
      .withColumn("w1", substring_index(col("pair"), " ", 1))
      .withColumn("w2", substring_index(col("pair"), " ", -1))
    pairs
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
      .join(broadcast(total))
      .withColumn("score_fp", expr(
        "CAST(CAST(n_pair AS DECIMAL(38,0)) * __n * 1000000" +
          " DIV (CAST(n_w1 AS DECIMAL(38,0)) * n_w2) AS BIGINT)"))
      .orderBy(col("score_fp").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("n_pair"), col("score_fp"))
  }

  /**
   * [[typicalityModel]] over adjacent word n-grams (default bigrams) —
   * one step closer to the real CCNet/KenLM recipe, whose reference model
   * is an n-gram LM: a unigram model scores any bag of common words as
   * typical, while the bigram model also demands common word ORDER
   * ("the cat sat" scores; "sat the cat" mostly misses). Same exact
   * integer ppm weighting, same capped top-V broadcastable shape — the
   * model stays bounded at any reference-corpus scale.
   */
  def typicalityModelN(
      ref: org.apache.spark.sql.DataFrame,
      refTextCol: String,
      n: Int = 2,
      vocabSize: Int = 4096,
      scriptAware: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    require(n >= 1, "n must be at least 1")
    val grams = wordNgramsFast(col(refTextCol), n, scriptAware)
    val total = ref.agg(sum(size(grams)).cast("long").as("__tot"))
    ref.select(explode(grams).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(total))
      .withColumn("ppm",
        expr("CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000 DIV __tot AS BIGINT)"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(vocabSize)
      .select(col("gram"), col("ppm"))
  }

  /**
   * [[typicalityScores]] under the n-gram model: mean reference ppm of the
   * document's adjacent n-grams. Documents with fewer than `n` tokens
   * produce no row (nothing to score — the word-count quality gate is the
   * right filter for those). Same scale shape as the unigram form:
   * bounded broadcast model, gram stream feeds one doc-keyed agg.
   */
  def typicalityScoresN(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      ref: org.apache.spark.sql.DataFrame,
      refTextCol: String,
      n: Int = 2,
      vocabSize: Int = 4096,
      scriptAware: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val model = typicalityModelN(ref, refTextCol, n, vocabSize, scriptAware)
    df.select(col(idCol),
      explode(wordNgramsFast(col(textCol), n, scriptAware)).as("gram"))
      .join(broadcast(model), Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(coalesce(col("ppm"), lit(0L))).as("__sum_ppm"))
      .withColumn("typicality_ppm",
        expr("CAST(CAST(__sum_ppm AS DECIMAL(38,0)) DIV n_grams AS BIGINT)"))
      .select(col(idCol), col("n_grams"), col("typicality_ppm"))
  }

  /**
   * Per-row [[typicalityScoresN]] against a collected `gram -> ppm` model
   * — the literal-map scan-speed/streaming form, like
   * [[typicalityScoreCol]]: one fold over the gram array, no join, no
   * shuffle, no state. Rows with fewer than `n` tokens score null.
   */
  def typicalityScoreColN(text: Column, model: Map[String, Long], n: Int = 2,
      scriptAware: Boolean = false): Column = {
    val m = typedLit(model)
    val grams = wordNgramsFast(text, n, scriptAware)
    val g = size(grams).cast("long")
    val s = aggregate(grams, lit(0L),
      (acc, t) => acc + coalesce(element_at(m, t), lit(0L)))
    when(g > 0, ((s - (s % g)) / g).cast("long"))
  }

  /**
   * Stupid-backoff typicality: score each adjacent bigram by the bigram
   * model when it knows the gram, else back off to `alphaPct`% of the
   * unigram model's weight for the gram's SECOND word — Brants et al.'s
   * "stupid backoff", the non-normalized scheme web-scale n-gram LMs
   * actually ship. A pure bigram model scores rare-but-well-formed text 0
   * (every unseen pair misses entirely); backoff separates "unseen pair
   * of common words" (partial credit via the unigram) from "gibberish
   * words" (0 under both models) — one step closer to the CCNet/KenLM
   * reference than either model alone.
   *
   * Same exact integer arithmetic as the other typicality forms (the
   * backoff contribution is `alphaPct * uni_ppm DIV 100`, the mean an
   * exactly-divisible quotient); documents with fewer than 2 tokens
   * produce no row. Scale: both models are capped top-V broadcasts, the
   * gram stream is the codegen'd [[graft.functions.WordNgrams]] kernel,
   * and everything funnels into ONE doc-keyed agg — the same
   * broadcast-join shape as [[typicalityScoresN]].
   */
  def typicalityScoresBackoff(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      ref: org.apache.spark.sql.DataFrame,
      refTextCol: String,
      vocabSize: Int = 4096,
      alphaPct: Int = 40,
      scriptAware: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    require(alphaPct >= 0 && alphaPct <= 100, s"alphaPct ($alphaPct) must be in [0, 100]")
    val uni = typicalityModel(ref, refTextCol, vocabSize, scriptAware)
      .withColumnRenamed("ppm", "uni_ppm")
    val bi = typicalityModelN(ref, refTextCol, 2, vocabSize, scriptAware)
      .withColumnRenamed("ppm", "bi_ppm")
    df.select(col(idCol),
      explode(wordNgramsFast(col(textCol), 2, scriptAware)).as("gram"))
      .withColumn("__w2", substring_index(col("gram"), " ", -1))
      .join(broadcast(bi), Seq("gram"), "left")
      .join(broadcast(uni), col("__w2") === col("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(expr(s"coalesce(bi_ppm, $alphaPct * coalesce(uni_ppm, CAST(0 AS BIGINT)) DIV 100)"))
          .as("__sum_ppm"))
      .withColumn("typicality_ppm",
        expr("CAST(CAST(__sum_ppm AS DECIMAL(38,0)) DIV n_grams AS BIGINT)"))
      .select(col(idCol), col("n_grams"), col("typicality_ppm"))
  }

  /**
   * Per-row [[typicalityScoresBackoff]] against collected `gram -> ppm` /
   * `term -> ppm` models — the literal-map scan-speed/streaming form: one
   * fold over the kernel's gram stream, both models fused as literal maps,
   * no join, no shuffle, no state. Rows with fewer than 2 tokens score
   * null.
   */
  def typicalityBackoffCol(
      text: Column,
      uniModel: Map[String, Long],
      biModel: Map[String, Long],
      alphaPct: Int = 40,
      scriptAware: Boolean = false): Column = {
    require(alphaPct >= 0 && alphaPct <= 100, s"alphaPct ($alphaPct) must be in [0, 100]")
    val um = typedLit(uniModel)
    val bm = typedLit(biModel)
    val grams = wordNgramsFast(text, 2, scriptAware)
    val g = size(grams).cast("long")
    val s = aggregate(grams, lit(0L), (acc, t) => {
      val backoff = lit(alphaPct.toLong) *
        coalesce(element_at(um, substring_index(t, " ", -1)), lit(0L))
      acc + coalesce(element_at(bm, t),
        ((backoff - backoff % 100) / 100).cast("long"))
    })
    when(g > 0, ((s - (s % g)) / g).cast("long"))
  }

  /**
   * Token-budget corpus cut: keep the HIGHEST-`scoreCol` documents whose
   * cumulative `tokensCol` stays within `budgetTokens` — the greedy
   * "best docs until the budget is full" selection every fixed-compute
   * training run ends with (score with the quality classifier or
   * typicality first, then cut). The kept set is the maximal prefix of
   * the `(score DESC, id ASC)` total order, so the result is a pure
   * function of the data — partitioning-independent and
   * oracle-replayable as one SQL cumulative sum. A null token count
   * counts as 0 (the document is kept while the budget holds), and
   * `cum_tokens` is LONG for integral token counts.
   *
   * Scale: a naive `sum().over(Window.orderBy(...))` global cumulative
   * sum collapses the corpus onto ONE reducer. Here `cum_tokens` is
   * [[Sketches.rangedCumSums]]' sharded scan over the order (range
   * shards, one linear scan per shard, broadcast per-shard offsets), and
   * the cut is one filter on it.
   */
  def selectTokenBudget(
      df: org.apache.spark.sql.DataFrame,
      scoreCol: String,
      tokensCol: String,
      idCol: String,
      budgetTokens: Long): org.apache.spark.sql.DataFrame = {
    require(budgetTokens >= 0, "budgetTokens must be non-negative")
    Sketches.rangedCumSums(df, Nil, Seq(col(scoreCol).desc, col(idCol)),
      cums = Seq(tokensCol -> "cum_tokens"))
      .filter(col("cum_tokens") <= budgetTokens)
  }

  /**
   * PER-GROUP token-budget cut — [[selectTokenBudget]] with one budget per
   * stratum (tokens per language / domain / source bucket), the selection
   * primitive behind "200B tokens of English, 40B of German" mixing
   * decisions: within each group, keep the highest-`scoreCol` rows whose
   * group-cumulative `tokensCol` fits that group's budget. Groups ABSENT
   * from `budgets` are dropped entirely (no budget = no tokens — list a
   * group explicitly to keep any of it). `budgets` is a literal map
   * (strata are human-curated-sized, as in [[targetMixSample]]); keys
   * match `groupCol` cast to string. Null token counts count as 0, as in
   * [[selectTokenBudget]].
   *
   * Scale: the same [[Sketches.rangedCumSums]] scan keyed by `groupCol`
   * over `(score DESC, id)`. A group hotter than one shard spreads across
   * several (contiguous) shards — no group ever collapses onto one
   * reducer, which a plain `Window.partitionBy(group)` cumulative sum
   * would force on a one-language-dominated corpus.
   */
  def selectTokenBudgetPerGroup(
      df: org.apache.spark.sql.DataFrame,
      groupCol: String,
      scoreCol: String,
      tokensCol: String,
      idCol: String,
      budgets: Map[String, Long]): org.apache.spark.sql.DataFrame = {
    require(budgets.nonEmpty, "budgets must name at least one group")
    require(budgets.values.forall(_ >= 0), "budgets must be non-negative")
    // a group missing from the map gets a null budget; `cum <= null` is
    // null and the filter drops the row — exactly the "absent = 0" rule
    val budget = element_at(typedLit(budgets), col(groupCol).cast("string"))
    Sketches.rangedCumSums(df, Seq(groupCol), Seq(col(scoreCol).desc, col(idCol)),
      cums = Seq(tokensCol -> "cum_tokens"))
      .filter(col("cum_tokens") <= budget)
  }

  /**
   * Exact global 1-based rank in `order` — `row_number() OVER (ORDER BY
   * ...)` semantics WITHOUT its scale bug (a global window collapses the
   * corpus onto ONE reducer): the rank is the running count of 1s in
   * order, so this is [[graft.ops.Sketches.rangedCumSums]]' scan recipe
   * verbatim — range-repartition by the order key (checkpoint-frozen
   * shard ids), a per-partition linear scan for local ranks, broadcast
   * per-shard offsets shifting them global. `order` must be a TOTAL
   * order (include a unique id as the last key) or ranks are partition-
   * dependent.
   */
  def withGlobalRank(
      df: org.apache.spark.sql.DataFrame,
      rankCol: String,
      order: Column*): org.apache.spark.sql.DataFrame = {
    require(order.nonEmpty, "withGlobalRank needs at least one order column")
    // rank = running count of 1s in order: the rangedCumSums scan recipe
    // (round 16) — one range exchange + a per-partition linear scan, no
    // second full-frame exchange to re-create the shard clustering
    Sketches.rangedCumSums(df.withColumn("__rank_one", lit(1L)), Seq.empty,
      order, cums = Seq("__rank_one" -> rankCol))
      .drop("__rank_one")
  }

  /**
   * Exact PER-GROUP 1-based rank in `order` — `row_number() OVER
   * (PARTITION BY group ORDER BY ...)` semantics without forcing a hot
   * group onto one reducer: the [[withGlobalRank]] scan recipe keyed
   * `(group, order...)`. A group hotter than one partition spreads
   * across contiguous partitions. `order` must totally order rows
   * WITHIN a group (end with a unique id) or ranks are
   * partition-dependent.
   */
  def withGroupRank(
      df: org.apache.spark.sql.DataFrame,
      rankCol: String,
      groupCols: Seq[String],
      order: Column*): org.apache.spark.sql.DataFrame = {
    require(groupCols.nonEmpty, "withGroupRank needs group columns (see withGlobalRank)")
    require(order.nonEmpty, "withGroupRank needs at least one order column")
    // same scan recipe as withGlobalRank, keyed (group, order...)
    Sketches.rangedCumSums(df.withColumn("__rank_one", lit(1L)), groupCols,
      order, cums = Seq("__rank_one" -> rankCol))
      .drop("__rank_one")
  }

  /**
   * Deterministic global shuffle for training-data export: every row gets
   * `shuffle_rank` — its exact position in the md5-keyed pseudo-random
   * total order `md5('shuffle:<salt>:' || id)` — so "shuffle the corpus
   * before training" becomes a pure function of the data: re-runs, the
   * oracle, and any engine agree on the full permutation, and a different
   * `salt` draws a fresh independent permutation. Write ordered by the
   * rank (the range partitioning already groups contiguous rank spans per
   * partition) and cap file sizes with `maxRecordsPerFile` for
   * fixed-size training shards.
   */
  def deterministicShuffle(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      salt: String = ""): org.apache.spark.sql.DataFrame =
    withGlobalRank(df, "shuffle_rank",
      md5(concat(lit(s"shuffle:$salt:"), col(idCol).cast("string"))), col(idCol))

  /**
   * Mixture plan from target shares: given documents with a stratum and a
   * token count, plus per-stratum target corpus shares (ppm) in `targets`
   * (`stratumCol`, `target_ppm`), compute each stratum's available tokens,
   * planned token budget, the sampling rate (ppm) that hits it, and the
   * stratum's consumption in hundredths of an epoch (`epochs_x100` < 100
   * means the budget subsamples the stratum; > 100 means it must repeat
   * to fill the budget) — the arithmetic every data-mixing decision
   * reduces to.
   *
   * All integer math (`DECIMAL(38,0)` intermediates, `DIV`), so the plan is
   * bit-identical on any engine. One agg shuffle on the stratum; targets
   * and the 1-row total broadcast — no collect.
   */
  def mixPlan(
      df: org.apache.spark.sql.DataFrame,
      stratumCol: String,
      tokensCol: String,
      targets: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val avail = df.groupBy(col(stratumCol))
      .agg(sum(col(tokensCol)).cast("long").as("avail_tokens"))
    val total = broadcast(avail.agg(sum(col("avail_tokens")).cast("long").as("__total")))
    avail.join(broadcast(targets), Seq(stratumCol)).join(total)
      .withColumn("planned_tokens",
        expr("CAST(CAST(__total AS DECIMAL(38,0)) * target_ppm DIV 1000000 AS BIGINT)"))
      // zero-token strata (all-empty documents) surface NULL rate/epochs —
      // their budget is unsatisfiable — instead of dividing by zero, which
      // under ANSI mode would abort the whole report
      .withColumn("rate_ppm", when(col("avail_tokens") === 0, lit(null).cast("long"))
        .otherwise(least(lit(1000000L),
          expr("CAST(CAST(planned_tokens AS DECIMAL(38,0)) * 1000000 DIV avail_tokens AS BIGINT)"))))
      // ceil division in pure integers: epochs = ceil(planned / avail)
      .withColumn("epochs_x100", when(col("avail_tokens") === 0, lit(null).cast("long"))
        .otherwise(
          expr("CAST((CAST(planned_tokens AS DECIMAL(38,0)) * 100 + avail_tokens - 1) DIV avail_tokens AS BIGINT)")))
      .drop("__total")
  }

  /**
   * EXACT integer square root of a non-negative LONG column: the unique
   * `w >= 0` with `w² <= t < (w+1)²`. Double `sqrt` alone is off by one
   * near perfect squares above 2^52; one floor + a two-sided integer
   * clamp repairs it, and because the clamp decides on pure integer
   * comparisons the result replays digit-for-digit in any engine with
   * the same three-step form. The upward probe compares via
   * `t − w1² >= 2·w1 + 1` (never forming `(w1+1)²`, which wraps Long for
   * `t >= 3037000499²` and would promote past the true root on the top
   * ~5.9e9 values of the domain). Null/negative inputs yield null.
   */
  def isqrt(t: Column): Column = {
    val w0 = floor(sqrt(t.cast("double"))).cast("long")
    val w1 = when(w0 * w0 > t, w0 - 1).otherwise(w0)
    when(t.isNull || t < 0, lit(null).cast("long"))
      .otherwise(when(t - w1 * w1 >= w1 * 2L + 1L, w1 + 1).otherwise(w1))
  }

  /**
   * Temperature-sampled mixture weights at α = 1/2 — the multilingual /
   * multi-source rebalancing law (`p_i ∝ tokens_i^α`, the mBERT/XLM
   * exponentiated-smoothing recipe, public formulation) in EXACT integer
   * arithmetic: α = 1/2 is [[isqrt]], the one temperature that needs no
   * libm `pow`, so the plan replays digit-for-digit cross-engine. Head
   * strata (English, web crawl) shrink toward the tail without drowning
   * it — the standard fix for "the 100 TB corpus is 90% one source".
   *
   * Per stratum: `n_tokens`, `sqrt_tokens`, the natural share
   * `natural_ppm = n_tokens·1e6 DIV total` and the sampled share
   * `weight_ppm = sqrt_tokens·1e6 DIV Σ sqrt_tokens`, plus
   * `boost_x100 = weight_ppm·100 DIV natural_ppm` (>100 = up-sampled
   * tail, <100 = down-sampled head; null when the natural share floors
   * to 0 ppm). ONE stratum agg + a 1-row broadcast total — no collect.
   */
  def sqrtMixWeights(
      df: org.apache.spark.sql.DataFrame,
      stratumCol: String,
      tokensCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val avail = df.groupBy(col(stratumCol))
      .agg(sum(col(tokensCol)).cast("long").as("n_tokens"))
      .withColumn("sqrt_tokens", isqrt(col("n_tokens")))
    val total = broadcast(avail.agg(
      sum(col("n_tokens")).cast("DECIMAL(38,0)").as("__t"),
      sum(col("sqrt_tokens")).cast("DECIMAL(38,0)").as("__st")))
    avail.crossJoin(total)
      .withColumn("natural_ppm",
        expr("CAST(CASE WHEN __t > 0 THEN CAST(n_tokens AS DECIMAL(38,0)) * 1000000 DIV __t END AS BIGINT)"))
      .withColumn("weight_ppm",
        expr("CAST(CASE WHEN __st > 0 THEN CAST(sqrt_tokens AS DECIMAL(38,0)) * 1000000 DIV __st END AS BIGINT)"))
      .withColumn("boost_x100",
        expr("CAST(CASE WHEN natural_ppm > 0 THEN CAST(weight_ppm AS DECIMAL(38,0)) * 100 DIV natural_ppm END AS BIGINT)"))
      .drop("__t", "__st")
  }

  /**
   * Hashing-trick TF vector of a document
   * ([[graft.functions.TextHash.hashedTf]] kernel, one codegen'd pass):
   * the featurizer that makes the entire similarity stack —
   * [[Similarity.bruteForceTopK]], LSH/IVF/projected ANN,
   * [[Similarity.embeddingNearDupPairs]] — run on raw text with NO
   * trained embedding model. Dimension = first 16 md5 bits of the token
   * mod `dims` (the sampling-bucket convention, bit-identical in any
   * engine); values are exact integer counts in doubles. Cosine over
   * these vectors is classic bag-of-words similarity; hash collisions
   * only ever MERGE dimensions (Johnson-Lindenstrauss-style graceful
   * degradation as `dims` shrinks).
   */
  def hashedTfVector(text: Column, dims: Int = 256, scriptAware: Boolean = false): Column =
    graft.functions.functions.hashed_tf(text, dims, scriptAware)

  /** Composed-builtin SPECIFICATION twin of [[hashedTfVector]] — the
    * O(dims x tokens) form the DuckDB oracle mirrors (`conv` is
    * JVM-side only; the oracle uses hex-digit arithmetic). */
  private[ops] def hashedTfComposed(text: Column, dims: Int): Column = {
    val toks = tokens(text)
    transform(sequence(lit(0), lit(dims - 1)), d =>
      size(filter(toks, t =>
        (conv(substring(md5(t), 1, 4), 16, 10).cast("int") % dims) === d))
        .cast("double"))
  }

  /** Full-document fingerprint: md5 of the normalized text. */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /**
   * Rolling-window fingerprint (winnowing-style): the minimum hash over all
   * word `w`-gram windows — robust to small appends/prepends, unlike the
   * full-document hash. Native single-pass kernel; [[rollingFingerprintComposed]]
   * is the built-in-function specification it is cross-checked against.
   */
  def rollingFingerprint(text: Column, window: Int = 5,
      scriptAware: Boolean = false): Column =
    graft.functions.functions.rolling_fingerprint(text, window, scriptAware)

  private[graft] def rollingFingerprintComposed(text: Column, window: Int = 5): Column = {
    val toks = tokens(text)
    val n = size(toks)
    val starts = sequence(lit(1), greatest(n - (window - 1), lit(1)))
    array_min(transform(starts, i => md5(array_join(slice(toks, i, lit(window)), " "))))
  }

  /**
   * Blocklist screen over a phrase list — the safety/compliance gate a
   * curation pipeline runs against THOUSANDS of banned phrases: per row,
   * the distinct matched phrases (binary-sorted array) and their count,
   * via the Aho–Corasick kernel ([[graft.functions.MultiMatch]]) that
   * walks each document ONCE however many phrases are listed (the
   * composed `exists(contains)` form re-scans the text per phrase —
   * O(phrases x text) makes a 10k-phrase list unrunnable at corpus
   * scale). Case-insensitive: both sides are lowercased (Locale.ROOT);
   * phrases must already be lowercase so the screen can never silently
   * miss. Per-row codegen, exchange-free — scan-speed at any scale, the
   * same profile as the Gopher gates.
   *
   * Adds `matched_terms` (array, empty when clean; null text stays null)
   * and `n_matched`. Gate with `n_matched === 0`, audit with the terms.
   */
  def blocklistHits(
      df: DataFrame,
      textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "blocklistHits needs at least one phrase")
    require(phrases.forall(p => p == p.toLowerCase(java.util.Locale.ROOT)),
      "blocklist phrases must be lowercase (the text is lowercased to match)")
    df.withColumn("matched_terms",
      graft.functions.functions.multi_match(lower(col(textCol)), phrases))
      .withColumn("n_matched", size(col("matched_terms")))
  }

  /** Built-in-function specification of the blocklist match (spec
    * cross-check): re-scans per phrase — the O(phrases x text) form. */
  private[graft] def blocklistHitsComposed(text: Column, phrases: Seq[String]): Column =
    array_sort(filter(
      array_distinct(typedLit(phrases.map(_.toLowerCase(java.util.Locale.ROOT)))),
      p => contains(lower(text), p)))

  /**
   * Zipf rank-frequency slope of the corpus vocabulary — the OLS fit of
   * `floor(log2 freq)` against `floor(log2 rank)` over the term-frequency
   * table, in exact integer ppm ([[Stats.olsFromSums]]): natural language
   * sits near slope −1e6 (Zipf's law); boilerplate-stamped, deduplicated
   * or synthetic corpora flatten the head or amputate the tail, and the
   * slope + `r2_ppm` read it off corpus-wide in one number. Both "logs"
   * are INTEGER BIT LENGTHS (`length(bin(x)) - 1` — floor-log2, the
   * [[graft.ops.DataQuality.log2Histogram]] law), so every engine replays
   * the fit digit-for-digit; libm never enters.
   *
   * Plan: vocab-sized term counts (map-side combined), the global
   * frequency rank via [[withGlobalRank]]'s range-partition recipe (total
   * order: count desc, term asc — NEVER a one-reducer window), then ONE
   * six-sum OLS agg. Scale unit: the vocabulary.
   */
  def zipfSlope(df: DataFrame, textCol: String): DataFrame = {
    val counts = df
      .select(explode(tokens(col(textCol))).as("__term"))
      .groupBy(col("__term")).agg(count(lit(1)).as("__cnt"))
    val ranked = withGlobalRank(counts, "__rank", col("__cnt").desc, col("__term").asc)
      .withColumn("__lr", length(bin(col("__rank"))).cast("long") - 1L)
      .withColumn("__lf", length(bin(col("__cnt"))).cast("long") - 1L)
    graft.ops.Stats.olsFromSums(
      graft.ops.Stats.olsSums(ranked, Seq.empty, "__lr", "__lf"), Seq.empty)
  }
}
