package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Web-provenance operators for crawled-corpus curation — the URL side of
 * the front-of-funnel that [[TextAnalysis.htmlToText]] opens: parse and
 * canonicalize document URLs, reduce hosts to registrable domains, and
 * aggregate per-domain quality statistics (the measurement that writes a
 * domain blocklist or sizes [[TextAnalysis.sourceCap]]).
 *
 * Everything is a pure per-row codegen'd regexp/string chain or one
 * map-side-combined aggregation; every expression is written to behave
 * identically under Java regex and RE2 (no backreferences, no replacement
 * group refs — Spark uses `$1` where RE2 uses `\1`, so replacements here
 * use none), keeping results engine-reproducible. Parsing is a
 * deterministic heuristic, not a full RFC 3986 parser: userinfo is left in
 * the host, IPv6 literals and punycode pass through unsplit — the standard
 * tradeoffs of regex URL handling, identical on every engine.
 */
object Web {

  /** URLs without a scheme parse as http (one parse path for bare hosts). */
  private def withScheme(url: Column): Column =
    when(url.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), url)
      .otherwise(concat(lit("http://"), url))

  /** Everything before the fragment, scheme-forced — the parse input. */
  private def defrag(url: Column): Column =
    regexp_replace(withScheme(url), "#.*", "")

  /** Lowercased scheme (`http` for schemeless inputs). */
  def urlScheme(url: Column): Column =
    lower(regexp_extract(withScheme(url), "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))

  /** Lowercased host, any `:port` suffix stripped. */
  def urlHost(url: Column): Column =
    lower(regexp_replace(
      regexp_extract(defrag(url), "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1),
      ":[0-9]+$", ""))

  /** Path component (empty for bare hosts, `/` kept verbatim). */
  def urlPath(url: Column): Column =
    regexp_extract(defrag(url), "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)

  /** Query string without the `?` (empty when absent). */
  def urlQuery(url: Column): Column =
    regexp_extract(defrag(url), "\\?([^#]*)", 1)

  /**
   * Second-level labels under which the registrable domain takes THREE
   * labels (`example.co.uk`) instead of two (`example.com`) — the compact
   * public-suffix heuristic (the full PSL is thousands of rules; these
   * cover the dominant ccTLD second-level registration labels across
   * uk/jp/au/br/kr/in/za/nz/..., and the two-label fallback is right for
   * everything else). The rule only fires under a TWO-LETTER top label
   * (a ccTLD shape), so gTLD hosts that happen to end in one of these
   * labels (`me.com`, `pe.com`) never lose their own registration.
   */
  val SecondLevelLabels: Seq[String] = Seq(
    "ac", "asn", "co", "com", "ed", "edu", "go", "gob", "gouv", "gov", "gr",
    "id", "lg", "ltd", "me", "mil", "ne", "net", "nom", "or", "org", "pe",
    "plc", "re", "res", "sch", "web")

  /**
   * Hosting-platform suffixes from the PUBLIC Suffix List's private
   * section (public data; the dominant subset): registrations one level
   * below these belong to DIFFERENT users, so grouping them as one
   * "domain" would let a single blocklist entry or [[TextAnalysis.sourceCap]]
   * bucket swallow an entire hosting platform (every `*.blogspot.com`
   * blog as one source). [[registeredDomain]] widens by one label when its
   * base result lands on one of these — which also composes with the
   * ccTLD rule (`foo.blogspot.co.uk` → `foo.blogspot.co.uk`'s base
   * `blogspot.co.uk` is listed, so the user label is kept).
   */
  val PrivateSuffixes: Seq[String] = Seq(
    "blogspot.com", "blogspot.co.uk", "blogspot.com.au", "blogspot.com.br",
    "blogspot.de", "blogspot.fr", "blogspot.in", "blogspot.jp",
    "blogspot.mx", "github.io", "gitlab.io", "wordpress.com", "tumblr.com",
    "weebly.com", "wixsite.com", "neocities.org", "readthedocs.io",
    "netlify.app", "vercel.app", "pages.dev", "web.app", "firebaseapp.com",
    "herokuapp.com", "appspot.com", "azurewebsites.net", "surge.sh")

  /**
   * Registrable domain of a (lowercased) host: the last two labels, or the
   * last three when the top label is two letters (ccTLD shape) and the
   * second-to-last is a [[SecondLevelLabels]] entry — so
   * `www.blog.example.co.uk` and `cdn.example.co.uk` both group as
   * `example.co.uk`, and `shop.example.com.br` / `site.example.or.jp` /
   * `john.id.au` each keep their three-label registration. When that base
   * result is a [[PrivateSuffixes]] hosting platform, one MORE label is
   * kept (`alice.blogspot.com` and `bob.blogspot.com` are different
   * registrants, not one domain). The grouping key for domain caps,
   * blocklists and provenance stats; hosts with at most two labels pass
   * through.
   */
  def registeredDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val take3 = n >= 3 && length(element_at(labels, -1)) === 2 &&
      element_at(labels, -2).isin(SecondLevelLabels.map(x => x: Any): _*)
    val baseLen = when(take3, lit(3)).otherwise(lit(2))
    val base = when(n <= 2, host)
      .otherwise(array_join(slice(labels, n - baseLen + lit(1), baseLen), "."))
    when(base.isin(PrivateSuffixes.map(x => x: Any): _*) && n > baseLen,
      array_join(slice(labels, n - baseLen, baseLen + lit(1)), "."))
      .otherwise(base)
  }

  /** [[registeredDomain]] straight from a URL. */
  def urlDomain(url: Column): Column = registeredDomain(urlHost(url))

  /**
   * Canonical URL for exact-dedup and grouping: scheme and host lowercase,
   * default ports (`:80`/`:443`) stripped, fragment dropped, tracking
   * parameters (`utm_*`, `gclid`, `fbclid`) removed with separators
   * repaired, and a bare `/` path folded to empty — so
   * `HTTP://X.com:80/?utm_source=a` and `http://x.com` collide. Content
   * parameters are KEPT in their original order (reordering changes
   * semantics on some sites); this is C4-style URL canonicalization, not
   * equivalence proving.
   */
  def normalizeUrl(url: Column): Column = {
    val u = defrag(url)
    val sch = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = lower(regexp_replace(
      regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1), ":(80|443)$", ""))
    val path0 = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "/", lit("")).otherwise(path0)
    // pad with '&' so every parameter is '&'-delimited, strip trackers
    // globally, then trim the padding — no replacement group refs needed
    val q = trim(regexp_replace(
      concat(lit("&"), regexp_extract(u, "\\?([^#]*)", 1), lit("&")),
      "&(utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&]*", ""), "&")
    concat(sch, lit("://"), host, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }

  /**
   * URL-level exact dedup: keep ONE row per canonical URL
   * ([[normalizeUrl]]), the one with the smallest `keyCol` — the cheapest
   * dedup tier of a crawl pipeline (FineWeb/CC dedup by URL before any
   * text hashing: recrawls and tracking-param variants of the same page
   * collapse without ever shingling their bodies). Rows with a NULL URL
   * are kept untouched (no URL != same URL). Same single partial-agg
   * `min_by` shuffle as [[Dedup.exact]] — the arg-min combines map-side,
   * so at 100 TB the shuffle carries one candidate row per canonical URL
   * per map partition, never the full crawl.
   */
  def dedupByUrl(df: DataFrame, urlCol: String, keyCol: String): DataFrame =
    dedupByUrlOrdering(df, urlCol, col(keyCol))

  /**
   * [[dedupByUrl]] keeping the BEST-scored recrawl instead of the
   * smallest-keyed one — "of these crawls of the same page, keep the
   * longest / most recent / highest-quality snapshot". Same null and
   * shuffle semantics; ties (and all-null scores) fall to the smallest
   * `keyCol`, null scores lose to any scored row (the same
   * `(null-flag, -score, key)` arg-min as [[Dedup.exactKeepBest]], with
   * the same overflow-safe integral negation).
   */
  def dedupByUrlKeepBest(
      df: DataFrame, urlCol: String, scoreCol: String, keyCol: String): DataFrame =
    dedupByUrlOrdering(df, urlCol,
      struct(col(scoreCol).isNull.cast("int").as("__scoreless"),
        Dedup.descendingScore(col(scoreCol), df.schema(scoreCol).dataType).as("__neg"),
        col(keyCol).as("__key")))

  private def dedupByUrlOrdering(df: DataFrame, urlCol: String, ordering: Column): DataFrame = {
    val cols = df.columns.toSeq
    val row = struct(cols.map(col): _*)
    val dups = df.filter(col(urlCol).isNotNull)
      .groupBy(normalizeUrl(col(urlCol)).as("__canon"))
      .agg(min_by(row, ordering).as("__row"))
      .select(cols.map(c => col(s"__row.$c")): _*)
    dups.unionByName(df.filter(col(urlCol).isNull))
  }

  /**
   * Extensions whose URLs are not prose pages: binary/media assets and
   * code/style resources a text crawl should skip before fetching or
   * keep out of a text corpus after (the C4/RefinedWeb URL-filter list's
   * dominant subset).
   */
  val NonPageExtensions: Seq[String] = Seq(
    "7z", "avi", "bmp", "bz2", "css", "csv", "dmg", "doc", "docx", "exe",
    "flv", "gif", "gz", "ico", "iso", "jpeg", "jpg", "js", "json", "mid",
    "mov", "mp3", "mp4", "mpeg", "mpg", "ogg", "pdf", "png", "ppt", "pptx",
    "rar", "svg", "swf", "tar", "tgz", "tif", "tiff", "wav", "webm", "webp",
    "wmv", "xls", "xlsx", "xml", "zip")

  /**
   * URL-level quality flags — the pre-fetch/pre-corpus filter of a crawl
   * funnel (C4/RefinedWeb recipe: cheap URL heuristics drop non-page and
   * spam-shaped URLs before any byte of body text is paid for). Per-URL
   * 0/1 flags plus an overall `passes` product:
   *
   *  - `ok_extension` — the path does not end in a [[NonPageExtensions]]
   *    asset extension (case-insensitive);
   *  - `ok_depth` — at most `maxDepth` path segments (deep paths are
   *    calendars, faceted search, session trees);
   *  - `ok_length` — the whole URL is at most `maxLength` chars (very
   *    long URLs are tracking/session state, not content);
   *  - `ok_params` — at most `maxParams` query parameters (parameter
   *    explosions are faceted/search/session pages);
   *  - `ok_words` — no `blockedWords` substring in the lowercased URL
   *    (the adult/gambling word filter; empty set disables).
   *
   * Pure per-row codegen'd string/regex work, identical under Java regex
   * and RE2 — same portability contract as the rest of [[Web]].
   */
  def urlQualityFlags(
      url: Column,
      maxDepth: Int = 10,
      maxLength: Int = 512,
      maxParams: Int = 8,
      blockedWords: Seq[String] = Seq("casino", "porn", "viagra", "xxx")):
      Seq[(String, Column)] = {
    require(maxDepth >= 1 && maxLength >= 1 && maxParams >= 0, "bounds must be positive")
    val path = urlPath(url)
    val query = urlQuery(url)
    val ext = lower(regexp_extract(path, "\\.([A-Za-z0-9]{1,5})$", 1))
    val okExt = ext === "" || !ext.isin(NonPageExtensions.map(x => x: Any): _*)
    // segments = '/' count of the trimmed path ("/a/b/" -> a, b)
    val trimmed = regexp_replace(path, "^/|/$", "")
    val depth = when(trimmed === "", lit(0))
      .otherwise(length(trimmed) - length(regexp_replace(trimmed, "/", "")) + 1)
    val nParams = when(query === "", lit(0))
      .otherwise(length(query) - length(regexp_replace(query, "&", "")) + 1)
    val lowered = lower(url)
    val wordHit = blockedWords.foldLeft(lit(false))((acc, w) =>
      acc || lowered.contains(w))
    val flags = Seq(
      "ok_extension" -> okExt,
      "ok_depth" -> (depth <= maxDepth),
      "ok_length" -> (length(url) <= maxLength),
      "ok_params" -> (nParams <= maxParams),
      "ok_words" -> !wordHit)
    val asInts = flags.map { case (n, c) => n -> when(c, 1L).otherwise(0L) }
    asInts :+ ("passes" -> asInts.map(_._2).reduce(_ * _))
  }

  /**
   * Per-domain quality profile — the measurement pass behind a domain
   * blocklist: document count, punctuation-character share and
   * Gopher-gate failure share (both exact integer ppm, DECIMAL(38)
   * cross-multiplies so sums never overflow at corpus scale), and a
   * `low_quality` verdict when either share exceeds its threshold. Feed
   * the flagged domains to a filter or [[TextAnalysis.sourceCap]]; at
   * 100 TB this is ONE map-side-combined aggregation over the scan,
   * output is domain-cardinality-sized.
   */
  def domainQualityProfile(
      df: DataFrame,
      domainCol: String,
      textCol: String,
      maxPunctPpm: Long = 200000L,
      maxGateFailPpm: Long = 500000L): DataFrame = {
    val punct = length(col(textCol)) -
      length(regexp_replace(col(textCol), """[^a-zA-Z0-9\s]""", ""))
    val passes = TextAnalysis.qualityFlags(col(textCol))
      .collectFirst { case ("passes", c) => c }.get
    df.select(col(domainCol).as("domain"),
        length(col(textCol)).as("__chars"), punct.as("__punct"), passes.as("__passes"))
      .groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("CAST(CAST(sum(__punct) AS DECIMAL(38,0)) * 1000000" +
          " DIV greatest(sum(__chars), 1) AS BIGINT)").as("punct_ppm"),
        expr("CAST(CAST(sum(CASE WHEN __passes = 0 THEN 1 ELSE 0 END) AS DECIMAL(38,0))" +
          " * 1000000 DIV count(1) AS BIGINT)").as("gate_fail_ppm"))
      .withColumn("low_quality",
        when(col("punct_ppm") > maxPunctPpm || col("gate_fail_ppm") > maxGateFailPpm, 1L)
          .otherwise(0L))
  }

  /**
   * Per-domain dedup pressure: how much of each domain's crawl volume is
   * exact-duplicate text — `(domain, n_docs, n_unique, dup_ppm)` with
   * `dup_ppm = (n_docs - n_unique) * 1e6 DIV n_docs` in exact integers.
   * High-pressure domains are mirrors, boilerplate farms or scraper
   * loops; feed them to [[TextAnalysis.sourceCap]] or the blocklist —
   * this is the MEASUREMENT pass that tells a curation team where its
   * dedup budget actually goes. One map-side-combined aggregation over
   * `(domain, md5(text))`, then a domain-sized rollup; normalization of
   * the text (NFKC etc.) is the caller's job, same as the dedup tiers.
   */
  def domainDedupProfile(
      df: DataFrame,
      domainCol: String,
      textCol: String): DataFrame =
    df.select(col(domainCol).as("domain"), md5(col(textCol)).as("__fp"))
      .groupBy(col("domain"), col("__fp")).agg(count(lit(1)).as("__n"))
      .groupBy(col("domain"))
      .agg(sum(col("__n")).as("n_docs"), count(lit(1)).as("n_unique"))
      .withColumn("dup_ppm",
        expr("((n_docs - n_unique) * 1000000) DIV n_docs"))

  /**
   * Anchor elements (`<a ... href="...">text</a>`) of an HTML column, as
   * two aligned arrays — the extraction step under outlink counting and
   * the host link graph [[Graphs.pageRank]] ranks. One pattern produces
   * BOTH arrays (href = group 1, anchor text = group 2), so they are
   * always index-aligned; anchors whose text contains nested markup
   * (`<a..><b>x</b></a>`) are skipped by the `[^<]*` text class — the
   * deliberate tradeoff that keeps the pattern single-pass, non-greedy-free
   * and identical under Java regex and RE2 (same contract as
   * [[TextAnalysis.htmlToText]]). Unquoted or single-quoted href values
   * are skipped too (rare in modern markup; a second pattern would double
   * the scan cost for them).
   */
  private val AnchorPattern = "(?i)<a\\s[^>]*href=\"([^\"]+)\"[^>]*>([^<]*)</a>"

  /** Index-aligned href values of [[AnchorPattern]] matches. */
  def linkHrefs(html: Column): Column =
    regexp_extract_all(html, lit(AnchorPattern), lit(1))

  /** Index-aligned anchor texts of [[AnchorPattern]] matches. */
  def linkAnchors(html: Column): Column =
    regexp_extract_all(html, lit(AnchorPattern), lit(2))

  /**
   * One row per extracted link: `(idCol, link_pos, href, anchor)` with
   * `link_pos` the 0-based position of the link in the page. Pure per-row
   * regexp work plus one exchange-free `posexplode`; pages without links
   * (or null html) produce no rows. Feed `urlHost`/`registeredDomain`
   * over `href` to build the host graph for [[Graphs.pageRank]].
   */
  def extractLinks(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    df.select(col(idCol),
        arrays_zip(linkHrefs(col(htmlCol)).as("href"),
          linkAnchors(col(htmlCol)).as("anchor")).as("__links"))
      .select(col(idCol), posexplode(col("__links")).as(Seq("link_pos", "__l")))
      .select(col(idCol), col("link_pos").cast("long").as("link_pos"),
        col("__l.href").as("href"), col("__l.anchor").as("anchor"))

  /**
   * Anchor-text profile: the top-`k` terms OTHER pages use when linking
   * to each host — the classic off-page relevance signal (how the web
   * describes a site beats how the site describes itself), and a cheap
   * domain labeler next to [[domainQualityProfile]]'s quality stats.
   * Input is [[extractLinks]] output (or any `(host, anchor)` frame);
   * terms explode off the scan, ONE `(host, term)` count aggregation,
   * then the k-capped [[TopK.ranked]] partial per host — no window,
   * no per-host sort of the full term list. Rank is 1-based by
   * `(count desc, term)`.
   */
  def anchorTextProfile(
      links: DataFrame,
      hostCol: String,
      anchorCol: String,
      k: Int = 3): DataFrame = {
    val counts = links.select(col(hostCol).as("host"),
        explode(TextAnalysis.tokens(col(anchorCol))).as("term"))
      .groupBy(col("host"), col("term")).agg(count(lit(1)).as("n"))
    TopK.ranked(counts, Seq("host"), Seq(col("n").desc, col("term")), Seq("term", "n"), k)
      .withColumn("rank", col("rank").cast("long"))
  }

  /**
   * Hierarchical URL-path rollup: every URL contributes a count to EACH
   * of its path prefixes up to `maxDepth` segments deep — the site-map
   * view of a crawl (`/docs` 1.2M pages, `/docs/api` 800k, ...) that
   * drives per-section crawl budgeting and template detection (a prefix
   * whose count ≈ one template's page count is a section, not content).
   * Emits `(host, depth, prefix, n_urls)` with `prefix` =
   * `/seg1/.../segd`; bare hosts and root paths contribute only to
   * downstream host totals (no segments → no rows), empty segments from
   * `//` collapse. Hosts are lowercased, ports stripped ([[urlHost]]);
   * fragments and queries never count ([[urlPath]]).
   *
   * Per-row fan-out is `min(segments, maxDepth)` — row-linear × depth —
   * into ONE (host, prefix) count agg, map-side combined; hot prefixes
   * partial-aggregate before the exchange, so a template flood compacts
   * in the map phase. Depth recomputes from the prefix, not a second
   * shuffle key.
   */
  def pathRollup(df: DataFrame, urlCol: String, maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val segs = filter(split(urlPath(col(urlCol)), "/"), s => s =!= "")
    // sequence(1, 0) would DESCEND, not empty out — guard the bare-host case
    val prefixes = when(size(segs) >= 1, transform(
      sequence(lit(1), least(size(segs), lit(maxDepth))),
      d => concat(lit("/"), array_join(slice(segs, lit(1), d), "/"))))
      .otherwise(array().cast("array<string>"))
    df.select(urlHost(col(urlCol)).as("host"), explode(prefixes).as("prefix"))
      .groupBy(col("host"), col("prefix"))
      .agg(count(lit(1)).as("n_urls"))
      .withColumn("depth", (size(split(col("prefix"), "/")) - 1).cast("long"))
      .select(col("host"), col("depth"), col("prefix"), col("n_urls"))
  }
}
