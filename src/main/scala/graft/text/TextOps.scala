package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus curation: token
  * counting, quality signals, language ID, fingerprinting, shingling.
  * All pure `Column` expressions (codegen-friendly, no UDFs) so they
  * vectorize inside whole-stage codegen and push through Catalyst.
  */
object TextOps {

  /** Whitespace-token count. */
  def tokenCount(text: Column): Column = regexp_count(text, lit("\\S+"))

  /** BPE-ish subword-ish count: word pieces + digits + punctuation marks
    * counted separately (a cheap, deterministic proxy for tokenizer load). */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))

  def punctCount(text: Column): Column =
    regexp_count(text, lit("[\\p{Punct}]"))

  def upperCount(text: Column): Column = regexp_count(text, lit("[A-Z]"))

  val EnglishStopwords: Seq[String] =
    Seq("the", "and", "of", "to", "in", "a", "is", "that", "it", "for",
      "on", "with", "as", "was", "at", "by", "an", "be", "this", "are")

  def stopwordCount(text: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    regexp_count(lower(text),
      lit("\\b(" + stopwords.mkString("|") + ")\\b"))

  /** Composite quality score in [0,1]-ish from integer signals; the exact
    * arithmetic (IEEE double of exact long ratios) is reproducible across
    * engines. Higher = cleaner prose. */
  def qualityScore(text: Column): Column = {
    val n = length(text).cast("double")
    val toks = tokenCount(text).cast("double")
    val punct = punctCount(text).cast("double")
    val stop = stopwordCount(text).cast("double")
    val upper = upperCount(text).cast("double")
    val lenScore = least(n / lit(500.0), lit(1.0))
    val stopScore = least(stop / greatest(toks, lit(1.0)) * lit(4.0), lit(1.0))
    val punctPenalty = least(punct / greatest(n, lit(1.0)) * lit(5.0), lit(1.0))
    val upperPenalty = least(upper / greatest(n, lit(1.0)) * lit(4.0), lit(1.0))
    (lenScore * lit(0.3) + stopScore * lit(0.4) +
      (lit(1.0) - punctPenalty) * lit(0.15) +
      (lit(1.0) - upperPenalty) * lit(0.15))
  }

  /** Marker-word languages for the n-gram/stopword language-ID
    * heuristic. Markers are ASCII-only on purpose: both engines' `\b`
    * is an ASCII word boundary, so a non-ASCII-lettered marker (`é`,
    * `ä`, Cyrillic) would silently never match — Russian is therefore
    * keyed on its standard transliterations. Shared tokens across
    * languages (de/pt `das`, es/it `una con`) are resolved by score,
    * then declaration order. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "pour"),
    "es" -> Seq("el", "los", "las", "es", "una", "para", "con", "del"),
    "it" -> Seq("il", "di", "che", "per", "sono", "una", "con", "della"),
    "pt" -> Seq("uma", "das", "dos", "como", "mais", "quando", "isso", "ela"),
    "nl" -> Seq("het", "een", "van", "niet", "zijn", "maar", "voor", "ook"),
    "pl" -> Seq("nie", "jest", "tak", "ale", "jak", "czy", "tylko", "przez"),
    "ru" -> Seq("eto", "chto", "kak", "potomu", "ochen", "tolko",
      "seychas", "horosho"),
    "sv" -> Seq("och", "att", "det", "som", "inte", "jag", "han", "hon"),
    "id" -> Seq("yang", "dan", "ini", "itu", "dengan", "untuk", "tidak",
      "ada"),
    "tr" -> Seq("bir", "ve", "bu", "ile", "ama", "gibi", "daha", "olarak"))

  def langScore(text: Column, markers: Seq[String]): Column =
    regexp_count(lower(text), lit("\\b(" + markers.mkString("|") + ")\\b"))

  /** Predicted language = argmax of marker-word hit counts; ties resolve
    * in `LangMarkers` declaration order; zero hits (or null text) ->
    * "und" (undetermined). Fused single-pass codegen'd expression
    * ([[LangId]]): one lowercase + one byte scan instead of one
    * regexp_count NFA pass per language — semantics identical to the
    * regexp cascade ([[langIdRegex]], kept as the spec-tested
    * reference). */
  def langId(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
    coalesce(column(LangId(expression(text))), lit("und"))
  }

  /** The 12-regexp reference formulation of [[langId]] — one
    * `regexp_count` per language, argmax with declaration-order ties.
    * Slower (12 NFA passes over each document); retained as the
    * equivalence oracle for the fused expression (TextSpec property). */
  def langIdRegex(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, m) => lang -> langScore(text, m) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // outermost `when` = first declared language = highest tie priority
    scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Content fingerprint: md5 of the raw text (exact-dup key). */
  def fingerprintMd5(text: Column): Column = md5(text.cast("binary"))

  /** Unicode normalization ([[UnicodeNormalize]], codegen'd): the
    * canonical pre-dedup step — byte-identical dedup keys need
    * canonically equivalent strings to hash identically. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
    column(UnicodeNormalize(expression(text), form))
  }

  /** Lower-cased word tokens. `array_remove`, not a `filter` lambda: the
    * split only yields empty strings (at the text boundaries), and
    * array_remove is a plain codegen'd expression while higher-order
    * lambdas evaluate through the row interpreter. */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9]+"), "")

  /** Distinct word n-gram shingles from an already-materialized token
    * array column. Callers should bind the token array to a real column
    * (behind an exchange) first: `toks` is referenced once per element
    * here, and higher-order lambdas are interpreted — an inlined
    * tokenization EXPRESSION would re-run the regex split per shingle
    * (~tokens× slowdown; no codegen subexpression elimination inside
    * lambdas). */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array()))

  /** Distinct word n-gram shingles (space-joined). Convenience form — for
    * hot paths prefer materializing `tokens` first (see
    * [[shinglesFromTokens]]). */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  // ------------------------------------------------------------- URLs

  /** Tracking query parameters stripped by [[canonicalizeUrl]] — the
    * standard web-corpus set (analytics campaign tags and click ids).
    * Deliberately NOT the bare name `ref`: unlike `utm_*`/`gclid`, `ref`
    * is widely functional (git hosting `?ref=branch`, docs `?ref=v2`),
    * so stripping it would collapse semantically distinct URLs onto one
    * dedup key; only the referral-shaped `ref_src`/`ref_url` forms go. */
  val TrackingParams = "utm_[^&=#]*|gclid|fbclid|msclkid|ref_src|ref_url"

  /** Canonical URL for exact URL-level dedup (the CCNet/RefinedWeb-style
    * normalization step before URL-keyed dedup). Deterministic,
    * regexp-only — a chain of codegen'd `regexp_replace`, no
    * higher-order lambdas, so it runs inside whole-stage codegen over
    * corpus-scale URL columns. Steps, in order:
    *
    *  1. trim; drop the `#fragment`;
    *  2. lowercase the scheme://host prefix (path/query keep their case);
    *  3. strip a `www.` host prefix;
    *  4. strip default ports (`:80` for http, `:443` for https);
    *  5. remove tracking parameters ([[TrackingParams]]) and tidy the
    *     separators they leave behind (`?&` -> `?`, `&&` -> `&`,
    *     trailing `?`/`&`);
    *  6. strip a single trailing `/`.
    *
    * Non-URL strings pass through the same rewrites unharmed (no rule
    * fires without its anchor); null -> null. `trackingParams` is the
    * alternation of parameter-name patterns to strip (default
    * [[TrackingParams]]) — pass a site-specific set when the corpus
    * needs one. */
  def canonicalizeUrl(url: Column,
                      trackingParams: String = TrackingParams): Column = {
    val t0 = trim(url)
    val noFrag = regexp_replace(t0, "#.*$", "")
    // lowercase "scheme://host[:port]" only
    val pre = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", "")
    val lowered = when(pre === "", noFrag).otherwise(concat(pre, rest))
    val noWww = regexp_replace(lowered, "^(https?://)www\\.", "$1")
    val noPort = regexp_replace(
      regexp_replace(noWww, "^(http://[^/:?]+):80(?=[/?]|$)", "$1"),
      "^(https://[^/:?]+):443(?=[/?]|$)", "$1")
    val noTrack = regexp_replace(noPort, s"([?&])($trackingParams)=[^&#]*", "$1")
    val tidy = regexp_replace(regexp_replace(regexp_replace(noTrack,
      "\\?&+", "?"), "&&+", "&"), "[?&]+$", "")
    regexp_replace(tidy, "/$", "")
  }

  /** Lowercased host of a URL (empty string for non-URLs). */
  def urlHost(url: Column): Column =
    lower(regexp_extract(trim(url), "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)", 1))

  /** Multi-label public suffixes [[registeredDomain]] recognizes —
    * loaded from the packaged `graft/public_suffixes.txt`, a curated
    * subset of the Public Suffix List (publicsuffix.org, public data;
    * the assembly-TSV packaging precedent). One suffix per line, `//`
    * comments; swapping in the complete upstream file is a data update,
    * not a code change. */
  lazy val PublicSuffixes: Set[String] = {
    val in = getClass.getResourceAsStream("/graft/public_suffixes.txt")
    require(in != null, "packaged public_suffixes.txt missing")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("//")).toSet
    finally src.close()
  }

  /** Registered (eTLD+1 / pay-level) domain of a URL's host: the last
    * `k+1` labels where the last `k` are the longest matching packaged
    * public suffix ([[PublicSuffixes]]; 2- and 3-label suffixes, plain
    * 2-label fallback). The domain-cap / stratified-mixing operators key
    * on this — merging `a.co.uk` with `b.co.uk` under "co.uk" is exactly
    * the over-merge the suffix list exists to prevent. Hosts with fewer
    * labels pass through unchanged. Pure `Column` expressions: the
    * suffix sets compile to codegen'd `InSet` probes, no UDF, no join. */
  def registeredDomain(url: Column): Column = {
    val twoLabel = PublicSuffixes.filter(_.count(_ == '.') == 1).toSeq.sorted
    val threeLabel = PublicSuffixes.filter(_.count(_ == '.') == 2).toSeq.sorted
    val host = urlHost(url)
    val parts = split(host, "\\.")
    val n = size(parts)
    val last2 = concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    val last3 = concat_ws(".", element_at(parts, -3), element_at(parts, -2),
      element_at(parts, -1))
    val last4 = concat_ws(".", element_at(parts, -4), element_at(parts, -3),
      element_at(parts, -2), element_at(parts, -1))
    // concat_ws never yields null, so a null host must short-circuit
    // first; longest suffix wins (s3.amazonaws.com before amazonaws.com)
    when(host.isNull, lit(null).cast("string"))
      .when(n <= 2, host)
      .when(n >= 4 && last3.isin(threeLabel: _*), last4)
      .when(last2.isin(twoLabel: _*), last3)
      .otherwise(last2)
  }
}
