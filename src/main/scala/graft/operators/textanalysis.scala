package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Text-analysis operators for training-data pipelines (100 TB documents
 * case). Everything is a pure Column expression — codegen'd, no UDFs, no
 * shuffles; each op composes into a scan-only projection so a full-corpus
 * pass is one map stage.
 */
object TextAnalysis {

  /** Tiny built-in stopword profiles for the language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es" -> Seq("el", "la", "los", "de", "y", "es", "un", "una", "que", "por"))

  private def words(text: Column): Column = split(lower(text), "\\s+")

  /** JVM twin of Spark's `lower()`: all-ASCII text lowercases A-Z only,
    * whatever the default locale (UTF8String.toLowerCase's fast path);
    * anything else falls back to String.toLowerCase, as Spark's slow path
    * does. A bare toLowerCase maps 'I' to dotless 'ı' on a Turkish- or
    * Azeri-locale JVM, where lower() keeps 'i'. */
  private def lowerLikeSpark(t: String): String = {
    var i = 0
    while (i < t.length && t.charAt(i) < 0x80) i += 1
    if (i < t.length) t.toLowerCase
    else {
      val cs = t.toCharArray
      var j = 0
      while (j < cs.length) {
        if (cs(j) >= 'A' && cs(j) <= 'Z') cs(j) = (cs(j) + 32).toChar
        j += 1
      }
      new String(cs)
    }
  }

  /**
   * HTML → plain text extraction — the front-door operator of a web
   * corpus ingest, as a pure `Column` regex chain (codegen'd, scan-
   * local, no UDF): drop `<script>`/`<style>` bodies and comments
   * entirely, turn BLOCK-level tags (`p/div/li/ul/ol/table/tr/
   * blockquote/pre/hr/h1-h6`, and `<br>`) into newlines, strip every
   * remaining (inline) tag to a space, decode the five core character
   * entities (`&amp;` LAST, so `&amp;lt;` decodes to the literal
   * `&lt;` and not `<` — single-pass decode, the lossless convention),
   * then normalize whitespace LINE-AWARE: horizontal runs collapse to
   * one space, spaces around newlines drop, newline runs collapse to
   * one, edges trim. Patterns are RE2-safe (no backreferences, lazy
   * quantifiers only), so a SQL engine replays the chain verbatim.
   *
   * The newline mapping is what makes extraction COMPOSE with the
   * line-level cleanup ops ([[dedupConsecutiveLines]],
   * [[Dedup.removeBoilerplateLines]]): a `<li>` menu repeated across a
   * nav bar arrives as repeated LINES, which those operators can see —
   * a space-flattened extractor starves them of structure.
   *
   * Scale shape: a projection — whole-stage codegen over the scan,
   * no shuffle, no driver state; cost is the regex passes per row.
   * Still a pragmatic extractor (no DOM, no boilerplate heuristics);
   * malformed markup degrades to extra whitespace, never to an error.
   */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blocks = regexp_replace(noComment,
      "(?i)</?(?:br|p|div|li|ul|ol|table|tr|blockquote|pre|hr|h[1-6])\\b[^>]*>",
      "\n")
    val noTags = regexp_replace(blocks, "<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        replace(c, lit(from), lit(to)) // literal replace — both engines
      }
    // line-aware normalize: [^\S\n] is "whitespace except newline" in
    // both Java regex and RE2 (Perl classes inside classes)
    val hCollapsed = regexp_replace(ent, "[^\\S\\n]+", " ")
    val edged = regexp_replace(hCollapsed, " ?\\n ?", "\n")
    val oneNl = regexp_replace(edged, "\\n+", "\n")
    regexp_replace(oneNl, "^\\s+|\\s+$", "")
  }

  /**
   * The scale tier of [[htmlToText]]: byte-identical extraction as ONE
   * codegen'd kernel call ([[graft.functions.HtmlKernel]]) instead of 15
   * regex/replace passes — same zero-shuffle projection shape, ~the regex
   * chain's cost removed (SCALE.md round-9: extraction was ~24 µs/doc of
   * pure regex at 1000×). Equality with the chain is property-pinned
   * (HtmlFusedSpec); prefer this form in pipelines, keep [[htmlToText]]
   * where a SQL engine must replay the transform.
   */
  def htmlToTextFused(html: Column): Column =
    graft.functions.HtmlExtract(html)

  /** The 66 unreserved characters (RFC 3986 §2.3) as
    * (uppercase-hex escape, literal) pairs — the decode set of
    * [[urlNormalize]]'s §6.2.2 percent-encoding normalization. */
  private val unreservedEscapes: Seq[(String, String)] =
    (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++ Seq('-', '.', '_', '~'))
      .map(ch => (f"%%${ch.toInt}%02X", ch.toString))

  /** RFC 3986 §6.2.2 percent-encoding normalization as a pure Column
    * chain: uppercase the hex digits of every escape (two regex passes
    * per lowercase hex letter — first digit, then second, so `%aa` →
    * `%Aa` → `%AA`), then decode escapes of UNRESERVED characters to
    * their literals (`%7E` → `~`, `%41` → `A`) via literal replaces.
    * Reserved escapes (`%2F`, `%3F`, …) are only case-normalized, never
    * decoded — decoding them would change where the URL's delimiters
    * are. No cascade is possible: `%25` is reserved, so decoding never
    * manufactures a new `%`. Malformed escapes (`%g1`, a bare `%`)
    * pass through untouched. */
  private def normalizePctEscapes(c: Column): Column = {
    val upFirst = ('a' to 'f').foldLeft(c)((acc, d) =>
      regexp_replace(acc, s"%$d([0-9A-Fa-f])", s"%${d.toUpper}$$1"))
    val upBoth = ('a' to 'f').foldLeft(upFirst)((acc, d) =>
      regexp_replace(acc, s"%([0-9A-F])$d", s"%$$1${d.toUpper}"))
    unreservedEscapes.foldLeft(upBoth) { case (acc, (esc, ch)) =>
      replace(acc, lit(esc), lit(ch))
    }
  }

  /**
   * URL canonicalization — the dedup key every web corpus needs before
   * per-domain caps ([[Sampling.sourceCap]]-style) or exact URL dedup:
   * lowercase scheme and host (ONLY those — path/query case is
   * significant per RFC 3986), unify IDN hosts to their ACE/punycode
   * wire form (RFC 3490 via the JDK's IDNA — `bücher.de` ≡
   * `xn--bcher-kva.de`), drop the fragment, drop the default
   * port for its scheme (:80 http, :443 https), strip trailing path
   * slashes, and normalize percent-encoding in path and query
   * ([[normalizePctEscapes]]: uppercase hex, decode unreserved — so
   * `/a%7e` and `/a%7E` and `/a~` all key identically). Query
   * PARAMETERS otherwise pass through byte-exact (param reordering
   * changes semantics for some servers; sorting is a caller policy,
   * not a canonicalization). Pure Column regex/string chain —
   * codegen'd, scan-local, RE2-safe. Non-URL strings degrade to a
   * best-effort passthrough, never an error.
   */
  def urlNormalize(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1))
    val hostPort = lower(regexp_extract(noFrag, "^[^:/?#]+://([^/?#]*)", 1))
    // IDN hosts unify to their ACE/punycode wire form ([[IdnAscii]] —
    // bücher.de and xn--bcher-kva.de must key identically); the port
    // is split off first so IDNA sees a bare hostname
    val hostname = graft.functions.IdnAscii(
      regexp_replace(hostPort, ":[0-9]+$", ""))
    val portSuffix = regexp_extract(hostPort, "(:[0-9]+)$", 1)
    val keptPort = when(scheme === "http" && portSuffix === ":80", lit(""))
      .when(scheme === "https" && portSuffix === ":443", lit(""))
      .otherwise(portSuffix)
    val host = concat(hostname, keptPort)
    val path = normalizePctEscapes(regexp_replace(
      regexp_extract(noFrag, "^[^:/?#]+://[^/?#]*([^?#]*)", 1), "/+$", ""))
    val query = normalizePctEscapes(regexp_extract(noFrag, "\\?([^#]*)", 1))
    when(scheme === "", u) // not a scheme://... URL: passthrough
      .otherwise(concat(scheme, lit("://"), host, path,
        when(query === "", lit("")).otherwise(concat(lit("?"), query))))
  }

  /**
   * Collapse CONSECUTIVE duplicate lines within a document — the
   * intra-doc face of boilerplate cleanup (crawl artifacts repeat
   * navigation/menu lines back to back; cross-document hot lines are
   * [[Dedup.removeBoilerplateLines]]'s job). Non-adjacent repeats are
   * deliberately kept: a chorus is content, a stutter is noise.
   *
   * Shaped as ONE `aggregate()` fold over the split array so each line
   * is visited exactly once — an indexed-lambda formulation
   * (`element_at(lines, i)`) would re-evaluate the array-building
   * split per element access (Catalyst does not CSE inside lambdas,
   * the house rule). Zero-shuffle codegen projection; empty lines
   * compare like any other (a blank-line run collapses to one blank).
   *
   * The fold's accumulator string is rebuilt per kept line, so cost is
   * O(lines × docBytes) — linear for corpus-normal documents (measured
   * at 1000×) but quadratic for a pathological multi-MB single
   * document. `maxChars` is the fail-fast guard (the house pattern:
   * named knob, loud error, no silent death-by-spill): oversize rows
   * must be pre-split or pre-truncated upstream, not silently fed to a
   * quadratic fold.
   */
  def dedupConsecutiveLines(text: Column,
                            maxChars: Int = 1 << 20): Column = {
    val lines = split(text, "\n")
    val folded = aggregate(
      lines,
      struct(lit("").as("acc"), lit(true).as("first"), lit("").as("prev")),
      (st, x) => when(st.getField("first"),
          struct(x.as("acc"), lit(false).as("first"), x.as("prev")))
        .when(x =!= st.getField("prev"),
          struct(concat(st.getField("acc"), lit("\n"), x).as("acc"),
            lit(false).as("first"), x.as("prev")))
        .otherwise(st),
      st => st.getField("acc"))
    when(text.isNull, lit(null))
      .when(length(text) > maxChars, raise_error(concat(
        lit(s"dedupConsecutiveLines: document exceeds maxChars=$maxChars ("),
        length(text).cast("string"),
        lit(" chars) — the per-line fold is quadratic on one giant " +
          "document; split or truncate upstream, or raise maxChars"))))
      .otherwise(folded)
  }

  /**
   * Legacy curated two-label suffix subset, superseded by the full PSL
   * algorithm in [[graft.functions.PslDomain]] (resource-backed rules
   * incl. >2-label, wildcard and exception classes). Kept only as the
   * cross-check corpus for PslSpec: every entry here must produce the
   * same registrable domain under the full algorithm.
   */
  private[graft] val publicSuffixSnapshot: Seq[String] = Seq(
    // UK / Ireland / crown dependencies
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk", "sch.uk",
    "ac.uk", "gov.uk", "nhs.uk", "co.im", "co.je", "co.gg", "gov.ie",
    // Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "gen.nz", "geek.nz", "maori.nz",
    // East / South / Southeast Asia
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp",
    "gr.jp", "lg.jp",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn", "mil.cn",
    "co.kr", "or.kr", "ne.kr", "re.kr", "go.kr", "ac.kr", "pe.kr",
    "ms.kr", "hs.kr", "es.kr", "sc.kr",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg", "per.sg",
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
    "ac.in", "edu.in", "res.in", "gov.in", "mil.in", "nic.in",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "co.id", "net.id", "or.id", "ac.id", "go.id", "sch.id", "web.id",
    "my.id", "biz.id",
    "co.th", "or.th", "ac.th", "go.th", "in.th", "mi.th",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph", "ngo.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "ac.vn",
    "biz.vn", "info.vn", "name.vn", "pro.vn",
    // Middle East / Africa
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il", "k12.il",
    "com.tr", "net.tr", "org.tr", "edu.tr", "gov.tr", "k12.tr",
    "gen.tr", "web.tr", "av.tr",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa",
    "pub.sa", "sch.sa",
    "co.ae", "net.ae", "org.ae", "ac.ae", "gov.ae", "sch.ae",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg", "sci.eg",
    "co.za", "org.za", "net.za", "gov.za", "ac.za", "web.za",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke", "me.ke",
    "info.ke",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng", "sch.ng",
    "name.ng", "i.ng",
    // Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br",
    "art.br", "adv.br", "ind.br", "inf.br",
    "com.mx", "net.mx", "org.mx", "edu.mx", "gob.mx",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar", "int.ar",
    "mil.ar", "tur.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "nom.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe", "nom.pe",
    "com.uy", "net.uy", "org.uy", "edu.uy", "gub.uy",
    "com.ec", "net.ec", "org.ec", "edu.ec", "gob.ec",
    "com.ve", "net.ve", "org.ve", "edu.ve", "gob.ve",
    "gob.cl", "gov.cl",
    "on.ca", "qc.ca", "bc.ca", "ab.ca", "mb.ca", "sk.ca", "ns.ca",
    "nb.ca", "nl.ca", "pe.ca", "nt.ca", "nu.ca", "yk.ca", "gc.ca",
    // Europe (the ccTLDs that register at the second level)
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "biz.pl", "info.pl",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "com.ro", "org.ro", "tm.ro", "nt.ro", "info.ro", "firm.ro",
    "nom.ro", "store.ro",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    "com.pt", "edu.pt", "gov.pt", "org.pt", "net.pt", "int.pt",
    "publ.pt",
    "co.at", "or.at", "ac.at", "gv.at",
    "co.hu", "org.hu", "info.hu",
    "com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr",
    "ac.be", "com.ru", "net.ru", "org.ru", "ac.ru",
    "com.is", "net.is", "org.is", "edu.is", "gov.is", "int.is")

  /** Registrable domain of a URL's host under the full Public Suffix
    * List algorithm ([[graft.functions.PslDomain]]): lowercase + strip
    * port, then longest-rule match over the resource-backed rule set —
    * `a.b.example.co.uk` → `example.co.uk`, `www.pref.aichi.jp` →
    * `pref.aichi.jp` (3-label registrable), `x.biy.ck` → `x.biy.ck`
    * (`*.ck` wildcard), `www.ck` → `www.ck` (`!www.ck` exception).
    * Without the suffix rules, per-domain caps would pool every
    * `co.uk` site into one bucket — an active mis-cap, not a cosmetic
    * miss. A host that IS exactly a public suffix degrades to itself.
    * Host extraction stays a codegen regex chain; the PSL match is a
    * native codegen expression (hash probes per label, no regex). */
  def urlDomain(u: Column): Column = {
    val host = regexp_replace(
      lower(regexp_extract(regexp_replace(u, "#.*$", ""),
        "^[^:/?#]+://([^/?#]*)", 1)), ":[0-9]+$", "")
    // unify IDN hosts to ACE first — the PSL rule set is ASCII, and
    // bücher.de must cap-key like its wire form xn--bcher-kva.de
    graft.functions.PslDomain(graft.functions.IdnAscii(host))
  }

  /** Compiled once: `String.replaceAll` recompiles its pattern per call,
    * and the fused quality/stats kernels run it once per document. */
  private[operators] val punctPattern = java.util.regex.Pattern.compile("[\\p{Punct}]")

  /** Fraction of a document's tokens found in `list`. */
  private def hitRatio(text: Column, list: Seq[String]): Column = {
    val w = words(text)
    size(filter(w, t => t.isin(list: _*))) / greatest(size(w), lit(1)).cast(DoubleType)
  }

  /**
   * Language-ID heuristic: highest stopword hit-ratio wins; 'und'
   * (undetermined) when no profile scores above `minRatio`.
   */
  def langId(text: Column, minRatio: Double = 0.05): Column = {
    val scored = stopwords.toSeq.map { case (lang, list) => (lang, hitRatio(text, list)) }
    val best = scored.map { case (lang, s) => struct(s.as("s"), lit(lang).as("l")) }
    val top = greatest(best: _*)
    when(top.getField("s") >= minRatio, top.getField("l")).otherwise(lit("und"))
  }

  /** Canonical text normalization for corpus prep: control characters
    * (C0 + DEL) become spaces FIRST — so the later whitespace collapse
    * sees only plain spaces and the engines' differing \s classes (Java
    * includes \x0B, RE2 does not) can never disagree — then runs of
    * whitespace collapse to one space, then trim, then lowercase. A pure
    * codegen'd projection: no shuffle, scale-free. */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1f\\x7f]", " "), "\\s+", " ")))

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(words(text))

  /** BPE-ish token count: alnum runs and individual punctuation marks each
    * count as one token — the usual pre-tokenizer upper bound. */
  def tokenCountBpe(text: Column): Column =
    size(filter(split(lower(text), "(?=[^a-z0-9])|(?<=[^a-z0-9])"),
      t => t.rlike("\\S")))

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast(DoubleType) /
      greatest(length(text), lit(1)).cast(DoubleType)

  /** English stopword ratio — a common quality signal. */
  def stopwordRatio(text: Column): Column = hitRatio(text, stopwords("en"))

  /** Mean word length. */
  def meanWordLen(text: Column): Column =
    aggregate(words(text), lit(0.0), (acc, w) => acc + length(w).cast(DoubleType)) /
      greatest(size(words(text)), lit(1)).cast(DoubleType)

  /**
   * Composite quality score in [0,1]: length band + low punctuation +
   * reasonable mean word length + stopword presence. Heuristic in the
   * spirit of C4/Gopher text-quality filters (weights are explicit and
   * deterministic, scoring logic all in one scan).
   */
  def qualityScore(text: Column, nChars: Column): Column = {
    val lenOk = when(nChars.between(100, 20000), 1.0).otherwise(0.3)
    val punctOk = when(punctRatio(text) <= 0.2, 1.0).otherwise(0.4)
    val wordOk = when(meanWordLen(text).between(2.0, 12.0), 1.0).otherwise(0.5)
    val stopOk = when(stopwordRatio(text) >= 0.01, 1.0).otherwise(0.6)
    round(lenOk * 0.3 + punctOk * 0.25 + wordOk * 0.25 + stopOk * 0.2, 4)
  }

  /**
   * Document fingerprint: polynomial rolling hash over normalized tokens,
   * base 31 mod 2^31-1 — an order-sensitive analog of the simhash content
   * key, one `aggregate` fold per document.
   */
  def fingerprint(text: Column): Column =
    aggregate(words(text), lit(0L),
      (acc, w) => (acc * 31L + Dedup.md5Long(w) % Dedup.P) % Dedup.P)

  /** PII scrubbing: mask emails, then 7+-digit runs (phone/account
    * shapes). Patterns are RE2-compatible (no lookarounds, no
    * backreferences) so any engine replays them identically. Pure
    * codegen'd expressions — scrubbing is scan-bound at any scale. */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "[0-9]{7,}", "<NUM>")

  /**
   * Document chunking: fixed-size token windows with overlap — the
   * standard pre-training/RAG segmentation op. Emits one row per chunk
   * (chunk_index, chunk_text, n_chunk_tokens). Stride = chunkTokens -
   * overlap; the final partial chunk is kept. Pure expressions (sequence +
   * slice + explode), so chunking a 100 TB corpus is one generator-shaped
   * scan with no shuffle.
   */
  def chunk(df: org.apache.spark.sql.DataFrame, textCol: String,
            chunkTokens: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    // Chunks are built INSIDE one transform over the materialized token
    // array, and only the small (index, text, n) structs are exploded.
    // The first cut exploded the start offsets and sliced __w afterwards,
    // which made every Generate output row carry the doc's ENTIRE token
    // array — O(tokens x chunks) duplicated strings per doc through the
    // explode. Invisible at sf0.1; at the 300x stress point (1.5M docs)
    // the generate volume made q_chunk 13x superlinear (8.8s isolated,
    // back to linear after this rewrite). __w is an attribute reference
    // inside the lambda (computed once per row) — referencing the split
    // expression directly would re-split per chunk: Catalyst does not CSE
    // inside lambdas.
    // start offsets 0, stride, 2*stride, ... < len (the sequence bound
    // size-1 already keeps every start in range; the final partial chunk
    // is kept)
    val starts = sequence(lit(0), greatest(size(col("__w")) - 1, lit(0)), lit(stride))
    df.withColumn("__w", words(col(textCol)))
      .withColumn("__chunk", explode(transform(starts, st => struct(
        (st / stride).cast(IntegerType).as("chunk_index"),
        concat_ws(" ", slice(col("__w"), st + 1, lit(chunkTokens))).as("chunk_text"),
        least(size(col("__w")) - st, lit(chunkTokens)).as("n_chunk_tokens")))))
      .select(df.columns.map(col) :+
        col("__chunk.chunk_index").as("chunk_index") :+
        col("__chunk.chunk_text").as("chunk_text") :+
        col("__chunk.n_chunk_tokens").as("n_chunk_tokens"): _*)
  }

  /** All stats of a full-corpus text scan, fused. */
  case class TextStats(lang_pred: String, n_tokens: Int, punct_ratio: Double,
                       stopword_ratio: Double, quality: Double, fingerprint: Long)

  /**
   * Fused single-pass form of the whole stat set: one split, one stopword
   * sweep, one md5 per word — semantically identical to the per-op Column
   * expressions above (each is oracle-checked), ~4x faster on a full
   * corpus scan because the expression forms each re-split the text
   * (Catalyst does not CSE across independent projections).
   */
  /** Quality-only fused scan: byte-identical to [[statsUdf]]'s `quality`
    * field (same arithmetic, same rounding) but skips the per-word md5
    * fingerprint and language profiling the score never reads — the
    * dominant cost of the full fused scan. Pipelines that only FILTER on
    * quality (the curation shape) should use this; spec-pinned equal to
    * statsUdf().quality. */
  def qualityUdf = {
    val en = stopwords("en").toSet
    udf { (text: String, nChars: Long) =>
      if (text == null) null.asInstanceOf[java.lang.Double]
      else {
      val w = Dedup.wsPattern.split(text.toLowerCase, -1)
      val n = math.max(w.length, 1)
      val stopEn = w.count(en.contains).toDouble / n
      val punct = (text.length -
        TextAnalysis.punctPattern.matcher(text).replaceAll("").length()).toDouble / math.max(text.length, 1)
      val meanLen = w.map(_.length.toLong).sum.toDouble / n
      java.lang.Double.valueOf(BigDecimal(
        (if (nChars >= 100 && nChars <= 20000) 1.0 else 0.3) * 0.3 +
          (if (punct <= 0.2) 1.0 else 0.4) * 0.25 +
          (if (meanLen >= 2.0 && meanLen <= 12.0) 1.0 else 0.5) * 0.25 +
          (if (stopEn >= 0.01) 1.0 else 0.6) * 0.2)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
  }

  def statsUdf(minRatio: Double = 0.05) = {
    val profiles = stopwords.toSeq.map { case (l, ws) => (l, ws.toSet) }
    udf { (text: String, nChars: Long) =>
      if (text == null) null
      else {
      val w = Dedup.wsPattern.split(text.toLowerCase, -1)
      val n = math.max(w.length, 1)
      val hits = profiles.map { case (l, set) => (w.count(set.contains).toDouble / n, l) }
      val (topScore, topLang) = hits.max
      val lang = if (topScore >= minRatio) topLang else "und"
      val punct = (text.length -
        TextAnalysis.punctPattern.matcher(text).replaceAll("").length()).toDouble / math.max(text.length, 1)
      val stopEn = hits.find(_._2 == "en").get._1
      val meanLen = w.map(_.length.toLong).sum.toDouble / n
      val quality = BigDecimal(
        (if (nChars >= 100 && nChars <= 20000) 1.0 else 0.3) * 0.3 +
          (if (punct <= 0.2) 1.0 else 0.4) * 0.25 +
          (if (meanLen >= 2.0 && meanLen <= 12.0) 1.0 else 0.5) * 0.25 +
          (if (stopEn >= 0.01) 1.0 else 0.6) * 0.2)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      var fp = 0L
      w.foreach { t => fp = (fp * 31L + Dedup.md5LongJvm(t) % Dedup.P) % Dedup.P }
      TextStats(lang, w.length, punct, stopEn, quality, fp)
      }
    }
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1): excessive
    * within-document repetition is the strongest single heuristic for
    * machine-generated/spammy text. */
  case class RepetitionStats(dup_word_frac: Double, top_word_frac: Double,
                             dup_bigram_frac: Double)

  /**
   * Fused single-pass repetition kernel: one split, one token sweep with
   * a count map, one bigram sweep — the corpus-scan form (same rationale
   * as [[statsUdf]]: the Column forms below each re-split the text).
   *   dup_word_frac   = 1 − |distinct words| / |words|
   *   top_word_frac   = count(most frequent word) / |words|
   *   dup_bigram_frac = 1 − |distinct bigrams| / |bigrams| (0 if < 2 words)
   * Ratios are exact int/int IEEE divisions — bit-identical in any
   * engine, so round(x, 6) oracle-compares safely.
   */
  def repetitionUdf = udf { (text: String) =>
    if (text == null) null
    else {
    // limit -1 keeps trailing empty tokens — Java's default split drops
    // them, Spark's split() and DuckDB's string_split_regex do not, and
    // the Column-form equality below is exact, not corpus-lucky
    val w = Dedup.wsPattern.split(text.toLowerCase, -1)
    val n = w.length
    val counts = new java.util.HashMap[String, Int]()
    var top = 0
    var i = 0
    while (i < n) {
      val c = counts.merge(w(i), 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    val dupB = if (n < 2) 0.0 else {
      val bi = new java.util.HashSet[String]()
      var j = 0
      while (j < n - 1) { bi.add(w(j) + " " + w(j + 1)); j += 1 }
      1.0 - bi.size.toDouble / (n - 1)
    }
    RepetitionStats(1.0 - counts.size.toDouble / math.max(n, 1),
      top.toDouble / math.max(n, 1), dupB)
    }
  }

  /** Column form of dup_word_frac — codegen-friendly (array_distinct is
    * a non-lambda collection op), for composing into expression-only
    * scans. Spec-pinned equal to [[repetitionUdf]]. */
  def dupWordFrac(text: Column): Column = {
    val w = words(text)
    lit(1.0) - size(array_distinct(w)).cast(DoubleType) /
      greatest(size(w), lit(1)).cast(DoubleType)
  }

  /** Column form of dup_bigram_frac. The bigram build is a lambda
    * transform — fine in a projection, but corpus-wide scans should use
    * the fused [[repetitionUdf]]. */
  def dupBigramFrac(text: Column): Column = {
    val w = words(text)
    val bg = transform(sequence(lit(1), size(w) - 1), i =>
      concat(element_at(w, i), lit(" "), element_at(w, i + 1)))
    when(size(w) < 2, 0.0).otherwise(
      lit(1.0) - size(array_distinct(bg)).cast(DoubleType) /
        (size(w) - 1).cast(DoubleType))
  }

  /**
   * Gopher quality RULES (Rae et al. 2021 §A1.1) — the document-shape
   * half of the Gopher filter suite (the repetition trio above is the
   * other half): word-count band, mean-word-length band, symbol-to-word
   * ratio ('#' and '...'), bullet-line and ellipsis-line fractions,
   * alphabetic-word fraction, and the required-stopword count ("the, be,
   * to, of, and, that, have, with" — a doc must contain at least
   * `minStopHits` of them). Emits every rounded metric, each rule flag,
   * and the conjunction `gopher_pass`.
   *
   * Scale shape: one pure-Column projection — no shuffle, no UDF; a
   * full-corpus pass is scan-bound. Every ratio is an exact int/int IEEE
   * division (same operands in any engine), so round(x, 6) compares
   * safely; denominators are words/lines per doc, far below the
   * 2e5 granularity where a 6-decimal half-way tie could appear.
   */
  def gopherQualityRules(df: org.apache.spark.sql.DataFrame, textCol: String,
                         idCol: String, minWords: Int = 50,
                         maxWords: Int = 100000, minMeanLen: Double = 3.0,
                         maxMeanLen: Double = 10.0, maxSymbolRatio: Double = 0.1,
                         maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                         minAlphaFrac: Double = 0.8, minStopHits: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    val text = col(textCol)
    val w = words(text)
    val nW = size(w)
    val nWd = greatest(nW, lit(1)).cast(DoubleType)
    val meanLen = aggregate(w, lit(0.0), (acc, t) => acc + length(t).cast(DoubleType)) / nWd
    val hashCnt = length(text) - length(regexp_replace(text, "#", ""))
    val ellCnt = (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val symbolRatio = (hashCnt + ellCnt).cast(DoubleType) / nWd
    val lines = split(text, "\n")
    val nLd = greatest(size(lines), lit(1)).cast(DoubleType)
    val bulletFrac = size(filter(lines, l => l.rlike("^[-*•] "))).cast(DoubleType) / nLd
    val ellipsisFrac = size(filter(lines, l => l.rlike("\\.\\.\\.$"))).cast(DoubleType) / nLd
    val alphaFrac = size(filter(w, t => t.rlike("[a-z]"))).cast(DoubleType) / nWd
    val required = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = required.map(sw =>
      array_contains(w, sw).cast(IntegerType)).reduce(_ + _)
    val flags = Seq(
      "words_ok" -> nW.between(minWords, maxWords),
      "mean_len_ok" -> meanLen.between(minMeanLen, maxMeanLen),
      "symbol_ok" -> (symbolRatio <= maxSymbolRatio),
      "bullet_ok" -> (bulletFrac <= maxBulletFrac),
      "ellipsis_ok" -> (ellipsisFrac <= maxEllipsisFrac),
      "alpha_ok" -> (alphaFrac >= minAlphaFrac),
      "stop_ok" -> (stopHits >= minStopHits))
    df.filter(text.isNotNull).select(Seq(col(idCol),
      nW.cast(LongType).as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_ratio"),
      round(alphaFrac, 6).as("alpha_frac"),
      stopHits.cast(LongType).as("stop_hits")) ++
      flags.map { case (n, c) => c.cast(IntegerType).as(n) } :+
      flags.map(_._2).reduce(_ && _).cast(IntegerType).as("gopher_pass"): _*)
  }

  /**
   * BM25 ranked retrieval: top-k documents for a bag of query terms.
   * Lucene's formula: per matching term,
   * idf x tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with
   * idf = ln(1 + (N − df + 0.5)/(df + 0.5)); a document scores the sum
   * over the query terms it contains. Tokens are lowercase alnum runs;
   * documents with no tokens are excluded from the corpus stats.
   *
   * The 100 TB shape: the per-term postings (tf rows) exist ONLY for the
   * query's terms — the explode filters to `terms` before any shuffle, so
   * work is O(matching postings), not O(corpus vocabulary). Corpus stats
   * (N, avgdl) and per-term document frequencies are 1-row / |terms|-row
   * aggregates broadcast back in; the whole query stays lazy (no driver
   * collect) and the top-k is a TakeOrderedAndProject. Ties at the k
   * boundary break by id — deterministic at any partitioning.
   */
  def bm25Rank(df: org.apache.spark.sql.DataFrame, textCol: String,
               idCol: String, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25Rank needs at least one query term")
    require(k > 0, "k must be positive")
    // tokens are lowercased, so the query must be too (a verbatim
    // "Spark" would silently match nothing); duplicates collapse — BM25
    // term contributions don't stack with query-side repetition here
    val qterms = terms.map(_.toLowerCase).distinct
    val toks = filter(split(lower(col(textCol)), "[^a-z0-9]+"), t => t =!= "")
    val base = df
      .select(col(idCol).as("__id"), toks.as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast(DoubleType))
      .filter(col("__dl") > 0)
    val stats = base.agg(count(lit(1)).cast(DoubleType).as("__n"),
      avg(col("__dl")).as("__avgdl"))
    val tf = base
      .select(col("__id"), col("__dl"), explode(col("__toks")).as("__t"))
      .filter(col("__t").isin(qterms: _*))
      .groupBy(col("__id"), col("__t"), col("__dl"))
      .agg(count(lit(1)).cast(DoubleType).as("__tf"))
    val dfc = tf.groupBy(col("__t")).agg(count(lit(1)).cast(DoubleType).as("__df"))
    val idf = log(lit(1.0) + (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5))
    tf.join(broadcast(dfc), Seq("__t"))
      .crossJoin(broadcast(stats))
      .withColumn("__c", idf * col("__tf") * lit(k1 + 1.0) /
        (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .groupBy(col("__id"))
      .agg(round(sum(col("__c")), 6).as("score"))
      .orderBy(col("score").desc, col("__id"))
      .limit(k)
      .select(col("__id").as(idCol), col("score"))
  }

  /**
   * TF-IDF term weights: one row per (doc, term) with
   * `tfidf = tf · ln(N / df)` — the classic variant, deterministic and
   * engine-replayable (ln over a double ratio, rounded at 6, same
   * convention as [[bm25Rank]]'s idf). Terms present in every document
   * carry zero information (ln 1 = 0) and are dropped by the exact
   * integer test `df < N`; `minDf` additionally prunes hapax noise.
   *
   * The 100 TB shape: term counts and document frequencies are two
   * partial-aggregated exchanges (same cost class as exact dedup); the
   * df table is |vocabulary| rows — joined by key, NOT broadcast by
   * default, because a web-scale vocabulary (hundreds of millions of
   * n-gram-ish terms) outgrows a broadcast; Spark's AQE still picks a
   * broadcast when the vocab is provably small. The corpus size N rides
   * in as a one-row broadcast cross join, keeping the whole query lazy.
   */
  def tfidf(df: org.apache.spark.sql.DataFrame, textCol: String,
            idCol: String, minDf: Int = 1): org.apache.spark.sql.DataFrame = {
    require(minDf >= 1, "minDf must be >= 1")
    val tf = df
      .select(col(idCol), explode(words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val n = df.agg(count(lit(1)).as("__n"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .filter(col("__df") < col("__n") && col("__df") >= minDf)
      .select(col(idCol), col("term"), col("tf"),
        round(col("tf") * log(col("__n").cast(DoubleType) / col("__df")), 6)
          .as("tfidf"))
  }

  /**
   * Bigram collocations by pointwise mutual information (the
   * word2phrase-style phrase detector): for every adjacent word pair,
   * `pmi = ln( p(a,b) / (p(a)·p(b)) )` with the pair probability over
   * bigram positions and unigram probabilities over word positions.
   * High-PMI pairs ("new york") co-occur far above chance — the
   * standard first pass of phrase/token-merge induction. `minCount`
   * suppresses noise pairs (PMI is notoriously unstable at count 1).
   *
   * Scale shape: bigram and unigram counts are partial-aggregated
   * exchanges on the pair/word key; the unigram table joins back BY KEY
   * twice (left and right word — web-scale vocab outgrows broadcast,
   * AQE broadcasts small ones); corpus totals ride in as a one-row
   * broadcast. The PMI expression keeps one fixed operation order so an
   * oracle replays it bit-identically.
   */
  def collocations(df: org.apache.spark.sql.DataFrame, textCol: String,
                   minCount: Long = 5L): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val w = words(col(textCol))
    val toks = df.select(w.as("__w"))
    // vocab-sized unigram table, staged + broadcast when it fits: the
    // pair table then never shuffles on term_a/term_b (measured 37.4s
    // -> scan-bound at permute-100x on the keyed form)
    val uni = graft.core.Stage.materialize(
      toks.select(explode(col("__w")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("__c")), "colloc_uni")
    val uniSmall = uni.count() <= MaxBroadcastModelRows
    val bg = toks
      .filter(size(col("__w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__w")) - 1), i =>
        struct(element_at(col("__w"), i).as("term_a"),
          element_at(col("__w"), i + 1).as("term_b")))).as("__p"))
      .select(col("__p.term_a"), col("__p.term_b"))
      .groupBy(col("term_a"), col("term_b")).agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    val totals = toks.agg(
      sum(size(col("__w"))).cast(DoubleType).as("__nw"),
      sum(greatest(size(col("__w")) - 1, lit(0))).cast(DoubleType).as("__nbg"))
    val uniA = uni.select(col("t").as("term_a"), col("__c").as("__ca"))
    val uniB = uni.select(col("t").as("term_b"), col("__c").as("__cb"))
    (if (uniSmall)
       bg.join(broadcast(uniA), Seq("term_a"))
         .join(broadcast(uniB), Seq("term_b"))
     else bg.join(uniA, Seq("term_a")).join(uniB, Seq("term_b")))
      .crossJoin(broadcast(totals))
      .select(col("term_a"), col("term_b"), col("pair_count"),
        round(log((col("pair_count").cast(DoubleType) / col("__nbg")) /
          ((col("__ca") / col("__nw")) * (col("__cb") / col("__nw")))), 6)
          .as("pmi"))
  }

  /**
   * Unigram language-model scoring (the CCNet-style perplexity filter,
   * self-trained): the corpus's own word frequencies form the LM —
   * p(w) = count(w) / total — and each document scores its mean token
   * negative log-likelihood, `nll = −(1/n)·Σ ln p(w_i)`. Low = fluent
   * under the corpus distribution; high = rare-word soup, a strong junk
   * signal. Exponentiate for perplexity; here the score stays in
   * log-space (monotone, no overflow). With the LM trained on the
   * scored corpus itself there is no OOV; `add-1` smoothing
   * (`(count+1)/(total+|V|)`) still guards the transfer case where the
   * LM table is persisted and applied to a fresh corpus.
   *
   * The 100 TB shape mirrors [[tfidf]]: token counts are one
   * partial-aggregated exchange, the LM table is |vocabulary| rows
   * joined BY KEY (AQE broadcasts it when provably small), corpus
   * totals ride in as a one-row broadcast, and the per-doc mean is a
   * second partial-agg exchange on the doc id. Everything stays lazy.
   */
  /** Bigram-LM mean NLL per document (the sharper perplexity filter):
    * p(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V), add-1
    * smoothed over the corpus-trained bigram/unigram tables. Docs with
    * fewer than two tokens emit no row (they have no bigrams). Same
    * scale shape as TF-IDF: count tables joined BY KEY (web-scale vocab
    * outgrows broadcast), only the O(1) vocab total broadcast; decimal
    * NLL sums for engine-exact reduction. */
  def bigramNll(df: org.apache.spark.sql.DataFrame, textCol: String,
                idCol: String,
                sharedUni: Option[(org.apache.spark.sql.DataFrame, Long)] = None)
      : org.apache.spark.sql.DataFrame = {
    val w = words(col(textCol))
    val n = greatest(size(w) - 1, lit(0))
    val toks = df.select(col(idCol),
        explode(zip_with(slice(w, lit(1), n), slice(w, lit(2), n),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1"), col("bg.w2"))
    // shared-stage path: a composition that already staged the unigram
    // table ([[stageUnigrams]]) hands it in; alone, stage it here
    val (uniStaged, uniRows) = sharedUni.getOrElse(stageUnigrams(df, textCol))
    val uni = uniStaged.select(col("term").as("w1"), col("__c").as("__c1"))
    val uniSmall = uniRows <= MaxBroadcastModelRows
    val vocab = uni.agg(count(lit(1)).cast(DoubleType).as("__v"))
    val bi = toks.groupBy("w1", "w2").agg(count(lit(1)).as("__cb"))
    // assemble the per-bigram-TYPE nll model at vocab size first, then
    // join the corpus ONCE — the kneserNeyNll restructure applied to
    // the add-1 sibling (two corpus-sized joins collapsed to one; the
    // nll doubles are identical, computed from the same counts)
    val model = graft.core.Stage.materialize(
      bi.join(if (uniSmall) broadcast(uni) else uni, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .select(col("w1"), col("w2"),
          (-log((col("__cb") + 1.0) / (col("__c1") + col("__v")))).as("__nll")),
      "lm2_model")
    // under a fixed vocabulary the observed type table SATURATES (it is
    // bounded by V² however large the corpus), so past the crossover it
    // broadcasts and the token stream never shuffles on bigram key —
    // the exact values either way; [[bigramNllPruned]] is the guarantee
    // for open-vocab corpora whose type table outgrows this check
    (if (model.count() <= MaxBroadcastModelRows)
       toks.join(broadcast(model), Seq("w1", "w2"))
     else toks.join(model, Seq("w1", "w2")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__nll").cast("decimal(28,12)")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s").cast(DoubleType) / col("n_bigrams"), 6).as("mean_nll2"))
  }

  /**
   * Interpolated Kneser–Ney bigram mean NLL (Kneser & Ney 1995; the
   * formulation of Chen & Goodman 1998) — the smoothing that actually
   * ships in n-gram LM filters, replacing [[bigramNll]]'s add-1:
   *
   * `p(w|v) = max(c(v,w) − D, 0)/c(v·) + D·N1+(v,·)/c(v·) · p_cont(w)`
   * with `p_cont(w) = N1+(·,w) / |bigram types|` — the continuation
   * probability that famously scores "francisco" low however frequent,
   * because it follows only "san". D fixed at 0.75 (the Chen–Goodman
   * default); contexts are per-document bigrams, docs with < 2 tokens
   * emit no row (same convention as [[bigramNll]]).
   *
   * All model quantities are integer count tables off ONE bigram
   * explode: c(v,w), the context marginals (c(v·), N1+(v,·)), the
   * continuation marginals (N1+(·,w)), and the one-row type total.
   * Scale shape identical to [[bigramNll]]: vocabulary-keyed partial-agg
   * shuffles joined BY KEY, a one-row broadcast, decimal per-doc sums.
   */
  def kneserNeyNll(df: org.apache.spark.sql.DataFrame, textCol: String,
                   idCol: String, discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(discount > 0 && discount < 1, s"discount in (0,1), got $discount")
    val w = words(col(textCol))
    val n = greatest(size(w) - 1, lit(0))
    val toks = df.select(col(idCol),
        explode(zip_with(slice(w, lit(1), n), slice(w, lit(2), n),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1"), col("bg.w2"))
    // the ONE corpus-sized shuffle, staged: the three marginal
    // reductions and the model assembly below re-read compact parquet
    // instead of re-aggregating the token stream
    val bi = graft.core.Stage.materialize(
      toks.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__cb")),
      "kn_bi")
    val ctx = bi.groupBy(col("w1"))
      .agg(sum(col("__cb")).cast(DoubleType).as("__cv"),
        count(lit(1)).cast(DoubleType).as("__fwd"))
    val cont = bi.groupBy(col("w2")).agg(count(lit(1)).cast(DoubleType).as("__bwd"))
    val types = bi.agg(count(lit(1)).cast(DoubleType).as("__tt"))
    val p = greatest(col("__cb") - discount, lit(0.0)) / col("__cv") +
      lit(discount) * col("__fwd") / col("__cv") * (col("__bwd") / col("__tt"))
    // p is a function of the bigram TYPE alone — assemble the model
    // (nll per (w1,w2)) from the vocab-sized tables first, then join the
    // corpus token stream ONCE instead of once per marginal key
    // ((w1,w2)/(w1)/(w2)). Measured 143 -> 123s at 1000x (the residual
    // was the 200M-row bigram-keyed join + doc agg; the broadcast
    // crossover below removes it whenever the saturating type table
    // fits — [[kneserNeyNllPruned]] is the open-vocab guarantee).
    val model = graft.core.Stage.materialize(
      bi.join(ctx, Seq("w1"))
        .join(cont, Seq("w2"))
        .crossJoin(broadcast(types))
        .select(col("w1"), col("w2"), (-log(p)).as("__nll")), "kn_model")
    (if (model.count() <= MaxBroadcastModelRows)
       toks.join(broadcast(model), Seq("w1", "w2"))
     else toks.join(model, Seq("w1", "w2")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__nll").cast("decimal(28,12)")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s").cast(DoubleType) / col("n_bigrams"), 6).as("mean_nll_kn"))
  }

  /** Count-pruned, BROADCASTABLE bigram-LM mean NLL — the fixed-vocab
    * scale path for [[bigramNll]]. The exact variant's scoring join
    * shuffles the whole token stream on bigram key, and under a fixed
    * (realistic) vocabulary the bigram-TYPE table keeps growing toward
    * saturation with corpus size, so that join goes superlinear
    * (measured: 21.7s -> 325.5s at permute-100x). Standard production
    * n-gram practice prunes types below a count threshold; here types
    * with `c(w1,w2) >= minCount` keep the exact add-1 probability and
    * pruned types back off to the UNSEEN term of the same formula,
    * `p = 1/(c(w1)+V)` — i.e. their count is floored to zero, nothing
    * renormalizes, and `minCount=1` reproduces [[bigramNll]]'s values
    * bit-for-bit.
    *
    * Scale shape: ONE partial-agg-compressed training shuffle builds
    * the counts; the pruned model and the vocab-sized backoff table
    * are staged to parquet ([[graft.core.Stage]]) and BROADCAST, so
    * the corpus token stream is scored by a zero-shuffle projection —
    * the only remaining exchange is the per-doc mean's O(#docs)
    * partial agg. `maxModelRows` fail-fasts before a mis-sized
    * broadcast can OOM an executor (raise `minCount` instead). */
  def bigramNllPruned(df: org.apache.spark.sql.DataFrame, textCol: String,
                      idCol: String, minCount: Int = 2,
                      maxModelRows: Long = 20000000L): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val w = words(col(textCol))
    val n = greatest(size(w) - 1, lit(0))
    val toks = df.select(col(idCol),
        explode(zip_with(slice(w, lit(1), n), slice(w, lit(2), n),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1"), col("bg.w2"))
    // vocab-sized; staged once, read by the model build AND the backoff
    val uni = graft.core.Stage.materialize(
      df.select(explode(words(col(textCol))).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("__c1")), "lm2p_uni")
    val vocab = uni.agg(count(lit(1)).cast(DoubleType).as("__v"))
    val model = graft.core.Stage.materialize(
      toks.groupBy("w1", "w2").agg(count(lit(1)).as("__cb"))
        .filter(col("__cb") >= minCount)
        .join(broadcast(uni), Seq("w1"))
        .crossJoin(broadcast(vocab))
        .select(col("w1"), col("w2"),
          (-log((col("__cb") + 1.0) / (col("__c1") + col("__v")))).as("__nll")),
      "lm2p_model")
    val keptTypes = model.count() // parquet metadata count — cheap
    require(keptTypes <= maxModelRows,
      s"bigramNllPruned: $keptTypes kept bigram types > maxModelRows=" +
        s"$maxModelRows — the model no longer broadcasts safely; raise " +
        "minCount (or maxModelRows with executor memory to match)")
    val backoff = uni.crossJoin(broadcast(vocab))
      .select(col("w1"), log(col("__c1") + col("__v")).as("__a"))
    toks.join(broadcast(model), Seq("w1", "w2"), "left")
      .join(broadcast(backoff), Seq("w1"))
      .select(col(idCol), coalesce(col("__nll"), col("__a")).as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__nll").cast("decimal(28,12)")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s").cast(DoubleType) / col("n_bigrams"), 6).as("mean_nll2p"))
  }

  /** Count-pruned, BROADCASTABLE interpolated Kneser–Ney mean NLL — the
    * [[bigramNllPruned]] treatment applied to [[kneserNeyNll]]. The
    * marginals (`c(v·)`, `N1+(v,·)`, `N1+(·,w)`, type total) stay EXACT
    * — they are vocabulary-sized however large the corpus — and only
    * the bigram-type table is pruned: kept types (`c >= minCount`)
    * score with the full interpolated formula, pruned types drop the
    * `max(c−D,0)/c(v·)` term and score on the continuation backoff
    * alone, `D·N1+(v,·)/c(v·) · p_cont(w)`, which FACTORIZES into two
    * vocab-keyed tables (`a(w1) + b(w2)` in log space) and therefore
    * broadcasts. `minCount=1` reproduces [[kneserNeyNll]] bit-for-bit.
    *
    * Scale shape: the corpus pays one partial-agg-compressed training
    * shuffle (staged, so the four marginal reductions read compact
    * parquet instead of re-aggregating) and a zero-shuffle broadcast
    * projection for scoring; per-doc means are the one O(#docs)
    * exchange. */
  def kneserNeyNllPruned(df: org.apache.spark.sql.DataFrame, textCol: String,
                         idCol: String, discount: Double = 0.75,
                         minCount: Int = 2,
                         maxModelRows: Long = 20000000L): org.apache.spark.sql.DataFrame = {
    require(discount > 0 && discount < 1, s"discount in (0,1), got $discount")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val w = words(col(textCol))
    val n = greatest(size(w) - 1, lit(0))
    val toks = df.select(col(idCol),
        explode(zip_with(slice(w, lit(1), n), slice(w, lit(2), n),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1"), col("bg.w2"))
    // the ONE corpus-sized shuffle, staged: every marginal below is a
    // cheap columnar re-read, not a re-aggregation of the token stream
    val bi = graft.core.Stage.materialize(
      toks.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__cb")),
      "knp_bi")
    val ctx = graft.core.Stage.materialize(
      bi.groupBy(col("w1"))
        .agg(sum(col("__cb")).cast(DoubleType).as("__cv"),
          count(lit(1)).cast(DoubleType).as("__fwd")), "knp_ctx")
    val cont = graft.core.Stage.materialize(
      bi.groupBy(col("w2"))
        .agg(count(lit(1)).cast(DoubleType).as("__bwd")), "knp_cont")
    val types = bi.agg(count(lit(1)).cast(DoubleType).as("__tt"))
    val p = greatest(col("__cb") - discount, lit(0.0)) / col("__cv") +
      lit(discount) * col("__fwd") / col("__cv") * (col("__bwd") / col("__tt"))
    val model = graft.core.Stage.materialize(
      bi.filter(col("__cb") >= minCount)
        .join(broadcast(ctx), Seq("w1"))
        .join(broadcast(cont), Seq("w2"))
        .crossJoin(broadcast(types))
        .select(col("w1"), col("w2"), (-log(p)).as("__nll")), "knp_model")
    val keptTypes = model.count()
    require(keptTypes <= maxModelRows,
      s"kneserNeyNllPruned: $keptTypes kept bigram types > maxModelRows=" +
        s"$maxModelRows — the model no longer broadcasts safely; raise " +
        "minCount (or maxModelRows with executor memory to match)")
    val aTbl = ctx.select(col("w1"),
      (-log(lit(discount) * col("__fwd") / col("__cv"))).as("__a"))
    val bTbl = cont.crossJoin(broadcast(types))
      .select(col("w2"), (-log(col("__bwd") / col("__tt"))).as("__b"))
    toks.join(broadcast(model), Seq("w1", "w2"), "left")
      .join(broadcast(aTbl), Seq("w1"))
      .join(broadcast(bTbl), Seq("w2"))
      .select(col(idCol),
        coalesce(col("__nll"), col("__a") + col("__b")).as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__nll").cast("decimal(28,12)")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s").cast(DoubleType) / col("n_bigrams"), 6).as("mean_nll_knp"))
  }

  /** Broadcast-row ceiling for the ADAPTIVE vocab-table joins
    * ([[unigramNll]], [[mooreLewis]], [[collocations]]): each stages
    * its vocab-sized model table ([[graft.core.Stage]] — so the count
    * below is a parquet-metadata read, not a second corpus agg) and
    * BROADCASTS it when it fits, falling back to the key join when a
    * web-scale vocabulary outgrows it. Output VALUES are identical
    * either way (per-row terms sum through fixed-scale decimals) —
    * only the probe-side exchange disappears. Explicit, not left to
    * AQE, because AQE's sort-merge→broadcast conversion still pays the
    * corpus side's shuffle WRITE (it decides after both map stages);
    * an explicit broadcast never plans that exchange. */
  val MaxBroadcastModelRows: Long = 8000000L

  /** The corpus unigram count table (term, __c), staged once, plus its
    * row count (a parquet-metadata read off the stage). Compositions
    * that run BOTH [[unigramNll]] and [[bigramNll]] over one corpus
    * (q_rho_select, [[doremiWeights]]) build this once and pass it to
    * both — each op independently staging the same vocab table cost
    * them ~4 extra stage+count actions ≈ +2s fixed at sf0.1 (the
    * round-11 verdict's q_rho_select gate breach). */
  def stageUnigrams(df: org.apache.spark.sql.DataFrame,
                    textCol: String): (org.apache.spark.sql.DataFrame, Long) = {
    val uni = graft.core.Stage.materialize(
      df.select(explode(words(col(textCol))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("__c")), "lm_uni")
    (uni, uni.count())
  }

  def unigramNll(df: org.apache.spark.sql.DataFrame, textCol: String,
                 idCol: String,
                 sharedUni: Option[(org.apache.spark.sql.DataFrame, Long)] = None)
      : org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), explode(words(col(textCol))).as("term"))
    // the LM table is vocab-sized: staged once (totals read the stage,
    // not a second corpus agg) and broadcast when it provably fits —
    // the corpus token stream then scores without shuffling on term
    // (measured 87.1s -> scan-bound at permute-100x, where the exact
    // key join shuffled ~6e9 token rows against a fixed-size vocab)
    val (lm, lmRows) = sharedUni.getOrElse(stageUnigrams(df, textCol))
    val totals = lm.agg(sum(col("__c")).cast(DoubleType).as("__tot"),
      count(lit(1)).cast(DoubleType).as("__v"))
    (if (lmRows <= MaxBroadcastModelRows)
       toks.join(broadcast(lm), Seq("term"))
     else toks.join(lm, Seq("term")))
      .crossJoin(broadcast(totals))
      .withColumn("__nll",
        -log((col("__c") + 1.0) / (col("__tot") + col("__v"))))
      .groupBy(col(idCol))
      // decimal sum: double reduction order differs between engines and
      // partitionings; the per-token nll is truncated to a fixed scale
      // once, then summed exactly
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__nll").cast("decimal(28,12)")).as("__s"))
      .select(col(idCol), col("n_tokens"),
        round(col("__s").cast(DoubleType) / col("n_tokens"), 6).as("mean_nll"))
  }

  /**
   * Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005) with
   * DETERMINISTIC md5-derived row hashes, so the sketch itself — not
   * just its contract — replays exactly in any engine: fill a depth x
   * width counter grid from the token stream, estimate every candidate
   * term as the min of its depth cells, report the top-k exact terms
   * with their sketch estimates (est >= exact always; equality when the
   * term's cells are collision-free). At 100 TB the sketch is THE
   * frequency structure that fits: the grid is depth*width cells
   * regardless of vocabulary, partial-aggregates map-side, and merges
   * across streams/shards by cell-wise addition. The exact counts here
   * are the verification half the synthetic scale affords.
   *
   * Scale shape: ONE pass over the exploded tokens (the exact-count hash
   * agg), staged as a vocab-sized temp table because three downstream
   * relations anchor on it (the cell grid, the estimates, the final
   * join) — without the stage, Spark re-expands the corpus scan once per
   * appearance (the round-6 plan read the corpus ~3x). The cell grid is
   * DERIVED from the staged counts (cell occupancy = sum of exact counts
   * of the terms hashing into the cell — identical long arithmetic, so
   * the sketch replays bit-for-bit), then broadcast back.
   */
  /** The sketch's row hash — fused JVM md5, not conv(md5(...)) Column
    * chains: one md5 per (token, row) instead of a conv whose per-row
    * cost profiles at 2x the md5 itself (2.4s -> 0.6s at sf0.1).
    * Shared by the batch and streaming sketch paths so both fill
    * IDENTICAL cells. */
  private[graft] def cmBucket(width: Int) = udf { (term: String, r: Int) =>
    (Dedup.md5LongJvm("cm" + r + "_" + term) % width).toInt
  }

  /**
   * The count-min cell grid computed directly from the (possibly
   * streaming) token stream — the incremental half of
   * [[countMinTopTerms]]. A streaming aggregation over this relation
   * carries EXACTLY depth*width state rows regardless of corpus size or
   * stream length (the sketch's whole point): cell occupancy = count of
   * (token, row) pairs hashing into the cell, identical long arithmetic
   * to the batch path's staged derivation, so a drained stream matches
   * the batch grid bit-for-bit. Complete-mode output is bounded by the
   * sketch shape (4096 rows at the default 4x1024), never by the data.
   */
  def countMinCells(df: org.apache.spark.sql.DataFrame, textCol: String,
                    depth: Int = 4, width: Int = 1024): org.apache.spark.sql.DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch shape ($depth x $width)")
    // Round 13 (guide §2.3 aggregate-before-shuffle, the covCellStream
    // treatment with long counts): the old shape exploded every token
    // occurrence x depth rows through the md5 UDF and the partial agg —
    // depth md5s PER OCCURRENCE, where the batch countMinTopTerms hashes
    // only distinct terms. Per task: count occurrences per DISTINCT term
    // in a hash map (an insert is ~10x cheaper than one md5), then fill
    // the grid with depth hashes per distinct term and emit <=
    // depth*width partial cells into the (streaming) aggregation.
    // Cell-exact: occupancy = sum of per-term counts over terms hashing
    // into the cell — identical long arithmetic, any grouping. The
    // term map is CAPPED (flushed into the grid at 2^20 entries), so
    // task memory is bounded by the cap, never the vocabulary.
    val spark = df.sparkSession
    import spark.implicits._
    val d = depth
    val w = width
    val partials = df.select(col(textCol).cast("string").as("__t"))
      .as[String]
      .mapPartitions { it =>
        val counts = new scala.collection.mutable.HashMap[String, Array[Long]]()
        val cells = new scala.collection.mutable.LongMap[Long]()
        def flush(): Unit = {
          counts.foreachEntry { (term, c) =>
            var r = 0
            while (r < d) {
              // same bytes as cmBucket: md5LongJvm("cm" + r + "_" + term)
              val b = (Dedup.md5LongJvm("cm" + r + "_" + term) % w).toInt
              val k = (r.toLong << 32) | (b.toLong & 0xffffffffL)
              cells(k) = cells.getOrElse(k, 0L) + c(0)
              r += 1
            }
          }
          counts.clear()
        }
        it.foreach { t =>
          if (t != null) {
            // JVM twin of words(): split(lower(text), "\\s+") with
            // Spark's limit = -1 (leading/trailing empties kept)
            val ws = Dedup.wsPattern.split(lowerLikeSpark(t), -1)
            var i = 0
            while (i < ws.length) {
              counts.getOrElseUpdate(ws(i), new Array[Long](1))(0) += 1
              i += 1
            }
            if (counts.size > (1 << 20)) flush()
          }
        }
        flush()
        cells.iterator.map { case (k, cc) =>
          (k >> 32, k & 0xffffffffL, cc)
        }
      }
      .toDF("r", "b", "__cc")
    partials.groupBy(col("r"), col("b")).agg(sum(col("__cc")).as("cc"))
  }

  def countMinTopTerms(df: org.apache.spark.sql.DataFrame, textCol: String,
                       depth: Int = 4, width: Int = 1024,
                       k: Int = 20): org.apache.spark.sql.DataFrame = {
    require(depth >= 1 && width >= 2 && k >= 1, s"bad sketch shape ($depth x $width, k=$k)")
    val toks = df.select(explode(words(col(textCol))).as("term"))
    val exact = graft.core.Stage.materialize(
      toks.groupBy(col("term")).agg(count(lit(1)).as("exact_count")), "cm_exact")
    val rows = explode(sequence(lit(0), lit(depth - 1))).as("r")
    val bucketUdf = cmBucket(width)
    val cells = exact.select(col("term"), col("exact_count"), rows)
      .select(col("r"), bucketUdf(col("term"), col("r")).as("b"), col("exact_count"))
      .groupBy(col("r"), col("b")).agg(sum(col("exact_count")).as("cc"))
    val est = exact.select(col("term"), rows)
      .select(col("term"), col("r"), bucketUdf(col("term"), col("r")).as("b"))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy(col("term")).agg(min(col("cc")).as("cm_estimate"))
    exact.join(est, Seq("term"))
      .orderBy(col("exact_count").desc, col("term"))
      .limit(k)
  }

  /**
   * CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
   * document with the corpus unigram LM ([[unigramNll]]) and split the
   * corpus into quantile buckets of that score — head (most fluent) /
   * middle / tail for the default terciles. Thresholds are EXACT
   * percentile_disc order statistics (actual data values — no
   * interpolation arithmetic to disagree on across engines), computed by
   * the scale-safe recursive-histogram selection, never a global sort.
   *
   * Scale shape (100 TB): the scored relation (one row per doc) is
   * materialized ONCE to a temp stage table ([[graft.core.Stage]]) for
   * the handful of quantile-recursion passes plus the final labeling
   * read (re-deriving the LM join per pass would be the real cost). A
   * persist() here would leak — this builder is lazy, nothing could
   * unpersist it (the q_curate house rule); the stage table costs one
   * doc-count-row write and leaves no cache residency behind.
   * Thresholds are O(#cuts) driver scalars; labeling is a codegen'd
   * projection over the staged relation.
   */
  def pplBuckets(df: org.apache.spark.sql.DataFrame, textCol: String,
                 idCol: String, cuts: Seq[Double] = Seq(1.0 / 3, 2.0 / 3),
                 labels: Seq[String] = Seq("head", "middle", "tail"))
      : org.apache.spark.sql.DataFrame = {
    require(labels.length == cuts.length + 1,
      s"need ${cuts.length + 1} labels for ${cuts.length} cuts")
    require(cuts == cuts.sorted && cuts.forall(p => p > 0.0 && p < 1.0),
      s"cuts must be sorted fractions in (0,1): ${cuts.mkString(", ")}")
    val scored = graft.core.Stage.materialize(
      unigramNll(df, textCol, idCol).select(col(idCol), col("mean_nll")),
      "ppl_scored")
    val thr: Seq[Double] = Quantiles.exactQuantiles(scored, "mean_nll", cuts)
      .orderBy("p").collect().toSeq
      .map(r => if (r.isNullAt(1)) 0.0 else r.getDouble(1)) // null only when df is empty
    val bucket = cuts.indices.foldRight(lit(labels.last): Column) { (i, rest) =>
      when(col("mean_nll") <= thr(i), labels(i)).otherwise(rest)
    }
    scored.withColumn("ppl_bucket", bucket)
  }

  /**
   * Out-of-vocabulary rate against the corpus's own top-`vocabSize`
   * vocabulary — the tokenizer-vocab coverage check a pretraining
   * pipeline runs before mixing: documents whose tokens mostly fall
   * outside the model vocabulary (foreign-language spill, binary junk,
   * OCR noise) are filtered or routed. Vocabulary selection is
   * deterministic: count desc, term asc at the boundary — the same total
   * order in any engine.
   *
   * Scale shape: one term-keyed hash agg (map-side combining — shuffle
   * carries ~|vocab| rows per partition), top-V as a
   * TakeOrderedAndProject (O(V) on the driver, bounded by the parameter,
   * never corpus-sized), then a zero-shuffle probe projection. The probe
   * is an In-list per token (fine for report-sized V like the registered
   * query's); a production 256k tokenizer vocab swaps the In-list for a
   * broadcast hash set in a fused kernel — same two-phase shape. Both
   * phases tokenize with the same SQL split, so there is no
   * kernel-vs-Column trailing-whitespace drift to pin.
   */
  def oovRate(df: org.apache.spark.sql.DataFrame, textCol: String,
              idCol: String, vocabSize: Int = 30)
      : org.apache.spark.sql.DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val spark = df.sparkSession
    import spark.implicits._
    val live = df.filter(col(textCol).isNotNull)
    val vocab: Array[String] = live
      .select(explode(words(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(vocabSize)
      .select("t").as[String].collect()
    live.select(col(idCol), words(col(textCol)).as("__w"))
      .select(col(idCol),
        size(col("__w")).cast(LongType).as("n_tokens"),
        size(filter(col("__w"), t => !t.isin(vocab.toIndexedSeq: _*)))
          .cast(LongType).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast(DoubleType) / greatest(col("n_tokens"), lit(1L)))
  }

  /**
   * HyperLogLog register table (Flajolet et al. 2007) with DETERMINISTIC
   * md5-derived hashes — the mergeable distinct-count sketch as data:
   * per group, `m` registers each holding the max leading-zero rank of
   * the values hashing into it. Like [[countMinCells]], the REGISTERS
   * are the contract (integer-exact, engine-replayable, mergeable by
   * cell-wise max across shards/streams/days); the cardinality estimate
   * alpha*m^2 / sum(2^-M_j) is a driver- or test-side formula over
   * m rows, deliberately kept out of the oracle surface because its
   * floating-point reduction order is engine-defined.
   *
   * rho avoids floating logs entirely: the 60-bit md5 value splits into
   * register = h mod m and w = h div m (a (60-log2 m)-bit suffix), and
   * rho = suffixBits + 1 - length(bin(w)) — `bin` (leading-zero-free
   * binary string) is integer-exact in both Spark and DuckDB.
   *
   * Scale shape: ONE group+register-keyed hash agg (max partial-
   * aggregates map-side); output is <= #groups * m rows at ANY corpus
   * size. This is how you count distinct terms/urls/users per source at
   * 100 TB without a distinct's full shuffle: the exchange carries only
   * register maxima.
   */
  def hllRegisters(df: org.apache.spark.sql.DataFrame, groupCol: Column,
                   valueCol: Column, m: Int = 1024): org.apache.spark.sql.DataFrame = {
    // Round 13 note: a mapPartitions per-task pre-agg with a (grp,
    // value) dedup cache (md5 only for first-seen pairs) was tried and
    // REVERTED — the codegen'd partial max already ships <= groups*m
    // register cells per task through the exchange, and the object
    // (de)serialization boundary measured SLOWER than the single
    // codegen'd md5 per occurrence it partly saved (q_hll_stream
    // 1.42 -> 1.73 s at sf0.1). The Column form below is the fast
    // shape; countMinCells keeps its pre-agg because there FOUR
    // UDF-boundary md5s per occurrence were saved, which dominates.
    val (reg, rho) = hllHash(valueCol, m)
    df.select(groupCol.as("grp"), reg.as("register"), rho.as("__rho"))
      .groupBy(col("grp"), col("register"))
      .agg(max(col("__rho")).as("max_rho"))
  }

  /** The (register, rho) pair behind [[hllRegisters]] and
    * [[hllWindowRegisters]] — one md5-derived 60-bit hash split into a
    * register index and a leading-zero rank. */
  private def hllHash(valueCol: Column, m: Int): (Column, Column) = {
    require(m >= 16 && (m & (m - 1)) == 0, s"m must be a power of two >= 16, got $m")
    val p = 63 - java.lang.Long.numberOfLeadingZeros(m.toLong) // log2 m
    val suffixBits = 60 - p
    val h = conv(substring(md5(concat(lit("hll_"), valueCol.cast("string"))), 1, 15), 16, 10)
      .cast(LongType)
    // w = h div m via shift — NOT `/` (double division is lossy past
    // 2^53; h is 60-bit). Both engines shift/`//` non-negative h exactly.
    val w = shiftright(h, p)
    val rho = when(w === 0, lit(suffixBits + 1))
      .otherwise(lit(suffixBits + 1) - length(bin(w)))
    (pmod(h, lit(m.toLong)), rho.cast(LongType))
  }

  /**
   * [[hllRegisters]] keyed by an event-time tumbling window — distinct
   * counts over time ("unique users per day") as a mergeable register
   * table per window. In a stream this is a WATERMARKED append-mode
   * aggregation: a window's registers emit once the watermark passes
   * its end and their state is EVICTED — so standing state is
   * (open windows) × m rows, bounded by the watermark horizon, never
   * by the corpus. The registers are the engine-exact contract, same
   * as the batch table; late windows merge cell-wise by max like any
   * HLL shards.
   *
   * `tsCol` must be a TIMESTAMP column (already watermarked by the
   * caller when streaming); output keys the window by its start epoch
   * millis.
   */
  def hllWindowRegisters(df: org.apache.spark.sql.DataFrame, tsCol: Column,
                         windowDur: String, valueCol: Column,
                         m: Int = 1024): org.apache.spark.sql.DataFrame = {
    val (reg, rho) = hllHash(valueCol, m)
    df.select(window(tsCol, windowDur).as("__w"),
        reg.as("register"), rho.as("__rho"))
      .groupBy(col("__w"), col("register"))
      .agg(max(col("__rho")).as("max_rho"))
      .select(unix_millis(col("__w.start")).as("w_start"),
        col("register"), col("max_rho"))
  }

  /**
   * Moore–Lewis cross-entropy difference selection (Moore & Lewis 2010,
   * "Intelligent Selection of Language Model Training Data"): score every
   * document by `H_in(d) - H_gen(d)` — its mean token NLL under an
   * IN-DOMAIN unigram LM minus its mean NLL under the GENERAL (whole
   * corpus) LM — and select documents where the difference is negative
   * (the in-domain model finds them more likely than the background
   * model does). This is the classic data-selection step for building a
   * domain-targeted training mix from a general crawl; DSIR
   * (q_dsir) is its hashed-feature descendant.
   *
   * Both LMs are add-1 smoothed over their own vocabularies, the same
   * convention as [[unigramNll]]; tokens unseen in-domain fall back to
   * the smoothing mass via a left join (coalesce 0), never dropped.
   *
   * Scale shape (same as [[unigramNll]] run twice over one token
   * explode): the corpus tokenizes ONCE, both count tables are
   * vocabulary-keyed partial-agg shuffles joined back BY KEY (AQE
   * broadcasts them when provably small), the two (total, vocab) scalars
   * ride in as one-row broadcasts, and the per-doc mean is a doc-keyed
   * partial agg. Per-token diffs truncate to decimal(28,12) before the
   * sum so the reduction is engine- and partitioning-exact.
   *
   * `inDomain` must select a non-empty subset (an empty in-domain LM has
   * no cross-entropy to difference against).
   */
  def mooreLewis(df: org.apache.spark.sql.DataFrame, textCol: String,
                 idCol: String, inDomain: Column): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), inDomain.as("__in"),
      explode(words(col(textCol))).as("term"))
    // both LM tables are vocab-sized — staged + broadcast when they
    // fit, so the corpus scores in a zero-shuffle projection (the
    // unigramNll treatment, applied to both the general and in-domain
    // tables; totals read the stages, not second corpus aggs)
    val lmGen = graft.core.Stage.materialize(
      toks.groupBy(col("term")).agg(count(lit(1)).as("__cg")), "ml_gen")
    val lmIn = graft.core.Stage.materialize(
      toks.filter(col("__in")).groupBy(col("term"))
        .agg(count(lit(1)).as("__ci")), "ml_in")
    val totGen = lmGen.agg(sum(col("__cg")).cast(DoubleType).as("__tg"),
      count(lit(1)).cast(DoubleType).as("__vg"))
    val totIn = lmIn.agg(sum(col("__ci")).cast(DoubleType).as("__ti"),
      count(lit(1)).cast(DoubleType).as("__vi"))
    // per-token ce diff = nll_in - nll_gen = ln(pGen) - ln(pIn)
    val d = log((col("__cg") + 1.0) / (col("__tg") + col("__vg"))) -
      log((coalesce(col("__ci"), lit(0L)) + 1.0) / (col("__ti") + col("__vi")))
    val mean = col("__s").cast(DoubleType) / col("n_tokens")
    (if (lmGen.count() <= MaxBroadcastModelRows)
       toks.join(broadcast(lmGen), Seq("term"))
         .join(broadcast(lmIn), Seq("term"), "left")
     else toks.join(lmGen, Seq("term")).join(lmIn, Seq("term"), "left"))
      .crossJoin(broadcast(totGen))
      .crossJoin(broadcast(totIn))
      .withColumn("__d", d)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__d").cast("decimal(28,12)")).as("__s"))
      .select(col(idCol), col("n_tokens"),
        round(mean, 6).as("ce_diff"),
        // the select gate compares the ROUNDED mean so both engines
        // decide ties from the same digits
        (round(mean, 6) < 0.0).as("selected"))
  }

  /**
   * DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
   * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
   * the Group-DRO multiplicative-weights update over per-domain EXCESS
   * LOSS, instantiated with the engine's two deterministic LMs — the
   * add-1 unigram model as the reference and the add-1 bigram model as
   * the proxy. excess(doc) = max(0, nll_uni − nll_bi): how much a
   * context-aware model improves on the domain — DoReMi's
   * hard-but-LEARNABLE signal (already-easy domains score ~0 on both,
   * unlearnable noise scores high on both; the difference isolates the
   * learnable middle). Domain weight is the paper's exponentiated
   * update over the baseline token share:
   * `w_k ∝ tokens_k · exp(η · mean_excess_k)`, emitted as integer
   * milli-weights ready for the milli-epoch resampling gate
   * (q_unimax_sample's apply pattern).
   *
   * Determinism discipline: per-doc means are the LM operators' own
   * round-6 outputs; per-domain excess sums go through decimal(18,6)
   * (exact, order-independent); exp is rounded to 9 decimals before the
   * token-share product so a last-ulp libm divergence cannot reach the
   * weight; the weight total is a decimal(28,6) sum; the final
   * normalization is one fixed floor(1000·w/tot + 0.5).
   *
   * Scale shape: the two LM passes are the existing vocab-keyed join
   * shapes ([[unigramNll]]/[[bigramNll]]), the doc-keyed join uniting
   * them is doc-bounded, the domain agg is O(#domains), and the weight
   * table is model-sized. Docs with < 2 tokens have no bigram score and
   * drop from the excess estimate (the [[bigramNll]] convention).
   */
  def doremiWeights(df: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String, domain: Column,
                    eta: Double = 1.0): org.apache.spark.sql.DataFrame = {
    // one shared unigram stage feeds both LM passes (round-12: each op
    // staging its own copy of the same vocab table cost ~2 extra
    // actions per composition)
    val shared = Some(stageUnigrams(df, textCol))
    val uni = unigramNll(df, textCol, idCol, shared)
    val bi = bigramNll(df, textCol, idCol, shared)
    val scored = df.select(col(idCol), domain.as("source"))
      .join(uni, Seq(idCol))
      .join(bi, Seq(idCol))
      .withColumn("__ex",
        greatest(lit(0.0), col("mean_nll") - col("mean_nll2")))
    val dom = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        sum(col("__ex").cast("decimal(18,6)")).as("__se"))
      .withColumn("excess",
        round(col("__se").cast(DoubleType) / col("n_docs"), 6))
      .withColumn("__w",
        col("tokens").cast(DoubleType) * round(exp(lit(eta) * col("excess")), 9))
    val tot = dom.agg(
      sum(col("__w").cast("decimal(28,6)")).cast(DoubleType).as("__tw"))
    dom.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"), col("excess"),
        floor(lit(1000.0) * col("__w") / col("__tw") + 0.5)
          .cast(org.apache.spark.sql.types.LongType).as("weight_milli"))
  }

  /**
   * Per-group token-distribution drift: Jensen–Shannon divergence of each
   * group's unigram distribution against the whole-corpus distribution —
   * the mixture-health diagnostic that tells you which source/shard/day
   * has drifted from the corpus it feeds (JS, not KL, because groups
   * missing corpus terms would send KL to infinity; JS is bounded by
   * ln 2 and symmetric-safe with zeros).
   *
   * For group g with distribution P and corpus distribution Q:
   * `JS = 0.5·Σ p·ln(p/m) + 0.5·Σ q·ln(q/m)` over the CORPUS vocabulary
   * (every group term is a corpus term by construction), `m = (p+q)/2`,
   * `p·ln(p/m) := 0` when p = 0.
   *
   * Scale shape: one token explode feeds a (group, term) partial-agg
   * shuffle and a (term) partial-agg shuffle; the per-group totals and
   * the corpus total are group-count-bounded broadcasts (sources/langs/
   * days — small by construction, which is the operator's contract); the
   * vocab×groups contribution relation reduces by group with decimal
   * sums. The exchange never carries more than the (group, term) count
   * table that any per-group vocabulary stat already needs.
   */
  def jsDivergence(df: org.apache.spark.sql.DataFrame, textCol: String,
                   groupCol: Column): org.apache.spark.sql.DataFrame = {
    val toks = df.select(groupCol.as("grp"), explode(words(col(textCol))).as("term"))
    val cg = toks.groupBy(col("grp"), col("term")).agg(count(lit(1)).as("__cg"))
    val tg = toks.groupBy(col("grp")).agg(count(lit(1)).as("__tg"))
    val c = toks.groupBy(col("term")).agg(count(lit(1)).as("__c"))
    val tot = c.agg(sum(col("__c")).cast(DoubleType).as("__t"))
    val p = coalesce(col("__cg"), lit(0L)).cast(DoubleType) / col("__tg")
    val q = col("__c").cast(DoubleType) / col("__t")
    val m = (p + q) / lit(2.0)
    val contrib = (when(col("__cg").isNotNull, p * log(p / m)).otherwise(lit(0.0))
      + q * log(q / m)) * lit(0.5)
    c.crossJoin(broadcast(tg))
      .join(cg, Seq("grp", "term"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("__j", contrib.cast("decimal(28,12)"))
      .groupBy(col("grp"))
      .agg(max(col("__tg")).as("n_tokens"), sum(col("__j")).as("__s"))
      .select(col("grp"), col("n_tokens"),
        round(col("__s").cast(DoubleType), 6).as("js_div"))
  }

  /**
   * Zipf rank-frequency fit over the vocabulary HEAD — the corpus-health
   * diagnostic (a natural-language corpus fits ln f ≈ a + s·ln r with
   * slope s near −1; machine-generated or template-heavy corpora bend
   * away from it). Fit is closed-form least squares of ln(freq) on
   * ln(rank) over the top-`topK` terms: the head is where Zipf holds and
   * where a deterministic fit is cheap — the hapax tail both distorts
   * the regression and would force a vocabulary-sized global sort.
   *
   * Scale shape: one vocab partial-agg shuffle, then top-K via
   * TakeOrderedAndProject (never a global sort); the rank window runs
   * over the K retained rows (K is a constant knob, same precedent as
   * the q_window pre-limited top-10). Output is ONE row; the ln sums
   * truncate to decimal so the K-row reduction is engine-exact.
   */
  def zipfFit(df: org.apache.spark.sql.DataFrame, textCol: String,
              topK: Int = 1000): org.apache.spark.sql.DataFrame = {
    require(topK >= 3, s"need >= 3 points to fit (got $topK)")
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(explode(words(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val top = counts.orderBy(col("freq").desc, col("term")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("term"))))
    val x = log(col("rank").cast(DoubleType))
    val y = log(col("freq").cast(DoubleType))
    def dsum(c: Column) = sum(c.cast("decimal(28,12)")).cast(DoubleType)
    val agg = top.agg(count(lit(1)).as("n_terms"), dsum(x).as("sx"),
      dsum(y).as("sy"), dsum(x * x).as("sxx"), dsum(y * y).as("syy"),
      dsum(x * y).as("sxy"))
    val nd = col("n_terms").cast(DoubleType)
    val num = nd * col("sxy") - col("sx") * col("sy")
    val den = nd * col("sxx") - col("sx") * col("sx")
    val denY = nd * col("syy") - col("sy") * col("sy")
    val slope = num / den
    agg.select(col("n_terms"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / nd, 6).as("intercept"),
      // zero y-variance = the flat line fits exactly; r2 := 1 (the 0/0
      // limit), and it keeps ANSI division happy on degenerate corpora
      round(when(denY === 0.0, lit(1.0))
        .otherwise(num * num / (den * denY)), 6).as("r2"))
  }

  /** The standard HLL estimate over a [[hllRegisters]] table localized to
    * the driver (m doubles) — test/report-side companion, see scaladoc
    * above for why it stays out of the oracle surface. */
  def hllEstimate(registers: Map[Long, Long], m: Int): Double = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val zeros = m - registers.size
    val sum = registers.values.map(r => math.pow(2.0, -r.toDouble)).sum + zeros.toDouble
    val raw = alpha * m.toLong * m.toLong / sum
    // small-range correction (linear counting) below the 5m/2 knee
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
  }
}
