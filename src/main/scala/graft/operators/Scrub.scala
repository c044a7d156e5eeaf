package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-scrubbing operators for the training-data pipeline tier: PII
  * redaction, C4-style line rules, URL canonicalization, and
  * URL/domain blocklist filtering — the standard cleanup passes
  * (C4/RefinedWeb-style) between raw crawl and training that the
  * dedup/quality tier doesn't cover.
  *
  * Spark-first design notes (100 TB scale):
  *  - PII scrubbing is a pure per-row projection of codegen'd
  *    `regexp_replace`/`regexp_count` — no shuffle, no UDF; cost is
  *    linear in corpus bytes and embarrassingly parallel.
  *  - the domain filter is the q55-decontamination asymmetry again: the
  *    blocklist (thousands–millions of domains, tiny next to the corpus)
  *    BROADCASTS and the corpus anti-joins map-side — the corpus never
  *    shuffles. Subdomain semantics stay an EQUI-join by exploding each
  *    host into its dot-suffix chain (`a.b.c` → `a.b.c`, `b.c`, `c`)
  *    instead of a non-equi `LIKE` join.
  *  - every pattern is deliberately RE2-compatible (no lookaround, no
  *    backreferences), so the identical pattern string runs under
  *    Spark's Java regex and an RE2-based oracle engine (DuckDB)
  *    bit-for-bit.
  */
object Scrub {

  /** PII patterns over the ASCII-lowercase normalized corpus contract
    * (a deployment on raw text widens the classes with `(?i)` — still
    * RE2-safe). Order of application: email → phone → IPv4; counts are
    * taken on the ORIGINAL text per pattern, so they are independent of
    * replacement order.
    */
  val EmailRe: String = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe: String = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  val Ipv4Re: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redaction-count and scrubbed-text columns: (n_emails, n_phones,
    * n_ips, n_redactions, scrubbed). One codegen'd projection; stage the
    * text column if it is itself a non-trivial expression.
    */
  def piiColumns(text: Column): Seq[(String, Column)] = {
    val nEmails = regexp_count(text, lit(EmailRe))
    val nPhones = regexp_count(text, lit(PhoneRe))
    val nIps = regexp_count(text, lit(Ipv4Re))
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")
    Seq(
      "n_emails" -> nEmails.cast("long"),
      "n_phones" -> nPhones.cast("long"),
      "n_ips" -> nIps.cast("long"),
      "n_redactions" -> (nEmails + nPhones + nIps).cast("long"),
      "scrubbed" -> scrubbed)
  }

  /** C4-style line-rule cleanup: split the document into lines and keep
    * a line iff it has at least `minLineTokens` tokens AND (when
    * `requireTerminalPunct`) ends in `.`, `!`, `?` or `"` — the crawl
    * pass that strips nav menus, cookie banners, and one-word list
    * items before any content-level filtering. Emits (n_lines,
    * n_kept_lines, cleaned) where `cleaned` re-joins surviving lines
    * with a newline (empty string when nothing survives — callers drop
    * empty docs downstream).
    *
    * Pure per-row codegen'd array HOFs — no shuffle, no UDF. Token
    * counting is `regexp_count(\\S+)` (count of non-space runs) rather
    * than `size(split(...))`, so an empty line counts 0 tokens in any
    * engine (split-of-empty yields one empty token in Spark but none
    * in some oracles — the one formulation that diverges).
    */
  def lineRuleColumns(text: Column, minLineTokens: Int,
                      requireTerminalPunct: Boolean = true): Seq[(String, Column)] = {
    val lines = split(text, java.util.regex.Pattern.quote("\n"))
    val kept = filter(lines, l => {
      val t = trim(l)
      val tokOk = regexp_count(t, lit("\\S+")) >= minLineTokens
      val punctOk =
        if (requireTerminalPunct)
          substring(t, -1, 1).isin(".", "!", "?", "\"")
        else lit(true)
      tokOk && punctOk
    })
    Seq(
      "n_lines" -> size(lines).cast("long"),
      "n_kept_lines" -> size(kept).cast("long"),
      "cleaned" -> array_join(kept, "\n"))
  }

  /** Authority prefix (`scheme://host[:port]`) — the case-insensitive
    * region of a URL.
    */
  val SchemeHostRe: String = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"

  /** The regexp chain [[canonicalizeUrl]] applies after scheme+host
    * lowering: (pattern, Java replacement, RE2 replacement) — one list
    * so the Spark operator and the SQL twin cannot drift (only the
    * backreference SYNTAX differs, `$1` vs `\1`). Order matters:
    * fragment first (tracking params before a `#` must still match),
    * query repair before port/slash cleanup (the trailing-slash rule
    * keys on `?`-or-end). All patterns avoid lookaround/backrefs —
    * they run identically under Java regex and RE2.
    */
  private val UrlCanonSteps: Seq[(String, String, String)] = Seq(
    // drop fragment
    ("#.*$", "", ""),
    // drop "&tracker=..." (every non-first tracking param); tracker
    // NAMES are case-insensitive ((?i:...) — inline-group form is
    // RE2-compatible) because query case is otherwise significant and
    // preserved: '?UTM_Source=x' must collapse like '?utm_source=x'
    ("&(?i:utm_[a-z]+|fbclid|gclid|ref)=[^&#]*", "", ""),
    // drop a LEADING "?tracker=...&" promoting the next param to first
    ("\\?(?i:utm_[a-z]+|fbclid|gclid|ref)=[^&#]*&?", "?", "?"),
    // a query reduced to a bare "?" disappears
    ("\\?$", "", ""),
    // explicit default ports
    ("^(https://[^/:?#]+):443([/?#]|$)", "$1$2", "\\1\\2"),
    ("^(http://[^/:?#]+):80([/?#]|$)", "$1$2", "\\1\\2"),
    // one trailing slash on a non-root path (before query or end)
    ("(://[^/?#]+(?:/[^?#]*[^/?#]))/(\\?|$)", "$1$2", "\\1\\2"))

  /** Canonical form of a URL for crawl-level dedup — two fetches of the
    * same resource must map to one key before any text-level dedup
    * runs: scheme+host lowercase (path/query case is significant),
    * fragment dropped (never reaches the server), tracking parameters
    * dropped in any query position, explicit default ports dropped,
    * one trailing slash on a non-root path dropped. Deliberately NOT
    * applied: percent-encoding normalization and query re-sorting
    * (they change semantics on some servers; a deployment opts in
    * per-crawl).
    */
  def canonicalizeUrl(url: Column): Column = {
    // lowercase scheme+authority, keep path/query case verbatim; a URL
    // with no scheme matches nothing and passes through unchanged
    val lowered = concat(
      lower(regexp_extract(url, s"($SchemeHostRe)", 1)),
      regexp_replace(url, SchemeHostRe, ""))
    UrlCanonSteps.foldLeft(lowered) { case (c, (pat, rep, _)) =>
      regexp_replace(c, pat, rep)
    }
  }

  /** DuckDB twin of [[canonicalizeUrl]] over a SQL expression — built
    * from the SAME pattern chain. */
  def canonicalizeUrlSql(e: String): String = {
    val lowered = s"lower(regexp_extract($e, '($SchemeHostRe)', 1))" +
      s" || regexp_replace($e, '$SchemeHostRe', '', 'g')"
    UrlCanonSteps.foldLeft(s"($lowered)") { case (acc, (pat, _, rep)) =>
      s"regexp_replace($acc, '$pat', '$rep', 'g')"
    }
  }

  /** Host part of a URL, LOWERCASED: the authority between
    * `scheme://` and the first `/`, `:`, `?` or `#`. Hostnames are
    * case-insensitive (RFC 3986 §3.2.2) and raw crawl URLs arrive
    * mixed-case, so the host is normalized here — otherwise a
    * `Ads.Example.com` row would slip past a lowercase blocklist.
    * Empty string when the URL doesn't parse (no scheme) — callers
    * treat unparseable as "not blocked" or pre-filter, their policy.
    */
  def hostOf(url: Column): Column =
    lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1))

  /** Dot-suffix chain of a host: `cdn.src3.example.com` →
    * [`cdn.src3.example.com`, `src3.example.com`, `example.com`, `com`].
    * A blocklist entry matches a host iff it appears in the chain —
    * exactly "host == domain OR host ends with '.' + domain", but as
    * equi-join keys instead of a suffix LIKE.
    */
  def hostSuffixChain(host: Column): Column = {
    val parts = split(host, "\\.")
    transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts)), "."))
  }

  /** Drop rows whose URL host matches the domain blocklist (exact host
    * or any-subdomain match, case-insensitive on the host side — see
    * [[hostOf]]). `blocklist` is a single-column DataFrame of
    * LOWERCASE domains; `idCol` is the row identity used to subtract
    * matched rows (anti-join on "ANY suffix hits" needs a per-row key
    * — a per-suffix anti-join would only drop the matching suffix
    * twin).
    *
    * Plan shape, chosen by the size of the BLOCKLIST (a planner-side
    * `count()` of the tiny domain table — ~free, unlike a pass over
    * the corpus):
    *
    *  - at or under `maxInlineDomains` (the overwhelmingly common
    *    case — real blocklists are thousands of domains), the domains
    *    collect to the driver and the filter is a PURE MAP-SIDE
    *    projection: `NOT exists(suffix-chain, d -> d IN <set>)`
    *    (Catalyst rewrites the literal IN to a hash-set `InSet`).
    *    ONE corpus scan, zero joins, zero extra jobs — the blocked-id
    *    set is never materialized, so there is nothing to size-gate.
    *  - above it, the join formulation: corpus → project (id,
    *    suffix-chain) → explode → broadcast LEFT-SEMI against the
    *    blocklist (yields the blocked ids) → LEFT-ANTI of the corpus
    *    against those ids, with the anti-join side SIZE-GATED at
    *    runtime (checked out once — [[graft.Pipeline.withCheckouts]] —
    *    and counted: at or under `maxBroadcastIds` it BROADCASTS and the
    *    subtraction stays map-side; above it, where a forced broadcast
    *    would overflow executor memory, it flips to a shuffle anti-join
    *    — slower, bounded everywhere).
    *
    * Both paths assume `idCol` is a per-row identity (unique): the
    * inline path drops a row on ITS OWN url, the join path drops by
    * id — identical under uniqueness.
    */
  def domainFilter(df: DataFrame, urlCol: String, idCol: String,
                   blocklist: DataFrame,
                   maxBroadcastIds: Long = 2000000L,
                   maxInlineDomains: Long = 65536L): DataFrame = {
    val blocked = blocklist.toDF("__dom")
    if (blocked.count() <= maxInlineDomains) {
      val doms = blocked.collect().map(_.getString(0)).toIndexedSeq
      if (doms.isEmpty) df
      else df.filter(!exists(hostSuffixChain(hostOf(col(urlCol))),
        d => d.isin(doms: _*)))
    } else {
      val blockedIds = df
        .select(col(idCol),
          explode(hostSuffixChain(hostOf(col(urlCol)))).as("__dom"))
        .join(broadcast(blocked), Seq("__dom"), "left_semi")
        .select(idCol).distinct()
        .localCheckpoint(eager = true)
      // one eager pass over the corpus scan computes the set for BOTH the
      // gate count and the anti-join (MEMORY_AND_DISK, so an
      // over-threshold set spills rather than OOMs)
      if (blockedIds.count() <= maxBroadcastIds)
        df.join(broadcast(blockedIds), Seq(idCol), "left_anti")
      else
        df.join(blockedIds.hint("shuffle_merge"), Seq(idCol), "left_anti")
    }
  }
}
