package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization + registrable-domain kernels — the key-making
  * step of web-corpus curation: crawl snapshots carry the SAME page
  * under scheme-case/host-case variants, default ports, tracking
  * parameters, shuffled query order and fragments, so URL-level dedup
  * and per-site statistics are meaningless until URLs are reduced to a
  * canonical key. One fused per-row kernel (no intermediate strings
  * per step, stays in whole-stage codegen) instead of a 6-deep
  * `regexp_replace` chain.
  *
  * Canonical form (the documented contract, deliberately minimal and
  * bijective enough for dedup keys — NOT a fetch-equivalence claim):
  *
  *  1. scheme: lowercased; only `http`/`https` canonicalize — anything
  *     else (ftp, javascript, data, relative paths) → null;
  *  2. userinfo dropped; host lowercased, single trailing dot
  *     stripped; empty host → null;
  *  3. default ports dropped (http:80, https:443), others kept;
  *     non-numeric port → null;
  *  4. empty path → `/`; otherwise byte-preserved (no %-decoding, no
  *     dot-segment collapse — both are content-changing on hostile
  *     input and belong to a fetcher, not a dedup key);
  *  5. query: `&`-split, empty segments dropped, tracking keys removed
  *     (`utm_*` prefix and the click-id set below, key compared
  *     case-insensitively), survivors BYTE-SORTED and rejoined — query
  *     order is server-insignificant for the overwhelming majority of
  *     pages, and unsorted keys split dedup groups;
  *  6. fragment dropped (client-side only).
  *
  * The registrable domain (eTLD+1) delegates to
  * [[graft.sources.PublicSuffix]] — a bundled public-suffix list with
  * the FULL publicsuffix.org matching algorithm (longest match, `*.`
  * wildcards, `!` exceptions); the rule data is a curated offline
  * snapshot, swappable by a data edit.
  */
object UrlKit {

  /** Click-id / tracking keys removed from canonical queries (beside
    * the `utm_` prefix family). Lowercase; compared case-insensitively.
    */
  private val trackingKeys = Set(
    "gclid", "fbclid", "msclkid", "igshid", "mc_cid", "mc_eid",
    "ref", "ref_src")

  /** (scheme, host, portPart, path, query) or null if not a
    * canonicalizable http(s) URL. portPart is "" or ":NNNN" with the
    * scheme default already dropped.
    */
  private def parse(url: String): Array[String] = {
    val s = url.trim
    val schemeEnd = s.indexOf("://")
    if (schemeEnd <= 0) return null
    val scheme = s.substring(0, schemeEnd).toLowerCase(java.util.Locale.ROOT)
    if (scheme != "http" && scheme != "https") return null
    val rest = s.substring(schemeEnd + 3)
    // authority ends at the first of / ? #
    var aEnd = rest.length
    var i = 0
    while (i < aEnd) {
      val c = rest.charAt(i)
      if (c == '/' || c == '?' || c == '#') aEnd = i else i += 1
    }
    var auth = rest.substring(0, aEnd)
    val at = auth.lastIndexOf('@')
    if (at >= 0) auth = auth.substring(at + 1)
    var host = auth
    var portPart = ""
    val colon = auth.lastIndexOf(':')
    if (colon >= 0) {
      host = auth.substring(0, colon)
      val port = auth.substring(colon + 1)
      // toIntOption, not toInt: crawl data carries hostile all-digit
      // ports ("http://e.com:99999999999999/") that overflow Int — the
      // contract is total-on-junk (null), never a thrown row that
      // fail-stops a corpus scan. Out-of-range ports (>65535) are
      // equally unfetchable → null.
      if (port.isEmpty || !port.forall(_.isDigit)) return null
      val p = port.toIntOption.getOrElse(return null)
      if (p > 65535) return null
      val isDefault =
        (scheme == "http" && p == 80) || (scheme == "https" && p == 443)
      if (!isDefault) portPart = s":$p"
    }
    host = host.toLowerCase(java.util.Locale.ROOT)
    if (host.endsWith(".")) host = host.substring(0, host.length - 1)
    if (host.isEmpty || host.exists(c => c == ' ' || c == '\t')) return null
    // IDN hosts: a unicode host and its punycode twin are the SAME
    // site — normalize to the ASCII (xn--) form the DNS actually
    // resolves, so dedup keys and PSL lookups see one spelling
    // (JDK IDNA; anything it rejects keeps the lowercased original —
    // total-on-junk, never a thrown row)
    if (host.exists(_ >= 0x80))
      host = try java.net.IDN.toASCII(host)
        .toLowerCase(java.util.Locale.ROOT)
      catch { case _: IllegalArgumentException => host }
    val tail = rest.substring(aEnd)
    val hashAt = tail.indexOf('#')
    val noFrag = if (hashAt >= 0) tail.substring(0, hashAt) else tail
    val qAt = noFrag.indexOf('?')
    val path = if (qAt >= 0) noFrag.substring(0, qAt) else noFrag
    val query = if (qAt >= 0) noFrag.substring(qAt + 1) else ""
    Array(scheme, host, portPart, if (path.isEmpty) "/" else path, query)
  }

  private def isTracking(seg: String): Boolean = {
    val eq = seg.indexOf('=')
    val key = (if (eq >= 0) seg.substring(0, eq) else seg)
      .toLowerCase(java.util.Locale.ROOT)
    key.startsWith("utm_") || trackingKeys.contains(key)
  }

  def canon(u: UTF8String): UTF8String = {
    val p = parse(u.toString)
    if (p == null) return null
    val Array(scheme, host, portPart, path, query) = p
    val keep = query.split("&", -1).filter(s => s.nonEmpty && !isTracking(s))
    java.util.Arrays.sort(keep, java.util.Comparator.naturalOrder[String]())
    val q = if (keep.isEmpty) "" else "?" + keep.mkString("&")
    UTF8String.fromString(s"$scheme://$host$portPart$path$q")
  }

  /** Canonical path component (empty → "/"), or null on non-http(s). */
  def pathOf(u: UTF8String): UTF8String = {
    val p = parse(u.toString)
    if (p == null) null else UTF8String.fromString(p(3))
  }

  /** Path PLUS query (`/p?a=1`, query raw/as-crawled, empty path →
    * "/"), or null on non-http(s) — the RFC 9309 §2.2.2 match target:
    * robots rules apply to the path INCLUDING the query string, so a
    * wildcard session-id Disallow rule must see the query. Fragments
    * never ride (parse strips them).
    */
  def pathQueryOf(u: UTF8String): UTF8String = {
    val p = parse(u.toString)
    if (p == null) null
    else UTF8String.fromString(
      p(3) + (if (p(4).nonEmpty) "?" + p(4) else ""))
  }

  def registrableDomain(u: UTF8String): UTF8String = {
    val p = parse(u.toString)
    if (p == null) return null
    UTF8String.fromString(
      graft.sources.PublicSuffix.registrable(p(1)))
  }

  /** RFC 3986 §5 reference resolution — the FETCH-oriented companion
    * to [[canon]]: a crawl frontier must turn `href` references into
    * absolute URLs before keying them. Handles absolute references
    * (http(s) ones get §5.2.2 `remove_dot_segments` applied to their
    * OWN path — `http://a/b/../c` and `http://a/c` must key one
    * frontier entry; other schemes pass verbatim), scheme-relative
    * `//host/..`, absolute-path `/p`, query-only `?q`, fragment-only
    * `#f` (→ the base itself), and relative paths with §5.2.4
    * dot-segment removal ON THE MERGED PATH (required for resolution,
    * unlike canon's deliberate byte-preservation of as-crawled
    * paths). Every resolved output is FRAGMENT-FREE: fragments are
    * client-side, and a frontier keyed on resolved URLs must not
    * treat `/x` and `/x#f` as distinct pages. Null when the base is
    * not a parseable http(s) URL or the reference is empty.
    */
  def resolve(base: UTF8String, href: UTF8String): UTF8String = {
    val h0 = href.toString.trim
    if (h0.isEmpty) return null
    // absolute reference: has a scheme
    val colon = h0.indexOf(':')
    if (colon > 0 && h0.substring(0, colon)
        .forall(c => c.isLetterOrDigit || c == '+' || c == '-' || c == '.')
        && h0.charAt(0).isLetter)
      return UTF8String.fromString(absClean(h0))
    val p = parse(base.toString)
    if (p == null) return null
    val Array(scheme, host, portPart, basePath, baseQuery) = p
    val auth = s"$scheme://$host$portPart"
    // fragment-only reference → the base itself (handled on the RAW
    // reference: "#f" must not become an empty reference below)
    if (h0.charAt(0) == '#')
      return UTF8String.fromString(auth + basePath +
        (if (baseQuery.nonEmpty) "?" + baseQuery else ""))
    // all other resolved outputs drop the fragment up front
    val hashAt = h0.indexOf('#')
    val h = if (hashAt >= 0) h0.substring(0, hashAt) else h0
    if (h.isEmpty) return null
    // dot removal applies to the PATH only — split the query off first
    def splitRef(s: String): (String, String) = {
      val qAt = s.indexOf('?')
      if (qAt < 0) (s, "") else (s.substring(0, qAt), s.substring(qAt))
    }
    val out =
      if (h.startsWith("//")) absClean(s"$scheme:$h")
      else if (h.startsWith("/")) {
        val (pp, suf) = splitRef(h)
        auth + removeDots(pp) + suf
      } else if (h.startsWith("?")) auth + basePath + h
      else {
        // relative path: merge with the base path's directory (§5.2.3)
        val (pp, suf) = splitRef(h)
        val dir = basePath.lastIndexOf('/') match {
          case -1 => "/"
          case i => basePath.substring(0, i + 1)
        }
        auth + removeDots(dir + pp) + suf
      }
    UTF8String.fromString(out)
  }

  /** §5.2.2 applied to an ABSOLUTE reference: http(s) URLs re-serialize
    * with `remove_dot_segments` on their own path and the fragment
    * dropped (plus the lowercased host / default-port normalization
    * [[parse]] performs — all frontier-key-preserving); anything that
    * does not parse as http(s) (mailto:, javascript:, a junk
    * authority) returns verbatim, the pre-round-17 behavior.
    */
  private def absClean(s: String): String = {
    val p = parse(s)
    if (p == null) s
    else {
      val q = if (p(4).nonEmpty) "?" + p(4) else ""
      s"${p(0)}://${p(1)}${p(2)}${removeDots(p(3))}$q"
    }
  }

  /** §5.2.4 remove_dot_segments over a path that starts with '/'. */
  private def removeDots(path: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var trailingSlash = false
    path.split("/", -1).foreach {
      case "" => ()
      case "." => trailingSlash = true
      case ".." =>
        if (out.nonEmpty) out.remove(out.size - 1)
        trailingSlash = true
      case seg => out += seg; trailingSlash = false
    }
    val joined = "/" + out.mkString("/")
    if ((path.endsWith("/") || trailingSlash) && !joined.endsWith("/"))
      joined + "/"
    else joined
  }

  /** The PSL rule KIND the [[registrableDomain]] lookup used —
    * "exact" / "wildcard" / "exception" / "default"; null on
    * non-http(s) input. "default" flags hosts bucketed by the
    * implicit `*` rule, i.e. registries the bundled subset does not
    * list — the observability hook for offline-PSL drift.
    */
  def pslKind(u: UTF8String): UTF8String = {
    val p = parse(u.toString)
    if (p == null) return null
    UTF8String.fromString(graft.sources.PublicSuffix.ruleKind(p(1)))
  }
}

private[functions] trait UrlStringExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  protected def kernel: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.UrlKit.$kernel($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
}

/** `graft_urlcanon(url)` — canonical dedup key via [[UrlKit.canon]];
  * null for anything that is not a parseable http(s) URL.
  */
case class UrlCanonExpr(child: Expression) extends UrlStringExpr {
  override def prettyName: String = "graft_urlcanon"
  override protected def kernel: String = "canon"
  override def nullSafeEval(input: Any): Any =
    UrlKit.canon(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): UrlCanonExpr =
    copy(child = newChild)
}

/** `graft_urldomain(url)` — registrable domain (bundled-PSL eTLD+1)
  * via [[UrlKit.registrableDomain]]; null for non-http(s) input.
  */
case class UrlDomainExpr(child: Expression) extends UrlStringExpr {
  override def prettyName: String = "graft_urldomain"
  override protected def kernel: String = "registrableDomain"
  override def nullSafeEval(input: Any): Any =
    UrlKit.registrableDomain(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): UrlDomainExpr =
    copy(child = newChild)
}

/** `graft_urlpath(url)` — canonical path (empty → "/") via
  * [[UrlKit.pathOf]]; null for non-http(s) input.
  */
case class UrlPathExpr(child: Expression) extends UrlStringExpr {
  override def prettyName: String = "graft_urlpath"
  override protected def kernel: String = "pathOf"
  override def nullSafeEval(input: Any): Any =
    UrlKit.pathOf(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): UrlPathExpr =
    copy(child = newChild)
}

/** `graft_urlpathq(url)` — path + raw query (the RFC 9309 robots match
  * target) via [[UrlKit.pathQueryOf]]; null for non-http(s) input.
  */
case class UrlPathQueryExpr(child: Expression) extends UrlStringExpr {
  override def prettyName: String = "graft_urlpathq"
  override protected def kernel: String = "pathQueryOf"
  override def nullSafeEval(input: Any): Any =
    UrlKit.pathQueryOf(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(
      newChild: Expression): UrlPathQueryExpr = copy(child = newChild)
}

/** `graft_urlresolve(base, href)` — RFC 3986 §5 reference resolution
  * via [[UrlKit.resolve]]; null when the base is not http(s) or the
  * reference is empty; null inputs propagate.
  */
case class UrlResolveExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_urlresolve expects (STRING, STRING), got $other")
    }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_urlresolve"

  override def nullSafeEval(base: Any, href: Any): Any =
    UrlKit.resolve(base.asInstanceOf[UTF8String],
      href.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, h) => {
      s"""
         |${ev.value} = graft.functions.UrlKit.resolve($b, $h);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UrlResolveExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_psl_kind(url)` — the public-suffix rule kind the domain
  * lookup used ("exact"/"wildcard"/"exception"/"default") via
  * [[UrlKit.pslKind]]; null for non-http(s) input.
  */
case class UrlPslKindExpr(child: Expression) extends UrlStringExpr {
  override def prettyName: String = "graft_psl_kind"
  override protected def kernel: String = "pslKind"
  override def nullSafeEval(input: Any): Any =
    UrlKit.pslKind(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(
      newChild: Expression): UrlPslKindExpr = copy(child = newChild)
}

/** robots.txt evaluation (RFC 9309): parse the file into user-agent
  * groups, select the group set per §2.2.1 — an EXACT agent-token
  * match (case-insensitive) wins over the `*` groups, the `*` groups
  * apply only when no specific group names the agent — then match a
  * path over the selected groups' Allow/Disallow rules with the
  * §2.2.3 special characters (`*` matches any octet sequence, `$`
  * anchors the end — both MUST-support per the RFC; `$` elsewhere is
  * a literal); the MOST-SPECIFIC match (longest rule string) decides,
  * Allow winning length ties; no matching rule (or an empty Disallow
  * value) → allowed. Wildcard-free rules degenerate to the longest-
  * matching-prefix semantics byte for byte.
  *
  * Parsed rule sets are cached per executor, keyed by a DIGEST of the
  * robots body (+ agent), never the body itself — the body is ROW
  * data joined from the robots dimension, and at web-corpus scale
  * (millions of distinct sites) body-keyed entries would be an
  * unbounded executor-memory leak. The cache is also size-capped and
  * LRU: past [[RobotsKit.MaxCacheEntries]] the LEAST-RECENTLY-USED
  * entry is evicted (access-ordered LinkedHashMap), so the hot sites
  * of a many-domain corpus stay parsed instead of the whole cache
  * periodically stampeding through a clear-and-rebuild. The worst
  * case degrades to re-parsing cold sites (a few hundred bytes per
  * row), never to OOM.
  */
object RobotsKit {
  private val MaxCacheEntries = 8192
  // Access-ordered LRU behind one lock: the critical section is a hash
  // probe (hit) or a probe+insert+evict (miss) — nanoseconds next to
  // the per-row glob matching this cache exists to amortize.
  private val cache =
    new java.util.LinkedHashMap[String, Array[CompiledRule]](
        1024, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Array[CompiledRule]]): Boolean =
        size() > MaxCacheEntries
    }
  private val sha256 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }
  /** Test hook: the cache keys currently resident, hottest LAST
    * (access order). */
  private[graft] def cacheKeysForTest: Seq[String] =
    cache.synchronized {
      import scala.jdk.CollectionConverters._
      cache.keySet().asScala.toSeq
    }
  private[graft] def cacheClearForTest(): Unit =
    cache.synchronized(cache.clear())

  /** One user-agent group: lowercased agent tokens, (prefix, isAllow)
    * path rules, and the group's crawl-delay seconds if present (the
    * de-facto extension field — fractional values allowed, junk
    * ignored).
    */
  private[functions] final case class Group(
      agents: Set[String], rules: Array[(String, Boolean)],
      delay: Option[Double])

  /** Leading UTF-8 BOM tolerance (RFC 9309 §2.3): real robots.txt
    * files carry one surprisingly often, and `trim` does NOT strip
    * U+FEFF — an untolerated BOM silently loses the FIRST
    * `User-agent:` line, i.e. the whole first group's rules.
    */
  private def stripBom(s: String): String =
    if (s.nonEmpty && s.charAt(0) == '\uFEFF') s.substring(1) else s

  /** User-agent groups in file order. Consecutive user-agent lines
    * accumulate one group; a user-agent line AFTER rules starts a
    * fresh group; rules before any user-agent line belong to no group
    * (ignored).
    */
  private[functions] def groups(rawTxt: String): Array[Group] = {
    val txt = stripBom(rawTxt)
    val out = scala.collection.mutable.ArrayBuffer.empty[Group]
    var agents = Set.empty[String]
    var rules = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    var delay: Option[Double] = None
    var afterRules = false
    def flush(): Unit = {
      if (agents.nonEmpty) out += Group(agents, rules.toArray, delay)
      agents = Set.empty
      rules = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
      delay = None
    }
    txt.split("\n", -1).foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      if (ci > 0) {
        val field = line.substring(0, ci).trim
          .toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(ci + 1).trim
        field match {
          case "user-agent" =>
            if (afterRules) { flush(); afterRules = false }
            if (value.nonEmpty)
              agents += value.toLowerCase(java.util.Locale.ROOT)
          case "disallow" | "allow" =>
            if (agents.nonEmpty && value.nonEmpty)
              rules += ((value, field == "allow"))
            afterRules = true
          case "crawl-delay" =>
            if (agents.nonEmpty && delay.isEmpty)
              delay = value.toDoubleOption.filter(d => d >= 0 && d.isFinite)
            afterRules = true
          case _ => ()
        }
      }
    }
    flush()
    out.toArray
  }

  /** §2.2.1 group selection: all groups naming the agent token
    * exactly (case-insensitive); if none, all `*` groups.
    */
  private[functions] def groupsFor(txt: String, agent: String): Array[Group] = {
    val gs = groups(txt)
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    val exact = gs.filter(_.agents.contains(a))
    if (exact.nonEmpty) exact else gs.filter(_.agents.contains("*"))
  }

  private[functions] def rulesFor(
      txt: String, agent: String): Array[(String, Boolean)] =
    groupsFor(txt, agent).flatMap(_.rules)

  /** Crawl-delay seconds the agent should honor (§2.2.1 group
    * selection; if several selected groups carry one, the LARGEST —
    * the politeness-conservative read); null when none do.
    */
  def crawlDelayFor(robots: UTF8String, agent: String): java.lang.Double = {
    val ds = groupsFor(robots.toString, agent).flatMap(_.delay)
    if (ds.isEmpty) null else java.lang.Double.valueOf(ds.max)
  }

  /** Number of `Sitemap:` lines (group-independent per the de-facto
    * standard — they apply file-wide).
    */
  def sitemapCount(robots: UTF8String): Int =
    stripBom(robots.toString).split("\n", -1).count { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      ci > 0 && line.substring(0, ci).trim
        .toLowerCase(java.util.Locale.ROOT) == "sitemap" &&
        line.substring(ci + 1).trim.nonEmpty
    }

  /** The `Sitemap:` line VALUES (file-wide, group-independent like
    * [[sitemapCount]]), comment-stripped and trimmed, file order —
    * the URLs a recrawl fetches to feed sitemap parsing; emitting
    * them (not just the count) closes the robots → sitemap-file →
    * `<loc>` entries chain.
    */
  def sitemapUrls(robots: UTF8String): Array[UTF8String] =
    stripBom(robots.toString).split("\n", -1).iterator.flatMap { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      if (ci > 0 && line.substring(0, ci).trim
          .toLowerCase(java.util.Locale.ROOT) == "sitemap" &&
          line.substring(ci + 1).trim.nonEmpty)
        Some(UTF8String.fromString(line.substring(ci + 1).trim))
      else None
    }.toArray

  /** [[sitemapUrls]] as Catalyst array data (the codegen entry). */
  def sitemapUrlsArray(robots: UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      sitemapUrls(robots).toArray[Any])

  /** Back-compat spelling: the agent-`*` rule set. */
  private[functions] def rules(txt: String): Array[(String, Boolean)] =
    rulesFor(txt, "*")

  /** One §2.2.3-compiled rule: the glob pattern (trailing `$`
    * stripped; a non-anchored rule gets `*` appended so prefix
    * matching IS full matching), the RAW rule length (the §2.2.2
    * specificity measure — special characters count), and the verdict.
    */
  private[functions] final case class CompiledRule(
      glob: String, precedence: Int, isAllow: Boolean)

  /** Compile a rule value: `*` → any octet sequence, trailing `$` →
    * end anchor, everything else literal. NOT a java.util.regex —
    * robots bodies are ROW data, and a hostile rule like
    * `*a*a*a*a*$` against a long path is a catastrophic-backtracking
    * bomb under NFA regex; [[globMatch]] is the classic iterative
    * single-backtrack wildcard matcher, O(path × pattern) worst case.
    */
  private[functions] def compileRule(
      value: String, isAllow: Boolean): CompiledRule = {
    val anchored = value.endsWith("$")
    val core = if (anchored) value.substring(0, value.length - 1) else value
    CompiledRule(if (anchored) core else core + "*", value.length, isAllow)
  }

  /** Iterative glob match (`*` = any octet sequence, all else
    * literal), full-string semantics: on mismatch past a `*`, retry
    * one position later from the LAST star — linear in practice,
    * O(n·m) worst, never exponential.
    */
  private[functions] def globMatch(pat: String, s: String): Boolean = {
    var p = 0
    var i = 0
    var star = -1
    var mark = 0
    while (i < s.length) {
      if (p < pat.length && pat.charAt(p) == '*') {
        star = p; mark = i; p += 1
      } else if (p < pat.length && pat.charAt(p) == s.charAt(i)) {
        p += 1; i += 1
      } else if (star >= 0) {
        p = star + 1; mark += 1; i = mark
      } else return false
    }
    while (p < pat.length && pat.charAt(p) == '*') p += 1
    p == pat.length
  }

  private def cachedRules(
      robots: String, agent: String): Array[CompiledRule] = {
    val bytes = robots.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val dig = sha256.get()
    dig.reset()
    // SHA-256: no practical collision construction exists (MD5 has
    // equal-length colliding pairs, so a length suffix is no guard).
    val key = java.util.Base64.getEncoder.encodeToString(dig.digest(bytes)) +
      "|" + agent
    val hit = cache.synchronized(cache.get(key))
    if (hit != null) return hit
    val rs = rulesFor(robots, agent)
      .map { case (value, isAllow) => compileRule(value, isAllow) }
    cache.synchronized(cache.put(key, rs))
    rs
  }

  def allowed(path: UTF8String, robots: UTF8String): Boolean =
    allowedFor(path, robots, "*")

  def allowedFor(path: UTF8String, robots: UTF8String,
      agent: String): Boolean = {
    val rs = cachedRules(robots.toString, agent)
    val p = path.toString
    var bestLen = -1
    var bestAllow = true
    var i = 0
    while (i < rs.length) {
      val r = rs(i)
      if ((r.precedence > bestLen ||
            (r.precedence == bestLen && r.isAllow && !bestAllow)) &&
          globMatch(r.glob, p)) {
        bestLen = r.precedence
        bestAllow = r.isAllow
      }
      i += 1
    }
    bestAllow
  }
}

/** `graft_robots_allowed(path, robots_txt[, agent])` → boolean via
  * [[RobotsKit.allowedFor]]; null if either side is null (no robots on
  * record is a POLICY question — coalesce at the call site). The agent
  * token is a PLAN-TIME literal (a crawl audit runs as one agent, not
  * per-row agents) — default `*`, the RFC wildcard group.
  */
case class RobotsAllowedExpr(left: Expression, right: Expression,
    agent: String = "*")
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_robots_allowed expects (STRING, STRING), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override def dataType: DataType =
    org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_robots_allowed"

  override def nullSafeEval(path: Any, robots: Any): Any =
    RobotsKit.allowedFor(path.asInstanceOf[UTF8String],
      robots.asInstanceOf[UTF8String], agent)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val agentRef = ctx.addReferenceObj("agent", agent, "java.lang.String")
    defineCodeGen(ctx, ev, (p, r) =>
      s"graft.functions.RobotsKit.allowedFor($p, $r, $agentRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RobotsAllowedExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_robots_delay(robots_txt, agent-literal)` → crawl-delay
  * seconds via [[RobotsKit.crawlDelayFor]] (§2.2.1 group selection,
  * largest across selected groups); null when the selected groups
  * carry none, or on null input.
  */
case class RobotsCrawlDelayExpr(child: Expression, agent: String)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_robots_delay expects STRING, got ${other.catalogString}")
  }
  override def dataType: DataType =
    org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_robots_delay"

  override def nullSafeEval(robots: Any): Any = {
    val d = RobotsKit.crawlDelayFor(robots.asInstanceOf[UTF8String], agent)
    if (d == null) null else d.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val agentRef = ctx.addReferenceObj("agent", agent, "java.lang.String")
    nullSafeCodeGen(ctx, ev, r => {
      val boxed = ctx.freshName("delay")
      s"""
         |java.lang.Double $boxed =
         |  graft.functions.RobotsKit.crawlDelayFor($r, $agentRef);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): RobotsCrawlDelayExpr = copy(child = newChild)
}

/** `graft_robots_sitemaps(robots_txt)` → count of `Sitemap:` lines
  * via [[RobotsKit.sitemapCount]] (file-wide, group-independent).
  */
case class RobotsSitemapCountExpr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_robots_sitemaps expects STRING, got ${other.catalogString}")
  }
  override def dataType: DataType =
    org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_robots_sitemaps"

  override def nullSafeEval(robots: Any): Any =
    RobotsKit.sitemapCount(robots.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, r =>
      s"graft.functions.RobotsKit.sitemapCount($r)")

  override protected def withNewChildInternal(
      newChild: Expression): RobotsSitemapCountExpr = copy(child = newChild)
}

/** `graft_robots_sitemap_urls(robots_txt)` → the `Sitemap:` line
  * values in file order via [[RobotsKit.sitemapUrls]].
  */
case class RobotsSitemapUrlsExpr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_robots_sitemap_urls expects STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types
    .ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_robots_sitemap_urls"

  override def nullSafeEval(robots: Any): Any =
    RobotsKit.sitemapUrlsArray(robots.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, r =>
      s"graft.functions.RobotsKit.sitemapUrlsArray($r)")

  override protected def withNewChildInternal(
      newChild: Expression): RobotsSitemapUrlsExpr = copy(child = newChild)
}
