package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** registered_domain processor (libbeat/processors/registered_domain/
  * registered_domain.go — the reference resolves eTLD+1 through
  * golang.org/x/net/publicsuffix): the Public Suffix List algorithm over a
  * compiled rule set.
  *
  * Rule grammar per publicsuffix.org/list (the PSL data is public-domain):
  *   - exact rules ("com", "co.uk"),
  *   - wildcard rules ("*.ck" — the `*` matches exactly one label),
  *   - exception rules ("!www.ck" — wins over any wildcard/exact match; the
  *     public suffix is the rule minus its leftmost label),
  *   - the implicit default rule "*" when nothing matches.
  * Prevailing rule = the exception rule if any matches, else the matching
  * rule with the most labels. Registered domain = public suffix plus one
  * preceding label; a domain that IS a public suffix has no registered
  * domain (the reference's EffectiveTLDPlusOne error → event untouched →
  * NULL here).
  *
  * The DEFAULT rule set is [[PslKernel.FullRules]] — the full upstream list
  * bundled as a resource (like the reference bakes its generated table);
  * deployments can still override via the `rules` parameter or
  * [[PslKernel.loadRules]]. Rules are compiled ONCE at plan time into hash
  * sets; per-row cost is one label split plus O(#labels) hash probes.
  */
object PslKernel {

  /** Full Public Suffix List snapshot bundled as a repo resource
    * (publicsuffix.org's public_suffix_list.dat, MPL-2.0 public data; the
    * sandbox has no egress, so a distro snapshot is checked in the same way
    * the reference bakes the generated table into publicsuffix/table.go).
    * Parsed once per JVM; ~9.5k rules. This is the DEFAULT rule set. */
    lazy val FullRules: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_list.dat")
    require(in != null, "bundled /graft/public_suffix_list.dat missing")
    try parseRuleList(new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
  }

  /** Parse publicsuffix.org list-format content into rule specs: one rule
    * per line, `//` comment lines and blanks skipped, everything after the
    * first whitespace ignored (the upstream file's inline annotations).
    * Both the ICANN and PRIVATE sections are kept — same behavior as the
    * reference's generated table (publicsuffix/table.go bakes the whole
    * list). */
  def parseRuleList(content: String): Seq[String] =
    content.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("//"))
      .map(l => l.takeWhile(!_.isWhitespace))
      .map(_.toLowerCase(java.util.Locale.ROOT))
      .map(toAscii)
      .toSeq

  /** IDN rules in the upstream list are written in unicode ("中国", "рф");
    * log-pipeline domains arrive in punycode ASCII (the form the reference's
    * generated table stores), so convert rule labels label-wise with
    * java.net.IDN — "*" and "!" markers pass through untouched. */
  private def toAscii(rule: String): String = {
    var i = 0
    val n = rule.length
    var ascii = true
    while (ascii && i < n) { if (rule.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) rule
    else try {
      val (bang, body) =
        if (rule.startsWith("!")) ("!", rule.substring(1)) else ("", rule)
      bang + body.split('.').map { l =>
        if (l == "*" || l.forall(_ < 0x80)) l
        else java.net.IDN.toASCII(l).toLowerCase(java.util.Locale.ROOT)
      }.mkString(".")
    } catch { case _: IllegalArgumentException => rule }
  }

  /** Load the full downloaded PSL (≈9k rules) from a local file at PLAN
    * time — the compiled set ships to executors once inside the expression,
    * never per row. */
  def loadRules(path: String): Seq[String] =
    parseRuleList(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Hash-compiled rule set. Lookup walks the domain's label suffixes
    * right-to-left — O(#labels) hash probes per row, INDEPENDENT of rule
    * count (the naive per-rule tail-compare is O(#rules) per row: unusable
    * with the real ~9k-rule list at 100 TB). */
  final class Compiled(ruleSpecs: Seq[String]) extends Serializable {
    private val exceptions = new java.util.HashSet[String]() // "www.ck" (no '!')
    private val exacts = new java.util.HashSet[String]()     // "co.uk"
    private val wildcardParents = new java.util.HashSet[String]() // "ck" for "*.ck"
    ruleSpecs.foreach { r =>
      if (r.startsWith("!")) exceptions.add(r.substring(1))
      else if (r.startsWith("*.")) wildcardParents.add(r.substring(2))
      else if (r != "*") exacts.add(r)
    }

    /** number of labels in the public suffix of `labels`, per the PSL
      * algorithm (≥1 — the default rule "*" always matches). Exception rules
      * prevail; otherwise the matching rule with the most labels wins, which
      * right-to-left suffix growth finds naturally. */
    def suffixLabels(labels: Array[String]): Int = {
      val n = labels.length
      var best = 1 // default rule "*"
      var suffix: String = null
      var i = n - 1
      while (i >= 0) {
        suffix = if (suffix == null) labels(i) else labels(i) + "." + suffix
        val len = n - i
        // an exception rule's public suffix is the rule minus its leftmost
        // label (prevails over everything)
        if (exceptions.contains(suffix)) return len - 1
        if (exacts.contains(suffix)) { if (len > best) best = len }
        // "*.parent": the wildcard consumes labels(i-1), one more label left
        if (i > 0 && wildcardParents.contains(suffix) && len + 1 > best)
          best = len + 1
        i -= 1
      }
      best
    }

    /** eTLD+1, or null when the domain is malformed or is itself a public
      * suffix. Deliberately MORE LENIENT than the reference on input shape:
      * publicsuffix.EffectiveTLDPlusOne performs no normalization and errors
      * on empty labels, while this lowercases and tolerates exactly one
      * trailing dot (FQDN form); any remaining empty label still nulls. */
    def registeredDomain(domainRaw: String): String = {
      if (domainRaw == null || domainRaw.isEmpty) return null
      // Locale.ROOT: Go strings.ToLower is locale-independent; the default
      // JVM locale would fold 'I' to dotless 'ı' under Turkish locales
      var domain = domainRaw.toLowerCase(java.util.Locale.ROOT)
      if (domain.charAt(domain.length - 1) == '.')
        domain = domain.substring(0, domain.length - 1)
      if (domain.isEmpty || domain.charAt(0) == '.' || domain.contains("..") ||
          domain.charAt(domain.length - 1) == '.')
        return null
      val labels = domain.split('.')
      val k = suffixLabels(labels)
      if (labels.length <= k) return null // the domain IS a public suffix
      labels.slice(labels.length - k - 1, labels.length).mkString(".")
    }
  }
}

/** `registered_domain(domain)` → eTLD+1 string; NULL when the domain is
  * malformed or is itself a public suffix. */
case class RegisteredDomain(child: Expression,
                            rules: Seq[String] = PslKernel.FullRules)
    extends UnaryKernelExpression[UTF8String] {
  @transient private lazy val compiled = new PslKernel.Compiled(rules)

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "registered_domain"

  def evalInput(input: UTF8String): UTF8String = {
    val rd = compiled.registeredDomain(input.toString)
    if (rd == null) null else UTF8String.fromString(rd)
  }

  override protected def withNewChildInternal(newChild: Expression): RegisteredDomain =
    copy(child = newChild)
}
