package graft

import org.apache.spark.sql.functions._
import graft.functions._

/** registered_domain: the PSL algorithm (exact / wildcard / exception /
  * default rules) against the publicsuffix.org checkPublicSuffix-style
  * vectors that fall inside the embedded rule subset. */
class PslSpec extends SparkSpec {
  import spark.implicits._

  private def rd(domains: Seq[String]): Seq[Option[String]] =
    domains.toDF("d")
      .select(registered_domain(col("d")).as("rd"))
      .collect().map(r => Option(r.getString(0))).toSeq

  test("exact rules: eTLD+1 for com / co.uk family") {
    assert(rd(Seq("example.com", "a.example.com", "b.a.example.com")) ===
      Seq(Some("example.com"), Some("example.com"), Some("example.com")))
    assert(rd(Seq("svc.co.uk", "www.svc.co.uk")) ===
      Seq(Some("svc.co.uk"), Some("svc.co.uk")))
    // longest matching rule prevails: co.uk (2 labels) beats uk (1)
    assert(rd(Seq("uk", "co.uk")) === Seq(None, None))
  }

  test("private-domain rules: github.io / s3.amazonaws.com") {
    assert(rd(Seq("app.github.io", "x.app.github.io")) ===
      Seq(Some("app.github.io"), Some("app.github.io")))
    assert(rd(Seq("bucket.s3.amazonaws.com")) === Seq(Some("bucket.s3.amazonaws.com")))
    // amazonaws.com itself resolves under the plain com rule
    assert(rd(Seq("amazonaws.com")) === Seq(Some("amazonaws.com")))
  }

  test("wildcard *.ck and exception !www.ck") {
    // *.ck: any single label under ck is a public suffix
    assert(rd(Seq("foo.ck")) === Seq(None))
    assert(rd(Seq("b.foo.ck", "c.b.foo.ck")) ===
      Seq(Some("b.foo.ck"), Some("b.foo.ck")))
    // exception: www.ck is NOT a public suffix — its suffix is plain ck
    assert(rd(Seq("www.ck", "sub.www.ck")) ===
      Seq(Some("www.ck"), Some("www.ck")))
  }

  test("default rule *: unknown TLD behaves as a 1-label suffix") {
    assert(rd(Seq("example.unknowntld", "a.example.unknowntld")) ===
      Seq(Some("example.unknowntld"), Some("example.unknowntld")))
    assert(rd(Seq("unknowntld")) === Seq(None))
  }

  test("normalization and malformed inputs") {
    // case-insensitive + FQDN trailing dot (reference normalizes both)
    assert(rd(Seq("Example.COM", "example.com.")) ===
      Seq(Some("example.com"), Some("example.com")))
    // a bare public suffix, empty labels, leading dot → NULL
    assert(rd(Seq("com", ".com", "a..com")) === Seq(None, None, None))
    // only ONE trailing dot is tolerated: a dot remaining after the single
    // FQDN strip is an empty label, not normalized away
    assert(rd(Seq("example.com..", "example.com...")) === Seq(None, None))
  }

  test("custom rule list overrides the embedded subset") {
    val out = Seq("x.internal.corp", "internal.corp")
      .toDF("d")
      .select(registered_domain(col("d"), Seq("corp", "internal.corp")).as("rd"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(out === Seq(Some("x.internal.corp"), None))
  }

  test("file loader: list-format parsing (comments, sections, annotations)") {
    val path = getClass.getResource("/public_suffix_fixture.dat").getPath
    val rules = PslKernel.loadRules(path)
    assert(rules.length > 400)
    assert(!rules.exists(_.startsWith("//")) && !rules.exists(_.isEmpty))
    assert(rules.contains("co.uk") && rules.contains("*.ck") &&
      rules.contains("!www.ck") && rules.contains("xn--p1ai"))
  }

  test("file-based registered_domain: real-list rules incl. punycode, " +
    "multi-label wildcards, and exception families") {
    val path = getClass.getResource("/public_suffix_fixture.dat").getPath
    def rdf(domains: Seq[String]): Seq[Option[String]] =
      domains.toDF("d")
        .select(registered_domain_from_file(col("d"), path).as("rd"))
        .collect().map(r => Option(r.getString(0))).toSeq
    // punycode TLDs are exact string labels
    assert(rdf(Seq("xn--e1afmkfd.xn--p1ai", "www.xn--e1afmkfd.xn--p1ai")) ===
      Seq(Some("xn--e1afmkfd.xn--p1ai"), Some("xn--e1afmkfd.xn--p1ai")))
    assert(rdf(Seq("xn--55qx5d.xn--j6w193g")) === Seq(None)) // IS a suffix
    // 3-label private rule + multi-label wildcard (*.compute.amazonaws.com)
    assert(rdf(Seq("bucket.s3.amazonaws.com")) === Seq(Some("bucket.s3.amazonaws.com")))
    assert(rdf(Seq("vm.ec2-1-2-3-4.compute.amazonaws.com")) ===
      Seq(Some("vm.ec2-1-2-3-4.compute.amazonaws.com")))
    assert(rdf(Seq("ec2-1-2-3-4.compute.amazonaws.com")) === Seq(None))
    // jp city wildcards with exception (!city.kawasaki.jp)
    assert(rdf(Seq("a.b.kawasaki.jp", "city.kawasaki.jp", "x.city.kawasaki.jp")) ===
      Seq(Some("a.b.kawasaki.jp"), Some("city.kawasaki.jp"), Some("city.kawasaki.jp")))
    // 4-label exact rule (schools.nsw.edu.au)
    assert(rdf(Seq("x.schools.nsw.edu.au")) === Seq(Some("x.schools.nsw.edu.au")))
    assert(rdf(Seq("schools.nsw.edu.au")) === Seq(None))
  }

  test("codegen and interpreted paths agree") {
    val domains = Seq("a.example.com", "www.ck", "b.foo.ck", "x.github.io",
      "svc.co.uk", "com", "weird..x", "Example.COM.")
    val viaCodegen = codegenParity("registered_domain") {
      domains.toDF("d").select(registered_domain(col("d")).as("rd"))
    }
    val compiled = new PslKernel.Compiled(PslKernel.FullRules)
    val direct = domains.map(d => s"[${compiled.registeredDomain(d)}]").sorted
    assert(viaCodegen === direct)
  }

  test("bundled full PSL is the default: ~9.5k rules, unicode → punycode") {
    assert(PslKernel.FullRules.size > 9000)
    // unicode rules ("рф", "中国") are stored punycode like the reference's
    // generated table
    assert(PslKernel.FullRules.contains("xn--p1ai"))
    assert(PslKernel.FullRules.contains("xn--fiqs8s"))
    assert(!PslKernel.FullRules.exists(_.exists(_ >= 0x80)))
  }

  test("default registered_domain resolves real TLD families out of the box") {
    // multi-label ccTLD exact rules
    assert(rd(Seq("a.b.com.br", "example.co.il", "x.example.gov.uk")) ===
      Seq(Some("b.com.br"), Some("example.co.il"), Some("example.gov.uk")))
    // jp geographic wildcard + exception (*.kawasaki.jp / !city.kawasaki.jp)
    assert(rd(Seq("x.y.kawasaki.jp", "foo.city.kawasaki.jp", "y.kawasaki.jp")) ===
      Seq(Some("x.y.kawasaki.jp"), Some("city.kawasaki.jp"), None))
    // punycode IDN TLDs resolve against the converted rules
    assert(rd(Seq("xn--e1afmkfd.xn--p1ai", "foo.xn--fiqs8s", "xn--p1ai")) ===
      Seq(Some("xn--e1afmkfd.xn--p1ai"), Some("foo.xn--fiqs8s"), None))
    // private-section rule from the full list: herokuapp.com is the suffix
    assert(rd(Seq("herokuapp.com")) === Seq(None))
    assert(rd(Seq("myapp.herokuapp.com", "x.myapp.herokuapp.com")) ===
      Seq(Some("myapp.herokuapp.com"), Some("myapp.herokuapp.com")))
  }
}
