package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Html

/** The web-extraction tier (r16): [[Html]] block extraction on generic
  * hand-built markup (NOT the synthesized pages — the oracle already pins
  * those end-to-end), anchor-pair alignment, and the q206 AUC laws on
  * frames with known exact answers. */
class WebSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def page(html: String) =
    Seq(html).toDF("h").select(Html.extractPage(col("h")).as("e"))
      .select("e.n_blocks", "e.n_kept", "e.kept_chars", "e.total_chars",
        "e.extracted")
      .as[(Long, Long, Long, Long, String)].head()

  test("extractPage keeps long low-link blocks, drops boilerplate") {
    val (nb, nk, kc, tc, ex) = page(
      "<div><a href=\"/x\">one</a> <a href=\"/y\">two</a></div>" +
        "<p>this is the real content of the page</p>" +
        "<div>footer <a href=\"/z\">legal notice text</a></div>")
    // block 1: vis "one two" (7) — short AND anchor-heavy; block 2: kept;
    // block 3: vis "footer legal notice text" (24), anchors 17 -> 51 > 24
    assert(nb == 3 && nk == 1)
    assert(ex == "this is the real content of the page")
    assert(kc == 36 && tc == 7 + 36 + 24)
  }

  test("density boundary is anchor*3 <= vis (kept AT a third, dropped past)") {
    // vis = "aaaa bbbbbbbb" (13) with anchor "aaaa" (4): 12 <= 13 -> kept
    val kept = page("<p><a href=\"/\">aaaa</a> bbbbbbbb</p>")
    assert(kept._2 == 1 && kept._5 == "aaaa bbbbbbbb")
    // vis = "aaaaa bbbbbbbb" (14) with anchor "aaaaa" (5): 15 > 14 -> dropped
    val dropped = page("<p><a href=\"/\">aaaaa</a> bbbbbbbb</p>")
    assert(dropped._2 == 0 && dropped._5 == "")
  }

  test("minLen gate and pure-markup tails produce no blocks") {
    val (nb, nk, _, _, ex) = page("<p>tiny</p></body></html>")
    assert(nb == 1 && nk == 0 && ex == "")
    val empty = page("")
    assert(empty._1 == 0 && empty._4 == 0)
  }

  test("tag stripping collapses runs of whitespace between elements") {
    val (_, _, _, _, ex) =
      page("<p><b>bold</b> and <i>italic</i> words in one block</p>")
    assert(ex == "bold and italic words in one block")
  }

  private def mainContent(html: String) =
    Seq(html).toDF("h").select(Html.extractMainContent(col("h")).as("e"))
      .select("e.n_blocks", "e.n_kept", "e.kept_chars", "e.total_chars",
        "e.extracted")
      .as[(Long, Long, Long, Long, String)].head()

  test("extractMainContent: the stopword axis kills what link density " +
       "cannot — tag clouds, breadcrumbs, keyword footers (r19)") {
    // a tag cloud: zero anchors, 44 chars, ZERO stopwords — the
    // link-density rule keeps it, the jusText rule must not
    val cloud = "<div>spark kafka flink beam storm samza heron arrow</div>"
    // a breadcrumb trail: same failure class
    val crumb = "<div>home products engines analytics pricing</div>"
    // real prose: function words clear the 6% density bar
    val prose = "<p>this is the actual content of a page that we keep</p>"
    val (nb, nk, kc, _, ex) = mainContent(cloud + crumb + prose)
    assert(nb == 3 && nk == 1)
    assert(ex == "this is the actual content of a page that we keep")
    assert(kc == ex.length.toLong)
    // the SAME page under the link-density-only rule keeps all three —
    // the measurable q242 gap
    val old = page(cloud + crumb + prose)
    assert(old._2 == 3)
  }

  test("siteTemplateExtract: a long link-free prose banner repeated " +
       "site-wide is convicted by FREQUENCY — the case link density and " +
       "stopword density cannot see; unique content survives (r19)") {
    // the banner would pass q204 (no anchors, long) and q241 (stopword-
    // rich prose) on every page — only cross-page evidence catches it
    val banner = "<p>we are the leading provider of the best things in the world</p>"
    def pg(id: Long, body: String) = (id % 2).toString -> (id, banner +
      s"<p>unique article $id text that is long enough to keep</p>" + body)
    val pages = Seq(
      pg(0L, ""), pg(2L, ""), pg(4L, ""),
      pg(1L, ""), pg(3L, ""),
      // a block on only 1 of 3 pages of host "0": below half — kept
      (0L % 2).toString -> (6L, banner +
        "<p>unique article 6 text that is long enough to keep</p>" +
        "<p>rare block appearing once on this host today</p>"))
      .map { case (h, (id, html)) => (h, id, html) }
      .toDF("host", "doc_id", "html")
    val out = graft.ext.Crawl.siteTemplateExtract(pages)
      .select("doc_id", "n_blocks", "n_template", "extracted")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // every page: banner convicted, unique article kept
    out.values.foreach { case (id, _, nt, ex) =>
      assert(nt >= 1L, s"banner must be template on doc $id")
      assert(ex.contains(s"unique article $id text"), s"doc $id content lost")
      assert(!ex.contains("leading provider"), s"banner survived on doc $id")
    }
    // the 1-of-4-pages rare block is BELOW half on host 0 — kept
    assert(out(6L)._4.contains("rare block appearing once"))
    assert(out(6L)._2 == 3L && out(6L)._3 == 1L)
  }

  test("blockStatsLexCol: the stopword list is per-ROW data — selection " +
       "flips the keep decision; the empty list drops everything (r19)") {
    val prose = "<p>el texto que la gente lee y comparte aqui</p>"
    def keptUnder(list: Seq[String]): Long =
      Seq(prose).toDF("h")
        .select(Html.mainContentSummary(
          Html.blockStatsLexCol(col("h"), typedLit(list))).as("e"))
        .select("e.n_kept").as[Long].head()
    // the es list keeps Spanish prose; the en list drops the SAME text
    assert(keptUnder(Seq("el", "la", "de", "que", "y")) == 1L)
    assert(keptUnder(Html.DefaultStopwords) == 0L)
    // the empty list (unsegmented-language honesty): always drop
    assert(keptUnder(Seq.empty) == 0L)
    // literal-list and column forms agree on the same input
    val viaSeq = Seq(prose).toDF("h")
      .select(Html.extractMainContent(col("h")).as("e"))
      .select("e.n_kept").as[Long].head()
    assert(viaSeq == keptUnder(Html.DefaultStopwords))
  }

  test("extractMainContent boundary: stop*100 >= words*minStopPct is an " +
       "exact integer test; membership is case-insensitive") {
    // 17 words, 1 stopword ("the"): 100 >= 17*6=102 fails -> dropped
    val sixteen = (1 to 16).map(i => s"w$i").mkString(" ")
    assert(mainContent(s"<p>the $sixteen</p>")._2 == 0)
    // 16 words, 1 stopword: 100 >= 96 -> kept, AT the bar
    val fifteen = (1 to 15).map(i => s"w$i").mkString(" ")
    assert(mainContent(s"<p>the $fifteen</p>")._2 == 1)
    // uppercase stopword still counts (case-insensitive membership)
    assert(mainContent(s"<p>The $fifteen</p>")._2 == 1)
    // the link-density leg still applies: prose-dense but anchor-heavy
    assert(mainContent(
      "<p><a href=\"/\">the quick brown fox</a> is it</p>")._2 == 0)
    // and minLen still applies: "it is" is 100% stopwords but too short
    assert(mainContent("<p>it is</p>")._2 == 0)
  }

  test("anchorPairs aligns hrefs with their anchor texts in page order") {
    val got = Seq("<a href=\"/a\">first</a><p>x</p><a href=\"/b\">second</a>")
      .toDF("h")
      .select(explode(Html.anchorPairs(col("h"))).as("p"))
      .select("p.href", "p.anchor").as[(String, String)].collect().toSeq
    assert(got == Seq("/a" -> "first", "/b" -> "second"))
  }

  test("anchorPairs: a malformed anchor DROPS instead of shifting later " +
       "pairs, and href need not be the first attribute (r17 ADVICE)") {
    val html = "<a href=\"/a\">first</a>" +
      "<a name=\"x\">no href</a>" +                    // drops
      "<a rel=\"nofollow\" href=\"/b\">second</a>" +   // href not first
      "<a href=\"/c\"><b>nested</b></a>" +             // non-flat text: drops
      "<a href=\"/d\">last</a>"
    val got = Seq(html).toDF("h")
      .select(explode(Html.anchorPairs(col("h"))).as("p"))
      .select("p.href", "p.anchor").as[(String, String)].collect().toSeq
    assert(got == Seq("/a" -> "first", "/b" -> "second", "/d" -> "last"))
  }

  test("anchorPairs: an attribute whose NAME merely ends in 'href' " +
       "(data-href, xlink:href) is not the href (r17 ADVICE)") {
    val html = "<a data-href=\"/fake\">no real href</a>" + // drops
      "<a data-href=\"/fake\" href=\"/real\">kept</a>" +   // real href wins
      "<a href=\"/b\">plain</a>"
    val got = Seq(html).toDF("h")
      .select(explode(Html.anchorPairs(col("h"))).as("p"))
      .select("p.href", "p.anchor").as[(String, String)].collect().toSeq
    assert(got == Seq("/real" -> "kept", "/b" -> "plain"))
  }

  test("Robots: the two evaluation shapes agree (per-row vs distinct) and " +
       "every REP branch resolves correctly") {
    import graft.ext.Robots
    val cands = Seq(
      ("0", "/doc/5"), ("0", "/about"), ("0", "/contact"), // even site
      ("1", "/doc/9"), ("1", "/about"), ("1", "/contact"), // odd site
      ("1", "/doc/9"), ("0", "/doc/5")                     // repeats
    ).toDF("site", "path")
    val rules = Seq(
      ("0", "/doc/", 1), ("0", "/about", 0), ("0", "/", 0),
      ("1", "/doc/", 1), ("1", "/about", 0)
    ).toDF("r_site", "r_path", "r_allow")
    val distinct = Robots.resolveDistinct(cands, rules)
      .select("site", "path", "allowed").as[(String, String, Boolean)]
      .collect().toSet
    val perRow = Robots.verdictPerRow(cands.distinct(), rules,
        Seq("site", "path"))
      .select("site", "path", "allowed").as[(String, String, Boolean)]
      .collect().toSet
    assert(distinct == perRow)
    assert(distinct == Set(
      ("0", "/doc/5", true),   // longest match /doc/ beats the root block
      ("0", "/about", false),  // explicit block
      ("0", "/contact", false),// root block
      ("1", "/doc/9", true),
      ("1", "/about", false),
      ("1", "/contact", true)  // no match -> default allow
    ))
  }

  test("decodeEntities: hand-computed table — one-pass semantics, amp " +
       "last, double-escapes come out single-decoded, unknowns ride through") {
    val cases = Seq(
      ("&lt;p&gt;", "<p>"),
      ("&quot;q&quot;", "\"q\""),
      ("it&#39;s", "it's"),
      ("a &amp; b", "a & b"),
      ("&amp;lt;", "&lt;"), // double-escape: exactly ONE level decodes
      ("&amp;amp;", "&amp;"),
      ("&amp;&amp;", "&&"),
      ("&lt;a href=&quot;/x&quot;&gt;", "<a href=\"/x\">"),
      ("no refs at all", "no refs at all"),
      ("&unknown; &euro;", "&unknown; &euro;"), // out-of-scope names
      ("", ""),
      // numeric references (r18): decimal, hex both spellings, leading
      // zeros value-capped, C1 remap, astral, the U+FFFD classes,
      // invalid bodies and unterminated refs ride through
      ("caf&#233;", "café"),
      ("&#x41;&#X41;&#x0000041;", "AAA"),
      ("&#150; is &#x2013;", "– is –"), // C1 windows-1252 remap
      ("&#129; raw C1", "\u0081 raw C1"), // unmapped C1 passes through
      ("&#x1F600;", new String(Character.toChars(0x1F600))),
      ("&#0;&#xD800;&#xDFFF;&#x110000;&#1114112;", "�" * 5),
      ("&amp;#65; once", "&#65; once"), // one pass: never rescans output
      ("&#zz; &#; &#xG1; &#12", "&#zz; &#; &#xG1; &#12"),
      ("&#" + "0" * 40 + "65;", "&#" + "0" * 40 + "65;"), // > lookahead cap
      ("tail&#48", "tail&#48"))
    val got = cases.map(_._1).toDF("raw")
      .select(Html.decodeEntities(col("raw")).as("d"))
      .as[String].collect().toSeq
    got.zip(cases).foreach { case (g, (raw, want)) =>
      assert(g == want, s"raw=$raw")
    }
  }

  test("decodeEntities generative fuzz: random token sequences (literals, " +
       "named + numeric refs of every class, broken refs) decode to the " +
       "construction's expectation") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // token AST: rendered form and expected decode derive from the SAME
    // construction, never from re-parsing the rendered string
    val litGen = Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(('a' to 'z') ++ ('0' to '9') :+ ' ' :+ '#' :+ ';')))
      .map(cs => (cs.mkString, cs.mkString))
    val namedGen = Gen.oneOf(
      ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&amp;", "&"))
    val c1 = Map(0x80 -> 0x20AC, 0x85 -> 0x2026, 0x96 -> 0x2013,
      0x99 -> 0x2122, 0x9F -> 0x0178) // spot rows of the spec table
    val cpGen = Gen.frequency(
      6 -> Gen.chooseNum(1, 0xD7FF).retryUntil(v => v < 0x80 || v > 0x9F),
      2 -> Gen.chooseNum(0xE000, 0x10FFFF),
      2 -> Gen.oneOf(c1.keys.toSeq),
      1 -> Gen.oneOf(0, 0xD800, 0xDFFF, 0x110000, 0x7FFFFFFF))
    val numGen = for {
      cp <- cpGen
      hex <- Gen.oneOf(true, false)
      zeros <- Gen.chooseNum(0, 3)
    } yield {
      val digits = "0" * zeros + (if (hex) cp.toHexString else cp.toString)
      val r = "&#" + (if (hex) "x" else "") + digits + ";"
      val want =
        if (cp == 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) "�"
        else new String(Character.toChars(c1.getOrElse(cp, cp)))
      (r, want)
    }
    // ride-throughs, both sides literal — all SELF-TERMINATED (their ';'
    // is already consumed as the lookahead target and the body is
    // invalid), so no following literal token can complete them into a
    // real reference; unterminated tails are pinned in the hand table
    val brokenGen = Gen.oneOf(
      ("&#;", "&#;"), ("&#x;", "&#x;"), ("&#q7;", "&#q7;"),
      ("&nope;", "&nope;"), ("&;", "&;"))
    val tokGen = Gen.frequency(4 -> litGen, 2 -> numGen, 2 -> namedGen,
      1 -> brokenGen)
    val docGen = Gen.chooseNum(0, 12).flatMap(Gen.listOfN(_, tokGen))
    val docs = (0 until 200).map { i =>
      val toks = docGen.pureApply(Gen.Parameters.default, Seed(31800L + i))
      (i.toLong, toks.map(_._1).mkString, toks.map(_._2).mkString)
    }
    // vacuity guards
    assert(docs.count(_._2.contains("&#")) > 80)
    assert(docs.count(d => d._3.contains("�")) > 10)
    val got = docs.map(d => (d._1, d._2)).toDF("id", "raw")
      .select(col("id"), Html.decodeEntities(col("raw")).as("d"))
      .as[(Long, String)].collect().toMap
    docs.foreach { case (i, raw, want) =>
      assert(got(i) == want, s"seed ${31800 + i} raw=$raw")
    }
  }

  test("Robots.parseDirectives + selectGroup: group islands, comments, " +
       "multi-token groups, longest-prefix UA selection, fallbacks") {
    import graft.ext.Robots
    val txt = Seq(
      "# header comment",
      "User-agent: graftbot-images",
      "Disallow: /img/",
      "",
      "User-agent: webcrawler",
      "User-agent: GraftBot", // case-insensitive token
      "Disallow: /news/   # inline comment",
      "Crawl-delay: 7",
      "",
      "User-agent: *",
      "Disallow: /tmp/").mkString("\n")
    val dirs = Robots.parseDirectives(Seq(("0", txt)).toDF("site", "txt"))
    val byGid = dirs.select("gid", "name", "value")
      .as[(Long, String, String)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(byGid(1L) == Set("user-agent" -> "graftbot-images",
      "disallow" -> "/img/"))
    assert(byGid(2L) == Set("user-agent" -> "webcrawler",
      "user-agent" -> "GraftBot", "disallow" -> "/news/",
      "crawl-delay" -> "7"))
    assert(byGid(3L) == Set("user-agent" -> "*", "disallow" -> "/tmp/"))
    def gidFor(ua: String): Seq[Long] =
      Robots.selectGroup(dirs, ua).select("gid").as[Long].collect().toSeq.sorted
    assert(gidFor("graftbot") == Seq(2L)) // via the group's SECOND token
    assert(gidFor("graftbot-images") == Seq(1L)) // longest prefix wins
    assert(gidFor("otherbot") == Seq(3L)) // no named match -> *
    // no matching group at all: no row (allow-all)
    val noStar = dirs.filter(col("gid") =!= 3)
    assert(Robots.selectGroup(noStar, "otherbot").isEmpty)
    // RFC merge: TWO groups addressing the same token both apply — their
    // rules union (the spec's same-token merge, not a pick-one)
    val twoGroups = Robots.parseDirectives(Seq(("0", Seq(
      "User-agent: graftbot", "Disallow: /a/", "",
      "User-agent: other", "Disallow: /", "",
      "User-agent: graftbot", "Disallow: /b/").mkString("\n"))).toDF("site", "txt"))
    assert(Robots.selectGroup(twoGroups, "graftbot")
      .select("gid").as[Long].collect().toSeq.sorted == Seq(1L, 3L))
    // an EMPTY user-agent token never matches (startsWith("") is
    // vacuously true at specificity 0 — it must not tie and merge with
    // the `*` group; r17 ADVICE)
    val emptyTok = Robots.parseDirectives(Seq(("0", Seq(
      "User-agent:", "Disallow: /empty/", "",
      "User-agent: *", "Disallow: /tmp/").mkString("\n"))).toDF("site", "txt"))
    assert(Robots.selectGroup(emptyTok, "anybot")
      .select("gid").as[Long].collect().toSeq == Seq(2L))
  }

  test("Robots.parseDirectives enforces the RFC 9309 §2.5 500 KiB parse " +
       "cap: directives past it ignored, severed line dropped whole, cap " +
       "observable (r19)") {
    import graft.ext.Robots
    // a file whose head fits the cap, whose padding crosses it, and
    // whose TAIL carries a disallow that must NOT parse — plus a line
    // engineered to straddle the cap exactly (a prefix that would parse
    // as a directive if the severed line weren't dropped whole)
    val head = "User-agent: *\nDisallow: /tmp/\n"
    val padLine = "# pad pad pad pad pad pad pad\n"
    val padding = padLine * ((Robots.MaxParseChars - head.length) / padLine.length)
    val straddle = "Disallow: /straddles-the-cap-boundary/\n"
    val tail = "Disallow: /past-the-cap/\n"
    val big = head + padding + straddle + tail
    assert(big.length > Robots.MaxParseChars)
    val dirs = Robots.parseDirectives(
      Seq(("0", big), ("1", head)).toDF("site", "txt"))
    val bySite = dirs.select("site", "name", "value", "truncated")
      .as[(String, String, String, Boolean)].collect().toSeq
      .groupBy(_._1)
    // in-cap directives parse; nothing past the cap does
    assert(bySite("0").map(t => (t._2, t._3)).toSet ==
      Set("user-agent" -> "*", "disallow" -> "/tmp/"))
    assert(!bySite("0").exists(_._3.contains("past-the-cap")))
    assert(!bySite("0").exists(_._3.contains("straddles")))
    // the cap is observable per directive row; the small file is not cut
    assert(bySite("0").forall(_._4))
    assert(bySite("1").forall(!_._4))
    assert(bySite("1").map(t => (t._2, t._3)).toSet ==
      Set("user-agent" -> "*", "disallow" -> "/tmp/"))
    // exactly AT the cap: nothing is dropped, truncated is false
    val exact = head + padLine * ((Robots.MaxParseChars - head.length) / padLine.length)
    val atCap = exact + "x" * (Robots.MaxParseChars - exact.length - 1) + "\n"
    assert(atCap.length == Robots.MaxParseChars)
    val dirsAt = Robots.parseDirectives(Seq(("0", atCap)).toDF("site", "txt"))
    assert(dirsAt.select("truncated").as[Boolean].collect().forall(!_))
    assert(dirsAt.filter(col("value") === "/tmp/").count() == 1)
  }

  test("Robots wildcards: the REP spec's own pattern/path example table " +
       "resolves exactly (RFC 9309 §2.2.3 special characters)") {
    import graft.ext.Robots
    // (pattern, path, must-match?) — the match rows from the published
    // REP documentation tables: star runs, trailing-$ anchor, prefix
    // semantics, case sensitivity
    val table = Seq(
      ("/fish", "/fish", true),
      ("/fish", "/fishheads", true),
      ("/fish", "/fish/salmon.html", true),
      ("/fish", "/Fish.asp", false),
      ("/fish", "/catfish", false),
      ("/fish", "/?id=fish", false),
      ("/fish*", "/fish.php?id=anything", true),
      ("/fish*", "/fishheads/yummy.html", true),
      ("/fish*", "/toffish", false),
      ("/fish/", "/fish/", true),
      ("/fish/", "/fish/salmon.htm", true),
      ("/fish/", "/fish", false),
      ("/fish/", "/fish.html", false),
      ("/*.php", "/index.php", true),
      ("/*.php", "/folder/filename.php", true),
      ("/*.php", "/folder/filename.php?parameters", true),
      ("/*.php", "/filename.php/", true),
      ("/*.php", "/", false),
      ("/*.php", "/windows.PHP", false),
      ("/*.php$", "/filename.php", true),
      ("/*.php$", "/folder/filename.php", true),
      ("/*.php$", "/filename.php?parameters", false),
      ("/*.php$", "/filename.php/", false),
      ("/*.php$", "/filename.php5", false),
      ("/*.php$", "/windows.PHP", false),
      ("/fish*.php", "/fish.php", true),
      ("/fish*.php", "/fishheads/catfish.php?parameters", true),
      ("/fish*.php", "/Fish.PHP", false))
    // one site per table row; each row's single disallow rule either
    // matches (allowed=false) or doesn't (default allow)
    val cands = table.zipWithIndex
      .map { case ((_, path, _), i) => (i.toString, path) }
      .toDF("site", "path")
    val rules = table.zipWithIndex
      .map { case ((pat, _, _), i) => (i.toString, pat, 0) }
      .toDF("r_site", "r_path", "r_allow")
    val got = Robots.verdictPerRowWild(cands, rules, Seq("site", "path"))
      .select("site", "allowed").as[(String, Boolean)].collect()
      .map { case (s, a) => s.toInt -> a }.toMap
    table.zipWithIndex.foreach { case ((pat, path, matches), i) =>
      assert(got(i) == !matches, s"pattern=$pat path=$path")
    }
  }

  test("generative wildcard fuzz: compiled-regex matching ≡ a plain-Scala " +
       "glob matcher over random patterns and paths (dots literal, stars " +
       "greedy-with-backtracking, trailing $ anchors)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.ext.Robots
    val tokChars = Seq('a', 'b', '/', '.')
    val genCase = for {
      n <- Gen.chooseNum(1, 7)
      ts <- Gen.listOfN(n, Gen.frequency(
        5 -> Gen.oneOf(tokChars).map(_.toString), 2 -> Gen.const("*")))
      anchor <- Gen.oneOf("", "", "$")
      m <- Gen.chooseNum(0, 9)
      ps <- Gen.listOfN(m, Gen.oneOf(tokChars))
    } yield ("/" + ts.mkString + anchor, "/" + ps.mkString)
    // independent reference: a recursive glob matcher computed from the
    // PATTERN SEMANTICS, no regex anywhere
    def refMatch(pat: String, path: String): Boolean = {
      val anchored = pat.endsWith("$")
      val p = if (anchored) pat.dropRight(1) else pat
      def m(pi: Int, si: Int): Boolean =
        if (pi == p.length) !anchored || si == path.length
        else if (p(pi) == '*') (si to path.length).exists(k => m(pi + 1, k))
        else si < path.length && path(si) == p(pi) && m(pi + 1, si + 1)
      m(0, 0)
    }
    val cases = (0 until 200).map(i =>
      genCase.pureApply(Gen.Parameters.default, Seed(6200L + i)))
    val want = cases.map { case (pat, path) => refMatch(pat, path) }
    assert(want.count(identity) > 20 && want.count(!_) > 20, "vacuous mix")
    val cands = cases.zipWithIndex
      .map { case ((_, path), i) => (i.toString, path) }.toDF("site", "path")
    val rules = cases.zipWithIndex
      .map { case ((pat, _), i) => (i.toString, pat, 0) }
      .toDF("r_site", "r_path", "r_allow")
    val got = Robots.verdictPerRowWild(cands, rules, Seq("site", "path"))
      .select("site", "allowed").as[(String, Boolean)].collect()
      .map { case (s, a) => s.toInt -> a }.toMap
    cases.zipWithIndex.foreach { case ((pat, path), i) =>
      assert(got(i) == !want(i), s"seed ${6200 + i} pat=$pat path=$path")
    }
  }

  test("Robots wildcards: on wildcard-free rules the wildcard tier is " +
       "EXACTLY the prefix tier (q209's rule table, verdicts identical)") {
    import graft.ext.Robots
    val cands = (0 until 40).map(i =>
      ((i % 2).toString, Seq("/a/" + i, "/a/x" + i, "/tmp/" + i, "/b/p",
        "/c/" + i)(i % 5))).toDF("site", "path")
    val rules = Seq(
      ("0", "/a/", 1), ("0", "/a/x", 0), ("0", "/tmp/", 0),
      ("0", "/b/p", 1), ("0", "/b/p", 0), ("0", "/", 0),
      ("1", "/a/", 1), ("1", "/a/x", 0), ("1", "/tmp/", 0),
      ("1", "/b/p", 1), ("1", "/b/p", 0)
    ).toDF("r_site", "r_path", "r_allow")
    val prefix = Robots.verdictPerRow(cands, rules, Seq("site", "path"))
      .select("site", "path", "allowed", "matched_path")
      .as[(String, String, Boolean, Option[String])].collect().toSet
    val wild = Robots.verdictPerRowWild(cands, rules, Seq("site", "path"))
      .select("site", "path", "allowed", "matched_path")
      .as[(String, String, Boolean, Option[String])].collect().toSet
    assert(prefix == wild)
  }

  // --- q206 AUC laws (exact integers, tiny frames through the real query
  // shape: groupBy thr -> cumulative windows -> rank-sum) -------------

  private def auc(rows: Seq[(Long, Int)]): Long = {
    // replicate q206's math over (margin, label01) via the same SQL forms
    val df = rows.toDF("thr", "pos")
    val g = df.groupBy("thr")
      .agg(sum("pos").cast("long").as("p"),
        (count(lit(1)) - sum("pos")).cast("long").as("n"))
    import org.apache.spark.sql.expressions.Window
    val wkey = substring(col("thr").cast("string"), 0, 0)
    val ord = Window.partitionBy(wkey).orderBy(col("thr").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(wkey)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("cn", sum(col("n")).over(ord))
      .withColumn("tp", sum(col("p")).over(whole))
      .withColumn("tn", sum(col("n")).over(whole))
      .agg(sum(expr("CAST(p AS DECIMAL(38,0)) * (2 * (tn - cn) + n)")).as("u2"),
        max("tp").as("tp"), max("tn").as("tn"))
      .select(expr("CAST(CAST(u2 * 10000 AS DECIMAL(38,0)) div " +
        "(2 * CAST(tp AS DECIMAL(38,0)) * tn) AS BIGINT)"))
      .as[Long].head()
  }

  test("AUC: perfect separation = 10000, inverted = 0") {
    val perfect = Seq((10L, 1), (9L, 1), (2L, 0), (1L, 0))
    assert(auc(perfect) == 10000L)
    val inverted = Seq((10L, 0), (9L, 0), (2L, 1), (1L, 1))
    assert(auc(inverted) == 0L)
  }

  test("AUC: all-tied scores = exactly 5000 (half credit, no floats)") {
    assert(auc(Seq((5L, 1), (5L, 1), (5L, 0), (5L, 0), (5L, 0))) == 5000L)
  }

  test("AUC property: the rank-sum formula equals brute pair counting on " +
       "random tie-heavy frames") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // margins in a tiny range force heavy ties — the half-credit path
    val genRows: Gen[List[(Long, Int)]] = for {
      n <- Gen.chooseNum(2, 40)
      rows <- Gen.listOfN(n, for {
        m <- Gen.chooseNum(-3L, 3L)
        p <- Gen.oneOf(0, 1)
      } yield (m, p))
    } yield rows
    var checked = 0
    (0 until 40).foreach { i =>
      val rows = genRows.pureApply(Gen.Parameters.default, Seed(5500L + i))
      val pos = rows.filter(_._2 == 1).map(_._1)
      val neg = rows.filter(_._2 == 0).map(_._1)
      if (pos.nonEmpty && neg.nonEmpty) {
        checked += 1
        val u2 = (for { p <- pos; n <- neg } yield
          if (p > n) 2L else if (p == n) 1L else 0L).sum
        val want = u2 * 10000L / (2L * pos.size * neg.size)
        assert(auc(rows) == want, s"seed ${5500 + i} rows=$rows")
      }
    }
    assert(checked >= 25, s"vacuity: only $checked frames had both classes")
  }

  test("AUC: hand-computed mixed case") {
    // pairs (pos, neg): (4,1)> (4,3)> (2,1)> (2,3)< + tie? none
    // U = 3 of 4 concordant -> 7500
    assert(auc(Seq((4L, 1), (2L, 1), (3L, 0), (1L, 0))) == 7500L)
  }

  test("groupedBlobs emits every group once, negative ids included: SQL " +
    "div and Scala / both truncate toward zero") {
    import graft.queries.WebQueries._
    val ids = -20L to 20L
    val got = ids.map(i => (i, s"m$i")).toDS().repartition(4)
      .groupedBlobs(8L) { (g, it) => (g, it.map(_._1).sorted.toSeq) }
      .collect().toSeq
    assert(got.map(_._1).distinct.size == got.size, s"a group split: $got")
    val want = ids.groupBy(_ / 8L).map { case (g, m) => (g, m.sorted) }
    assert(got.sortBy(_._1) == want.toSeq.sortBy(_._1))
    assert(got.find(_._1 == 0L).get._2 == (-7L to 7L))
  }
}
