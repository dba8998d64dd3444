package prodbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream

/** Synthetic Wikidata / Wikipedia dumps, shaped like the real ones, plus
  * the generator's own record of what it planted. Every expected count the
  * checks use comes from that record, never from the program under test.
  *
  * Wikidata side: one JSON entity per line inside `[` / `]` wrapper lines,
  * trailing commas. Entities carry a heavy-tailed number of languages in
  * labels, descriptions, aliases and sitelinks. Claims include excluded
  * targets (the entity is dropped) and deprecated excluded targets (kept).
  * Property entities and items without an `enwiki` sitelink are dropped.
  *
  * Wikipedia side: a MediaWiki XML export with link-dense wikitext,
  * redirects, meta pages, disambiguation pages, dev pages (page id ending
  * in 3, whose anchors are not counted) and titles that do not resolve.
  */
object Gen {

  /** Synthetic language pool: `en` first, then 2-letter codes. */
  val langs: Vector[String] = {
    val az = ('a' to 'z').map(_.toString)
    val codes = for (a <- az; b <- az) yield a + b
    "en" +: codes.filter(_ != "en").take(299).toVector
  }

  /** QIDs the program's claim filter excludes (a subset of its default
    * exclude list, restated here so the expectation does not read it).
    */
  val excludedTargets: Vector[String] =
    Vector("Q4167836", "Q4167410", "Q13406463", "Q11266439", "Q17907810")
  val plainTargets: Vector[String] =
    Vector("Q5", "Q515", "Q6256", "Q486972", "Q7725634", "Q11424", "Q215380")
  val otherProps: Vector[String] = Vector("P17", "P50", "P131", "P106", "P27")

  private val syll = Vector("ka", "lo", "mi", "ren", "tas", "vor", "bel", "dun",
    "er", "fi", "gra", "hol", "is", "jen", "kor", "lum", "mar", "nel", "ost",
    "pra", "qui", "ros", "sel", "tor", "ur", "val", "wen", "xan", "yor", "zel")

  /** Word `i` of the shared vocabulary: lower-case letters only. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb ++= syll(x % syll.length); x /= syll.length } while (x > 0)
    sb.toString
  }

  def cap(s: String): String = s.head.toUpper.toString + s.tail

  /** Zipf(s) sampler over ranks 0 until n (inverse CDF table). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(rng: scala.util.Random): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  final case class Claim(prop: String, target: Option[String], rank: String)

  final case class WdEntity(
      id: String, isItem: Boolean, enTitle: Option[String],
      enLabel: Option[String], enDescription: Option[String],
      enAliases: Seq[String], claims: Seq[Claim], langs: Seq[String],
      hasSitelinks: Boolean, token: String) {
    /** The entity passes the type, claim and sitelink gates. */
    def kept: Boolean = isItem && enTitle.isDefined && !claims.exists(c =>
      (c.prop == "P31" || c.prop == "P279") && c.rank != "deprecated" &&
        c.target.exists(excludedTargets.contains))
    def qnum: Long = id.drop(1).toLong
  }

  /** A wiki link as written: `[[title]]` when `anchor` is None. */
  final case class Link(title: String, anchor: Option[String]) {
    def alias: String = anchor.getOrElse(title)
    def markup: String = anchor.fold(s"[[$title]]")(a => s"[[$title|$a]]")
  }

  /** Page kinds: only `article` pages are viable articles; every kind's
    * anchors count towards aliases unless the page is a dev page.
    */
  final case class WpPage(id: Long, title: String, kind: String,
                          links: Seq[Link], text: String) {
    def isDev: Boolean = id.toString.endsWith("3")
    def viable: Boolean = kind == "article"
  }

  final case class Corpus(entities: Vector[WdEntity], pages: Vector[WpPage])

  /** A per-entity language count from a truncated discrete Pareto
    * (shape 1.1, scale 2) at uniform `u` in (0, 1]: median about 4, a long
    * tail up to all 300.
    */
  def langCount(u: Double): Int =
    math.min(langs.size, math.max(1, (2.0 / math.pow(u, 1 / 1.1)).toInt))

  def langCount(rng: scala.util.Random): Int = langCount(1.0 - rng.nextDouble())

  /** `n` entities with ids from `firstId` on. Titles are unique across
    * `titles` (shared with earlier calls so increments stay distinct).
    */
  def entities(rng: scala.util.Random, n: Int, firstId: Long,
               titles: mutable.Set[String], vocab: Zipf,
               aliasPool: Vector[String]): Vector[WdEntity] = {
    // stratified: entity i draws its `u` from its own 1/n-wide stratum, so
    // the corpus's size (and its few all-language entities) barely
    // depends on the seed, while each entity's count keeps the Pareto law
    val strata = rng.shuffle((0 until n).toVector)
    (0 until n).map { i =>
      val id = firstId + i
      val isItem = rng.nextDouble() >= 0.05
      val hasSitelinks = rng.nextDouble() >= 0.08
      val hasEnwiki = isItem && hasSitelinks && rng.nextDouble() < 0.8
      val nl = langCount(1.0 - (strata(i) + rng.nextDouble()) / n)
      val others = {
        val chosen = mutable.LinkedHashSet.empty[String]
        var tries = 0
        while (chosen.size < nl - 1 && tries < 4 * nl) {
          val k = 1 + (math.pow(rng.nextDouble(), 2) * (langs.size - 1)).toInt
          chosen += langs(k); tries += 1
        }
        var k = 1
        while (chosen.size < nl - 1) { chosen += langs(k); k += 1 }
        chosen.toSeq
      }
      val ls = "en" +: others
      val title =
        if (!hasEnwiki) None
        else {
          var t = ""
          do {
            t = (0 until 2 + rng.nextInt(2))
              .map(_ => cap(word(vocab.sample(rng)))).mkString(" ")
          } while (!titles.add(t))
          Some(t)
        }
      val token = "zq" + java.lang.Long.toString(id, 36)
      val desc =
        if (rng.nextDouble() < 0.85)
          Some(((0 until 3 + rng.nextInt(6)).map(_ => word(vocab.sample(rng)))
            :+ token).mkString(" "))
        else None
      val label = title.orElse(Some(cap(word(vocab.sample(rng)))))
      val aliases = {
        val k = if (rng.nextDouble() < 0.6) rng.nextInt(4) else 0
        (0 until k).map(_ => aliasPool(rng.nextInt(aliasPool.size))).distinct
      }
      val claims = {
        val p31 = {
          val u = rng.nextDouble()
          val tgt =
            if (u < 0.10) excludedTargets(rng.nextInt(excludedTargets.size))
            else plainTargets(rng.nextInt(plainTargets.size))
          val dep = if (u < 0.03) "deprecated" else "normal"
          val extra =
            if (rng.nextDouble() < 0.05)
              Seq(Claim("P31", Some(excludedTargets(0)), "deprecated"))
            else Nil
          Claim("P31", Some(tgt), dep) +: extra
        }
        val p279 =
          if (rng.nextDouble() < 0.2)
            Seq(Claim("P279", Some(plainTargets(rng.nextInt(plainTargets.size))), "normal"))
          else Nil
        val rest = (0 until rng.nextInt(4)).map { _ =>
          val p = otherProps(rng.nextInt(otherProps.size))
          // a snak with no datavalue ("somevalue") carries no target
          val t = if (rng.nextDouble() < 0.1) None
                  else Some("Q" + (1 + rng.nextInt(900000)))
          Claim(p, t, if (rng.nextDouble() < 0.05) "deprecated" else "normal")
        }
        p31 ++ p279 ++ rest
      }
      WdEntity(if (isItem) s"Q$id" else s"P$id", isItem, title, label, desc,
        aliases, claims, ls, hasSitelinks, token)
    }.toVector
  }

  private def q(s: String): String = "\"" + s + "\""

  /** One dump line (without the trailing comma). */
  def jsonLine(e: WdEntity, rng: scala.util.Random): String = {
    val sb = new StringBuilder(512)
    sb ++= s"""{"type": ${q(if (e.isItem) "item" else "property")}, "id": ${q(e.id)}, "claims": {"""
    sb ++= e.claims.groupBy(_.prop).toSeq.sortBy(_._1).map { case (p, cs) =>
      q(p) + ": [" + cs.map { c =>
        val dv = c.target.fold("")(t =>
          s""", "datavalue": {"value": {"entity-type": "item", "numeric-id": ${t.drop(1)}, "id": ${q(t)}}, "type": "wikibase-entityid"}""")
        s"""{"mainsnak": {"snaktype": ${q(if (c.target.isDefined) "value" else "somevalue")}, "property": ${q(p)}$dv}, "type": "statement", "rank": ${q(c.rank)}}"""
      }.mkString(", ") + "]"
    }.mkString(", ")
    sb ++= "}"
    if (e.hasSitelinks) {
      sb ++= ", \"sitelinks\": {"
      val links = e.langs.flatMap { l =>
        if (l == "en") e.enTitle.map(t => "enwiki" -> t)
        else if (rng.nextDouble() < 0.5) Some(s"${l}wiki" -> cap(word(rng.nextInt(5000))))
        else None
      }
      sb ++= links.map { case (site, t) =>
        s"""${q(site)}: {"site": ${q(site)}, "title": ${q(t)}, "badges": []}""" }
        .mkString(", ")
      sb ++= "}"
    }
    def perLang(f: String => Option[String]): String =
      e.langs.flatMap(l => f(l).map(v =>
        s"""${q(l)}: {"language": ${q(l)}, "value": ${q(v)}}""")).mkString(", ")
    sb ++= ", \"labels\": {" + perLang(l =>
      if (l == "en") e.enLabel else Some(word(rng.nextInt(5000)) + " " + l)) + "}"
    sb ++= ", \"descriptions\": {" + perLang(l =>
      if (l == "en") e.enDescription
      else if (rng.nextDouble() < 0.7) Some(word(rng.nextInt(5000)) + " " + word(rng.nextInt(5000)))
      else None) + "}"
    sb ++= ", \"aliases\": {" + e.langs.flatMap { l =>
      val vs =
        if (l == "en") e.enAliases
        else if (rng.nextDouble() < 0.3) Seq(word(rng.nextInt(5000)))
        else Nil
      if (vs.isEmpty) None
      else Some(q(l) + ": [" + vs.map(v =>
        s"""{"language": ${q(l)}, "value": ${q(v)}}""").mkString(", ") + "]")
    }.mkString(", ") + "}"
    sb ++= "}"
    sb.toString
  }

  private val metaTitles = Vector("Category:", "Template:", "Wikipedia:", "Help:", "Portal:")

  /** Wikitext around `links`: sentences, bold, headings, a template, a
    * reference, a file link, category links and an interwiki link. Links
    * never sit inside templates or references.
    */
  private def wikitext(rng: scala.util.Random, title: String, links: Seq[Link],
                       vocab: Zipf): String = {
    val sb = new StringBuilder
    sb ++= s"'''$title''' is a ${word(vocab.sample(rng))} ${word(vocab.sample(rng))}. "
    sb ++= s"{{Infobox thing|name=$title|kind=${word(vocab.sample(rng))}}}\n"
    links.zipWithIndex.foreach { case (l, i) =>
      (0 until 2 + rng.nextInt(6)).foreach(_ => sb ++= word(vocab.sample(rng)) += ' ')
      sb ++= l.markup += ' '
      if (i % 7 == 6) sb ++= "<ref>Some source, page 12</ref>. "
      if (i % 11 == 10) sb ++= s"\n== ${cap(word(vocab.sample(rng)))} ==\n"
    }
    sb ++= s"\n[[File:${cap(word(vocab.sample(rng)))}.jpg|thumb|A caption]] "
    sb ++= s"[[Category:${cap(word(vocab.sample(rng)))} things]] [[de:${cap(word(vocab.sample(rng)))}]]"
    sb.toString
  }

  /** Pages for `n` page slots. `resolvable` are titles of kept entities
    * the pages may describe and link to; `unresolved` titles match no
    * kept entity. Page ids are unique and increasing from `firstId`.
    */
  def pages(rng: scala.util.Random, n: Int, firstId: Long,
            articleTitles: Vector[String], linkTargets: Vector[String],
            aliasOf: Map[String, Seq[String]], unresolved: Vector[String],
            linksPerPage: Int, vocab: Zipf): Vector[WpPage] = {
    var id = firstId
    val zipfT = new Zipf(math.max(1, linkTargets.size), 0.9)
    def link(): Link = {
      if (rng.nextDouble() < 0.08 || linkTargets.isEmpty)
        return Link(unresolved(rng.nextInt(unresolved.size)), None)
      val t = linkTargets(zipfT.sample(rng))
      val u = rng.nextDouble()
      val anchor =
        if (u < 0.35) None
        else if (u < 0.7 && aliasOf.getOrElse(t, Nil).nonEmpty) {
          val as = aliasOf(t); Some(as(rng.nextInt(as.size)))
        } else Some(word(vocab.sample(rng)) + " " + word(vocab.sample(rng)))
      Link(t, anchor)
    }
    (0 until n).map { i =>
      id += 1 + rng.nextInt(9)
      val u = rng.nextDouble()
      val (kind, title) =
        if (i < articleTitles.size && u < 0.86) ("article", articleTitles(i))
        else if (u < 0.90) ("redirect", "Redirect " + cap(word(rng.nextInt(100000))) + s" $id")
        else if (u < 0.94) ("meta", metaTitles(rng.nextInt(metaTitles.size)) + cap(word(rng.nextInt(5000))) + s" $id")
        else if (u < 0.97) ("disambiguation", cap(word(rng.nextInt(5000))) + s" disambiguation $id")
        else ("unresolved", unresolved(rng.nextInt(unresolved.size)) + s" $id")
      kind match {
        case "redirect" =>
          val l = Link(if (linkTargets.nonEmpty) linkTargets(zipfT.sample(rng))
                       else unresolved(0), None)
          WpPage(id, title, kind, Seq(l), s"#REDIRECT ${l.markup}")
        case "disambiguation" =>
          val ls = Seq.fill(3)(link())
          WpPage(id, title, kind, ls,
            s"'''$title''' may refer to:\n" + ls.map("* " + _.markup).mkString("\n") +
              "\n{{disambiguation}}")
        case _ =>
          val ls = Seq.fill(linksPerPage / 2 + rng.nextInt(linksPerPage))(link())
          WpPage(id, title, kind, ls, wikitext(rng, title, ls, vocab))
      }
    }.toVector
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  def pageXml(p: WpPage): String = {
    val redirect =
      if (p.kind == "redirect") s"""\n    <redirect title="${xmlEscape(p.links.head.title)}" />""" else ""
    val ns = if (p.kind == "meta") 14 else 0
    s"""  <page>
       |    <title>${xmlEscape(p.title)}</title>
       |    <ns>$ns</ns>
       |    <id>${p.id}</id>$redirect
       |    <revision>
       |      <id>${p.id * 10 + 7}</id>
       |      <timestamp>2024-01-01T00:00:00Z</timestamp>
       |      <contributor>
       |        <username>Bot</username>
       |        <id>42</id>
       |      </contributor>
       |      <model>wikitext</model>
       |      <format>text/x-wiki</format>
       |      <text bytes="${p.text.length}" xml:space="preserve">${xmlEscape(p.text)}</text>
       |      <sha1>0000000000000000000000000000000</sha1>
       |    </revision>
       |  </page>
       |""".stripMargin
  }

  /** Writes `chunks` into one bz2 file; returns the number of text lines. */
  def writeBz2(f: File, chunks: Iterator[String]): Long = {
    f.getParentFile.mkdirs()
    val out = new BufferedWriter(new OutputStreamWriter(
      new BZip2CompressorOutputStream(new FileOutputStream(f), 5), UTF_8), 1 << 16)
    var lines = 0L
    try chunks.foreach { c =>
      out.write(c)
      var i = c.indexOf('\n')
      while (i >= 0) { lines += 1; i = c.indexOf('\n', i + 1) }
    } finally out.close()
    lines
  }

  val xmlHead: String =
    """<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" version="0.10" xml:lang="en">
      |  <siteinfo>
      |    <sitename>Wikipedia</sitename>
      |    <dbname>enwiki</dbname>
      |  </siteinfo>
      |""".stripMargin

  /** The expected warehouse after a parse: entity rows, alias counts,
    * article ids, property edges.
    */
  final case class Expected(
      entities: Map[String, WdEntity],
      aliasCounts: Map[(String, String), Long],
      articles: Map[String, String],
      properties: Set[(String, String, String)]) {
    lazy val freqs: Map[String, Long] =
      aliasCounts.toSeq.groupBy(_._1._2).map { case (e, cs) => e -> cs.map(_._2).sum }
    lazy val byAlias: Map[String, Map[String, Long]] =
      aliasCounts.toSeq.groupBy(_._1._1).map { case (a, cs) =>
        a -> cs.map { case ((_, e), c) => e -> c }.toMap }
  }

  /** Link counts of the non-dev `pages`, resolved against `titleMap`. */
  private def linkCounts(pages: Seq[WpPage], titleMap: Map[String, String])
      : Map[(String, String), Long] = {
    val m = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    for (p <- pages if !p.isDev; l <- p.links; e <- titleMap.get(l.title))
      m((l.alias, e)) += 1
    m.toMap
  }

  private def plus(a: Map[(String, String), Long], b: Map[(String, String), Long]) =
    b.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }

  private def declared(ents: Seq[WdEntity]): Map[(String, String), Long] =
    ents.flatMap(e => e.enAliases.map(a => (a, e.id))).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }

  /** Expected tables after `parse(base)`, then, when `incr` is given, after
    * `parse(resume = true)` over base plus increment. Resume semantics: the
    * anchors of pages already counted are never re-counted, so base pages
    * resolve against the base title map only; increment pages resolve
    * against the full one. Articles are every viable page whose title
    * resolves in the final title map.
    */
  def expected(base: Corpus, incr: Option[Corpus]): Expected = {
    val baseKept = base.entities.filter(_.kept)
    val incrKept = incr.toSeq.flatMap(_.entities.filter(_.kept))
    val allKept = baseKept ++ incrKept
    val baseMap = baseKept.map(e => e.enTitle.get -> e.id).toMap
    val fullMap = allKept.map(e => e.enTitle.get -> e.id).toMap
    val aliases = plus(plus(declared(allKept), linkCounts(base.pages, baseMap)),
      linkCounts(incr.toSeq.flatMap(_.pages), fullMap))
    val allPages = base.pages ++ incr.toSeq.flatMap(_.pages)
    val articles = allPages.filter(_.viable).flatMap(p =>
      fullMap.get(p.title).map(e => p.id.toString -> e)).toMap
    val props = allKept.flatMap(e => e.claims.flatMap(c =>
      c.target.map(t => (c.prop, e.id, t)))).toSet
    Expected(allKept.map(e => e.id -> e).toMap, aliases, articles, props)
  }

  /** Sizes of one generated dump pair. With `keptEntities > 0` the base
    * entity list is cut right after its `keptEntities`-th kept entity, so
    * the parsed warehouse holds exactly that many entities on every seed.
    */
  final case class Shape(entities: Int, pages: Int, linksPerPage: Int,
                         incrEntities: Int, incrPages: Int, keptEntities: Int = 0)

  /** A generated dump pair on disk, with its record. `dir/base` holds the
    * base part files and `dir/incr` the increment's, both laid out as
    * `wikidata/part-*.json.bz2` and `wikipedia/part-*.xml.bz2`.
    */
  final case class Dumps(dir: String, base: Corpus, incr: Option[Corpus],
                         baseLines: Long)

  /** The base corpus and, with `shape.incrEntities > 0`, the increment. */
  def corpora(seed: Long, shape: Shape): (Corpus, Option[Corpus]) = {
    val rng = new scala.util.Random(seed)
    val vocab = new Zipf(4000, 1.05)
    val aliasPool = (0 until 600).map(i => word(vocab.sample(rng)) + " " + word(i)).toVector
    val titles = mutable.Set.empty[String]
    val baseEnts = {
      val all = entities(rng, shape.entities, 1000, titles, vocab, aliasPool)
      if (shape.keptEntities <= 0) all
      else {
        val cut = all.indices.filter(i => all(i).kept).drop(shape.keptEntities - 1).headOption
        all.take(cut.getOrElse(sys.error("too few kept entities for the shape")) + 1)
      }
    }
    val incrEnts = entities(rng, shape.incrEntities, 1000 + shape.entities + 10,
      titles, vocab, aliasPool)
    val unresolved = (0 until 200).map(i => "Nowhere " + cap(word(i + 7000))).toVector
    // excluded and property entities' titles never resolve either
    val droppedTitles = baseEnts.filter(e => !e.kept).flatMap(_.enTitle)
    def aliasOf(es: Seq[WdEntity]) = es.filter(_.kept)
      .map(e => e.enTitle.get -> e.enAliases).toMap
    val baseKept = baseEnts.filter(_.kept)
    val incrKept = incrEnts.filter(_.kept)
    // base pages: mostly base titles; a few are increment titles, which
    // become articles only once the increment's entities arrive
    val baseArticleTitles = rng.shuffle(baseKept.flatMap(_.enTitle) ++
      incrKept.take(incrKept.size / 4).flatMap(_.enTitle) ++ droppedTitles.take(20))
    val basePages = pages(rng, shape.pages, 100, baseArticleTitles.toVector,
      (baseKept ++ incrKept.take(3)).flatMap(_.enTitle).toVector,
      aliasOf(baseEnts ++ incrEnts), unresolved, shape.linksPerPage, vocab)
    val baseCorpus = Corpus(baseEnts, basePages)
    val incrCorpus =
      if (shape.incrEntities == 0) None
      else {
        val taken = basePages.map(_.title).toSet
        val incrArticleTitles = rng.shuffle(
          (incrKept.flatMap(_.enTitle) ++ baseKept.flatMap(_.enTitle))
            .filterNot(taken)).toVector
        Some(Corpus(incrEnts, pages(rng, shape.incrPages, basePages.last.id + 100,
          incrArticleTitles, (baseKept ++ incrKept).flatMap(_.enTitle).toVector,
          aliasOf(baseEnts ++ incrEnts), unresolved, shape.linksPerPage, vocab)))
      }
    (baseCorpus, incrCorpus)
  }

  /** Writes the corpora of `seed` as dump part files under `dir`. */
  def dumps(seed: Long, shape: Shape, dir: String): Dumps = {
    val (baseCorpus, incrCorpus) = corpora(seed, shape)
    val (baseEnts, basePages) = (baseCorpus.entities, baseCorpus.pages)
    val lineRng = new scala.util.Random(seed ^ 0x5eedL)
    val wd = s"$dir/base/wikidata"; val wp = s"$dir/base/wikipedia"
    val half = (baseEnts.size + 1) / 2
    var lines = writeBz2(new File(s"$wd/part-0000.json.bz2"),
      Iterator("[\n") ++ baseEnts.take(half).iterator.map(e => jsonLine(e, lineRng) + ",\n"))
    lines += writeBz2(new File(s"$wd/part-0001.json.bz2"),
      baseEnts.drop(half).iterator.map(e => jsonLine(e, lineRng) + ",\n") ++
        (if (incrCorpus.isEmpty) Iterator("]\n") else Iterator.empty))
    val hp = (basePages.size + 1) / 2
    lines += writeBz2(new File(s"$wp/part-0000.xml.bz2"),
      Iterator(xmlHead) ++ basePages.take(hp).iterator.map(pageXml) ++ Iterator("</mediawiki>\n"))
    lines += writeBz2(new File(s"$wp/part-0001.xml.bz2"),
      Iterator(xmlHead) ++ basePages.drop(hp).iterator.map(pageXml) ++ Iterator("</mediawiki>\n"))
    incrCorpus.foreach { c =>
      writeBz2(new File(s"$dir/incr/wikidata/part-0002.json.bz2"),
        c.entities.iterator.map(e => jsonLine(e, lineRng) + ",\n") ++ Iterator("]\n"))
      writeBz2(new File(s"$dir/incr/wikipedia/part-0002.xml.bz2"),
        Iterator(xmlHead) ++ c.pages.iterator.map(pageXml) ++ Iterator("</mediawiki>\n"))
    }
    Dumps(dir, baseCorpus, incrCorpus, lines)
  }

  /** Copies the part files of `from` (`base` or `incr`) into `to`'s two
    * dump directories.
    */
  def place(d: Dumps, from: String, to: String): Unit =
    for (side <- Seq("wikidata", "wikipedia")) {
      val src = new File(s"${d.dir}/$from/$side")
      val dst = new File(s"$to/$side")
      dst.mkdirs()
      for (f <- Option(src.listFiles()).getOrElse(Array.empty[File]))
        java.nio.file.Files.copy(f.toPath, new File(dst, f.getName).toPath)
    }
}
