package prodbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Wikid
import graft.wiki._

/** Rows of the parsed warehouse in the shape the checks compare. */
object Warehouse {
  def entities(db: Wikid.Db): Seq[(String, Long)] =
    db.entities.select("id").collect().map(r => r.getString(0) -> 1L).toSeq
  def aliases(db: Wikid.Db): Seq[(String, Long)] =
    db.aliases.select("alias", "entity_id", "count").collect()
      .map(r => s"${r.getString(0)}\t${r.getString(1)}" -> r.getLong(2)).toSeq
  def articles(db: Wikid.Db): Seq[(String, Long)] =
    db.articles.select("article_id", "entity_id").collect()
      .map(r => r.getString(0) -> r.getString(1).drop(1).toLong).toSeq
  def properties(db: Wikid.Db): Seq[(String, Long)] =
    db.properties.select("property_id", "from_entity_id", "to_entity_id").collect()
      .map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getString(2)}" -> 1L).toSeq

  /** Checks of the whole warehouse against the generator's record. */
  def checks(tag: String, db: Wikid.Db, exp: Gen.Expected): Seq[Checked] = Seq(
    Checked(s"$tag.entities", entities(db), Seq("Q0"),
      Checks.exact(exp.entities.keys.map(_ -> 1L).toMap)),
    Checked(s"$tag.aliases", aliases(db), Nil,
      Checks.exact(exp.aliasCounts.map { case ((a, e), c) => s"$a\t$e" -> c })),
    Checked(s"$tag.articles", articles(db), Nil,
      Checks.exact(exp.articles.map { case (a, e) => a -> e.drop(1).toLong })),
    Checked(s"$tag.properties", properties(db), Nil,
      Checks.exact(exp.properties.map { case (p, f, t) => s"$p\t$f\t$t" -> 1L }.toMap)))

  /** Latest observed-metric rows by name, from every finished query. */
  final class Observed extends QueryExecutionListener {
    val last = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        row.schema.fieldNames.zipWithIndex.foreach { case (field, i) =>
          if (!row.isNullAt(i)) last.put(s"$name.$field", row.getLong(i))
        }
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The product path, dumps to KB: `Wikid.parse`, then the increment
  * arrives and `Wikid.parse(resume = true)` picks it up, then
  * `Wikid.indexTexts`, then `Wikid.createKb` with its default embedder.
  * Each round parses into a fresh warehouse from a fresh copy of the base
  * dumps. The KB step runs over a small warehouse that set-up parses from a
  * dump of the same generator: at the default embedder's rate (tens of
  * entities per second) it could not share a round with a parse of useful
  * size otherwise.
  */
final class WikiIngest(spark: SparkSession, seed: Long) extends Workload {
  val name = "wiki_ingest"
  val shape = Gen.Shape(entities = 800, pages = 240, linksPerPage = 30,
    incrEntities = 80, incrPages = 24)
  val kbShape = Gen.Shape(entities = 120, pages = 20, linksPerPage = 20,
    incrEntities = 0, incrPages = 0, keptEntities = 25)
  private val kb = new KbStep(spark, seed)
  private var dumps: Gen.Dumps = _
  private var expBase: Gen.Expected = _
  private var expResume: Gen.Expected = _
  private var work: String = _
  private var n = 0
  private lazy val observed = {
    val o = new Warehouse.Observed
    spark.listenerManager.register(o)
    o
  }

  def setup(dir: String): Unit = {
    dumps = Gen.dumps(seed, shape, s"$dir/dumps")
    expBase = Gen.expected(dumps.base, None)
    expResume = Gen.expected(dumps.base, dumps.incr)
    work = dir
    kb.setup(s"$dir/kb", kbShape)
  }

  /** `indexTexts` and `createKb` over the small KB warehouse: the set-ups
    * already ran the parse paths, and a first `createKb` in a JVM spends
    * most of its time compiling the embedder's expression.
    */
  override def warmUp(): Unit = kb.warmUp()

  def round(ops: Ops, trace: Trace): Unit = {
    n += 1
    val r = s"$work/round-$n"
    Gen.place(dumps, "base", s"$r/dumps")
    val (wd, wp, wh) = (s"$r/dumps/wikidata", s"$r/dumps/wikipedia", s"$r/wh")
    val t0 = System.nanoTime()
    ops("parse")(Wikid.parse(spark, wd, wp, wh)).foreach { db =>
      ops.sample("lines_per_s", dumps.baseLines / ((System.nanoTime() - t0) / 1e9))
      Warehouse.checks("parse", db, expBase).foreach(ops.verify)
    }
    Sp.sweep(spark)
    if (trace.on) ablation(ops, trace, wd, wp, wh)
    Gen.place(dumps, "incr", s"$r/dumps")
    ops("resume")(trace.span("wikid.parse_resume", Seq(wh)) {
      Wikid.parse(spark, wd, wp, wh, resume = true)
    }).foreach { db =>
      // Known fault: the resume loses the new entities' property edges
      // and declared aliases (see README), so this operation is counted
      // as failed whenever its result differs from the record.
      val errs = Warehouse.checks("resume", db, expResume)
        .flatMap(c => c.check(c.got).map(e => s"${c.name}: $e"))
      if (errs.nonEmpty) ops.markFailed("resume", errs.mkString("; "))
    }
    Sp.sweep(spark)
    val db = Wikid.connect(spark, wh)
    ops("index")(trace.span("wikid.index_texts", Seq(s"$r/fts")) {
      Wikid.indexTexts(db, s"$r/fts")
    }).foreach { _ =>
      val e = expResume.entities.values.filter(_.enDescription.isDefined)
        .minBy(x => (x.token.hashCode ^ n, x.id))
      ops.verify(Checked("index.token_search",
        Wikid.searchEntities(db, s"$r/fts", Seq(e.token)).select("entity_id")
          .collect().map(_.getString(0) -> 1L).toSeq,
        Seq("Q0"), Checks.exact(Map(e.id -> 1L))))
    }
    Sp.sweep(spark)
    Fs.rm(r)
    kb.round(ops, trace, n)
  }

  /** The cumulative ablation: each span adds one layer to the previous
    * one in its chain, and writes to a no-op sink. Wikidata chain: decode,
    * source, entities job. Wikipedia chain: source, aliases job, articles
    * job (which also runs the aliases job, as `Wikid.parse` does).
    */
  private def ablation(ops: Ops, trace: Trace, wd: String, wp: String, wh: String): Unit = {
    observed
    val titleMap = Queries.titleMap(spark.read.parquet(s"$wh/en/entities"))
    val noSeed = spark.createDataFrame(Seq.empty[(String, String, Long)])
      .toDF("alias", "entity_id", "count")
    trace.span("wiki.decode")(Warehouse.noop(spark.read.text(wd)))
    trace.span("wiki.wikidata_source")(Warehouse.noop(WikidataSource.read(spark, wd)))
    trace.span("wiki.entities_job") {
      val r = EntitiesJob.run(WikidataSource.read(spark, wd), "en", singleScan = true)
      try Seq(r.entities, r.properties, r.aliases).foreach(Warehouse.noop)
      finally r.release()
    }
    trace.drain()
    ops.sample("kept_per_record",
      observed.last.get("graft.entities.persisted.n_persisted").toDouble /
        observed.last.get("graft.entities.records.n_records"))
    trace.span("wiki.wikipedia_source")(Warehouse.noop(WikipediaSource.read(spark, wp)))
    trace.span("wiki.aliases_job") {
      Warehouse.noop(AliasesJob.run(noSeed, WikipediaSource.read(spark, wp), titleMap))
    }
    trace.span("wiki.articles_job") {
      val pages = WikipediaSource.read(spark, wp)
      Warehouse.noop(AliasesJob.run(noSeed, pages, titleMap))
      val a = ArticlesJob.run(pages, titleMap, "en")
      Warehouse.noop(a.articles)
      Warehouse.noop(a.annotations)
    }
    trace.drain()
    ops.sample("persisted_per_page",
      observed.last.get("graft.articles.persisted.n_persisted").toDouble /
        observed.last.get("graft.articles.pages.n_pages"))
    Sp.sweep(spark)
  }

  def metrics(ops: Ops): Seq[(String, Double, String)] = Seq(
    ("parse_lines_per_s", Stats.median(ops.samplesOf("lines_per_s")), "lines/s"),
    ("resume_parse_s", ops.median("resume") / 1e3, "s"),
    ("index_texts_s", ops.median("index") / 1e3, "s"),
    ("kb_entities_per_s", Stats.median(ops.samplesOf("kb_entities_per_s")), "entities/s"))

  def layerCounts(ops: Ops, trace: Trace): Seq[(String, Double)] = Seq(
    "wiki.entities_job.kept_per_record" -> Stats.median(ops.samplesOf("kept_per_record")),
    "wiki.articles_job.persisted_per_page" -> Stats.median(ops.samplesOf("persisted_per_page")))
}

/** `Wikid.createKb` with its default embedder over a small warehouse
  * parsed at set-up, checked against the generator's record.
  */
final class KbStep(spark: SparkSession, seed: Long) {
  private var db: Wikid.Db = _
  private var exp: Gen.Expected = _
  private var work: String = _

  def setup(dir: String, shape: Gen.Shape): Unit = {
    val d = Gen.dumps(KbStep.dumpSeed(seed, shape), shape, s"$dir/dumps")
    Gen.place(d, "base", s"$dir/in")
    db = Wikid.parse(spark, s"$dir/in/wikidata", s"$dir/in/wikipedia", s"$dir/wh")
    Sp.sweep(spark)
    exp = Gen.expected(d.base, None)
    work = dir
  }

  def warmUp(): Unit = {
    Wikid.indexTexts(db, s"$work/warm-fts")
    Wikid.createKb(db, s"$work/warm-kb")
    Sp.sweep(spark)
    Fs.rm(s"$work/warm-fts"); Fs.rm(s"$work/warm-kb")
  }

  def round(ops: Ops, trace: Trace, n: Int): Unit = {
    val out = s"$work/kb-$n"
    if (trace.on) {
      val loaded = Queries.loadEntities(db.entities, db.articles, db.aliases)
      trace.span("wiki.queries.load_entities")(Warehouse.noop(loaded))
      trace.span("wiki.kb.entities")(Warehouse.noop(Kb.kbEntities(loaded)))
      trace.span("wiki.kb.aliases")(Warehouse.noop(Kb.kbAliases(db.aliases, loaded)))
      Sp.sweep(spark)
    }
    val t0 = System.nanoTime()
    ops("create_kb")(Wikid.createKb(db, out)).foreach { _ =>
      ops.sample("kb_entities_per_s", exp.entities.size / ((System.nanoTime() - t0) / 1e9))
      verify(ops, out)
    }
    Sp.sweep(spark)
    Fs.rm(out)
  }

  private def verify(ops: Ops, out: String): Unit = {
    val ents = spark.read.parquet(s"$out/kb_entities").collect()
    ops.verify(Checked("kb_entities.freq",
      ents.map(r => r.getString(0) -> r.getLong(1)).toSeq, Seq("Q0"),
      Checks.exact(exp.entities.keys.map(q => q -> exp.freqs.getOrElse(q, 0L)).toMap)))
    // 1 = unit norm or zero vector, 0 = anything else
    ops.verify(Checked("kb_entities.norm",
      ents.map { r =>
        val v = r.getSeq[Float](2)
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
        r.getString(0) -> (if (v.size == 64 && (norm == 0.0 || math.abs(norm - 1) < 1e-4)) 1L else 0L)
      }.toSeq, Seq("Q0"), Checks.exact(exp.entities.keys.map(_ -> 1L).toMap)))
    val al = spark.read.parquet(s"$out/kb_aliases").collect()
    val (pseudo, real) = al.partition { r =>
      val a = r.getString(0); a.startsWith("_Q") && a.endsWith("_") && r.getSeq[String](1).size == 1 &&
        a == s"_${r.getSeq[String](1).head}_"
    }
    ops.verify(Checked("kb_aliases.pseudo",
      pseudo.groupBy(_.getString(0)).map { case (a, rs) => a -> rs.length.toLong }.toSeq,
      Seq("_Q0_"), Checks.exact(exp.entities.keys.map(q => s"_${q}_" -> 1L).toMap)))
    // priors: exact bits of count / total per (alias, entity)
    val expPriors = exp.byAlias.flatMap { case (a, es) =>
      val tot = math.max(es.values.sum, 1L).toDouble
      es.map { case (e, c) => s"$a\t$e" -> java.lang.Double.doubleToLongBits(c.toDouble / tot) }
    }
    ops.verify(Checked("kb_aliases.priors",
      real.toSeq.flatMap { r =>
        r.getSeq[String](1).zip(r.getSeq[Double](2)).map { case (e, p) =>
          s"${r.getString(0)}\t$e" -> java.lang.Double.doubleToLongBits(p) }
      }, Nil, Checks.exact(expPriors)))
    ops.verify(Checked("kb_aliases.prior_sums",
      real.toSeq.map(r => r.getString(0) ->
        (if (math.abs(r.getSeq[Double](2).sum - 1.0) < 1e-9) 1L else 0L)),
      Nil, Checks.exact(exp.byAlias.keys.map(_ -> 1L).toMap)))
  }
}

object KbStep {
  /** Tokens of the texts `createKb` embeds, held in this band. */
  val TextTokens: Range = 560 to 680

  /** The seed of the KB dump for `seed`: the first of a seeded sequence of
    * candidates whose kept entities' texts to embed (English description,
    * else the article's wikitext, else the name, as `Kb` picks them) hold
    * [[TextTokens]] tokens. The default embedder's cost follows that count,
    * which with the plain seed swung fivefold (158 to 845 tokens over ten
    * seeds) as a handful of entities fell back to a long article; the band
    * holds it near the median and still lets the seed pick the content.
    */
  def dumpSeed(seed: Long, shape: Gen.Shape): Long =
    Iterator.from(0).take(500).map(j => seed * 1000 + 1 + j).find { s =>
      val base = Gen.corpora(s, shape)._1
      val arts = base.pages.filter(_.viable).map(p => p.title -> p.text).toMap
      TextTokens.contains(base.entities.filter(_.kept).map { e =>
        val t = e.enDescription.orElse(e.enTitle.flatMap(arts.get)).orElse(e.enTitle).getOrElse("")
        t.toLowerCase.split("\\W+").count(_.nonEmpty)
      }.sum)
    }.getOrElse(sys.error(s"no KB dump in ${TextTokens} tokens for seed $seed"))
}
