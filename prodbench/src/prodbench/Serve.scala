package prodbench

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Wikid
import graft.ext.Similarity
import graft.fts.FtsStore
import graft.wiki.Kb

/** The read side: one client in a closed loop of lookups over a warehouse,
  * an FTS store and an IVF-PQ index. Keys are drawn with Zipf skew.
  */
final class KbServe(spark: SparkSession, seed: Long) {
  import spark.implicits._
  val shape = Gen.Shape(entities = 2400, pages = 1200, linksPerPage = 16,
    incrEntities = 0, incrPages = 0)
  val K = 10

  private var db: Wikid.Db = _
  private var fts: String = _
  private var ann: String = _
  private var idx: Similarity.IvfPqIndex = _
  private var exp: Gen.Expected = _
  private var qids: Vector[String] = _
  private var withDesc: Vector[Gen.WdEntity] = _
  private var aliasKeys: Vector[String] = _
  private var vectors: Map[Long, Array[Double]] = _
  private var rng: scala.util.Random = _
  private var zipfQ: Gen.Zipf = _
  private var zipfD: Gen.Zipf = _
  private var zipfA: Gen.Zipf = _
  private var nQuery = 0

  def setup(dir: String): Unit = {
    val (base, _) = Gen.corpora(seed, shape)
    exp = Gen.expected(base, None)
    val wh = s"$dir/wh"
    val kept = exp.entities.values.toSeq.sortBy(_.qnum)
    kept.map(e => (e.id, null: String, e.enTitle.get, e.enDescription.orNull, e.enLabel.orNull))
      .toDF("id", "claims", "name", "description", "label")
      .write.parquet(s"$wh/en/entities")
    val pagesById = base.pages.map(p => p.id.toString -> p).toMap
    exp.articles.toSeq.sorted.map { case (aid, e) =>
      val p = pagesById(aid)
      (e, aid, p.title, p.text.replaceAll("[\\[\\]|{}'=<>/]", " ").take(1000))
    }.toDF("entity_id", "article_id", "title", "content")
      .write.parquet(s"$wh/en/articles")
    exp.aliasCounts.toSeq.sorted.map { case ((a, e), c) => (a, e, c) }
      .toDF("alias", "entity_id", "count").write.parquet(s"$wh/en/aliases")
    db = Wikid.connect(spark, wh)
    System.err.println(s"[prodbench] read side: ${kept.size} entities, " +
      s"${exp.aliasCounts.size} alias rows, ${exp.articles.size} articles")
    fts = s"$dir/fts"
    // the entities half of `Wikid.indexTexts`: the store searchEntities reads
    FtsStore.create(db.entities.select("id", "name", "description", "label"), "id",
      Seq("name", "description", "label"), s"$fts/entities")
    val embedded = new Kb.BatchEmbedder(new Kb.BatchEmbedder.Hashing(64))
      .embed(db.entities.select(col("id"), coalesce(col("description"), col("name")).as("text")),
        "text", "id")
      .select(substring(col("id"), 2, 12).cast("long").as("vec_id"), col("vector").as("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    vectors = embedded.toMap
    ann = s"$dir/ann"
    idx = Similarity.writeIvfPqIndex(embedded.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding"), ann)
    Sp.sweep(spark)
    // Zipf ranks over a seeded permutation of the keys
    rng = new scala.util.Random(seed * 31 + 7)
    qids = rng.shuffle(kept.map(_.id)).toVector
    withDesc = rng.shuffle(kept.filter(_.enDescription.isDefined)).toVector
    aliasKeys = rng.shuffle(exp.byAlias.keys.toSeq.sorted.filter(_.length >= 4)).toVector
    zipfQ = new Gen.Zipf(qids.size, 1.0)
    zipfD = new Gen.Zipf(withDesc.size, 1.0)
    zipfA = new Gen.Zipf(aliasKeys.size, 1.0)
  }

  private def draw[T](v: Vector[T], z: Gen.Zipf, n: Int): Seq[T] = {
    val out = mutable.LinkedHashSet.empty[T]
    while (out.size < n) out += v(z.sample(rng))
    out.toSeq
  }

  def round(ops: Ops, trace: Trace): Unit = {
    entityLookup(ops, trace); Sp.sweep(spark)
    aliasPriors(ops, trace); Sp.sweep(spark)
    textSearch(ops, trace); Sp.sweep(spark)
    aliasResolve(ops, trace); Sp.sweep(spark)
    vectorTopK(ops, trace); Sp.sweep(spark)
  }

  private def entityLookup(ops: Ops, trace: Trace): Unit = {
    val qs = draw(qids, zipfQ, 3)
    ops("entity_lookup")(trace.span("wikid.load_entities") {
      Wikid.loadEntities(db, qs).select("qid", "count").collect()
    }).foreach(rows => ops.verify(Checked("entity_lookup",
      rows.map(r => r.getString(0) -> r.getLong(1)).toSeq, qids.take(50),
      Checks.exact(qs.map(q => q -> exp.freqs.getOrElse(q, 0L)).toMap))))
  }

  private def aliasPriors(ops: Ops, trace: Trace): Unit = {
    val as = draw(aliasKeys, zipfA, 3)
    ops("alias_priors")(trace.span("wikid.alias_priors") {
      Wikid.aliasPriors(db).filter(col("alias").isin(as: _*)).collect()
    }).foreach { rows =>
      val expected = as.flatMap { a =>
        val es = exp.byAlias(a); val tot = math.max(es.values.sum, 1L).toDouble
        es.map { case (e, c) => s"$a\t$e" -> java.lang.Double.doubleToLongBits(c / tot) }
      }.toMap
      ops.verify(Checked("alias_priors",
        rows.toSeq.flatMap(r => r.getSeq[String](1).zip(r.getSeq[Double](2)).map {
          case (e, p) => s"${r.getString(0)}\t$e" -> java.lang.Double.doubleToLongBits(p) }),
        Nil, Checks.exact(expected)))
    }
  }

  private def textSearch(ops: Ops, trace: Trace): Unit = {
    val e = draw(withDesc, zipfD, 1).head
    ops("text_search")(trace.span("wikid.search_entities") {
      Wikid.searchEntities(db, fts, Seq(e.token)).select("entity_id").collect()
    }).foreach(rows => ops.verify(Checked("text_search",
      rows.map(_.getString(0) -> 1L).toSeq, qids.take(50), Checks.exact(Map(e.id -> 1L)))))
    if (trace.on) {
      Sp.sweep(spark)
      ops.sample("postings", FtsStore.postingsForTerms(spark, s"$fts/entities", Seq(e.token)).count().toDouble)
    }
  }

  /** One substituted letter: the mention is at distance 1 from its alias
    * and is not itself an alias.
    */
  private def typo(a: String): String = {
    var m = a
    while (m == a || exp.byAlias.contains(m)) {
      val i = rng.nextInt(a.length)
      val c = ('a' + rng.nextInt(26)).toChar
      m = a.substring(0, i) + c + a.substring(i + 1)
    }
    m
  }

  private def aliasResolve(ops: Ops, trace: Trace): Unit = {
    val planted = draw(aliasKeys, zipfA, 3).map(a => typo(a) -> a)
    val mentions = planted.map(_._1).distinct
    ops("alias_resolve")(trace.span("wikid.resolve_aliases") {
      Wikid.resolveAliases(db, mentions.toDF("mention"), "mention", 1)
        .select("mention", "alias", "entity_id", "count", "dist").collect()
    }).foreach { rows =>
      // every alias within distance 1 of each mention, in plain Scala
      val expected = for {
        m <- mentions; (a, es) <- exp.byAlias.toSeq
        d = Levenshtein(m, a) if d <= 1; (e, c) <- es
      } yield s"$m\t$a\t$e\t$d" -> c
      ops.verify(Checked("alias_resolve",
        rows.map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getString(2)}\t${r.getInt(4)}" ->
          r.getLong(3)).toSeq, Nil, Checks.exact(expected.toMap)))
      ops.check(planted.forall { case (m, a) =>
        rows.exists(r => r.getString(0) == m && r.getString(1) == a && r.getInt(4) == 1) },
        "a one-typo mention did not resolve to its alias at distance 1")
    }
  }

  private def vectorTopK(ops: Ops, trace: Trace): Unit = {
    nQuery += 1
    val target = vectors(draw(qids, zipfQ, 1).head.drop(1).toLong)
    val q = target.map(x => x + rng.nextGaussian() * 0.05)
    val qid = 900000000L + nQuery
    val obs = if (trace.on) Some(Observation(s"adc$nQuery")) else None
    val queries = Seq((qid, q.toSeq)).toDF("vec_id", "embedding")
    ops("vector_topk")(trace.span("ext.similarity.ivfpq_probe") {
      Similarity.ivfPqTopKFromIndex(spark, ann, idx, queries, K, adcObs = obs)
        .select("corpus_id", "cosine", "rank").collect()
    }).foreach { rows =>
      val exact = vectors.toSeq.map { case (id, v) => (id, cosine(q, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(K)
      ops.sample("recall", rows.count(r => exact.exists(_._1 == r.getLong(0))).toDouble / K)
      val reported = rows.map(r => r.getLong(0).toString -> r.getDouble(1)).toMap
      ops.verify(Checked("vector_topk",
        rows.map(r => r.getLong(0).toString -> r.getInt(2).toLong).toSeq,
        exact.map(_._1.toString) ++ vectors.keys.toSeq.sorted.take(2 * K).map(_.toString),
        got => topKCheck(q, reported, got)))
      obs.foreach(o => ops.sample("adc_rows", scala.concurrent.Await.result(o.future,
        scala.concurrent.duration.Duration(60, "s")).getAs[Long]("adc_rows").toDouble))
    }
  }

  /** Ranks 1..K once each; every reported cosine equals the exact cosine
    * of that neighbour; cosines do not increase with rank.
    */
  private def topKCheck(q: Array[Double], reported: Map[String, Double],
                        got: Seq[(String, Long)]): Option[String] = {
    if (got.map(_._2).sorted != (1L to K.toLong)) return Some(s"ranks ${got.map(_._2).sorted}")
    for ((id, _) <- got) {
      val v = id.toLongOption.flatMap(vectors.get)
      if (v.isEmpty || !reported.contains(id)) return Some(s"neighbour $id is not a scored corpus row")
      val c = cosine(q, v.get)
      if (math.abs(c - reported(id)) > 1e-9) return Some(s"neighbour $id cosine ${reported(id)} != $c")
    }
    val byRank = got.sortBy(_._2).map(g => cosine(q, vectors(g._1.toLong)))
    if (byRank.sliding(2).exists(p => p.size == 2 && p(1) > p(0) + 1e-12))
      return Some("cosines increase with rank")
    None
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  def metrics(ops: Ops): Seq[(String, Double, String)] = Seq(
    ("entity_lookup_ms", ops.median("entity_lookup"), "ms"),
    ("alias_priors_ms", ops.median("alias_priors"), "ms"),
    ("text_search_ms", ops.median("text_search"), "ms"),
    ("alias_resolve_ms", ops.median("alias_resolve"), "ms"),
    ("vector_topk_ms", ops.median("vector_topk"), "ms"))

  def layerCounts(ops: Ops, trace: Trace): Seq[(String, Double)] = Seq(
    "fts.search.postings_per_query" -> Stats.median(ops.samplesOf("postings")),
    "ext.similarity.adc_rows_per_query" -> Stats.median(ops.samplesOf("adc_rows")),
    "ext.similarity.recall_at_10" -> ops.samplesOf("recall").sum / ops.samplesOf("recall").size)
}

object Levenshtein {
  def apply(a: String, b: String): Int = {
    val prev = Array.tabulate(b.length + 1)(identity)
    val cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      System.arraycopy(cur, 0, prev, 0, cur.length)
    }
    prev(b.length)
  }
}
