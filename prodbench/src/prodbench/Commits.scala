package prodbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalog.{MaterializedView, VersionedTable}
import graft.ext.Dedup
import graft.fts.FtsStore

/** The write side: one client in a closed loop of small commits that keep
  * an entity table current as dump deltas arrive, a grouped view over it,
  * and an article-text store with its near-duplicate signature store. An
  * in-memory model of the table and the view is updated by every operation
  * and compared with the program's state after every commit.
  */
final class WarehouseCommits(spark: SparkSession, seed: Long) {
  import spark.implicits._
  val InitialRows = 1500
  val AppendRows = 40
  val MergeRows = 40
  val DeleteRows = 8
  /** Keys of each merge batch taken from the rows the batch just appended. */
  val FreshKeys = 5
  val InitialDocs = 200
  val BatchDocs = 12
  val NearDups = 4
  /** Signature-store shape for a store of a few hundred texts: 32 hashes
    * in 8 bands flag a one-word edit of a 150-word text (Jaccard about
    * 0.96) with a miss probability below 1e-5.
    */
  val NumHashes = 32
  val Bands = 8
  val StoreParts = 2
  val Groups = 16

  /** (id, name, langs, sitelinks, grp, score) */
  type Row = (String, String, Int, Int, String, Long)

  private var table: String = _
  private var view: String = _
  private var fts: String = _
  private var sig: String = _
  private var rng: scala.util.Random = _
  private val model = mutable.LinkedHashMap.empty[String, Row]
  private val docs = mutable.LinkedHashMap.empty[Long, String]
  private var nextId = 0L
  private var nextDoc = 0L
  private var n = 0
  private val vocab = new Gen.Zipf(4000, 1.05)
  private var firstVersion = 0

  private def row(id: Long): Row =
    (s"Q$id", Gen.cap(Gen.word(vocab.sample(rng))) + " " + Gen.cap(Gen.word(vocab.sample(rng))),
      Gen.langCount(rng), rng.nextInt(50), f"g${rng.nextInt(Groups)}%02d", rng.nextInt(1000000).toLong)

  private def bytes(rs: Seq[Row]): Double =
    rs.map(r => r._1.length + r._2.length + r._5.length + 4 + 4 + 8).sum.toDouble

  private def doc(id: Long): String =
    ((0 until 150).map(_ => Gen.word(vocab.sample(rng))) :+ s"zd${java.lang.Long.toString(id, 36)}")
      .mkString(" ")

  def setup(dir: String): Unit = {
    rng = new scala.util.Random(seed * 17 + 3)
    model.clear(); docs.clear(); n = 0
    nextId = 1000
    val rows = (0 until InitialRows).map { _ => nextId += 1; row(nextId) }
    rows.foreach(r => model(r._1) = r)
    table = s"$dir/entities"; view = s"$dir/view"
    fts = s"$dir/articles_fts"; sig = s"$dir/articles_sig"
    VersionedTable.commit(rows.toDF("id", "name", "langs", "sitelinks", "grp", "score"), table)
    MaterializedView.create(spark, table, view, Seq("grp"),
      Seq(MaterializedView.AggDef("count", "*", "n"), MaterializedView.AggDef("sum", "score", "total")))
    nextDoc = 0
    val ds = (0 until InitialDocs).map { _ => nextDoc += 1; nextDoc -> doc(nextDoc) }
    ds.foreach { case (i, t) => docs(i) = t }
    val df = ds.toDF("doc_id", "text")
    FtsStore.create(df, "doc_id", Seq("text"), fts)
    Dedup.appendSignatureStore(df, "doc_id", "text", sig,
      numHashes = NumHashes, bands = Bands, storeParts = StoreParts)
    firstVersion = VersionedTable.versions(spark, table).max
    Sp.sweep(spark)
  }

  private def verifyTable(ops: Ops, tag: String, rows: Seq[org.apache.spark.sql.Row]): Unit = {
    def h(id: String, name: String, l: Int, s: Int, g: String, sc: Long): Long =
      (id, name, l, s, g, sc).hashCode.toLong
    ops.verify(Checked(s"table.$tag",
      rows.map(r => r.getString(0) -> h(r.getString(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getString(4), r.getLong(5))),
      Seq("Q0"), Checks.exact(model.values.map(r => r._1 -> h(r._1, r._2, r._3, r._4, r._5, r._6)).toMap)))
  }

  private def readTable(): Seq[org.apache.spark.sql.Row] =
    VersionedTable.read(spark, table)
      .select("id", "name", "langs", "sitelinks", "grp", "score").collect().toSeq

  /** One delta: an append, a merge and a delete, the view refresh, the
    * store append and a head read. Files and deletion vectors accumulate through
    * the round's commits; the round ends with an optimize, so every round
    * starts from the same layout (one file, no deletion vectors).
    */
  def round(ops: Ops, trace: Trace): Unit = {
    n += 1
    commitBatch(ops, trace)

    ops("view_refresh")(trace.span("catalog.view_refresh") {
      MaterializedView.refresh(spark, view)
    }).foreach { _ =>
      val got = MaterializedView.read(spark, view).select("grp", "n", "total").collect()
      val groups = model.values.groupBy(_._5)
      ops.verify(Checked("view.count", got.map(r => r.getString(0) -> r.getLong(1)).toSeq,
        Seq("g99"), Checks.exact(groups.map { case (g, rs) => g -> rs.size.toLong })))
      ops.verify(Checked("view.sum", got.map(r => r.getString(0) -> r.getLong(2)).toSeq,
        Seq("g99"), Checks.exact(groups.map { case (g, rs) => g -> rs.map(_._6).sum })))
    }
    Sp.sweep(spark)

    storeAppend(ops, trace)

    ops("read")(trace.span("catalog.read")(readTable()))
      .foreach(rows => verifyTable(ops, "read", rows))
    Sp.sweep(spark)

    if (trace.on) {
      ops.sample("live_files", VersionedTable.snapshotSize(spark, table)._1.toDouble)
      ops.sample("deletion_vectors", VersionedTable.deletionVectorCount(spark, table).toDouble)
    }
    ops("optimize")(trace.span("catalog.optimize", Seq(table)) {
      VersionedTable.optimize(spark, table)
    }).foreach(_ => verifyTable(ops, "after_optimize", readTable()))
    Sp.sweep(spark)
  }

  /** One append, one merge and one deletion-vector delete, each checked
    * against the model right after its commit.
    */
  private def commitBatch(ops: Ops, trace: Trace): Unit = {
    val appended = (0 until AppendRows).map { _ => nextId += 1; row(nextId) }
    ops("append")(trace.span("catalog.append", Seq(table)) {
      VersionedTable.append(appended.toDF("id", "name", "langs", "sitelinks", "grp", "score"), table)
    }).foreach { _ =>
      appended.foreach(r => model(r._1) = r); ops.sample("user_bytes", bytes(appended))
      verifyTable(ops, "after_append", readTable())
    }
    Sp.sweep(spark)

    // every batch touches the file the append just wrote and the older
    // ones, so what a merge or delete rewrites does not depend on the seed
    val fresh = appended.map(_._1)
    val older = model.keys.filterNot(fresh.toSet).toVector
    val changed = (rng.shuffle(older).take(MergeRows - FreshKeys) ++
        rng.shuffle(fresh).take(FreshKeys)).map { k =>
      val r = model.getOrElse(k, appended.find(_._1 == k).get)
      (r._1, r._2, Gen.langCount(rng), r._4 + 1, r._5, rng.nextInt(1000000).toLong)
    }
    ops("upsert")(trace.span("catalog.merge", Seq(table)) {
      VersionedTable.merge(changed.toDF("id", "name", "langs", "sitelinks", "grp", "score"), table, "id")
    }).foreach { _ =>
      changed.foreach(r => model(r._1) = r); ops.sample("user_bytes", bytes(changed))
      verifyTable(ops, "after_merge", readTable())
    }
    Sp.sweep(spark)

    val removed = rng.shuffle(older).take(DeleteRows - 1) :+ fresh(rng.nextInt(fresh.size))
    ops("dv_delete")(trace.span("catalog.delete_dv", Seq(table)) {
      VersionedTable.deleteWhere(spark, table,
        Some(removed.map(k => s"'$k'").mkString("id IN (", ", ", ")")), dv = true)
    }).foreach { _ =>
      removed.foreach(model.remove); ops.sample("user_bytes", removed.map(_.length).sum)
      verifyTable(ops, "after_delete", readTable())
    }
    Sp.sweep(spark)
  }

  /** New article texts into the FTS store, probed against and then added
    * to the signature store. `NearDups` of each batch copy an earlier
    * document with one word changed; the probe must flag each of them.
    */
  private def storeAppend(ops: Ops, trace: Trace): Unit = {
    val old = docs.keys.toVector
    val batch = (0 until BatchDocs).map { i =>
      nextDoc += 1
      if (i < NearDups) {
        val src = old(rng.nextInt(old.size))
        val ws = docs(src).split(" ")
        ws(1 + rng.nextInt(ws.length - 2)) = "zz" + Gen.word(rng.nextInt(5000))
        (nextDoc, ws.mkString(" "), Some(src))
      } else (nextDoc, doc(nextDoc), None)
    }
    val df = batch.map(b => (b._1, b._2)).toDF("doc_id", "text")
    ops("store_append") {
      trace.span("fts.append", Seq(fts))(FtsStore.append(df, "doc_id", Seq("text"), fts))
      trace.span("ext.dedup.store", Seq(sig)) {
        val pairs = Dedup.dedupAgainstStore(spark, sig, df, "doc_id", "text",
          numHashes = NumHashes, bands = Bands, storeParts = StoreParts)
          .select("store_id", "batch_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        Dedup.appendSignatureStore(df, "doc_id", "text", sig,
      numHashes = NumHashes, bands = Bands, storeParts = StoreParts)
        pairs
      }
    }.foreach { pairs =>
      batch.foreach(b => docs(b._1) = b._2)
      val planted = batch.collect { case (id, _, Some(src)) => s"$src\t$id" }
      ops.verify(Checked("dedup.planted",
        planted.map(k => k -> (if (pairs.contains((k.split("\t")(0).toLong, k.split("\t")(1).toLong))) 1L else 0L)),
        Nil, Checks.exact(planted.map(_ -> 1L).toMap)))
      val probe = batch.last
      ops.verify(Checked("fts.token",
        FtsStore.searchAll(spark, fts, Seq(s"zd${java.lang.Long.toString(probe._1, 36)}"))
          .select("doc_id").collect().map(_.getLong(0).toString -> 1L).toSeq,
        Seq("0"), Checks.exact(Map(probe._1.toString -> 1L))))
    }
    Sp.sweep(spark)
  }

  def metrics(ops: Ops): Seq[(String, Double, String)] = Seq(
    ("append_ms", ops.median("append"), "ms"),
    ("upsert_ms", ops.median("upsert"), "ms"),
    ("dv_delete_ms", ops.median("dv_delete"), "ms"),
    ("view_refresh_ms", ops.median("view_refresh"), "ms"),
    ("store_append_ms", ops.median("store_append"), "ms"))

  def layerCounts(ops: Ops, trace: Trace): Seq[(String, Double)] = {
    val hist = VersionedTable.history(spark, table)
      .filter(col("version") > firstVersion).select("files").collect().map(_.getLong(0))
    val written = Seq("catalog.append", "catalog.merge", "catalog.delete_dv")
      .map(trace.totalWritten).sum
    Seq(
      "catalog.bytes_written_per_user_byte" -> written.toDouble / ops.samplesOf("user_bytes").sum,
      "catalog.files_rewritten_per_commit" -> hist.sum.toDouble / hist.length,
      "catalog.live_files" -> Stats.median(ops.samplesOf("live_files")),
      "catalog.deletion_vectors" -> Stats.median(ops.samplesOf("deletion_vectors")))
  }
}
