package prodbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A result the benchmark checks: rows of (key, value), the check that
  * judges them, and a universe of plausible keys (so the self-test can
  * swap one neighbour for a key that does not belong).
  */
final case class Checked(name: String, got: Seq[(String, Long)],
                         universe: Seq[String],
                         check: Seq[(String, Long)] => Option[String])

object Checks {

  /** Exactly the expected rows: no duplicate key, no missing or extra key,
    * every value equal.
    */
  def exact(expected: Map[String, Long])(got: Seq[(String, Long)]): Option[String] = {
    val keys = got.map(_._1)
    val dup = keys.diff(keys.distinct)
    if (dup.nonEmpty) return Some(s"duplicate keys ${dup.take(3).mkString(", ")}")
    val g = got.toMap
    val missing = expected.keySet -- g.keySet
    if (missing.nonEmpty)
      return Some(s"${missing.size} rows missing, e.g. ${missing.take(3).mkString(", ")}")
    val extra = g.keySet -- expected.keySet
    if (extra.nonEmpty)
      return Some(s"${extra.size} unexpected rows, e.g. ${extra.take(3).mkString(", ")}")
    val wrong = expected.collect { case (k, v) if g(k) != v => s"$k: ${g(k)} != $v" }
    if (wrong.nonEmpty) Some(s"${wrong.size} wrong values, e.g. ${wrong.take(3).mkString("; ")}")
    else None
  }

  /** Corrupts `rows` the three ways the self-test uses; each must fail. */
  def corruptions(c: Checked): Seq[(String, Seq[(String, Long)])] = {
    val rows = c.got
    require(rows.nonEmpty, s"${c.name}: no rows to corrupt")
    val (k0, v0) = rows.head
    val outsider = c.universe.find(u => !rows.exists(_._1 == u))
      .getOrElse(k0 + "~swapped")
    Seq(
      "count_off_by_one" -> ((k0, v0 + 1) +: rows.tail),
      "row_dropped" -> rows.tail,
      "neighbour_swapped" -> ((outsider, v0) +: rows.tail))
  }
}

/** Operation timing, attempted/failed counts and correctness for one run.
  * Each operation runs inside a [[Trace]] span `op.<kind>`, which the
  * traced run's per-layer metrics sum over.
  */
final class Ops(trace: Trace) {
  val times: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** Latencies (ms) of each round's operations, in order. */
  val rounds: mutable.ArrayBuffer[mutable.ArrayBuffer[Double]] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  var correct = true
  /** Named per-operation figures other than wall time (rates, ratios). */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def samplesOf(name: String): Seq[Double] = samples(name).toSeq
  /** The most recent result of each check, kept for the self-test. */
  val lastChecked: mutable.LinkedHashMap[String, Checked] = mutable.LinkedHashMap.empty

  /** Starts the next round of operations. */
  def newRound(): Unit = { rounds += mutable.ArrayBuffer.empty; trace.newRound() }

  /** Times `body` as one operation of `kind` (milliseconds). */
  def apply[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    if (rounds.isEmpty) newRound()
    val t0 = System.nanoTime()
    try {
      val r = trace.span(Trace.OpPrefix + kind)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      rounds.last += ms
      Some(r)
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[prodbench] operation $kind failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** Median over rounds of the round's summed operation latencies (s). */
  def roundS: Double = Stats.median(rounds.toSeq.map(_.sum / 1e3))

  /** Median over rounds of the geometric mean of the round's operation
    * latencies (ms): every operation weighs the same, so a gain in a cheap
    * one moves it as much as the same gain in a costly one.
    */
  def opGeomeanMs: Double =
    Stats.median(rounds.toSeq.map(r => math.exp(r.map(math.log).sum / r.size)))

  /** Counts a completed operation whose result is wrong because of a
    * known program fault as failed; its time stays recorded.
    */
  def markFailed(kind: String, why: String): Unit = {
    failed += 1
    System.err.println(s"[prodbench] operation $kind failed its checks: $why")
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      correct = false
      System.err.println(s"[prodbench] CHECK FAILED: $what")
    }

  def verify(c: Checked): Unit = {
    lastChecked(c.name) = c
    c.check(c.got).foreach(err => check(ok = false, s"${c.name}: $err"))
  }

  def median(kind: String): Double = Stats.median(times(kind).toSeq)

}

/** One workload: repeated set-up, then whole rounds until time is up. */
trait Workload {
  def name: String
  /** Builds the workload's inputs and state under `dir`. */
  def setup(dir: String): Unit
  /** Untimed work after the set-ups that brings cold code paths of the
    * timed operations up to speed; not part of `setup_s`.
    */
  def warmUp(): Unit = ()
  /** One round of the workload's operations. */
  def round(ops: Ops, trace: Trace): Unit
  /** End-to-end metrics (name -> (value, unit)). */
  def metrics(ops: Ops): Seq[(String, Double, String)]
  /** Per-layer ratios and counts of a traced run. */
  def layerCounts(ops: Ops, trace: Trace): Seq[(String, Double)]
}

object Fs {
  def rm(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }
}

/** Helpers shared by the workloads. */
object Sp {
  /** Drops every staged frame and cached block between operations — the
    * library's documented contract for long-lived sessions (its probes
    * persist intermediate frames and leave their release to the caller).
    */
  def sweep(spark: SparkSession): Unit = graft.Caches.releaseAll(spark)
}
