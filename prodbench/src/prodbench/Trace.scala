package prodbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into the library's layers.
  *
  * A span sets the Spark local property [[Trace.Key]] to its invocation id
  * for the duration of its body, so the listener can attribute every job,
  * stage and task the body starts to the innermost open span. Spans are kept
  * in memory and summarised when the run ends. With tracing off a span is
  * just its body.
  */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._

  private val listener = new Listener
  if (on) spark.sparkContext.addSparkListener(listener)

  private val insts = mutable.ArrayBuffer.empty[Inst]
  private var next = 0

  /** Runs `body` as span `name`. When `watch` names directories, the bytes
    * of files that appear or change under them during the span are its
    * `bytes_written` (listing happens outside the timed interval). Spans
    * nest: a job counts towards its span and every enclosing one.
    */
  def span[T](name: String, watch: Seq[String] = Nil)(body: => T): T =
    if (!on) body
    else {
      val before = watch.flatMap(files).toMap
      next += 1
      val id = s"$name#$next"
      val sc = spark.sparkContext
      val outer = Option(sc.getLocalProperty(Key))
      sc.setLocalProperty(Key, outer.fold(id)(o => s"$o$Sep$id"))
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        val ms1 = System.currentTimeMillis()
        sc.setLocalProperty(Key, outer.orNull)
        val written = if (watch.isEmpty) 0L else {
          val after = watch.flatMap(files)
          after.collect { case (p, n) if !before.get(p).contains(n) => n }.sum
        }
        insts += Inst(name, id, wall, ms0, ms1, written, round)
      }
    }

  private var round = 0
  /** Starts the next round; [[layers]] reports the median round. */
  def newRound(): Unit = round += 1

  private def serialS(i: Inst): Double =
    math.max(0.0, i.wallS - listener.busyMs(i.id, i.startMs, i.endMs) / 1e3)

  /** Per-span medians over the span's invocations, operation spans
    * ([[Ops]]) left out.
    */
  def summary(): Map[String, Double] = {
    if (!on) return Map.empty
    drain()
    val out = mutable.LinkedHashMap.empty[String, Double]
    for ((name, is) <- insts.filterNot(_.name.startsWith(OpPrefix)).groupBy(_.name).toSeq.sortBy(_._1)) {
      def med(f: Inst => Double) = Stats.median(is.map(f).toSeq)
      out(s"$name.s") = med(_.wallS)
      out(s"$name.serial_s") = med(serialS)
      out(s"$name.jobs") = med(i => listener.count(listener.jobs, i.id).toDouble)
      out(s"$name.cpu_s") = med(i => listener.count(listener.cpuNs, i.id) / 1e9)
      out(s"$name.shuffle_bytes") = med(i => listener.count(listener.shuffleBytes, i.id).toDouble)
      out(s"$name.bytes_written") = med(_.written.toDouble)
    }
    out.toMap
  }

  /** The per-layer metrics: Spark's layers under the round's timed
    * operations (every operation span and what nests in it; the traced
    * run's extra ablation spans run outside them), summed per round,
    * median over rounds.
    */
  def layers(): Seq[(String, Double, String)] = {
    drain()
    val byRound = insts.filter(_.name.startsWith(OpPrefix)).groupBy(_.round).values.toSeq
    require(byRound.nonEmpty, "traced run recorded no operation")
    def med(f: Inst => Double) = Stats.median(byRound.map(_.map(f).sum))
    def c(m: ConcurrentHashMap[String, java.lang.Long]) =
      med(i => listener.count(m, i.id).toDouble)
    Seq(
      ("driver.serial_s", med(serialS), "s"),
      ("scheduler.job_s", med(i => i.wallS - serialS(i)), "s"),
      ("scheduler.jobs", c(listener.jobs), "count"),
      ("scheduler.stages", c(listener.stages), "count"),
      ("scheduler.tasks", c(listener.tasks), "count"),
      ("executor.run_s", c(listener.runMs) / 1e3, "s"),
      ("executor.cpu_s", c(listener.cpuNs) / 1e9, "s"),
      ("shuffle.bytes_written", c(listener.shuffleBytes), "bytes"),
      ("io.bytes_read", c(listener.bytesRead), "bytes"),
      ("io.bytes_written", c(listener.bytesWritten), "bytes"))
  }

  /** Bytes written by every invocation of span `name`, summed. */
  def totalWritten(name: String): Long = insts.filter(_.name == name).map(_.written).sum

  /** Drains the listener bus so query listeners have seen every event. */
  def drain(): Unit = org.apache.spark.prodbench.ListenerDrain.drain(spark.sparkContext)
}

object Trace {
  val Key = "prodbench.span"
  /** Separates the nested span ids in [[Key]]. */
  val Sep = "/"
  /** Names of the spans [[Ops]] puts around each timed operation. */
  val OpPrefix = "op."

  /** One invocation of a span. */
  final case class Inst(name: String, id: String, wallS: Double,
                        startMs: Long, endMs: Long, written: Long, round: Int)

  /** (relative path -> size) of every regular file under `dir`. */
  def files(dir: String): Seq[(String, Long)] = {
    val root = new java.io.File(dir)
    if (!root.exists()) return Nil
    val out = mutable.ArrayBuffer.empty[(String, Long)]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else out += (f.getPath -> f.length())
    walk(root)
    out.toSeq
  }

  /** Attributes jobs, stages and tasks to every span id in the job's
    * local property; jobs started outside any span are ignored.
    */
  final class Listener extends SparkListener {
    private val jobSpans = new ConcurrentHashMap[Int, Seq[String]]()
    private val stageSpans = new ConcurrentHashMap[Int, Seq[String]]()
    private val jobStart = new ConcurrentHashMap[Int, Long]()
    private val intervals = new ConcurrentHashMap[String, mutable.ArrayBuffer[(Long, Long)]]()
    private def counter() = new ConcurrentHashMap[String, java.lang.Long]()
    val jobs, stages, tasks, runMs, cpuNs, shuffleBytes, bytesRead, bytesWritten = counter()

    private def add(m: ConcurrentHashMap[String, java.lang.Long], ss: Seq[String], v: Long): Unit =
      ss.foreach(m.merge(_, v, (a, b) => a + b))

    def count(m: ConcurrentHashMap[String, java.lang.Long], span: String): Long =
      Option(m.get(span)).map(_.longValue).getOrElse(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val ss = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.split(Sep).toSeq)
      ss.foreach { s =>
        jobSpans.put(e.jobId, s)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpans.put(_, s))
        add(jobs, s, 1L)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.get(e.jobId)).foreach { ss =>
        val t0 = jobStart.get(e.jobId)
        ss.foreach { s =>
          intervals.computeIfAbsent(s, _ => mutable.ArrayBuffer.empty)
            .synchronized { intervals.get(s) += ((t0, e.time)) }
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpans.get(e.stageInfo.stageId)).foreach(add(stages, _, 1L))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpans.get(e.stageId)).foreach { ss =>
        add(tasks, ss, 1L)
        val m = e.taskMetrics
        if (m != null) {
          add(runMs, ss, m.executorRunTime)
          add(cpuNs, ss, m.executorCpuTime + m.executorDeserializeCpuTime)
          add(shuffleBytes, ss, m.shuffleWriteMetrics.bytesWritten)
          add(bytesRead, ss, m.inputMetrics.bytesRead)
          add(bytesWritten, ss, m.outputMetrics.bytesWritten)
        }
      }

    /** Milliseconds of [lo, hi] during which at least one of the span's
      * jobs was running (the union of its job intervals).
      */
    def busyMs(span: String, lo: Long, hi: Long): Long = {
      val iv = Option(intervals.get(span)).map(b => b.synchronized(b.toSeq))
        .getOrElse(Seq.empty[(Long, Long)])
        .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L; var curA = -1L; var curB = -1L
      for ((a, b) <- iv) {
        if (a > curB) { busy += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      busy + (curB - curA)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}
