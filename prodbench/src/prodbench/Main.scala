package prodbench

import org.apache.spark.sql.SparkSession

/** Product-path benchmark entry point.
  *
  * {{{
  * prodbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * prodbench.Main --selftest [--workload <name>] --work <dir>
  * }}}
  *
  * One JVM, Spark `local[min(4, cores)]`, one client thread. Set-up runs
  * [[SetupReps]] times, each into a fresh directory; the last one's state
  * is what the workload's untimed warm-up and then the timed rounds use.
  * The last stdout line is the result JSON.
  */
object Main {
  val SetupReps = 3
  val Workloads: Seq[String] = Seq("wiki_ingest", "kb_live")

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "wiki_ingest" => new WikiIngest(spark, seed)
    case "kb_live" => new KbLive(spark, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Workloads.mkString(", ")})")
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val selftest = args.contains("--selftest")
    val work = opts.getOrElse("work", sys.error("--work <dir> is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val names = opts.get("workload").toSeq
    if (!selftest) require(names.nonEmpty, "--workload <name> is required")
    names.foreach(n => require(Workloads.contains(n), s"unknown workload $n"))

    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = graft.GraftSession.tune(SparkSession.builder()
      .appName("prodbench")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      if (selftest) sys.exit(SelfTest.run(spark, work,
        if (names.isEmpty) Workloads else names))
      else run(spark, names.head, seed, seconds, traced, work, sessionS)
    } finally spark.stop()
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
          traced: Boolean, work: String, sessionS: Double): Unit = {
    val w = workload(name, spark, seed)
    Contention.canary(spark) // warms the canary's code paths
    val setupS = (1 to SetupReps).map { rep =>
      val dir = s"$work/setup-$rep"
      val t0 = System.nanoTime()
      w.setup(dir)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[prodbench] $name set-up $rep: $s%.3f s")
      if (rep > 1) Fs.rm(s"$work/setup-${rep - 1}")
      s
    }
    w.warmUp()
    val trace = new Trace(spark, traced)
    val ops = new Ops(trace)
    val steal0 = Contention.stealTicks()
    val canary0 = Contention.canary(spark)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var rounds = 0
    do { ops.newRound(); w.round(ops, trace); rounds += 1 } while (System.nanoTime() < deadline)
    val windowS = (System.nanoTime() - t0) / 1e9
    val canary1 = Contention.canary(spark)
    val steal1 = Contention.stealTicks()
    System.err.println(f"[prodbench] $name: $rounds rounds, ${ops.attempted} operations in $windowS%.2f s")

    for ((k, ts) <- ops.times)
      System.err.println(f"[prodbench]   $k%-14s n=${ts.size}%4d median=${Stats.median(ts.toSeq)}%9.1f ms " +
        ts.map(t => f"$t%.0f").mkString("[", " ", "]"))
    val e2e = Seq(
      ("setup_s", sessionS + Stats.median(setupS), "s"),
      ("round_s", ops.roundS, "s"),
      ("op_geomean_ms", ops.opGeomeanMs, "ms"))
    def line(tag: String, kv: Seq[(String, Double, String)]): Unit =
      println(s"prodbench-$tag " + Json.obj(kv.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))
    println("prodbench-contention " + Json.obj(Seq(
      "steal_ticks" -> Json.num(steal1 - steal0),
      "window_s" -> Json.num(windowS),
      "canary_before_s" -> Json.num(canary0),
      "canary_after_s" -> Json.num(canary1),
      "rounds" -> Json.num(rounds))))
    // the workload's own per-operation figures, beside the metrics
    line("ops", w.metrics(ops))
    val metrics =
      if (!traced) e2e
      else {
        line("traced-e2e", e2e)
        def keep(k: String) =
          (!k.endsWith(".shuffle_bytes") || Layers.shuffleSpans(k.stripSuffix(".shuffle_bytes"))) &&
            (!k.endsWith(".bytes_written") || Layers.writeSpans(k.stripSuffix(".bytes_written")))
        val spans = trace.summary().toSeq.sortBy(_._1).collect { case (k, v) if keep(k) =>
          (k, v, if (k.endsWith("bytes") || k.endsWith("_written")) "bytes"
                 else if (k.endsWith(".jobs")) "count" else "s")
        }
        line("spans", spans ++ w.layerCounts(ops, trace).map { case (k, v) => (k, v, Layers.unit(k)) })
        trace.layers()
      }
    println(Json.obj(Seq(
      "correct" -> (if (ops.correct) "true" else "false"),
      "attempted" -> Json.num(ops.attempted),
      "failed" -> Json.num(ops.failed),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
  }
}

/** Which spans of the traced run's `prodbench-spans` line report shuffle
  * and written bytes, and the units of the workloads' ratios and counts.
  */
object Layers {
  val shuffleSpans: Set[String] = Set("wiki.entities_job", "wiki.aliases_job",
    "wiki.articles_job", "wiki.queries.load_entities", "wiki.kb.aliases",
    "catalog.merge", "catalog.view_refresh", "wikid.index_texts")
  val writeSpans: Set[String] = Set("wikid.parse_resume", "wikid.index_texts",
    "catalog.append", "catalog.merge", "catalog.delete_dv", "catalog.optimize",
    "fts.append", "ext.dedup.store")
  def unit(k: String): String =
    if (k.endsWith("_per_record") || k.endsWith("_per_page") || k.endsWith("recall_at_10") ||
        k.endsWith("_per_user_byte")) "ratio"
    else "count"
}

object Contention {
  /** Steal ticks summed over all CPUs (`/proc/stat`), or -1 off Linux. */
  def stealTicks(): Long =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
    }.getOrElse(-1L)

  /** Wall seconds of a fixed synthetic aggregation. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 4000000L, 1L, 4).selectExpr("sum((id * 7) % 13) AS s").collect()
    (System.nanoTime() - t0) / 1e9
  }
}

object Json {
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"metric value $x is not a number")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString
  }
  def num(x: Long): String = x.toString
  def num(x: Int): String = x.toString
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
}

/** Runs each workload's checks on a real result and on three corrupted
  * copies of it; every corrupted copy must be rejected.
  */
object SelfTest {
  def run(spark: SparkSession, work: String, names: Seq[String]): Int = {
    var bad = 0
    for (name <- names) {
      val w = Main.workload(name, spark, 7L)
      w.setup(s"$work/selftest-$name")
      val trace = new Trace(spark, false)
      val ops = new Ops(trace)
      w.round(ops, trace)
      if (!ops.correct) {
        println(s"$name: the uncorrupted round did not pass its checks"); bad += 1
      }
      for ((cname, c) <- ops.lastChecked) {
        c.check(c.got).foreach { e => println(s"$name/$cname: real result rejected: $e"); bad += 1 }
        for ((kind, rows) <- Checks.corruptions(c)) {
          val verdict = c.check(rows)
          println(f"$name%-18s $cname%-24s $kind%-18s " +
            verdict.fold("ACCEPTED (check too weak)")(e => s"rejected: ${e.take(80)}"))
          if (verdict.isEmpty) bad += 1
        }
      }
      Fs.rm(s"$work/selftest-$name")
    }
    println(if (bad == 0) "selftest: every corruption was rejected" else s"selftest: $bad problems")
    if (bad == 0) 0 else 1
  }
}
