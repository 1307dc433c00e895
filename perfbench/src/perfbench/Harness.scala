package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.Random

/** Closed-loop benchmark client for the query registry.
  *
  * One client thread calls a registry query, computes the result's
  * fingerprint (the one action that materializes every output column),
  * checks it against the golden fingerprint, and only then issues the next
  * query. Each measured pass runs every query of the workload once, in an
  * order drawn from the seed; warm-up passes keep the workload's own order,
  * so every seed fills the JIT with the same profile.
  *
  * Modes: `--mode run` (default) measures; `--mode fingerprint` prints the
  * fingerprints `record_goldens.py` needs.
  *
  *   perfbench.Harness --workload ops_small --seed 1 --seconds 12 --trace 0
  *     --data <dir holding one subdir per scale> --goldens perfbench/goldens.tsv
  *     --cores 4 --out <run record> [--trace-file <spans jsonl>]
  */
object Harness {
  final case class Exec(query: String, pass: Int, ms: Double, ok: Boolean,
                        traced: Boolean, error: String)

  /** Set-ups per run; set-up time is reported as their median. */
  val Setups = 3

  /** Further checked passes after the set-ups, off the clock. Passes keep
    * getting faster while the JIT compiles the driver's hot code; three
    * set-up passes leave the measured passes on the steep part of that
    * curve, where a run's figure depends on how many passes fit in it. */
  val WarmupPasses = 4

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads(args("workload"))
    val dataDir = Paths.get(args("data"), w.sf).toAbsolutePath.toString
    val cores = args("cores").toInt
    args.getOrElse("mode", "run") match {
      case "run" =>
        run(w, dataDir, cores, args("seed").toLong, args("seconds").toDouble,
          args("trace") == "1", Goldens.load(args("goldens"), w.sf), args)
      case "fingerprint" => fingerprints(w, dataDir, cores, args.get("dump"))
    }
  }

  /** The status store keeps up to 1000 jobs and executions by default, so
    * the driver heap would grow with the length of a run; these caps are
    * reached during set-up, and the heap peak then reflects the queries. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Drops whatever an execution left cached, synchronously, so the
    * removal does not run into the next execution. */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def order(w: Workload, seed: Long, pass: Int): Seq[QueryRun] =
    new Random(seed * 1000003L + pass).shuffle(w.runs)

  /** Runs `body` with the query run's conf set on the session. */
  private def withConf[T](spark: SparkSession, r: QueryRun)(body: => T): T = {
    r.conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally r.conf.keys.foreach(spark.conf.unset)
  }

  private def run(w: Workload, dataDir: String, cores: Int, seed: Long,
                  seconds: Double, trace: Boolean,
                  goldens: Map[String, Fingerprint],
                  args: Map[String, String]): Unit = {
    val missing = w.queries.filterNot(goldens.contains)
    require(missing.isEmpty, s"no golden for ${w.sf}: ${missing.mkString(",")}")
    val registry = graft.SparkEntry.queries
    var spark: SparkSession = null
    var tracer: Tracer = null
    val spans = mutable.ArrayBuffer[Span]()
    val layers = mutable.ArrayBuffer[(Layers, Double)]()
    var execCount = 0

    /** One closed-loop step: registry call, fingerprint, check. */
    def runOne(r: QueryRun, pass: Int, traced: Boolean): Exec = withConf(spark, r) {
      val q = r.query
      val sc = spark.sparkContext
      val id = s"${r.label}#$execCount"
      execCount += 1
      if (traced) tracer.begin(id)
      sc.setLocalProperty(Tracer.ExecProp, id)
      sc.setLocalProperty(Tracer.PhaseProp, "construct")
      val w0 = System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      var t1 = t0
      val (ok, err) = try {
        val df: DataFrame = registry(q)(spark, dataDir)
        t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.PhaseProp, "action")
        val fp = Fingerprint.of(df)
        if (goldens(q) == fp) (true, null)
        else (false, s"fingerprint $fp != golden ${goldens(q)}")
      } catch { case e: Throwable => (false, s"${e.getClass.getName}: ${e.getMessage}") }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      sc.setLocalProperty(Tracer.ExecProp, null)
      sc.setLocalProperty(Tracer.PhaseProp, null)
      val ms = (t2 - t0) / 1e6
      if (err != null) System.err.println(s"[perfbench] ${r.label} failed: $err")
      if (traced) {
        BusDrain.drain(sc)
        val (l, s) = tracer.finish(r.label, w0, w0 + (t1 - t0) / 1e6, w0 + ms)
        // Table resolution, measured by calling Tables.t for each table
        // the execution read; outside the query's wall, same execution id.
        val r0 = System.nanoTime()
        val rw = System.currentTimeMillis().toDouble
        l.tables.foreach(graft.Tables.t(spark, dataDir, _))
        val resolveMs = (System.nanoTime() - r0) / 1e6
        spans ++= s :+ Span(l.exec, s"${l.exec}/tables.resolve", "", "tables.resolve",
          rw, rw + resolveMs, resolveMs, ListMap("tables" -> l.tables))
        layers += ((l, resolveMs))
      }
      release(spark)
      Exec(r.label, pass, ms, ok, traced, err)
    }

    // Set-up: session start, function registration, one checked warm-up
    // pass; repeated, and the median reported.
    val setupS = mutable.ArrayBuffer[Double]()
    val sessionS = mutable.ArrayBuffer[Double]()
    val warmups = mutable.ArrayBuffer[Exec]()
    for (i <- 0 until Setups) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(cores)
      graft.Tables.ensureFunctions(spark)
      sessionS += (System.nanoTime() - t0) / 1e9
      w.runs.foreach(r => warmups += runOne(r, -1 - i, traced = false))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    for (i <- 0 until WarmupPasses)
      w.runs.foreach(r => warmups += runOne(r, -1 - Setups - i, traced = false))
    val warmupFailures = warmups.filterNot(_.ok).map(e => s"${e.query}: ${e.error}")
    if (trace) {
      tracer = new Tracer(cores, Paths.get(dataDir).getFileName.toString)
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }

    // Measurement: whole passes until `seconds` have elapsed. A traced run
    // alternates traced and untraced passes, so the tracing overhead is
    // measured within the run. Each pass records the share of the
    // machine's CPU time the hypervisor took (steal), to tell a slow host
    // from a slow program.
    // Each pass ends in a full collection, off the clock, so every pass
    // starts from the same old generation and the heap peak is set by
    // what the queries themselves hold.
    val execs = mutable.ArrayBuffer[Exec]()
    System.gc()
    HeapWatch.reset()
    var pass = 0
    var wallS = 0.0
    val passSteal = mutable.ArrayBuffer[Double]()
    // Correct executions per second of each untraced pass.
    val passRates = mutable.ArrayBuffer[Double]()
    while (wallS < seconds || (trace && pass < 2)) {
      val traced = trace && pass % 2 == 0
      val c0 = Box.cpuTicks()
      val t0 = System.nanoTime()
      val done = order(w, seed, pass).map(r => runOne(r, pass, traced))
      val passS = (System.nanoTime() - t0) / 1e9
      passSteal += Box.stealShare(c0, Box.cpuTicks())
      execs ++= done
      wallS += passS
      if (!traced) passRates += done.count(_.ok) / passS
      System.gc()
      pass += 1
    }
    val heapPeakMb = HeapWatch.peakMb
    stop(spark)

    val attempted = execs.size
    val failed = execs.count(!_.ok)
    val untraced = execs.filterNot(_.traced)
    val lat = untraced.map(_.ms).toIndexedSeq
    // Each query run's median latency, combined by geometric mean: every
    // query run weighs the same, and the figure uses all samples, where
    // the median of the pooled latencies would be the median of whichever
    // query run sits in the middle.
    val perRunP50 = untraced.groupBy(_.query).map { case (q, es) => q -> Stats.median(es.map(_.ms).toSeq) }
    // The tail is the highest percentile (up to p90) with at least ten
    // samples beyond it; a run of fewer than 20 executions has none.
    val tail = Some(math.min(0.9, 1.0 - 10.0 / lat.size)).filter(_ > 0.5)
      .map(p => ListMap("percentile" -> p, "ms" -> Stats.percentile(lat, p)))
    val metrics: ListMap[String, (Double, String)] =
      if (!trace) ListMap(
        "queries_per_s" -> (Stats.median(passRates.toSeq), "1/s"),
        "latency_p50_ms" -> (Stats.geomean(perRunP50.values.toSeq), "ms"),
        "setup_s" -> (Stats.median(setupS.toSeq), "s"),
        "driver_heap_peak_mb" -> (heapPeakMb, "MB"))
      else layerMetrics(layers.toSeq, execs.toSeq)

    val record = ListMap(
      "workload" -> w.name, "sf" -> w.sf, "seed" -> seed, "trace" -> trace,
      "cores" -> cores, "passes" -> pass, "wall_s" -> wallS,
      "queries_per_s_overall" -> (attempted - failed) / wallS,
      "pass_rates" -> passRates, "pass_steal_share" -> passSteal,
      "failed_frac" -> failed.toDouble / attempted,
      "executions" -> lat.size, "latency_pooled_p50_ms" -> Stats.median(lat),
      "latency_p50_ms_by_run" -> ListMap(perRunP50.toSeq.sortBy(_._1): _*),
      "latency_tail" -> tail.orNull, "setup_s" -> setupS,
      "session_s" -> sessionS, "warmup_failures" -> warmupFailures,
      "warmup_ms" -> warmups.map(e => ListMap("query" -> e.query, "pass" -> e.pass, "ms" -> e.ms)),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "execs" -> execs.map(e => ListMap("query" -> e.query, "pass" -> e.pass,
        "ms" -> e.ms, "ok" -> e.ok, "traced" -> e.traced, "error" -> e.error)),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
    writeLines(args("out"), Seq(Json(record)))
    if (trace) writeLines(args("trace-file"),
      spans.map(_.toJson).toSeq ++ layerSummary(layers.toSeq, execs.toSeq))

    val result = ListMap(
      "correct" -> (failed == 0 && warmupFailures.isEmpty),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
    println("RESULT " + Json(result))
  }

  /** Per-layer metrics of a traced run: the median per traced execution. */
  private def layerMetrics(layers: Seq[(Layers, Double)],
                           execs: Seq[Exec]): ListMap[String, (Double, String)] = {
    def unit(k: String) =
      if (k.endsWith("_ms") || k == "construct.ms") "ms"
      else if (k.endsWith("bytes") || k.endsWith("bytes_peak")) "bytes"
      else if (k == "exec.slot_util") "ratio" else "count"
    val names = layers.headOption.map(_._1.metrics.keys.toSeq).getOrElse(Nil)
    ListMap("tables.resolve_ms" -> (Stats.median(layers.map(_._2)), "ms")) ++
      names.map(k => k -> (Stats.median(layers.map(_._1.metrics(k))), unit(k))) ++
      ListMap("trace.overhead_frac" -> (overhead(execs), "ratio"))
  }

  /** Median over queries of (traced median wall / untraced median wall) - 1. */
  private def overhead(execs: Seq[Exec]): Double = {
    val perQuery = execs.groupBy(_.query).values.flatMap { es =>
      val (t, u) = es.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.ms)) / Stats.median(u.map(_.ms)) - 1.0)
    }
    Stats.median(perQuery.toSeq)
  }

  /** Per-query breakdown lines for the trace file, plus the workload's
    * share of wall time in each layer (sums over all traced executions). */
  private def layerSummary(layers: Seq[(Layers, Double)], execs: Seq[Exec]): Seq[String] = {
    val perQuery = layers.groupBy(_._1.query).toSeq.sortBy(_._1).map { case (q, ls) =>
      Json(ListMap("kind" -> "query", "query" -> q, "executions" -> ls.size,
        "tables" -> ls.head._1.tables,
        "tables.resolve_ms" -> Stats.median(ls.map(_._2))) ++
        ls.head._1.metrics.keys.map(k => k -> Stats.median(ls.map(_._1.metrics(k)))) ++
        ls.head._1.split.keys.map(k => s"split.$k" -> Stats.median(ls.map(_._1.split(k)))))
    }
    val wall = layers.map(_._1.metrics("query.wall_ms")).sum
    def share(f: Layers => Double) = layers.map(l => f(l._1)).sum / wall
    val workload = Json(ListMap("kind" -> "workload", "traced_executions" -> layers.size,
      "wall_ms" -> wall,
      "task_run_share" -> share(_.metrics("exec.task_run_ms")),
      "driver_local_share" -> share(_.metrics("driver.local_ms")),
      "trace_overhead_frac" -> overhead(execs)) ++
      layers.head._1.split.keys.map(k => s"split_share.$k" -> share(_.split(k))))
    perQuery :+ workload
  }

  /** For each query run: two live fingerprints and, when `dump` is given,
    * the fingerprint of the query's `graft.Verify` dump (default conf),
    * written there first. */
  private def fingerprints(w: Workload, dataDir: String, cores: Int,
                           dump: Option[String]): Unit = {
    dump.foreach(d => graft.Verify.main(Array(dataDir, d, w.queries.mkString(","))))
    val spark = session(cores)
    graft.Tables.ensureFunctions(spark)
    def fp(df: => DataFrame): String =
      try Fingerprint.of(df).toString
      catch { case e: Throwable => s"error: ${e.getMessage}".replaceAll("\\s+", " ") }
      finally release(spark)
    w.runs.foreach { r =>
      val live = withConf(spark, r)((0 until 2).map(_ => fp(graft.SparkEntry.queries(r.query)(spark, dataDir))))
      val dumped = dump.map(d => Paths.get(d, r.query).toString)
        .filter(p => Files.exists(Paths.get(p, "_SUCCESS")))
        .map(p => fp(spark.read.parquet(p))).getOrElse("none")
      println(s"FP\t${w.sf}\t${r.label}\t${r.query}\t${live(0)}\t${live(1)}\t$dumped")
    }
    stop(spark)
  }

  private def writeLines(path: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    val out = new PrintWriter(path, "UTF-8")
    try lines.foreach(out.println) finally out.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear interpolation between closest ranks; NaN for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

/** CPU time of the whole machine, from the first line of /proc/stat. */
object Box {
  /** (steal, total) clock ticks of all CPUs so far; zeros where there is
    * no /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      finally src.close()
      (v(7), v.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** The share of all CPU time between two readings that was stolen. */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 <= from._2) 0.0 else (to._1 - from._1).toDouble / (to._2 - from._2)
}

/** Golden fingerprints per (scale, query): `goldens.tsv`, written by
  * `record_goldens.py` only for results the DuckDB oracle accepted. */
object Goldens {
  def load(path: String, sf: String): Map[String, Fingerprint] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split('\t'))
      .collect { case Array(`sf`, q, rows, hash, _*) => q -> Fingerprint(rows.toLong, hash.toLong) }
      .toMap
}
