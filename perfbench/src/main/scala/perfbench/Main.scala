package perfbench

import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.engine.Memos

/** The benchmark harness JVM. `run.py` builds it, prepares the fixture
  * and launches it; the harness writes one result file and `run.py`
  * prints the contract line from it.
  *
  *   --mode run|reference|rowcounts|selftest  --workload query|evolve
  *   --seed N --seconds S --trace 0|1 --fixture DIR --work DIR --out FILE
  *   [--reference FILE] [--expected FILE] [--dumpdir DIR] [--cache DIR]
  */
object Main {
  final case class Conf(mode: String, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, fixture: String, work: String, out: String,
                        reference: String, expected: String, dumpdir: String, cache: String) {
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  type Q = (SparkSession, String) => DataFrame

  private val OlapRows = Seq("q_tpch_", "q_join_", "q_events_", "q_win_")
  private val CurateRows = Seq("q_dedup_", "q_sim_", "q_text_", "q_quality_", "q_sample_",
    "q_topk_", "q_pipeline_", "q_mix_", "q_udf_", "q_udtf_", "q_multimodal_")

  /** The `query` workload's registry rows, by name prefix: the olap and
    * the curation rows. */
  val QueryRows: Seq[String] = OlapRows ++ CurateRows

  /** Per-layer families: registry rows by name prefix. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "ops.tpch" -> Seq("q_tpch_"), "ops.join" -> Seq("q_join_"),
    "ops.events" -> Seq("q_events_"), "ops.win" -> Seq("q_win_"),
    "text.dedup" -> Seq("q_dedup_"), "text.sim" -> Seq("q_sim_"), "text.text" -> Seq("q_text_"),
    "text.curation" -> CurateRows.filterNot(Set("q_dedup_", "q_sim_", "q_text_")))

  val WarmUpQuery = "q_agg_basic"

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(a.getOrElse("mode", "run"), a.getOrElse("workload", "query"),
      a.getOrElse("seed", "1").toLong, a.getOrElse("seconds", "10").toDouble,
      a.getOrElse("trace", "0") == "1", a("fixture"), a("work"), a("out"),
      a.getOrElse("reference", ""), a.getOrElse("expected", ""), a.getOrElse("dumpdir", ""),
      a.getOrElse("cache", a("work") + "/cache"))
    val result = c.mode match {
      case "run" if c.workload == "evolve" => runEvolve(c)
      case "run" if c.workload == "query" => runQueries(c)
      case "reference" => reference(c)
      case "rowcounts" => rowCounts(c)
      case "selftest" => SelfTest.run(c)
      case other => throw new IllegalArgumentException(s"unknown mode/workload: $other ${c.workload}")
    }
    writeJson(c.out, result)
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }

  // ---- session and set-up ---------------------------------------------

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder().master(s"local[${c.cores}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    json.writeValue(f, v)
  }

  /** Set up once: a session (graft's extensions registered) and one
    * untimed warm-up query, timed from JVM start, so JVM start, class
    * loading and first-query JIT all count. Then `prep` (harness work,
    * not set-up time) and the workload's own one-time set-up `extra`.
    * Returns the live session and the set-up time: JVM start to the end
    * of the warm-up query, plus `extra`. */
  def setup(c: Conf, prep: SparkSession => Unit, extra: SparkSession => Unit)
      : (SparkSession, Double, Map[String, Any]) = {
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(c)
    noop(SparkEntry.queries(WarmUpQuery)(spark, c.fixture))
    val sessionS = (System.currentTimeMillis() - t0) / 1000.0
    prep(spark)
    val extraS = time(extra(spark))
    (spark, sessionS + extraS, Map("session_s" -> sessionS, "extra_s" -> extraS))
  }

  def host(spark: SparkSession, c: Conf): Map[String, Any] = Map(
    "nproc" -> c.cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "java" -> System.getProperty("java.version"), "spark" -> spark.version,
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))

  // ---- statistics -----------------------------------------------------

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def heapUsed(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** Collect garbage until Spark's cleaner has released every
    * unreferenced RDD and broadcast block: until block-manager bytes
    * and the live heap both stop changing (at most 20 rounds). */
  def settle(spark: SparkSession): Unit = {
    var last = (-1L, -1L)
    var now = (Memos.storedBytes(spark), heapUsed())
    var tries = 0
    while (tries < 20 && (now._1 != last._1 || math.abs(now._2 - last._2) > (1L << 20))) {
      System.gc()
      Thread.sleep(100)
      last = now
      now = (Memos.storedBytes(spark), heapUsed())
      tries += 1
    }
  }

  /** Block-manager bytes still pinned once the run has settled: what its
    * memos (or other live state) really hold. */
  def pinnedBytes(spark: SparkSession): Long = { settle(spark); Memos.storedBytes(spark) }

  /** Live heap after `pinnedBytes` settled the run, in MB. */
  def heapMb(): Double = heapUsed() / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the whole JVM has used: Spark's task threads run in it. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  // ---- query ------------------------------------------------------------

  /** A stable number per row name: sampling and verify rotation use it,
    * so regrouping graft's modules never moves a row. */
  def nameHash(name: String): Int = {
    val d = java.security.MessageDigest.getInstance("SHA-1").digest(name.getBytes("UTF-8"))
    ((d(0) & 0xff) << 8 | (d(1) & 0xff))
  }

  /** Rows a run times per prefix. One run must fit the benchmark's time
    * budget with a cold and three warm passes: at local[4] a registry row
    * costs about 0.3-1.5 s even on the small fixture (up to 8 s cold for
    * memo-building curation rows), mostly Catalyst and per-query table
    * reads, so a run times a fixed sample of its rows. */
  val PerPrefix = 1

  /** Warm passes every untraced run makes. The first is still compiling
    * (about 20% slower than the next), so each op's warm latency is its
    * median over three passes. */
  val MinWarmPasses = 3

  /** Every registry row under a `query` prefix. */
  def matching: Seq[(String, Q)] =
    SparkEntry.queries.toSeq.filter { case (n, _) => QueryRows.exists(n.startsWith) }.sortBy(_._1)

  /** The timed rows, a sample stratified by prefix: each prefix's
    * PerPrefix rows of lowest name hash, so every family of the per-layer
    * metrics is timed. */
  def ops(): Seq[(String, Q)] = QueryRows.flatMap { p =>
    matching.filter(_._1.startsWith(p)).sortBy { case (n, _) => (nameHash(n), n) }.take(PerPrefix)
  }.sortBy(_._1)

  /** Untraced runs verify a third of their rows, rotating with the seed
    * (three consecutive seeds cover every row); traced runs verify all. */
  def verifiedIn(c: Conf, name: String): Boolean =
    c.trace || Math.floorMod(nameHash(name) + c.seed, 3L) == 0

  final case class Sample(op: String, pass: Int, wall: Double, cpu: Double, ok: Boolean)

  /** Time one op to its full result; a throw is recorded, not raised. */
  def timed(spark: SparkSession, c: Conf, name: String, fn: Q, pass: Int,
            built: DataFrame => Unit = _ => ()): Sample = {
    var ok = true
    val c0 = cpuS()
    val w = time {
      try { val df = fn(spark, c.fixture); built(df); noop(df) }
      catch { case e: Throwable =>
        ok = false
        System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    Sample(name, pass, w, cpuS() - c0, ok)
  }

  final case class Ref(hash: String, rows: Long, verdict: String)

  /** The tab-separated lines of `path`, without `#` comments. */
  def readTsv(path: String): Seq[Array[String]] = {
    val f = new java.io.File(path)
    if (!f.exists()) Seq.empty
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t")).toVector
      finally src.close()
    }
  }

  def readReference(path: String): Map[String, Ref] =
    readTsv(path).collect { case Array(n, h, r, v) => n -> Ref(h, r.toLong, v) }.toMap

  /** The committed row counts of the oracle=none rows (expected_rows.tsv). */
  def readExpected(path: String): Map[String, Long] =
    readTsv(path).collect { case Array(n, r) => n -> r.toLong }.toMap

  /** Untimed verify step: each verified op's result against the
    * reference. Oracle rows by the fingerprint that passed the DuckDB
    * cross-check; oracle=none rows by their committed row count. */
  def verify(spark: SparkSession, c: Conf, all: Seq[(String, Q)]): Seq[Map[String, Any]] = {
    val ref = readReference(c.reference)
    val expected = readExpected(c.expected)
    all.filter { case (name, _) => verifiedIn(c, name) }.map { case (name, fn) =>
      val got = try Some(Fingerprint.of(fn(spark, c.fixture))) catch { case e: Throwable =>
        System.err.println(s"[perfbench] verify $name failed: ${e.getMessage}"); None
      }
      val ok = (ref.get(name), got) match {
        case (Some(Ref(h, n, "oracle")), Some(fp)) => fp.hash == h && fp.rows == n
        case (Some(Ref(_, _, "none")), Some(fp)) => expected.get(name).contains(fp.rows)
        case _ => false
      }
      if (!ok) System.err.println(s"[perfbench] WRONG RESULT $name (reference ${ref.get(name)}, " +
        s"expected rows ${expected.get(name)}, got $got)")
      Map("op" -> name, "ok" -> ok, "rows" -> got.map(_.rows).getOrElse(-1L),
        "verdict" -> ref.get(name).map(_.verdict).getOrElse("missing"))
    }
  }

  def runQueries(c: Conf): Map[String, Any] = {
    val all = ops()
    val (spark, setupS, setups) = setup(c, _ => (), _ => ())
    val base = Map("workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace,
      "host" -> host(spark, c), "setup" -> setups, "ops" -> all.map(_._1))
    if (c.trace) base ++ tracedQueries(spark, c, all, setupS)
    else base ++ untracedQueries(spark, c, all, setupS)
  }

  def outcome(samples: Seq[Sample], checks: Seq[Map[String, Any]]): Map[String, Any] = {
    val wrong = checks.filter(_("ok") == false).map(_("op").toString).toSet
    val failed = samples.count(s => !s.ok || wrong(s.op))
    Map("attempted" -> samples.size, "failed" -> failed,
      "correct" -> (failed == 0 && wrong.isEmpty), "verify" -> checks)
  }

  def untracedQueries(spark: SparkSession, c: Conf, all: Seq[(String, Q)],
                      setupS: Double): Map[String, Any] = {
    val rng = new scala.util.Random(c.seed)
    val t0 = System.nanoTime()
    Memos.clearAll()
    val samples = ArrayBuffer.empty[Sample]
    val passes = ArrayBuffer.empty[Double]
    val passCpu = ArrayBuffer.empty[Double]
    var pass = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a cold pass and MinWarmPasses warm ones; another only if it should
    // end in time
    while (pass <= MinWarmPasses || elapsed + passes.last <= c.seconds) {
      val order = if (pass == 0) all else rng.shuffle(all)
      val c0 = cpuS()
      passes += time(order.foreach { case (n, fn) => samples += timed(spark, c, n, fn, pass) })
      passCpu += cpuS() - c0
      pass += 1
    }
    val pinned = pinnedBytes(spark) / 1e6
    val heap = heapMb()
    val checks = verify(spark, c, all)
    val walls = samples.map(_.wall).toSeq
    // a warm pass: the sum over ops of each op's median warm sample, so a
    // burst of host load in one pass moves only the ops it hit
    def warmSum(f: Sample => Double): Double =
      samples.filter(_.pass > 0).groupBy(_.op).values.map(ss => median(ss.map(f).toSeq)).sum
    Map("metrics" -> Map(
        "setup_s" -> setupS,
        "pass_cold_s" -> passes.head,
        "pass_warm_s" -> warmSum(_.wall),
        "pass_cold_cpu_s" -> passCpu.head,
        "pass_warm_cpu_s" -> warmSum(_.cpu),
        "query_p50_s" -> quantile(walls, 0.5),
        "heap_mb" -> heap),
      "query_p90_s" -> quantile(walls, 0.9),
      "pinned_mb" -> pinned,
      "passes_s" -> passes.toSeq, "passes_cpu_s" -> passCpu.toSeq,
      "samples" -> samples.map(s => Map("op" -> s.op, "pass" -> s.pass, "s" -> s.wall, "cpu_s" -> s.cpu,
        "ok" -> s.ok))
    ) ++ outcome(samples.toSeq, checks)
  }

  /** Counters of one traced op, also used by the repeatability check. */
  def counters(st: OpStats): Map[String, Any] = Map(
    "op" -> st.name, "s" -> st.wallS, "jobs" -> st.jobs, "stages" -> st.stages,
    "tasks" -> st.tasks, "input_rows" -> st.inputRows, "shuffle_write_b" -> st.shuffleWriteB,
    "plans" -> st.plans)

  /** catalyst.* and exec.* totals over traced ops. */
  def layerTotals(tr: Tracer, ss: Seq[OpStats]): Map[String, Double] = {
    val mb = 1e6
    val busy = ss.map(s => tr.covered(s.jobIntervals.toSeq, s.startMs, s.endMs) / 1000.0).sum
    Map(
      "catalyst.analysis_ms" -> ss.map(_.phasesMs.getOrElse("analysis", 0.0)).sum,
      "catalyst.optimization_ms" -> ss.map(_.phasesMs.getOrElse("optimization", 0.0)).sum,
      "catalyst.planning_ms" -> ss.map(_.phasesMs.getOrElse("planning", 0.0)).sum,
      "catalyst.plans" -> ss.map(_.plans).sum.toDouble,
      "exec.jobs" -> ss.map(_.jobs).sum.toDouble,
      "exec.stages" -> ss.map(_.stages).sum.toDouble,
      "exec.tasks" -> ss.map(_.tasks).sum.toDouble,
      "exec.failed_tasks" -> ss.map(_.failedTasks).sum.toDouble,
      "exec.shuffle_read_mb" -> ss.map(_.shuffleReadB).sum / mb,
      "exec.shuffle_write_mb" -> ss.map(_.shuffleWriteB).sum / mb,
      "exec.spill_mb" -> ss.map(_.spillB).sum / mb,
      "exec.input_rows" -> ss.map(_.inputRows).sum.toDouble,
      "exec.input_mb" -> ss.map(_.inputB).sum / mb,
      "exec.output_mb" -> ss.map(_.outputB).sum / mb,
      "exec.task_run_s" -> ss.map(_.taskRunMs).sum / 1e3,
      "exec.task_cpu_s" -> ss.map(_.taskCpuNs).sum / 1e9,
      "exec.task_gc_s" -> ss.map(_.taskGcMs).sum / 1e3,
      "exec.job_busy_s" -> busy,
      "exec.driver_gap_s" -> (ss.map(_.wallS).sum - busy))
  }

  def selfMetrics(tr: Tracer): Map[String, Double] = {
    val self = tr.selfTimes()
    Map("self.bench_s" -> self.getOrElse("bench", 0.0),
      "self.catalyst_s" -> self.getOrElse("spark.catalyst", 0.0),
      "self.exec_s" -> self.getOrElse("spark.exec", 0.0),
      "self.graft_s" -> self.filter(_._1.startsWith("graft.")).values.sum)
  }

  def writeTrace(c: Conf, tr: Tracer, extra: Map[String, Any]): String = {
    val path = s"${new java.io.File(c.out).getParent}/trace-${c.workload}-seed${c.seed}.json"
    writeJson(path, Map("workload" -> c.workload, "seed" -> c.seed,
      "self_s" -> tr.selfTimes(), "spans" -> tr.spansJson) ++ extra)
    path
  }

  def tracedQueries(spark: SparkSession, c: Conf, all: Seq[(String, Q)],
                    setupS: Double): Map[String, Any] = {
    val tr = new Tracer(spark)
    tr.attach()
    Memos.clearAll()
    val samples = ArrayBuffer.empty[Sample]
    def pass(p: Int): Seq[OpStats] = all.map { case (n, fn) =>
      val (s, st) = tr.op(n)(timed(spark, c, n, fn, p, tr.noteBuilt)); samples += s; st
    }
    val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime(); val out = body; steps(name) = (System.nanoTime() - t0) / 1e9; out
    }
    val cold = step("cold_pass")(pass(0))
    val pinnedCold = pinnedBytes(spark) / 1e6
    val warm = step("warm_pass")(pass(1))
    tr.detach()
    val untracedWarm = step("untraced_warm_pass")(
      time(all.foreach { case (n, fn) => samples += timed(spark, c, n, fn, 2) }))
    tr.attach()
    val counted = step("count_pass")(all.map { case (n, fn) =>
      tr.op(s"$n#count") {
        try fn(spark, c.fixture).count() catch { case _: Throwable => -1L }
      }._2
    })
    tr.detach()
    val kernels = step("kernels")(Kernels.probe(spark))
    val pinned = pinnedBytes(spark) / 1e6
    val checks = step("verify")(verify(spark, c, all))
    val gaps = all.indices.map { i =>
      Map("op" -> all(i)._1, "noop_s" -> warm(i).wallS, "count_s" -> counted(i).wallS,
        "ratio" -> warm(i).wallS / math.max(counted(i).wallS, 1e-9),
        "noop_input_rows" -> warm(i).inputRows, "count_input_rows" -> counted(i).inputRows)
    }
    val under = gaps.filter(g => g("ratio").asInstanceOf[Double] > 2.0)
    val both = cold ++ warm
    val families = Families.flatMap { case (fam, prefixes) =>
      val fs = both.filter(s => prefixes.exists(s.name.startsWith))
      Seq(s"${fam}_s" -> fs.map(_.wallS).sum, s"${fam}_jobs" -> fs.map(_.jobs).sum.toDouble)
    }
    val traceFile = writeTrace(c, tr, Map("undermeasured" -> under))
    val metrics = zeroLayers ++ layerTotals(tr, both) ++ families ++ kernels ++ selfMetrics(tr) ++ Map(
      "engine.memo_build_s" -> cold.zip(warm).map { case (a, b) => a.wallS - b.wallS }.sum,
      "engine.memo_evictions" -> Memos.evictions.get.toDouble,
      "engine.pinned_mb_after_cold" -> pinnedCold,
      "engine.pinned_mb" -> pinned,
      "engine.warm_no_job_frac" -> warm.count(_.jobs == 0).toDouble / warm.size,
      "ops.undermeasured_rows" -> under.size.toDouble,
      "trace.overhead_s" -> (warm.map(_.wallS).sum - untracedWarm))
    Map("metrics" -> metrics, "setup_s" -> setupS, "trace_file" -> traceFile, "steps_s" -> steps,
      "count_vs_noop" -> gaps, "undermeasured" -> under,
      "op_counters" -> (cold.map(counters(_) + ("pass" -> 0)) ++ warm.map(counters(_) + ("pass" -> 1))),
      "samples" -> samples.map(s => Map("op" -> s.op, "pass" -> s.pass, "s" -> s.wall, "cpu_s" -> s.cpu,
        "ok" -> s.ok))
    ) ++ outcome(samples.toSeq, checks)
  }

  val Views = Seq("agg", "wc", "upsert", "mrbg")

  /** Every per-layer metric name, so each traced run reports all of them;
    * a layer a workload does not exercise reads 0. */
  lazy val zeroLayers: Map[String, Double] = (
    Seq("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
      "catalyst.plans", "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
      "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "exec.input_rows",
      "exec.input_mb", "exec.output_mb", "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
      "exec.job_busy_s", "exec.driver_gap_s", "engine.memo_build_s", "engine.memo_evictions",
      "engine.pinned_mb_after_cold", "engine.pinned_mb", "engine.warm_no_job_frac", "ops.undermeasured_rows",
      "functions.float_dot_ns", "functions.long_dot_ns", "functions.l2_argmin_ns",
      "functions.damerau_lev_ns", "plans.topk_per_group_ns", "incr.delta_rows",
      "incr.state_rows_read", "incr.commit_mb", "iter.mrbg_frontier0_nodes", "trace.overhead_s",
      "self.bench_s", "self.catalyst_s", "self.exec_s", "self.graft_s") ++
    Families.flatMap { case (f, _) => Seq(s"${f}_s", s"${f}_jobs") } ++
    Views.flatMap(v => Seq("read_s", "maintain_s", "commit_s", "recompute_s", "speedup")
      .map(m => s"$v.$m"))).map(_ -> 0.0).toMap

  // ---- evolve -----------------------------------------------------------

  val ViewLayer = Map("agg" -> "graft.incr", "wc" -> "graft.incr",
    "upsert" -> "graft.stream", "mrbg" -> "graft.iter")
  /** Rounds every untraced run makes: rounds get faster for about five
    * rounds as the JVM compiles, so each metric is a median over four. */
  val MinRounds = 4
  val MaxRounds = 40
  val TracedRounds = 2

  def runEvolve(c: Conf): Map[String, Any] = {
    var ev: Evolve = null
    val (spark, setupS, setups) = setup(c,
      s => { ev = new Evolve(s, c.fixture, s"${c.work}/evolve", c.cache); ev.prepare() },
      _ => ev.bootstrap())
    ev.loadReference()
    val stream = Deltas.stream(c.seed, ev.sizes, MaxRounds)
    val tr = if (c.trace) Some(new Tracer(spark)) else None
    // per round: view -> step -> (seconds, stats)
    final case class RoundOut(r: Int, refresh: Double, recompute: Double,
                              steps: Seq[(String, String, Double, Option[OpStats])],
                              wrong: Seq[String], deltaRows: Long, frontier: Int, traced: Boolean,
                              deltaS: Double, checkS: Double, cpu: (Double, Double))
    val rounds = ArrayBuffer.empty[RoundOut]
    val t0 = System.nanoTime()
    var i = 0
    // untraced: at least MinRounds rounds; another only if, at the mean
    // round time so far, it should end in time
    def more = {
      val elapsed = (System.nanoTime() - t0) / 1e9
      if (c.trace) i < 1 + TracedRounds
      else i < MinRounds || (i < MaxRounds && elapsed + elapsed / i <= c.seconds)
    }
    while (more) {
      // traced runs: traced, untraced, traced; the overhead compares the
      // two adjacent warm rounds 2 and 3
      val traced = tr.isDefined && i != 1
      if (traced) tr.get.attach() else tr.foreach(_.detach())
      val t1 = System.nanoTime()
      val x = ev.applyDelta(stream(i))
      val deltaS = (System.nanoTime() - t1) / 1e9
      val steps = ArrayBuffer.empty[(String, String, Double, Option[OpStats])]
      val spans = new Evolve.Spans {
        def apply[T](view: String, step: String)(body: => T): T =
          if (traced) {
            val (out, st) = tr.get.op(s"r${x.r}/$view.$step", ViewLayer(view))(body)
            steps += ((view, step, st.wallS, Some(st))); out
          } else {
            val t = System.nanoTime()
            val out = body
            steps += ((view, step, (System.nanoTime() - t) / 1e9, None)); out
          }
      }
      val c0 = cpuS()
      val refresh = time(ev.refresh(x, spans))
      val c1 = cpuS()
      val recompute = time(ev.recompute(x, spans))
      val cpu = (c1 - c0, cpuS() - c1)
      tr.foreach(_.detach())
      val t2 = System.nanoTime()
      val wrong = try ev.check(x) catch { case e: Throwable =>
        System.err.println(s"[perfbench] evolve check failed: ${e.getMessage}"); Views
      }
      val checkS = (System.nanoTime() - t2) / 1e9
      if (wrong.nonEmpty) System.err.println(s"[perfbench] round ${x.r}: WRONG ${wrong.mkString(",")}")
      x.release()
      rounds += RoundOut(x.r, refresh, recompute, steps.toSeq, wrong, x.rows, x.frontier.size,
        traced, deltaS, checkS, cpu)
      i += 1
    }
    val pinned = pinnedBytes(spark) / 1e6
    val heap = heapMb()
    def perView(rs: Seq[RoundOut], step: String => Boolean): Seq[Double] =
      rs.flatMap(r => Views.map(v => r.steps.filter(s => s._1 == v && step(s._2)).map(_._3).sum))
    val attempted = rounds.size * Views.size * 2
    val failed = rounds.map(_.wrong.size * 2).sum
    val base = Map("workload" -> "evolve", "seed" -> c.seed, "trace" -> c.trace,
      "host" -> host(spark, c), "setup" -> setups, "attempted" -> attempted,
      "failed" -> failed, "correct" -> (failed == 0),
      "rounds" -> rounds.map(r => Map("round" -> r.r, "refresh_s" -> r.refresh,
        "recompute_s" -> r.recompute, "wrong" -> r.wrong, "delta_rows" -> r.deltaRows,
        "frontier0" -> r.frontier, "traced" -> r.traced, "apply_delta_s" -> r.deltaS,
        "check_s" -> r.checkS, "refresh_cpu_s" -> r.cpu._1, "recompute_cpu_s" -> r.cpu._2,
        "steps" -> r.steps.map(s => Map("view" -> s._1, "step" -> s._2, "s" -> s._3)))))
    if (!c.trace) {
      // per op (a view's refresh or recompute): its median over rounds
      def opMedians(step: String => Boolean) =
        Views.indices.map(v => median(rounds.toSeq.map(r => perView(Seq(r), step)(v))))
      val opWalls = perView(rounds.toSeq, _ != "recompute") ++ perView(rounds.toSeq, _ == "recompute")
      base ++ Map("metrics" -> Map(
        "setup_s" -> setupS,
        "pass_cold_s" -> median(rounds.map(_.recompute).toSeq),
        "pass_warm_s" -> median(rounds.map(_.refresh).toSeq),
        "pass_cold_cpu_s" -> median(rounds.map(_.cpu._2).toSeq),
        "pass_warm_cpu_s" -> median(rounds.map(_.cpu._1).toSeq),
        "query_p50_s" -> median(opMedians(_ != "recompute") ++ opMedians(_ == "recompute")),
        "heap_mb" -> heap),
        "query_p90_s" -> quantile(opWalls, 0.9), "pinned_mb" -> pinned)
    } else {
      val tracer = tr.get
      val tRounds = rounds.filter(_.traced).toSeq
      val refreshStats = tRounds.flatMap(_.steps.filter(_._2 != "recompute").flatMap(_._4))
      def stepMed(v: String, step: String) =
        median(tRounds.map(_.steps.filter(s => s._1 == v && s._2 == step).map(_._3).sum))
      val views = Views.flatMap { v =>
        val refresh = tRounds.map(_.steps.filter(s => s._1 == v && s._2 != "recompute").map(_._3).sum)
        val rec = tRounds.map(_.steps.filter(s => s._1 == v && s._2 == "recompute").map(_._3).sum)
        Seq(s"$v.read_s" -> stepMed(v, "read"), s"$v.maintain_s" -> stepMed(v, "maintain"),
          s"$v.commit_s" -> stepMed(v, "commit"), s"$v.recompute_s" -> median(rec),
          s"$v.speedup" -> median(rec) / math.max(median(refresh), 1e-9))
      }
      def perRound(f: RoundOut => Double) = median(tRounds.map(f))
      val stats = (r: RoundOut, steps: String => Boolean) =>
        r.steps.filter(s => steps(s._2)).flatMap(_._4)
      val kernels = Kernels.probe(spark)
      val traceFile = writeTrace(c, tracer, Map.empty)
      val untraced = rounds.filterNot(_.traced).map(_.refresh).toSeq
      val lastTraced = tRounds.last.refresh
      base ++ Map("setup_s" -> setupS, "trace_file" -> traceFile,
        "op_counters" -> refreshStats.map(counters),
        "metrics" -> (zeroLayers ++ layerTotals(tracer, refreshStats) ++ views ++ kernels ++
          selfMetrics(tracer) ++ Map(
          "incr.delta_rows" -> perRound(_.deltaRows.toDouble),
          "incr.state_rows_read" -> perRound(r => stats(r, Set("read", "maintain")).map(_.inputRows).sum.toDouble),
          "incr.commit_mb" -> perRound(r => (stats(r, Set("commit")) ++
            r.steps.filter(s => s._1 == "upsert" && s._2 == "maintain").flatMap(_._4))
            .map(_.outputB).sum / 1e6),
          "iter.mrbg_frontier0_nodes" -> perRound(_.frontier.toDouble),
          "engine.pinned_mb" -> pinned,
          "trace.overhead_s" -> (lastTraced - median(untraced)))))
    }
  }

  // ---- reference --------------------------------------------------------

  /** Dump every timed registry row's result (for the DuckDB oracle check)
    * and record its fingerprint; run.py turns the two into the
    * reference file the verify step reads. */
  def reference(c: Conf): Map[String, Any] = {
    val spark = session(c)
    val dump = c.dumpdir
    val all = ops()
    val oracle = SparkEntry.oracleSql
    val rows = all.map { case (name, fn) =>
      try {
        val df = fn(spark, c.fixture)
        val fp = Fingerprint.of(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
        Map("op" -> name, "hash" -> fp.hash, "rows" -> fp.rows, "ordered" -> fp.ordered,
          "oracle" -> oracle.contains(name))
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] reference $name failed: ${e.getMessage}")
        Map("op" -> name, "hash" -> "", "rows" -> -1L, "ordered" -> false,
          "oracle" -> oracle.contains(name), "error" -> String.valueOf(e.getMessage))
      }
    }
    writeJson(s"$dump/oracle_sql.json", all.flatMap { case (n, _) => oracle.get(n).map(n -> _) }.toMap)
    Map("dump" -> dump, "ops" -> rows)
  }

  /** Row counts of every oracle=none row under a `query` prefix, timed or
    * not, for the committed expected_rows.tsv (`run.py --record-expected`). */
  def rowCounts(c: Conf): Map[String, Any] = {
    val spark = session(c)
    Map("rows" -> matching.filterNot { case (n, _) => SparkEntry.oracleSql.contains(n) }
      .map { case (n, fn) => n -> Fingerprint.of(fn(spark, c.fixture)).rows }.toMap)
  }
}
