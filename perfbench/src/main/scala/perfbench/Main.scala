package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SqlAccess

/** One benchmark run of one workload in one JVM. Launched by `run.py`,
  * which builds the classes, generates the query_mix tables and checks the
  * query outputs against the DuckDB oracle; this program writes its
  * measurements to `--out` as one JSON object.
  *
  * A run: one session set-up, input generation from the seed, the
  * workload's warm-up batches, then whole batches until `--seconds` have
  * passed. `setup_s` is
  * the time from process start to the first timed operation, less the
  * benchmark's own input generation and checks. With `--trace 1` untraced
  * and traced batches alternate: traced batches give the per-layer metrics,
  * the ratio of the two gives the tracing overhead.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, workDir: String, out: String,
                        dataDir: String, queries: String)

  /** One timed operation. `run` does the work and returns the output check,
    * which runs after the clock stops and returns the problems it found.
    */
  final case class Op(label: String, work: Double, run: (Tracer, Boolean) => () => Seq[String])

  final case class Rec(batch: Int, label: String, ms: Double, traced: Boolean,
                       warm: Boolean, problems: Seq[String])

  trait Workload {
    def inputs: Map[String, Any]
    def batch(i: Int): Seq[Op]
    /** Warm-up batches before the window. */
    def warmUps: Int = 1
  }

  val Workloads: Seq[String] = Seq("energy_etl", "forecast_search", "query_mix")

  /** Spans of each workload, in the order the per-layer metrics list them. */
  val LayerSpans: Seq[(String, Seq[String])] = Seq(
    "energy_etl" -> Seq("sources.scan", "pipelines.balance_sheet", "pipelines.weather_report",
      "pipelines.assemble_dataset", "sources.sink"),
    "forecast_search" -> Seq("ops.blocked_folds", "ml.arimax_fit", "ml.gbt_fit", "ml.forecast",
      "ml.bo_driver", "ml.bo_objective", "ml.dtw_kmeans", "ts.decompose"),
    "query_mix" -> Seq("queries.relational", "queries.series", "queries.text"))
  val SpanMetrics: Seq[(String, String)] = Seq("busy_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_s" -> "s", "shuffle_write_mb" -> "MB", "gc_s" -> "s")
  val QueryMetrics: Seq[(String, String)] = Seq("impl_ms" -> "ms", "plan_ms" -> "ms",
    "exec_ms" -> "ms", "exchanges" -> "count")
  val WorkloadMetrics: Seq[(String, String)] = Seq("core_busy_ratio" -> "ratio",
    "skipped_stage_ratio" -> "ratio", "tracing_overhead" -> "ratio")

  /** The per-layer metric names, with units, every traced run reports
    * (BENCHMARK.json's `per_layer`).
    */
  val PerLayer: Seq[(String, String)] =
    LayerSpans.flatMap { case (w, spans) =>
      spans.flatMap { s =>
        SpanMetrics.map { case (m, u) => s"$s.$m" -> u } ++
          (if (w == "query_mix") QueryMetrics.map { case (m, u) => s"$s.$m" -> u } else Nil)
      }
    } ++ Workloads.flatMap(w => WorkloadMetrics.map { case (m, u) => s"$w.$m" -> u }) :+
      ("forecast_search.jobs_per_fit" -> "count")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("work-dir"), get("out"),
      kv.getOrElse("data-dir", ""), kv.getOrElse("queries", ""))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0 && a.cores > 0, "need --seconds > 0 and --cores > 0")
    a
  }

  def session(a: Args): SparkSession =
    SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()

  def load1(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split("\\s+")(0).toDouble).getOrElse(-1.0)

  def peakRssMb(): Double =
    scala.util.Try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Runtime.getRuntime.totalMemory() / 1e6)

  /** Heap in use once repeated full collections stop freeing memory:
    * Spark's cleaner releases blocks asynchronously, after the collection
    * that found them unreachable.
    */
  def settledHeap(): Long = {
    def used(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var cur = used()
    var n = 0
    while (n < 20 && prev - cur > (1L << 20)) {
      Thread.sleep(100)
      prev = cur
      cur = used()
      n += 1
    }
    cur
  }

  @volatile private var probeSink = 0L

  /** Fixed-cost single-thread CPU probe in ms (an FNV loop). */
  def cpuProbeMs(): Double = {
    var h = 0xcbf29ce484222325L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 100000000) { h = (h ^ i) * 0x100000001b3L; i += 1 }
    probeSink ^= h
    (System.nanoTime() - t0) / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load1Before = load1()
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.workDir))

    // ---- set-up from process start: session and extensions
    val spark = session(a)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    cpuProbeMs()
    val cpuProbe = Stats.median((1 to 3).map(_ => cpuProbeMs()))
    val counters = if (a.trace) Some(SparkCounters.install(spark)) else None

    val genT0 = System.nanoTime()
    val (w, workUnit) = workload(spark, a)
    val genS = (System.nanoTime() - genT0) / 1e9

    // ---- warm-up batches, then whole batches until the window has passed.
    // What a batch leaves cached is released after it; the workload's own
    // inputs, cached while generating them, stay.
    val inputRdds = spark.sparkContext.getPersistentRDDs.keySet
    val off = new Tracer(false)
    val on = new Tracer(true)
    val recs = mutable.ArrayBuffer.empty[Rec]
    val cachedAfter = mutable.ArrayBuffer(SqlAccess.cachedEntries(spark))
    def runBatch(b: Int, traced: Boolean, warm: Boolean): Unit = {
      w.batch(b).foreach { op =>
        val t0 = System.nanoTime()
        val (ms, problems) =
          try {
            val check = op.run(if (traced) on else off, traced)
            val ms = (System.nanoTime() - t0) / 1e6
            (ms, try check() catch { case e: Throwable => Seq(s"check failed: $e") })
          } catch { case e: Throwable =>
            ((System.nanoTime() - t0) / 1e6, Seq(s"${op.label}: $e"))
          }
        recs += Rec(b, op.label, ms, traced, warm, problems)
      }
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!inputRdds(id)) rdd.unpersist(blocking = true)
      }
      cachedAfter += SqlAccess.cachedEntries(spark)
      System.gc() // every batch starts from a collected heap
    }
    (0 until w.warmUps).foreach(runBatch(_, traced = false, warm = true))
    val setupS = sessionS + recs.map(_.ms).sum / 1e3
    val firstTimed = w.warmUps
    var b = firstTimed
    val window0 = System.nanoTime()
    def window = recs.filterNot(_.warm)
    def both = !a.trace || (window.exists(_.traced) && window.exists(!_.traced))
    while ((System.nanoTime() - window0) / 1e9 < a.seconds || !both) {
      runBatch(b, traced = a.trace && (b - firstTimed) % 2 == 1, warm = false)
      b += 1
    }
    val windowS = (System.nanoTime() - window0) / 1e9
    val liveHeap = settledHeap()

    // ---- metrics
    val ops = window.toSeq
    val untraced = ops.filterNot(_.traced)
    val workByLabel = w.batch(1).map(o => o.label -> o.work).toMap
    val batchS = Stats.median(untraced.groupBy(_.batch).values.map(_.map(_.ms).sum / 1e3).toSeq)
    val workPerS = untraced.map(r => workByLabel.getOrElse(r.label, 0.0)).sum /
      (untraced.map(_.ms).sum / 1e3)
    val liveHeapMb = liveHeap / 1e6
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(("setup_s", setupS, "s"),
        ("live_heap_mb", liveHeapMb, "MB"), ("batch_s", batchS, "s"),
        ("work_per_s", workPerS, "work/s"))
      else {
        SparkCounters.drain(spark)
        layerMetrics(a, on.spans, counters.get.snapshot, ops, w)
      }

    val all = recs.toSeq
    val failed = all.count(_.problems.nonEmpty)
    val problems = all.flatMap(_.problems).distinct.take(10)
    val report = mutable.LinkedHashMap[String, Any](
      "batches" -> untraced.map(_.batch).distinct.size,
      "batch_s" -> batchS,
      "op_samples" -> untraced.size,
      "op_p50_ms" -> Stats.median(untraced.map(_.ms)),
      "op_p90_ms" -> Stats.percentile(untraced.map(_.ms), 90),
      "work_unit" -> workUnit,
      "work_per_s" -> workPerS,
      "live_heap_mb" -> liveHeapMb,
      "peak_rss_mb" -> peakRssMb(),
      "failed_ratio" -> failed.toDouble / all.size)
    val spansFile = s"${a.workDir}/spans.json"
    if (a.trace) {
      val snap = counters.get.snapshot
      Files.writeString(Paths.get(spansFile), Json(on.spans.map { s =>
        val c = snap.getOrElse(s.id, new Counters)
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "jobs" -> c.jobs, "stages" -> c.stages,
          "skipped_stages" -> c.skippedStages, "tasks" -> c.tasks, "task_ms" -> c.taskRunMs,
          "shuffle_write_bytes" -> c.shuffleWriteBytes, "gc_ms" -> c.gcMs,
          "spill_bytes" -> c.spillBytes, "sql_executions" -> c.queries,
          "plan_ms" -> c.planMs, "exchanges" -> c.exchanges)
      }))
    }
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "cores" -> a.cores,
      "attempted" -> all.size, "failed" -> failed, "problems" -> problems,
      "metrics" -> mutable.LinkedHashMap(
        metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }: _*),
      "report" -> report,
      "inputs" -> w.inputs,
      "host" -> Map("nproc" -> a.cores, "load1_before" -> load1Before, "load1_after" -> load1(),
        "cpu_probe_ms" -> cpuProbe),
      "setup_s" -> Map("session" -> sessionS, "warm_up_batches" -> (setupS - sessionS)), "generate_s" -> genS, "window_s" -> windowS,
      "batch_s_all" -> all.groupBy(_.batch).toSeq.sortBy(_._1).map { case (i, rs) =>
        Map("batch" -> i, "s" -> rs.map(_.ms).sum / 1e3, "traced" -> rs.exists(_.traced)) },
      "batches" -> (b - firstTimed),
      "cached_datasets" -> Map("inputs" -> cachedAfter.head, "after_each_batch" -> cachedAfter.tail),
      "ops_by_label" -> all.filterNot(_.warm).groupBy(_.label).map { case (k, v) => k -> v.size },
      "median_ms_by_label" -> untraced.groupBy(_.label).map { case (k, v) =>
        k -> Stats.median(v.map(_.ms)) },
      "spans_file" -> (if (a.trace) spansFile else null))
    Files.writeString(Paths.get(a.out), Json(result) + "\n")
    spark.stop()
  }

  /** Per-layer metrics of the traced batches: each span's totals per
    * traced pass (per traced query for the query families), plus the
    * workload-level ratios. Spans of other workloads report 0.
    */
  def layerMetrics(a: Args, spans: Seq[SpanRec], snap: Map[Long, Counters],
                   ops: Seq[Rec], w: Workload): Seq[(String, Double, String)] = {
    val self = Tracer.selfTimes(spans)
    val byName = spans.groupBy(_.name)
    val tracedOps = ops.filter(_.traced)
    val passes = tracedOps.map(_.batch).distinct.size.toDouble
    val qm = w match { case q: QueryMixWorkload => Some(q.qm); case _ => None }
    def denom(span: String): Double = qm match {
      case Some(m) if span.startsWith("queries.") =>
        m.tracedQueries(span.stripPrefix("queries.")).toDouble
      case _ => passes
    }
    def sumC(ss: Seq[SpanRec])(f: Counters => Long): Double =
      ss.map(s => snap.get(s.id).map(f).getOrElse(0L)).sum.toDouble
    val values = mutable.LinkedHashMap.empty[String, Double]
    LayerSpans.foreach { case (wl, names) =>
      names.foreach { n =>
        val ss = byName.getOrElse(n, Nil)
        val d = if (ss.isEmpty) 1.0 else math.max(1.0, denom(n))
        values(s"$n.busy_s") = ss.map(s => self(s.id)).sum / 1e9 / d
        values(s"$n.jobs") = sumC(ss)(_.jobs) / d
        values(s"$n.tasks") = sumC(ss)(_.tasks) / d
        values(s"$n.task_s") = sumC(ss)(_.taskRunMs) / 1e3 / d
        values(s"$n.shuffle_write_mb") = sumC(ss)(_.shuffleWriteBytes) / 1e6 / d
        values(s"$n.gc_s") = sumC(ss)(_.gcMs) / 1e3 / d
        if (wl == "query_mix") {
          val fam = n.stripPrefix("queries.")
          val (impl, an, ex) = qm.map(m => (m.implMs(fam), m.analysisMs(fam), m.execMs(fam)))
            .getOrElse((0.0, 0.0, 0.0))
          values(s"$n.impl_ms") = impl / d
          values(s"$n.plan_ms") = (sumC(ss)(_.planMs) + an) / d
          values(s"$n.exec_ms") = ex / d
          values(s"$n.exchanges") = sumC(ss)(_.exchanges) / d
        }
      }
    }
    Workloads.foreach { wl =>
      val mine = wl == a.workload
      val busy = sumC(spans)(_.taskRunMs) / 1e3
      val wall = tracedOps.map(_.ms).sum / 1e3
      val stages = sumC(spans)(_.stages)
      def batchMean(rs: Seq[Rec]) = rs.groupBy(_.batch).values.map(_.map(_.ms).sum).sum /
        math.max(1, rs.map(_.batch).distinct.size)
      values(s"$wl.core_busy_ratio") = if (mine) busy / (wall * a.cores) else 0.0
      values(s"$wl.skipped_stage_ratio") =
        if (mine && stages > 0) sumC(spans)(_.skippedStages) / stages else 0.0
      values(s"$wl.tracing_overhead") =
        if (mine) batchMean(tracedOps) / batchMean(ops.filterNot(_.traced)) else 0.0
    }
    val fits = byName.getOrElse("ml.arimax_fit", Nil) ++ byName.getOrElse("ml.gbt_fit", Nil)
    values("forecast_search.jobs_per_fit") =
      if (fits.isEmpty) 0.0 else sumC(fits)(_.jobs) / fits.size
    PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }

  /** The first warm-up batch writes each query's result for the oracle
    * compare `run.py` makes after the run; later batches use the noop sink.
    */
  final class QueryMixWorkload(val qm: QueryMix, seed: Long, workDir: String) extends Workload {
    // A pass is short and its JIT warm-up long: on a 4-core host the
    // second pass still ran ~20 % slower than the third.
    override def warmUps = 2
    private val checkDir = s"$workDir/query-check"
    qm.writeOracle(checkDir)
    def inputs: Map[String, Any] = Map("queries" -> qm.families.values.sum,
      "queries_by_family" -> qm.families)
    def batch(i: Int): Seq[Op] = qm.order(seed, i).map { n =>
      Op(n, 1.0, (t, traced) => {
        if (i == 0) qm.dump(n, checkDir) else qm.run(n, t, traced)
        () => Nil
      })
    }
  }

  /** Generate the workload's inputs from the seed; returns it with the
    * name of its work unit.
    */
  def workload(spark: SparkSession, a: Args): (Workload, String) = a.workload match {
    case "energy_etl" =>
      val dir = Paths.get(a.workDir, "etl-input")
      val truth = EnergyEtl.generate(dir, a.seed)
      val files = EnergyEtl.files(dir)
      val out = s"${a.workDir}/etl-output/dataset.csv"
      val mb = truth.rawBytes / 1e6
      (new Workload {
        def inputs = truth.props
        def batch(i: Int) = Seq(Op("pass", mb, (t, traced) => {
          t.span("energy_etl.pass")(EnergyEtl.pass(spark, files, out, t, traced))
          () => EnergyEtl.check(out, truth)
        }))
      }, "raw input MB")
    case "forecast_search" =>
      val table = ForecastSearch.generate(spark, a.seed)
      val slices = ForecastSearch.monthSlices(table.df)
      slices.count()
      val naive = ForecastSearch.seasonalNaiveMae(table.y)
      var ref: Option[ForecastSearch.PassResult] = None
      (new Workload {
        def inputs = table.props + ("seasonal_naive_mae" -> naive)
        def batch(i: Int) = Seq(Op("pass", ForecastSearch.FitsPerPass, (t, traced) => {
          val r = t.span("forecast_search.pass")(
            ForecastSearch.pass(table, slices, t))
          () => {
            if (ref.isEmpty) ref = Some(r)
            ForecastSearch.check(r, ref.get, naive)
          }
        }))
      }, "model fits")
    case "query_mix" =>
      val names = new String(Files.readAllBytes(Paths.get(a.queries))).split("\n")
        .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toSeq
      (new QueryMixWorkload(new QueryMix(spark, a.dataDir, names), a.seed, a.workDir), "queries")
  }
}
