package anonbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.anonbench.ListenerBusBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One run of one workload: set up, one cold job, warm jobs until the
  * measuring time is used, and on a traced run traced jobs and single
  * module calls as well. Prints the result as one JSON object on the last
  * line of standard output.
  *
  * {{{
  * anonbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> [--rows <n>]
  * }}}
  */
object Main {

  /** End-to-end metrics (untraced run), name → unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "job_s" -> "s", "rows_per_s" -> "rows/s", "cold_job_s" -> "s",
    "setup_s" -> "s", "info_loss" -> "L1/row", "shuffle_mb" -> "MB",
    "live_heap_mb" -> "MB")

  /** Per-layer metrics (traced run), name → unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "operators.prefixscan.s" -> "s",
    "operators.neighborjoin.s" -> "s",
    "operators.neighborjoin.pairs" -> "count",
    "operators.neighborjoin.pairs_per_row" -> "pairs/row",
    "operators.neighborjoin.shuffle_mb" -> "MB",
    "operators.neighborjoin.util" -> "ratio",
    "graph.cc.s" -> "s", "graph.cc.jobs" -> "count",
    "graph.cc.edges" -> "count", "graph.cc.shuffle_mb" -> "MB",
    "graph.cc.util" -> "ratio",
    "graph.scc.s" -> "s", "graph.scc.jobs" -> "count",
    "graph.scc.util" -> "ratio",
    "dbscan.sweep.s" -> "s", "dbscan.sweep.jobs" -> "count",
    "dbscan.run.s" -> "s", "dbscan.run.jobs" -> "count",
    "dbscan.outputs.s" -> "s", "dbscan.outputs.jobs" -> "count",
    "dbscan.outputs.mb" -> "MB",
    "kmeans.sweep.s" -> "s", "kmeans.sweep.jobs" -> "count",
    "kmeans.fit.s" -> "s", "kmeans.fit.jobs" -> "count",
    "kmeans.fit.lloyd_iters" -> "count",
    "kmeans.outputs.s" -> "s", "kmeans.outputs.mb" -> "MB",
    "functions.nearest.s" -> "s", "functions.nearest.rows_per_s" -> "rows/s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.core_util" -> "ratio", "spark.idle_core_s" -> "s",
    "spark.ms_per_job" -> "ms", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.failed_tasks" -> "count",
    "setup.session_s" -> "s", "setup.gen_s" -> "s",
    "trace.overhead_s" -> "s")

  /** Set-ups per run; `setup_s` is their median. */
  val SetupRounds = 3
  /** Warm jobs a run makes even when they overrun the measuring time. */
  val MinWarmJobs = 2

  private val MB = 1e6

  final case class Setup(total: Double, session: Double, gen: Double)

  /** One job: its wall time, what the checker said (or why it failed),
    * and its root span. */
  final case class JobRun(index: Int, seconds: Double,
                          result: Either[String, JobResult], span: Span,
                          work: Work, heapPeak: Long)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("anonbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  /** The result line: `metrics` as {name: {value, unit}}. */
  def resultJson(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, String, Double)]): String = {
    val ms = metrics.map { case (n, u, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val wl = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val rows = opts.get("rows").map(_.toLong).getOrElse(wl.rows)
    val cores = Runtime.getRuntime.availableProcessors

    // set-up, several times: session up, input generated and cached. The
    // first is timed from JVM start; the others restart the session.
    var spark: SparkSession = null
    var input: DataFrame = null
    val setups = (1 to SetupRounds).map { i =>
      val t0 = if (i == 1) jvmStartMs else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.currentTimeMillis()
      input = Gen.points(spark, seed, rows, cores)
        .persist(StorageLevel.MEMORY_ONLY)
      input.count()
      val t2 = System.currentTimeMillis()
      Setup((t2 - t0) / 1e3, (t1 - t0) / 1e3, (t2 - t1) / 1e3)
    }
    val sc = spark.sparkContext
    val records = wl.records(input)

    val heap = new Heap
    val counters = new Counters
    sc.addSparkListener(counters)
    val spans = new Spans(sc, heap)
    val ctx = Ctx(spark, input, records, cores, spans)

    // Each job starts from the same state: only the input is cached, the
    // heap is collected, and the output directory is fresh.
    def reset(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      input.persist(StorageLevel.MEMORY_ONLY).count()
      System.gc()
    }
    def runJob(i: Int, detailed: Boolean): JobRun = {
      reset()
      val dir = s"$work/out/job-$i"
      spans.detailed = detailed
      heap.reset()
      val t0 = System.nanoTime()
      val (result, span) = spans.record("job") {
        try Right(wl.job(ctx, dir))
        catch { case NonFatal(e) =>
          e.printStackTrace()
          Left(s"${e.getClass.getName}: ${e.getMessage}")
        }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val peak = heap.peakBytes
      ListenerBusBridge.drain(sc)
      deleteTree(Paths.get(dir))
      JobRun(i, secs, result, span, spans.inclusive(span, counters),
        peak)
    }

    val cold = runJob(0, detailed = false)
    val warm = mutable.ArrayBuffer.empty[JobRun]
    val tracedJobs = mutable.ArrayBuffer.empty[JobRun]
    val t0 = System.nanoTime()
    var i = 1
    while ((System.nanoTime() - t0) / 1e9 < seconds || warm.size < MinWarmJobs ||
        (traced && tracedJobs.isEmpty)) {
      if (traced && i % 2 == 0) tracedJobs += runJob(i, detailed = true)
      else warm += runJob(i, detailed = false)
      i += 1
    }
    val jobs = (cold +: warm.toSeq) ++ tracedJobs
    val ok = jobs.flatMap(_.result.toOption)
    if (ok.isEmpty) {
      System.err.println(s"${wl.name}: no job succeeded")
      sys.exit(1)
    }
    if (traced) {
      reset()
      spans.detailed = true
      val last = tracedJobs.flatMap(_.result.toOption).lastOption
        .getOrElse(ok.last)
      wl.probe(ctx, last)
      ListenerBusBridge.drain(sc)
    }

    // a job fails when it threw, when a check failed, or when its output
    // differs from the first job that passed its checks
    val ref = ok.find(_.verdict.ok).getOrElse(ok.head).verdict
    def failure(j: JobRun): Option[String] = j.result match {
      case Left(err) => Some(err)
      case Right(r) if !r.verdict.ok => Some(r.verdict.failures.mkString("; "))
      case Right(r) if r.verdict.digest != ref.digest =>
        Some(s"digest ${r.verdict.digest} differs from ${ref.digest}")
      case Right(r) if r.verdict.infoLoss != ref.infoLoss =>
        Some(s"info loss ${r.verdict.infoLoss} differs from ${ref.infoLoss}")
      case _ => None
    }
    val failures = jobs.flatMap(j => failure(j).map(j.index -> _))
    failures.foreach { case (idx, f) =>
      System.err.println(s"${wl.name} job $idx FAILED: $f")
    }
    val failed = failures.length

    val jobS = median(warm.map(_.seconds).toSeq)
    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        val values = Map(
          "job_s" -> jobS,
          "rows_per_s" -> rows / jobS,
          "cold_job_s" -> cold.seconds,
          "setup_s" -> median(setups.map(_.total)),
          "info_loss" -> ref.infoLoss / ref.rows,
          "shuffle_mb" -> median(warm.map(_.work.shuffleWrite / MB).toSeq),
          "live_heap_mb" -> median(warm.map(_.heapPeak / MB).toSeq))
        EndToEnd.map { case (n, u) => (n, u, values(n)) }
      } else {
        val values = Layers.values(spans, counters, tracedJobs.toSeq, cores) ++
          Map("setup.session_s" -> median(setups.map(_.session)),
            "setup.gen_s" -> median(setups.map(_.gen)),
            "trace.overhead_s" -> (median(tracedJobs.map(_.seconds).toSeq) - jobS))
        PerLayer.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
      }

    if (traced) {
      val file = Paths.get(work).getParent.resolve(s"traces/${wl.name}-$seed.jsonl")
      Layers.writeTrace(file, spans, counters)
      System.err.println(s"trace written to $file")
    }
    println(s"${wl.name} seed=$seed rows=$rows records=$records: " +
      s"${jobs.length} jobs (1 cold, ${warm.size} warm, ${tracedJobs.size} traced), " +
      s"error_rate=${failed.toDouble / jobs.length} ($failed/${jobs.length}), " +
      s"seconds=${jobs.map(j => f"${j.seconds}%.2f").mkString("/")}, " +
      s"spark_jobs=${jobs.map(_.work.jobs).mkString("/")}, " +
      s"digest=${ref.digest}, " +
      ok.head.notes.map { case (k, v) => s"$k=$v" }.mkString(", "))
    heap.close()
    spark.stop()
    println(resultJson(failed == 0, jobs.length, failed, metrics))
    System.out.flush()
    sys.exit(0)
  }

  def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }
}

/** Per-layer metrics and the trace file, from the recorded spans. */
object Layers {
  private val MB = 1e6

  /** Inside traced jobs: the module calls the job itself makes. */
  private val InJob = Seq("operators.prefixscan", "dbscan.sweep",
    "dbscan.outputs", "kmeans.sweep", "kmeans.outputs")

  def values(spans: Spans, counters: Counters, traced: Seq[Main.JobRun],
             cores: Int): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    def put(prefix: String, s: Span): Unit = {
      val w = spans.inclusive(s, counters)
      out(s"$prefix.s") = s.seconds
      out(s"$prefix.jobs") = w.jobs.toDouble
      out(s"$prefix.shuffle_mb") = w.shuffleWrite / MB
      out(s"$prefix.mb") = w.outputBytes / MB
      out(s"$prefix.util") = w.taskMs / 1e3 / (s.seconds * cores)
      s.attrs.foreach { case (k, v) => out(s"$prefix.$k") = v }
    }
    // module spans inside traced jobs: the median job's span
    for (name <- InJob) {
      val per = traced.flatMap(j => spans.within(j.span, name))
      if (per.nonEmpty) put(name, per.sortBy(_.seconds).apply(per.length / 2))
    }
    // single module calls, outside any job
    for (name <- Seq("operators.neighborjoin", "graph.cc", "graph.scc",
                     "dbscan.run", "kmeans.fit", "functions.nearest"))
      spans.all.findLast(s => s.name == name && s.parent == 0L)
        .foreach(put(name, _))
    for (p <- out.get("operators.neighborjoin.pairs");
         r <- out.get("operators.neighborjoin.rows"))
      out("operators.neighborjoin.pairs_per_row") = p / r
    for (n <- out.get("functions.nearest.rows"); s <- out.get("functions.nearest.s"))
      out("functions.nearest.rows_per_s") = n / s

    // Spark totals per traced job (median job)
    def med(f: Main.JobRun => Double) = Main.median(traced.map(f))
    out("spark.jobs") = med(_.work.jobs.toDouble)
    out("spark.tasks") = med(_.work.tasks.toDouble)
    out("spark.task_s") = med(_.work.taskMs / 1e3)
    out("spark.core_util") = med(j => j.work.taskMs / 1e3 / (j.seconds * cores))
    out("spark.idle_core_s") = med(j => j.seconds * cores - j.work.taskMs / 1e3)
    out("spark.ms_per_job") = med(j => j.seconds * 1e3 / math.max(1L, j.work.jobs))
    out("spark.gc_s") = med(_.span.gcMs / 1e3)
    out("spark.shuffle_read_mb") = med(_.work.shuffleRead / MB)
    out("spark.spill_mb") = med(_.work.spill / MB)
    out("spark.failed_tasks") = med(_.work.failedTasks.toDouble)
    out.toMap
  }

  /** One JSON object per span: timing, parent, its own Spark work and the
    * counts recorded on it. */
  def writeTrace(file: java.nio.file.Path, spans: Spans,
                 counters: Counters): Unit = {
    val t0 = spans.all.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.all.map { s =>
      val w = counters.of(s.id)
      val attrs = s.attrs.map { case (k, v) => s""", "$k": $v""" }.mkString
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_s": ${(s.startNs - t0) / 1e9}, "dur_s": ${s.seconds}, """ +
        s""""gc_s": ${s.gcMs / 1e3}, "self_jobs": ${w.jobs}, """ +
        s""""self_tasks": ${w.tasks}, "self_task_s": ${w.taskMs / 1e3}, """ +
        s""""self_shuffle_write_mb": ${w.shuffleWrite / MB}, """ +
        s""""self_shuffle_read_mb": ${w.shuffleRead / MB}, """ +
        s""""self_spill_mb": ${w.spill / MB}, """ +
        s""""self_failed_tasks": ${w.failedTasks}$attrs}"""
    }
    Files.createDirectories(file.getParent)
    Files.write(file, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
