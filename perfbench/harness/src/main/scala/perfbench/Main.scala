package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Runs one workload on generated input and writes a raw artifact (op
  * runs, spans, micro-batches, counters) for `perfbench/run.py`, which
  * turns it into metrics. The first pass dumps the workload's SparkEntry
  * outputs the way graft.Verify does, for the oracle check.
  *
  *   perfbench.Main --workload <name> --gen <input dir> --work <dir>
  *     --seconds <n> --trace 0|1 --cores <k> --out <artifact.json>
  *     --check-out <dir>
  *   perfbench.Main --selftest <work dir> --out <result.json>
  */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A timed window runs at least this many passes (and at least its
    * --seconds), so its median is never a single pass. */
  val MinTimedPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    if (opt.contains("selftest")) {
      SelfTest.run(opt("selftest"), opt("out"))
      return
    }
    val w = Workloads.all(opt("workload"))
    val (gen, work) = (opt("gen"), opt("work"))
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val runStart = System.nanoTime()

    // Set-up, three times: session start and a schema read of every
    // input table. The first two sessions are stopped again.
    val tables = new java.io.File(gen).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    val sessionS = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val s = session(cores, work)
      tables.foreach(t => s.read.parquet(t).schema)
      val d = secs(t0)
      if (i < 3) stop(s)
      d
    }
    val spark = SparkSession.active
    val ctx = new Ctx(spark, gen, work)
    val ops = new OpListener
    val plans = new PlanListener(() => ctx.currentOp)
    val batches = new BatchListener(() => ctx.currentOp)
    spark.streams.addListener(batches)

    var t0 = System.nanoTime()
    w.prepare(ctx)
    val prepareS = secs(t0)

    // Warm-up: the first, cold pass is the check pass (SparkEntry
    // outputs written for the oracle instead of drained), then two
    // drained passes. Pass time keeps falling for several passes as the
    // JIT reaches the planner and codegen paths; more warm passes would
    // flatten that slope further but do not fit the run budget.
    val warm = mutable.ArrayBuffer.empty[Double]
    var passNo = 0
    def onePass(label: String): Double = {
      ctx.passLabel = label
      val t = System.nanoTime()
      w.pass(ctx, passNo)
      passNo += 1
      secs(t)
    }
    t0 = System.nanoTime()
    ctx.dumpDir = Some(opt("check-out"))
    warm += onePass("check")
    ctx.dumpDir = None
    (0 until 2).foreach(i => warm += onePass(s"warm$i"))
    val warmS = secs(t0)

    // The timed window: whole passes for --seconds, at least
    // MinTimedPasses of them. The traced run pairs each with a
    // listener-on pass, alternating which goes first (ABBA), so both
    // sides sit on the same part of the warm-up curve and their
    // difference is the tracing overhead.
    val timed, tracedPasses = mutable.ArrayBuffer.empty[Double]
    def tracedPass(): Unit = {
      spark.sparkContext.addSparkListener(ops)
      spark.listenerManager.register(plans)
      tracedPasses += onePass(s"traced${tracedPasses.size}")
      spark.sparkContext.removeSparkListener(ops)
      spark.listenerManager.unregister(plans)
    }
    t0 = System.nanoTime()
    while (timed.size < MinTimedPasses || secs(t0) < seconds) {
      val tracedFirst = traced && timed.size % 2 == 1
      if (tracedFirst) tracedPass()
      timed += onePass(s"timed${timed.size}")
      if (traced && !tracedFirst) tracedPass()
    }

    val layers = if (traced) {
      ctx.passLabel = "layers"
      w.layers(ctx)
    } else Map.empty[String, Double]
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    ctx.passLabel = "check"
    t0 = System.nanoTime()
    val checks = w.checks(ctx)
    val checkS = secs(t0)

    val heapPeakMb = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
    }
    val j = Json
    val artifact = j.obj(
      "workload" -> w.name, "cores" -> cores, "traced" -> traced,
      "seconds" -> seconds,
      "session_s" -> sessionS, "prepare_s" -> prepareS,
      "warm_s" -> warmS, "warm_passes" -> warm.toSeq,
      "timed_passes" -> timed.toSeq, "traced_passes" -> tracedPasses.toSeq,
      "check_s" -> checkS, "info" -> ctx.info.toMap,
      "jvm_peak_heap_mb" -> heapPeakMb,
      "entry_ops" -> w.entryOps,
      "runs" -> ctx.runs.toSeq.map(r => j.obj("id" -> r.id, "name" -> r.name,
        "pass" -> r.pass, "s" -> r.seconds, "persisted_left" -> r.persistedLeft,
        "error" -> r.error.orNull)),
      "spans" -> ctx.spans.all.toSeq.map(s => Seq(s.id, s.name, s.parent, s.op,
        (s.start - runStart) / 1e9, (s.end - runStart) / 1e9)),
      "batches" -> batches.batches.toSeq.map { case (op, rows, d) =>
        j.obj(("op" -> op) +: ("rows" -> rows) +: d.toSeq: _*) },
      "work" -> ops.byOp.toSeq.map { case (op, x) => j.obj("op" -> op,
        "jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
        "failed_tasks" -> x.failedTasks, "task_run_s" -> x.runMs / 1e3,
        "task_cpu_s" -> x.cpuNs / 1e9, "gc_s" -> x.gcMs / 1e3,
        "shuffle_read_bytes" -> x.shuffleRead,
        "shuffle_write_bytes" -> x.shuffleWrite, "spill_bytes" -> x.spill,
        "output_bytes" -> x.outputBytes, "peak_exec_mem_bytes" -> x.peakExecMem,
        "job_intervals" -> x.jobIntervals.toSeq.map { case (a, b) =>
          Seq((a - runStart) / 1e9, (b - runStart) / 1e9) }) },
      "plans" -> plans.byOp.toSeq.map { case (op, m) =>
        j.obj(("op" -> op) +: m.toSeq: _*) },
      "layers" -> layers,
      "checks" -> checks.map { case (n, ok, d) =>
        j.obj("name" -> n, "ok" -> ok, "detail" -> d) })
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")),
      j.render(artifact))

    // the oracle SQL and crash roster graft.Verify writes beside its dumps
    val failed = ctx.runs.filter(r => r.pass == "check" && r.error.nonEmpty)
      .map(_.name.stripPrefix("queries."))
    new java.io.File(opt("check-out")).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(opt("check-out"), "oracle_sql.json"),
      j.render(graft.SparkEntry.oracleSql.filter(kv => w.entryOps.contains(kv._1))))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(opt("check-out"), "verify_errors.json"),
      j.render(failed.toSeq))
    stop(spark)
  }
}

/** Minimal JSON writer for the artifact (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
