package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, a scratch directory inside the
  * checkout, and the seed its inputs derive from. */
final case class Ctx(spark: SparkSession, work: String, seed: Long)

/** A workload: inputs built at set-up, a closed loop of requests from one
  * client thread, and output checks after the loop. */
trait Workload {
  /** How many times set-up runs; `setup_s` is the median. */
  def setupReps: Int = 3
  /** Build everything the loop needs; the last repetition's state is kept. */
  def setup(rec: Recorder, rep: Int): Unit
  /** Run every request kind once, untimed and unchecked, after set-up. */
  def warmUp(): Unit
  /** Send requests until `seconds` have passed (and at least one whole
    * round has run), each one only after the previous returned. */
  def measure(rec: Recorder, seconds: Double): Unit
  /** Workload-level numbers read after the loop (storage, sizes, counts). */
  def gauges(): Map[String, Double] = Map.empty
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --out RAW.json --work DIR`. Writes the raw samples of the run to
  * `--out`; perfbench/run.py turns them into the metrics line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def mark(name: String): Unit = marks(name) = (System.currentTimeMillis() - jvmStart) / 1e3
    mark("session")
    val ctx = Ctx(spark, work, seed)
    val w: Workload = workload match {
      case "bulk_batch" => new BulkBatch(ctx)
      case "curation" => new Curation(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val canaryStart = Probes.canaryMs()
    // set-up and, when tracing, the traced phase share one recorder so the
    // ingest spans land in the trace
    val traceRec = new Recorder(traced = traced, spark.sparkContext)
    val setupS = (0 until w.setupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(traceRec, rep)
      (System.nanoTime() - t0) / 1e9
    }
    traceRec.outside()
    mark("setup")
    val w0 = System.nanoTime()
    w.warmUp()
    val warmupS = (System.nanoTime() - w0) / 1e9

    // End-to-end numbers always come from an untraced loop. A traced run
    // follows it with a traced loop of the same length; the latency
    // difference between the two is the tracing overhead.
    mark("warmup")
    val gc0 = Probes.gcMs()
    def loop(r: Recorder): Double = {
      val t0 = System.nanoTime()
      w.measure(r, seconds)
      (System.nanoTime() - t0) / 1e9
    }
    val plain = new Recorder(traced = false, spark.sparkContext)
    val plainS = loop(plain)
    val tracedS = if (traced) loop(traceRec) else 0.0
    mark("measure")
    val gcMs = Probes.gcMs() - gc0
    val canaryEnd = Probes.canaryMs()
    val (stages, jobs) = traceRec.drained()
    Seq(plain, traceRec).foreach(_.runChecks())
    val gauges = w.gauges()
    val heapMb = Probes.retainedHeapMb()
    val kernels = if (traced) Probes.kernels() else Map.empty[String, Double]
    mark("checks")

    def phase(r: Recorder, secs: Double) = Map(
      "seconds" -> secs,
      "ops" -> r.ops.map(o => Seq(o.kind, o.label, o.ms, o.ok, o.results, o.error, o.recall)))
    val raw = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_s" -> setupS, "warmup_s" -> warmupS, "timeline_s" -> marks,
      "untraced" -> phase(plain, plainS),
      "traced" -> (if (traced) Map(
        "phase" -> phase(traceRec, tracedS),
        "spans" -> traceRec.spans.map(s =>
          Seq(s.id, s.parent, s.req, s.name, s.startNs, s.endNs, s.attrs)),
        "stages" -> stages.map(s => Seq(s.req, s.span, s.tasks, s.failedTasks,
          s.runMs, s.cpuMs, s.shuffleBytes, s.spillBytes, s.recordsRead, s.waitMs)),
        "jobs" -> jobs.map(j => Seq(j._1, j._2)),
        "kernels" -> kernels) else null),
      "gauges" -> (gauges ++ Map(
        "canary_start_ms" -> canaryStart, "canary_end_ms" -> canaryEnd,
        "gc_ms" -> gcMs, "retained_heap_mb" -> heapMb)))
    val out = new java.io.PrintWriter(opts("out"), "UTF-8")
    try out.write(Json.write(raw)) finally out.close()
    spark.stop()
  }
}
