package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Input sizes. `standard` is what every measured run uses; `tiny` is the
  * self-check's size.
  */
final case class Sizes(
    bulkDocs: Int, newShare: Double, exactShare: Double, nearShare: Double,
    annDocs: Int, annVectors: Int, queries: Int, spqShards: Int,
    streamBuildDocs: Int, trancheDocs: Int, deleteShare: Double,
    maxTranches: Int, streamShards: Int)

object Sizes {
  val standard: Sizes = Sizes(
    bulkDocs = 400, newShare = 0.1, exactShare = 0.1, nearShare = 0.1,
    annDocs = 16, annVectors = 64, queries = 5, spqShards = 2,
    streamBuildDocs = 160, trancheDocs = 8, deleteShare = 0.1,
    maxTranches = 48, streamShards = 2)
  val tiny: Sizes = standard.copy(bulkDocs = 40, annDocs = 12, annVectors = 48, queries = 4,
    streamBuildDocs = 48, trancheDocs = 6, maxTranches = 2)
}

/** Everything one run shares: session, ledger, work directory, sizes and
  * the operation tally behind `attempted` / `failed`.
  */
final class Ctx(val spark: SparkSession, val led: Ledger,
                val events: Option[EngineEvents], val work: String,
                val seed: Long, val seconds: Double, val sizes: Sizes,
                val cpus: Int) {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def dir(name: String): String = s"$work/$name"

  /** A failed output check counts the operation it belongs to as failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) { failed += 1; failures += what }
    ok
  }

  /** Run one timed operation; returns (seconds, result). */
  def op[T](spanName: String)(body: => T): (Double, T) = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = led.span(spanName)(body)
    ((System.nanoTime() - t0) / 1e9, r)
  }
}

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** What a workload reports: gated end-to-end metrics, its own named
  * metrics, the input properties, and the traced per-layer
  * figures (`layers`, keyed like [[Main.PerLayer]]).
  */
final case class Outcome(endToEnd: Map[String, M], named: Seq[(String, M)],
                         inputs: Seq[(String, Any)], layers: Map[String, Double],
                         timedSeconds: Double)

trait Workload {
  /** Input generation: the seeded inputs, written as the files the engine
    * reads.
    */
  def setup(): Unit
  /** Once, after the inputs exist: expected outputs and ground truth. */
  def prepare(): Unit
  def run(): Outcome
  /** Self-check only: corrupt one output and report whether its check
    * caught the corruption.
    */
  def corruptionCaught(): Boolean
}

object Main {

  /** Every per-layer figure the traced run computes, with units. All of
    * them go to the detail line and the sidecar; the result line carries
    * the ones BENCHMARK.json lists. A layer the workload does not
    * exercise reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "text.chunk_s" -> "s", "text.chunks" -> "count",
    "ingest.dedup_s" -> "s", "ingest.dedup_keep_ratio" -> "ratio",
    "embed.embed_s" -> "s", "embed.vectors" -> "count",
    "chunkstore.upsert_s" -> "s", "chunkstore.reupsert_s" -> "s",
    "chunkstore.reupsert_new_ratio" -> "ratio", "chunkstore.files" -> "count",
    "neardup.pairs_s" -> "s", "neardup.cc_s" -> "s", "neardup.pairs" -> "count",
    "neardup.jobs" -> "count", "neardup.planted_recall" -> "ratio",
    "ivf.train_s" -> "s", "ivf.assign_save_s" -> "s", "ivf.stats_s" -> "s",
    "ivf.probe_plan_ms" -> "ms", "ivf.probe_exec_ms" -> "ms",
    "ivf.jobs_per_query" -> "count", "ivf.rows_read_per_query" -> "count",
    "spq.build_s" -> "s", "spq.probe_exec_ms" -> "ms",
    "spq.jobs_per_query" -> "count", "spq.rows_read_per_query" -> "count",
    "stream.drain_s" -> "s", "stream.trigger_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.planning_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.start_stop_ms" -> "ms",
    "stream.jobs_per_batch" -> "count", "stream.probe_ms" -> "ms",
    "stream.batch_growth" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sql_execs" -> "count", "spark.job_busy_s" -> "s",
    "spark.driver_only_s" -> "s", "spark.plan_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MB", "spark.input_rows" -> "count",
    "spark.gc_s" -> "s", "host.sentinel_s" -> "s", "jvm.peak_heap_mb" -> "MB")

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, work: String = "", out: String = "",
                        cpus: Int = 4, selfcheck: Boolean = false,
                        metrics: Seq[(String, String)] = Nil)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--out" :: v :: t => parse(t, acc.copy(out = v))
    case "--cpus" :: v :: t => parse(t, acc.copy(cpus = v.toInt))
    case "--selfcheck" :: t => parse(t, acc.copy(selfcheck = true))
    case "--metrics" :: v :: t =>
      parse(t, acc.copy(metrics = v.split(",").toSeq.filter(_.nonEmpty).map { m =>
        val Array(name, unit) = m.split(":", 2)
        name -> unit
      }))
    case Nil => acc
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def session(work: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.install(spark)
    spark
  }

  def workload(name: String, c: Ctx): Workload = name match {
    case "bulk_ingest" => new BulkIngest(c)
    case "ann_serve" => new AnnServe(c)
    case "stream_maintain" => new StreamMaintain(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val Workloads: Seq[String] = Seq("bulk_ingest", "ann_serve", "stream_maintain")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val code =
      try if (a.selfcheck) selfcheck(a) else measure(a)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  /** One measured run: set up, the timed phase, output checks, result
    * line.
    */
  def measure(a: Args): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.work, a.cpus)
    val events = if (a.trace) Some(new EngineEvents) else None
    events.foreach(_.install(spark))
    val led = new Ledger(a.trace, s"${a.workload}-${a.seed}")
    val c = new Ctx(spark, led, events, a.work, a.seed, a.seconds, Sizes.standard, a.cpus)
    val w = workload(a.workload, c)
    // set-up = wall from JVM start to the first timed op: session,
    // inputs, expected outputs and ground truth. There is no warm-up: the
    // timed phase runs in the fresh JVM, as one run of the tool would
    val parts = mutable.LinkedHashMap[String, Double](
      "session" -> (System.currentTimeMillis() - jvmStart) / 1000.0)
    def part(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      parts(name) = (System.nanoTime() - t0) / 1e9
    }
    part("inputs")(w.setup())
    part("prepare")(w.prepare())
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    Host.resetPeakHeap()
    val gc0 = Host.gcMillis()
    val ticks0 = Host.cpuTicks()
    val out = led.span(s"${a.workload}.timed")(w.run())
    val gcS = (Host.gcMillis() - gc0) / 1000.0
    val steal = Host.stealShare(ticks0, Host.cpuTicks())
    val peakHeap = Host.peakHeapMb()

    val e2e = out.endToEnd + ("setup_s" -> M(setupS, "s"))
    val ledgerDir = new java.io.File(a.out)
    ledgerDir.mkdirs()
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cpus" -> a.cpus, "inputs" -> mutable.LinkedHashMap(out.inputs: _*),
      "setup_parts_s" -> parts, "timed_s" -> out.timedSeconds, "host_steal_share" -> steal,
      "error_rate" -> (if (c.attempted == 0) 1.0 else c.failed.toDouble / c.attempted),
      "named" -> mutable.LinkedHashMap(out.named.map { case (k, m) =>
        k -> Map("value" -> m.value, "unit" -> m.unit) }: _*),
      "failures" -> c.failures.take(20))

    val computed: Map[String, M] =
      if (!a.trace) {
        // the traced run reports its overhead against untraced runs
        appendLine(new java.io.File(ledgerDir, s"untraced_${a.workload}.jsonl"),
          Json(Map("seed" -> a.seed, "timed_s" -> out.timedSeconds)))
        e2e
      } else {
        val ev = events.get
        ev.drain()
        val layers = mutable.LinkedHashMap(out.layers.toSeq: _*)
        layers("spark.gc_s") = gcS
        layers("jvm.peak_heap_mb") = peakHeap
        layers("host.sentinel_s") = Host.sentinelSeconds()
        val untraced = readTimed(new java.io.File(ledgerDir, s"untraced_${a.workload}.jsonl"))
        val sameSeed = untraced.filter(_._1 == a.seed).map(_._2)
        val ref = if (sameSeed.nonEmpty) sameSeed else untraced.map(_._2)
        detail("trace_overhead_s") =
          if (ref.isEmpty) None else Some(out.timedSeconds - median(ref))
        detail("trace_overhead_ref_runs") = ref.size
        val sidecar = new java.io.File(ledgerDir, s"trace_${a.workload}_${a.seed}.json")
        java.nio.file.Files.write(sidecar.toPath, led.toJson(Map("jobs" -> ev.jobRecords)).getBytes("UTF-8"))
        detail("trace_sidecar") =
          new java.io.File(".").getAbsoluteFile.toPath.relativize(sidecar.getAbsoluteFile.toPath).toString
        val all = PerLayer.map { case (k, u) => k -> M(layers.getOrElse(k, 0.0), u) }
        detail("layers") = mutable.LinkedHashMap(all.map { case (k, m) =>
          k -> Map("value" -> m.value, "unit" -> m.unit) }: _*)
        all.toMap
      }
    val metrics = a.metrics.map { case (k, u) =>
      val m = computed.getOrElse(k, throw new IllegalArgumentException(
        s"metric $k is not computed by ${a.workload} (trace=${a.trace})"))
      require(m.unit == u, s"metric $k has unit ${m.unit}, BENCHMARK.json says $u")
      k -> m
    }
    println(Json(Map("perfbench_detail" -> detail)))
    val correct = c.failed == 0 && c.attempted > 0
    println(Json(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> c.attempted, "failed" -> c.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, m) =>
        k -> mutable.LinkedHashMap("value" -> m.value, "unit" -> m.unit) }: _*))))
    System.out.flush()
    spark.stop()
    if (correct) 0 else 1
  }

  private def appendLine(f: java.io.File, line: String): Unit = {
    val w = new java.io.FileWriter(f, true)
    try w.write(line + "\n") finally w.close()
  }

  private def readTimed(f: java.io.File): Seq[(Long, Double)] =
    if (!f.exists()) Nil
    else {
      val re = """\{"seed": (-?\d+), "timed_s": ([0-9.eE-]+)\}""".r
      scala.io.Source.fromFile(f).getLines().toList.flatMap {
        case re(s, t) => Some(s.toLong -> t.toDouble)
        case _ => None
      }
    }

  /** Tiny run of every workload, then one corrupted output per workload
    * that its check must catch. Exit 0 only if every clean run passes and
    * every corruption is caught.
    */
  def selfcheck(a: Args): Int = {
    val spark = session(a.work, a.cpus)
    val results = Workloads.map { name =>
      val c = new Ctx(spark, new Ledger(false, name), None, s"${a.work}/$name",
        seed = 7, seconds = 1.0, Sizes.tiny, a.cpus)
      val w = workload(name, c)
      w.setup()
      w.prepare()
      w.run()
      val clean = c.failed == 0 && c.attempted > 0
      val caught = w.corruptionCaught()
      println(Json(mutable.LinkedHashMap("workload" -> name, "attempted" -> c.attempted,
        "failed" -> c.failed, "clean_run_passes" -> clean,
        "corruption_caught" -> caught, "failures" -> c.failures.take(5))))
      clean && caught
    }
    spark.stop()
    val pass = results.forall(identity)
    println(Json(Map("selfcheck" -> (if (pass) "pass" else "fail"))))
    if (pass) 0 else 1
  }
}
