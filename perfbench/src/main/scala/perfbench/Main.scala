package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload sees: the session, the trace, its work dir and seed,
  * and the op ledger every closed-loop call reports into. */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: String, val seed: Long,
    val nproc: Int) {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val inputs = mutable.LinkedHashMap.empty[String, Any]

  /** Records a failed correctness check of op `op`. */
  def fail(op: String, cause: String): Unit = failures += s"$op: $cause"
  def check(op: String, ok: Boolean, cause: => String): Boolean = { if (!ok) fail(op, cause); ok }

  /** Runs one closed-loop op as a span; a throw counts as a failed op. */
  def op[A](name: String, layer: String, opId: Long)(body: => A): Option[(A, Double)] = {
    attempted += 1
    try Some(trace.span(name, layer, opId)(body))
    catch { case e: Exception => fail(name, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)); None }
  }
}

/** One workload of the benchmark. `setup` builds inputs and seeds state in
  * a fresh session; `run` is the closed loop, one client thread, over
  * `units` whole passes (or op cycles), so every run does the same work;
  * the metric maps are filled afterwards. */
trait Workload {
  /** Nominal seconds of one pass on a 4-core host: `--seconds` buys
    * `round(seconds / nominalS)` passes, at least one. */
  def nominalS: Double
  def setup(ctx: Ctx): Unit
  /** Runs once, after the last set-up: fills caches and JIT-compiles the
    * hot paths so the window measures steady state. */
  def warmup(ctx: Ctx): Unit
  def run(ctx: Ctx, units: Int): Unit
  /** Universal end-to-end figures: op latencies (ms) and rows moved. */
  def opMs: Seq[Double]
  def rowsMoved: Long
  def busySeconds: Double
  /** Workload-specific end-to-end figures, printed beside the gated ones. */
  def detail(ctx: Ctx): Seq[Metric]
  /** Per-layer figures from the traced run (zero where the layer is bypassed). */
  def layers(ctx: Ctx): Map[String, Double]
}

final case class Metric(name: String, value: Double, unit: String)

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed     = opts.getOrElse("seed", "1").toLong
    val seconds  = opts.getOrElse("seconds", "10").toInt
    val traced   = opts.getOrElse("trace", "0") == "1"
    val root     = opts.getOrElse("work", sys.error("--work is required"))
    val outDir   = opts.getOrElse("out", root)
    val nproc    = Runtime.getRuntime.availableProcessors

    def make(): Workload = workload match {
      case "corpus_dedup"  => new CorpusDedup
      case "table_commits" => new TableCommits
      case "image_stream"  => new ImageStream
      case other => sys.error(s"unknown workload $other")
    }

    val probeBefore = Host.probeSeconds()
    val trace = new Trace(traced)
    val heap  = new HeapPeak
    var spark: SparkSession = null
    var ctx: Ctx = null
    var wl: Workload = null
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) { trace.detach(spark); spark.stop() }
      val work = s"$root/rep$rep"
      spark = Session.create(nproc, work)
      trace.attach(spark)
      wl = make()
      ctx = new Ctx(spark, trace, work, seed, nproc)
      wl.setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    val warmupS = { val t0 = System.nanoTime(); wl.warmup(ctx); (System.nanoTime() - t0) / 1e9 }
    // process uptime not spent in set-up or warm-up: JVM start and the probe
    val jvmStartS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 -
      setupS.sum - warmupS
    trace.reset()
    Host.settle()
    heap.start()
    val units = math.max(1, math.round(seconds / wl.nominalS).toInt)
    val t0 = System.nanoTime()
    wl.run(ctx, units)
    val wallS = (System.nanoTime() - t0) / 1e9
    trace.drain()
    heap.stop()
    val liveMb = HeapPeak.liveAfterFullGcMb()

    val ops = wl.opMs
    if (ops.isEmpty) ctx.fail("run", "no op completed")
    val e2e = Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("op_ms.mean", if (ops.nonEmpty) ops.sum / ops.size else 0.0, "ms"),
      Metric("rows_per_s", if (wl.busySeconds > 0) wl.rowsMoved / wl.busySeconds else 0.0, "rows/s"),
      Metric("heap_live_mb", liveMb, "MB"))
    // engine figures first: the figures below may run Spark jobs of their own
    val engine = if (traced) Engine.metrics(trace, wallS, nproc) else Nil
    val detail = wl.detail(ctx)
    val layerMetrics = if (!traced) Nil else
      Layers.all(wl.layers(ctx) ++ ctx.inputs.get("setup.inputs_s").map(v => "setup.inputs_s" -> v.asInstanceOf[Double]),
        trace) ++ engine
    val probeAfter = Host.probeSeconds()

    val failed = ctx.failures.size.toLong.min(ctx.attempted)
    ctx.failures.take(20).foreach(f => System.err.println(s"[perfbench] failed op $f"))
    val record = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "traced" -> traced.toString, "nproc" -> nproc.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_version" -> Json.str(spark.version), "java_version" -> Json.str(sys.props("java.version")),
      "source" -> Json.str(sys.props.getOrElse("perfbench.source", "unknown")),
      "host.probe_before_s" -> Json.num(probeBefore), "host.probe_after_s" -> Json.num(probeAfter),
      "jvm_start_s" -> Json.num(jvmStartS), "warmup_s" -> Json.num(warmupS), "setup_reps_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "measured_s" -> Json.num(wallS), "passes" -> units.toString, "ops" -> ops.size.toString,
      "op_ms" -> ops.map(Json.num).mkString("[", ",", "]"),
      "heap_peak_after_gc_mb" -> Json.num(heap.peakMb),
      "failed_frac" -> Json.num(if (ctx.attempted > 0) failed.toDouble / ctx.attempted else 1.0))
    println("{\"run_record\": " + Json.obj(record) + "}")
    println("{\"inputs\": " + Json.obj(ctx.inputs.toSeq.map { case (k, v) => k -> Json.any(v) }) + "}")
    println("{\"end_to_end\": " + Json.metrics(e2e) + "}")
    println("{\"workload_metrics\": " + Json.metrics(detail) + "}")
    if (traced) {
      val spans = Path.of(outDir, s"spans-$workload-$seed.json")
      Files.createDirectories(spans.getParent)
      Files.writeString(spans, trace.spansJson)
      Engine.printGroups(trace)
    }

    trace.detach(spark)
    spark.stop()
    val metrics = if (traced) layerMetrics ++ Seq(
      Metric("host.probe_before_s", probeBefore, "s"), Metric("host.probe_after_s", probeAfter, "s"))
    else e2e
    val correct = ctx.failures.isEmpty && ops.nonEmpty
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted.max(1)}, "failed": $failed, """ +
      s""""metrics": ${Json.metrics(metrics)}}""")
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is printed, so end here
    sys.exit(0)
  }
}

object Session {
  def create(nproc: Int, work: String): SparkSession = {
    Files.createDirectories(Path.of(work))
    graft.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$nproc]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", nproc.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.streaming.ui.enabled", "false"))
      .getOrCreate()
  }
}

/** Fixed CPU probe, run before and after the measurement, so two runs that
  * disagree can be traced to host speed drift rather than the program. */
object Host {
  def probeSeconds(): Double = {
    val t0 = System.nanoTime()
    val a = new Rng(7L)
    val xs = Array.fill(1 << 20)(a.nextLong())
    java.util.Arrays.sort(xs)
    var acc = 0L
    var i = 0
    while (i < 20000000) { acc += a.nextLong() >>> 60; i += 1 }
    if (acc == 42L && xs(0) == 0L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed: collect set-up garbage before the measured window. */
  def settle(): Unit = { System.gc(); Thread.sleep(200) }
}

object Fs {
  /** Bytes of every file under `path`. */
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(x => bytes(x.getPath)).sum).getOrElse(0L)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (the `inclusive` method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** The highest percentile up to `q` with at least ten samples beyond it,
    * as (percentile, value); None with fewer than eleven samples. */
  def tail(xs: Seq[Double], q: Double = 0.9): Option[(Int, Double)] = {
    val n = xs.size
    val qq = math.min(q, (n - 10).toDouble / n)
    if (n < 11 || qq <= 0.5) None
    else { val p = math.floor(qq * 100).toInt; if (p <= 50) None else Some((p, quantile(xs, p / 100.0))) }
  }
  /** `<name>.p50` and its tail percentile, with the sample count. */
  def latency(name: String, xs: Seq[Double]): Seq[Metric] =
    Seq(Metric(s"$name.p50", median(xs), "ms"), Metric(s"$name.n", xs.size.toDouble, "count")) ++
      tail(xs).map { case (p, v) => Metric(s"$name.p$p", v, "ms") }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString
  def any(v: Any): String = v match {
    case d: Double => num(d); case f: Float => num(f.toDouble)
    case n: Int => n.toString; case n: Long => n.toString
    case s: Seq[_] => s.map(any).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> s"""{"value": ${num(m.value)}, "unit": ${str(m.unit)}}"""))
}
