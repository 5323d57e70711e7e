package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One op of a workload: its kind (the unit latency medians are taken
  * over) and the call it makes. The value `run` returns is kept for the
  * correctness check after the timed window. */
final case class Op(kind: String, run: () => Any)

/** One completed op. `layer` holds the traced per-op counter deltas
  * (empty in an untraced run). */
final case class Rec(i: Int, kind: String, ms: Double, error: String,
                     result: Any, layer: Map[String, Double])

/** A size the benchmark generated, and the tier cap it is meant to sit
  * under or over (`cap` 0 when it has none). */
final case class Size(name: String, value: Double, cap: Double = 0,
                      side: String = "")

/** What a workload supplies to [[Main]]. Each workload generates its own
  * inputs from the seed; the program under test sees only those. */
trait Workload {
  /** One cycle of the op mix, in order: op i has kind mix(i mod size). */
  def mix: Seq[String]
  /** Nominal time of one cycle on a 4-vCPU VM; a run of `--seconds s`
    * measures round(s / cycleSeconds) cycles, at least one. */
  def cycleSeconds: Double
  /** Generate the inputs from the seed and load them into the system. */
  def prepare(): Unit
  def op(i: Int): Op
  /** Failure messages, at most one per failed op. Runs after the window. */
  def check(recs: Seq[Rec]): Seq[String]
  def sizes: Seq[Size]
  /** Workload-specific end-to-end values (name → (value, unit)). */
  def extraEndToEnd(recs: Seq[Rec], ok: Seq[Rec]): Map[String, (Double, String)] = Map.empty
  /** Traced-run per-layer values this workload can measure. */
  def layers(recs: Seq[Rec]): Map[String, Double] = Map.empty
  /** Traced-run work done per op outside its timed interval. */
  def traceOp(rec: Rec): Map[String, Double] = Map.empty
  /** Runs after the window and the check; releases the workload's state. */
  def finish(): Unit = ()
}

/** Run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: File,
                val traced: Boolean, val trace: Trace) {
  def sub(name: String): File = { val f = new File(dir, name); f.mkdirs(); f }
  def rng(salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + salt)
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --out <run dir> --cores <n>`. Writes `result.json` into the run dir. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val dir = new File(a("out")).getAbsoluteFile
    val cores = a("cores").toInt
    val t0 = System.nanoTime()
    def path(n: String) = { val f = new File(dir, n); f.mkdirs(); f.getPath }
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", path("warehouse"))
      .config("spark.local.dir", path("local"))
      .config("spark.graft.scratchDir", path("scratch"))
      .config("spark.graft.checkpointDir", path("checkpoint"))
      .config("spark.graft.catalog.historyDir", path("history"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark, traced)
    val ctx = new Ctx(spark, seed, dir, traced, trace)
    val sessionS = secs(t0)

    val wl: Workload = workload match {
      case "relq" => new Relq(ctx)
      case "fixpoint" => new Fixpoint(ctx)
      case "catalog_rw" => new CatalogRw(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val kinds = wl.mix.distinct
    val p0 = System.nanoTime()
    wl.prepare()
    val prepS = secs(p0)
    log(f"prepare $prepS%.3f s")
    // warm-up: one op at every position of the cycle, with indices the
    // timed window never reaches
    val w0 = System.nanoTime()
    for (wi <- 1 to wl.mix.size) {
      val op = wl.op(-wi)
      val s = System.nanoTime()
      op.run()
      log(f"warm-up ${op.kind} ${secs(s)}%.3f s")
    }
    val warmS = secs(w0)
    val setupS = sessionS + prepS + warmS

    val confBefore = spark.conf.getAll
    val pinsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val recs = ArrayBuffer.empty[Rec]
    val perKind = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val win0 = System.nanoTime()
    var traceOpNs = 0L // a traced run's per-op work outside the op, kept out of the window
    var i = 0
    // closed loop, one client: the next op starts when the previous ends.
    // The window is a fixed number of whole cycles, so every run does the
    // same work with the same mix of kinds, whatever the machine's speed.
    val cycles = math.max(1L, math.round(seconds / wl.cycleSeconds)).toInt
    while (i < cycles * wl.mix.size) {
      val op = wl.op(i)
      val m = trace.mark()
      val cg = codegen()
      val gc = gcMs()
      val s = System.nanoTime()
      val (result, err) =
        try (op.run(), null) catch { case e: Throwable => (null, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - s) / 1e6
      log(f"op $i ${op.kind} $ms%.1f ms${if (err == null) "" else " " + err}")
      val layer =
        if (!traced) Map("output_bytes" -> trace.since(m)("output_bytes"))
        else {
          val cg2 = codegen()
          trace.since(m) ++ Map(
            "codegen_compiles" -> (cg2._1 - cg._1).toDouble,
            "codegen_ms" -> (cg2._2 - cg._2),
            "gc_ms" -> (gcMs() - gc).toDouble)
        }
      val rec0 = Rec(i, op.kind, ms, err, result, layer)
      val rec =
        if (!traced) rec0
        else {
          val t = System.nanoTime()
          val more = wl.traceOp(rec0)
          traceOpNs += System.nanoTime() - t
          rec0.copy(layer = layer ++ more)
        }
      recs += rec
      perKind(op.kind) += 1
      i += 1
    }
    val windowS = secs(win0) - traceOpNs / 1e9
    val heapMb = retainedHeapMb()

    val ok = recs.filter(_.error == null).toSeq
    val extra = wl.extraEndToEnd(recs.toSeq, ok)
    val failures = wl.check(recs.toSeq) ++
      recs.filter(_.error != null).map(r => s"op ${r.i} (${r.kind}) threw ${r.error}")
    val failedIdx = failures.size
    val wlLayers = if (traced) wl.layers(recs.toSeq) else Map.empty[String, Double]
    wl.finish()
    val confChanged = {
      val after = spark.conf.getAll
      (confBefore.keySet ++ after.keySet).count(k => confBefore.get(k) != after.get(k))
    }
    val pinsLeft = (spark.sparkContext.getPersistentRDDs.keySet -- pinsBefore).size
    val leftover = leftoverDirs(new File(dir, "scratch")) + leftoverDirs(new File(dir, "warehouse"))

    // over the correct ops of the window (an op that threw has no latency;
    // the run then reports failures)
    val allMs = ok.map(_.ms)
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "latency_geomean_ms" -> (math.exp(mean(allMs.map(math.log))), "ms"),
      "throughput_ops" -> (ok.size / windowS, "1/s"),
      "retained_heap_mb" -> (heapMb, "MB"))
    val extraAll = extra ++
      Map("error_rate" -> (failedIdx.toDouble / recs.size, "ratio"),
        "latency_p50_ms" -> (median(allMs), "ms")) ++
      (if (allMs.size >= 100) Map("latency_p90_ms" -> (quantile(allMs, 0.9), "ms")) else Map.empty)

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        def perOp(k: String) = mean(recs.toSeq.map(_.layer.getOrElse(k, 0.0)))
        val busy = recs.map(_.layer.getOrElse("task_busy_ms", 0.0)).sum
        Map(
          "catalyst.analysis_ms" -> perOp("analysis_ms"),
          "catalyst.optimization_ms" -> perOp("optimization_ms"),
          "catalyst.planning_ms" -> perOp("planning_ms"),
          "catalyst.executions_per_op" -> perOp("executions"),
          "scheduler.jobs_per_op" -> perOp("jobs"),
          "scheduler.stages_per_op" -> perOp("stages"),
          "scheduler.tasks_per_op" -> perOp("tasks"),
          "scheduler.task_busy_ms" -> perOp("task_busy_ms"),
          "scheduler.idle_ms" -> perOp("idle_ms"),
          "scheduler.core_util" -> busy / (recs.map(_.ms).sum * cores),
          "shuffle.write_bytes" -> perOp("shuffle_write_bytes"),
          "shuffle.read_bytes" -> perOp("shuffle_read_bytes"),
          "shuffle.spill_bytes" -> perOp("spill_bytes"),
          "shuffle.broadcast_jobs" -> perOp("broadcast_builds"),
          "sources.bytes_written" -> perOp("output_bytes"),
          "sources.files_written" -> perOp("files_written"),
          "sources.bytes_read" -> perOp("input_bytes"),
          "sources.scratch_layouts" -> perOp("scratch_layouts"),
          "sources.leftover_dirs" -> leftover.toDouble,
          "sources.confs_left_changed" -> confChanged.toDouble,
          "rel.pins_leaked" -> pinsLeft.toDouble,
          "functions.codegen_compiles" -> perOp("codegen_compiles"),
          "functions.codegen_ms" -> perOp("codegen_ms"),
          "jvm.gc_ms" -> perOp("gc_ms")) ++ wlLayers
      }

    val out = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cores" -> cores,
      "attempted" -> recs.size, "failed" -> failedIdx,
      "failures" -> failures.take(20),
      "window_s" -> windowS, "cycles" -> cycles,
      "ops_by_kind" -> kinds.map(k => k -> perKind(k)).toMap,
      "setup" -> Json.obj("session_s" -> sessionS, "prepare_s" -> prepS,
        "warmup_s" -> warmS, "warmup_ops" -> wl.mix.size),
      "sizes" -> wl.sizes.map(s => Json.obj("name" -> s.name, "value" -> s.value,
        "cap" -> s.cap, "side" -> s.side)),
      "metrics" -> Json.metrics(e2e),
      "extra_metrics" -> Json.metrics(extraAll),
      "layers" -> layers,
      "leaks" -> Json.obj("rel.pins_leaked" -> pinsLeft,
        "sources.leftover_dirs" -> leftover, "sources.confs_left_changed" -> confChanged))
    Files.write(new File(dir, "result.json").toPath, out.s.getBytes(UTF_8))
    spark.stop()
    // the gateway's worker pool is non-daemon and has no shutdown hook
    sys.exit(0)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** (compiles, compile ms) from Spark's codegen metrics. The histogram
    * keeps a sample, so the time is count × sampled mean. */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  /** Used heap after full collections. Spark's ContextCleaner releases
    * blocks only after a collection has queued their references, so the
    * collection is repeated with pauses and the lowest reading kept. */
  def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Directories left under a root that only the program writes into. */
  def leftoverDirs(root: File): Int =
    Option(root.listFiles()).map(_.count(_.isDirectory)).getOrElse(0)
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = graft.types.Json.str(s)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case RawJson(s) => s
    case other => str(other.toString)
  }

  final case class RawJson(s: String)

  def obj(kv: (String, Any)*): RawJson =
    RawJson(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def metrics(m: Map[String, (Double, String)]): Map[String, RawJson] =
    m.map { case (k, (v, u)) => k -> obj("value" -> v, "unit" -> u) }
}
