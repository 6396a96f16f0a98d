package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Per-iteration bookkeeping handed to a workload: timed sections, stage
  * calls and output checks. Every stage call and every check is one
  * operation; a throw or a failed check is one failed operation. */
final class Ctx(val spark: SparkSession, val trace: Trace) {
  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  var wallS, cpuS = 0.0
  var attempted, failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  /** Deterministic outcomes of the iteration (compared across iterations). */
  val counts = mutable.LinkedHashMap.empty[String, Long]
  /** Per-layer readings (work counts and ratios). */
  val stats = mutable.LinkedHashMap.empty[String, Double]
  var storedBytes = 0L

  /** Time `body` as part of the pipeline run (wall and process CPU). */
  def timed[T](body: => T): T = {
    val c0 = cpu.getProcessCpuTime; val w0 = System.nanoTime()
    try body
    finally {
      wallS += (System.nanoTime() - w0) / 1e9
      cpuS += (cpu.getProcessCpuTime - c0) / 1e9
    }
  }

  /** One stage call: timed, traced as `span`; its wall seconds are kept
    * as the reading `<span>_s`. */
  def stage[T](span: String)(body: => T): T = {
    attempted += 1
    val w0 = wallS
    try timed(trace.span(span)(body))
    catch { case NonFatal(e) => failed += 1; throw e }
    finally stats(span + "_s") = wallS - w0
  }

  /** A stage call that also returns its wall seconds. */
  def probe[T](span: String)(body: => T): (T, Double) = {
    val out = stage(span)(body)
    (out, stats(span + "_s"))
  }

  def check(what: String, ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case NonFatal(e) => errors += s"$what: $e"; false }
    if (!pass) { failed += 1; errors += s"check failed: $what" }
  }
}

/** A benchmark workload: seeded inputs, one pipeline run, layer probes. */
trait Workload {
  /** Operations one iteration performs when nothing throws. */
  def opsPerIteration: Int
  /** Untimed pipeline runs before measuring: until class loading, codegen
    * and JIT have settled, so the measured runs are the steady state. */
  def warmups: Int
  /** User data bytes one iteration processes (throughput numerator). */
  def userBytes: Long
  /** Bytes the user data occupies raw (stored-bytes ratio denominator). */
  def rawBytes: Long
  def inputs: Seq[(String, Any)]
  /** Generate and write the inputs into `dir` (fresh each repetition). */
  def setup(dir: File): Unit
  def iteration(ctx: Ctx): Unit
  /** Layer-isolating measurements, traced run only. */
  def probes(ctx: Ctx): Unit
}

object Main {
  val SetupReps = 3
  /** Pipeline runs per measurement (per side in a traced run), even when
    * `--seconds` is shorter than that takes: a reported median is never a
    * single run's. */
  val MinRuns = 2

  def main(args: Array[String]): Unit =
    try { run(args); System.exit(0) }
    catch { case e: Throwable =>
      e.printStackTrace()
      System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val results = new File(opt("results")).getAbsoluteFile
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    sc.setCheckpointDir(new File(work, "checkpoints").getPath)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val workload: Workload = workloadName match {
      case "ome_lake" => new OmeLake(spark, seed, work)
      case "text_corpus_pipeline" => new TextCorpus(spark, seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    val trace = new Trace(sc)
    val counters = new SparkCounters
    if (traced) sc.addSparkListener(counters)

    // set-up, repeated: the median repetition is the input-generation cost
    val inputs = new File(work, "inputs")
    val setupReps = (1 to SetupReps).map { i =>
      Files.delete(inputs)
      val t0 = System.nanoTime()
      workload.setup(inputs)
      (System.nanoTime() - t0) / 1e9
    }

    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    var baseline: Option[Map[String, Long]] = None
    def iterate(tracedRun: Boolean): Ctx = {
      trace.enabled = tracedRun
      trace.run += 1
      val ctx = new Ctx(spark, trace)
      try graft.operators.Caches.scoped(
        trace.span("iteration")(workload.iteration(ctx)))
      catch { case NonFatal(e) => ctx.errors += s"iteration: $e" }
      trace.enabled = false
      // an iteration cut short by a throw fails every operation it skipped
      val skipped = math.max(0, workload.opsPerIteration - ctx.attempted)
      ctx.attempted += skipped; ctx.failed += skipped
      baseline match {
        case None => baseline = Some(ctx.counts.toMap)
        case Some(b) => ctx.check("outputs identical across runs of one seed",
          ctx.counts.toMap == b)
      }
      attempted += ctx.attempted; failed += ctx.failed; errors ++= ctx.errors
      ctx
    }
    def runOnce(tracedRun: Boolean): (Ctx, Leak) = {
      val ctx = iterate(tracedRun)
      (ctx, Leak.probe(spark))
    }

    // warm-up: class loading, codegen and JIT; the leak probe's collections
    // run once at the end, so measuring starts from a collected heap
    val w0 = System.nanoTime()
    val warmupRuns = (1 to workload.warmups).map(_ => iterate(tracedRun = false).wallS)
    Leak.probe(spark)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(setupReps) + warmupS

    val plain = mutable.ArrayBuffer.empty[(Ctx, Leak)]
    val withTrace = mutable.ArrayBuffer.empty[(Ctx, Leak, Map[String, SparkAcc], Double)]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // closed loop: one pipeline run at a time. A traced run alternates
    // untraced and traced iterations so both see the same box state.
    while (elapsed < seconds || plain.size < MinRuns ||
        (traced && withTrace.size < MinRuns)) {
      val tracedRun = traced && plain.size > withTrace.size
      if (tracedRun) {
        org.apache.spark.graftmetrics.BusDrain.drain(sc)
        counters.reset()
        val (ctx, leak) = runOnce(tracedRun = true)
        org.apache.spark.graftmetrics.BusDrain.drain(sc)
        val (bySpan, tasks) = counters.snapshot()
        val it = trace.spans.filter(s => s.run == trace.run && s.name == "iteration").head
        withTrace += ((ctx, leak, bySpan, SparkCounters.idleSeconds(it.startMs, it.endMs, tasks)))
      } else plain += runOnce(tracedRun = false)
    }

    val runS = median(plain.map(_._1.wallS).toSeq)
    val end2end = Seq(
      ("run_s", runS, "s"),
      ("throughput_mb_s", workload.userBytes / 1e6 / runS, "MB/s"),
      ("cpu_s", median(plain.map(_._1.cpuS).toSeq), "s"),
      ("setup_s", setupS, "s"),
      ("stored_bytes_ratio", median(plain.map(_._1.storedBytes.toDouble).toSeq) /
        workload.rawBytes, "ratio"),
      ("retained_heap_mb", median(plain.map(_._2.heapMb).toSeq), "MB"))

    var probeAcc = Map.empty[String, SparkAcc]
    val layer: Seq[(String, Double, String)] = if (!traced) Nil else {
      trace.enabled = true
      trace.run += 1
      counters.reset()
      val probeCtx = new Ctx(spark, trace)
      try workload.probes(probeCtx)
      catch { case NonFatal(e) => probeCtx.errors += s"probes: $e" }
      trace.enabled = false
      org.apache.spark.graftmetrics.BusDrain.drain(sc)
      attempted += probeCtx.attempted; failed += probeCtx.failed
      errors ++= probeCtx.errors
      probeAcc = counters.snapshot()._1
      Layers.collect(withTrace.toSeq, probeCtx, probeAcc,
        median(withTrace.map(_._1.wallS).toSeq) /
          median(plain.map(_._1.wallS).toSeq) - 1.0)
    }

    val metrics = if (traced) layer else end2end
    val record = Seq(
      "workload" -> workloadName, "seed" -> seed, "trace" -> traced,
      "nproc" -> nproc,
      "session" -> Seq(
        "master" -> sc.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "session_time_zone" -> spark.conf.get("spark.sql.session.timeZone"),
        "jvm_time_zone" -> java.util.TimeZone.getDefault.getID),
      "inputs" -> workload.inputs,
      "closed_loop_clients" -> 1,
      "setup" -> Seq("session_s" -> sessionS, "input_reps_s" -> setupReps,
        "warmup_s" -> warmupS, "warmup_runs_s" -> warmupRuns),
      "iterations" -> Seq("untraced" -> plain.map(_._1.wallS).toSeq,
        "traced" -> withTrace.map(_._1.wallS).toSeq),
      "stage_s" -> plain.flatMap(_._1.stats.keys).distinct.toSeq.map(k =>
        k -> median(plain.flatMap(_._1.stats.get(k)).toSeq)),
      "end_to_end" -> end2end.map(m => m._1 -> m._2),
      "per_layer" -> layer.map(m => m._1 -> m._2),
      "span_spark" -> (withTrace.lastOption.map(_._3).getOrElse(Map.empty) ++
        probeAcc).toSeq.sortBy(_._1).map { case (k, a) =>
          k -> a.metrics.map(m => m._1 -> m._2) },
      "spans" -> trace.spans.map(s => Seq("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "run" -> s.run,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds, "self_s" -> trace.selfSeconds(s))).toSeq,
      "errors" -> errors.toSeq)
    results.mkdirs()
    val out = new File(results, s"$workloadName-seed$seed-trace${if (traced) 1 else 0}.json")
    java.nio.file.Files.writeString(out.toPath, Json(record))

    if (traced) Layers.printSpanTable(trace)
    metrics.foreach { case (n, v, u) => println(f"$n%-40s $v%16.6f $u") }
    errors.foreach(e => println(s"ERROR $e"))
    spark.stop()
    println(Json(Seq(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) })))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Session state left behind by one iteration, read after it ends. */
final case class Leak(rdds: Int, storageMb: Double, checkpointDirs: Int, heapMb: Double)

object Leak {
  def probe(spark: SparkSession): Leak = {
    val sc = spark.sparkContext
    // let asynchronous unpersists and the context cleaner settle first
    org.apache.spark.graftmetrics.BusDrain.drain(sc)
    System.gc(); Thread.sleep(300); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val storage = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1e6
    val ckpt = sc.getCheckpointDir.map(d => new File(new java.net.URI(d)))
      .flatMap(d => Option(d.listFiles())).map(_.length).getOrElse(0)
    Leak(sc.getPersistentRDDs.size, storage, ckpt, heap)
  }
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Regular files under `dir` matching `keep`, and their total bytes. */
  def usage(dir: File, keep: File => Boolean = _ => true): (Int, Long) = {
    val fs = walk(dir).filter(f => f.isFile && keep(f))
    (fs.size, fs.map(_.length).sum)
  }
}

/** Minimal JSON writer for the result record (ordered pairs are objects). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
        case (_: String, _) => true; case _ => false } =>
      kv.map { case (k: String, x) => apply(k) + ":" + apply(x); case _ => "" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
