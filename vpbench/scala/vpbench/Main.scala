package vpbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed library call inside a loop step. */
final case class Op(name: String, ns: Long, ok: Boolean)

/** One closed-loop step: its ops and the work items it completed. */
final case class Step(ops: Seq[Op], items: Double) {
  def ns: Long = ops.iterator.map(_.ns).sum
}

/** What a workload run shares: the session, scratch space, the seed, whether
  * this is a traced run, and the current tracer (disabled outside traced
  * steps).
  */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long, val traced: Boolean) {
  var tracer: Tracer = new Tracer(spark.sparkContext, "untraced", enabled = false)
  def cpus: Int = spark.sparkContext.defaultParallelism

  /** Times `body` as op `name`; a throw or a `false` check fails the op. */
  def op(name: String)(body: => Boolean): Op = {
    val t0 = System.nanoTime()
    val ok = try tracer.span(name)(body) catch {
      case e: Exception =>
        System.err.println(s"op $name failed: $e")
        false
    }
    val o = Op(name, System.nanoTime() - t0, ok)
    System.err.println(f"vpbench: op $name ${o.ns / 1e6}%.1f ms${if (ok) "" else " FAILED"}")
    o
  }

  def dir(name: String): File = {
    val d = new File(work, name)
    d.mkdirs()
    d
  }
}

/** A benchmark workload: seeded inputs, a closed loop of steps by one client,
  * output checks, and the layer probes of a traced run.
  */
trait Workload {
  /** Generates this run's inputs from the seed, in this JVM (untimed). */
  def generate(seed: Long): Unit
  /** Loads the generated inputs into Spark (timed as set-up). */
  def setup(ctx: Ctx): Unit
  /** Drops what [[setup]] cached, so set-up can be repeated. */
  def release(): Unit
  /** One loop step (the ops it times and the items they completed). */
  def step(ctx: Ctx, i: Int): Step
  /** Output checks after the loop (never timed); returns failure messages. */
  def check(ctx: Ctx): Seq[String]
  /** Per-layer metrics from the spans of one traced step, plus any probes. */
  def layers(ctx: Ctx, m: Metrics.Sink): Unit
  /** Lines describing the run's inputs and outputs, printed before metrics. */
  def describe: Seq[String] = Nil
  /** Untimed warm-up steps before the measured loop of an untraced run. */
  def warmupSteps: Int = 2
}

/** A workload driven by a host workload's traced steps, so its layers are
  * measured without end-to-end runs of its own: generated and set up on
  * first use, one step per traced host step, its checks added to the
  * host's.
  */
final class Guest(w: Workload) {
  private var steps = 0
  private val failed = mutable.ArrayBuffer.empty[Op]

  def layers(ctx: Ctx, m: Metrics.Sink): Unit = {
    if (steps == 0) { w.generate(ctx.seed); w.setup(ctx) }
    failed ++= w.step(ctx, steps).ops.filterNot(_.ok)
    steps += 1
    w.layers(ctx, m)
  }

  def check(ctx: Ctx): Seq[String] =
    if (steps == 0) Nil else failed.map(o => s"probe op ${o.name} failed").toSeq ++ w.check(ctx)

  def describe: Seq[String] = if (steps == 0) Nil else w.describe
}

object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "retile_diffs" -> (() => new RetileDiffs),
    "pip_join" -> (() => new PipJoin))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, result: File, traces: File)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")), new File(need("result")), new File(need("traces")))
  }

  def session(work: File): SparkSession = {
    vps.geom.Geo.registerUDTs()
    // half the cores run tasks: the rest absorb the driver thread that plans
    // every step, the JIT compiler threads and the host's steal time. With
    // every core running tasks, median step latency spread by 20-30% over
    // runs of five seeds on a 4-vCPU shared host; with half, by under 10%.
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("vpbench")
      .config("spark.sql.shuffle.partitions", cpus * 2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 22)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** VmHWM of this JVM in MB (peak resident set). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  /** Untimed warm-up before the measured loop: the workload's
    * `warmupSteps` (the JIT keeps speeding steps up for 20-30 seconds after
    * the first one), cut short after [[WarmupCapSeconds]]. Counting steps
    * rather than seconds gives the JIT the same work to warm up on when the
    * host is slow. Traced runs report no end-to-end figures, and their
    * traced and untraced steps alternate, so they warm up for less.
    */
  val TracedWarmupSteps = 2
  val WarmupCapSeconds = 45.0

  /** A measured step during which the hypervisor stole at least this share
    * of the machine's CPU time ran on a disturbed host: its latency says
    * more about the neighbours than about the program.
    */
  val StealLimit = 0.03

  /** (steal, total) CPU ticks of this machine so far, from /proc/stat;
    * zeros where that is unavailable.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
        (if (f.length == 8) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  private def secs(ns: Long): Double = ns / 1e9

  private val started = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"vpbench: $name done at ${secs(System.nanoTime() - started)}%.1fs")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val make = Workloads.getOrElse(a.workload, sys.error(s"unknown workload ${a.workload}"))
    val w = make()
    val spark = session(a.work)
    val ctx = new Ctx(spark, a.work, a.seed, a.trace)
    val metrics = new Metrics.Sink
    val ops = mutable.ArrayBuffer.empty[Op]
    /** measured steps, each with the share of CPU time stolen while it ran */
    val steps = mutable.ArrayBuffer.empty[(Step, Double)]
    val failures = mutable.ArrayBuffer.empty[String]
    val deadline = (s: Long) => s + (a.seconds * 1e9).toLong

    w.generate(a.seed)
    phase("input generation")
    val setups = (1 to (if (a.trace) 1 else 3)).map { k =>
      if (k > 1) w.release()
      val t0 = System.nanoTime()
      w.setup(ctx)
      secs(System.nanoTime() - t0)
    }
    phase(s"set-up x${setups.length}")
    // warm-up steps (JIT, codegen caches, lazy Spark set-up), never timed
    val warm = System.nanoTime()
    val warmSteps = if (a.trace) TracedWarmupSteps else w.warmupSteps
    var k = -1
    var warmOk = 0
    while (-k <= warmSteps && (k == -1 || System.nanoTime() - warm < (WarmupCapSeconds * 1e9).toLong)) {
      val s = w.step(ctx, k)
      warmOk += s.ops.count(_.ok)
      ops ++= s.ops.filterNot(_.ok) // a failed warm-up op counts; its latency does not
      k -= 1
    }
    phase(s"warm-up x${-k - 1}")

    if (!a.trace) {
      val t0 = System.nanoTime()
      var i = 0
      while (i == 0 || System.nanoTime() < deadline(t0)) {
        val (steal0, total0) = cpuTicks()
        val s = w.step(ctx, i)
        val (steal1, total1) = cpuTicks()
        val stolen = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
        System.err.println(f"vpbench: step $i ${s.ns / 1e6}%.1f ms, ${stolen * 100}%.1f%% of CPU time stolen")
        steps += s -> stolen
        ops ++= s.ops
        i += 1
      }
    } else {
      // alternate untraced and traced steps; the traced ones feed the layers
      val runId = f"${a.workload}-${a.seed}-${System.currentTimeMillis()}%x"
      val untracedNs = mutable.ArrayBuffer.empty[Double]
      val tracedNs = mutable.ArrayBuffer.empty[Double]
      val perStep = mutable.ArrayBuffer.empty[Metrics.Sink]
      val spans = mutable.ArrayBuffer.empty[Span]
      val t0 = System.nanoTime()
      var i = 0
      while (i == 0 || System.nanoTime() < deadline(t0)) {
        val u = w.step(ctx, 2 * i)
        untracedNs += u.ns; ops ++= u.ops
        ctx.tracer = new Tracer(spark.sparkContext, s"$runId/$i", enabled = true)
        val s = w.step(ctx, 2 * i + 1)
        tracedNs += s.ns; ops ++= s.ops
        val m = new Metrics.Sink
        w.layers(ctx, m)
        perStep += m
        spans ++= ctx.tracer.all
        ctx.tracer.close()
        ctx.tracer = new Tracer(spark.sparkContext, "untraced", enabled = false)
        i += 1
      }
      Metrics.PerLayer.foreach { case (n, _) =>
        metrics.put(n, Stats.median(perStep.map(_.get(n)).toSeq))
      }
      Kernels.measure(a.seed, metrics)
      metrics.put("trace.overhead_s",
        (Stats.median(tracedNs.toSeq) - Stats.median(untracedNs.toSeq)) / 1e9)
      writeSpans(new File(a.traces, s"$runId.jsonl"), spans.toSeq)
    }

    phase("loop")
    failures ++= w.check(ctx)
    phase("checks")
    val failedOps = ops.count(!_.ok) + (if (failures.nonEmpty) 1 else 0)
    val attempted = ops.size + warmOk
    if (!a.trace) {
      metrics.put("setup_s", Stats.median(setups))
      // an operation is one whole step: its calls run back to back, and a
      // percentile over a mix of call kinds would jump between kinds
      val done = steps.filter { case (s, _) => s.ops.forall(_.ok) && s.ns > 0 }.toSeq
      // steps on a disturbed host are left out, unless fewer than a third
      // of the steps ran on a quiet one
      val quiet = done.filter(_._2 < StealLimit)
      val ok = (if (quiet.nonEmpty && 3 * quiet.length >= done.length) quiet else done).map(_._1)
      println(f"${done.length - quiet.length} of ${done.length} steps ran while at least " +
        f"${StealLimit * 100}%.0f%% of the CPU time was stolen; " +
        (if (ok.length == quiet.length) "they are left out" else "too few quiet steps, all are kept"))
      if (ok.nonEmpty) {
        metrics.put("items_per_s", Stats.median(ok.map(s => s.items / secs(s.ns))))
        val ms = ok.map(_.ns / 1e6)
        metrics.put("op_p50_ms", Stats.median(ms))
        val (p, v) = Stats.tail(ms)
        metrics.put("op_tail_ms", v)
        println(f"op_tail_ms is p$p%s over ${ms.length} steps (${ms.count(_ > v)} beyond)")
      }
      metrics.put("peak_rss_mb", peakRssMb())
    }
    w.describe.foreach(println)
    failures.foreach(f => println(s"CHECK FAILED: $f"))
    val declared = if (a.trace) Metrics.PerLayer else Metrics.EndToEnd
    val rendered = metrics.render(declared)
    rendered.foreach { case (n, v, u) => println(s"$n = $v $u") }
    val correct = failures.isEmpty && failedOps == 0
    val result = Stats.json(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failedOps,
      "metrics" -> scala.collection.immutable.ListMap(rendered.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
      }: _*)))
    val out = new java.io.PrintWriter(a.result, "UTF-8")
    try out.println(result) finally out.close()
    spark.stop()
  }

  private def writeSpans(file: File, spans: Seq[Span]): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach(s => w.println(Tracer.render(s))) finally w.close()
  }
}
