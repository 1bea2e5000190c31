package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload. `setup` builds a fresh ready-to-query state
  * (timed through [[Ctx.timed]]); `run` runs the workload's fixed op
  * sequence or job set against it once and records every op. */
trait Workload {
  type State
  def name: String
  /** Make the seeded inputs (untimed). */
  def prepare(ctx: Ctx): Unit
  def setup(ctx: Ctx, i: Int): State
  /** Counts that prove the intended code paths, checked before timing. */
  def checkCounts(ctx: Ctx, st: State): Seq[(String, Long)]
  /** Untimed: first-use costs and the expected outputs. */
  def warm(ctx: Ctx, st: State): Unit
  /** The op sequence or job set, every op recorded. */
  def run(ctx: Ctx, st: State, rec: Recorder): Unit
  def release(ctx: Ctx, st: State): Unit

  /** One timed run; its time (output checks excluded) is `wall_s`. */
  def measure(ctx: Ctx, st: State, rec: Recorder): Unit =
    rec.wallS = rec.clock(run(ctx, st, rec))
}

final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Int, val work: Path) {
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** (read kind, addEdges chain depth, optimized-plan nodes) of each
    * traced read. */
  val planNodesPerRead = mutable.ArrayBuffer.empty[(String, Int, Int)]

  private var timing = false

  /** Time one set-up (only the outermost call counts when set-ups nest). */
  def timed[T](body: => T): T =
    if (timing) body
    else {
      timing = true
      val t0 = System.nanoTime()
      try body finally {
        setupS += (System.nanoTime() - t0) / 1e9
        timing = false
      }
    }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

object Main {
  val Workloads: Seq[Workload] = Seq(Interactive, Batch)
  /** Set-ups per run. The first pays the JVM's warm-up and is not
    * counted; `setup_s` is the median of the others. */
  val Setups = 4

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, traceDir: Path)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match { case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t") },
      Paths.get(need("work")), Paths.get(kv.getOrElse("trace-dir", need("work"))))
    require(Workloads.exists(_.name == a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.map(_.name).mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case e: Throwable =>
        System.err.println("[perfbench] run failed:")
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  def run(a: Args): Int = {
    Files.createDirectories(a.work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      // Releasing superseded checkpoints makes Spark warn once per block
      // that the lineage cannot recompute — the intended contract.
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
      val wl = Workloads.find(_.name == a.workload).get
      val tracer = new Tracer(spark, a.trace)
      val layers = new SparkLayers(spark)
      if (a.trace) layers.install()
      val ctx = new Ctx(spark, tracer, a.seed, a.seconds, a.work)
      runWorkload(wl, ctx, layers, a, cores)
    } finally spark.stop()
  }

  private def runWorkload(wl: Workload, ctx: Ctx, layers: SparkLayers, a: Args, cores: Int): Int = {
    val tStart = System.nanoTime()
    ctx.log(f"session ready at JVM uptime ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    def phase(what: String): Unit = ctx.log(f"$what done at ${(System.nanoTime() - tStart) / 1e9}%.1f s")
    wl.prepare(ctx)
    phase("prepare")
    // Each set-up starts from a collected heap, and none overlaps the
    // release of an earlier one.
    val states = (1 to Setups).map { i => System.gc(); wl.setup(ctx, i) }
    phase("set-up")
    // Untraced: one timed run on the last set-up. Traced: an untraced
    // run, then the traced run, one set-up each (trace.overhead_s is
    // their difference).
    states.dropRight(if (a.trace) 2 else 1).foreach(wl.release(ctx, _))
    val st = states.last
    val counts = wl.checkCounts(ctx, st)
    ctx.log(s"${wl.name} seed=${a.seed} set-up counts: " +
      counts.map { case (k, v) => s"$k=$v" }.mkString(" "))
    wl.warm(ctx, st)
    phase("warm-up")

    val recs = mutable.ArrayBuffer.empty[Recorder]
    var layerMetrics = Seq.empty[(String, Double, String)]
    if (!a.trace) {
      val rec = new Recorder
      wl.measure(ctx, st, rec)
      recs += rec
    } else {
      ctx.tracer.enabled = false
      val untraced = new Recorder
      wl.measure(ctx, states(states.size - 2), untraced)
      ctx.tracer.enabled = true
      layers.drain()
      val w0 = ctx.tracer.nowMs
      val traced = new Recorder
      wl.measure(ctx, st, traced)
      val w1 = ctx.tracer.nowMs
      layers.drain()
      recs ++= Seq(untraced, traced)
      layerMetrics = PerLayer.metrics(ctx, layers, w0, w1, cores, untraced, traced)
      Files.createDirectories(a.traceDir)
      ctx.tracer.writeJsonl(a.traceDir.resolve(s"${wl.name}-seed${a.seed}.jsonl"))
    }

    phase("measure")
    recs.flatMap(_.failures).take(20).foreach(f => ctx.log(s"FAILED: $f"))
    val attempted = recs.map(_.attempted).sum
    val failed = recs.map(_.failed).sum

    val metrics =
      if (a.trace) layerMetrics
      else {
        val r = recs.head
        val ops = r.reads.size + r.writes.size
        Seq(
          ("setup_s", Stats.median(ctx.setupS.drop(1).toSeq), "s"),
          ("wall_s", r.wallS, "s"),
          ("ops_per_s", ops / r.wallS, "1/s"),
          ("read_p50_ms", Stats.quantile(r.reads.toSeq, 0.5), "ms"),
          ("read_p90_ms", Stats.quantile(r.reads.toSeq, 0.9), "ms"),
          ("write_p50_ms", Stats.quantile(r.writes.toSeq, 0.5), "ms"),
          ("retained_heap_mb", retainedHeapMb(), "MB"))
      }
    recs.foreach(r => r.log.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      ctx.log(f"op $k%-16s n=${xs.size}%4d median=${Stats.median(xs.map(_._2).toSeq)}%9.1f ms " +
        s"in order: ${xs.map(x => f"${x._2}%.0f").mkString(" ")}")
    })
    ctx.log(s"${wl.name} setups=${ctx.setupS.map(s => f"$s%.3f").mkString(",")} " +
      s"reads=${recs.map(_.reads.size).sum} writes=${recs.map(_.writes.size).sum}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": ${Json.metrics(metrics)}}""")
    0
  }

  /** Driver heap in use after full collections, once the asynchronous
    * block releases have landed (two equal readings in a row). */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Long = { System.gc(); mx.getHeapMemoryUsage.getUsed }
    var prev = used()
    var cur = prev
    var i = 0
    do {
      Thread.sleep(200)
      prev = cur
      cur = used()
      i += 1
    } while (i < 10 && math.abs(cur - prev) > (1L << 20))
    cur / 1e6
  }
}
