package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Set-up (timed as `setup_s`): start the session, run one cycle of the
  * workload on tiny inputs as a warm-up, then generate the seeded inputs,
  * write them to parquet, read them back and compute the ground truth
  * (three times; the median counts). Then it runs whole cycles of the
  * workload, closed loop, for about `seconds`, runs the deep checks of the
  * first cycle's outputs, and reports medians over cycles. With `--trace 1`
  * every cycle is traced and the JSON holds the per-layer metrics. The
  * last stdout line is the JSON result; the lines before it are a readable
  * report. */
object Main {
  val PrepReps = 3

  final case class Cycle(opWall: Map[String, Double],
                         spans: Map[String, SpanStats], values: Map[String, Double]) {
    def workloadS: Double = opWall.values.sum
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val wl = Workload(name, tiny = false)

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(Some(s"local[$cores]"), Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // one cycle generates more classes than the default 100-entry codegen
      // cache holds, so each cycle would recompile what the warm-up compiled
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    try run(spark, wl, seed, seconds, trace, work, cores)
    finally spark.stop()
  }

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def run(spark: SparkSession, wl: Workload, seed: Long, seconds: Double,
                  trace: Boolean, work: Path, cores: Int): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // warm-up first, so the timed input preparations below all run warm;
    // its ops are checked and counted like the timed ones
    val t0 = System.nanoTime()
    val warm = Workload(wl.name, tiny = true)
    warm.setup(spark, seed, work.resolve("warm").toString)
    val warmInputsS = since(t0)
    val warmRunner = new Runner
    warmRunner.deepChecks = false
    warm.cycle(warmRunner)
    val warmS = since(t0)
    val warmOps = warmRunner.opWall.toSeq
    val prepS = (0 until PrepReps).map { k =>
      val t0 = System.nanoTime()
      wl.setup(spark, seed, work.resolve(s"inputs$k").toString)
      since(t0)
    }
    val setupS = sessionS + Stats.median(prepS) + warmS

    val runner = new Runner
    val tracer = new Tracer(spark.sparkContext)
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val cycleS = mutable.ArrayBuffer.empty[Double]
    if (trace) {
      spark.sparkContext.addSparkListener(tracer)
      runner.tracer = Some(tracer)
    }
    val start = System.nanoTime()
    // whole cycles only: stop before one that would run past `seconds`
    while (cycles.isEmpty || since(start) + Stats.median(cycleS.toSeq) <= seconds) {
      val c0 = System.nanoTime()
      runner.newCycle()
      runner.deepChecks = cycles.isEmpty
      wl.cycle(runner)
      cycles += Cycle(runner.opWall.toMap, runner.spans.toMap, runner.values.toMap)
      // collect between cycles so one cycle's garbage is not charged to the next
      System.gc()
      cycleS += since(c0)
    }
    if (trace) {
      spark.sparkContext.removeSparkListener(tracer)
      runner.tracer = None
    }

    // the first cycle's deep checks run now, outside the timed window
    val checkStart = System.nanoTime()
    runner.deferred.foreach(_())
    val checkS = since(checkStart)
    def med(f: Cycle => Double): Double = Stats.median(cycles.toSeq.map(f))
    val attempted = warmRunner.attempted + runner.attempted
    val failed = warmRunner.failed + runner.failed
    val failedRatio = failed.toDouble / attempted
    println(f"[graftbench] workload=${wl.name} seed=$seed cores=$cores cycles=${cycles.length}" +
      f" traced=$trace measured=${since(start)}%.1fs attempted=$attempted failed=$failed" +
      f" (warm-up ${warmRunner.attempted}/${warmRunner.failed})")
    val endToEnd: Seq[(String, Double, String)] =
      Seq(("setup_s", setupS, "s"), ("workload_s", med(_.workloadS), "s"),
        ("quality_min", med(c => wl.qualityMin(c.values)), "ratio"))
    val perCycle = cycles.toSeq.map(c => wl.measures(c.opWall, c.values))
    val named = perCycle.head.indices.map { i =>
      val (n, _, u) = perCycle.head(i)
      (n, Stats.median(perCycle.map(_(i)._2)), u)
    }
    val report = endToEnd.take(2) ++ named ++
      Seq(("failed_op_ratio", failedRatio, "ratio"), endToEnd(2))
    printTable(report)
    // per-op walls and the first cycle's output measures, for reading only
    printTable(wl.spanNames.map(s => (s"op $s", med(_.opWall.getOrElse(s, Double.NaN)), "s")))
    printTable(cycles.head.values.toSeq.sortBy(_._1).map { case (k, v) => (s"first cycle $k", v, "") })
    println(s"[graftbench] warm-up ops: ${warmOps.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")}")
    println(s"[graftbench] warm-up outputs: ${warmRunner.values.map { case (k, v) => f"$k=$v%.4g" }.mkString(" ")}")
    println(s"[graftbench] workload_s per cycle: ${cycles.map(c => f"${c.workloadS}%.2f").mkString(" ")}")
    println(f"[graftbench] cycle walls: ${cycleS.map(s => f"$s%.2f").mkString(" ")} s; deep checks $checkS%.2f s")
    println(f"[graftbench] setup: session ${sessionS}%.2f s, warm-up ${warmS}%.2f s" +
      f" (inputs ${warmInputsS}%.2f s)," +
      f" inputs ${prepS.map(s => f"$s%.2f").mkString("/")} s (median counts)")

    // a traced run reports its end-to-end figures under trace.*; run.py adds
    // the tracing overhead against an untraced run of the same seed
    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd
      else {
        val layers = perLayer(cycles.toSeq, wl) ++ endToEnd.map { case (n, v, u) => (s"trace.$n", v, u) }
        printTable(layers)
        layers
      }
    println(json(failed == 0, attempted, failed, metrics))
  }

  /** Every per-layer metric; spans this workload does not call read 0. */
  private def perLayer(traced: Seq[Cycle], wl: Workload): Seq[(String, Double, String)] = {
    val all = Workload.names.map(Workload(_, tiny = true))
    for {
      w <- all
      span <- w.spanNames
      (suffix, unit, f) <- Seq[(String, String, Cycle => Double)](
        ("wall_s", "s", _.spans.get(span).fold(0.0)(_.wallS)),
        ("jobs", "count", _.spans.get(span).fold(0.0)(_.jobs.toDouble)),
        ("task_s", "s", _.spans.get(span).fold(0.0)(_.taskS)),
        ("driver_s", "s", _.spans.get(span).fold(0.0)(_.driverS)),
        ("shuffle_mb", "MB", _.spans.get(span).fold(0.0)(_.shuffleMb)),
        ("passes", "count", _.values.getOrElse(s"$span.passes", 0.0)),
        ("passes_per_lambda", "passes/lambda", _.values.getOrElse(s"$span.passes_per_lambda", 0.0)))
      if w.pathFitSpans.contains(span) || !suffix.startsWith("passes")
    } yield {
      val v = if (wl.name == w.name) Stats.median(traced.map(f)) else 0.0
      (s"$span.$suffix", v, unit)
    }
  }

  private def printTable(rows: Seq[(String, Double, String)]): Unit =
    rows.foreach { case (n, v, u) => println(f"  $n%-58s $v%14.6f $u") }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def json(correct: Boolean, attempted: Int, failed: Int,
                   metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
