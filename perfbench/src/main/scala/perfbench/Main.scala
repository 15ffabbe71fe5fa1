package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark of the online invoice-anomaly pipeline (`apps/Pipeline`).
  *
  * Usage: `Main --workload <stream_small|stream_large> --seed <n>
  * --seconds <s> --trace <0|1> --models <dir> --work <dir> --side <file>
  * [--master local[4]] [--fault threshold0]`, or `Main --fit-models
  * <dir> --work <dir>` to fit the models runs score with (build step).
  *
  * Prints one JSON line last: `{"correct", "attempted", "failed",
  * "metrics"}`, with the end-to-end metrics when `--trace 0` and the
  * per-layer metrics when `--trace 1`. Everything else (samples, tail
  * percentile and count, input properties, per-drain layer rows, check
  * results) goes to the `--side` file. Exits 1 when a check fails.
  */
object Main {
  case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
                  side: String, models: String, master: String, fault: Option[String])

  def parse(a: Array[String]): Map[String, String] =
    a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val m = parse(argv)
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val t0 = System.nanoTime()
    val work = req("work")
    val spark = SparkSession.builder()
      .master(m.getOrElse("master", "local[4]"))
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code = try m.get("fit-models") match {
      case Some(dir) =>
        // build step: the models every run of this checkout scores with
        val phases = new Phases()
        Fit.build(spark, dir, phases)
        Json.write(s"$dir/fit.json", phases.ms.toMap)
        0
      case None =>
        val a = Args(req("workload"), req("seed").toLong, req("seconds").toInt,
          req("trace") == "1", work, req("side"), req("models"),
          m.getOrElse("master", "local[4]"), m.get("fault"))
        val w = Workloads.byName.getOrElse(a.workload,
          throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
        run(spark, a, w, sessionS)
    } finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Args, w: Workload, sessionS: Double): Int = {
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val measuredDrains = w.measuredDrains(a.seconds)
    val spec = w.spec(w.warmDrains + measuredDrains)
    // set-up: inputs from the seed, the build's fitted models, warm-up
    // drains (under the workload's own load)
    val tSetup = System.nanoTime()
    val in = Gen.build(a.seed, spec, s"${a.work}/inputs")
    val inputsS = (System.nanoTime() - tSetup) / 1e9
    val (km, bis) = Fit.copy(a.models, s"${a.work}/models")
    val tWarm = System.nanoTime()
    val s = new Stream(spark, in, km, bis)
    var setupS, warmS = 0.0
    val (scheduled, actual) = w.drive(s, w.warmDrains, measuredDrains, a.trace, () => {
      warmS = (System.nanoTime() - tWarm) / 1e9
      setupS = sessionS + (System.nanoTime() - tSetup) / 1e9
      Heap.sample()
      if (a.fault.contains("threshold0")) {
        // planted fault: the pipeline reads a threshold the fit never chose
        graft.ml.Persistence.saveThreshold(km.thresholdFile, 0.0)
      }
      s.tracer = tracer
    })
    tracer.foreach(_.detach())
    s.resolveChunks()
    val measured = s.drains.drop(w.warmDrains).toSeq
    Heap.sample()

    // every landed chunk is committed by exactly one drain; the measured
    // chunks are those the measured drains committed
    val attribution = Drive.attribute(scheduled, s.drains.toSeq)
    val tChecks = System.nanoTime()
    val checks = Checks.all(spark, s, km, bis) :+ ("attribution" -> attribution.left.toOption)
    val checksS = (System.nanoTime() - tChecks) / 1e9
    val measuredChunks = measured.flatMap(_.chunks)
    val latencies = attribution.toOption.fold(Seq.empty[Double])(by =>
      measuredChunks.flatMap(by.get).map(_ / 1e9))
    // each measured drain's lines per second of its wall time
    val rates = measured.map(d => d.chunks.toSeq.map(s.in.linesOf).sum / (d.wallMs / 1e3))
    val failedDrains = s.drains.count(_.failed)
    val failedChecks = checks.count(_._2.nonEmpty)
    val attempted = s.drains.size
    val tail = if (latencies.nonEmpty) Some(Stats.tail(latencies)) else None

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "latency_p50_s" -> (if (latencies.nonEmpty) Stats.median(latencies) else Double.NaN, "s"),
      "latency_tail_s" -> (tail.fold(Double.NaN)(_.value), "s"),
      "lines_per_s" -> (if (rates.nonEmpty) Stats.median(rates) else Double.NaN, "lines/s"),
      "heap_peak_mb" -> (Heap.peak / 1048576.0, "MB"))

    val side = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "master" -> a.master, "trace" -> a.trace,
      "session_s" -> sessionS, "inputs_s" -> inputsS, "warmup_s" -> warmS, "checks_s" -> checksS,
      "tail" -> tail.fold(Map.empty[String, Any])(t => Map("percentile" -> t.percentile,
        "beyond" -> t.beyond, "n" -> t.n)),
      "latencies_s" -> latencies.sorted,
      "warm_drain_wall_ms" -> s.drains.take(w.warmDrains).map(_.wallMs),
      "drain_wall_ms" -> measured.map(_.wallMs),
      "drain_chunks" -> measured.map(_.chunks.toSeq.sorted),
      "checks" -> checks.map { case (k, v) => k -> v.getOrElse("ok") }.toMap,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)

    val printed: Map[String, (Double, String)] = if (!a.trace) e2e.toMap else {
      val traced = measured.filter(_.layers.nonEmpty)
      val untraced = measured.filter(_.layers.isEmpty)
      val layers = mutable.LinkedHashMap[String, Double]() ++ Layers.mean(traced.map(_.layers))
      layers("pipeline.drains_traced") = traced.size
      layers ++= Probes.run(spark, s, km, bis)
      // the training layer, fitted again here with its jobs counted
      val phases = new Phases(tracer)
      tracer.foreach(_.attach())
      Fit.build(spark, s"${a.work}/fit", phases)
      tracer.foreach(_.detach())
      layers ++= phases.ms.filter(_._1.startsWith("train.")) ++= phases.jobs
      val lag = measuredChunks.flatMap(c => actual.get(c).map(x => (x - scheduled(c)) / 1e6))
      layers("gen.lag_ms") = if (lag.isEmpty) 0.0 else lag.max
      layers("gen.backlog_lines_end") = backlogAtEnd(s, scheduled, actual)
      layers("trace.overhead_ms") =
        if (traced.isEmpty || untraced.isEmpty) Double.NaN
        else Stats.median(traced.map(_.wallMs)) - Stats.median(untraced.map(_.wallMs))
      side("drain_layers") = traced.map(_.layers)
      side("inputs") = Gen.properties(spark, s.in)
      Layers.Units.map { case (k, u) => k -> (layers.getOrElse(k, 0.0), u) }.toMap
    }
    side("metrics") = printed.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val correct = failedChecks == 0 && failedDrains == 0
    side("correct") = correct
    Json.write(a.side, side.toMap)
    for ((k, v) <- checks; msg <- v) System.err.println(s"[perfbench] check $k FAILED: $msg")
    println(Json.of(Map(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> (failedDrains + failedChecks),
      "metrics" -> printed.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    if (correct) 0 else 1
  }

  /** Lines landed by the end of the schedule and not yet committed then. */
  private def backlogAtEnd(s: Stream, scheduled: Map[Int, Long], actual: Map[Int, Long]): Double =
    if (scheduled.isEmpty) 0.0 else {
      val end = scheduled.values.max
      val committedAt = s.drains.flatMap(d => d.chunks.map(_ -> d.end)).toMap
      scheduled.keys.filter(c => actual.get(c).exists(_ <= end) &&
        committedAt.get(c).forall(_ > end)).toSeq.map(s.in.linesOf).sum.toDouble
    }
}

/** Peak live heap: heap in use right after a full collection, sampled
  * once the warm-up drains end and once the measured drains end (outside
  * every timed span), so it reads what the program retains (state
  * stores, caches, models) rather than when garbage happened to be
  * collected. */
object Heap {
  var peak = 0L

  def sample(): Unit = {
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
}

/** Minimal JSON writer for the result line and the side file. */
object Json {
  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => of(k.toString) + ": " + of(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ", ", "]")
    case x => of(x.toString)
  }

  def write(path: String, v: Any): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(f.toPath, of(v) + "\n")
  }
}
