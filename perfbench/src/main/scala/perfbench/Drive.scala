package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}

import graft.apps.Pipeline

/** One `Pipeline.run(once = true)` call, awaited to the end of all three
  * queries: its start and end (nanoTime), the `facturas_erroneas` batch
  * directories it created, the chunks whose marker lines those hold
  * (filled in by [[Stream.resolveChunks]]), and the layer metrics when it
  * was traced. */
case class Drain(start: Long, end: Long, chunks: Set[Int], failed: Boolean,
                 layers: Map[String, Double] = Map.empty, batches: Seq[String] = Nil) {
  def wallMs: Double = (end - start) / 1e6
}

/** The online pipeline over one set of inputs, drained on demand. */
class Stream(spark: SparkSession, val in: Inputs, km: Model, bis: Model) {
  val out = s"${in.dir}/out"
  private val errDir = new File(s"$out/facturas_erroneas")
  private val seenBatches = mutable.Set[String]()
  val drains = mutable.ArrayBuffer[Drain]()
  var tracer: Option[Tracer] = None

  def drain(): Drain = {
    val t0 = System.nanoTime()
    var ids = Map.empty[java.util.UUID, String]
    val failed = try {
      val qs = Pipeline.run(spark, in.recordsDir, km.dir, km.thresholdFile,
        bis.dir, bis.thresholdFile, out, once = true)
      ids = qs.map(_.runId).zip(Layers.Queries).toMap
      qs.foreach(_.awaitTermination())
      false
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] drain failed: $e")
      true
    }
    val t1 = System.nanoTime()
    val layers = tracer.filter(_.isOn).map(t => Layers.drain(t.take(), ids, t0, (t1 - t0) / 1e6))
      .getOrElse(Map.empty)
    val d = Drain(t0, t1, Set.empty, failed, layers, freshBatches())
    drains += d
    d
  }

  /** `facturas_erroneas` batch directories this harness has not seen yet. */
  private def freshBatches(): Seq[String] = {
    val fresh = Option(errDir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .map(_.getName).filter(n => n.matches("b\\d+") && !seenBatches(n))
    seenBatches ++= fresh
    fresh
  }

  /** Fill in each drain's committed chunks from the marker lines in its
    * batch directories. One read after the last drain, so no Spark job of
    * the harness runs between drains. */
  def resolveChunks(): Unit = {
    val dirs = drains.flatMap(_.batches)
    val byBatch = if (dirs.isEmpty) Map.empty[String, Set[Int]] else {
      import spark.implicits._
      spark.read.schema("key string, value string").parquet(dirs.map(n => s"$errDir/$n").toSeq: _*)
        .filter(col("key").startsWith("M"))
        .select(regexp_extract(input_file_name(), "/(b\\d+)/[^/]*$", 1), col("key"))
        .as[(String, String)].collect().toSeq
        .groupMap(_._1)(_._2.drop(1).toInt).map { case (b, cs) => b -> cs.toSet }
    }
    for (i <- drains.indices)
      drains(i) = drains(i).copy(chunks = drains(i).batches.flatMap(byBatch.getOrElse(_, Set.empty)).toSet)
  }
}

object Drive {

  /** Chunk latency: from the chunk's scheduled landing to the end of the
    * drain that committed its marker. Left: a chunk committed twice or
    * never. */
  def attribute(scheduled: Map[Int, Long], drains: Seq[Drain]): Either[String, Map[Int, Long]] = {
    val by = mutable.Map[Int, Long]()
    for (d <- drains; c <- d.chunks if scheduled.contains(c)) {
      if (by.contains(c)) return Left(s"chunk $c committed by two drains")
      by(c) = d.end - scheduled(c)
    }
    val missing = scheduled.keySet -- by.keySet
    if (missing.nonEmpty) Left(s"chunks never committed: ${missing.toSeq.sorted.mkString(",")}")
    else Right(by.toMap)
  }

  /** Open loop: a helper thread lands chunk `i` at `t0 + i × period`,
    * whatever the pipeline is doing, while this thread drains back to
    * back, so the load runs through the warm-up too and the measured
    * drains start in steady state. After `warm` drains, `warmedUp` runs;
    * then `measured` drains follow. The helper stops before the last
    * one, so that drain commits every landed chunk. Returns each landed
    * chunk's scheduled and actual landing time. */
  def openLoop(s: Stream, warm: Int, measured: Int, periodNs: Long, tracing: Boolean,
               warmedUp: () => Unit): (Map[Int, Long], Map[Int, Long]) = {
    val t0 = System.nanoTime() + 50000000L
    val scheduled = (0 until s.in.spec.chunks).map(i => i -> (t0 + i * periodNs)).toMap
    val actual = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val gen = new Thread(() => {
      var i = 0
      while (i < scheduled.size && !stop.get) {
        var now = System.nanoTime()
        while (now < scheduled(i) && !stop.get) {
          Thread.sleep(math.min(math.max((scheduled(i) - now) / 1000000L, 1L), 20L))
          now = System.nanoTime()
        }
        if (!stop.get) {
          s.in.land(i)
          actual.put(i, System.nanoTime())
        }
        i += 1
      }
    }, "perfbench-load")
    gen.setDaemon(true)
    gen.start()
    def halt(): Unit = { stop.set(true); gen.join() }
    try {
      Thread.sleep(math.max((t0 - System.nanoTime()) / 1000000L, 0L))
      for (_ <- 0 until warm) s.drain()
      warmedUp()
      for (k <- 0 until measured) {
        if (k == measured - 1) halt()
        traced(s, tracing, k)(s.drain())
      }
    } finally halt()
    val landed = actual.asScala.toMap
    (scheduled.filter { case (c, _) => landed.contains(c) }, landed)
  }

  /** Closed loop, one client: land the next chunk, drain it, repeat:
    * `warm` drains, then `warmedUp`, then `measured` drains. Each chunk
    * is scheduled at the moment it lands. */
  def closedLoop(s: Stream, warm: Int, measured: Int, tracing: Boolean,
                 warmedUp: () => Unit): Map[Int, Long] = {
    val landed = mutable.LinkedHashMap[Int, Long]()
    def step(c: Int): Unit = {
      landed(c) = System.nanoTime()
      s.in.land(c)
      s.drain()
    }
    (0 until warm).foreach(step)
    warmedUp()
    for (k <- 0 until measured) traced(s, tracing, k)(step(warm + k))
    landed.toMap
  }

  /** When tracing, listeners are attached to every other drain (the k-th
    * for even k); the drains in between measure the tracing overhead. */
  private def traced[T](s: Stream, tracing: Boolean, k: Int)(body: => T): T = {
    s.tracer.foreach(t => if (tracing && k % 2 == 0) t.attach() else t.detach())
    body
  }
}
