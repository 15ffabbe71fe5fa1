package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.apps.Train
import graft.etl.InvoiceFeaturizer
import graft.ml.{Persistence, Scoring, Training}

/** One fitted model as the pipeline consumes it. */
case class Model(dir: String, thresholdFile: String, centers: Seq[Seq[Double]], threshold: Double)

/** The two models the pipeline scores against, fitted with the same
  * layer calls `Train.run` makes (features → validity filter → assemble →
  * k-sweep → elbow → save → top-`ThresholdRank` threshold), over a short
  * k range and iteration cap: `Train.run`'s fixed 2..20 sweep alone would
  * outlast a run. */
object Fit {
  val Ks = 2 to 3
  val MaxIter = 5
  /** Invoices in the training split: enough that the top-2000 threshold
    * `Train.run` calibrates flags a minority. */
  val TrainInvoices = 12000
  val TrainSeed = 0L
  val LinesPerInvoice = 5

  /** Generate the training split and fit both models under `dir`, and
    * record the fitted centers and thresholds beside them. */
  def build(spark: SparkSession, dir: String, phase: Phases): (Model, Model) = {
    phase("train.inputs_ms")(
      Gen.train(spark, TrainSeed, TrainInvoices, LinesPerInvoice, s"$dir/train"))
    val (km, bis) = both(spark, s"$dir/train", dir, phase)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$Record"),
      Seq(km, bis).map(m => (m.threshold +: m.centers.map(_.mkString(","))).mkString(" "))
        .mkString("", "\n", "\n"))
    (km, bis)
  }

  /** Copy fitted models from `from` into `to`: the run's pipeline reads
    * the copies, while the checks keep the centers and thresholds that
    * were recorded at fit time. */
  def copy(from: String, to: String): (Model, Model) = {
    import java.nio.file.{Files, Path, Paths}
    def cp(src: Path, dst: Path): Unit = {
      Files.createDirectories(dst.getParent)
      if (Files.isDirectory(src)) {
        Files.createDirectories(dst)
        Files.list(src).forEach(p => cp(p, dst.resolve(p.getFileName)))
      } else Files.copy(src, dst)
    }
    for (n <- Seq("model_km", "model_bis", "thr_km.txt", "thr_bis.txt", Record))
      cp(Paths.get(from, n), Paths.get(to, n))
    val rec = Files.readAllLines(Paths.get(s"$to/$Record"))
    def model(name: String, line: String) = {
      val f = line.trim.split(" ")
      Model(s"$to/model_$name", s"$to/thr_$name.txt",
        f.tail.map(_.split(",").map(_.toDouble).toSeq).toSeq, f.head.toDouble)
    }
    (model("km", rec.get(0)), model("bis", rec.get(1)))
  }

  private val Record = "fitted.txt"

  /** Fits both models under `dir`; `phase` times each step by name. */
  private def both(spark: SparkSession, trainDir: String, dir: String,
                   phase: Phases): (Model, Model) = {
    val feats = phase("train.features_ms") {
      val f = graft.queries.InvoiceQueries.invoiceFeatures(spark, trainDir)
        .filter(InvoiceFeaturizer.validInvoice(col("invoice_no"))).cache()
      f.count()
      f
    }
    try {
      val assembled = Training.assemble(feats, InvoiceFeaturizer.FeatureCols)
      def finish(name: String, save: String => Unit,
                 centers: Seq[Seq[Double]]): Model = {
        val m = Model(s"$dir/model_$name", s"$dir/thr_$name.txt", centers, 0.0)
        phase("train.save_ms")(save(m.dir))
        val thr = phase("train.threshold_ms") {
          val scored = Scoring.score(feats, InvoiceFeaturizer.FeatureCols, centers, 0.0)
          Training.threshold(scored, "dist", Train.ThresholdRank)
        }
        Persistence.saveThreshold(m.thresholdFile, thr)
        m.copy(threshold = thr)
      }
      val km = {
        val sweep = phase("train.kmeans_sweep_ms")(Training.kMeansSweep(assembled, Ks, seed = 1L, maxIter = MaxIter))
        val (_, model, _) = sweep(Training.elbowSelection(sweep.map(_._3), Train.ElbowRatio))
        finish("km", d => model.write.overwrite().save(d),
          model.clusterCenters.map(_.toArray.toSeq).toSeq)
      }
      val bis = {
        val sweep = phase("train.bisecting_sweep_ms")(
          Training.bisectingSweep(assembled, Ks, seed = 1L, maxIter = MaxIter))
        val (_, model, _) = sweep(Training.elbowSelection(sweep.map(_._3), Train.ElbowRatio))
        finish("bis", d => model.write.overwrite().save(d),
          model.clusterCenters.map(_.toArray.toSeq).toSeq)
      }
      (km, bis)
    } finally feats.unpersist()
  }
}

/** Wall-clock spans by name, summed when a name repeats; with an
  * attached tracer, also the Spark jobs each `*_sweep_ms` span ran. */
class Phases(tracer: Option[Tracer] = None) {
  val ms = scala.collection.mutable.LinkedHashMap[String, Double]()
  val jobs = scala.collection.mutable.LinkedHashMap[String, Double]()
  def apply[T](name: String)(body: => T): T = {
    val counted = tracer.filter(_.isOn && name.endsWith("_sweep_ms"))
    counted.foreach(_.take())
    val t = System.nanoTime()
    try body
    finally {
      ms(name) = ms.getOrElse(name, 0.0) + (System.nanoTime() - t) / 1e6
      counted.foreach(tr => jobs(name.stripSuffix("_sweep_ms") + "_jobs") = tr.take().jobs.size)
    }
  }
}
