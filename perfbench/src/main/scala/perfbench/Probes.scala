package perfbench

import org.apache.spark.ml.clustering.{BisectingKMeansModel, KMeansModel}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.InvoiceFeaturizer
import graft.ml.{Persistence, Scoring}
import graft.sources.PurchaseCsv
import graft.stream.{IdempotentSink, InvoiceStateMachine, Router}

/** Standalone batch calls into each layer's public functions over the
  * chunks a run drained, timed from outside (median of `Reps`). */
object Probes {
  val Reps = 3

  def run(spark: SparkSession, s: Stream, km: Model, bis: Model): Map[String, Double] = {
    import spark.implicits._
    val records = spark.read.schema("key string, value string").parquet(s.in.recordsDir).cache()
    val n = records.count().toDouble
    val good = Router.goodRecords(records).cache()
    val nGood = good.count().toDouble
    def ms(body: => Unit): Double = Stats.median((1 to Reps).map { _ =>
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6
    })
    def drainMs(df: => DataFrame): Double = ms(df.write.format("noop").mode("overwrite").save())

    val purchases = Checks.purchases(spark, good)
    val aggs = InvoiceStateMachine(purchases, idleTimeoutMs = 0L).toDF().cache()
    val nAggs = aggs.count().toDouble
    val features = InvoiceFeaturizer.FeatureCols.map(c => if (c == "time") "time_of_day" else c)
    val probeDir = s"${s.in.dir}/probe_sink"
    var batchId = 0L
    def commit(df: DataFrame): Unit = { batchId += 1; IdempotentSink.writeBatch(df, probeDir, batchId) }
    try Map(
      "sources.parse_rows_per_s" -> n / drainMs(PurchaseCsv.parseLines(records)) * 1000,
      "router.classify_rows_per_s" -> n / drainMs(Router.classified(records)) * 1000,
      "state_machine.fold_rows_per_s" ->
        nGood / drainMs(InvoiceStateMachine(purchases, idleTimeoutMs = 0L).toDF()) * 1000,
      "scoring.rows_per_s" ->
        nAggs / drainMs(Scoring.score(aggs, features, km.centers, km.threshold)) * 1000,
      "sink.commit_ms" -> ms(commit(Seq(("k", "v")).toDF("key", "value"))),
      "sink.write_rows_per_s" -> n / ms(commit(records)) * 1000,
      "ml.model_load_ms" -> ms {
        KMeansModel.load(km.dir); BisectingKMeansModel.load(bis.dir)
        Persistence.loadThreshold(km.thresholdFile); Persistence.loadThreshold(bis.thresholdFile)
      })
    finally { aggs.unpersist(); good.unpersist(); records.unpersist() }
  }
}
