package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.InvoiceFeaturizer
import graft.ml.Scoring
import graft.sources.PurchaseCsv
import graft.stream.{IdempotentSink, InvoiceStateMachine, PurchaseLine}

/** Output checks over the four sinks after the last drain, each against
  * a batch recomputation from the generator's own label of every landed
  * line. A check returns None when it holds, else what differed. */
object Checks {

  def all(spark: SparkSession, s: Stream, km: Model, bis: Model): Seq[(String, Option[String])] = {
    val lines = s.in.lines(spark).cache()
    try Seq(
      "facturas_erroneas" -> invalid(spark, s.out, lines),
      "cancelaciones" -> cancellations(spark, s.out, lines),
      "anomalias" -> anomalies(spark, s.out, lines, km, bis))
    finally lines.unpersist()
  }

  /** `facturas_erroneas` holds exactly the generated invalid lines plus
    * the chunk markers, as a multiset (count + sum of row hashes). */
  def invalid(spark: SparkSession, out: String, lines: DataFrame): Option[String] = {
    def digest(df: DataFrame) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("key"), col("value")).cast("decimal(38,0)")), lit(0))).head()
      (r.getLong(0), r.get(1).toString)
    }
    val want = digest(lines.filter(col("kind").isin("invalid", "marker")))
    val got = digest(IdempotentSink.read(spark, s"$out/facturas_erroneas"))
    if (got == want) None else Some(s"invalid sink (rows, digest) $got, expected $want")
  }

  /** Σ over windows of each window's final count equals 8 × the distinct
    * cancelled keys: every key lands in exactly 8 of the 8 min / 1 min
    * windows, and no window closes while runs stay under the 10 min
    * watermark. The final count of a window is its row in the newest
    * batch directory that updated it. */
  def cancellations(spark: SparkSession, out: String, lines: DataFrame): Option[String] = {
    val keys = lines.filter(col("kind") === "cancelled").select("key").distinct().count()
    val rows = IdempotentSink.read(spark, s"$out/cancelaciones")
      .withColumn("b", regexp_extract(input_file_name(), "/b(\\d+)/", 1).cast("long"))
    val last = rows.withColumn("r",
        row_number().over(Window.partitionBy("w_start").orderBy(col("b").desc)))
      .filter(col("r") === 1)
    val total = Option(last.agg(sum("n")).head().get(0)).map(_.toString.toLong).getOrElse(0L)
    if (keys > 0 && total == 8 * keys) None
    else Some(s"sum of final window counts $total, expected 8 x $keys cancelled keys")
  }

  /** Batch twin of the pipeline's state machine: fold every good line
    * with `InvoiceStateMachine` into its invoice's final aggregate. */
  def finalAggs(spark: SparkSession, good: DataFrame): DataFrame = {
    import spark.implicits._
    purchases(spark, good).groupByKey(_.invoiceNo).mapGroups { (k, it) =>
      InvoiceStateMachine.toAgg(k, it.foldLeft(InvoiceStateMachine.Empty)(InvoiceStateMachine.fold))
    }.toDF()
  }

  /** Good `(key, value)` records → typed purchase lines, the projection
    * `Pipeline` applies to its staged good route. */
  def purchases(spark: SparkSession, good: DataFrame): Dataset[PurchaseLine] = {
    import spark.implicits._
    val ts = InvoiceFeaturizer.parseInvoiceDate($"InvoiceDate")
    PurchaseCsv.parseLines(good.select("value"))
      .filter($"InvoiceNo".isNotNull && $"Quantity".isNotNull && $"UnitPrice".isNotNull)
      .select($"InvoiceNo".as("invoiceNo"), $"Quantity".cast("long").as("quantity"),
        $"UnitPrice".as("unitPrice"),
        graft.queries.QueryUtil.cents($"UnitPrice").as("unitPriceCents"),
        coalesce(hour(ts) * 60 + minute(ts), lit(-60)).as("minuteOfDay"))
      .as[PurchaseLine]
  }

  /** Every invoice the batch twin flags appears in its sink with the
    * identical final payload, and no sink row carries the final payload
    * of an invoice the twin does not flag. The twin scores with the
    * centers and threshold recorded at fit time, not with the files the
    * pipeline reads. */
  def anomalies(spark: SparkSession, out: String, lines: DataFrame, km: Model,
                bis: Model): Option[String] = {
    val aggs = finalAggs(spark, lines.filter(col("kind") === "good")).cache()
    try {
      val bad = for ((name, m) <- Seq("anomalias_kmeans" -> km, "anomalias_bisect_kmeans" -> bis);
                     msg <- sinkMatches(spark, aggs, s"$out/$name", m)) yield s"$name: $msg"
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    } finally aggs.unpersist()
  }

  private def sinkMatches(spark: SparkSession, aggs: DataFrame, dir: String,
                          m: Model): Option[String] = {
    val features = InvoiceFeaturizer.FeatureCols.map(c => if (c == "time") "time_of_day" else c)
    // the payload projection of Pipeline's anomaly branch
    val want = Scoring.score(aggs, features, m.centers, m.threshold).select(
      to_json(struct(col("invoice_no"), col("avg_unit_price"), col("min_unit_price"),
        col("max_unit_price"), col("time_of_day"), col("number_items"), col("dist"))).as("value"),
      col("is_anomaly"))
    val sink = IdempotentSink.read(spark, dir).select("value").distinct()
    val r = want.join(sink, Seq("value"), "left_semi")
      .agg(sum(col("is_anomaly")), sum(lit(1L) - col("is_anomaly"))).head()
    val flagged = want.agg(sum(col("is_anomaly"))).head().getLong(0)
    val (found, wrong) = (Option(r.get(0)).fold(0L)(_.toString.toLong),
      Option(r.get(1)).fold(0L)(_.toString.toLong))
    if (flagged > 0 && found == flagged && wrong == 0) None
    else Some(s"$found of $flagged flagged payloads found, $wrong unflagged payloads published")
  }
}
