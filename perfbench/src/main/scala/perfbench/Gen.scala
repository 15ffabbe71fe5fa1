package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shape of one workload's generated inputs. */
case class Spec(
    linesPerChunk: Int,    // mean production lines per chunk, marker excluded
    chunks: Int,           // pre-built production chunks
    linesPerInvoice: Int)  // mean lines per invoice, both splits

/** The inputs of one set-up, all on local disk under `dir`. Chunk files
  * carry the generator's `kind` of each line (good, invalid, cancelled,
  * marker) beside `key` and `value`; the pipeline reads them with its own
  * `(key, value)` schema, so only the checks see `kind`. `linesOf(c)` is
  * chunk `c`'s production lines, marker excluded. */
case class Inputs(dir: String, spec: Spec, linesOf: IndexedSeq[Int]) {
  def chunkFile(c: Int) = new File(f"$dir/chunks/chunk-$c%05d.parquet")
  def landed(c: Int) = new File(f"$dir/records/chunk-$c%05d.parquet")
  def recordsDir = s"$dir/records"

  /** Make chunk `c` visible to the pipeline's file source in one atomic
    * rename, as a producer flushing a segment would. */
  def land(c: Int): Unit =
    Files.move(chunkFile(c).toPath, landed(c).toPath, StandardCopyOption.ATOMIC_MOVE)

  /** Every landed line with its chunk and kind. */
  def lines(spark: SparkSession): DataFrame =
    spark.read.parquet(recordsDir).withColumn("chunk",
      regexp_extract(input_file_name(), "chunk-(\\d+)\\.parquet", 1).cast("int"))
}

/** One generated purchase line: line `j` of invoice `inv`. */
case class Line(inv: Long, j: Int, cust: Long, ts: LocalDateTime, qty: Int, price: Double)

/** Seeded generator of UCI-shaped purchase lines (the reference's online
  * retail CSV: InvoiceNo, StockCode, Description, Quantity, InvoiceDate,
  * UnitPrice, CustomerID, Country). Every random choice is a hash of the
  * seed, a tag and the row's ids, so a seed always yields the same
  * inputs. Training and production invoices are disjoint id ranges. For
  * production, the seed chooses which chunk each line lands in (so
  * invoices span chunks), which lines are invalid (~1 in 13) and which
  * invoices are cancelled (~1 in 7).
  *
  * The training split is written as `orders.parquet` + `lineitem.parquet`,
  * the layout `InvoiceQueries.invoiceFeatures` (and so `Train.run`) reads.
  * The production split is written as pre-built kafka-shaped `(key,
  * value)` parquet chunks, straight from the JVM rather than through
  * Spark jobs, so set-up stays short; each chunk also carries one invalid
  * marker line keyed `M<chunk>`, which the router publishes to
  * `facturas_erroneas` in the same micro-batch as the rest of the chunk.
  */
object Gen {
  val InvalidRate = 1.0 / 13
  val CancelRate = 1.0 / 7
  /** First production invoice; training invoices count up from 1. */
  val FirstInvoice = 536365L

  /** Uniform [0, 1) drawn from (seed, tag, ids): splitmix64's finaliser
    * folded over the inputs. */
  def u(seed: Long, tag: String, ids: Long*): Double = {
    var h = mix(seed ^ tag.hashCode.toLong * 0x9E3779B97F4A7C15L)
    for (i <- ids) h = mix(h + i * 0x9E3779B97F4A7C15L)
    (h >>> 11) * (1.0 / (1L << 53))
  }

  private def mix(x: Long): Long = {
    var z = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Invoices and their lines: `n` invoices numbered from `first`. */
  def lines(seed: Long, first: Long, n: Long, linesPerInvoice: Int): Iterator[Line] =
    (first until first + n).iterator.flatMap { inv =>
      val nLines = 1 + (u(seed, "nl", inv) * (2 * linesPerInvoice - 1)).toInt
      val cust = 12000L + (u(seed, "cust", inv) * 4000).toLong
      val ts = LocalDateTime.of(2011, 1 + (u(seed, "mo", inv) * 12).toInt,
        1 + (u(seed, "d", inv) * 28).toInt, 8 + (u(seed, "h", inv) * 11).toInt,
        (u(seed, "mi", inv) * 60).toInt)
      // ~3% of invoices price far above the rest: the anomalies to find
      val mult = if (u(seed, "out", inv) < 0.03) 25.0 else 1.0
      (0 until nLines).iterator.map { j =>
        val price = math.max(0.01, BigDecimal(math.exp(u(seed, "p", inv, j) * 4.0 - 1.0) * mult)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
        Line(inv, j, cust, ts, 1 + (math.pow(u(seed, "q", inv, j), 3) * 60).toInt, price)
      }
    }

  /** The training split, in the layout `Train.run` reads. */
  def train(spark: SparkSession, seed: Long, invoices: Int, linesPerInvoice: Int,
            dir: String): Unit = {
    import spark.implicits._
    val t = lines(seed, 1L, invoices, linesPerInvoice).toSeq
    t.map(l => (l.inv, l.cust, Timestamp.from(l.ts.toInstant(ZoneOffset.UTC)))).distinct
      .toDF("o_orderkey", "o_custkey", "o_orderdate").write.parquet(s"$dir/orders.parquet")
    t.map(l => (l.inv, l.qty.toDouble, l.price))
      .toDF("l_orderkey", "l_quantity", "l_extendedprice").write.parquet(s"$dir/lineitem.parquet")
  }

  private val ChunkSchema = MessageTypeParser.parseMessageType(
    "message chunk { required binary key (UTF8); required binary value (UTF8); " +
      "required binary kind (UTF8); }")

  /** The production split as pre-built chunks under `dir`. */
  def build(seed: Long, spec: Spec, dir: String): Inputs = {
    val invoices = spec.linesPerChunk.toLong * spec.chunks / spec.linesPerInvoice
    val date = DateTimeFormatter.ofPattern(graft.model.Schemas.invoiceDateFormat)
    val rows = Array.fill(spec.chunks)(mutable.ArrayBuffer[(String, String, String)]())
    for (l <- lines(seed, FirstInvoice, invoices, spec.linesPerInvoice)) {
      val cancelled = u(seed, "c", l.inv) < CancelRate
      val invalid = u(seed, "bad", l.inv, l.j) < InvalidRate
      val key = (if (cancelled) "C" else "") + l.inv
      val value = Seq(key, s"SKU${(l.inv * 31 + l.j) % 997}", s"ITEM ${l.j}", l.qty.toString,
        date.format(l.ts), l.price.toString, l.cust.toString,
        if (invalid) "" else "United Kingdom").mkString(",")
      val kind = if (invalid) "invalid" else if (cancelled) "cancelled" else "good"
      rows((u(seed, "chunk", l.inv, l.j) * spec.chunks).toInt) += ((key, value, kind))
    }
    new File(s"$dir/chunks").mkdirs()
    new File(s"$dir/records").mkdirs()
    val in = Inputs(dir, spec, rows.map(_.size).toIndexedSeq)
    val group = new SimpleGroupFactory(ChunkSchema)
    val conf = new Configuration()
    for (c <- 0 until spec.chunks) {
      val w = ExampleParquetWriter.builder(new LocalOutputFile(in.chunkFile(c).toPath))
        .withType(ChunkSchema).withConf(conf).build()
      try (rows(c) :+ ((s"M$c", s"MARKER,$c", "marker"))).foreach { case (k, v, kind) =>
        w.write(group.newGroup().append("key", k).append("value", v).append("kind", kind))
      } finally w.close()
    }
    in
  }

  /** Properties of the landed inputs, recorded with the
    * trace: invalid share of lines, cancelled share of invoices, lines
    * per invoice, and the share of good lines whose invoice already had
    * a good line in an earlier chunk (so its state was live). */
  def properties(spark: SparkSession, in: Inputs): Map[String, Double] = {
    val l = in.lines(spark).filter(col("kind") =!= "marker")
    val r = l.agg(count(lit(1)), sum(when(col("kind") === "invalid", 1).otherwise(0)),
      countDistinct(col("key")),
      countDistinct(when(col("key").startsWith("C"), col("key")))).head()
    val good = l.filter(col("kind") === "good")
    val first = good.groupBy("key").agg(min("chunk").as("first"))
    val seen = good.join(first, "key").agg(
      sum(when(col("chunk") > col("first"), 1).otherwise(0)), count(lit(1))).head()
    val n = r.getLong(0).toDouble
    Map(
      "lines" -> n,
      "invalid_share" -> r.getLong(1) / n,
      "cancelled_invoice_share" -> r.getLong(3).toDouble / r.getLong(2),
      "lines_per_invoice" -> n / r.getLong(2),
      "live_state_line_share" -> seen.getLong(0).toDouble / math.max(seen.getLong(1), 1L))
  }
}
