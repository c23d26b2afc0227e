package pvbench

import java.io.File
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.clean.CleanOps
import graft.extract.Extract
import graft.merge.Merge
import graft.meta.MetaOps
import graft.relational.RelationalOps
import graft.schema.SchemaOps

/** The pyveb core loop as sequential micro-batches. Each batch a seeded
  * `lineitem` slice lands (new keys, re-delivered keys with changed
  * values, dirty values); the batch cuts it by watermark, stages it
  * (schema, clean, metadata, strict enrichment against orders and
  * customer), upserts it into a ship-month-partitioned target and
  * appends one row to a load-audit table.
  *
  * Keys arrive in ship-month order and re-deliveries come from the
  * last three months' keys, so each batch rewrites a bounded set of
  * partitions and the loop has a steady state. A key's ship date never
  * changes between deliveries (the partition-scoped upsert contract);
  * the dirty date lives in `l_receiptdate`. */
final class EtlMerge(seed: Long, scale: Double) extends Workload {
  private val nCustomers = 1000
  private val nOrders = 30000
  private val newPerBatch = math.max(50, (1000 * scale).toInt)
  private val redeliverPerBatch = newPerBatch * 3 / 10
  private val keysPerMonth = newPerBatch * 2
  private val historyKeys = keysPerMonth * 4
  private val recentKeys = keysPerMonth * 3
  private val Keys = Seq("l_orderkey", "l_linenumber")
  private val Epoch = LocalDateTime.of(2024, 1, 1, 0, 0)

  val prefix = "etl"
  val items = "rows"
  val itemsPerStep: Long = newPerBatch + redeliverPerBatch
  val ops = Seq(
    "stage" -> Seq("extract.after_watermark", "extract.max_value", "schema.enforce_schema",
      "clean.empty_and_nan_to_null", "clean.clean_old_dates", "meta.add_metadata",
      "meta.with_partition_columns", "relational.strict_enrich_join"),
    "merge" -> Seq("merge.upsert", "merge.append"))
  def params: Map[String, Any] = Map("new_per_batch" -> newPerBatch,
    "redelivered_per_batch" -> redeliverPerBatch, "history_rows" -> historyKeys,
    "customers" -> nCustomers, "orders" -> nOrders, "partitioning" -> "year/month of l_shipdate")

  private var spark: SparkSession = _
  private var tr: Tracer = _
  private var dir: File = _
  private def landing = new File(dir, "landing")
  private def target = new File(dir, "target")
  private def audit = new File(dir, "audit")
  private var ordersDim: DataFrame = _
  private var customerDim: DataFrame = _
  private var watermark: Any = -1
  private var files = Map.empty[String, Long]
  private val sliceBytes = mutable.Map.empty[Int, Long]
  private val writtenBytes = mutable.Map.empty[Int, Long]
  private val partsRewritten = mutable.Map.empty[Int, Int]

  private val rawSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", StringType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType), StructField("l_receiptdate", StringType)))
  private val stageSchema = StructType(Seq(
    StructField("l_quantity", DoubleType), StructField("l_receiptdate", TimestampNTZType)))

  private def mix(a: Long, b: Long, c: Long): Long = {
    var h = seed * 0x9E3779B97F4A7C15L ^ a * 0xBF58476D1CE4E5B9L ^ b * 0x94D049BB133111EBL ^ c
    h ^= h >>> 31; h *= 0x7FB5D35A2F2B9A5DL; h ^ (h >>> 29)
  }

  /** Delivery `b` of key `k` (`b` = -1 is the pre-loaded history). */
  private def row(k: Long, b: Int): Row = {
    val r = new SplittableRandom(mix(k, b, 1))
    val fixed = new SplittableRandom(mix(k, 0, 2))
    val (y, m) = shipMonth(k)
    val ship = LocalDateTime.of(y, m, 1, 0, 0).plusDays(fixed.nextInt(28))
    val receipt =
      if (r.nextInt(100) < 5) f"18${r.nextInt(100)}%02d-06-15 00:00:00"
      else ship.plusDays(1 + r.nextInt(30)).toString.replace('T', ' ') + ":00"
    val flag = r.nextInt(100) match {
      case x if x < 4 => ""
      case x if x < 7 => "NaN"
      case x => Seq("A", "N", "R")(x % 3)
    }
    Row(1L + (k / 4) % nOrders, 1L + fixed.nextInt(20000), 1L + fixed.nextInt(1000),
      (1 + k % 4 + 4 * (k / (4L * nOrders))).toInt,
      s"${1 + r.nextInt(50)}.0", (100 + r.nextInt(1000000)) / 100.0,
      if (r.nextInt(100) < 8) Double.NaN else r.nextInt(11) / 100.0,
      r.nextInt(9) / 100.0, flag, if (r.nextInt(100) < 2) " " else Seq("O", "F")(r.nextInt(2)),
      ship, receipt)
  }

  private def sliceKeys(b: Int): Seq[Long] = {
    val lo = historyKeys.toLong + b.toLong * newPerBatch
    val r = new SplittableRandom(mix(b, 0, 3))
    val from = math.max(0L, lo - recentKeys)
    val again = mutable.LinkedHashSet.empty[Long]
    while (again.size < redeliverPerBatch) again += from + r.nextLong(lo - from)
    (lo until lo + newPerBatch) ++ again.toSeq
  }

  private def rawFrame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), rawSchema)

  def generate(s: SparkSession, d: File, t: Tracer): Unit = {
    spark = s; tr = t; dir = d
    import s.implicits._
    val r = new SplittableRandom(seed)
    val cust = (1 to nCustomers).map(c => (c.toLong, r.nextInt(25), Seq("AUTOMOBILE", "BUILDING",
      "FURNITURE", "HOUSEHOLD", "MACHINERY")(r.nextInt(5)))).toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val ord = (1 to nOrders).map(o => (o.toLong, 1L + r.nextInt(nCustomers),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5))))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
    cust.write.parquet(new File(dir, "customer").getPath)
    ord.write.parquet(new File(dir, "orders").getPath)
    ordersDim = spark.read.parquet(new File(dir, "orders").getPath)
      .withColumnRenamed("o_orderkey", "l_orderkey")
    customerDim = spark.read.parquet(new File(dir, "customer").getPath)
      .withColumnRenamed("c_custkey", "o_custkey")
    reference(rawFrame((0L until historyKeys).map(row(_, -1))).withColumn("ingest_seq", lit(-1)))
      .write.partitionBy("year", "month").parquet(target.getPath)
    files = Files.sizes(target)
  }

  /** Two warm batches: after a single one, the first measured batch was
    * still about a tenth slower than the later ones. */
  override val warmSteps = 2
  def warm(): Unit = (0 until warmSteps).foreach { b => prepare(b); step(b); after(b) }

  override def prepare(b: Int): Unit = {
    val slice = new File(landing, s"ingest_seq=$b")
    rawFrame(sliceKeys(b).map(row(_, b))).coalesce(1).write.parquet(slice.getPath)
    sliceBytes(b) = Files.du(slice)
  }

  def step(b: Int): Unit = {
    val landed = spark.read.parquet(landing.getPath)
    val cut = tr.span("extract.after_watermark") {
      Extract.afterWatermark(landed, "ingest_seq", watermark)
    }
    val hi = tr.span("extract.max_value") { Extract.maxValue(cut, "ingest_seq") }
      .getOrElse(throw new IllegalStateException(s"batch $b: nothing after watermark $watermark"))
    val typed = tr.span("schema.enforce_schema") { SchemaOps.enforceSchema(cut, stageSchema) }
    val nulled = tr.span("clean.empty_and_nan_to_null") { CleanOps.emptyAndNanToNull(typed) }
    val dated = tr.span("clean.clean_old_dates") { CleanOps.cleanOldDates(nulled, Seq("l_receiptdate")) }
    val meta = tr.span("meta.add_metadata") {
      MetaOps.addMetadata(dated, Epoch.plusDays(b), Some(s"slice-$b"), Some(Epoch.plusDays(b).plusHours(1)))
    }
    val parted = tr.span("meta.with_partition_columns") { MetaOps.withPartitionColumns(meta, "l_shipdate") }
      // integer partition values: the partition-scoped upsert reads the
      // target back with Spark's partition type inference, which turns the
      // zero-padded month strings of withPartitionColumns ("02") into 2,
      // and its rewrite would then land in a new `month=2` directory
      // beside `month=02` (see METRICS.md, "Partition columns")
      .withColumn("year", col("year").cast(IntegerType))
      .withColumn("month", col("month").cast(IntegerType))
    val withOrder = tr.span("relational.strict_enrich_join") {
      RelationalOps.strictEnrichJoin(parted, ordersDim, Seq("l_orderkey"), Seq("o_custkey", "o_orderpriority"))
    }
    val staged = tr.span("relational.strict_enrich_join") {
      RelationalOps.strictEnrichJoin(withOrder, customerDim, Seq("o_custkey"), Seq("c_mktsegment", "c_nationkey"))
    }
    tr.span("merge.upsert") {
      Merge.upsert(tr.exchange("merge.upsert", staged), target.getPath, Keys, prunePartitions = Seq("year", "month"))
    }
    val row = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(b, itemsPerStep, watermark.toString.toLong, hi.toString.toLong)), 1),
      StructType(Seq(StructField("batch", IntegerType), StructField("rows", LongType),
        StructField("watermark_from", LongType), StructField("watermark_to", LongType))))
    tr.span("merge.append") { Merge.append(row, audit.getPath) }
    watermark = hi
  }

  override def after(b: Int): Unit = {
    val now = Files.sizes(target) ++ Files.sizes(audit)
    val fresh = now.filter { case (p, _) => !files.contains(p) && !p.contains("/.") && !p.endsWith(".crc") }
    writtenBytes(b) = fresh.values.sum
    partsRewritten(b) = fresh.keys.filter(_.startsWith(target.getPath + "/year="))
      .map(p => new File(p).getParent).toSet.size
    files = now
    Files.delete(new File(landing, s"ingest_seq=${b - 2}"))
  }

  /** The staged form of raw deliveries, spelled in plain SQL (not the
    * modules under test): missing tokens and NaN to NULL, pre-1900
    * receipt dates clamped, fixed metadata per delivery, ship-month
    * partition columns, enrichment by plain inner joins. */
  private def reference(raw: DataFrame): DataFrame = {
    raw.createOrReplaceTempView("pv_raw")
    spark.read.parquet(new File(dir, "orders").getPath).createOrReplaceTempView("pv_orders")
    spark.read.parquet(new File(dir, "customer").getPath).createOrReplaceTempView("pv_customer")
    val missing = "('', ' ', '  ', 'NaN', 'NaT')"
    val nan = (c: String) => s"CASE WHEN isnan($c) THEN NULL ELSE $c END AS $c"
    val day = "(TIMESTAMP_NTZ'2024-01-01 00:00:00' + make_dt_interval(r.ingest_seq, 0, 0, 0))"
    spark.sql(
      s"""SELECT r.l_orderkey, r.l_partkey, r.l_suppkey, r.l_linenumber,
         |  CAST(r.l_quantity AS DOUBLE) AS l_quantity,
         |  ${nan("l_extendedprice")}, ${nan("l_discount")}, ${nan("l_tax")},
         |  CASE WHEN l_returnflag IN $missing THEN NULL ELSE l_returnflag END AS l_returnflag,
         |  CASE WHEN l_linestatus IN $missing THEN NULL ELSE l_linestatus END AS l_linestatus,
         |  r.l_shipdate,
         |  greatest(CAST(r.l_receiptdate AS TIMESTAMP_NTZ), TIMESTAMP_NTZ'1900-01-01 00:00:00') AS l_receiptdate,
         |  CAST(r.ingest_seq AS INT) AS ingest_seq,
         |  concat('slice-', r.ingest_seq) AS META_file_name,
         |  $day AS META_partition_date,
         |  $day + INTERVAL 1 HOUR AS META_processing_date_utc,
         |  year(r.l_shipdate) AS year, month(r.l_shipdate) AS month,
         |  date_format(r.l_shipdate, 'dd') AS day,
         |  o.o_custkey, o.o_orderpriority, c.c_mktsegment, c.c_nationkey
         |FROM pv_raw r JOIN pv_orders o ON r.l_orderkey = o.o_orderkey
         |JOIN pv_customer c ON o.o_custkey = c.c_custkey""".stripMargin)
  }

  def check(n: Int): Verdict = {
    val deliveries = (-1 to n).iterator.flatMap { b =>
      (if (b < 0) 0L until historyKeys.toLong else sliceKeys(b)).map(k => (k, b))
    }.toSeq
    // last delivery wins per key
    val last = deliveries.groupMapReduce(_._1)(_._2)(math.max)
    val ref = reference(lastDeliveryFrame(last))
    val got = Merge.readTarget(spark, target.getPath)
    val cols = ref.columns.sorted.toSeq
    def norm(df: DataFrame) = df.select(cols.map(col): _*)
    // row multisets compared on the driver: two collects, no joins
    def bag(df: DataFrame) = norm(df).collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val (want, have) = (bag(ref), bag(got))
    def minus(x: Map[Row, Int], y: Map[Row, Int]) =
      x.toSeq.flatMap { case (r, c) => Seq.fill(c - y.getOrElse(r, 0))(r) }
    val (missing, extra) = (minus(want, have), minus(have, want))
    // a wrong row is charged to every batch that rewrote its partition
    val (yearAt, monthAt) = (cols.indexOf("year"), cols.indexOf("month"))
    val badParts = (missing ++ extra).map(r => (r.getInt(yearAt), r.getInt(monthAt))).toSet
    val badBatches = (0 to n).filter(b => sliceKeys(b).exists(k => badParts(shipMonth(k)))).toSet
    val auditRows = spark.read.parquet(audit.getPath).collect()
      .map(r => r.getAs[Int]("batch") -> r.getAs[Long]("rows")).toMap
    val auditBad = (0 to n).filterNot(b => auditRows.get(b).contains(itemsPerStep)).toSet
    Verdict(n + 1, badBatches ++ auditBad,
      Seq(s"target rows missing=${missing.size} extra=${extra.size} " +
        s"in partitions ${badParts.toSeq.sorted.map { case (y, m) => f"$y-$m%02d" }.mkString(",")}",
        s"audit rows=${auditRows.size} bad=${auditBad.size}"))
  }

  private def shipMonth(k: Long): (Int, Int) = {
    val d = LocalDateTime.of(2020, 1, 1, 0, 0).plusMonths(k / keysPerMonth)
    (d.getYear, d.getMonthValue)
  }

  private def lastDeliveryFrame(last: Map[Long, Int]): DataFrame = {
    val rows = last.toSeq.map { case (k, b) => Row.fromSeq(row(k, b).toSeq :+ b) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      rawSchema.add(StructField("ingest_seq", IntegerType)))
  }

  override def figures: Map[String, (Double, String)] = {
    val bs = writtenBytes.keys.filter(_ >= warmSteps).toSeq
    Map("etl.write_amp" -> (bs.map(writtenBytes).sum.toDouble / bs.map(sliceBytes).sum, "ratio"))
  }

  override def layerFigures(traced: Set[Int]): Map[String, Double] = {
    val bs = traced.toSeq.filter(writtenBytes.contains)
    if (bs.isEmpty) Map.empty
    else Map(
      "merge.partitions_rewritten" -> Stats.median(bs.map(partsRewritten(_).toDouble)),
      "merge.write_amp" -> bs.map(writtenBytes).sum.toDouble / bs.map(sliceBytes).sum)
  }
}
