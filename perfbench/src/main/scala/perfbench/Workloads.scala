package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one op reports back: whether its output matched the expectation,
  * the rows its final query returned, the seconds of its named parts
  * (`write`, `read`) and the source rows it committed. */
final case class Outcome(ok: Boolean, detail: String, resultRows: Long,
    parts: Map[String, Double] = Map.empty, committedRows: Long = 0)

/** The context an op runs in. `step` times a named part of the op; when the
  * run is traced it also records the part as a span. */
final class OpCtx(val spark: SparkSession, val op: Int, val tracer: Option[Tracer]) {
  val parts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def step[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try tracer.fold(f)(_.span(op, name)(f))
    finally parts(name) = parts.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
  def catalyst(df: DataFrame): Unit = tracer.foreach(_.catalyst(op, df.queryExecution))
  def phase(key: String, v: Double): Unit = tracer.foreach(_.addPhase(op, key, v))
}

/** One op: `before` prepares its input, `run` is the timed op, and `after`
  * takes a traced op's measurements that need no timing (outside its span
  * and its job group). */
final case class OpSpec(name: String, run: OpCtx => Outcome, before: () => Unit = () => (),
    after: OpCtx => Unit = _ => ())

/** One workload: what a fresh session needs before its ops can run, and the
  * ops of each pass. */
trait Workload {
  /** Prerequisites on a fresh session; returns per-layer facts about them. */
  def prepare(spark: SparkSession): Map[String, Double]
  def pass(p: Int): Seq[OpSpec]
  /** Untimed passes run at the end of the set-up. */
  def warmupPasses: Int
  def notes: Seq[String] = Nil
  /** Per-layer facts read when the run ends. */
  def finish(spark: SparkSession): Map[String, Double] = Map.empty
}

object Hashing {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** One-row frame of (row count, order-insensitive hash over every output
    * column). Computing it forces every column of every row, unlike
    * `count()`, which may prune them all. */
  def rowsAndHash(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.as("h")).agg(
      count(lit(1)).as("rows"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)).as("lo"))
  }

  def hashString(hi: Long, lo: Long): String = f"$hi%x-$lo%x"
}

/** Pinned (rows, hash) per query entry, read from a tab-separated file of
  * `name rows hash` lines. */
object Pins {
  def load(path: Path): Map[String, (Long, String)] =
    Files.readAllLines(path).asScala.iterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r, h) = l.split("\t"); n -> (r.toLong, h) }.toMap
}

/** A mix of registered query entries over the generated star schema: each
  * pass runs every entry once, in an order drawn from the seed. */
final class QueryMix(entries: Seq[(String, (SparkSession, String) => DataFrame)],
    dataDir: String, pins: Map[String, (Long, String)], seed: Long,
    prereq: (SparkSession, String) => Map[String, Double]) extends Workload {

  require(entries.forall(e => pins.contains(e._1)),
    s"no pinned result for ${entries.map(_._1).filterNot(pins.contains).mkString(", ")}")

  def prepare(spark: SparkSession): Map[String, Double] = prereq(spark, dataDir)
  def warmupPasses: Int = 2

  def pass(p: Int): Seq[OpSpec] =
    new scala.util.Random(seed * 1000003L + p).shuffle(entries).map { case (name, build) =>
      OpSpec(name, ctx => {
        val df = ctx.step("builder")(build(ctx.spark, dataDir))
        val hashed = Hashing.rowsAndHash(df)
        ctx.step("plan")(hashed.queryExecution.executedPlan)
        val r = ctx.step("execute")(hashed.collect().head)
        ctx.catalyst(hashed)
        val got = (r.getLong(0), Hashing.hashString(r.getLong(1), r.getLong(2)))
        val want = pins(name)
        Outcome(got == want, s"$name: got $got, pinned $want", got._1)
      })
    }
}

/** The reference's MESHJOIN + fact upsert: each op takes one 5,000-row
  * transaction chunk through RetailIngest's cleaning, enrichment and
  * last-write-wins, MERGEs it into a graft-jsonl catalog table
  * (copy-on-write, no compaction), then reads the table back and checks
  * its live row count and SUM(SALE_CENTS) against the [[Etl]] model. */
final class EtlUpsert(seed: Long, workDir: Path, plantSum: Boolean) extends Workload {
  import graft.sources.RetailIngest

  private val inputs = workDir.resolve("etl")
  private val etl = new Etl(seed)
  Files.createDirectories(inputs)
  Files.writeString(inputs.resolve("customers_data.csv"), etl.customersCsv)
  Files.writeString(inputs.resolve("products_data.csv"), etl.productsCsv)
  private val table = "bench.etl.fact"
  private var customers: DataFrame = _
  private var products: DataFrame = _
  private var chunk = 0

  def warmupPasses: Int = 4

  def prepare(spark: SparkSession): Map[String, Double] = {
    customers = RetailIngest.customers(spark, inputs.resolve("customers_data.csv").toString).cache()
    products = RetailIngest.products(spark, inputs.resolve("products_data.csv").toString).cache()
    customers.count(); products.count()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.etl")
    spark.sql(s"""CREATE TABLE $table (ORDER_ID BIGINT, ORDER_DATE STRING,
      |PRODUCT_ID BIGINT, CUSTOMER_ID BIGINT, CUSTOMER_NAME STRING, GENDER STRING,
      |PRODUCT_NAME STRING, PRICE_CENTS BIGINT, SUPPLIER_ID BIGINT, SUPPLIER_NAME STRING,
      |STORE_ID BIGINT, STORE_NAME STRING, QUANTITY BIGINT, SALE_CENTS BIGINT)""".stripMargin)
    Map.empty
  }

  private def tableDir: Path = workDir.resolve("lake").resolve("etl").resolve("fact")

  private def dataFiles(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(_.getFileName.toString).filterNot(n => n.startsWith("_") || n.startsWith("."))
      .map(n => n -> Files.size(dir.resolve(n))).toMap

  private def treeBytes(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def csv = inputs.resolve(s"transactions_$chunk.csv")
  private var rowsIn = 0
  private var filesBefore = Map.empty[String, Long]
  private var delta: DataFrame = _

  def pass(p: Int): Seq[OpSpec] = Seq(OpSpec("chunk", before = () => {
    chunk += 1
    rowsIn = etl.nextChunk(csv)
    filesBefore = dataFiles(tableDir)
  }, run = ctx => {
    val spark = ctx.spark
    val (txns, fact) = ctx.step("builder") {
      val txns = RetailIngest.transactions(spark, csv.toString)
      val fact = RetailIngest.lastWriteWins(
        RetailIngest.buildFact(txns, customers, products), "ORDER_ID", "ingest_order")
      (txns, fact.select(
        col("ORDER_ID").cast(LongType), col("ORDER_DATE").cast(StringType),
        col("PRODUCT_ID").cast(LongType), col("CUSTOMER_ID").cast(LongType),
        col("CUSTOMER_NAME"), col("GENDER"), col("PRODUCT_NAME"),
        (col("PRODUCT_PRICE") * 100).cast(LongType).as("PRICE_CENTS"),
        col("SUPPLIER_ID").cast(LongType), col("SUPPLIER_NAME"),
        col("STORE_ID").cast(LongType), col("STORE_NAME"),
        col("QUANTITY").cast(LongType), (col("SALE") * 100).cast(LongType).as("SALE_CENTS")))
    }
    delta = fact
    if (ctx.tracer.isDefined) ctx.step("enrich") {
      val kept = txns.count()
      ctx.phase("ingest.rows_in", rowsIn.toDouble)
      ctx.phase("ingest.rows_rejected", (rowsIn - kept).toDouble)
      ctx.phase("ingest.fact_rows", fact.count().toDouble)
    }
    fact.createOrReplaceTempView("etl_delta")
    val merged = ctx.step("merge")(spark.sql(
      s"""MERGE INTO $table t USING etl_delta s ON t.ORDER_ID = s.ORDER_ID
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    ctx.catalyst(merged)
    val readBack = spark.sql(s"SELECT COUNT(*) AS n, SUM(SALE_CENTS) AS s FROM $table")
    val r = ctx.step("read")(readBack.collect().head)
    ctx.catalyst(readBack)
    val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    val planted = if (plantSum && chunk == warmupPasses + 1) 1L else 0L
    val want = (etl.liveRows, etl.saleCents + planted)
    Outcome(got == want, s"chunk $chunk: got (rows, SUM(SALE_CENTS)) = $got, model $want", 1L,
      Map("write" -> ctx.parts("merge"), "read" -> ctx.parts("read")), rowsIn)
  }, after = ctx => {
    val after = dataFiles(tableDir)
    val added = after.keySet -- filesBefore.keySet
    val written = added.toSeq.map(after).sum
    ctx.phase("lake.files_added", added.size.toDouble)
    ctx.phase("lake.bytes_written", written.toDouble)
    ctx.phase("lake.delta_bytes", delta.toJSON.collect().map(_.length + 1L).sum.toDouble)
  }))

  override def notes: Seq[String] = Seq(
    "lake table: graft-jsonl catalog table, default copy-on-write MERGE, no compaction",
    "fact columns are declared BIGINT/STRING: the lake writer emits INT columns " +
      "(JsonlV2 write path) but its reader rejects IntegerType (JsonlV2.coerce)")

  override def finish(spark: SparkSession): Map[String, Double] =
    Map("lake.files_live" -> dataFiles(tableDir).size.toDouble,
      "lake.table_bytes" -> treeBytes(tableDir).toDouble,
      "lake.live_rows" -> etl.liveRows.toDouble)
}
