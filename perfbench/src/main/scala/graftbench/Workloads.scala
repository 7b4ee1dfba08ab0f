package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.codec.{BroFramed, BrotliCodec}

/** What a workload's operations run against. */
final case class Ctx(spark: SparkSession, params: JsonNode, runDir: Path,
    cores: Int, trace: Trace) {
  def expected(key: String): JsonNode = params.get("expected").get(key)
}

/** One closed-loop workload: set-up, then operations run back to back. */
trait Workload {
  def ctx: Ctx
  def setup(): Unit
  /** Untimed operations after set-up, so the timed ones run compiled code. */
  def warmups: Int = 2
  /** Runs the warm-up operations; each must pass its check. */
  def warmup(): Unit = (1 to warmups).foreach { i =>
    op(-i)().foreach(e => throw new IllegalStateException(s"warm-up: $e"))
  }
  /** Runs operation `id` and returns its output check, which the caller
    * runs after the operation's timer has stopped: None means correct. */
  def op(id: Int): () => Option[String]
  /** Bytes on disk per stored format, for `stored_per_input`. */
  def stored: Map[String, Long]
  /** The workload's own uncompressed bytes, for the layer probes. */
  def probePayload(): Array[Byte]

  protected def spark: SparkSession = ctx.spark
  protected def span[A](name: String)(body: => A): A = ctx.trace.span(name)(body)
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "bro_scan" => new BroScan(ctx)
    case "llm_pipeline" => new LlmPipeline(ctx)
    case "table_commit" => new TableCommit(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Data files (not checksums or markers) under a directory. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq.sortBy(_.toString)
      finally s.close()
    }

  def bytesUnder(dir: Path): Long = dataFiles(dir).map(Files.size).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

/** Lineitem's 11 columns, as the CSV copies are read back. */
object Lineitem {
  private val D = DecimalType(15, 2)
  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", D), StructField("l_extendedprice", D),
    StructField("l_discount", D), StructField("l_tax", D),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType)))
}

/** The read path: a TPC-H-Q1-shaped aggregate over every column of a
  * `.bro` copy (4 whole-stream files, one task each) and a `.brf` copy
  * (one file, split by the reader), with exact decimal sums. */
final class BroScan(val ctx: Ctx) extends Workload {
  private val csvDir = ctx.runDir.resolve("lineitem_csv")
  private val broDir = ctx.runDir.resolve("lineitem_bro")
  private val brfDir = ctx.runDir.resolve("lineitem_brf")
  private val cutoff = ctx.params.get("cutoff").asText

  /** Both copies come from the native encoder, so no graft encoder runs
    * in this workload: each CSV part `inputs.py` wrote becomes one `.bro`
    * stream, and the parts' concatenation, cut at graft's default frame
    * size, becomes one `.brf` file of independently compressed frames,
    * each behind the header `BroFramed.header` makes. */
  def setup(): Unit = {
    val parts = Workload.dataFiles(csvDir).map(Files.readAllBytes)
    val frames = Array.concat(parts: _*).grouped(BroFramed.DefaultFrameSize).toSeq
    val native = new NativeBrotli(ctx.runDir)
    val pool = Executors.newFixedThreadPool(ctx.cores)
    val compressed = try {
      (parts ++ frames).map(b => pool.submit[Array[Byte]](() => native.compress(b, BrotliCodec.DefaultQuality)))
        .map(_.get())
    } finally pool.shutdown()
    Files.createDirectories(broDir)
    compressed.take(parts.size).zipWithIndex.foreach { case (b, i) =>
      Files.write(broDir.resolve(f"part-$i%05d.csv.bro"), b)
    }
    Files.createDirectories(brfDir)
    val brf = Files.newOutputStream(brfDir.resolve("lineitem.csv.brf"))
    try frames.zip(compressed.drop(parts.size)).foreach { case (plain, comp) =>
      brf.write(BroFramed.header(plain.length, comp.length))
      brf.write(comp)
    } finally brf.close()
    Workload.deleteTree(csvDir)
  }

  def q1(path: Path): Array[Row] = {
    val l = spark.read.schema(Lineitem.schema).csv(path.toString)
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    l.filter(col("l_shipdate") <= to_date(lit(cutoff)))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity"), sum("l_extendedprice"), sum(disc),
        sum(disc * (lit(1) + col("l_tax"))), sum("l_discount"),
        sum("l_orderkey"), sum("l_partkey"), sum("l_suppkey"),
        sum("l_linenumber"), count(lit(1)))
      .orderBy("l_returnflag", "l_linestatus").collect()
  }

  def op(id: Int): () => Option[String] = {
    val bro = span("scan.bro")(q1(broDir))
    val brf = span("scan.brf")(q1(brfDir))
    () => Check.diff("q1 on .bro", bro.toSeq, ctx.expected("q1"))
      .orElse(Check.diff("q1 on .brf", brf.toSeq, ctx.expected("q1")))
  }

  def stored: Map[String, Long] = Map("bro" -> Workload.bytesUnder(broDir),
    "brf" -> Workload.bytesUnder(brfDir))

  /** Copies of both inputs with one byte flipped: in the middle of the
    * first `.bro` part file, and in the middle of the first `.brf`
    * frame's compressed payload. */
  def corruptedCopies(): (Path, Path) = {
    def flipped(src: Path, name: String, at: Array[Byte] => Int): Path = {
      val dst = Files.createDirectories(ctx.runDir.resolve(name))
      Workload.dataFiles(src).zipWithIndex.foreach { case (p, i) =>
        val b = Files.readAllBytes(p)
        if (i == 0) b(at(b)) = (b(at(b)) ^ 0x5a).toByte
        Files.write(dst.resolve(p.getFileName), b)
      }
      dst
    }
    val bro = flipped(broDir, "lineitem_bro_corrupt", b => b.length / 2)
    val brf = flipped(brfDir, "lineitem_brf_corrupt",
      b => BroFramed.HeaderLen + BroFramed.readInt(b, 8) / 2)
    (bro, brf)
  }

  def probePayload(): Array[Byte] =
    graft.brotli.Brotli.decompress(Files.readAllBytes(Workload.dataFiles(broDir).head))
}

/** The operator path: `p01_corpus_pipeline` and `d03_minhash_lsh` on the
  * corpus stored as brotli-page parquet, checked against the rows of
  * their own `SparkEntry.oracleSql` queries. */
final class LlmPipeline(val ctx: Ctx) extends Workload {
  private val corpus = ctx.runDir.resolve("corpus")
  private val entries = Seq("p01_corpus_pipeline", "d03_minhash_lsh")
  private lazy val registry = graft.SparkEntry.queries
  override def warmups: Int = 3

  /** The corpus as brotli-page parquet. */
  def setup(): Unit =
    spark.read.parquet(ctx.params.get("documents").asText)
      .write.option("compression", "brotli").parquet(corpus.resolve("documents.parquet").toString)

  def op(id: Int): () => Option[String] = {
    val results = entries.map { name =>
      span(s"ops.$name") {
        val df = span("build")(registry(name)(spark, corpus.toString))
        span("action")(df.collect().toSeq)
      }
    }
    () => entries.zip(results).flatMap { case (n, rows) =>
      Check.diff(n, rows, ctx.expected(n))
    }.headOption
  }

  /** Time to materialize the MinHash signature column over the corpus. */
  def minhashSeconds(): Double = {
    val docs = spark.read.parquet(corpus.resolve("documents.parquet").toString)
    val t = System.nanoTime()
    span("functions.minhash_sig") {
      docs.select(graft.functions.MinHash.sigCol(spark, lower(col("text"))).as("sig"))
        .filter(col("sig").isNotNull).count()
    }
    (System.nanoTime() - t) / 1e9
  }

  def stored: Map[String, Long] = Map("parquet" -> Workload.bytesUnder(corpus))

  def probePayload(): Array[Byte] =
    spark.read.parquet(ctx.params.get("documents").asText).select("text")
      .collect().map(_.getString(0)).mkString("\n").getBytes("UTF-8")
}

/** The catalog path: a fresh merge-on-read graft table per operation,
  * taken through CREATE, INSERT, MERGE, UPDATE, DELETE, a time-travel
  * read of every version, and DROP. */
final class TableCommit(val ctx: Ctx) extends Workload {
  private val p = ctx.params.get("commit")
  private def res(k: String): Int = p.get(k).asInt
  private val tables = ctx.runDir.resolve("tables")
  var filesAfter = 0L
  private var tableBytes = 0L
  override def warmups: Int = 3

  def setup(): Unit = {
    graft.sources.GraftCatalog.install(spark)
    val orders = spark.read.parquet(ctx.params.get("orders").asText)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
    val k = col("o_orderkey")
    orders.filter(k % res("insert_mod") === res("insert_res"))
      .createOrReplaceTempView("bench_insert_src")
    val merge = p.get("merge_res").elements().asScala.map(_.asInt)
      .map(r => k % res("merge_mod") === r).reduce(_ || _)
    orders.filter(merge)
      .select(k.as("d_key"), col("o_orderstatus").as("d_status"), col("price").as("d_price"))
      .createOrReplaceTempView("bench_merge_src")
  }

  def op(id: Int): () => Option[String] = {
    val name = if (id < 0) s"bench_warmup${-id}" else s"bench_$id"
    val base = tables.resolve(name)
    span("sources.create")(spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      "o_orderstatus STRING, price DECIMAL(18,2)) " +
      s"LOCATION '$base' TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read', " +
      "'graft.update.mode' = 'merge-on-read', 'graft.delete.mode' = 'merge-on-read')"))
    span("sources.insert")(spark.sql(s"INSERT INTO graft.$name SELECT * FROM bench_insert_src"))
    span("sources.merge")(spark.sql(
      s"""MERGE INTO graft.$name t USING bench_merge_src d
         |ON t.o_orderkey = d.d_key
         |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET price = CAST(t.price + 100 AS DECIMAL(18,2))
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, price)
         |  VALUES (d.d_key, d.d_status, d.d_price)""".stripMargin))
    span("sources.update")(spark.sql(s"UPDATE graft.$name " +
      "SET price = CAST(price + 10 AS DECIMAL(18,2)) " +
      s"WHERE o_orderkey % ${res("update_mod")} = ${res("update_res")}"))
    span("sources.delete")(spark.sql(s"DELETE FROM graft.$name " +
      s"WHERE o_orderkey % ${res("delete_mod")} = ${res("delete_res")}"))
    val versions = span("sources.read_versions") {
      (1 to 5).map { v =>
        spark.sql(s"SELECT $v, COUNT(*), COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END), " +
          "COALESCE(SUM(price), 0), COALESCE(SUM(o_orderkey), 0) " +
          s"FROM graft.$name VERSION AS OF $v").head()
      }
    }
    filesAfter = Workload.dataFiles(base).size.toLong
    tableBytes = Workload.bytesUnder(base)
    span("sources.drop")(spark.sql(s"DROP TABLE graft.$name"))
    () => {
      Workload.deleteTree(base)
      Check.diff("table versions", versions, ctx.expected("versions"))
    }
  }

  /** The table's files at the end of the last lifecycle, before DROP. */
  def stored: Map[String, Long] = Map("parquet" -> tableBytes)

  def probePayload(): Array[Byte] =
    spark.table("bench_insert_src").collect()
      .map(r => r.toSeq.map(Check.canonical).mkString(",")).mkString("\n").getBytes("UTF-8")
}
