package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.chaining._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graftbench.Stats.median

/** One benchmark run in one JVM: set-up, warm-up operations, then a
  * closed loop of operations (one client, each operation starts when the
  * previous one has ended) for the given number of seconds. Before each
  * timed operation and after the last, outside the timers, a full
  * collection reads the memory still live (`peak_live_mb` is the
  * largest reading). Writes the run's counts and metrics as one JSON
  * object to `--out`.
  *
  * With `--trace 1` the timed phase alternates untraced and traced
  * operations (listener, spans, JVM counters); the per-layer metrics come
  * from the traced ones, and the ratio of the two median operation times
  * is the tracing overhead. The layer probes run after the timed phase.
  */
object Main {
  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def main(args: Array[String]): Unit = {
    val get = (k: String) => arg(args, k).getOrElse(sys.error(s"missing $k"))
    arg(args, "--dump-oracle") match {
      case Some(out) => dumpOracle(Paths.get(out))
      case None =>
        val mode = arg(args, "--mode").getOrElse("run")
        val runDir = Paths.get(get("--run-dir")).toAbsolutePath
        val cores = get("--cores").toInt
        val spark = session(cores, runDir)
        val params = Paths.get(get("--params"))
        val wait = System.nanoTime() + 150L * 1000000000L
        while (!Files.exists(params) && System.nanoTime() < wait) Thread.sleep(20)
        val ctx = Ctx(spark, Check.json.readTree(params.toFile), runDir, cores,
          new Trace(spark.sparkContext))
        val result = new Run(ctx, get("--workload"), get("--seconds").toDouble,
          get("--trace") == "1", get("--setup-start-ms").toLong)
        val out = if (mode == "selftest") result.selftest() else result.measure()
        if (ctx.trace.enabled) ctx.trace.writeTo(Paths.get(get("--trace-out")))
        Files.write(Paths.get(get("--out")), Check.json.writerWithDefaultPrettyPrinter()
          .writeValueAsBytes(out))
        spark.stop()
    }
  }

  def session(cores: Int, runDir: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", runDir.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
    // graft's catalog persists its table registry under this directory;
    // one per run keeps a run that was stopped mid-lifecycle from leaving
    // registered names behind for the next
    .config("spark.sql.catalog.graft.warehouse", runDir.resolve("graft-catalog").toString)
    .getOrCreate()
  // CompressionCodecFactory resolves .bro and .brf on the read path only
  // once graft's codecs are registered in the session's Hadoop conf
  .tap(graft.codec.BroWriter.register)

  /** The DuckDB reference queries of the registry entries the benchmark runs. */
  private def dumpOracle(out: Path): Unit = {
    val m = new java.util.TreeMap[String, String]()
    Seq("p01_corpus_pipeline", "d03_minhash_lsh")
      .foreach(n => m.put(n, graft.SparkEntry.oracleSql(n)))
    Files.write(out, Check.json.writeValueAsBytes(m))
  }
}

final class Run(ctx: Ctx, workloadName: String, seconds: Double, traced: Boolean,
    setupStartMs: Long) {
  private val w = Workload(workloadName, ctx)
  private val trace = ctx.trace
  private var attempted, failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]
  private val out = new java.util.LinkedHashMap[String, Any]()
  private val metrics = new java.util.LinkedHashMap[String, Double]()
  private val liveBytes = mutable.ArrayBuffer.empty[Long]

  private def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
  }

  /** Runs one operation; returns its wall time in seconds. The output
    * check runs after the timer has stopped. */
  private def runOp(id: Int, op: Int => () => Option[String] = w.op): Double = {
    trace.beginOp(id)
    attempted += 1
    val t = System.nanoTime()
    val check = Try(op(id))
    val s = (System.nanoTime() - t) / 1e9
    check.flatMap(c => Try(c())) match {
      case Success(None) => ()
      case Success(Some(msg)) => fail(s"op $id: wrong output: $msg")
      case Failure(e) => fail(s"op $id: ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).linesIterator.take(2).mkString(" "))
    }
    s
  }

  /** Operations back to back until `budget` seconds have passed and at
    * least `minOps` have run; returns (operation id, seconds) pairs.
    * Operations whose id `traced` selects run with tracing on, and report
    * their allocated bytes and GC milliseconds to `onTraced`. */
  private def loop(firstId: Int, budget: Double, minOps: Int,
      traced: Int => Boolean = _ => false,
      onTraced: (Long, Long) => Unit = (_, _) => ()): Seq[(Int, Double)] = {
    val end = System.nanoTime() + (budget * 1e9).toLong
    val times = mutable.ArrayBuffer.empty[(Int, Double)]
    while (times.size < minOps || System.nanoTime() < end) {
      val id = firstId + times.size
      // what the previous operation (or set-up) left live; each
      // operation also starts from the same, collected heap
      liveBytes += JvmCounters.liveBytesAfterFullGc()
      if (traced(id)) {
        trace.enable()
        val (a0, g0) = (JvmCounters.allocatedBytes(), JvmCounters.gcMillis())
        times += id -> runOp(id)
        onTraced(math.max(0L, JvmCounters.allocatedBytes() - a0), JvmCounters.gcMillis() - g0)
        trace.disable()
      } else times += id -> runOp(id)
    }
    liveBytes += JvmCounters.liveBytesAfterFullGc()
    times.toSeq
  }

  private def finish(): java.util.Map[String, Any] = {
    out.put("attempted", attempted)
    out.put("failed", failed)
    out.put("errors", errors.toArray)
    out.put("metrics", metrics)
    out
  }

  /** Progress on the run's log, in seconds since set-up started. */
  private def note(what: String): Unit =
    println(f"[perfbench] +${(System.currentTimeMillis() - setupStartMs) / 1e3}%.2f s $what")

  def measure(): java.util.Map[String, Any] = {
    note("session started")
    Try { w.setup(); note("set-up done"); w.warmup() } match {
      case Failure(e) =>
        attempted += 1
        fail(s"set-up: ${e.getClass.getSimpleName}: ${e.getMessage}")
        return finish()
      case Success(_) =>
    }
    note("warm-up done")
    val firstOpMs = System.currentTimeMillis()
    if (!traced) {
      val times = loop(0, seconds, 2).map(_._2)
      endToEnd(firstOpMs, times)
    } else {
      // traced and untraced operations alternate, so both halves sample
      // the same stretch of JIT warm-up and host load
      var alloc, gcMs = 0L
      val ops = loop(0, seconds, 4, traced = id => id % 2 == 1, onTraced = (a, g) => {
        alloc += a; gcMs += g
      })
      val (tracedOps, plain) = ops.partition(_._1 % 2 == 1)
      val n = tracedOps.size
      metrics.put("jvm.alloc_mb_per_op", alloc / 1e6 / n)
      metrics.put("jvm.gc_s_per_op", gcMs / 1e3 / n)
      metrics.put("jvm.peak_rss_mb", JvmCounters.peakRssMb())
      val tracedP50 = median(tracedOps.map(_._2))
      out.put("untraced_op_p50_s", median(plain.map(_._2)))
      out.put("traced_op_p50_s", tracedP50)
      metrics.put("trace.overhead", tracedP50 / median(plain.map(_._2)) - 1.0)
      trace.enable()
      attempted += 1
      new Layers(ctx, w, tracedOps.map(_._1), metrics).collect()
        .foreach(e => fail(s"layer probe: $e"))
    }
    finish()
  }

  private def endToEnd(firstOpMs: Long, times: Seq[Double]): Unit = {
    val sorted = times.sorted
    val n = sorted.size
    // the highest percentile that has at least 10 operations beyond it
    val (tail, pct) = if (n > 10) (sorted(n - 11), 100.0 * (n - 10) / n) else (sorted.last, 100.0)
    val userBytes = ctx.params.get("user_bytes").asLong
    metrics.put("setup_s", (firstOpMs - setupStartMs) / 1e3)
    metrics.put("op_p50_s", median(sorted))
    metrics.put("op_tail_s", tail)
    metrics.put("user_mb_s", userBytes * n / 1e6 / sorted.sum)
    metrics.put("stored_per_input", w.stored.values.sum.toDouble / w.stored.size / userBytes)
    metrics.put("peak_live_mb", liveBytes.max / 1e6)
    out.put("live_mb", liveBytes.map(_ / 1e6).toArray)
    out.put("peak_rss_mb", JvmCounters.peakRssMb())
    out.put("ops", n)
    out.put("op_seconds", times.toArray)
    out.put("op_tail_percentile", pct)
    out.put("op_tail_beyond", if (n > 10) 10 else 0)
  }

  /** Negative control: one byte flipped in a copied `.bro` part file and
    * in a copied `.brf` frame; both scans must be counted as failed, and
    * the clean copies must still pass. */
  def selftest(): java.util.Map[String, Any] = {
    val scan = w.asInstanceOf[BroScan]
    scan.setup()
    runOp(0)
    val cleanFailed = failed
    val (bro, brf) = scan.corruptedCopies()
    runOp(1, _ => { val r = scan.q1(bro); () => Check.diff("corrupt .bro", r.toSeq, ctx.expected("q1")) })
    runOp(2, _ => { val r = scan.q1(brf); () => Check.diff("corrupt .brf", r.toSeq, ctx.expected("q1")) })
    out.put("clean_failed", cleanFailed)
    out.put("detected", failed - cleanFailed)
    finish()
  }
}
