package graftbench

import graftbench.Stats.median

/** Per-layer metrics of a traced run, from the spans and Spark work of
  * its traced operations (per operation, then the median over them) and
  * from the layer probes. Metrics of layers the workload does not drive
  * are left out here; the caller reports them as 0. */
final class Layers(ctx: Ctx, w: Workload, opIds: Seq[Int],
    metrics: java.util.Map[String, Double]) {
  private val trace = ctx.trace
  private val spans = trace.all.filter(s => opIds.contains(s.op))
  private val put = (k: String, v: Double) => metrics.put(k, v)

  /** Per operation: summed wall seconds and Spark work of matching spans. */
  private def perOp(matches: Span => Boolean): Seq[(Double, Work)] = opIds.map { op =>
    val mine = spans.filter(s => s.op == op && matches(s))
    val work = new Work
    mine.foreach(s => work.add(trace.workUnder(s.id)))
    (mine.map(_.seconds).sum, work)
  }

  private def medianOf(rows: Seq[(Double, Work)])(f: (Double, Work) => Double): Double =
    median(rows.map { case (s, wk) => f(s, wk) })

  private def sparkIo(): Unit = Seq("bro", "brf").foreach { fmt =>
    val rows = perOp(_.name == s"scan.$fmt")
    if (rows.exists(_._1 > 0)) {
      val p = s"spark_io.$fmt."
      put(p + "tasks", medianOf(rows)((_, w) => w.tasks.toDouble))
      put(p + "task_run_s", medianOf(rows)((_, w) => w.runMs / 1e3))
      put(p + "task_cpu_s", medianOf(rows)((_, w) => w.cpuNs / 1e9))
      put(p + "gc_s", medianOf(rows)((_, w) => w.gcMs / 1e3))
      put(p + "core_busy", medianOf(rows)((s, w) => w.runMs / 1e3 / (s * ctx.cores)))
      put(p + "slowest_task_share", medianOf(rows)((s, w) => w.maxTaskMs / 1e3 / s))
      put(p + "bytes_read", medianOf(rows)((_, w) => w.bytesRead.toDouble))
      put(p + "records_read", medianOf(rows)((_, w) => w.recordsRead.toDouble))
    }
  }

  private def ops(): Unit = {
    val rows = perOp(_.name.startsWith("ops."))
    if (rows.exists(_._1 > 0)) {
      put("ops.build_s", medianOf(perOp(_.name == "build"))((s, _) => s))
      put("ops.action_s", medianOf(perOp(_.name == "action"))((s, _) => s))
      put("ops.jobs", medianOf(rows)((_, w) => w.jobs.toDouble))
      put("ops.stages", medianOf(rows)((_, w) => w.stages.toDouble))
      put("ops.tasks", medianOf(rows)((_, w) => w.tasks.toDouble))
      put("ops.shuffle_write_bytes", medianOf(rows)((_, w) => w.shuffleWrite.toDouble))
      put("ops.shuffle_read_bytes", medianOf(rows)((_, w) => w.shuffleRead.toDouble))
      put("ops.spill_bytes", medianOf(rows)((_, w) => w.spill.toDouble))
      put("ops.task_cpu_s", medianOf(rows)((_, w) => w.cpuNs / 1e9))
      put("ops.core_busy", medianOf(rows)((s, w) => w.runMs / 1e3 / (s * ctx.cores)))
    }
  }

  private def sources(): Unit = w match {
    case t: TableCommit =>
      Seq("create", "insert", "merge", "update", "delete", "read_versions").foreach { ph =>
        put(s"sources.${ph}_s", medianOf(perOp(_.name == s"sources.$ph"))((s, _) => s))
      }
      put("sources.jobs", medianOf(perOp(_.name.startsWith("sources.")))((_, w) => w.jobs.toDouble))
      put("sources.files_after", t.filesAfter.toDouble)
    case _ =>
  }

  /** Runs the per-layer collection and the probes; returns probe errors. */
  def collect(): Seq[String] = {
    sparkIo()
    ops()
    sources()
    val userBytes = ctx.params.get("user_bytes").asDouble
    w.stored.foreach { case (fmt, b) => put(s"codec.stored_per_input.$fmt", b / userBytes) }
    w match {
      case l: LlmPipeline => put("functions.minhash_sig_s", median((1 to 3).map(_ => l.minhashSeconds())))
      case _ =>
    }
    val payload = w.probePayload()
    val reps = math.max(1, math.min(5, (8e6 / payload.length).toInt))
    val probes = new Probes(trace, ctx.runDir, reps)
    probes.run(payload)
    probes.metrics.foreach { case (k, v) => put(k, v) }
    put("probe.payload_bytes", payload.length.toDouble)
    probes.errors.toSeq
  }
}
