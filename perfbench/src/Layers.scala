package perfbench

/** Per-layer metrics of a traced run. Counters are per operation (a query,
  * or one incremental refresh cycle); the ELT full load is operation 0 and
  * is left out of the per-operation figures, though its spans count
  * toward the trace coverage. */
import scala.jdk.CollectionConverters._

object Layers {

  /** What only the ELT workload can measure about its source and sink. */
  final case class EltCounts(httpRequests: Long, scanPages: Long,
      httpOverflow: Boolean, filesWritten: Long, parentRowsStaged: Long)
  val NoElt: EltCounts = EltCounts(0, 0, httpOverflow = false, 0, 0)

  val SpanNames: Seq[String] = Seq("sources.load", "elt.bootstrap",
    "elt.register", "elt.refresh", "query.build", "query.plan",
    "query.exec", "query.free")

  /** One JSON line per span: id, name, parent, operation, start, end. */
  def writeSpans(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = spans.map(s => m.writeValueAsString(m.createObjectNode()
      .put("id", s.id).put("name", s.name).put("parent", s.parent)
      .put("op", s.op).put("start_ms", s.startMs).put("end_ms", s.endMs)
      .put("dur_ms", s.durNs / 1e6)))
    java.nio.file.Files.write(path, lines.asJava)
  }

  def report(ctx: Ctx, nOps: Int, windowMs: Double, cg0: (Long, Double),
      cg1: (Long, Double), elt: EltCounts): Unit = {
    if (!ctx.tracer.enabled) return
    org.apache.spark.PerfbenchAccess.drainListeners(ctx.spark.sparkContext)
    val res = ctx.result
    val spans = ctx.tracer.all
    writeSpans(spans, ctx.work.resolve("spans.jsonl"))
    val at = new Attribution(spans, ctx.recorder.get)
    val measured = spans.filter(_.op >= 1)
    val tops = measured.filter(_.parent < 0)
    val n = math.max(nOps, 1).toDouble
    def named(name: String) = measured.filter(_.name == name)
    def durMs(ss: Seq[Span]) = ss.map(_.durNs / 1e6).sum
    def incl(ss: Seq[Span]) = ss.map(at.inclusive).foldLeft(Totals.zero)(_ + _)
    val all = incl(tops)
    val refresh = incl(named("elt.refresh"))
    val mb = 1048576.0

    res.layer("sources.load_ms", durMs(named("sources.load")) / n, "ms")
    res.layer("sources.http_requests", elt.httpRequests / n, "count")
    res.layer("sources.scan_pages", elt.scanPages / n, "count")
    res.layer("sources.rows_fetched", refresh.recordsRead / n, "count")
    res.layer("sources.scan_task_ms", refresh.scanTaskMs / n, "ms")
    res.layer("sources.useful_row_ratio",
      if (refresh.recordsRead > 0) elt.parentRowsStaged.toDouble / refresh.recordsRead
      else 0.0, "ratio")
    res.context("http_log_overflow") = elt.httpOverflow.toString

    res.layer("pipeline.refresh_ms", durMs(named("elt.refresh")) / n, "ms")
    res.layer("pipeline.write_jobs", refresh.jobs / n, "count")
    res.layer("pipeline.rows_written", refresh.recordsWritten / n, "count")
    res.layer("pipeline.bytes_written", refresh.bytesWritten / n, "bytes")
    res.layer("pipeline.files_written", elt.filesWritten / n, "count")
    res.layer("pipeline.outside_stage_ms",
      named("elt.refresh").map(at.outsideStageMs).sum / n, "ms")

    res.layer("queries.build_ms", durMs(named("query.build")) / n, "ms")
    res.layer("queries.build_jobs", incl(named("query.build")).jobs / n, "count")
    res.layer("queries.free_ms", durMs(named("query.free")) / n, "ms")

    res.layer("storage.cached_blocks_mb", ctx.cachedPeakMb, "MB")
    res.layer("plan.ms", durMs(named("query.plan")) / n, "ms")
    res.layer("codegen.compile_ms", (cg1._2 - cg0._2) / n, "ms")
    res.layer("codegen.compiles", (cg1._1 - cg0._1) / n, "count")

    val topMs = durMs(tops)
    res.layer("exec.ms", durMs(named("query.exec")) / n, "ms")
    res.layer("exec.jobs", all.jobs / n, "count")
    res.layer("exec.stages", all.stages / n, "count")
    res.layer("exec.tasks", all.tasks / n, "count")
    res.layer("exec.task_ms", all.taskMs / n, "ms")
    res.layer("exec.core_util",
      if (topMs > 0) all.taskMs / (topMs * ctx.cpus) else 0.0, "ratio")
    res.layer("exec.outside_stage_ms", tops.map(at.outsideStageMs).sum / n, "ms")
    res.layer("exec.shuffle_read_mb", all.shuffleReadB / mb / n, "MB")
    res.layer("exec.shuffle_write_mb", all.shuffleWriteB / mb / n, "MB")
    res.layer("exec.spill_mb", all.spillB / mb / n, "MB")
    res.layer("exec.gc_ms", all.gcMs / n, "ms")

    res.layer("stream.microbatches", all.microbatches / n, "count")
    res.layer("stream.trigger_ms", all.triggerMs / n, "ms")
    res.layer("stream.wal_commit_ms", all.walMs / n, "ms")
    res.layer("stream.planning_ms", all.planningMs / n, "ms")

    // self time per operation; the full load runs once, so its span is
    // reported as a total
    SpanNames.foreach { s =>
      val ss = if (s == "elt.bootstrap") spans.filter(_.name == s) else named(s)
      res.layer(s"span.$s.self_ms",
        ss.map(at.selfMs).sum / (if (s == "elt.bootstrap") 1.0 else n), "ms")
    }
    // coverage over the whole timed phase, the ELT full load included
    val covered = durMs(spans.filter(_.parent < 0))
    res.layer("trace.coverage_pct", 100.0 * covered / windowMs, "%")
    res.layer("trace.unattributed_ms", math.max(0.0, windowMs - covered), "ms")
    res.metrics.get("latency_ms.p50").foreach(m =>
      res.layer("trace.latency_ms.p50", m._1, "ms"))
    res.metrics.get("ops_per_s").foreach(m => res.layer("trace.ops_per_s", m._1, "1/s"))
  }
}
