package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Per-layer numbers of one traced run, read from the [[Tracer]]'s spans
  * and listener counters once every listener event has been handled. */
final class Report(t: Tracer) {
  t.drain()

  /** One pass or slot: wall seconds of its top-level spans, the Spark work
    * under them, and the seconds of its layer spans by name prefix. */
  final class View(spans: Seq[Span]) {
    private val top = spans.filter(_.parent == 0)
    val seconds: Double = top.map(_.seconds).sum
    val work: Work = t.workUnder(top)
    private val layers = spans.filter(s => top.exists(_.id == s.parent))
    /** Seconds of the layer spans directly under the top span. */
    def layer(prefix: String): Double =
      layers.filter(_.name.startsWith(prefix)).map(_.seconds).sum
    def workOf(prefix: String): Work =
      t.workUnder(layers.filter(_.name.startsWith(prefix)))
    /** Top-span time outside every layer span: the pass's own work. */
    def self: Double = seconds - layers.map(_.seconds).sum
  }

  def op(op: Int): View = new View(t.spansOf(op))

  /** Shuffle, spill, GC and task skew (max / median task ms) of `w`. */
  def sparkMetrics(m: Main.Metrics, w: Work, gcSeconds: Double): Unit = {
    m("spark.shuffle_write_mb") = (w.shuffleWriteBytes / 1e6, "MB")
    m("spark.spill_mb") = (w.spillBytes / 1e6, "MB")
    m("spark.gc_s") = (gcSeconds, "s")
    val ms = w.taskMs.map(_.toDouble).toSeq
    m("spark.task_skew") =
      (if (ms.isEmpty) 0.0 else ms.max / math.max(1.0, Util.median(ms)), "ratio")
  }

  /** Every span with the Spark work charged to it, and the job count per
    * call site, as JSON under `dir`. */
  def write(dir: Path): Unit = {
    val spans = t.spans.map { s =>
      val w = t.bySpan.getOrElse(s.id, new Work)
      s"""{"id":${s.id},"name":${Util.str(s.name)},"parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""jobs":${w.jobs},"tasks":${w.tasks},""" +
        s""""shuffle_write_bytes":${w.shuffleWriteBytes},""" +
        s""""spill_bytes":${w.spillBytes},"rows_written":${w.rowsWritten}}"""
    }.mkString("[", ",\n", "]")
    val sites = t.byCallSite.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"${Util.str(k)}:$v" }.mkString("{", ",\n", "}")
    Files.write(dir.resolve("trace.json"),
      s"""{"spans":$spans,"jobs_by_call_site":$sites}""".getBytes(UTF_8))
  }
}

object Report {
  /** Layers a workload does not reach report 0. */
  val syncLayers: Seq[(String, String)] = Seq(
    "pipeline.jobs" -> "count", "pipeline.tasks" -> "count",
    "pipeline.ms_per_job" -> "ms", "pipeline.self_s" -> "s",
    "pipeline.noop_self_s" -> "s", "sources.fetch_s" -> "s",
    "sources.doc_mb" -> "MB", "operators.transform_s" -> "s",
    "operators.records" -> "count", "operators.transform_tasks" -> "count",
    "operators.changed_ratio" -> "ratio", "sink.node_delta_s" -> "s",
    "sink.edge_delta_s" -> "s", "sink.detach_s" -> "s",
    "sink.resolve_s" -> "s", "sink.rows_written" -> "count",
    "sink.write_amplification" -> "ratio", "state.read_s" -> "s",
    "state.commit_s" -> "s", "state.rows_written" -> "count",
    "state.write_amplification" -> "ratio",
    "state.versions_retained" -> "count", "scaling.1c_over_nc" -> "ratio")

  def queryLayers: Seq[(String, String)] =
    Seq("memo.build_s" -> "s") ++
      QueryWorkload.consumers.keys.map(n => s"memo.$n.build_s" -> "s") ++
      Seq("entry.plan_s" -> "s", "entry.exec_s" -> "s",
        "entry.jobs" -> "count", "entry.tasks" -> "count",
        "entry.median_task_ms" -> "ms", "entry.shuffle_write_mb" -> "MB",
        "entry.spill_mb" -> "MB")

  def zero(m: Main.Metrics, layers: Seq[(String, String)]): Unit =
    layers.foreach { case (n, u) => m(n) = (0.0, u) }
}
