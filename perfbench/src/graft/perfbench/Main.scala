package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{FixtureProbe, GraftSession, SparkEntry}

/** One benchmark run in one JVM:
  * `Main <workload> <seed> <seconds> <trace 0|1> <runDir> <fixtureDir> <cores> [drop-delete]`.
  *
  * Prints, as its last stdout line, `PERFBENCH ` + a JSON object with the
  * operations attempted and failed, the metrics, and (query_mix) the slot
  * outputs the caller checks against the DuckDB oracle. `perfbench/run.py`
  * is the command that builds, runs and checks; see perfbench/README.md.
  */
object Main {

  /** The two sync shapes: one document over HTTP, and paged JSON files. */
  val shapes: Map[String, SyncShape] = Map(
    "sync_small" -> SyncShape(buckets = 2000, pages = 1),
    "sync_large" -> SyncShape(buckets = 20000, pages = 16))

  /** Set-up is repeated this many times per run; its median is reported. */
  val setupReps = 5

  final class Metrics {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update[N](name: String, v: (N, String))(implicit n: Numeric[N]): Unit =
      m(name) = (n.toDouble(v._1), v._2)
    def json: String = m.map { case (k, (v, u)) =>
      s"${Util.str(k)}:{\"value\":${Util.num(v)},\"unit\":${Util.str(u)}}"
    }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDir, fixture, coresS) =
      args.take(7)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val dropDelete = args.drop(7).contains("drop-delete")
    val dir = Path.of(runDir)
    Util.rmrf(dir)
    Files.createDirectories(dir)
    val result =
      if (workload == "query_mix") runQuery(seed, seconds, trace, dir, fixture, cores)
      else shapes.get(workload) match {
        case Some(shape) =>
          runSync(workload, shape, seed, seconds, trace, dir, cores, dropDelete)
        case None =>
          System.err.println(s"[perfbench] unknown workload $workload")
          sys.exit(2)
      }
    println("PERFBENCH " + result)
  }

  /** Build a session and the run's objects `setupReps` times, keeping the
    * last; returns (median set-up seconds, the kept objects). */
  private def setUp[T](make: Int => (SparkSession, T), drop: T => Unit)
      : (Double, SparkSession, T) = {
    var kept: (SparkSession, T) = null
    val times = (1 to setupReps).map { i =>
      val t0 = System.nanoTime()
      val made = make(i)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < setupReps) { drop(made._2); made._1.stop() } else kept = made
      dt
    }
    (Util.median(times), kept._1, kept._2)
  }

  /** Log the run's speed samples; return the factor that turns measured
    * seconds into seconds at the reference speed. */
  private def reportSpeed(cal: Calib): Double = {
    System.err.println(f"[perfbench] speed samples (s): " +
      cal.all.map(x => f"$x%.4f").mkString(" ") +
      f"; measured seconds are scaled by ${cal.scale}%.4f")
    cal.scale
  }

  private def result(attempted: Int, failed: Int, metrics: Metrics,
      extra: String = ""): String =
    s"""{"attempted":$attempted,"failed":$failed,"metrics":${metrics.json}$extra}"""

  // ---------------------------------------------------------------- sync

  private def runSync(name: String, shape: SyncShape, seed: Long,
      seconds: Double, trace: Boolean, dir: Path, cores: Int,
      dropDelete: Boolean): String = {
    val (setupS, spark, (w, tracer)) = setUp[(SyncWorkload, Tracer)](
      i => {
        val d = dir.resolve(s"run-$i")
        val s = GraftSession.build(d.toString, cores)
        val t = new Tracer(s, trace)
        val w = new SyncWorkload(shape, seed, d, dropDelete)
        w.bind(s, t)
        w.prepare()
        (s, (w, t))
      },
      { case (w, t) => w.close(); t.close() })
    val passes = mutable.ArrayBuffer.empty[Pass]
    val gc = mutable.Map.empty[Int, Double]
    // untraced runs sample the machine's speed after set-up and each pass
    val cal = if (trace) None else Some(new Calib(cores))
    cal.foreach(_.sample())
    def pass(kind: String, traced: Boolean): Pass = {
      val g0 = Util.gcSeconds()
      val p = w.pass(kind, traced)
      cal.foreach(_.sample())
      gc(tracer.op) = Util.gcSeconds() - g0
      passes += p
      p
    }
    val m = new Metrics
    try {
      if (!trace) {
        // full, then (noop, delta) until `seconds` have passed, then a
        // last noop: no-op samples sit on both sides of every delta
        val full = pass("full", traced = false)
        var busy = full.seconds
        do {
          busy += pass("noop", traced = false).seconds
          busy += pass("delta", traced = false).seconds
        } while (busy < seconds)
        pass("noop", traced = false)
        val deltas = passes.filter(_.kind == "delta").map(_.seconds).toSeq
        val noops = passes.filter(_.kind == "noop").map(_.seconds).toSeq
        val k = reportSpeed(cal.get)
        m("setup_s") = (setupS * k, "s")
        m("bulk_s") = (full.seconds * k, "s")
        m("op_p50_s") = (Util.median(deltas) * k, "s")
        m("noop_p50_s") = (Util.median(noops) * k, "s")
        m("batch_s") = (passes.take(4).map(_.seconds).sum * k, "s")
        m("store_mb") = (w.storeBytes / 1e6, "MB")
        System.err.println(s"[perfbench] $name passes (measured s): " +
          passes.map(p => f"${p.kind}:${p.seconds}%.2f").mkString(" "))
      } else traceSync(name, dir, spark, w, tracer, pass, gc, m)
      result(passes.size, passes.count(!_.ok), m)
    } finally { w.close(); tracer.close(); spark.stop() } // no-ops if done
  }

  /** Traced schedule: full, delta and no-op traced, the transforms timed
    * over the delta's snapshot, one untraced delta (tracing overhead), and
    * for the one-document shape one more traced delta on a `local[1]`
    * session continuing the same state (the single-threaded baseline). */
  private def traceSync(name: String, dir: Path, spark0: SparkSession,
      w: SyncWorkload, tracer0: Tracer, pass: (String, Boolean) => Pass,
      gc: mutable.Map[Int, Double], m: Metrics): Unit = {
    pass("full", true)
    val delta = pass("delta", true)
    val deltaOp = tracer0.op
    tracer0.op += 1
    tracer0.enabled = true
    val records = w.transformRecords(spark0)
    tracer0.enabled = false
    val transformOp = tracer0.op
    pass("noop", true)
    val noopOp = tracer0.op
    val untraced = pass("delta", false)
    val r = new Report(tracer0)
    val d = r.op(deltaOp)
    val n = r.op(noopOp)
    val t = r.op(transformOp)
    val changed = delta.changed.toDouble
    m("pipeline.jobs") = (d.work.jobs, "count")
    m("pipeline.tasks") = (d.work.tasks, "count")
    m("pipeline.ms_per_job") = (d.seconds * 1e3 / math.max(1, d.work.jobs), "ms")
    m("pipeline.self_s") = (d.self, "s")
    m("pipeline.noop_self_s") = (n.self, "s")
    m("sources.fetch_s") = (d.layer("sources."), "s")
    m("sources.doc_mb") = (w.docBytes / 1e6, "MB")
    m("operators.transform_s") = (t.seconds, "s")
    m("operators.records") = (records, "count")
    m("operators.transform_tasks") = (t.work.tasks, "count")
    m("operators.changed_ratio") = (changed / math.max(1L, records), "ratio")
    for (k <- Seq("node_delta", "edge_delta", "detach", "resolve"))
      m(s"sink.${k}_s") = (d.layer(s"sink.$k"), "s")
    val sinkRows = d.workOf("sink.").rowsWritten
    m("sink.rows_written") = (sinkRows, "count")
    m("sink.write_amplification") = (sinkRows / changed, "ratio")
    m("state.read_s") = (d.layer("state.read"), "s")
    m("state.commit_s") = (d.layer("state.commit"), "s")
    val stateRows = d.workOf("state.").rowsWritten
    m("state.rows_written") = (stateRows, "count")
    m("state.write_amplification") = (stateRows / changed, "ratio")
    m("state.versions_retained") = (w.stateVersions, "count")
    r.sparkMetrics(m, d.work, gc(deltaOp))
    Report.zero(m, Report.queryLayers)
    m("trace.overhead_s") = (delta.seconds - untraced.seconds, "s")
    val scaling =
      if (name != "sync_small") 0.0
      else {
        // same state, same schedule, one core: continue on a new session
        tracer0.close()
        spark0.stop()
        val s1 = GraftSession.build(dir.toString, 1)
        val t1 = new Tracer(s1, true)
        try {
          w.bind(s1, t1)
          pass("delta", true).seconds / delta.seconds
        } finally { t1.close(); s1.stop() }
      }
    m("scaling.1c_over_nc") = (scaling, "ratio")
    r.write(dir)
  }

  // --------------------------------------------------------------- query

  private def runQuery(seed: Long, seconds: Double, trace: Boolean,
      dir: Path, fixture: String, cores: Int): String = {
    val (setupS, spark, tracer) = setUp[Tracer](
      _ => {
        val s = GraftSession.build(fixture, cores)
        FixtureProbe.check(s, fixture)
        (s, new Tracer(s, trace))
      },
      _.close())
    val m = new Metrics
    try {
      val cal = if (trace) None else Some(new Calib(cores))
      val gc0 = Util.gcSeconds()
      val slots = new QueryWorkload(seed, fixture, dir.resolve("out"))
        .run(spark, tracer, seconds, cal)
      val gcS = Util.gcSeconds() - gc0
      val round1 = slots.filter(_.round == 1)
      val memos = round1.filter(_.kind == "memo")
      val repeats = slots.filter(s => s.kind == "repeat" && !s.traced)
      if (!trace) {
        // per phase: a round's memo builds, its query slots, each repeat pass
        def phase(kind: String) = slots.filter(s => s.kind == kind && !s.traced)
          .groupBy(_.phase).values.map(_.map(_.seconds).sum).toSeq
        val k = reportSpeed(cal.get)
        m("setup_s") = (setupS * k, "s")
        m("bulk_s") = (memos.map(_.seconds).sum * k, "s")
        m("op_p50_s") = (Util.median(phase("query")) * k, "s")
        m("noop_p50_s") = (Util.median(phase("repeat")) * k, "s")
        m("batch_s") = (round1.map(_.seconds).sum * k, "s")
        m("store_mb") = (Util.du(dir.resolve("out")) / 1e6, "MB")
      } else {
        val r = new Report(tracer)
        Report.zero(m, Report.syncLayers)
        def view(ss: Seq[Slot]) = ss.map(s => r.op(s.op))
        val memoViews = view(memos)
        m("memo.build_s") = (memoViews.map(_.seconds).sum, "s")
        memos.foreach(s => m(s"memo.${s.name}.build_s") = (s.seconds, "s"))
        val qs = view(round1.filter(_.kind == "query"))
        val entry = new Work
        qs.foreach(v => entry.add(v.work))
        m("entry.plan_s") = (qs.map(_.layer("entry.plan")).sum, "s")
        m("entry.exec_s") = (qs.map(_.layer("entry.exec")).sum, "s")
        m("entry.jobs") = (entry.jobs, "count")
        m("entry.tasks") = (entry.tasks, "count")
        m("entry.median_task_ms") =
          (Util.median(entry.taskMs.map(_.toDouble).toSeq), "ms")
        m("entry.shuffle_write_mb") = (entry.shuffleWriteBytes / 1e6, "MB")
        m("entry.spill_mb") = (entry.spillBytes / 1e6, "MB")
        val all = new Work
        (memoViews ++ qs).foreach(v => all.add(v.work))
        r.sparkMetrics(m, all, gcS)
        val tracedRepeats = slots.filter(s => s.kind == "repeat" && s.traced)
        m("trace.overhead_s") = (Util.median(tracedRepeats.map(_.seconds)) -
          Util.median(repeats.map(_.seconds)), "s")
        r.write(dir)
      }
      System.err.println("[perfbench] query_mix slots (measured s): " +
        slots.map(s => f"${s.kind}:${s.name}:${s.seconds}%.2f").mkString(" "))
      // each output with the oracle SQL graft.Verify emits for its query,
      // or, for a query on the documented no-oracle list, the reason
      val checks = slots.filter(s => s.ok && s.out.nonEmpty).map { s =>
        val how = SparkEntry.oracleSql.get(s.name)
          .map(q => s""""oracle":${Util.str(q)}""")
          .orElse(SparkEntry.noOracleReason.get(s.name)
            .map(r => s""""no_oracle":${Util.str(r)}"""))
          .getOrElse("\"oracle\":null")
        s"""{"name":${Util.str(s.name)},"out":${Util.str(s.out)},$how}"""
      }.mkString("[", ",", "]")
      result(slots.size, slots.count(!_.ok), m, s""","checks":$checks""")
    } finally { tracer.close(); spark.stop() }
  }
}
