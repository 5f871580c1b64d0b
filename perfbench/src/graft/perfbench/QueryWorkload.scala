package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One timed `SparkEntry` slot. `kind` is `memo` (a memo build), `query`
  * (first run of a query) or `repeat` (the same query again, memos built
  * and inputs unchanged). `phase` numbers the run's phases: a round's
  * memo builds, its query slots, and each of its repeat passes. Query
  * outputs are checked after the run against the DuckDB oracle. */
final case class Slot(name: String, kind: String, seconds: Double,
    ok: Boolean, out: String, traced: Boolean, op: Int, round: Int,
    phase: Int)

/** A memo-heavy slice of the `SparkEntry` battery, one client, closed loop.
  *
  * Each round builds the chosen memos inside the timed region, in the
  * battery's dependency order (a memo whose dependency is not chosen builds
  * it inside its own slot), then runs one consumer per memo and the
  * heaviest non-memo slots in a seed-drawn order, then passes over the
  * consumers `repeatPasses` more times. A query slot plans the query, then
  * writes its rows as parquet — the output the oracle check reads. Rounds
  * repeat, memos dropped in between, until `seconds` of slot time have
  * passed. `cal`, when given, samples the machine's speed between phases.
  */
final class QueryWorkload(seed: Long, fixture: String, dir: Path) {
  import QueryWorkload._

  private val order: Seq[String] = {
    val r = new scala.util.Random(seed)
    r.shuffle(consumers.values.toSeq ++ heavy)
  }

  def run(spark: SparkSession, tracer: Tracer, seconds: Double,
      cal: Option[Calib]): Seq[Slot] = {
    cal.foreach(_.sample())
    val builders = SparkEntry.memoBuilders.filter(b => consumers.contains(b._1))
    val traced = tracer.on
    val out = Seq.newBuilder[Slot]
    var busy = 0.0
    var round = 0
    var phase = 0
    def outDir(sub: String, name: String) = dir.resolve(s"r$round/$sub/$name")
    /** Plan the query, then write its rows. */
    def query(name: String, sub: String): Unit = {
      val df = tracer.span("entry.plan") {
        val d = SparkEntry.queries(name)(spark, fixture)
        d.queryExecution.executedPlan
        d
      }
      tracer.span("entry.exec") {
        df.write.mode("overwrite").parquet(outDir(sub, name).toString)
      }
    }
    def step(name: String, kind: String, sub: String, trace: Boolean)(
        body: => Unit): Unit = {
      tracer.op += 1
      tracer.enabled = trace
      val t0 = System.nanoTime()
      val ok = try { tracer.span(s"$kind.$name")(body); true }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind $name failed: $e")
          false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      tracer.enabled = false
      busy += sec
      out += Slot(name, kind, sec, ok,
        if (sub.isEmpty) "" else outDir(sub, name).toString, trace, tracer.op,
        round, phase)
    }
    do {
      round += 1
      phase += 1
      builders.foreach { case (n, b) =>
        step(n, "memo", "", traced)(b(spark, fixture))
      }
      cal.foreach(_.sample())
      phase += 1
      order.foreach(n => step(n, "query", "query", traced)(query(n, "query")))
      for (k <- 1 to repeatPasses) {
        cal.foreach(_.sample())
        phase += 1
        consumers.values.foreach(n =>
          step(n, "repeat", s"repeat$k", false)(query(n, s"repeat$k")))
      }
      cal.foreach(_.sample())
      // traced runs repeat once more with spans on: the tracing overhead
      phase += 1
      if (traced) consumers.values.foreach(n =>
        step(n, "repeat", "traced", true)(query(n, "traced")))
      SparkEntry.dropMemos(spark, fixture)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    } while (busy < seconds)
    out.result()
  }
}

object QueryWorkload {
  /** Passes over the consumers per round once the query slots have run. */
  val repeatPasses = 2

  /** Chosen memos (battery names) and one consumer query for each. The
    * four memos whose build scales worst with cores (`scc_dag`,
    * `sq8_cand`, `ann_refresh`, `bigram_counts`) plus the graph, language
    * model and postings memos they sit beside; `mod_uv` feeds the graph
    * memos and is read through the graph family's edge views, here by
    * `triangle_count`. */
  val consumers: scala.collection.immutable.ListMap[String, String] =
    scala.collection.immutable.ListMap(
      "mod_uv" -> "triangle_count",
      "scc_dag" -> "scc_census",
      "rank_graph" -> "pagerank",
      "bigram_counts" -> "bigram_entropy",
      "kn_scores" -> "kn_logprob",
      "postings_tf" -> "postings",
      "unigram_counts" -> "vocab_topk",
      "sq8_cand" -> "ann_sq8",
      "ann_refresh" -> "ann_refresh")

  /** The heaviest non-memo slots of the battery at sf0.1. */
  val heavy: Seq[String] = Seq("ppjoin_pairs", "quality_margin",
    "temporal_reach", "scd2_lookup", "basket_pairs", "mst_forest")
}
