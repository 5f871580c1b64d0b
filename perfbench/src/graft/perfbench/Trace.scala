package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionStart => SQLStart}

import graft.sink.GraphSink
import graft.state.SnapshotStore

/** One timed interval around a call into a layer. `op` is the pass or slot
  * the span belongs to; `parent` is the enclosing span (0 = none). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one span: jobs, tasks, task times, shuffle,
  * spill and rows written. */
final class Work {
  var jobs = 0
  var tasks = 0
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var rowsWritten = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs ++= o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    rowsWritten += o.rowsWritten
  }
}

/** In-memory span recorder plus the SparkListener that charges each job to
  * the span open on the driver thread when the job started.
  *
  * The open span travels to the scheduler as a local property, so
  * attribution is exact even though listener events arrive on another
  * thread. Jobs are also bucketed by call site: that of their SQL
  * execution's root action (e.g. `count at SyncDriver.scala:104`), else
  * their last stage's name. This separates the driver's diff and verify
  * jobs from the sink's writes. Spans and counters stay in memory until the
  * run ends and [[Report]] reads them.
  */
final class Tracer(spark: SparkSession, val on: Boolean) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private val Prop = "perfbench.span"

  @volatile var enabled = false
  var op = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  private val execSite = mutable.Map.empty[String, String]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  val bySpan = mutable.Map.empty[Int, Work]
  val byCallSite = mutable.Map.empty[String, Int]

  if (on) sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T =
    if (!on || !enabled) body
    else {
      val s = Span(spans.size + 1, name, open.headOption.fold(0)(_.id), op,
        System.nanoTime())
      spans += s
      open ::= s
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
      }
    }

  private def work(span: Int): Work = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toInt)
    span.foreach { s =>
      jobSpan(e.jobId) = s
      e.stageIds.foreach(stageJob(_) = e.jobId)
      work(s).jobs += 1
      // every job of one SQL execution (AQE stage jobs included) carries
      // the execution id; its start event holds the action's call site
      val site = Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(execSite.get)
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name))
      byCallSite(site) = byCallSite.getOrElse(site, 0) + 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SQLStart => synchronized {
      // nested executions (broadcasts, AQE stages) take their root's site
      execSite(x.executionId.toString) = x.rootExecutionId
        .flatMap(r => execSite.get(r.toString)).getOrElse(x.description)
    }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); s <- jobSpan.get(job)) {
      val w = work(s)
      w.tasks += 1
      w.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
        w.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(sc)

  def spansOf(op: Int): Seq[Span] = spans.filter(_.op == op).toSeq

  /** Work of the given spans and, transitively, of their child spans. */
  def workUnder(roots: Seq[Span]): Work = synchronized {
    val ids = mutable.Set(roots.map(_.id): _*)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    val w = new Work
    ids.foreach(i => bySpan.get(i).foreach(w.add))
    w
  }

  def close(): Unit = if (on) sc.removeSparkListener(this)
}

/** [[GraphSink]] whose public methods delegate to the real sink inside a
  * span; `dropOneDelete` is the benchmark's negative control: it silently
  * loses one node delete, which the output check must catch. */
final class TracedSink(spark: SparkSession, root: String, t: Tracer,
    dropOneDelete: Boolean = false) extends GraphSink(spark, root) {
  private var dropped = false

  override def applyNodeDelta(label: String, toCreate: DataFrame,
      toDelete: DataFrame): Unit = t.span("sink.node_delta") {
    val del =
      if (dropOneDelete && !dropped && !toDelete.isEmpty) {
        dropped = true
        val first = toDelete.limit(1)
        toDelete.except(first)
      } else toDelete
    super.applyNodeDelta(label, toCreate, del)
  }

  override def applyEdgeDelta(relType: String, toCreate: DataFrame,
      deletePairs: DataFrame, labelA: String, labelB: String,
      alreadyResolved: Boolean): Unit = t.span("sink.edge_delta") {
    super.applyEdgeDelta(relType, toCreate, deletePairs, labelA, labelB,
      alreadyResolved)
  }

  override def detachEdges(relType: String, deletedA: DataFrame,
      deletedB: DataFrame): Unit = t.span("sink.detach") {
    super.detachEdges(relType, deletedA, deletedB)
  }

  override def resolveEndpoints(edges: DataFrame, labelA: String,
      labelB: String): DataFrame = t.span("sink.resolve") {
    super.resolveEndpoints(edges, labelA, labelB)
  }
}

/** [[SnapshotStore]] whose `read`/`commit` run inside a span. */
final class TracedStore(spark: SparkSession, root: String, t: Tracer)
    extends SnapshotStore(spark, root) {
  override def read(integration: String, function: String): DataFrame =
    t.span("state.read")(super.read(integration, function))

  override def commit(integration: String, function: String,
      postImage: DataFrame, partitions: Int): Unit =
    t.span("state.commit")(super.commit(integration, function, postImage,
      partitions))
}
