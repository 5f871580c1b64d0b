package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicReference

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, lit}

import graft.model.Schemas
import graft.pipeline._
import graft.sink.GraphSink
import graft.sources.HttpJsonSource

/** Shape of one sync workload: registry size and how the snapshot reaches
  * the engine (one document over HTTP, or `pages` JSON files). */
final case class SyncShape(buckets: Int, pages: Int) {
  def http: Boolean = pages == 1
}

/** One timed sync pass and whether its output checked out. */
final case class Pass(kind: String, seconds: Double, changed: Long,
    ok: Boolean)

/** The product path under load: a closed loop of `SyncDriver` passes over
  * `HcpIntegration` (relations reconciled), one client, each pass started
  * when the previous one and its output check have finished.
  *
  * Schedule: a full load into empty state, then delta passes at ~1% churn
  * (snapshot s → s + 1) interleaved with no-op passes (the same snapshot
  * again). After every pass the returned counts and every node and edge
  * table are compared with the generator's closed form.
  */
final class SyncWorkload(shape: SyncShape, seed: Long, dir: Path,
    dropOneDelete: Boolean = false) {

  private val gen = new HcpGen(seed, shape.buckets)
  private val sinkRoot = dir.resolve("sink").toString
  private val stateRoot = dir.resolve("state").toString
  private val pagesRoot = dir.resolve("pages")

  private val body = new AtomicReference[Array[Byte]](Array.emptyByteArray)
  private var server: HttpServer = _
  private var pageDir: Path = _

  /** Bytes of the current snapshot as the engine reads them. */
  var docBytes = 0L

  private def publish(s: Int): Graph = {
    val snap = gen.snapshot(s)
    val docs = gen.documents(snap, shape.pages)
    if (shape.http) {
      val b = docs.head.getBytes(UTF_8)
      body.set(b)
      docBytes = b.length
    } else {
      pageDir = pagesRoot.resolve(s"snap-$s")
      Files.createDirectories(pageDir)
      docs.zipWithIndex.foreach { case (d, k) =>
        Files.write(pageDir.resolve(f"page-$k%03d.json"), d.getBytes(UTF_8))
      }
      docBytes = docs.map(_.getBytes(UTF_8).length.toLong).sum
    }
    Graph.of(snap)
  }

  private def startServer(): String = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/buckets", ex => {
      val b = body.get()
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, b.length.toLong)
      val out = ex.getResponseBody
      try out.write(b) finally out.close()
    })
    server.start()
    s"http://127.0.0.1:${server.getAddress.getPort}/buckets"
  }

  /** The reference's extract path (one GET per pass through
    * `HttpJsonSource`), or a JSON scan of the snapshot's page files. */
  private val load: SparkSession => DataFrame =
    if (shape.http) HttpJsonSource.loader(startServer(), None,
      Some(Schemas.hcpDocument))
    else s => s.read.schema(Schemas.hcpDocument).json(pageDir.toString)

  private var tracer: Tracer = _
  private var driver: SyncDriver = _
  private var checkSink: GraphSink = _

  /** HcpIntegration with reconciled relations, its load wrapped in a span. */
  val spec: IntegrationSpec = {
    val base = HcpIntegration.spec("hcp",
      s => tracer.span("sources.fetch")(load(s)))
    base.copy(functions = base.functions.map { f =>
      f.kind match {
        case CreateRelation(rt, a, b, _) =>
          f.copy(kind = CreateRelation(rt, a, b, reconcile = true))
        case _ => f
      }
    })
  }

  /** Point the engine objects at `spark`; state and sink stay on disk, so
    * a new session continues the same schedule. */
  def bind(spark: SparkSession, t: Tracer): Unit = {
    tracer = t
    driver = new SyncDriver(spark, new TracedStore(spark, stateRoot, t),
      new TracedSink(spark, sinkRoot, t, dropOneDelete))
    checkSink = new GraphSink(spark, sinkRoot)
  }

  private var snap = 0
  private var graph = Graph.empty
  private var next = Graph.empty

  /** Render and serve snapshot 0, the input of the full load. */
  def prepare(): Unit = next = publish(0)

  private val nodeCols = Map(
    "bucket" -> Seq("external_id", "name", "created_at", "updated_at",
      "resource_name"),
    "org" -> Seq("external_id"), "project" -> Seq("external_id"),
    "version" -> Seq("external_id", "name", "latest"),
    "packer_build" -> Seq("external_id", "created_at", "updated_at"))

  /** Every node and edge table equals the expected graph. All tables are
    * read in one Spark job, each row as (table, its values joined). */
  private def tablesMatch(g: Graph): Boolean = {
    val sep = "\u0001"
    val nodes = nodeCols.toSeq.map { case (label, cols) =>
      checkSink.readNodes(label)
        .select(lit(label), concat_ws(sep, cols.map(col): _*))
    }
    val edges = Graph.edgeFunctions.map { case (fn, table) =>
      checkSink.readEdges(table)
        .select(lit(fn), concat_ws(sep, col("a_id"), col("b_id")))
    }
    val got = (nodes ++ edges).reduce(_ union _).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = g.nodes.toSeq.flatMap { case (label, rows) =>
      rows.map(r => (label, r.mkString(sep)))
    } ++ g.edges.toSeq.flatMap { case (fn, pairs) =>
      pairs.map { case (a, b) => (fn, a + sep + b) }
    }
    got.length == want.size && got.toSet == want.toSet
  }

  /** Run every transform over the current snapshot, each with a count,
    * outside any pass; returns the records they emit. */
  def transformRecords(spark: SparkSession): Long = {
    val doc = load(spark).persist()
    try {
      doc.count()
      tracer.span("operators.transform") {
        spec.functions.map(f => f.transform(doc).count()).sum
      }
    } finally doc.unpersist()
  }

  /** One pass: `full` (snapshot 0 into empty state), `delta` (the next
    * snapshot) or `noop` (the same snapshot again). Inputs are rendered
    * before the timing starts; the output check runs after it ends. */
  def pass(kind: String, traced: Boolean): Pass = {
    val prev = graph
    if (kind == "delta") { snap += 1; next = publish(snap) }
    if (kind != "noop") graph = next
    tracer.op += 1
    tracer.enabled = traced
    val t0 = System.nanoTime()
    val counts = tracer.span("pass")(driver.run(spec))
    val sec = (System.nanoTime() - t0) / 1e9
    tracer.enabled = false
    val expected = graph.countsFrom(prev)
    val ok = counts == expected && tablesMatch(graph)
    if (!ok)
      System.err.println(s"[perfbench] $kind pass to snapshot $snap failed " +
        s"its check: got $counts, expected $expected")
    val changed = expected.valuesIterator.map { case (c, d) => c + d }.sum
    Pass(kind, sec, changed, ok)
  }

  def storeBytes: Long =
    Seq(sinkRoot, stateRoot).map(r => Util.du(Path.of(r))).sum

  /** Committed state versions on disk (`v-*` data directories). */
  def stateVersions: Int = Util.dirsNamed(Path.of(stateRoot), "v-")

  def close(): Unit = if (server != null) server.stop(0)
}
