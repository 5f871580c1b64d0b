package graft.perfbench

final case class Build(id: String, createdAt: String, updatedAt: String)
final case class Bucket(slot: Int, id: String, name: String,
    createdAt: String, updatedAt: String, resourceName: String,
    org: String, project: String, versionId: String, versionName: String,
    builds: Seq[Build])

/** Seeded HCP-Packer registry generator.
  *
  * Snapshot `s` is a pure function of (seed, buckets, s): it replays
  * snapshots 1..s from the initial registry, so no state is carried between
  * calls and the expected graph of any snapshot has a closed form
  * ([[Graph.of]]).
  *
  * Traffic dimensions the sync engine's behaviour depends on:
  *  - churn kind per event: `touch` (bucket properties change), `version`
  *    (new latest version with a new set of builds), `move` (bucket changes
  *    project, which leaves a stale project→bucket edge whose endpoints both
  *    survive), `delete`, and `appear` (a reserve slot enters; a re-appearance
  *    when the slot was present before);
  *  - builds per version: 1 to 3;
  *  - buckets per project: Zipf(1.1)-skewed over `buckets / 8` projects, so a
  *    few projects hold many buckets and tail projects vanish and return as
  *    their last bucket moves or is deleted (project and org node deletes,
  *    detached edges);
  *  - document count: one document, or `pages` documents split by slot range.
  *
  * `churn` of the buckets see one event per snapshot; with ~8 node+edge
  * records per bucket that changes about `churn` of the records.
  */
final class HcpGen(seed: Long, buckets: Int, churn: Double = 0.01) {
  require(buckets >= 16, s"buckets must be >= 16, got $buckets")

  /** Reserve slots start absent; `appear` events bring them in. */
  private val slots = buckets + math.max(4, buckets / 20)
  private val projects = math.max(4, buckets / 8)
  private val orgs = math.max(2, projects / 16)

  /** Events per snapshot by kind. Fixed counts (not per-slot coin flips)
    * give every delta pass the same mix of work, so pass times vary with
    * the engine, not with how many deletes a seed happened to draw. */
  private val events = math.max(5, math.round(churn * buckets).toInt)
  private def share(f: Double) = math.max(1, math.round(events * f).toInt)
  private val (touches, versions, moves, deletes) =
    (share(0.35), share(0.30), share(0.15), share(0.10))

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def hash(a: Int, b: Int, salt: Int): Long =
    mix(mix(mix(seed ^ salt.toLong) ^ a.toLong) ^ b.toLong)
  private def unit(a: Int, b: Int, salt: Int): Double =
    (hash(a, b, salt) >>> 11) * (1.0 / (1L << 53))

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(projects)(k => 1.0 / math.pow(k + 1, 1.1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private def project(slot: Int, moves: Int): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, unit(slot, moves, 7))
    math.min(projects - 1, if (i >= 0) i else -i - 1)
  }

  /** A slot's state: live or not, and how many versions, touches and
    * project moves it has seen. */
  private final case class Slot(present: Boolean, version: Int, touches: Int,
      moves: Int)

  /** Replay snapshots 1..s from the initial registry. Each snapshot ranks
    * the slots by a hash of (seed, snapshot, slot) and hands the first
    * live slots to touch, version, move and delete in turn, and the first
    * absent ones to appear; deletes and appearances balance. */
  private def slotsAt(s: Int): Array[Slot] = {
    val st = Array.tabulate(slots)(i => Slot(i < buckets, 0, 0, 0))
    for (q <- 1 to s) {
      val order = (0 until slots).sortBy(i => hash(q, i, 1))
      val live = order.filter(st(_).present)
      val absent = order.filterNot(st(_).present)
      def hit(from: Int, n: Int)(f: Slot => Slot): Unit =
        live.slice(from, from + n).foreach(i => st(i) = f(st(i)))
      hit(0, touches)(x => x.copy(touches = x.touches + 1))
      hit(touches, versions)(x => x.copy(version = x.version + 1))
      hit(touches + versions, moves)(x => x.copy(moves = x.moves + 1))
      hit(touches + versions + moves, deletes)(_.copy(present = false))
      // a slot that enters comes with a new version of its builds; it is a
      // re-appearance when the slot was live before
      absent.take(deletes).foreach(i =>
        st(i) = st(i).copy(present = true, version = st(i).version + 1))
    }
    st
  }

  private def ts(sec: Long): String =
    java.time.Instant.ofEpochSecond(1704067200L + sec).toString

  /** Live buckets of snapshot `s`, in slot order. */
  def snapshot(s: Int): Vector[Bucket] = {
    val all = slotsAt(s)
    (0 until slots).iterator.flatMap { i =>
      val st = all(i)
      if (!st.present) None
      else {
        val p = project(i, st.moves)
        val vid = s"v-$i-${st.version}"
        val fanout = 1 + (unit(i, st.version, 3) * 3).toInt
        val born = (unit(i, 0, 4) * 1e7).toLong
        val builds = (0 until fanout).map { j =>
          val c = born + 86400L * (st.version + 1) + j * 60L
          Build(s"bl-$i-${st.version}-$j", ts(c), ts(c + 3600))
        }
        Some(Bucket(i, s"b-$i", s"bucket-$i", ts(born),
          ts(born + 86400L * (st.version + 1) + 600L * st.touches),
          s"packer/b-$i", s"org-${p % orgs}", s"proj-$p", vid,
          s"1.${st.version}.${st.touches}", builds))
      }
    }.toVector
  }

  private def q(s: String): String = "\"" + s + "\""

  private def bucketJson(b: Bucket): String = {
    val builds = b.builds.map(x =>
      s"""{"id":${q(x.id)},"created_at":${q(x.createdAt)},"updated_at":${q(x.updatedAt)}}""")
      .mkString("[", ",", "]")
    s"""{"id":${q(b.id)},"name":${q(b.name)},"created-at":${q(b.createdAt)},""" +
      s""""updated-at":${q(b.updatedAt)},"resource_name":${q(b.resourceName)},""" +
      s""""location":{"organization_id":${q(b.org)},"project_id":${q(b.project)}},""" +
      s""""latest_version":{"id":${q(b.versionId)},"name":${q(b.versionName)},"builds":$builds}}"""
  }

  /** The snapshot as `pages` one-line JSON documents, split by slot range
    * (pages = 1: the reference's single API response document). */
  def documents(snap: Vector[Bucket], pages: Int): Seq[String] = {
    val per = (slots + pages - 1) / pages
    (0 until pages).map { k =>
      snap.filter(_.slot / per == k).map(bucketJson)
        .mkString("{\"buckets\":[", ",", "]}")
    }
  }
}

/** The graph a converged sync of one snapshot leaves behind: node rows per
  * label (columns in transform order) and edge pairs per function. */
final case class Graph(nodes: Map[String, Set[Seq[String]]],
    edges: Map[String, Set[(String, String)]]) {

  /** Per-function (created, deleted) a sync from `prev` to this graph
    * returns: a node is created when its key is new or its row changed,
    * an edge when its pair is new; deletes are vanished keys or pairs. */
  def countsFrom(prev: Graph): Map[String, (Long, Long)] = {
    val n = Graph.nodeFunctions.map { case (fn, label) =>
      val now = nodes(label).map(r => r.head -> r).toMap
      val was = prev.nodes(label).map(r => r.head -> r).toMap
      fn -> (now.count { case (k, r) => !was.get(k).contains(r) }.toLong,
        was.keysIterator.count(k => !now.contains(k)).toLong)
    }
    val e = Graph.edgeFunctions.map { case (fn, _) =>
      fn -> ((edges(fn) -- prev.edges(fn)).size.toLong,
        (prev.edges(fn) -- edges(fn)).size.toLong)
    }
    (n ++ e).toMap
  }
}

object Graph {
  /** HcpIntegration's node functions and the label each writes. */
  val nodeFunctions: Seq[(String, String)] = Seq("buckets" -> "bucket",
    "orgs" -> "org", "projects" -> "project", "version" -> "version",
    "packer_build" -> "packer_build")
  /** HcpIntegration's relation functions and the sink edge table each
    * writes (`<relType>__<labelA>__<labelB>`). */
  val edgeFunctions: Seq[(String, String)] = Seq(
    "org_project" -> "has__org__project",
    "project_bucket" -> "has__project__bucket",
    "bucket_version" -> "creates__bucket__version",
    "version_build" -> "creates__version__packer_build")

  val empty: Graph = Graph(nodeFunctions.map(_._2 -> Set.empty[Seq[String]]).toMap,
    edgeFunctions.map(_._1 -> Set.empty[(String, String)]).toMap)

  def of(snap: Seq[Bucket]): Graph = Graph(
    Map(
      "bucket" -> snap.map(b => Seq(b.id, b.name, b.createdAt, b.updatedAt,
        b.resourceName)).toSet,
      "org" -> snap.map(b => Seq(b.org)).toSet,
      "project" -> snap.map(b => Seq(b.project)).toSet,
      "version" -> snap.map(b => Seq(b.versionId, b.versionName, "true")).toSet,
      "packer_build" -> snap.flatMap(_.builds.map(x =>
        Seq(x.id, x.createdAt, x.updatedAt))).toSet),
    Map(
      "org_project" -> snap.map(b => b.org -> b.project).toSet,
      "project_bucket" -> snap.map(b => b.project -> b.id).toSet,
      "bucket_version" -> snap.map(b => b.id -> b.versionId).toSet,
      "version_build" -> snap.flatMap(b => b.builds.map(b.versionId -> _.id)).toSet))
}
