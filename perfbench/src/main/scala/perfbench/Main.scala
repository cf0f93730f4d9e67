package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_contains, col}
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.json4s.jackson.Serialization
import scala.collection.mutable
import graft.api.GraphDatabase
import graft.enrich.Analytics
import graft.indexer.{GitChanges, IndexPipeline}
import graft.store.{Snapshot, SrctrlSink}
import graft.store.Snapshot.GraphSnapshot

/** Runs one workload against the public API and writes its raw result as
  * JSON. `run.py` makes the inputs, starts this, and prints the metrics.
  *
  * Usage: Main <workload> <inputs.json> <work dir> <seconds> <trace 0|1>
  *             <cores> <result.json>
  */
object Main {
  val Workloads = Seq("ingest_full", "query_mix")

  def main(args: Array[String]): Unit = {
    val Array(workload, inputsPath, work, seconds, trace, cores, out) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    val loadStart = loadavg()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val b = new Bench(spark, workload, parse(new File(inputsPath)), work,
        trace == "1")
      val result = b.run(seconds.toDouble) ++ Map(
        "hygiene" -> (hygiene(spark, cores) ++ Map(
          "loadavg_start" -> loadStart, "loadavg_end" -> loadavg())))
      Files.writeString(Paths.get(out), Serialization.write(result)(DefaultFormats))
    } finally spark.stop()
  }

  def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim

  /** Settings a reader needs to compare two runs. `spark.graft.*` settings
    * are left unset, as Verify leaves them. */
  def hygiene(spark: SparkSession, cores: String): Map[String, Any] = {
    val conf = spark.sparkContext.getConf
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> conf.get("spark.master"),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "spark_graft_settings" -> conf.getAll.filter(_._1.startsWith("spark.graft."))
        .toMap,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version)
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
}

final class Bench(spark: SparkSession, workload: String, inputs: JValue,
    work: String, traced: Boolean) {
  private implicit val formats: Formats = DefaultFormats
  private val tr = new Tracer(spark.sparkContext, traced)
  private val task = (inputs \ "task").extract[String]
  /** The sample, relative to the directory the inputs were written to. */
  private val repo = Paths.get(work, (inputs \ "repo").extract[String]).toString
  private val files = (inputs \ "files").extract[Seq[String]]
  private val pools = (inputs \ "pools").extract[Map[String, Seq[String]]]
  private val mix = (inputs \ "mix").extract[Seq[Seq[JValue]]].map {
    case Seq(JString(s), JInt(i)) => (s, pools(s)(i.toInt))
    case other => sys.error(s"malformed mix entry $other")
  }
  private val shapes = Seq("point", "label_prop", "members", "expand",
    "var_call", "shortest", "agg_top", "methods_hydrated")

  private val records = mutable.ArrayBuffer.empty[OpRecord]
  private val ingests = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var firstDigest: String = _
  private var nextOp = 0

  // ------------------------------------------------------------- ingest

  private def dirBytes(p: String): Long = if (!Files.exists(Paths.get(p))) 0L else {
    val s = Files.walk(Paths.get(p))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  private def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Index the sample into a fresh snapshot directory and write its
    * SourcetrailDB. Traced, the op makes the public calls `indexRepo` makes,
    * in its order, each in a span; untraced it calls `indexRepo`. */
  private def ingest(dir: String): GraphSnapshot = {
    val db = tr.span("api.open")(GraphDatabase.open(spark, dir))
    val snap =
      if (!traced) {
        db.indexRepo(repo, task)
        GraphSnapshot(db.nodes, db.edges, db.locations)
      } else {
        val srcs = tr.span("indexer.read_repo")(IndexPipeline.readRepo(spark, repo))
        val ix = tr.span("indexer.index_files")(IndexPipeline.indexFiles(spark, srcs, task))
        val en = tr.span("enrich.enrich")(IndexPipeline.enrich(ix, task))
        // indexRepo's merge into the (empty) opened snapshot
        val merged = tr.span("merge.snapshot_union") {
          require(db.nodes.isEmpty, s"$dir is not a fresh snapshot")
          GraphSnapshot(en.nodes,
            db.edges.unionByName(en.edges).dropDuplicates("src", "rel_type", "dst"),
            db.locations.unionByName(en.locations))
        }
        tr.span("store.snapshot_write")(Snapshot.write(merged, dir))
        tr.span("store.snapshot_read")(Snapshot.read(spark, dir))
      }
    tr.span("store.srctrl_write")(SrctrlSink.writeSourcetrailDb(snap, s"$dir.srctrldb"))
    snap
  }

  private def ingestOp(): (OpRecord, Option[GraphSnapshot]) = {
    val id = nextOp
    nextOp += 1
    val dir = s"$work/db-$id"
    var facts: Oracle.IngestFacts = null
    val (rec, snap) = tr.inOp(id) {
      Loop.timed(id, "ingest")(tr.span("op.ingest")(ingest(dir))) { s =>
        facts = Oracle.ingestFacts(s.nodes, s.edges, s.locations, files)
        if (firstDigest == null) firstDigest = facts.digest
        val problems = facts.problems ++
          (if (facts.digest != firstDigest)
            Seq(s"snapshot digest ${facts.digest} differs from the first op's $firstDigest")
          else Nil)
        if (problems.isEmpty) None else Some(problems.mkString("; "))
      }
    }
    records += rec
    ingests += Map("op" -> id, "ms" -> rec.ms.getOrElse(Double.NaN), "ok" -> rec.ok,
      "snapshot_bytes" -> dirBytes(dir), "srctrl_bytes" -> dirBytes(s"$dir.srctrldb"),
      "cached_mb_after_op" -> cachedMb()) ++ Option(facts).map(f => Map(
      "digest" -> f.digest, "nodes" -> f.nodes, "edges" -> f.edges,
      "locations" -> f.locations, "stubs" -> f.stubs,
      "error_files" -> f.errorFiles)).getOrElse(Map.empty)
    (rec, snap)
  }

  // -------------------------------------------------------------- queries

  private final class Reader(db: GraphDatabase, filesDf: DataFrame, val graph: Graph,
      sources: Map[String, String]) {
    private val expected = mutable.Map.empty[(String, String), Expected]

    private def cypher(shape: String): String = shape match {
      case "point" =>
        s"MATCH (n:$task {full_name: $$k}) RETURN n.full_name AS fn, n.kind AS kind, n.file_path AS fp"
      case "label_prop" => "MATCH (c:CLASS {name: $k}) RETURN c.full_name AS fn"
      case "members" =>
        "MATCH (m:MODULE {full_name: $k})-[:CONTAINS]->(c) RETURN c.full_name AS fn, c.kind AS kind"
      case "expand" =>
        "MATCH (c:CLASS {full_name: $k})-[:HAS_METHOD]->(m) RETURN m.full_name AS fn"
      case "var_call" =>
        "MATCH (a {full_name: $k})-[:CALL*1..3]->(b) RETURN DISTINCT b.full_name AS fn"
      case "shortest" =>
        "MATCH p = shortestPath((a {full_name: $k})-[:CALL*]->(b)) RETURN b.full_name AS fn, length(p) AS d"
      case "agg_top" =>
        "MATCH (c:CLASS)-[:HAS_METHOD]->(m) WHERE c.full_name STARTS WITH $k " +
          "RETURN c.full_name AS fn, count(m) AS n ORDER BY n DESC, fn LIMIT 10"
    }

    /** Build the query's DataFrame (parse, eager probes and pins), plan it,
      * then execute it. Untraced, planning happens inside `collect`. */
    private def execute(shape: String, k: String): Seq[Seq[String]] = {
      val df = tr.span("api.build") {
        if (shape == "methods_hydrated")
          db.methodsOf(k, filesDf).select("full_name", "code")
        else db.executeQuery(cypher(shape), Map("k" -> k))
      }
      if (traced) tr.span("api.plan")(df.queryExecution.executedPlan)
      val exec = if (shape == "methods_hydrated") "hydrate.exec" else "api.exec"
      Oracle.rows(tr.span(exec)(df.collect()))
    }

    def op(shape: String, k: String): OpRecord = {
      val id = nextOp
      nextOp += 1
      val exp = expected.getOrElseUpdate((shape, k),
        Oracle.expected(shape, k, graph, task, sources))
      val (rec, got) = tr.inOp(id) {
        Loop.timed(id, shape)(tr.span(s"op.query.$shape")(execute(shape, k)))(
          got => Oracle.compare(got, exp))
      }
      val r = rec.copy(rows = got.map(_.size.toLong).getOrElse(0L))
      records += r
      r
    }
  }

  /** Reads over the first op's snapshot, answered also by the oracle. */
  private def reader(snap: GraphSnapshot): Reader = {
    val db = GraphDatabase.open(spark, s"$work/db-0")
    val filesDf = IndexPipeline.readRepo(spark, repo).toDF()
      .select(col("path").as("file_path"), col("content"))
    new Reader(db, filesDf, Oracle.load(snap.nodes, snap.edges),
      files.map(f => f -> Oracle.readSource(repo, f)).toMap)
  }

  // ------------------------------------------------------------ analytics

  /** Traced runs only: five probe-bound operators on the first snapshot's
    * edge sets, each at the default threshold (the driver-kernel arm) and
    * with `localThreshold = 0` (the distributed arm). The arms must agree
    * row for row. */
  private def analyticsPass(snap: GraphSnapshot): Unit = {
    val source = (inputs \ "analytics" \ "source").extract[String]
    val landmarks = (inputs \ "analytics" \ "landmarks").extract[Seq[String]]
    def rel(types: String*) = snap.edges.filter(col("rel_type").isin(types: _*))
      .select("src", "dst")
    val call = rel("CALL")
    val tree = rel("CONTAINS", "INHERITS")
    // (name, kernel arm at the default threshold, distributed arm)
    val ops: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("scc", () => Analytics.stronglyConnected(call),
        () => Analytics.stronglyConnected(call, localThreshold = 0)),
      ("cc", () => Analytics.connectedComponents(tree),
        () => Analytics.connectedComponents(tree, localThreshold = 0)),
      ("bfs", () => Analytics.bfsDistances(call, source),
        () => Analytics.bfsDistances(call, source, localThreshold = 0)),
      ("betweenness", () => Analytics.betweennessLandmarks(call, landmarks),
        () => Analytics.betweennessLandmarks(call, landmarks, localThreshold = 0)),
      ("anf", () => Analytics.anf(call, rounds = 4),
        () => Analytics.anf(call, rounds = 4, localThreshold = 0)))
    analyticsEdges = call.count()
    ops.foreach { case (name, kernel, dist) =>
      val id = nextOp
      nextOp += 1
      val (rec, _) = tr.inOp(id) {
        Loop.timed(id, s"analytics.$name") {
          val k = tr.span(s"enrich.analytics.$name.kernel")(Oracle.rows(kernel().collect()))
          val d = tr.span(s"enrich.analytics.$name.dist")(Oracle.rows(dist().collect()))
          (k, d)
        } { case (k, d) => Oracle.compare(d, Expected(k, ordered = false)) }
      }
      records += rec
    }
  }

  // --------------------------------------------------------------- update

  /** Traced runs only: on a copy of the first snapshot, the incremental
    * update from the seeded edit commit, then a staged batch of upserts and
    * one commit, then reads that must see both writes. The update's v2 view
    * is compared with a full re-index of the edited tree; the difference is
    * reported as a count, not a failure. */
  private def updatePass(g: Graph): Unit = {
    val u = inputs \ "update"
    def get[T: Manifest](k: String) = (u \ k).extract[T]
    val git = Paths.get(work, get[String]("git")).toString
    val (c1, c2) = (get[String]("c1"), get[String]("c2"))
    val changed = get[Seq[String]]("changed")
    val dir = s"$work/db-update"
    copyTree(Paths.get(s"$work/db-0"), Paths.get(dir))
    val db = GraphDatabase.open(spark, dir)
    def defined(df: DataFrame) = df.filter(col("kind") =!= "none")
      .select("full_name", "file_path", "task_ids").collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getSeq[String](2)))
    def step[A](kind: String)(run: => A)(check: A => Option[String]): Option[A] = {
      val id = nextOp
      nextOp += 1
      val (rec, out) = tr.inOp(id)(Loop.timed(id, kind)(run)(check))
      records += rec
      out.filter(_ => rec.ok)
    }

    step("update.version") {
      val files = tr.span("indexer.git_changes")(GitChanges.changedFiles(git, c1, c2))
      tr.span("api.update_version")(db.updateVersionFromCommits(task, "v2", git, c1, c2))
      files
    } { files =>
      val nodes = defined(db.nodes)
      val v2 = nodes.filter(_._3.contains("v2")).map(_._1).toSet
      val inherits = db.edges.filter(col("rel_type") === "INHERITS")
        .select("src", "dst").collect().map(r => Seq(r.getString(0), r.getString(1))).toSet
      val problems = Seq(
        Option.when(files.sorted != changed)(s"git reports ${files.sorted}, the edit changed $changed"),
        nodes.find { case (_, fp, ts) => fp.exists(f => !changed.contains(f)) && !ts.contains("v2") }
          .map(n => s"${n._1} from an unchanged file lacks v2"),
        get[Seq[String]]("added").find(!v2(_)).map(k => s"added $k is not under v2"),
        get[Seq[String]]("removed").find(v2).map(k => s"removed $k is still under v2"),
        get[Seq[Seq[String]]]("inherits").find(!inherits(_)).map(e => s"no INHERITS edge $e"))
        .flatten
      if (problems.isEmpty) None else Some(problems.mkString("; "))
    }
    val v2Rows = db.nodes.filter(array_contains(col("task_ids"), "v2"))
    def view(df: DataFrame) = df.select("full_name", "kind", "file_path", "signature", "code")
      .collect().map(_.toSeq.map(Oracle.cell).mkString("\u0001")).toSet
    val before = view(v2Rows)
    val full = GraphDatabase.open(spark, s"$work/db-full")
    tr.span("api.full_reindex")(full.indexRepo(git, "v2"))
    val after = view(full.nodes)
    updateDiffRows = (before diff after).size + (after diff before).size

    // ~100 typed upserts: new nodes, new CALL edges between them, and
    // property patches of existing nodes
    val staged = get[Int]("staged")
    val fresh = (0 until staged * 2 / 5).map(i => s"perfbench_upsert.f$i")
    val patched = get[Seq[String]]("patched").filter(g.nodes.contains)
    step("update.commit") {
      fresh.foreach(k => db.addNode("v2", "FUNCTION", k,
        Map("name" -> k.split('.').last, "file_path" -> "perfbench_upsert.py")))
      fresh.zip(fresh.tail :+ fresh.head).foreach { case (a, b) => db.addEdge("v2", a, "CALL", b) }
      patched.foreach(k => db.updateNode(k, Map("perfbench" -> "patched")))
      tr.span("api.commit")(db.commit())
    }(_ => None)
    commitMb = dirBytes(dir) / 1e6

    val added = get[Seq[String]]("added").head
    step("update.read") {
      def read(q: String, k: String) = tr.span("api.read")(
        Oracle.rows(db.executeQuery(q, Map("k" -> k)).collect()))
      (read("MATCH (n:v2 {full_name: $k}) RETURN n.full_name", added),
        read("MATCH (a {full_name: $k})-[:CALL]->(b) RETURN b.full_name", fresh.head),
        patched.take(5).map(k => tr.span("api.read")(
          db.nodeByKey(k).select("props").collect().head.getMap[String, String](0)
            .get("perfbench"))))
    } { case (a, b, p) =>
      val problems = Seq(
        Option.when(a != Seq(Seq(added)))(s"update's $added read as $a"),
        Option.when(b != Seq(Seq(fresh(1))))(s"upserted edge from ${fresh.head} read as $b"),
        Option.when(p.exists(_ != Some("patched")))(s"patched props read as $p")).flatten
      if (problems.isEmpty) None else Some(problems.mkString("; "))
    }
  }
  private var analyticsEdges = 0L
  private var updateDiffRows = 0L
  private var commitMb = 0.0

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  // ------------------------------------------------------------------ run

  def run(seconds: Double): Map[String, Any] = {
    // The first ingest op of a process runs on a cold JVM, as the
    // reference's indexing job does. query_mix builds its snapshot with it
    // in set-up; ingest_full measures it.
    def firstIngest(): GraphSnapshot = {
      val (rec, snap) = ingestOp()
      require(rec.ok, s"the first ingest failed: ${rec.error.get}")
      snap.get
    }
    def validate(snap: GraphSnapshot): Reader = {
      val rd = reader(snap)
      // two parameters of each shape, the first a miss
      for (i <- 0 to 1; s <- shapes) rd.op(s, pools(s)(i))
      rd
    }
    var snap0: GraphSnapshot = null
    var rd: Reader = null
    if (workload == "query_mix") { snap0 = firstIngest(); rd = validate(snap0) }
    val readyMs = System.currentTimeMillis()
    val setupOps = records.size

    val (measured, loopS) = workload match {
      case "ingest_full" =>
        Loop.closed(seconds) { _ =>
          val (r, snap) = ingestOp()
          if (snap0 == null) snap0 = snap.orNull
          else { deleteTree(s"$work/db-${r.id}"); deleteTree(s"$work/db-${r.id}.srctrldb") }
          r
        }
      case "query_mix" =>
        Loop.closed(seconds) { i => val (s, k) = mix(i % mix.size); rd.op(s, k) }
    }
    // traced, ingest_full reads its first snapshot back, so that the api and
    // hydrate layers report on it too; then both workloads run the
    // analytics and update passes
    if (traced && snap0 != null) {
      if (rd == null) rd = validate(snap0)
      analyticsPass(snap0)
      updatePass(rd.graph)
    }
    val rss = Main.peakRssMb()
    tr.finish()
    Map(
      "workload" -> workload,
      "ready_epoch_ms" -> readyMs,
      "setup_ops" -> setupOps,
      "loop_s" -> loopS,
      "peak_rss_mb" -> rss,
      "measured" -> opStats(measured),
      "by_shape" -> measured.groupBy(_.kind).map { case (k, rs) => k -> opStats(rs) },
      "ingests" -> ingests.toSeq,
      "attempted" -> records.size,
      "failures" -> records.filterNot(_.ok).map(r =>
        Map("op" -> r.id, "kind" -> r.kind, "error" -> r.error.get)).toSeq,
      "layers" -> (if (!traced) Map.empty else
        Layers.metrics(tr, records.toSeq, ingests.toSeq, measured, files.size, Map(
          "enrich.analytics.edges" -> (analyticsEdges.toDouble, "count"),
          "api.update_vs_full_diff_rows" -> (updateDiffRows.toDouble, "count"),
          "store.commit_mb_written" -> (commitMb, "MB"),
          "jvm.peak_rss_mb" -> (rss, "MB")))
          .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }),
      "trace" -> (if (traced) Layers.dump(tr) else Seq.empty))
  }

  private def opStats(rs: Seq[OpRecord]): Map[String, Any] = {
    val base = Map("attempted" -> rs.size, "ok" -> rs.count(_.ok))
    Loop.latencies(rs) match {
      case Some((med, tail, pct, n)) =>
        base ++ Map("p50_ms" -> med, "tail_ms" -> tail, "tail_pct" -> pct, "samples" -> n)
      case None => base
    }
  }

  private def deleteTree(p: String): Unit = if (Files.exists(Paths.get(p))) {
    val s = Files.walk(Paths.get(p))
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
    finally s.close()
  }
}
