package perfbench

import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable

/** Expected answers computed without CypherLite: the snapshot is collected
  * once and every query shape is answered by plain Scala over it. */
final case class Node(fullName: String, kind: String, name: String,
    filePath: String, code: String, tasks: Seq[String])

final class Graph(val nodes: Map[String, Node],
    edges: Seq[(String, String, String)]) {
  private val out: Map[(String, String), Seq[String]] =
    edges.groupBy(e => (e._1, e._2)).view.mapValues(_.map(_._3)).toMap
  def succ(src: String, rel: String): Seq[String] =
    out.getOrElse((src, rel), Nil).filter(nodes.contains)
}

/** A query's expected rows; `ordered` when the query sorts its result. */
final case class Expected(rows: Seq[Seq[String]], ordered: Boolean)

object Oracle {
  val Null = "<null>"

  def cell(v: Any): String = v match {
    case null => Null
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${cell(k)}=${cell(x)}" }.sorted
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case x => x.toString
  }

  def rows(df: Array[Row]): Seq[Seq[String]] = df.toSeq.map(_.toSeq.map(cell))

  def load(nodes: DataFrame, edges: DataFrame): Graph = {
    val ns = nodes.select("full_name", "kind", "name", "file_path", "code", "task_ids")
      .collect().map { r =>
        val n = Node(r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4),
          Option(r.getSeq[String](5)).getOrElse(Nil))
        n.fullName -> n
      }.toMap
    val es = edges.select("src", "rel_type", "dst").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    new Graph(ns, es)
  }

  /** Source text as the indexed files hold it: UTF-8, or Latin-1 where the
    * bytes are not UTF-8. */
  def readSource(root: String, rel: String): String = {
    val bytes = Files.readAllBytes(Paths.get(root, rel))
    try StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
      .decode(ByteBuffer.wrap(bytes)).toString
    catch { case _: CharacterCodingException => new String(bytes, StandardCharsets.ISO_8859_1) }
  }

  private val pointer = """<CODE>(\{.*?\})</CODE>""".r
  private val field = """"(S|E|F)"\s*:\s*("((?:[^"\\]|\\.)*)"|-?\d+)""".r

  /** The reference's `process_string` on one string: every pointer is
    * replaced by its line slice; with more than one pointer a slice longer
    * than `folded` characters is stripped, cut and marked folded. */
  def hydrate(code: String, files: Map[String, String], folded: Int = 10): String =
    if (code == null) null
    else {
      val ptrs = pointer.findAllMatchIn(code).map(_.group(1)).toSeq
      ptrs.foldLeft(code) { (acc, p) =>
        val f = field.findAllMatchIn(p).map(m =>
          m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))).toMap
        val start = math.max(f("S").toInt, 1)
        val end = f("E").toInt
        val snip = files.get(f("F")) match {
          case Some(text) if end >= start =>
            text.split("\n", -1).slice(start - 1, end).mkString("\n")
          case _ => ""
        }
        val repl =
          if (ptrs.size > 1 && snip.length > folded)
            snip.strip().take(folded) + "...(code folded)"
          else snip
        acc.replace(s"<CODE>$p</CODE>", repl)
      }
    }

  def expected(shape: String, k: String, g: Graph, task: String,
      files: Map[String, String]): Expected = {
    def node(fn: String, kind: String = null) =
      g.nodes.get(fn).filter(n => kind == null || n.kind == kind)
    shape match {
      case "point" =>
        Expected(node(k).filter(_.tasks.contains(task))
          .map(n => Seq(n.fullName, n.kind, Option(n.filePath).getOrElse(Null))).toSeq,
          ordered = false)
      case "label_prop" =>
        Expected(g.nodes.values.filter(n => n.kind == "CLASS" && n.name == k)
          .map(n => Seq(n.fullName)).toSeq, ordered = false)
      case "members" =>
        Expected(node(k, "MODULE").toSeq.flatMap(m => g.succ(m.fullName, "CONTAINS"))
          .map(d => Seq(d, g.nodes(d).kind)), ordered = false)
      case "expand" =>
        Expected(node(k, "CLASS").toSeq.flatMap(c => g.succ(c.fullName, "HAS_METHOD"))
          .map(d => Seq(d)), ordered = false)
      case "var_call" =>
        // walks of 1 to 3 CALL hops; a shortest walk repeats no edge, so
        // this equals the relationship-unique path endpoints
        val reach = mutable.LinkedHashSet.empty[String]
        var frontier: Set[String] = node(k).map(_.fullName).toSet
        for (_ <- 1 to 3) {
          frontier = frontier.flatMap(g.succ(_, "CALL"))
          reach ++= frontier
        }
        Expected(reach.toSeq.map(Seq(_)), ordered = false)
      case "shortest" =>
        val dist = mutable.LinkedHashMap.empty[String, Int]
        var frontier: Set[String] = node(k).map(_.fullName).toSet
        val seen = mutable.Set.empty[String] ++ frontier
        var d = 0
        while (frontier.nonEmpty) {
          d += 1
          frontier = frontier.flatMap(g.succ(_, "CALL")).filterNot(seen)
          seen ++= frontier
          frontier.foreach(v => dist(v) = d)
        }
        Expected(dist.toSeq.map { case (v, n) => Seq(v, n.toString) }, ordered = false)
      case "agg_top" =>
        val counts = g.nodes.values
          .filter(n => n.kind == "CLASS" && n.fullName.startsWith(k))
          .map(c => (c.fullName, g.succ(c.fullName, "HAS_METHOD").size))
          .filter(_._2 > 0).toSeq
          .sortBy { case (fn, n) => (-n, fn) }.take(10)
        Expected(counts.map { case (fn, n) => Seq(fn, n.toString) }, ordered = true)
      case "methods_hydrated" =>
        Expected(node(k).toSeq.flatMap(c => g.succ(c.fullName, "HAS_METHOD"))
          .map(m => Seq(m, Option(hydrate(g.nodes(m).code, files)).getOrElse(Null))),
          ordered = false)
    }
  }

  /** None when `got` holds the expected rows, else a short difference. */
  def compare(got: Seq[Seq[String]], exp: Expected): Option[String] = {
    val (a, b) =
      if (exp.ordered) (got, exp.rows)
      else (got.map(_.mkString("\u0001")).sorted, exp.rows.map(_.mkString("\u0001")).sorted)
    if (a == b) None
    else {
      val extra = a.diff(b).take(3)
      val missing = b.diff(a).take(3)
      Some(s"got ${got.size} rows, expected ${exp.rows.size}; " +
        s"unexpected ${extra.mkString("; ")}; missing ${missing.mkString("; ")}")
    }
  }

  /** Snapshot invariants of one ingest op, and a digest of its sorted rows
    * that later ops must reproduce. */
  final case class IngestFacts(digest: String, nodes: Long, edges: Long,
      locations: Long, stubs: Long, errorFiles: Int, problems: Seq[String])

  def ingestFacts(nodes: DataFrame, edges: DataFrame, locations: DataFrame,
      files: Seq[String]): IngestFacts = {
    // every column, in name order, of every row, in row order
    def sortedRows(df: DataFrame) =
      df.select(df.columns.sorted.toIndexedSeq.map(df.col): _*).collect()
        .map(r => r.toSeq.map(cell).mkString("\u0001")).sorted
    val ns = sortedRows(nodes)
    val es = sortedRows(edges)
    val ls = sortedRows(locations)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Seq(ns, es, ls).foreach { part =>
      part.foreach(r => md.update((r + "\n").getBytes(StandardCharsets.UTF_8)))
      md.update("\u0002".getBytes(StandardCharsets.UTF_8))
    }
    val digest = md.digest().map("%02x".format(_)).mkString
    val keys = nodes.select("full_name", "kind").collect()
    val keySet = keys.map(_.getString(0)).toSet
    val dangling = edges.select("src", "dst").collect()
      .flatMap(r => Seq(r.getString(0), r.getString(1))).filterNot(keySet).distinct
    // every file leaves location rows; one the parser could not read leaves
    // an ERROR row, and no file may vanish
    val byKind = locations.select("filePath", "kind").distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
    val located = byKind.map(_._1).toSet
    val errorFiles = byKind.filter(_._2 == "ERROR").map(_._1).toSet
    val lost = files.filterNot(located)
    val problems =
      (if (dangling.nonEmpty) Seq(s"${dangling.size} edge endpoints are not nodes, " +
        s"e.g. ${dangling.take(3).mkString(", ")}") else Nil) ++
      (if (lost.nonEmpty) Seq(s"${lost.size} files left no location row, " +
        s"e.g. ${lost.take(3).mkString(", ")}") else Nil)
    IngestFacts(digest, ns.length, es.length, ls.length,
      keys.count(_.getString(1) == "none"), errorFiles.count(files.contains), problems)
  }
}
