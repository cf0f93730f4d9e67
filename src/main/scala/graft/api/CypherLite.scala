package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Bounded
import graft.ops.Pin._

/** B10 — `execute_query(cypher)` for the Cypher subset the reference's
  * workflows issue (SURVEY.md §2.B; graphDB.py:106-112 delegates arbitrary
  * Cypher to Neo4j — full Cypher is out of scope by design, §7.3).
  *
  * Supported shape — a single directed relationship CHAIN:
  *
  *   MATCH (a:L1:L2 {k:'v', …}) -[:REL]-> (b) <-[:REL2]- (c:L3)
  *   [WHERE exists(x.prop) [AND x.prop = 'val' …]]
  *   RETURN <proj>[, <proj>…]
  *
  *  - any number of hops, each `-[:R]->` (forward), `<-[:R]-`
  *    (reversed) or `-[:R]-` / `--` (UNDIRECTED, r15 — either physical
  *    orientation matches via a symmetrized scan whose physical
  *    (src, rel_type, dst) columns survive, so startNode()/endNode(),
  *    r-projections and relationship-uniqueness see the real edge;
  *    self-loops match once; var-length undirected raises),
  *    optionally variable-length (`-[:R*2]->`, `-[:R*1..3]->`,
  *    `-[:R*..3]->`, zero-length `-[:R*0..2]->` binding the same node,
  *    and unbounded `-[:R*]->` via an edge-uniqueness path fixpoint
  *    capped at [[unboundedMatchCap]] levels) — one result row per
  *    path, with
  *    Neo4j's relationship-uniqueness rule enforced WITHIN each
  *    variable-length segment (edges may still repeat across separate
  *    pattern parts — a documented divergence from full pattern
  *    isomorphism, which would need per-edge identity threaded through
  *    every hop);
  *  - relationship property equalities (`-[:R {k: 'v'}]->`); on a
  *    var-length hop they constrain EVERY relationship of the path;
  *  - node labels match `kind` or a member of `task_ids` (the reference's
  *    multi-label set, §1.1); prop literals may contain commas/colons
  *    inside quotes;
  *  - WHERE is a full boolean expression with Cypher precedence (NOT
  *    over AND over OR) and parenthesized groups; leaves are
  *    `exists(v.prop)` / `NOT exists(v.prop)`, `=`, `<>`,
  *    `<` `<=` `>` `>=` (numeric when compared to an unquoted number,
  *    lexicographic against a quoted string), `STARTS WITH` /
  *    `ENDS WITH` / `CONTAINS`, and `v.prop IN ['a', 'b']` — all with
  *    Neo4j null semantics (a missing prop drops the row);
  *  - projections: `x` (fixed columns of x, prefixed), `x.prop`,
  *    `labels(x)` (task_ids + kind array), `count(*)` / `count(x)` /
  *    `count(x.prop)` — any item but a whole-variable may take an
  *    `AS alias`; when a count appears, every non-aggregated item
  *    becomes a grouping key (Cypher's implicit grouping);
  *  - result shaping: `RETURN DISTINCT …`, `ORDER BY <output column>
  *    [ASC|DESC], …` (references resolve against the RETURN list, the
  *    common Neo4j idiom `RETURN m.name, count(r) AS n ORDER BY n DESC`),
  *    `SKIP n`, `LIMIT n`.
  *
  *  - multiple MATCH clauses, plain or OPTIONAL: a later plain MATCH
  *    anchored at a variable bound earlier inner-joins there; an
  *    UN-anchored plain MATCH (and the comma form `MATCH (a:L), (b:M)`
  *    — comma patterns split into sub-clauses, at most one carrying
  *    relationships) executes Neo4j's cartesian product under a LOUD
  *    row budget — both sides count in-plan and the product raises
  *    past [[cartesianRowBudget]] rather than silently launching (r15);
  *    an OPTIONAL MATCH left-joins — at its bound head variable when
  *    anchored, or (UN-anchored, sharing no variable) against the whole
  *    driving row set, null-extending when the optional pattern yields
  *    nothing. Every clause may carry its own WHERE; an OPTIONAL
  *    MATCH's WHERE folds into the left-join condition (Neo4j attaches
  *    WHERE to the preceding MATCH, so a filtered optional row
  *    null-extends rather than dropping).
  *
  *  - relationship VARIABLES on single hops (`-[r:REL]->`): `r.prop`
  *    reads relationship properties (src/rel_type/dst/hops are the
  *    fixed columns), `count(r)` counts matched edges, whole-`r`
  *    projects the edge triple, and `type(r)` / `startNode(r)` /
  *    `endNode(r)` project the rel_type and endpoint keys; `r` carries
  *    through WITH (a `__wr_` struct keeping relationship-ness); a
  *    var-length `r` binds the traversed-edge LIST (r13): whole-`r`
  *    projects the (src, rel_type, dst) struct array — Neo4j's
  *    relationship list — while `size(r)`/`length(r)` read the hop
  *    count and `r.prop`/`type(r)` stay null (per-hop props of a
  *    var-length binding have no single value);
  *  - `WITH` pipes, CHAINED (aggregate-then-filter, SQL's HAVING shape):
  *    `MATCH … WITH v, count(*) AS c WHERE c > k WITH … RETURN …` — bare
  *    variables carry through (struct columns), a previous pipe's output
  *    columns carry by name (optionally renamed), expressions require
  *    `AS`, each trailing WHERE filters that pipe's rows, and the RETURN
  *    resolves against the last pipe's output scope. Each pipe supports
  *    Cypher's full shaping order `WITH items [ORDER BY …] [SKIP n]
  *    [LIMIT n] [WHERE …]` — ORDER/SKIP/LIMIT apply BEFORE the trailing
  *    WHERE (the top-N-then-continue shape).
  *  - scalar EXPRESSIONS in RETURN and WITH items: property/column
  *    arithmetic (`+ - * / %`, parens, unary minus, literals) and
  *    `coalesce()`, `toInteger()`, `toFloat()`, `abs()`, `size()` —
  *    see [[parseValueExpr]].
  *
  *  - aggregates: `count` / `collect` / `sum` / `avg` / `min` / `max`
  *    with Cypher's implicit grouping (every non-aggregated item is a
  *    key) in both RETURN and WITH — see [[numAggCol]] for the
  *    string-model coercion rules.
  *
  *  - `UNION` / `UNION ALL` over same-column branches, leading
  *    `UNWIND [list] AS x` preludes (literal or `$param` lists), and
  *    Neo4j-style `$name` parameters via the params overloads.
  *
  * Anything else (undirected edges, cartesian products past the row
  * budget, aggregates beyond those six) raises — exactly the
  * reference's posture of not reimplementing Neo4j.
  *
  * The parse result is a plain DataFrame expression — Catalyst plans it
  * like any hand-written combinator query (broadcast point expands,
  * pushdown, etc.).
  */
object CypherLite {

  // star spec stops at `{` or `]`; an optional props literal follows (its
  // greedy `.*` may span quoted text — the closing `]->` anchor bounds it).
  // An optional leading variable (`[r:REL]`) binds the relationship.
  // rel spec allows Neo4j's type ALTERNATION `:A|B|C` (matched edges may
  // be of any listed type — one scan filter, not a union)
  // the `:TYPE…` spec is OPTIONAL (r16): `-[r]->` / `-[*1..2]->` are
  // Neo4j's any-type bracketed arrows — a null rel group reaches
  // hopEdges as "any relationship type", same as the bare `-->`
  private val fwdArrow = """^-\s*\[\s*(\w+)?\s*(?::\s*(\w+(?:\s*\|\s*\w+)*))?\s*(\*[^\]{]*)?\s*(\{.*\})?\s*\]\s*->$""".r
  private val bwdArrow = """^<-\s*\[\s*(\w+)?\s*(?::\s*(\w+(?:\s*\|\s*\w+)*))?\s*(\*[^\]{]*)?\s*(\{.*\})?\s*\]\s*-$""".r
  // UNDIRECTED hop `-[r:R {..}]-` (r15; var-length r16): matched AFTER
  // fwd/bwd (no `>` tail, no `<` head reaches here)
  private val undirArrow = """^-\s*\[\s*(\w+)?\s*(?::\s*(\w+(?:\s*\|\s*\w+)*))?\s*(\*[^\]{]*)?\s*(\{.*\})?\s*\]\s*-$""".r

  /** Hard cap on variable-length expansion: each extra hop is another
    * self-join of the edge table, so an unbounded (or huge) `*` would be
    * an unbudgeted combinatorial query — raise instead, the module's
    * posture for everything it won't plan well. */
  private val maxVarHops = 8

  /** `*` spec → (min, max) hops. null (no star) = exactly 1. `*n`,
    * `*..n`, `*m..n`, zero-length mins (`*0..n`, Cypher's bind-same-node
    * form), and UNBOUNDED maxes (`*`, `*m..` → max = -1, expanded by
    * the edge-uniqueness fixpoint in [[varLengthRelUnbounded]]). */
  private def parseStar(spec: String): (Int, Int) = {
    if (spec == null) return (1, 1)
    val body = spec.stripPrefix("*").trim
    val (min, max) =
      if (body.isEmpty) (1, -1)
      else if (body.contains("..")) {
        val parts = body.split("\\.\\.", -1).map(_.trim)
        require(parts.length == 2,
          s"malformed variable-length spec '$spec' (expected *m..n)")
        (if (parts(0).isEmpty) 1 else parts(0).toInt,
          if (parts(1).isEmpty) -1 else parts(1).toInt)
      } else (body.toInt, body.toInt)
    require(min >= 0, s"negative hop count in '$spec'")
    if (max >= 0) {
      require(min <= max, s"empty hop range '$spec'")
      require(max <= maxVarHops,
        s"variable-length bound ${max} exceeds the $maxVarHops-hop cap " +
          s"(use an unbounded '*' for fixpoint expansion)")
    }
    (min, max)
  }

  /** Depth cap for UNBOUNDED `*` expansion in plain MATCH: the fixpoint
    * stops when no path extends (relationship uniqueness makes every
    * path finite), so this only catches graphs whose SIMPLE-path depth
    * explodes — there we raise rather than silently truncate the path
    * set (a missing row is a wrong answer; Neo4j would enumerate on). */
  private val unboundedMatchCap = 32

  /** allShortestPaths per-level row budget: the layered-DAG enumeration
    * is combinatorial in the graph's equal-length path multiplicity (a
    * diamond lattice doubles rows per level), so each level's
    * materialized row count is capped and exceeding it raises loudly —
    * the unboundedMatchCap discipline applied to path multiplicity. */
  private val allspLevelRowCap = 2000000L

  /** Un-anchored plain-MATCH row budget (r15, verdict task #3): Neo4j
    * executes `MATCH (a:CLASS), (b:CLASS)` as a cartesian product with
    * a warning; we execute it under the allShortestPaths loud-budget
    * discipline — count both sides in-plan, RAISE when |left|·|right|
    * exceeds this cap (a silent planet-sized product is a job-killer at
    * 100 TB; a raise names the query), execute below it. Overridable
    * per-deployment (and spec-testable) via the system property. */
  private[api] def cartesianRowBudget: Long =
    sys.props.get("graft.cypher.cartesianBudget").map(_.toLong)
      .getOrElse(2000000L)

  /** Split a MATCH pattern on top-level commas — unlike [[splitTop]]
    * this also tracks brace and bracket depth: a comma inside a
    * relationship pattern's props (`-[r:R {k:'a', j:'b'}]->`) sits at
    * paren depth 0 but brace depth 1 and must NOT start a new comma
    * pattern. Quotes and their escapes are literal text throughout. */
  private def splitTopPattern(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var quote: Char = 0
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        sb.append(c)
        if (c == '\\' && i + 1 < s.length) { i += 1; sb.append(s.charAt(i)) }
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') { quote = c; sb.append(c) }
      else if (c == '(' || c == '{' || c == '[') { depth += 1; sb.append(c) }
      else if (c == ')' || c == '}' || c == ']') {
        depth = math.max(0, depth - 1); sb.append(c)
      } else if (c == ',' && depth == 0) { out += sb.toString; sb.clear() }
      else sb.append(c)
      i += 1
    }
    out += sb.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Every (src, dst) endpoint pair of paths with `min`..∞ edges of the
    * given scan, one row PER PATH, under Neo4j's relationship-uniqueness
    * rule — a breadth-first path-extension fixpoint. Each level is one
    * frontier⋈edges join; the visited-edge set rides along as an array
    * column, so uniqueness is a narrow `array_contains` filter, not a
    * driver-side structure. Levels localCheckpoint: the loop is
    * DataFrame-iterative (lineage would otherwise deepen per level). */
  /** Restrict an edge frame's first-leg `src` to the anchor frontier
    * (r16, scale): an ANCHORED var-length pattern must expand FROM its
    * bound side, not enumerate every path in the graph and join the
    * anchor afterwards — at cluster scale that is the difference
    * between a frontier walk and a planet-sized enumeration. A pure
    * prune (the downstream anchor join enforces the same equality), so
    * semantics are untouched. */
  private def seedSrc(e: DataFrame, seed: Option[DataFrame]): DataFrame =
    seed.fold(e)(s => e.join(s, Seq("src"), "left_semi"))

  /** The dst-side twin of [[seedSrc]] (r17, verdict task #2): restrict
    * a composition leg's `dst` to the target key set — the LAST leg of
    * a bounded var-length pattern whose right endpoint is filtered
    * prunes to paths that can actually reach a qualifying node. The
    * target frame carries a `dst` column. Pure prune: the downstream
    * endpoint join enforces the same equality. */
  private def targetDst(e: DataFrame, target: Option[DataFrame]): DataFrame =
    target.fold(e)(t => e.join(t, Seq("dst"), "left_semi"))

  /** Flip an edge scan for BACKWARD var-length expansion (r17, verdict
    * task #2): a dst-anchored REVERSED hop must expand from its bound
    * side too — walking the flipped graph from the anchor is a frontier
    * walk; expanding forward from everywhere and joining the anchor
    * afterwards is the planet-sized enumeration the r16 seeding exists
    * to prevent, just mirrored. */
  private def flipScan(e: DataFrame): DataFrame =
    e.select(col("dst").as("src"), col("rel_type"),
      col("src").as("dst"))

  /** Undo [[flipScan]] on an expanded var-length frame: swap the
    * endpoints back and restore each prels struct's PHYSICAL
    * orientation, reversing the list so edge order again runs from the
    * frame's (restored) src to its dst. */
  private def flipVarFrame(f: DataFrame): DataFrame =
    f.select(col("dst").as("src"), col("src").as("dst"), col("hops"),
      reverse(transform(col("prels"), x =>
        struct(x.getField("dst").as("src"),
          x.getField("rel_type").as("rel_type"),
          x.getField("src").as("dst")))).as("prels"))

  private def varLengthRelUnbounded(e0: DataFrame, min: Int,
      seed: Option[DataFrame] = None): DataFrame = {
    val e = e0.select(col("src"), col("rel_type"), col("dst"))
    // the visited-edge array doubles as the PATH for `relationships(p)`
    // projections (r12): entries carry (s, t, d); uniqueness still
    // compares (s, d) only — on this dedup'd edge table an edge IS its
    // (src, dst), the documented identity
    def emit(f: DataFrame, hops: Long) = f.select(col("src"), col("dst"),
      lit(hops).as("hops"),
      transform(col("__p"), x => struct(x.getField("s").as("src"),
        x.getField("t").as("rel_type"), x.getField("d").as("dst")))
        .as("prels"))
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // r19 job-count pass: lazy pin + count — ONE job per level both
    // materializes the frontier and probes convergence (was eager
    // checkpoint + isEmpty, two scheduler round-trips per level)
    var frontier = seedSrc(e, seed).select(col("src"), col("dst"),
      array(struct(col("src").as("s"), col("rel_type").as("t"),
        col("dst").as("d"))).as("__p"))
      .pin(eager = false)
    var nFrontier = frontier.count()
    var level = 1
    if (min <= 1) out += emit(frontier, 1L)
    while (nFrontier > 0 && level < unboundedMatchCap) {
      level += 1
      frontier = frontier.alias("p")
        .join(e.alias("x"), col("p.dst") === col("x.src"))
        .filter(!exists(col("p.__p"), el =>
          el.getField("s") === col("x.src") && el.getField("d") === col("x.dst")))
        .select(col("p.src").as("src"), col("x.dst").as("dst"),
          concat(col("p.__p"),
            array(struct(col("x.src").as("s"), col("x.rel_type").as("t"),
              col("x.dst").as("d")))).as("__p"))
        .pin(eager = false)
      nFrontier = frontier.count()
      if (level >= min) out += emit(frontier, level.toLong)
    }
    require(nFrontier == 0,
      s"unbounded variable-length expansion passed $unboundedMatchCap " +
        "levels without converging — bound the pattern (*m..n)")
    out.reduceOption(_ unionAll _)
      .getOrElse(emit(e.select(col("src"), col("dst"),
        array(struct(col("src").as("s"), col("rel_type").as("t"),
          col("dst").as("d"))).as("__p")), 0L).limit(0))
  }

  /** Symmetrize an edge scan for UNDIRECTED var-length traversal (r16):
    * traversal (src, dst) covers both orientations while the PHYSICAL
    * (psrc, pdst) rides along — prels structs and edge-uniqueness read
    * physical identity (an edge traversed either way is the same
    * relationship), exactly the single-hop undirected discipline.
    * Self-loops enter once (the swapped copy filters them). */
  private def symmetrizedScan(e0: DataFrame): DataFrame = {
    val e = e0.select(col("src"), col("rel_type"), col("dst"))
    e.select(col("src"), col("rel_type"), col("dst"),
        col("src").as("psrc"), col("dst").as("pdst"))
      .unionByName(e.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("rel_type"),
          col("src").as("dst"), col("src").as("psrc"),
          col("dst").as("pdst")))
  }

  /** [[varLengthRel]]'s UNDIRECTED twin (r16, verdict task #2): each
    * step of the composition may cross an edge in either physical
    * orientation; uniqueness compares PHYSICAL (psrc, pdst) pairs — a
    * back-and-forth over one edge binds nothing, whatever orientations
    * the two steps used — and `prels` carries physical structs (Neo4j's
    * relationship entities never flip their endpoints). */
  private def varLengthRelUndirected(e0: DataFrame, min: Int,
      max: Int, seed: Option[DataFrame] = None,
      target: Option[DataFrame] = None): DataFrame = {
    val e = symmetrizedScan(e0)
    def edgeStruct(j: Int) = struct(col(s"ps$j").as("src"),
      col(s"t$j").as("rel_type"), col(s"pd$j").as("dst"))
    // leg 0 seeds from the anchor frontier — later legs start at
    // interior vertices; the last leg prunes to the target set when
    // the right endpoint is filtered (r17)
    def sel(j: Int, len: Int) = {
      val base0 = if (j == 0) seedSrc(e, seed) else e
      val base = if (j == len - 1) targetDst(base0, target) else base0
      base.select(col("src").as(s"s$j"),
        col("rel_type").as(s"t$j"), col("dst").as(s"d$j"),
        col("psrc").as(s"ps$j"), col("pdst").as(s"pd$j"))
    }
    val perLength = (math.max(min, 1) to max).map { len =>
      var df = sel(0, len)
      for (j <- 1 until len) {
        df = df.join(sel(j, len), col(s"d${j - 1}") === col(s"s$j"))
        for (k <- 0 until j)
          df = df.filter(!(col(s"ps$k") === col(s"ps$j") &&
            col(s"pd$k") === col(s"pd$j")))
      }
      df.select(col("s0").as("src"), col(s"d${len - 1}").as("dst"),
        lit(len.toLong).as("hops"),
        array((0 until len).map(edgeStruct): _*).as("prels"))
    }
    perLength.reduce(_ unionAll _)
  }

  /** [[varLengthRelUnbounded]]'s UNDIRECTED twin (r16): the same BFS
    * path enumeration over the symmetrized frame; `__p` entries carry
    * PHYSICAL (s, t, d), and the visited filter compares physical
    * pairs, so edge-uniqueness spans orientations. Converges — every
    * path consumes a distinct physical edge. */
  private def varLengthRelUnboundedUndirected(e0: DataFrame,
      min: Int, seed: Option[DataFrame] = None): DataFrame = {
    val e = symmetrizedScan(e0)
    def emit(f: DataFrame, hops: Long) = f.select(col("src"), col("dst"),
      lit(hops).as("hops"),
      transform(col("__p"), x => struct(x.getField("s").as("src"),
        x.getField("t").as("rel_type"), x.getField("d").as("dst")))
        .as("prels"))
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // the INITIAL frontier seeds from the anchor; the expansion join
    // walks the full frame
    // r19: lazy pin + fused count probe (see varLengthRelUnbounded)
    var frontier = seedSrc(e, seed).select(col("src"), col("dst"),
      array(struct(col("psrc").as("s"), col("rel_type").as("t"),
        col("pdst").as("d"))).as("__p"))
      .pin(eager = false)
    var nFrontier = frontier.count()
    var level = 1
    if (min <= 1) out += emit(frontier, 1L)
    while (nFrontier > 0 && level < unboundedMatchCap) {
      level += 1
      frontier = frontier.alias("p")
        .join(e.alias("x"), col("p.dst") === col("x.src"))
        .filter(!exists(col("p.__p"), el =>
          el.getField("s") === col("x.psrc") &&
            el.getField("d") === col("x.pdst")))
        .select(col("p.src").as("src"), col("x.dst").as("dst"),
          concat(col("p.__p"),
            array(struct(col("x.psrc").as("s"), col("x.rel_type").as("t"),
              col("x.pdst").as("d")))).as("__p"))
        .pin(eager = false)
      nFrontier = frontier.count()
      if (level >= min) out += emit(frontier, level.toLong)
    }
    require(nFrontier == 0,
      s"unbounded variable-length expansion passed $unboundedMatchCap " +
        "levels without converging — bound the pattern (*m..n)")
    out.reduceOption(_ unionAll _)
      .getOrElse(emit(e.select(col("src"), col("dst"),
        array(struct(col("psrc").as("s"), col("rel_type").as("t"),
          col("pdst").as("d"))).as("__p")), 0L).limit(0))
  }

  /** The (src, dst) endpoint pairs of every path of `min`..`max` edges of
    * type `rel` — one output row PER PATH (Cypher's path multiplicity),
    * with Neo4j's relationship-uniqueness rule (an edge appears at most
    * once per path; on this dedup'd edge table an edge IS its (src,dst)).
    *
    * Shape: the length-L slice is L-1 self-joins on the hop key; lengths
    * union together. Each self-join shuffles on the chain key unless the
    * edge table is bucketed (store.Bucketing's layout co-locates it). */
  private def varLengthRel(e: DataFrame, min: Int, max: Int,
      seed: Option[DataFrame] = None,
      target: Option[DataFrame] = None): DataFrame = {
    // per-edge rel types ride along (t$j) so `relationships(p)` path
    // projections (r12) see the actual type of each hop — uniqueness
    // stays on (src, dst), the documented edge identity here
    def edgeStruct(j: Int) = struct(col(s"s$j").as("src"),
      col(s"t$j").as("rel_type"), col(s"d$j").as("dst"))
    // leg 0 seeds from the anchor frontier (r16, scale); the LAST leg
    // of each length prunes to the target key set when the pattern's
    // right endpoint is filtered (r17) — interior legs can't prune
    // (their vertices are unknown until joined)
    val e1 = seedSrc(e, seed)
    val perLength = (min to max).map { len =>
      if (len == 1)
        targetDst(e1, target)
          .select(col("src"), col("dst"), lit(1L).as("hops"),
          array(struct(col("src"), col("rel_type"), col("dst"))).as("prels"))
      else {
        var df = e1.select(col("src").as("s0"), col("rel_type").as("t0"),
          col("dst").as("d0"))
        for (j <- 1 until len) {
          val ej = (if (j == len - 1) targetDst(e, target) else e)
            .select(col("src").as(s"s$j"), col("rel_type").as(s"t$j"),
              col("dst").as(s"d$j"))
          df = df.join(ej, col(s"d${j - 1}") === col(s"s$j"))
          for (k <- 0 until j)
            df = df.filter(
              !(col(s"s$k") === col(s"s$j") && col(s"d$k") === col(s"d$j")))
        }
        df.select(col("s0").as("src"), col(s"d${len - 1}").as("dst"),
          lit(len.toLong).as("hops"),
          array((0 until len).map(edgeStruct): _*).as("prels"))
      }
    }
    // unionAll: two paths with the same endpoints are two result rows
    perLength.reduce(_ unionAll _)
  }
  // both case-insensitive (Neo4j function names are) — an (?i) on only
  // one spelling would make EXISTS raise while NOT EXISTS parses
  // leaf references are generic ([\w.]+): `v.prop` in MATCH scope, a bare
  // output column (or carried-variable field) after WITH — the scope's
  // resolver decides what a ref may be and raises on anything else
  private val whereExists = """^(?i)exists\(\s*([\w.]+)\s*\)$""".r
  private val whereNotExists = """^(?i)NOT\s+exists\(\s*([\w.]+)\s*\)$""".r
  private val whereEq = """^([\w.]+)\s*=\s*(.+)$""".r
  // Neo4j `<>`: missing props compare to NULL, so the row drops — the
  // Column `=!=` null semantics match exactly
  private val whereNeq = """^([\w.]+)\s*<>\s*(.+)$""".r
  private val whereRegex = """^([\w.]+)\s*=~\s*(.+)$""".r
  // `n:LABEL` / `NOT n:LABEL` — Neo4j's label predicate (r16); label =
  // kind or a task id, the nodePred vocabulary
  private val whereLabel = """^(\w+)\s*:\s*(`[^`]+`|\w+)$""".r
  private val whereNotLabel =
    """^(?i)NOT\s+(\w+)\s*:\s*(`[^`]+`|\w+)$""".r
  private val whereCmp = """^([\w.]+)\s*(<=|>=|<|>)\s*(.+)$""".r
  // r17: a FUNCTION-wrapped LHS (`WHERE toUpper(n.name) = 'B'`,
  // `WHERE size(n.name) > 3`, `toLower(x) CONTAINS 'y'`) — the common
  // Neo4j normalization idiom; one whitelisted scalar call over a ref,
  // compared like the bare-ref arms
  private val whereFnCmp =
    ("""^(?i)(toUpper|toLower|trim|toInteger|toFloat|abs|size|length)""" +
      """\s*\(\s*([\w.]+)\s*\)\s*""" +
      """(<=|>=|<>|=|<|>|STARTS\s+WITH|ENDS\s+WITH|CONTAINS)\s*(.+)$""").r
  private val whereStrPred =
    """^(?i)([\w.]+)\s+(STARTS\s+WITH|ENDS\s+WITH|CONTAINS)\s+(.+)$""".r
  private val whereIn = """^(?i)([\w.]+)\s+IN\s+\[(.*)\]$""".r
  private val whereIsNull = """^(?i)([\w.]+)\s+IS\s+NULL$""".r
  private val whereIsNotNull = """^(?i)([\w.]+)\s+IS\s+NOT\s+NULL$""".r
  private val notParen = """^(?i)NOT\s*\((.*)$""".r
  private val whereNotGeneral = """^(?i)NOT\s+(.+)$""".r
  private val numericLit = """^-?\d+(\.\d+)?$""".r

  /** Index of the first occurrence of `word` (whole-word, case-insensitive)
    * outside single/double quotes; -1 if none. The same quote/escape rules
    * as [[splitTop]] — prop literals holding text like "WHERE x" (code
    * snippets, signatures) must not be mistaken for clause keywords. */
  private def topLevelKeyword(s: String, word: String): Int = {
    var quote: Char = 0
    var brace = 0 // `{…}` bodies (prop literals, EXISTS{} subqueries)
                  // are opaque to the clause scanners
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1 // escaped char inside quotes
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == '{') brace += 1
      else if (c == '}') brace = math.max(0, brace - 1)
      else if (brace == 0 &&
          s.regionMatches(true, i, word, 0, word.length) &&
          (i == 0 || !isWordChar(s.charAt(i - 1))) &&
          (i + word.length >= s.length || !isWordChar(s.charAt(i + word.length))))
        return i
      i += 1
    }
    -1
  }

  /** \w boundary semantics: '_' is a word char, so `n.return_type` never
    * reads as the RETURN keyword. */
  private def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Split on `sep` at top level only — separators inside single/double
    * quotes don't count (prop values may contain commas/colons), and a
    * backslash inside quotes escapes the next char (so `'it\'s'` is one
    * literal). */
  private[api] def splitTop(s: String, sep: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var quote: Char = 0
    var depth = 0 // paren depth outside quotes: a separator inside a
                  // function call (`coalesce(x, 'd')`) never splits
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        sb.append(c)
        if (c == '\\' && i + 1 < s.length) { i += 1; sb.append(s.charAt(i)) }
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') { quote = c; sb.append(c) }
      else if (c == '(' || c == '[' || c == '{') { depth += 1; sb.append(c) }
      else if (c == ')' || c == ']' || c == '}') {
        depth = math.max(0, depth - 1); sb.append(c)
      }
      else if (depth == 0 &&
          s.regionMatches(true, i, sep, 0, sep.length) &&
          (sep.head.isLetter // word separators (AND) need \w boundaries
            && (i == 0 || !isWordChar(s.charAt(i - 1)))
            && (i + sep.length >= s.length || !isWordChar(s.charAt(i + sep.length)))
            || !sep.head.isLetter)) {
        out += sb.toString; sb.clear(); i += sep.length - 1
      } else sb.append(c)
      i += 1
    }
    out += sb.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Render one parameter value as an inline Cypher literal. The graph
    * model is string-typed (§1.2), so strings quote-and-escape (the
    * escapes [[splitTop]]/[[unquote]] honour), numbers and booleans
    * inline bare (numeric WHERE comparisons see them unquoted, exactly
    * like hand-written literals), and sequences render as `[…]` lists
    * (the `IN $list` shape). Anything else — including null, which in
    * Neo4j makes every comparison null-propagate and is far more likely
    * a caller bug here — raises. */
  private def renderParam(name: String, v: Any): String = v match {
    case s: String =>
      "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case _: Int | _: Long | _: Short | _: Byte | _: Boolean => v.toString
    case d: Double => require(!d.isNaN && !d.isInfinite,
        s"parameter $$$name: non-finite double has no Cypher literal"); d.toString
    case f: Float => renderParam(name, f.toDouble)
    case b: BigDecimal => b.toString
    case xs: Seq[_] =>
      xs.map(renderParam(name, _)).mkString("[", ", ", "]")
    case xs: Array[_] => renderParam(name, xs.toSeq)
    case null => throw new IllegalArgumentException(
      s"parameter $$$name is null (inline IS NULL predicates instead)")
    case other => throw new IllegalArgumentException(
      s"parameter $$$name: unsupported type ${other.getClass.getName}")
  }

  /** Neo4j-style query parameters (`$full_name`), the reference's own
    * spelling (`graph.run(query, full_name=…)`, graphDB.py:86-91):
    * every `$name` token OUTSIDE quoted text is replaced by the rendered
    * literal of `params(name)` before parsing — so parameters work
    * uniformly in prop literals, WHERE comparisons, IN lists, SKIP/LIMIT
    * and the WRITE statements [[CypherWrite]] routes. A `$name` with no
    * binding raises (Neo4j's ParameterMissing); unused bindings are
    * fine (Neo4j ignores them too). `$` inside quotes is literal text. */
  private[api] def substituteParams(q: String, params: Map[String, Any]): String = {
    if (params.isEmpty && !q.contains("$")) return q
    val sb = new StringBuilder
    var quote: Char = 0
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (quote != 0) {
        sb.append(c)
        if (c == '\\' && i + 1 < q.length) { i += 1; sb.append(q.charAt(i)) }
        else if (c == quote) quote = 0
        i += 1
      } else if (c == '\'' || c == '"') { quote = c; sb.append(c); i += 1 }
      else if (c == '$' && i + 1 < q.length && isWordChar(q.charAt(i + 1))) {
        var j = i + 1
        while (j < q.length && isWordChar(q.charAt(j))) j += 1
        val name = q.substring(i + 1, j)
        val v = params.getOrElse(name, throw new IllegalArgumentException(
          s"missing query parameter $$$name (expected a binding)"))
        sb.append(renderParam(name, v))
        i = j
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private[api] def unquote(v: String): String = {
    val t = v.trim
    if ((t.startsWith("'") && t.endsWith("'") && t.length >= 2) ||
        (t.startsWith("\"") && t.endsWith("\"") && t.length >= 2))
      // unescape the backslash escapes splitTop honoured
      t.substring(1, t.length - 1).replaceAll("""\\(['"\\])""", "$1")
    else t
  }

  private[api] def parseProps(s: String): Map[String, String] =
    if (s == null || s.trim.isEmpty) Map.empty
    else splitTop(s.trim.stripPrefix("{").stripSuffix("}"), ",").iterator
      .map { kv =>
        splitTop(kv, ":") match {
          case Seq(k1, rest @ _*) if rest.nonEmpty =>
            k1.trim -> unquote(rest.mkString(":"))
          case _ => throw new IllegalArgumentException(
            s"malformed property literal '$kv' (expected key: value)")
        }
      }.toMap

  /** Label spec `:A:B:`c/d`` → label names. Backtick-quoted labels (the
    * reference backticks task ids — graphDB.py:98 `(n:`task`)`, and its
    * demo query `(c:`sklearn`:CLASS)`, graphDB.py:271-274) may hold any
    * text but a backtick, including `/` and `:`. */
  private def parseLabels(s: String): Seq[String] = {
    if (s == null) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var tick = false
    s.foreach { c =>
      if (tick) { if (c == '`') tick = false else sb.append(c) }
      else if (c == '`') tick = true
      else if (c == ':') { out += sb.toString; sb.clear() }
      else sb.append(c)
    }
    out += sb.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  // task_ids is fixed (r16) so the label predicate's membership test
  // reaches the real ARRAY column on scans and carried structs alike
  private val fixed = Set("full_name", "kind", "name", "file_path",
    "signature", "clazz", "code", "task_ids")

  /** Node-pattern predicate over the engine's nodes schema: each label
    * must equal `kind` or be a member of `task_ids`; each prop literal is
    * an equality on the column (full_name/name/…) or the props map. */
  private def nodePred(labels: Seq[String], props: Map[String, String]): Column = {
    val labelConds = labels.map(l =>
      col("kind") === l || array_contains(col("task_ids"), l))
    val propConds = props.map { case (k0, v) =>
      // `{class: 'X'}` matches the clazz column (write-side vocabulary)
      val k = if (k0 == "class") "clazz" else k0
      if (fixed(k)) col(k) === v else element_at(col("props"), k) === v
    }
    (labelConds ++ propConds).reduceOption(_ && _).getOrElse(lit(true))
  }

  private val fixedRel = Set("src", "rel_type", "dst", "hops")

  /** The uniform column set a NAMED relationship variable carries
    * through a WITH pipe (single-hop scans add `hops = 1`; var-length
    * frames carry the real hop count with null rel_type/props). A
    * var-length `r` additionally exposes its traversed-edge list
    * (`prels`) for whole-variable projection (r13) — the list does not
    * carry through WITH, the documented posture. */
  private val relCarriedFields = Seq("src", "rel_type", "dst", "props", "hops")

  /** Internal edge-scan alias, a RESERVED namespace (`__rel<N>`) no user
    * variable can ever occupy: user-written variables bind through the
    * vars map to planner-generated aliases only (`n<N>` node scans,
    * `__rel<N>` edge scans, `__w_<v>` WITH-carried structs), so
    * relationship-ness is decided by the planner's own binding — never
    * inferred from a user-controllable spelling. A node variable
    * literally named `e1` (or `__rel7`) stays a node everywhere. */
  private def relAlias(i: Int): String = s"__rel$i"

  /** Alias for a NAMED var-length hop's path-frame scan — a distinct
    * reserved namespace so projection code can tell "relationship
    * ENTITY" (single hop: src/rel_type/dst columns) from "relationship
    * LIST" (var-length: the `prels` struct array Neo4j returns for
    * `RETURN r` on `-[r:REL*1..3]->`). Still `__rel`-prefixed, so every
    * existing isRelAlias site keeps treating it as an edge binding. */
  private def varRelAlias(i: Int): String = s"__relv$i"

  private def isVarLenRelAlias(a: String): Boolean = a.startsWith("__relv")

  /** True when the alias names an edge scan (`__rel<N>`, bound via
    * [[relAlias]]) or a WITH-carried relationship struct (`__wr_<v>`);
    * relationship variables resolve against the edge schema. */
  private def isRelAlias(a: String): Boolean =
    a.startsWith("__rel") || a.startsWith("__wr_")

  /** Prop reference `v.prop` → Column (fixed column or props-map entry;
    * relationship variables use the edge schema's fixed columns). */
  private def propColOf(v: String, prop: String,
      vars: Map[String, String]): Column = {
    val a = vars.getOrElse(v,
      throw new IllegalArgumentException(s"unknown variable $v"))
    if (isRelAlias(a))
      if (fixedRel(prop)) col(s"$a.$prop")
      else element_at(col(s"$a.props"), prop)
    else {
      // `v.class` reads the clazz column — the write-side key vocabulary
      val p = if (prop == "class") "clazz" else prop
      if (fixed(p)) col(s"$a.$p")
      else element_at(col(s"$a.props"), p)
    }
  }

  private val countRe =
    """^(?i)count\(\s*(DISTINCT\s+)?(\*|\w+(?:\.\w+)?)\s*\)$""".r
  private val collectRe =
    """^(?i)collect\(\s*(DISTINCT\s+)?(\w+(?:\.\w+)?)\s*\)$""".r
  private val numAggRe = """^(?i)(sum|avg|min|max)\(\s*(\w+(?:\.\w+)?)\s*\)$""".r
  private val stdevRe =
    """^(?i)(stDev|stDevP)\(\s*(\w+(?:\.\w+)?)\s*\)$""".r
  private val percentileRe =
    """^(?i)(percentileDisc|percentileCont)\(\s*(\w+(?:\.\w+)?)\s*,\s*(0?\.\d+|0|1|1\.0)\s*\)$""".r
  // expression-argument aggregates (r16) — tried AFTER the strict
  // simple-arg regexes above
  private val aggExprRe =
    """^(?i)(sum|avg|min|max|count|collect)\(\s*(.+)\)$""".r
  // map projection `v { items }` (r16)
  private val mapProjRe = """(?s)^(\w+)\s*\{(.*)\}$""".r

  /** `count([DISTINCT] …)` column, shared by RETURN and WITH items.
    * `count(v)` on a node variable counts bound rows via the key column
    * (src for a relationship variable — non-null exactly when an
    * optional hop matched); `count(DISTINCT v)` deduplicates on the
    * ENTITY identity — full_name for a node, the whole
    * (src, rel_type, dst) triple for a relationship (src alone is a
    * valid non-null marker for plain count(r), but distinct
    * relationships are not distinct sources: a grouped
    * `count(DISTINCT r)` would otherwise always read 1). Neo4j's
    * distinct-entities reading. `count(DISTINCT *)` is not Cypher —
    * raise. */
  private def countCol(distinct: Boolean, arg: String,
      vars: Map[String, String], plain: String => Boolean): Column = {
    val base: Option[Column] =
      if (arg == "*") None
      else if (arg.contains(".")) {
        val Array(v, prop) = arg.split("\\.", 2)
        Some(propColOf(v, prop, vars))
      } else if (plain(arg)) Some(col(arg))
      else {
        val a = vars(arg)
        Some(
          if (isRelAlias(a) && distinct)
            // null when the (optional) hop didn't bind, so the
            // null-skipping count can't tally a phantom relationship;
            // hops joins the identity so a var-length r counts distinct
            // path summaries, not just endpoint pairs
            when(col(s"$a.src").isNotNull,
              struct(col(s"$a.src"), col(s"$a.rel_type"), col(s"$a.dst"),
                col(s"$a.hops")))
          else if (isRelAlias(a)) col(s"$a.src")
          else col(s"$a.full_name"))
      }
    (distinct, base) match {
      case (true, None) =>
        throw new IllegalArgumentException("count(DISTINCT *) is not Cypher")
      case (true, Some(c)) => count_distinct(c)
      case (false, None) => count(lit(1))
      case (false, Some(c)) => count(c)
    }
  }

  /** `collect([DISTINCT] …)` column, shared by RETURN and WITH items —
    * Neo4j's list aggregate (set variant under DISTINCT), SORTED because
    * encounter order is not deterministic on a distributed engine. */
  private def collectCol(distinct: Boolean, arg: String,
      vars: Map[String, String], plain: String => Boolean): Column = {
    val base =
      if (arg.contains(".")) {
        val Array(v, prop) = arg.split("\\.", 2)
        propColOf(v, prop, vars)
      } else if (plain(arg)) col(arg)
      else col(s"${vars(arg)}.full_name")
    sort_array(if (distinct) collect_set(base) else collect_list(base))
  }

  /** sum/avg/min/max over a property or pipe column. The graph model is
    * string-typed (fixed columns and the props map are all strings), so
    * sum/avg coerce numerically (non-numeric → null, Neo4j's skip-nulls
    * aggregate semantics via Spark's null-ignoring aggs) while min/max
    * stay on the raw string — lexicographic, exactly what the DuckDB
    * oracle's min/max over VARCHAR computes. Numeric min/max is one
    * `toFloat()` WITH-pipe away. */
  private def numAggCol(fn: String, arg: String, vars: Map[String, String],
      plain: String => Boolean): Column = {
    val base =
      if (arg.contains(".")) {
        val Array(v, prop) = arg.split("\\.", 2)
        propColOf(v, prop, vars)
      } else if (plain(arg)) col(arg)
      else throw new IllegalArgumentException(
        s"$fn() needs a property or pipe column, got variable '$arg'")
    fn.toLowerCase match {
      // try_cast (r18): the documented non-numeric → null coercion —
      // a plain cast under ANSI mode would raise mid-job instead
      case "sum" => sum(base.try_cast("double"))
      case "avg" => avg(base.try_cast("double"))
      case "min" => min(base)
      case "max" => max(base)
    }
  }

  /** Neo4j's statistical aggregates (r15): percentiles and standard
    * deviations share the numeric-base resolution and the round-to-6
    * determinism discipline. percentileDisc(x, p) is the
    * SMALLEST collected value whose cumulative position reaches p —
    * index ceil(p·n) of the sorted list (1 at p=0), Neo4j's rule and
    * SQL's PERCENTILE_DISC alike; exact and deterministic (a sort, no
    * interpolation). percentileCont interpolates linearly — Spark's
    * exact `percentile`, rounded to 6 so the last ulp of the
    * interpolation can never flip a cross-engine compare. */
  private def statAggCol(fn: String, arg: String, p: Double,
      vars: Map[String, String], plain: String => Boolean): Column = {
    require(p >= 0.0 && p <= 1.0, s"$fn: percentile $p out of [0, 1]")
    val base =
      if (arg.contains(".")) {
        val Array(v, prop) = arg.split("\\.", 2)
        propColOf(v, prop, vars)
      } else if (plain(arg)) col(arg)
      else throw new IllegalArgumentException(
        s"$fn() needs a property or pipe column, got variable '$arg'")
    if (fn.equalsIgnoreCase("stDev") || fn.equalsIgnoreCase("stDevP")) {
      // Neo4j's standard deviations: stDev = sample (n−1 divisor),
      // stDevP = population; rounded to 6 (the percentileCont
      // discipline) so accumulation-order float drift can never flip a
      // cross-engine compare. A single value: stDev reads 0 in Neo4j
      // (not NULL) — coalesce matches it.
      val sd =
        if (fn.equalsIgnoreCase("stDev")) stddev_samp(base.cast("double"))
        else stddev_pop(base.cast("double"))
      coalesce(round(sd, 6), lit(0.0))
    } else if (fn.equalsIgnoreCase("percentileDisc")) {
      // all-NULL group → empty collected array; ANSI element_at would
      // raise INVALID_ARRAY_INDEX where Neo4j returns null (r16, advisor)
      val arr = sort_array(collect_list(base.cast("double")))
      when(size(arr) > lit(0), element_at(arr,
        greatest(ceil(size(arr) * lit(p)), lit(1)).cast("int")))
    } else
      round(call_function("percentile", base.cast("double"), lit(p)), 6)
  }

  /** A leading `DISTINCT ` qualifier on an aggregate's expression arg
    * (r18, verdict task #1): stripped and flagged. */
  private def stripDistinct(arg0: String): (Boolean, String) = {
    val d = arg0.regionMatches(true, 0, "DISTINCT", 0, 8) &&
      arg0.length > 8 && !isWordChar(arg0.charAt(8))
    (d, if (d) arg0.substring(8).trim else arg0)
  }

  /** Expression-argument aggregate Column, DISTINCT-aware (r18): the
    * shared body of retItem's and applyWith's aggExprRe arms.
    * min/max(DISTINCT) ≡ min/max; avg(DISTINCT) is sum_distinct /
    * count_distinct guarded against the empty group (SQL's NULL, not a
    * divide-by-zero under ANSI mode); collect(DISTINCT expr) is the
    * sorted set like the simple-arg path. */
  private def distinctAggCol(fn: String, distinct: Boolean,
      base: Column): Column = fn.toLowerCase match {
    // try_cast, not cast: the string-typed model's documented
    // skip-non-numeric coercion must hold under ANSI mode too
    case "sum" =>
      if (distinct) sum_distinct(base.try_cast("double"))
      else sum(base.try_cast("double"))
    case "avg" =>
      val b = base.try_cast("double")
      if (distinct)
        when(count_distinct(b) > 0, sum_distinct(b) / count_distinct(b))
      else avg(b)
    case "min" => min(base)
    case "max" => max(base)
    case "count" => if (distinct) count_distinct(base) else count(base)
    case _ =>
      sort_array(if (distinct) collect_set(base) else collect_list(base))
  }

  private val scalarFns = Set("coalesce", "tointeger", "tofloat", "abs", "size",
    "length", "toupper", "tolower", "trim", "ltrim", "rtrim", "replace",
    "substring", "left", "right", "tostring", "round", "split", "reverse",
    "head", "last", "range", "reduce", "toboolean", "tail")

  /** True when a RETURN/WITH item core is a scalar EXPRESSION rather than
    * a plain reference: a top-level arithmetic operator outside quotes and
    * parens, a leading scalar-function call, or (r16) a postfix list
    * index/slice `xs[…]` after a leading operand. `count(*)`/`collect(x)`
    * never match (their operators/args sit inside parens and their heads
    * are not scalar functions). */
  private def isValueExpr(c: String): Boolean = {
    val head = c.takeWhile(isWordChar).toLowerCase
    if (scalarFns.contains(head) && c.drop(head.length).trim.startsWith("("))
      return true
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < c.length) {
      val ch = c.charAt(i)
      if (quote != 0) { if (ch == quote) quote = 0 }
      else if (ch == '\'' || ch == '"') quote = ch
      else if (ch == '(' || ch == '{') depth += 1
      else if (ch == ')' || ch == '}') depth -= 1
      else if (depth == 0 && ch == '[') return true
      else if (depth == 0 && "+-*/%".indexOf(ch.toInt) >= 0) return true
      i += 1
    }
    false
  }

  /** Matching `]` for the `[` at `open`, honoring quotes and nesting;
    * -1 when unterminated. */
  private def matchingBracket(s: String, open: Int): Int = {
    var depth = 0
    var quote: Char = 0
    var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == '[') depth += 1
      else if (c == ']') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    -1
  }

  private def skipWs(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    i
  }

  /** Matching closer for the opener at `open`, honoring quotes and
    * nesting of the same delimiter pair; -1 when unterminated. */
  private def matchingDelim(s: String, open: Int, oc: Char,
      cc: Char): Int = {
    var depth = 0
    var quote: Char = 0
    var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == oc) depth += 1
      else if (c == cc) { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    -1
  }

  /** PATTERN COUNTS (r16): `size((a)-[:R]->(b))` (the classic spelling
    * — only when the parenthesized text carries a relationship pattern,
    * so scalar `size()` is untouched) and the modern
    * `COUNT { [MATCH] pattern [WHERE …] }` subquery. Each occurrence is
    * rewritten to a generated plain column `__pcnt_i`; the clause
    * builder attaches the column after the MATCH clauses as ONE
    * groupBy-count of the mini-chain on its bound variables + a left
    * join (anchors matching nothing read 0 — Neo4j's count of an empty
    * pattern). Returns (rewritten query, (column, pattern text) pairs). */
  private def extractPatternCounts(q0: String)
      : (String, Seq[(String, String)]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var q = q0
    var again = true
    while (again) {
      again = false
      val cPos = allTopLevelKeywords(q, "COUNT").find { p =>
        val j = skipWs(q, p + 5)
        j < q.length && q.charAt(j) == '{'
      }
      cPos match {
        case Some(p) =>
          val open = skipWs(q, p + 5)
          val close = matchingDelim(q, open, '{', '}')
          require(close > 0, s"unterminated COUNT subquery: $q0")
          var body = q.substring(open + 1, close).trim
          if (body.regionMatches(true, 0, "MATCH", 0, 5) &&
              body.length > 5 && !isWordChar(body.charAt(5)))
            body = body.substring(5).trim
          val name = s"__pcnt_${out.size}"
          out += name -> body
          q = q.substring(0, p) + name + q.substring(close + 1)
          again = true
        case None =>
          val sPos = allTopLevelKeywords(q, "size").find { p =>
            val j = skipWs(q, p + 4)
            if (j >= q.length || q.charAt(j) != '(') false
            else {
              val close = matchingDelim(q, j, '(', ')')
              close > 0 && hasRelPatternText(q.substring(j + 1, close))
            }
          }
          sPos.foreach { p =>
            val open = skipWs(q, p + 4)
            val close = matchingDelim(q, open, '(', ')')
            val name = s"__pcnt_${out.size}"
            out += name -> q.substring(open + 1, close).trim
            q = q.substring(0, p) + name + q.substring(close + 1)
            again = true
          }
      }
    }
    (q, out.toSeq)
  }

  /** A `CALL { … }` subquery (r17, verdict task #6): `imports` are the
    * variables of the leading importing `WITH` (empty = uncorrelated);
    * `innerQ` is the sub-pipeline to plan through [[execute]] — for a
    * correlated CALL the inner RETURN is rewritten to carry each
    * import's key as `__call_key_<v>`, so the sub-pipeline's implicit
    * grouping aggregates PER anchor and the driver joins on the keys;
    * `outCols` are the sub's aliased output columns (entering the outer
    * scope as plain columns); `aggAliases` maps the aggregate-valued
    * ones to their aggregate head (count/sum/collect backfill their
    * empty-group value after the left join); `pipeIdx` (r18, verdict
    * task #2) is the number of WITH/UNWIND pipe boundaries textually
    * BEFORE the CALL — 0 attaches in the pattern region (pre-pipe, the
    * r17 shape), k > 0 attaches to the piped frame after folding the
    * k-th boundary, importing the pipe's carried variables. */
  private final case class CallSub(imports: Seq[String], innerQ: String,
      outCols: Seq[String], aggAliases: Map[String, String],
      pipeIdx: Int)

  private val callAggHeads =
    Set("count", "sum", "collect", "min", "max", "avg",
      "percentiledisc", "percentilecont", "stdev", "stdevp")

  /** Extract every top-level `CALL { … }` block (r17; r18 extends past
    * the pattern region): a CALL may sit before any pipe (attaching to
    * the pattern frame) or after WITH/UNWIND boundaries (attaching to
    * the piped frame at that stage — Neo4j's primary composition idiom
    * `MATCH … WITH … CALL { … } RETURN`); the boundary count rides each
    * parsed sub as `pipeIdx`. Returns the query with the blocks removed
    * plus the parsed subqueries. */
  private def extractCallSubqueries(q0: String)
      : (String, Seq[CallSub]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[CallSub]
    var q = q0
    // a CALL subquery is `CALL {` NOT preceded by ':' or '|' — `CALL`
    // is also a relationship TYPE in this model (`-[:CALL]->`, and
    // `-[:CALL {k: 'v'}]->` even pairs it with a brace), so rel-type
    // positions must not parse as subqueries
    def nextCall(): Int = allTopLevelKeywords(q, "CALL").find { p =>
      var k = p - 1
      while (k >= 0 && q.charAt(k).isWhitespace) k -= 1
      val before = if (k >= 0) q.charAt(k) else ' '
      val j = skipWs(q, p + 4)
      before != ':' && before != '|' &&
        j < q.length && q.charAt(j) == '{'
    }.getOrElse(-1)
    var idx = nextCall()
    while (idx >= 0) {
      // r18: the pipe-boundary count before this CALL — earlier CALL
      // bodies are already excised, so the prefix's WITH/UNWIND
      // keywords are exactly the outer query's boundaries (the same
      // clauseWithPositions spelling the execute loop uses, so STARTS
      // WITH / ENDS WITH never count)
      val pre = q.substring(0, idx)
      val pipeIdx = clauseWithPositions(pre).size +
        allTopLevelKeywords(pre, "UNWIND").size
      val open = skipWs(q, idx + 4)
      val close = matchingDelim(q, open, '{', '}')
      require(close > 0, s"unterminated CALL subquery: $q0")
      var body = q.substring(open + 1, close).trim
      // leading importing WITH: bare variable names only (Neo4j's rule)
      val imports: Seq[String] =
        if (body.regionMatches(true, 0, "WITH", 0, 4) &&
            body.length > 4 && !isWordChar(body.charAt(4))) {
          val mIdx = topLevelKeyword(body, "MATCH")
          require(mIdx > 4, s"CALL importing WITH needs a MATCH: $q0")
          val vs = splitTop(body.substring(4, mIdx), ",").map(_.trim)
          vs.foreach(v => require(v.matches("""\w+"""),
            s"CALL importing WITH takes bare variables, got '$v': $q0"))
          body = body.substring(mIdx)
          vs
        } else Seq.empty
      val retI = topLevelKeyword(body, "RETURN")
      require(retI >= 0, s"CALL subquery needs a RETURN: $q0")
      val items = splitTop(body.substring(retI + 6), ",").map(_.trim)
      val aliased = items.map { it =>
        val parts = splitTop(it, "AS")
        require(parts.length == 2 &&
            parts(1).trim.matches("""\w+"""),
          s"CALL subquery RETURN items must be aliased (`expr AS x`): $q0")
        val alias = parts(1).trim
        val head = parts(0).trim.takeWhile(c => c.isLetter).toLowerCase
        val isAgg = callAggHeads.contains(head) &&
          parts(0).trim.drop(head.length).trim.startsWith("(")
        (alias, if (isAgg) Some(head) else None)
      }
      val keyItems = imports.map(v => s"$v.full_name AS __call_key_$v")
      val innerQ =
        if (imports.isEmpty) body
        else body.substring(0, retI + 6) + " " +
          (keyItems :+ body.substring(retI + 6).trim).mkString(", ")
      out += CallSub(imports, innerQ, aliased.map(_._1),
        aliased.collect { case (a, Some(h)) => a -> h }.toMap, pipeIdx)
      q = (q.substring(0, idx) + " " + q.substring(close + 1)).trim
      idx = nextCall()
    }
    require(out.flatMap(_.outCols).distinct.size ==
        out.flatMap(_.outCols).size,
      s"CALL subqueries redeclare an output column: $q0")
    (q, out.toSeq)
  }

  /** First top-level `|` outside quotes/brackets/parens/braces — the
    * comprehension/reduce projection separator (a rel-type alternation
    * `:A|B` always sits inside a bracket, never at this level). */
  private def topLevelPipe(s: String): Int = {
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == '[' || c == '(' || c == '{') depth += 1
      else if (c == ']' || c == ')' || c == '}') depth -= 1
      else if (depth == 0 && c == '|') return i
      i += 1
    }
    -1
  }

  /** First top-level `,` outside quotes/brackets/parens/braces. */
  private def topLevelCommaIdx(s: String): Int = {
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == '[' || c == '(' || c == '{') depth += 1
      else if (c == ']' || c == ')' || c == '}') depth -= 1
      else if (depth == 0 && c == ',') return i
      i += 1
    }
    -1
  }

  /** Boolean predicate INSIDE a list comprehension (r16): AND/OR/NOT
    * with Cypher precedence over comparison leaves whose sides are
    * scalar value expressions resolved with the lambda variable in
    * scope — `x > 2`, `size(x) <= n.k`, `x IS NOT NULL`, `NOT (…)`. */
  private def parseCompPred(t0: String, vars: Map[String, String],
      plain: Set[String], schema: org.apache.spark.sql.types.StructType,
      locals: Map[String, Column]): Column = {
    val t = t0.trim
    def fail(): Nothing = throw new IllegalArgumentException(
      s"unsupported comprehension predicate '$t0'")
    val orParts = splitBool(t, "OR")
    if (orParts.lengthCompare(1) > 0)
      return orParts.map(parseCompPred(_, vars, plain, schema, locals))
        .reduce(_ || _)
    val andParts = splitBool(t, "AND")
    if (andParts.lengthCompare(1) > 0)
      return andParts.map(parseCompPred(_, vars, plain, schema, locals))
        .reduce(_ && _)
    if (t.regionMatches(true, 0, "NOT", 0, 3) && t.length > 3 &&
        !isWordChar(t.charAt(3)))
      return !parseCompPred(t.substring(3), vars, plain, schema, locals)
    if (isWholeParen(t))
      return parseCompPred(t.substring(1, t.length - 1), vars, plain,
        schema, locals)
    def side(x: String): Column =
      parseValueExpr(x.trim, vars, plain, schema, locals)
    val isNull = """(?is)^(.*?)\s+IS\s+NULL$""".r
    val isNotNull = """(?is)^(.*?)\s+IS\s+NOT\s+NULL$""".r
    isNotNull.findFirstMatchIn(t).foreach(m => return side(m.group(1)).isNotNull)
    isNull.findFirstMatchIn(t).foreach(m => return side(m.group(1)).isNull)
    // first top-level comparison operator (two-char ops before one-char)
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == '[' || c == '(') depth += 1
      else if (c == ']' || c == ')') depth -= 1
      else if (depth == 0) {
        val two = if (i + 1 < t.length) t.substring(i, i + 2) else ""
        if (two == "<=" ) return side(t.substring(0, i)) <= side(t.substring(i + 2))
        if (two == ">=") return side(t.substring(0, i)) >= side(t.substring(i + 2))
        if (two == "<>") return side(t.substring(0, i)) =!= side(t.substring(i + 2))
        if (c == '=') return side(t.substring(0, i)) === side(t.substring(i + 1))
        if (c == '<') return side(t.substring(0, i)) < side(t.substring(i + 1))
        if (c == '>') return side(t.substring(0, i)) > side(t.substring(i + 1))
      }
      i += 1
    }
    fail()
  }

  /** Index of the slice separator `..` outside quotes/brackets/parens;
    * -1 when absent (then the bracket body is a plain index). A number
    * literal never swallows it — this scan runs BEFORE parsing. */
  private def topLevelDotDot(s: String): Int = {
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == '[' || c == '(') depth += 1
      else if (c == ']' || c == ')') depth -= 1
      else if (depth == 0 && c == '.' && i + 1 < s.length &&
          s.charAt(i + 1) == '.') return i
      i += 1
    }
    -1
  }

  /** Scalar RETURN/WITH expressions — the most common real-world shapes
    * `execute_query` passes through (reference graphDB.py:106-112 accepts
    * arbitrary Cypher; this closes the property-arithmetic slice):
    * `+ - * / %` with Cypher precedence, parentheses, unary minus,
    * numeric/string literals, `v.prop` / carried-column operands, and the
    * scalar functions `coalesce`, `toInteger`, `toFloat`, `abs`, `size`,
    * the string family (`toUpper`…`right`), and (r11e) `toString`,
    * `round`, literal-delimiter `split`, `reverse`, `head`, `last`.
    * Props are string-typed in the map model, so arithmetic follows
    * Spark's implicit numeric coercion — `toInteger()`/`toFloat()` are
    * the explicit Cypher-style casts. `size()` sizes an ArrayType operand
    * (a `collect()` pipe output, checked against the input schema) and
    * string-lengths anything else. Recursive descent; unsupported syntax
    * raises, the module's posture. */
  private def parseValueExpr(s: String, vars: Map[String, String],
      plain: Set[String],
      schema: org.apache.spark.sql.types.StructType,
      locals: Map[String, Column] = Map.empty): Column = {
    var i = 0
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$msg in expression '$s' (pos $i)")
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def peek: Char = if (i < s.length) s.charAt(i) else '\u0000'
    // Cypher `+` is ADDITION on numbers but CONCATENATION on strings
    // and lists (r16) — Spark's Column `+` nulls on strings, so the
    // parser dispatches on the operand's SYNTACTIC kind: an operand
    // spelled as a string literal concats (both sides cast to string),
    // one spelled as a list literal/comprehension concats arrays;
    // everything else keeps the numeric coercion the string-typed model
    // documents. `'n = ' + n.name` and `xs + [4]` both work.
    def operandKind(): Char = {
      val j = skipWs(s, i)
      if (j < s.length && (s.charAt(j) == '\'' || s.charAt(j) == '"')) 's'
      else if (j < s.length && s.charAt(j) == '[') 'l'
      else {
        // advisor r17: a var.prop operand is STRING-typed in this model,
        // so `n.name + n.kind` must CONCATENATE (Neo4j's string + x) —
        // the numeric Column `+` would silently null. Only a bound
        // pattern variable's property ref dispatches to 's'; bare
        // locals (WITH aliases, UNWIND vars) keep the numeric path
        // (`ln + 1`, `acc + x * x`).
        var k = j
        while (k < s.length && isWordChar(s.charAt(k))) k += 1
        if (k > j && k < s.length && s.charAt(k) == '.' &&
            vars.contains(s.substring(j, k))) 's'
        else ' '
      }
    }
    def expr(): Column = {
      ws()
      var kind = operandKind()
      var l = term()
      ws()
      while (peek == '+' || peek == '-') {
        val op = peek; i += 1
        ws()
        val rKind = operandKind()
        val r = term()
        if (op == '+' && (kind == 's' || rKind == 's')) {
          l = concat(l.cast("string"), r.cast("string")); kind = 's'
        } else if (op == '+' && (kind == 'l' || rKind == 'l')) {
          l = concat(l, r); kind = 'l'
        } else { l = if (op == '+') l + r else l - r; kind = ' ' }
        ws()
      }
      l
    }
    def term(): Column = {
      var l = factor()
      ws()
      while (peek == '*' || peek == '/' || peek == '%') {
        val op = peek; i += 1
        val r = factor()
        l = op match { case '*' => l * r; case '/' => l / r; case _ => l % r }
        ws()
      }
      l
    }
    def factor(): Column = {
      ws()
      var base =
        if (peek == '(') {
          i += 1; val e = expr(); ws()
          if (peek != ')') fail("missing ')'")
          i += 1; e
        }
        else if (peek == '[') listOrComprehension()
        else if (peek == '-') { i += 1; negate(factor()) }
        else if (peek == '\'' || peek == '"') lit(stringLit())
        else if (peek.isDigit) numberLit()
        else ident()
      // postfix LIST INDEX / SLICE (r16, verdict task #6): Cypher's
      // 0-based `xs[i]` (negative = from the end, out-of-range = null —
      // try_element_at, the ANSI-safe read) and half-open `xs[a..b]`
      // with either bound optional and negatives normalized against
      // size, clamped like Cypher (never raising)
      ws()
      while (peek == '[') {
        val close = matchingBracket(s, i)
        if (close < 0) fail("unterminated '['")
        val body = s.substring(i + 1, close)
        val dd = topLevelDotDot(body)
        def sub(t: String): Column =
          parseValueExpr(t, vars, plain, schema, locals)
        base =
          if (dd < 0) {
            val idx = sub(body).cast("long")
            when(idx >= 0, try_element_at(base, (idx + 1).cast("int")))
              .otherwise(try_element_at(base, idx.cast("int")))
          } else {
            val aT = body.substring(0, dd).trim
            val bT = body.substring(dd + 2).trim
            val sz = size(base).cast("long")
            val aC = if (aT.isEmpty) lit(0L) else sub(aT).cast("long")
            val bC = if (bT.isEmpty) sz else sub(bT).cast("long")
            val aN = greatest(least(when(aC < 0, sz + aC).otherwise(aC),
              sz), lit(0L))
            val bN = greatest(least(when(bC < 0, sz + bC).otherwise(bC),
              sz), lit(0L))
            slice(base, (aN + 1).cast("int"),
              greatest(bN - aN, lit(0L)).cast("int"))
          }
        i = close + 1
        ws()
      }
      base
    }
    def stringLit(): String = {
      val q = peek; i += 1
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != q) { sb.append(s.charAt(i)); i += 1 }
      if (i >= s.length) fail("unterminated string")
      i += 1; sb.toString()
    }
    def numberLit(): Column = {
      val st = i
      while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
      val t = s.substring(st, i)
      if (t.contains(".")) lit(t.toDouble) else lit(t.toLong)
    }
    def subExpr(t: String, loc: Map[String, Column] = locals): Column =
      parseValueExpr(t.trim, vars, plain, schema, loc)
    // LIST LITERAL `[e1, e2, …]` or COMPREHENSION
    // `[x IN list [WHERE pred] [| out]]` (r16) — filter/transform stay
    // in-plan; the lambda variable enters `locals` for the sub-parses
    def listOrComprehension(): Column = {
      val close = matchingBracket(s, i)
      if (close < 0) fail("unterminated '['")
      val body = s.substring(i + 1, close)
      i = close + 1
      val compRe = """(?is)^\s*(\w+)\s+IN\s+""".r
      compRe.findPrefixMatchOf(body) match {
        case Some(m) =>
          val v = m.group(1)
          val rest = body.substring(m.matched.length)
          val wIdx = topLevelKeyword(rest, "WHERE")
          val pIdx = topLevelPipe(rest)
          require(pIdx < 0 || wIdx < pIdx,
            s"malformed comprehension '[${body.trim}]'")
          val listEnd =
            if (wIdx >= 0) wIdx else if (pIdx >= 0) pIdx else rest.length
          val listCol = subExpr(rest.substring(0, listEnd))
          var cur = listCol
          if (wIdx >= 0) {
            val predTxt = rest.substring(wIdx + 5,
              if (pIdx >= 0) pIdx else rest.length).trim
            cur = filter(cur,
              x => parseCompPred(predTxt, vars, plain, schema,
                locals + (v -> x)))
          }
          if (pIdx >= 0)
            cur = transform(cur,
              x => subExpr(rest.substring(pIdx + 1), locals + (v -> x)))
          cur
        case None =>
          val parts = splitTop(body, ",").map(_.trim).filter(_.nonEmpty)
          if (parts.isEmpty)
            fail("empty list literal needs a type — not supported")
          array(parts.map(t => subExpr(t)): _*)
      }
    }
    def ident(): Column = {
      val st = i
      while (i < s.length && isWordChar(s.charAt(i))) i += 1
      if (i == st) fail("expected an operand")
      val w = s.substring(st, i)
      ws()
      if (peek == '(') {
        i += 1; ws()
        // size(r)/length(r) on a RELATIONSHIP variable reads the hop
        // count (a var-length r is its path summary; a single hop is 1)
        // — intercepted before generic arg parsing, which refuses
        // whole-variable operands
        // reduce(acc = init, x IN list | expr) — Cypher's fold, Spark's
        // aggregate(); intercepted raw (its body is not a plain arg list)
        if (w.equalsIgnoreCase("reduce")) {
          val close = matchingDelim(s, i - 1, '(', ')')
          if (close < 0) fail("unterminated reduce(")
          val body = s.substring(i, close)
          i = close + 1
          val accRe = """(?s)^\s*(\w+)\s*=""".r
          val mAcc = accRe.findPrefixMatchOf(body).getOrElse(
            fail("reduce(acc = init, x IN list | expr)"))
          val accV = mAcc.group(1)
          val afterEq = body.substring(mAcc.matched.length)
          val cIdx = topLevelCommaIdx(afterEq)
          if (cIdx < 0) fail("reduce needs `, x IN list | expr`")
          val initCol = subExpr(afterEq.substring(0, cIdx))
          val rest = afterEq.substring(cIdx + 1)
          val inRe = """(?is)^\s*(\w+)\s+IN\s+""".r
          val mIn = inRe.findPrefixMatchOf(rest).getOrElse(
            fail("reduce needs `x IN list | expr`"))
          val elemV = mIn.group(1)
          val rest2 = rest.substring(mIn.matched.length)
          val pIdx = topLevelPipe(rest2)
          if (pIdx < 0) fail("reduce needs `| expr`")
          val listCol = subExpr(rest2.substring(0, pIdx))
          return aggregate(listCol, initCol, (acc, x) =>
            subExpr(rest2.substring(pIdx + 1),
              locals + (accV -> acc, elemV -> x)))
        }
        if (w.equalsIgnoreCase("size") || w.equalsIgnoreCase("length")) {
          val save = i
          val st2 = i
          while (i < s.length && isWordChar(s.charAt(i))) i += 1
          val argVar = s.substring(st2, i)
          ws()
          if (peek == ')' && argVar.nonEmpty &&
              vars.get(argVar).exists(isRelAlias)) {
            i += 1
            return col(s"${vars(argVar)}.hops")
          }
          i = save
        }
        val argStart = i
        val args = scala.collection.mutable.ArrayBuffer.empty[Column]
        if (peek != ')') {
          args += expr(); ws()
          while (peek == ',') { i += 1; args += expr(); ws() }
        }
        val argEnd = i
        if (peek != ')') fail("missing ')'")
        i += 1
        w.toLowerCase match {
          case "coalesce" => coalesce(args.toSeq: _*)
          // Cypher's toInteger/toFloat return null on junk — try_cast
          case "tointeger" => args.head.try_cast("long")
          case "tofloat" => args.head.try_cast("double")
          case "abs" => abs(args.head)
          // Cypher string functions, Neo4j semantics: toUpper/toLower,
          // trim family, literal (non-regex) replace, 0-BASED substring
          // (Spark's is 1-based — shift), left/right prefix/suffix
          case "toupper" => upper(args.head.cast("string"))
          case "tolower" => lower(args.head.cast("string"))
          case "trim" => trim(args.head.cast("string"))
          case "ltrim" => ltrim(args.head.cast("string"))
          case "rtrim" => rtrim(args.head.cast("string"))
          case "replace" =>
            if (args.length != 3) fail("replace(s, search, repl) takes 3 args")
            call_function("replace", args.toSeq: _*)
          case "substring" =>
            if (args.length < 2 || args.length > 3)
              fail("substring(s, start[, len]) takes 2-3 args")
            val len = if (args.length == 3) args(2).cast("int")
              else lit(Int.MaxValue)
            args.head.cast("string").substr(args(1).cast("int") + 1, len)
          case "left" =>
            if (args.length != 2) fail("left(s, n) takes 2 args")
            call_function("left", args.head.cast("string"), args(1).cast("int"))
          case "right" =>
            if (args.length != 2) fail("right(s, n) takes 2 args")
            call_function("right", args.head.cast("string"), args(1).cast("int"))
          case "size" | "length" =>
            val argTxt = s.substring(argStart, argEnd).trim
            val argHead = argTxt.takeWhile(isWordChar).toLowerCase
            val isArray = (argTxt.matches("""\w+""") && plain(argTxt) &&
              schema.fields.find(_.name == argTxt)
                .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])) ||
              // list-PRODUCING forms size as lists (r16): range()/
              // split() heads, list literals and comprehensions must
              // never stringify
              ((argHead == "range" || argHead == "split") &&
                argTxt.drop(argHead.length).trim.startsWith("(")) ||
              argTxt.startsWith("[")
            if (isArray) size(args.head) else length(args.head.cast("string"))
          case "tostring" => args.head.cast("string")
          // Cypher round() is round-half-up to an integer-valued DOUBLE
          case "round" => round(args.head.cast("double"), 0)
          case "split" =>
            if (args.length != 2) fail("split(s, delim) takes 2 args")
            // Neo4j splits on the LITERAL delimiter — quote it so regex
            // metacharacters (".", "|") split literally
            call_function("split", args.head.cast("string"),
              concat(lit("\\Q"), args(1).cast("string"), lit("\\E")))
          // reverse works on strings and lists alike (as in Cypher)
          case "reverse" => reverse(args.head)
          // Cypher range(): INCLUSIVE bounds, optional step — Spark's
          // sequence() matches EXCEPT reversed bounds: Neo4j's
          // range(5,1) is [], Spark's sequence(5,1,1) raises (advisor
          // r17). Null input → null; opposing sign(end-start)/sign(step)
          // → empty typed array; extent budget enforced in-plan via
          // assert_true (same bound as the UNWIND range() path).
          case "range" =>
            if (args.length < 2 || args.length > 3)
              fail("range(start, end[, step]) takes 2-3 args")
            val st = args(0).cast("long")
            val en = args(1).cast("long")
            val sp = args.lift(2).getOrElse(lit(1L)).cast("long")
            when(st.isNull || en.isNull || sp.isNull,
                lit(null).cast("array<bigint>"))
              .when((en - st) * sp < 0, typedLit(Array.empty[Long]))
              .otherwise(when(assert_true(
                (abs(en - st) / abs(sp)) < lit(unwindRangeBudget),
                lit(s"range() extent exceeds the $unwindRangeBudget-" +
                  "element budget")).isNull,
                sequence(st, en, sp)))
          // Cypher toBoolean: 'true'/'false' (case-insensitive) parse,
          // junk → null (try_cast's contract matches exactly)
          case "toboolean" =>
            lower(args.head.cast("string")).try_cast("boolean")
          case "head" => element_at(args.head, 1)
          case "last" => element_at(args.head, -1)
          // Cypher tail(): everything after the first element
          case "tail" => slice(args.head, lit(2),
            greatest(size(args.head) - 1, lit(0)))
          case other => fail(s"unsupported function '$other(…)'")
        }
      } else if (peek == '.') {
        i += 1
        val pst = i
        while (i < s.length && isWordChar(s.charAt(i))) i += 1
        if (i == pst) fail("expected a property name")
        propColOf(w, s.substring(pst, i), vars)
      } else if (locals.contains(w)) locals(w)
      else if (plain(w)) col(w)
      else if (vars.contains(w)) fail(
        s"whole-variable operand '$w' (use a property: $w.<prop>)")
      else fail(s"unknown name '$w'")
    }
    val out = expr()
    ws()
    if (i < s.length) fail("trailing input")
    out
  }

  /** True when a RETURN/WITH item core is a CASE expression. */
  private def isCaseExpr(c: String): Boolean =
    c.length > 4 && c.regionMatches(true, 0, "CASE", 0, 4) &&
      !isWordChar(c.charAt(4))

  /** CASE/END nesting depth just before position `p` of `s` — counts
    * CASE keyword opens minus END closes, so keywords inside a NESTED
    * CASE…END span can be told apart from the enclosing level's. */
  private def caseDepthAt(s: String, p: Int): Int =
    allTopLevelKeywords(s, "CASE").count(_ < p) -
      allTopLevelKeywords(s, "END").count(q => q + 3 <= p)

  /** Top-level keyword positions treating nested CASE…END as opaque. */
  private def caseTopKeywords(s: String, kw: String): Seq[Int] =
    allTopLevelKeywords(s, kw).filter(p => caseDepthAt(s, p) == 0)

  /** Cypher CASE expression, both forms:
    *   generic: `CASE WHEN <pred> THEN <val> [WHEN …]* [ELSE <val>] END`
    *   simple:  `CASE <operand> WHEN <val> THEN <val> [… ] [ELSE …] END`
    * Predicates are full WHERE booleans (parseWhere over the same scope
    * as the item — so `v.prop`, pipe columns, AND/OR/NOT, comparisons
    * all work); operands and values are scalar value expressions
    * ([[parseValueExpr]]: literals, arithmetic, `v.prop`, pipe columns,
    * the scalar functions) — or a NESTED CASE, which recurses: WHEN/
    * THEN/ELSE scanning treats inner CASE…END spans as opaque, so
    * `THEN CASE … END` composes to any depth. A missing ELSE yields
    * null, Cypher's semantics (Spark's `when` chain without
    * `otherwise`). */
  private def parseCaseExpr(s0: String, vars: Map[String, String],
      plain: Set[String],
      schema: org.apache.spark.sql.types.StructType): Column = {
    val s = s0.trim
    def fail(m: String): Nothing =
      throw new IllegalArgumentException(s"$m in CASE expression '$s0'")
    // the END matching the LEADING CASE: depth 1 (only the outer open)
    val ends = allTopLevelKeywords(s, "END")
      .filter(p => caseDepthAt(s, p) == 1)
    if (ends.isEmpty) fail("CASE without matching END")
    if (s.substring(ends.head + 3).trim.nonEmpty)
      fail("trailing input after END")
    val inner = s.substring(4, ends.head).trim
    val whenPos = caseTopKeywords(inner, "WHEN")
    if (whenPos.isEmpty) fail("CASE needs at least one WHEN")
    val elsePos = caseTopKeywords(inner, "ELSE")
    if (elsePos.size > 1) fail("multiple ELSE")
    elsePos.foreach(p => if (p < whenPos.last) fail("ELSE before last WHEN"))
    def valueOf(t0: String): Column = {
      val t = t0.trim
      if (isCaseExpr(t)) parseCaseExpr(t, vars, plain, schema)
      else parseValueExpr(t, vars, plain, schema)
    }
    // simple form: non-empty text between CASE and the first WHEN is the
    // tested operand; each WHEN side is then a value compared with `=`
    val operandTxt = inner.substring(0, whenPos.head).trim
    val operand = if (operandTxt.isEmpty) None else Some(valueOf(operandTxt))
    val tailEnd = elsePos.headOption.getOrElse(inner.length)
    val arms = whenPos.zipWithIndex.map { case (p, i) =>
      val armEnd = if (i + 1 < whenPos.length) whenPos(i + 1) else tailEnd
      val arm = inner.substring(p + 4, armEnd)
      val thenPos = caseTopKeywords(arm, "THEN")
      if (thenPos.size != 1) fail("each WHEN needs exactly one THEN")
      val condTxt = arm.substring(0, thenPos.head).trim
      val cond = operand match {
        case Some(op) => op === valueOf(condTxt)
        case None =>
          parseWhere(condTxt, withScope(vars, plain), valueRefOf(vars, plain))
      }
      (cond, valueOf(arm.substring(thenPos.head + 4).trim))
    }
    val chained = arms.tail.foldLeft(when(arms.head._1, arms.head._2)) {
      case (acc, (c, v)) => acc.when(c, v)
    }
    elsePos.headOption
      .map(p => chained.otherwise(valueOf(inner.substring(p + 4).trim)))
      .getOrElse(chained)
  }

  /** One RETURN item → (columns, isAggregate). `AS alias` applies to any
    * single-column item; a whole-variable projection expands to its five
    * fixed columns and can't be renamed. */
  private def retItem(p: String, vars: Map[String, String],
      plain: Set[String] = Set.empty,
      schema: org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType()): (Seq[Column], Boolean) = {
    val (core, alias) = splitTop(p, "AS") match {
      case Seq(c) => (c.trim, None)
      case Seq(c, a) =>
        require(a.trim.matches("""\w+"""), s"malformed alias in '$p'")
        (c.trim, Some(a.trim))
      case _ => throw new IllegalArgumentException(s"multiple AS in '$p'")
    }
    def one(c: Column, default: String): Seq[Column] =
      Seq(c.as(alias.getOrElse(default)))
    core match {
      case countRe(dist, arg) =>
        val c = countCol(dist != null, arg, vars, plain)
        val nm = s"count(${if (dist != null) "DISTINCT " else ""}$arg)"
        (one(c.cast("long"), nm), true)
      case numAggRe(fn, arg) =>
        (one(numAggCol(fn, arg, vars, plain), s"${fn.toLowerCase}($arg)"),
          true)
      case percentileRe(fn, arg, pv) =>
        (one(statAggCol(fn, arg, pv.toDouble, vars, plain),
          s"${fn.toLowerCase}($arg, $pv)"), true)
      case stdevRe(fn, arg) =>
        (one(statAggCol(fn, arg, 0.0, vars, plain),
          s"${fn.toLowerCase}($arg)"), true)
      // collect(x) gathers values per group like Neo4j's list aggregate;
      // the result is SORTED (Neo4j preserves encounter order, which is
      // not deterministic on a distributed engine — sorted is).
      // collect(DISTINCT x) is the set variant (collect_set), same
      // sorted discipline.
      case collectRe(dist, arg) =>
        val nm = s"collect(${if (dist != null) "DISTINCT " else ""}$arg)"
        (one(collectCol(dist != null, arg, vars, plain), nm), true)
      // aggregates over VALUE EXPRESSIONS (r16): `sum(n.a * n.b)`,
      // `avg(size(n.name))`, `collect(n.name + '!')` — the strict
      // simple-arg cases above keep their paths (string-typed min/max,
      // DISTINCT); an expression arg routes through parseValueExpr. The
      // guard pins the head's '(' to the FINAL ')' so `sum(a) + sum(b)`
      // stays a value expression, not a malformed aggregate. r18
      // (verdict task #1): a DISTINCT qualifier on the expression arg
      // maps to Spark's distinct aggregates (count_distinct /
      // sum_distinct / collect_set; avg(DISTINCT) is the guarded
      // sum/count ratio — no avg_distinct Column function exists).
      case aggExprRe(fn, arg0) if matchingDelim(core,
          core.indexOf('('), '(', ')') == core.length - 1 =>
        val (distinct, arg) = stripDistinct(arg0.trim)
        val base = parseValueExpr(arg, vars, plain, schema)
        val c = distinctAggCol(fn, distinct, base)
        val nm = s"${fn.toLowerCase}(${if (distinct) "DISTINCT " else ""}$arg)"
        (one(if (fn.equalsIgnoreCase("count")) c.cast("long") else c, nm),
          true)
      // CASE before the value-expression probe: a THEN/ELSE value may
      // contain top-level arithmetic that would trip isValueExpr
      case c if isCaseExpr(c) =>
        (one(parseCaseExpr(c, vars, plain, schema), c), false)
      // scalar expression (arithmetic / size / coalesce / toInteger…):
      // default output name is the expression text as written, Cypher-like
      case c if isValueExpr(c) =>
        (one(parseValueExpr(c, vars, plain, schema), c), false)
      // a WITH output column referenced by name (post-pipe scope)
      case c if plain(c) => (one(col(c), c), false)
      case c if c.startsWith("labels(") =>
        val v = c.stripPrefix("labels(").stripSuffix(")")
        val a = vars(v)
        require(!isRelAlias(a), s"labels() needs a node variable: '$p'")
        (one(array_union(col(s"$a.task_ids"), array(col(s"$a.kind"))),
          s"labels($v)"), false)
      // properties(n) — the node's property MAP, Neo4j-style: the fixed
      // columns (where set) folded together with the props map; keys(n)
      // is its key set, SORTED (map ordering is not deterministic on a
      // distributed engine, sorted is)
      case c if c.startsWith("properties(") || c.startsWith("keys(") =>
        val fn = if (c.startsWith("properties(")) "properties" else "keys"
        val v = c.stripPrefix(s"$fn(").stripSuffix(")").trim
        val a = vars(v)
        require(!isRelAlias(a), s"$fn() needs a node variable: '$p'")
        // user-facing key "class" maps to the internal clazz column —
        // the write path's vocabulary (GraphDatabase.addNode), so a
        // CREATE {class:'X'} round-trips to properties(n)['class']
        val fixedPairs = Seq("name" -> "name", "file_path" -> "file_path",
          "signature" -> "signature", "class" -> "clazz", "code" -> "code")
          .flatMap { case (k, f) => Seq(lit(k), col(s"$a.$f")) }
        val allProps = map_concat(
          map_filter(map(fixedPairs: _*), (_, vv) => vv.isNotNull),
          col(s"$a.props"))
        val out0 =
          if (fn == "properties") allProps
          else array_sort(map_keys(allProps))
        (one(out0, s"$fn($v)"), false)
      // elementId(n) — Neo4j's STRING element identity; this model's
      // element identity IS full_name (nodes) / the src|type|dst triple
      // (relationships), so both spell deterministically. The numeric
      // legacy id() stays unsupported: the string model has no integer
      // identity and inventing one would not round-trip.
      case c if c.startsWith("elementId(") =>
        val v = c.stripPrefix("elementId(").stripSuffix(")").trim
        val a = vars(v)
        // a var-length r is a relationship LIST (path frame, null
        // rel_type) — no single identity exists; raise, never
        // fabricate a src|dst pair (the module's posture)
        require(!isVarLenRelAlias(a),
          s"elementId() of a var-length relationship list: '$p'")
        val out0 =
          if (isRelAlias(a))
            concat_ws("|", col(s"$a.src"), col(s"$a.rel_type"),
              col(s"$a.dst"))
          else col(s"$a.full_name")
        (one(out0, s"elementId($v)"), false)
      // MAP PROJECTIONS (r16): `n {.name, .kind, k: expr, .*}` —
      // Neo4j's per-row map shaping, emitted as MAP<string,string>
      // (the string-typed model; expression values cast). `.*` merges
      // the full property map (the properties() fold) with explicit
      // entries overriding.
      case mapProjRe(v, items0) if vars.contains(v) &&
          matchingDelim(core, core.indexOf('{'), '{', '}') ==
            core.length - 1 =>
        val a = vars(v)
        require(!isRelAlias(a), s"map projection needs a node variable: '$p'")
        val items = splitTop(items0, ",").map(_.trim).filter(_.nonEmpty)
        var star = false
        val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
        items.foreach {
          case ".*" => star = true
          case it if it.startsWith(".") =>
            val prop = it.stripPrefix(".").trim
            require(prop.matches("""\w+"""),
              s"malformed map-projection item '$it' in '$p'")
            entries += prop -> propColOf(v, prop, vars).cast("string")
          case it =>
            val ci = topLevelIndexOf(it, ':')
            require(ci > 0, s"malformed map-projection item '$it' in '$p'")
            val key = it.substring(0, ci).trim
            require(key.matches("""\w+"""),
              s"malformed map-projection key '$key' in '$p'")
            entries += key -> parseValueExpr(it.substring(ci + 1).trim,
              vars, plain, schema).cast("string")
        }
        val explicit =
          if (entries.isEmpty) None
          else Some(map(entries.toSeq.flatMap { case (k, cc) =>
            Seq(lit(k), cc) }: _*))
        val out0 =
          if (!star) explicit.getOrElse(
            throw new IllegalArgumentException(s"empty map projection: '$p'"))
          else {
            val fixedPairs = Seq("name" -> "name",
              "file_path" -> "file_path", "signature" -> "signature",
              "class" -> "clazz", "code" -> "code")
              .flatMap { case (k, f) => Seq(lit(k), col(s"$a.$f")) }
            val allProps = map_concat(
              map_filter(map(fixedPairs: _*), (_, vv) => vv.isNotNull),
              col(s"$a.props"))
            explicit match {
              case None => allProps
              case Some(ex) =>
                val keys = entries.map(_._1).toSeq
                map_concat(
                  map_filter(allProps, (k, _) => !k.isin(keys: _*)), ex)
            }
          }
        (one(out0, v), false)
      // Neo4j's relationship accessors: type(r) is the edge's rel_type;
      // startNode/endNode yield the endpoint KEYS (full graph-side
      // hydration of the endpoint nodes is the pattern's job — bind them
      // as node variables instead)
      case c if c.startsWith("type(") =>
        val v = c.stripPrefix("type(").stripSuffix(")").trim
        val a = vars(v)
        require(isRelAlias(a), s"type() needs a relationship variable: '$p'")
        (one(col(s"$a.rel_type"), s"type($v)"), false)
      case c if c.startsWith("startNode(") || c.startsWith("endNode(") =>
        val fn = if (c.startsWith("startNode(")) "startNode" else "endNode"
        // r17: a `.prop` postfix used to mangle the variable lookup
        // ("key not found: r).name") — raise the DESIGNED answer
        // instead: endpoint hydration is the pattern's job
        require(c.endsWith(")"),
          s"$fn(…).prop is not supported — bind the endpoint as a " +
            s"node variable in the pattern and project its property: '$p'")
        val v = c.stripPrefix(s"$fn(").stripSuffix(")").trim
        require(v.matches("""\w+"""),
          s"$fn() takes a relationship variable: '$p'")
        val a = vars(v)
        require(isRelAlias(a), s"$fn() needs a relationship variable: '$p'")
        val side = if (fn == "startNode") "src" else "dst"
        (one(col(s"$a.$side"), s"$fn($v)"), false)
      case c if c.contains(".") =>
        // props-map fallback like WHERE's references: `x.custom_prop`
        // projects the map entry when it's not a fixed column
        val Array(v, prop) = c.split("\\.", 2)
        (one(propColOf(v, prop, vars), s"$v.$prop"), false)
      case v =>
        require(alias.isEmpty,
          s"AS on a whole-variable projection not supported: '$p'")
        // whole-variable projection: fixed columns, prefixed (edge
        // schema for a relationship variable)
        val a = vars(v)
        if (isVarLenRelAlias(a))
          // a var-length relationship variable IS a list — project the
          // traversed-edge struct array (Neo4j's relationship list,
          // r13; size(r)/length(r) still read the hop count)
          (Seq(col(s"$a.prels").as(v)), false)
        else if (isRelAlias(a))
          (Seq("src", "rel_type", "dst")
            .map(c => col(s"$a.$c").as(s"$v.$c")), false)
        else
          (Seq("full_name", "kind", "name", "file_path", "signature")
            .map(c => col(s"$a.$c").as(s"$v.$c")), false)
    }
  }

  /** RETURN-clause result shaping: DISTINCT, AS aliases, count
    * aggregation with Cypher's implicit grouping (every non-aggregated
    * item is a grouping key), ORDER BY over output columns, SKIP, LIMIT.
    * All of it is plain DataFrame surface — groupBy/agg, sort, offset,
    * limit — so Catalyst plans partial aggregation and TakeOrdered the
    * same as for hand-written combinators. */
  private def shapeResult(df: DataFrame, ret0: String,
      vars: Map[String, String], plain: Set[String] = Set.empty): DataFrame = {
    var body = ret0.trim
    // trailing clauses, in Cypher's fixed order: ORDER BY … SKIP n LIMIT n
    var limitN: Option[Int] = None
    var skipN: Option[Int] = None
    var orderSpec: Option[String] = None
    val limitIdx = topLevelKeyword(body, "LIMIT")
    if (limitIdx >= 0) {
      limitN = Some(body.substring(limitIdx + 5).trim.toInt)
      body = body.substring(0, limitIdx).trim
    }
    val skipIdx = topLevelKeyword(body, "SKIP")
    if (skipIdx >= 0) {
      skipN = Some(body.substring(skipIdx + 4).trim.toInt)
      body = body.substring(0, skipIdx).trim
    }
    val orderIdx = topLevelKeyword(body, "ORDER")
    if (orderIdx >= 0) {
      val tail = body.substring(orderIdx + 5).trim
      require(tail.regionMatches(true, 0, "BY", 0, 2) &&
        tail.length > 2 && !isWordChar(tail.charAt(2)),
        s"malformed ORDER BY in: $ret0")
      orderSpec = Some(tail.substring(2).trim)
      body = body.substring(0, orderIdx).trim
    }
    val isDistinct = body.regionMatches(true, 0, "DISTINCT", 0, 8) &&
      body.length > 8 && !isWordChar(body.charAt(8))
    if (isDistinct) body = body.substring(8).trim

    // RETURN * — every user-named variable (pipe columns first, then
    // variables, each sorted: Neo4j's order is bind order, which a
    // distributed plan can't promise — sorted is deterministic).
    // Anonymous pattern nodes never project (they have no user name).
    if (body == "*") {
      val userVars = vars.keys.filterNot(_.startsWith("__anon")).toSeq.sorted
      require(userVars.nonEmpty || plain.nonEmpty,
        "RETURN * with nothing in scope")
      body = (plain.toSeq.sorted ++ userVars).mkString(", ")
    }

    val items = splitTop(body, ",").map(retItem(_, vars, plain, df.schema))
    val aggCols = items.filter(_._2).flatMap(_._1)
    val plainCols = items.filterNot(_._2).flatMap(_._1)
    var res =
      if (aggCols.isEmpty) df.select(plainCols: _*)
      // Cypher's implicit grouping: non-aggregated items are the key.
      // `RETURN DISTINCT` alongside aggregation (r18, verdict task #1)
      // is a NO-OP — the grouped result is already one row per key
      // combination (Neo4j accepts the spelling with the same reading)
      // — so no post-agg dedup runs (it would also choke on collected
      // array columns for nothing).
      else if (plainCols.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
      else df.groupBy(plainCols: _*).agg(aggCols.head, aggCols.tail: _*)
    if (isDistinct && aggCols.isEmpty) res = res.distinct()
    orderSpec.foreach { spec =>
      val outCols = res.columns.toSet
      val parsed = splitTop(spec, ",").map { item =>
        val t = item.trim
        if (t.toUpperCase.endsWith(" DESC")) (t.dropRight(5).trim, true)
        else if (t.toUpperCase.endsWith(" ASC")) (t.dropRight(4).trim, false)
        else (t, false)
      }
      val hiddenRefs = parsed.map(_._1).filterNot(outCols.contains).distinct
      if (hiddenRefs.isEmpty) {
        val keys = parsed.map { case (ref, desc) =>
          val c = col(s"`$ref`")
          if (desc) c.desc else c.asc
        }
        res = res.orderBy(keys: _*)
      } else {
        // ORDER BY on a NON-RETURNED property (`RETURN n.name ORDER BY
        // n.bal DESC` — Neo4j's top-N idiom): project hidden sort
        // columns alongside the output, sort, drop them. After
        // aggregation or DISTINCT the per-row property no longer exists
        // — raise, which is Neo4j's own rule too.
        require(aggCols.isEmpty, s"ORDER BY '${hiddenRefs.mkString(", ")}' " +
          s"must reference a RETURN column after aggregation: $ret0")
        require(!isDistinct,
          s"ORDER BY on a non-returned property cannot follow DISTINCT: $ret0")
        val hiddenIx = hiddenRefs.zipWithIndex.toMap
        val hiddenCols = hiddenRefs.zipWithIndex.map { case (ref, i) =>
          // a VALUE EXPRESSION sort key (r16): `ORDER BY size(n.name)`,
          // arithmetic, CASE — same grammar as RETURN items
          (if (isCaseExpr(ref)) parseCaseExpr(ref, vars, plain, df.schema)
           else if (isValueExpr(ref))
             parseValueExpr(ref, vars, plain, df.schema)
           else withScope(vars, plain)(ref)).as(s"__sort_$i")
        }
        val keys = parsed.map { case (ref, desc) =>
          val c = if (outCols.contains(ref)) col(s"`$ref`")
            else col(s"__sort_${hiddenIx(ref)}")
          if (desc) c.desc else c.asc
        }
        res = df.select(plainCols ++ hiddenCols: _*)
          .orderBy(keys: _*)
          .drop(hiddenRefs.indices.map(i => s"__sort_$i"): _*)
      }
    }
    skipN.foreach(n => res = res.offset(n))
    limitN.foreach(n => res = res.limit(n))
    res
  }

  /** Split on a boolean keyword (AND / OR) at top level — outside quotes
    * AND outside parentheses, with \w boundaries. [[splitTop]] is also
    * quote- and paren-aware but splits on a literal SEPARATOR; this one
    * splits on a KEYWORD, so it additionally requires \w boundaries
    * (`BRAND` must not split at its embedded `AND`). `(a OR b) AND c`
    * must not split inside the group. */
  private def splitBool(s: String, word: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var quote: Char = 0
    var depth = 0 // parens AND braces both group (EXISTS{} bodies)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        sb.append(c)
        if (c == '\\' && i + 1 < s.length) { i += 1; sb.append(s.charAt(i)) }
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') { quote = c; sb.append(c) }
      else if (c == '(' || c == '{') { depth += 1; sb.append(c) }
      else if (c == ')' || c == '}') { depth -= 1; sb.append(c) }
      else if (depth == 0 && s.regionMatches(true, i, word, 0, word.length) &&
          (i == 0 || !isWordChar(s.charAt(i - 1))) &&
          (i + word.length >= s.length || !isWordChar(s.charAt(i + word.length)))) {
        out += sb.toString; sb.clear(); i += word.length - 1
      } else sb.append(c)
      i += 1
    }
    out += sb.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** True when `s` is one parenthesized group — starts with '(' whose
    * match is the final char (quote-aware). */
  private def isWholeParen(s: String): Boolean = {
    if (!s.startsWith("(") || !s.endsWith(")")) return false
    var quote: Char = 0
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == '(') depth += 1
      else if (c == ')') {
        depth -= 1
        if (depth == 0) return i == s.length - 1
      }
      i += 1
    }
    false
  }

  /** WHERE boolean expression → Column, with Cypher precedence (NOT over
    * AND over OR) and parenthesized groups. Leaves: exists / NOT exists,
    * `=`, `<>`, `<` `<=` `>` `>=` (numeric when the literal is an
    * unquoted number — the prop casts to double — string otherwise),
    * STARTS WITH / ENDS WITH / CONTAINS, and `IN [list]`. All comparisons
    * keep Neo4j's null semantics (a missing prop drops the row) because
    * Column predicates are null-rejecting the same way. */
  /** MATCH-scope reference resolution: `v.prop` only. */
  private def matchScope(vars: Map[String, String])(ref: String): Column = {
    require(ref.contains("."),
      s"unsupported reference '$ref' (expected var.prop)")
    val Array(v, prop) = ref.split("\\.", 2)
    propColOf(v, prop, vars)
  }

  /** Post-WITH scope: a bare name is a WITH output column; `v.prop` is a
    * field of a carried variable (a struct column after the pipe). */
  private def withScope(vars: Map[String, String], plain: Set[String])
      (ref: String): Column =
    if (ref.contains(".")) {
      val Array(v, prop) = ref.split("\\.", 2)
      propColOf(v, prop, vars)
    } else {
      require(plain(ref),
        s"unknown column '$ref' after WITH (available: ${plain.mkString(", ")})")
      col(ref)
    }

  /** Right-hand-side reference resolution for comparisons: a QUOTED
    * value is always a literal, but a bare identifier naming an in-scope
    * plain column (an UNWIND variable, a WITH output) or a `v.prop` on a
    * bound variable is a REFERENCE — Neo4j's reading. Anything else
    * stays a literal (the module's long-standing behavior for bare
    * words). Enables `WHERE n.full_name = nm` under UNWIND and
    * property-to-property comparisons (`WHERE a.name = b.name`). */
  private def valueRefOf(vars: Map[String, String], plain: Set[String])
      (t0: String): Option[Column] = {
    val t = t0.trim
    if (t.matches("""\w+""") && plain(t)) Some(col(t))
    else if (t.matches("""\w+\.\w+""") && vars.contains(t.split("\\.", 2)(0))) {
      val Array(v, p) = t.split("\\.", 2)
      Some(propColOf(v, p, vars))
    } else None
  }

  private def parseWhere(s: String, resolve: String => Column,
      valueRef: String => Option[Column] = _ => None): Column = {
    val t = s.trim
    val orParts = splitBool(t, "OR")
    if (orParts.length > 1)
      return orParts.map(parseWhere(_, resolve, valueRef)).reduce(_ || _)
    val andParts = splitBool(t, "AND")
    if (andParts.length > 1)
      return andParts.map(parseWhere(_, resolve, valueRef)).reduce(_ && _)
    if (isWholeParen(t))
      return parseWhere(t.substring(1, t.length - 1), resolve, valueRef)
    def cmpOperand(ref: String, value: String): (Column, Column) = {
      val raw = value.trim
      valueRef(raw) match {
        case Some(c) => (resolve(ref), c)
        case None =>
          if (numericLit.findFirstIn(raw).isDefined)
            // try_cast: a non-numeric property compared to a number is
            // NULL in Neo4j (row drops) — ANSI cast would THROW instead
            (resolve(ref).try_cast("double"), lit(raw.toDouble))
          else (resolve(ref), lit(unquote(raw)))
      }
    }
    t match {
      // NOT exists must match before the bare exists pattern; NOT (…)
      // negates a group (Cypher's unary NOT at top precedence)
      case whereNotExists(ref) => resolve(ref).isNull
      case notParen(rest) if isWholeParen(s"($rest") =>
        !parseWhere(rest.dropRight(1), resolve, valueRef)
      case whereExists(ref) => resolve(ref).isNotNull
      // IS [NOT] NULL ≡ [NOT] exists — Neo4j's modern spelling (exists()
      // on properties is deprecated there); must match before whereCmp
      // so the bare `IS` never reaches the comparison fallbacks
      case whereIsNotNull(ref) => resolve(ref).isNotNull
      case whereIsNull(ref) => resolve(ref).isNull
      // label predicates (r16): `n:LABEL` tests kind OR task membership
      // — the same vocabulary as a pattern's `(n:LABEL)`; task_ids is a
      // fixed column so the scope resolver reaches it on scans and
      // carried structs alike
      case whereNotLabel(v, l0) =>
        val l = l0.stripPrefix("`").stripSuffix("`")
        !(resolve(s"$v.kind") === l ||
          array_contains(resolve(s"$v.task_ids"), l))
      case whereLabel(v, l0) =>
        val l = l0.stripPrefix("`").stripSuffix("`")
        resolve(s"$v.kind") === l ||
          array_contains(resolve(s"$v.task_ids"), l)
      // `=~` (r16): Neo4j's regex operator — a WHOLE-string Java-regex
      // match (rlike alone is a substring find, so the pattern anchors).
      // Must match before whereEq (whose `=` would otherwise swallow
      // the `~` into the value). Advisor r17: a var.prop RHS resolves
      // through valueRef (dynamic pattern, rlike's non-foldable arm);
      // anything else must be a QUOTED string literal — treating
      // `m.pattern` as literal regex text silently (mis)matches.
      case whereRegex(ref, value) =>
        valueRef(value) match {
          case Some(rc) => call_function("rlike", resolve(ref),
            concat(lit("^(?:"), rc.cast("string"), lit(")$")))
          case None =>
            val v = value.trim
            require((v.startsWith("'") && v.endsWith("'") && v.length > 1)
              || (v.startsWith("\"") && v.endsWith("\"") && v.length > 1),
              s"=~ needs a string-literal or var.prop pattern: $value")
            resolve(ref).rlike("^(?:" + unquote(value) + ")$")
        }
      case whereNeq(ref, value) =>
        valueRef(value).map(resolve(ref) =!= _)
          .getOrElse(resolve(ref) =!= unquote(value))
      case whereIn(ref, list) =>
        resolve(ref).isin(splitTop(list, ",").map(unquote): _*)
      case whereStrPred(ref, op, value) =>
        val c = resolve(ref)
        val lv = unquote(value)
        op.toUpperCase.replaceAll("\\s+", " ") match {
          case "STARTS WITH" => c.startsWith(lv)
          case "ENDS WITH" => c.endsWith(lv)
          case _ => c.contains(lv)
        }
      case whereCmp(ref, op, value) =>
        val (l, r) = cmpOperand(ref, value)
        op match {
          case "<" => l < r
          case "<=" => l <= r
          case ">" => l > r
          case _ => l >= r
        }
      case whereEq(ref, value) =>
        valueRef(value).map(resolve(ref) === _)
          .getOrElse(resolve(ref) === unquote(value))
      // r17: function-wrapped LHS — the same comparison vocabulary over
      // a whitelisted scalar call (semantics match parseValueExpr's:
      // toInteger/toFloat null on junk via try_cast, size/length is
      // string length on the string-typed model)
      case whereFnCmp(f, ref, op0, value) =>
        val c = f.toLowerCase match {
          case "toupper" => upper(resolve(ref).cast("string"))
          case "tolower" => lower(resolve(ref).cast("string"))
          case "trim" => trim(resolve(ref).cast("string"))
          case "tointeger" => resolve(ref).cast("string").try_cast("long")
          case "tofloat" => resolve(ref).cast("string").try_cast("double")
          case "abs" => abs(resolve(ref).try_cast("double"))
          case _ => length(resolve(ref).cast("string"))
        }
        val op = op0.toUpperCase.replaceAll("\\s+", " ")
        lazy val rhs = valueRef(value).getOrElse {
          val raw = value.trim
          if (numericLit.findFirstIn(raw).isDefined) lit(raw.toDouble)
          else lit(unquote(raw))
        }
        op match {
          case "=" => c === rhs
          case "<>" => c =!= rhs
          case "<" => c < rhs
          case "<=" => c <= rhs
          case ">" => c > rhs
          case ">=" => c >= rhs
          case "STARTS WITH" => c.startsWith(unquote(value))
          case "ENDS WITH" => c.endsWith(unquote(value))
          case _ => c.contains(unquote(value))
        }
      // r17: general prefix NOT — comparison binds tighter than NOT in
      // Cypher, so `NOT a = b` ≡ `NOT (a = b)`; the specific NOT arms
      // above (NOT exists, NOT (…), NOT n:LABEL) keep their spellings
      case whereNotGeneral(rest) =>
        !parseWhere(rest, resolve, valueRef)
      case other => throw new IllegalArgumentException(
        s"unsupported WHERE condition: $other")
    }
  }

  private final case class Hop(rel: String, reversed: Boolean,
      minHops: Int = 1, maxHops: Int = 1,
      props: Map[String, String] = Map.empty,
      varName: Option[String] = None,
      undirected: Boolean = false) {
    def isVarLength: Boolean = !(minHops == 1 && maxHops == 1)
  }

  /** Edge scan for one hop: rel-type (or `A|B` alternation) plus any
    * relationship-property equalities (`-[:R {k: 'v'}]->`); on a
    * var-length hop the props apply to EVERY relationship of the path,
    * Neo4j's semantics. */
  private def hopEdges(edges: DataFrame, hop: Hop): DataFrame = {
    // a null rel is the bare arrow: any relationship type
    val typePred =
      if (hop.rel == null) lit(true)
      else {
        val types = hop.rel.split("\\|").map(_.trim)
        if (types.length == 1) col("rel_type") === types(0)
        else col("rel_type").isin(types.toSeq: _*)
      }
    edges.filter(hop.props.foldLeft(typePred) {
      case (acc, (k, v)) => acc && element_at(col("props"), k) === v
    }).select(col("src"), col("rel_type"), col("dst"), col("props"))
  }

  /** A scanned node pattern `(v:L1:L2 {props})`: [start, end) span in the
    * pattern text plus the parsed pieces. */
  private final case class NodePat(start: Int, end: Int, v: String,
      labels: Seq[String], props: Map[String, String])

  // optional variable (anonymous node patterns `()` / `(:CLASS)` bind a
  // planner-reserved `__anon…` name); labels plain `\w+` or backticked
  private val varLabels =
    """^(\w+)?\s*((?::\s*(?:`[^`]+`|\w+))*)\s*$""".r

  /** First top-level (not in quotes) occurrence of `target`; -1 if none. */
  private def topLevelIndexOf(s: String, target: Char): Int = {
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == target) return i
      i += 1
    }
    -1
  }

  /** Scan the MATCH pattern for node patterns, quote-aware throughout:
    * parens, braces, colons, and arrows inside quoted prop values are
    * literal text (the nodePat regex this replaces choked on a `}` or
    * `)` inside a code-snippet prop). Every top-level `(` opens a node
    * pattern; arrow text between patterns never contains parens. */
  private def scanNodes(pattern: String, anonPrefix: String = "__anon_"): Seq[NodePat] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[NodePat]
    var i = 0
    while (i < pattern.length) {
      val ch = pattern.charAt(i)
      if (ch == '\'' || ch == '"') {
        // quotes BETWEEN node patterns (relationship-property values) are
        // literal text: a '(' inside them must not open a node pattern
        var j = i + 1
        while (j < pattern.length && pattern.charAt(j) != ch) {
          if (pattern.charAt(j) == '\\') j += 1
          j += 1
        }
        i = j + 1
      } else if (ch == '(') {
        var depth = 0
        var j = i
        var quote: Char = 0
        var end = -1
        while (j < pattern.length && end < 0) {
          val c = pattern.charAt(j)
          if (quote != 0) {
            if (c == '\\') j += 1
            else if (c == quote) quote = 0
          } else if (c == '\'' || c == '"') quote = c
          else if (c == '(') depth += 1
          else if (c == ')') { depth -= 1; if (depth == 0) end = j }
          j += 1
        }
        if (end < 0) throw new IllegalArgumentException(
          s"unbalanced parens in pattern: $pattern")
        val inner = pattern.substring(i + 1, end)
        val braceIdx = topLevelIndexOf(inner, '{')
        val head = (if (braceIdx >= 0) inner.substring(0, braceIdx) else inner).trim
        val props =
          if (braceIdx >= 0) parseProps(inner.substring(braceIdx).trim) else Map.empty[String, String]
        head match {
          case varLabels(v, ls) =>
            // anonymous pattern (`()` / `(:CLASS)`): bind a reserved
            // planner name — unique per pattern position, never
            // user-referencable (the vars map only hands out what the
            // query text names)
            val name = Option(v).getOrElse(s"$anonPrefix${out.size}")
            out += NodePat(i, end + 1, name, parseLabels(ls), props)
          case _ => throw new IllegalArgumentException(
            s"unsupported node pattern '($inner)' (expected (var:Label… {props}))")
        }
        i = end + 1
      } else i += 1
    }
    out.toSeq
  }

  /** One parsed MATCH clause: its node patterns, hops, optionality, and
    * its own trailing WHERE text (null when absent). */
  private final case class Clause(optional: Boolean, nodeMs: Seq[NodePat],
      hops: Seq[Hop], where: String,
      pathVar: Option[String] = None)

  /** Parse one clause body "pattern [WHERE cond]" into node patterns +
    * hops, with the same validations the single-chain parser applied. */
  private def parseClause(body: String, optional: Boolean, q: String,
      clauseIx: Int = 0): Clause = {
    val whereIdx = topLevelKeyword(body, "WHERE")
    val pattern = (if (whereIdx >= 0) body.substring(0, whereIdx) else body).trim
    val where = if (whereIdx >= 0) body.substring(whereIdx + 5).trim else null
    // anonymous-node names are unique across clauses (clause index in
    // the prefix), so a multi-clause query never "rebinds" an anon var
    val nodeMs = scanNodes(pattern, s"__anon${clauseIx}_")
    require(nodeMs.nonEmpty, s"no node pattern in: $q")
    // arrows are exactly the text between consecutive node patterns
    val hops = nodeMs.sliding(2).toSeq.collect { case Seq(a, b) =>
      pattern.substring(a.end, b.start).trim match {
        case fwdArrow(rv, rel, star, props) =>
          val (mn, mx) = parseStar(star)
          Hop(rel, reversed = false, mn, mx, parseProps(props), Option(rv))
        case bwdArrow(rv, rel, star, props) =>
          val (mn, mx) = parseStar(star)
          Hop(rel, reversed = true, mn, mx, parseProps(props), Option(rv))
        // bare arrows: ANY relationship type (Neo4j's `-->`/`<--`/`--`)
        case "-->" => Hop(null, reversed = false)
        case "<--" => Hop(null, reversed = true)
        case "--" => Hop(null, reversed = false, undirected = true)
        case undirArrow(rv, rel, star, props) =>
          // UNDIRECTED hop (r15; var-length r16): either physical
          // orientation matches each step; the var-length composition
          // runs over the symmetrized frame with physical-identity
          // edge-uniqueness and physical prels structs
          val (mn, mx) = parseStar(star)
          Hop(rel, reversed = false, mn, mx, parseProps(props), Option(rv),
            undirected = true)
        case other => throw new IllegalArgumentException(
          s"unsupported relationship pattern '$other'")
      }
    }
    // a variable on a var-length hop binds the traversed-edge LIST
    // (r13): whole-r projects the prels struct array (Neo4j's
    // relationship list); size(r)/length(r) read the hop count;
    // r.props/type(r) stay null (no single value across hops)
    val leading = pattern.substring(0, nodeMs.head.start).trim
    val trailing = pattern.substring(nodeMs.last.end).trim
    require(leading.isEmpty && trailing.isEmpty,
      s"unsupported pattern text around the chain: $q")
    // a repeated variable within one chain is a CYCLE pattern —
    // buildChain closes it with node-identity equality on the repeated
    // positions (and Neo4j's relationship-uniqueness keeps a
    // back-and-forth over one edge out of the rows)
    Clause(optional, nodeMs, hops, where)
  }

  /** `-[` outside quotes — the relationship-pattern marker that
    * distinguishes a pattern-existence predicate from a boolean leaf. */
  private def hasRelPatternText(s: String): Boolean = {
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '[')
        return true
      // full bare arrows only: `n.bal<-1` / `a-5 > b` must stay
      // comparisons, so `-->` needs both dashes and `<--` all three chars
      else if (c == '-' && i + 2 < s.length && s.charAt(i + 1) == '-' &&
          s.charAt(i + 2) == '>')
        return true
      else if (c == '<' && i + 2 < s.length && s.charAt(i + 1) == '-' &&
          s.charAt(i + 2) == '-')
        return true
      i += 1
    }
    false
  }

  /** One pattern-existence predicate `[NOT] (a)-[:R]->(b)` lifted out of
    * a MATCH-clause WHERE — Neo4j's existential subpattern, executed as
    * a semi-join (anti-join under NOT) rather than a boolean column. */
  private final case class PatPred(neg: Boolean, clause: Clause,
      allowNewVars: Boolean)

  /** Partition a MATCH-clause WHERE into pattern-existence predicates
    * (top-level AND conjuncts containing a relationship pattern) and the
    * remaining ordinary boolean text. A pattern under OR would need a
    * disjunctive join plan we don't synthesize — raise, the module's
    * posture. `clauseIx` namespaces the predicates' anonymous nodes away
    * from every real clause (real clauses use their ordinal). */
  private def extractPatternPreds(w: String, q: String, clauseIx: Int)
      : (Seq[PatPred], Option[String]) = {
    if (!hasRelPatternText(w)) return (Nil, Some(w))
    require(splitBool(w, "OR").lengthCompare(1) == 0 ||
        splitBool(w, "OR").forall(!hasRelPatternText(_)),
      s"pattern predicate under OR not supported: $q")
    val (pats, rest) = splitBool(w, "AND").partition(hasRelPatternText)
    val existsWrap = """(?is)^EXISTS\s*\{(.*)\}$""".r
    val preds = pats.zipWithIndex.map { case (p0, i) =>
      val t = p0.trim
      val neg = t.regionMatches(true, 0, "NOT", 0, 3) && t.length > 3 &&
        !isWordChar(t.charAt(3))
      var body = (if (neg) t.substring(3) else t).trim
      while (isWholeParen(body)) body = body.substring(1, body.length - 1).trim
      // modern Neo4j spelling: `EXISTS { [MATCH] pattern [WHERE …] }` —
      // same existential semantics, same semi/anti-join plan; the inner
      // WHERE (resolving against the subpattern's own variables) filters
      // the sub-chain before the join
      var wasExists = false
      existsWrap.findFirstMatchIn(body).foreach { m =>
        wasExists = true
        body = m.group(1).trim
        if (body.regionMatches(true, 0, "MATCH", 0, 5) &&
            body.length > 5 && !isWordChar(body.charAt(5)))
          body = body.substring(5).trim
      }
      // a non-null pc.where can only come from the EXISTS{} body — a
      // bare conjunct never contains the WHERE keyword (it would have
      // ended the enclosing clause's pattern first)
      val pc = parseClause(body, optional = false, q,
        clauseIx = 1000 + clauseIx * 10 + i)
      pc.hops.foreach(h => require(h.varName.isEmpty,
        s"a pattern predicate cannot bind relationship variable " +
          s"'${h.varName.getOrElse("")}': $q"))
      // an EXISTS{} SUBQUERY may introduce its own local variables
      // (existential, visible to its inner WHERE only); a bare pattern
      // predicate may not (Neo4j's rule — a bare-name typo must raise)
      PatPred(neg, pc, allowNewVars = wasExists)
    }
    (preds, if (rest.isEmpty) None else Some(rest.mkString(" AND ")))
  }

  /** Build one chain's DataFrame with node aliases n{aliasStart+i}. */
  private def buildChain(nodes: DataFrame, edges: DataFrame,
      c: Clause, aliasStart: Int): DataFrame = {
    var df = nodes
      .filter(nodePred(c.nodeMs.head.labels, c.nodeMs.head.props))
      .alias(s"n$aliasStart")
    c.hops.zipWithIndex.foreach { case (hop, i) =>
      // a var-length hop swaps the single edge scan for the union of
      // per-length path compositions; endpoints join identically
      val scan = hopEdges(edges, hop)
      val ai = aliasStart + i
      val ea = if (hop.isVarLength && hop.varName.nonEmpty) varRelAlias(ai)
        else relAlias(ai)
      val eRaw =
        if (hop.isVarLength) {
          // a path variable — or a NAMED var-length hop, whose whole-
          // variable projection is the relationship list (r13) — needs
          // the per-path edge list (`prels`) on every var-length frame;
          // other queries keep the narrow (src, dst, hops) summary
          val keep: DataFrame => DataFrame =
            if (c.pathVar.isDefined || hop.varName.nonEmpty)
              _.select(col("src"), col("dst"), col("hops"), col("prels"))
            else _.select(col("src"), col("dst"), col("hops"))
          // zero-length leg (Cypher's bind-same-node `*0..`): identity
          // endpoint pairs over all nodes — both endpoint patterns then
          // constrain the SAME node through the two joins below; the
          // rel type never applies to a zero-edge path
          val zero =
            if (hop.minHops == 0)
              Seq(nodes.select(col("full_name").as("src"),
                col("full_name").as("dst"), lit(0L).as("hops"))
                .withColumn("prels", expr("CAST(array() AS " +
                  "array<struct<src:string,rel_type:string,dst:string>>)")))
            else Seq.empty
          // ANCHOR SEEDING (r16, extended r17 — verdict task #2): a
          // var-length hop expands FROM the partial chain's frontier —
          // the first composition leg semi-joins the bound keys, so an
          // anchored pattern walks outward instead of enumerating every
          // path in the graph and joining the anchor afterwards. A
          // REVERSED hop (r17) expands over the FLIPPED scan from the
          // bound dst and the frame flips back — the same frontier
          // walk, mirrored. Bounded legs additionally prune their LAST
          // composition leg to the right endpoint's key set when that
          // endpoint is filtered. Pure prunes: every downstream
          // equality is unchanged.
          // an UNFILTERED head node gives no prune (the seed would be
          // every vertex) — skip the semi-join there
          val leftUnfiltered = i == 0 && c.nodeMs.head.labels.isEmpty &&
            c.nodeMs.head.props.isEmpty
          val chainKeys: Option[DataFrame] =
            if (leftUnfiltered) None
            else Some(df.select(col(s"n$ai.full_name").as("src"))
              .distinct())
          val rightM = c.nodeMs(i + 1)
          val rightKeys: Option[DataFrame] =
            if (rightM.labels.isEmpty && rightM.props.isEmpty) None
            else Some(nodes.filter(nodePred(rightM.labels, rightM.props))
              .select(col("full_name").as("dst")).distinct())
          // in EXPANSION space: a reversed hop walks the FLIPPED graph,
          // where the chain anchor (which joins the flipped-back
          // frame's dst = the expansion's src) is the src-seed and the
          // right endpoint (frame src = expansion dst) the dst-target —
          // the seed/target column names line up without renames
          val expScan = if (hop.reversed) flipScan(scan) else scan
          val (srcSeed, dstTarget) = (chainKeys, rightKeys)
          val pos0 =
            if (hop.maxHops == 0) Seq.empty
            else if (hop.undirected && hop.maxHops < 0)
              Seq(varLengthRelUnboundedUndirected(expScan,
                math.max(hop.minHops, 1), srcSeed))
            else if (hop.undirected)
              Seq(varLengthRelUndirected(expScan, math.max(hop.minHops, 1),
                hop.maxHops, srcSeed, dstTarget))
            else if (hop.maxHops < 0)
              Seq(varLengthRelUnbounded(expScan, math.max(hop.minHops, 1),
                srcSeed))
            else Seq(varLengthRel(expScan, math.max(hop.minHops, 1),
              hop.maxHops, srcSeed, dstTarget))
          val pos = if (hop.reversed) pos0.map(flipVarFrame) else pos0
          (zero ++ pos).map(keep).reduce(_ unionAll _)
        } else scan
      // a NAMED hop presents the uniform relationship-alias schema:
      // single-hop scans add hops = 1; var-length path frames add null
      // rel_type/props (the PATH-SUMMARY model — see relCarriedFields)
      val eDir = (if (hop.varName.isEmpty) eRaw
        else if (hop.isVarLength)
          eRaw.withColumn("rel_type", lit(null).cast("string"))
            .withColumn("props", lit(null).cast("map<string,string>"))
        else eRaw.withColumn("hops", lit(1L)))
      // UNDIRECTED hop (r15): symmetrize the scan into __from/__to
      // join columns while KEEPING the physical (src, rel_type, dst)
      // columns — relationship-uniqueness (triple equality below),
      // startNode()/endNode() and r-projections all read PHYSICAL
      // orientation, exactly Neo4j's semantics (an edge traversed
      // either way is the same relationship). Self-loops enter once
      // (the swapped copy filters them), so (a)-[r]-(a) matches once.
      // a var-length undirected frame already symmetrized per step
      // inside the composition — its (src, dst) ARE the traversal
      // endpoints, so it joins like a forward hop below
      val e = (if (!hop.undirected || hop.isVarLength) eDir
        else eDir.withColumn("__from", col("src"))
          .withColumn("__to", col("dst"))
          .unionByName(eDir.filter(col("src") =!= col("dst"))
            .withColumn("__from", col("dst"))
            .withColumn("__to", col("src")))).alias(ea)
      val next = nodes
        .filter(nodePred(c.nodeMs(i + 1).labels, c.nodeMs(i + 1).props))
        .alias(s"n${ai + 1}")
      df =
        if (hop.undirected && !hop.isVarLength)
          df.join(e, col(s"n$ai.full_name") === col(s"$ea.__from"))
            .join(next, col(s"$ea.__to") === col(s"n${ai + 1}.full_name"))
        else if (!hop.reversed)
          df.join(e, col(s"n$ai.full_name") === col(s"$ea.src"))
            .join(next, col(s"$ea.dst") === col(s"n${ai + 1}.full_name"))
        else
          df.join(e, col(s"n$ai.full_name") === col(s"$ea.dst"))
            .join(next, col(s"$ea.src") === col(s"n${ai + 1}.full_name"))
    }
    // CYCLE patterns: a repeated node variable closes the chain back
    // onto an earlier position — node identity is full_name equality
    // between the two join slots (every occurrence's own label/prop
    // filters already applied above). Anonymous slots never repeat
    // (generated names are unique).
    val firstAt = scala.collection.mutable.Map.empty[String, Int]
    c.nodeMs.zipWithIndex.foreach { case (m, i) =>
      firstAt.get(m.v) match {
        case Some(i0) =>
          df = df.filter(col(s"n${aliasStart + i0}.full_name") ===
            col(s"n${aliasStart + i}.full_name"))
        case None => firstAt(m.v) = i
      }
    }
    // Neo4j RELATIONSHIP-UNIQUENESS (match isomorphism): two
    // relationship slots of ONE pattern never bind the same edge — an
    // edge's identity here is its (src, rel_type, dst) triple, so the
    // guard is pairwise triple inequality over the single-hop slots.
    // Var-length paths stay out (the PATH-SUMMARY model never exposes
    // their internal edges), matching the module's documented scope.
    val hopAliases = c.hops.zipWithIndex.collect {
      case (h, i) if !h.isVarLength => relAlias(aliasStart + i)
    }
    for {
      ii <- hopAliases.indices
      jj <- ii + 1 until hopAliases.size
    } {
      val (x, y) = (hopAliases(ii), hopAliases(jj))
      df = df.filter(!(col(s"$x.src") === col(s"$y.src") &&
        col(s"$x.rel_type") === col(s"$y.rel_type") &&
        col(s"$x.dst") === col(s"$y.dst")))
    }
    // PATH VARIABLE projections (r12): `p = (a)-[…]->(b)` materializes
    // three plain columns — the node list (pattern-order full_names,
    // var-length interiors included), the relationship list (one
    // (src, rel_type, dst) struct per traversed edge), and the length —
    // that `nodes(p)`/`relationships(p)`/`length(p)` rewrite to.
    // REVERSED hops (r13): each relationship struct keeps the edge's
    // PHYSICAL (src, rel_type, dst) — Neo4j's relationship entities do
    // the same, a path does not flip an edge's own endpoints — and the
    // list order follows PATTERN order, so a reversed var-length leg
    // contributes its edges (and interior nodes) reversed.
    c.pathVar.foreach { pv =>
      val emptyRels = expr("CAST(array() AS " +
        "array<struct<src:string,rel_type:string,dst:string>>)")
      def hopAliasOf(hop: Hop, i: Int): String =
        if (hop.isVarLength && hop.varName.nonEmpty)
          varRelAlias(aliasStart + i) else relAlias(aliasStart + i)
      val relArrs: Seq[Column] = c.hops.zipWithIndex.map { case (hop, i) =>
        val ea = hopAliasOf(hop, i)
        if (hop.isVarLength) {
          val pr = col(s"$ea.prels")
          if (hop.reversed) reverse(pr) else pr
        } else array(struct(col(s"$ea.src").as("src"),
          col(s"$ea.rel_type").as("rel_type"), col(s"$ea.dst").as("dst")))
      }
      val nodeArrs: Seq[Column] =
        array(col(s"n$aliasStart.full_name")) +:
          c.hops.zipWithIndex.map { case (hop, i) =>
            val ea = hopAliasOf(hop, i)
            if (hop.isVarLength && hop.undirected) {
              // UNDIRECTED leg (r16): prels carry PHYSICAL endpoints,
              // so the visited node per step is whichever endpoint is
              // NOT the running node — an in-plan fold from the hop's
              // start, dropping the start itself (list convention:
              // each hop contributes its visited nodes, start excluded)
              val start = col(s"n${aliasStart + i}.full_name")
              val walked = aggregate(col(s"$ea.prels"), array(start),
                (acc, r) => concat(acc, array(
                  when(r.getField("src") === element_at(acc, -1),
                    r.getField("dst")).otherwise(r.getField("src")))))
              slice(walked, lit(2), size(col(s"$ea.prels")))
            } else if (hop.isVarLength) {
              // forward leg visits each edge's dst in list order; a
              // reversed leg walks the composition backwards, visiting
              // each edge's SRC in reverse list order
              if (hop.reversed)
                reverse(transform(col(s"$ea.prels"), r => r.getField("src")))
              else transform(col(s"$ea.prels"), r => r.getField("dst"))
            } else array(col(s"n${aliasStart + i + 1}.full_name"))
          }
      df = df
        .withColumn(s"__pnodes_$pv",
          if (nodeArrs.size == 1) nodeArrs.head else concat(nodeArrs: _*))
        .withColumn(s"__prels_$pv",
          if (relArrs.isEmpty) emptyRels else concat(relArrs: _*))
        .withColumn(s"__plen_$pv", size(col(s"__prels_$pv")).cast("long"))
    }
    df
  }

  /** Execute a supported query against (nodes, edges): one or more MATCH
    * clauses — later clauses (plain or OPTIONAL) must start at a variable
    * bound by an earlier clause and join there (inner vs left). Each
    * clause may carry its own WHERE; an OPTIONAL MATCH's WHERE folds into
    * the left-join condition (Neo4j attaches WHERE to the preceding
    * MATCH, so a non-matching-or-filtered row null-extends rather than
    * dropping). */
  /** Safety bound on shortestPath BFS depth for an unbounded `*`: the
    * loop stops at the reachability fixpoint anyway (an empty frontier),
    * so this only caps pathological deep chains. */
  private val spathMaxDepth = 32

  /** `MATCH p = shortestPath((a…)-[:R|S*…]->(b…)) [WHERE …] RETURN …` —
    * Neo4j's one-shortest-path-per-endpoint-pair operator. UNBOUNDED `*`
    * is allowed HERE (unlike plain var-length patterns, which enumerate
    * every path): a breadth-first frontier fixpoint costs one
    * edges⋈frontier join per level — linear, not combinatorial — and
    * `length(p)` is the level at which each endpoint pair first met.
    * Both arrow directions, rel-type alternation, per-edge rel props,
    * `*`/`*..n`/`*m..n`/`*m..` specs (min 0 = Neo4j's bind-same-node,
    * the zero-length row appearing when the start also satisfies the
    * end pattern). The path variable carries `length(p)` AND (r12)
    * `nodes(p)`/`relationships(p)`: the BFS tracks a deterministic
    * min-predecessor parent, and ONE shortest path per endpoint pair
    * (Neo4j's contract) reconstructs by backtracking — built only when
    * the tail references it. */
  /** Shared parse of `MATCH p = <kw>((a…)-[…]->(b…)) <tail>` for the
    * shortestPath family. */
  private final case class SpParts(pVar: String, aPat: NodePat,
      bPat: NodePat, hop: Hop, reversed: Boolean, minH: Int, maxH: Int,
      tail: String, undirected: Boolean)

  /** The BFS traversal frame for the path-search operators: traversal
    * (src, dst) per direction mode, with the PHYSICAL (psrc, pdst)
    * riding along so reconstruction emits the real edge. Undirected
    * unions both orientations (self-loops enter once). */
  private def spathTraversalFrame(scan: DataFrame, reversed: Boolean,
      undirected: Boolean): DataFrame = {
    val base = scan.select(col("src"), col("dst"), col("rel_type"))
    if (undirected)
      base.select(col("src"), col("dst"), col("rel_type"),
          col("src").as("psrc"), col("dst").as("pdst"))
        .unionByName(base.filter(col("src") =!= col("dst"))
          .select(col("dst").as("src"), col("src").as("dst"),
            col("rel_type"), col("src").as("psrc"),
            col("dst").as("pdst")))
    else if (reversed)
      base.select(col("dst").as("src"), col("src").as("dst"),
        col("rel_type"), col("src").as("psrc"), col("dst").as("pdst"))
    else
      base.select(col("src"), col("dst"), col("rel_type"),
        col("src").as("psrc"), col("dst").as("pdst"))
  }

  private def parseSpathPattern(q: String, kwIdx: Int,
      kw: String): SpParts = {
    val open = q.indexOf('(', kwIdx)
    require(open > 0, s"malformed $kw: $q")
    // balanced-paren scan (quote-aware) for the pattern's closing paren
    var depth = 0; var j = open; var close = -1; var quote: Char = 0
    while (j < q.length && close < 0) {
      val c = q.charAt(j)
      if (quote != 0) { if (c == '\\') j += 1 else if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) close = j }
      j += 1
    }
    require(close > 0, s"unbalanced $kw parens: $q")
    val inner = q.substring(open + 1, close)
    val tail = q.substring(close + 1).trim
    val pVar = q.substring(0, kwIdx).trim
      .replaceAll("(?is)^MATCH\\s+", "").replaceAll("\\s*=\\s*$", "").trim
    require(pVar.matches("""\w+"""), s"malformed path variable in: $q")

    val pats = scanNodes(inner)
    require(pats.size == 2,
      s"$kw needs exactly (a)-[…]->(b), got ${pats.size} nodes: $q")
    val Seq(aPat, bPat) = pats
    val arrow = inner.substring(aPat.end, bPat.start).trim
    val (relSpec, reversed, undirected, star, relProps) = arrow match {
      case fwdArrow(v, rel, st, pr) =>
        require(v == null, s"relationship variable in $kw: $q")
        (rel, false, false, st, pr)
      case bwdArrow(v, rel, st, pr) =>
        require(v == null, s"relationship variable in $kw: $q")
        (rel, true, false, st, pr)
      // UNDIRECTED variable-length search (r15): BFS over the
      // symmetrized scan — Neo4j's `shortestPath((a)-[:R*]-(b))`
      case undirArrow(v, rel, st, pr) =>
        require(v == null, s"relationship variable in $kw: $q")
        (rel, false, true, st, pr)
      case other => throw new IllegalArgumentException(
        s"unsupported $kw relationship '$other'")
    }
    require(star != null,
      s"$kw needs a variable-length relationship (add *): $q")
    // lenient star grammar: `*` | `*n` | `*..n` | `*m..n` | `*m..`
    val body = star.stripPrefix("*").trim
    val (minH, maxH) =
      if (body.isEmpty) (1, spathMaxDepth)
      else if (body.contains("..")) {
        val parts = body.split("\\.\\.", -1).map(_.trim)
        require(parts.length == 2, s"malformed spec '$star'")
        (if (parts(0).isEmpty) 1 else parts(0).toInt,
          if (parts(1).isEmpty) spathMaxDepth else parts(1).toInt)
      } else (body.toInt, body.toInt)
    // a bound beyond the BFS safety cap is its own error — clamping
    // silently would mislabel `*40` as an "empty hop range"
    require(maxH <= spathMaxDepth,
      s"hop bound $maxH exceeds spathMaxDepth ($spathMaxDepth): '$star'")
    require(minH >= 0 && minH <= maxH, s"empty hop range '$star'")
    SpParts(pVar, aPat, bPat,
      Hop(relSpec, reversed, 1, 1,
        Option(relProps).map(parseProps).getOrElse(Map.empty)),
      reversed, minH, maxH, tail, undirected)
  }

  /** Seed frame (column `s`) of the shortestPath/allShortestPaths BFS
    * (r18, verdict task #4). Without an UNWIND prelude: the anchor
    * pattern's node scan, as before. With one: the unwound literal
    * values seed the frontier DIRECTLY — per-row source sets are
    * exactly the multi-source BFS the frontier fixpoint already runs —
    * with a LeftSemi prune against the (rest-of-pattern-filtered) node
    * scan so an off-graph or label-mismatched seed binds nothing
    * (plan-shape-pinned in PlanShapeSpec). The unwound variable must
    * anchor the start node's key (`(a {full_name: x})` — Neo4j's bare
    * word in a property map IS a variable reference); its tail reads
    * rewrite to the BFS frame's `__pstart`. Duplicate seed values
    * raise (the frontier is keyed by start — a duplicate would
    * silently collapse its multiplicity). */
  private def spathSeedFrame(nodes: DataFrame, aPat: NodePat,
      unwinds: Seq[Unwind], q: String): (DataFrame, Option[String]) = {
    if (unwinds.isEmpty)
      return (nodes.filter(nodePred(aPat.labels, aPat.props))
        .select(col("full_name").as("s")), None)
    require(unwinds.size == 1,
      s"at most one UNWIND prelude before a shortestPath search: $q")
    val u = unwinds.head
    require(u.range.isEmpty,
      s"UNWIND range() cannot seed a shortestPath start set: $q")
    require(aPat.props.get("full_name").contains(u.v),
      s"UNWIND before shortestPath must anchor the start node on the " +
        s"unwound variable (`(a {full_name: ${u.v}})`): $q")
    require(u.values.distinct.size == u.values.size,
      s"duplicate UNWIND seed values before shortestPath: $q")
    val spark = nodes.sparkSession
    import spark.implicits._
    val seed = u.values.toDF("s")
    val rest = aPat.props - "full_name"
    val pruned = seed.join(nodes.filter(nodePred(aPat.labels, rest))
      .select(col("full_name").as("s")), Seq("s"), "left_semi")
    // recorded for PlanShapeSpec: the frontier localCheckpoints
    // eagerly, so the final query plan cannot show this join
    lastSpathSeedPlan = pruned.queryExecution.optimizedPlan.toString
    (pruned, Some(u.v))
  }

  /** Optimized plan of the last UNWIND-seeded path-search seed frame
    * (r18) — test instrumentation only; see [[spathSeedFrame]]. */
  @volatile private[graft] var lastSpathSeedPlan: String = ""

  /** Driver-local multi-source BFS for the two path executors (r19):
    * when the traversal edge set fits the [[Bounded]] probe AND the
    * seed set is small, the per-level frontier
    * loop (one scheduler round-trip per level, each with 3-5 AQE stage
    * sub-jobs) runs as one driver pass with the identical recurrences —
    * d = first-reach level, par = MIN predecessor among the settling
    * level's frontier rows (every edge OCCURRENCE a row, as in the
    * groupBy), np = Σ np(pred) over edge occurrences (exact longs, the
    * fused count DP). Returns (s, v, d, par, np) per settled pair. */
  private def spathBfsLocal(e: DataFrame, seedF: DataFrame, maxH: Int,
      seedCap: Int = 64)
      : Option[Seq[(String, String, Long, Option[String], Long)]] = {
    val th = Bounded.threshold
    if (th <= 0) return None
    // seeds first (tiny); a large seed set takes the distributed arm —
    // driver work is Σ_seed |reached edges|, bounded only for few seeds
    val seeds = Bounded.collect(seedF, seedCap).getOrElse(return None)
      .map(_.getString(0))
    val probe = Bounded.collect(e.select(col("src"), col("dst")), th)
      .getOrElse(return None).map(r => (r.getString(0), r.getString(1)))
    val adj = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    probe.foreach { case (u, w) =>
      adj.getOrElseUpdate(u,
        scala.collection.mutable.ArrayBuffer.empty) += w
    }
    val emptyA = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Option[String], Long)]
    for (s <- seeds) {
      val dist = scala.collection.mutable.HashMap.empty[String, Int]
      val np = scala.collection.mutable.HashMap.empty[String, Long]
      var frontier = scala.collection.mutable.ArrayBuffer(s)
      dist(s) = 0; np(s) = 1L
      out += ((s, s, 0L, None, 1L))
      var i = 1
      while (i <= maxH && frontier.nonEmpty) {
        val cand = scala.collection.mutable.LinkedHashMap
          .empty[String, (Long, String)]
        for (u <- frontier; w <- adj.getOrElse(u, emptyA))
          if (!dist.contains(w)) {
            cand(w) = cand.get(w) match {
              case None => (np(u), u)
              case Some((n, p)) => (n + np(u), if (u < p) u else p)
            }
          }
        val nxt = scala.collection.mutable.ArrayBuffer.empty[String]
        cand.foreach { case (w, (n, p)) =>
          dist(w) = i; np(w) = n
          out += ((s, w, i.toLong, Some(p), n))
          nxt += w
        }
        frontier = nxt
        i += 1
      }
    }
    Some(out.toSeq)
  }

  private def executeShortestPath(nodes: DataFrame, edges: DataFrame,
      q: String, spIdx: Int, unwinds: Seq[Unwind] = Seq.empty)
      : DataFrame = {
    val sp = parseSpathPattern(q, spIdx, "shortestPath")
    val SpParts(pVar, aPat, bPat, hop, reversed, minH, maxH, tail,
      undirected) = sp
    val scan = hopEdges(edges, hop)
    // BFS space: reversed arrows flip the scan; UNDIRECTED (r15)
    // unions both orientations. PHYSICAL (psrc, pdst) ride along with
    // rel_type so path reconstruction emits the REAL edge whatever the
    // traversal direction was.
    val eTyped = spathTraversalFrame(scan, reversed, undirected)
    val e = eTyped.select(col("src"), col("dst"))
      .repartition(col("src")).pin(eager = false)

    // multi-source frontier BFS keyed by the start node: settled
    // (s, v, d, par) holds the first (= shortest) level each
    // (start, vertex) pair met, plus the MIN predecessor at that level
    // — a deterministic parent pointer, so ONE shortest path per pair
    // (Neo4j's shortestPath contract) reconstructs by backtracking
    val (seedF, seedVar) = spathSeedFrame(nodes, aPat, unwinds, q)
    val settled: DataFrame =
      spathBfsLocal(eTyped.select(col("src"), col("dst")), seedF,
          maxH) match {
        case Some(state) =>
          val spark = nodes.sparkSession
          import spark.implicits._
          state.map { case (s, v, d, par, _) => (s, v, d, par) }
            .toDF("s", "v", "d", "par")
        case None =>
          var frontier = seedF
            .withColumn("v", col("s")).withColumn("d", lit(0L))
            .withColumn("par", lit(null).cast("string"))
            .pin(eager = false)
          var st = frontier
          var i = 1
          var done = frontier.count() == 0
          while (i <= maxH && !done) {
            val nxt = e
              .join(frontier.select(col("s"), col("v").as("src")), "src")
              .groupBy(col("s"), col("dst"))
              .agg(min(col("src")).as("par"))
              .select(col("s"), col("dst").as("v"), col("par"))
              .join(st.select(col("s"), col("v")), Seq("s", "v"),
                "left_anti")
              .select(col("s"), col("v"), lit(i.toLong).as("d"), col("par"))
              .pin(eager = false)
            if (nxt.count() == 0L) done = true
            else { st = st.unionByName(nxt); frontier = nxt; i += 1 }
          }
          st
      }

    val paths = settled.filter(col("d") >= minH && col("d") <= maxH)
    val vars = Map(aPat.v -> "n0", bPat.v -> "n1")
    var df = paths
      .join(nodes.alias("n0"), col("n0.full_name") === col("s"))
      .join(nodes.filter(nodePred(bPat.labels, bPat.props)).alias("n1"),
        col("n1.full_name") === col("v"))
      .withColumn("__plen", col("d"))
      .withColumn("__pstart", col("s"))
      .withColumn("__pend", col("v"))
      .withColumn("__pnn", col("d") + 1)

    // r12: nodes(p)/relationships(p) projections — reconstruct THE
    // shortest path per (s, v) by backtracking the parent pointers,
    // maxD level-bounded rounds, each one (still-building rows) ⋈
    // settled ⋈ min-rel-type edge join; node lists are in PATTERN order
    // (a … b), rel structs keep PHYSICAL orientation under reversed
    // arrows. Built only when the tail actually references them AFTER
    // the demand-only rewrite (r17): endpoint/length reads never
    // trigger the reconstruction loop.
    val pQuoted = java.util.regex.Pattern.quote(pVar)
    // r18: reads of the unwound seed variable are reads of the path's
    // start key — rewrite to the BFS frame's own column
    val tailS = seedVar.fold(tail)(v => replaceOutsideQuotes(tail,
      "\\b" + java.util.regex.Pattern.quote(v) + "\\b", "__pstart"))
    val tail2 = rewriteEndpointReads(tailS, pQuoted)
    val needPaths =
      ("(?i)\\b(nodes|relationships)\\(\\s*" + pQuoted + "\\s*\\)").r
        .findFirstIn(tail2).isDefined
    if (needPaths) {
      val eMin = eTyped.groupBy("src", "dst")
        .agg(min(struct(col("rel_type").as("rt"), col("psrc"),
          col("pdst"))).as("m"))
        .pin(eager = false)
      val emptyRels = expr("CAST(array() AS " +
        "array<struct<src:string,rel_type:string,dst:string>>)")
      // reconstruct only QUALIFYING pairs (r17): when the right
      // endpoint is filtered, pairs outside its key set never survive
      // the n1 join — skip their backtrack entirely
      val stBase =
        if (bPat.labels.isEmpty && bPat.props.isEmpty) paths
        else paths.join(nodes.filter(nodePred(bPat.labels, bPat.props))
          .select(col("full_name").as("v")).distinct(), Seq("v"),
          "left_semi")
      var st = stBase.select(col("s"), col("v"), col("v").as("cur"),
          array(col("v")).as("__bn"), emptyRels.as("__br"),
          col("d").as("rem"))
        .pin(eager = false)
      val maxD = paths.agg(coalesce(max(col("d")), lit(0L)))
        .collect()(0).getLong(0)
      for (_ <- 1L to maxD) {
        val settledRows = st.filter(col("rem") === 0)
        // the PHYSICAL edge rides the eMin struct — one spelling for
        // forward, reversed and undirected traversal alike (r15)
        val relStruct =
          struct(col("t.m.psrc").as("src"), col("t.m.rt").as("rel_type"),
            col("t.m.pdst").as("dst"))
        val step = st.filter(col("rem") > 0).alias("p")
          .join(settled.alias("q"),
            col("p.s") === col("q.s") && col("p.cur") === col("q.v") &&
              col("q.d") === col("p.rem"))
          .join(eMin.alias("t"),
            col("t.src") === col("q.par") && col("t.dst") === col("p.cur"))
          .select(col("p.s").as("s"), col("p.v").as("v"),
            col("q.par").as("cur"),
            concat(array(col("q.par")), col("p.__bn")).as("__bn"),
            concat(array(relStruct), col("p.__br")).as("__br"),
            (col("p.rem") - 1).as("rem"))
        // r19: lazy — the whole backtrack chain executes inside the
        // final action's single job, level states persisting as they go
        st = settledRows.unionByName(step).pin(eager = false)
      }
      df = df.join(st.select(col("s").as("__ps"), col("v").as("__pv"),
          col("__bn").as("__pnodes"), col("__br").as("__prels")),
        col("s") === col("__ps") && col("v") === col("__pv"))
        .drop("__ps", "__pv")
    }

    def rewritePathFns(t: String): String = {
      var r = replaceOutsideQuotes(t,
        "(?i)\\b(?:length|size)\\(\\s*" + pQuoted + "\\s*\\)", "__plen")
      r = replaceOutsideQuotes(r,
        "(?i)\\bnodes\\(\\s*" + pQuoted + "\\s*\\)", "__pnodes")
      replaceOutsideQuotes(r,
        "(?i)\\brelationships\\(\\s*" + pQuoted + "\\s*\\)", "__prels")
    }
    val plainCols = Set("__plen", "__pstart", "__pend", "__pnn") ++
      (if (needPaths) Set("__pnodes", "__prels") else Set.empty[String])

    var rest = tail2
    val retIdx2 = topLevelKeyword(rest, "RETURN")
    require(retIdx2 >= 0, s"shortestPath needs a RETURN clause: $q")
    val whereIdx = topLevelKeyword(rest, "WHERE")
    if (whereIdx >= 0 && whereIdx < retIdx2)
      df = df.filter(parseWhere(
        rewritePathFns(rest.substring(whereIdx + 5, retIdx2).trim),
        ref => if (plainCols(ref)) col(ref) else matchScope(vars)(ref)))
    // path projections rewrite to plain columns so the ordinary RETURN
    // machinery (aliases, ORDER BY, aggregates) applies unchanged
    val ret = rewritePathFns(rest.substring(retIdx2 + 6).trim)
    shapeResult(df, ret, vars, plainCols)
  }

  /** DEMAND-ONLY path reads rewritten to scalar columns (r17, verdict
    * task #1): `head(nodes(p))` / `last(nodes(p))` are the path's
    * endpoints and `size(relationships(p))` / `size(nodes(p))` are
    * length-derived — none needs the arrays, so a tail reading only
    * these shapes (the reference workload's hydrated-traversal
    * projections) skips per-path reconstruction entirely: the
    * shortestPath/allShortestPaths plan collapses to the BFS + joins. */
  private def rewriteEndpointReads(t: String, pQuoted: String): String = {
    var r = replaceOutsideQuotes(t,
      "(?i)\\bhead\\(\\s*nodes\\(\\s*" + pQuoted + "\\s*\\)\\s*\\)",
      "__pstart")
    r = replaceOutsideQuotes(r,
      "(?i)\\blast\\(\\s*nodes\\(\\s*" + pQuoted + "\\s*\\)\\s*\\)",
      "__pend")
    r = replaceOutsideQuotes(r,
      "(?i)\\bsize\\(\\s*relationships\\(\\s*" + pQuoted + "\\s*\\)\\s*\\)",
      "__plen")
    replaceOutsideQuotes(r,
      "(?i)\\bsize\\(\\s*nodes\\(\\s*" + pQuoted + "\\s*\\)\\s*\\)",
      "__pnn")
  }

  /** `MATCH p = allShortestPaths((a…)-[:R*…]->(b…)) …` — EVERY shortest
    * path per endpoint pair, one row per path (Neo4j's multiplicity;
    * plain `shortestPath` returns one). Plan (r17): ONE multi-source
    * BFS carries both distances and path COUNTS (np(s,v) = Σ np(s,u)
    * over the parallel-typed edges arriving at v's settling level — the
    * per-level groupBy IS the count DP). A tail reading only
    * length/endpoints explodes the counts into rows directly — no DAG,
    * no per-path state. A tail demanding `nodes(p)`/`relationships(p)`
    * builds the per-start LAYERED DAG (edges (u, w) with d(u)+1 = d(w))
    * and reconstructs BACKWARD from qualifying (start, target) pairs,
    * so only demanded paths ever materialize. Parallel edges of
    * different rel types are DISTINCT paths, as in Neo4j; the
    * spathMaxDepth cap bounds depth, never correctness. */
  private def executeAllShortestPaths(nodes: DataFrame, edges: DataFrame,
      q: String, idx: Int, unwinds: Seq[Unwind] = Seq.empty)
      : DataFrame = {
    val sp = parseSpathPattern(q, idx, "allShortestPaths")
    val SpParts(pVar, aPat, bPat, hop, reversed, minH, maxH, tail,
      undirected) = sp
    val scan = hopEdges(edges, hop)
    val eTyped = spathTraversalFrame(scan, reversed, undirected)
      .distinct()
      .pin(eager = false)
    // NOT distinct'd: parallel edges of different rel types are
    // DISTINCT shortest paths (Neo4j), and the fused count DP (r17)
    // rides multiplicity through this frame
    val e = eTyped.select(col("src"), col("dst"))
      .repartition(col("src")).pin(eager = false)
    val (seedF, seedVar) = spathSeedFrame(nodes, aPat, unwinds, q)
    // r17 (fused count DP): the shortest-path COUNT rides the BFS
    // frontier — np(s, v) = Σ np(s, u) over parallel-typed edges u→v
    // arriving at v's settling level (the groupBy IS the per-level DP
    // the r16 code ran as a second maxD-round loop over the layered
    // DAG) — so the length-only arm below needs neither the DAG build
    // (two settled self-joins) nor any extra per-level jobs.
    val settled: DataFrame =
      spathBfsLocal(eTyped.select(col("src"), col("dst")), seedF,
          maxH) match {
        case Some(state) =>
          val spark = nodes.sparkSession
          import spark.implicits._
          state.map { case (s, v, d, _, np) => (s, v, d, np) }
            .toDF("s", "v", "d", "np")
        case None =>
          var frontier = seedF
            .withColumn("v", col("s")).withColumn("d", lit(0L))
            .withColumn("np", lit(1L))
            .pin(eager = false)
          var st = frontier
          var i = 1
          var done = frontier.count() == 0
          while (i <= maxH && !done) {
            val nxt = e.join(frontier.select(col("s"), col("np"),
                col("v").as("src")), "src")
              .select(col("s"), col("dst").as("v"), col("np"))
              .groupBy("s", "v").agg(sum("np").as("np"))
              .join(st.select(col("s"), col("v")), Seq("s", "v"),
                "left_anti")
              .select(col("s"), col("v"), lit(i.toLong).as("d"), col("np"))
              .pin(eager = false)
            if (nxt.count() == 0L) done = true
            else { st = st.unionByName(nxt); frontier = nxt; i += 1 }
          }
          st
      }
    val pQuoted0 = java.util.regex.Pattern.quote(pVar)
    // r18: reads of the unwound seed variable rewrite to the start key
    val tailS = seedVar.fold(tail)(v => replaceOutsideQuotes(tail,
      "\\b" + java.util.regex.Pattern.quote(v) + "\\b", "__pstart"))
    val tail2 = rewriteEndpointReads(tailS, pQuoted0)
    val needsPaths = Seq("nodes", "relationships").exists(fn =>
      ("(?i)\\b" + fn + "\\(\\s*" + pQuoted0 + "\\s*\\)").r
        .findFirstIn(tail2).isDefined)
    val maxD = settled.agg(coalesce(max(col("d")), lit(0L)))
      .collect()(0).getLong(0)
    // the right endpoint's key set — BOTH arms prune to it before any
    // per-path work (r17): counts explode / paths reconstruct only for
    // (start, target) pairs that actually qualify. None when the right
    // endpoint is unfiltered (a semi-join against every vertex would
    // only add cost).
    val bKeys: Option[DataFrame] =
      if (bPat.labels.isEmpty && bPat.props.isEmpty) None
      else Some(nodes.filter(nodePred(bPat.labels, bPat.props))
        .select(col("full_name").as("v")).distinct())
    if (!needsPaths) {
      // the counts already rode the BFS (fused DP, r17): settled IS
      // the per-(start, vertex) multiplicity table
      val allC = settled.select(col("s"), col("v").as("cur"),
        col("d"), col("np"))
      val inRange0 = allC.filter(col("d") >= minH && col("d") <= maxH)
      val inRange = bKeys.fold(inRange0)(b => inRange0
        .join(b.select(col("v").as("cur")), Seq("cur"), "left_semi"))
      val totPaths = inRange.agg(coalesce(sum(col("np")), lit(0L)))
        .collect()(0).getLong(0)
      require(totPaths <= allspLevelRowCap,
        s"allShortestPaths path multiplicity $totPaths exceeds the " +
          s"$allspLevelRowCap cap — narrow the endpoint patterns: $q")
      val paths = inRange
        .withColumn("__dup", explode(sequence(lit(1L), col("np"))))
        .drop("np", "__dup")
      val vars = Map(aPat.v -> "n0", bPat.v -> "n1")
      var df = paths
        .join(nodes.alias("n0"), col("n0.full_name") === col("s"))
        .join(nodes.filter(nodePred(bPat.labels, bPat.props)).alias("n1"),
          col("n1.full_name") === col("cur"))
        .withColumn("__plen", col("d"))
        .withColumn("__pstart", col("s"))
        .withColumn("__pend", col("cur"))
        .withColumn("__pnn", col("d") + 1)
      def rewriteLen(t: String): String = replaceOutsideQuotes(t,
        "(?i)\\b(?:length|size)\\(\\s*" + pQuoted0 + "\\s*\\)", "__plen")
      val plainCols = Set("__plen", "__pstart", "__pend", "__pnn")
      var rest = tail2
      val retIdx2 = topLevelKeyword(rest, "RETURN")
      require(retIdx2 >= 0, s"allShortestPaths needs a RETURN clause: $q")
      val whereIdx = topLevelKeyword(rest, "WHERE")
      if (whereIdx >= 0 && whereIdx < retIdx2)
        df = df.filter(parseWhere(
          rewriteLen(rest.substring(whereIdx + 5, retIdx2).trim),
          ref => if (plainCols(ref)) col(ref) else matchScope(vars)(ref)))
      val ret = rewriteLen(rest.substring(retIdx2 + 6).trim)
      return shapeResult(df, ret, vars, plainCols)
    }
    // checkpoint-and-strip: localCheckpoint preserves the frame's
    // constraint set, and when a lineage held duplicate-named attrs the
    // preserved set can reference REWRITTEN ids no longer in the output
    // (Spark logs "output columns are expected to the same … but they
    // aren't") — a later union's constraint-rewrite then throws
    // key-not-found. Rebuilding from the checkpointed RDD drops the
    // stale set; the data is already materialized, so the extra wrap is
    // one row-conversion pass over an output-bounded frame.
    def ckptClean(f: DataFrame): DataFrame = {
      val g = f.pin(eager = true)
      g.sparkSession.createDataFrame(g.rdd, g.schema)
    }
    // per-start layered DAG (per-path arm only, r17 — the length-only
    // arm above reads the fused BFS counts): edges that advance the
    // BFS level; every path in it is a shortest-path prefix
    val spE = eTyped.alias("t")
      .join(settled.alias("u"), col("t.src") === col("u.v"))
      .join(settled.alias("w"),
        col("w.s") === col("u.s") && col("t.dst") === col("w.v") &&
          col("w.d") === col("u.d") + 1)
      .select(col("u.s").as("s"), col("t.src").as("esrc"),
        col("t.dst").as("edst"), col("t.rel_type").as("rt"),
        col("t.psrc").as("xpsrc"), col("t.pdst").as("xpdst"),
        col("w.d").as("dl"))
    // r17 (verdict task #1): the per-path arm reconstructs BACKWARD
    // from QUALIFYING endpoints — (start, target, d) triples whose
    // target satisfies the right pattern and whose depth is in range —
    // walking the layered DAG's predecessor levels d, d-1, …, 1 and
    // PREPENDING each edge. Only paths that reach a qualifying endpoint
    // ever materialize; the old forward enumeration carried every path
    // to every vertex and filtered at the end. In-flight partials never
    // exceed the final path count (each partial extends to ≥1 output
    // path, injectively), so the row cap is now a safety assert on
    // genuinely-demanded output, not a substitute for a plan.
    val emptyRels = expr("CAST(array() AS " +
      "array<struct<src:string,rel_type:string,dst:string>>)")
    val settledInRange = settled.pin(eager = true)
      .filter(col("d") >= minH && col("d") <= maxH)
    val qual = ckptClean(bKeys.fold(settledInRange)(b =>
      settledInRange.join(b, Seq("v"), "left_semi")))
    // a backward-partitioned copy of the DAG: every walk level joins on
    // (s, edst), so pre-partitioning there avoids re-shuffling the DAG
    // each round (localCheckpoint preserves the partitioning info)
    val spEB = ckptClean(spE.repartition(col("s"), col("edst")))
    // one partial-reconstruction row per qualifying (start, target)
    // pair, entering the walk at its own depth
    def entering(lvl: Long): DataFrame = qual.filter(col("d") === lvl)
      .select(col("s"), col("v").as("tgt"), col("d"),
        col("v").as("cur"),
        array(col("v")).as("__pnodes"), emptyRels.as("__prels"))
    var rows: DataFrame = null
    for (lvl <- maxD to 1L by -1L) {
      val ent = entering(lvl)
      rows = if (rows == null) ent else rows.unionByName(ent)
      // the PHYSICAL edge rides spE — one spelling for forward,
      // reversed and undirected traversal alike (r15)
      val relStruct =
        struct(col("x.xpsrc").as("src"), col("x.rt").as("rel_type"),
          col("x.xpdst").as("dst"))
      rows = rows.alias("p")
        .join(spEB.alias("x"),
          col("p.s") === col("x.s") && col("p.cur") === col("x.edst") &&
            col("x.dl") === lvl)
        .select(col("p.s").as("s"), col("p.tgt").as("tgt"),
          col("p.d").as("d"), col("x.esrc").as("cur"),
          concat(array(col("x.esrc")), col("p.__pnodes")).as("__pnodes"),
          concat(array(relStruct), col("p.__prels")).as("__prels"))
      rows = ckptClean(rows)
      // safety assert (r13 origin, demoted r17): the backward walk
      // carries only demanded paths, so tripping this means the OUTPUT
      // itself exceeds the cap — fail loud either way. The count()
      // reads the just-materialized checkpoint (cheap).
      val nLvl = rows.count()
      require(nLvl <= allspLevelRowCap,
        s"allShortestPaths path multiplicity exceeds cap at level $lvl " +
          s"($nLvl > $allspLevelRowCap shortest paths demanded) — " +
          s"narrow the endpoint patterns: $q")
    }
    // after the walk every partial sits at level 0 (cur == s, the only
    // depth-0 vertex of start s's own DAG); zero-length paths (a == b,
    // minH == 0) enter directly
    val cols5 = Seq("s", "tgt", "d", "__pnodes", "__prels").map(col)
    val zero = entering(0L).select(cols5: _*)
    val paths = (if (rows == null) zero
      else rows.select(cols5: _*).unionByName(zero))
      .withColumnRenamed("tgt", "cur")
    val vars = Map(aPat.v -> "n0", bPat.v -> "n1")
    var df = paths
      .join(nodes.alias("n0"), col("n0.full_name") === col("s"))
      .join(nodes.filter(nodePred(bPat.labels, bPat.props)).alias("n1"),
        col("n1.full_name") === col("cur"))
      .withColumn("__plen", col("d"))
      .withColumn("__pstart", col("s"))
      .withColumn("__pend", col("cur"))
      .withColumn("__pnn", col("d") + 1)
    val pQuoted = java.util.regex.Pattern.quote(pVar)
    def rewritePathFns(t: String): String = {
      var r = replaceOutsideQuotes(t,
        "(?i)\\b(?:length|size)\\(\\s*" + pQuoted + "\\s*\\)", "__plen")
      r = replaceOutsideQuotes(r,
        "(?i)\\bnodes\\(\\s*" + pQuoted + "\\s*\\)", "__pnodes")
      replaceOutsideQuotes(r,
        "(?i)\\brelationships\\(\\s*" + pQuoted + "\\s*\\)", "__prels")
    }
    val plainCols = Set("__plen", "__pnodes", "__prels",
      "__pstart", "__pend", "__pnn")
    var rest = tail2
    val retIdx2 = topLevelKeyword(rest, "RETURN")
    require(retIdx2 >= 0, s"allShortestPaths needs a RETURN clause: $q")
    val whereIdx = topLevelKeyword(rest, "WHERE")
    if (whereIdx >= 0 && whereIdx < retIdx2)
      df = df.filter(parseWhere(
        rewritePathFns(rest.substring(whereIdx + 5, retIdx2).trim),
        ref => if (plainCols(ref)) col(ref) else matchScope(vars)(ref)))
    val ret = rewritePathFns(rest.substring(retIdx2 + 6).trim)
    shapeResult(df, ret, vars, plainCols)
  }

  /** `q1 UNION [ALL] q2 [UNION [ALL] q3 …]` — each branch plans
    * independently through [[execute]] and the results combine by
    * position: Neo4j requires every branch to return the SAME column
    * names, and so do we (checked, clear raise). Plain UNION dedups
    * rows (Neo4j semantics); mixing UNION and UNION ALL in one query
    * raises, as it does in Neo4j. Distinct-on-map-columns (a
    * `properties()` projection under plain UNION) cannot hash — raise
    * with the UNION ALL workaround named. */
  private def executeUnion(nodes: DataFrame, edges: DataFrame, q: String,
      unionPos: Seq[Int]): DataFrame = {
    val allRe = """^(?i)UNION\s+ALL""".r
    val seps = unionPos.map { p =>
      val isAll = allRe.findFirstIn(q.substring(p)).isDefined
      (p, if (isAll) allRe.findFirstIn(q.substring(p)).get.length else 5)
    }
    val allFlags = seps.map(_._2 > 5)
    require(allFlags.distinct.size == 1,
      s"cannot mix UNION and UNION ALL in one query: $q")
    val starts = 0 +: seps.map { case (p, len) => p + len }
    val ends = seps.map(_._1) :+ q.length
    val parts = starts.zip(ends).map { case (s, e) => q.substring(s, e).trim }
    parts.foreach(p => require(p.nonEmpty, s"empty UNION branch: $q"))
    val dfs = parts.map(execute(nodes, edges, _))
    val colSets = dfs.map(_.columns.toSeq)
    require(colSets.distinct.size == 1,
      s"all UNION branches must return the same columns; got " +
        s"${colSets.map(_.mkString("(", ", ", ")")).mkString(" vs ")}")
    val combined = dfs.reduce(_ unionAll _)
    if (allFlags.head) combined
    else {
      require(!combined.schema.exists(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]),
        "UNION (distinct) over a map-typed column (properties()) cannot " +
          "hash — use UNION ALL")
      combined.dropDuplicates()
    }
  }

  /** [[execute]] with Neo4j-style query parameters — `$name` tokens are
    * inlined via [[substituteParams]] before parsing. */
  def execute(nodes: DataFrame, edges: DataFrame, query: String,
      params: Map[String, Any]): DataFrame =
    execute(nodes, edges, substituteParams(query, params))

  /** One parsed `UNWIND [...] AS x` prelude: the variable and its
    * literal values (unquoted, in list order) — or, r16, a
    * `range(start, end[, step])` spec generated IN-PLAN (Spark
    * `sequence`, inclusive bounds like Cypher's), so the batch idiom
    * `UNWIND range(1, 1000000) AS i` never materializes driver-side
    * literals. */
  private final case class Unwind(v: String, values: Seq[String],
      range: Option[(Long, Long, Long)] = None)

  /** Loud budget on UNWIND range() extent: the generated sequence is
    * one in-memory array per driving row, so an unbounded extent is a
    * job-killer — raise, the module's posture. */
  private val unwindRangeBudget = 10000000L

  /** Parse the leading `UNWIND [literals] AS x` clauses (zero or more)
    * off the query; returns them plus the remaining text. Quote-aware:
    * a `]` inside a quoted list element is literal. Only literal lists
    * (or, upstream, a `$param` list the substitution already inlined)
    * are supported — UNWINDing a collected sub-result is Neo4j surface
    * we don't model. */
  private def parseUnwinds(q0: String): (Seq[Unwind], String) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Unwind]
    var q = q0
    val rangeRe =
      """^(?i)range\s*\(\s*(-?\d+)\s*,\s*(-?\d+)\s*(?:,\s*(-?\d+)\s*)?\)""".r
    val asRe0 = """^(?i)AS\s+(\w+)\s*""".r
    while (q.regionMatches(true, 0, "UNWIND", 0, 6) &&
        (q.length == 6 || !isWordChar(q.charAt(6)))) {
      val rest = q.substring(6).trim
      rangeRe.findPrefixMatchOf(rest) match {
        case Some(m) =>
          // `UNWIND range(a, b[, step]) AS x` (r16, verdict task #6):
          // inclusive bounds, optional (possibly negative) step —
          // matched in-plan by Spark's sequence() at addUnwinds
          val step = Option(m.group(3)).map(_.toLong).getOrElse(1L)
          require(step != 0, s"range() step must be non-zero: $q")
          val (a, b) = (m.group(1).toLong, m.group(2).toLong)
          val extent = if (step > 0) (b - a) / step else (a - b) / -step
          require(extent < unwindRangeBudget,
            s"UNWIND range() extent ${extent + 1} exceeds the " +
              s"$unwindRangeBudget-element budget: $q")
          val tail = rest.substring(m.matched.length).trim
          val mAs = asRe0.findFirstMatchIn(tail).getOrElse(
            throw new IllegalArgumentException(
              s"UNWIND needs `AS <var>`: $q"))
          out += Unwind(mAs.group(1), Seq.empty, Some((a, b, step)))
          q = tail.substring(mAs.matched.length).trim
        case None =>
          q = parseOneListUnwind(rest, q, out)
      }
    }
    require(out.map(_.v).distinct.size == out.size,
      s"repeated UNWIND variable: $q0")
    (out.toSeq, q)
  }

  /** The literal-list arm of [[parseUnwinds]]; returns the remaining
    * query text after consuming one `[…] AS x`. */
  private def parseOneListUnwind(rest: String, q: String,
      out: scala.collection.mutable.ArrayBuffer[Unwind]): String = {
    require(rest.startsWith("["),
      s"UNWIND expects a literal list, range(), or a \\$$param list: $q")
    // find the matching top-level ']' honoring quotes
    var i = 1
    var quote: Char = 0
    var end = -1
    while (i < rest.length && end < 0) {
      val c = rest.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == ']') end = i
      i += 1
    }
    require(end > 0, s"unterminated UNWIND list: $q")
    val values = splitTop(rest.substring(1, end), ",").map(unquote)
    val tail = rest.substring(end + 1).trim
    val asRe = """^(?i)AS\s+(\w+)\s*""".r
    val m = asRe.findFirstMatchIn(tail).getOrElse(
      throw new IllegalArgumentException(s"UNWIND needs `AS <var>`: $q"))
    out += Unwind(m.group(1), values)
    tail.substring(m.matched.length).trim
  }

  /** `replaceAll` applied only OUTSIDE single/double-quoted string
    * literals (r13, advisor finding): the textual path-function rewrite
    * must never mangle a quoted property literal like
    * `{full_name: 'length(p)'}` — plausible text in this code-graph
    * domain, and the clause splitter is quote-aware for the same
    * reason. Backslash escapes honored; an unterminated quote keeps its
    * tail literal (the parser raises on it elsewhere). */
  private def replaceOutsideQuotes(s: String, regex: String,
      repl: String): String = {
    val sb = new StringBuilder
    var i = 0; var segStart = 0; var quote: Char = 0
    def flushCode(end: Int): Unit =
      sb.append(s.substring(segStart, end).replaceAll(regex, repl))
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) {
          sb.append(s.substring(segStart, i + 1)); segStart = i + 1
          quote = 0
        }
      } else if (c == '\'' || c == '"') {
        flushCode(i); segStart = i; quote = c
      }
      i += 1
    }
    if (quote != 0) sb.append(s.substring(segStart))
    else flushCode(s.length)
    sb.toString
  }

  /** PATH VARIABLES in plain MATCH (r12): strip `p =` after each
    * top-level MATCH (ordinal-keyed, so the clause builder knows which
    * chain materializes which path), and textually rewrite
    * `nodes(p)`/`relationships(p)`/`length(p)`/`size(p)` anywhere in
    * the query to the plain columns [[buildChain]] adds — the
    * shortestPath `__plen` trick, generalized. Returns (rewritten
    * query, path var per MATCH ordinal, the plain column names). */
  private def extractPathVars(q: String)
      : (String, Map[Int, String], Set[String]) = {
    val mPos = allTopLevelKeywords(q, "MATCH")
    val assignRe = """\A\s*(\w+)\s*=\s*\(""".r
    val sb = new StringBuilder(q)
    val byMatch = scala.collection.mutable.Map.empty[Int, String]
    // right-to-left so earlier offsets stay valid while stripping
    for ((p, ix) <- mPos.zipWithIndex.reverse) {
      assignRe.findPrefixMatchOf(q.substring(p + 5)).foreach { m =>
        byMatch(ix) = m.group(1)
        sb.replace(p + 5, p + 5 + m.end - 1, " ") // keep the '('
      }
    }
    if (byMatch.isEmpty) return (q, Map.empty, Set.empty)
    val names = byMatch.values.toSeq
    require(names.distinct.size == names.size,
      s"repeated path variable across MATCH clauses: $q")
    var out = sb.toString
    for (pv <- names) {
      val w = java.util.regex.Pattern.quote(pv)
      out = replaceOutsideQuotes(out,
        s"(?i)\\bnodes\\(\\s*$w\\s*\\)", s"__pnodes_$pv")
      out = replaceOutsideQuotes(out,
        s"(?i)\\brelationships\\(\\s*$w\\s*\\)", s"__prels_$pv")
      out = replaceOutsideQuotes(out,
        s"(?i)\\b(?:length|size)\\(\\s*$w\\s*\\)", s"__plen_$pv")
    }
    val cols = names.flatMap(pv =>
      Seq(s"__pnodes_$pv", s"__prels_$pv", s"__plen_$pv")).toSet
    (out, byMatch.toMap, cols)
  }

  def execute(nodes: DataFrame, edges: DataFrame, query: String): DataFrame = {
    val q0 = query.trim
    locally {
      // UNION splits FIRST — each branch is a full sub-query (possibly a
      // shortestPath or WITH-piped one) planned independently
      val unionPos = allTopLevelKeywords(q0, "UNION")
      if (unionPos.nonEmpty) return executeUnion(nodes, edges, q0, unionPos)
    }
    // UNWIND preludes: `UNWIND [...] AS x [UNWIND …] MATCH … / RETURN …`
    val (unwinds, qU) = parseUnwinds(q0)
    locally {
      // r18 (verdict task #4): an UNWIND prelude seeds the path
      // search's frontier directly (the multi-source BFS the fixpoint
      // already runs) — spathSeedFrame carries the contract
      val aspIdx = topLevelKeyword(qU, "allShortestPaths")
      if (aspIdx >= 0)
        return executeAllShortestPaths(nodes, edges, qU, aspIdx, unwinds)
      val spIdx = topLevelKeyword(qU, "shortestPath")
      if (spIdx >= 0)
        return executeShortestPath(nodes, edges, qU, spIdx, unwinds)
    }
    val (qP, pathByMatch, pathCols) = extractPathVars(qU)
    val (qC, patternCounts) = extractPatternCounts(qP)
    val (q, callSubs) = extractCallSubqueries(qC)
    // post-pipe CALL outputs (pipeIdx > 0) enter scope at their own
    // boundary inside foldPipeSegments, not in the pattern region
    val unwindVars: Set[String] = unwinds.map(_.v).toSet ++ pathCols ++
      patternCounts.map(_._1) ++
      callSubs.filter(_.pipeIdx == 0).flatMap(_.outCols)
    // cached frames the budget-guarded cartesian pins (r16, advisor):
    // unpersisted after the final result materializes, else a long-lived
    // session leaks two cached plans' blocks per un-anchored MATCH
    val cartCached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def addUnwinds(df0: DataFrame): DataFrame =
      unwinds.foldLeft(df0) { (d, u) =>
        // explode keeps the unwound rows INSIDE the one plan (a
        // row-multiplying generator, no join): Cypher's list × match
        // row multiplicity; a range() spec generates in-plan (r16)
        d.withColumn(u.v, u.range match {
          // reversed literal bounds (advisor r17): Neo4j's range(5,1)
          // is [] — zero rows — where Spark's sequence raises
          case Some((a, b, st)) if (b - a) * st < 0 =>
            explode(typedLit(Array.empty[Long]))
          case Some((a, b, st)) =>
            explode(sequence(lit(a), lit(b), lit(st)))
          case None => explode(array(u.values.map(lit): _*))
        })
      }
    // quote-aware clause split (not regex): keywords inside a quoted
    // prop literal — likely in code/signature text — must not terminate
    // the pattern
    val retIdx = topLevelKeyword(q, "RETURN")
    // MID-QUERY UNWIND (r16): `… WITH collect(x) AS xs UNWIND xs AS y …`
    // — Neo4j's collect-then-regroup idiom. An UNWIND after the pattern
    // is a pipe boundary like WITH: its operand is any scalar LIST
    // expression over the current scope, exploded in-plan (an empty or
    // null list yields no rows, Neo4j's semantics).
    def applyMidUnwind(d0: DataFrame, body: String,
        vs: Map[String, String], pl: Set[String])
        : (DataFrame, Set[String]) = {
      val parts = splitTop(body, "AS")
      require(parts.length == 2, s"UNWIND needs `<list-expr> AS <var>`: $q")
      val (exprTxt, v) = (parts(0).trim, parts(1).trim)
      require(v.matches("""\w+"""), s"malformed UNWIND alias '$v': $q")
      require(!pl(v) && !vs.contains(v), s"UNWIND rebinds '$v': $q")
      val cexpr = parseValueExpr(exprTxt, vs, pl, d0.schema)
      (d0.withColumn(v, explode(cexpr)), pl + v)
    }
    // attach one CALL { … } subquery to a driving frame (r17; r18
    // factors it out so post-pipe CALLs share it): the sub-pipeline
    // plans independently through [[execute]] and joins the driver.
    // Correlated (importing WITH): join on the imported keys — a
    // PURE-aggregate sub left-joins (Neo4j: exactly one aggregate row
    // per input row; count/sum/collect backfill their empty-group
    // value), a row-returning sub inner-joins (no rows drops the
    // driving row). Uncorrelated: a budget-guarded cross join. At a
    // pipe stage the imports resolve against the CARRIED variable
    // structs (`__w_v` — full_name rides every carry), so the join
    // spelling is identical pre- and post-pipe.
    def attachCall(d0: DataFrame, vs: Map[String, String],
        plainScope: Set[String], cs: CallSub): DataFrame = {
      // own outputs are pre-registered in the pattern region's plain
      // scope (unwindVars) — exclude them from the rebind check
      val scope = plainScope -- cs.outCols
      cs.outCols.foreach(a => require(!vs.contains(a) && !scope(a),
        s"CALL output column '$a' rebinds a variable: $q"))
      if (cs.imports.isEmpty) {
        val sub = execute(nodes, edges, cs.innerQ).cache()
        val d = d0.cache()
        cartCached += sub
        cartCached += d
        val leftN = d.count()
        val rightN = sub.count()
        require(BigInt(leftN) * BigInt(rightN) <= cartesianRowBudget,
          s"uncorrelated CALL product $leftN x $rightN exceeds the " +
            s"$cartesianRowBudget-row budget: $q")
        d.join(sub, lit(true))
      } else {
        cs.imports.foreach { v =>
          require(vs.contains(v),
            s"CALL importing WITH references unbound variable '$v': $q")
          require(!isRelAlias(vs(v)) && !vs(v).startsWith("__wr_"),
            s"CALL importing WITH needs a node variable, '$v' is a " +
              s"relationship: $q")
        }
        val sub = execute(nodes, edges, cs.innerQ)
        val cond = cs.imports.map(v =>
          col(s"${vs(v)}.full_name") === col(s"__call_key_$v"))
          .reduce(_ && _)
        val pureAgg = cs.outCols.forall(cs.aggAliases.contains)
        var d = d0
        if (pureAgg) {
          d = d.join(sub, cond, "left")
          cs.aggAliases.foreach { case (alias, head) =>
            if (head == "count" || head == "sum")
              d = d.withColumn(alias, coalesce(col(alias), lit(0L)))
            else if (head == "collect") {
              val dt = sub.schema(alias).dataType.sql
              d = d.withColumn(alias,
                coalesce(col(alias), expr(s"CAST(array() AS $dt)")))
            }
          }
        } else d = d.join(sub, cond)
        d.drop(cs.imports.map(v => s"__call_key_$v"): _*)
      }
    }
    // fold one WITH/UNWIND boundary sequence over a driving frame —
    // shared by the MATCH path and the bare-UNWIND path. A CALL whose
    // pipeIdx lands after boundary ix attaches to the folded frame
    // there (r18), its outputs entering the pipe scope as plain columns.
    def foldPipeSegments(df0: DataFrame, vars0: Map[String, String],
        plain0: Set[String], boundaries: Seq[Int])
        : (DataFrame, Map[String, String], Set[String]) = {
      var df = df0
      var curVars = vars0
      var curPlain = plain0
      val bounds = boundaries :+ retIdx
      boundaries.zipWithIndex.foreach { case (pos, ix) =>
        val end = bounds(ix + 1)
        if (q.regionMatches(true, pos, "WITH", 0, 4)) {
          val (d2, v2, p2) = applyWith(df,
            q.substring(pos + 4, end).trim, curVars, curPlain)
          df = d2; curVars = v2; curPlain = p2
        } else {
          val (d2, p2) = applyMidUnwind(df,
            q.substring(pos + 6, end).trim, curVars, curPlain)
          df = d2; curPlain = p2
        }
        callSubs.filter(_.pipeIdx == ix + 1).foreach { cs =>
          df = attachCall(df, curVars, curPlain, cs)
          curPlain = curPlain ++ cs.outCols
        }
      }
      (df, curVars, curPlain)
    }
    // bare `UNWIND … [WITH …] RETURN …` (no MATCH): a one-row seed
    // exploded per unwound value — Neo4j's list-driver shape; WITH
    // pipes (r16) fold over the seed exactly as over a MATCH frame
    if (unwinds.nonEmpty &&
        (retIdx == 0 || q.regionMatches(true, 0, "WITH", 0, 4))) {
      require(callSubs.isEmpty,
        s"CALL {…} without a MATCH clause is not supported: $q")
      val seed = addUnwinds(nodes.sparkSession.range(1).toDF("__seed"))
        .drop("__seed")
      if (retIdx == 0)
        return shapeResult(seed, q.substring(6).trim,
          Map.empty[String, String], unwindVars)
      val boundaries = (clauseWithPositions(q) ++
        allTopLevelKeywords(q, "UNWIND")).sorted
      require(boundaries.nonEmpty && boundaries.forall(_ < retIdx),
        s"unsupported Cypher shape after UNWIND: $q")
      val (df, curVars, curPlain) = foldPipeSegments(seed,
        Map.empty[String, String], unwindVars, boundaries)
      return shapeResult(df, q.substring(retIdx + 6).trim,
        curVars, curPlain)
    }
    val isMatch = q.regionMatches(true, 0, "MATCH", 0, 5) &&
      q.length > 5 && !isWordChar(q.charAt(5))
    require(isMatch && retIdx > 5, s"unsupported Cypher shape " +
      s"([UNWIND …] MATCH … [OPTIONAL MATCH …] [WITH …] RETURN … subset only): $q")
    // aggregate-then-filter pipes: MATCH … WITH items [WHERE] (chained) RETURN …
    // pipe boundaries: WITH clauses and mid-query UNWINDs (r16) — the
    // pattern region ends at the first of them
    val pipeBoundaries = (clauseWithPositions(q) ++
      allTopLevelKeywords(q, "UNWIND")).sorted
    require(pipeBoundaries.forall(_ < retIdx),
      s"WITH/UNWIND after RETURN is not a clause: $q")
    val withPositions = pipeBoundaries
    val head = q.substring(0, withPositions.headOption.getOrElse(retIdx))
    val ret = q.substring(retIdx + 6).trim

    // split the pre-RETURN text into MATCH clauses: each further
    // top-level MATCH starts a new clause; a trailing OPTIONAL keyword on
    // the preceding body marks the NEXT clause optional
    val matchPos = allTopLevelKeywords(head, "MATCH")
    require(matchPos.headOption.contains(0), s"malformed MATCH clauses: $q")
    val rawBodies = matchPos.zipWithIndex.map { case (p, ix) =>
      val end = if (ix + 1 < matchPos.length) matchPos(ix + 1) else head.length
      head.substring(p + 5, end).trim
    }
    val optionalMarks = rawBodies.map(_.toUpperCase.endsWith("OPTIONAL"))
    // r15 (verdict task #3): comma-separated patterns in ONE MATCH split
    // into sub-clauses sharing the clause's plain/optional mode, the
    // WHERE riding the LAST sub (by then every comma variable is in
    // scope — identical WHERE scope to Neo4j's whole-clause rule). At
    // most one sub-pattern may carry relationships: Neo4j's
    // relationship-uniqueness rule spans the comma patterns of one
    // MATCH and the sub-clause joins don't enforce it ACROSS subs;
    // node-only subs bind no relationships, so for them the rule is
    // vacuous and the split is exact. An OPTIONAL comma pattern
    // null-extends atomically in Neo4j — the clause loop joins the
    // comma subs into ONE conjunction frame and left-joins that (r17,
    // verdict task #3), so all-or-nothing per driving row holds.
    val parsedFlat =
      scala.collection.mutable.ArrayBuffer.empty[(Clause, Int)]
    rawBodies.zipWithIndex.foreach { case (b, ix) =>
      val body = if (optionalMarks(ix)) b.dropRight(8).trim else b
      val optional = ix > 0 && optionalMarks(ix - 1)
      val whereIdx = topLevelKeyword(body, "WHERE")
      val pat =
        (if (whereIdx >= 0) body.substring(0, whereIdx) else body).trim
      val whereTxt = if (whereIdx >= 0) body.substring(whereIdx) else ""
      val subs = splitTopPattern(pat)
      require(subs.nonEmpty, s"no node pattern in: $q")
      subs.zipWithIndex.foreach { case (sp, j) =>
        val sbody =
          if (j == subs.length - 1) s"$sp $whereTxt".trim else sp
        parsedFlat += ((parseClause(sbody, optional, q,
          clauseIx = parsedFlat.size), ix))
      }
      // multiple relationship chains in one comma group are allowed
      // (r17): Neo4j's relationship uniqueness spans the clause, and
      // the clause loop enforces it ACROSS the subs with the same
      // pairwise triple-inequality buildChain applies within one chain.
      // Var-length hops stay out (the PATH-SUMMARY model never exposes
      // their internal edges), the documented scope.
    }
    val parsed = parsedFlat.map(_._1).toSeq
    val matchOrdOf = parsedFlat.map(_._2).toSeq
    // a path variable may not collide with ANY bound variable — node or
    // relationship vars of EVERY clause, not just the owning one (r13,
    // advisor finding: a node named `p` in another MATCH silently
    // collided with the textual nodes(p) rewrite), nor an UNWIND var
    locally {
      val bound = unwinds.map(_.v).toSet ++
        parsed.flatMap(pc => pc.nodeMs.map(_.v) ++
          pc.hops.flatMap(_.varName))
      pathByMatch.values.foreach(pv => require(!bound(pv),
        s"path variable '$pv' rebinds another variable: $q"))
    }
    // an OPTIONAL MATCH path variable null-extends with its clause
    // (Neo4j: p IS NULL when the optional pattern finds nothing) — the
    // path columns are built on the optional side before the left join,
    // so the null extension is exactly the join's own (r13)
    val clauses = parsed.zipWithIndex.map { case (pc, ix) =>
      // a path variable binds the FIRST comma sub-clause of its MATCH
      // ordinal (Neo4j: `p = pattern1, pattern2` binds pattern1)
      val firstOfOrd = matchOrdOf.indexOf(matchOrdOf(ix)) == ix
      pc.copy(pathVar =
        if (firstOfOrd) pathByMatch.get(matchOrdOf(ix)) else None)
    }

    // clause 0 binds its variables; later clauses must hook onto one.
    // Relationship variables bind to their hop's edge alias (e<i>).
    def relVarsOf(c: Clause, aliasStart: Int): Map[String, String] =
      c.hops.zipWithIndex.collect {
        case (h, i) if h.varName.nonEmpty =>
          h.varName.get -> (if (h.isVarLength) varRelAlias(aliasStart + i)
            else relAlias(aliasStart + i))
      }.toMap
    var aliasCount = clauses.head.nodeMs.size
    // FIRST occurrence wins: a cycle pattern's repeated variable reads
    // from its original slot (buildChain equates the slots anyway)
    var vars = clauses.head.nodeMs.zipWithIndex
      .foldLeft(Map.empty[String, String]) { case (acc, (m, i)) =>
        if (acc.contains(m.v)) acc else acc + (m.v -> s"n$i")
      }
    locally {
      val rv = relVarsOf(clauses.head, 0)
      require(rv.keySet.intersect(vars.keySet).isEmpty,
        s"relationship variable rebinds a node variable: $q")
      vars = vars ++ rv
    }
    // MATCH-scope resolver extended with the unwound plain columns: a
    // bare unwind variable resolves as a column; everything else is the
    // usual v.prop resolution
    def scopeU(vs: Map[String, String])(ref: String): Column =
      if (!ref.contains(".") && unwindVars(ref)) col(ref)
      else matchScope(vs)(ref)
    var df = addUnwinds(buildChain(nodes, edges, clauses.head, 0))
    // pattern-existence predicates become semi-joins (anti under NOT)
    // against their own mini-chain; the join keeps only left columns, so
    // the predicate's aliases never leak into scope. Every NAMED node in
    // the predicate must already be bound (Neo4j's rule: a pattern
    // predicate cannot introduce variables); anonymous nodes are the
    // existential part.
    def applyPatternPreds(d0: DataFrame, preds: Seq[PatPred],
        vs: Map[String, String]): DataFrame = {
      var d = d0
      preds.foreach { pp =>
        if (!pp.allowNewVars)
          pp.clause.nodeMs.foreach(m => require(
            vs.contains(m.v) || m.v.startsWith("__anon"),
            s"pattern predicate introduces unbound variable '${m.v}': $q"))
        val start = aliasCount
        aliasCount += pp.clause.nodeMs.size
        var sub = buildChain(nodes, edges, pp.clause, start)
        // an EXISTS{…} inner WHERE resolves against the subpattern's own
        // variables and filters the sub-chain BEFORE the semi/anti join
        Option(pp.clause.where).foreach { w =>
          val subVars = pp.clause.nodeMs.zipWithIndex
            .map { case (m, i) => m.v -> s"n${start + i}" }.toMap
          sub = sub.filter(parseWhere(w, matchScope(subVars)))
        }
        val boundEqs = pp.clause.nodeMs.zipWithIndex.collect {
          case (m, i) if vs.contains(m.v) =>
            col(s"${vs(m.v)}.full_name") === col(s"n${start + i}.full_name")
        }
        require(boundEqs.nonEmpty,
          s"pattern predicate must reference a bound variable: $q")
        d = d.join(sub, boundEqs.reduce(_ && _),
          if (pp.neg) "left_anti" else "left_semi")
      }
      d
    }
    // r18 (verdict task #3): a pattern predicate under OR. The
    // semi/anti-join plan cannot express a disjunction, so the pattern
    // leaf becomes an existence FLAG instead: the predicate's chain,
    // projected to its DISTINCT bound-variable keys, left-joins the
    // driving frame with a literal true that coalesces to false on no
    // match — one bounded-key distinct + one left join per pattern
    // leaf, never a row-multiplying join (the distinct pins the
    // at-most-one-flag-row-per-key invariant). The flag then
    // participates in ordinary three-valued boolean logic with the
    // other disjuncts.
    var flagSeq = 0
    def patternFlag(d0: DataFrame, pp: PatPred,
        vs: Map[String, String]): (DataFrame, Column, String) = {
      if (!pp.allowNewVars)
        pp.clause.nodeMs.foreach(m => require(
          vs.contains(m.v) || m.v.startsWith("__anon"),
          s"pattern predicate introduces unbound variable '${m.v}': $q"))
      flagSeq += 1
      val flagName = s"__ppf_$flagSeq"
      val start = aliasCount
      aliasCount += pp.clause.nodeMs.size
      var sub = buildChain(nodes, edges, pp.clause, start)
      Option(pp.clause.where).foreach { w =>
        val subVars = pp.clause.nodeMs.zipWithIndex
          .map { case (m, i) => m.v -> s"n${start + i}" }.toMap
        sub = sub.filter(parseWhere(w, matchScope(subVars)))
      }
      // one key position per bound variable (min slot — buildChain
      // equates repeated slots within the chain)
      val boundPos = pp.clause.nodeMs.zipWithIndex
        .filter { case (m, _) => vs.contains(m.v) }
        .groupBy(_._1.v).map { case (v, xs) => v -> xs.map(_._2).min }
        .toSeq.sortBy(_._1)
      require(boundPos.nonEmpty,
        s"pattern predicate must reference a bound variable: $q")
      val keyed = sub.select(boundPos.map { case (v, i) =>
          col(s"n${start + i}.full_name").as(s"__ppk_${flagSeq}_$v") }: _*)
        .distinct().withColumn(flagName, lit(true))
      val cond = boundPos.map { case (v, _) =>
          col(s"${vs(v)}.full_name") === col(s"__ppk_${flagSeq}_$v") }
        .reduce(_ && _)
      val joined = d0.join(keyed, cond, "left")
        .drop(boundPos.map { case (v, _) => s"__ppk_${flagSeq}_$v" }: _*)
      val flag = coalesce(col(flagName), lit(false))
      (joined, if (pp.neg) !flag else flag, flagName)
    }
    // a clause WHERE splits into pattern predicates (join surgery) and
    // the ordinary boolean remainder (a filter Column). Conjuncts
    // referencing a PATTERN-COUNT column (r16) defer to after the count
    // attaches — the column does not exist during the clause loop.
    val deferredWhere = scala.collection.mutable.ArrayBuffer.empty[String]
    def applyClauseWhere(d0: DataFrame, w0: String,
        vs: Map[String, String], clauseIx: Int): DataFrame = {
      val w =
        if (!w0.contains("__pcnt_")) w0
        else {
          require(splitBool(w0, "OR").lengthCompare(1) == 0 ||
              splitBool(w0, "OR").forall(!_.contains("__pcnt_")),
            s"a pattern count under OR is not supported: $q")
          val (defer, keep) =
            splitBool(w0, "AND").partition(_.contains("__pcnt_"))
          deferredWhere ++= defer
          if (keep.isEmpty) return d0 else keep.mkString(" AND ")
        }
      // r18: route boolean trees that put a pattern under OR through
      // the flag plan; pure-conjunction WHEREs keep the semi/anti-join
      // plan (the tighter shape — no flag column, no distinct)
      def conjunctHasOrPattern(t0: String): Boolean = {
        var t = t0.trim
        while (isWholeParen(t)) t = t.substring(1, t.length - 1).trim
        val dj = splitBool(t, "OR")
        dj.lengthCompare(1) > 0 && dj.exists(hasRelPatternText)
      }
      if (conjunctHasOrPattern(w) ||
          splitBool(w, "AND").exists(conjunctHasOrPattern)) {
        val flagDrops = scala.collection.mutable.ArrayBuffer.empty[String]
        def whereColumn(din: DataFrame, t0: String, ns: Int)
            : (DataFrame, Column) = {
          var t = t0.trim
          while (isWholeParen(t)) t = t.substring(1, t.length - 1).trim
          def plainCol = parseWhere(t, scopeU(vs), valueRefOf(vs, unwindVars))
          if (!hasRelPatternText(t)) return (din, plainCol)
          val dj = splitBool(t, "OR")
          val cj = if (dj.lengthCompare(1) > 0) dj else splitBool(t, "AND")
          if (cj.lengthCompare(1) > 0) {
            var d = din
            val cols = cj.zipWithIndex.map { case (x, i) =>
              val (d2, c) = whereColumn(d, x, ns * 10 + i + 1)
              d = d2; c
            }
            (d, if (dj.lengthCompare(1) > 0) cols.reduce(_ || _)
              else cols.reduce(_ && _))
          } else {
            // single pattern leaf: `[NOT] (pat)` / `EXISTS { … }`
            val (preds, rest) = extractPatternPreds(t, q,
              clauseIx * 100 + ns)
            require(rest.isEmpty && preds.size == 1,
              s"unsupported pattern predicate shape under OR: $q")
            val (d2, c, nm) = patternFlag(din, preds.head, vs)
            flagDrops += nm
            (d2, c)
          }
        }
        val (d2, c) = whereColumn(d0, w, 0)
        return d2.filter(c).drop(flagDrops.toSeq: _*)
      }
      val (preds, rest) = extractPatternPreds(w, q, clauseIx)
      var d = applyPatternPreds(d0, preds, vs)
      rest.foreach(w2 =>
        d = d.filter(parseWhere(w2, scopeU(vs), valueRefOf(vs, unwindVars))))
      d
    }
    Option(clauses.head.where).foreach(w =>
      df = applyClauseWhere(df, w, vars, 0))

    // an OPTIONAL MATCH with comma patterns (r17, verdict task #3)
    // null-extends ATOMICALLY: its subs join into one CONJUNCTION frame
    // (on every variable the comma parts share — fresh or bound) and
    // the driving frame left-joins that once, so a row either binds
    // every comma variable or none, Neo4j's semantics. Disconnected
    // comma parts (no shared variable) raise: the conjunction would be
    // an unbudgeted pre-join product.
    // cross-sub relationship uniqueness (r17): single-hop slots of
    // DIFFERENT comma subs of one MATCH never bind the same edge — the
    // same pairwise triple-inequality buildChain applies within a chain
    def hopAliasesOf(c: Clause, start: Int): Seq[String] =
      c.hops.zipWithIndex.collect {
        case (h, i) if !h.isVarLength => relAlias(start + i) }
    def crossSubUniq(d0: DataFrame, subs: Seq[Seq[String]]): DataFrame = {
      var d = d0
      for {
        ai <- subs.indices; bi <- ai + 1 until subs.size
        x <- subs(ai); y <- subs(bi)
      } d = d.filter(!(col(s"$x.src") === col(s"$y.src") &&
        col(s"$x.rel_type") === col(s"$y.rel_type") &&
        col(s"$x.dst") === col(s"$y.dst")))
      d
    }
    val ordHopAliases =
      scala.collection.mutable.Map.empty[Int, List[Seq[String]]]
    ordHopAliases(matchOrdOf.head) = List(hopAliasesOf(clauses.head, 0))
    def applyOptionalCommaGroup(grp: Seq[Int]): Unit = {
      val memberInfo = grp.map { j =>
        val cj = clauses(j)
        val start = aliasCount
        aliasCount += cj.nodeMs.size
        (cj, start, buildChain(nodes, edges, cj, start))
      }
      def slotsOf(cj: Clause, start: Int): Map[String, String] =
        cj.nodeMs.zipWithIndex
          .foldLeft(Map.empty[String, String]) { case (acc, (m, i)) =>
            if (acc.contains(m.v)) acc else acc + (m.v -> s"n${start + i}")
          }
      var conj: DataFrame = null
      var conjSlots = Map.empty[String, String]
      memberInfo.foreach { case (cj, start, chain) =>
        val mSlots = slotsOf(cj, start)
        if (conj == null) { conj = chain; conjSlots = mSlots }
        else {
          val shared = mSlots.keySet.intersect(conjSlots.keySet)
            .filterNot(_.startsWith("__anon"))
          require(shared.nonEmpty,
            s"OPTIONAL comma patterns must share a variable " +
              s"(disconnected parts would pre-join a product): $q")
          conj = conj.join(chain, shared.map(v =>
            col(s"${conjSlots(v)}.full_name") ===
              col(s"${mSlots(v)}.full_name")).reduce(_ && _))
          conjSlots = conjSlots ++ (mSlots -- conjSlots.keySet)
        }
      }
      conj = crossSubUniq(conj,
        memberInfo.map { case (cj, start, _) => hopAliasesOf(cj, start) })
      val subVars = vars ++ (conjSlots -- vars.keySet) ++
        memberInfo.flatMap { case (cj, start, _) =>
          relVarsOf(cj, start) }.toMap
      val boundEqs = memberInfo.flatMap { case (cj, start, _) =>
        cj.nodeMs.zipWithIndex.collect {
          case (m, i) if vars.contains(m.v) =>
            col(s"${vars(m.v)}.full_name") ===
              col(s"n${start + i}.full_name")
        }
      }
      val keyEq =
        if (boundEqs.nonEmpty) boundEqs.reduce(_ && _) else lit(true)
      // the split machinery rides the clause WHERE on the LAST sub; it
      // folds into the left-join condition like the single-member
      // optional (a filtered-out conjunction row null-extends)
      val (optPreds, optRest) = Option(clauses(grp.last).where)
        .map(w => extractPatternPreds(w, q, grp.last + 1))
        .getOrElse((Seq.empty, None))
      val sub2 = applyPatternPreds(conj, optPreds, conjSlots)
      val cond = optRest
        .map(w2 => keyEq && parseWhere(w2, scopeU(subVars),
          valueRefOf(subVars, unwindVars))).getOrElse(keyEq)
      df = df.join(sub2, cond, "left")
      vars = subVars
    }
    var ci = 1
    while (ci < clauses.length) {
      val c = clauses(ci)
      val cIx = ci - 1
      // comma subs of ONE optional MATCH process as a group (atomic
      // null-extension); everything else takes the per-clause path
      val grpEnd = (ci until clauses.length)
        .takeWhile(j => matchOrdOf(j) == matchOrdOf(ci)).last
      if (c.optional && grpEnd > ci) {
        applyOptionalCommaGroup(ci to grpEnd)
        ci = grpEnd + 1
      } else {
      // EVERY position sharing an already-bound variable anchors the
      // join (Neo4j's rule: a later MATCH may share any number of
      // bound variables, not just its head). An UN-anchored clause (no
      // shared variable at all) left-joins on TRUE under OPTIONAL
      // MATCH (every driving row pairs with every optional match, or
      // null-extends); under PLAIN MATCH it is Neo4j's cartesian
      // product, executed here under the loud row budget below (r15 —
      // was refused through r14).
      val boundPos = c.nodeMs.zipWithIndex
        .filter { case (m, _) => vars.contains(m.v) }
      val anchored = boundPos.nonEmpty
      val start = aliasCount
      // bump BEFORE any pattern predicate in this clause's WHERE
      // allocates its own aliases (applyPatternPreds reads aliasCount)
      aliasCount += c.nodeMs.size
      val sub = buildChain(nodes, edges, c, start)
      val subVars = vars ++ c.nodeMs.zipWithIndex
        .foldLeft(Map.empty[String, String]) { case (acc, (m, i)) =>
          if (vars.contains(m.v) || acc.contains(m.v)) acc
          else acc + (m.v -> s"n${start + i}")
        } ++ relVarsOf(c, start)
      val keyEq =
        if (anchored)
          boundPos.map { case (m, i) =>
            col(s"${vars(m.v)}.full_name") === col(s"n${start + i}.full_name")
          }.reduce(_ && _)
        else lit(true)
      if (c.optional) {
        require(Option(c.where).forall(!_.contains("__pcnt_")),
          s"a pattern count in an OPTIONAL MATCH WHERE is not " +
            s"supported (it cannot null-extend): $q")
        // WHERE folds into the join: a filtered-out optional row
        // null-extends instead of dropping (Neo4j semantics). A PATTERN
        // predicate in the WHERE applies the same way — it semi/anti
        // filters the OPTIONAL side before the left join, so a row
        // failing the pattern null-extends rather than dropping. The
        // predicate must anchor on the optional clause's own variables
        // (applyPatternPreds' bound-variable require enforces it).
        // NOTE: unwind columns live on the LEFT side only — a join
        // condition may reference them (Spark resolves across sides)
        val (optPreds, optRest) = Option(c.where)
          .map(w => extractPatternPreds(w, q, cIx + 1))
          .getOrElse((Seq.empty, None))
        val subLocal = c.nodeMs.zipWithIndex
          .map { case (m, i) => m.v -> s"n${start + i}" }.toMap
        val sub2 = applyPatternPreds(sub, optPreds, subLocal)
        val cond = optRest
          .map(w2 => keyEq && parseWhere(w2, scopeU(subVars),
            valueRefOf(subVars, unwindVars))).getOrElse(keyEq)
        df = df.join(sub2, cond, "left")
      } else {
        var subJ = sub
        if (!anchored) {
          // budget-guarded cartesian (r15): count both sides and RAISE
          // past the budget instead of silently launching a
          // planet-sized product — the allShortestPaths loud-budget
          // discipline. Both sides CACHE first so the driving plan
          // (prior clauses' joins/unwinds/filters) is computed once,
          // not re-derived by the count and again by the join — cache,
          // not localCheckpoint: a checkpoint swaps in a LogicalRDD
          // and the n<i> alias scopes later clause references resolve
          // against would be lost.
          df = df.cache()
          subJ = sub.cache()
          cartCached += df
          cartCached += subJ
          val leftN = df.count()
          val rightN = subJ.count()
          require(BigInt(leftN) * BigInt(rightN) <= cartesianRowBudget,
            s"un-anchored MATCH cartesian product $leftN x $rightN " +
              s"exceeds the $cartesianRowBudget-row budget: $q")
        }
        df = df.join(subJ, keyEq)
        Option(c.where).foreach(w =>
          df = applyClauseWhere(df, w, subVars, cIx + 1))
      }
      // an anchoring variable stays bound to its ORIGINAL alias (always
      // non-null under OPTIONAL); only fresh vars enter scope, first
      // occurrence winning (a within-clause repeat is a cycle slot)
      vars = vars ++ c.nodeMs.zipWithIndex
        .foldLeft(Map.empty[String, String]) { case (acc, (m, i)) =>
          if (vars.contains(m.v) || acc.contains(m.v)) acc
          else acc + (m.v -> s"n${start + i}")
        }
      locally {
        val rv = relVarsOf(c, start)
        require(rv.keySet.intersect(vars.keySet).isEmpty,
          s"relationship variable rebinds a bound variable: $q")
        vars = vars ++ rv
      }
      // plain comma groups: once the LAST sub of this MATCH ordinal has
      // joined, enforce relationship uniqueness across the subs
      if (!c.optional) {
        val ord = matchOrdOf(ci)
        ordHopAliases(ord) =
          ordHopAliases.getOrElse(ord, Nil) :+ hopAliasesOf(c, start)
        val lastOfOrd =
          ci == clauses.length - 1 || matchOrdOf(ci + 1) != ord
        if (lastOfOrd && ordHopAliases(ord).count(_.nonEmpty) >= 2)
          df = crossSubUniq(df, ordHopAliases(ord))
      }
      ci += 1
      }
    }
    // PATTERN COUNTS (r16): attach each __pcnt_i as ONE groupBy-count
    // of its mini-chain on the pattern's BOUND variables, left-joined
    // onto the driving frame (anchors matching nothing read 0); fresh
    // named variables inside the pattern are existential (COUNT{} may
    // introduce them, like EXISTS{}) and an inner WHERE filters the
    // sub-chain. Then the clause-WHERE conjuncts deferred above apply.
    patternCounts.zipWithIndex.foreach { case ((name, pat), pi) =>
      val pc = parseClause(pat, optional = false, q, clauseIx = 600 + pi)
      pc.hops.foreach(h => require(h.varName.isEmpty,
        s"a pattern count cannot bind a relationship variable: $q"))
      val aliasStart = 5000 + pi * 100
      val boundPos = pc.nodeMs.zipWithIndex
        .filter { case (m, _) => vars.contains(m.v) }
        .groupBy(_._1.v).map { case (v, xs) => v -> xs.map(_._2).min }
        .toSeq.sortBy(_._1)
      require(boundPos.nonEmpty,
        s"a pattern count must anchor on a bound variable: $q")
      var sub = buildChain(nodes, edges, pc, aliasStart)
      Option(pc.where).foreach { w =>
        val subVars = pc.nodeMs.zipWithIndex
          .map { case (m, i) => m.v -> s"n${aliasStart + i}" }.toMap
        sub = sub.filter(parseWhere(w, matchScope(subVars),
          valueRefOf(subVars, Set.empty)))
      }
      val grouped = sub.groupBy(boundPos.map { case (v, i) =>
          col(s"n${aliasStart + i}.full_name").as(s"__pck_$v") }: _*)
        .agg(count(lit(1)).cast("long").as(name))
      val cond = boundPos.map { case (v, _) =>
          col(s"${vars(v)}.full_name") === col(s"__pck_$v") }
        .reduce(_ && _)
      df = df.join(grouped, cond, "left")
        .withColumn(name, coalesce(col(name), lit(0L)))
        .drop(boundPos.map { case (v, _) => s"__pck_$v" }: _*)
    }
    // CALL { … } subqueries in the PATTERN REGION (r17, verdict task
    // #6; the shared attachCall body carries the join semantics).
    // Post-pipe CALLs (pipeIdx > 0, r18) attach inside
    // foldPipeSegments at their own boundary instead.
    callSubs.filter(_.pipeIdx == 0).foreach { cs =>
      df = attachCall(df, vars, unwindVars, cs)
    }
    deferredWhere.foreach(w =>
      df = df.filter(parseWhere(w, scopeU(vars),
        valueRefOf(vars, unwindVars))))
    // fold the WITH/UNWIND pipes left to right; each re-scopes the next
    // segment; unwound variables enter the pipeline as plain columns
    val (dfF, curVars, curPlain) =
      foldPipeSegments(df, vars, unwindVars, withPositions)
    df = dfF
    val res = shapeResult(df, ret, curVars, curPlain)
    if (cartCached.isEmpty) res
    else {
      // the RETURN projection is plain output columns — no alias scopes
      // left to lose — so an eager localCheckpoint is safe here; its
      // blocks are ContextCleaner-managed (freed when the result frame
      // is GC'd), unlike CacheManager entries which pin forever
      val out = res.pin(eager = true)
      cartCached.foreach(_.unpersist(false))
      out
    }
  }

  /** Columns a carried variable keeps through the WITH pipe (the fixed
    * node columns plus the prop map and label set — everything any
    * downstream projection or predicate can reference). */
  private val carriedFields =
    Seq("full_name", "kind", "name", "file_path", "signature", "clazz",
      "code", "props", "task_ids")

  /** One `WITH` pipe — Cypher's aggregate-then-filter idiom
    * (`MATCH … WITH v, count(*) AS c WHERE c > k RETURN …`); chains fold
    * left to right, each pipe re-scoping the next. Items:
    *  - a bare bound variable carries through as a STRUCT column named
    *    after itself (so `v.prop`, `labels(v)`, `count(v)` still resolve
    *    downstream);
    *  - `v.prop AS alias` projects a property (alias REQUIRED, as in
    *    Cypher: expression items must be named);
    *  - `count(*)/count(v)/count(v.prop) AS alias` aggregates with the
    *    same implicit grouping as RETURN (every non-aggregate item is a
    *    grouping key).
    * The optional trailing WHERE filters the PIPED rows (Cypher's
    * post-aggregation filter — what HAVING is to SQL); its references
    * resolve against the pipe's output scope. Anything else —
    * ORDER/SKIP/LIMIT inside the pipe, un-aliased expressions — raises,
    * the module's posture. */
  private def applyWith(df0: DataFrame, body0: String,
      vars: Map[String, String], prevPlain: Set[String] = Set.empty)
      : (DataFrame, Map[String, String], Set[String]) = {
    var body = body0
    var whereTxt: Option[String] = None
    val wIdx = topLevelKeyword(body, "WHERE")
    if (wIdx >= 0) {
      whereTxt = Some(body.substring(wIdx + 5).trim)
      body = body.substring(0, wIdx).trim
    }
    // WITH-clause result shaping, Cypher's fixed order `WITH items
    // [ORDER BY …] [SKIP n] [LIMIT n] [WHERE …]`: ORDER/SKIP/LIMIT
    // apply to the projected pipe BEFORE the trailing WHERE filters it
    // (Neo4j's top-N-then-continue shape). Stripped back to front.
    var limitN: Option[Int] = None
    var skipN: Option[Int] = None
    var orderSpec: Option[String] = None
    locally {
      val li = topLevelKeyword(body, "LIMIT")
      if (li >= 0) {
        limitN = Some(body.substring(li + 5).trim.toInt)
        body = body.substring(0, li).trim
      }
      val si = topLevelKeyword(body, "SKIP")
      if (si >= 0) {
        skipN = Some(body.substring(si + 4).trim.toInt)
        body = body.substring(0, si).trim
      }
      val oi = topLevelKeyword(body, "ORDER")
      if (oi >= 0) {
        val tail = body.substring(oi + 5).trim
        require(tail.regionMatches(true, 0, "BY", 0, 2) &&
          tail.length > 2 && !isWordChar(tail.charAt(2)),
          s"malformed ORDER BY in WITH: $body0")
        orderSpec = Some(tail.substring(2).trim)
        body = body.substring(0, oi).trim
      }
    }
    // WITH DISTINCT — Neo4j's pipe-level dedup (rows, after projection)
    val isDistinct = body.regionMatches(true, 0, "DISTINCT", 0, 8) &&
      body.length > 8 && !isWordChar(body.charAt(8))
    if (isDistinct) body = body.substring(8).trim
    var newVars = Map.empty[String, String]
    var plain = Set.empty[String]
    val keys = scala.collection.mutable.ArrayBuffer.empty[Column]
    val aggs = scala.collection.mutable.ArrayBuffer.empty[Column]
    splitTop(body, ",").foreach { item =>
      val (core, alias) = splitTop(item, "AS") match {
        case Seq(c) => (c.trim, None)
        case Seq(c, a) =>
          require(a.trim.matches("""\w+"""), s"malformed alias in '$item'")
          (c.trim, Some(a.trim))
        case _ => throw new IllegalArgumentException(s"multiple AS in '$item'")
      }
      core match {
        // WITH * — carry every pipe column and every user-named node or
        // relationship variable (Cypher's pass-everything-through;
        // `WITH *, agg AS a` is the common spelling).
        case "*" =>
          require(alias.isEmpty, s"AS on '*' is not a thing: '$item'")
          prevPlain.toSeq.sorted.foreach { c => keys += col(c); plain += c }
          vars.keys.filterNot(_.startsWith("__anon")).toSeq.sorted.foreach { v =>
            val a = vars(v)
            // relationship variables carry as their uniform edge/path
            // struct in the dedicated `__wr_` namespace (so downstream
            // reads keep relationship-ness); nodes carry as before
            val (ca, fields) =
              if (isRelAlias(a)) (s"__wr_$v", relCarriedFields)
              else (s"__w_$v", carriedFields)
            keys += struct(fields.map(f => col(s"$a.$f").as(f)): _*).as(ca)
            newVars += v -> ca
          }
        case countRe(dist, arg) =>
          val a = alias.getOrElse(throw new IllegalArgumentException(
            s"WITH expression needs AS alias: '$item'"))
          aggs += countCol(dist != null, arg, vars, prevPlain)
            .cast("long").as(a)
          plain += a
        case numAggRe(fn, arg) =>
          val a = alias.getOrElse(throw new IllegalArgumentException(
            s"WITH expression needs AS alias: '$item'"))
          aggs += numAggCol(fn, arg, vars, prevPlain).as(a)
          plain += a
        case percentileRe(fn, arg, pv) =>
          val a = alias.getOrElse(throw new IllegalArgumentException(
            s"WITH expression needs AS alias: '$item'"))
          aggs += statAggCol(fn, arg, pv.toDouble, vars, prevPlain).as(a)
          plain += a
        case stdevRe(fn, arg) =>
          val a = alias.getOrElse(throw new IllegalArgumentException(
            s"WITH expression needs AS alias: '$item'"))
          aggs += statAggCol(fn, arg, 0.0, vars, prevPlain).as(a)
          plain += a
        case collectRe(dist, arg) =>
          val a = alias.getOrElse(throw new IllegalArgumentException(
            s"WITH expression needs AS alias: '$item'"))
          aggs += collectCol(dist != null, arg, vars, prevPlain).as(a)
          plain += a
        // expression-argument aggregates (r16) — same guard as retItem:
        // the head's '(' must close at the FINAL ')'; DISTINCT args
        // route through the shared distinct-aware body (r18)
        case aggExprRe(fn, arg0) if matchingDelim(core,
            core.indexOf('('), '(', ')') == core.length - 1 =>
          val a = alias.getOrElse(throw new IllegalArgumentException(
            s"WITH expression needs AS alias: '$item'"))
          val (distinct, arg) = stripDistinct(arg0.trim)
          val base = parseValueExpr(arg, vars, prevPlain, df0.schema)
          val c0 = distinctAggCol(fn, distinct, base)
          val c = if (fn.equalsIgnoreCase("count")) c0.cast("long") else c0
          aggs += c.as(a)
          plain += a
        case c if isCaseExpr(c) =>
          val a = alias.getOrElse(throw new IllegalArgumentException(
            s"WITH expression needs AS alias: '$item'"))
          keys += parseCaseExpr(c, vars, prevPlain, df0.schema).as(a)
          plain += a
        // scalar expression (arithmetic / size / coalesce / toInteger…);
        // checked BEFORE the dotted-reference case so `m.seen + 1 AS x`
        // parses as arithmetic instead of a property named "seen + 1"
        case c if isValueExpr(c) =>
          val a = alias.getOrElse(throw new IllegalArgumentException(
            s"WITH expression needs AS alias: '$item'"))
          keys += parseValueExpr(c, vars, prevPlain, df0.schema).as(a)
          plain += a
        case c if c.contains(".") =>
          val a = alias.getOrElse(throw new IllegalArgumentException(
            s"WITH expression needs AS alias: '$item'"))
          val Array(v, prop) = c.split("\\.", 2)
          keys += propColOf(v, prop, vars).as(a)
          plain += a
        // a previous pipe's output column carries through (optionally
        // renamed) — what makes WITH chains composable
        case c if prevPlain(c) =>
          val out = alias.getOrElse(c)
          keys += col(c).as(out)
          plain += out
        case v if vars.contains(v) =>
          require(alias.isEmpty,
            s"AS on a carried variable not supported: '$item'")
          val a = vars(v)
          // the carried struct's alias lives in its own namespace,
          // disjoint from node scans (n<N>) and edge scans (__rel<N>) —
          // no user variable name can land it in the rel namespace;
          // relationship carries use `__wr_` so reads after the pipe
          // still resolve against the edge/path schema
          val (ca, fields) =
            if (isRelAlias(a)) (s"__wr_$v", relCarriedFields)
            else (s"__w_$v", carriedFields)
          keys += struct(fields.map(f => col(s"$a.$f").as(f)): _*).as(ca)
          newVars += v -> ca
        case other => throw new IllegalArgumentException(
          s"unsupported WITH item '$other' (variable, v.prop AS x, count(…) AS x)")
      }
    }
    var out =
      if (aggs.isEmpty) {
        val sel = df0.select(keys.toSeq: _*)
        if (!isDistinct) sel
        else {
          // a carried node variable dedups by its KEY (full_name): the
          // carried struct holds a MAP column Spark can't set-op on,
          // and rows sharing the key are identical node rows anyway; a
          // relationship carry dedups by its identity triple + hop count
          val dk = newVars.values.toSeq.sorted.flatMap(ca =>
            if (ca.startsWith("__wr_"))
              Seq("src", "rel_type", "dst", "hops")
                .map(f => (s"__dk_${ca}_$f", col(s"$ca.$f")))
            else Seq((s"__dk_$ca", col(s"$ca.full_name"))))
          val withK = dk.foldLeft(sel) { case (d, (n, c)) => d.withColumn(n, c) }
          withK.dropDuplicates(plain.toSeq.sorted ++ dk.map(_._1))
            .drop(dk.map(_._1): _*)
        }
      } else {
        // WITH DISTINCT alongside aggregation (r18, verdict task #1):
        // a no-op like RETURN DISTINCT — the grouped pipe is already
        // one row per key combination
        if (keys.isEmpty) df0.agg(aggs.head, aggs.tail.toSeq: _*)
        else df0.groupBy(keys.toSeq: _*).agg(aggs.head, aggs.tail.toSeq: _*)
      }
    orderSpec.foreach { spec =>
      val sortKeys = splitTop(spec, ",").map { item =>
        val (ref, desc) = {
          val t = item.trim
          if (t.toUpperCase.endsWith(" DESC")) (t.dropRight(5).trim, true)
          else if (t.toUpperCase.endsWith(" ASC")) (t.dropRight(4).trim, false)
          else (t, false)
        }
        val c = withScope(newVars, plain)(ref)
        if (desc) c.desc else c.asc
      }
      out = out.orderBy(sortKeys: _*)
    }
    skipN.foreach(n => out = out.offset(n))
    limitN.foreach(n => out = out.limit(n))
    whereTxt.foreach(w =>
      out = out.filter(parseWhere(w, withScope(newVars, plain))))
    (out, newVars, plain)
  }

  /** Top-level WITH occurrences that are the CLAUSE keyword — the WITH of
    * `STARTS WITH` / `ENDS WITH` is disqualified by its preceding word. */
  private def clauseWithPositions(s: String): Seq[Int] =
    allTopLevelKeywords(s, "WITH").filterNot { p =>
      val before = s.substring(0, p).reverse.dropWhile(_.isWhitespace).reverse
      "(?i).*\\b(starts|ends)$".r.matches(before)
    }

  /** Every top-level (quote-aware, \w-bounded) occurrence of `word`,
    * ascending — the multi-hit sibling of [[topLevelKeyword]]. */
  private def allTopLevelKeywords(s: String, word: String): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var quote: Char = 0
    var brace = 0 // `{…}` bodies are opaque, as in [[topLevelKeyword]]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == '{') brace += 1
      else if (c == '}') brace = math.max(0, brace - 1)
      else if (brace == 0 &&
          s.regionMatches(true, i, word, 0, word.length) &&
          (i == 0 || !isWordChar(s.charAt(i - 1))) &&
          (i + word.length >= s.length || !isWordChar(s.charAt(i + word.length)))) {
        out += i
        i += word.length - 1
      }
      i += 1
    }
    out.toSeq
  }
}
