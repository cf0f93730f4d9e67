package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.ops.Bounded
import graft.ops.Pin._

/** Corpus-preparation operators a large-scale training-data pipeline needs
  * on top of dedup/similarity: benchmark decontamination, per-document
  * term weighting, and deterministic stratified sampling.
  *
  * All three are one-or-two-shuffle shapes with no driver-side loops, and
  * every per-row kernel rides the shared portable rolling hash
  * ([[graft.functions.TextFunctions.rollingHash]]), so each operator is
  * replayable (and oracle-checked) in any SQL engine with 64-bit ints.
  */
object Corpus {

  /** Train/test decontamination: for every corpus document, count the
    * distinct word k-grams it shares with a benchmark/eval set — the
    * standard "n-gram overlap" contamination check run before training.
    *
    * Shape: the benchmark's shingle set is tiny relative to the corpus
    * (eval sets are thousands of docs against billions), so the join is
    * broadcast-able and the corpus side streams through in one pass; with
    * AQE on, Spark picks the broadcast automatically from the DISTINCT'd
    * build side. Nothing is all-pairs: work is |corpus shingles ∩ bench
    * shingles| via the hash join.
    *
    * @param benchPred marks rows of `docs` as the benchmark set
    * @return (doc_id, n_shared) for non-benchmark docs with ≥1 shared
    *         k-gram
    */
  def contamination(docs: DataFrame, benchPred: Column, k: Int): DataFrame = {
    // filter BEFORE shingling on each side: the bench predicate pushes to
    // the scan, so only the (tiny) bench slice is shingled for the build
    // side and the corpus is shingled exactly once on the probe side
    val benchH = docs.filter(benchPred)
      .select(explode(shingleHashes(col("text"), k)).as("h")).distinct()
    docs.filter(!benchPred)
      .select(col("doc_id"), explode(shingleHashes(col("text"), k)).as("h"))
      .join(benchH, "h")
      // shingleHashes is per-doc distinct already, so a plain count is
      // the distinct-shared-shingle count
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** Top-`n` terms per document by tf-idf (tf × ln(N/df)), ties broken by
    * term — the classic relevance weighting, here as a corpus-quality /
    * keyword-extraction primitive.
    *
    * Shape: explode → two aggregations (both partial-agg friendly) → one
    * window for the per-doc top-n. The doc count joins in as a broadcast
    * 1-row frame, not a driver-side `.count()` splice. Scores round to 4
    * decimals BEFORE ranking so the ordering is engine-portable.
    */
  def tfIdfTopTerms(docs: DataFrame, n: Int): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 4))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= n)
      .select(col("doc_id"), col("term"), col("score"), col("rk"))
  }

  /** Pointwise mutual information of co-occurring word pairs — the
    * collocation miner (Church & Hanks 1990): for frequent terms a, b,
    * `pmi = ln(P(a,b) / (P(a)·P(b)))` over document-level co-occurrence.
    * High-PMI pairs surface multiword expressions and topical couplings;
    * a corpus-quality audit runs it to spot boilerplate phrase locks.
    *
    * Shape: ONE distinct (doc, term) pass; document frequencies gate the
    * vocabulary to terms in ≥ `minDfPct`% of docs — that bound is the
    * scale argument, since terms with df ≥ N·q number at most
    * (avg distinct terms per doc)/q regardless of corpus size, so the
    * per-doc pair fan-out is bounded and the self-join is never
    * all-pairs over raw vocabulary. Counts stay exact BIGINTs; the only
    * float is one ln of an exactly-computed rational, rounded to 4
    * before the TakeOrdered so ranking is engine-portable. */
  def pmiPairs(docs: DataFrame, minDfPct: Int = 10, minPairPct: Int = 1,
      topK: Int = 20): DataFrame = {
    val tw = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "").distinct()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val freq = tw.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 100 >= col("n_docs") * minDfPct)
      .select("term", "df")
    val ft = tw.join(broadcast(freq), "term")
    ft.select(col("doc_id"), col("term").as("t1"), col("df").as("df1"))
      .join(ft.select(col("doc_id"), col("term").as("t2"),
        col("df").as("df2")), "doc_id")
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2", "df1", "df2").agg(count(lit(1)).as("n_ab"))
      .crossJoin(broadcast(nDocs))
      .filter(col("n_ab") * 100 >= col("n_docs") * minPairPct)
      .select(col("t1"), col("t2"), col("n_ab").cast("long").as("n_ab"),
        round(log((col("n_ab") * col("n_docs")).cast("double") /
          (col("df1") * col("df2")).cast("double")), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("t1"), col("t2"))
      .limit(topK)
  }

  /** Per-document BIGRAM-LM negative log-likelihood — the real
    * perplexity scorer behind CCNet-style quality bucketing: train an
    * add-one-smoothed bigram model on the corpus itself, then score
    * each document's token stream under it; high NLL = off-distribution
    * (or gibberish) text. `P(w₂|w₁) = (c₁₂+1)/(c₁+V)`.
    *
    * Determinism: probabilities are exact-rational doubles; each
    * bigram's −ln P rounds to 8 and the per-doc sum folds SEQUENTIALLY
    * in token-position order over a collected per-doc list (bounded by
    * document length — the zipfSlope/sourceKl fold discipline). The
    * model (≤ vocab² rows) broadcasts; the corpus passes once for
    * counts and once for scoring. */
  def bigramNll(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val pairs = toks
      .withColumn("w2", lead(col("w"), 1).over(w2))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("pos"), col("w").as("w1"), col("w2"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = toks.agg(count_distinct(col("w")).as("v"))
    pairs
      .join(broadcast(big), Seq("w1", "w2"), "left")
      .join(broadcast(uni.crossJoin(broadcast(vocab))), Seq("w1"))
      .select(col("doc_id"), col("pos"),
        round(-log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
          (col("c1") + col("v")).cast("double")), 8).as("nl"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("nl"))))
        .as("ns"))
      .select(col("doc_id"),
        expr("CAST(size(ns) AS BIGINT)").as("n_bigrams"),
        expr("round(aggregate(ns, 0D, (a, e) -> a + e.nl) / size(ns), 4)")
          .as("nll"))
  }

  /** Per-source KL DIVERGENCE from the corpus unigram distribution —
    * the domain-shift diagnostic (CCNet/DSIR lineage): a source whose
    * Laplace-smoothed term distribution sits far from the corpus's is a
    * candidate for reweighting or review. `KL(p_s ‖ q) =
    * Σ_t p ln(p/q)` with add-one smoothing over the shared vocabulary
    * (so zero counts stay finite and every source scores the same
    * support).
    *
    * Determinism: probabilities are exact-rational divisions (identical
    * doubles both engines); each term's contribution rounds to 8 before
    * the TERM-ORDERED sequential fold (the zipfSlope discipline), so
    * last-ulp ln() differences can never reach a sum. Scale: corpus
    * work is one (source, term) groupBy; the sources × vocabulary grid
    * is bounded (vocab × |sources|), and the corpus side broadcasts. */
  def sourceKl(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"),
        explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val st = tok.groupBy("source", "term").agg(count(lit(1)).as("c"))
    val corpus = tok.groupBy("term").agg(count(lit(1)).as("ct"))
    val vocabN = corpus.agg(count(lit(1)).as("v"), sum(col("ct")).as("n"))
    val sources = st.groupBy("source").agg(sum(col("c")).as("ns"))
    sources.crossJoin(broadcast(corpus))
      .join(st, Seq("source", "term"), "left")
      .crossJoin(broadcast(vocabN))
      .select(col("source"), col("term"),
        ((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("ns") + col("v")).cast("double")).as("p"),
        ((col("ct") + 1).cast("double") /
          (col("n") + col("v")).cast("double")).as("q"))
      .select(col("source"), col("term"),
        round(col("p") * log(col("p") / col("q")), 8).as("contrib"))
      .groupBy("source")
      .agg(sort_array(collect_list(struct(col("term"), col("contrib"))))
        .as("cs"))
      .select(col("source"),
        round(expr("aggregate(cs, 0D, (a, e) -> a + e.contrib)"), 4)
          .as("kl"))
  }

  /** TOP n-GRAM repetition screens, n ∈ {2,3,4} (r13 — the remaining
    * "repetitious text" rows of Gopher's rule table, Rae et al. 2021
    * App. A1.1: a document where one n-gram dominates is boilerplate/
    * spam): per document, the fraction of CHARACTERS contained within
    * occurrences of the single most frequent n-gram — the statistic the
    * published thresholds (0.20/0.18/0.16) are actually defined over
    * (r14, advisor: the earlier occurrence-count fraction diverges from
    * it whenever a short dominant gram sits in long-token text).
    * Computed as exact integer PPM — `1000000·max_count·gram_chars div
    * doc_chars` — where doc_chars is the space-joined NORMALIZED token
    * stream (the same normalization the grams are built from, so
    * numerator and denominator count the same alphabet) and gram_chars
    * includes the joining spaces. Most-frequent tie-break: highest
    * count, then longest gram (the choice only reaches the output
    * through the gram's LENGTH, so any further tie is outcome-free).
    * Sliding occurrences may overlap ("a a a a"), so the ppm can
    * exceed 10⁶ — the screen direction is unaffected.
    *
    * Shape: one explode per n off the shared token-array scan, counts
    * keyed by (doc_id, n, gram) — partial-agg friendly, well-spread —
    * then a per-doc struct-max, a broadcast-size doc-length join, and a
    * 3-way conditional pivot. Short docs (< n tokens) contribute no
    * n-grams and keep. */
  def topNgramFracs(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val stacked = (2 to 4).map { n =>
      toks.filter(size(col("t")) >= n)
        .select(col("doc_id"), lit(n).as("n"),
          explode(expr(s"transform(sequence(1, size(t) - ${n - 1}), " +
            s"i -> array_join(slice(t, i, $n), ' '))")).as("gram"))
    }.reduce(_ unionByName _)
    val dl = toks.select(col("doc_id"),
      length(array_join(col("t"), " ")).cast("long").as("dl"))
    val top = stacked.groupBy("doc_id", "n", "gram")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n")
      .agg(max(struct(col("c"),
        length(col("gram")).cast("long").as("gl"))).as("m"))
      .select(col("doc_id"), col("n"),
        col("m").getField("c").as("mc"), col("m").getField("gl").as("gl"))
      .join(dl, Seq("doc_id"))
      .groupBy("doc_id")
      .agg(
        max(when(col("n") === 2, expr("1000000 * mc * gl div dl"))).as("p2"),
        max(when(col("n") === 3, expr("1000000 * mc * gl div dl"))).as("p3"),
        max(when(col("n") === 4, expr("1000000 * mc * gl div dl"))).as("p4"))
    docs.select(col("doc_id")).join(top, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("p2"), lit(0L)).as("top2_ppm"),
        coalesce(col("p3"), lit(0L)).as("top3_ppm"),
        coalesce(col("p4"), lit(0L)).as("top4_ppm"))
      .withColumn("keep",
        (col("top2_ppm") <= 200000L && col("top3_ppm") <= 180000L &&
          col("top4_ppm") <= 160000L).cast("int"))
  }

  /** DUPLICATE-LINE repetition screens (r14 — Gopher A1.1 rows 1 and 3,
    * Rae et al. 2021: a document whose lines repeat is templated
    * boilerplate — navigation chrome, forum signatures, scraped
    * listings): per document, the fraction of LINES that are repeats of
    * an earlier identical line, and the fraction of CHARACTERS those
    * repeat occurrences carry — both exact integer PPM (`1e6·x div y`,
    * never a float ratio). A line occurring c times contributes c−1
    * repeat lines and (c−1)·length repeat characters; character totals
    * count line bytes only (separators excluded on both sides of the
    * div, so the statistic is separator-free). The screen keeps when
    * dup_line_ppm ≤ 300000 AND dup_char_ppm ≤ 200000 (the published
    * 0.30/0.20 thresholds). All-empty docs (0 total chars) keep with 0
    * ppm.
    *
    * Shape: one explode on the line separator, one partial-agg-friendly
    * (doc_id, line) groupBy, one per-doc fold — no cross-doc shuffle
    * skew (line counts key on (doc_id, line), well-spread). */
  def dupLineStats(docs: DataFrame): DataFrame = {
    val lines = docs.select(col("doc_id"),
      explode(split(col("text"), "\n")).as("line"))
    val perLine = lines.groupBy("doc_id", "line")
      .agg(count(lit(1)).as("c"))
      .withColumn("l", length(col("line")).cast("long"))
    val perDoc = perLine.groupBy("doc_id").agg(
      sum(col("c")).as("n_lines"),
      sum(col("c") - 1).as("dup_lines"),
      sum(col("c") * col("l")).as("tot_chars"),
      sum((col("c") - 1) * col("l")).as("dup_chars"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(expr("1000000 * dup_lines div n_lines"), lit(0L))
          .as("dup_line_ppm"),
        coalesce(when(col("tot_chars") > 0,
          expr("1000000 * dup_chars div tot_chars")), lit(0L))
          .as("dup_char_ppm"))
      .withColumn("keep",
        (col("dup_line_ppm") <= 300000L && col("dup_char_ppm") <= 200000L)
          .cast("int"))
  }

  /** DUPLICATED n-GRAM repetition screens, n ∈ {5..10} (r14 — Gopher
    * A1.1 rows 6–10, the long-range twin of [[topNgramFracs]]' rows
    * 3–5: where a TOP short gram flags a dominant phrase, ANY repeated
    * long gram flags copy-paste structure — templated spans repeated
    * inside one document): per document and n, the fraction of
    * characters carried by occurrences of n-grams that appear MORE THAN
    * ONCE, as exact integer PPM against the normalized space-joined
    * token stream (the topNgramFracs denominator — numerator and
    * denominator count the same alphabet; gram chars include the
    * joining spaces, occurrences may overlap so ppm can exceed 10⁶,
    * screen direction unaffected). Keeps when every n passes its
    * published threshold (0.15/0.14/0.13/0.12/0.11/0.10 for n=5..10).
    * Short docs (< n tokens) contribute no n-grams and keep.
    *
    * Shape: one explode per n off the shared token-array scan, counts
    * keyed by (doc_id, n, gram) — partial-agg friendly, well-spread —
    * the c ≥ 2 filter BEFORE the per-doc fold (the unique tail, the
    * vast majority of grams, dies in the partial aggregate), then a
    * broadcast-size doc-length join and a 6-way conditional pivot. */
  def dupNgramFracs(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val stacked = (5 to 10).map { n =>
      toks.filter(size(col("t")) >= n)
        .select(col("doc_id"), lit(n).as("n"),
          explode(expr(s"transform(sequence(1, size(t) - ${n - 1}), " +
            s"i -> array_join(slice(t, i, $n), ' '))")).as("gram"))
    }.reduce(_ unionByName _)
    val dl = toks.select(col("doc_id"),
      length(array_join(col("t"), " ")).cast("long").as("dl"))
    val dup = stacked.groupBy("doc_id", "n", "gram")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .groupBy("doc_id", "n")
      .agg(sum(col("c") * length(col("gram")).cast("long")).as("dc"))
      .join(dl, Seq("doc_id"))
      .groupBy("doc_id")
      .agg(
        max(when(col("n") === 5, expr("1000000 * dc div dl"))).as("p5"),
        (6 to 10).map(n =>
          max(when(col("n") === n, expr("1000000 * dc div dl")))
            .as(s"p$n")): _*)
    val thresholds = Map(5 -> 150000L, 6 -> 140000L, 7 -> 130000L,
      8 -> 120000L, 9 -> 110000L, 10 -> 100000L)
    docs.select(col("doc_id")).join(dup, Seq("doc_id"), "left")
      .select(col("doc_id") +:
        (5 to 10).map(n => coalesce(col(s"p$n"), lit(0L))
          .as(s"dup${n}_ppm")): _*)
      .withColumn("keep",
        (5 to 10).map(n => col(s"dup${n}_ppm") <= thresholds(n))
          .reduce(_ && _).cast("int"))
  }

  /** SPECIAL-TOKEN contamination screen (r13) — tokenizer hygiene: web
    * scrapes that already passed through an LLM pipeline leak control
    * tokens (`<|endoftext|>`, ChatML `<|im_start|>`, SentencePiece
    * `<s>`/`</s>`/`<unk>`/`<pad>`, Llama `[INST]`), and a document
    * carrying them poisons training (the tokenizer emits REAL control
    * ids mid-document — document-boundary and turn structure corrupt
    * silently). Counts each family with literal (non-regex) substring
    * counting, flags any hit. Pure narrow map, all-integer verdict.
    *
    * r14 (advisor): `<s>`/`</s>` are ALSO legitimate HTML strikethrough
    * tags — common in web scrapes upstream of HTML stripping — so they
    * only count when at least one UNAMBIGUOUS family (`<|…|>`, `<unk>`,
    * `<pad>`, `[INST]`) co-occurs in the same document; alone they
    * neither count nor flag. */
  val specialTokens: Seq[String] = Seq(
    "<|endoftext|>", "<|im_start|>", "<|im_end|>", "<|assistant|>",
    "<s>", "</s>", "<unk>", "<pad>", "[INST]", "[/INST]")

  /** The HTML-ambiguous subset of [[specialTokens]] (strikethrough). */
  val htmlAmbiguousTokens: Set[String] = Set("<s>", "</s>")

  /** HTML entities decoded by [[htmlStrip]], in APPLICATION order —
    * `&amp;` must decode LAST so `&amp;lt;` correctly single-decodes to
    * the literal `&lt;` (the standard double-escape rule). */
  val htmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** HTML STRIPPING (r14) — the FIRST step of every web-scrape curation
    * pipeline (trafilatura/jusText's extraction core, minus readability
    * heuristics), and the stage the [[specialTokenScreen]] contract
    * explicitly sequences after: drop `<script>`/`<style>` blocks and
    * comments WITH their contents (code/CSS must not leak into the
    * text), turn every remaining tag into a space, decode the common
    * named entities (in [[htmlEntities]] order — `&amp;` last, so
    * double-escapes single-decode), and collapse whitespace. Emits the
    * cleaned text plus the audit counters a pipeline thresholds on:
    * tag and entity counts and the kept-character ratio (exact integer
    * ppm — a page that is mostly markup keeps a low ratio and gets
    * routed to re-extraction).
    *
    * Shape: a pure NARROW MAP of codegen'd regexp_replace/replace
    * chains — zero Exchange (plan-gated), embarrassingly parallel at
    * any scale. Regexes stay in the Java-regex ∩ RE2 subset ((?is),
    * lazy quantifiers, character classes) so the oracle replays them
    * verbatim. */
  def htmlStrip(docs: DataFrame): DataFrame = {
    val raw = col("text")
    def countOf(c: org.apache.spark.sql.Column, tok: String) =
      ((length(c) - length(call_function("replace", c, lit(tok), lit("")))) /
        lit(tok.length)).cast("long")
    val noBlocks = regexp_replace(
      regexp_replace(
        regexp_replace(raw, "(?is)<script[^>]*>.*?</script>", " "),
        "(?is)<style[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")
    val nTags = regexp_count(noBlocks, lit("<[^>]*>")).cast("long")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    val nEntities = htmlEntities.map(e => countOf(noTags, e._1))
      .reduce(_ + _)
    val decoded = htmlEntities.foldLeft(noTags) { case (c, (from, to)) =>
      call_function("replace", c, lit(from), lit(to))
    }
    val clean = trim(regexp_replace(decoded, "\\s+", " "))
    docs.select(col("doc_id"), clean.as("text_clean"),
      nTags.as("n_tags"), nEntities.as("n_entities"),
      length(raw).cast("long").as("__rawlen"))
      .select(col("doc_id"), col("text_clean"), col("n_tags"),
        col("n_entities"),
        expr("1000000 * length(text_clean) div greatest(__rawlen, 1)")
          .as("kept_ppm"))
  }

  /** K-ANONYMITY screen over quasi-identifiers (r14b — Sweeney 2002,
    * the data-governance gate a corpus with per-document metadata runs
    * before release: any (lang, source, size-octave) equivalence class
    * smaller than k re-identifies its members by metadata alone, so
    * those documents suppress or generalize). Quasi-identifiers here
    * are the release metadata columns plus the integer log2 size
    * octave (`length(bin(n))` — the st_ddsketch bucketing idea as a
    * GENERALIZATION function: exact sizes re-identify, octaves don't).
    * One partial-agg groupBy over a bounded key space
    * (langs × sources × ~60 octaves); the flag is an exact integer
    * compare. Returns one row per equivalence class:
    * (lang, source, len_oct, n, k_anon). */
  def kAnonymity(docs: DataFrame, k: Int = 5): DataFrame =
    docs.select(col("lang"), col("source"),
        length(bin(greatest(col("n_chars"), lit(1L)))).cast("int")
          .as("len_oct"))
      .groupBy("lang", "source", "len_oct")
      .agg(count(lit(1)).as("n"))
      .withColumn("k_anon", (col("n") >= k).cast("int"))

  /** ℓ-DIVERSITY screen (r15 — Machanavajjhala 2007, the standard
    * companion to [[kAnonymity]]): k-anonymity bounds class SIZE but a
    * class whose members all share one SENSITIVE value still discloses
    * it (the homogeneity attack — every k-sized class with one disease
    * tells you the disease). Here the quasi-identifiers are (lang,
    * size octave) and the sensitive attribute is `source` (which
    * collection a document came from — exactly what a release wants to
    * keep non-attributable per document): a class releases only when
    * it carries ≥ ℓ DISTINCT sensitive values. Same scale shape as the
    * k-screen — ONE partial-agg groupBy over a bounded key space
    * (langs × ~60 octaves) with `count_distinct` riding the same
    * shuffle; exact integer decisions. Returns one row per
    * equivalence class: (lang, len_oct, n, n_sens, l_div). */
  def lDiversity(docs: DataFrame, l: Int = 3): DataFrame =
    docs.select(col("lang"), col("source"),
        length(bin(greatest(col("n_chars"), lit(1L)))).cast("int")
          .as("len_oct"))
      .groupBy("lang", "len_oct")
      .agg(count(lit(1)).as("n"),
        count_distinct(col("source")).as("n_sens"))
      .withColumn("l_div", (col("n_sens") >= l).cast("int"))

  /** t-CLOSENESS screen (r15 — Li 2007, completing the governance trio
    * beside [[kAnonymity]] and [[lDiversity]]): ℓ distinct sensitive
    * values per class still disclose when the class DISTRIBUTION skews
    * far from the corpus-wide one (the skewness attack — 49 healthy +
    * 1 rare-disease in a class where the disease is 1-in-a-million
    * corpus-wide is a disclosure). A class releases only when the
    * total-variation distance between its sensitive distribution and
    * the global one is ≤ t. All decisions are EXACT integers: TVD =
    * Σ|c_s/n − g_s/N| / 2 = Σ|c_s·N − g_s·n| / (2·n·N), reported as
    * ppm via one integral division (products route through
    * DECIMAL(38,0) so web-scale counts — N² ≈ 10²² at 10¹¹ docs —
    * never wrap int64; DuckDB mirrors in HUGEINT). Sources a class
    * lacks contribute |0·N − g_s·n| (Li's definition sums over the
    * DOMAIN), hence the class × global-source grid — bounded (langs ×
    * ~60 octaves × |sources|) with the global table broadcast, same
    * scale shape as [[psiDrift]]. Returns one row per class:
    * (lang, len_oct, n, tvd_ppm, t_close). */
  def tCloseness(docs: DataFrame, tPpm: Long = 200000L): DataFrame = {
    // NULL sensitive values are outside Li's domain: a NULL source never
    // matches the grid's left join, so keeping such docs would inflate a
    // class's n while their mass vanished from its distribution,
    // over-reporting TVD (r16, advisor). Filter them out of the corpus
    // on BOTH sides of the compare (the oracle mirrors this WHERE).
    val base = docs.filter(col("source").isNotNull)
      .select(col("lang"), col("source"),
      length(bin(greatest(col("n_chars"), lit(1L)))).cast("int")
        .as("len_oct"))
    tClosenessFromGrid(base.groupBy("lang", "len_oct", "source")
      .agg(count(lit(1)).as("c")), tPpm)
  }

  /** The TVD read-out of [[tCloseness]] from an already-materialized
    * class × source count GRID (lang, len_oct, source, c) — shared
    * with the STREAMING arm (r16): a streaming groupBy maintains the
    * grid incrementally (O(bounded-key) state), and this stateless
    * finishing fold scores the current snapshot, so stream-fold +
    * finish ≡ the batch operator. */
  def tClosenessFromGrid(cls: DataFrame,
      tPpm: Long = 200000L): DataFrame = {
    val glob = cls.groupBy("source").agg(sum(col("c")).as("g"))
    val tot = glob.agg(sum(col("g")).as("gtot"))
    val classN = cls.groupBy("lang", "len_oct").agg(sum(col("c")).as("n"))
    // fresh exprIds on the re-joined grid copy: classN/glob derive from
    // cls too, and an aggregated grid input (the streaming arm) trips
    // the analyzer's conflicting-reference dedup otherwise
    val clsJ = cls.select(cls.columns.map(c => col(c).as(c)): _*)
    classN.crossJoin(broadcast(glob))
      .join(clsJ, Seq("lang", "len_oct", "source"), "left")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("len_oct"), col("n"),
        expr("""abs(cast(coalesce(c, 0) as decimal(38,0)) * gtot
               |    - cast(g as decimal(38,0)) * n)""".stripMargin)
          .as("dev"),
        expr("cast(n as decimal(38,0)) * gtot").as("nN"))
      .groupBy("lang", "len_oct")
      .agg(max(col("n")).as("n"),
        expr("cast((sum(dev) * 500000) div max(nN) as bigint)")
          .as("tvd_ppm"))
      .withColumn("t_close", (col("tvd_ppm") <= tPpm).cast("int"))
  }

  def specialTokenScreen(docs: DataFrame): DataFrame = {
    // literal count: (len(text) − len(replace(text, tok, ''))) / len(tok)
    def countOf(tok: String) =
      ((length(col("text")) -
        length(call_function("replace", col("text"), lit(tok), lit("")))) /
        lit(tok.length)).cast("long")
    val sure = specialTokens.filterNot(htmlAmbiguousTokens)
      .map(countOf).reduce(_ + _)
    val ambig = htmlAmbiguousTokens.toSeq.sorted.map(countOf).reduce(_ + _)
    docs.select(col("doc_id"), sure.as("ns"), ambig.as("na"))
      .select(col("doc_id"),
        (col("ns") + when(col("ns") > 0L, col("na")).otherwise(lit(0L)))
          .as("n_special"))
      .withColumn("contaminated", (col("n_special") > 0).cast("int"))
  }

  /** POPULATION STABILITY INDEX per source (r13) — the standard
    * production drift monitor (credit-scoring lineage, the metric a
    * corpus pipeline alarms on between ingest versions): PSI =
    * Σ_buckets (p_i − q_i)·ln(p_i/q_i) of each source's document-length
    * distribution against the whole corpus, with the conventional
    * read-out thresholds (< 0.1 stable, ≥ 0.25 drifted). Buckets are
    * log2 OCTAVES of the character length — `length(bin(len))`, pure
    * integer, so the bucket boundary can never 1-ulp-flip cross-engine
    * (the st_ddsketch discipline); Laplace-smoothed over the corpus
    * bucket set so empty buckets stay finite. Each term rounds to 8
    * before a bucket-ordered sequential fold (the sourceKl discipline —
    * ln() last-ulp drift can never reach a sum).
    *
    * Scale: one narrow map + two partial-agg groupBys; the sources ×
    * buckets grid is bounded (≤ ~60 octaves × |sources|) and the corpus
    * side broadcasts — same shape as sourceKl, no corpus joins. */
  def psiDrift(docs: DataFrame): DataFrame = {
    val b = docs.select(col("source"),
      length(bin(greatest(length(col("text")).cast("long"), lit(1L))))
        .as("bucket"))
    val sb = b.groupBy("source", "bucket").agg(count(lit(1)).as("c"))
    val corpus = b.groupBy("bucket").agg(count(lit(1)).as("cb"))
    val tot = corpus.agg(count(lit(1)).as("nb"), sum(col("cb")).as("n"))
    val srcs = sb.groupBy("source").agg(sum(col("c")).as("ns"))
    srcs.crossJoin(broadcast(corpus))
      .join(sb, Seq("source", "bucket"), "left")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("bucket"),
        ((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("ns") + col("nb")).cast("double")).as("p"),
        ((col("cb") + 1).cast("double") /
          (col("n") + col("nb")).cast("double")).as("q"))
      .select(col("source"), col("bucket"),
        round((col("p") - col("q")) * log(col("p") / col("q")), 8)
          .as("contrib"))
      .groupBy("source")
      .agg(sort_array(collect_list(struct(col("bucket"), col("contrib"))))
        .as("cs"))
      .select(col("source"),
        round(expr("aggregate(cs, 0D, (a, e) -> a + e.contrib)"), 4)
          .as("psi"))
      .withColumn("drifted", (col("psi") >= 0.25).cast("int"))
  }

  /** Zipf rank-frequency slope — the classic corpus-health diagnostic
    * (natural language sits near slope −1 on the log-log rank/frequency
    * line; spammy or templated corpora bend away): least-squares slope
    * of `(ln r, ln f_r)` over the top-`k` terms.
    *
    * Determinism: each ln rounds to 6 BEFORE any summation (java and C
    * ln may differ in the last ulp — rounding first makes every fold
    * input bit-identical), and all four sums fold SEQUENTIALLY in rank
    * order over one collected ≤k-element array (`sort_array` +
    * `aggregate`, the cosine-kernel fold discipline) — no
    * summation-order hazard. Scale: corpus-sized work is the one token
    * groupBy; the rank window and the fit run on the ≤k aggregate. */
  def zipfSlope(docs: DataFrame, k: Int = 30): DataFrame = {
    val tf = docs.select(explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
    // Global top-k via orderBy().limit(k) — TakeOrderedAndProject in the
    // physical plan (per-partition top-k + k-bounded driver merge), never
    // a full-table single-partition window. The rank window then runs on
    // the ≤k-row aggregate only (the dsirSelect/gumbelTopK spelling).
    val top = tf.orderBy(col("n").desc, col("term")).limit(k)
    val w = Window.orderBy(col("n").desc, col("term"))
    val ranked = top.withColumn("r", row_number().over(w))
      .select(col("r"),
        round(log(col("r").cast("double")), 6).as("x"),
        round(log(col("n").cast("double")), 6).as("y"))
    ranked
      .agg(sort_array(collect_list(struct(col("r"), col("x"), col("y"))))
        .as("p"))
      .select(
        expr("CAST(size(p) AS BIGINT)").as("n_terms"),
        expr("""round(
          (size(p) * aggregate(p, 0D, (a, e) -> a + e.x * e.y)
            - aggregate(p, 0D, (a, e) -> a + e.x)
              * aggregate(p, 0D, (a, e) -> a + e.y))
          / (size(p) * aggregate(p, 0D, (a, e) -> a + e.x * e.x)
            - aggregate(p, 0D, (a, e) -> a + e.x)
              * aggregate(p, 0D, (a, e) -> a + e.x)), 4)""").as("slope"))
  }

  /** Gopher-style repetition screens per document: the duplicate-word
    * fraction (1 − distinct/total tokens) and the share of bigram
    * occurrences taken by the single most frequent bigram — high values
    * flag boilerplate/spam for corpus filtering (the "repetitious text"
    * rules of large-corpus quality pipelines).
    *
    * Shape: the token stats are a narrow map; the bigram mode is one
    * explode + two partial-agg-friendly groupBys keyed by doc_id — no
    * per-doc collect, no cross-doc shuffle skew (bigram counts shuffle on
    * (doc_id, bigram), already well-spread). */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val base = toks.select(col("doc_id"),
      size(col("t")).cast("long").as("n_tokens"),
      size(array_distinct(col("t"))).cast("long").as("n_distinct"))
    val bi = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .as("bg"))
    val top = bi.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bg"), sum("c").as("n_bg"))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 4)
          .as("dup_word_frac"),
        coalesce(round(col("top_bg").cast("double") / col("n_bg"), 4), lit(0.0))
          .as("top_bigram_frac"))
  }

  /** Budget-constrained WATER-FILLING allocation over strata — the data
    * mixing step a training run executes after temperature flattening:
    * allocate a token budget (`budgetNum/budgetDen` of total
    * availability) across languages proportionally to sqrt-flattened
    * availability, CAP any stratum at what it actually has,
    * redistribute the surplus among the uncapped, repeat to fixpoint
    * (≤ #strata rounds; `rounds` rounds are unrolled — once converged,
    * extra cap-rounds are no-ops, which is exactly what lets the
    * oracle unroll the same fixed count). ALL arithmetic is integer —
    * corrected isqrt weights (a floor(sqrt(double)) alone can
    * 1-ulp-flip at perfect squares) and integral division — so the
    * allocation is bit-portable. The input is the already-tiny
    * per-stratum aggregate; every round is two 1-row broadcasts + a
    * narrow map. Returns (stratum, avail, alloc, capped). */
  def budgetFill(avail: DataFrame, budgetNum: Long = 8, budgetDen: Long = 10,
      rounds: Int = 4): DataFrame = {
    val w0 = floor(sqrt(col("avail").cast("double"))).cast("long")
    val isq = when((w0 + 1) * (w0 + 1) <= col("avail"), w0 + 1)
      .when(w0 * w0 > col("avail"), w0 - 1)
      .otherwise(w0)
    var df = avail.select(col("stratum"), col("avail").cast("long").as("avail"))
      .withColumn("w", isq)
      .withColumn("capped", lit(false))
      .withColumn("alloc", lit(0L))
      .pin(eager = false)
    val budgetRow = df
      .agg((sum(col("avail")) * budgetNum).as("_bnum"))
      .select(expr(s"_bnum div $budgetDen").as("budget"))
    def withPool(d: DataFrame): DataFrame = {
      val sw = d.filter(!col("capped"))
        .agg(coalesce(sum(col("w")), lit(0L)).as("sw"))
      val spent = d.agg(coalesce(sum(when(col("capped"), col("alloc"))
        .otherwise(lit(0L))), lit(0L)).as("spent"))
      d.crossJoin(broadcast(sw)).crossJoin(broadcast(spent))
        .crossJoin(broadcast(budgetRow))
        .withColumn("rem", col("budget") - col("spent"))
        .withColumn("share", when(col("capped") || col("sw") === 0, lit(0L))
          .otherwise(expr("rem * w div sw")))
    }
    for (_ <- 1 to rounds) {
      df = withPool(df)
        .withColumn("newcap", !col("capped") && col("share") >= col("avail"))
        .withColumn("alloc", when(col("newcap"), col("avail"))
          .otherwise(col("alloc")))
        .withColumn("capped", col("capped") || col("newcap"))
        .select("stratum", "avail", "w", "capped", "alloc")
        .pin(eager = false)
    }
    // least(share, avail): with enough rounds the guard is a no-op
    // (uncapped share < avail at the fixpoint); with too few it bounds
    // the error to under-allocation, never an over-claimed stratum
    withPool(df).select(col("stratum"), col("avail"),
      when(col("capped"), col("alloc"))
        .otherwise(least(col("share"), col("avail"))).as("alloc"),
      col("capped").cast("int").as("capped"))
  }

  /** URL canonicalization + duplicate-URL collapse — the recrawl dedup
    * every web corpus runs before content dedup: scheme and `www.`
    * drop (case-insensitive), host lowercased (paths stay
    * case-sensitive, per RFC 3986), query/fragment strip, trailing
    * slash trim; documents sharing a canonical URL collapse to the
    * FIRST (min doc_id — deterministic, replayable). One narrow
    * canonicalization map + one groupBy: a single shuffle on the
    * canonical key at any scale. Every regex is ANCHORED (single
    * possible match), so Spark's replace-all and an oracle's
    * replace-first agree. */
  def dedupByUrl(docs: DataFrame, url: Column): DataFrame =
    docs.withColumn("canonical_url", canonicalUrl(url))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))

  /** The canonical form of one URL (see [[dedupByUrl]]). IDEMPOTENT —
    * canonicalizing a canonical URL is a no-op (property-tested), the
    * invariant that lets canonical keys be stored and re-joined. */
  def canonicalUrl(url: Column): Column = {
    val noScheme = regexp_replace(url, "(?i)^[a-z][a-z0-9+.-]*://", "")
    // ALL leading www labels in one pass: a host like www.www.x.com must
    // canonicalize to the same key as its own canonical form, or the
    // idempotence invariant breaks on re-canonicalization
    val noWww = regexp_replace(noScheme, "(?i)^(www\\.)+", "")
    val host = substring_index(noWww, "/", 1)
    val rest = noWww.substr(length(host) + 1, length(noWww))
    val restClean =
      regexp_replace(regexp_replace(rest, "[?#].*$", ""), "/+$", "")
    concat(lower(host), restClean)
  }

  /** Gopher quality rules (Rae et al. 2021, App. A1.1) — the published
    * heuristic document screen for web-scale LM corpora, as ONE narrow
    * codegen'd projection (no shuffle, no UDF): word count ∈ [minWords,
    * maxWords], mean word length ∈ [3,10], symbol-to-word ratio (`#` or
    * `...`) ≤ 0.1, ≤ 90% of non-blank lines bullet-started, ≤ 30%
    * ellipsis-ended, ≥ 80% of words containing an alphabetic character,
    * and ≥ 2 distinct stop words present ([[graft.functions
    * .TextFunctions.gopherStopwords]]); the ratio cutoffs are INCLUSIVE
    * (the paper removes when a ratio is GREATER than its threshold).
    * Every threshold decision is
    * INTEGER arithmetic (`10·symbols ≤ words`, `5·alpha ≥ 4·words`, …)
    * so the keep flag can never 1-ulp-flip between engines; the ratio
    * columns are rounded display stats only. Words are RAW whitespace
    * tokens (the published rules are over raw words); the stop-word
    * probe uses the normalized token stream. */
  def gopherScreen(docs: DataFrame, minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val rawToks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val nWords = size(rawToks).cast("long")
    val totLen = aggregate(rawToks, lit(0L), (a, t) => a + length(t))
    val nSym = regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("long")
    val lines = filter(split(col("text"), "\n"), l => length(trim(l)) > 0)
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines,
      l => substring(trim(l), 1, 1).isin("-", "*", "•"))).cast("long")
    val nEllip = size(filter(lines,
      l => trim(l).endsWith("...") || trim(l).endsWith("…"))).cast("long")
    val nAlpha = size(filter(rawToks,
      t => regexp_count(t, lit("[A-Za-z]")) > 0)).cast("long")
    val ntoks = tokens(col("text"))
    val nStops = gopherStopwords
      .map(w => when(array_contains(ntoks, w), 1L).otherwise(0L))
      .reduce(_ + _)
    val w1 = greatest(nWords, lit(1L))
    val l1 = greatest(nLines, lit(1L))
    // Rae et al. REMOVE when a ratio is GREATER than its cutoff and
    // REQUIRE at-least-80% alphabetic words — so a document sitting
    // exactly at a published threshold is KEPT (inclusive comparisons)
    val keep =
      nWords >= minWords && nWords <= maxWords &&
        totLen >= lit(3L) * nWords && totLen <= lit(10L) * nWords &&
        lit(10L) * nSym <= nWords &&
        lit(10L) * nBullet <= lit(9L) * nLines &&
        lit(10L) * nEllip <= lit(3L) * nLines &&
        lit(5L) * nAlpha >= lit(4L) * nWords &&
        nStops >= 2L
    docs.select(col("doc_id"), nWords.as("n_words"),
      round(totLen.cast("double") / w1, 4).as("mean_word_len"),
      round(nSym.cast("double") / w1, 4).as("symbol_ratio"),
      round(nBullet.cast("double") / l1, 4).as("bullet_frac"),
      round(nEllip.cast("double") / l1, 4).as("ellipsis_frac"),
      round(nAlpha.cast("double") / w1, 4).as("alpha_word_frac"),
      nStops.as("n_stop_hits"),
      keep.cast("int").as("keep"))
  }

  /** StarCoder/SantaCoder-style CODE-data screen (Li et al. 2023;
    * Allal et al. 2023): the line-geometry and character-class rules a
    * source-code corpus applies where prose rules ([[gopherScreen]])
    * don't transfer — drop files whose longest line exceeds
    * `maxLineLen` (minified/generated code), whose MEAN line length
    * exceeds `maxAvgLen`, or whose alphanumeric character fraction
    * falls below 25% (binary-ish/data blobs). Keep decisions are pure
    * integer comparisons (totals vs count·threshold, 4·alnum vs chars)
    * — a reported ratio sitting exactly on a cutoff can never flip
    * across engines; reported fractions round to 4. A pure narrow map,
    * zero Exchange, whole-stage codegen. */
  def codeScreen(docs: DataFrame, maxLineLen: Int = 1000,
      maxAvgLen: Int = 100): DataFrame = {
    val lines = split(col("text"), "\n")
    val nLines = size(lines).cast("long")
    val totLineLen = aggregate(lines, lit(0L), (a, l) => a + length(l))
    val maxLine = array_max(transform(lines, l => length(l))).cast("long")
    val nChars = length(col("text")).cast("long")
    val nAlnum = length(regexp_replace(col("text"), "[^A-Za-z0-9]", ""))
      .cast("long")
    val keep =
      maxLine <= maxLineLen &&
        totLineLen <= lit(maxAvgLen.toLong) * nLines &&
        lit(4L) * nAlnum >= nChars
    docs.select(col("doc_id"), nLines.as("n_lines"),
      maxLine.as("max_line_len"),
      round(totLineLen.cast("double") / greatest(nLines, lit(1L)), 4)
        .as("avg_line_len"),
      round(nAlnum.cast("double") / greatest(nChars, lit(1L)), 4)
        .as("alnum_frac"),
      keep.cast("int").as("keep"))
  }

  /** Payment-card PII with CHECKSUM VALIDATION — the upgrade over
    * pattern-only scrubbing ([[piiRedact]]): a 13–19 digit run is only
    * a card if it passes the Luhn mod-10 rule
    * ([[graft.functions.TextFunctions.luhnValid]]), so a 16-digit order
    * id that fails the checksum is counted as a candidate but neither
    * flagged nor redacted — validation cuts the false-positive rate the
    * way real PII scrubbers do. Redaction replaces every VALIDATED run
    * with `<CARD>`. A pure narrow map (regex extract + integer-only
    * checksum fold per candidate), no shuffle, no UDF. */
  def piiCards(docs: DataFrame): DataFrame = {
    val cands = expr("regexp_extract_all(text, '\\\\b\\\\d{13,19}\\\\b', 0)")
    val valid = filter(cands, c => luhnValid(c))
    docs.select(col("doc_id"),
      size(cands).cast("long").as("n_candidates"),
      size(valid).cast("long").as("n_valid"),
      aggregate(valid, col("text"),
        (t, c) => call_function("replace", t, c, lit("<CARD>")))
        .as("redacted"))
  }

  /** Deterministic STRIDE-SCHEDULED interleaving — the data-ordering
    * step a blended training run needs after the mix proportions are
    * chosen (the Megatron-style multi-source blend): source s with
    * weight w_s emits its k-th document at rational "pass" (k+1)/w_s,
    * and the global training order is ascending pass (ties by source
    * then index). Passes scale by L = lcm(weights) into EXACT integer
    * keys `(k+1)·(L/w_s)` — no float scheduling drift, replayable on
    * any engine, and a source with twice the weight appears exactly
    * twice as often in any prefix.
    *
    * The global POSITION of each document is computed in CLOSED FORM,
    * not with a corpus-wide window: pos = 1 + Σ over sources t of
    * |{j : key_t(j) < K}| (+ the tie term for t ordered before s) =
    * min(n_t, (K−1) div st_t) — per-source counts and strides are a
    * broadcast-sized table, so the whole operator is one per-source
    * rank window + a bounded ×|sources| fan-out join + a groupBy: a
    * total order over 10⁹ docs with no single-reducer sort. The oracle
    * replays it as a plain global row_number, proving the closed form
    * exact. */
  def interleave(docs: DataFrame, weights: Map[String, Int],
      defaultWeight: Int = 1): DataFrame = {
    require(weights.values.forall(_ >= 1) && defaultWeight >= 1,
      "weights must be positive")
    def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)
    val lcm = (weights.values.toSeq :+ defaultWeight)
      .reduce((a, b) => a / gcd(a, b) * b)
    val stExpr = weights.foldLeft(lit(lcm / defaultWeight): Column) {
      case (acc, (l, w)) => when(col("lang") === l, lit(lcm / w)).otherwise(acc)
    }
    val ks = docs.select(col("doc_id"), col("lang"))
      .withColumn("k", row_number().over(
        Window.partitionBy("lang").orderBy("doc_id")).cast("long") - 1)
      .withColumn("st", stExpr.cast("long"))
      .withColumn("key", (col("k") + 1) * col("st"))
    val counts = ks.groupBy(col("lang").as("t_lang"))
      .agg(count(lit(1)).as("n_t"), first(col("st")).as("st_t"))
    ks.crossJoin(broadcast(counts))
      .withColumn("lt",
        least(col("n_t"), expr("CAST((key - 1) DIV st_t AS BIGINT)")))
      .withColumn("eq",
        when(col("t_lang") < col("lang") && col("key") % col("st_t") === 0 &&
          expr("key DIV st_t") <= col("n_t"), 1L).otherwise(0L))
      .groupBy(col("doc_id"), col("lang"), col("k"))
      .agg((sum(col("lt") + col("eq")) + 1).as("pos"))
  }

  /** Token-distribution Shannon entropy per document — the
    * information-density quality signal (low entropy = templated or
    * repetitive text), complementing [[repetitionStats]]' exact n-gram
    * repeats with a whole-distribution view: over the normalized token
    * stream, `H = log2(n) − (Σ c·log2 c)/n` with `c` the per-type
    * counts. The factored form keeps every input to the float log an
    * exact INTEGER (counts, not probabilities), so both engines feed
    * `log2` identical arguments; `H` is mathematically ≥ 0 and rounds
    * to 4.
    *
    * Shape: explode → (doc_id, token) count → per-doc aggregate — two
    * shuffles on doc_id-prefixed keys, both map-side combined; no
    * all-pairs anything, scales linearly in corpus tokens. Documents
    * with zero tokens emit no row (their entropy is undefined). */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        round(log2(sum(col("c")).cast("double")) -
          sum(col("c").cast("double") * log2(col("c").cast("double"))) /
            sum(col("c")).cast("double"), 4).as("entropy"))
  }

  /** C4 line-level cleaning (Raffel et al. 2020, §2.2 — the "Colossal
    * Clean Crawled Corpus" recipe): keep only lines that end in a
    * terminal punctuation mark (`.` `!` `?` or a closing quote), carry
    * at least five whitespace words, and don't mention "javascript";
    * then drop the whole page if the cleaned text has fewer than three
    * sentences (terminal-punct occurrences), or if the RAW page contains
    * "lorem ipsum" (any case) or a curly brace. Complements
    * [[gopherScreen]] (document-ratio rules) and [[codeScreen]]
    * (code-geometry rules) as the third published screen: C4 is the one
    * that edits INSIDE the document rather than only gating it.
    *
    * Shape: one narrow codegen'd projection per document — the line
    * filter is a per-row array pipeline, no shuffle, no UDF; at 100 TB
    * it streams map-side at scan speed. All keep decisions are integer
    * comparisons (word/sentence COUNTS vs constants), so no
    * cross-engine float hazard exists by construction. */
  def c4Clean(docs: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val kept = filter(lines, l => {
      val t = trim(l)
      substring(t, -1, 1).isin(".", "!", "?", "\"", "”") &&
        size(filter(split(t, "\\s+"), w => length(w) > 0)) >= 5 &&
        !contains(lower(l), lit("javascript"))
    })
    val clean = array_join(kept, "\n")
    val nSent = regexp_count(clean, lit("[.!?]")).cast("long")
    val pageBad = contains(lower(col("text")), lit("lorem ipsum")) ||
      contains(col("text"), lit("{"))
    val keep = nSent >= 3L && !pageBad
    docs.select(col("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      nSent.as("n_sentences"),
      length(clean).cast("long").as("clean_len"),
      when(keep, clean).otherwise(lit("")).as("clean_text"),
      keep.cast("int").as("keep"))
  }

  /** Portable PII patterns (pure RE2 subset — no backrefs/lookarounds — so
    * the Java-regex Spark side and the RE2 DuckDB oracle match the same
    * spans). Redaction order is fixed (email → IPv4 → phone) and counting
    * runs against the SAME intermediate the replacement saw, so overlapping
    * matches can never double-count. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b"

  /** PII redaction: replace emails, IPv4 addresses, and phone-shaped
    * numbers with typed placeholders — the scrubbing pass every
    * web-scraped training corpus runs before release. A pure narrow map
    * (no shuffle, stays in whole-stage codegen); returns per-doc match
    * counts plus the redacted text for downstream hashing/export. */
  def piiRedact(docs: DataFrame, text: Column): DataFrame = {
    val afterEmail = regexp_replace(text, emailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, ipv4Re, "<IP>")
    val afterPhone = regexp_replace(afterIp, phoneRe, "<PHONE>")
    docs.withColumn("n_emails",
        size(regexp_extract_all(text, lit(emailRe), lit(0))).cast("long"))
      .withColumn("n_ips",
        size(regexp_extract_all(afterEmail, lit(ipv4Re), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(afterIp, lit(phoneRe), lit(0))).cast("long"))
      .withColumn("redacted", afterPhone)
  }

  /** Encoding-damage (mojibake) screen: count the three classic markers
    * of a broken decode pipeline — U+FFFD replacement characters (a
    * decoder already gave up), `Ã`-led sequences (UTF-8 read as
    * latin-1 then re-encoded: `é`→`Ã©`), and `â€`-led sequences (CP1252
    * punctuation through the same wringer: `’`→`â€™`) — and fold them
    * into one integer ppm severity with a keep/quarantine verdict.
    * A pure narrow map (regexp_count only, whole-stage codegen, zero
    * shuffle); all arithmetic is integer so the verdict threshold can
    * never flip cross-engine. The weights (4/2/3) rank FFFD worst:
    * it is unrecoverable, while double-UTF-8 is mechanically
    * reversible. */
  def mojibakeScreen(docs: DataFrame, text: Column,
      quarantinePpm: Long = 2000L): DataFrame = {
    val nFffd = regexp_count(text, lit("�")).cast("long")
    val nDouble = regexp_count(text, lit("Ã")).cast("long")
    val nCp = regexp_count(text, lit("â€")).cast("long")
    docs.select(col("doc_id"),
        nFffd.as("n_fffd"), nDouble.as("n_double_utf8"), nCp.as("n_cp1252"),
        length(text).cast("long").as("len"))
      .withColumn("moji_ppm",
        expr("1000000 * (4 * n_fffd + 2 * n_double_utf8 + 3 * n_cp1252) " +
          "div greatest(len, 1)").cast("long"))
      .withColumn("verdict",
        when(col("moji_ppm") > quarantinePpm, lit("quarantine"))
          .otherwise(lit("clean")))
      .drop("len")
  }

  /** RAKE keyword extraction (Rose et al. 2010) at corpus scope: split
    * lowercased text into candidate phrases at stopwords/punctuation
    * (gaps-and-islands over token positions), score each word by
    * degree/frequency — degree = Σ length of phrases containing it, so
    * words that travel in long phrases outrank loners — and each phrase
    * by the sum of its word scores; emit the global top-k.
    *
    * Scale shape: one token explode (the corpus shuffle), per-doc
    * position windows (partitioned by doc_id, never global), two
    * partial-agg groupBys for word/phrase stats, and a TakeOrdered
    * top-k. All scores are integer milli-units (1000·deg div freq;
    * phrase total div occurrences — exact, since every occurrence of a
    * phrase contributes the identical word-score sum), so ranking can
    * never 1-ulp-flip cross-engine. Phrases longer than `maxPhraseLen`
    * are dropped (the classic RAKE cap — unbounded runs are boilerplate,
    * not keywords). */
  def rakeKeywords(docs: DataFrame, stopwords: Seq[String],
      k: Int = 20, maxPhraseLen: Int = 4): DataFrame = {
    val toks = docs.select(col("doc_id"),
        posexplode(split(regexp_replace(lower(col("text")), "[^a-z]+", " "),
          " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val wnd = Window.partitionBy("doc_id").orderBy("pos")
    val runs = toks.filter(!col("w").isInCollection(stopwords))
      .withColumn("run", col("pos") - row_number().over(wnd))
    val phrases = runs.groupBy(col("doc_id"), col("run"))
      .agg(array_sort(collect_list(struct(col("pos"), col("w")))).as("pws"))
      .select(transform(col("pws"), s => s.getField("w")).as("ws"))
      .filter(size(col("ws")) <= maxPhraseLen)
    val occ = phrases.select(array_join(col("ws"), " ").as("phrase"),
      col("ws"), size(col("ws")).as("plen"))
    val pw = occ.select(col("phrase"), col("plen"), explode(col("ws")).as("w"))
    val wstats = pw.groupBy("w").agg(count(lit(1)).as("freq"),
        sum("plen").as("deg"))
      .withColumn("wscore", expr("1000 * deg div freq"))
    val tot = pw.join(wstats.select("w", "wscore"), "w")
      .groupBy("phrase").agg(sum("wscore").as("tot"))
    val cnt = occ.groupBy("phrase").agg(count(lit(1)).as("n_occurrences"))
    // Top-k spelled orderBy().limit(k) → TakeOrderedAndProject; the rank
    // window only ever sees the ≤k survivors (the dsirSelect spelling).
    cnt.join(tot, "phrase")
      .withColumn("score_milli", expr("tot div n_occurrences"))
      .orderBy(col("score_milli").desc, col("phrase").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_milli").desc, col("phrase").asc)))
      .select(col("phrase"), col("n_occurrences").cast("long").as("n_occurrences"),
        col("score_milli").cast("long").as("score_milli"),
        col("rank").cast("int").as("rank"))
  }

  /** Fractional-EPOCH repeat expansion — the materialization step of a
    * training mix whose per-source weights aren't integers (the "src A
    * for 2.5 epochs, src B for 0.3" recipe): every document appears
    * ⌊w⌋ times, plus once more iff a deterministic per-doc LCG hash
    * lands under the fractional part — so the EXACT corpus-level epoch
    * count converges to w per source while the choice of which docs
    * carry the extra copy is stable across runs, engines, and
    * partitionings (no RNG, no sampling drift). Weights arrive as
    * integer ppm; the hash is pure 63-bit-safe integer arithmetic.
    * Scale shape: a narrow map + a ≤⌈w⌉-bounded explode — ZERO
    * shuffles; the output streams straight into the pack/shard stages.
    * Emits (doc_id, source, epoch 0..copies−1). */
  def epochRepeat(docs: DataFrame, wppm: Column): DataFrame = {
    val withW = docs
      .select(col("doc_id"), col("source"), wppm.cast("long").as("wppm"))
      .withColumn("h",
        pmod(col("doc_id") * lit(1103515245L) + lit(12345L),
          lit(2147483647L)) % lit(1000000L))
      .withColumn("copies", expr(
        "wppm div 1000000 + (CASE WHEN h < wppm % 1000000 THEN 1 ELSE 0 END)"))
    withW.select(col("doc_id"), col("source"),
      explode(when(col("copies") > 0, sequence(lit(0L), col("copies") - 1))
        .otherwise(array().cast("array<bigint>"))).as("epoch"))
  }

  /** Domain BLOCKLIST screen (the UT1/adult-filter step of web-corpus
    * curation, FineWeb §3.1): a document is dropped when its URL host
    * equals a blocked domain OR sits under one — suffix matching at
    * LABEL boundaries ("ads.net" blocks "x.ads.net", never
    * "notads.net"), implemented by exploding the host into its ≤label
    * dot-suffixes and broadcast-joining the blocklist (host label count
    * is bounded, the blocklist is small — zero corpus shuffles beyond
    * the per-doc aggregate). Hosts are lowercased and scheme/path/
    * port-stripped first. Emits (host, blocked_by, keep). */
  def domainBlocklist(docs: DataFrame, url: Column,
      blocked: Seq[String]): DataFrame = {
    import docs.sparkSession.implicits._
    val host = lower(regexp_replace(regexp_replace(regexp_replace(
      url.cast("string"), "^[A-Za-z][A-Za-z0-9+.-]*://", ""),
      "[/:?#].*$", ""), "\\.$", ""))
    val base = docs.select(col("doc_id"), host.as("host"))
    val sufs = base.select(col("doc_id"),
      explode(expr("transform(sequence(1, size(split(host, '\\\\.'))), " +
        "i -> array_join(slice(split(host, '\\\\.'), i, 1000), '.'))"))
        .as("suf"))
    val hit = sufs
      .join(broadcast(blocked.toDF("blocked_domain")),
        col("suf") === col("blocked_domain"))
      .groupBy("doc_id").agg(min("blocked_domain").as("blocked_by"))
    base.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("host"), col("blocked_by"),
        col("blocked_by").isNull.cast("int").as("keep"))
  }

  /** Cross-document boilerplate-line removal (the RefinedWeb/CCNet-style
    * filter): a line occurring in ≥ `minDocs` DISTINCT documents is
    * boilerplate (headers, footers, nav chrome) and is dropped from every
    * document; each surviving document is reassembled in original line
    * order.
    *
    * Shape at scale: explode to (doc, pos, line) → one count-distinct
    * groupBy on line (partial-agg friendly; empty/whitespace lines are
    * excluded up front so the one guaranteed hub key never shuffles) →
    * the boilerplate set is tiny (by definition it's the high-df tail) so
    * the anti-join broadcasts → one groupBy(doc_id) reassembly shuffle.
    * Nothing is pairwise and no driver-side set is built.
    *
    * @return (doc_id, n_kept, n_removed, clean_text) for docs with ≥1
    *         surviving line
    */
  def stripBoilerplate(docs: DataFrame, minDocs: Int): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    val boiler = lines.filter(trim(col("line")) =!= "")
      .groupBy("line").agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs).select(col("line"), lit(true).as("_b"))
    // ONE pass over the exploded lines: flag membership with a (broadcast)
    // left join, then kept/removed counts and the reassembly come out of a
    // single groupBy — collect_list drops the nulls the `when` leaves on
    // boilerplate lines
    lines.join(boiler, Seq("line"), "left")
      .groupBy("doc_id")
      .agg(
        count(when(col("_b").isNull, 1)).cast("long").as("n_kept"),
        count(when(col("_b").isNotNull, 1)).cast("long").as("n_removed"),
        // struct(pos, line) sorts by pos first (unique per doc), so the
        // default orderable-struct sort restores original line order
        array_join(transform(
          array_sort(collect_list(when(col("_b").isNull,
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n").as("clean_text"))
      .filter(col("n_kept") >= 1)
  }

  /** Corpus-wide exact duplicate-line removal, first occurrence wins —
    * the line/paragraph-granularity exact dedup of large-corpus pipelines
    * (complementing [[stripBoilerplate]]'s cross-doc-frequency rule): a
    * line of ≥ `minLen` chars that already appeared earlier in the corpus
    * (earlier = smaller (doc_id, pos)) is dropped; shorter lines are
    * structural (headings, blanks, code punctuation) and always kept.
    *
    * Shape at scale: explode → one groupBy(line) computing the
    * first-occurrence key as min(struct(doc_id, pos)) (partial-agg
    * friendly; the short-line hub keys never enter the groupBy) → one
    * join back on line → one reassembly groupBy(doc_id). No window over
    * a skewed partition, no driver state.
    *
    * @return (doc_id, n_kept, n_removed, clean_text), one row per doc
    */
  def dedupLines(docs: DataFrame, minLen: Int): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    val firsts = lines.filter(length(col("line")) >= minLen)
      .groupBy("line")
      .agg(min(struct(col("doc_id").as("d"), col("pos").as("p"))).as("first_occ"))
    lines.join(firsts, Seq("line"), "left")
      .withColumn("_drop", col("first_occ").isNotNull &&
        !(col("first_occ.d") === col("doc_id") && col("first_occ.p") === col("pos")))
      .groupBy("doc_id")
      .agg(
        count(when(!col("_drop"), 1)).cast("long").as("n_kept"),
        count(when(col("_drop"), 1)).cast("long").as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(!col("_drop"),
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n").as("clean_text"))
  }

  /** Temperature-flattened mixture sampling — the multilingual-corpus
    * rebalancing step: stratum s is sampled at rate (n_s / n_max)^(1/2)
    * (the square-root flattening of multilingual pretraining mixes,
    * temperature T=2), so low-resource strata are up-weighted relative
    * to their natural share. Rates derive IN-PLAN from the stratum
    * counts (one tiny aggregate broadcast back — no driver collect);
    * row selection rides the deterministic rolling hash exactly like
    * [[stratifiedSample]] — no RNG, retry-stable. sqrt (not pow) on
    * purpose: sqrt is IEEE-correctly-rounded in every engine, so the
    * floor'd integer percentage is bit-portable.
    *
    * @return input rows kept by the mix, with the stratum's `pct` column
    */
  def temperatureMix(docs: DataFrame, key: Column, stratumCol: String): DataFrame = {
    val counts = docs.groupBy(stratumCol).agg(count(lit(1)).as("n"))
    val rates = counts.crossJoin(broadcast(counts.agg(max(col("n")).as("n_max"))))
      .select(col(stratumCol),
        floor(lit(100) * sqrt(col("n").cast("double") / col("n_max")))
          .cast("long").as("pct"))
    docs.join(broadcast(rates), stratumCol)
      .filter(rollingHash(key.cast("string")) % 100 < col("pct"))
  }

  /** Bigram language-model quality score — the CCNet/KenLM-style
    * "perplexity filter" reshaped for engine portability: a bigram
    * transition model is estimated from a trusted high-quality reference
    * slice of the corpus, and every other document is scored by (a) its
    * average transition probability P(w2|w1) under that model and (b) its
    * out-of-vocabulary bigram rate. Low avg_p / high oov_rate marks text
    * whose word transitions the reference corpus never makes — the same
    * signal a perplexity filter thresholds, minus the log (ln is not
    * bit-portable across engines; the probability average is).
    *
    * Shape at 100 TB: bigrams materialize per-row with zip_with (no
    * shuffle), the model build aggregates only the reference slice (its
    * predicate pushes to the scan), and scoring is ONE left hash join of
    * corpus bigrams against the model keyed (w1, w2) plus one final
    * groupBy(doc_id). Probabilities are scored in integer
    * parts-per-million — `(a*2M + b) div (2b)` is exact HALF_UP rational
    * rounding in pure BIGINT arithmetic — so every value is
    * order-independent and bit-identical in any engine (a float average
    * differs at the 6th decimal between engines at round-half
    * boundaries; integers never do).
    *
    * @param refPred marks rows of `docs` as the trusted reference slice
    * @return (doc_id, n_bigrams, oov_ppm, avg_p_ppm) for non-reference
    *         docs with ≥1 bigram
    */
  def lmQualityScore(docs: DataFrame, refPred: Column): DataFrame = {
    val toks = tokens(col("text"))
    val n1 = greatest(size(toks) - 1, lit(0))
    val pairs = docs
      .select(col("doc_id"), refPred.as("is_ref"),
        explode(zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("is_ref"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val ref = pairs.filter(col("is_ref"))
    // model rows carry the head-word count alongside the bigram count, so
    // the probe side needs a single join: P(w2|w1) = cb / cu
    val model = ref.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .join(ref.groupBy("w1").agg(count(lit(1)).as("cu")), "w1")
    pairs.filter(!col("is_ref"))
      .join(model, Seq("w1", "w2"), "left")
      // per-bigram P(w2|w1) in ppm: exact HALF_UP integer rounding
      .withColumn("p_ppm",
        coalesce(expr("(cb * 2000000 + cu) div (2 * cu)"), lit(0L)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        expr("(sum(if(cb is null, 1L, 0L)) * 2000000 + count(1)) div (2 * count(1))")
          .as("oov_ppm"),
        expr("(sum(p_ppm) * 2 + count(1)) div (2 * count(1))").as("avg_p_ppm"))
  }

  /** Token-vote document classifier — the fastText-style curation
    * classifier shape (language/domain/quality routing), distilled from a
    * weak labeler: TRAIN = per-(token, label) counts over the labeled
    * half, each token votes for its modal label; CLASSIFY = per document,
    * the label with the most token votes. Both argmaxes use the
    * deterministic (max count, then min label) pick, so the whole
    * train-then-classify loop is engine-replayable — integer counts only,
    * no float weights anywhere.
    *
    * Labels come from [[graft.functions.TextFunctions.langIdGuess]]
    * applied to the training rows (heuristic-labeler distillation —
    * exactly how production langid classifiers are bootstrapped).
    *
    * Scale shape: the model is one vocab-sized groupBy (partial-agg
    * friendly); its vote table is vocab-sized and broadcast-able; scoring
    * is one groupBy per (doc, label) plus a per-doc window — partitioned
    * by doc, never a global reducer. Test docs sharing no vocabulary
    * with the model drop out (no prediction is honest, not a default).
    *
    * @param isTrain marks the labeled training rows of `docs`
    * @return (doc_id, pred_lang) for classifiable non-training docs
    */
  def tokenVoteClassifier(docs: DataFrame, isTrain: Column): DataFrame = {
    val toks = docs.select(col("doc_id"), isTrain.as("is_train"),
        explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val lab = docs.select(col("doc_id"), langIdGuess(col("text")).as("lang"))
    val model = toks.filter(col("is_train")).join(lab, "doc_id")
      .groupBy("term", "lang").agg(count(lit(1)).as("cnt"))
    val byTerm = Window.partitionBy("term")
      .orderBy(col("cnt").desc, col("lang"))
    val vote = model.withColumn("rk", row_number().over(byTerm))
      .filter(col("rk") === 1).select(col("term"), col("lang").as("vlang"))
    val scored = toks.filter(!col("is_train")).join(vote, "term")
      .groupBy("doc_id", "vlang").agg(count(lit(1)).as("n"))
    val byDoc = Window.partitionBy("doc_id")
      .orderBy(col("n").desc, col("vlang"))
    scored.withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("vlang").as("pred_lang"))
  }

  /** Export a corpus as sharded JSONL — the interchange format feeding
    * tokenizer/training jobs downstream. Shard assignment hashes the key
    * (deterministic and retry-stable, unlike round-robin repartition);
    * shard count controls downstream reader parallelism. */
  def exportJsonl(docs: DataFrame, path: String, shards: Int,
      compress: Boolean = false): Unit = {
    val w = docs.repartition(shards, col("doc_id")).write.mode("overwrite")
    (if (compress) w.option("compression", "gzip") else w).json(path)
  }

  /** Deterministic stratified sampling: keep a row iff
    * `rollingHash(key) % 100 < ratePct(stratum)` — the reproducible,
    * engine-portable alternative to `rand()` sampling for corpus mixing
    * (per-language/per-source rates). A pure narrow filter: no shuffle,
    * no RNG state, stable under re-runs and retries (Spark task retries
    * make `rand()` sampling non-deterministic at scale).
    *
    * @param ratePct stratum → percentage kept (0–100)
    * @param defaultPct rate for strata not in the map
    */
  def stratifiedSample(docs: DataFrame, key: Column, stratum: Column,
      ratePct: Map[String, Int], defaultPct: Int): DataFrame = {
    val rate = ratePct.foldLeft(lit(defaultPct)) { case (acc, (s, r)) =>
      when(stratum === s, lit(r)).otherwise(acc)
    }
    docs.filter(rollingHash(key.cast("string")) % 100 < rate)
  }

  /** Deterministic train/val/test assignment by key hash — the split
    * every training pipeline needs to be STABLE across re-runs,
    * incremental ingests, and engines: a document's split follows its id
    * forever (append-only corpora never reshuffle history, leakage
    * audits can recompute membership anywhere). `rollingHash(key) %
    * 1000` buckets; [0, 10·trainPct) → train, the next 10·valPct →
    * val, the rest → test. A pure narrow map: no shuffle, no RNG, the
    * split of 100 TB costs one scan.
    *
    * Returns the input plus (bucket, split). */
  def splitAssign(docs: DataFrame, key: Column,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"bad split percentages: train=$trainPct val=$valPct")
    val bucket = rollingHash(key.cast("string")) % 1000
    docs.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPct * 10, "train")
          .when(col("bucket") < (trainPct + valPct) * 10, "val")
          .otherwise("test"))
  }

  /** Filter-threshold sweep — the calibration table a pipeline builds
    * BEFORE picking a quality cutoff: for every candidate threshold
    * t_i = i/bins, how many documents and how much token mass survive
    * `score >= t_i`, absolute and as fractions. ONE corpus pass builds
    * a `bins`-row (docs, tokens) histogram keyed by score bin; the
    * per-threshold row is a REVERSE cumulative sum over those bins
    * plus a 1-row total broadcast — O(bins) state after the scan,
    * never bins× corpus rows. Counts are integers; fractions round to
    * 6. Scores outside [0, 1) clamp into the edge bins. */
  def thresholdSweep(docs: DataFrame, score: Column, weight: Column,
      bins: Int = 10): DataFrame = {
    require(bins > 0, "bins must be positive")
    val bin = least(greatest(floor(score * bins).cast("int"), lit(0)),
      lit(bins - 1))
    val hist = docs.select(bin.as("bin"), weight.cast("long").as("w"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum(col("w")).as("tok"))
    // complete the bin axis so empty bins still emit their threshold row
    val axis = docs.sparkSession.range(bins)
      .select(col("id").cast("int").as("bin"))
    val full = axis.join(hist, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("tok"), lit(0L)).as("tok"))
    // bins-row frame: the single-partition window is the point
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = full.agg(sum(col("n")).as("tn"),
      greatest(sum(col("tok")), lit(1L)).as("ttok"))
    full
      .withColumn("n_kept", sum(col("n")).over(w))
      .withColumn("tokens_kept", sum(col("tok")).over(w))
      .crossJoin(broadcast(tot))
      .select(
        round(col("bin").cast("double") / bins, 2).as("threshold"),
        col("n_kept"),
        round(col("n_kept").cast("double") / greatest(col("tn"), lit(1L)), 6)
          .as("frac_kept"),
        col("tokens_kept"),
        round(col("tokens_kept").cast("double") / col("ttok"), 6)
          .as("token_frac"))
  }

  /** Exact ROC-AUC of a score column against a binary label — the
    * calibration readout for any quality classifier (is the LM filter's
    * signal actually separating the target domain?). Uses the tie-aware
    * rank-sum (Mann-Whitney) identity, but computed from GROUPED score
    * counts, never a corpus-wide rank: ascending over distinct scores s
    * with p_s positives / n_s negatives and cumN_<s negatives strictly
    * below,
    *   AUC = Σ_s p_s · (2·cumN_<s + n_s) / (2·nP·nN)
    * — each tie group contributes its positives × (negatives below +
    * half the tied negatives). The numerator is an exact BIGINT; one
    * final double division rounds to 6.
    *
    * 100 TB shape: ONE groupBy(score) shuffle over the corpus; the
    * ordered cumulative pass runs on the distinct-score AGGREGATE,
    * whose size is bounded by the score's codomain (integer ppm ≤ 1e6
    * rows), not the corpus — the single-partition window is the point,
    * as in [[thresholdSweep]]. Returns 1 row (n_pos, n_neg, auc); auc
    * is NULL when either class is empty (undefined, Neo4j-null style
    * rather than a sentinel). */
  def aucExact(scored: DataFrame, score: Column,
      positive: Column): DataFrame = {
    val g = scored.groupBy(score.as("s"))
      .agg(sum(when(positive, 1L).otherwise(0L)).as("p"),
        sum(when(positive, 0L).otherwise(1L)).as("n"))
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cumn", coalesce(sum(col("n")).over(w), lit(0L)))
      .agg(sum(col("p")).as("n_pos"), sum(col("n")).as("n_neg"),
        // ANSI-safe: one empty class -> NULL, not a /0 error
        when(sum(col("p")) > 0 && sum(col("n")) > 0,
          round(sum(col("p") * (lit(2) * col("cumn") + col("n")))
              .cast("double")
            / (lit(2.0) * sum(col("p")) * sum(col("n"))), 6)).as("auc"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    * language, split the corpus into head / middle / tail thirds by LM
    * quality score — the mix knob CCNet ships (train mostly on head,
    * sample middle, drop or downweight tail). Bucket assignment is a
    * pure function of (lang, score), decided in integers: with
    * c_lt = docs scoring strictly HIGHER in the language and n the
    * language total, head iff 3·c_lt < n, middle iff 3·c_lt < 2n, else
    * tail — a whole tie group lands in one bucket (thresholds never
    * split equal scores; bucket sizes are thirds up to tie-group
    * granularity, the honest deterministic reading).
    *
    * Scale shape: the [[aucExact]] discipline — one groupBy(lang,
    * score) corpus shuffle; the per-language cumulative windows run on
    * the distinct-(lang, score) AGGREGATE (bounded by the score
    * codomain, ≤1e6 ppm rows per language), and the bucket table joins
    * back by (lang, score). Returns (doc_id, lang, score, bucket). */
  def ccnetBuckets(scored: DataFrame, lang: Column,
      score: Column): DataFrame = {
    val d = scored.select(col("doc_id"), lang.as("lang"), score.as("s"))
    val g = d.groupBy("lang", "s").agg(count(lit(1)).as("c"))
    val before = Window.partitionBy("lang").orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = g
      .withColumn("clt", coalesce(sum(col("c")).over(before), lit(0L)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("lang")))
      .select(col("lang"), col("s"),
        when(col("clt") * 3 < col("n"), "head")
          .when(col("clt") * 3 < col("n") * 2, "middle")
          .otherwise("tail").as("bucket"))
    d.join(b, Seq("lang", "s"))
      .select(col("doc_id"), col("lang"), col("s").as("score"),
        col("bucket"))
  }

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): rank raw documents by
    * how target-like they look under hashed-n-gram bag-of-words models.
    * Features are the unigrams + bigrams of the normalized token
    * stream, hashed into `buckets` buckets by the portable rolling
    * hash; the TARGET slice's and the RAW corpus's bucket distributions
    * get Laplace smoothing, and a document's importance weight is
    * DSIR's log w(x) = Σ_b n_b(x) · (ln p̂_target(b) − ln p̂_raw(b)).
    * The per-bucket log-ratio rounds to 6 decimals and rides DECIMAL
    * through the per-doc fold (integer counts × fixed-point ratio —
    * order-independent, bit-identical across engines); the final
    * weight rounds to 4. Output: the top-`k` documents by weight
    * (ties → doc_id) as (doc_id, weight, rank).
    *
    * Scale shape: one explode + one (doc, bucket) partial-agg groupBy
    * over the corpus; both bucket models and the log-ratio table are
    * `buckets` rows — broadcast; top-k is TakeOrderedAndProject, never
    * a global sort. DSIR proper Gumbel-SAMPLES by weight; the
    * deterministic rank keeps the oracle exact (sampling is one
    * rand-keyed sort away). */
  def dsirSelect(docs: DataFrame, target: Column, buckets: Int = 64,
      k: Int = 50): DataFrame =
    dsirWeights(docs, target, buckets)
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("weight"),
        row_number().over(Window.orderBy(col("weight").desc, col("doc_id")))
          .cast("int").as("rank"))

  /** [[dsirSelect]]'s weight table — EVERY doc's importance log-weight,
    * for downstream consumers that sample rather than rank
    * ([[gumbelTopK]]). */
  def dsirWeights(docs: DataFrame, target: Column,
      buckets: Int = 64): DataFrame = {
    val toks = tokens(col("text"))
    val uni = filter(toks, t => length(t) > 0)
    val bi = filter(
      zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => when(b.isNotNull && length(a) > 0 && length(b) > 0,
          concat(a, lit("\u0001"), b))),
      x => x.isNotNull)
    // r18: ONE corpus tokenize+explode pass instead of two. The raw and
    // target bucket models both derive from the per-(doc, is_t, bucket)
    // partial aggregate: cs = Σ n over all docs, ct = Σ n over target
    // docs — identical counts to aggregating the exploded stream twice,
    // but the second aggregation now runs on the ≤ |docs|·buckets
    // aggregate instead of re-exploding the corpus (guide §2.3
    // "aggregate before you shuffle"; both consumers share the
    // (doc_id, is_t, b) exchange, so the scan+explode is planned once).
    // Par.spread lifts the explode off the single scan partition a small
    // input pins it to (no-op at scale).
    val feats = graft.ops.Par.spread(
        docs.select(col("doc_id"), target.as("is_t"), col("text")))
      .select(col("doc_id"), col("is_t"), explode(concat(uni, bi)).as("f"))
      .select(col("doc_id"), col("is_t"),
        pmod(rollingHash(col("f")), lit(buckets.toLong)).as("b"))
    val docTB = feats.groupBy(col("doc_id"), col("is_t"), col("b"))
      .agg(count(lit(1)).cast("decimal(12,0)").as("n"))
      // materialize the narrow aggregate once: the ratio/tots BROADCAST
      // builds are separate jobs, so without this each re-runs the full
      // corpus tokenize+explode (3 passes measured; guide §5 — cut
      // lineage with localCheckpoint when recompute beats memory). The
      // persisted frame is ≤ |docs|·(buckets+1) narrow rows — linear,
      // spillable, local blocks only (no shuffle); the broadcast itself
      // stays 64 rows.
      .pin(eager = false)
    val docB = docTB.select(col("doc_id"), col("b"), col("n"))
    val srcB = docTB.groupBy(col("b")).agg(
      sum(col("n").cast("long")).as("cs"),
      sum(when(col("is_t"), col("n").cast("long")).otherwise(0L)).as("ct"))
    val tots = srcB.agg(sum(col("cs")).as("ts"), sum(col("ct")).as("tt"))
    val ratio = srcB.crossJoin(broadcast(tots))
      .select(col("b"),
        round(log((col("ct") + 1).cast("double") / (col("tt") + buckets))
          - log((col("cs") + 1).cast("double") / (col("ts") + buckets)), 6)
          .cast("decimal(18,6)").as("r"))
    docB.join(broadcast(ratio), "b")
      .groupBy(col("doc_id"))
      .agg(round(sum(col("n") * col("r")).cast("double"), 4).as("weight"))
  }

  /** GUMBEL-TOP-K sampling over a (doc_id, weight) log-weight table —
    * the sampling step DSIR actually ships (k docs ∝ exp(weight/T),
    * WITHOUT replacement, via the Gumbel-max trick): per-doc noise
    * g = −ln(−ln(u)) with u a DETERMINISTIC hash-uniform in (0,1) (the
    * portable rolling hash over a salted doc_id — replayable in any
    * engine, re-runs draw the same sample; a true rand() would break
    * both reproducibility and the oracle), key = weight/T + g, top-k by
    * key through TakeOrderedAndProject. The key rounds to 6 so the
    * cross-engine ln noise can't flip an ordering the tie-break
    * doesn't already settle. */
  /** IN-ENGINE QUALITY-CLASSIFIER TRAINING — batch gradient descent for
    * a logistic-style screen (the FineWeb-Edu / CCNet move: train a
    * cheap classifier on weak labels, score the corpus with it), as a
    * 100 TB Spark job: each round is ONE partial-agg pass computing the
    * four gradient sums; model state is 4 numbers. Determinism makes it
    * gateable where real logistic GD is not: the sigmoid is the HARD
    * surrogate clip(0.25·m + 0.5, 0, 1) (pure +,×,clip — no exp, which
    * engines round differently at the last ulp), margins round-6,
    * per-row gradient terms round-6 then DECIMAL-sum (order-independent),
    * and the weight update rounds HALF_UP-6 (= Spark round) — so the
    * oracle replays every round bit-for-bit. Weak labels come from the
    * integer-exact composite [[TextFunctions.qualityScore]] ≥ 0.5;
    * features are the round-4 quality ratios. Per-round state collected:
    * 4 numbers (the k-center 1-row-per-round pattern). Returns
    * (feature 0..3, weight) — bias, alpha ratio, stopword ratio,
    * length band. */
  def trainQualityClassifier(docs: DataFrame, rounds: Int = 3,
      lr: Double = 1.0): DataFrame = {
    import graft.functions.TextFunctions
    require(rounds >= 1 && rounds <= 10, "round budget")
    val spark = docs.sparkSession
    val feats = docs.select(
        TextFunctions.alphaRatio(col("text")).as("x1"),
        TextFunctions.stopwordRatio(col("text")).as("x2"),
        round(least(length(col("text")), lit(2000)).cast("double") / 2000, 4)
          .as("x3"),
        (TextFunctions.qualityScore(col("text")) >= 0.5)
          .cast("int").cast("double").as("y"))
      .pin(eager = false)
    val n = feats.count().toDouble
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to rounds) {
      val m = round(lit(w(0)) + lit(w(1)) * col("x1") +
        lit(w(2)) * col("x2") + lit(w(3)) * col("x3"), 6)
      val p = greatest(lit(0.0), least(lit(1.0), lit(0.25) * m + lit(0.5)))
      val err = p - col("y")
      val g = feats.agg(
          sum(round(err, 6).cast("decimal(28,6)")).as("g0"),
          sum(round(err * col("x1"), 6).cast("decimal(28,6)")).as("g1"),
          sum(round(err * col("x2"), 6).cast("decimal(28,6)")).as("g2"),
          sum(round(err * col("x3"), 6).cast("decimal(28,6)")).as("g3"))
        .collect()(0)
      for (j <- 0 to 3)
        w(j) = r6(w(j) - lr * g.getDecimal(j).doubleValue() / n)
    }
    import spark.implicits._
    w.toSeq.zipWithIndex.map { case (wv, j) => (j, wv) }
      .toDF("feature", "weight")
      .select(col("feature").cast("int").as("feature"),
        (col("weight") + 0.0).as("weight"))
  }

  /** BPE MERGE TRAINING rounds (Sennrich, Haddow & Birch 2016) — the
    * tokenizer-training primitive a corpus pipeline runs BEFORE any
    * token counting exists: per round, the most frequent adjacent
    * symbol pair across the corpus becomes a merge rule and every
    * occurrence merges. Scale shape is the algorithm's own: the corpus
    * collapses ONCE to a (word, count) vocabulary (bounded at
    * `vocabCap` by (count desc, word) — a TakeOrdered, never a global
    * sort), and all training runs on the vocab's symbol table
    * (vocab × word-length rows). Each round is fully RELATIONAL —
    * no per-row fold anywhere: adjacent pairs via one lead() window,
    * the rule via a count-weighted argmax (ties → lexicographic
    * (lhs, rhs), deterministic), and the greedy LEFT-TO-RIGHT
    * NON-OVERLAPPING merge (Python BPE's semantics, where `aaaa`
    * merges to `aa aa`) via the pos − row_number ISLANDS trick:
    * candidate positions form runs, and exactly the even offsets of
    * each run merge (x ≠ y runs are singletons, so one spelling covers
    * both cases). The rule broadcast-joins the symbol table; merged
    * rows concat, successors drop, positions renumber. The oracle
    * replays every round — pairs, argmax, islands, rewrite — verbatim.
    * Returns one row per round: (merge_round, lhs, rhs, pair_count). */
  def bpeMerges(docs: DataFrame, rounds: Int = 3, vocabCap: Int = 2000,
      maxLen: Int = 12): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"bpe rounds $rounds out of budget")
    val words = docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "" && length(col("word")) <= maxLen)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(vocabCap)
    val spark = docs.sparkSession
    bpeTrainRules(words, rounds)
      .map { case (r, bx, by, n) =>
        spark.range(1).select(lit(r).as("merge_round"), lit(bx).as("lhs"),
          lit(by).as("rhs"), lit(n).as("pair_count"))
      }
      .reduceOption(_ unionByName _)
      .getOrElse(spark.range(0).select(lit(0).as("merge_round"),
        lit("").as("lhs"), lit("").as("rhs"), lit(0L).as("pair_count")))
  }

  /** One BPE merge rule applied to a symbol ARRAY — the greedy
    * left-to-right non-overlapping rewrite as a single catalyst
    * `aggregate` over the array (r19). Equivalence with the former
    * windowed islands rewrite: candidate positions can only be ADJACENT
    * when bx = by (p and p+1 both candidates forces sym(p+1) = by = bx),
    * and the scan's merged output `bx ++ by` is strictly longer than bx
    * so it can never re-match as a left side — which reproduces the
    * islands' odd-offset pick exactly (`aaaa` → `aa aa`). Replaces the
    * per-round 2-window + 2-join + 2-checkpoint islands plan with ZERO
    * shuffles and zero extra jobs. */
  private def mergeOnce(syms: Column, bx: String, by: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(bx) &&
          s === lit(by),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(bx + by))))
        .otherwise(concat(acc, array(s))))

  /** Adjacent symbol pairs of an array as (bx, by) structs — the lead()
    * window's pair stream as a per-row expression. */
  private def symPairs(syms: Column): Column =
    transform(slice(syms, lit(1), size(syms) - 1),
      (x, i) => struct(x.as("bx"), syms.getItem(i + 1).as("by")))

  /** BPE merge-rule training over an already-capped (word, cnt) vocab:
    * per round ONE distributed argmax job (pair explode → count-weighted
    * groupBy → TakeOrdered(1) with the lexicographic (lhs, rhs)
    * tie-break), then the rule rewrites the symbol arrays as a pure
    * per-row expression ([[mergeOnce]]) — no window, no join, no
    * checkpoint per round (r19: t_bpe_merges 44 jobs → ~5). The vocab is
    * bounded at vocabCap BY CONSTRUCTION, so stacking `rounds` rewrite
    * expressions over it re-evaluates at most vocabCap × maxLen symbol
    * cells per round — corpus-size-independent. Rules collected to the
    * driver are O(rounds) strings, not data. */
  private def bpeTrainRules(words: DataFrame, rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    val vocab = words.select(col("word"), col("cnt"),
        split(col("word"), "").as("syms"))
      .pin(eager = false)
    var syms: Column = col("syms")
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = vocab
        .select(col("cnt"), explode(symPairs(syms)).as("p"))
        .groupBy(col("p.bx").as("bx"), col("p.by").as("by"))
        .agg(sum(col("cnt")).cast("long").as("n"))
        .orderBy(col("n").desc, col("bx"), col("by")).limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (bx, by, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += ((r, bx, by, n))
        syms = mergeOnce(syms, bx, by)
        r += 1
      }
    }
    out.toSeq
  }

  /** WORDPIECE merge training (r14 — Schuster & Nakajima 2012, the
    * BERT-lineage third production tokenizer family beside
    * [[bpeMerges]] (frequency-greedy) and [[unigramLm]] (EM-pruned)):
    * the SAME capped word vocabulary, symbol table, and greedy islands
    * rewrite as BPE, but each round merges the pair maximizing the
    * LIKELIHOOD score count(ab) / (count(a)·count(b)) — the pair whose
    * fusion most raises a unigram LM's corpus likelihood — rather than
    * the raw pair count. That is WordPiece's defining difference: a
    * frequent-but-expected pair (two already-frequent symbols) loses to
    * a rarer pair that co-occurs far above chance. The score is held as
    * integer PARTS-PER-BILLION (`(n·10⁹) div (uₐ·u_b)` — exact BIGINT
    * division, no float compare can 1-ulp-flip the argmax cross-engine;
    * ties break (lhs, rhs) lexicographic). Unigram counts come off the
    * same symbol table as the pair counts, so each round's score is
    * self-consistent under the previous rounds' rewrites. Scale shape:
    * identical to BPE training — the capped vocab bounds the symbol
    * table, the per-round unigram table is ≤ distinct-symbols rows and
    * broadcast into the score join. Returns one row per round:
    * (merge_round, lhs, rhs, pair_count, score_ppb). */
  def wordpieceMerges(docs: DataFrame, rounds: Int = 3,
      vocabCap: Int = 2000, maxLen: Int = 12): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"wordpiece rounds $rounds out of budget")
    val spark = docs.sparkSession
    val words = docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "" && length(col("word")) <= maxLen)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(vocabCap)
    val vocab = words.select(col("word"), col("cnt"),
        split(col("word"), "").as("syms"))
      .pin(eager = false)
    // Overflow guard (r15 advisor fix): the ppb score's n·10⁹ and uₐ·u_b
    // stay in exact BIGINT on BOTH engines only while every count is
    // < 3·10⁹ (then n·10⁹ ≤ 3·10¹⁸ and uₐ·u_b ≤ 9·10¹⁸, both under
    // 2⁶³−1). Every unigram/pair count is bounded by the capped vocab's
    // total token occurrences, so guard THAT — loud on overflow instead
    // of Spark silently wrapping while DuckDB raises. One tiny job over
    // the pinned ≤vocabCap-row word table (which it also materializes).
    val totalRow = vocab.agg(sum(col("cnt")).as("t")).head
    val totalCnt = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    require(totalCnt < 3000000000L,
      s"wordpieceMerges: capped-vocab token count $totalCnt >= 3e9 would " +
        "overflow the exact BIGINT ppb score — shard the corpus or " +
        "rescale counts before training")
    // per round ONE argmax job: unigram counts and pair counts both
    // derive from the same pinned vocab inside the collect's job; the
    // winning rule rewrites the symbol arrays as a pure expression
    // ([[mergeOnce]]) — r19, the bpeTrainRules shape with the
    // likelihood (ppb) score
    var syms: Column = col("syms")
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val uni = vocab.select(col("cnt"), explode(syms).as("sym"))
        .groupBy(col("sym")).agg(sum(col("cnt")).cast("long").as("u"))
      val best = vocab
        .select(col("cnt"), explode(symPairs(syms)).as("p"))
        .groupBy(col("p.bx").as("bx"), col("p.by").as("by"))
        .agg(sum(col("cnt")).cast("long").as("n"))
        .join(broadcast(uni.select(col("sym").as("bx"),
          col("u").as("ua"))), "bx")
        .join(broadcast(uni.select(col("sym").as("by"),
          col("u").as("ub"))), "by")
        .withColumn("score_ppb",
          expr("(n * cast(1000000000 as bigint)) div (ua * ub)"))
        .orderBy(col("score_ppb").desc, col("bx"), col("by")).limit(1)
        .select(col("bx"), col("by"), col("n"), col("score_ppb"))
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (bx, by) = (best(0).getString(0), best(0).getString(1))
        out += spark.range(1).select(lit(r).as("merge_round"),
          lit(bx).as("lhs"), lit(by).as("rhs"),
          lit(best(0).getLong(2)).as("pair_count"),
          lit(best(0).getLong(3)).as("score_ppb"))
        syms = mergeOnce(syms, bx, by)
        r += 1
      }
    }
    out.reduceOption(_ unionByName _)
      .getOrElse(spark.range(0).select(lit(0).as("merge_round"),
        lit("").as("lhs"), lit("").as("rhs"), lit(0L).as("pair_count"),
        lit(0L).as("score_ppb")))
  }

  /** BPE ENCODING fertility — the learned merges APPLIED: train
    * [[bpeMerges]]' rules on the capped head vocabulary, then apply
    * them to EVERY distinct word of the corpus (training caps the pair
    * statistics; application is exact — any word containing a learned
    * pair merges) and report per-language fertility, subwords per word
    * — the post-training twin of the pre-training `t_fertility`
    * diagnostic. Scale shape: the corpus collapses to (lang, word,
    * count) once; rule application is rounds × the islands rewrite on
    * the distinct-word symbol table; the final fertility is one
    * bounded-key groupBy. Integer sums, one rounded division. */
  def bpeFertility(docs: DataFrame, rounds: Int = 3, vocabCap: Int = 2000,
      maxLen: Int = 12): DataFrame = {
    // ONE corpus tokenize pass (r19, the p_dsir shared-aggregate
    // discipline): the training vocab derives from the same pinned
    // (lang, word, cnt) aggregate the fertility report consumes —
    // Σ_lang count(lang, word) = count(word), so the capped vocab is
    // identical to training on its own corpus pass
    val langWords = docs
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "" && length(col("word")) <= maxLen)
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .pin(eager = false)
    val words = langWords.groupBy("word")
      .agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(vocabCap)
    val rules = bpeTrainRules(words, rounds)
    // rule application is exact and lang-independent: every (lang, word)
    // row rewrites through the learned rules as a pure array expression
    // ([[mergeOnce]] stacked per round — no window, no join, no symbol
    // table), and fertility is one bounded-key groupBy
    var syms: Column = split(col("word"), "")
    rules.foreach { case (_, bx, by, _) => syms = mergeOnce(syms, bx, by) }
    langWords
      .groupBy("lang")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * size(syms).cast("long")).as("n_subwords"))
      .select(col("lang"), col("n_words").cast("long").as("n_words"),
        col("n_subwords").cast("long").as("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words"), 4)
          .as("subwords_per_word"))
  }

  /** UNIGRAM-LM TOKENIZER TRAINING (r14, Kudo 2018 — SentencePiece's
    * unigram model, the other production tokenizer family beside
    * [[bpeMerges]]): seed a piece vocabulary from substring statistics,
    * run EM rounds where the E-step VITERBI-segments every vocab word
    * under the current piece scores and the M-step re-scores pieces
    * from their expected counts, then prune to the target vocab size.
    *
    * Shape (the bpeMerges / t_quality_train bounded-model discipline):
    * the CORPUS-sized work is distributed — one token explode + groupBy
    * collapses to the (word, cnt) head vocabulary capped at `vocabCap`
    * by (cnt desc, word) (a TakeOrdered; SentencePiece itself trains on
    * a capped input, input_sentence_size), and one substring explode +
    * groupBy + TakeOrdered caps the seed pieces (every 1..`maxPiece`
    * substring, occurrence-weighted; single chars always kept so
    * segmentation is total). EM then runs as a DRIVER KERNEL over the
    * collected ≤vocabCap×≤(seedCap+chars) model — bounded by
    * construction, the same altitude as t_quality_train's weight vector
    * — never a corpus pass.
    *
    * Determinism / oracle replay: piece scores are integer MICRO-NATS —
    * round(ln(c/total), 6) then ×10⁶ to BIGINT (the zipf r6-ln
    * discipline; the ×10⁶ re-round is safe because a 6-decimal double
    * is within 1e-4 of its integer image) — so the Viterbi DP is PURE
    * INTEGER max-plus: no float compare can flip a segmentation. Ties
    * prefer the LONGER piece. M-step scores are Laplace-smoothed over
    * the full seed set ((c+1)/(total+|V|)), so every piece stays finite
    * and the recursion is total. The oracle unrolls the whole thing —
    * word cap, seed cap, and per-round the 8-position DP tables, the
    * backtrace, expected counts, and re-scoring — in SQL. Pruning keeps
    * the top `vocabSize` pieces by (final count desc, piece asc) plus
    * every single char.
    *
    * Emits one row per seed piece: (piece, seed_cnt, em_cnt, kept). */
  /** The trained unigram model [[unigramLm]] emits and
    * [[unigramFertility]] applies: seed pieces with their seed counts,
    * final expected counts, the pruned keep set, and the APPLICATION
    * scores — Laplace-smoothed micro-nats RE-NORMALIZED over the kept
    * set (SentencePiece renormalizes after pruning), plus the UNK
    * penalty an out-of-vocab character costs. */
  private[graft] final case class UnigramModel(
      seeds: Seq[(String, Long)], counts: Map[String, Long],
      kept: Set[String], appWts: Map[String, Long], unkLw: Long)

  /** Integer micro-nats: round(ln(c/tot), 6) · 1e6 — the score map both
    * unigram operators and their oracles share. */
  private def microNats(c: Long, tot: Long): Long = math.round(
    BigDecimal(math.log(c.toDouble / tot))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)

  /** Viterbi-segment `w` under integer micro-nat piece scores: max-plus
    * DP, ties prefer the LONGER piece; `unk` (when ≥ 0 entries exist)
    * prices single chars absent from `wts`. Returns the piece sequence
    * back-to-front. */
  private def viterbiPieces(w: String, maxPiece: Int,
      wts: Map[String, Long], unk: Option[Long]): Seq[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Long.MinValue); best(0) = 0L
    val bl = Array.fill(n + 1)(0)
    for (i <- 1 to n; l <- 1 to math.min(maxPiece, i))
      if (best(i - l) != Long.MinValue) {
        val piece = w.substring(i - l, i)
        val lwOpt = wts.get(piece).orElse(if (l == 1) unk else None)
        lwOpt.foreach { lw =>
          val s = best(i - l) + lw
          if (s > best(i) || (s == best(i) && l > bl(i))) {
            best(i) = s; bl(i) = l
          }
        }
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = n
    while (i > 0) { val l = bl(i); out += w.substring(i - l, i); i -= l }
    out.toSeq
  }

  private[graft] def unigramTrain(docs: DataFrame, emRounds: Int,
      vocabCap: Int, maxLen: Int, maxPiece: Int, seedCap: Int,
      vocabSize: Int): UnigramModel = {
    require(emRounds >= 1 && emRounds <= 4, "emRounds out of budget")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "" && length(col("word")) <= maxLen)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(vocabCap)
      .pin(eager = true)
    // seed pieces: all substrings (start i, length l ≤ maxPiece),
    // occurrence-weighted by word count
    val subs = words.select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), i ->
           |  filter(transform(sequence(1, $maxPiece), l ->
           |    CASE WHEN i + l - 1 <= length(word)
           |         THEN substring(word, i, l) END),
           |  x -> x IS NOT NULL)))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).cast("long").as("scnt"))
      .pin(eager = true)
    val seeds = (subs.filter(length(col("piece")) === 1) unionByName
        subs.filter(length(col("piece")) > 1)
          .orderBy(col("scnt").desc, col("piece")).limit(seedCap))
      .as[(String, Long)].collect().sortBy(_._1)
    val wordArr = words.as[(String, Long)].collect().sortBy(_._1)
    val pieces = seeds.map(_._1)
    var wts: Map[String, Long] = {
      val tot = seeds.iterator.map(_._2).sum
      seeds.iterator.map { case (p, c) => p -> microNats(c, tot) }.toMap
    }
    var counts = Map.empty[String, Long]
    for (_ <- 1 to emRounds) {
      val cnt = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      wordArr.foreach { case (w, wc) =>
        viterbiPieces(w, maxPiece, wts, None).foreach(p => cnt(p) += wc)
      }
      counts = cnt.toMap
      val tot = counts.valuesIterator.sum
      wts = pieces.iterator
        .map(p => p -> microNats(counts.getOrElse(p, 0L) + 1L,
          tot + pieces.length)).toMap
    }
    // prune: top vocabSize by (final count desc, piece), chars forced
    val kept = pieces.sortBy(p => (-counts.getOrElse(p, 0L), p))
      .take(vocabSize).toSet ++ pieces.filter(_.length == 1)
    // application scores: smoothed over the KEPT set (renormalized)
    val tot = counts.valuesIterator.sum
    val appWts = kept.iterator.map(p =>
      p -> microNats(counts.getOrElse(p, 0L) + 1L, tot + kept.size)).toMap
    UnigramModel(seeds.toSeq, counts, kept, appWts,
      microNats(1L, tot + kept.size))
  }

  def unigramLm(docs: DataFrame, emRounds: Int = 2, vocabCap: Int = 2000,
      maxLen: Int = 8, maxPiece: Int = 4, seedCap: Int = 200,
      vocabSize: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val m = unigramTrain(docs, emRounds, vocabCap, maxLen, maxPiece,
      seedCap, vocabSize)
    m.seeds.map { case (p, sc) =>
      (p, sc, m.counts.getOrElse(p, 0L), if (m.kept(p)) 1 else 0) }
      .toDF("piece", "seed_cnt", "em_cnt", "kept")
  }

  /** UNIGRAM-LM FERTILITY (r14) — the trained-and-PRUNED unigram model
    * APPLIED, the application twin of [[unigramLm]] exactly as
    * [[bpeFertility]] twins [[bpeMerges]]: every distinct corpus word
    * (length-capped like training — the token-stream slice the model is
    * defined over) Viterbi-segments under the pruned model's
    * renormalized scores, and per-language fertility = pieces per word.
    * A single character outside the kept set prices as the UNK penalty
    * (SentencePiece's unk piece), so segmentation is total even for
    * words whose alphabet the capped training vocab never saw.
    *
    * Scale shape: training is the bounded [[unigramTrain]] kernel; the
    * APPLICATION is fully distributed and relational — the corpus
    * collapses to (lang, word, cnt) once, each DISTINCT word runs the
    * same integer max-plus DP as unrolled DataFrame layers (one
    * hash-partition by word, then per-position broadcast piece joins +
    * partial-agg struct-max argmaxes — no per-row UDF, no driver pass),
    * the backtrace unrolls the same way, and per-language counts join
    * back (the bpeFertility discipline). When the distinct words fit the
    * [[Bounded]] probe the segmentation short-circuits through the SAME
    * [[viterbiPieces]] kernel driver-side (the spec forces the
    * distributed path at `localThreshold = 0` and pins equality). The
    * oracle replays training AND the application DP verbatim. */
  def unigramFertility(docs: DataFrame, emRounds: Int = 2,
      vocabCap: Int = 2000, maxLen: Int = 8, maxPiece: Int = 4,
      seedCap: Int = 200, vocabSize: Int = 64,
      localThreshold: Int = Bounded.threshold): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val m = unigramTrain(docs, emRounds, vocabCap, maxLen, maxPiece,
      seedCap, vocabSize)
    val langWords = docs
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "" && length(col("word")) <= maxLen)
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .pin(eager = true)
    val distinctWords = langWords.select(col("word")).distinct()
    val nsub = Bounded.collect(distinctWords, localThreshold)
      .map(_.map(_.getString(0)).sorted.toSeq.map(w => (w,
        viterbiPieces(w, maxPiece, m.appWts, Some(m.unkLw)).length.toLong))
        .toDF("word", "n_pieces"))
      .getOrElse(unigramSegmentRelational(distinctWords, m, maxLen, maxPiece))
    langWords.join(nsub, Seq("word"))
      .groupBy("lang")
      .agg(sum(col("cnt")).cast("long").as("n_words"),
        sum(col("cnt") * col("n_pieces")).cast("long").as("n_pieces"),
        round(sum(col("cnt") * col("n_pieces")).cast("double") /
          sum(col("cnt")), 4).as("pieces_per_word"))
  }

  /** The distributed spelling of the fertility segmentation — unrolled
    * integer max-plus DP layers over the distinct-word table (see
    * [[unigramFertility]]); provably ≡ [[viterbiPieces]] per word
    * (identical scores and tie-breaks), spec-pinned at threshold 0. */
  private def unigramSegmentRelational(distinctWords: DataFrame,
      m: UnigramModel, maxLen: Int, maxPiece: Int): DataFrame = {
    val spark = distinctWords.sparkSession
    import spark.implicits._
    val wtsDf = broadcast(m.appWts.toSeq.sortBy(_._1)
      .toDF("piece", "lw"))
    val w0 = distinctWords
      .repartition(col("word"))
      .select(col("word"), length(col("word")).as("n"))
      .pin(eager = true)
    // DP layer i: best (score, piece-length) ending at position i —
    // union of one arm per piece length, argmax by struct max (score,
    // then LONGER piece, the kernel's tie-break); the l = 1 arm
    // LEFT-joins so an out-of-vocab char prices as UNK
    var layers = Vector(w0.select(col("word"), col("n"),
      lit(0L).as("sc"), lit(0).as("l")))
    for (i <- 1 to maxLen) {
      val arms = (1 to math.min(maxPiece, i)).map { l =>
        val prev = layers(i - l).filter(col("n") >= i)
          .withColumn("piece", expr(s"substring(word, ${i - l + 1}, $l)"))
        if (l == 1)
          prev.join(wtsDf, Seq("piece"), "left")
            .select(col("word"), col("n"),
              (col("sc") + coalesce(col("lw"), lit(m.unkLw))).as("sc"),
              lit(l).as("l"))
        else
          prev.join(wtsDf, Seq("piece"))
            .select(col("word"), col("n"),
              (col("sc") + col("lw")).as("sc"), lit(l).as("l"))
      }
      // checkpoint EVERY layer: layer i references layers i-1..i-4, so
      // an uncheckpointed chain replays its predecessors exponentially
      // (~4-ary recursion — measured 13.3s at sf0.1 vs 1.3s flat)
      layers = layers :+ arms.reduce(_ unionByName _)
        .groupBy("word", "n")
        .agg(max(struct(col("sc"), col("l"))).as("m"))
        .select(col("word"), col("n"), col("m").getField("sc").as("sc"),
          col("m").getField("l").as("l"))
        .pin(eager = true)
    }
    val dd = (1 to maxLen).map(i =>
        layers(i).select(col("word"), lit(i).as("i"), col("l")))
      .reduce(_ unionByName _).pin(eager = true)
    // backtrace: each step consumes one piece; n_pieces = steps taken
    var trace = w0.select(col("word"), col("n").as("i"))
    val steps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to maxLen) {
      trace = trace.filter(col("i") > 0)
        .join(dd, Seq("word", "i"))
        .select(col("word"), (col("i") - col("l")).as("i"))
        .pin(eager = true)
      steps += trace.select(col("word"))
    }
    steps.reduce(_ unionByName _)
      .groupBy("word").agg(count(lit(1)).as("n_pieces"))
  }

  def gumbelTopK(weighted: DataFrame, k: Int = 50,
      temperature: Double = 1.0): DataFrame = {
    require(temperature > 0, "temperature must be positive")
    // hash ∈ [0, P-1] → u ∈ [1/(P+1), P/(P+1)] ⊂ (0,1): both log args
    // stay finite
    val u = (rollingHash(concat(lit("gum:"), col("doc_id").cast("string")))
      .cast("double") + 1.0) / 2147483648.0
    val g = -log(-log(u))
    weighted
      .select(col("doc_id"),
        round(col("weight") / temperature + g, 6).as("key"))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("key"),
        row_number().over(Window.orderBy(col("key").desc, col("doc_id")))
          .cast("int").as("rank"))
  }
}
