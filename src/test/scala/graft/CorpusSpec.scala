package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Corpus, Sessions}

/** Corpus-preparation operators (decontamination, tf-idf, stratified
  * sampling) and batch sessionization — semantics on hand-checkable
  * inputs; the oracle gate covers them at sf0.01. */
class CorpusSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("contamination counts shared k-grams against the benchmark slice") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"), // benchmark
      (1L, "a quick brown fox jumps over whatever"),       // overlaps
      (2L, "completely different words entirely here")     // clean
    ).toDF("doc_id", "text")
    val out = Corpus.contamination(docs, col("doc_id") === 0, k = 3)
      .as[(Long, Long)].collect().toMap
    // doc 1 shares "quick brown fox", "brown fox jumps", "fox jumps over"
    assert(out === Map(1L -> 3L))
  }

  test("tfIdfTopTerms ranks distinctive terms above common ones") {
    val docs = Seq(
      (0L, "alpha alpha beta"),
      (1L, "beta gamma"),
      (2L, "beta delta")
    ).toDF("doc_id", "text")
    val top = Corpus.tfIdfTopTerms(docs, n = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    // beta appears everywhere (idf = ln(1) = 0); the distinctive term wins
    assert(top === Map(0L -> "alpha", 1L -> "gamma", 2L -> "delta"))
  }

  test("stratifiedSample is deterministic and respects per-stratum rates") {
    val docs = (0L until 1000L).map(i =>
      (i, if (i % 2 == 0) "en" else "zh")).toDF("doc_id", "lang")
    val s1 = Corpus.stratifiedSample(docs, col("doc_id"), col("lang"),
      Map("en" -> 50, "zh" -> 10), defaultPct = 0)
    val s2 = Corpus.stratifiedSample(docs, col("doc_id"), col("lang"),
      Map("en" -> 50, "zh" -> 10), defaultPct = 0)
    val ids1 = s1.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 === s2.select("doc_id").as[Long].collect().sorted.toSeq)
    val byLang = s1.groupBy("lang").count().as[(String, Long)].collect().toMap
    // 500 docs per stratum; the hash is uniform-ish, rates should land
    // within a loose band around 250 / 50
    assert(byLang("en") > 175 && byLang("en") < 325)
    assert(byLang("zh") > 15 && byLang("zh") < 110)
  }

  test("sessionize splits on gaps and aggregates per session") {
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val ev = Seq(
      (1L, ts(0), 7L, "u", 1.0, ""),   // session 0
      (2L, ts(10), 7L, "u", 2.0, ""),  // same session (10 min gap)
      (3L, ts(50), 7L, "u", 4.0, ""),  // 40 min gap -> new session
      (4L, ts(5), 9L, "u", 8.0, "")    // other user
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Sessions.sessionize(ev, gapSeconds = 1800)
      .select("user_id", "session_idx", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out === Set((7L, 1L, 2L, 3.0), (7L, 2L, 1L, 4.0), (9L, 1L, 1L, 8.0)))
  }

  test("piiRedact scrubs emails/IPs/phones in order and counts each kind") {
    val docs = Seq(
      (0L, "mail bob.smith+x@corp.example.org now"),
      (1L, "host 10.0.0.1 then call 555-123-4567"),
      (2L, "user1@a.io and user2@b.io share 192.168.1.1"),
      (3L, "nothing sensitive here 12345")
    ).toDF("doc_id", "text")
    val out = Corpus.piiRedact(docs, col("text"))
      .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(0L) === ((0L, 1L, 0L, 0L, "mail <EMAIL> now")))
    assert(out(1L) === ((1L, 0L, 1L, 1L, "host <IP> then call <PHONE>")))
    assert(out(2L) === ((2L, 2L, 1L, 0L, "<EMAIL> and <EMAIL> share <IP>")))
    assert(out(3L) === ((3L, 0L, 0L, 0L, "nothing sensitive here 12345")))
  }

  test("dedupLines keeps the first occurrence, short lines always survive") {
    val dup = "this duplicated line is long"
    val docs = Seq(
      (0L, s"$dup\nshort\nunique to zero"),
      (1L, s"$dup\nanother unique line here"),
      (2L, s"short\n$dup")
    ).toDF("doc_id", "text")
    val out = Corpus.dedupLines(docs, minLen = 10)
      .select("doc_id", "n_kept", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // doc 0 holds the first occurrence (smallest (doc_id, pos)); "short"
    // is under minLen and survives everywhere
    assert(out(0L) === ((0L, 3L, 0L, s"$dup\nshort\nunique to zero")))
    assert(out(1L) === ((1L, 1L, 1L, "another unique line here")))
    assert(out(2L) === ((2L, 1L, 1L, "short")))
  }

  test("temperatureMix up-weights low-resource strata via sqrt flattening") {
    val docs = (0L until 1000L).map(i =>
      (i, if (i < 800) "en" else "zh")).toDF("doc_id", "lang")
    val out = Corpus.temperatureMix(docs, col("doc_id"), "lang")
    val pct = out.select("lang", "pct").distinct()
      .as[(String, Long)].collect().toMap
    // en is the max stratum -> 100%; zh: floor(100*sqrt(200/800)) = 50%
    assert(pct === Map("en" -> 100L, "zh" -> 50L))
    val byLang = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("en") === 800L) // pct=100 keeps everything
    assert(byLang("zh") > 60 && byLang("zh") < 140) // ~50% of 200, hash-uniform-ish
    // deterministic: the same call yields the same ids
    val again = Corpus.temperatureMix(docs, col("doc_id"), "lang")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ===
      again.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("stripBoilerplate drops cross-doc lines, keeps order, counts both") {
    val docs = Seq(
      (0L, "FOOTER\nunique alpha\nmiddle\nFOOTER"),
      (1L, "unique beta\nFOOTER\nlast line"),
      (2L, "only here\n\nalso only here")
    ).toDF("doc_id", "text")
    val out = Corpus.stripBoilerplate(docs, minDocs = 2)
      .select("doc_id", "n_kept", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // FOOTER occurs in docs 0 and 1 -> boilerplate everywhere (both its
    // occurrences in doc 0 drop); blank lines are never boilerplate
    assert(out(0L) === ((0L, 2L, 2L, "unique alpha\nmiddle")))
    assert(out(1L) === ((1L, 2L, 1L, "unique beta\nlast line")))
    assert(out(2L) === ((2L, 3L, 0L, "only here\n\nalso only here")))
  }

  test("lmQualityScore: reference transitions score high, OOV text scores low") {
    val docs = Seq(
      (0L, "the cat sat on the mat"),   // reference (doc_id % 5 == 0)
      (5L, "the cat ran on the mat"),   // reference
      (1L, "the cat sat on the mat"),   // pure reference phrasing
      (2L, "zx qy vw kj zz xq"),        // nothing in the model
      (3L, "the cat")                   // single bigram, seen
    ).toDF("doc_id", "text")
    val out = Corpus.lmQualityScore(docs, col("doc_id") % 5 === 0)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // Model: "the"->{cat:2, mat:2} cu=4; "cat"->{sat:1, ran:1} cu=2;
    // "sat"/"ran"->{on:1} cu=1; "on"->{the:2} cu=2.
    // doc 1 bigrams: the-cat(2/4) cat-sat(1/2) sat-on(1/1) on-the(2/2)
    //                the-mat(2/4) -> avg = (0.5+0.5+1+1+0.5)/5 = 0.7
    assert(out(1L) === ((1L, 5L, 0L, 700000L)))
    assert(out(2L) === ((2L, 5L, 1000000L, 0L)))
    assert(out(3L) === ((3L, 1L, 0L, 500000L)))
    // reference docs are never scored; no zero-bigram rows appear
    assert(!out.contains(0L) && !out.contains(5L))
  }

  test("splitAssign: deterministic, exhaustive, id-stable under append") {
    val docs = (1L to 200L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val out = Corpus.splitAssign(docs, col("doc_id"))
      .select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect()
    assert(out.length === 200)
    // every row lands in exactly one split, consistent with its bucket
    out.foreach { case (_, b, s) =>
      assert(b >= 0 && b < 1000)
      val expect = if (b < 900) "train" else if (b < 950) "val" else "test"
      assert(s === expect)
    }
    // id-stability: the same doc in a 10x larger corpus keeps its split —
    // the property that makes the assignment append-safe and auditable
    val more = (1L to 2000L).map(i => (i, s"other $i")).toDF("doc_id", "text")
    val again = Corpus.splitAssign(more, col("doc_id"))
      .filter(col("doc_id") <= 200)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val first = out.map(r => r._1 -> r._3).toMap
    assert(again === first)
    // percentage knobs are validated
    intercept[IllegalArgumentException] {
      Corpus.splitAssign(docs, col("doc_id"), trainPct = 98, valPct = 5)
    }
  }

  test("dedupByUrl: scheme/www/query/slash variants collide; path case survives") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "https://www.Ex.com/A/b?q=1"),
      (2L, "HTTP://ex.com/A/b#frag"),
      (3L, "https://WWW.ex.com/A/b/"),
      (4L, "https://ex.com/a/B")). // different path CASE: distinct
      toDF("doc_id", "url")
    val out = graft.pipeline.Corpus.dedupByUrl(docs, col("url"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("ex.com/A/b") === ((1L, 3L)))
    assert(out("ex.com/a/B") === ((4L, 1L)))
    assert(out.size === 2)
  }

  test("funnel: strict order, conversion window, per-step drop-off") {
    import java.sql.Timestamp
    def t(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    // u1 full ordered funnel; u2 clicks BEFORE viewing (order violation);
    // u3 views then clicks outside the 10-min window; u4 view+click only
    val ev = Seq(
      (1L, t(0), "view"), (1L, t(1), "click"), (1L, t(2), "purchase"),
      (2L, t(0), "click"), (2L, t(1), "view"),
      (3L, t(0), "view"), (3L, t(20), "click"),
      (4L, t(0), "view"), (4L, t(5), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = Sessions.funnel(ev, Seq("view", "click", "purchase"),
        maxGapSeconds = Some(600))
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1) === (("view", 4L)))   // everyone views eventually
    assert(out(2) === (("click", 2L)))  // u1, u4 (u2 order, u3 window)
    assert(out(3) === (("purchase", 1L))) // u1 only
  }

  test("abTest: exact counts, pooled z, rounded-stat significance") {
    import java.sql.Timestamp
    def t(i: Int) = new Timestamp(1700000000000L + i * 1000L)
    // users 0..9: evens = A, odds = B. A converts 4/5, B converts 1/5
    // (conversion = any 'buy' event; repeats must not double-count)
    val rows = (0L to 9L).map(u => (u * 10 + 1, t(u.toInt), u,
        if ((u % 2 == 0 && u < 8) || u == 1) "buy" else "view", 1.0)) :+
      ((991L, t(99), 0L, "buy", 1.0)) // repeat conversion for user 0
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Sessions.abTest(ev, col("user_id") % 2 === 1,
      col("event_type") === "buy").collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
      === ((5L, 5L, 4L, 1L)))
    assert(out.getDouble(4) === 0.8 && out.getDouble(5) === 0.2)
    // z = (0.8-0.2)/sqrt(0.5*0.5*(0.4)) = 0.6/sqrt(0.1) = 1.897367
    assert(out.getDouble(6) === 1.897367)
    assert(out.getInt(7) === 0) // below 1.959964
  }

  test("r13 cupedAdjust: the pre-period covariate shrinks variance by " +
      "cov²/(varX·varY) and the treatment effect survives adjustment") {
    import java.sql.Timestamp
    // pre period: hours 0-9; experiment period: hours 10-19 (the cutoff
    // is the corpus µs midpoint). Y = X + noise + per-variant lift, so
    // X explains most of Y's variance and θ ≈ 1.
    def t(h: Int) = new Timestamp(1700000000000L + h * 3600_000L)
    val rows = (0L to 9L).flatMap { u =>
      val base = (u % 5 + 1) * 10.0          // heavy user-level variance
      val lift = if (u % 2 == 1) 5.0 else 0.0
      val noise = (u % 3).toDouble           // small residual
      Seq((u * 2 + 1, t(u.toInt), u, "act", base),           // pre: X
        (u * 2 + 2, t(10 + u.toInt), u, "act", base + lift + noise))
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Sessions.cupedAdjust(ev, col("user_id") % 2 === 1)
      .collect().head
    val (na, nb) = (out.getLong(0), out.getLong(1))
    val theta = out.getDouble(2)
    val (ya, yb) = (out.getDouble(3), out.getDouble(4))
    val (aa, ab) = (out.getDouble(5), out.getDouble(6))
    val vr = out.getDouble(7)
    assert(na === 5L && nb === 5L)
    // θ near 1 (Y tracks X), large variance reduction
    assert(math.abs(theta - 1.0) < 0.15, s"theta $theta")
    assert(vr > 0.8 && vr <= 1.0, s"var_reduction $vr")
    // the ~5.0 lift survives adjustment (CUPED is unbiased for the
    // effect) while the raw and adjusted effects agree within noise
    assert(math.abs((ab - aa) - (yb - ya)) < 1.5,
      s"effect distorted: raw ${yb - ya}, adj ${ab - aa}")
    assert(ab - aa > 3.0)

    // r14 degenerate guard (advisor): every user shares the same
    // pre-period X (varX = 0) → θ = 0, the adjustment is the identity,
    // var_reduction 0 — no NaN/null cascade
    val const = (0L to 3L).flatMap(u => Seq(
      (u * 2 + 1, t(0), u, "act", 5.0),
      (u * 2 + 2, t(19), u, "act", (u + 1).toDouble)))
    val d = Sessions.cupedAdjust(
      const.toDF("event_id", "ts", "user_id", "event_type", "value"),
      col("user_id") % 2 === 1).collect().head
    assert(d.getDouble(2) === 0.0 && d.getDouble(7) === 0.0,
      s"degenerate CUPED not guarded: $d")
    assert(d.getDouble(5) === d.getDouble(3) &&
      d.getDouble(6) === d.getDouble(4))
  }

  test("r14 msprt: a strong planted effect crosses ln(1/alpha), a null " +
      "effect stays flat, degenerate pooled rates loud-zero") {
    import java.sql.Timestamp
    def t(i: Int) = new Timestamp(1700000000000L + i * 1000L)
    // 2000 users: odd = B. A converts 50/1000, B converts 600/1000 — a
    // massive effect at a sample size where the τ=0.01 mixture prior
    // has accumulated evidence (the mSPRT is deliberately conservative
    // at tiny n: that is the always-valid guarantee)
    def mk(conv: Long => Boolean) =
      (0L until 2000L).map(u => (u + 1, t(u.toInt), u,
        if (conv(u)) "buy" else "view", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
    val strong = mk(u => (u % 2 == 1 && u % 10 < 6) ||
      (u % 2 == 0 && u % 40 == 0))
    val out = Sessions.msprt(strong, col("user_id") % 2 === 1,
      col("event_type") === "buy").collect().head
    assert((out.getLong(0), out.getLong(1)) === ((1000L, 1000L)))
    assert((out.getLong(2), out.getLong(3)) === ((50L, 600L)))
    assert(out.getDouble(4) === 0.55)          // effect = 0.60 - 0.05
    assert(out.getDouble(5) > 2.995732, s"logLam ${out.getDouble(5)}")
    assert(out.getInt(7) === 1)
    assert(out.getDouble(6) < 0.05)            // always-valid p rejects
    // null effect: identical rates → logLam = 0.5·ln(V/(V+τ²)) < 0,
    // p_always = 1, not significant (peeking cannot false-positive)
    val flat = mk(u => u % 5 == 0) // 40/200 in each arm — equal rates
    val o2 = Sessions.msprt(flat, col("user_id") % 2 === 1,
      col("event_type") === "buy").collect().head
    assert(o2.getDouble(4) === 0.0)
    assert(o2.getDouble(5) < 0.0)
    assert(o2.getDouble(6) === 1.0)
    assert(o2.getInt(7) === 0)
    // degenerate: nobody converts → V = 0 → loud zero, not NaN
    val none = mk(_ => false)
    val o3 = Sessions.msprt(none, col("user_id") % 2 === 1,
      col("event_type") === "buy").collect().head
    assert(o3.getDouble(5) === 0.0 && o3.getDouble(6) === 1.0 &&
      o3.getInt(7) === 0)
  }

  test("r14 quantileTreatmentEffect: per-variant log-bucket quantiles " +
      "and their integer-milli difference; small exact buckets decode " +
      "exactly") {
    import java.sql.Timestamp
    def t(i: Int) = new Timestamp(1700000000000L + i * 1000L)
    // control (even): per-user totals 0.001..0.010 (lv 1..10, exact
    // small buckets); treated (odd): totals 0.011..0.020 (lv 11..20).
    // p50 of 10 values = the 5th (100·cum ≥ 50·10 ⇔ cum ≥ 5);
    // p90 = the 9th. QTE = +10 milli at both quantiles.
    val ev = (0L until 20L).map { u =>
      val y = if (u % 2 == 0) (u / 2 + 1) * 0.001 else (u / 2 + 11) * 0.001
      (u + 1, t(u.toInt), u, "act", y)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Sessions.quantileTreatmentEffect(ev, col("user_id") % 2 === 1)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(50) === ((5L, 15L, 10L)), s"got ${out(50)}")
    assert(out(90) === ((9L, 19L, 10L)), s"got ${out(90)}")
    // heavy-tail values land in a LOG bucket whose midpoint decodes
    // with shifts: three odd users at y=600.0 put the treated p90
    // (13 users → 100·cum ≥ 1170 → the 12th) in the lv=600000 bucket,
    // est within 3% of 600000
    val tail = (ev.collect().map(r => (r.getLong(0), r.getTimestamp(1),
      r.getLong(2), r.getString(3), r.getDouble(4))).toSeq ++
      Seq(21L, 23L, 25L).map(u => (100L + u, t(99), u, "act", 600.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val p90b = Sessions.quantileTreatmentEffect(tail,
      col("user_id") % 2 === 1).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(math.abs(p90b(90) - 600000L) < 20000L, s"got ${p90b(90)}")
  }

  test("r14 srmCheck: exact counts, chi-square, rounded-stat flag; " +
      "balanced split stays quiet") {
    import java.sql.Timestamp
    def t(i: Int) = new Timestamp(1700000000000L + i * 1000L)
    // 100 users, variant B = user_id % 10 == 0 → 10 B vs 90 A against
    // a designed 50/50: eb = 50, chi2 = 40²/50 + 40²/50 = 64.0 → SRM
    val ev = (0L until 100L).map(u => (u + 1, t(u.toInt), u, "act", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Sessions.srmCheck(ev, col("user_id") % 10 === 0)
      .collect().head
    assert((out.getLong(0), out.getLong(1)) === ((90L, 10L)))
    assert(out.getDouble(2) === 50.0)
    assert(out.getDouble(3) === 64.0)
    assert(out.getInt(4) === 1)
    // an even split against the same design: chi2 = 0, no flag
    val ok = Sessions.srmCheck(ev, col("user_id") % 2 === 0)
      .collect().head
    assert((ok.getLong(0), ok.getLong(1)) === ((50L, 50L)))
    assert(ok.getDouble(3) === 0.0 && ok.getInt(4) === 0)
    // a 48/52 wobble is within chance at n=100 (chi2 = 0.16): quiet
    val wob = Sessions.srmCheck(ev,
      col("user_id") % 25 === 0 || col("user_id") % 2 === 0)
    assert(wob.collect().head.getInt(4) === 0)
    // repeated events per user must not inflate the counts
    val dup = ev.union(ev)
    val d = Sessions.srmCheck(dup, col("user_id") % 10 === 0)
      .collect().head
    assert((d.getLong(0), d.getLong(1)) === ((90L, 10L)))
  }

  test("r14 kAnonymity: octave generalization, exact-k flag both ways") {
    val docs = (
      (1 to 6).map(i => (i.toLong, "t", "en", "web", 100L)) ++   // n=6 ok
      (1 to 4).map(i => (10L + i, "t", "en", "web", 300L)) ++    // n=4 flag
      Seq((20L, "t", "zh", "book", 5000L))                       // n=1 flag
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.pipeline.Corpus.kAnonymity(docs, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getInt(4))).toSet
    // 100 → 7 bits, 300 → 9 bits, 5000 → 13 bits
    assert(out === Set(
      ("en", "web", 7, 6L, 1),
      ("en", "web", 9, 4L, 0),
      ("zh", "book", 13, 1L, 0)))
  }

  test("r15 lDiversity: homogeneous class fails, diverse class passes, " +
      "size alone never suffices") {
    val docs = (
      // (en, oct 7): 6 docs but ONE source — large yet homogeneous: fail
      (1 to 6).map(i => (i.toLong, "t", "en", "web", 100L)) ++
      // (en, oct 9): 3 docs across 3 sources — small but diverse: pass
      Seq((11L, "t", "en", "web", 300L), (12L, "t", "en", "book", 300L),
        (13L, "t", "en", "wiki", 300L)) ++
      // (zh, oct 13): 2 sources < ℓ=3: fail
      Seq((21L, "t", "zh", "book", 5000L), (22L, "t", "zh", "web", 5000L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.pipeline.Corpus.lDiversity(docs, l = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(out === Set(
      ("en", 7, 6L, 1L, 0),
      ("en", 9, 3L, 3L, 1),
      ("zh", 13, 2L, 2L, 0)))
  }

  test("r15 tCloseness: exact-integer TVD in ppm — a corpus-like class " +
      "releases, a single-source skew fails, absent domain values " +
      "contribute") {
    // global: web 8, book 4, N = 12
    // class (en,7): web 4 + book 4, n = 8 → dev = |48−64| + |48−32| =
    //   32, ppm = 32·500000/96 = 166666 ≤ 200000: release
    // class (zh,13): web 4, n = 4 → dev = |48−32| + |0−16| = 32,
    //   ppm = 32·500000/48 = 333333: fail (the absent `book` value
    //   contributes — Li's domain sum)
    val docs = (
      (1 to 4).map(i => (i.toLong, "t", "en", "web", 100L)) ++
      (5 to 8).map(i => (i.toLong, "t", "en", "book", 100L)) ++
      (11 to 14).map(i => (i.toLong, "t", "zh", "web", 5000L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.pipeline.Corpus.tCloseness(docs)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(out === Set(
      ("en", 7, 8L, 166666L, 1),
      ("zh", 13, 4L, 333333L, 0)))
    // r16 (advisor): NULL sources sit outside Li's domain — keeping
    // them would inflate a class's n while their mass vanishes from
    // its distribution (the left join never matches NULL). With nulls
    // filtered, the numbers above must be unchanged.
    val withNulls = docs.union(Seq(
      (31L, "t", "en", null.asInstanceOf[String], 100L),
      (32L, "t", "zh", null.asInstanceOf[String], 5000L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out2 = graft.pipeline.Corpus.tCloseness(withNulls)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(out2 === out, "null sources must not perturb TVD")
  }

  test("r14 cusum: in-plan calibration, max(0,.) floor via the " +
      "window closed form, alarm only past h = ref") {
    import java.sql.Timestamp
    def t(day: Int, i: Int) =
      Timestamp.valueOf(f"2026-02-$day%02d 01:${i % 60}%02d:00")
    // click days 1..4 count 1,1,6,6: ref = 14000/4 = 3500, k = 175;
    // P = -2675,-5350,-3025,-700; S = 0,0,2325,4650 → alarm on day 4
    // view days 1..2 count 2,1: ref = 1500, k = 75; P = 425,-150;
    // least(0, minP) clamps the all-positive prefix → S = 425, 0
    val rows =
      (1 to 1).map(i => (100L + i, t(1, i), 1L, "click", 0.0)) ++
      (1 to 1).map(i => (200L + i, t(2, i), 1L, "click", 0.0)) ++
      (1 to 6).map(i => (300L + i, t(3, i), 1L, "click", 0.0)) ++
      (1 to 6).map(i => (400L + i, t(4, i), 1L, "click", 0.0)) ++
      (1 to 2).map(i => (500L + i, t(1, i), 2L, "view", 0.0)) ++
      (1 to 1).map(i => (600L + i, t(2, i), 2L, "view", 0.0))
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Sessions.cusum(ev)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(out === Set(
      ("click", "2026-02-01", 1L, 0L, 0),
      ("click", "2026-02-02", 1L, 0L, 0),
      ("click", "2026-02-03", 6L, 2325L, 0),
      ("click", "2026-02-04", 6L, 4650L, 1),
      ("view", "2026-02-01", 2L, 425L, 0),
      ("view", "2026-02-02", 1L, 0L, 0)))
  }

  test("r14 diffInDiff: the control trend differences out and the " +
      "balanced panel zeroes inactive periods") {
    import java.sql.Timestamp
    // pre: hours 0-9, post: hours 10-19 (midpoint cutoff). Both groups
    // share a +3.0 time trend; treated (odd) users get an extra +2.0
    // post lift. DiD must recover exactly 2.0 with the trend removed.
    def t(h: Int) = new Timestamp(1700000000000L + h * 3600_000L)
    val rows = (0L to 9L).flatMap { u =>
      val base = (u % 5 + 1).toDouble
      val lift = if (u % 2 == 1) 2.0 else 0.0
      Seq((u * 2 + 1, t(u.toInt), u, "act", base),
        (u * 2 + 2, t(10 + u.toInt), u, "act", base + 3.0 + lift))
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Sessions.diffInDiff(ev, col("user_id") % 2 === 1)
      .collect().head
    assert((out.getLong(0), out.getLong(1)) === ((5L, 5L)))
    val (preA, postA) = (out.getDouble(2), out.getDouble(3))
    val (preB, postB) = (out.getDouble(4), out.getDouble(5))
    assert(postA - preA === 3.0)          // control: trend only
    assert(postB - preB === 5.0)          // treated: trend + lift
    assert(out.getDouble(6) === 2.0)      // DiD isolates the lift
    // balanced panel: a user active ONLY pre contributes y = 0 post
    // (composition can't shift) — two pre-only control users drag the
    // control post mean down, which the estimate must reflect
    val ev2 = (rows ++ Seq((100L, t(0), 10L, "act", 4.0),
      (101L, t(1), 12L, "act", 4.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out2 = Sessions.diffInDiff(ev2, col("user_id") % 2 === 1)
      .collect().head
    assert(out2.getLong(0) === 7L)
    assert(out2.getDouble(3) < postA)     // post mean diluted by zeros
  }

  test("attribution: first/last/linear models, lookback, micro-credits") {
    import java.sql.Timestamp
    def t(h: Int) = new Timestamp(1700000000000L + h * 3600_000L)
    // u1: view(t0) -> click(t1) -> view(t2) -> PURCHASE(t3): n=3,
    //   first = view@t0, last = view@t2, linear 333333µ each
    // u2: click OUTSIDE the 7-day lookback, then PURCHASE: no touches
    // u3: touch AFTER the purchase: never credited
    val rows = Seq(
      (1L, t(0), 1L, "view"), (2L, t(1), 1L, "click"),
      (3L, t(2), 1L, "view"), (4L, t(3), 1L, "purchase"),
      (5L, t(0), 2L, "click"), (6L, t(24 * 8), 2L, "purchase"),
      (7L, t(5), 3L, "purchase"), (8L, t(6), 3L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Sessions.attribution(rows,
      col("event_type") === "purchase",
      col("event_type").isin("view", "click")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // (n_touches, first, last, linear_ppm)
    assert(out("view") === ((2L, 1L, 1L, 666666L)))
    assert(out("click") === ((1L, 0L, 0L, 333333L)))
    assert(out.size === 2)
  }

  test("piiCards: Luhn vectors, validation gates redaction, short runs skip") {
    import graft.functions.TextFunctions
    // canonical Luhn vectors: 4111111111111111 (valid), one-off
    // mutation (invalid), 79927398713 (the textbook example)
    val vecs = Seq("4111111111111111", "4111111111111112", "79927398713",
      "79927398714").toDF("s")
      .select(col("s"), TextFunctions.luhnValid(col("s")).as("v"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(vecs("4111111111111111") && !vecs("4111111111111112"))
    assert(vecs("79927398713") && !vecs("79927398714"))
    val docs = Seq(
      (1L, "pay 4111111111111111 now"),        // valid card: redacted
      (2L, "order 4111111111111112 shipped"),  // candidate, fails Luhn
      (3L, "code 123456789012 x"),             // 12 digits: not a candidate
      (4L, "two 4111111111111111 and 5500005555555559 here")
    ).toDF("doc_id", "text")
    val out = Corpus.piiCards(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(out(1L) === ((1L, 1L, "pay <CARD> now")))
    assert(out(2L) === ((1L, 0L, "order 4111111111111112 shipped")))
    assert(out(3L) === ((0L, 0L, "code 123456789012 x")))
    assert(out(4L)._2 === 2L &&
      out(4L)._3 === "two <CARD> and <CARD> here")
  }

  test("interleave: closed-form positions are the exact stride order") {
    // sources a (weight 2, 8 docs) and b (weight 1, 4 docs)
    val docs = ((1L to 8L).map(i => (i, "a")) ++
      (101L to 104L).map(i => (i, "b"))).toDF("doc_id", "lang")
    val out = Corpus.interleave(docs, Map("a" -> 2), defaultWeight = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    // positions are a permutation of 1..12
    assert(out.map(_._3).sorted.toSeq === (1L to 12L).toSeq)
    // the closed form equals an explicitly sorted stride schedule:
    // key = (k+1) * (lcm/w), ties by lang then k
    val expect = out.sortBy(_._3).map(_._1).toSeq
    val manual = ((1L to 8L).zipWithIndex.map { case (id, k) =>
      (id, ((k + 1) * 1L, "a", k.toLong)) } ++
      (101L to 104L).zipWithIndex.map { case (id, k) =>
        (id, ((k + 1) * 2L, "b", k.toLong)) })
      .sortBy(_._2).map(_._1).toSeq
    assert(expect === manual)
    // prefix balance: in every even prefix, source a appears 2x b
    val prefix6 = out.sortBy(_._3).take(6).map(_._2)
    assert(prefix6.count(_ == "a") === 4 && prefix6.count(_ == "b") === 2)
  }

  test("rfm: integer quintiles, tie groups share a score, segments fixed") {
    import java.sql.Timestamp
    def t(day: Int) = new Timestamp(
      java.time.LocalDate.of(2024, 1, 1).plusDays(day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    // five users, purchase counts 1..5, later last-purchase for higher
    // ids, spend proportional to count — strictly increasing metrics
    // give scores exactly 1..5 ((5·c_lt) div 5 + 1 = c_lt + 1)
    val rows = (1 to 5).flatMap { u =>
      (1 to u).map(i => (u * 100L + i, t(u * 2 + i), u.toLong, "purchase",
        25.0))
    } :+ ((999L, t(1), 1L, "view", 1.0)) // non-purchase: ignored
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Sessions.rfm(ev, col("event_type") === "purchase").collect()
      .map(r => r.getLong(0) ->
        (r.getInt(4), r.getInt(5), r.getInt(6), r.getString(7))).toMap
    assert(out(5L) === ((5, 5, 5, "champion")))
    assert(out(1L) === ((1, 1, 1, "hibernating")))
    assert(out(3L)._4 === "regular")
    // tie groups: equal metrics share a score
    val tied = Seq((1L, t(0), 1L, "purchase", 10.0),
      (2L, t(0), 2L, "purchase", 10.0),
      (3L, t(5), 3L, "purchase", 99.0), (4L, t(5), 3L, "purchase", 99.0),
      (5L, t(5), 4L, "purchase", 99.0), (6L, t(5), 4L, "purchase", 99.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val ts2 = Sessions.rfm(tied, col("event_type") === "purchase").collect()
      .map(r => r.getLong(0) -> (r.getInt(4), r.getInt(5), r.getInt(6)))
      .toMap
    assert(ts2(1L) === ts2(2L) && ts2(3L) === ts2(4L))
  }

  test("lifecycle: new/retained/resurrected/churned growth accounting") {
    import java.sql.Timestamp
    // Monday-truncated weeks starting 2024-01-01 (a Monday)
    def t(week: Int) = new Timestamp(
      java.time.LocalDate.of(2024, 1, 1).plusWeeks(week)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    // u1: weeks 0,1,3 (retained at 1, churn at 2, resurrect at 3)
    // u2: week 0 only (churns at 1); u3: first seen week 2
    val ev = Seq((1L, t(0)), (1L, t(1)), (1L, t(3)), (2L, t(0)),
      (3L, t(2))).toDF("user_id", "ts")
    val out = Sessions.lifecycle(ev).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val w0 = out.keys.min
    // wk: (new, retained, resurrected, churned)
    assert(out(w0) === ((2L, 0L, 0L, 0L)))      // u1, u2 new
    assert(out(w0 + 1) === ((0L, 1L, 0L, 1L)))  // u1 retained, u2 churned
    assert(out(w0 + 2) === ((1L, 0L, 0L, 1L)))  // u3 new, u1 churned
    assert(out(w0 + 3) === ((0L, 0L, 1L, 1L)))  // u1 resurrected, u3 churned
    // nothing reported beyond the last active week
    assert(out.size === 4)
  }

  test("markovTransitions: per-user consecutive pairs, end state, row sums") {
    import java.sql.Timestamp
    def t(i: Int) = new Timestamp(1700000000000L + i * 1000L)
    // u1: a -> b -> a -> (end); u2: a -> a -> (end)
    val ev = Seq((1L, t(0), 1L, "a"), (2L, t(1), 1L, "b"),
      (3L, t(2), 1L, "a"), (4L, t(0), 2L, "a"), (5L, t(1), 2L, "a"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Sessions.markovTransitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // from 'a' (4 outgoing): a->b 1, a->a 1, a->(end) 2
    assert(out(("a", "b")) === ((1L, 0.25)))
    assert(out(("a", "a")) === ((1L, 0.25)))
    assert(out(("a", "(end)")) === ((2L, 0.5)))
    // from 'b': b->a only
    assert(out(("b", "a")) === ((1L, 1.0)))
    assert(out.size === 4)
    // every row of the matrix sums to exactly 1
    val sums = out.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2._2).sum).toMap
    assert(sums.values.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("stickiness: trailing-window distinct actives, dedup within day") {
    import java.sql.Timestamp
    def t(day: Int, h: Int = 0) = new Timestamp(
      java.time.LocalDate.of(2024, 1, 1).plusDays(day)
        .atStartOfDay(java.time.ZoneOffset.UTC).plusHours(h)
        .toInstant.toEpochMilli)
    // u1 active days 0,1; u2 day 0 twice (dedup); u3 day 2 only
    val ev = Seq((1L, t(0)), (1L, t(1)), (2L, t(0)), (2L, t(0, 5)),
      (3L, t(2))).toDF("user_id", "ts")
    val out = Sessions.stickiness(ev, windowDays = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("2024-01-01") === ((2L, 2L, 1.0)))       // u1,u2 / u1,u2
    assert(out("2024-01-02") === ((1L, 2L, 0.5)))       // u1 / u1,u2
    assert(out("2024-01-03") === ((1L, 3L, 0.333333)))  // u3 / all three
    assert(out.size === 3)                              // active days only
  }

  test("weekdaySeasonality: epoch-day dow, ppm index vs uniform week") {
    import java.sql.Timestamp
    def t(day: Int) = new Timestamp(
      java.time.LocalDate.of(2024, 1, 1).plusDays(day) // a Monday
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    val ev = (Seq(t(0), t(0), t(0), t(1)).map(("a", _)) ++
      (0 to 6).map(d => ("b", t(d))))
      .toDF("event_type", "ts")
    val out = Sessions.weekdaySeasonality(ev)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(("a", 0)) === ((3L, 5250000L)))   // 3/4 of the week's volume
    assert(out(("a", 1)) === ((1L, 1750000L)))
    (0 to 6).foreach(d => assert(out(("b", d)) === ((1L, 1000000L))))
    assert(out.size === 9)
  }

  test("rakeKeywords: degree/freq scoring over stopword islands") {
    val docs = Seq((1L, "red apple the green apple a red"))
      .toDF("doc_id", "text")
    val out = Corpus.rakeKeywords(docs, Seq("a", "the"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3)))
    // words: apple freq2 deg4 → 2000; red freq2 deg3 → 1500; green
    // freq1 deg2 → 2000. phrases: "green apple" 4000 > "red apple"
    // 3500 > "red" 1500.
    assert(out.toSeq === Seq(
      ("green apple", 1L, 4000L, 1),
      ("red apple", 1L, 3500L, 2),
      ("red", 1L, 1500L, 3)))
  }

  test("epochRepeat: floor copies plus deterministic hash-gated extra") {
    def h(id: Long) = (id * 1103515245L + 12345L) % 2147483647L % 1000000L
    val docs = (1L to 40L).map(i => (i, "x")).toDF("doc_id", "source")
    // wppm 1.5M: copies = 1 + (h < 500000); wppm 0: doc vanishes
    val out = Corpus.epochRepeat(docs, lit(1500000L))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val expected = (1L to 40L).flatMap(i =>
      (0L until (1L + (if (h(i) < 500000L) 1L else 0L))).map(e => (i, e)))
    assert(out.sorted.toSeq === expected.sorted)
    assert(expected.size > 40 && expected.size < 80) // some of each
    assert(Corpus.epochRepeat(docs, lit(0L)).count() === 0L)
    // integer epochs: wppm 3.0M gives exactly 3 copies for every doc
    assert(Corpus.epochRepeat(docs, lit(3000000L)).count() === 120L)
  }

  test("conversionLag: first-after-first lag buckets and cumulative ppm") {
    import java.sql.Timestamp
    def t(day: Int, h: Int = 0) = new Timestamp(
      java.time.LocalDate.of(2024, 1, 1).plusDays(day)
        .atStartOfDay(java.time.ZoneOffset.UTC).plusHours(h)
        .toInstant.toEpochMilli)
    // u1: signup d0, purchases d0(+2h) and d3 → lag 0; u2: signup d1,
    // purchase d3 → lag 2; u3: purchase BEFORE signup only → excluded;
    // u4: signup, never purchases → in the denominator only
    val ev = Seq(
      (1L, "signup", t(0)), (1L, "purchase", t(0, 2)), (1L, "purchase", t(3)),
      (2L, "signup", t(1)), (2L, "purchase", t(3)),
      (3L, "purchase", t(0)), (3L, "signup", t(1)),
      (4L, "signup", t(2))).toDF("user_id", "event_type", "ts")
    val out = Sessions.conversionLag(ev, "signup", "purchase")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out === Map(0L -> ((1L, 250000L)), 2L -> ((1L, 500000L))))
  }

  test("cohortLtv: decimal revenue sums, cumulative per-user curve") {
    import java.sql.Timestamp
    def t(day: Int) = new Timestamp(
      java.time.LocalDate.of(2024, 1, 1).plusDays(day) // Monday
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    // cohort week0: u1 (10 + 20 in week1), u2 (5); one-user week1
    // cohort: u3 (7)
    val ev = Seq(
      (1L, "purchase", t(0), 10.0), (1L, "purchase", t(8), 20.0),
      (2L, "purchase", t(1), 5.0),
      (3L, "purchase", t(8), 7.0),
      (1L, "view", t(0), 99.0)) // non-purchase ignored
      .toDF("user_id", "event_type", "ts", "value")
    val out = Sessions.cohortLtv(ev, col("event_type") === "purchase")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(("2024-01-01", 0)) === ((15.0, 7.5)))   // (10+5)/2 users
    assert(out(("2024-01-01", 1)) === ((20.0, 17.5)))  // cum 35/2
    assert(out(("2024-01-08", 0)) === ((7.0, 7.0)))
    assert(out.size === 3)
  }

  test("domainBlocklist: label-boundary suffixes, case/scheme folding") {
    val docs = Seq(
      (1L, "https://x.ads.net/page"),       // suffix match
      (2L, "HTTP://ADS.NET:8080/q?a=1"),    // exact + case + port
      (3L, "https://notads.net/"),          // NOT a label boundary
      (4L, "https://safe.example.com/p"),
      (5L, "https://ads.net.evil.org/")     // blocked domain mid-host: keep
    ).toDF("doc_id", "url")
    val out = Corpus.domainBlocklist(docs, col("url"), Seq("ads.net"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)), r.getInt(3)))).toMap
    assert(out(1L) === (("x.ads.net", Some("ads.net"), 0)))
    assert(out(2L) === (("ads.net", Some("ads.net"), 0)))
    assert(out(3L) === (("notads.net", None, 1)))
    assert(out(4L) === (("safe.example.com", None, 1)))
    assert(out(5L) === (("ads.net.evil.org", None, 1)))
  }

  test("ewmaSpikes: dyadic-weighted baseline, full-window gate, spike rule") {
    import java.sql.Timestamp
    def t(day: Int) = new Timestamp(
      java.time.LocalDate.of(2024, 1, 1).plusDays(day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    // 'a': days 0,1 at 1/day, then day 2 bursts to 4 events
    val rows = Seq((1L, t(0)), (2L, t(1))) ++
      (3L to 6L).map(i => (i, t(2)))
    val ev = rows.toDF("event_id", "ts").withColumn("event_type",
      org.apache.spark.sql.functions.lit("a"))
    val out = Sessions.ewmaSpikes(ev, windowDays = 2, thresholdPct = 150)
      .collect().map(r => r.getString(1) ->
        (r.getLong(2), r.getDouble(3), r.getInt(5))).toMap
    // window=2: weights (2,1)/3. Day 1 lacks a full window (no day -1).
    // Day 2 baseline = (2*n1 + 1*n0)/3 = (2+1)/3 = 1.0; n=4 -> spike
    assert(out.size === 1)
    assert(out("2024-01-03") === ((4L, 1.0, 1)))
  }

  test("retention: weekly cohorts, offsets, per-cohort rates") {
    import java.sql.Timestamp
    def t(day: Int) = new Timestamp(
      java.time.LocalDate.of(2024, 1, 1).plusDays(day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    // 2024-01-01 is a Monday. u1: weeks 0,1,2; u2: weeks 0,2; u3 joins
    // in week 1, active weeks 1,2
    val ev = Seq(
      (1L, t(0)), (1L, t(8)), (1L, t(15)),
      (2L, t(1)), (2L, t(16)),
      (3L, t(9)), (3L, t(14))
    ).toDF("user_id", "ts").withColumn("keep",
      org.apache.spark.sql.functions.lit(true))
    val out = Sessions.retention(ev, col("keep"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("2024-01-01", 0)) === ((2L, 1.0)))
    assert(out(("2024-01-01", 1)) === ((1L, 0.5)))   // only u1 in wk 1
    assert(out(("2024-01-01", 2)) === ((2L, 1.0)))   // u1 + u2
    assert(out(("2024-01-08", 0)) === ((1L, 1.0)))   // u3's own cohort
    assert(out(("2024-01-08", 1)) === ((1L, 1.0)))
    assert(out.size === 5)
  }

  test("budgetFill: cascading caps redistribute surplus; totals respect B") {
    // avail 100/100/10000, weights 10/10/100, B = 80% of 10200 = 8160
    // round 1: shares 680/680/6800 -> a and b cap at 100 each
    // final: c gets (8160-200)*100//100 = 7960 (< 10000, uncapped)
    val avail = Seq(("a", 100L), ("b", 100L), ("c", 10000L))
      .toDF("stratum", "avail")
    val out = graft.pipeline.Corpus.budgetFill(avail)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(out("a") === ((100L, 1)))
    assert(out("b") === ((100L, 1)))
    assert(out("c") === ((7960L, 0)))
  }

  test("dsirSelect ranks target-like documents above off-domain ones") {
    // target vocabulary: cooking; off-domain: legal. The mystery docs
    // reuse one or the other vocabulary — DSIR must rank the
    // cooking-like mystery doc above the legal-like one.
    val cook = "simmer the onion garlic butter sauce then bake the bread"
    val law = "the party hereby agrees to indemnify the aforementioned clause"
    val docs = Seq(
      (0L, cook, "tgt"), (1L, cook + " whisk flour sugar", "tgt"),
      (2L, law, "raw"), (3L, law + " pursuant to the statute", "raw"),
      (4L, "simmer garlic butter sauce bake", "raw"),   // cooking-like
      (5L, "hereby indemnify the clause statute", "raw") // legal-like
    ).toDF("doc_id", "text", "grp")
    val out = Corpus.dsirSelect(docs, col("grp") === "tgt", buckets = 32,
        k = 6)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2)))
      .toMap
    // the cooking-like mystery doc outranks the legal-like one
    assert(out(4L)._1 > out(5L)._1)
    assert(out(4L)._2 < out(5L)._2)
    // and the target docs themselves score above the off-domain docs
    assert(Seq(0L, 1L).map(out(_)._1).min > Seq(2L, 3L).map(out(_)._1).max)
  }

  test("codeScreen: line geometry and alnum-fraction rules, boundary-inclusive") {
    def row(id: Long, text: String) = (id, text)
    val docs = Seq(
      row(1L, "def f():\n    return 1\n"),            // normal code: keep
      row(2L, "x" * 1001 + "\n" * 19),                // 1001-char line: drop
      row(3L, "x" * 1000 + "\n" * 19),                // AT the cutoff: keep
      row(4L, ("y" * 100 + "\n") * 3),                // mean == 75 <= 100: keep
      row(5L, "@#$%! \n" * 50),                       // alnum-poor: drop
      row(6L, "ab@#\n" * 50)                          // alnum == 2/5 >= 1/4: keep
    ).toDF("doc_id", "text")
    val out = Corpus.codeScreen(docs)
      .collect().map(r => r.getLong(0) -> r.getInt(5)).toMap
    assert(out === Map(1L -> 1, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 0, 6L -> 1))
  }

  test("tokenEntropy: exact dyadic cases, zero floor, empty-doc drop") {
    val docs = Seq(
      (1L, "a a b b"),         // uniform over 2 types: H = 1
      (2L, "a a a a"),         // single type: H = 0 exactly
      (3L, "a b c d"),         // uniform over 4 types: H = 2
      (4L, "a a a b"),         // 3/4,1/4: H = 2 - 3/4*log2(3) ≈ 0.8113
      (5L, "")                 // no tokens: no row
    ).toDF("doc_id", "text")
    val out = Corpus.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) === ((4L, 2L, 1.0)))
    assert(out(2L) === ((4L, 1L, 0.0)))
    assert(out(3L) === ((4L, 4L, 2.0)))
    assert(out(4L) === ((4L, 2L, 0.8113)))
    assert(!out.contains(5L) && out.size === 4)
  }

  test("c4Clean: line rules, page rules, and the exactly-3-sentence bar") {
    val good = "This line has at least five words."
    val docs = Seq(
      (1L, s"$good\n$good\n$good"),                  // 3 sentences: keep
      (2L, s"$good\n$good"),                         // 2 sentences: drop
      (3L, s"$good\nshort one.\n$good\n$good"),      // <5-word line cut
      (4L, s"$good\nno terminal punctuation here on this line\n$good\n$good"),
      (5L, s"$good\nEnable Javascript to view this content now.\n$good\n$good"),
      (6L, s"$good\n$good\n$good\nlorem IPSUM"),     // page drop, any case
      (7L, s"$good\n$good\n$good\nvar x = {"),       // page drop: brace
      (8L, "He said \"stop right there please now!\"\n" + s"$good\n$good")
    ).toDF("doc_id", "text")
    val out = Corpus.c4Clean(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(6) === 1)
    assert(out(2L).getInt(6) === 0 && out(2L).getString(5) === "")
    // the short / unpunctuated / javascript lines are cut but the page
    // still clears the 3-sentence bar on its surviving lines
    for (id <- Seq(3L, 4L, 5L)) {
      assert(out(id).getLong(2) === 3L, s"doc $id kept lines")
      assert(out(id).getInt(6) === 1, s"doc $id keep")
      assert(!out(id).getString(5).toLowerCase.contains("javascript"))
    }
    assert(out(6L).getInt(6) === 0 && out(7L).getInt(6) === 0)
    // closing-quote terminal punctuation counts as a line ending
    assert(out(8L).getLong(2) === 3L && out(8L).getInt(6) === 1)
  }

  test("ccnetBuckets: per-lang integer terciles, tie groups never split") {
    // lang a: 6 docs, scores 60,50,40,30,20,10 -> clean thirds
    // lang b: 4 docs, scores 9,9,9,1 -> the 3-way tie at the head
    //   crosses both thresholds but must land whole in 'head'
    val rows = Seq(
      (1L, "a", 60L), (2L, "a", 50L), (3L, "a", 40L),
      (4L, "a", 30L), (5L, "a", 20L), (6L, "a", 10L),
      (7L, "b", 9L), (8L, "b", 9L), (9L, "b", 9L), (10L, "b", 1L)
    ).toDF("doc_id", "lang", "s")
    val out = Corpus.ccnetBuckets(rows, col("lang"), col("s"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(Seq(1L, 2L).map(out) === Seq("head", "head"))
    assert(Seq(3L, 4L).map(out) === Seq("middle", "middle"))
    assert(Seq(5L, 6L).map(out) === Seq("tail", "tail"))
    assert(Seq(7L, 8L, 9L).map(out).distinct === Seq("head"))
    // 10's clt=3, n=4: 9 >= 8 -> tail
    assert(out(10L) === "tail")
  }

  test("aucExact: perfect, inverted, tied, and one-class cases") {
    def auc(rows: Seq[(Long, Int)]): org.apache.spark.sql.Row =
      Corpus.aucExact(rows.toDF("s", "pos"), col("s"), col("pos") === 1)
        .collect().head
    val perfect = auc(Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1)))
    assert((perfect.getLong(0), perfect.getLong(1)) === ((2L, 2L)))
    assert(perfect.getDouble(2) === 1.0)
    assert(auc(Seq((1L, 1), (2L, 1), (3L, 0))).getDouble(2) === 0.0)
    // tie at s=1 counts half: pairs (pos1,neg1)=0.5, (pos2,neg1)=1 -> 0.75
    assert(auc(Seq((1L, 0), (1L, 1), (2L, 1))).getDouble(2) === 0.75)
    // one-class input: AUC undefined -> null
    assert(auc(Seq((1L, 1), (2L, 1))).isNullAt(2))
  }

  test("gumbelTopK: deterministic, weight-dominant, and temperature-aware") {
    // a log-weight gap of 50 dwarfs any Gumbel draw (|g| < ~22 at the
    // hash-uniform's 2^-31 floor) — doc 0 must always win at T=1
    val weighted = (0L to 19L)
      .map(i => (i, if (i == 0L) 50.0 else 0.0)).toDF("doc_id", "weight")
    val a = Corpus.gumbelTopK(weighted, k = 5).collect()
    val b = Corpus.gumbelTopK(weighted, k = 5).collect()
    assert(a.toSeq === b.toSeq)                   // hash-seeded: replayable
    assert(a.head.getLong(0) === 0L && a.head.getInt(2) === 1)
    // at a huge temperature the weights flatten to ~0 and the sample is
    // driven by the (weight-independent) noise alone — so doubling every
    // weight changes nothing
    val hot = Corpus.gumbelTopK(weighted, k = 5, temperature = 1e9)
      .select("doc_id").as[Long].collect().toSet
    val hot2 = Corpus.gumbelTopK(
      weighted.withColumn("weight", col("weight") * 2), k = 5,
      temperature = 1e9).select("doc_id").as[Long].collect().toSet
    assert(hot === hot2)
  }

  test("gopherScreen keeps documents exactly AT the published cutoffs " +
    "(Rae et al. remove only when a ratio EXCEEDS its threshold)") {
    def keepOf(text: String): Int =
      Corpus.gopherScreen(Seq((1L, text)).toDF("doc_id", "text"),
        minWords = 10).select("keep").as[Int].collect().head
    // symbol-to-word ratio: 1 '#' over 10 words == 0.1 → keep; 2 → drop
    val symBase = "the and have with that more words here also"
    assert(keepOf(s"$symBase word#") === 1)
    assert(keepOf(s"$symBase word##") === 0)
    // bullet lines: 9 of 10 == 0.9 → keep; 10 of 10 → drop
    val bullet = "- the and have with"
    val plain = "plain words here too"
    assert(keepOf((Seq.fill(9)(bullet) :+ plain).mkString("\n")) === 1)
    assert(keepOf(Seq.fill(10)(bullet).mkString("\n")) === 0)
    // ellipsis lines: 3 of 10 == 0.3 → keep; 4 of 10 → drop
    val ell = "the and have with..."
    val noEll = "the and have with"
    assert(keepOf((Seq.fill(3)(ell) ++ Seq.fill(7)(noEll))
      .mkString("\n")) === 1)
    assert(keepOf((Seq.fill(4)(ell) ++ Seq.fill(6)(noEll))
      .mkString("\n")) === 0)
    // alphabetic words: 8 of 10 == 0.8 → keep; 7 of 10 → drop
    assert(keepOf("the and have with that 123 456 word more here") === 1)
    assert(keepOf("the and have with that 123 456 789 more here") === 0)
  }

  test("powerHistogram: windowed distinct days, anchored, ppm shares") {
    import java.sql.Timestamp
    def ts(day: Int, h: Int = 1) =
      Timestamp.valueOf(f"2024-03-$day%02d $h%02d:00:00")
    // anchor = day 28; window 28 covers days 1..28
    val events = Seq(
      (1L, ts(28)), (1L, ts(28, 5)), (1L, ts(27)), (1L, ts(26)), // u1: 3 days
      (2L, ts(28)),                                              // u2: 1 day
      (3L, ts(10)), (3L, ts(20)), (3L, ts(25)),                  // u3: 3 days
      (4L, ts(1))                                                // u4: 1 day (in)
    ).toDF("user_id", "ts")
    val rows = Sessions.powerHistogram(events)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(3L) === ((2L, 500000L)))  // u1, u3
    assert(rows(1L) === ((2L, 500000L)))  // u2, u4
    assert(rows.size === 2)
    // a user entirely OUTSIDE the trailing window disappears (and the
    // shares renormalize over in-window users only)
    val feb = events.union(Seq((5L, Timestamp.valueOf("2024-01-05 01:00:00")))
      .toDF("user_id", "ts"))
    val rows2 = Sessions.powerHistogram(feb)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(rows2 === Map(3L -> 2L, 1L -> 2L))
  }

  test("bigramNll: seen-everywhere bigrams score low, novel ones high") {
    // doc 1 repeats the corpus's dominant bigram; doc 3 is the one
    // place "q r" appears — its smoothed probability is far lower
    val docs = Seq(
      (1L, "x y x y x y"),
      (2L, "x y x y"),
      (3L, "q r")
    ).toDF("doc_id", "text")
    val out = Corpus.bigramNll(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 === 5L && out(2L)._2 === 3L && out(3L)._2 === 1L)
    assert(out(1L)._3 < out(3L)._3)
    // hand check doc 3: c("q r")=1, c1("q")=1, V=4 → P = 2/5,
    // nll = -ln(0.4) = 0.9163
    assert(out(3L)._3 === 0.9163)
    // doc 1's "x y" hops: P = (5+1)/(5+4) = 2/3; "y x": (3+1)/(3+4) =
    // 4/7; nll = (3·ln(3/2) + 2·ln(7/4))/5
    val exp = BigDecimal((3 * math.log(1.5) + 2 * math.log(7.0 / 4)) / 5)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out(1L)._3 - exp) < 2e-4)
  }

  test("holtForecast: hand-traced level/trend recurrence") {
    import java.sql.Timestamp
    def ts(day: Int) = Timestamp.valueOf(f"2024-04-$day%02d 01:00:00")
    // counts per day: 1, 2, 3, 4 (one event type) — hand trace with
    // α = β = 1/2: l: 1, 1.5, 2.375, 3.46875; b: 0, 0.25, 0.5625,
    // 0.828125; forecast = 4.296875
    val events = (1 to 4).flatMap(d =>
      (1 to d).map(i => (d * 100L + i, ts(d), "a")))
      .toDF("event_id", "ts", "event_type")
    val out = Sessions.holtForecast(events)
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(out === (("a", 4L, 3.46875, 0.828125, 4.296875)))
  }

  test("basketRules: hand-checked support/confidence/lift, both ways") {
    // 4 baskets: {1,2} {1,2} {1,3} {3}
    val b = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 3L), (13L, 3L)).toDF("basket_id", "item")
    val out = Sessions.basketRules(b)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    val byRule = out.map(r => (r._1, r._2) -> r).toMap
    // rule 2→1: n_ab=2, support 2/4, conf 2/2 = 1.0, lift 2·4/(2·3)
    assert(byRule((2L, 1L)) === ((2L, 1L, 2L, 500000L, 1.0, 1.333333)))
    // rule 1→2: conf 2/3, lift identical (symmetric)
    assert(byRule((1L, 2L)) === ((1L, 2L, 2L, 500000L, 0.666667, 1.333333)))
    // the {1,3} pair appears once — under the min-support floor
    assert(!byRule.contains((1L, 3L)) && !byRule.contains((3L, 1L)))
    assert(out.length === 2)
    // ranking: equal lift ties break on (antecedent, consequent)
    assert(out.map(r => (r._1, r._2)).toSeq === Seq((1L, 2L), (2L, 1L)))
  }

  test("sourceKl: conforming sources near 0, divergent source apart") {
    // a and b share the corpus distribution; c is disjoint-vocabulary
    val docs = Seq(
      (1L, "x x x y y z", "a"), (2L, "x x x y y z", "b"),
      (3L, "q q q q r r", "c")
    ).toDF("doc_id", "text", "source")
    val kl = Corpus.sourceKl(docs).as[(String, Double)].collect().toMap
    assert(kl.keySet === Set("a", "b", "c"))
    // KL is non-negative and symmetric sources score identically
    assert(kl.values.forall(_ >= 0.0))
    assert(kl("a") === kl("b"))
    // the off-distribution source diverges far beyond the conformers
    assert(kl("c") > kl("a") * 3 && kl("c") > 0.2)
    assert(kl("a") < 0.2)
  }

  test("r14 topNgramFracs: hand-counted CHARACTER fractions (the " +
      "statistic the published thresholds are defined over), short " +
      "docs keep") {
    // 24 distinct 2-char tokens: every n-gram unique, so top-n char
    // share = (2n + n−1)/71 — all under the thresholds
    val unique = ('a' to 'x').map(c => s"$c$c").mkString(" ")
    val docs = Seq(
      // tokens [a,b]×3, doc chars 11; top bigram "a b" (c=3, 3 chars)
      // → 1000000·9 div 11 = 818181 → drop (> 0.20)
      (1L, "a b a b a b"),
      (2L, unique),
      (3L, "one"),            // < 2 tokens → all 0, keep
      (4L, "x y x y z")       // "x y" ×2 of 9 chars → 6/9 → 666666
    ).toDF("doc_id", "text")
    val out = Corpus.topNgramFracs(docs)
      .as[(Long, Long, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L)._1 === 818181L && out(1L)._4 === 0)
    // doc 2: dl = 24·2 + 23 = 71; top2 = 5/71 → 70422; top3 = 8/71 →
    // 112676; top4 = 11/71 → 154929 — all under 0.20/0.18/0.16 → keep
    assert(out(2L) === ((70422L, 112676L, 154929L, 1)))
    assert(out(3L) === ((0L, 0L, 0L, 1)))
    assert(out(4L)._1 === 666666L && out(4L)._4 === 0)
    // trigram check for doc 1: "a b a" 2×, "b a b" 2× (tie → same gl 5)
    // → 1000000·2·5 div 11 = 909090; overlapping 4-grams ("a b a b" 2×,
    // gl 7) exceed 10⁶ by design: 1272727
    assert(out(1L)._2 === 909090L)
    assert(out(1L)._3 === 1272727L)
  }

  test("r14 dupLineStats: repeat lines and their characters as exact " +
      "ppm; unique docs and empty docs keep") {
    val docs = Seq(
      // 4 lines, "abc" ×3: 2 repeat lines of 4 → dup_line = 500000;
      // chars: tot = 3·3 + 2 = 11, dup = 2·3 = 6 → 545454 → drop
      (1L, "abc\nabc\nabc\nzz"),
      (2L, "one\ntwo\nthree"),             // all unique → 0/0, keep
      (3L, ""),                            // one empty line, 0 chars → keep
      // repeats of the EMPTY line count as lines but carry 0 chars:
      // 3 lines ("x", "", ""), dup_lines 1 → 333333 → drop (>0.30);
      // dup chars 0 → char ppm 0
      (4L, "x\n\n")
    ).toDF("doc_id", "text")
    val out = Corpus.dupLineStats(docs)
      .as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((500000L, 545454L, 0)))
    assert(out(2L) === ((0L, 0L, 1)))
    assert(out(3L) === ((0L, 0L, 1)))
    assert(out(4L) === ((333333L, 0L, 0)))
  }

  test("r14 dupNgramFracs: chars in >1-occurrence n-grams as ppm, " +
      "per-n thresholds; short docs keep") {
    // 12 tokens [a b c d e] + [a b c d e] + [q r]: every 5-gram that
    // repeats is "a b c d e" (positions 1 and 6? no — overlap check):
    // grams of n=5 at i=1..8: "a b c d e"(1), "b c d e a"(2),
    // "c d e a b"(3), "d e a b c"(4), "e a b c d"(5), "a b c d e"(6),
    // "b c d e q"(7), "c d e q r"(8) → "a b c d e" ×2 (9 chars) →
    // dup5 = 2·9 = 18 of dl = 23 → 782608 → drop at n=5
    val rep = "a b c d e a b c d e q r"
    val docs = Seq(
      (1L, rep),
      (2L, ('a' to 'x').map(c => s"$c$c").mkString(" ")), // unique → keep
      (3L, "just four small words")                       // <5 tokens → keep
    ).toDF("doc_id", "text")
    val out = Corpus.dupNgramFracs(docs)
      .as[(Long, Long, Long, Long, Long, Long, Long, Int)].collect()
      .map(r => r._1 ->
        ((r._2, r._3, r._4, r._5, r._6, r._7, r._8))).toMap
    assert(out(1L)._1 === 782608L)
    // n=6: "a b c d e a" ... the repeated 6-grams: window (1) vs (6)?
    // grams at 1..7 — none repeat except none: all distinct → 0
    assert(out(1L)._2 === 0L)
    assert(out(1L)._7 === 0)                // dropped at n=5
    assert(out(2L) === ((0L, 0L, 0L, 0L, 0L, 0L, 1)))
    assert(out(3L) === ((0L, 0L, 0L, 0L, 0L, 0L, 1)))
  }

  test("r14 specialTokenScreen: control-token leaks count per family; " +
      "HTML-ambiguous <s>/</s> need an unambiguous co-occurrence") {
    val docs = Seq(
      (1L, "plain prose with no markers at all"),
      (2L, "chat dump <|im_start|>user hi<|im_end|> <|im_start|>x"),
      (3L, "sp tokens <s>seq</s> plus <unk> and <pad>"),
      (4L, "llama [INST] q [/INST] answer"),
      (5L, "lookalikes: < s > <|endoftext |> [INST without close"),
      (6L, "double <|endoftext|><|endoftext|>"),
      // r14 (advisor): residual HTML strikethrough with NO control
      // family present — <s>/</s> alone neither count nor flag
      (7L, "big <s>sale</s> now, html not yet stripped")
    ).toDF("doc_id", "text")
    val out = Corpus.specialTokenScreen(docs)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((0L, 0)))
    assert(out(2L) === ((3L, 1)))  // two im_start + one im_end
    assert(out(3L) === ((4L, 1)))  // <unk>+<pad> unlock the <s>/</s> pair
    assert(out(4L) === ((2L, 1)))
    assert(out(5L) === ((0L, 0)))  // near-misses never flag
    assert(out(6L) === ((2L, 1)))
    assert(out(7L) === ((0L, 0)))
  }

  test("r14 unigramLm: hand-checked seed counts, micro-nat Viterbi " +
      "decides segmentations deterministically, pruning ties break by " +
      "piece order, chars always survive") {
    // corpus "ab ab abab": words ab(2), abab(1); seed substrings
    // a:4 b:4 ab:4 ba:1 aba:1 bab:1 abab:1 (occurrence-weighted)
    val docs = Seq((1L, "ab ab abab")).toDF("doc_id", "text")
    val out = Corpus.unigramLm(docs, emRounds = 2, vocabCap = 10,
        maxLen = 8, maxPiece = 4, seedCap = 10, vocabSize = 3)
      .as[(String, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.keySet === Set("a", "b", "ab", "ba", "aba", "bab", "abab"))
    assert(out.view.mapValues(_._1).toMap === Map("a" -> 4L, "b" -> 4L,
      "ab" -> 4L, "ba" -> 1L, "aba" -> 1L, "bab" -> 1L, "abab" -> 1L))
    // Viterbi: "ab" → [ab]; "abab" → [ab, ab] beats [abab] by exactly
    // one micro-nat (2·r6(ln(4/16)) = -2772588 > r6(ln(1/16)) =
    // -2772589) — the integer DP decides, no float compare anywhere
    assert(out("ab")._2 === 4L)
    assert((out("abab")._2, out("a")._2, out("b")._2) === ((0L, 0L, 0L)))
    // pruning to vocabSize 3: ab (count 4) then the count-0 tie breaks
    // by piece ASC ("a" < "aba" < "abab" < …); chars a/b forced kept
    assert(out.view.mapValues(_._3).toMap === Map("ab" -> 1, "a" -> 1,
      "aba" -> 1, "b" -> 1, "abab" -> 0, "ba" -> 0, "bab" -> 0))
  }

  test("r14 unigramFertility: the pruned model segments the whole " +
      "corpus — kept pieces win, out-of-vocab chars price as UNK") {
    // vocabCap 2 keeps {ab, abab} for training (ties break by word:
    // 'abab' < 'xq'), so 'xq' trains nothing and x/q are OOV chars
    val docs = Seq((1L, "en", "ab ab abab"), (2L, "fr", "xq"))
      .toDF("doc_id", "lang", "text")
    val out = Corpus.unigramFertility(docs, emRounds = 2, vocabCap = 2,
        maxLen = 8, maxPiece = 4, seedCap = 10, vocabSize = 3)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // en: ab → [ab] (1 piece) twice, abab → [ab, ab] (2) → 4/3
    assert(out("en") === ((3L, 4L, 1.3333)))
    // fr: xq segments as two UNK chars → 2/1
    assert(out("fr") === ((1L, 2L, 2.0)))
    // threshold 0 forces the DISTRIBUTED unrolled-DP path — must be
    // label-identical to the driver Viterbi kernel (the bounded-probe
    // discipline's spec-forced fallback)
    val rel = Corpus.unigramFertility(docs, emRounds = 2, vocabCap = 2,
        maxLen = 8, maxPiece = 4, seedCap = 10, vocabSize = 3,
        localThreshold = 0)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rel === out)
  }

  test("r14 htmlStrip: script/style/comment contents drop, tags become " +
      "spaces, entities single-decode (&amp; last), counters exact") {
    val docs = Seq(
      (1L, "<html><body><p>Hello <b>world</b></p>" +
        "<script>var x = 1 < 2;</script></body></html>"),
      (2L, "a &amp;lt; b &quot;q&quot; &nbsp;c &amp; d"),
      (3L, "no markup at all"),
      (4L, "<style>p { color: red }</style><!-- hidden -->visible")
    ).toDF("doc_id", "text")
    val out = Corpus.htmlStrip(docs)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // script CONTENT gone (the 1 < 2 must not leak); 8 surviving tags
    // (html body p b /b /p /body /html — the script pair went with its
    // block)
    assert(out(1L)._1 === "Hello world")
    assert(out(1L)._2 === 8L)
    // &amp;lt; single-decodes to the literal &lt; — never to '<'
    assert(out(2L)._1 === "a &lt; b \"q\" c & d")
    assert(out(2L)._3 === 5L) // 2×amp + 2×quot + nbsp
    assert(out(3L) === (("no markup at all", 0L, 0L, 1000000L)))
    // style + comment contents drop entirely
    assert(out(4L)._1 === "visible")
    // kept ratio: doc 1 keeps 11 of 86 chars → 127906 ppm
    assert(out(1L)._4 === 1000000L * 11 / docs.collect()
      .find(_.getLong(0) == 1L).get.getString(1).length)
  }

  test("r13 psiDrift: conforming sources score ~0, a shifted length " +
      "distribution crosses the 0.25 drifted threshold") {
    // a and b share the corpus's length mix (octaves 4 and 7);
    // c sits entirely in octave 10 — a hard distribution shift
    val short = "x" * 10          // bin length 4
    val mid = "y" * 100           // bin length 7
    val long = "z" * 600          // bin length 10
    // c stays a small slice of the corpus — PSI compares a source
    // against the whole mix, so a dominant shifted segment would drag
    // the conformers' scores up too (the monitor's own semantics)
    val docs = (
      (1L to 20L).map(i => (i, if (i % 2 == 0) short else mid, "a")) ++
      (21L to 40L).map(i => (i, if (i % 2 == 0) short else mid, "b")) ++
      (41L to 44L).map(i => (i, long, "c"))
    ).toDF("doc_id", "text", "source")
    val out = Corpus.psiDrift(docs).as[(String, Double, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.keySet === Set("a", "b", "c"))
    // PSI ≥ 0 everywhere; identical sources score identically
    assert(out.values.forall(_._1 >= 0.0))
    assert(out("a") === out("b"))
    // conformers sit under the 0.1 stability rule-of-thumb, the
    // shifted source alarms past 0.25
    assert(out("a")._1 < 0.1 && out("a")._2 === 0)
    assert(out("c")._1 >= 0.25 && out("c")._2 === 1, s"got ${out("c")}")
  }

  test("zipfSlope: exact-power-law corpus fits slope -1") {
    // term t_r appears round(64/r) times for r = 1..8 — frequencies on
    // an exact f = 64/r power law, so the log-log fit slope is ≈ −1
    val words = (1 to 8).flatMap(r =>
      Seq.fill(math.round(64.0 / r).toInt)(s"w$r"))
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val out = Corpus.zipfSlope(docs).as[(Long, Double)].collect().head
    assert(out._1 === 8L)
    assert(math.abs(out._2 + 1.0) < 0.02, s"slope ${out._2}")
    // a flat (uniform) corpus fits slope 0
    val flat = Seq((1L, (1 to 8).flatMap(r =>
      Seq.fill(10)(s"u$r")).mkString(" "))).toDF("doc_id", "text")
    val f = Corpus.zipfSlope(flat).as[(Long, Double)].collect().head
    assert(f._2 === 0.0)
  }

  test("pmiPairs: perfectly coupled pair tops independent pairs at 0") {
    // x and y co-occur in exactly the 5 docs where either appears;
    // a and b appear everywhere — pmi(x,y) = ln(5·10/25) = ln 2,
    // every pair involving a ubiquitous term = ln 1 = 0
    val docs = ((1L to 5L).map(i => (i, "a b x y")) ++
      (6L to 10L).map(i => (i, "a b"))).toDF("doc_id", "text")
    val out = Corpus.pmiPairs(docs)
      .as[(String, String, Long, Double)].collect()
    assert(out.head === (("x", "y", 5L, 0.6931)))
    assert(out.length === 6)
    assert(out.tail.forall(_._4 === 0.0))
    // tie group after the winner is lexically ordered
    assert(out.tail.map(p => (p._1, p._2)).toSeq ===
      Seq(("a", "b"), ("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")))
    // df gate: a term under the 10% document-frequency floor never pairs
    val rare = docs.union(Seq((11L, "zz")).toDF("doc_id", "text"))
    val out2 = Corpus.pmiPairs(rare, minDfPct = 20)
      .as[(String, String, Long, Double)].collect()
    assert(!out2.exists(p => p._1 == "zz" || p._2 == "zz"))
  }

  test("qualityChecks: per-rule ppm metrics and exact pass/fail verdicts") {
    import graft.pipeline.Checks
    // 4 docs: one duplicate id, one empty text, one n_chars mismatch,
    // one off-list lang, one short text — every doc rule decides both ways
    val docs = Seq(
      (1L, "x" * 100, 100, "en"),
      (1L, "y" * 100, 100, "de"),   // dup id
      (2L, "", 0, "en"),            // empty text (completeness fail)
      (3L, "z" * 50, 99, "xx")      // short + n_chars wrong + bad lang
    ).toDF("doc_id", "text", "n_chars", "lang")
    val events = Seq(
      (10L, 5.0, "view"),
      (11L, 250.0, "click"),        // value out of range
      (12L, 50.0, "scroll")         // off-list type
    ).toDF("event_id", "value", "event_type")
    val out = Checks.qualityChecks(docs, events)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getInt(3))).toMap
    assert(out(("documents", "doc_id_unique")) === ((750000L, 0)))   // 3/4
    assert(out(("documents", "text_complete")) === ((750000L, 0)))   // 3/4
    assert(out(("documents", "n_chars_consistent")) === ((750000L, 0)))
    assert(out(("documents", "lang_accepted")) === ((750000L, 0)))
    assert(out(("documents", "text_min_len_100")) === ((500000L, 0)))// 2/4
    assert(out(("events", "event_id_unique")) === ((1000000L, 1)))
    assert(out(("events", "value_in_range")) === ((666666L, 0)))     // 2/3
    assert(out(("events", "type_accepted")) === ((666666L, 0)))
    assert(out.size === 8)
  }

  test("mojibakeScreen counts marker classes and quarantines by ppm") {
    val docs = Seq(
      (1L, "perfectly clean ascii text of reasonable length here"),
      (2L, "cafÃ© naÃ¯ve"),                 // two double-UTF-8 markers
      (3L, "itâ€™s â€œquotedâ€"),          // three CP1252 markers
      (4L, "bad��decode"),        // two replacement chars
      (5L, "")).toDF("doc_id", "text")
    val out = Corpus.mojibakeScreen(docs, col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(out(1L) === ((0L, 0L, 0L, 0L, "clean")))
    assert(out(2L)._2 === 2L)              // n_double_utf8
    assert(out(2L)._5 === "quarantine")    // 2*2e6/11 ppm >> 2000
    assert(out(3L)._3 === 3L)              // n_cp1252
    assert(out(4L) === ((2L, 0L, 0L,
      1000000L * 8 / "bad��decode".length, "quarantine")))
    assert(out(5L) === ((0L, 0L, 0L, 0L, "clean"))) // empty: no div-by-0
  }
  test("bpeMerges: greedy left-to-right non-overlap (aaaa → aa|aa), " +
      "count-weighted argmax with lexicographic ties") {
    // vocab: "aaaa" ×2 (run-of-equals case), "banana" ×1
    val docs = Seq((1L, "aaaa aaaa banana")).toDF("doc_id", "text")
    val out = graft.pipeline.Corpus.bpeMerges(docs, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1)
    // round 1: (a,a) appears 3× per "aaaa" × cnt 2 = 6 — and the merge
    // must produce [aa, aa], NOT [aa, a, a] (greedy non-overlap)
    assert(out(0) === ((1, "a", "a", 6L)))
    // round 2: (a,n), (n,a) and the new (aa,aa) all count 2 — the
    // lexicographic (lhs, rhs) tie-break picks (a,n)
    assert(out(1) === ((2, "a", "n", 2L)))
    // round 3: (aa,aa) at 2 beats banana's singleton pairs — which
    // PROVES round 1 merged both aa pairs (an overlap bug would leave
    // [aa, a, a] and no (aa,aa) pair at all)
    assert(out(2) === ((3, "aa", "aa", 2L)))
  }

  test("r14 wordpieceMerges: likelihood argmax beats raw frequency, " +
      "ppb ties break lexicographic; BPE on the same corpus differs") {
    // (q,z): n=4 but u_q = u_z = 4 → 4e9/16 = 250,000,000 ppb wins
    // round 1 over the 45-count pairs (45e9/4950 = 9,090,909 ppb).
    // Round 2: (b,x) ties (x,a) at 9,090,909 → lexicographic (b,x).
    // Round 3: (a,b) 10e9/550 ties (x,a) 45e9/2475 at 18,181,818 →
    // lexicographic (a,b).
    val text = (Seq.fill(10)("ab") ++ Seq.fill(45)("xa") ++
      Seq.fill(45)("bx") ++ Seq.fill(4)("qz")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val out = graft.pipeline.Corpus.wordpieceMerges(docs, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(out(0) === ((1, "q", "z", 4L, 250000000L)))
    assert(out(1) === ((2, "b", "x", 45L, 9090909L)))
    assert(out(2) === ((3, "a", "b", 10L, 18181818L)))
    // BPE's frequency argmax picks a 45-count pair first — the
    // likelihood criterion is the whole observable difference
    val bpe = graft.pipeline.Corpus.bpeMerges(docs, rounds = 1)
      .collect().head
    assert((bpe.getString(1), bpe.getString(2)) === (("b", "x")))
  }

  test("trainQualityClassifier: GD moves weights toward the label " +
      "correlation and improves training accuracy over round 0") {
    // 30 clean docs (alpha-heavy, stopword-bearing, mid-length → y=1)
    // and 30 junk docs (digit-heavy, short → y=0)
    val clean = (0 until 30).map(i => (i.toLong,
      "the quick brown fox jumps over the lazy dog in a calm field " * 4))
    val junk = (0 until 30).map(i => (100L + i,
      "0101 9988 7766 5544 3322 1100 !!!"))
    val docs = (clean ++ junk).toDF("doc_id", "text")
    val w = graft.pipeline.Corpus.trainQualityClassifier(docs, rounds = 3)
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
    // labels: clean docs pass the composite, junk fails — check split
    import graft.functions.TextFunctions
    val f = docs.select(
      TextFunctions.alphaRatio(col("text")).as("x1"),
      TextFunctions.stopwordRatio(col("text")).as("x2"),
      org.apache.spark.sql.functions.round(
        least(length(col("text")), lit(2000)).cast("double") / 2000, 4).as("x3"),
      (TextFunctions.qualityScore(col("text")) >= 0.5).cast("int").as("y"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getInt(3)))
    assert(f.count(_._4 == 1) == 30 && f.count(_._4 == 0) == 30,
      "fixture must split 30/30 on the weak label")
    // trained model must classify better than the zero model (acc 0.5
    // at p = 0.5 counts as predicting 1 for everyone → acc 1/2)
    val acc = f.count { case (x1, x2, x3, y) =>
      val m = w(0) + w(1) * x1 + w(2) * x2 + w(3) * x3
      (if (m >= 0) 1 else 0) == y
    }.toDouble / f.length
    assert(acc >= 0.9, s"trained accuracy $acc below 0.9; w=${w.toSeq}")
    // alpha ratio correlates positively with the label: w1 > 0
    assert(w(1) > 0, s"expected positive alpha-ratio weight, got ${w.toSeq}")
  }

  test("bpeFertility: applied merges reduce fertility vs characters, " +
      "and OOV-of-vocab words still merge (application is exact)") {
    val docs = Seq(
      (1L, "aa aa aa aa aa aa bb bb bb bb"),   // head vocab: aa, bb
      (2L, "aabb" * 1)).toDF("doc_id", "text") // rare word, not in top pairs' training? still merges
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    val out = graft.pipeline.Corpus.bpeFertility(docs, rounds = 2,
      vocabCap = 2, maxLen = 12)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.length === 1 && out(0)._1 == "en")
    val (_, nw, ns, f) = out(0)
    assert(nw === 11L)
    // with (a,a) and (b,b) learned, "aa"→1 sym, "bb"→1 sym, "aabb"→2
    assert(ns === 12L, s"expected 12 subwords, got $ns (fertility $f)")
  }

  test("kaplanMeier: censored users stay at risk, never convert; " +
      "hazards are exact integer ppm") {
    def d(day: Int) = java.sql.Timestamp.valueOf(f"2026-01-$day%02d 10:00:00")
    // u1 converts at t=1, u2 at t=3, u3 NEVER (censored at horizon
    // day 5, duration 4), u4 converts at t=1
    val ev = Seq(
      (1L, d(1), 1L, "view", 0.0, ""), (2L, d(2), 1L, "purchase", 1.0, ""),
      (3L, d(1), 2L, "view", 0.0, ""), (4L, d(4), 2L, "purchase", 1.0, ""),
      (5L, d(1), 3L, "view", 0.0, ""), (6L, d(5), 3L, "view", 0.0, ""),
      (7L, d(2), 4L, "view", 0.0, ""), (8L, d(3), 4L, "purchase", 1.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Sessions.kaplanMeier(ev, "purchase")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    // durations: u1 t=1 conv, u4 t=1 conv, u2 t=3 conv, u3 t=4 censored
    // t=1: at risk 4 (everyone), 2 convert → hazard 500000 ppm
    // t=3: at risk 2 (u2, u3), 1 converts → 500000 ppm
    // t=4 has no conversions (censoring only) → no row
    assert(out.toSeq === Seq((1L, 4L, 2L, 500000L), (3L, 2L, 1L, 500000L)))
  }

}
