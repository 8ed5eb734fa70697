package graft.queries

import graft.Tables
import graft.operators.{Events, Records, Transform}
import graft.text.{Classifier, LangModel, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis (ta1–ta4) and event-analytics (e1–e3) query surface
  * (SURVEY.md §2).
  */
object TextEvents {

  // ---- Text analysis ----

  def ta1Tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.nTokens(col("text")).as("n_tokens"),
        TextAnalysis.nWordTokens(col("text")).as("n_word_tokens"))
      .orderBy("doc_id")

  def ta2Quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.avgTokenLen(col("text")).as("avg_token_len"))
      .orderBy("doc_id")

  def ta3LangId(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.langScore(t, TextAnalysis.LangMarkers(0)._2).as("en_score"),
        TextAnalysis.langScore(t, TextAnalysis.LangMarkers(1)._2).as("de_score"),
        TextAnalysis.langScore(t, TextAnalysis.LangMarkers(2)._2).as("es_score"),
        TextAnalysis.langScore(t, TextAnalysis.LangMarkers(3)._2).as("fr_score"),
        TextAnalysis.predictedLang(t).as("predicted_lang"),
        col("lang"))
      .orderBy("doc_id")
  }

  def ta4Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = Transform.normalizeText(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.fingerprintMd5(norm).as("fp_md5"),
        TextAnalysis.fingerprintShingleMin(norm).as("fp_shingle_min"))
      .orderBy("doc_id")
  }

  /** ta13: vocabulary-health stats per language — token count, type
    * (distinct-token) count, and hapax count (types seen once): the
    * type-token-ratio / hapax-share corpus diagnostics that flag
    * template spam (TTR collapses) or OCR noise (hapax share
    * explodes). One token-count shuffle feeds all three; ALL-INTEGER
    * outputs (ratios are the reader's division — no float parity
    * surface at all). */
  def ta13VocabStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(sum("n").as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when(col("n") === 1, 1)).as("n_hapax"))
      .orderBy("lang")

  /** ta14: character-distribution Shannon entropy — the OCR-garbage /
    * binary-noise quality signal (text/TextAnalysis.charEntropyQ:
    * 28 replace-length counts, per-term quantized ln, map-only — NO
    * explode, NO shuffle; at 100 TB this runs at scan speed). ALL-
    * INTEGER output: s_q is the quantized ln-sum, ent_q4 the 4-dp
    * entropy in 1e-4 nats computed by half-up INTEGER division
    * ((−s_q + n·50) div (n·100)) — positive int div floors
    * identically in every engine, immune to the .5-decimal-boundary
    * float-round divergence that bit ta10 in r5. */
  def ta14CharEntropy(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.charEntropyQ(
        Tables.documents(spark, dir).select("doc_id", "text"), col("text"))
      .select("doc_id", "n_len", "s_q")
      .withColumn("ent_q4",
        when(col("n_len") > 0,
          expr("(-s_q + n_len * 50) div (n_len * 100)")).otherwise(0L))
      .orderBy("doc_id")

  /** ta15: n-gram novelty — per document, how many of its distinct
    * 3-shingles are corpus-UNIQUE (df = 1): the diversity/novelty
    * signal data curation uses to up-weight fresh content and spot
    * template spam (novelty collapses). ALL-INTEGER output
    * (n_shingles, n_unique — the ratio is the reader's division).
    * Plan: the d2 JVM shingle UDF (hashed, distinct) explodes
    * map-side; ONE df count shuffle on the uniform 32-bit shingle
    * hash; the join back to the exploded stream is hash-keyed and
    * skew-free by construction. The exploded frame feeds both
    * branches of one execution (lazy localCheckpoint per the
    * single-plan multi-read rule). */
  def ta15Novelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.dedup.Dedup.hashedShingles(col("text"))).as("h"))
      .localCheckpoint(false)
    val dfs = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(dfs, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") === 1, 1)).as("n_unique"))
      .orderBy("doc_id")
  }

  /** ta5: corpus n-gram statistics — top-5 tokens per language by
    * frequency (explode → count → windowed top-k; at scale the
    * count is the only real shuffle and TopKPerKey replaces the
    * window). */
  def ta5NgramFreq(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokens = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("token"))
    val counts = tokens.groupBy("lang", "token").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("token").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank").cast("int").as("rank"), col("token"), col("n"))
      .orderBy("lang", "rank")
  }

  /** ta6: quality gate — keep/drop + audit reasons per document. */
  def ta6QualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val (keep, reasons) = TextAnalysis.qualityGate(col("text"),
      minTokens = 20, maxTokens = 500,
      minAvgTokLen = 3.0, maxAvgTokLen = 12.0, maxPunctRatio = 0.1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), keep.as("keep"), reasons.as("reasons"))
      .orderBy("doc_id")
  }

  /** ta7: repetition ratio — the fraction of a document's 3-token
    * shingles that are duplicates (Gopher's repetition signal:
    * boilerplate and degenerate text repeat themselves). distinct
    * shingle count over total shingle positions, both map-only. */
  def ta7Repetition(spark: SparkSession, dir: String): DataFrame = {
    val nTok = TextAnalysis.nTokens(col("text"))
    val total = greatest(nTok - 2, lit(1))
    val distinctSh = size(graft.dedup.Dedup.hashedShingles(col("text")))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        total.cast("long").as("n_shingles"),
        distinctSh.cast("long").as("n_distinct"),
        round(lit(1.0) - distinctSh / total.cast("double"), 4).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** ta8: PII redaction over a corpus with deterministically PLANTED
    * pii (docs have none naturally): every 3rd doc gains an email,
    * every 3rd+1 a phone number — the oracle plants identically, so
    * match counts and the redacted text itself are hash-compared. */
  def ta8Redact(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com now")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(col("text"), lit(" call +1 555 "),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
            lit(" 1234 today")))
        .otherwise(col("text")).as("text"))
    planted.select(col("doc_id"),
        TextAnalysis.nEmails(col("text")).as("n_emails"),
        TextAnalysis.nPhones(col("text")).as("n_phones"),
        TextAnalysis.redactPii(col("text")).as("redacted"))
      .orderBy("doc_id")
  }

  /** ta10: hashed linear classifier scoring — a fastText-shaped
    * model-filter pass (256 hashed feature buckets, integer weights,
    * broadcast model, exact long accumulation). */
  def ta10Classifier(spark: SparkSession, dir: String): DataFrame =
    Classifier.score(Tables.documents(spark, dir),
        col("doc_id"), col("text"),
        weights = Classifier.demoWeights(spark, 256), nBuckets = 256)
      .orderBy("doc_id")

  /** ta11: bigram-LM perplexity scoring — each document's average
    * conditional log probability under the corpus's own bigram
    * statistics (the CCNet-style quality signal; ppl = exp(−score)). */
  def ta11Perplexity(spark: SparkSession, dir: String): DataFrame =
    LangModel.bigramLogProb(Tables.documents(spark, dir),
        col("doc_id"), col("text"))
      .orderBy("doc_id")

  /** ta12: heavy hitters per language through the Misra–Gries sketch
    * (graft.plans.FreqSketch) — the custom TypedImperativeAggregate on
    * an ORACLED path: with buffer k=64 ≥ the 31-token fixture
    * vocabulary the sketch provably never decrements, so its
    * estimates ARE the exact counts and the whole query hash-matches
    * the exact SQL. At real scale (vocab ≫ k) the same plan returns
    * the MG approximation whose bounds ScaleSpec proves; the
    * threshold compare is integer (est·100 > n, i.e. tokens above 1%
    * of the language's mass — 10% excluded EVERY token in the
    * near-uniform fixture vocabulary, making the check vacuous),
    * engine-portable. */
  def ta12HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
    toks.groupBy("lang")
      .agg(graft.plans.FreqSketch.freq(col("tok"), 64).as("m"),
        count(lit(1)).as("n"))
      .select(col("lang"), col("n"), explode(col("m")).as(Seq("tok", "est")))
      .filter(col("est") * 100 > col("n"))
      .select("lang", "tok", "est")
      .orderBy("lang", "tok")
  }

  /** ta9: tf-idf keyword extraction — top-3 terms per document by
    * round(tf · ln(N/df), 4), ranked on the ROUNDED score (both
    * engines) with token tiebreak so ordering is deterministic.
    * The df table is tiny (vocabulary) → broadcast; the rank-dropping
    * row_number ≤ k shape is exactly what TopKRewriteRule rewrites
    * into the bounded-heap TopKPerKey operator. */
  def ta9Keywords(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // a driver literal, not a cross-joined one-row aggregate: folding
    // the count into the plan measured no gain and put a nested-loop
    // join and a single-partition exchange in the plan
    val nDocs = docs.count()
    val toks = docs.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
    // single-plan checkpoint (r18): tf feeds BOTH the broadcast df
    // table and the scored join — un-checkpointed, the explode +
    // (doc, tok) aggregate ran twice per execution
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "tok")
      .select(col("doc_id"), col("tok"),
        round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 4).as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("doc_id", "tok", "tfidf")
      .orderBy("doc_id", "tok")
  }

  // ---- Events ----

  def e1Tumbling(spark: SparkSession, dir: String): DataFrame =
    Events.tumbling(Tables.events(spark, dir), col("ts"), "hour",
        keys = Seq(col("event_type")),
        aggs = Seq(count(lit(1)).as("n"), round(sum("value"), 2).as("total")))
      .orderBy("window_start", "event_type")

  def e2Sessionize(spark: SparkSession, dir: String): DataFrame =
    Events.sessionStats(
        Events.sessionize(Tables.events(spark, dir),
          col("user_id"), col("ts"), col("event_id"), gapSeconds = 1800),
        col("user_id"), col("ts"))
      .orderBy("user_id", "session_id")

  /** e13: inter-event gap histogram — the distribution that picks
    * e2's 1800 s sessionization gap (one bucket boundary sits at
    * every candidate gap, 1800 included, so the histogram directly
    * shows how many session splits each knob value would cause).
    * Per-user lag window (bounded per key — never a global sort),
    * exact integer-microsecond math, seven-row output. */
  def e13GapHistogram(spark: SparkSession, dir: String): DataFrame =
    Events.gapHistogram(Tables.events(spark, dir),
        col("user_id"), col("ts"), col("event_id"))
      .orderBy("gap_bucket")

  def e3JsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // idiomatic JSON extraction: schema-checked from_json (the
      // oracle reaches the same value via regexp — both yield the
      // bare integer under key k)
      .select(from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k").as("k"),
        col("value"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        // exact integer cents: the sum is order-independent, so the
        // final double division is bit-identical on any engine — no
        // rounding needed (round(avg(double)) is engine-fragile when
        // the true mean sits on a rounding boundary). Cents via
        // floor(x*100+0.5), pure IEEE math — decimal `round` itself
        // is engine-fragile on half-way representation ties.
        (sum(floor(col("value") * 100 + 0.5).cast("long")) / (count(lit(1)) * 100.0))
          .as("avg_value"),
        round(sum("value"), 2).as("total"))
      .orderBy("k")

  /** e4: exact percentiles per type — Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition, so
    * the (rounded) results hash-match. At 100 TB swap for
    * percentile_approx (t-digest) — same query shape. */
  def e4Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy("event_type")

  /** e12: per-type percentiles through the KLL quantile sketch —
    * e4's scale path (fixed memory per group, sketches shuffle, not
    * values). Capacity 32768 ≥ the LARGEST group at every tested SF
    * (sf0.1 max group 20302; at 4096 the sf0.1 parity run returned
    * the in-bound approximation, not the exact statistic), so no
    * compactor ever fires and the sketch returns the EXACT discrete
    * order statistic at rank ceil(p·n/100) — the hash-oracled path
    * (ta12's capacity≥domain trick); QuantileSpec carries the
    * small-capacity error bound on bigger data. Rank math is integer
    * on both engines. */
  def e12QuantileSketch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(
        graft.plans.QuantileSketch.quantiles(col("value"), 32768, Seq(50, 90, 99)).as("qs"),
        count(lit(1)).as("n_rows"))
      .select(col("event_type"), col("n_rows"),
        round(element_at(col("qs"), 1), 4).as("p50"),
        round(element_at(col("qs"), 2), 4).as("p90"),
        round(element_at(col("qs"), 3), 4).as("p99"))
      .orderBy("event_type")

  /** e5: last-click attribution — every purchase attributed to the
    * user's most recent prior click (an as-of join against the same
    * stream, collapsed to one window pass). */
  def e5Attribution(spark: SparkSession, dir: String): DataFrame =
    Events.asOfAttribute(Tables.events(spark, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_id"),
        col("event_type") === "click", "last_click_id")
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "last_click_id")
      .orderBy("event_id")

  /** e8: generic as-of join — every purchase matched to the user's
    * most recent view at or before it (two genuinely different
    * algorithms meet at the oracle: graft's union+running-window
    * collapse vs DuckDB's native ASOF JOIN). The view side reduces
    * to one row per (user, ts) so the match is deterministic. */
  def e8AsOf(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .agg(max("event_id").as("view_id"))
    Events.asOfJoin(purchases, views, "user_id", "v_user",
        "purchase_ts", "view_ts")
      .select("purchase_id", "user_id", "view_id", "view_ts", "purchase_ts")
      .orderBy("purchase_id")
  }

  /** e9: ordered funnel — users reaching view → click-after-view →
    * purchase-after-that-click. */
  def e9Funnel(spark: SparkSession, dir: String): DataFrame =
    Events.funnel(Tables.events(spark, dir), col("user_id"), col("ts"),
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
      .orderBy("stage_idx")

  /** e16: the e9 funnel under a 24 h conversion window
    * ([[Events.funnelWindowed]], first-touch anchored): each later
    * stage must land at-or-after the previous stage's hit AND within
    * 24 h of the user's FIRST view. The window binds at every SF
    * (it cuts every stage's count below e9's unwindowed numbers
    * while leaving all three stages nonzero), and the arithmetic is
    * integer microseconds both engines. */
  def e16WindowedFunnel(spark: SparkSession, dir: String): DataFrame =
    Events.funnelWindowed(Tables.events(spark, dir), col("user_id"), col("ts"),
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")),
        windowUs = 86400000000L)
      .orderBy("stage_idx")

  /** e10: weekly cohort retention over the event stream. */
  def e10Retention(spark: SparkSession, dir: String): DataFrame =
    Events.retention(Tables.events(spark, dir), col("user_id"), col("ts"))
      .orderBy("cohort_week", "weeks_since")

  /** e6: pivot event types to columns per day — Expand-free pivot
    * with a fixed column list (the scalable form: explicit values,
    * no driver-side distinct pass). */
  def e6Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

  /** e7: range join — assign every event to its session's
    * [start, end] interval (intervals derived by e2's logic, so the
    * oracle rebuilds them identically). Each event lands in exactly
    * one session. */
  def e7RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val sessions = Events.sessionStats(
      Events.sessionize(events, col("user_id"), col("ts"), col("event_id"), 1800),
      col("user_id"), col("ts"))
    Events.rangeJoin(
        events.select("event_id", "user_id", "ts"),
        sessions.select("user_id", "session_id", "session_start", "session_end"),
        key = "user_id", ptTs = "ts",
        startTs = "session_start", endTs = "session_end",
        bucketSeconds = 3600)
      .select("event_id", "user_id", "session_id")
      .orderBy("event_id")
  }

  /** e11: interval-overlap join — per-user daily view-activity
    * windows overlapping daily click-activity windows (concurrent
    * engagement), matched through the bucketized equi-join (no theta
    * join) with the first-shared-bucket emit rule standing in for a
    * distinct pass. */
  def e11IntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def daily(t: String, s: String, e: String) =
      ev.filter(col("event_type") === t)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("__day"))
        .agg(min("ts").as(s), max("ts").as(e))
        .drop("__day")
    Events.intervalOverlapJoin(
        daily("view", "view_start", "view_end"),
        daily("click", "click_start", "click_end"),
        key = "user_id",
        aStart = "view_start", aEnd = "view_end",
        bStart = "click_start", bEnd = "click_end",
        bucketSeconds = 21600)
      .select(col("user_id"), col("view_start"), col("view_end"),
        col("click_start"), col("click_end"),
        (unix_micros(least(col("view_end"), col("click_end")))
          - unix_micros(greatest(col("view_start"), col("click_start"))))
          .as("overlap_us"))
      .orderBy("user_id", "view_start", "click_start")
  }

  /** ta16: composite Gopher-style quality rules (Rae et al. 2021's
    * MassiveText filter, the canonical pre-training document gate):
    * per doc, four rule verdicts + the composite —
    *   rule_wc:   word count in [20, 80]
    *   rule_mwl:  mean word length in [4, 5] (integer form:
    *              4·n_tokens ≤ n_nonspace_chars ≤ 5·n_tokens)
    *   rule_stop: ≥ 2 stopword occurrences (ta2's 7-word list)
    *   rule_rep:  most-frequent token ≤ 20% of tokens (5·max_tf ≤ n)
    * Every rule AND the composite have both branches live at all
    * three SFs (measured: 142/112/13/7 failures per rule at sf0.01,
    * 276 composite passes of 500). ALL-INTEGER threshold compares —
    * no float ratio parity surface.
    *
    * Plan (the 100 TB shape): ONE token explode → (doc_id, tok)
    * count → per-doc aggregate where n_tokens = Σtf, n_nonspace =
    * Σ len(tok)·tf, max_tf = max(tf), n_stop = Σ tf over the
    * broadcast-literal stoplist — every rule input from one keyed
    * aggregation chain, no window, no join back to the corpus. */
  def ta16GopherRules(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(
        Tables.documents(spark, dir).select("doc_id", "text"))
      .orderBy("doc_id")

  /** ta17: within-document n-gram repetition (the Gopher repetition
    * family ta16's token gate does not cover — see
    * [[TextAnalysis.ngramRepetition]]): top-2-gram character share
    * and duplicate-3-gram character mass with all-integer verdicts,
    * both rules mixed-verdict at every SF (measured 291/267/2756
    * rule_top2 passes and 499/495/4920 rule_dup3 passes of
    * 500/500/5000 docs). The oracle regenerates the n-grams with
    * list indexing and replays the identical integer math. */
  def ta17Repetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramRepetition(
        Tables.documents(spark, dir).select("doc_id", "text"))
      .orderBy("doc_id")

  /** e14: first-order event-type transition matrix — per user the
    * time-ordered stream's consecutive (prev, next) type pairs,
    * counted globally with the distinct users exhibiting each pair
    * ([[Events.transitionCounts]]). 25 output cells over 5 types,
    * every count data-live at every SF; all-integer columns; the
    * (ts, event_id) tie-break makes the per-user order total so the
    * lag predecessor is engine-deterministic. */
  def e14Transitions(spark: SparkSession, dir: String): DataFrame =
    Events.transitionCounts(Tables.events(spark, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .orderBy("prev_type", "next_type")

  /** e15: unpivot (melt) — the wide→long inverse of e6's pivot and
    * the other half of the reshape pair every reporting pipeline
    * needs (per-rule verdict columns → long (rule, verdict) rows,
    * per-type count columns → long cells). Runs Spark's native
    * `unpivot` (an Expand — map-only, no extra shuffle) over the e6
    * wide frame, so the oracle's observed-grid completion (every
    * (day, type) cell incl. the zero-filled ones, |days|×5 rows)
    * pins the round-trip exactly: pivot's na.fill(0) cells must
    * survive the melt as explicit zero rows. */
  def e15Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    e6Pivot(spark, dir)
      .unpivot(Array(col("day")), types.map(col).toArray, "event_type", "n")
      .orderBy("day", "event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e15_unpivot" -> (e15Unpivot _),
    "e14_transitions" -> (e14Transitions _),
    "ta17_repetition" -> (ta17Repetition _),
    "ta16_gopher_rules" -> (ta16GopherRules _),
    "e11_interval_overlap" -> (e11IntervalOverlap _),
    "e7_range_join" -> (e7RangeJoin _),
    "e4_percentiles" -> (e4Percentiles _),
    "e12_quantile_sketch" -> (e12QuantileSketch _),
    "e5_attribution" -> (e5Attribution _),
    "e6_pivot" -> (e6Pivot _),
    "e8_asof" -> (e8AsOf _),
    "e9_funnel" -> (e9Funnel _),
    "e16_windowed_funnel" -> (e16WindowedFunnel _),
    "e10_retention" -> (e10Retention _),
    "ta1_tokens" -> (ta1Tokens _),
    "ta5_ngram_freq" -> (ta5NgramFreq _),
    "ta6_quality_filter" -> (ta6QualityFilter _),
    "ta7_repetition" -> (ta7Repetition _),
    "ta8_redact" -> (ta8Redact _),
    "ta9_keywords" -> (ta9Keywords _),
    "ta10_classifier" -> (ta10Classifier _),
    "ta11_perplexity" -> (ta11Perplexity _),
    "ta12_heavy_hitters" -> (ta12HeavyHitters _),
    "ta13_vocab_stats" -> (ta13VocabStats _),
    "ta14_char_entropy" -> (ta14CharEntropy _),
    "ta15_novelty" -> (ta15Novelty _),
    "ta2_quality" -> (ta2Quality _),
    "ta3_langid" -> (ta3LangId _),
    "ta4_fingerprint" -> (ta4Fingerprint _),
    "e1_tumbling" -> (e1Tumbling _),
    "e2_sessionize" -> (e2Sessionize _),
    "e13_gap_histogram" -> (e13GapHistogram _),
    "e3_json_props" -> (e3JsonProps _),
  )

  private val stopList = "('the','a','of','and','in','to','is')"

  // ta14 oracle: the same 28 replace-length counts + quantized-ln
  // terms as TextAnalysis.charEntropyQ, generated so both engines
  // share one definition (a–z, space, other-bucket)
  private val ta14Sql: String = {
    val chars = ('a' to 'z').map(c => s"'$c'") :+ "' '"
    val cDefs = chars.zipWithIndex.map { case (c, i) =>
      s"length(t) - length(replace(t, $c, '')) AS c$i" }.mkString(",\n             ")
    val cNames = chars.indices.map(i => s"c$i")
    def term(c: String) =
      s"""CASE WHEN $c > 0 THEN CAST($c AS BIGINT) *
         CAST(round(ln(CAST($c AS DOUBLE) / n_len) * 1000000.0) AS BIGINT)
         ELSE 0 END"""
    val terms = (cNames :+ "c27").map(term).mkString(" +\n           ")
    s"""WITH b AS (SELECT doc_id, lower(text) AS t FROM documents),
         c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_len,
             $cDefs
           FROM b),
         c2 AS (SELECT *, n_len - (${cNames.mkString(" + ")}) AS c27 FROM c),
         s AS (SELECT doc_id, n_len,
           $terms AS s_q
           FROM c2)
       SELECT doc_id, n_len, s_q,
         CASE WHEN n_len > 0 THEN (-s_q + n_len * 50) // (n_len * 100)
              ELSE 0 END AS ent_q4
       FROM s ORDER BY doc_id"""
  }

  val oracleSql: Map[String, String] = Map(
    // e14: identical lag window over the totally-ordered per-user
    // stream, identical (prev, next) reduction
    "e14_transitions" ->
      """WITH t AS (
           SELECT user_id, event_type AS next_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
           FROM events)
         SELECT prev_type, next_type,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
         FROM t WHERE prev_type IS NOT NULL
         GROUP BY prev_type, next_type
         ORDER BY prev_type, next_type""",
    "ta14_char_entropy" -> ta14Sql,
    // ta15: the d-family shingle normalization + seed-0 h32 hashing,
    // then df over the whole corpus and per-doc unique counting
    "ta15_novelty" ->
      """WITH toks AS (
           SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS tks
           FROM documents),
         sh0 AS (
           SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tks) - 2, 1) + 1),
             i -> array_to_string(tks[i:i+2], ' '))) AS sh
           FROM toks),
         shh AS (
           SELECT doc_id, list_distinct(list_transform(sh,
             s -> CAST(concat('0x', substr(md5(concat('0:', s)), 1, 8)) AS BIGINT))) AS hs
           FROM sh0),
         p AS (SELECT doc_id, unnest(hs) AS h FROM shh),
         d AS (SELECT h, count(*) AS df FROM p GROUP BY 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
         FROM p JOIN d USING (h) GROUP BY doc_id ORDER BY doc_id""",
    // e11: the oracle may theta-join — DuckDB handles the small SF;
    // the Spark plan is the bucketized equi-join, plan-audited
    "e11_interval_overlap" ->
      """WITH v AS (
           SELECT user_id, min(ts) AS view_start, max(ts) AS view_end
           FROM events WHERE event_type = 'view'
           GROUP BY user_id, date_trunc('day', ts)),
         c AS (
           SELECT user_id, min(ts) AS click_start, max(ts) AS click_end
           FROM events WHERE event_type = 'click'
           GROUP BY user_id, date_trunc('day', ts))
         SELECT v.user_id, view_start, view_end, click_start, click_end,
           epoch_us(least(view_end, click_end))
             - epoch_us(greatest(view_start, click_start)) AS overlap_us
         FROM v JOIN c ON v.user_id = c.user_id
           AND view_start <= click_end AND click_start <= view_end
         ORDER BY v.user_id, view_start, click_start""",
    "e7_range_join" ->
      """WITH sess AS (
           SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end
           FROM (
             SELECT user_id, ts,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             FROM (
               SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                   THEN 1 ELSE 0 END AS is_new
               FROM events))
           GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, s.session_id
         FROM events e JOIN sess s
           ON e.user_id = s.user_id
           AND e.ts BETWEEN s.session_start AND s.session_end
         ORDER BY e.event_id""",
    "e5_attribution" ->
      """SELECT event_id, user_id, last_click_id FROM (
           SELECT event_id, user_id, event_type,
             last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS last_click_id
           FROM events)
         WHERE event_type = 'purchase' ORDER BY event_id""",
    "e10_retention" ->
      """WITH weeks AS (
           SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS wk
           FROM events),
         cohorts AS (SELECT u, min(wk) AS cohort_week FROM weeks GROUP BY 1)
         SELECT cohort_week,
           CAST(date_diff('day', cohort_week, wk) // 7 AS INT) AS weeks_since,
           count(*) AS n_active
         FROM weeks JOIN cohorts USING (u)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "e8_asof" ->
      """WITH p AS (
           SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
           FROM events WHERE event_type = 'purchase'),
         v AS (
           SELECT user_id AS v_user, ts AS view_ts, max(event_id) AS view_id
           FROM events WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT purchase_id, user_id, view_id, view_ts, purchase_ts
         FROM p ASOF JOIN v
           ON p.user_id = v.v_user AND p.purchase_ts >= v.view_ts
         ORDER BY purchase_id""",
    // e16: e9's cascade with the 24 h first-touch window — the bound
    // is integer microseconds on both engines (epoch_us / unix_micros)
    "e16_windowed_funnel" ->
      """WITH s1 AS (
           SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t1
           FROM events GROUP BY 1),
         s2 AS (
           SELECT e.user_id, s1.t1,
             min(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t1
               AND epoch_us(e.ts) - epoch_us(s1.t1) <= 86400000000
               THEN e.ts END) AS t2
           FROM events e JOIN s1 USING (user_id) GROUP BY 1, 2),
         s3 AS (
           SELECT e.user_id, s2.t1, s2.t2,
             min(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t2
               AND epoch_us(e.ts) - epoch_us(s2.t1) <= 86400000000
               THEN e.ts END) AS t3
           FROM events e JOIN s2 USING (user_id) GROUP BY 1, 2, 3)
         SELECT CAST(1 AS INTEGER) AS stage_idx, 'view' AS stage,
           (SELECT count(t1) FROM s1) AS n_keys
         UNION ALL
         SELECT CAST(2 AS INTEGER), 'click', (SELECT count(t2) FROM s2)
         UNION ALL
         SELECT CAST(3 AS INTEGER), 'purchase', (SELECT count(t3) FROM s3)
         ORDER BY stage_idx""",
    "e9_funnel" ->
      """WITH s1 AS (
           SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t1
           FROM events GROUP BY 1),
         s2 AS (
           SELECT e.user_id, s1.t1,
             min(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t1 THEN e.ts END) AS t2
           FROM events e JOIN s1 USING (user_id) GROUP BY 1, 2),
         s3 AS (
           SELECT e.user_id, s2.t2,
             min(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t2 THEN e.ts END) AS t3
           FROM events e JOIN s2 USING (user_id) GROUP BY 1, 2)
         SELECT CAST(1 AS INTEGER) AS stage_idx, 'view' AS stage,
           (SELECT count(t1) FROM s1) AS n_keys
         UNION ALL
         SELECT CAST(2 AS INTEGER), 'click', (SELECT count(t2) FROM s2)
         UNION ALL
         SELECT CAST(3 AS INTEGER), 'purchase', (SELECT count(t3) FROM s3)
         ORDER BY stage_idx""",
    "e6_pivot" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS error
         FROM events GROUP BY 1 ORDER BY 1""",
    // e15: the long form re-derived as the full (day, type) grid with
    // zero-filled cells — exactly what pivot + melt must round-trip to
    "e15_unpivot" ->
      """WITH days AS (
           SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day
           FROM events),
         types(event_type) AS (VALUES
           ('click'), ('view'), ('purchase'), ('signup'), ('error')),
         c AS (
           SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2)
         SELECT d.day, t.event_type, COALESCE(c.n, 0) AS n
         FROM days d CROSS JOIN types t
         LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
         ORDER BY d.day, t.event_type""",
    "e4_percentiles" ->
      """SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
         FROM events GROUP BY 1 ORDER BY 1""",
    // e12: the discrete order statistic at rank ceil(p*n/100),
    // re-derived with an explicit row_number so the rank arithmetic
    // is the same pure-integer `(p*n + 99) // 100` as the sketch's
    "e12_quantile_sketch" ->
      """WITH r AS (
           SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events WHERE value IS NOT NULL)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
           round(max(CASE WHEN rn = (50*n + 99) // 100 THEN value END), 4) AS p50,
           round(max(CASE WHEN rn = (90*n + 99) // 100 THEN value END), 4) AS p90,
           round(max(CASE WHEN rn = (99*n + 99) // 100 THEN value END), 4) AS p99
         FROM r GROUP BY event_type ORDER BY event_type""",
    "ta7_repetition" ->
      """SELECT doc_id, n_shingles, n_distinct,
           round(1.0 - n_distinct / CAST(n_shingles AS DOUBLE), 4) AS rep_ratio
         FROM (
           SELECT doc_id,
             CAST(greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 1) AS BIGINT) AS n_shingles,
             CAST(len(list_distinct(list_transform(
               list_transform(range(1, greatest(len(tks) - 2, 1) + 1),
                 i -> array_to_string(tks[i:i+2], ' ')),
               s -> CAST(concat('0x', substr(md5(concat('0:', s)), 1, 8)) AS BIGINT)))) AS BIGINT) AS n_distinct
           FROM (
             SELECT doc_id, text,
               regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS tks
             FROM documents))
         ORDER BY doc_id""",
    "ta8_redact" ->
      """WITH planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN concat(text, ' contact user', CAST(doc_id AS VARCHAR), '@example.com now')
                  WHEN doc_id % 3 = 1 THEN concat(text, ' call +1 555 ', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' 1234 today')
                  ELSE text END AS text
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(text, '\+[0-9] [0-9]{3} [0-9]{4} [0-9]{4}')) AS n_phones,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+[0-9] [0-9]{3} [0-9]{4} [0-9]{4}', '<PHONE>', 'g') AS redacted
         FROM planted ORDER BY doc_id""",
    // ta12: in the k ≥ vocab regime the MG sketch is exact, so the
    // oracle is the plain exact count with the same integer threshold
    "ta12_heavy_hitters" ->
      """WITH toks AS (
           SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         n AS (SELECT lang, count(*) AS n FROM toks GROUP BY 1),
         c AS (SELECT lang, tok, count(*) AS est FROM toks GROUP BY 1, 2)
         SELECT c.lang, c.tok, c.est
         FROM c JOIN n USING (lang) WHERE c.est * 100 > n.n
         ORDER BY lang, tok""",
    // ta11: per-bigram ln(c12/c1) quantized to longs before the
    // per-doc sum (exact integer aggregation) — same technique as x7
    "ta11_perplexity" ->
      """WITH t AS (
           SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS tks
           FROM documents),
         b AS (
           SELECT doc_id,
             unnest(list_transform(range(1, len(tks)),
               i -> concat(tks[i], ' ', tks[i+1]))) AS bg
           FROM t WHERE len(tks) >= 2),
         c AS (
           SELECT doc_id, bg,
             count(*) OVER (PARTITION BY bg) AS c12,
             count(*) OVER (PARTITION BY split_part(bg, ' ', 1)) AS c1
           FROM b),
         s AS (
           SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CAST(round(ln(c12 / c1) * 1000000.0) AS BIGINT)) AS BIGINT) AS s
           FROM c GROUP BY 1)
         SELECT doc_id, n_bigrams,
           round(s / (n_bigrams * 1000000.0), 4) + 0.0 AS avg_logprob
         FROM s ORDER BY doc_id""",
    // ta10: the md5-derived model replays in SQL — same buckets, same
    // integer weights, exact long sum, threshold on the rounded score
    "ta10_classifier" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         b AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(concat('21:', tok)), 1, 8)) AS BIGINT) % 256 AS bucket
           FROM toks),
         w AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(concat('22:', CAST(bucket AS VARCHAR))), 1, 8)) AS BIGINT) % 2001 - 1000 AS w
           FROM b),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(w) AS BIGINT) AS s FROM w GROUP BY 1),
         -- exact integer half-away-from-zero rounding of s*10/n in
         -- 1e-4 units: float round() at a .5 decimal boundary is
         -- engine-dependent (0.14075 is binarily 0.1407499..)
         r AS (SELECT doc_id, n_tokens,
             (CASE WHEN s < 0 THEN -1 ELSE 1 END)
               * ((abs(s) * 20 + n_tokens) // (2 * n_tokens)) AS q
           FROM agg)
         SELECT doc_id, n_tokens, q / 10000.0 AS score,
           (q > 0) AS positive
         FROM r ORDER BY doc_id""",
    // ta13: same two-level aggregate; all-integer outputs
    "ta13_vocab_stats" ->
      """WITH tc AS (
           SELECT lang, tok, count(*) AS n FROM (
             SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
             FROM documents)
           GROUP BY 1, 2)
         SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS n_hapax
         FROM tc GROUP BY lang ORDER BY lang""",
    "ta9_keywords" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         d AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         sc AS (
           SELECT doc_id, tf.tok,
             round(tf * ln((SELECT count(*) FROM documents) / CAST(df AS DOUBLE)), 4) AS tfidf
           FROM tf JOIN d USING (tok))
         SELECT doc_id, tok, tfidf FROM (
           SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rn
           FROM sc)
         WHERE rn <= 3 ORDER BY doc_id, tok""",
    "ta6_quality_filter" ->
      """SELECT doc_id,
           (ntok >= 20 AND ntok <= 500 AND atl >= 3.0 AND atl <= 12.0 AND pr <= 0.1) AS keep,
           concat_ws('; ',
             CASE WHEN NOT (ntok >= 20) THEN 'fewer than 20 tokens' END,
             CASE WHEN NOT (ntok <= 500) THEN 'more than 500 tokens' END,
             CASE WHEN NOT (atl >= 3.0) THEN 'avg token len under 3.0' END,
             CASE WHEN NOT (atl <= 12.0) THEN 'avg token len over 12.0' END,
             CASE WHEN NOT (pr <= 0.1) THEN 'punct ratio over 0.1' END) AS reasons
         FROM (
           SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS ntok,
             round(length(regexp_replace(text, '\s', '', 'g'))
               / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 4) AS atl,
             round(length(regexp_replace(text, '[a-z0-9\s]', '', 'g'))
               / CAST(length(text) AS DOUBLE), 4) AS pr
           FROM documents)
         ORDER BY doc_id""",
    "ta5_ngram_freq" ->
      """SELECT lang, rank, token, n FROM (
           SELECT lang, token, n,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY n DESC, token ASC) AS INT) AS rank
           FROM (
             SELECT lang, token, count(*) AS n FROM (
               SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
               FROM documents)
             GROUP BY 1, 2))
         WHERE rank <= 5 ORDER BY lang, rank""",
    "ta1_tokens" ->
      """SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           len(regexp_extract_all(text, '[a-z0-9]+')) AS n_word_tokens
         FROM documents ORDER BY doc_id""",
    // ta17: n-grams regenerated with list indexing over the
    // normalized token array; identical integer count·length math
    "ta17_repetition" ->
      """WITH base AS (
           SELECT doc_id,
             regexp_replace(trim(coalesce(text, '')), '\s+', ' ', 'g') AS norm
           FROM documents),
         tok AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM base),
         g2 AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
           FROM tok, UNNEST(range(1, len(toks))) AS u(i)),
         c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
         top2 AS (SELECT doc_id, CAST(max(c * length(g)) AS BIGINT) AS top2_chars
           FROM c2 GROUP BY 1),
         g3 AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
           FROM tok, UNNEST(range(1, len(toks) - 1)) AS u(i)),
         c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
         dup3 AS (SELECT doc_id,
             CAST(coalesce(sum(CASE WHEN c >= 2 THEN c * length(g) END), 0) AS BIGINT)
               AS dup3_chars
           FROM c3 GROUP BY 1)
         SELECT b.doc_id,
           CAST(length(b.norm) AS BIGINT) AS n_chars,
           coalesce(t.top2_chars, 0) AS top2_chars,
           coalesce(d.dup3_chars, 0) AS dup3_chars,
           coalesce(t.top2_chars, 0) * 14 <= length(b.norm) AS rule_top2,
           coalesce(d.dup3_chars, 0) * 10 <= length(b.norm) AS rule_dup3,
           (coalesce(t.top2_chars, 0) * 14 <= length(b.norm)
            AND coalesce(d.dup3_chars, 0) * 10 <= length(b.norm)) AS pass
         FROM base b
         LEFT JOIN top2 t ON b.doc_id = t.doc_id
         LEFT JOIN dup3 d ON b.doc_id = d.doc_id
         ORDER BY b.doc_id""",
    // ta16: same per-token-frequency derivation, integer thresholds
    "ta16_gopher_rules" ->
      s"""WITH tk AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) AS tok
           FROM documents),
         tc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM tk GROUP BY 1, 2),
         d AS (
           SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS n_tokens,
             CAST(sum(length(tok) * tf) AS BIGINT) AS n_nonspace,
             CAST(max(tf) AS BIGINT) AS max_tf,
             CAST(sum(CASE WHEN tok IN $stopList THEN tf ELSE 0 END) AS BIGINT) AS n_stop
           FROM tc GROUP BY 1)
         SELECT doc_id, n_tokens,
           (n_tokens BETWEEN 20 AND 80) AS rule_wc,
           (n_nonspace >= n_tokens * 4 AND n_nonspace <= n_tokens * 5) AS rule_mwl,
           (n_stop >= 2) AS rule_stop,
           (max_tf * 5 <= n_tokens) AS rule_rep,
           ((n_tokens BETWEEN 20 AND 80)
             AND n_nonspace >= n_tokens * 4 AND n_nonspace <= n_tokens * 5
             AND n_stop >= 2 AND max_tf * 5 <= n_tokens) AS pass
         FROM d ORDER BY doc_id""",
    "ta2_quality" ->
      s"""SELECT doc_id, n_chars,
           round(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
           round(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN $stopList))
             / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE), 4) AS stopword_ratio,
           round(length(regexp_replace(text, '\\s', '', 'g'))
             / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE), 4) AS avg_token_len
         FROM documents ORDER BY doc_id""",
    "ta3_langid" ->
      """SELECT doc_id, en_score, de_score, es_score, fr_score,
           CASE WHEN greatest(en_score, de_score, es_score, fr_score) = 0 THEN 'und'
                WHEN en_score = greatest(en_score, de_score, es_score, fr_score) THEN 'en'
                WHEN de_score = greatest(en_score, de_score, es_score, fr_score) THEN 'de'
                WHEN es_score = greatest(en_score, de_score, es_score, fr_score) THEN 'es'
                ELSE 'fr' END AS predicted_lang,
           lang
         FROM (
           SELECT doc_id, lang,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('the','a','of','and'))) AS en_score,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('der','die','das','und'))) AS de_score,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('el','la','los','y'))) AS es_score,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('le','la','les','et'))) AS fr_score
           FROM documents)
         ORDER BY doc_id""",
    "ta4_fingerprint" ->
      """SELECT doc_id,
           md5(norm) AS fp_md5,
           list_aggregate(list_transform(
             range(1, greatest(len(tks) - 2, 1) + 1),
             i -> md5(array_to_string(tks[i:i+2], ' '))), 'min') AS fp_shingle_min
         FROM (
           SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS tks
           FROM documents)
         ORDER BY doc_id""",
    "e1_tumbling" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, round(sum(value), 2) AS total
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "e13_gap_histogram" ->
      """WITH g AS (
           SELECT (epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap_s
           FROM events),
         b AS (SELECT gap_s,
             CASE WHEN gap_s < 60 THEN 'a_under_1m'
                  WHEN gap_s < 300 THEN 'b_1m_5m'
                  WHEN gap_s < 900 THEN 'c_5m_15m'
                  WHEN gap_s < 1800 THEN 'd_15m_30m'
                  WHEN gap_s < 3600 THEN 'e_30m_1h'
                  WHEN gap_s < 21600 THEN 'f_1h_6h'
                  ELSE 'g_over_6h' END AS gap_bucket
           FROM g WHERE gap_s IS NOT NULL)
         SELECT gap_bucket, CAST(count(*) AS BIGINT) AS n_gaps,
           min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s
         FROM b GROUP BY 1 ORDER BY 1""",
    "e2_sessionize" ->
      """SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
         FROM (
           SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM (
             SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                 THEN 1 ELSE 0 END AS is_new
             FROM events))
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "e3_json_props" ->
      """SELECT k, count(*) AS n,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / (count(*) * 100.0) AS avg_value,
           round(sum(value), 2) AS total
         FROM (SELECT CAST(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) AS k,
                 value FROM events)
         GROUP BY 1 ORDER BY 1""",
  )
}
