package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked full-text retrieval over the corpus — the query side of the
  * x5 inverted index (the reference's Solr collections exist to be
  * SEARCHED; solr_api_utils.py:14-60 only manages their lifecycle).
  *
  * Two entry points with one scoring core:
  *
  *  - [[bm25MoreLikeThis]] — ad-hoc: tokenizes the corpus in-line.
  *    One-shot analytics only; the corpus pass is charged to every
  *    call.
  *  - [[buildIndex]] / [[searchIndex]] — the production shape: the
  *    term-frequency table (doc_id, tok, tf, dl) is persisted ONCE as
  *    a [[graft.sources.VersionedTable]] partitioned by token
  *    hash-bucket, global stats (N, Σdl) land beside it, and queries
  *    probe the index without ever re-scanning the corpus (the same
  *    build-once/search-many lifecycle as the IVF index,
  *    similarity/Ivf.scala — and the reason the reference keeps
  *    long-lived Solr collections instead of re-indexing per query).
  *    At 100 TB the corpus re-tokenize is the difference between a
  *    full-corpus job per query set and a pruned index probe.
  *
  * Scale posture: the query set is small and broadcast; the corpus
  * term-frequency table is the big side and is touched map-side by
  * the broadcast join, so scoring shuffles only (q_id, doc) partial
  * scores — never postings. On the indexed path the scan additionally
  * PRUNES to the hash-bucket directories containing query terms
  * before reading a byte. The final per-query top-k is the
  * rank-dropping row_number shape that TopKRewriteRule turns into a
  * bounded heap (no per-query sort). Corpus statistics (N, avgdl)
  * are two exact long aggregates computed once at index build.
  *
  * Determinism: per-term BM25 contributions are quantized to 1e-6
  * before summing (round → long), so the per-document score is an
  * exact integer sum — order-independent under any partitioning —
  * and replays bit-identically in the DuckDB oracle. The float
  * rounding loses nothing at ranking granularity (scores are
  * O(1..50); 1e-6 is far below any real score gap).
  */
object Retrieval {

  /** BM25's tokenisation: lower-cased, space-trimmed, split on
    * whitespace. */
  private[operators] def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** Corpus term frequencies: (doc_id, tok, tf, dl) with dl = total
    * token count of the document (BM25's length normalizer). dl is
    * computed MAP-SIDE from the token array and carried through the
    * groupBy key (constant per doc, so the key extension is free) —
    * no per-doc re-aggregation, no dl self-join, one shuffle total. */
  def termFrequencies(corpus: DataFrame, idCol: Column, textCol: Column): DataFrame =
    corpus.select(idCol.as("doc_id"), tokens(textCol).as("tks"))
      .select(col("doc_id"), size(col("tks")).cast("long").as("dl"),
        explode(col("tks")).as("tok"))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))

  /** Per-query distinct token sets: (q_id, tok). */
  private[operators] def queryTerms(queries: DataFrame, idCol: String, textCol: String): DataFrame =
    queries.select(col(idCol).as("q_id"),
      explode(array_distinct(tokens(col(textCol)))).as("tok"))

  /** Shared scoring core over a term-frequency relation (in-line or
    * persisted — any frame with doc_id/tok/tf/dl columns).
    *
    * score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * with idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (Robertson/Lucene form).
    */
  private[operators] def scoreBm25(tf: DataFrame, nDocs: Long, avgdl: Double,
      qTerms: DataFrame, k: Int, k1: Double, b: Double): DataFrame = {
    val scored = scoreBm25Int(tf, nDocs, avgdl, qTerms, k1, b)
      .select(col("q_id"), col("n_id"),
        round(col("score_q") / 1e6, 4).as("score"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("q_id", "n_id", "score", "rank")
  }

  /** The integer core of [[scoreBm25]]: (q_id, n_id, score_q) with
    * score_q = Σ round(per-term contribution · 10⁶) as an exact
    * BIGINT — the form boosting multiplies (integer × integer stays
    * hash-exact cross-engine, where re-rounding a boosted float can
    * land on a .5 decimal boundary). */
  private[operators] def scoreBm25Int(tf: DataFrame, nDocs: Long,
      avgdl: Double, qTerms: DataFrame, k1: Double, b: Double): DataFrame = {
    // df only for terms the queries actually use: the full-vocabulary
    // df table is corpus-sized at 100 TB and must never broadcast —
    // semi-restricting the aggregation first keeps the broadcast side
    // O(|query terms|)
    val dfreq = tf.join(broadcast(qTerms.select("tok").distinct()), "tok")
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // contribution in a fixed scalar expression order, quantized to a
    // long BEFORE the sum so the aggregate is exact integer math
    val contrib =
      log(((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)) + 1.0) *
        (col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)))
    tf.join(broadcast(qTerms), "tok")
      .join(broadcast(dfreq), "tok")
      .groupBy(col("q_id"), col("doc_id").as("n_id"))
      .agg(sum(round(contrib * 1e6).cast("long")).as("score_q"))
  }

  /** Ad-hoc BM25 more-like-this: rank corpus documents against each
    * query document's distinct token set, top `k` per query. The
    * corpus is tokenized in-line — for repeated query sets use
    * [[buildIndex]]/[[searchIndex]] instead. */
  def bm25MoreLikeThis(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // EAGER checkpoint: tf is consumed by TWO query executions — the
    // stats head() and the scoring plan — and a lazy localCheckpoint
    // that crosses executions can replay EMPTY under AQE (the
    // documented round-4 hazard; CLAUDE.md invariants)
    val tf = termFrequencies(corpus, col(idCol), col(textCol))
      .localCheckpoint(true)
    // two exact long aggregates -> one double each (deterministic)
    val stats = tf.groupBy().agg(
      countDistinct("doc_id").as("n_docs"), sum("tf").as("total_len")).head()
    val nDocs = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / nDocs
    scoreBm25(tf, nDocs, avgdl, queryTerms(queries, idCol, textCol), k, k1, b)
  }

  /** Token hash-bucket count for the persisted tf table. 64 keeps
    * directory fan-out trivial while letting a narrow query term set
    * prune most of the postings scan. */
  val TfBuckets = 64

  private def tokBucket(nBuckets: Int): Column =
    pmod(xxhash64(col("tok")), lit(nBuckets.toLong))

  /** Build a persisted BM25 index under `indexDir`: the tf table
    * (doc_id, tok, tf, dl) as a versioned table partitioned by
    * `tok_bucket = xxhash64(tok) mod nBuckets` (a token's postings
    * live entirely in its bucket, so bucket pruning is lossless for
    * df and scoring), plus a one-row stats table (n_docs, total_len,
    * n_buckets). Same publish-then-swap lifecycle as the IVF index:
    * readers never see a half-built index, a rebuild is a new
    * version + swap, rollback is `VersionedTable.swapTo`. Returns the
    * published tf version.
    *
    * The global stats are aggregated from the just-published parquet,
    * not from a checkpointed frame — the index itself is the
    * materialization, so no lazy frame ever crosses executions. */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
      indexDir: String, nBuckets: Int = TfBuckets): Long = {
    val spark = corpus.sparkSession
    val tf = termFrequencies(corpus, col(idCol), col(textCol))
      .withColumn("tok_bucket", tokBucket(nBuckets))
    val tv = graft.sources.VersionedTable.writePartitioned(
      tf, s"$indexDir/tf", "tok_bucket")
    val stats = graft.sources.VersionedTable.readLatest(spark, s"$indexDir/tf")
      .groupBy().agg(
        countDistinct("doc_id").as("n_docs"),
        sum("tf").as("total_len"))
      .select(col("n_docs"), col("total_len"), lit(nBuckets).as("n_buckets"))
    graft.sources.VersionedTable.write(stats, s"$indexDir/stats")
    tv
  }

  /** Per-(indexDir, version) stats cache: an index version is
    * immutable once published, so its one-row stats table never
    * changes — re-reading it per search would charge a whole scan
    * job to every query batch. */
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), (Long, Double, Int)]()

  /** Search a persisted BM25 index. The query side is BROADCAST-SIZED
    * by contract (it ships to every executor in the scoring joins),
    * so its exploded term set is collected to the driver ONCE: the
    * distinct bucket set falls out locally, and the scoring joins
    * broadcast a LocalRelation — no checkpoint job, no second
    * collect, and the broadcast materializes driver-side without
    * launching tasks. The buckets become a static
    * `tok_bucket IN (...)` partition filter, so the postings scan
    * prunes to the buckets the queries can touch before reading a
    * byte; the corpus is never re-tokenized. Global stats are served
    * from a per-version driver cache (the index is immutable). */
  def searchIndex(spark: SparkSession, indexDir: String, queries: DataFrame,
      idCol: String, textCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (tf, nDocs, avgdl, qTerms) =
      indexProbe(spark, indexDir, queries, idCol, textCol)
    scoreBm25(tf, nDocs, avgdl, qTerms, k, k1, b)
  }

  /** Shared probe path for the persisted index: cached global stats,
    * driver-side query-term collect, bucket-pruned tf scan, and the
    * LocalRelation query-term frame. */
  private def indexProbe(spark: SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, textCol: String)
      : (DataFrame, Long, Double, DataFrame) = {
    val version = graft.sources.VersionedTable.latestVersion(s"$indexDir/stats")
      .getOrElse(throw new IllegalStateException(s"no index at $indexDir"))
    val (nDocs, avgdl, nBuckets) = statsCache.computeIfAbsent(
      (indexDir, version), { _ =>
        val st = graft.sources.VersionedTable
          .readLatest(spark, s"$indexDir/stats").head()
        val n = st.getAs[Long]("n_docs")
        (n, st.getAs[Long]("total_len").toDouble / n, st.getAs[Int]("n_buckets"))
      })
    val qRows = queryTerms(queries, idCol, textCol)
      .withColumn("__tb", tokBucket(nBuckets))
      .collect()
    val buckets = qRows.map(_.getAs[Long]("__tb")).distinct.toSeq
    val qSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q_id",
        queries.schema(idCol).dataType),
      org.apache.spark.sql.types.StructField("tok",
        org.apache.spark.sql.types.StringType)))
    val qTerms = spark.createDataFrame(
      java.util.Arrays.asList(qRows.map(r =>
        org.apache.spark.sql.Row(r.get(0), r.get(1))): _*), qSchema)
    val tf = graft.sources.VersionedTable.readLatest(spark, s"$indexDir/tf")
      .filter(col("tok_bucket").isin(buckets: _*))
    (tf, nDocs, avgdl, qTerms)
  }

  /** Authority-boosted retrieval — Solr's boost-function query
    * (`boost=` / multiplicative external-file-field) on the data
    * plane: boosted(q, d) = score_q(q, d) · bw(d), where score_q is
    * the exact integer BM25 sum and `boosts` supplies an exact
    * integer weight per document (e.g. [[graft.operators.Graph]]'s
    * source-authority rank). The boost joins BEFORE top-k selection
    * (a post-filter of the unboosted top-k would be wrong — boosting
    * reorders candidates), and because both factors are integers the
    * boosted score needs no re-rounding — the product ranks and
    * hashes identically cross-engine. `boosts` is per-document and
    * may be corpus-sized (an external-file-field is): the join is an
    * equi-join against the candidate frame (bounded by |q|·matching
    * docs), so Catalyst/AQE picks broadcast vs shuffle from the
    * actual sizes — no hint. Docs missing from `boosts` get weight
    * `defaultBw`; `boosts` must carry AT MOST ONE row per n_id (a
    * duplicate weight would duplicate its candidate rows through the
    * join) — derive it from a keyed table, or pre-reduce. */
  def searchIndexBoosted(spark: SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, textCol: String, k: Int,
      boosts: DataFrame, defaultBw: Long = 1L,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (tf, nDocs, avgdl, qTerms) =
      indexProbe(spark, indexDir, queries, idCol, textCol)
    val boosted = scoreBm25Int(tf, nDocs, avgdl, qTerms, k1, b)
      .join(boosts.select(col("n_id"), col("bw")), Seq("n_id"), "left")
      .select(col("q_id"), col("n_id"),
        (col("score_q") * coalesce(col("bw"), lit(defaultBw))).as("boosted"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("boosted").desc, col("n_id").asc)
    boosted.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "boosted", "rank")
  }

  /** Fingerprint of a corpus path: for a plain file, (path, mtime,
    * size); for a DIRECTORY (the normal shape of a real parquet
    * table — many part files), the sorted recursive listing of
    * (relative path, mtime, size), so adding, removing, or rewriting
    * ANY part file changes the key. A single-file mtime+size probe
    * would silently reuse a stale index when only one part of a
    * multi-file corpus changed. */
  private[graft] def corpusFingerprintKey(root: java.io.File): String = {
    def entries(f: java.io.File, rel: String): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
          .toSeq.flatMap(c => entries(c, s"$rel/${c.getName}"))
      else Seq(s"$rel:${f.lastModified}:${f.length}")
    (root.getAbsolutePath +: entries(root, "")).mkString("\n")
  }

  /** Build-if-absent convenience for a corpus derived from one data
    * directory: the index lands under the JVM temp dir keyed by a
    * fingerprint of the directory's `documents.parquet` (full
    * recursive file listing — path, mtime, size per part file), so a
    * regenerated dataset gets a fresh index and an unchanged one
    * reuses the build across sessions. Contract: the fingerprint
    * keys on the DATA FILES, not the corpus filter — all callers for
    * one dataDir must pass the same corpus derivation (the x7 query
    * surface does). Returns the index dir. Orphan lifecycle
    * (marker-before-build + stale sweep) via
    * [[graft.sources.FingerprintCache]]; BUMP the version token when
    * buildIndex's output layout changes semantics. */
  def ensureIndex(corpus: DataFrame, idCol: String, textCol: String,
      dataDir: String): String = synchronized {
    val f = new java.io.File(s"$dataDir/documents.parquet")
    val live = ":bm25:v1"
    val idxDir = graft.sources.FingerprintCache.prepare(
      "graft_bm25", corpusFingerprintKey(f) + live, live)
    if (graft.sources.VersionedTable.latestVersion(s"$idxDir/tf").isEmpty ||
        graft.sources.VersionedTable.latestVersion(s"$idxDir/stats").isEmpty)
      buildIndex(corpus, idCol, textCol, idxDir)
    idxDir
  }
}
