package graft.similarity

import graft.sources.{Segments, VersionedTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF × PQ — the composed billion-scale ANN index (Jégou et al.
  * 2011 §V, "IVFADC"; FAISS `IndexIVFPQ` with `by_residual=false`):
  * a coarse quantizer prunes the search to `nProbe` inverted lists,
  * and within the probed lists distances come from PQ asymmetric
  * distance computation over m one-byte codes per vector, with an
  * exact-refine pass on the shortlist. [[Ivf]] supplies the coarse
  * stage (quantized-integer centroids, per-list partitioned storage
  * → file-level pruning) and [[Pq]] the fine stage (integer-exact
  * codebooks, ADC, refine sidecar); this object is only the
  * composition plus the persisted-index lifecycle.
  *
  * Scale shape: the index metadata — centroids (one per list),
  * codebook (≤ 256·m rows), integer centroids, segment manifest — is
  * driver-held, written through [[graft.sources.VersionedTable.writeLocal]]
  * and handed to per-row kernels as literals, never joined against
  * corpus rows. Build reads the caller's plan once (one eager
  * checkpoint); assignment (append: nearest list) and probing
  * (search: nearest nProbe) are map-side
  * ([[Ivf.probe]] / [[graft.plans.NearestLists]]); encode is a per-row
  * projection ([[Pq.encode]] / [[graft.plans.PqEncode]]), so an append
  * writes its codes and sidecar with no shuffle at all. A probe
  * touches (a) the tiny centroid literal, (b) the codes table pruned
  * to the probed `list_id=` directories — a static IN filter from at
  * most nProbe×|queries| driver-collected ids, so at 1000 lists a
  * 2-probe query plan READS 0.2% of the code files — and (c) the
  * shortlist's refine-sidecar rows. The
  * per-(query, probed-list) distance tables are |q|·nProbe·m·|cb|
  * rows, broadcast by construction. Memory per corpus vector served:
  * m codes ≈ 8 bytes, the rung that makes 100 TB of embeddings
  * RAM-resident; the wvecs sidecar stays on disk and is only joined
  * for the top-`rerank` shortlist.
  *
  * Numeric contract: every stage inherits the ALL-INTEGER posture
  * ([[Pq]] codebooks/ADC/refine; [[Ivf.centroidsQuantized]] coarse
  * means), so the full train→encode→probe→ADC→refine trajectory
  * replays bit-identically in the DuckDB oracle (s11_ivfpq).
  *
  * Serving defaults (chosen from the r11 soak operating chart on a
  * 39.8k replica-dense corpus — `graft.Soak`'s ann_matrix): probe
  * count binds first (IVF recall@5 0.34→0.94 across 2→8 probes), so
  * serve at nProbe ≈ 8 for ~8–32 lists probed-share equivalents;
  * past that, on a NEAR-DUP-DENSE corpus the rerank cut — not code
  * fidelity — binds, because duplicate families quantize to
  * identical codes and ADC cannot order within a family: size
  * `rerank` ≥ k × the expected duplicate-family size (8probe recall
  * moved 0.34/0.22 at rerank=80 to 0.44/0.48 raw/residual at 400,
  * residual pulling ahead only once shortlists hold whole
  * families). Better still, dedup (SemDedup d11/d20) BEFORE
  * indexing — the pipeline's own posture — which collapses families
  * and returns the rerank knob to its k×small default.
  */
object Ivfpq {

  /** Train + persist: coarse centroids (from `listKey`'s seed
    * partition), PQ codebook, per-list-partitioned code table, and
    * the quantized-vector refine sidecar — versioned tables behind
    * atomic latest-pointers, the x7/s4/s10 lifecycle.
    *
    * `byResidual = true` is FAISS's default IVFPQ accuracy rung: the
    * PQ stage encodes x − c(list(x)) instead of x, so the codebooks
    * spend their entropy on WITHIN-list structure the coarse
    * quantizer already localized, not on re-describing list means.
    * The list centroid used for residuals is a SECOND, integer
    * representation — per-dim half-away-from-zero integer mean of
    * the quantized coordinates (`icent`, stored beside the float
    * probe centroids) — so residuals are exact integer vectors and
    * the whole residual pipeline (training included, via scale=1 on
    * the already-integer residuals) stays oracle-replayable. The
    * presence of `icent` is what marks an index residual for
    * [[searchIndex]]/[[appendToIndex]]. */
  def buildIndex(corpus: DataFrame, listKey: String, idCol: String,
      vecCol: String, dir: String, nCodes: Int = 32, iters: Int = 1,
      dsub: Int = 8, scale: Long = 10000L,
      centroidScale: Long = 1000000L, byResidual: Boolean = false): Unit = {
    // ONE materialization of the caller's plan: centroids, codebook
    // seeds, every Lloyd step, the encode and the sidecar all read it
    val in = corpus.select(col(idCol).as("id"), col(listKey).as("list_id"),
      col(vecCol).as("v")).localCheckpoint()
    graft.sources.VersionedTable.writeLocal(
      Ivf.centroidsQuantized(in, "list_id", "v", centroidScale), s"$dir/centroids")
    val w = in.select(col("id"), col("list_id"), Pq.quantize(col("v"), scale).as("w"))
    // raw: PQ over the quantized vectors; residual: over w − c(list)
    // against the integer centroids, already integer, so scale 1
    val (pqIn, pqCol, pqScale) =
      if (!byResidual) (in, "v", scale)
      else {
        graft.sources.VersionedTable.writeLocal(integerCentroids(w), s"$dir/icent")
        (residuals(w, graft.sources.VersionedTable.localRows(in.sparkSession,
          s"$dir/icent")), "rv", 1L)
      }
    val cb = Pq.fitCodebooks(pqIn, "id", pqCol, nCodes, dsub, pqScale, iters)
    graft.sources.VersionedTable.writeLocal(cb, s"$dir/cb")
    graft.sources.VersionedTable.writePartitioned(
      byList(Pq.encode(pqIn, Pq.codebook(cb, dsub), "id", pqCol, pqScale, Seq("list_id"))
        .select("id", "sub", "code", "list_id")), s"$dir/codes", "list_id")
    graft.sources.VersionedTable.write(
      w.select(col("id").as("n_id"), col("w").as("nw")), s"$dir/wvecs")
  }

  /** Code rows clustered by list for a base-table write: AQE's
    * rebalance packs small lists into one file each and splits
    * oversized ones, so the file count follows the data rather than
    * the input's partitioning. (Appends skip it: a segment is written
    * map-only, one file per list per input partition, until
    * compaction folds it.) */
  private def byList(codes: DataFrame): DataFrame = codes.hint("rebalance", col("list_id"))

  /** Per-list integer centroid of the quantized coordinates:
    * half-away-from-zero integer mean per dim ([[Pq.intRoundDiv]]),
    * reassembled as one array per list — exact, order-independent,
    * replayable. */
  private def integerCentroids(w: DataFrame): DataFrame =
    w.select(col("list_id"), posexplode(col("w")).as(Seq("dim", "x")))
      .groupBy("list_id", "dim")
      .agg(sum("x").as("s"), count(lit(1)).as("n"))
      .select(col("list_id"), col("dim"), Pq.intRoundDiv.as("cm"))
      .groupBy("list_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("cm")))).as("dc"))
      .select(col("list_id"),
        transform(col("dc"), s => s.getField("cm")).as("c"))

  /** (id, list_id, rv): exact integer residual vectors w − c(list),
    * the driver-held integer centroids (`icent` rows) looked up from a
    * literal map — a per-row projection, no join. */
  private def residuals(w: DataFrame, icent: Seq[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType, MapType}
    val byList = Literal.create(icent.map(r => r.get(0) -> r.getSeq[Long](1)).toMap,
      MapType(w.schema("list_id").dataType, ArrayType(LongType)))
    w.select(col("id"), col("list_id"),
      zip_with(col("w"), element_at(org.apache.spark.sql.GraftShims.column(byList),
        col("list_id")), (a, b) => a - b).as("rv"))
  }

  /** Append a batch of vectors WITHOUT retraining (FAISS's
    * add-after-train contract, composed: coarse-assign against the
    * FROZEN centroids, PQ-encode against the FROZEN codebook): the
    * delta lands as an append-only code segment
    * `segments/seg=<N>/list_id=<l>/` — the same per-list partitioning
    * as the base, so probe pruning works identically on segments —
    * plus its refine-sidecar rows under `wsegments/seg=<N>`. The
    * (tiny) segment manifest is a VersionedTable whose version
    * carries the `(lineage, batchId)` tag, making the append
    * IDEMPOTENT under streaming replay exactly like
    * [[Ivf.appendToIndex]] (a replay whose manifest already committed
    * is detected and skipped — without the tag a crash between the
    * manifest flip and the stream's batch marker would serve
    * duplicate codes forever). Returns the (new or already-committed)
    * segment id. */
  def appendToIndex(spark: SparkSession, dir: String, delta: DataFrame,
      idCol: String = "id", vecCol: String = "v",
      tag: Option[String] = None, dsub: Int = 8,
      scale: Long = 10000L): Long =
    Segments.append(spark, s"$dir/segmanifest", tag, s"$dir/segments", s"$dir/wsegments") { id =>
      // metadata-class reads (centroids/cb/icent) come from the
      // per-version LOCAL cache — bounded by design knobs, immutable
      // per version, and already seeded when this JVM wrote them
      val cents = Ivf.centroidBook(VersionedTable.readLatestLocal(spark, s"$dir/centroids"))
      val book = Pq.codebook(VersionedTable.readLatestLocal(spark, s"$dir/cb"), dsub)
      // EAGER: the caller's plan and the map-side assignment feed the
      // codes write AND the sidecar write; both then run map-only off
      // this checkpoint
      val assigned = Ivf.probe(delta.select(col(idCol).as("id"), col(vecCol).as("v")),
          cents, 1)
        .select(col("q_id").as("id"), col("list_id"), col("q_v").as("v"))
        .localCheckpoint()
      // residual index (icent present): encode x − c(list) against the
      // frozen codebook, same contract as the raw path
      val codes =
        if (VersionedTable.latestVersion(s"$dir/icent").isEmpty)
          Pq.encode(assigned, book, "id", "v", scale, Seq("list_id"))
        else {
          val wq = assigned.select(col("id"), col("list_id"),
            Pq.quantize(col("v"), scale).as("w"))
          Pq.encode(residuals(wq, VersionedTable.localRows(spark, s"$dir/icent")),
            book, "id", "rv", 1L, Seq("list_id"))
        }
      codes.select("id", "sub", "code", "list_id")
        .write.mode("errorifexists").partitionBy("list_id")
        .parquet(Segments.path(s"$dir/segments", id))
      assigned.select(col("id").as("n_id"), Pq.quantize(col("v"), scale).as("nw"))
        .write.mode("errorifexists").parquet(Segments.path(s"$dir/wsegments", id))
    }

  /** Compaction cadence (the [[Ivf.maintain]] contract): fold
    * segments into the base tables once the manifest exceeds
    * `maxSegments`, keeping the driver-held manifest and per-probe
    * segment unions O(maxSegments) forever. */
  def maintain(spark: SparkSession, dir: String,
      maxSegments: Int = 8): Option[Long] =
    Segments.maintain(spark, s"$dir/segmanifest", maxSegments)(compactSegments(spark, dir))

  /** Fold appended code/sidecar segments into the base versioned
    * tables: one new codes version (base ∪ segments, re-partitioned
    * by list) + one new wvecs version, then an empty manifest.
    * Superseded segment trees stay on disk for manifest rollback.
    * Both fold writes are tagged ([[Segments.compact]]): a crash
    * anywhere between the first fold write and the manifest flip
    * re-enters on the next maintain() call, reuses whichever folds
    * already committed and performs only the missing ones. */
  def compactSegments(spark: SparkSession, dir: String): Long =
    Segments.compact(spark, s"$dir/segmanifest",
      s"$dir/codes" -> (tag => VersionedTable.writePartitioned(
        byList(liveCodes(spark, dir)), s"$dir/codes", "list_id", Some(tag))),
      s"$dir/wvecs" -> (tag => VersionedTable.write(
        liveWvecs(spark, dir).hint("rebalance"), s"$dir/wvecs", Some(tag))))

  /** Base codes / sidecar ∪ the unfolded manifest-listed segments. */
  private def liveCodes(spark: SparkSession, dir: String): DataFrame =
    Segments.live(spark, s"$dir/codes", s"$dir/segments", s"$dir/segmanifest")

  private def liveWvecs(spark: SparkSession, dir: String): DataFrame =
    Segments.live(spark, s"$dir/wvecs", s"$dir/wsegments", s"$dir/segmanifest")

  /** Probe a persisted index: coarse probe against the stored
    * centroids, ADC over the probed lists' codes only (static
    * partition filter — on the base AND any appended segment trees,
    * which share the per-list layout), exact refine of the
    * top-`rerank` shortlist against the stored sidecar. Probing is
    * map-side ([[Ivf.probe]]), so the probed-id collect is one scan
    * of the query batch and the ADC join recomputes the same
    * deterministic probes — no checkpoint. The probed ids are
    * deduplicated on the driver — bounded by the list count, not the
    * query batch — and `maxInFilterLists` is the join-route fallback for
    * corpus-sized batches (the [[Ivf.searchIndex]] contract): past
    * the threshold the static IN filter is dropped and the inner ADC
    * join on (list_id, sub, code) restricts rows instead. */
  def searchIndex(spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 2,
      rerank: Int = 0, dsub: Int = 8, scale: Long = 10000L,
      maxInFilterLists: Int = 1000): DataFrame = {
    // per-version LOCAL metadata reads: centroids/cb/icent are
    // bounded by design knobs (nLists, 256·m codebook rows) and
    // immutable per version — no scan job per probe
    val probes = Ivf.probe(
      queries.select(col(idCol).as("id"), col(vecCol).as("v")),
      Ivf.centroidBook(graft.sources.VersionedTable
        .readLatestLocal(spark, s"$dir/centroids")), nProbe)
    val probedIds = Ivf.probedListIds(probes)
    val cb = graft.sources.VersionedTable.readLatestLocal(spark, s"$dir/cb")
    // per-(query, probed-list) distance tables: |q|·nProbe·m·|cb|
    // rows, broadcast-by-contract. Raw indexes share one table per
    // query across its probed lists; residual indexes genuinely need
    // one per (query, list) — the residual q − c(list) differs per
    // list, the known nProbe× table cost of by_residual
    val qdp =
      if (graft.sources.VersionedTable.latestVersion(s"$dir/icent").isEmpty) {
        val qd = Pq.subDistances(queries, cb, idCol, vecCol, dsub, scale)
          .select(col("id").as("q_id"), col("sub"), col("code"), col("d2"))
        qd.join(probes.select("q_id", "list_id"), "q_id")
      } else {
        val qr = residuals(probes.select(col("q_id").as("id"), col("list_id"),
            Pq.quantize(col("q_v"), scale).as("w")),
          graft.sources.VersionedTable.localRows(spark, s"$dir/icent"))
          .select(col("id").as("q_id"), col("list_id"), col("rv"))
        qr.select(col("q_id"), col("list_id"),
            posexplode(transform(
              sequence(lit(0), (size(col("rv")) / dsub).cast("int") - 1),
              s => slice(col("rv"), s * dsub + 1, lit(dsub))))
              .as(Seq("sub", "sv")))
          .join(broadcast(Pq.cbSubVectors(cb)), "sub")
          .select(col("q_id"), col("list_id"), col("sub"), col("code"),
            aggregate(zip_with(col("sv"), col("cv"),
              (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
              .as("d2"))
      }
    val codes =
      if (probedIds.length <= maxInFilterLists)
        liveCodes(spark, dir).filter(col("list_id").isin(probedIds: _*))
      else liveCodes(spark, dir)
    val adc = codes
      .select(col("id").as("n_id"), col("sub"), col("code"), col("list_id"))
      .join(broadcast(qdp), Seq("list_id", "sub", "code"))
      .groupBy("q_id", "n_id")
      .agg(sum("d2").as("adist"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adist").asc, col("n_id").asc)
    if (rerank <= 0)
      adc.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= k)
    else
      Pq.refine(adc, queries, liveWvecs(spark, dir),
        idCol, vecCol, k, rerank, scale)
  }

  /** Build-if-absent for a corpus derived from one data directory:
    * fingerprint-keyed on embeddings.parquet plus every knob,
    * orphan-swept via [[graft.sources.FingerprintCache]]. */
  def ensureIndex(corpus: DataFrame, listKey: String, idCol: String,
      vecCol: String, dataDir: String, nCodes: Int = 32, iters: Int = 1,
      dsub: Int = 8, scale: Long = 10000L,
      centroidScale: Long = 1000000L,
      byResidual: Boolean = false): String = synchronized {
    val f = new java.io.File(s"$dataDir/embeddings.parquet")
    val live = ":ivfpq:v1"
    val key = graft.operators.Retrieval.corpusFingerprintKey(f) +
      s":$listKey:$nCodes:$iters:$dsub:$scale:$centroidScale:$byResidual" + live
    val dir = graft.sources.FingerprintCache.prepare("graft_ivfpq", key, live)
    val tables = Seq("centroids", "cb", "codes", "wvecs") ++
      (if (byResidual) Seq("icent") else Seq.empty)
    if (tables.exists(t =>
        graft.sources.VersionedTable.latestVersion(s"$dir/$t").isEmpty))
      buildIndex(corpus, listKey, idCol, vecCol, dir,
        nCodes, iters, dsub, scale, centroidScale, byResidual)
    dir
  }
}
