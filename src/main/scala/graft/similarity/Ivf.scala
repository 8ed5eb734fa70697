package graft.similarity

import graft.functions.Vectors
import graft.sources.{Segments, VersionedTable}
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF-style ANN: partition the corpus into inverted lists by
  * nearest centroid; a query scans only its `nProbe` closest lists.
  *
  * Centroids here are per-partition mean vectors computed with one
  * explode + (partition, dim) aggregation — at 100 TB this is the
  * k-means-lite bootstrap; a production index would iterate the
  * assignment a few times (same two plan shapes per iteration).
  * Search cost per query: |corpus| * nProbe / nLists instead of
  * |corpus|; recall is tested against the brute-force baseline.
  */
object Ivf {

  /** Mean vector per list key (e.g. label): explode to
    * (key, dim, value), aggregate, reassemble ordered arrays. */
  def centroids(data: DataFrame, keyCol: String, vecCol: String): DataFrame =
    data.select(col(keyCol).as("list_id"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("list_id", "dim")
      .agg(avg("x").as("m"))
      .groupBy("list_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("list_id"), transform(col("dm"), s => s.getField("m")).as("centroid"))

  /** Deterministic centroids: coordinates quantize to integers
    * (round(x·scale)) BEFORE summing, so the per-dimension sum is
    * exact integer arithmetic — order-independent under any
    * partitioning/merge order — and the mean is one final double
    * division. This is the IVF coarse quantizer operating on a
    * quantized coordinate space (the s5 int-quantization idea applied
    * to index construction): bit-identical centroids across engines,
    * runs, AND cluster topologies, which float `avg` cannot give
    * (its sum order varies with partitioning). Recall cost of the
    * quantization is nil at scale=10⁶ — embedding coordinates carry
    * far less than 6 significant decimal digits of useful signal. */
  def centroidsQuantized(data: DataFrame, keyCol: String, vecCol: String,
      scale: Long = 1000000L): DataFrame =
    data.select(col(keyCol).as("list_id"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("list_id", "dim")
      .agg((sum(round(col("x") * scale).cast("long")).cast("double")
        / (count(lit(1)) * scale.toDouble)).as("m"))
      .groupBy("list_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("list_id"), transform(col("dm"), s => s.getField("m")).as("centroid"))

  /** One Lloyd step: re-assign every vector to its nearest current
    * centroid, then recompute the means. Iterating this pair of plan
    * shapes is k-means — each step is one broadcast (centroids are
    * tiny) plus one (list, dim) shuffle, so an iteration costs the
    * same at any corpus size per pass. */
  def lloydStep(data: DataFrame, vecCol: String, cents: DataFrame): DataFrame = {
    // argmin aggregate, not a row_number window (r18): the window
    // shuffled the FULL |vecs|·k scored fan-out (vector array
    // included) and sorted every id-group; min(struct(-cos, list))
    // combines map-side so only |vecs| rows shuffle — bit-identical
    // assignment (cosine rounded to 4 dp before comparison, ties on
    // list_id asc). Shared with graft.dedup.SemDedup.assignNearest.
    val assigned = graft.dedup.SemDedup.assignNearest(
        data.select(col("id"), col(vecCol).as("v")), cents)
      .select(col("id"), col("v"), col("cluster_id").as("list_id"))
    centroids(assigned, "list_id", "v")
  }

  /** k-means-refined lists: seed from an existing coarse key (or any
    * partition), run `iters` Lloyd steps, return the final
    * assignment (id, v, list_id) ready for `search`. */
  def kmeansAssign(data: DataFrame, seedKey: String, vecCol: String,
      iters: Int): DataFrame = {
    var cents = centroids(data.select(col("id"), col(vecCol).as("v"),
      col(seedKey)), seedKey, "v")
    (0 until iters).foreach { _ =>
      cents = lloydStep(data.select(col("id"), col(vecCol).as("v")), "v", cents)
    }
    val scored = data.select(col("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cents))
      .select(col("id"), col("v"), col("list_id"),
        Vectors.cosine4(col("v"), col("centroid")).as("c_cos"))
    val w = Window.partitionBy("id").orderBy(col("c_cos").desc, col("list_id").asc)
    scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select("id", "v", "list_id")
  }

  /** A driver-held centroid table (list_id, centroid) as the probe
    * kernel's literal — collected here, which launches no job when
    * the table is already local ([[graft.sources.VersionedTable.readLatestLocal]]);
    * list ids keep their type and sort ascending, nulls first. */
  def centroidBook(cents: DataFrame): graft.plans.CentroidBook = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val idType = cents.schema("list_id").dataType
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(idType)
    val rows = cents.select("list_id", "centroid").collect()
      .map(r => (CatalystTypeConverters.convertToCatalyst(r.get(0)),
        r.getSeq[Double](1).toArray))
      .sortWith { case ((a, _), (b, _)) =>
        if (a == null) b != null else b != null && ord.lt(a, b) }
    new graft.plans.CentroidBook(rows.map(_._1), idType, rows.map(_._2),
      org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
  }

  /** Map-side probe: each query (id, v) paired with its `nProbe`
    * nearest lists — (q_id, q_v, list_id) — ranked by `cosine4`
    * descending, ties to the smaller list_id, computed per row by
    * the native [[graft.plans.NearestLists]] kernel against the
    * driver-held centroids. No join, no window, no shuffle: append
    * assigns with nProbe = 1, search probes with its nProbe. */
  def probe(queries: DataFrame, cents: graft.plans.CentroidBook,
      nProbe: Int): DataFrame =
    queries.select(col("id").as("q_id"), col("v").as("q_v"),
      explode(graft.plans.VectorExpr.nearestLists(col("v"), cents, nProbe))
        .as("list_id"))

  /** Persist an IVF index: centroids and list assignments land as two
    * versioned tables behind atomic latest-pointers — build once,
    * search many, with the same publish-then-swap lifecycle as the
    * serving index (readers never see a half-built index; a rebuild
    * is a new version + swap, and rollback is `swapTo`). The
    * assignment side stores (id, v, list_id) partitioned BY list_id,
    * so a probe's list scan prunes at the file level — at 100 TB a
    * 2-probe query touches nProbe/nLists of the corpus files, nothing
    * else. */
  def buildIndex(data: DataFrame, listKey: String, vecCol: String, dir: String,
      centroidScale: Long = 1000000L): (Long, Long) = {
    val cents = centroidsQuantized(data, listKey, vecCol, centroidScale)
    val lists = data.select(col("id"), col(vecCol).as("v"),
      col(listKey).as("list_id"))
    val cv = graft.sources.VersionedTable.writeLocal(cents, s"$dir/centroids")
    val lv = graft.sources.VersionedTable.writePartitioned(lists,
      s"$dir/lists", "list_id")
    (cv, lv)
  }

  /** Append a batch of vectors to a persisted index WITHOUT touching
    * the base assignment table (FAISS's add-after-train contract):
    * the delta is assigned against the FROZEN centroid table (prior
    * assignments stay valid by construction) and lands as an
    * append-only segment tree `segments/seg=<N>/list_id=<l>/` — same
    * per-list partitioning as the base, so probe pruning works
    * identically on segments. The (tiny) segment manifest is a
    * VersionedTable, so each append flips atomically and rollback is
    * a pointer swap. Centroid drift from accumulated appends is
    * repaired by a periodic [[buildIndex]] re-train + [[compactSegments]]
    * — exactly Lucene's add-then-merge rhythm applied to ANN.
    *
    * `tag` makes the append idempotent under streaming replay
    * ([[Segments.append]]): a replayed `(lineage, batchId)` whose
    * manifest already committed is skipped. Returns the (new or
    * already-committed) segment id. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      delta: DataFrame, tag: Option[String] = None): Long =
    Segments.append(spark, s"$dir/segmanifest", tag, s"$dir/segments") { id =>
      // the centroid read uses the per-version LOCAL cache: the table
      // is metadata-class (bounded by the list-count knob) and
      // immutable per version
      val cents = centroidBook(VersionedTable.readLatestLocal(spark, s"$dir/centroids"))
      probe(delta.select(col("id"), col("v")), cents, 1)
        .select(col("q_id").as("id"), col("q_v").as("v"), col("list_id"))
        .write.mode("errorifexists").partitionBy("list_id")
        .parquet(Segments.path(s"$dir/segments", id))
    }

  /** Compaction-cadence contract (same bound as
    * [[graft.operators.SegmentedBm25.maintain]]): call after every
    * append — [[graft.streaming.IvfStream]] does — and the segment
    * manifest folds into the base table whenever it exceeds
    * `maxSegments` ([[Segments.maintain]]), so the driver-held manifest
    * and the per-probe segment union stay O(maxSegments) forever,
    * independent of how many micro-batches the index has absorbed. */
  def maintain(spark: org.apache.spark.sql.SparkSession, dir: String,
      maxSegments: Int = 8): Option[Long] =
    Segments.maintain(spark, s"$dir/segmanifest", maxSegments)(compactSegments(spark, dir))

  /** Fold appended segments into the base assignment table: one new
    * lists version containing base ∪ segments, and an empty manifest,
    * idempotent under a crash anywhere in between ([[Segments.compact]]).
    * Superseded segment trees stay on disk for manifest rollback. */
  def compactSegments(spark: org.apache.spark.sql.SparkSession, dir: String): Long =
    Segments.compact(spark, s"$dir/segmanifest", s"$dir/lists" -> (tag =>
      VersionedTable.writePartitioned(liveLists(spark, dir), s"$dir/lists", "list_id",
        Some(tag))))

  /** Base assignments ∪ the unfolded manifest-listed segments. */
  private def liveLists(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Segments.live(spark, s"$dir/lists", s"$dir/segments", s"$dir/segmanifest")

  /** Search a persisted index: probe selection reads only the (tiny)
    * centroid table; the DISTINCT probed list ids — bounded by the
    * number of lists (= centroid rows), NOT by the query-batch size,
    * so the collect is driver-safe at any batch size — become a
    * static `list_id IN (...)` partition filter, so the file scan
    * PRUNES to the probed directories before reading a byte (the
    * whole point of building the index partitioned) — on the base
    * AND on any appended segment trees, which share the per-list
    * layout. Probing is map-side ([[probe]]), so the id collect is one
    * scan of the query batch and needs no checkpoint: the scoring join
    * recomputes the same deterministic probes.
    *
    * `maxInFilterLists` is the join-route fallback for corpus-sized
    * query batches: once a batch probes more distinct lists than
    * this, the static IN expression stops paying (a thousands-long
    * predicate bloats the plan, and near-total list coverage means
    * the scan prunes almost nothing) — the filter is dropped and the
    * inner join on list_id restricts rows instead, a plain
    * distributed plan with no driver-sized expression. Results are
    * identical on either route (spec-proven); the probed-list count
    * alone picks the plan. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, nProbe: Int,
      maxInFilterLists: Int = 1000): DataFrame = {
    // per-version LOCAL centroid read: bounded by the list count,
    // immutable per version — no scan job per probe
    val cents = centroidBook(graft.sources.VersionedTable
      .readLatestLocal(spark, s"$dir/centroids"))
    val lists = liveLists(spark, dir)
    val probes = probe(queries, cents, nProbe)
    val probedIds = probedListIds(probes)
    val pruned =
      if (probedIds.length <= maxInFilterLists)
        lists.filter(col("list_id").isin(probedIds: _*))
      else lists
    val scored = probes.join(pruned, "list_id")
      .select(col("q_id"), col("id").as("n_id"),
        Vectors.cosine4(col("q_v"), col("v")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("q_id", "n_id", "cos", "rank")
  }

  /** The distinct list ids a probe frame touches: |queries|·nProbe
    * rows collected (the query batch is driver-bounded by contract —
    * its ADC tables broadcast) and deduplicated on the driver, one
    * job with no shuffle. */
  private[similarity] def probedListIds(probes: DataFrame): Array[Any] =
    probes.select("list_id").collect().map(_.get(0)).distinct

  /** Filtered IVF search — ANN under a metadata predicate, the
    * production "vector search with a WHERE clause" run through the
    * index instead of brute force (s6's semantics on s4's plan). The
    * centroids come from the FULL corpus: one index serves every
    * filter (rebuilding per predicate is the anti-pattern — at 100 TB
    * the index is the expensive artifact and filters are ad hoc).
    * The predicate (`keepCol`, precomputed by the caller so any
    * metadata join happens once) composes into the probed-list scan
    * BEFORE scoring — pre-filtering, so only admitted vectors inside
    * probed lists are scored and a selective filter makes the query
    * CHEAPER, never "score then discard" (post-filtering's silent
    * k-under-fill is visible here as an honestly shorter result).
    * Same cost shape as [[search]]: |corpus|·nProbe/nLists rows
    * scored, scaled down by the filter's selectivity inside the
    * probed lists. */
  def searchFiltered(queries: DataFrame, data: DataFrame, listKey: String,
      keepCol: String, k: Int, nProbe: Int,
      centroidScale: Long = 0L): DataFrame = {
    val probes = probe(queries, centroidBook(listCentroids(data, listKey,
      centroidScale)), nProbe)
    val lists = data.filter(col(keepCol))
      .select(col("id").as("n_id"), col("v").as("n_v"),
        col(listKey).as("list_id"))
    val scored = probes.join(lists, "list_id")
      .select(col("q_id"), col("n_id"),
        Vectors.cosine4(col("q_v"), col("n_v")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Top-k cosine neighbors per query, searching only probed lists.
    * `data`: (id, v, <listKey>). With `centroidScale > 0` the list
    * centroids come from [[centroidsQuantized]] — deterministic
    * probes, which is what lets the s4 query be hash-checked against
    * the DuckDB oracle; 0 keeps the float-avg centroids. The
    * centroids (one row per list) are collected when the plan is
    * built and probed map-side by [[probe]]. */
  def search(queries: DataFrame, data: DataFrame, listKey: String,
      k: Int, nProbe: Int, centroidScale: Long = 0L): DataFrame = {
    val probes = probe(queries, centroidBook(listCentroids(data, listKey,
      centroidScale)), nProbe)
    val lists = data.select(col("id").as("n_id"), col("v").as("n_v"),
      col(listKey).as("list_id"))
    val scored = probes.join(lists, "list_id")
      .select(col("q_id"), col("n_id"),
        Vectors.cosine4(col("q_v"), col("n_v")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  private def listCentroids(data: DataFrame, listKey: String,
      centroidScale: Long): DataFrame =
    if (centroidScale > 0) centroidsQuantized(data, listKey, "v", centroidScale)
    else centroids(data, listKey, "v")
}
