package graft.similarity

import graft.functions.Vectors
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

  /** Manifest-listed segment trees only: the `root/seg=<N>` paths
    * under `basePath`, read with the base table's schema, so file
    * listing covers the live segments and never the superseded trees
    * compaction leaves on disk (the SegmentedBm25.readSegs fix). */
  private[similarity] def readSegments(spark: org.apache.spark.sql.SparkSession,
      root: String, segs: Seq[Long],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("basePath", root).schema(schema)
      .parquet(segs.map(s => s"$root/seg=$s"): _*)

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
    * `tag` makes the append IDEMPOTENT under streaming replay
    * (VocabIndex's tag protocol): the manifest version that lists the
    * new segment carries the `(lineage, batchId)` tag, so a replayed
    * batch whose manifest already committed is detected and SKIPPED
    * (finishing the pointer swap if the crash interrupted it) instead
    * of re-appending the same vectors as a second live segment —
    * unlike BM25's tombstone merge, an IVF re-append has no
    * replacement semantics, so without the tag a crash between the
    * manifest flip and the stream's batch marker would serve
    * duplicate (id, v) rows forever. Returns the (new or
    * already-committed) segment id. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      delta: DataFrame, tag: Option[String] = None): Long = {
    val manifestDir0 = s"$dir/segmanifest"
    tag.flatMap(t =>
        graft.sources.VersionedTable.taggedVersion(manifestDir0, t)) match {
      case Some(v) =>
        if (graft.sources.VersionedTable.latestVersion(manifestDir0).forall(_ < v))
          graft.sources.VersionedTable.swapTo(manifestDir0, v)
        return spark.read.parquet(s"$manifestDir0/v=$v")
          .agg(max("seg_id")).head.getLong(0)
      case None => ()
    }
    // centroid/manifest reads on this path use the per-version LOCAL
    // cache: both tables are metadata-class (bounded by the list-count
    // knob / the maintain() cadence) and immutable per version
    val cents = centroidBook(graft.sources.VersionedTable
      .readLatestLocal(spark, s"$dir/centroids"))
    val assigned = probe(delta.select(col("id"), col("v")), cents, 1)
      .select(col("q_id").as("id"), col("q_v").as("v"), col("list_id"))
    val manifestDir = s"$dir/segmanifest"
    val prior = manifestSegs(spark, manifestDir)
    // skip past orphan seg dirs from crashed appends too (mirrors
    // SegmentedBm25.listSegDirs): a crash between the segment write
    // and the manifest flip leaves segments/seg=N on disk with no
    // manifest row — deriving segId from the manifest alone would
    // recompute the same id and die forever on errorifexists,
    // wedging IvfStream's foreachBatch replay
    val onDisk: Seq[Long] = {
      val d = new java.io.File(s"$dir/segments")
      if (!d.exists()) Seq.empty
      else d.listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("seg="))
        .map(_.getName.stripPrefix("seg=").toLong)
    }
    val segId = ((prior ++ onDisk) :+ 0L).max + 1
    assigned.write.mode("errorifexists").partitionBy("list_id")
      .parquet(s"$dir/segments/seg=$segId")
    import spark.implicits._
    graft.sources.VersionedTable.writeLocal(
      (prior :+ segId).toDF("seg_id"), manifestDir, tag)
    segId
  }

  /** Segment ids listed by the serving manifest version — driver-held
    * rows, no job once cached; empty before the first append. */
  private[similarity] def manifestSegs(spark: org.apache.spark.sql.SparkSession,
      manifestDir: String): Seq[Long] =
    graft.sources.VersionedTable.latestVersion(manifestDir)
      .map(_ => graft.sources.VersionedTable.localRows(spark, manifestDir)
        .map(_.getLong(0)))
      .getOrElse(Seq.empty)

  /** Compaction-cadence contract (same bound as
    * [[graft.operators.SegmentedBm25.maintain]]): call after every
    * append — [[graft.streaming.IvfStream]] does — and the segment
    * manifest folds into the base table whenever it exceeds
    * `maxSegments`, so the driver-side manifest `collect()` and the
    * per-probe segment union stay O(maxSegments) forever, independent
    * of how many micro-batches the index has absorbed. */
  def maintain(spark: org.apache.spark.sql.SparkSession, dir: String,
      maxSegments: Int = 8): Option[Long] = {
    // counted from the driver-held manifest rows: a count() on the
    // local relation would still launch jobs
    if (manifestSegs(spark, s"$dir/segmanifest").size > maxSegments)
      Some(compactSegments(spark, dir))
    else None
  }

  /** Fold appended segments into the base assignment table: one new
    * lists version containing base ∪ segments, and an empty manifest.
    * Superseded segment trees stay on disk for manifest rollback.
    *
    * The fold is made IDEMPOTENT by tagging the new lists version
    * with the folded segment-id set (seg ids strictly increase, so
    * the set names this fold uniquely): a crash between the lists
    * swap and the manifest flip would otherwise serve base ∪
    * segments as DUPLICATES forever — and a retrying compact would
    * re-fold the duplicated base and compound them. With the tag,
    * the retry (the next maintain() call — the manifest still
    * exceeds the bound) finds the committed fold, finishes the
    * pointer swap if it was lost, and just empties the manifest;
    * the duplicate-serving window closes at recovery instead of
    * never. */
  def compactSegments(spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val segs = manifestSegs(spark, s"$dir/segmanifest").sorted
    val tag = "compact:" + segs.mkString(",")
    val listsDir = s"$dir/lists"
    val lv = graft.sources.VersionedTable.taggedVersion(listsDir, tag) match {
      case Some(v) =>
        if (graft.sources.VersionedTable.latestVersion(listsDir).forall(_ < v))
          graft.sources.VersionedTable.swapTo(listsDir, v)
        v
      case None =>
        graft.sources.VersionedTable.writePartitioned(
          liveLists(spark, dir).select("id", "v", "list_id"),
          listsDir, "list_id", Some(tag))
    }
    import spark.implicits._
    graft.sources.VersionedTable.writeLocal(
      Seq.empty[Long].toDF("seg_id"), s"$dir/segmanifest")
    lv
  }

  /** Segment ids already folded into `tableDir`'s SERVING version,
    * parsed from its `compact:` tag. Live readers subtract these from
    * the manifest, which closes two windows in the compaction
    * protocol: (a) between a committed fold swap and the
    * manifest-empty write — a window that exists on EVERY normal
    * compaction — a concurrent probe would otherwise read base ∪
    * still-listed segments and serve every folded row twice; (b) an
    * out-of-band append landing between a crashed fold and its
    * retry changes the manifest (and so the retry's fold tag), and
    * the retry would otherwise union the already-folded segments
    * again as duplicates. With the subtraction, live reads are
    * exactly base ∪ unfolded segments at every point of the
    * protocol, concurrent or replayed. */
  private[similarity] def foldedSegIds(tableDir: String): Set[Long] =
    graft.sources.VersionedTable.servingTag(tableDir) match {
      case Some(t) if t.startsWith("compact:") =>
        t.stripPrefix("compact:").split(",")
          .iterator.filter(_.nonEmpty).map(_.toLong).toSet
      case _ => Set.empty
    }

  /** Base assignments ∪ manifest-listed segments not already folded
    * into the serving base version (see [[foldedSegIds]]). */
  private def liveLists(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val base = graft.sources.VersionedTable.readLatest(spark, s"$dir/lists")
    val folded = foldedSegIds(s"$dir/lists")
    val segs = manifestSegs(spark, s"$dir/segmanifest").filterNot(folded)
    if (segs.isEmpty) base
    else base.unionByName(readSegments(spark, s"$dir/segments", segs, base.schema)
      .select("id", "v", "list_id"))
  }

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
