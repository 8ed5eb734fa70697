package graft.operators

import graft.sources.{FingerprintCache, Segments, VersionedTable}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally maintained BM25 index — the Lucene/Solr segment
  * model re-expressed on parquet + one atomic pointer (the
  * reference's Solr collections are fed INCREMENTALLY by the harvest
  * loop: new-updated/ record sets are posted, deleted/ sets removed,
  * and readers keep serving throughout — harvest.py:185-208 +
  * solr_api_utils.py's alias lifecycle).
  *
  * Layout under `indexDir`:
  *  - `segdata/seg=<N>/tok_bucket=<b>/` — per-segment postings
  *    (doc_id, dl, tok, tf), append-only, bucket-partitioned like
  *    the [[Retrieval.buildIndex]] table so query-term pruning works
  *    per segment.
  *  - `docmeta/seg=<N>/` — per-segment (doc_id, dl) sidecar, one
  *    unpartitioned write derived from the batch with the postings'
  *    tokenisation (a null text has no postings and no entry). The
  *    replacement probe joins the batch's ids against every live
  *    prior sidecar: hash buckets by doc id would not prune it, since
  *    a batch of n ≥ 265 ids leaves fewer than one of 64 buckets empty
  *    in expectation.
  *  - `manifest/` — a driver-held [[VersionedTable]] (written with
  *    `writeLocal`, read with `localRows`) whose single atomic pointer
  *    makes every append all-or-nothing for readers: one `seg` row per
  *    live segment (with its exact doc-count/length stats, observed on
  *    the sidecar write) and one `tomb` row per superseded document
  *    copy (doc_id, before_seg, dl) — postings of `doc_id` in segments
  *    `< before_seg` are dead. A crash between the segment write and
  *    the manifest flip leaves an orphan directory the manifest never
  *    references (and the next seg id skips past it).
  *
  * Segment reads declare their schema, so Spark runs no parquet
  * schema-inference job. Search reads only the manifest-listed
  * segments' `tok_bucket` leaf directories of the query terms (no
  * parallel listing job while there are at most 32 of them), keeps
  * the `tok_bucket IN (…)` partition filter, anti-joins the
  * tombstones (equi-keyed on doc_id) and takes nDocs/avgdl from the
  * manifest's per-segment/per-tomb numbers on the driver — no
  * aggregation over the corpus or the manifest on any query path.
  * [[compact]] folds live postings into one fresh segment and drops
  * all tombstones (Solr's merge), bounding both the segment count and
  * the tombstone anti-join side.
  *
  * Scale shape: an append costs one postings aggregate, one sidecar
  * distinct and, once the index has segments, one probe join of the
  * batch ids against the live sidecars (O(live docs) scan, O(batch)
  * result). The manifest is O(live segments + tombstones since the
  * last compact) rows under the [[maintain]] cadence and must stay
  * within [[VersionedTable.MetadataRows]]; a single batch replacing
  * more documents than that needs a compact in between.
  *
  * Ids are long (cast upstream; dictionary-encode string ids first).
  */
object SegmentedBm25 {

  /** Doc-hash bucket count of the earlier `docmeta/seg=<N>/doc_bucket=<b>/`
    * sidecar layout, which segments no longer write. An index written
    * in that layout takes one [[compact]] before its next append:
    * compact reads postings only and writes the new sidecar. */
  val DocBuckets = 64

  private def manifestDir(indexDir: String) = s"$indexDir/manifest"
  private def segDataRoot(indexDir: String) = s"$indexDir/segdata"
  private def docMetaRoot(indexDir: String) = s"$indexDir/docmeta"

  private val manifestSchema = StructType(Seq(
    StructField("kind", StringType),
    StructField("seg_id", LongType),
    StructField("n_docs", LongType),
    StructField("total_len", LongType),
    StructField("n_buckets", IntegerType),
    StructField("doc_id", LongType),
    StructField("before_seg", LongType),
    StructField("dl", LongType)))

  // declared read schemas, partition columns last
  private val postingsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType),
    StructField("tok", StringType), StructField("tf", LongType),
    StructField("seg", LongType), StructField("tok_bucket", LongType)))
  private val docMetaSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType),
    StructField("seg", LongType)))

  private def tokBucket(nBuckets: Int) =
    pmod(xxhash64(col("tok")), lit(nBuckets.toLong))

  /** The serving manifest, split on the driver. */
  private final case class Manifest(rows: Seq[Row]) {
    val segs: Seq[Row] = rows.filter(_.getString(0) == "seg")
    val tombs: Seq[Row] = rows.filter(_.getString(0) == "tomb")
    def segIds: Seq[Long] = segs.map(_.getLong(1))
    def nDocs: Long = segs.map(_.getLong(2)).sum - tombs.size
    def totalLen: Long = segs.map(_.getLong(3)).sum - tombs.map(_.getLong(7)).sum
    def bucketCounts: Seq[Int] = segs.map(_.getInt(4)).distinct

    /** (t_doc, before_seg) as a local relation for the anti-joins. */
    def tombFrame(spark: SparkSession): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        tombs.map(r => Row(r.getLong(5), r.getLong(6))).asJava,
        StructType(Seq(StructField("t_doc", LongType),
          StructField("before_seg", LongType))))
    }
  }

  private def readManifest(spark: SparkSession, indexDir: String): Option[Manifest] =
    VersionedTable.latestVersion(manifestDir(indexDir))
      .map(_ => Manifest(VersionedTable.localRows(spark, manifestDir(indexDir))))

  private def servingManifest(spark: SparkSession, indexDir: String): Manifest =
    readManifest(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"no segmented index at $indexDir"))

  private def writeManifest(spark: SparkSession, indexDir: String,
      rows: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    VersionedTable.writeLocal(spark.createDataFrame(rows.asJava, manifestSchema),
      manifestDir(indexDir))
    ()
  }

  private def segRow(segId: Long, nDocs: Long, totalLen: Long, nBuckets: Int) =
    Row("seg", segId, nDocs, totalLen, nBuckets, null, null, null)

  private def dropTombstoned(df: DataFrame, tombs: DataFrame): DataFrame =
    df.join(tombs,
      col("doc_id") === col("t_doc") && col("seg") < col("before_seg"),
      "left_anti")

  /** Write a (doc_id, dl) sidecar; its (row count, Σ dl) are observed
    * on the write itself — the segment's manifest stats. */
  private def writeDocMeta(dm: DataFrame, path: String): (Long, Long) = {
    val obs = Observation()
    dm.observe(obs, count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("len"))
      .write.mode("errorifexists").parquet(path)
    val m = obs.get
    (m("n").asInstanceOf[Long], m("len").asInstanceOf[Long])
  }

  /** Append one batch of documents as a new segment. Documents whose
    * id already exists in a live prior segment are REPLACED: their
    * previous copy is tombstoned (found by joining the batch's ids
    * against the live prior sidecars, and the tombstone carries the
    * old dl so global stats stay exact). Returns the new segment id. */
  def append(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, nBuckets: Int = Retrieval.TfBuckets): Long = {
    val spark = docs.sparkSession
    val prior = readManifest(spark, indexDir).getOrElse(Manifest(Seq.empty))
    // tok_bucket values are hash(tok) mod n_buckets: a segment written
    // with a different bucket count would silently miss postings under
    // the isin pruning in search/compact — refuse mixed counts up
    // front (compact + rebuild to change the bucket count)
    val priorNb = prior.bucketCounts
    require(priorNb.forall(_ == nBuckets),
      s"append nBuckets=$nBuckets but index has n_buckets=${priorNb.mkString(",")}; " +
        "bucket pruning requires one uniform count per index")
    val segId = Segments.nextId(prior.segIds, segDataRoot(indexDir), docMetaRoot(indexDir))

    val (id, text) = (col(idCol).cast("long"), col(textCol))
    Retrieval.termFrequencies(docs, id, text)
      .withColumn("tok_bucket", tokBucket(nBuckets))
      .write.mode("errorifexists").partitionBy("tok_bucket")
      .parquet(Segments.path(segDataRoot(indexDir), segId))
    // the postings' (doc_id, dl) pairs without their aggregate: a null
    // text has no postings
    val (nNew, lenNew) = writeDocMeta(
      docs.filter(text.isNotNull)
        .select(id.as("doc_id"), size(Retrieval.tokens(text)).cast("long").as("dl"))
        .distinct(),
      Segments.path(docMetaRoot(indexDir), segId))

    val tombNew =
      if (prior.segs.isEmpty) Seq.empty
      else replacedCopies(spark, indexDir, prior, segId)
        .map(r => Row("tomb", null, null, null, null, r.getLong(0), segId, r.getLong(1)))
    writeManifest(spark, indexDir,
      prior.rows ++ (segRow(segId, nNew, lenNew, nBuckets) +: tombNew))
    segId
  }

  /** (doc_id, dl) of the live prior copy of every document of segment
    * `segId` — manifest-listed prior sidecars ONLY (explicit paths):
    * orphan docmeta dirs a crashed/replayed append left behind must not
    * be read (they'd tombstone "prior copies" the manifest never
    * served, corrupting nDocs/avgdl), and superseded dirs awaiting
    * vacuum must not even be LISTED. */
  private def replacedCopies(spark: SparkSession, indexDir: String,
      prior: Manifest, segId: Long): Seq[Row] = {
    val root = docMetaRoot(indexDir)
    val batchIds = Segments.read(spark, root, Seq(segId), docMetaSchema).select("doc_id")
    // invariant: at most one live prior copy per doc (every earlier
    // copy was tombstoned by ITS replacing append) — the max-struct is
    // a belt against manual segment surgery
    dropTombstoned(
        Segments.read(spark, root, prior.segIds, docMetaSchema).join(batchIds, "doc_id"),
        prior.tombFrame(spark))
      .groupBy("doc_id")
      .agg(max(struct(col("seg"), col("dl"))).as("s"))
      .select(col("doc_id"), col("s.dl"))
      .collect().toSeq
  }

  /** Search the live index: manifest-listed segments only, read as
    * the query-term bucket leaves, tombstoned copies anti-joined out,
    * global stats from the manifest's exact numbers (driver
    * arithmetic — never a corpus scan). Same driver-side query
    * handling as [[Retrieval.searchIndex]]. */
  def search(spark: SparkSession, indexDir: String, queries: DataFrame,
      idCol: String, textCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val m = servingManifest(spark, indexDir)
    // append enforces uniformity; this guards manual segment surgery —
    // mixed counts would silently drop matching postings under pruning
    val nbs = m.bucketCounts
    require(nbs.length == 1, s"segments disagree on n_buckets at $indexDir; compact to repair")
    val avgdl = m.totalLen.toDouble / m.nDocs

    val qRows = Retrieval.queryTerms(queries, idCol, textCol)
      .withColumn("__tb", tokBucket(nbs.head)).collect()
    val buckets = qRows.map(_.getAs[Long]("__tb")).distinct.toSeq
    val qSchema = StructType(Seq(
      StructField("q_id", queries.schema(idCol).dataType),
      StructField("tok", StringType)))
    val qTerms = spark.createDataFrame(
      java.util.Arrays.asList(qRows.map(r => Row(r.get(0), r.get(1))): _*), qSchema)

    val live = dropTombstoned(
      Segments.read(spark, segDataRoot(indexDir), m.segIds, postingsSchema,
          buckets.map(b => s"tok_bucket=$b"))
        .filter(col("tok_bucket").isin(buckets: _*)),
      m.tombFrame(spark))
    Retrieval.scoreBm25(live, m.nDocs, avgdl, qTerms, k, k1, b)
  }

  /** Build-if-absent convenience mirroring [[Retrieval.ensureIndex]]'s
    * fingerprint contract (keyed on the dataset's documents.parquet
    * plus a tag so differently-shaped demo indexes don't collide). */
  def ensureIndex(dataDir: String, tag: String)(build: String => Unit): String =
    synchronized {
      val f = new java.io.File(s"$dataDir/documents.parquet")
      val live = ":segbm25:v2"
      val key =
        s"${f.getAbsolutePath}:${f.lastModified}:${f.length}:$tag$live"
      val dir = FingerprintCache.prepare("graft_segbm25", key, live)
      if (VersionedTable.latestVersion(manifestDir(dir)).isEmpty) build(dir)
      dir
    }

  /** Compaction-cadence contract (the bound that keeps a year of
    * micro-batches from growing the driver-side manifest without
    * limit): call after every append — the streaming maintainer
    * [[graft.streaming.Bm25Stream]] does — and compaction fires
    * whenever live segments exceed `maxSegments` OR tombstones exceed
    * `maxTombPct`% of live docs (dead postings ride along in every
    * probe until compacted away). Under that cadence the manifest
    * holds ≤ maxSegments+1 seg rows plus only the tombstones created
    * since the last compact — which at most `maxSegments` appends ago
    * — so the driver-held manifest stays O(maxSegments + recent batch
    * sizes) FOREVER, independent of index age or total corpus size.
    * The thresholds are driver arithmetic on the cached manifest: an
    * idle call launches no job. Returns the compacted segment id when
    * compaction ran. */
  def maintain(spark: SparkSession, indexDir: String, maxSegments: Int = 8,
      maxTombPct: Int = 20, keepManifests: Int = 3): Option[Long] =
    readManifest(spark, indexDir).flatMap { m =>
      val nTomb = m.tombs.size.toLong
      if (m.segs.size > maxSegments || nTomb * 100L > m.nDocs.max(1L) * maxTombPct) {
        val seg = compact(spark, indexDir)
        vacuum(spark, indexDir, keepManifests)
        Some(seg)
      } else None
    }

  /** Bound on-disk state by index LIVENESS instead of index AGE:
    * prune manifest history to the newest `keepManifests` versions
    * (the rollback window) and delete every segment directory no
    * retained manifest version references. Without this, superseded
    * segments and manifest versions accumulate one per append
    * forever; with it, total directory count is O(live segments +
    * rollback window) no matter how many micro-batches the index has
    * absorbed. Single-writer contract (same as append/compact): must
    * not run concurrently with an append — a not-yet-committed
    * segment is protected only by being newer than every referenced
    * id, which a racing append can violate. */
  def vacuum(spark: SparkSession, indexDir: String,
      keepManifests: Int = 3): Unit = {
    val mDir = manifestDir(indexDir)
    if (VersionedTable.latestVersion(mDir).isEmpty) return
    VersionedTable.pruneVersions(mDir, keepManifests)
    // the retained versions in one read: the serving one is cached on
    // the driver, but rollback targets are not
    val referenced = spark.read.schema(manifestSchema)
      .parquet(VersionedTable.listVersions(mDir).map(v => s"$mDir/v=$v"): _*)
      .filter(col("kind") === "seg").select("seg_id").distinct()
      .collect().map(_.getLong(0)).toSet
    Segments.vacuum(referenced, segDataRoot(indexDir), docMetaRoot(indexDir))
  }

  /** Fold all live postings into one fresh segment and clear the
    * tombstones (Solr/Lucene merge): bounds the segment count and the
    * anti-join side. Superseded segment directories stay on disk for
    * manifest-version rollback. Returns the new segment id. */
  def compact(spark: SparkSession, indexDir: String): Long = {
    val m = servingManifest(spark, indexDir)
    val nbs = m.bucketCounts
    require(nbs.length == 1,
      s"segments disagree on n_buckets (${nbs.mkString(",")}) at $indexDir")
    val segId = Segments.nextId(m.segIds, segDataRoot(indexDir), docMetaRoot(indexDir))
    dropTombstoned(Segments.read(spark, segDataRoot(indexDir), m.segIds, postingsSchema),
        m.tombFrame(spark))
      .select("doc_id", "dl", "tok", "tf", "tok_bucket")
      .write.mode("errorifexists").partitionBy("tok_bucket")
      .parquet(Segments.path(segDataRoot(indexDir), segId))
    val (nDocs, totalLen) = writeDocMeta(
      Segments.read(spark, segDataRoot(indexDir), Seq(segId), postingsSchema)
        .select("doc_id", "dl").distinct(),
      Segments.path(docMetaRoot(indexDir), segId))
    writeManifest(spark, indexDir, Seq(segRow(segId, nDocs, totalLen, nbs.head)))
    segId
  }
}
