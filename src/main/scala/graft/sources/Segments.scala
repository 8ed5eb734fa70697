package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The one segmented-index lifecycle: the reference feeds long-lived
  * Solr collections one harvest batch at a time and swaps the serving
  * alias (harvest.py:185-208, solr_api_utils.py:14-60); graft lands
  * each batch as an append-only `root/seg=<N>` segment tree behind a
  * driver-held [[VersionedTable]] manifest. [[graft.similarity.Ivf]],
  * [[graft.similarity.Ivfpq]] and [[graft.operators.SegmentedBm25]]
  * keep only their payloads; this object owns the layout and the
  * protocol:
  *  - [[nextId]]: a new id skips orphan directories;
  *  - [[read]]: only manifest-listed segment paths are listed;
  *  - [[vacuum]]: the liveness rule that bounds disk use;
  *  - the vector indexes' `seg_id` manifest: tagged appends that replay
  *    idempotently ([[append]]), the fold threshold ([[maintain]]),
  *    tag-idempotent folds into base tables ([[compact]]) and the live
  *    union of a base with its unfolded segments ([[live]]).
  */
object Segments {

  /** The tree of segment `id` under `root`. */
  def path(root: String, id: Long): String = s"$root/seg=$id"

  private def onDisk(root: String): Seq[Long] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("seg="))
      .map(_.getName.stripPrefix("seg=").toLong)

  /** The id a new segment takes: one past every id `listed` by the
    * manifest and every `seg=<N>` directory under `roots`. A crash
    * between a segment write and its manifest flip leaves an orphan
    * tree no manifest lists; an id taken from the manifest alone would
    * hit it again and fail on `errorifexists` forever, wedging a
    * replaying stream. */
  def nextId(listed: Seq[Long], roots: String*): Long =
    ((listed ++ roots.flatMap(onDisk)) :+ 0L).max + 1

  /** The trees of segments `ids` under `root` — or, given `leaves`, the
    * `seg=<N>/<leaf>` subdirectories of them that exist — read with a
    * declared schema (no inference job) under `basePath`, so partition
    * columns such as `seg` are kept. Listing `root` itself would list
    * every tree ever written: superseded ones stay on disk for manifest
    * rollback, so listing cost would grow with index age, not live
    * size. An empty selection reads as an empty frame of `schema`. */
  def read(spark: SparkSession, root: String, ids: Seq[Long], schema: StructType,
      leaves: Seq[String] = Nil): DataFrame = {
    val dirs =
      if (leaves.isEmpty) ids.map(path(root, _))
      else for {
        id <- ids; leaf <- leaves
        d = s"${path(root, id)}/$leaf" if new java.io.File(d).isDirectory
      } yield d
    if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", root).parquet(dirs: _*)
  }

  /** Delete the segment trees under `roots` that no retained manifest
    * version references, keeping every id above the newest referenced
    * one: those belong to an append or compact whose manifest flip has
    * not landed, or to a crashed one the next id skips. Single writer:
    * a racing append's segment is protected only by being newer. */
  def vacuum(referenced: Set[Long], roots: String*): Unit =
    if (referenced.nonEmpty) roots.foreach { root =>
      onDisk(root).filter(s => s < referenced.max && !referenced(s)).foreach { s =>
        VersionedTable.deleteRecursively(java.nio.file.Paths.get(path(root, s)))
      }
    }

  /** Segment ids the serving `seg_id` manifest lists: driver-held rows,
    * no job once cached; empty before the first append. */
  private def listed(spark: SparkSession, manifest: String): Seq[Long] =
    if (VersionedTable.latestVersion(manifest).isEmpty) Seq.empty
    else VersionedTable.localRows(spark, manifest).map(_.getLong(0))

  private def writeManifest(spark: SparkSession, manifest: String, ids: Seq[Long],
      tag: Option[String]): Unit = {
    import spark.implicits._
    VersionedTable.writeLocal(ids.toDF("seg_id"), manifest, tag)
    ()
  }

  /** Point `dir` at committed version `v` unless a newer one serves:
    * the swap a crashed writer lost. */
  private def finishSwap(dir: String, v: Long): Unit =
    if (VersionedTable.latestVersion(dir).forall(_ < v)) VersionedTable.swapTo(dir, v)

  /** Append one segment: `write(id)` lands its payload at
    * [[path]]`(root, id)` under each of `roots`, then a manifest
    * version listing it — carrying `tag` — flips atomically.
    *
    * The `(lineage, batchId)` tag makes the append idempotent under
    * streaming replay: a segment has no replacement semantics, so
    * without it a crash between the manifest flip and the stream's
    * batch marker would serve the batch twice forever. When a manifest
    * version already carries `tag`, nothing is written: its lost
    * pointer swap is finished and its segment id comes from its rows
    * (the driver-held serving rows, or one read of an older version).
    * Returns the new or committed segment id. */
  def append(spark: SparkSession, manifest: String, tag: Option[String], roots: String*)(
      write: Long => Unit): Long =
    tag.flatMap(VersionedTable.taggedVersion(manifest, _)) match {
      case Some(v) =>
        finishSwap(manifest, v)
        VersionedTable.versionRows(spark, manifest, v).map(_.getLong(0)).max
      case None =>
        val prior = listed(spark, manifest)
        val id = nextId(prior, roots: _*)
        write(id)
        writeManifest(spark, manifest, prior :+ id, tag)
        id
    }

  /** Fold cadence: `compact` runs once the manifest lists more than
    * `maxSegments` segments, so manifest reads and each probe's segment
    * union stay O(maxSegments) however many batches the index absorbs.
    * Driver arithmetic on the cached manifest: an idle call launches
    * no job. */
  def maintain(spark: SparkSession, manifest: String, maxSegments: Int)(
      compact: => Long): Option[Long] =
    if (listed(spark, manifest).size > maxSegments) Some(compact) else None

  private val FoldTag = "compact:"

  /** Fold every listed segment into base tables, then empty the
    * manifest; superseded segment trees stay on disk for rollback. Each
    * `(table, write)` publishes one version of `table` holding base ∪
    * segments ([[live]]), and `write` gets the tag that version must
    * carry: the folded id set, unique because ids only grow. A crash
    * before the manifest flip re-enters on the next call, which reuses
    * every fold already committed under the tag (finishing a lost
    * pointer swap) and runs only the missing ones, so a retry never
    * folds the duplicated base again. Returns the first table's
    * version. */
  def compact(spark: SparkSession, manifest: String,
      folds: (String, String => Long)*): Long = {
    val tag = FoldTag + listed(spark, manifest).sorted.mkString(",")
    val versions = folds.map { case (table, write) =>
      VersionedTable.taggedVersion(table, tag) match {
        case Some(v) => finishSwap(table, v); v
        case None => write(tag)
      }
    }
    writeManifest(spark, manifest, Seq.empty, None)
    versions.head
  }

  /** Segment ids already folded into `table`'s serving version. */
  private def folded(table: String): Set[Long] =
    VersionedTable.servingTag(table) match {
      case Some(t) if t.startsWith(FoldTag) =>
        t.stripPrefix(FoldTag).split(",").iterator.filter(_.nonEmpty).map(_.toLong).toSet
      case _ => Set.empty
    }

  /** What readers of base table `table` are served: its serving
    * version ∪ the manifest-listed segments under `root` that version
    * has not folded in. The subtraction closes two windows of the fold
    * protocol: between a committed fold and the manifest flip (on every
    * compaction) a probe would read each folded row twice, and an
    * append landing between a crashed fold and its retry changes the
    * retry's tag, which would fold the folded segments again. */
  def live(spark: SparkSession, table: String, root: String, manifest: String): DataFrame = {
    val base = VersionedTable.readLatest(spark, table)
    val segs = listed(spark, manifest).filterNot(folded(table))
    if (segs.isEmpty) base
    else base.unionByName(read(spark, root, segs, base.schema).select(base.columns.map(col): _*))
  }
}
