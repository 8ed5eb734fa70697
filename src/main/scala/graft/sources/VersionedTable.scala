package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType,
  StructType}

/** Versioned table with atomic latest-pointer swap — the data-plane
  * form of the reference's collection/alias lifecycle
  * (solr_api_utils.py:14-60: build a fresh collection, then swap the
  * serving alias to it; readers never see a half-built collection).
  *
  * Layout: `<dir>/v=<N>/` parquet per version; `<dir>/_LATEST` holds
  * the serving version number and is replaced atomically (write
  * temp + ATOMIC_MOVE), so concurrent readers resolve either the old
  * or the new version, never a torn state. Old versions stay for
  * rollback — `swapTo` is the alias CRUD analog. Next to the data a
  * version holds `_SCHEMA` (its schema, so reads skip inference) and,
  * for tagged writes, `_TAG`; Spark's reader skips `_`-prefixed files.
  */
object VersionedTable {

  private def pointerPath(dir: String) = Paths.get(dir, "_LATEST")

  def listVersions(dir: String): Seq[Long] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Seq.empty
    else d.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong).sorted
  }

  def latestVersion(dir: String): Option[Long] = {
    val p = pointerPath(dir)
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** Write `df` as the next version and atomically swap the pointer
    * to it. Returns the new version number.
    *
    * `tag` makes the write IDEMPOTENCE-CHECKABLE for replayed
    * writers: the tag lands in `v=N/_TAG` after the parquet completes
    * and before the swap, so [[taggedVersion]] finds a committed
    * version even if the writer crashed before the swap (a tagged
    * version always has complete data; a half-written version can
    * never carry a tag). This is what lets a non-idempotent merge
    * (e.g. VocabIndex's count accumulation) run exactly once under
    * the streaming `(lineage, batchId)` replay protocol.
    *
    * The version's schema lands beside it in `v=N/_SCHEMA` (see
    * [[readLatest]]). */
  def write(df: DataFrame, dir: String, tag: Option[String] = None): Long = {
    val next = nextVersion(dir)
    df.write.mode("errorifexists").parquet(s"$dir/v=$next")
    commit(dir, next, Some(GraftShims.asNullable(df.schema)), tag)
  }

  /** Write-through for metadata-class tables (IVF centroids, PQ
    * codebooks, segment manifests): the rows are collected once (no
    * job when `df` is already driver-held), written as ONE parquet
    * file, and seeded into the [[readLatestLocal]] cache after the
    * pointer swap, so the writer's own later reads and every reader
    * in this JVM skip the scan. Same version/tag contract as
    * [[write]]. */
  def writeLocal(df: DataFrame, dir: String, tag: Option[String] = None): Long = {
    val rows = df.collect().toSeq
    requireMetadata(dir, rows.length)
    val schema = GraftShims.asNullable(df.schema)
    val next = nextVersion(dir)
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("errorifexists").parquet(s"$dir/v=$next")
    commit(dir, next, Some(schema), tag)
    cachePut(dir, next, (rows, schema))
    next
  }

  private def nextVersion(dir: String): Long =
    listVersions(dir).lastOption.getOrElse(0L) + 1

  /** Land schema and tag inside the finished version, then swap. */
  private def commit(dir: String, v: Long, schema: Option[StructType],
      tag: Option[String]): Long = {
    schema.foreach { s =>
      Files.writeString(Paths.get(dir, s"v=$v", "_SCHEMA"), s.json); () }
    tag.foreach { t =>
      Files.writeString(Paths.get(dir, s"v=$v", "_TAG"), t); () }
    swapTo(dir, v)
    v
  }

  /** Newest version carrying `tag`, if any (committed data; the
    * pointer may still lag it if the writer crashed pre-swap). */
  def taggedVersion(dir: String, tag: String): Option[Long] =
    listVersions(dir).filter { v =>
      val p = Paths.get(dir, s"v=$v", "_TAG")
      Files.exists(p) && Files.readString(p).trim == tag
    }.maxOption

  /** Tag carried by the SERVING version, if any — what lets a live
    * reader know which inputs the version it is about to read
    * already folded in (the compaction-window dedup in
    * [[Segments.live]]). */
  def servingTag(dir: String): Option[String] =
    latestVersion(dir).flatMap { v =>
      val p = Paths.get(dir, s"v=$v", "_TAG")
      if (Files.exists(p)) Some(Files.readString(p).trim) else None
    }

  /** Like [[write]], but the version is laid out partitioned by
    * `partCol` — readers filtering on it prune whole directories
    * (the IVF index's probed-lists-only scan relies on this). `tag`
    * follows [[write]]'s contract: landed after the parquet
    * completes and before the pointer swap, so a tagged version is
    * committed data even when the swap was lost. */
  def writePartitioned(df: DataFrame, dir: String, partCol: String,
      tag: Option[String] = None): Long = {
    val next = nextVersion(dir)
    df.write.mode("errorifexists").partitionBy(partCol).parquet(s"$dir/v=$next")
    val data = GraftShims.asNullable(df.schema)
    val schema = partitionType(df, Paths.get(dir, s"v=$next"), partCol)
      .map(t => StructType(data.filterNot(_.name == partCol))
        .add(partCol, t, nullable = true))
    commit(dir, next, schema, tag)
  }

  /** The type Spark's partition discovery gives `partCol` in a
    * version just written, from its `partCol=<value>` directory names:
    * IntegerType if every value is an int, else LongType if every one
    * is a long; None (schema not remembered, the read infers it) for
    * anything else, which discovery might type as decimal, double,
    * date, timestamp or string. */
  private def partitionType(df: DataFrame, root: java.nio.file.Path,
      partCol: String): Option[DataType] =
    if (!df.sparkSession.conf.get(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "true").toBoolean)
      Some(StringType)
    else {
      val values = Option(root.toFile.listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith(partCol + "="))
        .map(_.stripPrefix(partCol + "="))
        .filterNot(_ == "__HIVE_DEFAULT_PARTITION__")
      def all(parse: String => Any): Boolean =
        values.forall(x => scala.util.Try(parse(x).toString == x).getOrElse(false))
      if (values.isEmpty) Some(df.schema(partCol).dataType)
      else if (all(_.toInt)) Some(IntegerType)
      else if (all(_.toLong)) Some(LongType)
      else None
    }

  /** Point the alias at an existing version (swap / rollback). */
  def swapTo(dir: String, version: Long): Unit = {
    require(listVersions(dir).contains(version),
      s"version $version does not exist under $dir")
    val tmp = Paths.get(dir, s"_LATEST.tmp.${System.nanoTime()}")
    Files.writeString(tmp, version.toString)
    Files.move(tmp, pointerPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read through the alias: whatever version the pointer serves.
    * A version written by this object carries its schema in
    * `v=N/_SCHEMA`, so the read skips Spark's parquet schema-inference
    * job (partition columns keep the type discovery gives them);
    * versions without one are inferred as before. */
  def readLatest(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, serving(dir))

  private def serving(dir: String): Long = latestVersion(dir).getOrElse(
    throw new IllegalStateException(s"no serving version under $dir"))

  private def readVersion(spark: SparkSession, dir: String, v: Long): DataFrame =
    storedSchema(dir, v) match {
      case Some(s) => spark.read.schema(s).parquet(s"$dir/v=$v")
      case None => spark.read.parquet(s"$dir/v=$v")
    }

  /** Schema remembered for version `v` of `dir`, if it was recorded. */
  def storedSchema(dir: String, v: Long): Option[StructType] = {
    val p = Paths.get(dir, s"v=$v", "_SCHEMA")
    if (Files.exists(p))
      Some(DataType.fromJson(Files.readString(p)).asInstanceOf[StructType])
    else None
  }

  /** Row bound of a metadata-class table: the largest one graft keeps
    * is the exploded PQ codebook, dims × codes rows (1024 × 256 at
    * the extreme knobs); list centroids and segment manifests are far
    * smaller. A corpus-proportional table trips it. */
  val MetadataRows: Int = 1 << 18

  private def requireMetadata(dir: String, n: Int): Unit =
    require(n <= MetadataRows,
      s"$dir: $n rows exceeds the metadata bound $MetadataRows — this " +
        "table is not metadata-class; read it with readLatest instead")

  /** Per-version cache of SMALL versioned-table reads, served as a
    * local relation (the x7 statsCache pattern generalized). For
    * metadata-class tables — IVF/PQ centroids and codebooks, segment
    * manifests, one-row stats — every probe re-ran a parquet scan job
    * (driver file listing + footer decode + a task wave) per query
    * execution even though a published version is IMMUTABLE by the
    * table contract. Caching the collected rows once per version and
    * rebuilding a LocalRelation per call removes that scan job from
    * every probe while keeping the serving semantics exactly:
    * `latestVersion` re-reads the pointer file on EVERY call, so a
    * compaction/publish flip — which always lands as a NEW version +
    * atomic pointer swap, never an in-place mutation — is seen by the
    * very next read (the versioned-consistency contract; spec-pinned).
    *
    * The key is (dir, version, on-disk fingerprint of `v=N`): a table
    * deleted and rewritten at the same path restarts at the same
    * version numbers, and only the fingerprint — the version
    * directory's file names, sizes and modification times, one
    * directory listing per call — tells the new rows from the cached
    * ones. [[writeLocal]] seeds the entry for the version it writes.
    *
    * DRIVER-SAFETY: callers must only point this at tables bounded by
    * a design knob (list/codebook/manifest cardinality), never at
    * corpus-proportional tables — `maxRows` is the guard rail and the
    * call throws rather than silently collecting a corpus. The cached
    * rows are plain JVM data, shared across sessions; the returned
    * frame is bound to the calling session. Entries for other versions
    * or fingerprints of the same dir are dropped on insert, so a
    * long-lived maintainer holds O(live tables) rows, not O(history). */
  private val localCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String), (Seq[Row], StructType)]()

  private def fingerprint(dir: String, v: Long): String =
    Option(Paths.get(dir, s"v=$v").toFile.listFiles()).toSeq.flatten
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").sorted.mkString(",")

  private def cachePut(dir: String, v: Long, entry: (Seq[Row], StructType)): Unit = {
    val key = (dir, v, fingerprint(dir, v))
    localCache.put(key, entry)
    localCache.keySet.removeIf(k => k._1 == dir && k != key)
  }

  /** The serving version's rows, collected once per version (see
    * [[localCache]]) — driver-held data for counts and literals, no
    * job once cached. */
  def localRows(spark: SparkSession, dir: String,
      maxRows: Int = MetadataRows): Seq[Row] = localEntry(spark, dir, maxRows)._1

  private def localEntry(spark: SparkSession, dir: String,
      maxRows: Int): (Seq[Row], StructType) = {
    val v = serving(dir)
    val key = (dir, v, fingerprint(dir, v))
    Option(localCache.get(key)).getOrElse {
      val df = readVersion(spark, dir, v)
      val collected = df.collect().toSeq
      require(collected.length <= maxRows,
        s"readLatestLocal($dir): ${collected.length} rows exceeds the " +
          s"metadata bound $maxRows — this table is not metadata-class; " +
          "read it with readLatest instead")
      val entry = (collected, df.schema)
      cachePut(dir, v, entry)
      entry
    }
  }

  /** Rows of version `v`: the driver-held serving rows when `v`
    * serves, else one read of that version with its stored schema. */
  def versionRows(spark: SparkSession, dir: String, v: Long): Seq[Row] =
    if (latestVersion(dir).contains(v)) localRows(spark, dir)
    else readVersion(spark, dir, v).collect().toSeq

  def readLatestLocal(spark: SparkSession, dir: String,
      maxRows: Int = MetadataRows): DataFrame = {
    val (rows, schema) = localEntry(spark, dir, maxRows)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Bounded-history maintenance: delete all but the newest `keep`
    * versions, never the serving one — the cadence contract every
    * long-lived maintainer needs so a year of micro-batches can't
    * grow version dirs without limit. Safe to call at any batch
    * boundary: the serving version is exempt even if it is old (a
    * rolled-back pointer). */
  def pruneVersions(dir: String, keep: Int): Unit = {
    require(keep >= 1, "must keep at least one version")
    val serving = latestVersion(dir).getOrElse(-1L)
    listVersions(dir).sorted.dropRight(keep)
      .filter(_ != serving)
      .foreach { v => deleteRecursively(Paths.get(dir, s"v=$v")) }
  }

  /** Recursive delete (children before parents). */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
}
