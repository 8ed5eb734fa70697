package graft

import graft.functions.Vectors
import graft.similarity.{Ivf, Ivfpq}
import graft.sources.{Segments, VersionedTable}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The segmented-index lifecycle the vector indexes share with
  * segmented BM25: ids skip orphans and vacuum keeps what may still
  * serve, a crashed append's orphan segment is never served, and a
  * replayed tag is answered from the manifest. */
class SegmentsSpec extends AnyFunSuite {
  import TestSession._

  private def embs = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("label"),
      Vectors.toDouble(col("embedding")).as("v"))

  private def fresh(name: String) = Files.createTempDirectory(name).toString

  private def base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
  private def d1 = embs.filter(col("id") >= 10 && col("id") % 8 === 0).select("id", "v")
  private def d2 = embs.filter(col("id") >= 10 && col("id") % 8 === 4).select("id", "v")
  private def queries = embs.filter(col("id") < 10).select("id", "v")

  private def copyTree(from: Path, to: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(from)
    try walk.iterator().asScala.toSeq.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p).toString))
    } finally walk.close()
  }

  /** Rows a reader of `dir` is served from `table` (one row per
    * vector): the base version plus every manifest-listed segment. */
  private def liveCount(dir: String, table: String, root: String): Long = {
    val segs = VersionedTable.readLatest(spark, s"$dir/segmanifest")
      .collect().map(_.getLong(0))
    VersionedTable.readLatest(spark, s"$dir/$table").count() +
      segs.map(s => spark.read.parquet(s"$dir/$root/seg=$s").count()).sum
  }

  /** A crash-free index (`clean`) and one whose second append crashed
    * after its segment writes and before its manifest flip: the
    * crashed index holds the clean run's `seg=2` trees with no manifest
    * row, then replays the append. */
  private def orphanRun(build: String => Unit, append: (String, DataFrame) => Long,
      roots: Seq[String], search: String => Set[Seq[Any]], table: String): Unit = {
    val clean = fresh("graft_seg_clean")
    val crashed = fresh("graft_seg_crash")
    Seq(clean, crashed).foreach { d => build(d); assert(append(d, d1) == 1) }
    assert(append(clean, d2) == 2)
    roots.foreach(r => copyTree(Paths.get(clean, r, "seg=2"), Paths.get(crashed, r, "seg=2")))
    assert(append(crashed, d2) == 3, "the next id skips the orphan seg=2")
    assert(search(crashed) == search(clean), "the orphan segment was served")
    assert(liveCount(crashed, table, roots.last) == liveCount(clean, table, roots.last))
  }

  test("ids skip orphans; vacuum deletes only unreferenced ids below the newest referenced") {
    val root = fresh("graft_seg_root")
    Seq(1L, 2L, 3L, 5L, 7L).foreach(id => Files.createDirectories(Paths.get(Segments.path(root, id))))
    assert(Segments.nextId(Seq(2L, 5L), root) == 8)
    assert(Segments.nextId(Seq(9L), root, fresh("graft_seg_none")) == 10)
    assert(Segments.nextId(Nil) == 1)
    Segments.vacuum(Set(2L, 5L), root)
    val left = new java.io.File(root).list().toSet
    assert(left == Set("seg=2", "seg=5", "seg=7"), left)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
    assert(Segments.read(spark, root, Nil, schema).schema == schema)
  }

  test("an orphan IVF segment is skipped by the next append and never served") {
    orphanRun(d => Ivf.buildIndex(base, "label", "v", d),
      (d, delta) => Ivf.appendToIndex(spark, d, delta), Seq("segments"),
      d => Ivf.searchIndex(spark, d, queries, k = 5, nProbe = 2)
        .collect().map(_.toSeq).toSet, "lists")
  }

  test("an orphan IVF-PQ segment is skipped by the next append and never served") {
    Seq(false, true).foreach { byResidual =>
      orphanRun(d => Ivfpq.buildIndex(base, "label", "id", "v", d, byResidual = byResidual),
        (d, delta) => Ivfpq.appendToIndex(spark, d, delta), Seq("segments", "wsegments"),
        d => Ivfpq.searchIndex(spark, d, queries, "id", "v", k = 5, nProbe = 2,
          rerank = 80).collect().map(_.toSeq).toSet, "wvecs")
    }
  }

  test("replaying a committed tag launches no job and returns the committed id") {
    val ivf = fresh("graft_seg_replay_ivf")
    Ivf.buildIndex(base, "label", "v", ivf)
    val pq = fresh("graft_seg_replay_pq")
    Ivfpq.buildIndex(base, "label", "id", "v", pq)
    val appends: Seq[(String, (DataFrame, String) => Long)] = Seq(
      ivf -> ((delta, tag) => Ivf.appendToIndex(spark, ivf, delta, Some(tag))),
      pq -> ((delta, tag) => Ivfpq.appendToIndex(spark, pq, delta, tag = Some(tag))))
    // built outside the counted calls: reading the table is a job
    val (b1, b2) = (d1, d2)
    appends.foreach { case (dir, append) =>
      val s1 = append(b1, "r-0")
      val replay = JobCount.of(spark)(append(b1, "r-0"))
      assert(replay.result == s1, dir)
      assert(replay.jobs.isEmpty, s"$dir replay launched jobs:\n${replay.jobs.mkString("\n")}")
      // once a later append serves, the tagged version is read once
      val s2 = append(b2, "r-1")
      val older = JobCount.of(spark)(append(b1, "r-0"))
      assert(older.result == s1 && s2 == s1 + 1)
      assert(older.jobs.size <= 1, older.jobs.mkString("\n"))
      assert(VersionedTable.readLatest(spark, s"$dir/segmanifest").count() == 2)
    }
  }
}
