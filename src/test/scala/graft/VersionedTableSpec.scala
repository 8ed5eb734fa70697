package graft

import graft.sources.VersionedTable
import org.scalatest.funsuite.AnyFunSuite

/** VersionedTable's memory of what it wrote: each version's schema
  * (reads skip inference and keep the inferred types) and, for
  * metadata written through, its rows — keyed so a table rewritten at
  * the same path and version is never served stale. */
class VersionedTableSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def fresh(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  test("a table rewritten at the same path and version serves the new rows") {
    val dir = fresh("graft_vt_alias") + "/t"
    assert(VersionedTable.write(Seq(1L, 2L).toDF("seg_id"), dir) == 1)
    assert(VersionedTable.localRows(spark, dir).map(_.getLong(0)) == Seq(1L, 2L))
    VersionedTable.deleteRecursively(java.nio.file.Paths.get(dir))
    assert(VersionedTable.write(Seq(7L).toDF("seg_id"), dir) == 1)
    assert(VersionedTable.readLatestLocal(spark, dir).collect().map(_.getLong(0)).toSeq
      == Seq(7L), "stale rows served for a rewritten table")
    // and through the write-through path, which seeds the cache itself
    VersionedTable.deleteRecursively(java.nio.file.Paths.get(dir))
    assert(VersionedTable.writeLocal(Seq(3L, 4L, 5L).toDF("seg_id"), dir) == 1)
    assert(VersionedTable.localRows(spark, dir).map(_.getLong(0)) == Seq(3L, 4L, 5L))
  }

  test("writeLocal writes one file and serves its rows without a job") {
    val dir = fresh("graft_vt_local") + "/t"
    val df = (1 to 50).map(i => (i.toLong, Seq(i.toDouble, -i.toDouble)))
      .toDF("list_id", "centroid")
    val run = JobCount.of(spark) {
      VersionedTable.writeLocal(df, dir)
      VersionedTable.readLatestLocal(spark, dir).collect()
    }
    assert(run.jobs.size == 1, s"expected only the write job: ${run.jobs}")
    assert(run.result.length == 50)
    val files = new java.io.File(s"$dir/v=1").listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(files.length == 1, files.mkString(", "))
  }

  test("remembered schemas equal inference and skip its job") {
    val dir = fresh("graft_vt_schema")
    val plain = (1 to 5).map(i => (i.toLong, Seq(i.toLong), s"x$i")).toDF("id", "w", "s")
    VersionedTable.write(plain, s"$dir/plain")
    val small = (1 to 5).map(i => (i.toLong, i % 2, i.toLong)).toDF("id", "sub", "list_id")
    VersionedTable.writePartitioned(small, s"$dir/ints", "list_id")
    val big = Seq((1L, 1, 5000000000L), (2L, 2, 3L)).toDF("id", "sub", "list_id")
    VersionedTable.writePartitioned(big, s"$dir/longs", "list_id")
    Seq("plain", "ints", "longs").foreach { t =>
      val d = s"$dir/$t"
      val v = VersionedTable.latestVersion(d).get
      assert(VersionedTable.storedSchema(d, v).isDefined, t)
      val run = JobCount.of(spark)(VersionedTable.readLatest(spark, d).schema)
      assert(run.jobs.isEmpty, s"$t: schema read launched ${run.jobs}")
      assert(run.result == spark.read.parquet(s"$d/v=$v").schema,
        s"$t: remembered ${run.result} vs inferred")
      assert(VersionedTable.readLatest(spark, d).collect().toSet ==
        spark.read.parquet(s"$d/v=$v").collect().toSet, t)
    }
  }
}
