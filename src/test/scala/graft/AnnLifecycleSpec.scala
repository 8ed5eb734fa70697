package graft

import graft.functions.Vectors
import graft.similarity.{Ivf, Ivfpq}
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF and IVF-PQ index lifecycle cost shape: the appended segment is
  * written by map-only plans, each lifecycle call stays within a fixed
  * job budget, and live reads list only the manifest's segments. */
class AnnLifecycleSpec extends AnyFunSuite {
  import TestSession._

  private def embs = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("label"),
      Vectors.toDouble(col("embedding")).as("v"))

  private def fresh(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  test("an appended segment's codes and sidecar are written without an Exchange") {
    Seq(false, true).foreach { byResidual =>
      val dir = fresh(s"graft_ann_x$byResidual")
      Ivfpq.buildIndex(embs.filter(col("id") >= 10 && col("id") % 4 =!= 0),
        "label", "id", "v", dir, byResidual = byResidual)
      val run = JobCount.of(spark)(Ivfpq.appendToIndex(spark, dir,
        embs.filter(col("id") >= 10 && col("id") % 4 === 0).select("id", "v")))
      Seq("/segments/seg=1", "/wsegments/seg=1").foreach { target =>
        val writes = run.plans.filter(_.contains(target))
        assert(writes.size == 1, s"one write of $target, got ${writes.size}")
        assert(!writes.head.contains("Exchange"),
          s"$target write shuffles (residual=$byResidual):\n${writes.head}")
      }
    }
  }

  test("build, append, search and maintain each stay within a job budget") {
    val dir = fresh("graft_ann_jobs")
    val corpus = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0).localCheckpoint()
    val delta = embs.filter(col("id") >= 10 && col("id") % 4 === 0)
      .select("id", "v").localCheckpoint()
    val queries = embs.filter(col("id") < 10).select("id", "v").localCheckpoint()
    val build = JobCount.of(spark)(Ivfpq.buildIndex(corpus, "label", "id", "v", dir))
    val append = JobCount.of(spark)(Ivfpq.appendToIndex(spark, dir, delta))
    val search = JobCount.of(spark)(Ivfpq.searchIndex(spark, dir, queries, "id", "v",
      k = 5, nProbe = 3, rerank = 80).collect())
    val idle = JobCount.of(spark)(Ivfpq.maintain(spark, dir, maxSegments = 8))
    val maintain = JobCount.of(spark)(Ivfpq.maintain(spark, dir, maxSegments = 0))
    val budgets = Seq(("buildIndex", build.jobs, 13), ("appendToIndex", append.jobs, 4),
      ("searchIndex", search.jobs, 10), ("maintain (idle)", idle.jobs, 0),
      ("maintain (fold)", maintain.jobs, 5))
    budgets.foreach { case (name, jobs, budget) =>
      info(s"$name: ${jobs.size} jobs")
      assert(jobs.size <= budget,
        s"$name launched ${jobs.size} jobs, budget $budget:\n${jobs.mkString("\n")}")
    }
    assert(maintain.result.isDefined && idle.result.isEmpty)
  }

  test("plain IVF append, search and maintain each stay within a job budget") {
    val dir = fresh("graft_ivf_jobs")
    val corpus = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0).localCheckpoint()
    val delta = embs.filter(col("id") >= 10 && col("id") % 4 === 0)
      .select("id", "v").localCheckpoint()
    val queries = embs.filter(col("id") < 10).select("id", "v").localCheckpoint()
    Ivf.buildIndex(corpus, "label", "v", dir)
    val append = JobCount.of(spark)(Ivf.appendToIndex(spark, dir, delta))
    val search = JobCount.of(spark)(
      Ivf.searchIndex(spark, dir, queries, k = 5, nProbe = 3).collect())
    val idle = JobCount.of(spark)(Ivf.maintain(spark, dir, maxSegments = 8))
    val maintain = JobCount.of(spark)(Ivf.maintain(spark, dir, maxSegments = 0))
    val budgets = Seq(("appendToIndex", append.jobs, 2),
      ("searchIndex", search.jobs, 4), ("maintain (idle)", idle.jobs, 0),
      ("maintain (fold)", maintain.jobs, 2))
    budgets.foreach { case (name, jobs, budget) =>
      info(s"$name: ${jobs.size} jobs")
      assert(jobs.size <= budget,
        s"$name launched ${jobs.size} jobs, budget $budget:\n${jobs.mkString("\n")}")
    }
    assert(append.result == 1 && search.result.nonEmpty)
    assert(maintain.result.isDefined && idle.result.isEmpty)
  }

  test("live reads list only the base and the manifest's segments") {
    val dir = fresh("graft_ann_age")
    Ivfpq.buildIndex(embs.filter(col("id") >= 10 && col("id") % 3 === 0),
      "label", "id", "v", dir)
    Ivfpq.appendToIndex(spark, dir, embs.filter(col("id") >= 10 && col("id") % 3 === 1)
      .select("id", "v"))
    Ivfpq.maintain(spark, dir, maxSegments = 0)
    Ivfpq.appendToIndex(spark, dir, embs.filter(col("id") >= 10 && col("id") % 3 === 2)
      .select("id", "v"))
    // segment 1 was folded into the base but stays on disk
    assert(new java.io.File(s"$dir/segments/seg=1").isDirectory)
    val nLists = embs.select("label").distinct().count().toInt
    val got = Ivfpq.searchIndex(spark, dir, embs.filter(col("id") < 10).select("id", "v"),
      "id", "v", k = 5, nProbe = nLists, rerank = 80)
    val files = got.inputFiles.filter(_.contains(dir))
    val codesV = VersionedTable.latestVersion(s"$dir/codes").get
    val wvecsV = VersionedTable.latestVersion(s"$dir/wvecs").get
    val allowed = Seq(s"/codes/v=$codesV/", s"/wvecs/v=$wvecsV/",
      "/segments/seg=2/", "/wsegments/seg=2/")
    assert(files.nonEmpty)
    val stray = files.filterNot(f => allowed.exists(f.contains))
    assert(stray.isEmpty, s"reads outside base + live segments: ${stray.mkString("\n")}")
    Seq("/segments/seg=2/", "/wsegments/seg=2/").foreach(s =>
      assert(files.exists(_.contains(s)), s"live segment $s not read"))
    assert(got.count() == 50)
  }
}
