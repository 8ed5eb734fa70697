package graft

import graft.functions.Vectors
import graft.similarity.Ivf
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted IVF index: build-once/search-many with versioned
  * publish, partition-pruned probes, and rollback. */
class IvfIndexSpec extends AnyFunSuite {
  import TestSession._

  private def embs = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("label"),
      Vectors.toDouble(col("embedding")).as("v"))

  test("index search equals the in-memory search, scanning only probed partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val data = embs.filter(col("id") >= 10)
    val queries = embs.filter(col("id") < 10).select("id", "v")
    Ivf.buildIndex(data, "label", "v", dir)
    val fromIndex = Ivf.searchIndex(spark, dir, queries, k = 5, nProbe = 2)
    val inMemory = Ivf.search(queries, data, "label", k = 5, nProbe = 2,
      centroidScale = 1000000L).select("q_id", "n_id", "cos", "rank")
    assert(fromIndex.exceptAll(inMemory).isEmpty
      && inMemory.exceptAll(fromIndex).isEmpty,
      "persisted-index search diverged from the in-memory search")
    // the list scan must prune on the probed partitions
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      s"expected a partition filter on list_id in:\n$plan")
  }

  test("append assigns against frozen centroids; compaction is invisible") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf3").toString
    val base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
    val delta = embs.filter(col("id") >= 10 && col("id") % 4 === 0)
    val queries = embs.filter(col("id") < 10).select("id", "v")
    Ivf.buildIndex(base, "label", "v", dir)
    val s1 = Ivf.appendToIndex(spark, dir, delta.select("id", "v"))
    assert(s1 == 1)

    // expected: search over base ∪ delta-assigned-to-frozen-centroids,
    // replicated in memory with the SAME centroid table
    val cents = VersionedTable.readLatest(spark, s"$dir/centroids")
    val scored = delta.select("id", "v").crossJoin(broadcast(cents))
      .select(col("id"), col("v"), col("list_id"),
        Vectors.cosine4(col("v"), col("centroid")).as("c_cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("c_cos").desc, col("list_id").asc)
    val deltaAssigned = scored
      .withColumn("r", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("r") === 1).select("id", "v", "list_id")
    val all = base.select(col("id"), col("v"), col("label").as("list_id"))
      .unionByName(deltaAssigned).localCheckpoint(true)
    val probes = RelationalAnn.probeLists(queries, cents, nProbe = 2)
    val expected = probes.join(
        all.select(col("id").as("n_id"), col("v").as("n_v"), col("list_id")),
        "list_id")
      .select(col("q_id"), col("n_id"),
        Vectors.cosine4(col("q_v"), col("n_v")).as("cos"))
    val we = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    val want = expected
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(we))
      .filter(col("rank") <= 5).select("q_id", "n_id", "cos", "rank")
      .collect().map(_.toSeq).toSet

    def got() = Ivf.searchIndex(spark, dir, queries, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(got() == want, "appended-index search must equal frozen-centroid union")
    // delta vectors must actually be reachable
    val hit = Ivf.searchIndex(spark, dir, queries, k = 5, nProbe = 2)
      .join(delta.select(col("id").as("n_id")), "n_id").count()
    assert(hit > 0, "appended vectors never surfaced in any top-k")

    Ivf.compactSegments(spark, dir)
    assert(got() == want, "compaction must not change results")
    assert(VersionedTable.readLatest(spark, s"$dir/segmanifest").count() == 0)
    assert(VersionedTable.readLatest(spark, s"$dir/lists").count() == all.count())
  }

  test("maintain keeps the segment manifest bounded; cadence is invisible to probes") {
    val base = embs.filter(col("id") >= 10 && col("id") % 6 === 0)
    val queries = embs.filter(col("id") < 10).select("id", "v")
    // twin indexes fed the same six appends: `dir` under the maintain
    // cadence, `plain` never compacted — results must be identical
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfm").toString
    val plain = java.nio.file.Files.createTempDirectory("graft_ivfp").toString
    Ivf.buildIndex(base, "label", "v", dir)
    Ivf.buildIndex(base, "label", "v", plain)
    (1 to 6).foreach { i =>
      val slice = embs.filter(col("id") >= 10 && col("id") % 6 === i % 6)
        .select("id", "v")
      Ivf.appendToIndex(spark, dir, slice)
      Ivf.appendToIndex(spark, plain, slice)
      Ivf.maintain(spark, dir, maxSegments = 2)
      // the bound holds after every batch: ≤ maxSegments manifest rows
      // (maintain compacts to zero the moment the count exceeds it)
      assert(VersionedTable.readLatest(spark, s"$dir/segmanifest").count() <= 2,
        s"manifest unbounded at append $i")
    }
    val got = Ivf.searchIndex(spark, dir, queries, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val want = Ivf.searchIndex(spark, plain, queries, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(got == want, "compaction cadence must be invisible to probes")
  }

  test("streaming IVF feed appends one segment per micro-batch, replay-safe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfs").toString
    val base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
    val delta = embs.filter(col("id") >= 10 && col("id") % 4 === 0)
      .select("id", "v")
    Ivf.buildIndex(base, "label", "v", dir)

    val sdir = java.nio.file.Files.createTempDirectory("graft_ivfstream")
    delta.coalesce(1).write.parquet(sdir.resolve("d").toString)
    def run(): Unit = {
      val stream = spark.readStream.schema(delta.schema)
        .parquet(sdir.resolve("d").toString)
      val q = graft.streaming.IvfStream.maintainIvf(stream, dir, lineage = "s1")
      q.processAllAvailable(); q.stop()
    }
    run()
    val m1 = VersionedTable.readLatest(spark, s"$dir/segmanifest").count()
    assert(m1 == 1, s"one segment after one micro-batch, got $m1")
    val queries = embs.filter(col("id") < 10).select("id", "v")
    val hit = Ivf.searchIndex(spark, dir, queries, k = 5, nProbe = 2)
      .join(delta.select(col("id").as("n_id")), "n_id").count()
    assert(hit > 0, "streamed vectors never surfaced in any top-k")
    // fresh checkpoint replay over the same lineage: markers skip it
    run()
    assert(VersionedTable.readLatest(spark, s"$dir/segmanifest").count() == 1,
      "replayed micro-batch must be skipped by the marker protocol")
    // the NARROW crash window the marker cannot cover: manifest
    // committed but the marker was lost — replay re-enters
    // appendToIndex, and the manifest TAG must skip the re-append
    // (without it the same vectors land as a second live segment)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_batch-s1-0"))
    run()
    assert(VersionedTable.readLatest(spark, s"$dir/segmanifest").count() == 1,
      "tagged append must be idempotent when the marker is lost")
    val dup = spark.read.parquet(s"$dir/segments")
      .groupBy("id").count().filter(col("count") > 1).count()
    assert(dup == 0, "no vector may be appended twice")
  }

  test("tagged append: same tag skips and returns the committed segment, new tag appends") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivft").toString
    val base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
    val d1 = embs.filter(col("id") >= 10 && col("id") % 8 === 0).select("id", "v")
    val d2 = embs.filter(col("id") >= 10 && col("id") % 8 === 4).select("id", "v")
    Ivf.buildIndex(base, "label", "v", dir)
    val s1 = Ivf.appendToIndex(spark, dir, d1, Some("run0-0"))
    val s1again = Ivf.appendToIndex(spark, dir, d1, Some("run0-0"))
    assert(s1again == s1, "replayed tag must return the committed segment id")
    assert(VersionedTable.readLatest(spark, s"$dir/segmanifest").count() == 1)
    val s2 = Ivf.appendToIndex(spark, dir, d2, Some("run0-1"))
    assert(s2 == s1 + 1)
    assert(VersionedTable.readLatest(spark, s"$dir/segmanifest").count() == 2)
  }

  test("interrupted compaction cannot double vectors (tagged fold)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfcc").toString
    val base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
    Ivf.buildIndex(base, "label", "v", dir)
    (0 until 2).foreach { i =>
      Ivf.appendToIndex(spark, dir, embs
        .filter(col("id") >= 10 && col("id") % 4 === 0 && col("id") % 2 === i)
        .select("id", "v"))
    }
    val queries = embs.filter(col("id") < 10).select("id", "v")
    val want = Ivf.searchIndex(spark, dir, queries, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val preManifest = VersionedTable.latestVersion(s"$dir/segmanifest").get
    Ivf.compactSegments(spark, dir)
    val foldedLists = VersionedTable.latestVersion(s"$dir/lists").get
    // simulate the crash window: lists folded + swapped, but the
    // manifest flip was lost — the stale manifest re-lists the
    // folded segments (the state that previously compounded
    // duplicates on every retry)
    VersionedTable.swapTo(s"$dir/segmanifest", preManifest)
    Ivf.compactSegments(spark, dir) // the recovery retry
    assert(VersionedTable.latestVersion(s"$dir/lists").contains(foldedLists),
      "retry must reuse the tagged fold, not fold the duplicated base again")
    val lists = VersionedTable.readLatest(spark, s"$dir/lists")
    assert(lists.groupBy("id").count().filter(col("count") > 1).count() == 0,
      "compacted base contains duplicate vectors")
    val got = Ivf.searchIndex(spark, dir, queries, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(got == want, "recovered index diverged from pre-compact serving")
  }

  test("join-route fallback (no IN filter) returns identical results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfjr").toString
    Ivf.buildIndex(embs.filter(col("id") >= 10), "label", "v", dir)
    val queries = embs.filter(col("id") < 10).select("id", "v")
    val inRoute = Ivf.searchIndex(spark, dir, queries, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val joinRoute = Ivf.searchIndex(spark, dir, queries, k = 5, nProbe = 2,
      maxInFilterLists = 0).collect().map(_.toSeq).toSet
    assert(joinRoute == inRoute, "join-route plan diverged from the IN-filter plan")
  }

  test("compaction window serves no duplicates: folded base + stale manifest reads clean") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfwin").toString
    val base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
    Ivf.buildIndex(base, "label", "v", dir)
    (0 until 2).foreach { i =>
      Ivf.appendToIndex(spark, dir, embs
        .filter(col("id") >= 10 && col("id") % 4 === 0 && col("id") % 2 === i)
        .select("id", "v"))
    }
    val queries = embs.filter(col("id") < 10).select("id", "v")
    val want = Ivf.searchIndex(spark, dir, queries, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val preManifest = VersionedTable.latestVersion(s"$dir/segmanifest").get
    Ivf.compactSegments(spark, dir)
    // the window that exists on EVERY compaction: lists folded and
    // swapped, manifest flip not yet visible — a concurrent probe
    // must read base ∪ unfolded only, not the folded rows twice
    VersionedTable.swapTo(s"$dir/segmanifest", preManifest)
    val got = Ivf.searchIndex(spark, dir, queries, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(got == want, "probe inside the compaction window diverged")
  }

  test("out-of-band append between crashed fold and retry folds only the remainder") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfoob").toString
    val base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
    Ivf.buildIndex(base, "label", "v", dir)
    (0 until 2).foreach { i =>
      Ivf.appendToIndex(spark, dir, embs
        .filter(col("id") >= 10 && col("id") % 4 === 0 && col("id") % 2 === i)
        .select("id", "v"))
    }
    val preManifest = VersionedTable.latestVersion(s"$dir/segmanifest").get
    Ivf.compactSegments(spark, dir)
    VersionedTable.swapTo(s"$dir/segmanifest", preManifest) // lost flip
    // an out-of-band append lands before the recovery retry: the
    // manifest (and so the retry's fold tag) now differs from the
    // committed fold's
    val extra = embs.filter(col("id") < 10).select("id", "v")
    Ivf.appendToIndex(spark, dir, extra)
    Ivf.compactSegments(spark, dir)
    val lists = VersionedTable.readLatest(spark, s"$dir/lists")
    assert(lists.groupBy("id").count().filter(col("count") > 1).count() == 0,
      "retry folded already-folded segments again")
    assert(lists.count() == embs.count(),
      "retry lost either the folded base or the out-of-band append")
  }

  test("rebuild publishes a new version; rollback serves the old one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2").toString
    val data = embs.filter(col("id") >= 10)
    val (_, lv1) = Ivf.buildIndex(data, "label", "v", dir)
    // rebuild over a subset (simulating a corpus change)
    val (_, lv2) = Ivf.buildIndex(data.filter(col("id") % 2 === 0),
      "label", "v", dir)
    assert(lv2 == lv1 + 1)
    val n2 = VersionedTable.readLatest(spark, s"$dir/lists").count()
    VersionedTable.swapTo(s"$dir/lists", lv1)
    val n1 = VersionedTable.readLatest(spark, s"$dir/lists").count()
    assert(n1 == data.count() && n2 < n1,
      s"rollback must serve the full version again ($n1 vs $n2)")
  }
}
