package graft

import graft.functions.Vectors
import graft.similarity.{Ivfpq, Pq}
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental IVF×PQ maintenance: frozen-centroid/frozen-codebook
  * appends (FAISS add-after-train, composed), the tagged-manifest
  * replay protocol, and the compaction cadence — the PqStream feed
  * end to end. */
class IvfpqStreamSpec extends AnyFunSuite {
  import TestSession._

  private def embs = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("label"),
      Vectors.toDouble(col("embedding")).as("v"))

  test("append encodes with the frozen codebook; appended vectors surface") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_a").toString
    val base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
    val delta = embs.filter(col("id") >= 10 && col("id") % 4 === 0)
      .select("id", "v")
    Ivfpq.buildIndex(base, "label", "id", "v", dir)
    Ivfpq.appendToIndex(spark, dir, delta)
    // the segment's codes must equal a fresh encode of the same
    // vectors against the STORED codebook (frozen-codebook contract)
    val cb = VersionedTable.readLatest(spark, s"$dir/cb")
    val want = RelationalAnn.encode(delta, cb, "id", "v", dsub = 8, scale = 10000L)
      .collect().map(r => (r.getAs[Number]("id").longValue(),
        r.getAs[Number]("sub").intValue()) -> r.getAs[Number]("code").intValue())
      .toMap
    val got = spark.read.parquet(s"$dir/segments")
      .collect().map(r => (r.getAs[Number]("id").longValue(),
        r.getAs[Number]("sub").intValue()) -> r.getAs[Number]("code").intValue())
      .toMap
    assert(got == want, "segment codes diverge from the frozen-codebook encode")
    // and the appended vectors must be reachable by search
    val queries = embs.filter(col("id") < 10).select("id", "v")
    val hit = Ivfpq.searchIndex(spark, dir, queries, "id", "v",
        k = 5, nProbe = 3, rerank = 80)
      .join(delta.select(col("id").as("n_id")), "n_id").count()
    assert(hit > 0, "appended vectors never surfaced in any top-k")
  }

  test("streaming feed: one segment per batch, marker+tag replay both safe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_s").toString
    val base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
    val delta = embs.filter(col("id") >= 10 && col("id") % 4 === 0)
      .select("id", "v")
    Ivfpq.buildIndex(base, "label", "id", "v", dir)
    val sdir = java.nio.file.Files.createTempDirectory("graft_ivfpq_sd")
    delta.coalesce(1).write.parquet(sdir.resolve("d").toString)
    def run(): Unit = {
      val stream = spark.readStream.schema(delta.schema)
        .parquet(sdir.resolve("d").toString)
      val q = graft.streaming.PqStream.maintainIvfpq(stream, dir, lineage = "s1")
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(VersionedTable.readLatest(spark, s"$dir/segmanifest").count() == 1)
    // fresh-checkpoint replay: the batch marker skips it
    run()
    assert(VersionedTable.readLatest(spark, s"$dir/segmanifest").count() == 1,
      "replayed micro-batch must be skipped by the marker protocol")
    // marker lost after the manifest committed: the manifest TAG must
    // skip the re-append (else the same codes land twice)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_batch-s1-0"))
    run()
    assert(VersionedTable.readLatest(spark, s"$dir/segmanifest").count() == 1,
      "tagged append must be idempotent when the marker is lost")
    val dup = spark.read.parquet(s"$dir/segments")
      .groupBy("id", "sub").count().filter(col("count") > 1).count()
    assert(dup == 0, "no code row may be appended twice")
  }

  test("residual index appends encode against the frozen icent + codebook") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_ra").toString
    val base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
    val delta = embs.filter(col("id") >= 10 && col("id") % 4 === 0)
      .select("id", "v")
    Ivfpq.buildIndex(base, "label", "id", "v", dir, byResidual = true)
    Ivfpq.appendToIndex(spark, dir, delta)
    // replay the residual encode sequentially: assigned list's integer
    // centroid subtracted, then nearest codebook entry per subspace
    import graft.sources.VersionedTable
    val cents = VersionedTable.readLatest(spark, s"$dir/centroids")
    val assigned = RelationalAnn.probeLists(delta, cents, nProbe = 1)
      .select("q_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    val icent = VersionedTable.readLatest(spark, s"$dir/icent").collect()
      .map(r => r.get(0) -> r.getSeq[Long](1)).toMap
    val cm = VersionedTable.readLatest(spark, s"$dir/cb").collect()
      .map(r => (r.getAs[Number]("code").intValue(),
        r.getAs[Number]("dim").intValue()) -> r.getAs[Number]("cm").longValue())
      .toMap
    val codesOf = cm.keys.map(_._1).toSeq.distinct.sorted
    val got = spark.read.parquet(s"$dir/segments").collect()
      .map(r => (r.getAs[Number]("id").longValue(),
        r.getAs[Number]("sub").intValue()) ->
        (r.getAs[Number]("code").intValue(), r.getAs[Any]("list_id")))
      .toMap
    val w = delta.select(col("id"), Pq.quantize(col("v"), 10000L).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got.nonEmpty)
    w.foreach { case (id, wv) =>
      val list = assigned(id)
      val rv = wv.zip(icent(list)).map { case (a, b) => a - b }
      (0 until 8).foreach { sub =>
        val best = codesOf.map { c =>
          val d2 = (sub * 8 until (sub + 1) * 8)
            .map { d => val x = rv(d) - cm((c, d)); x * x }.sum
          (d2, c)
        }.min._2
        assert(got((id, sub)) == ((best, list)),
          s"vector $id sub $sub: got ${got((id, sub))}, replay ($best, $list)")
      }
    }
  }

  test("interrupted compaction cannot double codes (tagged two-table fold)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_cc").toString
    val base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
    Ivfpq.buildIndex(base, "label", "id", "v", dir)
    (0 until 2).foreach { i =>
      Ivfpq.appendToIndex(spark, dir, embs
        .filter(col("id") >= 10 && col("id") % 4 === 0 && col("id") % 2 === i)
        .select("id", "v"))
    }
    val queries = embs.filter(col("id") < 10).select("id", "v")
    val want = Ivfpq.searchIndex(spark, dir, queries, "id", "v",
      k = 5, nProbe = 2, rerank = 80).collect().map(_.toSeq).toSet
    val preManifest = VersionedTable.latestVersion(s"$dir/segmanifest").get
    Ivfpq.compactSegments(spark, dir)
    val foldedCodes = VersionedTable.latestVersion(s"$dir/codes").get
    val foldedW = VersionedTable.latestVersion(s"$dir/wvecs").get
    // crash window: both folds committed, manifest flip lost
    VersionedTable.swapTo(s"$dir/segmanifest", preManifest)
    Ivfpq.compactSegments(spark, dir) // recovery retry
    assert(VersionedTable.latestVersion(s"$dir/codes").contains(foldedCodes)
        && VersionedTable.latestVersion(s"$dir/wvecs").contains(foldedW),
      "retry must reuse both tagged folds")
    val codes = VersionedTable.readLatest(spark, s"$dir/codes")
    assert(codes.groupBy("id", "sub").count()
        .filter(col("count") > 1).count() == 0,
      "compacted code table contains duplicates")
    val got = Ivfpq.searchIndex(spark, dir, queries, "id", "v",
      k = 5, nProbe = 2, rerank = 80).collect().map(_.toSeq).toSet
    assert(got == want, "recovered index diverged from pre-compact serving")
  }

  test("join-route fallback (no IN filter) returns identical ADC results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_jr").toString
    Ivfpq.buildIndex(embs.filter(col("id") >= 10), "label", "id", "v", dir)
    val queries = embs.filter(col("id") < 10).select("id", "v")
    val inRoute = Ivfpq.searchIndex(spark, dir, queries, "id", "v",
      k = 5, nProbe = 2, rerank = 80).collect().map(_.toSeq).toSet
    val joinRoute = Ivfpq.searchIndex(spark, dir, queries, "id", "v",
      k = 5, nProbe = 2, rerank = 80, maxInFilterLists = 0)
      .collect().map(_.toSeq).toSet
    assert(joinRoute == inRoute, "join-route plan diverged from the IN-filter plan")
  }

  test("compaction window serves no duplicate codes: folded base + stale manifest reads clean") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_win").toString
    val base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
    Ivfpq.buildIndex(base, "label", "id", "v", dir)
    (0 until 2).foreach { i =>
      Ivfpq.appendToIndex(spark, dir, embs
        .filter(col("id") >= 10 && col("id") % 4 === 0 && col("id") % 2 === i)
        .select("id", "v"))
    }
    val queries = embs.filter(col("id") < 10).select("id", "v")
    val want = Ivfpq.searchIndex(spark, dir, queries, "id", "v",
      k = 5, nProbe = 2, rerank = 80).collect().map(_.toSeq).toSet
    val preManifest = VersionedTable.latestVersion(s"$dir/segmanifest").get
    Ivfpq.compactSegments(spark, dir)
    // the window on EVERY compaction: both folds swapped, manifest
    // flip not yet visible — ADC partial sums must not double
    VersionedTable.swapTo(s"$dir/segmanifest", preManifest)
    val got = Ivfpq.searchIndex(spark, dir, queries, "id", "v",
      k = 5, nProbe = 2, rerank = 80).collect().map(_.toSeq).toSet
    assert(got == want, "probe inside the compaction window diverged")
  }

  test("compaction cadence is invisible to probes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_c").toString
    val plain = java.nio.file.Files.createTempDirectory("graft_ivfpq_p").toString
    val base = embs.filter(col("id") >= 10 && col("id") % 4 =!= 0)
    Ivfpq.buildIndex(base, "label", "id", "v", dir)
    Ivfpq.buildIndex(base, "label", "id", "v", plain)
    val queries = embs.filter(col("id") < 10).select("id", "v")
    (0 until 4).foreach { i =>
      val slice = embs
        .filter(col("id") >= 10 && col("id") % 4 === 0 && col("id") % 7 === i)
        .select("id", "v")
      Ivfpq.appendToIndex(spark, dir, slice)
      Ivfpq.appendToIndex(spark, plain, slice)
      Ivfpq.maintain(spark, dir, maxSegments = 2)
      assert(VersionedTable.readLatest(spark, s"$dir/segmanifest").count() <= 2,
        s"manifest unbounded at append $i")
    }
    val got = Ivfpq.searchIndex(spark, dir, queries, "id", "v",
      k = 5, nProbe = 2, rerank = 80).collect().map(_.toSeq).toSet
    val want = Ivfpq.searchIndex(spark, plain, queries, "id", "v",
      k = 5, nProbe = 2, rerank = 80).collect().map(_.toSeq).toSet
    assert(got == want, "compaction cadence must be invisible to probes")
  }
}
