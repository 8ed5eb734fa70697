package graft

import graft.operators.SegmentedBm25
import graft.sources.VersionedTable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Segmented BM25 lifecycle cost shape: the manifest is driver-held
  * (no job to read it), each lifecycle call stays within a fixed job
  * budget, a segment's sidecar is one unpartitioned write, and the
  * segment stats the manifest records are those of that sidecar. */
class Bm25LifecycleSpec extends AnyFunSuite {
  import TestSession._

  private def fresh(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  private def docs = Tables.documents(spark, sf).select("doc_id", "text")

  test("append, search and maintain each stay within a job budget") {
    val idx = fresh("graft_bm25_jobs")
    val corpus = docs.filter(col("doc_id") >= 5)
    val first = corpus.filter(col("doc_id") % 2 === 0).localCheckpoint()
    // the other half plus changed copies of every 7th first-batch doc
    val replacing = corpus.filter(col("doc_id") % 2 === 1)
      .unionByName(corpus.filter(col("doc_id") % 14 === 0)
        .withColumn("text", concat(col("text"), lit(" appendix"))))
      .localCheckpoint()
    val queries = docs.filter(col("doc_id") < 5).localCheckpoint()
    val manifest = s"$idx/manifest"

    val append1 = JobCount.of(spark)(SegmentedBm25.append(first, "doc_id", "text", idx))
    val read = JobCount.of(spark)(VersionedTable.localRows(spark, manifest))
    val search = JobCount.of(spark)(
      SegmentedBm25.search(spark, idx, queries, "doc_id", "text", 5).collect())
    val idle = JobCount.of(spark)(SegmentedBm25.maintain(spark, idx, maxSegments = 8))
    val append2 = JobCount.of(spark)(SegmentedBm25.append(replacing, "doc_id", "text", idx))
    val fold = JobCount.of(spark)(SegmentedBm25.maintain(spark, idx, maxSegments = 1))

    assert(read.result.count(_.getString(0) == "seg") == 1)
    assert(search.result.nonEmpty)
    assert(idle.result.isEmpty && fold.result.isDefined)
    val tombs = VersionedTable.localRows(spark, manifest).count(_.getString(0) == "tomb")
    assert(tombs == 0, "the fold clears every tombstone")
    val budgets = Seq(("append (first)", append1.jobs, 5), ("manifest read", read.jobs, 0),
      ("search", search.jobs, 9), ("maintain (idle)", idle.jobs, 0),
      ("append (replacing)", append2.jobs, 8), ("maintain (fold)", fold.jobs, 7))
    budgets.foreach { case (name, jobs, budget) =>
      info(s"$name: ${jobs.size} jobs")
      assert(jobs.size <= budget,
        s"$name launched ${jobs.size} jobs, budget $budget:\n${jobs.mkString("\n")}")
    }
  }

  test("a fresh segment's sidecar is one unpartitioned write") {
    val idx = fresh("graft_bm25_sidecar")
    SegmentedBm25.append(docs.filter(col("doc_id") >= 5), "doc_id", "text", idx)
    val seg = new java.io.File(s"$idx/docmeta/seg=1")
    val children = seg.listFiles().toSeq
    assert(children.nonEmpty && !children.exists(_.isDirectory),
      s"docmeta/seg=1 holds directories: ${children.filter(_.isDirectory).map(_.getName)}")
    assert(children.exists(_.getName.endsWith(".parquet")))
  }

  test("a query whose terms fall in buckets no segment holds returns no rows") {
    val idx = fresh("graft_bm25_miss")
    SegmentedBm25.append(docs.filter(col("doc_id") >= 5), "doc_id", "text", idx)
    val present = new java.io.File(s"$idx/segdata/seg=1").list().toSet
    def bucket(t: String) = spark.range(1)
      .select(pmod(xxhash64(lit(t)), lit(operators.Retrieval.TfBuckets.toLong))).head().getLong(0)
    val absent = Iterator.from(0).map(i => s"absent$i")
      .find(t => !present(s"tok_bucket=${bucket(t)}")).get
    val queries = docs.filter(col("doc_id") < 2).withColumn("text", lit(absent))
    assert(SegmentedBm25.search(spark, idx, queries, "doc_id", "text", 5).count() == 0)
  }

  test("observed segment stats equal count and sum(dl) over the written sidecar") {
    val idx = fresh("graft_bm25_stats")
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    def batch(rows: (Long, String)*) = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava, schema)
    }
    // a repeated id with two texts, a repeated id with one text, an
    // empty text and a null text
    SegmentedBm25.append(batch(1L -> "alpha beta", 1L -> "alpha beta gamma",
      2L -> "delta", 2L -> "delta", 3L -> "", 4L -> null, 5L -> "Epsilon  zeta eta"),
      "doc_id", "text", idx)
    // replaces 1 and 5, adds 6
    SegmentedBm25.append(batch(1L -> "beta", 5L -> "zeta", 6L -> "theta iota"),
      "doc_id", "text", idx)
    val segs = VersionedTable.localRows(spark, s"$idx/manifest")
      .filter(_.getString(0) == "seg")
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(segs.keySet == Set(1L, 2L))
    segs.foreach { case (s, observed) =>
      val meta = spark.read.parquet(s"$idx/docmeta/seg=$s")
      val st = meta.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
      assert(observed == (st.getLong(0), st.getLong(1)), s"segment $s")
    }
    assert(segs(1L) == (5L, 2L + 3L + 1L + 1L + 3L),
      "two copies of id 1, one of id 2, the empty text, no entry for the null text")
    val meta1 = spark.read.parquet(s"$idx/docmeta/seg=1").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dl"))).toSet
    assert(meta1 == Set((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (5L, 3L)))
  }
}
