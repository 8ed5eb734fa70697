package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Pq

/** Product-quantization contract: (1) the ADC total REALLY IS the
  * squared distance between the query and the reconstruction the
  * stored codes imply — the structural identity that makes PQ PQ —
  * (2) recall against the exact integer-L2 top-k is usable (the
  * point-seed + Lloyd codebooks must beat the degenerate label-mean
  * form whose identical codes tied whole clusters), and (3)
  * everything is partitioning-invariant (the all-integer claim).
  */
class PqSpec extends AnyFunSuite {
  import TestSession._

  private val scale = 10000L
  private val dsub = 8
  private val nCodes = 32

  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"),
      functions.Vectors.toDouble(col("embedding")).as("v"))

  test("ADC equals the reconstruction distance of the stored codes") {
    val queries = emb.filter(col("id") < 10)
    val corpus = emb.filter(col("id") >= 10)
    val got = Pq.adcSearch(queries, corpus, "id", "v",
        k = 5, nCodes = nCodes, iters = 1, dsub = dsub, scale = scale)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)

    val cbDf = Pq.fitCodebooks(corpus, "id", "v", nCodes, dsub, scale,
      iters = 1).localCheckpoint()
    val cm = cbDf.collect()
      .map(r => (r.getAs[Number]("code").intValue(),
        r.getAs[Number]("dim").intValue()) -> r.getAs[Number]("cm").longValue())
      .toMap
    val codes = Pq.encode(corpus, Pq.codebook(cbDf, dsub), "id", "v", scale).collect()
      .map(r => (r.getAs[Number]("id").longValue(),
        r.getAs[Number]("sub").intValue()) -> r.getAs[Number]("code").intValue())
      .toMap
    val w = emb.select(col("id"), Pq.quantize(col("v"), scale).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    got.foreach { case ((q, n), adist) =>
      val recon = (0 until 64).map { d =>
        val c = codes((n, d / dsub))
        val diff = w(q)(d) - cm((c, d))
        diff * diff
      }.sum
      assert(adist == recon,
        s"ADC($q,$n)=$adist != reconstruction distance $recon")
    }
  }

  test("recall@5 vs the exact integer-L2 top-5 clears the floor") {
    val queries = emb.filter(col("id") < 10)
    val corpus = emb.filter(col("id") >= 10)
    val got = Pq.adcSearch(queries, corpus, "id", "v",
        k = 5, nCodes = nCodes, iters = 1, dsub = dsub, scale = scale,
        rerank = 80)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val w = emb.select(col("id"), Pq.quantize(col("v"), scale).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    val (qs, cs) = (w.filter(_._1 < 10), w.filter(_._1 >= 10))
    val recalls = qs.map { case (q, qw) =>
      val exact = cs.map { case (n, nw) =>
        n -> qw.zip(nw).map { case (a, b) => (a - b) * (a - b) }.sum }
        .sortBy { case (n, d) => (d, n) }.take(5).map(_._1).toSet
      got(q).intersect(exact).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    // measured 0.90 at these knobs (vs 0.26 strict-ADC); generous
    // floor so data regeneration can't flake the suite
    assert(mean >= 0.6, f"mean PQ recall@5 $mean%.2f below floor")
  }

  test("results are partitioning-invariant (all-integer arithmetic)") {
    val queries = emb.filter(col("id") < 10)
    val corpus = emb.filter(col("id") >= 10)
    def run(q: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame) =
      Pq.adcSearch(q, c, "id", "v", k = 5, nCodes = nCodes, iters = 1,
        dsub = dsub, scale = scale, rerank = 80).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSet
    assert(run(queries, corpus) ==
      run(queries.repartition(7), corpus.repartition(13)),
      "repartitioning changed PQ output — integer contract violated")
  }
}
