package graft

import graft.functions.Vectors
import graft.similarity.{Ivf, Pq}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Parity of the native IVF-PQ kernels with the relational forms they
  * replaced ([[RelationalAnn]]): PQ encode and codebook training
  * (graft.plans.PqEncode) and list assignment / probing
  * (graft.plans.NearestLists), on the real embeddings and on the edge
  * cases the relational forms define — exact distance ties, a
  * codebook that lost a code, null vectors, cosine ties, zero and NaN
  * vectors. */
class AnnKernelSpec extends AnyFunSuite {
  import TestSession._

  private def embs = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("label"),
      Vectors.toDouble(col("embedding")).as("v"))

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def vecs(vs: (Long, Seq[java.lang.Double])*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(vs.map { case (i, v) => Row(i, v) }: _*),
      StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(DoubleType)))))

  /** Exploded (code, dim, sub, cm) codebook from per-(sub, code) rows. */
  private def cbOf(dsub: Int, entries: (Int, Int, Seq[Long])*): DataFrame = {
    val rs = entries.flatMap { case (sub, code, cv) =>
      cv.zipWithIndex.map { case (cm, i) => Row(code, sub * dsub + i, sub, cm) } }
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), StructType(Seq(
      StructField("code", IntegerType), StructField("dim", IntegerType),
      StructField("sub", IntegerType), StructField("cm", LongType))))
  }

  private def encodeBoth(data: DataFrame, cb: DataFrame, dsub: Int, scale: Long) =
    (rows(Pq.encode(data, Pq.codebook(cb, dsub), "id", "v", scale)
        .select("id", "sub", "code")),
      rows(RelationalAnn.encode(data, cb, "id", "v", dsub, scale)))

  test("encode and codebook training equal the relational forms on the real corpus") {
    val corpus = embs.filter(col("id") >= 10).select("id", "v")
    val cb = Pq.fitCodebooks(corpus, "id", "v", 32, 8, 10000L, iters = 2)
    val want = RelationalAnn.fitCodebooks(corpus, "id", "v", 32, 8, 10000L, iters = 2)
    assert(rows(cb) == rows(want), "trained codebooks diverge")
    val (got, ref) = encodeBoth(embs.select("id", "v"), cb, 8, 10000L)
    assert(got.nonEmpty && got == ref, "codes diverge from the relational encode")
  }

  test("encode edge cases: distance ties, a lost code, a null vector") {
    // dsub 2, scale 1: vector 1 sits exactly between codes 5 and 2 of
    // sub 0 (squared distance 2 to both: tie to the smaller code);
    // codes 0, 1, 3 and 4 were lost in sub 0, and sub 1 lost code 2
    val cb = cbOf(2,
      (0, 5, Seq(0L, 0L)), (0, 2, Seq(2L, 2L)), (0, 6, Seq(9L, 9L)),
      (1, 0, Seq(1L, 1L)), (1, 3, Seq(1L, 1L)), (1, 7, Seq(-4L, 0L)))
    val data = vecs(
      1L -> Seq[java.lang.Double](1.0, 1.0, 1.0, 1.0),
      2L -> Seq[java.lang.Double](8.6, 9.4, -3.5, 0.2),
      3L -> null,
      4L -> Seq[java.lang.Double](-7.0, 2.0, 5.0, 5.0, 1.0))
    val (got, ref) = encodeBoth(data, cb, 2, 1L)
    assert(got == ref, s"native $got vs relational $ref")
    assert(got.contains(Seq(1L, 0, 2)) && got.contains(Seq(1L, 1, 0)),
      s"ties must go to the smaller code: $got")
    assert(!got.exists(_.head == 3L), "a null vector has no codes")
  }

  /** Ranked list ids per query from the relational probe. */
  private def relationalRanked(queries: DataFrame, cents: DataFrame, n: Int) =
    RelationalAnn.probeLists(queries, cents, n).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(_.get(2)).toSeq }

  private def nativeRanked(queries: DataFrame, cents: DataFrame, n: Int) =
    queries.select(col("id"),
        graft.plans.VectorExpr.nearestLists(col("v"), Ivf.centroidBook(cents), n).as("ls"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap

  private def assertProbeParity(queries: DataFrame, cents: DataFrame): Unit =
    (1 to 3).foreach { n =>
      val got = nativeRanked(queries, cents, n)
      val want = relationalRanked(queries, cents, n)
      assert(got == want, s"nProbe=$n: native $got vs relational $want")
      def pairs(df: DataFrame) = df.select("q_id", "list_id").collect()
        .map(r => (r.getLong(0), r.get(1))).toSet
      assert(pairs(Ivf.probe(queries, Ivf.centroidBook(cents), n)) ==
        pairs(RelationalAnn.probeLists(queries, cents, n)))
    }

  private def centsOf(idType: DataType, cs: (Any, Seq[Double])*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(cs.map { case (l, c) => Row(l, c) }: _*),
      StructType(Seq(StructField("list_id", idType),
        StructField("centroid", ArrayType(DoubleType)))))

  test("assignment and probing equal the relational probe on the real corpus") {
    val data = embs.filter(col("id") >= 10)
    val cents = Ivf.centroidsQuantized(data, "label", "v", 1000000L).localCheckpoint()
    assertProbeParity(embs.select("id", "v"), cents)
  }

  test("probe edge cases: cosine ties, a null vector, NaN, string list ids") {
    // lists 7 and 3 share a centroid (cosine tie → 3 first), list 5
    // ties query 2 with both; query 3 is null (every cosine null →
    // smallest ids); query 4 has a NaN coordinate (NaN cosines)
    val cents = centsOf(LongType, 7L -> Seq(1.0, 0.0), 3L -> Seq(1.0, 0.0),
      5L -> Seq(0.0, 1.0), 9L -> Seq(-1.0, 0.5))
    val queries = vecs(
      1L -> Seq[java.lang.Double](2.0, 0.0),
      2L -> Seq[java.lang.Double](1.0, 1.0),
      3L -> null,
      4L -> Seq[java.lang.Double](Double.NaN, 1.0),
      5L -> Seq[java.lang.Double](-0.3, 0.2))
    assertProbeParity(queries, cents)
    assert(nativeRanked(queries, cents, 2)(1L) == Seq(3L, 7L))
    assert(nativeRanked(queries, cents, 2)(3L) == Seq(3L, 5L))
    val named = centsOf(StringType, "b" -> Seq(1.0, 0.0), "a" -> Seq(1.0, 0.0),
      "c" -> Seq(0.0, 1.0))
    assertProbeParity(queries, named)
  }

  test("an all-zero vector fails under ANSI like the relational cosine, and ranks last without it") {
    val cents = centsOf(LongType, 2L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0))
    val zero = vecs(1L -> Seq[java.lang.Double](0.0, 0.0), 2L -> Seq[java.lang.Double](1.0, 2.0))
    def failsDividing(f: => Any): Boolean =
      try { f; false } catch {
        case e: Throwable =>
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .exists(t => Option(t.getMessage).exists(_.contains("DIVIDE_BY_ZERO")))
      }
    assert(failsDividing(nativeRanked(zero, cents, 1)))
    assert(failsDividing(RelationalAnn.probeLists(zero, cents, 1).collect()))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assertProbeParity(zero, cents)
    finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("both kernels run inside whole-stage codegen") {
    val cb = Pq.fitCodebooks(embs.select("id", "v"), "id", "v", 8, 8, 10000L, iters = 0)
    val cents = Ivf.centroidsQuantized(embs, "label", "v", 1000000L)
    // quantize is a HOF, which keeps its Project out of whole-stage
    // codegen; a cast feeds the encode kernel here instead
    val df = embs.select(
      Pq.codes(col("v").cast("array<bigint>"), Pq.codebook(cb, 8)).as("c"),
      graft.plans.VectorExpr.nearestLists(col("v"), Ivf.centroidBook(cents), 2).as("l"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [pqencode") && plan.contains("nearestlists"),
      plan.take(1500))
    assert(df.filter(size(col("c")) === 8 && size(col("l")) === 2).count() == df.count())
  }
}
