package graft

import graft.functions.Vectors
import graft.similarity.Pq
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational IVF probe and PQ encode/training that the native
  * kernels (graft.plans.NearestLists, graft.plans.PqEncode) replaced,
  * kept here as the reference the parity specs compare against — the
  * role `Vectors.dotComposable` plays for DotProduct. */
object RelationalAnn {

  /** Each query (id, v) with its `nProbe` closest centroids and their
    * rank `p`: broadcast cross join, then `row_number` over cosine4
    * desc, list_id asc. */
  def probeLists(queries: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val scored = queries.crossJoin(broadcast(cents))
      .select(col("id").as("q_id"), col("v").as("q_v"), col("list_id"),
        Vectors.cosine4(col("v"), col("centroid")).as("c_cos"))
    val w = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("list_id").asc)
    scored.withColumn("p", row_number().over(w)).filter(col("p") <= nProbe)
      .select("q_id", "q_v", "list_id", "p")
  }

  private def cbSubVectors(cb: DataFrame): DataFrame =
    cb.groupBy("sub", "code")
      .agg(array_sort(collect_list(struct(col("dim"), col("cm")))).as("dc"))
      .select(col("sub"), col("code"),
        transform(col("dc"), s => s.getField("cm")).as("cv"))

  /** (id, sub, code): every quantized sub-vector fanned out against
    * the broadcast codebook, reduced by (id, sub) to the struct-min of
    * (exact squared distance, code). */
  def encode(corpus: DataFrame, cb: DataFrame, idCol: String,
      vecCol: String, dsub: Int, scale: Long): DataFrame =
    corpus.select(col(idCol).as("id"),
        posexplode(transform(
          sequence(lit(0), (size(col(vecCol)) / dsub).cast("int") - 1),
          s => slice(Pq.quantize(col(vecCol), scale), s * dsub + 1, lit(dsub))))
          .as(Seq("sub", "sv")))
      .join(broadcast(cbSubVectors(cb)), "sub")
      .select(col("id"), col("sub"), col("code"),
        aggregate(zip_with(col("sv"), col("cv"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x).as("d2"))
      .groupBy("id", "sub")
      .agg(min(struct(col("d2"), col("code"))).as("mc"))
      .select(col("id"), col("sub"), col("mc.code").as("code"))

  private val intRoundDiv =
    when(col("s") >= 0, expr("(2*s + n) DIV (2*n)"))
      .otherwise(-expr("(2*(-s) + n) DIV (2*n)"))

  /** Point seeds (min-id member per `id mod nCodes`) + `iters`
    * integer Lloyd steps, each joining the coordinates to their
    * (id, sub) codes. */
  def fitCodebooks(data: DataFrame, idCol: String, vecCol: String,
      nCodes: Int, dsub: Int, scale: Long, iters: Int): DataFrame = {
    val seeds = data.groupBy(pmod(col(idCol), lit(nCodes.toLong)).as("code"))
      .agg(min(col(idCol)).as("__seed_id"))
    var cb = data.join(broadcast(seeds), col(idCol) === col("__seed_id"))
      .select(col("code").cast("int").as("code"),
        posexplode(Pq.quantize(col(vecCol), scale)).as(Seq("dim", "w")))
      .select(col("code"), col("dim"),
        expr(s"dim DIV $dsub").cast("int").as("sub"), col("w").as("cm"))
    (0 until iters).foreach { _ =>
      val step = cb.localCheckpoint()
      val assigned = encode(data, step, idCol, vecCol, dsub, scale)
      cb = data.select(col(idCol).as("id"),
          posexplode(Pq.quantize(col(vecCol), scale)).as(Seq("dim", "w")))
        .withColumn("sub", expr(s"dim DIV $dsub").cast("int"))
        .join(assigned, Seq("id", "sub"))
        .groupBy("code", "dim")
        .agg(sum("w").as("s"), count(lit(1)).as("n"))
        .select(col("code"), col("dim"),
          expr(s"dim DIV $dsub").cast("int").as("sub"), intRoundDiv.as("cm"))
    }
    cb
  }
}
