package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", IEEE TPAMI 2011): split each vector
  * into `m` contiguous sub-vectors, learn a small codebook per
  * subspace, store every corpus vector as m codes, and answer queries
  * by ASYMMETRIC DISTANCE COMPUTATION — per query one m×|codebook|
  * distance table, after which each corpus vector costs m table
  * lookups instead of one d-dimensional scan. The stored index is
  * m codes (~1 byte each at |codebook| ≤ 256) per vector — the memory
  * rung BELOW s5's int8 (64 bytes) and the reason billion-scale ANN
  * fits in RAM at all. IVF composes in front of it (probe-prune the
  * lists with [[Ivf]], then ADC only the probed lists) — that is
  * FAISS's IVFADC; here the stages stay separate operators.
  *
  * Numeric contract: ALL-INTEGER (the property that makes an
  * approximate index hash-checkable cross-engine). Coordinates
  * quantize to round(x·scale) longs (s5's trick with one global
  * scale); codebooks are point-seeded k-means (deterministic seeds,
  * Lloyd steps in the integer space) with means integer-rounded
  * half-away-from-zero VIA INTEGER MATH on abs+sign — never a float
  * round of an integer ratio, which lands on .5 boundaries the two
  * engines split differently; squared distances are exact BIGINT
  * sums, so assignment, distance tables, and ADC totals are
  * order-independent under any partitioning.
  *
  * Scale shape: the codebook (≤ 256·m sub-vectors) is driver-held —
  * trained as point seeds plus Lloyd steps whose results are
  * collected, each step one map pass and one (code, dim) shuffle of
  * partial sums — and it reaches the corpus as the constructor
  * literal of the native [[graft.plans.PqEncode]] kernel, so encoding
  * is a per-row projection: one vector in, its m codes out, no
  * fan-out against the codebook and no shuffle, linear in corpus with
  * constant per-vector work. ADC broadcasts the per-query distance
  * tables (|q|·m·|codebook| rows — driver-bounded by contract) and
  * scans the code table once.
  */
object Pq {

  /** round(x·scale) as exact longs — one global scale (coordinates
    * are O(1) embeddings; per-vector scaling would break cross-vector
    * distance comparability). */
  def quantize(v: Column, scale: Long): Column =
    transform(v, x => round(x * scale).cast("long"))

  /** Half-away-from-zero rounding of the integer ratio s/n (n > 0)
    * in pure integer arithmetic: positive integer division floors
    * identically in Spark (`DIV`) and DuckDB (`//`), so rounding
    * abs+sign never consults a float. */
  private[similarity] def intRoundDiv: Column =
    when(col("s") >= 0, expr("(2*s + n) DIV (2*n)"))
      .otherwise(-expr("(2*(-s) + n) DIV (2*n)"))

  /** Seed codebooks from ACTUAL corpus points — the min-id member of
    * each `id mod nCodes` group donates its sub-vectors as the
    * initial centroids (k-means' random-points init made
    * deterministic; means-of-random-subsets would all collapse onto
    * the global mean and leave nothing for Lloyd to spread).
    * Returned driver-held, exploded as (code, dim, sub, cm); dims
    * 0-based, `sub = dim DIV dsub`. */
  def seedCodebooks(data: DataFrame, idCol: String, vecCol: String,
      nCodes: Int, dsub: Int, scale: Long): DataFrame =
    local(data.groupBy(pmod(col(idCol), lit(nCodes.toLong)).cast("int").as("code"))
      .agg(min_by(quantize(col(vecCol), scale), col(idCol)).as("w"))
      .select(col("code"), posexplode(col("w")).as(Seq("dim", "cm")))
      .select(col("code"), col("dim"),
        expr(s"dim DIV $dsub").cast("int").as("sub"), col("cm")))

  /** One integer-exact Lloyd step per subspace: re-assign every
    * sub-vector to its nearest current centroid (the native
    * [[codes]] kernel — exact BIGINT distances, ties to the smaller
    * code), then integer-rounded means per (code, dim). Clusters that
    * lose every member drop out (deterministically — no random
    * re-seeding). Each step is one map pass plus one (code, dim)
    * shuffle of partial sums; the result is driver-held. */
  def refineStep(data: DataFrame, book: graft.plans.PqBook, vecCol: String,
      scale: Long): DataFrame = {
    val dsub = book.dsub
    // codes projected to a column BEFORE the explode, so they are
    // computed once per vector, not once per coordinate
    local(data.select(quantize(col(vecCol), scale).as("w"))
      .select(col("w"), codes(col("w"), book).as("c"))
      .select(posexplode(col("w")).as(Seq("dim", "x")), col("c"))
      .select(get(col("c"), expr(s"dim DIV $dsub").cast("int")).as("code"),
        col("dim"), col("x"))
      .filter(col("code").isNotNull)
      .groupBy("code", "dim")
      .agg(sum("x").as("s"), count(lit(1)).as("n"))
      .select(col("code"), col("dim"),
        expr(s"dim DIV $dsub").cast("int").as("sub"), intRoundDiv.as("cm")))
  }

  /** Train the per-subspace codebooks: point seeds + `iters` Lloyd
    * steps, all in the exact integer space; driver-held. */
  def fitCodebooks(data: DataFrame, idCol: String, vecCol: String,
      nCodes: Int, dsub: Int, scale: Long, iters: Int): DataFrame =
    (0 until iters).foldLeft(seedCodebooks(data, idCol, vecCol, nCodes, dsub, scale)) {
      (cb, _) => refineStep(data, codebook(cb, dsub), vecCol, scale)
    }

  /** A small frame collected into a driver-held local relation. */
  private def local(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  /** The exploded (code, dim, sub, cm) codebook as the native encode's
    * literal: per sub, ascending codes and their dsub-long integer
    * sub-vectors. Collects `cb` (no job when it is driver-held).
    * Entries shorter than dsub — the ragged tail of a dimension dsub
    * does not divide, which no vector encodes — are left out. */
  def codebook(cb: DataFrame, dsub: Int): graft.plans.PqBook = {
    val entries = cb.select("sub", "code", "dim", "cm").collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (k, rs) => k -> rs.sortBy(_.getInt(2)).map(_.getLong(3)) }
      .filter(_._2.length == dsub)
    val bySub = entries.toSeq.groupBy(_._1._1)
    val perSub = (0 until bySub.keys.maxOption.fold(0)(_ + 1)).map(s =>
      bySub.getOrElse(s, Nil).map { case ((_, c), cv) => (c, cv) }.sortBy(_._1))
    new graft.plans.PqBook(dsub, perSub.map(_.map(_._1).toArray).toArray,
      perSub.map(_.map(_._2).toArray).toArray)
  }

  /** A quantized vector's PQ codes, one per subspace (native
    * [[graft.plans.PqEncode]] against the driver-held codebook). */
  def codes(w: Column, book: graft.plans.PqBook): Column =
    graft.plans.VectorExpr.pqEncode(w, book)

  /** The exploded (code, dim, sub, cm) codebook reassembled as one
    * sub-vector array per (sub, code) — 256 rows at the default
    * knobs, always broadcast. */
  private[similarity] def cbSubVectors(cb: DataFrame): DataFrame =
    cb.groupBy("sub", "code")
      .agg(array_sort(collect_list(struct(col("dim"), col("cm")))).as("dc"))
      .select(col("sub"), col("code"),
        transform(col("dc"), s => s.getField("cm")).as("cv"))

  /** Each vector exploded into its `size/dsub` quantized sub-vectors
    * (dim must divide evenly — a ragged tail would zip against null). */
  private def subVectors(vecs: DataFrame, idCol: String, vecCol: String,
      dsub: Int, scale: Long): DataFrame =
    vecs.select(col(idCol).as("id"),
      posexplode(transform(
        sequence(lit(0), (size(col(vecCol)) / dsub).cast("int") - 1),
        s => slice(quantize(col(vecCol), scale), s * dsub + 1, lit(dsub))))
        .as(Seq("sub", "sv")))

  /** Exact per-(query, subspace, codebook-entry) squared distances in
    * the scaled-integer space — the ADC distance tables: sub-vectors
    * against the BROADCAST per-(sub, code) centroid sub-vectors, the
    * distance computed in-row by a light integer zip_with/aggregate.
    * Integer sums are order-independent, so the HOF accumulation is
    * bit-identical to any other order. */
  private[similarity] def subDistances(vecs: DataFrame, cb: DataFrame,
      idCol: String, vecCol: String, dsub: Int, scale: Long): DataFrame =
    subVectors(vecs, idCol, vecCol, dsub, scale)
      .join(broadcast(cbSubVectors(cb)), "sub")
      .select(col("id"), col("sub"), col("code"),
        aggregate(zip_with(col("sv"), col("cv"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
          .as("d2"))

  /** PQ codes as (id, sub, code) rows: per (vector, subspace) the
    * codebook entry minimizing the exact squared distance, ties to
    * the smaller code — one row in, m rows out, map-side. `carry`
    * columns ride along unchanged. */
  def encode(corpus: DataFrame, book: graft.plans.PqBook, idCol: String,
      vecCol: String, scale: Long, carry: Seq[String] = Nil): DataFrame =
    corpus.select((col(idCol).as("id") +: carry.map(col)) :+
        posexplode(codes(quantize(col(vecCol), scale), book)).as(Seq("sub", "code")): _*)
      .filter(col("code").isNotNull)

  /** ADC top-k: per-query distance tables over the SAME codebook,
    * joined to the corpus codes on (sub, code), summed per pair —
    * exact BIGINT `adist` (scaled² units), rank asc with id
    * tie-break.
    *
    * `rerank > 0` adds the production refine stage (FAISS's
    * IndexRefine): the top-`rerank` ADC candidates per query are
    * re-scored with the EXACT integer distance on the full quantized
    * vectors before the final top-k — |q|·rerank·d extra work, which
    * buys back the recall PQ's 8-byte codes give up while the scan
    * still costs table lookups per corpus vector. `adist` then
    * carries the exact distance for the survivors. */
  def adcSearch(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nCodes: Int = 16,
      iters: Int = 1, dsub: Int = 8, scale: Long = 10000L,
      rerank: Int = 0): DataFrame = {
    val cb = fitCodebooks(corpus, idCol, vecCol, nCodes, dsub, scale, iters)
    val coded = encode(corpus, codebook(cb, dsub), idCol, vecCol, scale)
    val qd = subDistances(queries, cb, idCol, vecCol, dsub, scale)
      .select(col("id").as("q_id"), col("sub"), col("code"), col("d2"))
    val adc = coded.select(col("id").as("n_id"), col("sub"), col("code"))
      .join(broadcast(qd), Seq("sub", "code"))
      .groupBy("q_id", "n_id")
      .agg(sum("d2").as("adist"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adist").asc, col("n_id").asc)
    if (rerank <= 0)
      adc.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= k)
    else {
      val nw = corpus.select(col(idCol).as("n_id"),
        quantize(col(vecCol), scale).as("nw"))
      refine(adc, queries, nw, idCol, vecCol, k, rerank, scale)
    }
  }

  /** The exact-refine stage: top-`rerank` ADC candidates re-scored
    * with the true integer distance (light per-element HOF — the
    * measured-fast shape for small work), then the final top-k. */
  private[similarity] def refine(adc: DataFrame, queries: DataFrame, nw: DataFrame,
      idCol: String, vecCol: String, k: Int, rerank: Int,
      scale: Long): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("adist").asc, col("n_id").asc)
    val shortlist = adc
      .withColumn("arank", row_number().over(w))
      .filter(col("arank") <= rerank).select("q_id", "n_id")
    val qw = queries.select(col(idCol).as("q_id"),
      quantize(col(vecCol), scale).as("qw"))
    val exact = shortlist
      .join(broadcast(qw), "q_id").join(nw, "n_id")
      .select(col("q_id"), col("n_id"),
        aggregate(zip_with(col("qw"), col("nw"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
          .as("adist"))
    exact.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Persist a trained PQ index: the codebook, the corpus codes, and
    * the quantized original vectors (the refine sidecar — FAISS's
    * IndexRefine keeps the same) as three versioned tables behind
    * atomic latest-pointers. Train once, probe many: at serving time
    * only the (tiny) codebook, the m-codes-per-vector table, and the
    * shortlist's sidecar rows are touched — never a training pass. */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nCodes: Int = 32, iters: Int = 1, dsub: Int = 8,
      scale: Long = 10000L): Unit = {
    // the caller's plan runs once: every pass below reads this
    val in = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .localCheckpoint()
    val cb = fitCodebooks(in, "id", "v", nCodes, dsub, scale, iters)
    graft.sources.VersionedTable.writeLocal(cb, s"$dir/cb")
    graft.sources.VersionedTable.write(
      encode(in, codebook(cb, dsub), "id", "v", scale), s"$dir/codes")
    graft.sources.VersionedTable.write(
      in.select(col("id").as("n_id"), quantize(col("v"), scale).as("nw")),
      s"$dir/wvecs")
  }

  /** Probe a persisted index: per-query distance tables against the
    * stored codebook, ADC over the stored codes, exact refine against
    * the stored sidecar. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      rerank: Int = 0, dsub: Int = 8, scale: Long = 10000L): DataFrame = {
    // codebook via the per-version LOCAL cache (r19): 256·m rows by
    // construction, immutable per version — was a scan job per probe;
    // codes/wvecs are corpus-proportional and stay parquet scans
    val cb = graft.sources.VersionedTable.readLatestLocal(spark, s"$dir/cb")
    val codes = graft.sources.VersionedTable.readLatest(spark, s"$dir/codes")
    val qd = subDistances(queries, cb, idCol, vecCol, dsub, scale)
      .select(col("id").as("q_id"), col("sub"), col("code"), col("d2"))
    val adc = codes.select(col("id").as("n_id"), col("sub"), col("code"))
      .join(broadcast(qd), Seq("sub", "code"))
      .groupBy("q_id", "n_id")
      .agg(sum("d2").as("adist"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adist").asc, col("n_id").asc)
    if (rerank <= 0)
      adc.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= k)
    else
      refine(adc, queries,
        graft.sources.VersionedTable.readLatest(spark, s"$dir/wvecs"),
        idCol, vecCol, k, rerank, scale)
  }

  /** Build-if-absent for a corpus derived from one data directory
    * (the x7/s4 lifecycle): fingerprint-keyed on embeddings.parquet
    * plus every training knob, orphan-swept via
    * [[graft.sources.FingerprintCache]]. */
  def ensureIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dataDir: String, nCodes: Int = 32, iters: Int = 1, dsub: Int = 8,
      scale: Long = 10000L): String = synchronized {
    val f = new java.io.File(s"$dataDir/embeddings.parquet")
    val live = ":pq:v1"
    val key = graft.operators.Retrieval.corpusFingerprintKey(f) +
      s":$nCodes:$iters:$dsub:$scale" + live
    val dir = graft.sources.FingerprintCache.prepare("graft_pq", key, live)
    if (Seq("cb", "codes", "wvecs").exists(t =>
        graft.sources.VersionedTable.latestVersion(s"$dir/$t").isEmpty))
      buildIndex(corpus, idCol, vecCol, dir, nCodes, iters, dsub, scale)
    dir
  }
}
