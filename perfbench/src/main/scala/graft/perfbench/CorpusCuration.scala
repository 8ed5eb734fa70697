package graft.perfbench

import graft.dedup.Dedup
import graft.operators.Corpus
import graft.similarity.{Ivfpq, Knn}
import graft.sources.{Sources, VersionedTable}
import graft.text.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File

/** corpus_curation: LLM-data curation over a seeded corpus rich in
  * near-duplicates: quality gate → exact dedup → MinHash LSH → connected
  * components → split, pack and sharded write; then an IVF-PQ index
  * over the kept documents' vectors is built from the train split,
  * takes the other splits as an appended segment, answers the seeded
  * queries, and is compacted. */
object CorpusCuration extends BatchWorkload {
  type Truth = Gen.CorpusTruth

  val size = 3000
  /** Fewest planted near-duplicate pairs that must be found. */
  val MinRecall = 0.95
  val K = 10
  /** Lowest mean recall@10 of the vector queries against exact k-NN. */
  val MinAnnRecall = 0.95

  def inputHash(t: Truth): String = t.inputHash

  def generate(ctx: Ctx, in: File): Truth = {
    val spark = ctx.spark
    import spark.implicits._
    val (docs, vecs, truth) = Gen.corpus(ctx.seed, size)
    docs.map(d => (d.docId, d.text)).toDF("doc_id", "text")
      .repartition(ctx.cores).write.parquet(s"$in/docs")
    vecs.map(v => (v.id, v.cluster, v.v.toSeq)).toDF("id", "cluster", "v")
      .repartition(ctx.cores).write.parquet(s"$in/vecs")
    truth
  }

  def iteration(ctx: Ctx, in: File, out: File, truth: Truth, tr: Tracer): Unit = {
    val spark = ctx.spark
    tr.span("text") {
      val (keep, reasons) = TextAnalysis.qualityGate(col("text"), minTokens = 20,
        maxTokens = 500, minAvgTokLen = 3.0, maxAvgTokLen = 12.0, maxPunctRatio = 0.1)
      spark.read.parquet(s"$in/docs")
        .withColumn("gate", when(keep, "kept").otherwise("dropped"))
        .withColumn("reasons", reasons)
        .write.partitionBy("gate").parquet(s"$out/text")
    }
    tr.span("dedup_exact") {
      val docs = spark.read.parquet(s"$out/text").filter(col("gate") === "kept")
        .drop("gate", "reasons")
      docs.join(Dedup.exact(docs).select(col("keep_id").as("doc_id")), "doc_id")
        .write.parquet(s"$out/dedup_exact")
    }
    tr.span("dedup_lsh") {
      val docs = spark.read.parquet(s"$out/dedup_exact")
        .select(col("doc_id"), col("text"), lit("en").as("lang"), length(col("text")).as("n_chars"))
      Dedup.minhashLsh(docs, k = 8, bands = 4, threshold = 0.8)
        .write.parquet(s"$out/dedup_lsh")
    }
    tr.span("dedup_cc") {
      val cc = Dedup.connectedComponentsAdaptive(spark.read.parquet(s"$out/dedup_lsh"), "a_id", "b_id")
      spark.read.parquet(s"$out/dedup_exact")
        .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .write.parquet(s"$out/dedup_cc")
    }
    tr.span("corpus") {
      val kept = spark.read.parquet(s"$out/dedup_cc").filter(col("cluster_id") === col("doc_id"))
        .withColumn("n_tokens", TextAnalysis.nTokens(col("text")).cast("long"))
      val packed = Corpus.packSequences(Corpus.hashSplit(kept, col("doc_id"), 90, 5),
        col("split"), col("doc_id"), col("n_tokens"), budget = 2048)
      Sources.writeJsonlShards(packed.drop("cum_tokens"), "split", s"$out/corpus")
    }
    // the kept documents' vectors: the train split builds the index,
    // the other splits are appended to it
    val vecs = spark.read.parquet(s"$in/vecs")
    val shards = spark.read.schema("doc_id LONG, shard STRING").json(s"$out/corpus/data")
    def splitVecs(train: Boolean) =
      vecs.join(shards.filter((col("shard") === "train") === train).select(col("doc_id").as("id")), "id")
    tr.span("ann_build") {
      Ivfpq.buildIndex(splitVecs(train = true), "cluster", "id", "v", s"$out/ann",
        nCodes = 32, iters = 1, dsub = 8)
    }
    tr.span("ann_append")(Ivfpq.appendToIndex(spark, s"$out/ann", splitVecs(train = false).select("id", "v")))
    tr.span("ann_search") {
      Ivfpq.searchIndex(spark, s"$out/ann", queriesDf(ctx, truth), "id", "v", K, nProbe = 3, rerank = 300)
        .write.parquet(s"$out/ann_search")
    }
    tr.span("ann_maintain")(Ivfpq.maintain(spark, s"$out/ann", maxSegments = 0))
  }

  private def queriesDf(ctx: Ctx, t: Truth): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    t.queries.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("id", "v")
  }

  def check(ctx: Ctx, in: File, out: File, t: Truth, res: Result): Unit = {
    val spark = ctx.spark
    val gate = spark.read.parquet(s"$out/text").filter(col("gate") === "kept").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val wantGate = t.n - t.lowQuality.size
    res.op(gate.size == wantGate && gate.intersect(t.lowQuality).isEmpty,
      s"text: kept ${gate.size} want $wantGate")

    // every exact group keeps exactly one member and loses the others
    val afterExact = spark.read.parquet(s"$out/dedup_exact").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val exactRemoved = gate -- afterExact
    val groupsOk = t.exactGroups.forall(g => g.count(afterExact) == 1)
    val plantedCopies = t.exactGroups.flatMap(_.tail).size
    res.op(groupsOk && exactRemoved.size == plantedCopies,
      s"dedup_exact: removed ${exactRemoved.size} want $plantedCopies")

    val pairs = spark.read.parquet(s"$out/dedup_lsh").count()
    res.extra("dedup_lsh.pairs") = (pairs.toDouble, "count")
    val cluster = spark.read.parquet(s"$out/dedup_cc").select("doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = t.plantedPairs
    val found = planted.count { case (a, b) => cluster.get(a).exists(c => cluster.get(b).contains(c)) }
    val recall = found.toDouble / planted.size
    res.extra("dup_recall") = (recall, "fraction")
    res.op(recall >= MinRecall, f"dedup_lsh: recall $recall%.4f below $MinRecall")
    // a removal is wrong unless the kept representative is its planted twin
    val familyOf = t.families.flatMap(f => f.map(_ -> f.head)).toMap
    val wrong = cluster.count { case (d, c) =>
      d != c && !(familyOf.contains(d) && familyOf.get(d) == familyOf.get(c))
    }
    res.extra("wrong_removals") = (wrong.toDouble, "count")
    res.op(wrong == 0, s"dedup_cc: $wrong removals without a planted twin")

    // the shard data itself, not only its manifest, holds every kept document
    val kept = cluster.count { case (d, c) => d == c }
    val lines = spark.read.text(s"$out/corpus/data").count()
    val manifest = spark.read.parquet(s"$out/corpus/_manifest").agg(sum("n_rows")).head().getLong(0)
    res.op(lines == kept && manifest == kept, s"corpus: wrote $lines lines, manifest $manifest, want $kept")

    // vector queries against exact k-NN over every kept document's
    // vector; maintenance leaves no appended segment
    val live = spark.read.parquet(s"$in/vecs").join(
      spark.createDataFrame(cluster.collect { case (d, c) if d == c => Tuple1(d) }.toSeq).toDF("id"), "id")
    val exact = Knn.bruteForce(queriesDf(ctx, t), live.select("id", "v"), K).filter(col("rank") <= K)
      .collect().groupBy(_.getAs[Long]("q_id")).map { case (q, rows) => q -> rows.map(_.getAs[Long]("n_id")).toSet }
    val got = spark.read.parquet(s"$out/ann_search").collect()
      .groupBy(_.getAs[Long]("q_id")).map { case (q, rows) => q -> rows.map(_.getAs[Long]("n_id")).toSet }
    val annRecall = t.queries.indices.map { q =>
      got.getOrElse(q.toLong, Set.empty[Long]).count(exact.getOrElse(q.toLong, Set.empty[Long])).toDouble / K
    }.sum / t.queries.size
    res.extra("ann_recall_at_10") = (annRecall, "fraction")
    res.op(annRecall >= MinAnnRecall, f"ann_search: recall@10 $annRecall%.3f below $MinAnnRecall")
    val indexed = VersionedTable.readLatest(spark, s"$out/ann/wvecs").count()
    res.op(indexed == kept, s"ann_append: index holds $indexed vectors want $kept")
    val appended = VersionedTable.latestVersion(s"$out/ann/segmanifest").map(_ =>
      VersionedTable.readLatestLocal(spark, s"$out/ann/segmanifest").count()).getOrElse(0L)
    res.extra("ann.segments_live") = ((1 + appended).toDouble, "count")
    res.op(appended == 0, s"ann_maintain: $appended appended segments left")
  }

  def run(ctx: Ctx): Result = BatchRunner.run(this)(ctx)
}
