package graft.perfbench

import graft.operators.{Harvest, Indexing, Records, SegmentedBm25, Transform, Validate}
import graft.sources.{Sources, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.io.File

/** marc_etl: the reference's harvest → records → transform → validate
  * → index DAG over seeded OAI-PMH/MARC21 records, one stage output
  * written per stage as each task writes its own prefix; the BM25
  * index built from the valid records then answers seeded queries. */
object MarcEtl extends BatchWorkload {
  type Truth = Gen.MarcTruth

  val size = 1000
  val RecordsPerFile = 500
  val K = 10

  /** MARC 245 → Dublin Core: title parts and the statement of
    * responsibility; a blank title emits nothing. */
  val Sheet: String =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<xsl:stylesheet version="2.0"
      |    xmlns:xsl="http://www.w3.org/1999/XSL/Transform"
      |    xmlns:dc="http://purl.org/dc/elements/1.1/"
      |    xmlns:oai_dc="http://www.openarchives.org/OAI/2.0/oai_dc/">
      |  <xsl:template match="text() | @*"/>
      |  <xsl:template match="//datafield[@tag='245']">
      |    <oai_dc:dc><xsl:apply-templates/></oai_dc:dc>
      |  </xsl:template>
      |  <xsl:template match="subfield">
      |    <xsl:if test="normalize-space(.)!=''">
      |      <xsl:choose>
      |        <xsl:when test="starts-with(., 'by ')"><dc:creator><xsl:value-of select="normalize-space(.)"/></dc:creator></xsl:when>
      |        <xsl:otherwise><dc:title><xsl:value-of select="normalize-space(.)"/></dc:title></xsl:otherwise>
      |      </xsl:choose>
      |    </xsl:if>
      |  </xsl:template>
      |</xsl:stylesheet>""".stripMargin

  /** Required fields of the transformed record. */
  val Schema: String =
    """<?xml version="1.0"?>
      |<schema xmlns="http://purl.oclc.org/dsdl/schematron"
      |    xmlns:dc="http://purl.org/dc/elements/1.1/"
      |    xmlns:oai_dc="http://www.openarchives.org/OAI/2.0/oai_dc/">
      |  <ns prefix="dc" uri="http://purl.org/dc/elements/1.1/"/>
      |  <ns prefix="oai_dc" uri="http://www.openarchives.org/OAI/2.0/oai_dc/"/>
      |  <pattern id="required">
      |    <rule context="oai_dc:dc">
      |      <assert test="dc:title" id="R1" role="error">There must be a title</assert>
      |      <assert test="dc:creator" id="R2" role="error">There must be a creator</assert>
      |    </rule>
      |  </pattern>
      |  <pattern id="content">
      |    <rule context="oai_dc:dc/dc:title">
      |      <assert test="normalize-space(.)" id="T1" role="error">The title element must contain text</assert>
      |    </rule>
      |  </pattern>
      |</schema>""".stripMargin

  private val lookupSchema = StructType(Seq(
    StructField("child_id", StringType), StructField("parent_xml", StringType)))

  def inputHash(t: Truth): String = t.inputHash

  def generate(ctx: Ctx, in: File): Truth = {
    val spark = ctx.spark
    import spark.implicits._
    val (rows, truth) = Gen.marc(ctx.seed, size)
    rows.map(r => (r.oaiId, r.datestamp, r.setSpec, r.headerStatus, r.seq, r.xml))
      .toDF("oai_id", "datestamp", "set_spec", "header_status", "seq", "xml")
      .repartition(ctx.cores).write.parquet(s"$in/raw")
    truth.lookup.toDF("child_id", "parent_xml").coalesce(1)
      .write.option("header", "true").csv(s"$in/lookup")
    truth
  }

  def iteration(ctx: Ctx, in: File, out: File, truth: Truth, tr: Tracer): Unit = {
    val spark = ctx.spark
    tr.span("harvest") {
      val raw = spark.read.parquet(s"$in/raw")
      val flagged = Harvest.flagDeleted(raw, col("header_status"), "deleted")
      val sets = Harvest.excludeSets(
        Harvest.includeSets(flagged, col("set_spec"), Gen.IncludedSets),
        col("set_spec"), Gen.ExcludedSets)
      val windowed = Harvest.dateWindow(sets, col("datestamp"),
        Some(Gen.WindowFrom), Some(Gen.WindowUntil))
      val latest = Harvest.latestPerIdentifier(windowed, col("oai_id"), col("datestamp"), col("seq"))
      val keyed = Harvest.contentKey(latest, col("xml"), "marc_etl/run")
        .withColumn("status", when(col("is_deleted"), "deleted").otherwise("new-updated"))
      Sources.writeBatched(
        Harvest.batchAssign(keyed, Seq(col("status")), col("oai_id"), RecordsPerFile),
        "status", "file_idx", s"$out/harvest")
    }
    tr.span("records") {
      val harvested = Sources.readStatus(spark, s"$out/harvest", "status", "new-updated")
        .select(col("oai_id"), col("xml"),
          Records.record001Status(col("xml")).as("id_status"),
          Records.record001(col("xml")).as("rec_id"))
      val lookup = Sources.csvLookup(spark, s"$in/lookup", lookupSchema)
      Records.lookupEnrich(harvested, lookup, col("rec_id"), col("child_id"))
        .withColumn("xml", Records.appendParentFields(col("xml"), col("parent_xml")))
        .drop("child_id", "parent_xml")
        .write.parquet(s"$out/records")
    }
    tr.span("transform") {
      val ok = spark.read.parquet(s"$out/records").filter(col("id_status") === "ok")
      Transform.xsltSheetTransformXml(Sheet, "xml", Seq("rec_id"))(ok)
        .write.parquet(s"$out/transform")
    }
    tr.span("validate") {
      val t = spark.read.parquet(s"$out/transform")
      val rules = Validate.compileSchematron(Schema, col("rec"))
      Sources.writeCsvReport(
        Validate.schematronReport(t, rules, Seq.empty, "#ALL", col("rec_id"))
          .filter(col("n_failed") > 0),
        s"$out/validate_report")
      Validate.filterValid(t, Validate.schAsRules(rules)).write.parquet(s"$out/validate")
    }
    val docs = indexDocs(ctx, out)
    tr.span("index") {
      docs.select(Indexing.solrDoc(Seq(
          "id" -> col("doc_id"), "title" -> to_json(array(col("title"))),
          "creator" -> to_json(array(col("creator"))))).as("doc"))
        .write.text(s"$out/solr")
    }
    tr.span("bm25_append")(SegmentedBm25.append(docs, "doc_id", "text", s"$out/bm25"))
    tr.span("bm25_search") {
      SegmentedBm25.search(spark, s"$out/bm25", queriesDf(ctx, truth), "q_id", "text", K)
        .write.parquet(s"$out/bm25_search")
    }
  }

  /** The valid records as documents: id, title, creator, and the
    * lower-cased text BM25 indexes. */
  def indexDocs(ctx: Ctx, out: File): DataFrame =
    ctx.spark.read.parquet(s"$out/validate").select(
        col("rec_id").cast("long").as("doc_id"),
        concat_ws(" ", xpath(col("rec"), lit("//*[local-name()='title']/text()"))).as("title"),
        concat_ws(" ", xpath(col("rec"), lit("//*[local-name()='creator']/text()"))).as("creator"))
      .withColumn("text", lower(concat_ws(" ", col("title"), col("creator"))))

  private def queriesDf(ctx: Ctx, t: Truth) = {
    val spark = ctx.spark
    import spark.implicits._
    t.queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("q_id", "text")
  }

  def check(ctx: Ctx, in: File, out: File, t: Truth, res: Result): Unit = {
    val spark = ctx.spark
    def expect(stage: String, got: Seq[(String, Long)], want: Seq[(String, Long)]): Unit =
      res.op(got == want, s"$stage: got ${got.mkString(",")} want ${want.mkString(",")}")

    val h = spark.read.parquet(s"$out/harvest")
    val hc = h.agg(
      sum(when(col("status") === "new-updated", 1).otherwise(0)),
      sum(when(col("status") === "deleted", 1).otherwise(0)),
      sum(when(col("xml").contains("superseded"), 1).otherwise(0))).head()
    expect("harvest", Seq("new-updated" -> hc.getLong(0), "deleted" -> hc.getLong(1),
        "superseded" -> hc.getLong(2)),
      Seq("new-updated" -> t.kept.toLong, "deleted" -> t.deleted.toLong, "superseded" -> 0L))
    res.extra("harvest.rows_out") = ((hc.getLong(0) + hc.getLong(1)).toDouble, "count")

    val r = spark.read.parquet(s"$out/records")
    val rc = r.agg(
      sum(when(col("id_status") === "ok", 1).otherwise(0)),
      sum(when(col("id_status") === "missing", 1).otherwise(0)),
      sum(when(col("id_status") === "multiple", 1).otherwise(0)),
      sum(when(col("xml").contains("tag=\"ADF\""), 1).otherwise(0))).head()
    expect("records", Seq("ok" -> rc.getLong(0), "missing" -> rc.getLong(1),
        "multiple" -> rc.getLong(2), "boundwith" -> rc.getLong(3)),
      Seq("ok" -> t.ok.toLong, "missing" -> t.missing001.toLong,
        "multiple" -> t.multiple001.toLong, "boundwith" -> t.boundwith.toLong))

    val transformed = spark.read.parquet(s"$out/transform").count()
    expect("transform", Seq("rows" -> transformed), Seq("rows" -> t.ok.toLong))

    val valid = spark.read.parquet(s"$out/validate").count()
    val invalid = spark.read.option("header", "true").csv(s"$out/validate_report").count()
    expect("validate", Seq("valid" -> valid, "invalid" -> invalid),
      Seq("valid" -> t.valid.toLong, "invalid" -> t.blankTitle.toLong))
    res.extra("validate.keep_ratio") = (valid.toDouble / transformed.max(1L), "ratio")

    val solr = spark.read.text(s"$out/solr").count()
    expect("index", Seq("solr" -> solr), Seq("solr" -> t.valid.toLong))

    val segs = VersionedTable.readLatestLocal(spark, s"$out/bm25/manifest")
      .filter(col("kind") === "seg").select("n_docs").collect().map(_.getLong(0))
    expect("bm25_append", Seq("indexed" -> segs.sum), Seq("indexed" -> t.valid.toLong))
    res.extra("bm25.segments_live") = (segs.length.toDouble, "count")

    // every query's top k equals BM25 computed directly over the
    // indexed documents
    val corpus = indexDocs(ctx, out).select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = spark.read.parquet(s"$out/bm25_search").collect()
      .groupBy(_.getAs[Long]("q_id")).map { case (q, rows) =>
        q -> rows.sortBy(_.getAs[Int]("rank")).map(r => (r.getAs[Long]("n_id"), r.getAs[Double]("score"))).toSeq
      }
    val wrong = t.queries.zipWithIndex.count { case (q, i) =>
      !sameTopK(got.getOrElse(i.toLong, Nil), bruteBm25(corpus, q, K))
    }
    expect("bm25_search", Seq("wrong_queries" -> wrong.toLong), Seq("wrong_queries" -> 0L))
  }

  /** BM25 over a logical corpus, computed directly: the same
    * tokenization and the same per-term rounding as the index. */
  def bruteBm25(docs: collection.Map[Long, String], q: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): Seq[(Long, Double)] = {
    def toks(s: String) = s.trim.toLowerCase.split("\\s+").toSeq
    val terms = toks(q).distinct
    val tf = docs.map { case (id, t) => val ts = toks(t); id -> (ts.size, ts.groupBy(identity).map(x => x._1 -> x._2.size)) }
    val n = tf.size.toDouble
    val avgdl = tf.values.map(_._1.toLong).sum.toDouble / n
    val df = terms.map(t => t -> tf.values.count(_._2.contains(t))).toMap
    def round(x: Double, s: Int) = BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    tf.toSeq.flatMap { case (id, (dl, counts)) =>
      val hits = terms.filter(counts.contains)
      if (hits.isEmpty) None
      else Some(id -> round(hits.map { t =>
        val f = counts(t).toDouble
        val c = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) *
          (f * (k1 + 1.0) / (f + k1 * ((1.0 - b) + b * dl / avgdl)))
        round(c * 1e6, 0).toLong
      }.sum / 1e6, 4))
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Engine and reference agree when the scores match rank by rank and
    * the ids match wherever the score is not tied at the cut. */
  def sameTopK(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) => math.abs(g._2 - w._2) < 1e-3 } && {
      val cut = want.lastOption.map(_._2).getOrElse(0.0)
      got.filter(_._2 > cut + 1e-3).map(_._1).toSet == want.filter(_._2 > cut + 1e-3).map(_._1).toSet
    }

  def run(ctx: Ctx): Result = BatchRunner.run(this)(ctx)
}
