package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rule-based record validation (reference: validate.py).
  *
  * The reference validates every record against a Schematron (a set
  * of named assertions), then either *filters* invalid records out
  * (writing an invalid-report CSV of id / failed-assert text / record
  * / source file, validate.py:11-121) or *reports* on all records
  * (validate.py:124-200). A Schematron is declarative assertions over
  * fields — exactly what Catalyst boolean expressions are. Each rule
  * compiles into the scan (codegen'd, map-only); the report side is
  * the same pass, so validate-and-split is one scan, zero shuffles.
  */
object Validate {

  /** One Schematron assertion: a name, a boolean Column that must
    * hold, and the failed-assert message (reference: validate.py
    * `schematron_failed_validation_text` joins assertion texts). */
  final case class Rule(name: String, assertion: Column, message: String)

  /** NULL normalization: an assertion that evaluates to NULL (e.g. a
    * comparison on a null field) uniformly means *failed*. Without
    * this, filterValid would drop the record (x AND NULL is not true)
    * while the report side would treat it as passing (NOT NULL is
    * NULL) — the record would vanish without ever being reported,
    * breaking the valid+invalid partition the reference guarantees
    * (every filtered record lands in the invalid CSV, validate.py:70-99). */
  private def holds(r: Rule): Column = coalesce(r.assertion, lit(false))

  /** Failed-assert messages per record, as an array column
    * (empty array == valid). */
  def failures(rules: Seq[Rule]): Column =
    filter(
      array(rules.map(r => when(!holds(r), lit(r.message))): _*),
      c => c.isNotNull)

  /** Valid records only (reference: validate.py:66-76 removes
    * invalid records from the output collection). */
  def filterValid(df: DataFrame, rules: Seq[Rule]): DataFrame =
    df.filter(rules.map(holds).reduce(_ && _))

  /** Invalid-records report (reference: validate.py:28-100 CSV:
    * id, report, record, source_file). `record` mirrors
    * `identifier_or_full_record` (validate.py:203-217): identifier
    * when present, else the full serialized record. */
  def invalidReport(df: DataFrame, rules: Seq[Rule], idCol: Column,
      identifierCol: Column, fullRecordCol: Column, sourceCol: Column): DataFrame =
    df.withColumn("__failures", failures(rules))
      .filter(size(col("__failures")) > 0)
      .select(
        idCol.as("id"),
        concat_ws("\n", col("__failures")).as("report"),
        when(identifierCol.isNotNull && identifierCol =!= "", identifierCol)
          .otherwise(fullRecordCol).as("record"),
        sourceCol.as("source_file"))

  /** Report mode (reference: validate.py:124-200): every record, one
    * boolean per rule plus the failure count. */
  def reportAll(df: DataFrame, rules: Seq[Rule], idCol: Column): DataFrame = {
    val flags = rules.map(r => holds(r).as(s"passed_${r.name}"))
    val nFailed = rules.map(r => when(!holds(r), 1).otherwise(0))
      .reduce(_ + _).as("n_failed")
    df.select((idCol.as("id") +: flags :+ nFailed): _*)
  }

  /** Full Schematron rule: Schematron distinguishes `<sch:assert>`
    * (records a failure when the test is FALSE) from `<sch:report>`
    * (records a finding when the test is TRUE — the inverse polarity,
    * used for warnings/informational hits), groups rules into named
    * patterns, and lets a `<sch:phase>` select which patterns are
    * active for a run (lxml.isoschematron compiles all of this;
    * validate.py:33-35 instantiates it). [[Rule]] covers the
    * assert-only subset the reference's own .sch files use; this
    * models the rest. NULL tests normalize like [[holds]]: an assert
    * with a NULL test fails, a report with a NULL test does not fire. */
  final case class SchRule(name: String, test: Column, message: String,
      isReport: Boolean = false, pattern: String = "default")

  /** A Schematron phase: the set of active pattern names. */
  final case class SchPhase(name: String, patterns: Seq[String])

  /** Evaluate the rules active under `phase` (all rules when the
    * phase is not declared — Schematron's `#ALL` default) over every
    * record: per-record failed-assert count, fired-report count, and
    * the combined findings text in rule-declaration order (the
    * reference's `schematron_failed_validation_text` analog, extended
    * with report hits). One codegen'd projection — map-only. */
  def schematronReport(df: DataFrame, rules: Seq[SchRule],
      phases: Seq[SchPhase], phase: String, idCol: Column): DataFrame = {
    val active = phases.find(_.name == phase) match {
      case Some(p) => rules.filter(r => p.patterns.contains(r.pattern))
      case None => rules
    }
    def fires(r: SchRule): Column = {
      val t = coalesce(r.test, lit(false))
      if (r.isReport) t else !t
    }
    val findings = filter(
      array(active.map(r => when(fires(r), lit(r.message))): _*),
      c => c.isNotNull)
    val nAssertFailed = active.filterNot(_.isReport)
      .map(r => when(fires(r), 1).otherwise(0))
      .foldLeft(lit(0))(_ + _)
    val nReportFired = active.filter(_.isReport)
      .map(r => when(fires(r), 1).otherwise(0))
      .foldLeft(lit(0))(_ + _)
    df.select(idCol.as("id"),
      nAssertFailed.as("n_failed"),
      nReportFired.as("n_reported"),
      concat_ws("\n", findings).as("findings"))
  }

  /** Compile a REAL Schematron `.sch` file into [[SchRule]]s — the
    * front door the reference feeds (validate.py:22-35 fetches
    * `padigital_reqd_fields.sch` and hands it to lxml.isoschematron;
    * tests/fixtures/sch-sample.sch is its vendored stand-in). Every
    * `<pattern>`/`<rule context>`/`<assert test>`/`<report test>`
    * compiles WITHOUT parsing the test expression: Schematron tests
    * and contexts ARE XPath 1.0, so an assert becomes the
    * record-level existence probe `//context[not(test)]` (a failing
    * context node exists) and a report `//context[test]`, evaluated
    * by `xpath_boolean` — vacuous passes for absent contexts fall
    * out of the existence form, exactly Schematron's
    * fire-per-matched-node semantics collapsed to the record
    * verdict. Prefixed QName steps go through the same
    * LOCAL-NAME rewrite as the XSLT compiler (`<ns>` declarations
    * are accepted and subsumed by it; two prefixes sharing a local
    * name collapse — the documented approximation). Returns rules in
    * declaration order with pattern ids carried, ready for
    * [[schematronReport]] (phases: the fixture declares none —
    * pass an empty phase list and Schematron's #ALL default
    * applies).
    *
    * `nsAware = true` (r18, the Transform.compileXsltSheet r17
    * playbook applied to the validation door) compiles NAMESPACE-
    * AWARE, exactly lxml.isoschematron (validate.py:33-35): context
    * and test prefixes resolve through the schema's OWN `<sch:ns
    * prefix uri>` declarations — ISO Schematron's prefix-binding
    * mechanism, the one lxml honors — with the schema root's
    * `xmlns:` declarations as a fallback for undeclared prefixes
    * (`sch:ns` wins a conflict), so colliding local names across
    * namespaces stay distinct and an unprefixed step matches only
    * no-namespace nodes. Every composed probe is compile-validated
    * under the declared context at schema-compile time (the loud-
    * refusal posture — an aware probe that fails xp.compile would
    * otherwise be a silent null slot, a wrong-side verdict on every
    * record). The default (false) is byte-identical to before. */
  /** Driver-side compiled-rules memo (r19, the Transform sheetCache
    * twin): schema compilation — DOM parse, probe composition and the
    * nsAware compile-validation — is a pure function of (schema text,
    * xml column expression, nsAware), and the declared queries
    * re-compiled the same literal schema per execution. SchRule is an
    * immutable value (the embedded Column is an expression tree, not
    * session state), so one compiled rule set serves any plan over a
    * frame with the named column. Keyed on the Column itself: Column
    * equality compares the normalized expression tree, so distinct
    * input columns never collide and a repeat call hits (the wrapped
    * catalyst expression would not: it keeps the call-site origin,
    * whose stack-trace array compares by reference). The least
    * recently used of more than 64 distinct keys is dropped. */
  private[graft] val schCache = new BoundedMemo[(String, Column, Boolean), Seq[SchRule]](64)

  def compileSchematron(sch: String, xml: Column,
      nsAware: Boolean = false): Seq[SchRule] =
    schCache.getOrCompute((sch, xml, nsAware))(compileSchematronUncached(sch, xml, nsAware))

  private def compileSchematronUncached(sch: String, xml: Column,
      nsAware: Boolean = false): Seq[SchRule] = {
    import org.w3c.dom.Element
    val SchNs = "http://purl.oclc.org/dsdl/schematron"
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    val doc = dbf.newDocumentBuilder().parse(new org.xml.sax.InputSource(
      new java.io.StringReader(sch)))
    def elems(n: org.w3c.dom.Node): Seq[Element] = {
      val nl = n.getChildNodes
      (0 until nl.getLength).map(nl.item).collect { case e: Element => e }
    }
    def isSch(e: Element, local: String): Boolean =
      SchNs == e.getNamespaceURI && e.getLocalName == local
    require(doc.getDocumentElement.getNamespaceURI == SchNs,
      "not a Schematron schema (wrong root namespace)")
    // the schema's own prefix bindings: <sch:ns prefix uri> (the ISO
    // mechanism lxml resolves against) over root xmlns: declarations
    val nsMap: Map[String, String] = if (!nsAware) Map.empty else {
      val root = doc.getDocumentElement
      val fromAttrs = {
        val am = root.getAttributes
        (0 until am.getLength).map(am.item).collect {
          case a if a.getNodeName.startsWith("xmlns:")
              && a.getNodeValue != SchNs =>
            a.getNodeName.stripPrefix("xmlns:") -> a.getNodeValue
        }.toMap
      }
      val fromNsEls = elems(root).filter(isSch(_, "ns")).map { n =>
        val p = n.getAttribute("prefix"); val u = n.getAttribute("uri")
        require(p.nonEmpty && u.nonEmpty, "sch:ns needs prefix and uri")
        p -> u
      }.toMap
      fromAttrs ++ fromNsEls // sch:ns wins a prefix conflict
    }
    val specs = elems(doc.getDocumentElement).filter(isSch(_, "pattern"))
      .flatMap { p =>
        val pid = Option(p.getAttribute("id")).filter(_.nonEmpty)
          .getOrElse("default")
        elems(p).filter(isSch(_, "rule")).flatMap { r =>
          val ctx = r.getAttribute("context").trim
          require(ctx.nonEmpty, s"rule without context in pattern $pid")
          val abs = if (ctx.startsWith("/")) ctx else s"//$ctx"
          elems(r).zipWithIndex
            .filter { case (a, _) => isSch(a, "assert") || isSch(a, "report") }
            .map { case (a, i) =>
              val isReport = a.getLocalName == "report"
              val test = a.getAttribute("test").trim
              require(test.nonEmpty, s"${a.getLocalName} without test in $pid")
              val id = Option(a.getAttribute("id")).filter(_.nonEmpty)
                .getOrElse(s"$pid-$i")
              val msg = a.getTextContent.trim.replaceAll("\\s+", " ")
              val composed =
                if (isReport) s"$abs[$test]" else s"$abs[not($test)]"
              // aware mode keeps QNames verbatim (prefixes resolve
              // through the declared bindings); default rewrites to
              // the local-name probe — same switch as the sheet
              // compiler
              val probe = if (nsAware) composed
                else graft.operators.Transform.rewriteQNames(composed)
              (id, msg, isReport, pid, probe)
            }
        }
      }
    // ONE-PARSE evaluation (the r12 XPathSlots posture): every
    // probe of the schema is a boolean slot of one shared evaluation,
    // so schematronReport's projection — whose per-rule conditions
    // all reference the SAME slots expression — parses each record
    // ONCE per row (codegen subexpression elimination merges the
    // case-class-equal occurrences; XsltOneParseSpec pins it), where
    // the per-rule xpath_boolean form paid |rules| parses/row. Gate
    // consumers (schAsRules → an AND chain in a Filter) short-circuit
    // exactly as before: each evaluated conjunct costs one parse,
    // the same count the per-rule form paid.
    val slots =
      if (nsAware) {
        // fail-fast: an aware probe that cannot compile under the
        // declared context would be a SILENT null slot — every
        // element_at null, a wrong-side verdict on every record
        graft.operators.Transform.requireNsCompilable(
          specs.map(_._5), nsMap, "namespace-aware Schematron")
        graft.plans.XmlSlots.withNamespaces(specs.map(_._5).toArray,
          Array.fill(specs.size)(graft.plans.XmlSlots.KindBool), nsMap)
      } else new graft.plans.XmlSlots(specs.map(_._5).toArray,
        Array.fill(specs.size)(graft.plans.XmlSlots.KindBool))
    val slotsCol = graft.plans.XmlExpr.xpathSlots(xml, slots)
    specs.zipWithIndex.map { case ((id, msg, isReport, pid, _), i) =>
      val fired = element_at(element_at(slotsCol, i + 1), 1) === "true"
      // SchRule's test column is the PASS condition for asserts
      // and the FIRE condition for reports
      SchRule(id, if (isReport) fired else !fired, msg, isReport, pid)
    }
  }

  /** Assert-polarity Schematron rules as plain gate [[Rule]]s — what
    * wires a compiled `.sch` into the filter/quarantine seams
    * ([[graft.streaming.EtlStream.maintainEtl]]'s `rules`,
    * [[validateFilter]]): each assert's pass condition gates the
    * record; `<sch:report>` hits are advisory findings, not gates,
    * and are dropped here (run [[schematronReport]] for them). */
  def schAsRules(rules: Seq[SchRule]): Seq[Rule] =
    rules.filterNot(_.isReport).map(r => Rule(r.name, r.test, r.message))

  /** Column profile: the pre-validation survey step every ETL run
    * wants before writing rules — one scan, one row per profiled
    * column with null rate, distinct count, and bounds. At 100 TB
    * swap count_distinct for the HLL sketch (graft.plans.HllSketch);
    * the query shape is identical. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stats = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        count(lit(1)).as("n_rows"),
        count(when(col(c).isNull, lit(1))).as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c).cast("string")).as("min_str"),
        max(col(c).cast("string")).as("max_str"))
    }
    df.agg(stats.head.as("s0"), stats.tail.zipWithIndex.map {
      case (s, i) => s.as(s"s${i + 1}") }: _*)
      .select(explode(array(cols.indices.map(i => col(s"s$i")): _*)).as("p"))
      .select("p.col_name", "p.n_rows", "p.n_null", "p.n_distinct",
        "p.min_str", "p.max_str")
  }

  /** Fixed-width histogram of a numeric column — the distribution
    * view the v5 profile's min/max/distinct can't give (bimodal
    * collapse, truncation spikes). Two passes: an exact integer
    * min/max aggregate, then one bucket-groupBy scan. The bucket
    * formula is engine-stable by construction: products are exact
    * integers, the quotient is floored, and the `span+1` denominator
    * puts the max in the last bucket without a cap — no float edge
    * can flip a bucket across engines. */
  def histogram(df: DataFrame, valueCol: Column, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val mm = df.agg(min(valueCol.cast("long")).as("lo"),
      max(valueCol.cast("long")).as("hi")).head()
    // empty frame / all-null column → min and max are null: empty
    // result, never a crash (the library-wide empty-input contract)
    if (mm.isNullAt(0) || mm.isNullAt(1))
      return df.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bucket",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("bucket_lo",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType))))
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = hi - lo + 1
    df.select(floor((valueCol.cast("long") - lo) * bins / span).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_rows"))
      .select(col("bucket"),
        (lit(lo) + floor(col("bucket") * span / bins)).cast("long").as("bucket_lo"),
        col("n_rows"))
  }

  /** Referential-integrity report for one FK relationship: child
    * rows, orphan rows (no matching parent), and null-key rows in a
    * single pass — one left join + one aggregate, the parent side
    * deduplicated to its key (broadcast when small). An ETL's
    * pre-publish gate: a harvest that references deleted parents
    * should fail BEFORE the index swap, same posture as v7/v8. */
  def fkIntegrity(child: DataFrame, childKey: Column,
      parent: DataFrame, parentKey: Column, relName: String): DataFrame = {
    val p = parent.select(parentKey.as("_pk")).distinct()
    child.select(childKey.as("_ck"))
      .join(p, col("_ck") === col("_pk"), "left")
      .agg(count(lit(1)).as("n_child"),
        count(when(col("_ck").isNotNull && col("_pk").isNull, 1)).as("n_orphans"),
        count(when(col("_ck").isNull, 1)).as("n_null_keys"))
      .select(lit(relName).as("relation"), col("n_child"),
        col("n_orphans"), col("n_null_keys"))
  }

  /** Profile drift between two snapshots (the schema-erosion guard:
    * an upstream feed silently nulling a field, collapsing its value
    * domain, or shifting its bounds should fail the run BEFORE the
    * index swap, same spirit as the all-filtered guard). Joins the
    * two [[profile]]s on col_name — 2 scans + a |cols|-row join —
    * and flags on ROUNDED deltas so float noise can't flip a verdict:
    * drifted ⇔ |null-rate delta| ≥ nullRateThreshold, distinct-count
    * ratio outside [distinctRatioLo, 1/distinctRatioLo], or either
    * bound moved. */
  def profileDrift(prev: DataFrame, cur: DataFrame, cols: Seq[String],
      nullRateThreshold: Double = 0.05,
      distinctRatioLo: Double = 0.5): DataFrame =
    profileDriftFromProfiles(profile(prev, cols), profile(cur, cols),
      nullRateThreshold, distinctRatioLo)

  /** The comparison stage of [[profileDrift]] over ALREADY-computed
    * [[profile]] frames — what an incremental monitor stores and
    * replays: profiles are O(|cols|) rows, so keeping the previous
    * one and comparing per batch costs the new batch's scan plus a
    * tiny join, never a rescan of history (streaming/DriftStream). */
  def profileDriftFromProfiles(prevProf: DataFrame, curProf: DataFrame,
      nullRateThreshold: Double = 0.05,
      distinctRatioLo: Double = 0.5): DataFrame = {
    val p = prevProf.select(col("col_name"),
      col("n_rows").as("prev_rows"), col("n_null").as("prev_null"),
      col("n_distinct").as("prev_distinct"),
      col("min_str").as("prev_min"), col("max_str").as("prev_max"))
    val c = curProf.select(col("col_name"),
      col("n_rows").as("cur_rows"), col("n_null").as("cur_null"),
      col("n_distinct").as("cur_distinct"),
      col("min_str").as("cur_min"), col("max_str").as("cur_max"))
    val nullRateDelta = round(
      col("cur_null") / col("cur_rows") - col("prev_null") / col("prev_rows"), 4)
    val distinctRatio = round(
      col("cur_distinct") / nullif(col("prev_distinct"), lit(0L)), 4)
    val boundsChanged = !(col("prev_min") <=> col("cur_min")) ||
      !(col("prev_max") <=> col("cur_max"))
    p.join(c, "col_name")
      .select(col("col_name"), col("prev_rows"), col("cur_rows"),
        nullRateDelta.as("null_rate_delta"),
        distinctRatio.as("distinct_ratio"),
        boundsChanged.as("bounds_changed"))
      .withColumn("drifted",
        abs(col("null_rate_delta")) >= nullRateThreshold
          || col("distinct_ratio") <= distinctRatioLo
          || col("distinct_ratio") >= 1.0 / distinctRatioLo
          || col("distinct_ratio").isNull
          || col("bounds_changed"))
  }

  /** Per-column QUANTILE profile through the KLL sketch aggregate
    * ([[graft.plans.QuantileSketch]]) — the distribution-shape half
    * of [[profile]]: a column whose bounds and null-rate hold steady
    * can still collapse its interior (e.g. all mass migrating to
    * short documents), and only a quantile fingerprint catches that.
    * One aggregation pass over the frame (all columns and probes in
    * a single agg — the sketch shuffles fixed-size summaries, never
    * values, so the 100 TB cost is the scan it needed anyway).
    *
    * Integer-exact contract: intended for INTEGRAL columns; the
    * sketch returns an input order statistic (exact when capacity ≥
    * rows — the e12 trick), so the long cast is lossless and every
    * emitted value is hash-portable across engines. Output: one row
    * per (col_name, pct): (col_name, n_rows, pct, q). */
  def quantileProfile(df: DataFrame, cols: Seq[String],
      pcts: Seq[Int] = Seq(25, 50, 75, 90),
      capacity: Int = 32768): DataFrame = {
    require(cols.nonEmpty && pcts.nonEmpty)
    val stats = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        count(col(c)).as("n_rows"),
        graft.plans.QuantileSketch.quantiles(col(c).cast("double"),
          capacity, pcts).as("qs"))
    }
    df.agg(stats.head.as("s0"), stats.tail.zipWithIndex.map {
      case (s, i) => s.as(s"s${i + 1}") }: _*)
      .select(explode(array(cols.indices.map(i => col(s"s$i")): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.n_rows").as("n_rows"),
        posexplode(col("p.qs")).as(Seq("qi", "qv")))
      .select(col("col_name"), col("n_rows"),
        element_at(array(pcts.map(lit): _*), col("qi") + 1).as("pct"),
        col("qv").cast("long").as("q"))
  }

  /** The comparison stage of quantile drift over ALREADY-computed
    * [[quantileProfile]] frames (what the streaming monitor stores):
    * per (col_name, pct), the shift and an ALL-INTEGER verdict —
    * shifted ⇔ |cur−prev|·100 > maxShiftPct·max(|prev|, 1) — so no
    * float ratio can hit a cross-engine round boundary. */
  def quantileDriftFromProfiles(prevQ: DataFrame, curQ: DataFrame,
      maxShiftPct: Int = 10): DataFrame = {
    val p = prevQ.select(col("col_name"), col("pct"), col("q").as("prev_q"))
    val c = curQ.select(col("col_name"), col("pct"), col("q").as("cur_q"))
    p.join(c, Seq("col_name", "pct"))
      .select(col("col_name"), col("pct"), col("prev_q"), col("cur_q"),
        (col("cur_q") - col("prev_q")).as("delta"))
      .withColumn("shifted",
        abs(col("delta")) * 100 > lit(maxShiftPct) * greatest(abs(col("prev_q")), lit(1L)))
  }

  /** End-to-end quantile drift between two frames (the v12 query
    * surface): two sketch passes + the O(|cols|·|pcts|) compare. */
  def quantileDrift(prev: DataFrame, cur: DataFrame, cols: Seq[String],
      pcts: Seq[Int] = Seq(25, 50, 75, 90), maxShiftPct: Int = 10,
      capacity: Int = 32768): DataFrame =
    quantileDriftFromProfiles(
      quantileProfile(prev, cols, pcts, capacity),
      quantileProfile(cur, cols, pcts, capacity), maxShiftPct)

  /** Per-source filter stats + the all-filtered guard
    * (reference: validate.py:101-121 warns per file and raises when
    * every record in the run is filtered). */
  /** Volume anomaly detection: flag (key, day) record counts whose
    * z-score against that key's own daily history crosses the
    * threshold — the generalization of the reference's
    * fail-if-all-filtered guard (validate.py:103-118 aborts when a
    * run's volume collapses to zero; this catches collapses AND
    * spikes before they hit the index). One groupBy on (key, day),
    * then mean/stddev as windows over the key — two shuffles total,
    * output size = distinct (key, day). The z-score is rounded to
    * 4 dp and the flag compares the ROUNDED value, so float
    * accumulation-order noise can't flip it across engines; a
    * zero/undefined stddev (constant or single-day history) yields a
    * null z and a false flag, never NaN. */
  def volumeAnomaly(df: DataFrame, keyCol: Column, tsCol: Column,
      zThreshold: Double): DataFrame = {
    val daily = df.groupBy(keyCol.as("vol_key"), to_date(tsCol).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("vol_key")
    val z = when(col("__sd") > 0,
      round((col("n") - col("__mean")) / col("__sd"), 4))
    daily
      .withColumn("__mean", avg("n").over(w))
      .withColumn("__sd", stddev_samp(col("n")).over(w))
      .select(col("vol_key"), col("day"), col("n"),
        round(col("__mean"), 4).as("mean_n"),
        z.as("z"),
        coalesce(abs(z) >= zThreshold, lit(false)).as("is_anomaly"))
  }

  def filterStats(df: DataFrame, rules: Seq[Rule], sourceCol: Column): DataFrame = {
    val invalid = rules.map(r => !holds(r)).reduce(_ || _)
    df.groupBy(sourceCol.as("source_file"))
      .agg(
        count(lit(1)).as("n_records"),
        count(when(invalid, lit(1))).as("n_invalid"))
      .withColumn("all_filtered", col("n_invalid") === col("n_records"))
  }
}
