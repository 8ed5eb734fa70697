package graft.operators

import graft.plans.{XmlExpr, XmlSlots}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative per-record transformation (reference: transform.py).
  *
  * The reference shells out to Saxon to run an XSLT crosswalk over
  * every record of every file, carrying `airflow-record-id` through
  * (transform.py:20-76). An XSLT crosswalk *declares* output fields
  * as expressions over input fields — in Spark that is a `select` of
  * named Columns: fully codegen'd, map-only, no per-record process
  * spawn (the reference forks a JVM per record — the single biggest
  * scale win of the re-expression).
  */
object Transform {

  /** Apply a crosswalk: ordered (outputName -> expression) pairs.
    * The record id should be one of the mappings, mirroring how the
    * reference stamps `airflow-record-id` on every result. */
  def crosswalk(df: DataFrame, mapping: Seq[(String, Column)]): DataFrame =
    df.select(mapping.map { case (name, expr) => expr.as(name) }: _*)

  /** Text normalization used before hashing/dedup: lowercase,
    * collapse whitespace, trim. Matches the oracle formula
    * `trim(regexp_replace(lower(x),'\s+',' ','g'))`. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Structural crosswalk rules — the stylesheet-shaped transform
    * depth beyond flat field mapping (reference: transform.py:20-76
    * runs arbitrary XSLT via Saxon; an XSLT template tree whose
    * matches produce nested output trees maps onto a rule tree whose
    * nodes produce nested struct columns).
    *
    *  - [[XLeaf]]  — `xsl:value-of`: first matching node's text
    *    (absent → "" so the JSON shape is stable; `to_json` drops
    *    null fields).
    *  - [[XAll]]   — `xsl:for-each` emitting one text per match:
    *    every matching node's text as array<string>.
    *  - [[XZip]]   — `xsl:for-each` emitting an element per match
    *    with several fields: N xpaths over the SAME repeated node,
    *    zipped positionally into array<struct> (the standard Spark
    *    XML-shredding idiom; xpath preserves document order so
    *    position i of each array refers to the same node).
    *  - [[XNode]]  — a literal result element with children: nested
    *    struct.
    *  - [[XWhen]]  — `xsl:if` with an existence test: the guarded
    *    rule's value when the test xpath matches a node, SQL NULL
    *    otherwise — and `to_json` DROPS null fields, which is exactly
    *    xsl:if's element-absent output semantics (a CASE WHEN guard
    *    column; `xpath_boolean` evaluates the test).
    *
    * Everything compiles to one codegen'd projection over the XML
    * column — map-only, no shuffle, no per-record process spawn — so
    * it scales as a plain scan at 100 TB. */
  sealed trait XRule
  final case class XLeaf(name: String, path: String) extends XRule
  final case class XAll(name: String, path: String) extends XRule
  final case class XZip(name: String, fields: Seq[(String, String)]) extends XRule
  final case class XNode(name: String, children: Seq[XRule]) extends XRule
  final case class XWhen(test: String, inner: XRule) extends XRule

  /** `xsl:choose`: first matching `xsl:when` branch wins (exactly
    * CASE WHEN's first-match semantics), optional `xsl:otherwise`;
    * no match and no otherwise → NULL → to_json drops the field,
    * which is choose emitting nothing. All branches carry the SAME
    * field name (the containing literal element's). */
  final case class XChoose(branches: Seq[(String, XRule)],
      otherwise: Option[XRule]) extends XRule

  private def ruleName(r: XRule): String = r match {
    case XLeaf(n, _) => n
    case XAll(n, _) => n
    case XZip(n, _) => n
    case XNode(n, _) => n
    case XWhen(_, inner) => ruleName(inner)
    case XChoose(bs, _) => ruleName(bs.head._2)
    case XDispatch(n, _, _) => n
    case XConcat(n, _) => n
    case XStamp(n, _) => n
  }

  /** Ordered interning of every XPath a rule tree evaluates — the
    * slot table ONE [[graft.plans.XPathSlots]] evaluation fills. The
    * collect walk mirrors [[ruleExpr]]'s decode walk exactly; decode
    * looks indices up with a must-hit `apply` so a divergence fails
    * fast instead of silently widening the table. */
  private final class SlotReg {
    private val order = scala.collection.mutable.ArrayBuffer.empty[(String, Byte)]
    private val idx = scala.collection.mutable.HashMap.empty[(String, Byte), Int]
    def intern(path: String, kind: Byte): Unit = {
      idx.getOrElseUpdate((path, kind), {
        order += ((path, kind)); order.size - 1
      })
      ()
    }
    def index(path: String, kind: Byte): Int = idx((path, kind))
    def interned: Seq[(String, Byte)] = order.toSeq
    def toSlots(ns: Map[String, String]): XmlSlots =
      if (ns.isEmpty)
        new XmlSlots(order.map(_._1).toArray, order.map(_._2).toArray)
      else
        XmlSlots.withNamespaces(
          order.map(_._1).toArray, order.map(_._2).toArray, ns)
  }

  private def collectSlots(r: XRule, reg: SlotReg): Unit = r match {
    case XLeaf(_, p) => reg.intern(p, XmlSlots.KindString)
    case XAll(_, p) => reg.intern(p, XmlSlots.KindNodes)
    case XZip(_, fields) =>
      fields.foreach { case (_, p) => reg.intern(p, XmlSlots.KindNodes) }
    case XNode(_, cs) => cs.foreach(collectSlots(_, reg))
    case XWhen(t, inner) =>
      reg.intern(t, XmlSlots.KindBool); collectSlots(inner, reg)
    case XChoose(bs, ow) =>
      bs.foreach { case (t, v) =>
        reg.intern(t, XmlSlots.KindBool); collectSlots(v, reg)
      }
      ow.foreach(collectSlots(_, reg))
    case XDispatch(_, p, _) => reg.intern(p, XmlSlots.KindNodes)
    case XConcat(_, parts) => parts.foreach(collectSlots(_, reg))
    case XStamp(_, _) => ()
  }

  /** Typed decode of the one-parse slot column. Every method returns
    * exactly what the corresponding `xpath_*` call returned (see
    * [[graft.plans.XmlSlots]] for the bit-parity argument), fetched
    * with constant-index `element_at` from the single evaluation. */
  private final class SlotAccess(reg: SlotReg, slotsCol: Column) {
    private def at(p: String, kind: Byte): Column =
      element_at(slotsCol, reg.index(p, kind) + 1)
    def nodes(p: String): Column = at(p, XmlSlots.KindNodes)
    def str(p: String): Column = element_at(at(p, XmlSlots.KindString), 1)
    def bool(p: String): Column =
      element_at(at(p, XmlSlots.KindBool), 1) === "true"
    def nodePos(p: String): Column = at(p, XmlSlots.KindNodesPos)
  }

  /** Build `body`'s decode over ONE evaluation of the rule tree's
    * slot table, pinned with Catalyst's `With`/CommonExpressionRef:
    * the optimizer rewrites the common definition into its own
    * projection, so the parse count per row is exactly one BY PLAN
    * SHAPE — not at the mercy of codegen subexpression elimination,
    * which skips occurrences inside higher-order-function arguments
    * and conditional branches (outputXml's dispatch decodes are all
    * such occurrences; the first cut measured 4 parses/row there). */
  private def withSlots(xml: Column, rules: Seq[XRule],
      posPaths: Seq[String] = Seq.empty,
      ns: Map[String, String] = Map.empty)(
      body: SlotAccess => Column): Column = {
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.sql.catalyst.expressions.With
    val reg = new SlotReg
    rules.foreach(collectSlots(_, reg))
    posPaths.foreach(reg.intern(_, XmlSlots.KindNodesPos))
    val slots = reg.toSlots(ns)
    if (slots.paths.isEmpty)
      body(new SlotAccess(reg, lit(null)))
    else
      GraftShims.column(
        With(GraftShims.expression(XmlExpr.xpathSlots(xml, slots))) { refs =>
          GraftShims.expression(
            body(new SlotAccess(reg, GraftShims.column(refs.head))))
        })
  }

  private def ruleExpr(sx: SlotAccess, r: XRule): Column = r match {
    case XLeaf(_, p) => coalesce(sx.str(p), lit(""))
    case XAll(_, p) => sx.nodes(p)
    case XZip(_, fields) =>
      // the per-match fields zip positionally (document order); the
      // rename-transform touches only the lambda variable, so the
      // slot column stays OUTSIDE every lambda — codegen
      // subexpression elimination needs that to keep one parse/row
      val zipped = arrays_zip(fields.map { case (_, p) => sx.nodes(p) }: _*)
      transform(zipped, s => struct(fields.map(_._1).zipWithIndex.map {
        case (fn, i) => s.getField(i.toString).as(fn) }: _*))
    case XNode(_, cs) => struct(cs.map(compileRule(sx, _)): _*)
    case XWhen(t, inner) =>
      // no otherwise(...) → NULL when the test fails; to_json then
      // omits the field, mirroring xsl:if emitting nothing
      when(sx.bool(t), ruleExpr(sx, inner))
    case XChoose(branches, ow) =>
      val chained = branches.tail.foldLeft(
        when(sx.bool(branches.head._1),
          ruleExpr(sx, branches.head._2))) { case (c, (t, r)) =>
        c.when(sx.bool(t), ruleExpr(sx, r))
      }
      ow.fold(chained)(r => chained.otherwise(ruleExpr(sx, r)))
    case d: XDispatch => dispatchExpr(sx, d)
    case c: XConcat => concatExpr(sx, c)
    case XStamp(_, v) => array(lit(v))
  }

  private def compileRule(sx: SlotAccess, r: XRule): Column =
    ruleExpr(sx, r).as(ruleName(r))

  /** Compile a rule tree over a serialized-XML column into one nested
    * struct Column (serialize with `to_json` for a stable wire/oracle
    * form). The record's XML is parsed ONCE per row — every rule's
    * XPaths evaluate against the single DOM through
    * [[graft.plans.XPathSlots]]; XsltOneParseSpec pins parses==rows. */
  def structuralCrosswalk(xml: Column, rules: Seq[XRule],
      ns: Map[String, String] = Map.empty): Column =
    withSlots(xml, rules, ns = ns) { sx =>
      struct(rules.map(compileRule(sx, _)): _*)
    }

  /** A stylesheet as a whole-frame transform — the shape
    * [[graft.streaming.EtlStream.maintainEtl]]'s `transform` seam
    * takes, so a user-authored `.xsl` drives the streaming ETL DAG
    * end-to-end (the reference's transform_s3_xsl task wired into its
    * harvest loop, transform.py:20-76). Compiles ONCE at construction
    * (a bad stylesheet fails fast, not per batch); each batch then
    * pays one codegen'd projection: the carried columns plus the
    * crosswalk output serialized to `outCol`. */
  def xsltTransform(xslt: String, xmlCol: String, carry: Seq[String],
      outCol: String = "rec"): DataFrame => DataFrame = {
    val rules = compileXslt(xslt)
    df => df.select(carry.map(col) :+
      to_json(structuralCrosswalk(col(xmlCol), rules)).as(outCol): _*)
  }

  /** Per-node dispatch rule — the compiled form of an
    * `xsl:apply-templates` FIELD TEMPLATE (round-11 widening toward
    * the reference's real stylesheets, tests/fixtures/
    * xsl-sample-simple.xsl:22-45 and temple.xsl): one output element
    * name, the xpath selecting every matched node's text, and an
    * ordered first-match-wins case list applied to EACH matched node
    * (`(guard atoms, emitted value)`; a node matching no case emits
    * nothing). Compiles to
    * `filter(transform(xpath(...), node-CASE), notNull)` — per-node
    * emission in document order, exactly apply-templates' output
    * model, as one light-probe HOF chain (the measured-fastest shape
    * for per-element membership/regex work, see CLAUDE.md). An empty
    * result array becomes NULL so `to_json` omits the field — the
    * template-emitted-nothing output. */
  final case class XDispatch(name: String, nodesPath: String,
      cases: Seq[(Seq[XAtom], XVal)]) extends XRule

  /** Guard atoms over ONE matched node's text: `xsl:if`/`xsl:when`
    * tests in the widened subset. */
  sealed trait XAtom
  /** `normalize-space(.) != ''` — the blank-node drop guard. */
  case object ANonEmpty extends XAtom
  /** `matches(., re)` — XPath's UNANCHORED contains-a-match
    * semantics; flags are pre-baked as an inline group, with `i`
    * widened to `(?iu)` (Unicode case fold, the XPath 2.0 meaning). */
  final case class AMatches(re: String) extends XAtom
  /** `starts-with(., 'prefix')` — the rights-URI routing test the
    * reference's temple.xsl:237 uses. */
  final case class AStartsWith(prefix: String) extends XAtom
  /** An `or`-disjunction of atomic tests (temple.xsl:237 chains three
    * starts-with). One atom, so first-match-wins negation stays a
    * single [[ANot]]. */
  final case class AAnyOf(atoms: Seq[XAtom]) extends XAtom
  final case class ANot(atom: XAtom) extends XAtom
  /** `contains(EXPR, 'lit')` (r17 widening). */
  final case class AContains(lit: String) extends XAtom
  /** RAW string non-emptiness — `EXPR != ''` is XPath string
    * inequality with NO whitespace collapse, unlike [[ANonEmpty]]'s
    * normalize-space semantics. */
  case object ARawNonEmpty extends XAtom
  /** An atom evaluated over a COMPUTED operand instead of the node's
    * raw text — the compiled form of a test over an `xsl:variable`
    * (r17): variables inline at reference, so the operand is the
    * defining [[XVal]] expression. */
  final case class AOver(v: XVal, atom: XAtom) extends XAtom

  /** What a matched case emits for the node. */
  sealed trait XVal
  /** `xsl:value-of select="."` — the node's raw text. */
  case object VText extends XVal
  /** `xsl:value-of select="normalize-space(.)"`. */
  case object VNormText extends XVal
  /** Literal text content (`<dcterms:type>Text</dcterms:type>`). */
  final case class VConst(s: String) extends XVal
  /** A recursive delimiter-split emission (the `xsl:call-template`
    * str-split idiom of temple.xsl:324-348): the node's text splits
    * into one emitted element per segment — the FIRST split uses the
    * call site's delimiter, subsequent splits the named template's
    * own recursive literal (they differ in temple's type/lang
    * templates: `';'` vs `'; '`), intermediate segments emitted RAW
    * (`substring-before`) and only the final segment
    * `normalize-space`'d, empty segments included — exactly the
    * recursion's emission trace. */
  final case class VSplit(first: String, rest: String) extends XVal
  /** An emitting element carrying `xsl:attribute` children with
    * LITERAL names (the aggregator_mdx-style identifier shape:
    * `<identifier><xsl:attribute name="type">url</xsl:attribute>
    * <xsl:value-of select="."/></identifier>`). Each attribute's
    * value is itself an in-subset [[XVal]] (constant text or the
    * node's (normalized) text); `inner` is the element content.
    * Struct model: the dispatch's array element becomes
    * `struct("@name"…, "#text")` — the standard XML→JSON attribute
    * convention, so `to_json` carries the attributes; wire form:
    * `<name a="v">text</name>` with attribute-escaped values. */
  final case class VAttributed(attrs: Seq[(String, XVal)], inner: XVal)
      extends XVal

  /** Mixed content (the r13 widening): literal text interleaved with
    * in-subset value-ofs inside one emitting element —
    * `<coverage><xsl:value-of select="."/> (geographic)</coverage>`,
    * the separator/suffix idiom real crosswalks lean on (xsl:text
    * children parse to whitespace-exact constant parts). Renders as
    * one `concat` in document order. Parts are scalar XVals only
    * (VText/VNormText/VConst) — nesting stays refused. */
  final case class VParts(parts: Seq[XVal]) extends XVal

  /** A string-function application over in-subset scalar values —
    * the `xsl:variable` widening (r17): a variable's select compiles
    * to an XVal and INLINES at each `$name` reference (XSLT
    * variables are single-assignment, so inlining is semantics-
    * preserving), so the compiled rule tree never carries an
    * environment. Grammar: `.`, `$var`, string literals, and
    * normalize-space / lower-case / upper-case / string /
    * substring-before / substring-after (literal needle) / translate
    * (literal maps) / concat over those. substring-before/-after
    * follow XPath: empty string when the needle is absent. */
  final case class VFunc(fn: String, args: Seq[XVal]) extends XVal

  /** XPath `normalize-space`: collapse whitespace runs, trim. (Not
    * [[normalizeText]] — no lowercasing.) */
  def normalizeSpace(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  private def atomCond(x: Column, a: XAtom): Column = a match {
    // normalize-space semantics, NOT trim: Spark trim strips SPACES
    // only, so tab/newline-only text would pass a guard Saxon/lxml
    // fail (the r17 ADVICE finding — length(normalizeSpace(x)) drops
    // ALL whitespace classes exactly like XPath normalize-space)
    case ANonEmpty => length(normalizeSpace(x)) > 0
    case AMatches(re) => x.rlike(re)
    case AStartsWith(p) => x.startsWith(p)
    case AContains(s) => x.contains(s)
    case ARawNonEmpty => length(x) > 0
    case AOver(v, inner) => atomCond(caseValue(x, v), inner)
    case AAnyOf(atoms) => atoms.map(atomCond(x, _)).reduce(_ || _)
    case ANot(inner) => !atomCond(x, inner)
  }

  private def caseValue(x: Column, v: XVal): Column = v match {
    case VText => x
    case VNormText => normalizeSpace(x)
    case VConst(s) => lit(s)
    case VParts(ps) => concat(ps.map(caseValue(x, _)): _*)
    case VFunc("lower-case", Seq(a)) => lower(caseValue(x, a))
    case VFunc("upper-case", Seq(a)) => upper(caseValue(x, a))
    case VFunc("normalize-space", Seq(a)) => normalizeSpace(caseValue(x, a))
    case VFunc("string", Seq(a)) => caseValue(x, a)
    case VFunc("substring-before", Seq(a, VConst(t))) =>
      // XPath: text before the FIRST needle occurrence, "" if absent
      val s = caseValue(x, a)
      when(instr(s, t) > 0, substr(s, lit(1), instr(s, t) - 1))
        .otherwise(lit(""))
    case VFunc("substring-after", Seq(a, VConst(t))) =>
      val s = caseValue(x, a)
      when(instr(s, t) > 0,
        substr(s, instr(s, t) + lit(t.length), length(s)))
        .otherwise(lit(""))
    case VFunc("translate", Seq(a, VConst(from), VConst(to))) =>
      translate(caseValue(x, a), from, to)
    case VFunc("concat", args) => concat(args.map(caseValue(x, _)): _*)
    case v: VFunc => throw new IllegalStateException(
      s"uncompilable VFunc shape $v — the select parser should have refused it")
    case v: VSplit => throw new IllegalStateException(
      s"VSplit must be a dispatch's sole case, got mixed cases ($v)")
    case v: VAttributed => throw new IllegalStateException(
      s"VAttributed must render through attrStruct ($v)")
  }

  /** Union of attribute names across a dispatch's cases — nonEmpty
    * marks the dispatch ATTRIBUTED: every case then renders as
    * `struct("@name"…, "#text")` (one common type; a case without
    * some attribute leaves it null → omitted on the wire). */
  private[graft] def dispatchAttrNames(d: XDispatch): Seq[String] =
    d.cases.flatMap(_._2 match {
      case VAttributed(as, _) => as.map(_._1)
      case _ => Seq.empty
    }).distinct

  /** One case's emission for an ATTRIBUTED dispatch. */
  private def attrStruct(x: Column, v: XVal, names: Seq[String]): Column = {
    val (as, inner) = v match {
      case VAttributed(a, in) => (a.toMap, in)
      case other => (Map.empty[String, XVal], other)
    }
    struct(names.map { n =>
      as.get(n).map(caseValue(x, _))
        .getOrElse(lit(null).cast("string")).as("@" + n)
    } :+ caseValue(x, inner).as("#text"): _*)
  }

  /** Wire-form rendering of one attributed emission struct:
    * `<name a="v" …>text</name>`, attribute values escaped like text
    * plus `"` → `&quot;` (they sit inside double quotes). */
  private def attrElem(name: String, names: Seq[String], s: Column,
      esc: Column => Column): Column = {
    val parts = names.map { n =>
      val av = s.getField("@" + n)
      when(av.isNotNull,
        concat(lit(" " + n + "=\""), regexp_replace(esc(av), "\"", "&quot;"),
          lit("\""))).otherwise(lit(""))
    }
    concat((lit(s"<$name") +: parts :+ lit(">") :+
      esc(s.getField("#text")) :+ lit(s"</$name>")): _*)
  }

  /** The [[VSplit]] emission trace for one node's text. */
  private def splitEmissions(x: Column, d1: String, d2: String): Column = {
    val before = substring_index(x, d1, 1)
    val after = x.substr(length(before) + lit(d1.length + 1), lit(1 << 30))
    val restParts = split(after, java.util.regex.Pattern.quote(d2))
    val restEmitted = transform(restParts, (seg, i) =>
      when(i === size(restParts) - 1, normalizeSpace(seg)).otherwise(seg))
    when(x.contains(d1), concat(array(before), restEmitted))
      .otherwise(array(normalizeSpace(x)))
  }

  private def condOf(x: Column, atoms: Seq[XAtom]): Column =
    atoms.map(atomCond(x, _)).reduceOption(_ && _).getOrElse(lit(true))

  private def keptArray(sx: SlotAccess, d: XDispatch): Column = {
    val nodes = sx.nodes(d.nodesPath)
    d.cases match {
      // a split call is the sole emission for its output: the guard
      // selects nodes, every segment of a selected node is emitted
      case Seq((atoms, VSplit(d1, d2))) =>
        flatten(transform(filter(nodes, x => condOf(x, atoms)),
          x => splitEmissions(x, d1, d2)))
      case cases =>
        require(!cases.exists(_._2.isInstanceOf[VSplit]),
          "VSplit must be a dispatch's sole case")
        val names = dispatchAttrNames(d)
        def render(x: Column, v: XVal): Column =
          if (names.isEmpty) caseValue(x, v) else attrStruct(x, v, names)
        val mapped = transform(nodes, x =>
          cases.tail.foldLeft(
            when(condOf(x, cases.head._1), render(x, cases.head._2))) {
            case (c, (atoms, v)) => c.when(condOf(x, atoms), render(x, v))
          })
        filter(mapped, _.isNotNull)
    }
  }

  private def dispatchExpr(sx: SlotAccess, d: XDispatch): Column = {
    val kept = keptArray(sx, d)
    when(size(kept) > 0, kept)
  }

  /** [[keptArray]]'s document-order twin: each kept emission as
    * struct(k, e) where `k` is a global sort key (source node's
    * document-order ordinal × 1e6 + the emission index within the
    * node — split segments stay adjacent and ordered) and `e` is the
    * serialized `<name>escaped</name>` element. Sorting the union of
    * every dispatch's emissions by `k` reproduces the source
    * document's field order — what Saxon's apply-templates output
    * does, and what the declaration-order struct model cannot. */
  private def keptEmissions(sx: SlotAccess, d: XDispatch,
      esc: Column => Column): Column = {
    val zipped = arrays_zip(sx.nodes(d.nodesPath), sx.nodePos(d.nodesPath))
    def v(z: Column): Column = z.getField("0")
    def key(z: Column, j: Column): Column =
      z.getField("1").cast("long") * 1000000L + j
    def elem(x: Column): Column =
      concat(lit(s"<${d.name}>"), esc(x), lit(s"</${d.name}>"))
    d.cases match {
      case Seq((atoms, VSplit(d1, d2))) =>
        flatten(transform(filter(zipped, z => condOf(v(z), atoms)), z =>
          transform(splitEmissions(v(z), d1, d2), (s, j) =>
            struct(key(z, j.cast("long")).as("k"), elem(s).as("e")))))
      case cases =>
        require(!cases.exists(_._2.isInstanceOf[VSplit]),
          "VSplit must be a dispatch's sole case")
        val names = dispatchAttrNames(d)
        def render(x: Column, cv: XVal): Column =
          if (names.isEmpty) caseValue(x, cv) else attrStruct(x, cv, names)
        def wire(value: Column): Column =
          if (names.isEmpty) elem(value) else attrElem(d.name, names, value, esc)
        val mapped = transform(zipped, z => {
          val value = cases.tail.foldLeft(
            when(condOf(v(z), cases.head._1), render(v(z), cases.head._2))) {
            case (c, (atoms, cv)) => c.when(condOf(v(z), atoms), render(v(z), cv))
          }
          when(value.isNotNull,
            struct(key(z, lit(0L)).as("k"), wire(value).as("e")))
        })
        filter(mapped, _.isNotNull)
    }
  }

  /** Several field templates emitting the SAME output element
    * (temple.xsl maps both `dc:coverage` and `dcterms:spatial` to
    * `dcterms:spatial`) — legal XSLT; the struct model merges their
    * emissions into one array field, template-declaration order
    * between the parts (the documented field-order caveat, one level
    * down). */
  final case class XConcat(name: String, parts: Seq[XDispatch]) extends XRule

  /** An unconditional per-record constant emission: the base
    * template's `xsl:call-template` of a constant named template
    * (xsl-sample-complex.xsl:49 calls temple.xsl's `hub` to stamp
    * `<edm:provider>PA Digital</edm:provider>` on every record). */
  final case class XStamp(name: String, value: String) extends XRule

  private def concatExpr(sx: SlotAccess, c: XConcat): Column = {
    val kept = c.parts.map(keptArray(sx, _)).reduce(concat(_, _))
    when(size(kept) > 0, kept)
  }

  /** XSLT-subset → [[XRule]] compiler: the in-scope answer to the
    * reference's Saxon dependency (transform.py:20-76 shells to an
    * arbitrary `.xsl`; prepare_saxon_engine at transform.py:81
    * DOWNLOADS Saxon — out of reach in a zero-egress engine). A user
    * holding real stylesheet files feeds them here; the subset
    * covers the shapes the reference's crosswalk DAGs actually use,
    * and each compiles to the rule tree that [[structuralCrosswalk]]
    * turns into ONE codegen'd map-only projection:
    *
    *  - one `xsl:template match="/abs/path"` establishing the
    *    context node,
    *  - whose body is one literal result element; its children
    *    compile to the rule list:
    *    - literal element containing exactly one `xsl:value-of` →
    *      [[XLeaf]] (select `.`→ context text, `@attr` → attribute,
    *      relative path → descendant text),
    *    - literal element containing exactly one `xsl:for-each`
    *      whose body is ONE bare `xsl:value-of` → [[XAll]]: every
    *      matching node's text as array<string> (the repeated-text
    *      shape; a for-each emitting an element per match is the
    *      XZip case below),
    *    - literal element containing only literal elements →
    *      [[XNode]] of its compiled children,
    *    - `xsl:for-each select="rel"` containing one literal
    *      element whose children each hold one `xsl:value-of` →
    *      [[XZip]]: the per-match fields zip positionally, exactly
    *      how the for-each visits nodes in document order.
    *
    *    - `xsl:if test="rel-path"` with an existence test, either
    *      WRAPPING one literal element or as the sole child of one
    *      holding a single `xsl:value-of` → [[XWhen]]: the field is
    *      emitted only when the tested node exists (the CASE WHEN
    *      guard; to_json's null-dropping is the element-absent
    *      output).
    *    - literal element holding one `xsl:choose` whose `xsl:when`
    *      branches (existence tests) each hold one `xsl:value-of`,
    *      plus at most one `xsl:otherwise` → [[XChoose]]: a chained
    *      CASE WHEN with first-match-wins semantics; no match and no
    *      otherwise emits nothing (the null-dropped field).
    *
    * Since r18 NODE-SET `xsl:variable` is in subset at the template
    * body's top level: a variable binding a context-relative node
    * path (`<xsl:variable name="f" select="datafield"/>`) may be
    * referenced as `$f` (optionally with trailing steps, `$f/@tag`)
    * in value-of selects, if tests and for-each selects — variables
    * inline at reference (single-assignment, so semantics-
    * preserving), scope is document order, redefinition refuses.
    * String-EXPRESSION variables (normalize-space etc.) live in the
    * sheet compiler; a computational select refuses here.
    *
    * Anything outside the subset (apply-templates, call-template,
    * nested for-each, non-path tests, literal text in when branches)
    * throws — a compiler that silently mis-runs a stylesheet is
    * worse than one that refuses it. Parsing is JDK DOM; no
    * execution engine is involved. */
  def compileXslt(xslt: String): Seq[XRule] = {
    import org.w3c.dom.Element
    val XslNs = "http://www.w3.org/1999/XSL/Transform"
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    val doc = dbf.newDocumentBuilder().parse(new org.xml.sax.InputSource(
      new java.io.StringReader(xslt)))
    def elems(n: org.w3c.dom.Node): Seq[Element] = {
      val nl = n.getChildNodes
      (0 until nl.getLength).map(nl.item).collect { case e: Element => e }
    }
    def isXsl(e: Element, local: String): Boolean =
      XslNs == e.getNamespaceURI && e.getLocalName == local
    def name(e: Element): String =
      Option(e.getLocalName).getOrElse(e.getTagName)
    // r18 (the node-set xsl:variable slice): a `$var` HEAD resolves
    // to the variable's bound ABSOLUTE node path — XSLT variables
    // are single-assignment, so inlining the defining select at each
    // reference is semantics-preserving, exactly the string-variable
    // rule of the sheet compiler. Returns the resolved absolute path
    // of the whole select (`.` = the context itself).
    def resolveSteps(base: String, sel: String,
        env: Map[String, String]): String = {
      require(sel.nonEmpty && !sel.contains("//"),
        s"unsupported select '$sel' (// paths are outside the subset)")
      if (sel.startsWith("$")) {
        val nm = sel.drop(1).takeWhile(_ != '/')
        require(env.contains(nm),
          s"undefined node-set variable $$$nm in select '$sel'")
        val rest = sel.drop(1 + nm.length).stripPrefix("/")
        require(!rest.contains("$"),
          s"only a leading $$var reference is in subset, got '$sel'")
        if (rest.isEmpty) env(nm) else s"${env(nm)}/$rest"
      } else {
        require(!sel.startsWith("/"),
          s"unsupported select '$sel' (absolute paths are outside the subset)")
        if (sel == ".") base else s"$base/$sel"
      }
    }
    def valuePath(base: String, sel: String,
        env: Map[String, String] = Map.empty): String = {
      if (sel == ".") s"$base/text()"
      else {
        val p = resolveSteps(base, sel, env)
        // an attribute FINAL step ("@tag", "subfield/@code", a $var
        // bound to an attribute path) selects the attribute value
        // itself — appending /text() to it would always be empty
        // (and misalign a zip's arrays)
        if (p.split("/").last.startsWith("@")) p else s"$p/text()"
      }
    }
    // an xsl:if test is an EXISTENCE predicate over a context-relative
    // node path or $var reference (the shape the reference's
    // crosswalks use); anything computational (=, functions, and/or)
    // is out of subset
    def testPath(base: String, test: String,
        env: Map[String, String] = Map.empty): String = {
      // operators are checked OUTSIDE [...] predicates: a step filter
      // like [@tag='001'] is still a node-existence path
      val stripped = test.replaceAll("\\[[^\\]]*\\]", "")
      require(test.nonEmpty
          && !stripped.exists(c => "=<>!|&()".contains(c)),
        s"unsupported xsl:if test '$test' (only context-relative " +
          "node-existence paths are in the subset)")
      resolveSteps(base, test, env)
    }
    // node-set variable binding: name → the ABSOLUTE path its select
    // resolves to at the definition point (document-order scoping;
    // earlier variables may be referenced). String-expression
    // variables (normalize-space etc.) live in the SHEET compiler —
    // here a computational select refuses loudly.
    def bindNodeVar(v: Element, base: String,
        env: Map[String, String]): Map[String, String] = {
      val nm = v.getAttribute("name")
      require(nm.nonEmpty, "xsl:variable needs a name")
      require(!env.contains(nm),
        s"xsl:variable '$nm' redefined in one body — out of subset")
      val sel = v.getAttribute("select").trim
      require(sel.nonEmpty && elems(v).isEmpty,
        s"xsl:variable '$nm' must bind with select= (content-bodied " +
          "variables are out of subset)")
      val stripped = sel.replaceAll("\\[[^\\]]*\\]", "")
      require(!stripped.exists(c => "=<>!|&()'".contains(c)),
        s"xsl:variable '$nm' select '$sel' is not a node path " +
          "(string-expression variables live in the stylesheet compiler)")
      env + (nm -> resolveSteps(base, sel, env))
    }
    def compileLeafOrNode(e: Element, base: String,
        env: Map[String, String]): XRule = {
      require(e.getNamespaceURI == null,
        s"unsupported xsl:${name(e)} here — only value-of/for-each/" +
          "if/literal elements are in the subset")
      // static attributes have no slot in this compiler's JSON field
      // model — refuse rather than silently dropping them (the
      // refuse-not-misrun posture); the apply-templates sheet
      // compiler is the attributed path
      locally {
        val am = e.getAttributes
        (0 until am.getLength).map(am.item).foreach {
          case a: org.w3c.dom.Attr
              if a.getNamespaceURI != "http://www.w3.org/2000/xmlns/"
                && a.getName != "xmlns" =>
            throw new IllegalArgumentException(
              s"static attribute '${a.getName}' on <${name(e)}> is out " +
                "of subset here (the JSON field model has no attribute " +
                "slot; route attributed outputs through the stylesheet " +
                "compiler)")
          case _ => ()
        }
      }
      elems(e) match {
        case Seq(vo) if isXsl(vo, "value-of") =>
          XLeaf(name(e), valuePath(base, vo.getAttribute("select"), env))
        case Seq(xif) if isXsl(xif, "if") =>
          val vo = elems(xif) match {
            case Seq(v) if isXsl(v, "value-of") => v
            case _ => throw new IllegalArgumentException(
              s"xsl:if inside <${name(e)}> must hold exactly one value-of")
          }
          XWhen(testPath(base, xif.getAttribute("test"), env),
            XLeaf(name(e), valuePath(base, vo.getAttribute("select"), env)))
        case Seq(ch) if isXsl(ch, "choose") =>
          def voOf(x: Element, what: String): Element = elems(x) match {
            case Seq(v) if isXsl(v, "value-of") => v
            case _ => throw new IllegalArgumentException(
              s"$what inside <${name(e)}> must hold exactly one value-of")
          }
          val kids = elems(ch)
          val whens = kids.filter(isXsl(_, "when"))
          val others = kids.filter(isXsl(_, "otherwise"))
          require(whens.nonEmpty
              && kids.size == whens.size + others.size && others.size <= 1,
            s"xsl:choose inside <${name(e)}> must hold xsl:when branches " +
              "and at most one xsl:otherwise")
          XChoose(
            whens.map(wn => testPath(base, wn.getAttribute("test"), env) ->
              XLeaf(name(e),
                valuePath(base, voOf(wn, "xsl:when").getAttribute("select"), env))),
            others.headOption.map(o => XLeaf(name(e),
              valuePath(base, voOf(o, "xsl:otherwise").getAttribute("select"), env))))
        case Seq(fe) if isXsl(fe, "for-each")
            && elems(fe).forall(isXsl(_, "value-of")) =>
          val sel = fe.getAttribute("select")
          val fBase = resolveSteps(base, sel, env)
          val vo = elems(fe) match {
            case Seq(v) => v
            case other => throw new IllegalArgumentException(
              s"bare for-each under <${name(e)}> must hold exactly one " +
                s"value-of, got ${other.size}")
          }
          XAll(name(e), valuePath(fBase, vo.getAttribute("select"), env))
        case kids if kids.nonEmpty =>
          XNode(name(e), kids.map(compileTop(_, base, env)))
        case _ => throw new IllegalArgumentException(
          s"empty literal element <${name(e)}> — nothing to compile")
      }
    }
    def compileTop(e: Element, base: String,
        env: Map[String, String]): XRule =
      if (isXsl(e, "if")) {
        val inner = elems(e) match {
          case Seq(one) if one.getNamespaceURI == null => one
          case other => throw new IllegalArgumentException(
            "xsl:if body must be one literal element, got " +
              other.map(name).mkString(","))
        }
        XWhen(testPath(base, e.getAttribute("test"), env),
          compileTop(inner, base, env))
      } else if (isXsl(e, "for-each")) {
        // the select is a context-relative path OR a $var reference
        // to a node-set variable (r18) — either way fBase is the
        // resolved absolute path of the repeated node
        val fBase = resolveSteps(base, e.getAttribute("select"), env)
        val inner = elems(e) match {
          case Seq(one) if one.getNamespaceURI == null => one
          case other => throw new IllegalArgumentException(
            "for-each body must be one literal element, got " +
              other.map(name).mkString(","))
        }
        val fields = elems(inner).map { f =>
          val vo = elems(f) match {
            case Seq(v) if isXsl(v, "value-of") => v
            case _ => throw new IllegalArgumentException(
              s"for-each field <${name(f)}> must hold exactly one value-of")
          }
          name(f) -> valuePath(fBase, vo.getAttribute("select"), env)
        }
        XZip(name(inner), fields)
      } else compileLeafOrNode(e, base, env)
    val template = elems(doc.getDocumentElement)
      .find(isXsl(_, "template")).getOrElse(throw
        new IllegalArgumentException("stylesheet has no xsl:template"))
    val ctx = template.getAttribute("match")
    require(ctx.startsWith("/") && !ctx.contains("//"),
      s"template match must be an absolute path, got '$ctx'")
    val wrapper = elems(template) match {
      case Seq(w) if w.getNamespaceURI == null => w
      case other => throw new IllegalArgumentException(
        "template body must be one literal result element, got " +
          other.map(name).mkString(","))
    }
    // template-body top level: node-set xsl:variable definitions
    // bind in DOCUMENT ORDER for everything after them (r18); each
    // emitting child compiles under the bindings visible at its
    // position
    locally {
      var env = Map.empty[String, String]
      elems(wrapper).flatMap {
        case v if isXsl(v, "variable") =>
          env = bindNodeVar(v, ctx, env); Seq.empty
        case e => Seq(compileTop(e, ctx, env))
      }
    }
  }

  /** A MULTI-TEMPLATE stylesheet compiled to the engine's terms: the
    * row-keep predicate (base-template match + drop-template
    * exclusions, evaluated with `xpath_boolean`) and the
    * [[XDispatch]] rule list [[structuralCrosswalk]] turns into one
    * codegen'd projection. */
  final case class XsltSheet(contextPath: String,
      exclusionPaths: Seq[String], rules: Seq[XRule],
      wrapperName: String = "record",
      ns: Map[String, String] = Map.empty) {
    /** True for rows the stylesheet emits output for: the context
      * node matches (with its predicates) and no drop template
      * intercepts the record. Composed into ONE XPath boolean
      * expression — each `xpath_boolean` call re-parses the XML
      * string, so folding N+1 probes into one cuts the filter's
      * parse cost to a single pass per row. A namespace-aware sheet
      * (nonEmpty `ns` — see compileXsltSheet's `nsAware`) evaluates
      * the same composed expression through an aware [[XmlSlots]]
      * bool slot instead (Spark's xpath_boolean cannot resolve
      * prefixes); null XML evaluates null either way. */
    /** The one composed boolean XPath [[keep]] evaluates (exposed so
      * sheet compilation can validate it compiles — see
      * [[Transform.requireNsCompilable]]). */
    def composedKeepExpr: String =
      exclusionPaths.foldLeft(s"($contextPath)") {
        (acc, ex) => s"$acc and not(($ex))"
      }
    def keep(xml: Column): Column = {
      val expr = composedKeepExpr
      if (ns.isEmpty) xpath_boolean(xml, lit(expr))
      else element_at(element_at(XmlExpr.xpathSlots(xml,
        XmlSlots.withNamespaces(Array(expr),
          Array(XmlSlots.KindBool), ns)), 1), 1) === "true"
    }
    /** The compiled crosswalk output as one nested struct Column. */
    def output(xml: Column): Column = structuralCrosswalk(xml, rules, ns)
    /** The reference's ACTUAL wire form — serialized XML records,
      * what transform.py's Saxon run writes to the destination
      * prefix: every emission as a repeated `<name>text</name>`
      * element inside the base template's literal wrapper, entities
      * re-escaped (xpath hands back unescaped text). Default field
      * order is template-declaration order (the documented
      * struct-model deviation — identical whenever each record lists
      * its fields in the stylesheet's order, the OAI-DC case, and
      * the order every oracle replays); `documentOrder = true`
      * instead sorts emissions by their source node's document
      * position (base-body stamps last, as the call-template follows
      * apply-templates) — the order-exact serialization for
      * consumers that byte-compare against Saxon output,
      * XsltSheetSpec-asserted element-for-element IN ORDER against
      * the reference's expected complex outputs. Either way ONE
      * map-only projection with one DOM parse per row. */
    def outputXml(xml: Column, documentOrder: Boolean = false): Column = {
      def esc(x: Column): Column =
        regexp_replace(regexp_replace(regexp_replace(x,
          "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      if (!documentOrder) {
        withSlots(xml, rules, ns = ns) { sx =>
          val inner = rules.map { r =>
            val n = ruleName(r)
            val wire: Column => Column = r match {
              // attributed dispatch: array elements are structs —
              // render <n a="v">text</n> instead of <n>text</n>
              case d: XDispatch if dispatchAttrNames(d).nonEmpty =>
                attrElem(n, dispatchAttrNames(d), _, esc)
              case _ =>
                x => concat(lit(s"<$n>"), esc(x), lit(s"</$n>"))
            }
            coalesce(array_join(transform(ruleExpr(sx, r), wire), ""), lit(""))
          }.reduceOption(concat(_, _)).getOrElse(lit(""))
          concat(lit(s"<$wrapperName>"), inner, lit(s"</$wrapperName>"))
        }
      } else {
        val dispatches: Seq[XDispatch] = rules.flatMap {
          case d: XDispatch => Seq(d)
          case XConcat(_, parts) => parts
          case _: XStamp => Seq.empty
          case other => throw new IllegalArgumentException(
            s"document-order output is defined for sheet rules " +
              s"(dispatch/merge/stamp), got $other")
        }
        val stamps = rules.collect { case XStamp(n, v) =>
          val ev = v.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;")
          s"<$n>$ev</$n>"
        }.mkString
        withSlots(xml, rules, posPaths = dispatches.map(_.nodesPath),
            ns = ns) { sx =>
          val inner = dispatches.map(keptEmissions(sx, _, esc))
            .reduceOption(concat(_, _)) match {
            case Some(all) =>
              array_join(transform(array_sort(all), _.getField("e")), "")
            case None => lit("")
          }
          concat(lit(s"<$wrapperName>"), inner, lit(stamps),
            lit(s"</$wrapperName>"))
        }
      }
    }
  }

  /** Rewrite prefixed QName steps for Spark's NAMESPACE-UNAWARE xpath
    * parse (Hive-derived `UDFXPathUtil` parses without namespace
    * awareness, so `dc:title` is a literal node name and a prefixed
    * XPath step would fail prefix resolution): `p:local` →
    * `*[substring-after(name(),':')='local']`, `@p:local` →
    * `@*[substring-after(name(),':')='local']`. Matching is by LOCAL
    * name under any prefix — the right approximation for OAI feeds
    * where the same namespace arrives under per-record prefixes
    * (`ns0:`/`ns1:`… in tests/fixtures/xsl-sample.xml vs `oai:` in
    * the stylesheet); an unprefixed step is left untouched and only
    * matches unprefixed nodes. String literals must not contain `:`
    * (refused) — the rewrite is token-level. */
  private[graft] def rewriteQNames(path: String): String = {
    val lits = "'[^']*'".r.findAllIn(path).toSeq
    require(!lits.exists(_.contains(":")),
      s"colon inside a string literal of '$path' — out of subset " +
        "(the QName rewrite is token-level)")
    val qname = "(@?)([A-Za-z_][A-Za-z0-9_.-]*):([A-Za-z_][A-Za-z0-9_.-]*)".r
    qname.replaceAllIn(path, m => {
      val star = if (m.group(1) == "@") "@*" else "*"
      java.util.regex.Matcher.quoteReplacement(
        s"$star[substring-after(name(),':')='${m.group(3)}']")
    })
  }

  /** Multi-template XSLT → [[XsltSheet]]: the round-11 widening that
    * compiles the shapes the reference's REAL stylesheets use
    * (tests/fixtures/xsl-sample-simple.xsl; temple.xsl's core
    * constructs), where [[compileXslt]] handles only the
    * single-template pull shape. In subset:
    *
    *  - **drop templates** (empty body): `match="text() | @*"` is
    *    the suppress-default-text rule — a no-op here because the
    *    struct model only ever emits what templates produce; an
    *    absolute pattern ending in slash-star (the deleted-record
    *    filter `//oai:record[oai:header[@status='deleted']]` + the
    *    children step) compiles to a row-level EXCLUSION: the record
    *    emits nothing when the pattern's parent matches (rows are one
    *    record each, so intercepting a record's children kills
    *    exactly that row).
    *  - **one base template** with an absolute match (predicates
    *    allowed — `//oai_dc:dc[not(dc:relation[string()=
    *    'pdcp_noharvest'])]` is the row filter) whose body is one
    *    literal result element holding exactly one bare
    *    `xsl:apply-templates` — the output wrapper (the JSON object
    *    is the wrapper; its namespace attributes don't survive the
    *    JSON wire form).
    *  - **field templates** matching one relative QName step
    *    (`dc:title`), applied to EVERY matching child of the context
    *    node in document order ([[XDispatch]] arrays). Bodies:
    *    literal elements or `xsl:element name="lit"` holding one
    *    `xsl:value-of` (`.` / `normalize-space(.)`) or literal text;
    *    `xsl:if` guards (`normalize-space(.)!=''`); `xsl:choose`
    *    whose `xsl:when` tests are `matches(., re[, flags])` with
    *    first-match-wins compiled as accumulated negations so a
    *    later-named output (the `xsl:otherwise` → `dcterms:format`
    *    fallback) can live in its own dispatch without stealing
    *    earlier branches' nodes.
    *
    * Output field order is TEMPLATE DECLARATION order (a struct's
    * field order is fixed), not document order across different
    * templates — identical whenever each record lists its fields in
    * the stylesheet's order, the OAI-DC case. Values come from the
    * matched node's direct text; a text-less node is treated as
    * absent (the blank-guarded shapes in scope drop it anyway).
    *
    * Further widenings (all exercised by the reference's real
    * fixtures, see XsltSheetSpec): `xsl:include`/`xsl:import`
    * expanded recursively AT THEIR DOCUMENT POSITION from
    * caller-supplied local sources (remote hrefs do not fetch in a
    * zero-egress engine) with last-declaration-wins duplicate-match
    * resolution; `starts-with(., 'p')` atoms and `or`-disjunction
    * tests; `xsl:if` nested inside `xsl:choose` branches;
    * `xsl:call-template` of the recognized recursive delimiter-split
    * idiom ([[VSplit]]) in field templates and of CONSTANT named
    * templates in the base body ([[XStamp]]); several templates
    * emitting one output name merge into one array ([[XConcat]]);
    * `xsl:attribute` with LITERAL names on emitting elements
    * ([[VAttributed]], the r13 widening — the aggregator_mdx
    * identifier shape): attribute values are constant text or the
    * node's (normalized) text, the struct model renders the
    * emission as `{"@name": …, "#text": …}` and the wire form as
    * `<name a="v">text</name>`.
    * Since r17 string-valued `xsl:variable` is IN subset: a variable
    * binds with a select from the string-expression grammar (`.`,
    * `$var`, literals, normalize-space / lower-case / upper-case /
    * string / substring-before / substring-after / translate /
    * concat — the [[VFunc]] scaladoc) and may be referenced in
    * value-ofs, mixed content and guard tests (contains /
    * starts-with / matches / != '' over a variable); variables
    * inline at reference, scoping is document-order within one body
    * (XsltVariableSpec — temple.xsl's commented-out
    * $objID/$baseURL/$langterm templates are the model shapes).
    * Everything else — dynamic `xsl:attribute`/`xsl:element` names,
    * attributes on MERGED outputs, content-bodied or node-set
    * variables, computational tests, nested apply-templates —
    * stays REFUSED: a compiler that silently mis-runs a stylesheet
    * is worse than one that refuses it. */
  /** `nsAware = true` (r17, the r16 known-limits follow-on) compiles
    * the sheet NAMESPACE-AWARE: XPath prefixes in match patterns
    * resolve through the stylesheet's OWN xmlns declarations —
    * exactly how Saxon/lxml resolve stylesheet XPath prefixes — so a
    * corpus with colliding local names across namespaces dispatches
    * correctly. The default (false) keeps the engine-parity
    * local-name rewrite (the right approximation for OAI feeds with
    * per-record prefixes; every oracled query rides it). In aware
    * mode an UNPREFIXED match step binds to NO namespace (the XPath
    * 1.0 rule — the lxml default-namespace trap applies to the data
    * documents, so records under a default namespace need prefixed
    * stylesheet patterns, as real OAI stylesheets have). */
  def compileXsltSheet(xslt: String,
      includes: Map[String, String] = Map.empty,
      nsAware: Boolean = false): XsltSheet =
    compileSheet(xslt, includes, externalContext = None, nsAware = nsAware)

  /** MODULE compilation — the reference's shared-template layout
    * (tests/fixtures/temple.xsl: field + named templates only, no
    * base template; the collection-level stylesheet that includes it
    * supplies the context). The caller provides the base match the
    * including stylesheet would: `contextMatch` plays the base
    * template's role; everything else compiles as in
    * [[compileXsltSheet]]. */
  def compileXsltModule(xslt: String, contextMatch: String,
      includes: Map[String, String] = Map.empty,
      wrapperName: String = "record",
      nsAware: Boolean = false): XsltSheet =
    compileSheet(xslt, includes, externalContext = Some(contextMatch),
      moduleWrapper = wrapperName, nsAware = nsAware)

  /** A recognized recursive delimiter-split named template
    * (see [[VSplit]]): output element, its two parameter names, and
    * the delimiter literal its self-recursion passes. */
  private final case class Splitter(outName: String, strParam: String,
      delimParam: String, recDelim: String)

  /** Driver-side compiled-sheet memo (r19, verdict item 4): sheet
    * compilation — DOM parse, subset analysis, QName rewriting and
    * (for nsAware) the fail-fast compile of every XPath the sheet
    * will evaluate — is a pure function of its inputs, and the
    * declared queries re-compiled the SAME literal stylesheet on
    * every execution. [[XsltSheet]] is an immutable value whose
    * keep/output methods build fresh Columns per call, so one
    * compiled sheet serves any number of plans. Only successful
    * compiles are cached (a throwing compile re-throws per call); the
    * least recently used of more than 64 distinct sheets is dropped. */
  private[graft] val sheetCache = new BoundedMemo[
    (String, Map[String, String], Option[String], String, Boolean), XsltSheet](64)

  private def compileSheet(xslt: String, includes: Map[String, String],
      externalContext: Option[String],
      moduleWrapper: String = "record",
      nsAware: Boolean = false): XsltSheet =
    sheetCache.getOrCompute((xslt, includes, externalContext, moduleWrapper, nsAware))(
      compileSheetUncached(xslt, includes, externalContext, moduleWrapper, nsAware))

  private def compileSheetUncached(xslt: String, includes: Map[String, String],
      externalContext: Option[String],
      moduleWrapper: String = "record",
      nsAware: Boolean = false): XsltSheet = {
    import org.w3c.dom.Element
    val XslNs = "http://www.w3.org/1999/XSL/Transform"
    def parse(src: String): org.w3c.dom.Document = {
      val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      dbf.setNamespaceAware(true)
      dbf.newDocumentBuilder().parse(new org.xml.sax.InputSource(
        new java.io.StringReader(src)))
    }
    def elems(n: org.w3c.dom.Node): Seq[Element] = {
      val nl = n.getChildNodes
      (0 until nl.getLength).map(nl.item).collect { case e: Element => e }
    }
    def isXsl(e: Element, local: String): Boolean =
      XslNs == e.getNamespaceURI && e.getLocalName == local
    def name(e: Element): String =
      Option(e.getLocalName).getOrElse(e.getTagName)
    // the output name KEEPS its prefix (dcterms:title) — it is a
    // JSON field name, not an xpath step
    def outName(e: Element): String = e.getTagName

    // ---- template pool: includes EXPANDED AT THEIR POSITION -------
    // xsl:include/xsl:import hrefs must resolve from `includes` — a
    // zero-egress engine cannot fetch temple.xsl's remote lookup.xsl
    // (temple.xsl:26); the caller hands the included sources and the
    // pool compiles as one stylesheet. Expansion is recursive and
    // positional (include = textual inclusion at the include point),
    // so on duplicate match patterns the LAST declaration in expanded
    // document order wins (XSLT 1.0's recoverable-error resolution):
    // xsl-sample-complex.xsl includes temple.xsl ABOVE its own
    // templates, so its own dc:title/dc:type override temple's.
    // stylesheet-root xmlns declarations, collected across the
    // include pool (main sheet first, so its binding wins a prefix
    // conflict) — the namespace context Saxon/lxml resolve stylesheet
    // XPath prefixes against; the XSL namespace itself is excluded
    // (xsl: never appears in a match pattern the subset compiles)
    val nsDecls = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def poolTemplates(src: String, seen: Set[String]): Seq[Element] = {
      val rootEl = parse(src).getDocumentElement
      val atts = rootEl.getAttributes
      (0 until atts.getLength).map(atts.item).foreach { a =>
        if (a.getNodeName.startsWith("xmlns:") && a.getNodeValue != XslNs)
          nsDecls.getOrElseUpdate(
            a.getNodeName.stripPrefix("xmlns:"), a.getNodeValue)
      }
      elems(rootEl).flatMap {
        case e if isXsl(e, "include") || isXsl(e, "import") =>
          val href = e.getAttribute("href")
          require(includes.contains(href),
            s"xsl:include '$href' unresolved — remote includes do not " +
              "fetch in a zero-egress engine; pass its source in `includes`")
          require(!seen(href), s"circular xsl:include of '$href'")
          poolTemplates(includes(href), seen + href)
        case e if isXsl(e, "template") => Seq(e)
        case _ => Seq() // xsl:output etc.
      }
    }
    val templates = poolTemplates(xslt, Set.empty)
    // aware mode keeps QNames verbatim (prefixes resolve through the
    // collected declarations); default mode rewrites to the
    // local-name probe — ONE switch, every pattern site rides it
    val rw: String => String = if (nsAware) identity else rewriteQNames
    require(templates.nonEmpty, "stylesheet has no xsl:template")
    val (drops, bodied) = templates.partition(t => elems(t).isEmpty
      && t.getTextContent.trim.isEmpty)

    val exclusions = drops.flatMap { d =>
      val m = d.getAttribute("match").trim
      val isSuppress = m.split("\\|").map(_.trim).nonEmpty &&
        m.split("\\|").map(_.trim).forall(s => s == "text()" || s == "@*")
      if (isSuppress) None // default-text suppression: implied by the model
      else {
        require(m.startsWith("/") && m.endsWith("/*"),
          s"drop template match '$m' out of subset (only 'text() | @*' " +
            "and absolute patterns ending /* compile)")
        Some(rw(m.stripSuffix("/*")))
      }
    }

    // ---- named templates: recognize the recursive-splitter idiom --
    val (named, matched) = bodied.partition(
      t => t.getAttribute("match").trim.isEmpty)
    named.foreach(t => require(t.getAttribute("name").nonEmpty,
      "template with neither match nor name"))
    // the str-split idiom (temple.xsl:324-348): two params, one
    // choose — when contains(p1,p2): emit substring-before + recurse
    // on substring-after with a literal delimiter; otherwise: emit
    // normalize-space(p1). Same output element in both branches.
    def recognizeSplitter(t: Element): Option[Splitter] = {
      import java.util.regex.Pattern.quote
      val kids = elems(t)
      val params = kids.filter(isXsl(_, "param")).map(_.getAttribute("name"))
      val body = kids.filterNot(isXsl(_, "param"))
      if (params.size != 2 || body.size != 1 || !isXsl(body.head, "choose"))
        return None
      val Seq(p1, p2) = params
      val ch = elems(body.head)
      val whens = ch.filter(isXsl(_, "when"))
      val others = ch.filter(isXsl(_, "otherwise"))
      if (whens.size != 1 || others.size != 1 || ch.size != 2) return None
      val contRe = ("""contains\(\s*\$""" + quote(p1) + """\s*,\s*\$""" +
        quote(p2) + """\s*\)""").r
      if (!contRe.matches(whens.head.getAttribute("test").trim)) return None
      val wk = elems(whens.head)
      val vars = wk.filter(isXsl(_, "variable"))
        .map(v => v.getAttribute("name") ->
          v.getAttribute("select").replaceAll("\\s+", "")).toMap
      val emits = wk.filterNot(e => isXsl(e, "variable")
        || isXsl(e, "call-template"))
      val recs = wk.filter(isXsl(_, "call-template"))
      if (emits.size != 1 || recs.size != 1) return None
      val emitEl = emits.head
      if (emitEl.getNamespaceURI == XslNs) return None
      val subBefore = s"substring-before($$$p1,$$$p2)"
      val subAfter = s"substring-after($$$p1,$$$p2)"
      val voOk = elems(emitEl) match {
        case Seq(vo) if isXsl(vo, "value-of") =>
          vo.getAttribute("select").replaceAll("\\s+", "") == subBefore
        case _ => false
      }
      if (!voOk) return None
      val rec = recs.head
      if (rec.getAttribute("name") != t.getAttribute("name")) return None
      val wps = elems(rec).map { wp =>
        if (!isXsl(wp, "with-param")) return None
        wp.getAttribute("name") -> wp.getAttribute("select")
      }.toMap
      val strSel = wps.getOrElse(p1, "").replaceAll("\\s+", "")
      val strOk = strSel == subAfter ||
        (strSel.startsWith("$")
          && vars.get(strSel.drop(1)).contains(subAfter))
      if (!strOk) return None
      val litRe = "\\s*'(.*)'\\s*".r
      val recDelim = wps.getOrElse(p2, "") match {
        case litRe(d) => d
        case _ => return None
      }
      val otherOk = elems(others.head) match {
        case Seq(oe) if oe.getNamespaceURI != XslNs
            && oe.getTagName == emitEl.getTagName =>
          elems(oe) match {
            case Seq(vo) if isXsl(vo, "value-of") =>
              vo.getAttribute("select").replaceAll("\\s+", "") ==
                s"normalize-space($$$p1)"
            case _ => false
          }
        case _ => false
      }
      if (!otherOk) return None
      Some(Splitter(outName(emitEl), p1, p2, recDelim))
    }
    // unrecognized named templates are accepted but UNCALLABLE — an
    // uncalled template runs nothing, so accepting it is sound; a
    // call site referencing one refuses below
    val splitters: Map[String, Splitter] = named.flatMap(t =>
      recognizeSplitter(t).map(t.getAttribute("name") -> _)).toMap
    // constant named templates (temple.xsl's `hub`): body = one
    // literal/xsl:element holding plain text or a select-less
    // value-of with text content
    def recognizeConst(t: Element): Option[(String, String)] =
      elems(t) match {
        case Seq(e) =>
          val n =
            if (isXsl(e, "element")) Some(e.getAttribute("name"))
            else if (e.getNamespaceURI != XslNs) Some(outName(e))
            else None
          n.flatMap { nm =>
            elems(e) match {
              case Seq(vo) if isXsl(vo, "value-of")
                  && vo.getAttribute("select").isEmpty =>
                Some(nm -> vo.getTextContent)
              case Seq() => Some(nm -> e.getTextContent)
              case _ => None
            }
          }
        case _ => None
      }
    val constEmitters: Map[String, (String, String)] = named.flatMap(t =>
      recognizeConst(t).map(t.getAttribute("name") -> _)).toMap

    // ---- base template / external context -------------------------
    // base body = one literal wrapper holding exactly one bare
    // apply-templates plus optional call-templates of CONSTANT named
    // templates (xsl-sample-complex.xsl:46-49's hub stamp)
    def baseCalls(t: Element): Option[Seq[String]] = elems(t) match {
      case Seq(w) if w.getNamespaceURI != XslNs =>
        val kids = elems(w)
        val ats = kids.filter(e => isXsl(e, "apply-templates")
          && e.getAttribute("select").isEmpty)
        val cts = kids.filter(isXsl(_, "call-template"))
        if (ats.size == 1 && kids.size == ats.size + cts.size)
          Some(cts.map(_.getAttribute("name")))
        else None
      case _ => None
    }
    val (bases, fields0) = matched.partition(t => baseCalls(t).isDefined)
    val (ctxRaw, stampNames) = externalContext match {
      case Some(c) =>
        require(bases.isEmpty,
          "module compile, but the stylesheet carries its own base " +
            "template — compile it with compileXsltSheet instead")
        (c.trim, Seq.empty[String])
      case None =>
        require(bases.size == 1,
          s"need exactly one apply-templates base template, found ${bases.size}")
        (bases.head.getAttribute("match").trim, baseCalls(bases.head).get)
    }
    val stamps = stampNames.map { nm =>
      val (n, v) = constEmitters.getOrElse(nm,
        throw new IllegalArgumentException(
          s"base-template xsl:call-template '$nm' is not a constant " +
            "named template — out of subset"))
      XStamp(n, v)
    }
    require(ctxRaw.startsWith("/"),
      s"base template match must be absolute, got '$ctxRaw'")
    val ctx = rw(ctxRaw)

    // ---- the select grammar + xsl:variable (r17 widening) ---------
    // expr := '.' | $name | 'lit' | "lit" | FN '(' [expr {, expr}] ')'
    // Variables are single-assignment and INLINE at each reference,
    // so nothing past this parse carries an environment; '.' and
    // normalize-space(.) normalize to VText/VNormText so every
    // pre-r17 stylesheet compiles to the IDENTICAL rule tree.
    def parseSelect(sel: String, env: Map[String, XVal]): XVal = {
      var i = 0
      def ws(): Unit = { while (i < sel.length && sel(i).isWhitespace) i += 1 }
      def fail(msg: String): Nothing = throw new IllegalArgumentException(
        s"unsupported select '$sel' at offset $i: $msg (subset: '.', " +
          "$var, string literals, normalize-space/lower-case/upper-case/" +
          "string/substring-before/substring-after/translate/concat)")
      def mkFunc(fn: String, args: Seq[XVal]): XVal = fn match {
        case "normalize-space" => args match {
          case Seq() | Seq(VText) => VNormText
          case Seq(a) => VFunc(fn, Seq(a))
          case _ => fail("normalize-space takes 0 or 1 argument")
        }
        case "lower-case" | "upper-case" | "string" => args match {
          case Seq(a) => VFunc(fn, Seq(a))
          case _ => fail(s"$fn takes 1 argument")
        }
        case "substring-before" | "substring-after" => args match {
          case Seq(a, VConst(t)) if t.nonEmpty => VFunc(fn, Seq(a, VConst(t)))
          case _ => fail(s"$fn takes (expr, non-empty string literal)")
        }
        case "translate" => args match {
          case Seq(a, _: VConst, _: VConst) => VFunc(fn, args)
          case _ => fail("translate takes (expr, literal, literal)")
        }
        case "concat" =>
          if (args.size >= 2) VFunc(fn, args)
          else fail("concat takes 2+ arguments")
        case other => fail(s"unknown function $other()")
      }
      def expr(): XVal = {
        ws()
        if (i >= sel.length) fail("expected an expression")
        sel(i) match {
          case '.' => i += 1; VText
          case '$' =>
            i += 1
            val st = i
            while (i < sel.length && (sel(i).isLetterOrDigit
              || sel(i) == '_' || sel(i) == '-')) i += 1
            val nm = sel.substring(st, i)
            env.getOrElse(nm, fail(s"undefined variable $$$nm " +
              "(xsl:variable must be defined before use in the same body)"))
          case q @ ('\'' | '"') =>
            i += 1
            val st = i
            while (i < sel.length && sel(i) != q) i += 1
            if (i >= sel.length) fail("unterminated string literal")
            val v = sel.substring(st, i); i += 1
            VConst(v)
          case c if c.isLetter =>
            val st = i
            while (i < sel.length && (sel(i).isLetterOrDigit
              || sel(i) == '-')) i += 1
            val fn = sel.substring(st, i)
            ws()
            if (i >= sel.length || sel(i) != '(') fail(s"expected '(' after $fn")
            i += 1; ws()
            val args = scala.collection.mutable.ArrayBuffer.empty[XVal]
            if (i < sel.length && sel(i) != ')') {
              args += expr(); ws()
              while (i < sel.length && sel(i) == ',') {
                i += 1; args += expr(); ws()
              }
            }
            if (i >= sel.length || sel(i) != ')') fail(s"expected ')' closing $fn")
            i += 1
            mkFunc(fn, args.toSeq)
          case c => fail(s"unexpected '$c'")
        }
      }
      val out = expr()
      ws()
      if (i != sel.length) fail("trailing input after the expression")
      out
    }
    def bindVar(v: Element, env: Map[String, XVal]): Map[String, XVal] = {
      val nm = v.getAttribute("name")
      require(nm.nonEmpty, "xsl:variable needs a name")
      require(!env.contains(nm),
        s"xsl:variable '$nm' redefined in one body — out of subset")
      val sel = v.getAttribute("select")
      require(sel.trim.nonEmpty && elems(v).isEmpty,
        s"xsl:variable '$nm' must bind with select= (content-bodied " +
          "variables are out of subset)")
      env + (nm -> parseSelect(sel, env))
    }
    // top-level-comma split of an argument list (quote- and
    // paren-aware) — for the variable-operand test forms
    def splitTopArgs(s: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var depth = 0
      var q: Char = 0
      val cur = new StringBuilder
      s.foreach { c =>
        if (q != 0) { cur += c; if (c == q) q = 0 }
        else c match {
          case '\'' | '"' => q = c; cur += c
          case '(' => depth += 1; cur += c
          case ')' => depth -= 1; cur += c
          case ',' if depth == 0 => out += cur.toString; cur.clear()
          case other => cur += other
        }
      }
      out += cur.toString
      out.toSeq.map(_.trim)
    }

    // ---- per-node tests -------------------------------------------
    def parseAtomic(t: String, env: Map[String, XVal]): XAtom = {
      val normRe = """normalize-space\(\s*\.\s*\)\s*!=\s*''""".r
      val matchesRe =
        """matches\(\s*\.\s*,\s*'([^']*)'\s*(?:,\s*'([^']*)')?\s*\)""".r
      val startsRe = """starts-with\(\s*\.\s*,\s*'([^']*)'\s*\)""".r
      def mkMatches(re: String, flags: String): XAtom = {
        require(flags.forall("ims".contains(_)),
          s"unsupported matches() flags '$flags'")
        // XPath 2.0 'i' folds Unicode (as does the RE2 'i' the
        // DuckDB oracle uses); Java's bare (?i) is ASCII-only, so
        // bake UNICODE_CASE in alongside it
        val jf = if (flags.contains('i')) flags + "u" else flags
        AMatches(if (jf.isEmpty) re else s"(?$jf)$re")
      }
      // the r17 variable-operand forms: the same atoms over an
      // in-subset EXPRESSION (a $variable reference, typically)
      // instead of the node's raw text. '.' operands collapse to the
      // plain atom, so the pre-r17 forms stay the canonical compile.
      def exprTest(t0: String): Option[XAtom] = {
        val tt = t0.trim
        def strLit(s: String): Option[String] = {
          val x = s.trim
          if (x.length >= 2 && (x.head == '\'' || x.head == '"')
              && x.last == x.head
              && !x.substring(1, x.length - 1).contains(x.head))
            Some(x.substring(1, x.length - 1))
          else None
        }
        def over(e: String, a: XAtom): Option[XAtom] =
          scala.util.Try(parseSelect(e, env)).toOption.map {
            case VText => a
            case v => AOver(v, a)
          }
        val neRe = """(?s)(.*\S)\s*!=\s*''""".r
        val callRe = """(?s)([a-z-]+)\s*\((.*)\)""".r
        tt match {
          case neRe(e) =>
            scala.util.Try(parseSelect(e, env)).toOption.map {
              // normalize-space(E) != '' keeps the trimmed-emptiness
              // atom; a bare E != '' is RAW XPath string inequality
              case VNormText => ANonEmpty
              case VFunc("normalize-space", Seq(v)) => AOver(v, ANonEmpty)
              case VText => ARawNonEmpty
              case v => AOver(v, ARawNonEmpty)
            }
          case callRe(fn, inner) =>
            (fn, splitTopArgs(inner)) match {
              case ("contains", Seq(e, l)) =>
                strLit(l).flatMap(s => over(e, AContains(s)))
              case ("starts-with", Seq(e, l)) =>
                strLit(l).flatMap(s => over(e, AStartsWith(s)))
              case ("matches", Seq(e, l)) =>
                strLit(l).flatMap(s => over(e, mkMatches(s, "")))
              case ("matches", Seq(e, l, f)) =>
                for {
                  re <- strLit(l); fl <- strLit(f)
                  a <- over(e, mkMatches(re, fl))
                } yield a
              case _ => None
            }
          case _ => None
        }
      }
      t match {
        case normRe() => ANonEmpty
        case matchesRe(re, flags) =>
          mkMatches(re, Option(flags).getOrElse(""))
        case startsRe(p) => AStartsWith(p)
        case _ => exprTest(t).getOrElse(throw new IllegalArgumentException(
          s"unsupported test '$t' (subset: normalize-space(.)!='', " +
            "matches(., 're'[, 'flags']), starts-with(., 'p'), " +
            "contains/starts-with/matches/!='' over a $variable or " +
            "in-subset expression, or-disjunctions thereof)"))
      }
    }
    def parseTest(test: String, env: Map[String, XVal]): XAtom = {
      // whitespace tolerated OUTSIDE quoted literals only; the 'or'
      // split is token-level, so a literal containing ' or ' refuses
      val parts = test.trim.split("""\s+or\s+""").map(_.trim).toSeq
      parts.foreach(p => require(p.count(_ == '\'') % 2 == 0,
        s"cannot split test '$test' on 'or' — a quoted literal " +
          "contains ' or ' (out of subset)"))
      if (parts.size == 1) parseAtomic(parts.head, env)
      else AAnyOf(parts.map(parseAtomic(_, env)))
    }
    def parseValueOf(vo: Element, env: Map[String, XVal]): XVal =
      parseSelect(vo.getAttribute("select"), env)
    // ordered mixed-content walk (the r13 VParts widening): literal
    // text, xsl:text and in-subset value-ofs interleave in document
    // order. Whitespace-only bare text nodes drop (XSLT 1.0 §3.4
    // stylesheet stripping); xsl:text children keep their text
    // VERBATIM including pure whitespace (that is xsl:text's
    // purpose); nested elements refuse. xsl:attribute children are
    // skipped here — withAttrs consumes them, with the order fence.
    def parseContent(e: Element, what: String,
        env0: Map[String, XVal]): XVal = {
      var env = env0 // xsl:variable children bind for FOLLOWING siblings
      val nl = e.getChildNodes
      val parts = (0 until nl.getLength).map(nl.item).flatMap {
        case el: Element if isXsl(el, "attribute") => None
        case el: Element if isXsl(el, "variable") =>
          env = bindVar(el, env); None
        case el: Element if isXsl(el, "value-of") =>
          Some(parseValueOf(el, env))
        case el: Element if isXsl(el, "text") =>
          Some(VConst(el.getTextContent): XVal)
        case el: Element => throw new IllegalArgumentException(
          s"$what may hold only literal text, xsl:text, xsl:variable " +
            s"and in-subset value-ofs — got <${name(el)}>")
        case t if (t.getNodeType == org.w3c.dom.Node.TEXT_NODE ||
            t.getNodeType == org.w3c.dom.Node.CDATA_SECTION_NODE) &&
            t.getNodeValue.trim.nonEmpty =>
          Some(VConst(t.getNodeValue): XVal)
        case _ => None
      }
      parts match {
        case Seq() => VConst("")
        case Seq(one) => one
        case many => VParts(many.toSeq)
      }
    }
    // xsl:attribute with a LITERAL name (the r13 widening, the
    // aggregator_mdx identifier shape); value = mixed in-subset
    // content like any emitting element — dynamic names and nested
    // constructs refuse
    def parseAttrEl(a: Element, env: Map[String, XVal]): (String, XVal) = {
      val n = a.getAttribute("name")
      require(n.nonEmpty && !n.contains("{"),
        s"xsl:attribute name must be literal, got '$n'")
      require(!elems(a).exists(isXsl(_, "attribute")),
        s"xsl:attribute '$n' may not nest another xsl:attribute")
      n -> parseContent(a, s"xsl:attribute '$n'", env)
    }
    // split xsl:attribute children off an emitting element's body at
    // the NODE level; any content (element, non-whitespace text,
    // xsl:text) before an xsl:attribute is an XSLT error → refuse
    def withAttrs(what: String, e: Element,
        env: Map[String, XVal])(mkInner: () => XVal): XVal = {
      val nl = e.getChildNodes
      var seenContent = false
      // xsl:variable children bind in DOCUMENT ORDER for the walk —
      // a variable defined before an xsl:attribute is visible to the
      // attribute's content (XSLT scoping: following siblings see it;
      // the r17 ADVICE finding — parseAttrEl previously got the
      // OUTER env and refused with 'undefined variable')
      var aEnv = env
      val attrs = scala.collection.mutable.ArrayBuffer[(String, XVal)]()
      (0 until nl.getLength).map(nl.item).foreach {
        case el: Element if isXsl(el, "attribute") =>
          require(!seenContent,
            s"$what: xsl:attribute must precede the element's content")
          attrs += parseAttrEl(el, aEnv)
        // a variable definition is not CONTENT (it emits nothing) —
        // it may precede xsl:attribute without tripping the fence
        case el: Element if isXsl(el, "variable") =>
          aEnv = bindVar(el, aEnv)
        case _: Element => seenContent = true
        case t if (t.getNodeType == org.w3c.dom.Node.TEXT_NODE ||
            t.getNodeType == org.w3c.dom.Node.CDATA_SECTION_NODE) &&
            t.getNodeValue.trim.nonEmpty => seenContent = true
        case _ => ()
      }
      val inner = mkInner()
      if (attrs.isEmpty) inner
      else VAttributed(attrs.toSeq, inner)
    }
    // STATIC attributes written directly on a literal result element
    // (`<identifier type="local">`) — XSLT copies them to the output
    // verbatim, so dropping them would be a silent misrun (the
    // refuse-not-misrun posture this compiler promises). Namespace
    // declarations are not output attributes; AVT braces refuse
    // (dynamic attribute values stay out of subset).
    def staticAttrs(e: Element): Seq[(String, XVal)] = {
      val am = e.getAttributes
      (0 until am.getLength).map(am.item).collect {
        case a: org.w3c.dom.Attr
            if a.getNamespaceURI != "http://www.w3.org/2000/xmlns/"
              && a.getName != "xmlns" =>
          require(!a.getValue.contains("{"),
            s"attribute value template '${a.getValue}' on " +
              s"<${outName(e)}> is out of subset (literal values only)")
          a.getName -> (VConst(a.getValue): XVal)
      }
    }
    // merge literal attributes under the dynamic ones — xsl:attribute
    // OVERRIDES a same-name literal attribute (XSLT 1.0 §7.1.3)
    def mergeStatics(statics: Seq[(String, XVal)], v: XVal): XVal =
      if (statics.isEmpty) v
      else v match {
        case VAttributed(dyn, inner) =>
          VAttributed(statics.filterNot(s =>
            dyn.exists(_._1 == s._1)) ++ dyn, inner)
        case inner => VAttributed(statics, inner)
      }
    // one EMITTING construct → (output name, value)
    def parseEmit(e: Element, env: Map[String, XVal]): (String, XVal) =
      if (isXsl(e, "element")) {
        val n = e.getAttribute("name")
        require(n.nonEmpty && !n.contains("{"),
          s"xsl:element name must be literal, got '$n'")
        n -> withAttrs(s"xsl:element '$n'", e, env)(() =>
          parseContent(e, s"xsl:element '$n'", env))
      } else {
        require(e.getNamespaceURI != XslNs,
          s"unsupported xsl:${name(e)} as an emitting construct")
        outName(e) -> mergeStatics(staticAttrs(e),
          withAttrs(s"<${outName(e)}>", e, env)(() =>
            parseContent(e, s"<${outName(e)}>", env)))
      }
    // template body → ordered (name, guard atoms, value) emissions;
    // choose branches RECURSE (an xsl:if inside xsl:when — the
    // temple.xsl:234 rights shape — is the same walk one level down)
    // one emitting construct per body, preceded by any number of
    // xsl:variable definitions (each binding visible to everything
    // AFTER it in the same body — document-order scoping, the r17
    // widening)
    def walkOne(kids: Seq[Element], atoms: Seq[XAtom],
        env0: Map[String, XVal], what: String)
        : Seq[(String, Seq[XAtom], XVal)] = {
      var env = env0
      var emits = 0
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Seq[XAtom], XVal)]
      kids.foreach {
        case v if isXsl(v, "variable") => env = bindVar(v, env)
        case e => emits += 1; out ++= perNode(e, atoms, env)
      }
      require(emits == 1, s"$what must hold one construct (plus " +
        s"xsl:variable definitions), got $emits")
      out.toSeq
    }
    def perNode(e: Element, atoms: Seq[XAtom],
        env: Map[String, XVal]): Seq[(String, Seq[XAtom], XVal)] =
      if (isXsl(e, "if")) {
        val guard = parseTest(e.getAttribute("test"), env)
        walkOne(elems(e), atoms :+ guard, env, "xsl:if in a field template")
      } else if (isXsl(e, "choose")) {
        val kids = elems(e)
        val whens = kids.filter(isXsl(_, "when"))
        val others = kids.filter(isXsl(_, "otherwise"))
        require(whens.nonEmpty
            && kids.size == whens.size + others.size && others.size <= 1,
          "xsl:choose must hold xsl:when branches and at most one otherwise")
        val tests = whens.map(wn => parseTest(wn.getAttribute("test"), env))
        def branch(x: Element, extra: Seq[XAtom],
            what: String): Seq[(String, Seq[XAtom], XVal)] =
          walkOne(elems(x), atoms ++ extra, env, what)
        whens.zipWithIndex.flatMap { case (wn, i) =>
          branch(wn, tests.take(i).map(ANot(_)) :+ tests(i), "xsl:when")
        } ++ others.flatMap(o =>
          branch(o, tests.map(ANot(_)), "xsl:otherwise"))
      } else if (isXsl(e, "call-template")) {
        val nm = e.getAttribute("name")
        val sp = splitters.getOrElse(nm, throw new IllegalArgumentException(
          s"xsl:call-template '$nm' is not a recognized delimiter-split " +
            "template — out of subset"))
        val wps = elems(e).map { wp =>
          require(isXsl(wp, "with-param"),
            s"call-template '$nm' may hold only xsl:with-param children")
          wp.getAttribute("name") -> wp.getAttribute("select")
        }.toMap
        require(wps.get(sp.strParam).map(_.trim).contains("."),
          s"call-template '$nm' must pass the context node ('.') as " +
            s"'${sp.strParam}'")
        val litRe = "\\s*'(.*)'\\s*".r
        val d1 = wps.get(sp.delimParam) match {
          case Some(litRe(d)) => d
          case other => throw new IllegalArgumentException(
            s"call-template '$nm' delimiter must be a string literal, " +
              s"got $other")
        }
        Seq((sp.outName, atoms, VSplit(d1, sp.recDelim)))
      } else {
        val (n, v) = parseEmit(e, env)
        Seq((n, atoms, v))
      }

    // ---- field templates: last declaration wins per match ---------
    val lastIdx = fields0.zipWithIndex
      .groupBy(_._1.getAttribute("match").trim)
      .map { case (_, v) => v.last._2 }.toSet
    val fields = fields0.zipWithIndex
      .collect { case (t, i) if lastIdx(i) => t }
    val rules = fields.flatMap { t =>
      val m = t.getAttribute("match").trim
      require(m.nonEmpty && !m.startsWith("/") && !m.contains("/")
          && !m.contains("["),
        s"field template match must be one relative QName step, got '$m'")
      val nodesPath = s"$ctx/${rw(m)}/text()"
      // template top-level: any number of emitting constructs, with
      // xsl:variable definitions binding for everything after them
      val emissions = {
        var env = Map.empty[String, XVal]
        elems(t).flatMap {
          case v if isXsl(v, "variable") =>
            env = bindVar(v, env); Seq.empty
          case e => perNode(e, Nil, env)
        }
      }
      require(emissions.nonEmpty, s"field template '$m' emits nothing")
      // group by output name, first-appearance order, cases in order
      emissions.map(_._1).distinct.map { n =>
        XDispatch(n, nodesPath,
          emissions.collect { case (`n`, atoms, v) => (atoms, v) })
      }
    }
    // several templates emitting one output name merge into one
    // array field (dc:coverage + dcterms:spatial → dcterms:spatial);
    // base-body stamps follow the dispatches (call-template comes
    // after apply-templates in the wrapper)
    val allRules: Seq[XRule] = rules ++ stamps
    val merged = allRules.map(ruleName).distinct.map { n =>
      allRules.filter(r => ruleName(r) == n) match {
        case Seq(one) => one
        case many if many.forall(_.isInstanceOf[XDispatch]) =>
          val ds = many.map(_.asInstanceOf[XDispatch])
          require(ds.forall(d => dispatchAttrNames(d).isEmpty),
            s"output '$n' merges several templates AND carries " +
              "xsl:attribute — out of subset (attributed merged outputs)")
          XConcat(n, ds)
        case _ => throw new IllegalArgumentException(
          s"output '$n' emitted by both a stamp and a field template " +
            "— out of subset")
      }
    }
    val wrapper = bases.headOption.map(b => elems(b).head.getTagName)
      .getOrElse(moduleWrapper)
    val sheet = XsltSheet(ctx, exclusions, merged, wrapper,
      ns = if (nsAware) nsDecls.toMap else Map.empty)
    // nsAware FAIL-FAST (r17 ADVICE): an aware XPath that fails
    // xp.compile under the sheet's namespace context yields a NULL
    // slot at runtime — the keep filter would silently drop EVERY
    // row (a typo'd prefixless pattern reads as an empty corpus) and
    // a rule's fields would silently vanish from the output. Compile
    // every path the sheet will evaluate ONCE here, so a bad pattern
    // throws at sheet-compile time (the loud-refusal posture),
    // exactly like an out-of-subset construct does.
    if (nsAware) {
      val reg = new SlotReg
      sheet.rules.foreach(collectSlots(_, reg))
      requireNsCompilable(
        sheet.composedKeepExpr +: reg.interned.map(_._1),
        sheet.ns, "namespace-aware sheet")
    }
    sheet
  }

  /** Throw unless every XPath compiles under the given prefix→URI
    * namespace context — the driver-side mirror of the per-thread
    * compile [[graft.plans.XmlSlots]] does (whose failure mode is a
    * silent null slot). Used by nsAware sheet compilation. */
  private[operators] def requireNsCompilable(paths: Seq[String],
      ns: Map[String, String], what: String): Unit = {
    val xp = javax.xml.xpath.XPathFactory.newInstance().newXPath()
    xp.setNamespaceContext(new javax.xml.namespace.NamespaceContext {
      override def getNamespaceURI(prefix: String): String =
        ns.getOrElse(prefix, javax.xml.XMLConstants.NULL_NS_URI)
      override def getPrefix(uri: String): String =
        ns.collectFirst { case (p, u) if u == uri => p }.orNull
      override def getPrefixes(uri: String): java.util.Iterator[String] = {
        val l = new java.util.ArrayList[String]()
        ns.foreach { case (p, u) => if (u == uri) l.add(p) }
        l.iterator()
      }
    })
    paths.foreach { p =>
      try { xp.compile(p); () } catch {
        case e: Exception => throw new IllegalArgumentException(
          s"$what: XPath '$p' does not compile under the declared " +
            s"namespace context (prefixes ${ns.keys.toSeq.sorted.mkString(",")})" +
            s" — ${e.getMessage}", e)
      }
    }
  }


  /** The multi-template stylesheet as a whole-frame transform — the
    * apply-templates twin of [[xsltTransform]]: keep-filter plus one
    * codegen'd projection (carried columns + JSON output). */
  def xsltSheetTransform(xslt: String, xmlCol: String, carry: Seq[String],
      outCol: String = "rec"): DataFrame => DataFrame = {
    val sheet = compileXsltSheet(xslt)
    df => df.filter(sheet.keep(col(xmlCol)))
      .select(carry.map(col) :+ to_json(sheet.output(col(xmlCol))).as(outCol): _*)
  }

  /** [[xsltSheetTransform]] emitting the reference's XML wire form
    * ([[XsltSheet.outputXml]]) instead of JSON — the shape a
    * downstream Schematron gate validates
    * ([[graft.operators.Validate.compileSchematron]] over `outCol`),
    * so the reference's whole transform→validate DAG runs from two
    * compiled artifacts. */
  def xsltSheetTransformXml(xslt: String, xmlCol: String, carry: Seq[String],
      outCol: String = "rec", documentOrder: Boolean = false)
      : DataFrame => DataFrame = {
    val sheet = compileXsltSheet(xslt)
    df => df.filter(sheet.keep(col(xmlCol)))
      .select(carry.map(col) :+
        sheet.outputXml(col(xmlCol), documentOrder).as(outCol): _*)
  }
}
