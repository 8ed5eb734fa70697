package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

/** Seeded input generators with planted ground truth. Every input a
  * workload feeds the program comes from here, and the same seed
  * always gives the same inputs (checked by `inputHash`). Category
  * sizes are fixed fractions of the input size, so every seed yields
  * inputs of the same shape and only their content varies. */
object Gen {

  /** The vocabulary of the sf0.1 `documents` table (all 31 distinct
    * tokens it holds). The benchmark reads only files inside its own
    * checkout, so the words are embedded rather than read. */
  val DocumentWords: IndexedSeq[String] = IndexedSeq("spark", "window", "merge",
    "table", "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch", "dup")

  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  private def shuffled[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  // ---------------------------------------------------------------- marc_etl

  final case class RawRecord(oaiId: String, datestamp: Timestamp, setSpec: String,
      headerStatus: String, seq: Long, xml: String)

  /** Planted counts for marc_etl. `kept` ids are active, in an
    * included set and inside the date window; they split further into
    * missing/multiple 001, blank title, boundwith child and plain. */
  final case class MarcTruth(rawRows: Int, kept: Int, deleted: Int,
      excludedSets: Int, outOfWindow: Int, reharvestedIds: Int,
      missing001: Int, multiple001: Int, blankTitle: Int, boundwith: Int,
      lookup: Seq[(String, String)], queries: Seq[String], inputHash: String) {
    def ok: Int = kept - missing001 - multiple001
    def valid: Int = ok - blankTitle
  }

  val IncludedSets = Seq("alma_books", "alma_serials", "alma_maps", "alma_music", "alma_excl")
  val ExcludedSets = Seq("alma_excl")
  val WindowFrom: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00")
  val WindowUntil: Timestamp = Timestamp.valueOf("2024-07-01 00:00:00")
  /** Search queries per iteration, BM25 (marc_etl) and vector
    * (corpus_curation) alike; each layer answers them in one call. */
  val Queries = 16

  private def ts(r: SplittableRandom, from: Timestamp, until: Timestamp): Timestamp = {
    val lo = from.getTime / 1000
    val hi = until.getTime / 1000
    new Timestamp((lo + r.nextLong(hi - lo)) * 1000)
  }

  private def words(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)(pick(r, DocumentWords)).mkString(" ")

  def marc(seed: Long, n: Int): (Seq[RawRecord], MarcTruth) = {
    val r = new SplittableRandom(seed)
    val nDeleted = n * 4 / 100
    val nExcluded = n * 6 / 100
    val nOutOfWindow = n * 5 / 100
    val nReharvest = n * 10 / 100
    val nKept = n - nDeleted - nExcluded - nOutOfWindow
    val nMissing = nKept * 3 / 100
    val nMultiple = nKept * 2 / 100
    val nBlank = nKept * 5 / 100
    val nBoundwith = nKept * 6 / 100
    // category per identifier, positions shuffled by the seed
    val cats = shuffled(r,
      IndexedSeq.fill(nDeleted)("deleted") ++ IndexedSeq.fill(nExcluded)("excluded") ++
        IndexedSeq.fill(nOutOfWindow)("window") ++ IndexedSeq.fill(nKept)("kept"))
    val keptIdx = cats.indices.filter(cats(_) == "kept")
    val sub = shuffled(r,
      IndexedSeq.fill(nMissing)("missing") ++ IndexedSeq.fill(nMultiple)("multiple") ++
        IndexedSeq.fill(nBlank)("blank") ++ IndexedSeq.fill(nBoundwith)("boundwith") ++
        IndexedSeq.fill(nKept - nMissing - nMultiple - nBlank - nBoundwith)("plain"))
    val subOf = keptIdx.zip(sub).toMap
    // re-harvested ids get one older copy, every fourth of them two
    val olderCopies = shuffled(r, keptIdx).take(nReharvest).zipWithIndex
      .map { case (i, j) => i -> (if (j % 4 == 0) 2 else 1) }.toMap
    val lookup = Seq.newBuilder[(String, String)]
    val rows = Seq.newBuilder[RawRecord]
    var seq = 0L
    def id001(i: Int) = f"99${1000000 + i}%d3811"
    def record(i: Int, title: String, cf001: Seq[String], stamp: Timestamp): String = {
      val author = s"${pick(r, DocumentWords)}, ${pick(r, DocumentWords)}"
      val cfs = cf001.map(v => s"""<controlfield tag="001">$v</controlfield>""").mkString
      val f005 = new java.text.SimpleDateFormat("yyyyMMddHHmmss").format(stamp)
      s"""<record><leader>00000cam a2200000 a 4500</leader>$cfs""" +
        s"""<controlfield tag="005">$f005.0</controlfield>""" +
        s"""<datafield tag="100" ind1="1" ind2=" "><subfield code="a">$author</subfield></datafield>""" +
        s"""<datafield tag="245" ind1="1" ind2="0"><subfield code="a">$title</subfield>""" +
        s"""<subfield code="c">by $author</subfield></datafield>""" +
        s"""<datafield tag="650" ind1=" " ind2="0"><subfield code="a">${words(r, 2)}</subfield></datafield></record>"""
    }
    cats.indices.foreach { i =>
      val oai = s"oai:alma:$i"
      val set = pick(r, IncludedSets.filterNot(ExcludedSets.contains).toIndexedSeq)
      cats(i) match {
        case "deleted" =>
          seq += 1
          rows += RawRecord(oai, ts(r, WindowFrom, WindowUntil), set, "deleted", seq, "<record/>")
        case "excluded" =>
          val s = if (i % 2 == 0) ExcludedSets.head else "alma_unlisted"
          val t = ts(r, WindowFrom, WindowUntil)
          seq += 1
          rows += RawRecord(oai, t, s, "active", seq, record(i, words(r, 5), Seq(id001(i)), t))
        case "window" =>
          val t = if (i % 2 == 0) ts(r, Timestamp.valueOf("2023-01-01 00:00:00"), WindowFrom)
            else ts(r, WindowUntil, Timestamp.valueOf("2024-12-31 00:00:00"))
          seq += 1
          rows += RawRecord(oai, t, set, "active", seq, record(i, words(r, 5), Seq(id001(i)), t))
        case _ =>
          val kind = subOf(i)
          val title = if (kind == "blank") "   " else words(r, 4 + r.nextInt(5))
          val cf = kind match {
            case "missing" => Seq.empty
            case "multiple" => Seq(id001(i), id001(i + n))
            case _ => Seq(id001(i))
          }
          if (kind == "boundwith")
            lookup += id001(i) -> s"""<datafield ind1=" " ind2=" " tag="ADF"><subfield code="a">${id001(i + 2 * n)}</subfield></datafield>"""
          val t = ts(r, WindowFrom, WindowUntil)
          // older copies carry a marker title; the newest copy must win
          olderCopies.get(i).foreach { copies =>
            (1 to copies).foreach { c =>
              val old = new Timestamp(t.getTime - c * 86400000L)
              seq += 1
              rows += RawRecord(oai, old, set, "active", seq,
                record(i, s"superseded ${words(r, 3)}", cf, old))
            }
          }
          seq += 1
          rows += RawRecord(oai, t, set, "active", seq, record(i, title, cf, t))
      }
    }
    // parents that match no harvested child: the lookup is a real table
    (0 until nBoundwith / 2).foreach { j =>
      lookup += s"98${j}0000" -> """<datafield ind1=" " ind2=" " tag="ADF"><subfield code="a">unused</subfield></datafield>"""
    }
    val out = shuffled(r, rows.result().toIndexedSeq)
    val lk = lookup.result()
    val queries = Seq.fill(Queries)(words(r, 2 + r.nextInt(2)))
    val hash = sha256(out.iterator.map(x => s"${x.oaiId}|${x.datestamp}|${x.setSpec}|${x.headerStatus}|${x.seq}|${x.xml}") ++
      lk.iterator.map { case (a, b) => s"$a|$b" } ++ queries.iterator)
    (out, MarcTruth(out.size, nKept, nDeleted, nExcluded, nOutOfWindow, nReharvest,
      nMissing, nMultiple, nBlank, nBoundwith, lk, queries, hash))
  }

  // --------------------------------------------------------- corpus_curation

  final case class Doc(docId: Long, text: String)

  /** A document's embedding, drawn around the centre of its cluster. */
  final case class Vec(id: Long, cluster: Int, v: Array[Double])

  /** Planted truth for corpus_curation: the documents the quality gate
    * must drop, groups of exact copies, near-duplicate families (a root
    * followed by its edited variants), and the vector queries. */
  final case class CorpusTruth(n: Int, lowQuality: Set[Long], exactGroups: Seq[Seq[Long]],
      families: Seq[Seq[Long]], queries: Seq[Array[Double]], inputHash: String) {
    def plantedPairs: Seq[(Long, Long)] = families.flatMap(f => f.tail.map(f.head -> _))
  }

  val Dim = 16
  val Clusters = 16

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => math.rint(x / n * 1e6) / 1e6)
  }

  /** Documents with one clustered vector each, and the planted truth. */
  def corpus(seed: Long, n: Int): (Seq[Doc], Seq[Vec], CorpusTruth) = {
    val r = new SplittableRandom(seed)
    val nLow = n * 5 / 100
    val nExactCopies = n * 5 / 100
    val nVariants = n * 15 / 100
    val nFamilies = nVariants / 2
    val nPlain = n - nLow - nExactCopies - nVariants
    val ids = shuffled(r, (0L until n.toLong).map(_ * 7 + 11)).iterator
    def body(): IndexedSeq[String] = IndexedSeq.fill(60 + r.nextInt(61))(pick(r, DocumentWords))
    val docs = Seq.newBuilder[Doc]
    // plain originals; the first nFamilies are family roots, the next
    // ones get exact copies
    val plain = (0 until nPlain).map(_ => ids.next() -> body())
    plain.foreach { case (id, toks) => docs += Doc(id, toks.mkString(" ")) }
    val families = plain.take(nFamilies).zipWithIndex.map { case ((root, toks), f) =>
      val nv = if (f < nVariants - nFamilies) 2 else 1
      // variant j drops j + 1 leading words, so no two variants are equal
      root +: (0 until nv).map { j =>
        val v = toks.drop(1 + j).toArray
        v(r.nextInt(v.length)) = pick(r, DocumentWords)
        val id = ids.next()
        docs += Doc(id, v.mkString(" "))
        id
      }
    }
    val copySources = plain.slice(nFamilies, nFamilies + nExactCopies)
    val exactGroups = copySources.map { case (orig, toks) =>
      val id = ids.next()
      docs += Doc(id, toks.mkString(" "))
      Seq(orig, id)
    }
    val low = (0 until nLow).map { j =>
      val id = ids.next()
      val text =
        if (j % 2 == 0) Iterator.fill(5 + r.nextInt(10))(pick(r, DocumentWords)).mkString(" ")
        else Iterator.fill(60)(if (r.nextInt(3) == 0) "#$%&!" else pick(r, DocumentWords)).mkString(" ")
      docs += Doc(id, text)
      id
    }
    val out = shuffled(r, docs.result().toIndexedSeq)
    val centers = IndexedSeq.fill(Clusters)(unit(Array.fill(Dim)(r.nextGaussian())))
    def near(c: Int): Array[Double] = unit(centers(c).map(_ + 0.08 * r.nextGaussian()))
    val vecs = out.map { d => val c = r.nextInt(Clusters); Vec(d.docId, c, near(c)) }
    val queries = Seq.fill(Queries)(near(r.nextInt(Clusters)))
    val hash = sha256(out.iterator.map(d => s"${d.docId}|${d.text}") ++
      vecs.iterator.map(v => s"${v.id}|${v.cluster}|${v.v.mkString(",")}") ++
      queries.iterator.map(_.mkString(",")))
    (out, vecs, CorpusTruth(out.size, low.toSet, exactGroups, families, queries, hash))
  }
}
