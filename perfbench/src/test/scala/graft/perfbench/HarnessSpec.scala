package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("the same seed gives the same inputs, another seed other inputs") {
    def hashes(seed: Long) = Seq(
      Gen.marc(seed, 400)._2.inputHash,
      Gen.corpus(seed, 400)._3.inputHash)
    assert(hashes(1) == hashes(1))
    hashes(1).zip(hashes(2)).foreach { case (a, b) => assert(a != b) }
  }

  test("planted marc_etl counts add up") {
    val (rows, t) = Gen.marc(7, 1000)
    assert(rows.size == t.rawRows)
    assert(rows.map(_.oaiId).distinct.size == 1000)
    assert(rows.count(_.headerStatus == "deleted") == t.deleted)
    assert(t.kept + t.deleted + t.excludedSets + t.outOfWindow == 1000)
    assert(rows.count(_.xml.contains("superseded")) > t.reharvestedIds)
  }

  test("planted corpus families are near copies and distinct") {
    val (docs, vecs, t) = Gen.corpus(3, 1000)
    val text = docs.map(d => d.docId -> d.text).toMap
    assert(docs.map(_.docId).distinct.size == docs.size)
    t.families.foreach { f =>
      assert(f.map(text).distinct.size == f.size)
      // variant j drops j + 1 leading words and changes at most one more
      f.tail.zipWithIndex.foreach { case (v, j) =>
        val root = text(f.head).split(" ").drop(j + 1)
        val w = text(v).split(" ")
        assert(root.length == w.length && root.zip(w).count { case (a, b) => a != b } <= 1)
      }
    }
    t.exactGroups.foreach(g => assert(g.map(text).distinct.size == 1))
    assert(vecs.map(_.id) == docs.map(_.docId))
    assert(vecs.forall(v => math.abs(v.v.map(x => x * x).sum - 1) < 1e-4))
  }

  test("self time subtracts the union of child intervals clipped to the parent") {
    assert(Tracer.selfTime(0, 100, Nil) == 100)
    assert(Tracer.selfTime(0, 100, Seq((10, 20), (30, 50))) == 70)
    // overlapping children are counted once
    assert(Tracer.selfTime(0, 100, Seq((10, 40), (30, 60))) == 50)
    // a child sticking out of the parent counts only inside it
    assert(Tracer.selfTime(10, 100, Seq((0, 20), (90, 120))) == 70)
    // a child nested in another adds nothing
    assert(Tracer.selfTime(0, 100, Seq((10, 90), (20, 30))) == 20)
    assert(Tracer.selfTime(0, 100, Seq((0, 100))) == 0)
  }

  test("brute-force BM25 agrees with a hand computation") {
    val docs = Map(1L -> "a b", 2L -> "b c c", 3L -> "d")
    val top = MarcEtl.bruteBm25(docs, "c", 3)
    assert(top.map(_._1) == Seq(2L))
    // idf(c) = ln((3 - 1 + 0.5) / (1 + 0.5) + 1), tf = 2, dl = 3, avgdl = 2
    val want = math.log(2.5 / 1.5 + 1) * (2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.0)))
    assert(math.abs(top.head._2 - want) < 1e-4)
  }

  test("every per-layer name in BENCHMARK.json is one the tracer produces") {
    import org.json4s._
    val src = scala.io.Source.fromFile("../BENCHMARK.json")
    val spec = try org.json4s.jackson.JsonMethods.parse(src.mkString) finally src.close()
    val names = (spec \ "per_layer").children.map(m => (m \ "name").asInstanceOf[JString].s)
    val produced = LayerMetrics.AllSpans.flatMap(s => LayerMetrics.Core.map(c => s"$s.${c._1}")) ++
      LayerMetrics.Extras.map(_._1) ++
      Seq("pipeline.self_s", "pipeline.trace_overhead", "process.peak_rss_mb")
    assert(names.nonEmpty)
    assert(names.filterNot(produced.contains).isEmpty)
  }
}
