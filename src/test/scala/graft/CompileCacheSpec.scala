package graft

import graft.operators.{BoundedMemo, Transform, Validate}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side compile memos of XSLT sheets and Schematron rule
  * sets serve a repeat compile from memory and stay within their
  * size bound. */
class CompileCacheSpec extends AnyFunSuite {
  import TestSession._

  private def resource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/$name")
    require(in != null, s"missing test resource $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private val sheet = resource("xsl_sample_simple.xsl")
  private val sch =
    """<?xml version="1.0"?>
      |<schema xmlns="http://purl.oclc.org/dsdl/schematron">
      |  <pattern id="req">
      |    <rule context="rec">
      |      <assert test="a" id="R1">must have a</assert>
      |    </rule>
      |  </pattern>
      |</schema>""".stripMargin

  test("a repeat compile is served from the cache") {
    assert(spark != null)
    def rules(xml: String) = Validate.compileSchematron(sch, col(xml))
    assert(Transform.compileXsltSheet(sheet) eq Transform.compileXsltSheet(sheet))
    assert(rules("xml") eq rules("xml"))
    assert(rules("xml") ne rules("rec"), "distinct columns must not collide")
  }

  test("overflow evicts the least recently used entry") {
    val memo = new BoundedMemo[Int, String](3)
    (1 to 3).foreach(i => memo.getOrCompute(i)(s"v$i"))
    memo.getOrCompute(1)(fail("1 is cached"))
    memo.getOrCompute(4)("v4") // evicts 2, the least recently used
    assert(memo.size == 3)
    assert(memo.getOrCompute(2)("new") == "new")
    assert(memo.getOrCompute(1)(fail("1 was used after 2")) == "v1")

    // the real memos: a sheet pushed out by `capacity` newer distinct
    // sheets compiles again; the bound holds throughout
    def variant(i: Int) = sheet + s"\n<!-- variant $i -->"
    val first = Transform.compileXsltSheet(variant(0))
    val n = Transform.sheetCache.capacity
    (1 to n).foreach(i => Transform.compileXsltSheet(variant(i)))
    assert(Transform.sheetCache.size == n)
    assert(Transform.compileXsltSheet(variant(0)) ne first)

    def rules(i: Int) = Validate.compileSchematron(sch + s"\n<!-- variant $i -->", col("xml"))
    val firstRules = rules(0)
    (1 to Validate.schCache.capacity).foreach(rules)
    assert(Validate.schCache.size == Validate.schCache.capacity)
    assert(rules(0) ne firstRules)
  }
}
