package graft

import org.scalatest.funsuite.AnyFunSuite

/** Laws for the shared gate verification helpers. */
class GateHelpersSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("setEq is multiset equality: row multiplicity counts, order does not") {
    val s = spark; import s.implicits._
    val xxy = Seq("x", "x", "y").toDF("v")
    val xyy = Seq("x", "y", "y").toDF("v")
    // equal sizes and equal distinct sets, yet unequal as multisets
    assert(!GateHelpers.setEq(xxy, xyy))
    assert(!GateHelpers.setEq(xyy, xxy))
    assert(GateHelpers.setEq(xxy, Seq("y", "x", "x").toDF("v")))
    assert(!GateHelpers.setEq(xxy, Seq("x", "y").toDF("v")))
  }
}
