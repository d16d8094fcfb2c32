package graft

import graft.tools.GenScale
import org.scalatest.funsuite.AnyFunSuite

/** The scale fixture's replica text rewrite: every replica maps the five
  * vowels to five distinct consonants, and no two replicas share a map.
  */
class GenScaleSpec extends AnyFunSuite {

  test("vowelMap gives each replica five distinct consonants and no two replicas one map") {
    val consonants = "bcdfghjklmnpqrstvwxz".toSet
    val rnd = new scala.util.Random(3)
    // every map up to 20·19·18 (the first three mixed-radix digits), and
    // a sample across the whole range, its two ends included
    val ids = ((0 until 8000) ++ Seq.fill(2000)(rnd.nextInt(GenScale.VowelMaps)) ++
      Seq(GenScale.VowelMaps - 1)).distinct
    val maps = ids.map(GenScale.vowelMap)
    for ((i, m) <- ids.zip(maps)) {
      assert(m.length == 5 && m.distinct.length == 5, s"replica $i: $m")
      assert(m.forall(consonants), s"replica $i: $m")
    }
    assert(maps.distinct.size == ids.size)
    assert(GenScale.VowelMaps == 20 * 19 * 18 * 17 * 16)
    intercept[IllegalArgumentException](GenScale.vowelMap(GenScale.VowelMaps))
  }
}
