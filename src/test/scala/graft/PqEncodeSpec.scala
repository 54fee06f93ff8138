package graft

import org.apache.spark.sql.catalyst.util.ArrayData
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.PqEncode

/** Kernel laws for the native PQ encoder (graft.plans.PqEncode) — the
  * compiled replacement for the m×ks least-of-structs form, whose
  * semantics `referenceCodes` below restates. The
  * DataFrame-level contract is covered by KmeansIvfSpec and the
  * q_sim_ann_pq oracle; this pins the kernel itself, in particular the
  * monotone-round shortcut's exact equivalence to rounding every
  * candidate.
  */
class PqEncodeSpec extends AnyFunSuite {

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Reference semantics: round ALL ks distances, argmin with
    * smallest-code tiebreak — literally the declarative form.
    */
  private def referenceCodes(v: Array[Double], mo: PqEncode.Model): Seq[Int] =
    (0 until mo.m).map { j =>
      val sub = v.slice(j * mo.d, (j + 1) * mo.d)
      val sn = sub.foldLeft(0.0)((a, x) => a + x * x)
      (0 until mo.ks).map { c =>
        val off = (j * mo.ks + c) * mo.d
        var dot = 0.0; var i = 0
        while (i < mo.d) { dot += sub(i) * mo.flat(off + i); i += 1 }
        (round6(sn - 2.0 * dot + mo.bn2(j * mo.ks + c)), c)
      }.min._2
    }

  test("shortcut law: kernel equals the all-rounded argmin on random models") {
    val rnd = new scala.util.Random(3)
    val m = 4; val ks = 8; val d = 4
    val mo = PqEncode.Model(Array.fill(m * ks * d)(rnd.nextGaussian()), m, ks)
    (0 until 500).foreach { t =>
      val v = Array.fill(m * d)(rnd.nextGaussian())
      val got = PqEncode.compute(ArrayData.toArrayData(v), mo).toIntArray().toSeq
      assert(got === referenceCodes(v, mo), s"trial $t, v=${v.toSeq}")
    }
  }

  test("rounded ties resolve to the smallest code") {
    // two identical reproduction vectors → identical distances; the
    // winner must be the earlier code
    val d = 2
    val cb = Array(1.0, 2.0, 1.0, 2.0, 5.0, 5.0) // codes 0,1 identical
    val mo = PqEncode.Model(cb, 1, 3)
    val got = PqEncode.compute(ArrayData.toArrayData(Array(1.1, 2.1)), mo)
      .toIntArray().toSeq
    assert(got === Seq(0))
  }

  test("exact-match vector encodes to its own code") {
    val rnd = new scala.util.Random(9)
    val m = 2; val ks = 4; val d = 3
    val flat = Array.fill(m * ks * d)(rnd.nextGaussian())
    val mo = PqEncode.Model(flat, m, ks)
    // build v from code 2 of subspace 0 and code 1 of subspace 1
    val v = flat.slice((0 * ks + 2) * d, (0 * ks + 3) * d) ++
      flat.slice((1 * ks + 1) * d, (1 * ks + 2) * d)
    assert(PqEncode.compute(ArrayData.toArrayData(v), mo).toIntArray().toSeq
      === Seq(2, 1))
  }
}
