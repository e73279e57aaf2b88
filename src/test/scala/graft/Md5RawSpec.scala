package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.Winnowing

/** Covers the digest helpers of `graft_winnowing` (`Winnowing.md5Into`,
  * `compareAt`, `hexAt`); the name is that of the `Md5Raw` expression they
  * were folded from.
  *
  * ORDER-parity of the raw md5 digests `graft_winnowing` ranks (q39's
  * per-gram loop) against the built-in hex form the oracle ranks. The
  * expression picks `min_fp`/`max_fp` on the raw digest's unsigned bytes
  * (`compareAt`) and prints them as hex (`hexAt`), so they match the
  * oracle's `MIN`/`MAX` over `md5()` strings only while unsigned bytewise
  * order and lowercase-hex order agree. The hex built-in is kept as the
  * reference so any drift (digest reuse bug, hex casing, ordering
  * asymmetry) fails loudly. */
class Md5RawSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("binary MIN/MAX/sort order == hex-string order (the q39 contract)") {
    // 10k diverse inputs: the full ranking must agree, not just endpoints.
    val n = 10000
    val hexes = spark.range(0, n)
      .select(md5(col("id").cast("string").cast("binary"))).as[String].collect()
    val h = new Array[Long](2 * n)
    val md = MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(16)
    (0 until n).foreach { i =>
      val b = i.toString.getBytes("UTF-8")
      Winnowing.md5Into(md, buf, b, 0, b.length, h, i)
      assert(Winnowing.hexAt(h, i).toString == hexes(i), s"input $i")
    }
    val byRaw = (0 until n).sortWith((a, b) => Winnowing.compareAt(h, a, b) < 0)
    assert(byRaw.map(hexes) == hexes.toSeq.sorted)
    val rawMin = (0 until n).reduce((a, b) => if (Winnowing.compareAt(h, a, b) <= 0) a else b)
    val rawMax = (0 until n).reduce((a, b) => if (Winnowing.compareAt(h, a, b) >= 0) a else b)
    assert(Winnowing.hexAt(h, rawMin).toString == hexes.min)
    assert(Winnowing.hexAt(h, rawMax).toString == hexes.max)
  }
}
