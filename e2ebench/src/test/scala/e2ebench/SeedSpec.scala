package e2ebench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.OlistPipeline

class SeedSpec extends AnyFunSuite {
  private val orders = 500L

  private def generated(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory(BenchSpark.work, s"olist$seed-")
    OlistInputs.generate(dir, seed, orders)
    OlistPipeline.filesToLoad.keys.map(f => f -> Files.readAllBytes(dir.resolve(f)).toSeq).toMap
  }

  private def lines(bytes: Seq[Byte]) =
    new String(bytes.toArray, "UTF-8").linesIterator.drop(1).toSeq

  test("the same seed writes byte-identical CSVs") {
    assert(generated(7) == generated(7))
  }

  test("another seed changes the ids and keeps every row count") {
    val a = generated(7)
    val b = generated(8)
    assert(a.keySet == b.keySet)
    a.keys.foreach { f =>
      assert(lines(a(f)).length == lines(b(f)).length, f)
    }
    val itemsA = lines(a("olist_order_items_dataset.csv"))
    val itemsB = lines(b("olist_order_items_dataset.csv"))
    assert(itemsA.length == OlistInputs.Sizes(orders).items)
    assert(itemsA.map(_.split(',')(0)).toSet.intersect(itemsB.map(_.split(',')(0)).toSet).isEmpty)
    // price and freight do not depend on the seed
    assert(itemsA.map(_.split(',').takeRight(2).mkString(",")).sorted ==
      itemsB.map(_.split(',').takeRight(2).mkString(",")).sorted)
  }

  test("the seed fixes the query order of every pass") {
    val qs = Workload.BiHeavy
    def w(seed: Long) = new RegistryQueries("w", BenchSpark.work, qs, seed)
    assert((0 until 5).map(w(3).order) == (0 until 5).map(w(3).order))
    assert((0 until 5).map(w(3).order) != (0 until 5).map(w(4).order))
    assert(w(3).order(1) != w(3).order(2))
    assert(w(3).order(1).sorted == qs.sorted)
    assert(w(3).order(0) == qs && w(4).order(0) == qs) // the cold pass is not permuted
  }
}
