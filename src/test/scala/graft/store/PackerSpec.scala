package graft.store

import org.scalatest.funsuite.AnyFunSuite

/** Packer.bytesPerRow is the footprint model behind the in-process
  * replica guards (QuantizedIndex.toLocal, ServingEngine.loadAtRest): it
  * must be exactly the packed layout's per-row array bytes. */
class PackerSpec extends AnyFunSuite {

  test("the packed layout's array bytes equal rows x bytesPerRow") {
    val rnd = new scala.util.Random(5)
    for ((dim, pqM, signs) <- Seq((100, 8, true), (128, 0, false), (64, 16, false), (7, 0, true))) {
      val counts = Array(3L, 0L, 4L)
      val n = counts.sum.toInt
      val p = new Packer(counts, dim, pqM, signs)
      (0 until n).foreach { r =>
        val code = Array.fill(dim)((rnd.nextInt(256) - 128).toByte)
        p.add(if (r < 3) 0 else 2, r.toLong, code, 0)
      }
      assert(p.filled == n)
      val bytes = 8L * p.ids.length + p.int8.length + 8L * p.norms.length +
        p.pq.length + 8L * p.bq.length
      assert(bytes == n * Packer.bytesPerRow(dim, pqM, signs), s"dim=$dim pqM=$pqM signs=$signs")
    }
  }
}
