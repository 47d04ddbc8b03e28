package graft

import graft.store.{IvfIndex, LocalBqIndex, LocalIndex, LocalIvfBqIndex, LocalIvfIndex, LocalIvfPqIndex, LocalPqIndex, VectorBlock}

import scala.jdk.CollectionConverters._

/** Every in-process tier scans on the one process-wide scan gang: building
  * more indexes, or refreshing a replica from its at-rest layout, must not
  * start more gang threads. */
class ScanGangThreadsSpec extends SparkSpec {

  private def gangThreads: Int =
    Thread.getAllStackTraces.keySet.asScala.count(t => t.isAlive && t.getName.startsWith("scan-gang-"))

  test("gang threads do not grow with the number of indexes or at-rest refreshes") {
    val rnd = new scala.util.Random(23)
    val dim = 32
    val n = 3 * 2048 // enough rows that every tier fans out over the gang
    val vecs = Array.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val ids = Array.tabulate(n)(_.toLong)
    val codes = vecs.flatMap(graft.functions.VectorKernels.quantize)
    val q = vecs(7)
    val qb = graft.functions.VectorKernels.quantize(q)
    def flat() = new LocalIndex(Array(VectorBlock(ids, codes, dim)), dim)

    flat().search(qb, 10)
    val afterFirst = gangThreads

    val (m, kSub) = (graft.ops.PqQueries.M, graft.ops.PqQueries.K)
    val cb = Array.fill(m * kSub * (dim / m))(rnd.nextGaussian())
    val pqCodes = vecs.flatMap(graft.functions.VectorKernels.pqEncode(_, cb, m, kSub))
    flat().search(qb, 10)
    new LocalPqIndex(ids, pqCodes, m, kSub, cb).search(q, 10)
    LocalBqIndex.build(ids, vecs).search(graft.functions.VectorKernels.signPack(q), 10)
    LocalIvfIndex.train(ids, vecs, numCells = 4).search(qb, 10, 4)
    LocalIvfPqIndex.train(ids, vecs, 4, m, kSub, cb).search(q, 10, 4, 100)
    LocalIvfBqIndex.train(ids, vecs, numCells = 4).search(q, 10, 4, 100)
    val dir = tempDir("ivf-gang")
    IvfIndex.build(Tables.embeddings(spark, sf001), dir)
    (0 until 2).foreach(_ => LocalIvfIndex.fromAtRest(spark, dir))
    assert(gangThreads == afterFirst,
      s"scan-gang threads grew from $afterFirst to $gangThreads")
  }
}
