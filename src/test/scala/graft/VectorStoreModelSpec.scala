package graft

import graft.functions.VectorKernels
import graft.store.VectorStore

/** Model-based randomized test: a random interleaving of add / bulk add /
  * delete / re-add / compact ops against a driver-side reference model,
  * checking count, pending deletes, and full search ranking after every
  * step. The store starts from a bulk load, and one step deletes 1,000 ids
  * at once, so the run crosses `DeletedThreshold` (auto-compaction) and the
  * bulk adds fold the delta into the base. The model scores with the same
  * quantize+cosine kernels, so rankings must match exactly (ties broken by
  * id via the store's deterministic ordering). */
class VectorStoreModelSpec extends SparkSpec {

  import spark.implicits._

  private val dim = 6

  test("random op sequences keep the store equal to the reference model") {
    val rnd = new scala.util.Random(20260812)
    val st = VectorStore.create(spark, dim)
    var model = Map.empty[String, Array[Float]]
    // ids deleted since the last compaction and not re-added: the
    // reference's pending deletes (pythonvectordb.py:449-461)
    var pending = Set.empty[String]
    var nextId = 0

    def randVec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)

    def add(n: Int): Unit = {
      val rows = (0 until n).map { _ =>
        val id = s"v$nextId"; nextId += 1
        id -> randVec()
      }
      st.addVectors(rows.map { case (id, v) =>
        (id, v.toSeq, Map.empty[String, String]) }
        .toDF("id", "embedding", "meta"))
      model ++= rows
    }

    def delete(victims: Seq[String]): Unit = {
      assert(st.delete(victims) == victims.size)
      model --= victims
      pending ++= victims
      if (pending.size >= VectorStore.DeletedThreshold) pending = Set.empty
    }

    def checkSearch(): Unit = {
      val q = randVec()
      val k = 1 + rnd.nextInt(5)
      val got = st.search(q, k).collect()
        .map(r => (r.getAs[String]("id"), r.getAs[Double]("score"))).toSeq
      // the store scores asymmetrically: raw float query vs the
      // dequantized stored vector (reference semantics)
      val expected = model.toSeq
        .map { case (id, v) =>
          (id, VectorKernels.cosineFloatInt8(q, VectorKernels.quantize(v))) }
        .sortBy { case (id, s) => (-s, id) }
        .take(k)
      assert(got == expected,
        s"search mismatch after ${model.size} live rows:\ngot $got\nexp $expected")
    }

    add(1200)
    val bigDeleteStep = 20
    (0 until 64).foreach { step =>
      if (step == bigDeleteStep) // crosses the threshold on its own
        delete(rnd.shuffle(model.keys.toSeq).take(VectorStore.DeletedThreshold))
      else rnd.nextInt(6) match {
        case 0 | 1 => add(1 + rnd.nextInt(4)) // a small batch
        case 2 => add(40 + rnd.nextInt(120)) // a bulk batch: the delta folds
        case 3 if model.nonEmpty => // delete a random subset
          delete(rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(math.min(3, model.size))))
        case 4 if model.nonEmpty => // delete + re-add with a NEW vector
          val id = rnd.shuffle(model.keys.toSeq).head
          delete(Seq(id))
          val v = randVec()
          st.addVectors(Seq((id, v.toSeq, Map.empty[String, String]))
            .toDF("id", "embedding", "meta"))
          model += (id -> v)
          pending -= id
        case 5 =>
          st.compact()
          pending = Set.empty
        case _ => // delete on empty store: no-op branch
      }
      assert(st.count == model.size, s"count diverged at step $step")
      assert(st.active.count() == model.size, s"live rows diverged at step $step")
      assert(st.stats("deleted_pending") == pending.size.toLong,
        s"pending deletes diverged at step $step")
      if (model.nonEmpty) checkSearch()
    }
    // final deep check: every live id readable, deleted ids absent
    model.keys.foreach(id => assert(st.getVector(id).isDefined, id))
    assert(st.getVector(s"v$nextId").isEmpty)
  }
}
