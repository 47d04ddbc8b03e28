package graft

import graft.streaming.{EventsStream, Staged}

/** Structured Streaming ingestion: the streaming windowed aggregation must
  * agree with its batch twin on the static events fixture. */
class StreamingSpec extends SparkSpec {

  test("streaming windowed agg matches batch result") {
    val streamed = EventsStream.runOnce(spark, sf001, "ev_agg_test")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    val batch = EventsStream.batch(spark, sf001)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming hopping (sliding) windows are bit-equal to batch across a micro-batch split") {
    // Two micro-batches cut on the median event time; the decimal-routed
    // sum makes the per-window totals order-independent, so every field —
    // including the double sum_value — must match the batch twin exactly.
    val streamed = EventsStream.runOnceHopping(spark, sf001, "ev_hop_test")
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = EventsStream.batchHopping(spark, sf001)
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // and the twin really is q_hopping_windows' aggregation: the top-20
    // rows by (n desc, w_start) reproduce the oracle-gated query.
    val q = SparkEntry.queries("q_hopping_windows")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val top = streamed.toSeq
      .map { case (w, n, s) => (w.getTime * 1000L, n, s) }
      .sortBy { case (w, n, _) => (-n, w) }.take(20)
    assert(top == q)
  }

  test("hopping-window aggregate state survives a checkpointed restart") {
    // run 1 consumes the first half of the events, stops; run 2 resumes
    // from the SAME checkpoint over the full directory. The window state
    // store must restore run-1's partial (count, decimal-sum) state so the
    // final complete-mode snapshot equals the batch fold over EVERYTHING —
    // any lost or doubled partial breaks the bit-equality.
    import org.apache.spark.sql.functions.{col, unix_micros, expr}
    val inDir = tempDir("hop-ckpt-in")
    val ckpt = tempDir("hop-ckpt")
    val raw = EventsStream.normalize(
      spark.read.parquet(s"$sf001/events.parquet"))
    val cut = raw.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .collect().head.getLong(0)
    raw.filter(unix_micros(col("ts")) <= cut).coalesce(1)
      .write.mode("append").parquet(inDir)

    def run(name: String): Unit = {
      val q = EventsStream.hoppingAgg(
        spark.readStream.schema(raw.schema).parquet(inDir))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(name)
        .start()
      q.processAllAvailable()
      q.stop()
    }

    run("hop_ckpt_1")
    val half = spark.table("hop_ckpt_1").count()
    raw.filter(unix_micros(col("ts")) > cut).coalesce(1)
      .write.mode("append").parquet(inDir)
    run("hop_ckpt_2")

    val streamed = spark.table("hop_ckpt_2").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = EventsStream.batchHopping(spark, sf001).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    assert(half > 0 && streamed.nonEmpty)
    assert(streamed == batch,
      "restored window state does not reproduce the batch fold")
  }

  test("transformWithState sessionizer emits exactly the watermark-sealed batch sessions") {
    import graft.streaming.StreamSessions
    val emitted = StreamSessions.runOnce(spark, sf001, "sess_tws_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batchAll = StreamSessions.batchSessions(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(emitted.nonEmpty)
    // every emitted session is a real batch session, bit-equal fields
    assert(emitted.subsetOf(batchAll),
      s"stream emitted ${emitted.diff(batchAll).take(3)} not in batch")
    // the stream's contract: emit exactly the sessions the final
    // watermark sealed (timer <= watermark; measured rule, see below) —
    // the remainder is the still-open tail, bounded by the watermark lag
    val maxTsUs = graft.Tables.events(spark, sf001)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts")))).head().getLong(0)
    val wmMs = maxTsUs / 1000L - 30L * 60 * 1000
    def timerMs(sEndUs: Long): Long = (sEndUs + 999L) / 1000L
    val sealedLe = batchAll.filter(s => timerMs(s._3) <= wmMs)
    val sealedLt = batchAll.filter(s => timerMs(s._3) < wmMs)
    assert(emitted == sealedLe || emitted == sealedLt,
      s"emitted ${emitted.size} sessions; sealed(<=) ${sealedLe.size}, " +
        s"sealed(<) ${sealedLt.size}; batch total ${batchAll.size}")
    // and the tail the watermark could not seal is small and open-only
    val open = batchAll.diff(emitted)
    assert(open.forall(s => timerMs(s._3) >= wmMs))
  }

  test("transformWithState sessionizer state+timers survive a checkpointed restart") {
    import graft.streaming.StreamSessions
    import org.apache.spark.sql.functions._
    val inPath = java.nio.file.Files.createTempDirectory("sess-restart-in")
    val ckpt = java.nio.file.Files.createTempDirectory("sess-restart-ckpt").toString
    // append-mode recovery needs a replayable sink: the exactly-once
    // file sink (the memory sink only recovers in complete mode)
    val outDir = java.nio.file.Files.createTempDirectory("sess-restart-out")
    try {
      val raw = graft.Tables.events(spark, sf001)
      val cut = raw.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
        .collect().head.getLong(0)
      Staged.withRocksDb(spark) {
        // run 1: first half only, checkpointed
        raw.filter(unix_micros(col("ts")) <= cut).coalesce(1)
          .write.mode("append").parquet(inPath.toString)
        val schema = spark.read.parquet(inPath.toString).schema
        val q1 = StreamSessions.sessions(
            spark.readStream.schema(schema).parquet(inPath.toString)).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", outDir.toString).start()
        q1.processAllAvailable(); q1.stop()
        val run1 = spark.read.parquet(outDir.toString).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        // run 2: resume from the same checkpoint over the full directory
        raw.filter(unix_micros(col("ts")) > cut).coalesce(1)
          .write.mode("append").parquet(inPath.toString)
        val q2 = StreamSessions.sessions(
            spark.readStream.schema(schema).parquet(inPath.toString)).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", outDir.toString).start()
        q2.processAllAvailable(); q2.stop()
        val combined = spark.read.parquet(outDir.toString).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
        // exactly-once: no session row emitted twice across the restart
        assert(combined.size == combined.toSet.size,
          s"duplicate emissions after restart: ${combined.diff(combined.distinct).take(3)}")
        assert(run1.subsetOf(combined.toSet))
        // the restarted run's total output equals a single uninterrupted
        // run over the same two-file split
        val single = StreamSessions.runOnce(spark, sf001, "sess_rs_single")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        assert(combined.toSet == single)
      }
    } finally
      Seq(inPath, java.nio.file.Paths.get(ckpt), outDir).foreach(Staged.deleteTree)
  }

  test("streaming ingestion feeds the validated VectorStore insert path") {
    val st = graft.store.VectorStore.create(spark, 64)
    val n = graft.streaming.StreamIngest.ingestOnce(spark, sf001, st)
    assert(n == 500)
    val q = Tables.embeddings(spark, sf001)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val top = st.search(q, 1).collect().head
    assert(top.getAs[String]("id") == "vec_0")
    // asymmetric scoring (raw query vs dequantized stored vector,
    // pythonvectordb.py:25-67): a self-match carries the stored side's
    // quantization error, so the score is near-but-not-exactly 1
    assert(top.getAs[Double]("score") > 0.999)
  }

  test("dropDuplicatesWithinWatermark removes retransmitted events") {
    // simulate an at-least-once source: the same events file delivered twice
    val dir = java.nio.file.Paths.get(tempDir("dup_events"))
    val src = java.nio.file.Paths.get(sf001, "events.parquet")
    java.nio.file.Files.copy(src, dir.resolve("a.parquet"))
    java.nio.file.Files.copy(src, dir.resolve("b.parquet"))
    val stream = spark.readStream
      .schema(graft.streaming.EventsStream.rawSchema(spark, sf001))
      .parquet(dir.toString)
    val q = graft.streaming.StreamDedup.dedupEventsWithinWatermark(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("wm_dedup_test")
      .start()
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("wm_dedup_test")
    val distinctIds = spark.read.parquet(dir.toString)
      .select("event_id").distinct().count()
    assert(kept.count() == distinctIds, "one event per id must survive")
    assert(kept.select("event_id").distinct().count() == kept.count())
  }

  test("stream-static enrichment join matches its batch twin") {
    val streamed = graft.streaming.StreamEnrich
      .runOnce(spark, sf001, "enrich_test")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val batch = graft.streaming.StreamEnrich.batch(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed.map(_._2).sum > 0)
  }

  test("stream-stream interval join matches its batch twin") {
    val streamed = graft.streaming.StreamJoin.runOnce(spark, sf001, "ssj_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.streaming.StreamJoin.batch(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming LSH near-dup candidates match the batch minhash pipeline") {
    val streamed = graft.streaming.StreamNearDup
      .runOnce(spark, sf001, "neardup_stream_test")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ops.TextQueries.minhashPairs(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    // a pair colliding in several bands is emitted once per band by the
    // stream (cross-band dedup happens downstream); DISTINCT sets equal
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(5)} batch-only=${(batch -- streamed).take(5)}")
    // and the two-trigger split genuinely carried bucket state across
    // triggers: a cross-half pair exists in the batch truth
    assert(batch.exists { case (a, b) => a < 250 && b >= 250 },
      "split degenerate: no cross-trigger pair to prove state carry-over")
  }

  test("streaming heavy hitters: exact regime equals batch counts across micro-batches") {
    // m = 128 >= per-shard vocabulary -> nothing evicts: the space-saving
    // sketch IS the exact count map, even split across two triggers
    val all = graft.streaming.StreamHeavyHitters
      .runOnce(spark, sf001, "hh_exact_test", numShards = 8, m = 128)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // snapshot = each shard's max-n_seen emission (sketch is tiny: driver-side)
    val maxSeen = all.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._5).max }
    val snap = all.filter { case (s, _, _, _, ns) => ns == maxSeen(s) }
    val streamed = snap.map { case (_, tok, cnt, _, _) => (tok, cnt) }.toSet
    val batch = graft.streaming.StreamHeavyHitters
      .tokens(Tables.documents(spark, sf001), 8)
      .groupBy("tok").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(5)} batch-only=${(batch -- streamed).take(5)}")
    assert(snap.forall(_._4 == 0L), "exact regime must carry zero error")
  }

  test("streaming heavy hitters: tight regime keeps the space-saving guarantees") {
    val m = 4
    val all = graft.streaming.StreamHeavyHitters
      .runOnce(spark, sf001, "hh_tight_test", numShards = 8, m = m)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val maxSeen = all.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._5).max }
    val snap = all.filter { case (s, _, _, _, ns) => ns == maxSeen(s) }
      .map { case (s, tok, cnt, err, ns) => (s, tok) -> (cnt, err, ns) }.toMap
    assert(snap.nonEmpty)
    val exact = graft.streaming.StreamHeavyHitters
      .tokens(Tables.documents(spark, sf001), 8)
      .groupBy("shard", "tok").count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    // state is bounded at m entries per shard, and at least one shard
    // saturates (vocab/shards > m there, so eviction was exercised)
    val sizes = snap.keys.groupBy(_._1).map(_._2.size)
    assert(sizes.forall(_ <= m))
    assert(sizes.exists(_ == m), s"no shard saturated: sizes=$sizes")
    snap.foreach { case (k, (cnt, err, _)) =>
      val t = exact(k)
      assert(t <= cnt, s"$k: space-saving undercounted ($cnt < true $t)")
      assert(cnt - err <= t, s"$k: cnt-err bound broken ($cnt-$err > $t)")
    }
    // any token with true count > n_shard/m is IN the sketch
    val nPerShard = exact.groupBy(_._1._1).map { case (s, m2) => s -> m2.values.sum }
    exact.foreach { case ((s, tok), t) =>
      if (t > nPerShard(s).toDouble / m)
        assert(snap.contains((s, tok)),
          s"frequent token $tok (true $t > n/m=${nPerShard(s) / m}) missing from shard $s")
    }
  }

  /** Exact per-(shard, token) counts of `docs`, the truth the space-saving
    * snapshots are checked against. */
  private def exactShardCounts(docs: org.apache.spark.sql.DataFrame,
      numShards: Int): Map[(Int, String), Long] =
    graft.streaming.StreamHeavyHitters.tokens(docs, numShards)
      .groupBy("shard", "tok").count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap

  /** Every emitted snapshot of a heavy-hitters run, keyed (shard, n_seen):
    * token -> (cnt, err). */
  private def hhSnapshots(out: org.apache.spark.sql.DataFrame)
      : Map[(Int, Long), Map[String, (Long, Long)]] =
    out.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .groupBy(r => (r._1, r._5))
      .map { case (k, rs) => k -> rs.map(r => r._2 -> ((r._3, r._4))).toMap }

  test("state-v2 MapState heavy hitters: exact regime equals batch AND the fmgws twin") {
    import org.apache.spark.sql.functions.col
    // m = 128 >= per-shard vocabulary -> nothing evicts, so the MapState
    // point-update layout must give EVERY snapshot, not only the last,
    // the exact counts of the prefix ingested so far (trigger 1 = even
    // doc_ids); and its twin — the same sketch fed the corpus as one
    // trigger — must end in the same summary
    val hh = graft.streaming.StreamHeavyHitters
    val docs = Tables.documents(spark, sf001)
    val split = hhSnapshots(hh.runOnce(spark, sf001, "hh2_exact_test",
      numShards = 8, m = 128))
    val whole = hhSnapshots(Staged.withRocksDb(spark) {
      Staged.run(spark, "hh2_exact_single_test", "update", docs)(
        hh.sketch(_, 8, 128))
    })
    val prefixes = Seq(docs.filter(col("doc_id") % 2 === 0), docs)
      .map(d => exactShardCounts(d, 8))
    def forShard(c: Map[(Int, String), Long], s: Int): Map[String, Long] =
      c.collect { case ((`s`, tok), n) => tok -> n }
    split.foreach { case ((s, ns), slots) =>
      val truth = prefixes.map(forShard(_, s)).find(_.values.sum == ns)
      assert(truth.nonEmpty, s"shard $s snapshot at n_seen=$ns matches no prefix")
      assert(slots.map { case (tok, (cnt, _)) => tok -> cnt } == truth.get,
        s"shard $s at n_seen=$ns differs from the exact prefix counts")
      assert(slots.values.forall(_._2 == 0L), "exact regime must carry zero error")
    }
    assert(split.keys.exists { case (s, ns) =>
      ns < forShard(prefixes(1), s).values.sum
    }, "no intermediate snapshot: the split did not carry state across triggers")
    def last(snaps: Map[(Int, Long), Map[String, (Long, Long)]]) =
      snaps.groupBy(_._1._1).map { case (s, g) => s -> g.maxBy(_._1._2)._2 }
    assert(last(split).nonEmpty)
    assert(last(split) == last(whole), "two-trigger and one-trigger summaries differ")
  }

  test("state-v2 MapState heavy hitters: tight regime keeps the guarantees") {
    import org.apache.spark.sql.functions.col
    // m = 4 per shard: heavy eviction. The space-saving bounds hold at
    // EVERY emitted snapshot — the trigger-1 summary against the exact
    // counts of the even doc_ids it saw, the final one against the corpus
    val m = 4
    val docs = Tables.documents(spark, sf001)
    val snaps = hhSnapshots(graft.streaming.StreamHeavyHitters
      .runOnce(spark, sf001, "hh2_tight_test", numShards = 8, m = m))
    assert(snaps.nonEmpty)
    val prefixes = Seq(docs.filter(col("doc_id") % 2 === 0), docs)
      .map(d => exactShardCounts(d, 8))
    def forShard(c: Map[(Int, String), Long], s: Int): Map[String, Long] =
      c.collect { case ((`s`, tok), n) => tok -> n }
    snaps.foreach { case ((s, ns), slots) =>
      val truth = prefixes.map(forShard(_, s)).find(_.values.sum == ns)
      assert(truth.nonEmpty, s"shard $s snapshot at n_seen=$ns matches no prefix")
      val t = truth.get
      assert(slots.size <= m, s"shard $s holds ${slots.size} > m=$m slots")
      slots.foreach { case (tok, (cnt, err)) =>
        val tc = t.getOrElse(tok, 0L)
        assert(tc <= cnt, s"($s, $tok) at n_seen=$ns undercounted: $cnt < true $tc")
        assert(cnt - err <= tc, s"($s, $tok) at n_seen=$ns: $cnt - $err > true $tc")
      }
      t.foreach { case (tok, tc) =>
        if (tc > ns.toDouble / m)
          assert(slots.contains(tok),
            s"frequent token $tok (true $tc > n/m=${ns / m}) missing from shard $s at n_seen=$ns")
      }
    }
    assert(snaps.keys.exists { case (s, ns) =>
      ns < forShard(prefixes(1), s).values.sum
    }, "no intermediate snapshot: the split did not carry state across triggers")
  }

  test("streaming near-dup state survives a checkpointed restart (no re-emission)") {
    // exactly-once across restart: run 1 ingests the first half of the
    // corpus and stops; run 2 resumes from the SAME checkpoint on the
    // full directory, so the state store must (a) skip the already-
    // processed file, (b) hold run-1 bucket members so cross-half pairs
    // still emit, and (c) never re-emit a run-1 pair.
    // (memory sink cannot recover a checkpoint, so the restartable FILE
    // sink collects the output)
    import org.apache.spark.sql.functions.col
    val dirs = Seq("neardup-in", "neardup-out", "neardup-ckpt")
      .map(java.nio.file.Files.createTempDirectory(_))
    val Seq(inDir, outDir, ckpt) = dirs.map(_.toString)
    try Staged.withRocksDb(spark) {
      val docs = Tables.documents(spark, sf001)
      docs.filter(col("doc_id") < 250).coalesce(1)
        .write.mode("append").parquet(inDir)

      def runOnce(): Long = {
        val stream = spark.readStream
          .schema(graft.streaming.StreamDedup.rawSchema).parquet(inDir)
        val q = graft.streaming.StreamNearDup.candidates(stream)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", outDir)
          .start()
        q.processAllAvailable()
        q.stop()
        spark.read.parquet(outDir).count()
      }

      val cnt1 = runOnce()
      docs.filter(col("doc_id") >= 250).coalesce(1)
        .write.mode("append").parquet(inDir)
      val cnt2 = runOnce()
      assert(cnt1 > 0 && cnt2 > cnt1, s"restart produced nothing new: $cnt1 -> $cnt2")

      // multiset equality with a single-batch run: carried-over state means
      // every (band, colliding pair) slot is emitted EXACTLY once across
      // both runs — a state-store failure would either re-emit run-1 slots
      // (extra rows) or lose cross-half pairs (missing rows)
      val total = graft.streaming.StreamNearDup.candidates(docs).count()
      assert(cnt2 == total, s"emitted $cnt2 slots across restart vs $total single-batch")

      // and the distinct pair set equals the batch minhash pipeline
      val streamedPairs = spark.read.parquet(outDir)
        .select(col("doc_a"), col("doc_b")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.ops.TextQueries.minhashPairs(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamedPairs == batch,
        s"missing=${(batch -- streamedPairs).take(5)} extra=${(streamedPairs -- batch).take(5)}")
    } finally dirs.foreach(Staged.deleteTree)
  }

  test("streaming near-dup bucket cap bounds state (degenerate-bucket guard)") {
    import spark.implicits._
    // 6 identical docs -> same buckets; cap 3 => pairs only among first 3
    val docs = (0L until 6L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta", "en", "t", 34L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Staged.withRocksDb(spark) {
      graft.streaming.StreamNearDup.candidates(docs, maxBucket = 3)
        .collect().map(p => (p.doc_a, p.doc_b)).toSet
    }
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("state-v2 ListState near-dup: distinct pairs equal the batch minhash pipeline") {
    import org.apache.spark.sql.functions.col
    // the ListState member log across THREE triggers of interleaved
    // doc_ids (residue mod 3), so a bucket often logs a member before a
    // smaller id arrives: the distinct pairs still equal the batch
    // pipeline, and the emitted multiset of (band, pair) slots equals a
    // single-trigger run's — nothing lost or re-emitted across triggers
    val docs = Tables.documents(spark, sf001)
    val (streamed, single) = Staged.withRocksDb(spark) {
      val s = Staged.run(spark, "neardup_liststate_test", "append",
        (0 until 3).map(r => docs.filter(col("doc_id") % 3 === r)): _*)(
        graft.streaming.StreamNearDup.candidates(_))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      (s, graft.streaming.StreamNearDup.candidates(docs)
        .collect().map(p => (p.doc_a, p.doc_b)).toSeq)
    }
    val batch = graft.ops.TextQueries.minhashPairs(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    assert(streamed.toSet == batch,
      s"missing=${(batch -- streamed).take(5)} extra=${(streamed.toSet -- batch).take(5)}")
    assert(streamed.sorted == single.sorted,
      s"${streamed.size} slots over three triggers vs ${single.size} in one")
    assert(batch.exists { case (a, b) => a % 3 != b % 3 },
      "split degenerate: no cross-trigger pair to prove state carry-over")
  }

  test("state-v2 ListState near-dup: bucket cap bounds state (degenerate-bucket guard)") {
    import spark.implicits._
    // 6 identical docs share all 4 band buckets; cap 3, staged as {4, 5}
    // then {0..3}: admission follows ARRIVAL, so the members 4 and 5
    // logged by trigger 1 leave one slot, taken by the smallest id of
    // trigger 2, and nothing past the cap ever emits
    def doc(i: Long) = (i, "alpha beta gamma delta epsilon zeta", "en", "t", 34L)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Staged.withRocksDb(spark) {
      Staged.run(spark, "neardup_cap_test", "append",
        Seq(4L, 5L).map(doc).toDF(cols: _*),
        (0L until 4L).map(doc).toDF(cols: _*))(
        graft.streaming.StreamNearDup.candidates(_, maxBucket = 3))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(pairs.toSet == Set((4L, 5L), (0L, 4L), (0L, 5L)))
    // each pair once per band bucket
    assert(pairs.size == 4 * 3, s"pairs=$pairs")
  }

  test("staged harness: a batch that filters to zero rows fails the one-trigger-per-batch check") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf001)
    val e = intercept[IllegalStateException] {
      Staged.run(spark, "staged_empty_test", "append",
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") < 0))(df => df)
    }
    assert(e.getMessage.contains("2 staged batches ran as 1"), e.getMessage)
  }

  test("streaming transitions changelog rolls up to the batch Markov matrix") {
    import org.apache.spark.sql.functions.col
    val trans = graft.streaming.StreamTransitions
      .runOnce(spark, sf001, "trans_test")
    val streamed = graft.streaming.StreamTransitions.matrix(trans)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val batch = SparkEntry.queries("q_transition_matrix")(spark, sf001)
      .select(col("from_type"), col("to_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(5)} batch-only=${(batch -- streamed).take(5)}")
    // cross-batch transitions survived: the per-user emitted count must be
    // exactly (events - 1), which only holds if no boundary pair was lost
    val perUser = trans.groupBy(col("user_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val events = Tables.events(spark, sf001)
      .groupBy(col("user_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(events.forall { case (u, n) => perUser.getOrElse(u, 0L) == n - 1 },
      "a cross-micro-batch transition was lost or duplicated")
  }

  test("streaming EWMA is bit-equal to the batch fold across micro-batches") {
    // alpha = 1/2: every fold step is a power-of-two scaling, so the
    // per-trigger incremental fold must reproduce the batch
    // sort+aggregate() EXACTLY (Double bit-equality, no tolerance) —
    // state carry-over between the two date-split triggers included.
    val all = graft.streaming.StreamEwma.runOnce(spark, sf001, "ewma_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // Update-mode output: take each customer's max-n_orders snapshot
    val maxN = all.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).max }
    val streamed = all.filter { case (k, n, _) => n == maxN(k) }
      .map { case (k, n, e) => k -> (n, e) }.toMap
    val batch = graft.ops.RelationalQueries.ewmaPerKey(spark, sf001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(batch.nonEmpty)
    assert(streamed.keySet == batch.keySet,
      s"missing=${(batch.keySet -- streamed.keySet).take(5)} " +
        s"extra=${(streamed.keySet -- batch.keySet).take(5)}")
    val bad = batch.collect {
      case (k, (n, e)) if streamed(k) != ((n, e)) => (k, streamed(k), (n, e))
    }
    assert(bad.isEmpty, s"mismatches (stream vs batch): ${bad.take(5)}")
    // both triggers contributed: some customer's ewma was emitted twice
    assert(all.groupBy(_._1).exists(_._2.length > 1),
      "no customer spanned both micro-batches — split degenerate")
  }

  test("state-v2 settled EWMA: fold state + moving timer survive a checkpointed restart") {
    import graft.streaming.{StreamEwma, StreamEwmaV2}
    import org.apache.spark.sql.functions._
    val inPath = java.nio.file.Files.createTempDirectory("ewma-rs-in")
    val ckpt = java.nio.file.Files.createTempDirectory("ewma-rs-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("ewma-rs-out")
    try Staged.withRocksDb(spark) {
      val orders = spark.read.schema(StreamEwma.rawSchema)
        .option("pathGlobFilter", "orders.parquet").parquet(sf001)
      val cut = orders.agg(expr("percentile_approx(o_orderdate, 0.5)"))
        .collect().head.getTimestamp(0)
      def run(): Unit = {
        val q = StreamEwmaV2.settled(
            spark.readStream.schema(StreamEwma.rawSchema).parquet(inPath.toString))
          .toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", outDir.toString).start()
        q.processAllAvailable(); q.stop()
      }
      // run 1: first half only, checkpointed; run 2 resumes over the full dir
      orders.filter(col("o_orderdate") <= lit(cut)).coalesce(1)
        .write.mode("append").parquet(inPath.toString)
      run()
      val run1 = spark.read.parquet(outDir.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      orders.filter(col("o_orderdate") > lit(cut)).coalesce(1)
        .write.mode("append").parquet(inPath.toString)
      run()
      val combined = spark.read.parquet(outDir.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      assert(combined.size == combined.toSet.size,
        s"duplicate settled snapshots after restart: ${combined.diff(combined.distinct).take(3)}")
      assert(run1.subsetOf(combined.toSet), "run-1 emissions lost on restart")
      // the restarted pair must emit a SUPERSET of the uninterrupted run:
      // stopping between the files lets the advanced watermark fire settle
      // timers in run 1's trailing empty batches (extra intermediate
      // snapshots), where back-to-back triggers extend the fold first and
      // the stale-timer guard suppresses them — but nothing the single
      // run emits may be lost or altered by the restart
      val single = StreamEwmaV2.runOnce(spark, sf001, "ewma_rs_single")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      assert(single.nonEmpty)
      assert(single.subsetOf(combined.toSet),
        s"restart lost uninterrupted-run snapshots: ${(single -- combined.toSet).take(3)}")
      // EVERY restart emission (including the intermediate settles) must
      // bit-equal the batch alpha=1/2 fold over exactly that key's order
      // prefix — restored ValueState folding wrong would break this
      val byKey = orders
        .select(col("o_custkey"), col("o_orderkey"),
          unix_micros(col("o_orderdate")).as("ts_us"), col("o_totalprice"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1)
      val badFold = combined.filter { case (k, n, e, last) =>
        val prefix = byKey(k).filter(_._3 <= last).sortBy(r => (r._3, r._2))
        val folded = prefix.foldLeft((0.0, 0L)) { case ((ew, cnt), r) =>
          if (cnt == 0L) (r._4, 1L) else (ew * 0.5 + r._4 * 0.5, cnt + 1L)
        }
        folded != ((e, n))
      }
      assert(badFold.isEmpty,
        s"restart emission != batch prefix fold: ${badFold.take(3)}")
      // and the fold genuinely CONTINUED across the restart: some run-2
      // snapshot covers more orders than arrived after the cut (its count
      // includes restored batch-1 state)
      val cutUs = cut.getTime * 1000L
      val crossed = combined.toSet.diff(run1).exists { case (k, n, _, last) =>
        last > cutUs && n > byKey(k).count(_._3 > cutUs)
      }
      assert(crossed, "no snapshot proves the fold resumed from restored state")
    } finally
      Seq(inPath, outDir, java.nio.file.Paths.get(ckpt)).foreach(Staged.deleteTree)
  }

  test("state-v2 settled EWMA: timer emissions bit-equal the batch fold up to each snapshot") {
    // StreamEwmaV2: transformWithState + ValueState + a MOVING event-time
    // settle timer; snapshots emit from handleExpiredTimer only. Each
    // emitted (key, n, ewma, last_us) must BIT-equal the batch alpha=1/2
    // fold over that customer's orders with o_orderdate <= last_us — the
    // timer fired at a point where the fold-so-far was exactly that
    // prefix. Exactly-once per settle: no duplicate (key, n) rows.
    val rows = graft.streaming.StreamEwmaV2.runOnce(spark, sf001, "ewma_v2_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty, "no key settled — watermark/timer plumbing broken")
    assert(rows.groupBy(r => (r._1, r._2)).values.forall(_.length == 1),
      "duplicate settled snapshot for the same (key, n)")
    // batch replay: fold each snapshot's prefix (orders up to last_us)
    import org.apache.spark.sql.functions.{col, unix_micros}
    // NTZ-vintage fixture: cast under the pinned-UTC session is the same
    // reinterpretation the stream side's schema-pinned TimestampType read
    // applies (the Tables.normalizeEventTs argument)
    val orders = Tables.orders(spark, sf001)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"),
        col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    val bad = rows.filter { case (k, n, e, last) =>
      val prefix = orders(k).filter(_._3 <= last).sortBy(r => (r._3, r._2))
      val folded = prefix.foldLeft((0.0, 0L)) { case ((ew, cnt), r) =>
        if (cnt == 0L) (r._4, 1L) else (ew * 0.5 + r._4 * 0.5, cnt + 1L)
      }
      folded != ((e, n))
    }
    assert(bad.isEmpty, s"snapshot != batch prefix fold: ${bad.take(5).toSeq}")
    // the settle horizon really gates emission: every settled key's last
    // order precedes the final watermark minus the horizon
    val maxUs = orders.values.flatten.map(_._3).max
    val wmUs = maxUs - 24L * 3600 * 1000000L
    assert(rows.forall { case (_, _, _, last) =>
      last + graft.streaming.StreamEwmaV2.SettleMicros <= wmUs + 1000000L },
      "a key emitted before its settle horizon passed")
  }

  /** Run StreamDedupTtl as one checkpointed run PER batch (RocksDB store —
    * the state-v2 requirement), with an optional wall-clock pause between
    * runs; returns all emitted (doc_id, h) rows. A PROCESSING-time
    * stateful operator reports shouldRunAnotherBatch=true on every
    * trigger (non-data batches evaluate TTL/timers), so neither
    * processAllAvailable nor Trigger.AvailableNow ever quiesces — the
    * harness instead polls the file source's committed endOffset for the
    * run's expected logOffset and stops the query itself. The
    * run-per-batch shape also proves TTL'd state survives a checkpointed
    * restart. */
  private def runDedupTtl(batches: Seq[org.apache.spark.sql.DataFrame],
      ttlMs: Option[Long], pauseMs: Long, queryName: String) = {
    import java.nio.file.Files
    val inDir = Files.createTempDirectory("dedupttl-in")
    val outDir = Files.createTempDirectory("dedupttl-out")
    val ckpt = Files.createTempDirectory("dedupttl-ckpt")
    try Staged.withRocksDb(spark) {
      batches.zipWithIndex.foreach { case (b, i) =>
        if (i > 0 && pauseMs > 0) Thread.sleep(pauseMs)
        b.coalesce(1).write.mode("append").parquet(inDir.toString)
        val stream = spark.readStream
          .schema(graft.streaming.StreamDedup.rawSchema).parquet(inDir.toString)
        val q = graft.streaming.StreamDedupTtl.dedup(stream, ttlMs)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          // spaced trigger: the processing-time operator re-batches
          // forever (TTL evaluation), so leave idle gaps for a clean stop
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
          .format("parquet").option("path", outDir.toString)
          .start()
        // each run discovers exactly ONE new file => one FileStreamSource
        // log entry; committed endOffset {"logOffset":i} means this run's
        // data batch is fully processed and sunk
        val deadline = System.currentTimeMillis + 120000
        var caughtUp = false
        while (!caughtUp && System.currentTimeMillis < deadline) {
          Thread.sleep(200)
          val p = q.lastProgress
          caughtUp = p != null && p.sources.nonEmpty &&
            Option(p.sources.head.endOffset)
              .exists(_.contains(s""""logOffset":$i"""))
        }
        q.stop()
        assert(caughtUp, s"run $i never consumed its input file")
      }
      spark.read.parquet(outDir.toString).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("h")))
    } finally {
      // best effort: RocksDB can still be writing into the checkpoint
      // after q.stop() returns, and a failed cleanup must not fail the test
      Seq(inDir, outDir, ckpt).foreach(p => scala.util.Try(Staged.deleteTree(p)))
    }
  }

  test("state-v2 TTL dedup: un-expired state suppresses duplicates exactly like batch") {
    import org.apache.spark.sql.functions._
    // TTL far beyond the test's runtime => semantics must equal the
    // unbounded StreamDedup / batch first-per-hash set, across a
    // doc_id-split two-trigger run. The sf0.001 fixture has no EXACT
    // duplicate texts (near-dups only), so a cross-trigger retransmit is
    // injected: doc 0's text re-arrives in trigger 2 under a new id.
    val docs = Tables.documents(spark, sf001)
    val retransmit = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(100000L))
    val emitted = runDedupTtl(
      Seq(docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250).unionByName(retransmit)),
      ttlMs = Some(3600L * 1000), pauseMs = 0, queryName = "dedup_ttl_eq")
    val batch = docs.unionByName(retransmit)
      .select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .collect().map(r => (r.getLong(1), r.getString(0))).toSet
    assert(emitted.length == emitted.toSet.size, "a hash was emitted twice")
    assert(emitted.toSet == batch,
      s"missing=${(batch -- emitted.toSet).take(3)} extra=${(emitted.toSet -- batch).take(3)}")
    // the retransmit's hash was seen in trigger 1, so trigger 2 suppressed it
    assert(!emitted.map(_._1).contains(100000L),
      "cross-trigger duplicate was not suppressed")
  }

  test("chained stateful operators: dedup -> sessionize in ONE query equals the batch twin") {
    import graft.streaming.{StreamPipeline, StreamSessions}
    import org.apache.spark.sql.functions._
    // The input carries injected retransmits (every third event
    // duplicated); stage 1 must swallow them — the sealed sessions must
    // equal the DEDUPED batch sessionization, and (since the fixture's
    // event identities are already unique) the plain sessionizer's
    // output: proof the chain neither loses rows at the watermark
    // hand-off (caveat 1/2) nor double-counts retransmits.
    val emitted = StreamPipeline.runOnce(spark, sf001, "pipe_tws_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batchAll = StreamPipeline.batchDedupSessions(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(emitted.nonEmpty)
    assert(emitted.subsetOf(batchAll),
      s"chain emitted ${emitted.diff(batchAll).take(3)} not in batch")
    // same sealed-set rule as the unchained sessionizer: the final
    // watermark decides; the remainder is the open tail. Delayed
    // cross-operator watermark propagation (caveat 3) may hold back at
    // most the sessions sealed between the delayed and final watermark —
    // on this two-trigger input the sets coincide (asserted exactly).
    val maxTsUs = graft.Tables.events(spark, sf001)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val wmMs = maxTsUs / 1000L - 30L * 60 * 1000
    def timerMs(sEndUs: Long): Long = (sEndUs + 999L) / 1000L
    val sealedLe = batchAll.filter(s => timerMs(s._3) <= wmMs)
    val sealedLt = batchAll.filter(s => timerMs(s._3) < wmMs)
    assert(emitted == sealedLe || emitted == sealedLt,
      s"emitted ${emitted.size}; sealed(<=) ${sealedLe.size}, " +
        s"sealed(<) ${sealedLt.size}; batch total ${batchAll.size}")
    // retransmits really were dropped by stage 1, not double-counted
    // into session sizes: equality with the DEDUPED twin above is the
    // proof (a leaked duplicate would bump some session's n)
    val open = batchAll.diff(emitted)
    assert(open.forall(s => timerMs(s._3) >= wmMs))
  }

  test("chained stateful operators: BOTH state stores survive a checkpointed restart") {
    import graft.streaming.StreamPipeline
    import org.apache.spark.sql.functions._
    val inPath = java.nio.file.Files.createTempDirectory("pipe-restart-in")
    val ckpt = java.nio.file.Files.createTempDirectory("pipe-restart-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("pipe-restart-out")
    try Staged.withRocksDb(spark) {
      val raw = graft.Tables.events(spark, sf001)
      val withRetrans = raw.unionAll(raw.filter(col("event_id") % 3 === 0))
      val cut = raw.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
        .collect().head.getLong(0)
      // run 1: first half (retransmits included), checkpointed file sink
      withRetrans.filter(unix_micros(col("ts")) <= cut).coalesce(1)
        .write.mode("append").parquet(inPath.toString)
      val schema = spark.read.parquet(inPath.toString).schema
      def start() = StreamPipeline.dedupSessionize(
          spark.readStream.schema(schema).parquet(inPath.toString)).toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir.toString).start()
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      val run1 = spark.read.parquet(outDir.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // run 2: resume from the same checkpoint; the second half ALSO
      // retransmits run-1 events (cross-restart duplicates), so recovery
      // must restore stage 1's seen-set AND stage 2's open sessions+timers
      val crossRestartDups = raw.filter(unix_micros(col("ts")) <= cut)
        .filter(col("event_id") % 5 === 0)
      withRetrans.filter(unix_micros(col("ts")) > cut)
        .unionAll(crossRestartDups).coalesce(1)
        .write.mode("append").parquet(inPath.toString)
      val q2 = start(); q2.processAllAvailable(); q2.stop()
      val combined = spark.read.parquet(outDir.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      // exactly-once: no session emitted twice across the restart
      assert(combined.size == combined.toSet.size,
        s"duplicate emissions after restart: ${combined.diff(combined.distinct).take(3)}")
      assert(run1.subsetOf(combined.toSet))
      // cross-restart retransmits were suppressed by the RECOVERED dedup
      // state: the combined output equals one uninterrupted chained run
      // (whose input had no cross-restart dups — stage 1 must erase them)
      val single = StreamPipeline.runOnce(spark, sf001, "pipe_rs_single")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(combined.toSet == single,
        s"missing=${(single -- combined.toSet).take(3)} extra=${(combined.toSet -- single).take(3)}")
    } finally
      Seq(inPath, java.nio.file.Paths.get(ckpt), outDir).foreach(Staged.deleteTree)
  }

  test("state-v2 TTL dedup: an expired hash re-emits (bounded-state semantics)") {
    import spark.implicits._
    val mk = (ids: Seq[Long]) => ids
      .map(i => (i, "ttl expiry probe text", "en", "t", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // same content in both triggers, 3s apart, TTL 500ms: the state entry
    // must be gone by trigger 2 and the content re-emits under the new id
    val emitted = runDedupTtl(Seq(mk(Seq(1L)), mk(Seq(2L))),
      ttlMs = Some(500L), pauseMs = 3000, queryName = "dedup_ttl_exp")
    assert(emitted.map(_._1).sorted.toSeq == Seq(1L, 2L),
      s"expected re-emission after TTL expiry, got ${emitted.toSeq}")
    // control: without a pause past the TTL the duplicate is suppressed
    val suppressed = runDedupTtl(Seq(mk(Seq(3L)), mk(Seq(4L))),
      ttlMs = Some(3600L * 1000), pauseMs = 0, queryName = "dedup_ttl_ctl")
    assert(suppressed.map(_._1).toSeq == Seq(3L),
      s"expected suppression within TTL, got ${suppressed.toSeq}")
  }

  test("streaming CUSUM: integer fold bit-equals the batch recursion across the split") {
    import graft.streaming.StreamCusum
    import org.apache.spark.sql.functions._
    val events = spark.read.parquet(s"$sf001/events.parquet")
    val mu0 = StreamCusum.referenceMeans(events)
    // decision interval: 20 mean-units of accumulated deviation per key
    val h = mu0.map { case (k, m) => k -> m * 20 }
    val all = StreamCusum.runOnce(spark, sf001, "cusum_test", mu0, h)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // Update-mode output: per key, the max-n snapshot is the final state
    val maxN = all.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).max }
    val streamed = all.filter { case (k, n, _, _, _) => n == maxN(k) }
      .map { case (k, n, up, dn, a) => k -> ((n, up, dn, a)) }.toMap
    // batch replay: the same pure step() folded over the fully-ordered
    // history on the driver (sf0.001 events are bounded)
    val hist = graft.Tables.events(spark, sf001)
      .select(col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(100.0)).cast("long").as("cents"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(3)))
    val batch = hist.groupBy(_._1).map { case (k, rows) =>
      val st = rows.foldLeft(StreamCusum.CusumState(0L, Long.MaxValue,
        Long.MinValue, upArmed = true, dnArmed = true, 0L, 0L)) {
        (s, r) => StreamCusum.step(s, r._2 - mu0(k), h(k))
      }
      k -> ((st.n, st.cum - math.min(0L, st.rmin),
        math.max(0L, st.rmax) - st.cum, st.nAlerts))
    }
    assert(batch.nonEmpty && streamed.keySet == batch.keySet)
    val bad = batch.collect {
      case (k, v) if streamed(k) != v => (k, streamed(k), v)
    }
    assert(bad.isEmpty, s"stream vs batch: ${bad.take(5)}")
    // the statistic genuinely moved, and both triggers contributed
    assert(batch.values.exists(v => v._2 > 0 || v._3 > 0))
    assert(all.groupBy(_._1).exists(_._2.length > 1),
      "no key spanned both micro-batches — split degenerate")
  }

  test("streaming media gate: codegen'd GridStatsExpr runs in a stream, totals equal batch") {
    import graft.streaming.StreamMediaGate
    // the memory sink keeps the LATEST update snapshot of the
    // aggregation; Staged.run checks the split gave one trigger per batch
    val table = StreamMediaGate.runOnce(spark, sf001, "media_gate_test")
    val streamed = table.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val batch = StreamMediaGate.gate(
      spark.read.parquet(s"$sf001/documents.parquet"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(batch.nonEmpty && streamed.keySet == batch.keySet)
    val bad = batch.collect { case (s, v) if streamed(s) != v => (s, streamed(s), v) }
    assert(bad.isEmpty, s"stream vs batch: ${bad.take(5)}")
    // the gate genuinely fires
    assert(batch.values.exists(_._2 > 0), "no flat asset flagged — gate vacuous")
  }

  test("streaming perceptual (dHash) near-dup pairs equal the batch band join") {
    import graft.streaming.StreamDhashDedup
    import org.apache.spark.sql.functions.{bit_count, col}
    val table = StreamDhashDedup.runOnce(spark, sf001, "dhash_stream_test")
    // r13 ADVICE fix: a pair colliding in several bands is emitted from
    // its LOWEST colliding band only — the output stream must be
    // duplicate-free as a multiset, not just as a set
    val streamedRows = table.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamedRows.size == streamedRows.distinct.size,
      s"duplicate pair rows emitted: ${streamedRows.groupBy(identity)
        .filter(_._2.size > 1).keys.take(5)}")
    val streamed = streamedRows.toSet
    val batch = graft.ops.MultimodalQueries.dhashCandidates(spark, sf001)
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= 4)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty, "batch dHash pair set vacuous at sf0.001")
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(5)} batch-only=${(batch -- streamed).take(5)}")
  }

  test("streaming dHash near-dup bucket cap bounds state (degenerate-bucket guard)") {
    import graft.streaming.StreamDhashDedup
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val capped = StreamDhashDedup.pairs(docs, maxBucket = 2).count()
    val full = StreamDhashDedup.pairs(docs).count()
    // with per-bucket membership capped at 2, each bucket emits at most
    // one pair's worth of confirms — strictly fewer than the full run
    assert(capped <= full)
    assert(full > 0)
  }

  test("streaming HistSketch quantiles equal the batch sketch across the split") {
    import graft.streaming.StreamQuantiles
    val (table, dom) =
      StreamQuantiles.runOnce(spark, sf001, "squant_stream_test")
    // the memory sink keeps the LATEST update snapshot; Staged.run checks
    // the split gave one trigger per batch. Histogram merge is count
    // addition, so the final streamed sketch quantiles must equal the
    // batch sketch over the same rows BITWISE — rank bins and snapped
    // estimates alike.
    val streamed = table.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    val batch = StreamQuantiles.quantiles(
      graft.Tables.events(spark, sf001)
        .select(org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("value")),
      dom._1, dom._2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5)))).toMap
    assert(batch.nonEmpty && streamed.keySet == batch.keySet)
    val bad = batch.collect { case (k, v) if streamed(k) != v => (k, streamed(k), v) }
    assert(bad.isEmpty, s"stream vs batch: ${bad.take(5)}")
    // the quantiles are non-degenerate: p90 bin at or above p50 bin,
    // and at least one type separates them on this fixture
    assert(batch.values.forall { case (_, b50, b90, _, _) => b90 >= b50 })
    assert(batch.values.exists { case (_, b50, b90, _, _) => b90 > b50 })
  }

  test("streaming drift monitor (tier 23/24): streamed KS/W1/JSD equal the batch walk across the split") {
    import graft.streaming.StreamDrift
    val (table, dom, ref, live) =
      StreamDrift.runOnce(spark, sf001, "sdrift_stream_test")
    assert(ref.size >= 2, "arming should cover several event types")
    // frozen grid + lossless sketch merge + exact integer walks (KS/W1)
    // + the P43 snap-sum (JSD) => the final streamed statistic equals
    // the batch computation over the same streamed rows BITWISE
    // (e9 longs and display doubles alike)
    def row(r: org.apache.spark.sql.Row) = r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    val streamed = table.collect().map(row).toMap
    val batch = StreamDrift.drift(live, dom._1, dom._2, ref)
      .collect().map(row).toMap
    assert(batch.nonEmpty && streamed.keySet == batch.keySet)
    val bad = batch.collect { case (k, v) if streamed(k) != v => (k, streamed(k), v) }
    assert(bad.isEmpty, s"stream vs batch: ${bad.take(5)}")
    // non-vacuous: a finite live sample never matches history exactly,
    // so some key shows strictly positive KS, W1 and JSD
    assert(streamed.values.exists(_._2 > 0L), "all KS zero — monitor vacuous")
    assert(streamed.values.exists(_._3 > 0L), "all W1 zero — monitor vacuous")
    assert(streamed.values.exists(_._4 > 0L), "all JSD zero — monitor vacuous")
    // sanity bounds: KS is a probability difference (<= 1); JSD is
    // bounded by ln 2 nats by construction
    assert(streamed.values.forall(v => v._2 >= 0L && v._2 <= 1000000000L))
    assert(streamed.values.forall(v => v._4 >= 0L && v._4 <= 693147181L))
  }

  test("streaming drift monitor: an un-armed key is dropped, not a crash") {
    import graft.streaming.StreamDrift
    import graft.streaming.StreamQuantiles
    import org.apache.spark.sql.functions.col
    val raw = graft.Tables.events(spark, sf001)
      .select(col("event_id"), col("event_type"), col("value"))
    val dom = StreamQuantiles.armDomain(raw)
    val full = StreamDrift.armReference(raw, dom._1, dom._2)
    val droppedKey = full.keys.min
    val armed = full - droppedKey
    val out = StreamDrift.drift(raw, dom._1, dom._2, armed).collect()
    assert(out.nonEmpty)
    assert(!out.exists(_.getString(0) == droppedKey),
      s"un-armed key '$droppedKey' should be filtered out")
    // self-drift of the arming slice against itself is exactly zero —
    // KS, W1 and JSD alike (for JSD: p = q per bin, both ln(p/m) terms
    // are ln 1 = 0, the snap-sum is exactly 0)
    val self = StreamDrift.drift(raw, dom._1, dom._2, full).collect()
    assert(self.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L &&
        r.getLong(4) == 0L),
      "a distribution must have zero drift against itself")
  }

  test("streaming CUSUM: an un-armed event type is skipped, not a crash") {
    import graft.streaming.StreamCusum
    val events = spark.read.parquet(s"$sf001/events.parquet")
    val mu0 = StreamCusum.referenceMeans(events)
    assert(mu0.size >= 2, "fixture should have several event types")
    val dropped = mu0.keys.min
    val armedMu0 = mu0 - dropped
    val h = armedMu0.map { case (k, m) => k -> m * 20 }
    // batch-mode mapGroupsWithState (empty initial state) exercises the
    // same fold; before the fix the un-armed key threw
    // NoSuchElementException inside the state function
    val out = StreamCusum.cusum(events, armedMu0, h).collect()
    assert(out.nonEmpty)
    assert(!out.exists(_.event_type == dropped),
      s"un-armed key '$dropped' should be filtered out")
    assert(out.map(_.event_type).toSet == armedMu0.keySet)
    intercept[IllegalArgumentException] {
      StreamCusum.cusum(events, Map.empty, Map.empty)
    }
  }

  test("streaming kNN-graph maintenance (tier 25): streamed neighbor lists equal batch q_knn_join across the split") {
    import graft.streaming.StreamKnn
    import org.apache.spark.sql.functions.col
    val cut = 250L
    val updates = StreamKnn.runOnce(spark, sf001, "sknn_stream_test", cut)
      .localCheckpoint(true)
    val upd = updates.collect()
    assert(upd.nonEmpty)
    // the maintenance property is non-vacuous: some trigger-1 arrival's
    // heap was UPDATED by a trigger-2 build member (ver >= 2) — the very
    // case a score-on-arrival stream gets wrong
    assert(upd.exists(_.getLong(2) >= 2L),
      "no heap ever updated across the split — maintenance vacuous")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // FINAL graph: max-version heaps merged across each qid's 2 cells
    // must equal the batch q_knn_join relation BITWISE (same kernel,
    // same frozen cells, same tie-break)
    val streamed = rows(StreamKnn.finalLists(updates))
    val batch = rows(SparkEntry.queries("q_knn_join")(spark, sf001))
    assert(batch.nonEmpty && streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} " +
        s"batch-only=${(batch -- streamed).take(3)}")
    // PREFIX state: within one trigger a probe emits at most once, and a
    // new probe always emits at ver 1 — so the ver==1 rows of trigger-1
    // arrivals (qid < cut; their heaps can only hold prefix members) ARE
    // the streamed graph as of the end of trigger 1. It must equal the
    // batch relation over the prefix rows under the SAME frozen
    // (full-corpus) cells — the frozen-quantizer ingestion contract.
    val prefixStreamed = rows(StreamKnn.finalLists(
      updates.filter(col("ver") === 1 && col("qid") < cut)))
    val prefixAsg = graft.ops.SimilarityQueries
      .cellAssignmentsSpill(spark, sf001).filter(col("vec_id") < cut)
    val prefixBatch = rows(
      graft.ops.SimilarityQueries.knnJoinRelationOn(prefixAsg))
    assert(prefixBatch.nonEmpty && prefixStreamed == prefixBatch,
      s"prefix stream-only=${(prefixStreamed -- prefixBatch).take(3)} " +
        s"batch-only=${(prefixBatch -- prefixStreamed).take(3)}")
  }

  test("streaming CDC compaction (tier 26): order-free snapshot maintenance equals batch across a PARITY split") {
    import graft.streaming.StreamCdc
    import org.apache.spark.sql.functions.col
    val emissions = StreamCdc.runOnce(spark, sf001, "cdc_stream_test")
      .localCheckpoint(true)
    val all = emissions.collect()
    assert(all.nonEmpty)
    // the split is by event_id parity — event time interleaves across
    // triggers, so a key folded in both triggers (ver 2) whose snapshot
    // CHANGED proves the monoid absorbed out-of-order arrivals
    assert(all.exists(_.getLong(1) >= 2L), "no key spanned both triggers")
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("alive"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4), r.getLong(5)))
      .toSet
    def batchSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    // max-ver emission per key = the maintained snapshot table
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ver").desc)
    val finalSnaps = emissions
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    // FULL equality, three ways pinned: streamed == batchCompact(full)
    // == the registry q_cdc_compact itself (guards the helper against
    // drifting from the registry semantics)
    val streamed = snap(finalSnaps)
    val raw = spark.read.parquet(s"$sf001/events.parquet")
    val helper = batchSet(StreamCdc.batchCompact(raw))
    val registry = batchSet(
      SparkEntry.queries("q_cdc_compact")(spark, sf001)
        .select(col("user_id"), col("last_ts_us"), col("final_value"),
          col("n_ops")))
    assert(registry.nonEmpty && helper == registry,
      "batchCompact helper drifted from the registry query")
    assert(streamed == registry,
      s"stream-only=${(streamed -- registry).take(3)} " +
        s"batch-only=${(registry -- streamed).take(3)}")
    // MID-STREAM: ver-1 snapshots of keys touched in trigger 1 equal the
    // batch compaction of the even-parity half alone. Keys whose ONLY
    // rows are odd-parity emit their ver-1 row in trigger 2 — restrict
    // to keys with at least one even-parity row.
    val evenHalf = raw.filter(col("event_id") % 2 === 0)
    val evenKeys = evenHalf.select("user_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val t1EvenOnly = snap(emissions.filter(col("ver") === 1))
      .filter(s => evenKeys(s._1))
    val prefixBatchCdc = batchSet(StreamCdc.batchCompact(evenHalf))
    assert(prefixBatchCdc.nonEmpty)
    assert(t1EvenOnly == prefixBatchCdc,
      s"prefix stream-only=${(t1EvenOnly -- prefixBatchCdc).take(3)} " +
        s"batch-only=${(prefixBatchCdc -- t1EvenOnly).take(3)}")
  }

  test("streaming fuzzy entity matching (tier 27): emitted pairs equal batch q_fuzzy_join across a PARITY split") {
    import graft.streaming.StreamFuzzy
    import org.apache.spark.sql.functions.{col, max => smax}
    val emitted = StreamFuzzy.runOnce(spark, sf001, "fuzzy_stream_test")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // single-emit contract: a pair colliding in several variant buckets
    // appears exactly once in the output stream
    assert(emitted.length === emitted.distinct.length,
      "single-emit contract violated — duplicate pair emissions")
    val batch = SparkEntry.queries("q_fuzzy_join")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(batch.nonEmpty && emitted.toSet === batch,
      s"stream-only=${(emitted.toSet -- batch).take(3)} " +
        s"batch-only=${(batch -- emitted.toSet).take(3)}")
    // the split is by custkey parity, so cross-parity pairs REQUIRE the
    // trigger-2 member to match against trigger-1 state — non-vacuous
    assert(batch.exists { case (_, a, b, _) => a % 2 != b % 2 },
      "no pair spans the parity split — cross-trigger matching untested")
    // fixture bucket occupancy stays far below the degenerate-bucket cap
    val maxBucket = graft.ops.EntityQueries
      .variantRows(spark.read.parquet(s"$sf001/customer.parquet"))
      .groupBy(col("nationkey"), col("v")).count()
      .agg(smax(col("count"))).collect()(0).getLong(0)
    assert(maxBucket < StreamFuzzy.MaxBucket / 4,
      s"bucket occupancy $maxBucket approaching cap ${StreamFuzzy.MaxBucket}")
  }

  test("streaming calibration monitor (tier 28): maintained reliability grid equals batch q_calibration across a PARITY split") {
    import graft.streaming.StreamCalib
    import org.apache.spark.sql.functions.{col, explode, element_at, least,
      greatest, lit, split, sum => ssum, when}
    val emissions = StreamCalib.runOnce(spark, sf001, "calib_stream_test")
      .localCheckpoint(true)
    val all = emissions.collect()
    assert(all.nonEmpty)
    val byBin = all.groupBy(_.getLong(0))
    // maintenance witness: a bin touched in both triggers emits twice,
    // and n is strictly monotone per bin (the data-carried version)
    assert(byBin.exists(_._2.length >= 2), "no bin spanned both triggers")
    byBin.values.foreach { rows =>
      val ns = rows.map(_.getLong(1))
      assert(ns.distinct.length == ns.length, "n not strictly monotone")
    }
    // maintained snapshot = max-n emission per bin; equals the batch grid
    val snap = byBin.values.map(_.maxBy(_.getLong(1)))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    def gridSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batchGrid = gridSet(StreamCalib.grid(docs))
    assert(batchGrid.nonEmpty && snap == batchGrid,
      s"stream-only=${(snap -- batchGrid).take(3)} " +
        s"batch-only=${(batchGrid -- snap).take(3)}")
    // the ROW-LEVEL scorer (aggregate HOF) is bitwise the batch
    // explode+groupBy score — the commutativity claim, asserted
    val rowScores = StreamCalib.scored(docs)
      .select(col("doc_id"), col("k"), col("pos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val explodeScores = docs
      .select(col("doc_id"), col("n_chars"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), col("n_chars"),
        element_at(lit(graft.ops.PipelineQueries.QualityWeights),
          (graft.functions.TextOps.md5Prefix60(col("tok")) %
            graft.ops.PipelineQueries.QualityD).cast("int") + 1).as("w"))
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(ssum(col("w")).cast("long").as("score"))
      .select(col("doc_id"),
        least(greatest(col("score") + lit(graft.ops.MLQueries.CalShift),
          lit(0L)), lit(graft.ops.MLQueries.CalRange.toLong)).as("k"),
        when(col("n_chars") > graft.ops.MLQueries.CalLabelChars, 1L)
          .otherwise(0L).as("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rowScores == explodeScores,
      "row-level HOF scorer diverged from the batch explode scorer")
    // display projection over the streamed snapshot equals the REGISTRY
    // q_calibration output bitwise (same integer grid, same op order)
    import spark.implicits._
    val snapDf = snap.toSeq.sorted.toDF("bin", "n", "sum_k", "n_pos")
    val streamedTable = StreamCalib.withEce(snapDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    val registry = SparkEntry.queries("q_calibration")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(registry.nonEmpty && streamedTable.toSeq === registry.toSeq,
      "streamed reliability table != registry q_calibration")
    // PREFIX: every trigger-1 emission states the even-half fold exactly,
    // so the even-half batch grid is a subset of the emission set
    val evenGrid = gridSet(
      StreamCalib.grid(docs.filter(col("doc_id") % 2 === 0)))
    val allRows = all
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(evenGrid.nonEmpty && evenGrid.subsetOf(allRows),
      s"prefix rows missing: ${(evenGrid -- allRows).take(3)}")
  }
}
