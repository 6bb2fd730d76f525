package graft

import graft.streaming.StreamingDedup
import org.apache.spark.sql.functions._

/** Pins for the continuous-ingest near-dup path (the dedup_stream gate):
  * the stateful banding is split-invariant (batch mode ≡ any streaming
  * schedule), its candidate set matches the batch banding restricted to
  * >= 1-new-side pairs, and on the test corpus the verified output equals
  * the exact incremental pair set (banding recall 1 at this geometry —
  * the property that lets the gate share dedup_incremental's semantics).
  */
class StreamingDedupSpec extends GraftSuite {
  import spark.implicits._

  private val N = 2
  private val Tau = 0.3
  private val Bands = 16
  private val Rows = 4
  /** Lower than the gate's 400 so BOTH old-old suppression and new-side
    * emission have witnesses in sf0.001's pair graph. */
  private val Split = 200L

  private def docsDf = graft.core.Tables.table(spark, sf0001, "documents")
    .select(col("doc_id"), col("text"),
      (col("doc_id") >= Split).as("is_new"))

  private def batchCandidates = StreamingDedup
    .bandedCandidatesStateful(docsDf, "doc_id", "text", "is_new", N, Bands, Rows)
    .as[(Long, Long)].collect().toSet

  test("batch-mode candidates = batch banding with >= 1 new side") {
    val sigs = docsDf
      .select(col("doc_id").as("id"),
        graft.functions.TextKernels.shingle_hashes(col("text"), lit(N)).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("id"),
        graft.functions.TextKernels.minhash_sig(col("sh"), Bands * Rows).as("sig"))
    val expected = graft.operators.Dedup
      .bandedCandidatesFromSigs(sigs, Bands, Rows)
      .where(col("id_a") >= Split || col("id_b") >= Split)
      .as[(Long, Long)].collect().toSet
    val got = batchCandidates
    assert(got == expected, s"stateful ${got.size} vs banding ${expected.size}")
    assert(got.nonEmpty, "split leaves no candidate pairs — test is vacuous")
    // the old×old suppression is real: the unfiltered banding is larger
    val all = graft.operators.Dedup.bandedCandidatesFromSigs(sigs, Bands, Rows)
      .as[(Long, Long)].collect().toSet
    assert(all.size > got.size, "no old-old pair existed to suppress")
  }

  test("streaming candidates across micro-batches = batch mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val rows = docsDf.as[(Long, String, Boolean)].collect().toSeq
    // corpus first, then the new side split across two micro-batches —
    // including a pair whose sides arrive in different batches
    val batches = Seq(rows.filter(!_._3),
      rows.filter(r => r._3 && r._1 % 2 == 0),
      rows.filter(r => r._3 && r._1 % 2 == 1))
    val src = MemoryStream[(Long, String, Boolean)]
    val q = StreamingDedup.bandedCandidatesStateful(
        src.toDF().toDF("doc_id", "text", "is_new"),
        "doc_id", "text", "is_new", N, Bands, Rows)
      .writeStream.outputMode("append")
      .format("memory").queryName("sdd_out").start()
    try {
      batches.foreach { b => src.addData(b); q.processAllAvailable() }
      val got = spark.table("sdd_out").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, "a pair was emitted twice")
      assert(got.toSet == batchCandidates,
        s"stream ${got.length} pairs != batch ${batchCandidates.size}")
    } finally q.stop()
  }

  test("bootstrapped store: streaming only the NEW docs = full replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // the 100 TB shape: the corpus loads into group state via the
    // initial-state API (never traverses the micro-batch path), and the
    // stream carries ONLY the new side — output must equal the full
    // replay (= batch mode over old+new)
    val corpus = graft.core.Tables.table(spark, sf0001, "documents")
      .where(col("doc_id") < Split)
    val newRows = docsDf.as[(Long, String, Boolean)].collect().filter(_._3)
    val batches = Seq(newRows.filter(_._1 % 2 == 0), newRows.filter(_._1 % 2 == 1))
    val src = MemoryStream[(Long, String, Boolean)]
    val q = StreamingDedup.bandedCandidatesStateful(
        src.toDF().toDF("doc_id", "text", "is_new"),
        "doc_id", "text", "is_new", N, Bands, Rows,
        bootstrapOpt = Some(corpus))
      .writeStream.outputMode("append")
      .format("memory").queryName("sdb_out").start()
    try {
      batches.foreach { b => src.addData(b.toSeq); q.processAllAvailable() }
      val got = spark.table("sdb_out").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, "a pair was emitted twice")
      assert(got.toSet == batchCandidates,
        s"bootstrapped ${got.length} pairs != full replay ${batchCandidates.size}")
    } finally q.stop()
  }

  test("sign-band fromKeys path: streaming = batch (embedding stream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // the banding-agnostic core under a DIFFERENT LSH family: embedding
    // sign-band keys (embed_stream's geometry) — same store, same
    // min-colliding-band rule, so stream must equal batch here too
    val keyedDf = graft.core.Tables.table(spark, sf0001, "embeddings")
      .select(col("vec_id").cast("long").as("id"),
        (col("vec_id") >= 250).as("isNew"),
        graft.functions.VecKernels.sign_bands(
          col("embedding").cast("array<double>"), dim = 64, bits = 5,
          bands = 64).as("keys"))
    val batch = StreamingDedup.bandedCandidatesStatefulFromKeys(keyedDf)
      .as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty, "no sign-band candidates — test is vacuous")
    val rows = keyedDf.as[(Long, Boolean, Seq[Long])].collect().toSeq
    val batches = Seq(rows.filter(!_._2),
      rows.filter(r => r._2 && r._1 % 2 == 0),
      rows.filter(r => r._2 && r._1 % 2 == 1))
    val src = MemoryStream[(Long, Boolean, Seq[Long])]
    val q = StreamingDedup.bandedCandidatesStatefulFromKeys(
        src.toDF().toDF("id", "isNew", "keys"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sde_out").start()
    try {
      batches.foreach { b => src.addData(b); q.processAllAvailable() }
      val got = spark.table("sde_out").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, "a pair was emitted twice")
      assert(got.toSet == batch,
        s"stream ${got.length} pairs != batch ${batch.size}")
    } finally q.stop()
  }

  /** The sign-band keyed frame (embed_stream's geometry) — sf0.001
    * buckets reach 45 members, so small caps genuinely saturate and the
    * overflow policy has real witnesses. */
  private def signKeyed = graft.core.Tables.table(spark, sf0001, "embeddings")
    .select(col("vec_id").cast("long").as("id"),
      (col("vec_id") >= 250).as("isNew"),
      graft.functions.VecKernels.sign_bands(
        col("embedding").cast("array<double>"), dim = 64, bits = 5,
        bands = 64).as("keys"))

  test("hot-bucket cap: capped pairs + overflow recovery = uncapped, any cap") {
    val uncapped = StreamingDedup.bandedCandidatesStatefulFromKeys(signKeyed)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.nonEmpty, "no uncapped candidates — test is vacuous")
    for (cap <- Seq(1, 4, 64)) {
      val events = StreamingDedup.statefulEventsFromKeys(signKeyed,
        maxBucket = cap).cache()
      try {
        val streamed = events.filter(!_.overflow)
          .map(e => (e.id_a, e.id_b)).collect()
        val overflowed = events.filter(_.overflow).count()
        assert(cap >= 64 || overflowed > 0,
          s"cap $cap produced no overflow — saturation not exercised")
        val recovered = StreamingDedup
          .overflowRecoveryPairs(events, signKeyed)
          .as[(Long, Long)].collect()
        // exactly-once across the two paths: no pair twice within either
        // stream, and no pair in both
        assert(streamed.length == streamed.toSet.size,
          s"cap $cap: a streamed pair was emitted twice")
        assert(recovered.length == recovered.toSet.size,
          s"cap $cap: a recovered pair was emitted twice")
        assert(streamed.toSet.intersect(recovered.toSet).isEmpty,
          s"cap $cap: a pair rode both the stream and the recovery")
        assert(streamed.toSet ++ recovered.toSet == uncapped,
          s"cap $cap: streamed ${streamed.length} + recovered " +
            s"${recovered.length} != uncapped ${uncapped.size}")
      } finally events.unpersist()
    }
  }

  test("hot-bucket cap union is schedule-invariant (streaming, cap 4)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val uncapped = StreamingDedup.bandedCandidatesStatefulFromKeys(signKeyed)
      .as[(Long, Long)].collect().toSet
    val rows = signKeyed.as[(Long, Boolean, Seq[Long])].collect().toSeq
    val batches = Seq(rows.filter(!_._2),
      rows.filter(r => r._2 && r._1 % 2 == 0),
      rows.filter(r => r._2 && r._1 % 2 == 1))
    val src = MemoryStream[(Long, Boolean, Seq[Long])]
    val q = StreamingDedup.statefulEventsFromKeys(
        src.toDF().toDF("id", "isNew", "keys"), maxBucket = 4)
      .writeStream.outputMode("append")
      .format("memory").queryName("sdc_out").start()
    try {
      batches.foreach { b => src.addData(b); q.processAllAvailable() }
      val events = spark.table("sdc_out")
        .as[StreamingDedup.StoreEvent]
      val streamed = events.filter(!_.overflow)
        .map(e => (e.id_a, e.id_b)).collect()
      val recovered = StreamingDedup
        .overflowRecoveryPairs(events, signKeyed)
        .as[(Long, Long)].collect()
      assert(streamed.length == streamed.toSet.size, "a pair emitted twice")
      assert(streamed.toSet.intersect(recovered.toSet).isEmpty,
        "a pair rode both paths")
      assert(streamed.toSet ++ recovered.toSet == uncapped,
        s"streamed ${streamed.length} + recovered ${recovered.length} " +
          s"!= uncapped ${uncapped.size}")
    } finally q.stop()
  }

  test("pairs-only view fails loudly on overflow; retention+bootstrap refused") {
    // the pairs-only wrapper has no channel for overflow routing
    // records, so saturation there must be a task failure, never a
    // silently smaller pair set
    val ex = intercept[org.apache.spark.SparkException] {
      StreamingDedup.bandedCandidatesStatefulFromKeys(signKeyed,
        maxBucket = 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("overflowed maxBucket")),
      s"expected the overflow IllegalStateException, got: ${ex.getMessage}")
    // an initial-state group registers no event-time timeout, so a
    // horizon-bounded store cannot be bootstrapped — refused at call time
    val bad = intercept[IllegalArgumentException] {
      StreamingDedup.statefulEventsFromKeys(signKeyed,
        bootstrapOpt = Some(signKeyed),
        retention = Some(StreamingDedup.Retention(1000L)))
    }
    assert(bad.getMessage.contains("bootstrap"), bad.getMessage)
  }

  test("unique-id guard: a replayed document does not re-emit or re-pair") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val rows = docsDf.as[(Long, String, Boolean)].collect().toSeq
    val src = MemoryStream[(Long, String, Boolean)]
    val q = StreamingDedup.bandedCandidatesStateful(
        src.toDF().toDF("doc_id", "text", "is_new"),
        "doc_id", "text", "is_new", N, Bands, Rows)
      .writeStream.outputMode("append")
      .format("memory").queryName("sdr_out").start()
    try {
      src.addData(rows); q.processAllAvailable()
      // full upstream replay: every id re-ingested in a second batch
      src.addData(rows); q.processAllAvailable()
      val got = spark.table("sdr_out").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, "replay duplicated a pair")
      assert(got.toSet == batchCandidates,
        s"replayed stream ${got.length} pairs != single ingest " +
          s"${batchCandidates.size}")
    } finally q.stop()
    // batch mode: the same guard catches an in-batch duplicate row
    val doubled = docsDf.unionAll(docsDf)
    val batchGot = StreamingDedup.bandedCandidatesStateful(
        doubled, "doc_id", "text", "is_new", N, Bands, Rows)
      .as[(Long, Long)].collect()
    assert(batchGot.length == batchGot.toSet.size,
      "batch duplicate row duplicated a pair")
    assert(batchGot.toSet == batchCandidates,
      "batch duplicate rows changed the pair set")
  }

  test("oversized bootstrap bucket: strict default refuses, opt-in truncates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // one shared single-band bucket: corpus ids 1..6 against a cap-3 store
    val K = Seq(5L)
    val corpus = Seq(6L, 4L, 2L, 1L, 5L, 3L).map(id => (id, false, K))
      .toDF("id", "isNew", "keys")
    val arrivals = Seq((10L, true, K)).toDF("id", "isNew", "keys")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    // STRICT DEFAULT: bootstrap rows emit no overflow records, so pairs
    // against a dropped member would be silently unrecoverable — the
    // store must refuse the oversized bucket, not shrink it quietly
    val ex = intercept[org.apache.spark.SparkException] {
      StreamingDedup.statefulEventsFromKeys(arrivals,
        bootstrapOpt = Some(corpus), maxBucket = 3).collect()
    }
    assert(messages(ex).exists(m => m != null && m.contains("bootstrap bucket")),
      s"expected the strict bootstrap refusal, got: ${ex.getMessage}")
    // OPT-IN truncation: only {1,2,3} are live members; the arriving new
    // doc pairs against exactly those and overflows (bucket at cap)
    val src = MemoryStream[(Long, Boolean, Seq[Long])]
    val q = StreamingDedup.statefulEventsFromKeys(
        src.toDF().toDF("id", "isNew", "keys"),
        bootstrapOpt = Some(corpus), maxBucket = 3, truncateBootstrap = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("sdb2_out").start()
    try {
      src.addData(Seq((10L, true, K))); q.processAllAvailable()
      val events = spark.table("sdb2_out")
        .as[StreamingDedup.StoreEvent].collect()
      val pairs = events.filter(!_.overflow).map(e => (e.id_a, e.id_b)).toSet
      assert(pairs == Set((1L, 10L), (2L, 10L), (3L, 10L)),
        s"pairs $pairs != truncated-store set {(1,10),(2,10),(3,10)}")
      assert(events.count(_.overflow) == 1 &&
        events.filter(_.overflow).head.id_a == 10L,
        "the arrival at the saturated bootstrap bucket must overflow")
    } finally q.stop()
  }

  test("overflow recovery dedups replayed routing records") {
    // a re-ingest of an id whose first copy overflowed emits a second
    // identical routing record — the batch pass must not double the
    // recovered pairs
    val keyed = Seq((10L, true, Seq(5L)), (11L, true, Seq(5L)))
      .toDF("id", "isNew", "keys")
    val ev = Seq(
      StreamingDedup.StoreEvent(10L, -1L, 0, 5L, overflow = true),
      StreamingDedup.StoreEvent(10L, -1L, 0, 5L, overflow = true), // replay
      StreamingDedup.StoreEvent(11L, -1L, 0, 5L, overflow = true)).toDS()
    val rec = StreamingDedup.overflowRecoveryPairs(ev, keyed)
      .as[(Long, Long)].collect().toSeq
    assert(rec == Seq((10L, 11L)),
      s"expected exactly one recovered pair, got $rec")
  }

  test("state version guard: incompatible checkpointed state fails actionably") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val h = StreamingDedup.handler(maxBucket = 8, retention = None)
    val doc = StreamingDedup.BandDoc(0, 5L, 1L, isNew = true, Seq(5L), None)
    val oldState = TestGroupState.create[StreamingDedup.BandState](
      Optional.of(StreamingDedup.BandState(
        StreamingDedup.StateVersion - 1, Seq.empty)),
      GroupStateTimeout.NoTimeout, 0L, Optional.empty[Long](),
      hasTimedOut = false)
    val ex = intercept[IllegalStateException] {
      h((0, 5L), Iterator(doc), oldState).toSeq
    }
    assert(ex.getMessage.contains("state version") &&
      ex.getMessage.contains("fresh checkpoint"), ex.getMessage)
    // same-version state processes normally
    val curState = TestGroupState.create[StreamingDedup.BandState](
      Optional.of(StreamingDedup.BandState(
        StreamingDedup.StateVersion,
        Seq(StreamingDedup.BandMember(2L, false, Seq(5L), 0L)))),
      GroupStateTimeout.NoTimeout, 0L, Optional.empty[Long](),
      hasTimedOut = false)
    val out = h((0, 5L), Iterator(doc), curState).toSeq
    assert(out == Seq(StreamingDedup.StoreEvent(1L, 2L, 0, 5L, overflow = false)))
  }

  test("retention: a null event time fails the task, never epoch-0 eviction") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val h = StreamingDedup.handler(maxBucket = 8,
      retention = Some(StreamingDedup.Retention(1000L)))
    val nullTs = StreamingDedup.BandDoc(0, 5L, 1L, isNew = true, Seq(5L), None)
    val state = TestGroupState.create[StreamingDedup.BandState](
      Optional.empty[StreamingDedup.BandState](),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(100L),
      hasTimedOut = false)
    val ex = intercept[IllegalStateException] {
      h((0, 5L), Iterator(nullTs), state).toSeq
    }
    assert(ex.getMessage.contains("null event time"), ex.getMessage)
  }

  test("state size matches the prefix-key design bill (stateOperators)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val rows = signKeyed.as[(Long, Boolean, Seq[Long])].collect().toSeq
    // the design bill: one state row per non-empty (band, key) bucket,
    // and per doc its prefixes sum to bands(bands+1)/2 key longs
    val exploded = signKeyed.select(posexplode(col("keys")).as(Seq("band", "key")))
    val expectedRows = exploded.select("band", "key").distinct().count()
    val prefixLongs = exploded.agg(sum(col("band") + 1)).as[Long].head()
    val src = MemoryStream[(Long, Boolean, Seq[Long])]
    val q = StreamingDedup.bandedCandidatesStatefulFromKeys(
        src.toDF().toDF("id", "isNew", "keys"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sds_out").start()
    try {
      src.addData(rows); q.processAllAvailable()
      src.addData(Seq.empty[(Long, Boolean, Seq[Long])]); q.processAllAvailable()
      val st = q.recentProgress.flatMap(_.stateOperators)
        .filter(_.numRowsTotal > 0).last
      assert(st.numRowsTotal == expectedRows,
        s"state rows ${st.numRowsTotal} != ${expectedRows} buckets")
      // memory bill: prefix key longs + bookkeeping per membership +
      // per-row store overhead. Measured: 17.4 MB for 1.04M prefix longs
      // / 32k memberships / 2048 buckets — ~1.9x the raw payload (the
      // HDFS-backed store holds each bucket as one UnsafeRow pair). The
      // 24 B/long roof keeps ~1.6x headroom over that while a
      // keys-not-prefix regression (bands^2 longs per doc, ~31 MB here)
      // trips it
      val memberships = exploded.count()
      val budget = 24L * prefixLongs + 64L * memberships + 512L * expectedRows
      assert(st.memoryUsedBytes > 0, "store reported no memory")
      info(s"state: ${st.numRowsTotal} rows, ${st.memoryUsedBytes} B " +
        s"(budget $budget B, $prefixLongs prefix longs, $memberships memberships)")
      assert(st.memoryUsedBytes < budget,
        s"state ${st.memoryUsedBytes} B exceeds the design budget $budget B")
    } finally q.stop()
  }

  test("retention: expired members stop pairing; live-horizon pairs kept") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // base offset keeps every event strictly above the initial watermark
    // (an event AT the epoch boundary is filtered as late data)
    def ts(sec: Long) = new java.sql.Timestamp((1000000L + sec) * 1000L)
    val X = Seq(7L)   // one shared bucket for the docs under test
    val Y = Seq(8L)   // a disjoint bucket that advances the watermark
    // (id, isNew, keys, ts); horizon 10 s, watermark delay 0. The handler
    // sees the PREVIOUS batch's watermark, so batch 3's arrivals pair
    // against members still live at wm = 8 s, batch 5's at wm = 30 s.
    val batches = Seq(
      Seq((1L, false, X, ts(0)), (2L, true, X, ts(5))), // pair (1,2)
      Seq((9L, true, Y, ts(8))),                        // wm -> 8 s
      Seq((3L, true, X, ts(9))),   // wm 8: 1,2 live (0+10, 5+10 > 8) -> pairs
      Seq((10L, true, Y, ts(30))), // wm 9: 9 live -> pair (9,10); wm -> 30 s
      Seq((4L, true, X, ts(31))))  // wm 30: 1,2,3 all expired -> no pairs
    val src = MemoryStream[(Long, Boolean, Seq[Long], java.sql.Timestamp)]
    val q = StreamingDedup.bandedCandidatesStatefulFromKeys(
        src.toDF().toDF("id", "isNew", "keys", "ts"),
        retention = Some(StreamingDedup.Retention(horizonMs = 10000L)))
      .writeStream.outputMode("append")
      .format("memory").queryName("sdt_out").start()
    try {
      batches.foreach { b => src.addData(b); q.processAllAvailable() }
      val got = spark.table("sdt_out").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (9L, 10L)),
        s"retained pairs $got != live-horizon set {(1,2),(1,3),(2,3),(9,10)}")
      // wholly-expired groups drain via event-time timeout: bucket X's
      // members all expired at wm 30; two more watermark advances give
      // the timeout a chance to fire and remove the group
      src.addData(Seq((11L, true, Y, ts(60)))); q.processAllAvailable()
      src.addData(Seq((12L, true, Y, ts(61)))); q.processAllAvailable()
      val st = q.recentProgress.flatMap(_.stateOperators)
        .filter(_.numRowsTotal > 0).last
      assert(st.numRowsTotal == 1,
        s"expired bucket not drained: ${st.numRowsTotal} state rows != 1 (Y)")
    } finally q.stop()
  }

  test("retention bounds state to the live horizon (measured plateau)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // 12 batches x 50 docs, every doc its own (band, key) bucket, event
    // time advancing 10 s per batch, horizon 25 s -> only ~3 batches of
    // buckets can be live at once. An unbounded store would hold all
    // 600 buckets; the retained one must plateau near 150 (plus the
    // timeout-lag slack of one batch — expiry is processed when the
    // group is next touched or times out, both watermark-driven).
    def ts(sec: Long) = new java.sql.Timestamp((1000000L + sec) * 1000L)
    val src = MemoryStream[(Long, Boolean, Seq[Long], java.sql.Timestamp)]
    val q = StreamingDedup.bandedCandidatesStatefulFromKeys(
        src.toDF().toDF("id", "isNew", "keys", "ts"),
        retention = Some(StreamingDedup.Retention(horizonMs = 25000L)))
      .writeStream.outputMode("append")
      .format("memory").queryName("sdp_out").start()
    try {
      (0 until 12).foreach { i =>
        val docs = (0 until 50).map { j =>
          val id = i * 50L + j
          (id, true, Seq(10000L + id), ts(i * 10L))
        }
        src.addData(docs); q.processAllAvailable()
      }
      val rows = q.recentProgress.flatMap(_.stateOperators)
        .filter(_.numRowsTotal > 0).map(_.numRowsTotal)
      assert(rows.last <= 250,
        s"retained state ${rows.last} rows — no plateau (600 buckets touched)")
      assert(rows.max <= 250,
        s"retained state peaked at ${rows.max} rows — eviction lagging")
      assert(rows.last >= 100, s"state ${rows.last} below the live window " +
        "— retention evicting too eagerly")
    } finally q.stop()
  }

  test("restart from checkpoint: state recovers, pairs stay exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // the operational property behind "continuous-ingest": a query
    // stopped between micro-batches and restarted from its checkpoint
    // must resume the SAME store — no pair lost (state recovered), no
    // pair doubled (offsets recovered). File sink + checkpoint is the
    // fault-tolerant pairing Structured Streaming guarantees.
    val root = java.nio.file.Files
      .createTempDirectory("sdd_restart").toString
    val rows = signKeyed.as[(Long, Boolean, Seq[Long])].collect().toSeq
    val batches = Seq(rows.filter(!_._2),
      rows.filter(r => r._2 && r._1 % 2 == 0),
      rows.filter(r => r._2 && r._1 % 2 == 1))
    val src = MemoryStream[(Long, Boolean, Seq[Long])]
    def start() = StreamingDedup.bandedCandidatesStatefulFromKeys(
        src.toDF().toDF("id", "isNew", "keys"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .format("parquet").option("path", s"$root/out").start()
    val q1 = start()
    try {
      batches.take(2).foreach { b => src.addData(b); q1.processAllAvailable() }
    } finally q1.stop()
    val q2 = start()
    try {
      src.addData(batches(2)); q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(s"$root/out")
      .as[(Long, Long)].collect()
    val expected = StreamingDedup.bandedCandidatesStatefulFromKeys(signKeyed)
      .as[(Long, Long)].collect().toSet
    assert(got.length == got.toSet.size,
      "restart doubled a pair (offsets not recovered)")
    assert(got.toSet == expected,
      s"restarted stream ${got.length} pairs != batch ${expected.size} " +
        "(state not recovered)")
  }

  test("verified stateful pairs = the exact incremental pair set") {
    val d = graft.core.Tables.table(spark, sf0001, "documents")
    val exact = graft.operators.Dedup.incrementalJaccardPairs(
        d.where(col("doc_id") < Split), d.where(col("doc_id") >= Split),
        "doc_id", "text", N, Tau)
      .as[(Long, Long, Double)].collect().toSet
    val side = d.select(col("doc_id").as("id"),
        graft.functions.TextKernels.shingle_hashes(col("text"), lit(N)).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("id"), sort_array(col("sh")).as("shs"))
    val cand = StreamingDedup.bandedCandidatesStateful(
      docsDf, "doc_id", "text", "is_new", N, Bands, Rows).toDF()
    val inter = graft.functions.VecKernels
      .sorted_intersect_count(col("sh_a"), col("sh_b"))
    val got = cand
      .join(side.select(col("id").as("id_a"), col("shs").as("sh_a")), "id_a")
      .join(side.select(col("id").as("id_b"), col("shs").as("sh_b")), "id_b")
      .withColumn("jaccard", round(inter.cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - inter), 6))
      .where(col("jaccard") >= Tau)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == exact,
      s"banded-verified ${got.size} != exact incremental ${exact.size}")
    assert(got.nonEmpty, "no incremental pairs at this split — vacuous")
  }
}
