package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val H = 3600L * 1000 * 1000 * 1000 // 1h in ns

  test("hourly windowed counts over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.hourlyCounts(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("hourly_out").start()
    try {
      // two events in hour 0, one in hour 1, then a late-hour event to
      // push the watermark past hour 1 so both windows close
      mem.addData((1L, 10L * 60 * 1000000000L, 1L, "click", 1.0),
        (2L, 20L * 60 * 1000000000L, 2L, "click", 2.0),
        (3L, H + 10L * 60 * 1000000000L, 1L, "view", 1.0))
      q.processAllAvailable()
      mem.addData((4L, 3 * H, 3L, "click", 1.0))
      q.processAllAvailable()
      val out = spark.table("hourly_out")
        .select("w_start", "event_type", "n_events").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(out.contains((0L, "click", 2L)))
      assert(out.contains((3600L, "view", 1L)))
    } finally q.stop()
  }

  test("hourly counts over a native-timestamp stream (normalizeEventTs parity)") {
    // the same pipeline fed the NEW testdata layout — `ts` arrives as a
    // real TIMESTAMP column — normalized at the source to the ns-bigint
    // contract, so every streaming operator runs unmodified
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = graft.sources.Tables.normalizeEventTs(mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value"))
    assert(events.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    val q = EventStream.hourlyCounts(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("hourly_ts_out").start()
    try {
      def t(ns: Long) = new java.sql.Timestamp(ns / 1000000L)
      mem.addData((1L, t(10L * 60 * 1000000000L), 1L, "click", 1.0),
        (2L, t(20L * 60 * 1000000000L), 2L, "click", 2.0),
        (3L, t(H + 10L * 60 * 1000000000L), 1L, "view", 1.0))
      q.processAllAvailable()
      mem.addData((4L, t(3 * H), 3L, "click", 1.0))
      q.processAllAvailable()
      val out = spark.table("hourly_ts_out")
        .select("w_start", "event_type", "n_events").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(out.contains((0L, "click", 2L)))
      assert(out.contains((3600L, "view", 1L)))
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Ev]
    val q = EventStream.sessionize(mem.toDS(), gapNs = 1800L * 1000000000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      // user 7: two events 10min apart (one session), then one 2h later
      // (closes the first session). Base offset keeps event times off
      // epoch 0 — a row at exactly the initial watermark is dropped.
      val B = 100 * H
      mem.addData(EventStream.Ev(1, B, 7L), EventStream.Ev(2, B + 600L * 1000000000L, 7L))
      q.processAllAvailable()
      mem.addData(EventStream.Ev(3, B + 2 * H, 7L))
      q.processAllAvailable()
      val out = spark.table("sessions_out")
        .select("user_id", "n_events", "duration_s", "closed").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(out.contains((7L, 2L, 600L, true)))
    } finally q.stop()
  }

  test("native session_window stream matches the batch e9 session shape") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.sessionCounts(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("swin_out").start()
    try {
      val B = 100 * H
      val M = 60L * 1000000000L
      // user 7: events 10 min apart (one session), then 2h later (new
      // session); the far-future row pushes the watermark so the first
      // two sessions close and emit in Append mode
      mem.addData((1L, B, 7L, "c", 1.0), (2L, B + 10 * M, 7L, "c", 1.0),
        (3L, B + 2 * H, 7L, "c", 1.0))
      q.processAllAvailable()
      mem.addData((4L, B + 9 * H, 8L, "c", 1.0))
      q.processAllAvailable()
      val got = spark.table("swin_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // batch reference: the SAME session_window operator on a static
      // frame (the e9 shape) over the closed-session subset
      val batch = Seq((1L, B, 7L), (2L, B + 10 * M, 7L), (3L, B + 2 * H, 7L))
        .toDF("event_id", "ts", "user_id")
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .groupBy(col("user_id"), session_window(col("ets"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_timestamp(col("sw.start")), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.subsetOf(got), s"stream $got must cover batch $batch")
      assert(got.exists(_ == ((7L, B / 1000000000L, 2L))),
        s"two-event session must merge: $got")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark emits each event_id once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.dedupedEvents(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      val B = 100 * H
      // duplicate delivery of event 1 in the same batch and again in a
      // later batch, all within the watermark horizon
      mem.addData((1L, B, 1L, "click", 1.0), (1L, B, 1L, "click", 1.0),
        (2L, B + 60L * 1000000000L, 2L, "view", 1.0))
      q.processAllAvailable()
      mem.addData((1L, B, 1L, "click", 1.0),
        (3L, B + 120L * 1000000000L, 3L, "click", 1.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id").collect()
        .map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks within the window") {
    implicit val sqlCtx = spark.sqlContext
    val impMem = MemoryStream[(Long, Long, Long)]
    val clkMem = MemoryStream[(Long, Long, Long)]
    val imps = impMem.toDF().toDF("event_id", "ts", "user_id")
    val clks = clkMem.toDF().toDF("event_id", "ts", "user_id")
    val q = EventStream.impressionClickJoin(imps, clks, windowMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("joined_out").start()
    try {
      val B = 100 * H
      val M = 60L * 1000000000L
      impMem.addData((10L, B, 1L), (11L, B, 2L))
      // user 1 clicks 10min after impression (match); user 2 clicks 2h
      // later (outside the interval — no match); user 3 never saw one
      clkMem.addData((20L, B + 10 * M, 1L), (21L, B + 120 * M, 2L),
        (22L, B + 5 * M, 3L))
      q.processAllAvailable()
      val out = spark.table("joined_out")
        .select("imp_id", "clk_id", "user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(out == Set((10L, 20L, 1L)), s"got $out")
    } finally q.stop()
  }

  test("stream-stream LEFT-OUTER attribution emits unconverted impressions after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val impMem = MemoryStream[(Long, Long, Long)]
    val clkMem = MemoryStream[(Long, Long, Long)]
    val imps = impMem.toDF().toDF("event_id", "ts", "user_id")
    val clks = clkMem.toDF().toDF("event_id", "ts", "user_id")
    val q = EventStream.impressionClickAttribution(imps, clks, windowMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      val H = 3600L * 1000000000L
      val B = 100 * H
      val M = 60L * 1000000000L
      // imp 10 converts (click 10 min later); imp 11's click is 2 h
      // late (outside the interval) — it must STILL emit, null-padded,
      // but only once the watermark proves no qualifying click remains
      impMem.addData((10L, B, 1L), (11L, B, 2L))
      clkMem.addData((20L, B + 10 * M, 1L), (21L, B + 120 * M, 2L))
      q.processAllAvailable()
      // advance BOTH watermarks well past imp_ets + 30min + 1h delay
      impMem.addData((12L, B + 10 * H, 9L))
      clkMem.addData((29L, B + 10 * H, 9L))
      q.processAllAvailable()
      val out = spark.table("attr_out")
        .select("imp_id", "user_id", "clk_id", "converted").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSet
      assert(out.contains((10L, 1L, 20L, true)), s"converted pair: $out")
      assert(out.contains((11L, 2L, -1L, false)),
        s"unconverted impression must surface null-padded: $out")
      assert(!out.exists(o => o._1 == 11L && o._4),
        s"the out-of-window click must not attribute: $out")
    } finally q.stop()
  }

  test("streaming latest-per-key converges to the batch e8 compaction") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Rec]
    val q = EventStream.latestPerKey(mem.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("latest_out").start()
    try {
      val rows = Seq(
        EventStream.Rec(1L, "click", 100L, 50L, 1.0),
        EventStream.Rec(1L, "click", 101L, 70L, 2.0),
        EventStream.Rec(2L, "view", 102L, 10L, 3.0))
      mem.addData(rows.take(2): _*)
      q.processAllAvailable()
      // batch 2: an OLDER record for (1,click) must not displace the
      // newer one; a same-ts tie for (2,view) resolves by event_id
      val rows2 = Seq(
        EventStream.Rec(1L, "click", 99L, 60L, 9.0),
        EventStream.Rec(2L, "view", 103L, 10L, 4.0))
      mem.addData(rows2: _*)
      q.processAllAvailable()
      // last Update-mode emission per key = converged state
      val emitted = spark.table("latest_out").collect()
        .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
      val converged = emitted.zipWithIndex
        .groupBy(_._1._1).map { case (k, vs) => k -> vs.maxBy(_._2)._1._2 }
      // batch reference: window rank over the union of all rows
      val all = (rows ++ rows2)
      val expect = all.groupBy(r => (r.user_id, r.event_type))
        .map { case (k, rs) => k -> rs.maxBy(r => (r.ts, r.event_id)).event_id }
      assert(converged === expect, s"got $converged")
    } finally q.stop()
  }

  test("streaming distinct sketch state equals the batch KMV signature") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val k = 8
    val mem = MemoryStream[EventStream.Rec]
    val q = EventStream.distinctSketch(mem.toDF(), k)
      .writeStream.outputMode("update")
      .format("memory").queryName("sketch_out").start()
    try {
      // 30 users across two types, split over three batches with
      // CROSS-BATCH DUPLICATES (users 0-4 re-sent twice) — idempotence
      // means replays cannot perturb the signature
      def rec(u: Long, t: String) = EventStream.Rec(u, t, u * 10, u, 1.0)
      val b1 = (0L to 9L).map(rec(_, "click")) ++ (0L to 4L).map(rec(_, "view"))
      val b2 = (10L to 19L).map(rec(_, "click")) ++ (0L to 4L).map(rec(_, "click"))
      val b3 = (20L to 29L).map(rec(_, "click")) ++ (0L to 4L).map(rec(_, "click"))
      Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val emitted = spark.table("sketch_out").collect().zipWithIndex
      val last = emitted.groupBy(_._1.getString(0))
        .map { case (t, vs) => t -> vs.maxBy(_._2)._1 }
      // batch reference over the SAME union of rows
      val all = (b1 ++ b2 ++ b3).toDF()
      val ref = all
        .select(org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("user_id")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.KmvSketch.signature(k)(
          org.apache.spark.sql.functions.col("h")).as("sig"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(last.keySet == ref.keySet)
      for ((t, row) <- last) {
        assert(row.getSeq[Long](3) == ref(t),
          s"stream signature for $t diverged from batch")
      }
      // 'view' saw only 5 distinct users < k: the estimate is EXACT
      assert(last("view").getBoolean(1) && last("view").getDouble(2) == 5.0)
    } finally q.stop()
  }

  test("foreachBatch warehouse sink converges to the batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("wh_sink").toString + "/hourly"
    val q = EventStream.hourlyCountsToWarehouse(events, dir).start()
    try {
      val M = 60L * 1000000000L
      mem.addData((1L, 10 * M, 1L, "click", 1.0), (2L, 20 * M, 2L, "click", 1.0))
      q.processAllAvailable()
      // batch 2 updates hour 0 (same partition rewritten) and adds hour 1
      mem.addData((3L, 30 * M, 3L, "click", 1.0), (4L, 70 * M, 1L, "view", 1.0))
      q.processAllAvailable()
      // partition-directory values are re-inferred on read (ints here)
      val table = spark.read.parquet(dir)
        .select(org.apache.spark.sql.functions.col("w_start").cast("long"),
          org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("n_events")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(table === Set((0L, "click", 3L), (3600L, "view", 1L)), s"got $table")
    } finally q.stop()
  }

  test("streaming merge-upsert dim converges to the batch aggregate (q43 shape)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("upsert_dim").toString
    val q = EventStream.upsertUserSummary(events, dir).start()
    try {
      // batch 0: users 1, 2 (inserts)
      mem.addData((1L, 1L, 1L, "click", 1.50), (2L, 2L, 2L, "click", 2.25))
      q.processAllAvailable()
      // batch 1: user 2 again (update) + user 3 (insert)
      mem.addData((3L, 3L, 2L, "view", 0.75), (4L, 4L, 3L, "view", 4.00))
      q.processAllAvailable()
      val got = EventStream.latestUserSummary(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // batch-side truth: groupBy over ALL rows (150+225=375 etc.)
      assert(got === Set((1L, 1L, 150L), (2L, 2L, 300L), (3L, 1L, 400L)),
        s"got $got")
      // MVCC history: every micro-batch committed an immutable version
      // carrying its batch id, and the intermediate one holds only
      // batch-0 state
      import graft.sources.ManifestTable
      val v0 = ManifestTable.versionOfTxn(spark, dir, 0L)
      assert(v0.isDefined && ManifestTable.versionOfTxn(spark, dir, 1L)
        .contains(ManifestTable.latestVersion(spark, dir)))
      val first = ManifestTable.readVersion(spark, dir, v0.get).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(first === Set((1L, 1L, 150L), (2L, 1L, 225L)), s"v0: $first")
      // Commit gating: a crash-interrupted commit is pool files and a
      // temp manifest that were never renamed into place; neither may
      // ever become "latest"
      val pool = new java.io.File(dir, "_pool"); pool.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "_pool", "v99_part-00000.parquet"), "torn")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "_manifest_tmp_v99_1"),
        "[\"v99_part-00000.parquet\"]")
      val still = EventStream.latestUserSummary(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(still === got, s"a torn commit must be invisible: $still")
      val versions = ManifestTable.committedVersions(spark, dir).sorted
      // a REPLAYED batch (fresh checkpoint, same batch id 0) finds its
      // txn committed and publishes nothing
      val mem2 = MemoryStream[(Long, Long, Long, String, Double)]
      val q2 = EventStream.upsertUserSummary(
          mem2.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
          dir)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("upsert_ck2").toString)
        .start()
      try {
        mem2.addData((1L, 1L, 1L, "click", 1.50), (2L, 2L, 2L, "click", 2.25))
        q2.processAllAvailable()
      } finally q2.stop()
      assert(ManifestTable.committedVersions(spark, dir).sorted === versions)
      assert(EventStream.latestUserSummary(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === got)
    } finally q.stop()
  }

  test("streaming minhash candidates match batch minhashPairs in one horizon") {
    implicit val sqlCtx = spark.sqlContext
    // synthetic corpus with engineered near-dups: shared long bodies
    // with small edits (high Jaccard) plus unrelated filler docs
    val base = Seq(
      "the quick brown fox jumps over the lazy dog while the band plays on and the crowd cheers loudly in the summer evening air",
      "completely different content about distributed query engines shuffling partitions across executors under adaptive execution",
      "yet another unrelated document discussing parquet row groups column chunks page headers and dictionary encodings at length")
    val docs: Seq[(Long, String)] = (0 until 30).map { i =>
      val b = base(i % 3)
      val text = if (i < 6) b + s" tail${i / 3}" else s"doc $i " + b.reverse.drop(i) + s" unique padding $i $i $i"
      (i.toLong, text)
    }
    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "ts")
    val q = graft.streaming.DocStream.minhashCandidates(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("minhash_out").start()
    try {
      val M = 60L * 1000000000L
      mem.addData(docs.map { case (id, t) => (id, t, (10 + id) * M) }: _*)
      q.processAllAvailable()
      val got = spark.table("minhash_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = graft.operators.Dedup
        .minhashPairs(docs.toDF("doc_id", "text"), minEst = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(expect.nonEmpty, "fixture must contain near-dup pairs")
      assert(got === expect, s"stream $got vs batch $expect")
    } finally q.stop()
  }

  test("streaming ppjoin admission equals batch exact cross-set pairs (lossless gate)") {
    implicit val sqlCtx = spark.sqlContext
    // corpus at rest: 4 docs; stream: exact dup, near dup (tail edit),
    // borderline, unrelated — the gate must emit exactly the J≥0.6
    // stream×corpus pairs with exact scores
    val corpusDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight again"),
      (101L, "completely different content about spark query engines and columnar formats on large clusters"),
      (102L, "parquet row groups column chunks page headers and dictionary encodings discussed at great length"),
      (103L, "a tiny one"))
    val arriving = Seq(
      (1L, corpusDocs.head._2),                                   // exact dup of 100
      (2L, corpusDocs.head._2.replace("tonight again", "at dawn")), // near dup of 100
      (3L, "entirely novel text with no overlap whatsoever to anything stored so far anywhere"),
      (4L, corpusDocs(1)._2 + " extra trailing words appended here"))
    val corpus = corpusDocs.toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "ts")
    val q = graft.streaming.DocStream.ppjoinAdmission(stream, corpus)
      .writeStream.outputMode("append")
      .format("memory").queryName("ppjoin_adm").start()
    try {
      val M = 60L * 1000000000L
      mem.addData(arriving.map { case (id, t) => (id, t, (10 + id) * M) }: _*)
      q.processAllAvailable()
      val got = spark.table("ppjoin_adm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // batch truth: exact word-3-gram Jaccard, stream×corpus cross set
      def gramsOf(t: String) = t.toLowerCase
        .split("[^a-z0-9]+").filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet
      val brute = (for {
        (sid, st) <- arriving; (cid, ct) <- corpusDocs
        sg = gramsOf(st); cg = gramsOf(ct)
        common = (sg & cg).size.toLong
        union = (sg.size + cg.size - common).toLong
        if union > 0 && 10000 * common >= 6000 * union
      } yield (sid, cid, 10000 * common / union)).toSet
      assert(brute.exists(_._3 == 10000L), "fixture must contain an exact dup")
      assert(brute.exists(p => p._3 < 10000L), "fixture must contain a near dup")
      assert(got === brute, s"stream $got vs batch truth $brute")
      assert(!got.exists(_._1 == 3L), "novel doc must pass the gate")
    } finally q.stop()
  }

  test("streaming containment candidates match batch minhashContainmentPairs (d18 ratio)") {
    implicit val sqlCtx = spark.sqlContext
    // Engineered subset-duplication pairs: doc 2i+1 is a strict PREFIX
    // of doc 2i covering ~85% of it — shingle containment 1.0 but
    // Jaccard ≈ 0.85, i.e. exactly the regime a symmetric 0.9 Jaccard
    // cut drops and the containment ratio must flag. Prefix subsets
    // keep the shingle sets nested (every k-gram of the prefix is a
    // k-gram of the whole), so the true containment is exactly 1.
    val bases = Seq(
      "the quick brown fox jumps over the lazy dog while the band plays on and the crowd cheers loudly in the summer evening air near the old wooden bridge by the river bend",
      "distributed query engines shuffle partitions across executors under adaptive execution while columnar scans prune row groups and dictionary pages stream through vectorized readers",
      "parquet row groups column chunks page headers and dictionary encodings interact with predicate pushdown and bloom filters to skip irrelevant data during large table scans")
    val docs: Seq[(Long, String)] = bases.zipWithIndex.flatMap { case (b, i) =>
      Seq((2L * i, b), (2L * i + 1, b.take((b.length * 0.85).toInt)))
    } ++ (10 until 18).map(i => (i.toLong, s"unrelated filler document number $i with its own distinct vocabulary entry $i$i"))
    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "ts")
    val q = graft.streaming.DocStream.containmentCandidates(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("containment_out").start()
    try {
      val M = 60L * 1000000000L
      mem.addData(docs.map { case (id, t) => (id, t, (10 + id) * M) }: _*)
      q.processAllAvailable()
      val got = spark.table("containment_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val expect = graft.operators.Dedup
        .minhashContainmentPairs(docs.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(expect.nonEmpty, "fixture must contain containment pairs")
      assert(got === expect, s"stream $got vs batch $expect")
      // the flagged pairs must be the engineered prefix-subset pairs,
      // i.e. pairs a symmetric 0.9-Jaccard cut would NOT all keep
      assert(got.map(p => (p._1, p._2)).subsetOf(Set((0L, 1L), (2L, 3L), (4L, 5L))))
    } finally q.stop()
  }

  test("streaming quality gate + chunking matches the batch p11→p12 pipeline") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // Engineered profiles: diverse long docs (kept, multi-chunk), a
    // repetition bomb (fails top_word_bp), a low-diversity doc (fails
    // ttr), and a too-short doc (fails length).
    val vocab = ('a' to 'z').map(c => s"w$c")
    val docs: Seq[(Long, String)] = Seq(
      (1L, (0 until 80).map(i => vocab(i % 26)).mkString(" ")),
      (2L, (0 until 40).map(i => vocab((i * 7) % 26)).mkString(" ")),
      (3L, (0 until 60).map(i => if (i % 2 == 0) "spam" else vocab(i % 26)).mkString(" ")),
      (4L, (0 until 50).map(i => vocab(i % 2)).mkString(" ")),
      (5L, "tiny doc under the length floor"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream
      .qualityChunks(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("chunks_out").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("chunks_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      // Batch expectation: p11's explode→groupBy stats pick the keep
      // set, p12's chunker runs over the kept docs.
      val df = docs.toDF("doc_id", "text")
      val words = df.select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      val kept = words.groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_words"), count(lit(1)).as("n_distinct"), max("cnt").as("max_cnt"))
        .where(col("n_words").between(30, 100000) &&
          floor(lit(10000.0) * col("max_cnt") / col("n_words")) < 2000 &&
          floor(lit(10000.0) * col("n_distinct") / col("n_words")) > 300)
        .select("doc_id")
      val expect = df.join(kept, Seq("doc_id"))
        .select(col("doc_id"),
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, greatest(size(ws) - 1, 0), 24), st -> slice(ws, st + 1, 32))")))
        .select(col("doc_id"), col("pos").cast("long"),
          size(col("col")).cast("long"), array_join(col("col"), " "))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val keptIds = got.map(_._1)
      assert(keptIds === Set(1L, 2L), s"gate should keep only docs 1,2, got $keptIds")
      assert(got === expect, s"stream $got vs batch $expect")
    } finally q.stop()
  }

  test("streaming clean feed drops contaminated docs and scrubs PII (d14+d15 parity)") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((0L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val benchGrams = graft.operators.Curation.benchGramSet(bench, n = 4)
    val docs: Seq[(Long, String)] = Seq(
      (1L, "alpha beta gamma delta smuggled into training text"), // contaminated
      (2L, "mail me at bob@corp.io or dial 650-555-1234 today"), // clean, has PII
      (3L, "nothing shared and nothing private in this one"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream
      .cleanFeed(mem.toDF().toDF("doc_id", "text"), benchGrams)
      .writeStream.outputMode("append")
      .format("memory").queryName("clean_feed_out").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("clean_feed_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toMap
      // batch expectation: d14's decontaminate keeps 2 and 3; redact
      // rewrites 2's email+phone.
      val batchKept = graft.operators.Curation
        .decontaminate(bench.unionByName(docs.toDF("doc_id", "text")),
          isBench = col("doc_id") === 0, n = 4)
        .where(!col("contaminated")).collect().map(_.getLong(0)).toSet
      assert(got.keySet === batchKept)
      assert(got(2L) === "mail me at <EMAIL> or dial <PHONE> today")
      assert(got(3L) === "nothing shared and nothing private in this one")
    } finally q.stop()
  }

  test("stateful state survives a query RESTART from checkpoint (MG sketch continuity)") {
    import graft.streaming.DocStream.{DocRec, TokenSketch}
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("mg_ckpt").toString
    val mem = MemoryStream[DocRec]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[TokenSketch]
    def start() = graft.streaming.DocStream.trendingTokens(mem.toDS(), k = 4)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[TokenSketch], _: Long) =>
          emitted.synchronized { emitted ++= batch.collect() }
          ()
      }.start()
    val q1 = start()
    try {
      mem.addData(DocRec("en", 1L, "alpha alpha beta"))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart against the SAME checkpoint: the sketch must resume
    // from the stored state, not reset — batch-2 counts include
    // batch-1 history a fresh query could not know
    val q2 = start()
    try {
      mem.addData(DocRec("en", 2L, "alpha gamma"))
      q2.processAllAvailable()
      val last = emitted.synchronized {
        emitted.filter(_.lang == "en").last
      }
      val counts = last.tokens.zip(last.counts).toMap
      assert(counts("alpha") == 3L,
        s"state lost on restart: alpha should be 2 (pre-restart) + 1, got $counts")
      assert(counts("beta") == 1L && counts("gamma") == 1L, s"$counts")
    } finally q2.stop()
  }

  test("streaming funnel CEP matches the batch e26 window form; chains span batches; O(1) state") {
    import org.apache.spark.sql.functions._

    import graft.streaming.EventStream.{FunnelEv, FunnelOut}
    implicit val sqlCtx = spark.sqlContext
    val W = 100L // tiny window so boundary cases are concrete
    // per-user scripted feeds (tus, type, event_id)
    val batch1 = Seq(
      FunnelEv(1L, "view", 10L, 1L),      // chain start for u1
      FunnelEv(2L, "click", 10L, 2L),     // u2: click with NO prior view
      FunnelEv(3L, "view", 10L, 3L),      // u3: view, click arrives too late
      FunnelEv(4L, "view", 10L, 4L), FunnelEv(4L, "click", 20L, 5L))
    val batch2 = Seq(
      FunnelEv(1L, "click", 50L, 6L),     // within W of the batch-1 view
      FunnelEv(1L, "purchase", 120L, 7L), // within W of the click → EMIT
      FunnelEv(2L, "purchase", 30L, 8L),  // no qualifying click → silent
      FunnelEv(3L, "click", 200L, 9L),    // view was 190 ago > W → not qualified
      FunnelEv(3L, "purchase", 210L, 10L),
      FunnelEv(4L, "purchase", 121L, 11L)) // click at 20, gap 101 > W → silent
    val mem = MemoryStream[FunnelEv]
    val q = graft.streaming.EventStream
      .funnelDetect(mem.toDS(), wUs = W)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_cep_out").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("funnel_cep_out").as[FunnelOut].collect().toSet
      assert(got == Set(FunnelOut(1L, 7L, 120L, 50L, 10L)),
        s"only u1's cross-batch chain completes: $got")
      // batch replay with e26's window logic over the same rows agrees
      import org.apache.spark.sql.expressions.Window
      val all = (batch1 ++ batch2).toDF()
      val w = Window.partitionBy("user_id").orderBy("tus").rangeBetween(-W, -1)
      val completing = all
        .withColumn("vprev", max(when($"event_type" === "view", $"tus")).over(w))
        .withColumn("qcprev", max(when($"event_type" === "click" &&
          $"vprev".isNotNull, $"tus")).over(w))
        .where($"event_type" === "purchase" && $"qcprev".isNotNull)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(completing == got.map(_.event_id))
      // O(1) state: exactly one state row per user seen
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 4L)
    } finally q.stop()
  }

  test("funnel CEP same-tus collisions: strict precedence falls back to the two-deep frontier") {
    import org.apache.spark.sql.functions._

    import graft.streaming.EventStream.{FunnelEv, FunnelOut}
    implicit val sqlCtx = spark.sqlContext
    val W = 100L
    // Every stage collides on tus somewhere; the latest-only state of
    // r12 dropped the strictly-earlier witnesses these chains need.
    val batch1 = Seq(
      // u5: view@100 arrives BEFORE the same-tus click in sort order —
      // the click must still qualify via view@50 (the advice case)
      FunnelEv(5L, "view", 50L, 12L), FunnelEv(5L, "view", 100L, 13L),
      FunnelEv(5L, "click", 100L, 14L), FunnelEv(5L, "purchase", 150L, 15L),
      // u6: all three stages at one tus and nothing earlier → silent
      FunnelEv(6L, "view", 100L, 16L), FunnelEv(6L, "click", 100L, 17L),
      FunnelEv(6L, "purchase", 100L, 18L),
      // u7: purchase tied with its only qualifying click → silent,
      // then a later purchase completes via that click
      FunnelEv(7L, "view", 10L, 19L), FunnelEv(7L, "click", 60L, 20L),
      FunnelEv(7L, "purchase", 60L, 21L), FunnelEv(7L, "purchase", 70L, 22L),
      // u8 chain start: the same-tus view pair SPANS batches
      FunnelEv(8L, "view", 50L, 23L), FunnelEv(8L, "view", 100L, 24L))
    val batch2 = Seq(
      FunnelEv(8L, "click", 100L, 25L), // cross-batch: needs prevView=50
      FunnelEv(8L, "purchase", 160L, 26L))
    val mem = MemoryStream[FunnelEv]
    val q = graft.streaming.EventStream
      .funnelDetect(mem.toDS(), wUs = W)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_cep_tie_out").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("funnel_cep_tie_out").as[FunnelOut].collect().toSet
      assert(got == Set(
        FunnelOut(5L, 15L, 150L, 100L, 50L),
        FunnelOut(7L, 22L, 70L, 60L, 10L),
        FunnelOut(8L, 26L, 160L, 100L, 50L)), s"got $got")
      // batch replay with e26's strict RANGE-to-(t-1) window agrees
      import org.apache.spark.sql.expressions.Window
      val all = (batch1 ++ batch2).toDF()
      val w = Window.partitionBy("user_id").orderBy("tus").rangeBetween(-W, -1)
      val completing = all
        .withColumn("vprev", max(when($"event_type" === "view", $"tus")).over(w))
        .withColumn("qcprev", max(when($"event_type" === "click" &&
          $"vprev".isNotNull, $"tus")).over(w))
        .where($"event_type" === "purchase" && $"qcprev".isNotNull)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(completing == got.map(_.event_id))
    } finally q.stop()
  }

  test("streaming blocklist gate matches batch p34 semantics (stateless stream-static)") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val phrases = Seq((1L, "hash join"), (2L, "slow scan"), (3L, "never appears"))
    val docs: Seq[(Long, String)] = Seq(
      (1L, "the hash join beats the slow scan here"), // matches 1 AND 2
      (2L, "a rehash joint is not a hash join boundary case rehash join"), // only real ' hash join '
      (3L, "hashjoin as one word must not match"), // boundary: no hit
      (4L, "slow scan at the start and hash at the end")) // matches 2 only
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream
      .blocklistMatches(mem.toDF().toDF("doc_id", "text"), phrases)
      .writeStream.outputMode("append")
      .format("memory").queryName("blocklist_out").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("blocklist_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pid"))).toSet
      // batch expectation: space-boundary containment, brute force
      val expected = (for {
        (did, text) <- docs
        (pid, p) <- phrases
        if s" $text ".contains(s" $p ")
      } yield (did, pid)).toSet
      assert(expected == Set((1L, 1L), (1L, 2L), (2L, 1L), (4L, 2L)))
      assert(got == expected)
      // zero state: the gate is a stream-static join, restart-safe
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming as-of enrichment equals the native batch as-of join") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.AsofIn
    // rates arrive in order per key (the declared contract); probes mix
    val rates1 = Seq(AsofIn(1L, 100L, 0, 10L, 1.5), AsofIn(2L, 50L, 0, 20L, 2.0))
    val probes1 = Seq(AsofIn(1L, 120L, 1, 500L, 0), AsofIn(2L, 40L, 1, 501L, 0))
    val rates2 = Seq(AsofIn(1L, 200L, 0, 11L, 1.7))
    val probes2 = Seq(AsofIn(1L, 200L, 1, 502L, 0), // inclusive: matches rate 11
      AsofIn(1L, 150L, 1, 503L, 0), // older probe, still rate 10... held is 11 now
      AsofIn(2L, 60L, 1, 504L, 0))
    val rMem = MemoryStream[AsofIn]; val pMem = MemoryStream[AsofIn]
    val q = graft.streaming.EventStream.asofEnrich(rMem.toDS(), pMem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_out").start()
    try {
      rMem.addData(rates1: _*); pMem.addData(probes1: _*); q.processAllAvailable()
      rMem.addData(rates2: _*); pMem.addData(probes2: _*); q.processAllAvailable()
      val got = spark.table("asof_out").collect()
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      // batch 1: probe 500 (k1 t120) -> rate 10 (t100); 501 (k2 t40) -> none
      assert(got(500L) == 10L && got(501L) == -1L)
      // batch 2: probe 502 (k1 t200) matches rate 11 inclusively;
      // 504 (k2 t60) -> rate 20 (held from batch 1)
      assert(got(502L) == 11L && got(504L) == 20L)
      // 503 (k1 t150): within THIS batch the fold is (ts, side)-ordered,
      // so rate 11 (t200) has not yet been applied when 503 folds -> it
      // sees the held rate 10 — identical to what the batch as-of gives
      assert(got(503L) == 10L)
      // cross-check the matched pairs against the native batch operator
      import spark.implicits._
      val allRates = (rates1 ++ rates2).toDF()
        .select(col("user_id").as("r_user"), col("ts").as("rts"),
          col("id").as("rate_id"))
      val allProbes = (probes1 ++ probes2).toDF()
        .select(col("user_id"), col("ts"), col("id").as("probe_id"))
      val batch = graft.plans.AsofMergeJoin.asofJoin(allProbes, allRates,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "rts",
          rightKeys = Seq("r_user"))
        .select(col("probe_id"),
          coalesce(col("rate_id"), lit(-1L)).as("rate_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === batch, s"stream $got vs native batch as-of $batch")
    } finally q.stop()
  }

  test("streaming OHLC bars converge to the batch e16 resample") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.Rec
    val M = 60L * 1000000000L
    val B = 100 * H
    // bar (click, hour 100): open decided by ts tiebreak on event_id
    // (ids 11 vs 15 at the same ts), close arrives in a LATER batch —
    // the state merge must be order-insensitive
    val batch1 = Seq(
      Rec(1L, "click", 10L, B + 5 * M, 3.25),
      Rec(2L, "click", 11L, B + 1 * M, 7.5),
      Rec(3L, "view", 12L, B + 2 * M, 1.0))
    val batch2 = Seq(
      Rec(4L, "click", 13L, B + 50 * M, -2.75),
      Rec(5L, "click", 14L, B + H + 1 * M, 4.0),
      Rec(6L, "click", 15L, B + 1 * M, 9.0))
    val mem = MemoryStream[Rec]
    val q = EventStream.ohlcBars(mem.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("ohlc_out").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      // last Update-mode emission per key = converged bar
      val snaps = spark.table("ohlc_out").collect().map(r =>
        ((r.getString(0), r.getLong(1)),
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6), r.getLong(7))))
      val got = snaps.zipWithIndex.groupBy(_._1._1)
        .map { case (k, xs) => k -> xs.maxBy(_._2)._1._2 }
      // independent reference: fold each bar from the full event set
      val expect = (batch1 ++ batch2)
        .groupBy(r => (r.event_type, (r.ts / 1000L) / 3600000000L))
        .map { case (k, rs) =>
          k -> (rs.size.toLong,
            rs.minBy(r => (r.ts, r.event_id)).value,
            rs.map(_.value).max, rs.map(_.value).min,
            rs.maxBy(r => (r.ts, r.event_id)).value,
            rs.map(r => math.floor(r.value * 1000000.0).toLong).sum)
        }
      assert(got === expect, s"stream $got vs reference $expect")
      // the tiebreak specifically: open of (click, 100) is id 11's 7.5,
      // not id 15's 9.0 (same ts, higher id)
      assert(got(("click", 100L))._2 === 7.5)
    } finally q.stop()
  }

  test("streaming Misra-Gries state equals the same-order batch fold across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocStream.DocRec
    val k = 3
    val batch1 = Seq(
      DocRec("en", 1L, "spark spark spark data data query"),
      DocRec("en", 2L, "spark table table"),
      DocRec("de", 10L, "daten daten modell"))
    val batch2 = Seq(
      DocRec("en", 3L, "spark query query engine engine engine engine"),
      DocRec("de", 11L, "daten korpus korpus"))
    val mem = MemoryStream[DocRec]
    val q = graft.streaming.DocStream.trendingTokens(mem.toDS(), k)
      .writeStream.outputMode("update")
      .format("memory").queryName("trend_out").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      // memory sink in update mode appends each emitted snapshot; the
      // LAST snapshot per lang is the current state
      val snaps = spark.table("trend_out").collect()
        .map(r => (r.getString(0), r.getSeq[String](1).zip(r.getSeq[Long](2)).toMap))
      val last = snaps.zipWithIndex.groupBy(_._1._1)
        .map { case (lang, xs) => lang -> xs.maxBy(_._2)._1._2 }
      // replay the identical fold order locally (doc_id order per batch,
      // tokens in document order)
      val agg = new graft.functions.MisraGries.MG(k)
      val tokenRe = "[a-z0-9]+".r
      def fold(b: graft.functions.MisraGries.MGBuf, docs: Seq[DocRec]) =
        docs.sortBy(_.doc_id).foldLeft(b) { (acc, d) =>
          tokenRe.findAllIn(d.text.toLowerCase).foldLeft(acc)(agg.reduce)
        }
      for (lang <- Seq("en", "de")) {
        val expect = fold(fold(agg.zero, batch1.filter(_.lang == lang)),
          batch2.filter(_.lang == lang))
        val em = expect.tokens.zip(expect.counts).toMap
        assert(last(lang) === em, s"$lang: stream ${last(lang)} vs batch $em")
      }
      // the MG guarantee across everything ingested: 'spark' appears 5×
      // of 16 en tokens > 16/(k+1)=4 → must be tracked
      assert(last("en").contains("spark"))
    } finally q.stop()
  }

  test("streaming anomalies equal the batch trailing-window z-test on an in-order feed") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.Rec
    val M = 60L * 1000000000L
    // stable series with two engineered spikes; in-order, split across
    // two micro-batches at an arbitrary point — state must carry the
    // trailing window across the batch boundary
    val vals = (0 until 60).map { i =>
      val v = if (i == 30 || i == 45) 99.0 else 10.0 + (i % 5) * 0.25
      Rec(1L, "m", i.toLong, (i + 1) * M, v)
    }
    val (b1, b2) = vals.splitAt(40)
    val mem = MemoryStream[Rec]
    val q = EventStream.anomalies(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("zout").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("zout").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      // independent reference: e18's declarative window formulation on
      // the full batch (frame semantics vs the stream's imperative fold)
      val w = Window.partitionBy("event_type")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-50, -1)
      val expect = vals.toDS().toDF()
        .withColumn("v", expr("CAST(floor(value * 100) AS BIGINT)"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("s", coalesce(sum(col("v")).over(w), lit(0L)))
        .withColumn("s2", coalesce(sum(col("v") * col("v")).over(w), lit(0L)))
        .where(col("n") >= 20 &&
          (col("n") * col("v") - col("s")) * (col("n") * col("v") - col("s")) >
            lit(9L) * (col("n") * col("s2") - col("s") * col("s")))
        .select(col("event_id"), col("n").cast("long"),
          ((col("n") * col("v") - col("s")) * (col("n") * col("v") - col("s"))).as("dev2"),
          (lit(9L) * (col("n") * col("s2") - col("s") * col("s"))).as("thr2"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(expect.nonEmpty, "fixture must contain anomalies")
      assert(got === expect, s"stream $got vs batch $expect")
      assert(got.map(_._1) === Set(30L, 45L), s"spikes must be the flags: $got")
    } finally q.stop()
  }

  test("streaming running percentiles: state carries the sketch across batches, n exact, rank bound holds") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.Rec
    import graft.functions.QuantileSketch
    val M = 60L * 1000000000L
    val rnd = new scala.util.Random(31)
    val vals = (0 until 900).map { i =>
      Rec(1L, if (i % 2 == 0) "a" else "b", i.toLong, (i + 1) * M,
        rnd.nextInt(10000) / 100.0)
    }
    val (b1, b2) = vals.splitAt(500)
    val mem = MemoryStream[Rec]
    val q = EventStream.runningPercentiles(mem.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("pctlout").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // last emission per type = the full-history running percentiles
      val got = spark.table("pctlout").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .groupBy(_._1).map { case (t, xs) =>
          // n grows monotonically, so max-n row is the final state
          t -> xs.map(_._2).maxBy(_._1)
        }
      // reference: the identical fold on the driver (same (ts, id)
      // order, same reduce) must re-produce the exact same sketch
      val agg = new QuantileSketch.QSketch(256)
      for (t <- Seq("a", "b")) {
        val cents = vals.filter(_.event_type == t)
          .sortBy(r => (r.ts, r.event_id))
          .map(r => math.floor(r.value * 100.0).toLong)
        val ref = cents.foldLeft(agg.zero)(agg.reduce)
        assert(got(t) === ((cents.size.toLong,
          QuantileSketch.quantileOf(ref, 0.5),
          QuantileSketch.quantileOf(ref, 0.9))), s"type $t")
        // and the ε rank window vs the exact sorted data
        val sorted = cents.sorted.toIndexedSeq
        def win(q0: Double, est: Long): Boolean = {
          val n = sorted.size
          val lo = math.max(1, math.ceil((q0 - 0.025) * n).toInt)
          val hi = math.min(n, math.ceil((q0 + 0.025) * n).toInt)
          sorted(lo - 1) <= est && est <= sorted(hi - 1)
        }
        assert(win(0.5, got(t)._2) && win(0.9, got(t)._3), s"rank window $t")
      }
    } finally q.stop()
  }

  test("streaming rolling median equals the batch trailing frame across a micro-batch split") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.Rec
    val M = 60L * 1000000000L
    // two users interleaved, values chosen so the median shifts at
    // every frame boundary; split mid-frame so state must carry
    val vals = (0 until 30).map { i =>
      Rec(i % 2 + 1L, "m", i.toLong, (i + 1) * M,
        Seq(10.0, 3.5, 99.25, 7.0, 42.125)(i % 5) + (i / 5))
    }
    val (b1, b2) = vals.splitAt(17)
    val mem = MemoryStream[Rec]
    val q = EventStream.rollingMedian(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("medout").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("medout").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // independent reference: e29's declarative window formulation
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
      val expect = vals.toDS().toDF()
        .withColumn("frame", array_sort(collect_list(col("value")).over(w)))
        .withColumn("med",
          expr("element_at(frame, CAST((size(frame) + 1) / 2 AS INT))"))
        .select("event_id", "user_id", "med")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === expect, s"stream $got vs batch $expect")
      assert(got.size == 30)
    } finally q.stop()
  }

  test("streaming decayed engagement converges to the one-shot e21 aggregate") {
    import org.apache.spark.sql.functions.{col, row_number}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val anchorUs = 1706745600000000L
    // ts is the batch footer contract: nanoseconds as long
    def tsAt(ageDays: Long): Long = (anchorUs - ageDays * 86400000000L) * 1000L
    val rows = Seq(
      (1L, tsAt(2), 1L, "c", 10.0),   // vq 10000  >> 1 = 5000
      (2L, tsAt(4), 1L, "c", 100.0),  // vq 100000 >> 2 = 25000
      (3L, tsAt(1), 2L, "c", 50.0),   // vq 50000  >> 0 = 50000
      (4L, tsAt(6), 1L, "c", 1000.0), // vq 1000000>> 3 = 125000
      (5L, tsAt(3), 2L, "c", 7.5),    // vq 7500   >> 1 = 3750
      // POST-anchor event: age_days clamps to 0 (undecayed) instead of
      // a negative shift hitting shiftright's (n & 63) mask garbage
      (6L, tsAt(-5), 3L, "c", 2.0))   // vq 2000   >> 0 = 2000
    val q = EventStream.decayEngagement(events)
      .writeStream.format("memory").queryName("decay_conv")
      .outputMode("update").start()
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)
      q.processAllAvailable()
      // update mode re-emits a key on every change: final state = the
      // row with the largest (monotone) n_events per user
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_events").desc)
      val got = spark.table("decay_conv")
        .withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select("user_id", "decay_q", "n_events", "last_age_days")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val oneShot = EventStream.decayEngagement(
          rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === oneShot, s"stream $got vs one-shot $oneShot")
      assert(got === Set((1L, 155000L, 3L, 2L), (2L, 53750L, 2L, 1L),
          (3L, 2000L, 1L, 0L)),
        s"hand-computed decay totals: $got")
    } finally q.stop()
  }

  test("cdcRollup: batch-split-invariant IVM state matches the batch " +
      "algebra, with tombstones on group disappearance") {
    implicit val sqlCtx = spark.sqlContext
    // CDC rows: (user_id, n_events, total_cents, _change_type).
    // Bootstrap-as-inserts for v1 = users 1..6, then a change feed:
    // user 2 updated (pre/post), users 3 and 5 deleted — bucket
    // (user_id % 4) 3 = {3} empty afterward -> tombstone; bucket
    // 1 = {1, 5} survives via user 1.
    val boot = Seq(
      (1L, 2L, 100L, "insert"), (2L, 3L, 200L, "insert"),
      (3L, 1L, 50L, "insert"), (4L, 4L, 400L, "insert"),
      (5L, 2L, 150L, "insert"), (6L, 1L, 60L, "insert"))
    val changes = Seq(
      (2L, 3L, 200L, "update_preimage"), (2L, 5L, 275L, "update_postimage"),
      (3L, 1L, 50L, "delete"), (5L, 2L, 150L, "delete"))

    def runSplit(splits: Seq[Seq[(Long, Long, Long, String)]],
        name: String): Map[Long, (Long, Long, Long, Boolean)] = {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val q = EventStream.cdcRollup(
        mem.toDF().toDF("user_id", "n_events", "total_cents",
          "_change_type"), buckets = 4L)
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        splits.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        spark.table(name).collect().zipWithIndex
          .groupBy(_._1.getLong(0))
          .map { case (b, vs) =>
            val r = vs.maxBy(_._2)._1
            b -> ((r.getLong(1), r.getLong(2), r.getLong(3),
              r.getBoolean(4)))
          }
      } finally q.stop()
    }

    // three very different batchings of the same row sequence
    val all = boot ++ changes
    val a = runSplit(Seq(all), "cdc_one")
    val b = runSplit(Seq(boot, changes), "cdc_two")
    val c = runSplit(all.grouped(3).toSeq, "cdc_three")
    assert(a == b && b == c, s"batch-split variance: $a / $b / $c")

    // reference: the batch signed-delta algebra over the same rows
    val feedDf = all.toDF("user_id", "n_events", "total_cents",
      "_change_type")
      .withColumn("bucket",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.lit(4L)))
    val empty = Seq.empty[(Long, Long, Long, Long)]
      .toDF("bucket", "n_users", "sum_events", "sum_cents")
    val ref = graft.sources.ManifestTable.incrementalAgg(
      empty, feedDf, Seq("bucket"), "n_users",
      Seq("n_events" -> "sum_events", "total_cents" -> "sum_cents"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val live = a.filter(!_._2._4).map { case (k, v) => k -> ((v._1, v._2, v._3)) }
    assert(live == ref, s"stream $live vs batch algebra $ref")
    // bucket 3 lost its only user: tombstoned in the stream, absent
    // from the batch result
    assert(a(3L) == ((0L, 0L, 0L, true)) && !ref.contains(3L))
  }

  test("semanticAdmission: stream candidates == batch probe-intersect set; cellTopKNeighbors edges contained") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.{col, expr, lit, count}
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").localCheckpoint(true)
    val n = corpus.count()
    val kCells = math.max(8L, n / 500L).toInt
    val cents = (0 until kCells).map(i => i * (n / kCells))
    val minCos = 2000

    // batch reference 1: the probe-intersect candidate set — identical
    // probe assignment law, so the stream must reproduce it EXACTLY
    graft.functions.QuantizedDot.register(spark)
    val probes = Similarity.ivfProbeAssignments(corpus, cents, 4)
      .select(col("vec_id"), col("cell_id")).localCheckpoint(true)
    val withNorm = corpus.withColumn("n2", expr("qdot(embedding, embedding)"))
    val a = probes.join(withNorm, Seq("vec_id"))
      .select(col("cell_id"), col("vec_id").as("a_id"),
        col("embedding").as("a_vec"), col("n2").as("a_n2"))
    val b = probes.join(withNorm, Seq("vec_id"))
      .select(col("cell_id"), col("vec_id").as("b_id"),
        col("embedding").as("b_vec"), col("n2").as("b_n2"))
    val batchPairs = a.join(b, Seq("cell_id"))
      .where(col("a_id") =!= col("b_id"))
      .withColumn("dot", expr("qdot(a_vec, b_vec)"))
      .withColumn("cos_bp", expr(
        "CAST(floor(10000.0 * CAST(dot AS DOUBLE) / " +
          "(sqrt(CAST(a_n2 AS DOUBLE)) * sqrt(CAST(b_n2 AS DOUBLE)))) AS BIGINT)"))
      .where(col("cos_bp") >= minCos)
      .select("a_id", "b_id", "cos_bp").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchPairs.nonEmpty, "fixture produced no candidate pairs")

    // stream the SAME vectors as arrivals, split across two
    // micro-batches (cross-batch parity: the join is stream-static,
    // so batch boundaries must not change the emitted set)
    // arrivals in event-time order (collect() is partition order; an
    // out-of-order split would make half the second batch LATE past
    // the first batch's watermark and the dedup would drop it — a
    // test-harness artifact, not an operator property)
    // ts starts one minute AFTER epoch: a row at exactly the initial
    // watermark (epoch 0) is filtered as late by the stateful dedup —
    // an artifact of the synthetic clock, not a real arrival pattern
    val rows = corpus.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).toArray, (r.getLong(0) + 1) * 60L * 1000000000L))
      .sortBy(_._3)
    val mem = MemoryStream[(Long, Array[Float], Long)]
    val vecs = mem.toDF().toDF("vec_id", "embedding", "ts")
    val out = graft.streaming.DocStream.semanticAdmission(
      vecs, corpus, cents, nprobe = 4, minCosBp = minCos)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sem_admit_out").start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(second.toSeq)
      q.processAllAvailable()
      val got = spark.table("sem_admit_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // exact two-way parity with the batch candidate set
      assert(got == batchPairs,
        s"stream=${got.size} batch=${batchPairs.size} " +
          s"onlyStream=${(got -- batchPairs).take(3)} " +
          s"onlyBatch=${(batchPairs -- got).take(3)}")
      // and every batch top-k edge at/above the threshold is present
      // with a bit-identical cos_bp (candidate completeness)
      val topk = Similarity.cellTopKNeighbors(corpus, k = 3,
          minCosBp = minCos, centroidIds = cents, nprobe = 4)
        .select("a_id", "b_id", "cos_bp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(topk.nonEmpty && topk.subsetOf(got),
        s"missing topk edges: ${(topk -- got).take(3)}")
    } finally q.stop()
  }
}
