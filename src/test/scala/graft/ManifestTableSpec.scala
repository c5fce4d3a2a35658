package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** The versioned-table layout: O(delta) appends and full-snapshot
  * commits over one shared pool, time travel, per-file metadata
  * (stats, key and token blooms) outliving versions, data skipping,
  * change feeds, refcounting vacuum, CAS commits.
  */
class ManifestTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshPath(): String =
    Files.createTempDirectory("mtab").resolve("t").toString

  private def df(lo: Long, hi: Long, parts: Int = 2) = {
    import spark.implicits._
    (lo until hi).map(i => (i, i * 3)).toDF("k", "v")
      .repartition(parts, col("k"))
  }

  private def kv(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  test("append commits are O(delta): parent files shared, only new rows written") {
    val p = freshPath()
    assert(ManifestTable.commitAppend(df(0, 100), p) == 1L)
    val v1Files = ManifestTable.files(spark, p, 1L)
    assert(ManifestTable.commitAppend(df(100, 150), p) == 2L)
    val v2Files = ManifestTable.files(spark, p, 2L)
    // v2 REFERENCES every v1 file (no copy) plus its own delta
    assert(v2Files.startsWith(v1Files))
    assert(v2Files.size > v1Files.size)
    // both versions read correctly and independently
    assert(ManifestTable.readVersion(spark, p, 1L).count() == 100L)
    assert(ManifestTable.readVersion(spark, p, 2L).count() == 150L)
    assert(ManifestTable.latest(spark, p)
      .agg(sum("k")).head.getLong(0) == (0L until 150L).sum)
    // history audits the sharing
    val h = ManifestTable.history(spark, p).orderBy("version").collect()
    assert(h(0).getLong(3) == 0L)
    assert(h(1).getLong(3) == v1Files.size.toLong)
  }

  test("concurrent version publish is CAS: loser retries to the next version") {
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 10), p)
    // simulate a racing writer that already took v2
    val winner = new Path(p, "_manifest_v2.json")
    val out = fs(p).create(winner, false)
    out.write(ManifestTable.files(spark, p, 1L)
      .map(n => "\"" + n + "\"").mkString("[", ",", "]").getBytes("UTF-8"))
    out.close()
    // our append must land at v3, on top of the winner's list
    val got = ManifestTable.commitAppend(df(10, 20), p)
    assert(got == 3L)
    assert(ManifestTable.readVersion(spark, p, 3L).count() == 20L)
  }

  test("per-file stats outlive versions: extendStats scans only the delta") {
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 100), p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val rowsAfterV1 = ManifestTable.readFileStats(spark, p).count()
    ManifestTable.commitAppend(df(100, 150), p)
    ManifestTable.extendStats(spark, p, 2L, Seq("k"))
    val all = ManifestTable.readFileStats(spark, p)
    // v1's files were NOT re-sketched: their rows are byte-stable
    assert(all.count() > rowsAfterV1)
    val v1Names = ManifestTable.files(spark, p, 1L)
    assert(all.where(col("file").isin(v1Names: _*)).count() == rowsAfterV1)
    // extendStats on an already-covered version is a no-op
    ManifestTable.extendStats(spark, p, 2L, Seq("k"))
    assert(ManifestTable.readFileStats(spark, p).count() == all.count())
    // and the versioned stats views disagree exactly by the delta files
    assert(ManifestTable.statsFor(spark, p, 1L).count() == rowsAfterV1)
  }

  test("pruned read through per-file stats; missing stats fail loudly") {
    val p = freshPath()
    // range layout so the band prunes
    import spark.implicits._
    val data = (0L until 400L).map(i => (i, i)).toDF("k", "v")
      .repartitionByRange(8, col("k"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val got = ManifestTable.readVersionPruned(spark, p, 1L, "k", 10L, 40L)
    assert(got.count() == 31L)
    // append WITHOUT extending stats -> pruned read of v2 must refuse
    ManifestTable.commitAppend(df(400, 420), p)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersionPruned(spark, p, 2L, "k", 10L, 40L)
    }
  }

  test("vacuum refcounts: shared files survive while any reader can reach them") {
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 100), p)    // v1
    ManifestTable.commitAppend(df(100, 150), p)  // v2 (shares v1's files)
    ManifestTable.extendStats(spark, p, 2L, Seq("k"))
    val v3 = ManifestTable.compact(spark, p, targetFiles = 1) // shares nothing
    assert(v3 == 3L)
    // keep v2+v3: dropping v1 deletes NO pool files (v2 references them all)
    val (d1, dead1) = ManifestTable.vacuum(spark, p, keep = 2)
    assert(d1 == Seq(1L) && dead1.isEmpty)
    assert(ManifestTable.readVersion(spark, p, 2L).count() == 150L)
    // keep only v3: every v1/v2 file is now unreachable and reclaimed,
    // and their stats rows go with them
    val (d2, dead2) = ManifestTable.vacuum(spark, p, keep = 1)
    assert(d2 == Seq(2L) && dead2.nonEmpty)
    assert(ManifestTable.readVersion(spark, p, 3L).count() == 150L)
    val statFiles = ManifestTable.readFileStats(spark, p)
      .select("file").distinct().collect().map(_.getString(0)).toSet
    assert(statFiles.intersect(dead2.toSet).isEmpty,
      "vacuum left stats rows for deleted files")
    // compaction's fresh files still read the full data
    assert(ManifestTable.latest(spark, p)
      .agg(sum("k")).head.getLong(0) == (0L until 150L).sum)
  }

  test("deleteWhere rewrites ONLY stat-overlapping files; the rest are " +
      "referenced byte-identical") {
    import spark.implicits._
    val p = freshPath()
    val data = (0L until 400L).map(i => (i, i)).toDF("k", "v")
      .repartitionByRange(8, col("k"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val v1Files = ManifestTable.files(spark, p, 1L)
    val v2 = ManifestTable.deleteWhere(spark, p, "k", 100L, 149L)
    assert(v2 == 2L)
    val v2Files = ManifestTable.files(spark, p, 2L)
    // most range files cannot hold [100,149] and are SHARED, not rewritten
    val shared = v2Files.toSet.intersect(v1Files.toSet)
    assert(shared.size >= 5,
      s"expected most files untouched, shared only $shared")
    assert(v2Files.toSet != v1Files.toSet, "no file was rewritten")
    // rows are exactly the survivors; the old version still has everything
    assert(ManifestTable.readVersion(spark, p, 2L).count() == 350L)
    assert(ManifestTable.readVersion(spark, p, 2L)
      .where(col("k").between(100, 149)).count() == 0L)
    assert(ManifestTable.readVersion(spark, p, 1L).count() == 400L)
    // extendStats covers only the rewritten files; pruned reads work on v2
    ManifestTable.extendStats(spark, p, 2L, Seq("k"))
    assert(ManifestTable.readVersionPruned(spark, p, 2L, "k", 90L, 160L)
      .count() == 21L) // 90..99 (10) + 150..160 (11)
    // a band no file can hold is a provable no-op: no new version
    assert(ManifestTable.deleteWhere(spark, p, "k", 5000L, 6000L) == 2L)
    assert(ManifestTable.committedVersions(spark, p).sorted == Seq(1L, 2L))
    // a stats-less file refuses to delete-skip
    ManifestTable.commitAppend(df(400, 420), p)
    intercept[IllegalArgumentException] {
      ManifestTable.deleteWhere(spark, p, "k", 0L, 10L)
    }
  }

  test("commitAppendOnce: a retried transaction appends NOTHING; the dedup " +
      "record rides the manifest's own atomic rename") {
    val p = freshPath()
    val v1 = ManifestTable.commitAppendOnce(df(0, 50), p, txnId = 7L)
    assert(v1 == 1L)
    // the txn id is INSIDE the committed manifest — no second file
    assert(ManifestTable.readManifest(spark, p, 1L)._2 == Some(7L))
    assert(ManifestTable.versionOfTxn(spark, p, 7L) == Some(1L))
    // retry of txn 7 (replayed micro-batch): same version back, no new
    // version, no new rows
    val vr = ManifestTable.commitAppendOnce(df(0, 50), p, txnId = 7L)
    assert(vr == 1L)
    assert(ManifestTable.committedVersions(spark, p) == Seq(1L))
    assert(ManifestTable.latest(spark, p).count() == 50L)
    // a DIFFERENT txn appends normally on top
    val v2 = ManifestTable.commitAppendOnce(df(50, 80), p, txnId = 8L)
    assert(v2 == 2L)
    assert(ManifestTable.latest(spark, p).count() == 80L)
    // interop: plain commits carry no txn and never satisfy a dedup probe
    val v3 = ManifestTable.commitAppend(df(80, 90), p)
    assert(ManifestTable.readManifest(spark, p, v3)._2.isEmpty)
    assert(ManifestTable.versionOfTxn(spark, p, 99L).isEmpty)
  }

  test("exactly-once streaming append sink: a replayed micro-batch is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val p = freshPath()
    val in = MemoryStream[Long]
    in.addData(0L until 100L: _*)
    val q1 = graft.streaming.EventStream
      .appendEventFeed(in.toDF().withColumnRenamed("value", "k"), p)
      .option("checkpointLocation",
        Files.createTempDirectory("m_ck").toString)
      .start()
    q1.processAllAvailable(); q1.stop()
    val after1 = ManifestTable.latest(spark, p).count()
    assert(after1 == 100L)
    val vAfter1 = ManifestTable.latestVersion(spark, p)
    // a FRESH query with a FRESH checkpoint replays batch 0 with the
    // same data — the foreachBatch at-least-once window, closed by the
    // txn dedup: no new version, no duplicate rows
    val in2 = MemoryStream[Long]
    in2.addData(0L until 100L: _*)
    val q2 = graft.streaming.EventStream
      .appendEventFeed(in2.toDF().withColumnRenamed("value", "k"), p)
      .option("checkpointLocation",
        Files.createTempDirectory("m_ck2").toString)
      .start()
    q2.processAllAvailable(); q2.stop()
    assert(ManifestTable.latestVersion(spark, p) == vAfter1,
      "replayed batch published a duplicate version")
    assert(ManifestTable.latest(spark, p).count() == 100L,
      "replayed batch double-appended rows")
    // the dedup early-returns BEFORE writing any parts, so the replay
    // leaves no garbage either: vacuum finds nothing to reclaim
    val (_, dead) = ManifestTable.vacuum(spark, p, keep = 1)
    assert(ManifestTable.latest(spark, p).count() == 100L)
    assert(dead.isEmpty, s"replayed no-op left pool garbage: $dead")
  }

  test("mergeInto rewrites ONLY files actually holding matched keys; " +
      "inserts land as new files; the rest are referenced byte-identical") {
    import spark.implicits._
    val p = freshPath()
    val data = (0L until 400L).map(i => (i, i)).toDF("k", "v")
      .repartitionByRange(8, col("k"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val v1Files = ManifestTable.files(spark, p, 1L)
    // update k ∈ {110, 130} (one range file) + insert k ∈ {900, 901}
    val src = Seq((110L, -1L), (130L, -2L), (900L, 9L), (901L, 9L))
      .toDF("k", "v")
    val v2 = ManifestTable.mergeInto(spark, p, src, "k")
    assert(v2 == 2L)
    val v2Files = ManifestTable.files(spark, p, 2L)
    val shared = v2Files.toSet.intersect(v1Files.toSet)
    assert(shared.size == v1Files.size - 1,
      s"expected exactly one file rewritten; shared = ${shared.size}/${v1Files.size}")
    // values: updates applied, inserts present, everything else intact
    val after = ManifestTable.readVersion(spark, p, 2L)
    assert(after.count() == 402L)
    assert(after.where(col("k") === 110L).head.getLong(1) == -1L)
    assert(after.where(col("k") === 130L).head.getLong(1) == -2L)
    assert(after.where(col("k") >= 900L).count() == 2L)
    assert(after.where(col("k") === 111L).head.getLong(1) == 111L)
    // the pre-merge version still serves the old values (time travel)
    assert(ManifestTable.readVersion(spark, p, 1L)
      .where(col("k") === 110L).head.getLong(1) == 110L)
    // duplicate source keys are ambiguous updates — refused
    intercept[IllegalArgumentException] {
      ManifestTable.mergeInto(spark, p,
        Seq((5L, 1L), (5L, 2L)).toDF("k", "v"), "k")
    }
  }

  test("mergeInto exact probe: a candidate whose band brackets an absent " +
      "key is NOT rewritten (band-only pruning would copy it)") {
    import spark.implicits._
    val p = freshPath()
    // one file of EVEN keys: band [0, 98] brackets 51, which is absent
    val data = (0L until 100L by 2).map(i => (i, i)).toDF("k", "v")
      .coalesce(1)
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val v1Files = ManifestTable.files(spark, p, 1L)
    val v2 = ManifestTable.mergeInto(spark, p,
      Seq((51L, 7L)).toDF("k", "v"), "k")
    assert(v2 == 2L)
    val v2Files = ManifestTable.files(spark, p, 2L)
    // the even-keys file is untouched; only the insert file is new
    assert(v1Files.forall(v2Files.contains),
      s"phase-2 probe failed: $v1Files not all in $v2Files")
    assert(v2Files.size == v1Files.size + 1)
    assert(ManifestTable.readVersion(spark, p, 2L).count() == 51L)
    // update-row multiplicity: two target rows with one key BOTH update
    val p2 = freshPath()
    ManifestTable.commitAppend(
      Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("k", "v").coalesce(1), p2)
    ManifestTable.extendStats(spark, p2, 1L, Seq("k"))
    val v = ManifestTable.mergeInto(spark, p2,
      Seq((1L, 99L)).toDF("k", "v"), "k")
    val rows = ManifestTable.readVersion(spark, p2, v)
      .where(col("k") === 1L).collect()
    assert(rows.length == 2 && rows.forall(_.getLong(1) == 99L))
    // a stats-less file refuses to merge-skip
    ManifestTable.commitAppend(df(100, 110), p2) // v3: never sketched
    intercept[IllegalArgumentException] {
      ManifestTable.mergeInto(spark, p2, Seq((1L, 0L)).toDF("k", "v"), "k")
    }
  }

  test("tailSince schedules EXACTLY the diff files; a rewrite between the " +
      "versions is refused; an exactly-once cursor loop sees each row once") {
    import spark.implicits._
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 100), p)            // v1
    ManifestTable.commitAppend(df(100, 150), p)          // v2
    val v3 = ManifestTable.commitAppend(df(150, 180), p) // v3
    val tail = ManifestTable.tailSince(spark, p, 1L, v3)
    assert(tail.count() == 80L)
    assert(tail.agg(min("k"), max("k")).head match {
      case r => r.getLong(0) == 100L && r.getLong(1) == 179L
    })
    // the scan is scheduled from the manifest diff, not the table:
    // its input files are exactly the v3∖v1 names
    val diff = ManifestTable.files(spark, p, v3)
      .filterNot(ManifestTable.files(spark, p, 1L).toSet)
      .map(n => s"_pool/$n")
    val inputs = tail.inputFiles.toSeq
    assert(inputs.size == diff.size &&
      diff.forall(d => inputs.exists(_.endsWith(d))),
      s"expected inputs $diff, got $inputs")
    // empty tail: same version twice → zero rows, schema intact
    val none = ManifestTable.tailSince(spark, p, v3, v3)
    assert(none.count() == 0L && none.columns.toSeq == Seq("k", "v"))
    // cursor loop: consuming (v1,v2] then (v2,v3] partitions the delta
    val c1 = ManifestTable.tailSince(spark, p, 1L, 2L).count()
    val c2 = ManifestTable.tailSince(spark, p, 2L, 3L).count()
    assert(c1 == 50L && c2 == 30L)
    // a rewrite between the versions breaks rows-added-equals-file-diff
    // — refused even when the ENDPOINT manifests happen to nest
    ManifestTable.extendStats(spark, p, v3, Seq("k"))
    val v4 = ManifestTable.deleteWhere(spark, p, "k", 0L, 9L)
    ManifestTable.commitAppend(df(180, 200), p)          // v5
    intercept[IllegalArgumentException] {
      ManifestTable.tailSince(spark, p, 1L, v4 + 1)
    }
    // but tailing FROM the rewrite forward is sound again
    assert(ManifestTable.tailSince(spark, p, v4, v4 + 1).count() == 20L)
  }

  test("renameColumn is metadata-only: byte-identical file references, " +
      "old versions keep old names, appends/prunes/merges speak the new name") {
    import spark.implicits._
    val p = freshPath()
    val data = (0L until 100L).map(i => (i, i * 3)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val v1Files = ManifestTable.files(spark, p, 1L)
    val v2 = ManifestTable.renameColumn(spark, p, "v", "val2")
    assert(v2 == 2L)
    // metadata-only: the file list is byte-identical
    assert(ManifestTable.files(spark, p, v2) == v1Files)
    // new name out, old version unchanged (time travel shows old schema)
    assert(ManifestTable.readVersion(spark, p, v2).columns.toSeq
      == Seq("k", "val2"))
    assert(ManifestTable.readVersion(spark, p, 1L).columns.toSeq
      == Seq("k", "v"))
    assert(ManifestTable.readVersion(spark, p, v2)
      .agg(sum("val2")).head.getLong(0) == (0L until 100L).map(_ * 3).sum)
    // appends arrive in the LOGICAL schema; the pool stays physical
    val v3 = ManifestTable.commitAppend(
      Seq((100L, 500L)).toDF("k", "val2"), p)
    val after = ManifestTable.readVersion(spark, p, v3)
    assert(after.columns.toSeq == Seq("k", "val2"))
    assert(after.count() == 101L)
    assert(after.where(col("k") === 100L).head.getLong(1) == 500L)
    // pruned reads and merges translate logical→physical for stats
    ManifestTable.extendStats(spark, p, v3, Seq("k"))
    assert(ManifestTable.readVersionPruned(spark, p, v3, "k", 10L, 19L)
      .columns.toSeq == Seq("k", "val2"))
    assert(ManifestTable.readVersionPruned(spark, p, v3, "k", 10L, 19L)
      .count() == 10L)
    val v4 = ManifestTable.mergeInto(spark, p,
      Seq((7L, -1L)).toDF("k", "val2"), "k")
    assert(ManifestTable.readVersion(spark, p, v4)
      .where(col("k") === 7L).head.getLong(1) == -1L)
    // rename the key too, then tail: the delta comes out logical
    val v5 = ManifestTable.renameColumn(spark, p, "k", "id")
    val v6 = ManifestTable.commitAppend(
      Seq((200L, 9L)).toDF("id", "val2"), p)
    val tail = ManifestTable.tailSince(spark, p, v5, v6)
    assert(tail.columns.toSeq == Seq("id", "val2") && tail.count() == 1L)
    // rename chains compose; colliding names and unknown sources refuse
    val v7 = ManifestTable.renameColumn(spark, p, "id", "doc")
    assert(ManifestTable.readVersion(spark, p, v7).columns.toSeq
      == Seq("doc", "val2"))
    intercept[IllegalArgumentException] {
      ManifestTable.renameColumn(spark, p, "doc", "val2")
    }
    intercept[IllegalArgumentException] {
      ManifestTable.renameColumn(spark, p, "nope", "x")
    }
    // renaming BACK erases the mapping entry (physical == logical)
    val v8 = ManifestTable.renameColumn(spark, p, "doc", "k")
    assert(ManifestTable.renamesOf(spark, p, v8) == Map("v" -> "val2"))
  }

  test("timestamp time travel, metadata row lineage, and CHECK-gated appends") {
    import spark.implicits._
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 10), p)  // v1
    val t1 = fs(p).getFileStatus(
      new Path(p, "_manifest_v1.json")).getModificationTime
    Thread.sleep(20)
    ManifestTable.commitAppend(df(10, 15), p) // v2
    val t2 = fs(p).getFileStatus(
      new Path(p, "_manifest_v2.json")).getModificationTime
    // AS OF the first commit's own time → v1; after the second → v2;
    // before anything existed → refused
    assert(ManifestTable.versionAsOf(spark, p, t1) == 1L)
    assert(ManifestTable.versionAsOf(spark, p, t2 + 1000L) == 2L)
    intercept[IllegalArgumentException] {
      ManifestTable.versionAsOf(spark, p, t1 - 1000L)
    }
    // row lineage: each row attributed to the append that brought it in
    val lin = ManifestTable.readVersionLineage(spark, p, 2L)
    assert(lin.columns.toSeq == Seq("k", "v", "_commit_version"))
    assert(lin.where(col("_commit_version") === 1L).count() == 10L)
    assert(lin.where(col("_commit_version") === 2L)
      .agg(min("k"), max("k")).head match {
      case r => r.getLong(0) == 10L && r.getLong(1) == 14L
    })
    // a delete REWRITES: survivors carry the rewrite's version
    ManifestTable.extendStats(spark, p, 2L, Seq("k"))
    val v3 = ManifestTable.deleteWhere(spark, p, "k", 12L, 12L)
    val lin3 = ManifestTable.readVersionLineage(spark, p, v3)
    assert(lin3.where(col("k") === 11L).head.getLong(2) == v3)
    assert(lin3.where(col("k") === 3L).head.getLong(2) == 1L)
    // CHECK gate: a violating batch refuses WHOLE; nulls pass (SQL CHECK)
    intercept[IllegalArgumentException] {
      ManifestTable.commitAppendChecked(
        Seq((20L, -1L), (21L, 5L)).toDF("k", "v"), p, "v >= 0")
    }
    assert(ManifestTable.latestVersion(spark, p) == v3) // nothing landed
    val vOk = ManifestTable.commitAppendChecked(
      Seq((20L, Some(1L)), (21L, Option.empty[Long])).toDF("k", "v"),
      p, "v >= 0")
    assert(ManifestTable.readVersion(spark, p, vOk).count() == 16L)
  }

  test("readVersionPrunedByKeys schedules only band-admitted files; " +
      "no false drops; gap keys admit nothing") {
    import spark.implicits._
    val p = freshPath()
    val data = (0L until 400L).map(i => (i, i)).toDF("k", "v")
      .repartitionByRange(8, col("k"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    // two scattered keys → at most 2 of 8 files scheduled
    val pruned = ManifestTable.readVersionPrunedByKeys(
      spark, p, 1L, "k", Seq(10L, 399L))
    assert(pruned.inputFiles.length <= 2,
      s"expected <=2 files, got ${pruned.inputFiles.length}")
    // no false drops: the pruned read + exact filter equals the truth
    assert(pruned.where(col("k").isin(10L, 399L))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 399L))
    // keys outside every band → empty, schema intact
    val none = ManifestTable.readVersionPrunedByKeys(
      spark, p, 1L, "k", Seq(5000L))
    assert(none.count() == 0L && none.columns.toSeq == Seq("k", "v"))
    // stats-less file refuses
    ManifestTable.commitAppend(df(400, 410), p)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersionPrunedByKeys(spark, p, 2L, "k", Seq(1L))
    }
  }

  test("compactZorder: scattered layout prunes nothing, z-ordered " +
      "rectangles prune both dims; results identical across layouts") {
    import spark.implicits._
    val p = freshPath()
    // two independent 0..199 dims, hash-scattered: every file's band
    // spans the whole domain on both columns
    val data = (0L until 4000L)
      .map(i => (i % 200, (i * 37) % 200, i)).toDF("x", "y", "payload")
      .repartition(8, col("payload"))
    ManifestTable.commitAppend(data, p)
    ManifestTable.extendStats(spark, p, 1L, Seq("x", "y"))
    val bands = Seq(("x", 20L, 59L), ("y", 20L, 59L))
    val scattered = ManifestTable.readVersionPrunedMulti(spark, p, 1L, bands)
    assert(scattered.inputFiles.length == 8, "hash layout should not prune")
    val v2 = ManifestTable.compactZorder(spark, p, "x", "y", 8)
    ManifestTable.extendStats(spark, p, v2, Seq("x", "y"))
    val clustered = ManifestTable.readVersionPrunedMulti(spark, p, v2, bands)
    assert(clustered.inputFiles.length < 8,
      s"z-order should prune the 2-d box, scheduled ${clustered.inputFiles.length}")
    // layout never changes results
    val a = scattered.orderBy("payload").collect().toSeq
    val b = clustered.orderBy("payload").collect().toSeq
    assert(a == b && a.nonEmpty)
    // old version still reads its original files
    assert(ManifestTable.readVersion(spark, p, 1L).count() == 4000L)
  }

  test("partition evolution: old-spec files never prune, new-spec files do, " +
      "zero bytes rewritten, results layout-independent (c25)") {
    import spark.implicits._
    val p = freshPath()
    // v1: the ORIGINAL spec — 4 files hash-scattered on payload, every
    // file's k band spans the 0..199 domain
    val old = (0L until 2000L).map(i => (i % 200, i)).toDF("k", "payload")
      .repartition(4, col("payload"))
    ManifestTable.commitAppend(old, p)
    val v1Files = ManifestTable.files(spark, p, 1L).toSet
    // v2: the EVOLVED spec — new rows range-clustered on k, old bytes
    // untouched (v2's manifest must reference v1's files)
    val fresh = (2000L until 4000L).map(i => (i % 200, i)).toDF("k", "payload")
      .repartitionByRange(8, col("k"))
    val v2 = ManifestTable.commitAppend(fresh, p)
    val v2Files = ManifestTable.files(spark, p, v2).toSet
    assert(v1Files.subsetOf(v2Files), "evolution must not rewrite history")
    ManifestTable.extendStats(spark, p, v2, Seq("k"))
    // the band read over the mixed layout: ALL old files (they cannot
    // prune), a strict subset of the new ones
    val kept = ManifestTable.prunedFilesMulti(spark, p, v2,
      Seq(("k", 30L, 49L))).toSet
    val newFiles = v2Files -- v1Files
    assert(v1Files.subsetOf(kept), "pre-evolution files must all schedule")
    val keptNew = kept intersect newFiles
    assert(keptNew.nonEmpty && keptNew.size < newFiles.size,
      s"evolved layout should prune: kept ${keptNew.size}/${newFiles.size}")
    // schedule changes, results don't
    val pruned = ManifestTable.readVersionPrunedMulti(spark, p, v2,
      Seq(("k", 30L, 49L))).orderBy("payload").collect().toSeq
    val full = ManifestTable.readVersion(spark, p, v2)
      .where(col("k").between(30, 49)).orderBy("payload").collect().toSeq
    assert(pruned == full && pruned.nonEmpty)
  }

  test("crashed commit leaves no readable state; vacuum reclaims its orphans") {
    val p = freshPath()
    ManifestTable.commitAppend(df(0, 50), p)
    // simulate a crash AFTER pool moves, BEFORE manifest publish:
    // plant an orphan pool file
    val orphan = new Path(p, "_pool/v9_orphan.parquet")
    val out = fs(p).create(orphan, false); out.write(Array[Byte](1)); out.close()
    assert(ManifestTable.committedVersions(spark, p) == Seq(1L))
    assert(ManifestTable.readVersion(spark, p, 1L).count() == 50L)
    val (_, dead) = ManifestTable.vacuum(spark, p, keep = 1)
    assert(dead.contains("v9_orphan.parquet"))
  }

  // ---- full-snapshot commits and time travel ----

  test("snapshot commit lists only its own files; a retried txn writes nothing") {
    val p = freshPath()
    assert(ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), p) == 1L)
    val v2 = ManifestTable.commit(kv(1L -> 11L), p, txnId = Some(4L))
    assert(v2 == 2L)
    // a snapshot shares nothing with its parent
    assert(ManifestTable.files(spark, p, 2L).toSet
      .intersect(ManifestTable.files(spark, p, 1L).toSet).isEmpty)
    assert(ManifestTable.readManifest(spark, p, 2L)._2 == Some(4L))
    // replay of txn 4: same version back, no new version, no pool files
    val poolBefore = fs(p).listStatus(new Path(p, "_pool")).length
    assert(ManifestTable.commit(kv(9L -> 9L), p, txnId = Some(4L)) == 2L)
    assert(ManifestTable.committedVersions(spark, p).sorted == Seq(1L, 2L))
    assert(fs(p).listStatus(new Path(p, "_pool")).length == poolBefore)
    assert(ManifestTable.latest(spark, p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq(1L -> 11L))
  }

  test("time travel reads each immutable version; latest tracks max") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), p)
    ManifestTable.commit(kv(1L -> 11L, 2L -> 20L, 3L -> 30L), p)
    assert(ManifestTable.committedVersions(spark, p).sorted == Seq(1L, 2L))
    assert(ManifestTable.readVersion(spark, p, 1L).count() == 2)
    assert(ManifestTable.latestVersion(spark, p) == 2L)
    val latest = ManifestTable.latest(spark, p)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(latest.toSeq == Seq(1L -> 11L, 2L -> 20L, 3L -> 30L))
    // v1 is undisturbed by v2's commit (immutability)
    val v1 = ManifestTable.readVersion(spark, p, 1L)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(v1.toSeq == Seq(1L -> 10L, 2L -> 20L))
  }

  test("reading an uncommitted or absent version fails loudly") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L), p)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersion(spark, p, 7L)
    }
    // a manifest written but never renamed into place (a publish that
    // crashed before its rename) is invisible and unreadable
    val out = fs(p).create(new Path(p, "_manifest_tmp_v5_1"), false)
    out.write(ManifestTable.files(spark, p, 1L)
      .map(n => "\"" + n + "\"").mkString("[", ",", "]").getBytes("UTF-8"))
    out.close()
    assert(ManifestTable.committedVersions(spark, p) == Seq(1L))
    intercept[IllegalArgumentException] {
      ManifestTable.readVersion(spark, p, 5L)
    }
  }

  test("compaction produces a data-identical new version with fewer files") {
    val p = freshPath()
    ManifestTable.commit(kv((1L to 100L).map(i => i -> i * 2): _*)
      .repartition(8), p)
    def nFiles(v: Long) = ManifestTable.history(spark, p)
      .where(col("version") === v).select("n_files").head().getLong(0)
    val before = nFiles(1L)
    assert(before > 1, s"fixture should start multi-file, got $before files")
    val nv = ManifestTable.compact(spark, p, targetFiles = 1)
    assert(nv == 2L)
    assert(nFiles(2L) == 1L)
    // data-identical both ways
    val v1 = ManifestTable.readVersion(spark, p, 1L)
    val v2 = ManifestTable.readVersion(spark, p, 2L)
    assert(v1.exceptAll(v2).isEmpty && v2.exceptAll(v1).isEmpty)
    // and v1 files untouched (readers of the old version undisturbed)
    assert(nFiles(1L) == before)
  }

  test("history lists versions in order with file and byte stats") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 1L), p)
    ManifestTable.commit(kv(1L -> 1L, 2L -> 2L), p)
    val h = ManifestTable.history(spark, p).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(h.forall(r => r.getLong(1) >= 1 && r.getLong(2) > 0))
    // full snapshots share no file with their parent
    assert(h.forall(_.getLong(3) == 0L))
  }

  test("vacuum keeps the newest versions; survivors stay readable") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L), p)
    ManifestTable.commit(kv(1L -> 11L), p)
    ManifestTable.extendStats(spark, p, 2L, Seq("k"))
    ManifestTable.extendBloom(spark, p, 2L, Seq("k"))
    ManifestTable.commit(kv(1L -> 12L), p)
    val v1Files = ManifestTable.files(spark, p, 1L)
    val (dropped, dead) = ManifestTable.vacuum(spark, p, keep = 2)
    assert(dropped == Seq(1L) && dead == v1Files.sorted)
    assert(ManifestTable.committedVersions(spark, p).sorted == Seq(2L, 3L))
    // survivor time travel intact, including its per-file metadata
    assert(ManifestTable.readVersion(spark, p, 2L).head().getLong(1) == 11L)
    assert(ManifestTable.statsFor(spark, p, 2L).count() == 1L)
    assert(ManifestTable.prunedFilesBloom(spark, p, 2L, "k", Seq(1L))
      ._1.nonEmpty)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersion(spark, p, 1L)
    }
    // keep >= versions present: a no-op, never deletes the latest
    assert(ManifestTable.vacuum(spark, p, keep = 5) == ((Nil, Nil)))
    // v2's files die with their stats and bloom rows
    val v2Files = ManifestTable.files(spark, p, 2L)
    val (_, dead2) = ManifestTable.vacuum(spark, p, keep = 1)
    assert(dead2 == v2Files.sorted)
    for (t <- Seq("_filestats", "_filebloom"))
      assert(spark.read.parquet(s"$p/$t").where(col("file").isin(dead2: _*))
        .isEmpty, s"vacuum left $t rows for deleted files")
  }

  // ---- change feed, apply, incremental maintenance ----

  test("change feed classifies insert/delete/update and skips unchanged keys") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L, 3L -> 30L), p)
    ManifestTable.commit(kv(2L -> 20L, 3L -> 31L, 4L -> 40L), p)
    val feed = ManifestTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
      .orderBy("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(feed.toSeq == Seq(
      (1L, 10L, "delete"),
      (3L, 31L, "update_postimage"), // lexical: post < pre
      (3L, 30L, "update_preimage"),
      (4L, 40L, "insert")))
    // key 2 is untouched and must NOT appear: the feed is delta-sized
  }

  test("change feed across a compaction boundary has zero spurious changes") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L).repartition(4), p)
    val nv = ManifestTable.compact(spark, p) // v2: same rows, fewer files
    assert(ManifestTable.changeFeed(spark, p, 1L, nv, Seq("k")).isEmpty)
  }

  test("applying a change feed to the old snapshot reconstructs the new one") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L, 3L -> 30L), p)
    ManifestTable.commit(kv(2L -> 21L, 3L -> 30L, 4L -> 40L, 5L -> 50L), p)
    val feed = ManifestTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
    val rebuilt = ManifestTable.applyChanges(
      ManifestTable.readVersion(spark, p, 1L), feed, Seq("k"))
    val v2 = ManifestTable.readVersion(spark, p, 2L)
    assert(rebuilt.exceptAll(v2).isEmpty && v2.exceptAll(rebuilt).isEmpty)
  }

  test("change feed rejects schema drift between versions") {
    import spark.implicits._
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L), p)
    ManifestTable.commit(Seq((1L, 10L)).toDF("k", "renamed"), p)
    intercept[IllegalArgumentException] {
      ManifestTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
    }
  }

  // group key = k % 2, measure = v; the maintained rollup must equal a
  // direct re-aggregation of the new snapshot for every feed shape
  private def rollup(d: org.apache.spark.sql.DataFrame) = d
    .withColumn("g", pmod(col("k"), lit(2L)))
    .groupBy("g")
    .agg(count(lit(1)).as("n"), sum("v").as("sv"))

  private def maintainedEqualsDirect(p: String): Unit = {
    val feed = ManifestTable
      .changeFeed(spark, p, 1L, 2L, Seq("k"))
      .withColumn("g", pmod(col("k"), lit(2L)))
    val maintained = ManifestTable.incrementalAgg(
      rollup(ManifestTable.readVersion(spark, p, 1L)), feed,
      Seq("g"), "n", Seq("v" -> "sv"))
    val direct = rollup(ManifestTable.readVersion(spark, p, 2L))
    assert(maintained.exceptAll(direct).isEmpty
      && direct.exceptAll(maintained).isEmpty)
  }

  test("incrementalAgg maintains the rollup through insert/update/delete") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L, 3L -> 30L), p)
    // 2 updated, 3 deleted, 4+5 inserted, 1 unchanged
    ManifestTable.commit(kv(1L -> 10L, 2L -> 25L, 4L -> 40L, 5L -> 50L), p)
    maintainedEqualsDirect(p)
  }

  test("incrementalAgg drops a group whose last keys are deleted") {
    val p = freshPath()
    // odd group = {1, 3}; v2 deletes both, so group 1 must VANISH from
    // the maintained rollup (not linger as a zero row)
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L, 3L -> 30L), p)
    ManifestTable.commit(kv(2L -> 20L, 6L -> 60L), p)
    maintainedEqualsDirect(p)
    val feed = ManifestTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
      .withColumn("g", pmod(col("k"), lit(2L)))
    val m = ManifestTable.incrementalAgg(
      rollup(ManifestTable.readVersion(spark, p, 1L)), feed,
      Seq("g"), "n", Seq("v" -> "sv"))
    assert(m.where(col("g") === 1L).isEmpty)
  }

  test("incrementalAgg with an empty feed is the identity") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), p)
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), p)
    maintainedEqualsDirect(p)
  }

  test("incrementalAgg raises on an unknown change type") {
    import spark.implicits._
    val old = Seq((0L, 1L, 10L)).toDF("g", "n", "sv")
    val feed = Seq((0L, 7L, "upsert")).toDF("g", "v", "_change_type")
    val e = intercept[Exception] {
      ManifestTable.incrementalAgg(old, feed, Seq("g"), "n",
        Seq("v" -> "sv")).collect()
    }
    assert(e.getMessage.contains("unknown _change_type")
      || e.getCause != null
      && e.getCause.getMessage.contains("unknown _change_type"))
  }

  // view definition for the incrementalView tests: dim-join + derive
  private def viewOf(base: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val dim = Seq(0L -> "even", 1L -> "odd").toDF("par", "tag")
    base.withColumn("par", pmod(col("k"), lit(2L)))
      .join(broadcast(dim), Seq("par"))
      .select(col("k"), col("v"), (col("v") * 10L).as("v10"), col("tag"))
  }

  private def viewMaintainedEqualsDirect(p: String): Unit = {
    val feed = ManifestTable.changeFeed(spark, p, 1L, 2L, Seq("k"))
    val m = ManifestTable.incrementalView(
      viewOf(ManifestTable.readVersion(spark, p, 1L)), feed,
      Seq("k"), viewOf)
    val d = viewOf(ManifestTable.readVersion(spark, p, 2L))
    assert(m.collect().map(_.toSeq).toSet === d.collect().map(_.toSeq).toSet)
  }

  test("incrementalView maintains the join view through insert/update/delete") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L, 3L -> 30L), p)
    // 2 updated, 3 deleted, 4+5 inserted, 1 unchanged
    ManifestTable.commit(kv(1L -> 10L, 2L -> 25L, 4L -> 40L, 5L -> 50L), p)
    viewMaintainedEqualsDirect(p)
  }

  test("incrementalView: empty feed is the identity; all-deleted empties the view") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), p)
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), p)
    viewMaintainedEqualsDirect(p)
    val p2 = freshPath()
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), p2)
    ManifestTable.commit(kv(), p2)
    viewMaintainedEqualsDirect(p2)
  }

  test("incrementalView chains: applying successive feeds equals direct at the head") {
    // the production life of a maintained view is a CHAIN of deltas,
    // not one hop — randomized three-version history, maintained
    // v1→v2→v3 through two incremental applications
    val rnd = new scala.util.Random(5151)
    val p = freshPath()
    def randSnap(keys: Seq[Long]) = kv(keys.map(k => k -> rnd.nextLong(100L)): _*)
    val k1 = (1L to 40L).filter(_ => rnd.nextBoolean())
    val k2 = (1L to 40L).filter(_ => rnd.nextBoolean())
    val k3 = (1L to 40L).filter(_ => rnd.nextBoolean())
    ManifestTable.commit(randSnap(k1), p)
    ManifestTable.commit(randSnap(k2), p)
    ManifestTable.commit(randSnap(k3), p)
    val v1view = viewOf(ManifestTable.readVersion(spark, p, 1L))
    val m2 = ManifestTable.incrementalView(v1view,
      ManifestTable.changeFeed(spark, p, 1L, 2L, Seq("k")), Seq("k"), viewOf)
    val m3 = ManifestTable.incrementalView(m2,
      ManifestTable.changeFeed(spark, p, 2L, 3L, Seq("k")), Seq("k"), viewOf)
    val direct = viewOf(ManifestTable.readVersion(spark, p, 3L))
    assert(m3.collect().map(_.toSeq).toSet ===
      direct.collect().map(_.toSeq).toSet)
  }

  test("incrementalView raises on an unknown _change_type") {
    import spark.implicits._
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L), p)
    val badFeed = Seq((2L, 20L, "upsert")).toDF("k", "v", "_change_type")
    val m = ManifestTable.incrementalView(
      viewOf(ManifestTable.readVersion(spark, p, 1L)), badFeed,
      Seq("k"), viewOf)
    val e = intercept[Exception] { m.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("unknown _change_type")), e.toString)
  }

  // ---- min/max stats pruning ----

  /** `kept` of `p`'s v1 files for the band on k, and v1's file count. */
  private def keptOnK(p: String, lo: Long, hi: Long): (Seq[String], Int) =
    (ManifestTable.prunedFilesMulti(spark, p, 1L, Seq(("k", lo, hi))),
      ManifestTable.files(spark, p, 1L).size)

  test("stats prune skips files on a clustered layout and stays exact") {
    val p = freshPath()
    ManifestTable.commit(kv((1L to 400L).map(i => i -> i * 3): _*)
      .repartitionByRange(8, col("k")), p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    val (kept, total) = keptOnK(p, 101L, 150L)
    assert(total == 8 && kept.nonEmpty && kept.size < 8,
      s"expected a real skip on the clustered layout: $kept of $total")
    val pruned = ManifestTable.readVersionPruned(spark, p, 1L,
      "k", 101L, 150L)
    val full = ManifestTable.readVersion(spark, p, 1L)
      .where(col("k") >= 101L && col("k") <= 150L)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // inclusive edges: the boundary keys themselves survive the prune
    assert(pruned.where(col("k").isin(101L, 150L)).count() == 2)
  }

  test("stats prune is correct (if skip-free) on an UNclustered layout") {
    val p = freshPath()
    // hash-partitioned: every file spans most of the key domain, so
    // pruning may keep everything — but must never lose a row
    ManifestTable.commit(
      kv((1L to 400L).map(i => i -> i * 3): _*).repartition(8), p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    assert(ManifestTable.readVersionPruned(spark, p, 1L, "k", 101L, 150L)
      .count() == 50L)
  }

  test("stats prune outside the key domain reads zero files") {
    val p = freshPath()
    ManifestTable.commit(
      kv((1L to 100L).map(i => i -> i): _*).repartitionByRange(4, col("k")), p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    assert(keptOnK(p, 1000L, 2000L)._1.isEmpty)
    assert(ManifestTable.readVersionPruned(spark, p, 1L,
      "k", 1000L, 2000L).isEmpty)
  }

  test("2-d box over a z-ordered layout prunes on BOTH manifests; " +
      "single-key clustering cannot skip the second dimension") {
    import spark.implicits._
    // 64×64 grid; the 8×8 box is 1/64 of the domain
    val grid = (0L until 4096L).map(i => (i % 64L, i / 64L))
      .toDF("x", "y")
    val bands = Seq(("x", 24L, 31L), ("y", 24L, 31L))

    def committed(layout: org.apache.spark.sql.DataFrame): String = {
      val p = freshPath()
      ManifestTable.commit(layout, p)
      ManifestTable.extendStats(spark, p, 1L, Seq("x", "y"))
      p
    }
    val zp = committed(grid
      .withColumn("__z", graft.operators.ZOrder.zkey16(col("x"), col("y")))
      .repartitionByRange(16, col("__z"))
      .sortWithinPartitions("__z").drop("__z"))
    val xp = committed(grid.repartitionByRange(16, col("x"))
      .sortWithinPartitions("x"))

    def keptCount(p: String): Int =
      ManifestTable.prunedFilesMulti(spark, p, 1L, bands).size
    // x-clustered: the x band keeps few files, but EVERY kept file
    // spans the full y domain, so the y stats remove nothing more.
    // z-clustered: each file is a compact rectangle; the intersection
    // keeps only files near the box.
    val zKept = keptCount(zp)
    val xKept = keptCount(xp)
    assert(zKept < 16 && zKept <= xKept,
      s"z-order kept $zKept files, x-clustering kept $xKept")
    // correctness: the pruned read equals the brute filter on both
    for (p <- Seq(zp, xp)) {
      val pruned = ManifestTable.readVersionPrunedMulti(spark, p, 1L, bands)
      val full = ManifestTable.readVersion(spark, p, 1L)
        .where(col("x").between(24L, 31L) && col("y").between(24L, 31L))
      assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
      assert(pruned.count() == 64L)
    }
  }

  test("pruned read without a stats manifest fails loudly") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 1L), p)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersionPruned(spark, p, 1L, "k", 0L, 10L).collect()
    }
  }

  test("IN-list prune schedules only files that can hold the keys") {
    val p = freshPath()
    ManifestTable.commit(
      kv((1L to 400L).map(i => i -> i): _*).repartitionByRange(8, col("k")),
      p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    // three scattered point keys -> at most three files survive
    val keys = Seq(7L, 203L, 399L)
    val pruned = ManifestTable.readVersionPrunedByKeys(spark, p, 1L, "k", keys)
    val got = pruned.where(col("k").isin(keys: _*))
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got == keys)
    val survivors = keys.flatMap(key => keptOnK(p, key, key)._1).distinct
    val total = ManifestTable.files(spark, p, 1L).size
    assert(survivors.size <= 3 && survivors.size < total)
    assert(pruned.inputFiles.length == survivors.size)
  }

  // ---- per-file key blooms: layout-independent point skipping ----

  test("bloom prune skips on a HASH layout where min/max keeps every file") {
    val p = freshPath()
    // hash-distributed on k: every file spans ~the full [1, 400] domain
    ManifestTable.commit(
      kv((1L to 400L).map(i => i -> i): _*).repartition(8, col("k")), p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k"))
    ManifestTable.extendBloom(spark, p, 1L, Seq("k"))
    val probes = Seq(7L, 203L, 399L)
    // the range stats are useless here: every file's [min, max]
    // admits every probe
    val byRange = ManifestTable.readVersionPrunedByKeys(
      spark, p, 1L, "k", probes).inputFiles.length
    assert(byRange == 8, "fixture broke: hash layout should defeat min/max pruning")
    // the bloom keeps at most one file per probed key
    val (kept, total) = ManifestTable.prunedFilesBloom(
      spark, p, 1L, "k", probes)
    assert(total == 8L)
    assert(kept.size <= probes.size && kept.nonEmpty,
      s"bloom kept ${kept.size} of $total files")
    // and the pruned read is exact
    val got = ManifestTable.readVersionPrunedBloom(spark, p, 1L, "k", probes)
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got == probes)
  }

  test("bloom prune for absent keys reads zero rows; " +
      "pruned files provably hold none of the probes") {
    val p = freshPath()
    ManifestTable.commit(
      kv((1L to 400L).map(i => i -> i): _*).repartition(8, col("k")), p)
    ManifestTable.extendBloom(spark, p, 1L, Seq("k"))
    val got = ManifestTable.readVersionPrunedBloom(spark, p, 1L,
      "k", Seq(100000L, 200000L))
    assert(got.count() == 0L)
    // no-false-negative direction: every PRESENT key keeps >= 1 file
    (1L to 400L by 37L).foreach { v =>
      assert(ManifestTable.prunedFilesBloom(spark, p, 1L, "k", Seq(v))
        ._1.nonEmpty, s"present key $v was falsely pruned")
    }
  }

  test("bloom prune without a manifest for the column fails loudly") {
    val p = freshPath()
    ManifestTable.commit(kv(1L -> 10L), p)
    ManifestTable.extendBloom(spark, p, 1L, Seq("v"))
    intercept[IllegalArgumentException] {
      ManifestTable.prunedFilesBloom(spark, p, 1L, "k", Seq(1L))
    }
  }

  // ---- per-file token blooms: full-text-search file skipping ----

  /** 800 docs in 8 range-partitioned files; every doc carries the
    * corpus-wide token "common" plus its block's exclusive marker
    * "markerN" (N = doc_id / 100 = the file it lands in), so each
    * marker's vocabulary entry exists in exactly one file.
    */
  private def tokenFixture(): String = {
    import spark.implicits._
    val p = freshPath()
    val docs = (0L until 800L).map(i =>
      (i, s"common text with marker${i / 100} inside")).toDF("doc_id", "text")
    ManifestTable.commit(docs.repartitionByRange(8, col("doc_id")), p)
    ManifestTable.extendTokenBloom(spark, p, 1L, "text")
    p
  }

  test("token search schedules only the files whose vocabulary admits the term") {
    val p = tokenFixture()
    // a marker term lives in one block = one range file
    val (kept, total) = ManifestTable.prunedFilesToken(
      spark, p, 1L, "text", Seq("marker3"))
    assert(total == 8L)
    assert(kept.size == 1, s"marker3 should admit 1 of 8 files, got $kept")
    // the corpus-wide term admits everything (no false prune)
    assert(ManifestTable.prunedFilesToken(
      spark, p, 1L, "text", Seq("common"))._1.size == 8)
    // AND semantics intersect at file level: common AND marker3 -> 1 file
    assert(ManifestTable.prunedFilesToken(
      spark, p, 1L, "text", Seq("common", "marker3"))._1.size == 1)
    // and the search is row-exact on the survivors
    val got = ManifestTable.readVersionSearch(
      spark, p, 1L, "text", Seq("marker3", "common"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (300L until 400L))
  }

  test("token search: absent term reads zero rows; present terms never miss") {
    val p = tokenFixture()
    assert(ManifestTable.readVersionSearch(
      spark, p, 1L, "text", Seq("zzzabsent")).count() == 0L)
    // no-false-negative sweep: every marker finds its full block
    (0 until 8).foreach { b =>
      assert(ManifestTable.readVersionSearch(
        spark, p, 1L, "text", Seq(s"marker$b")).count() == 100L,
        s"marker$b block was falsely pruned")
    }
    // terms must be canonical lowercase tokens — anything else would
    // silently hash to a vocabulary entry that cannot exist
    intercept[IllegalArgumentException] {
      ManifestTable.readVersionSearch(spark, p, 1L, "text", Seq("Marker3"))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.readVersionSearch(spark, p, 1L, "text", Seq())
    }
  }

  // ---- metadata-only aggregation ----

  test("statsAgg answers COUNT/MIN/MAX from the manifest with the data files DELETED") {
    val p = freshPath()
    ManifestTable.commit(
      kv((1L to 400L).map(i => i -> (i * 3)): _*).repartition(8, col("k")), p)
    ManifestTable.extendStats(spark, p, 1L, Seq("k", "v"))
    // agree with the honest scan first
    val viaScan = ManifestTable.readVersion(spark, p, 1L)
      .agg(count(lit(1)), min("k"), max("k")).head()
    val viaStats = ManifestTable.statsAgg(spark, p, 1L, "k").head()
    assert(viaStats.getLong(0) == viaScan.getLong(0))
    assert(viaStats.getLong(1) == viaScan.getLong(1))
    assert(viaStats.getLong(2) == viaScan.getLong(2))
    // now destroy every data file; the per-file stats keep answering
    ManifestTable.files(spark, p, 1L)
      .foreach(n => fs(p).delete(new Path(s"$p/_pool/$n"), false))
    val after = ManifestTable.statsAgg(spark, p, 1L, "v").head()
    assert(after.getLong(0) == 400L)
    assert(after.getLong(1) == 3L && after.getLong(2) == 1200L)
    // a column without stats still fails loudly
    intercept[IllegalArgumentException] {
      ManifestTable.statsAgg(spark, p, 1L, "nope")
    }
  }

  test("statsAgg NULL semantics: all rows counted, NULLs invisible to min/max") {
    import spark.implicits._
    val p = freshPath()
    val rows = Seq[(Long, Option[Long])](
      1L -> Some(10L), 2L -> None, 3L -> Some(30L), 4L -> None)
      .toDF("k", "v")
    // force one all-NULL file: partition by nullness
    ManifestTable.commit(rows.repartition(2, col("v").isNull), p)
    ManifestTable.extendStats(spark, p, 1L, Seq("v"))
    val got = ManifestTable.statsAgg(spark, p, 1L, "v").head()
    assert(got.getLong(0) == 4L, "COUNT must include NULL rows")
    assert(got.getLong(1) == 10L && got.getLong(2) == 30L)
  }
}
