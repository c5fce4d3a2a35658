package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned Parquet table with SHARED data files — the Delta/Iceberg
  * commit model on a plain filesystem: time travel, audit, compaction,
  * data skipping and change capture over one layout.
  *
  * A version is a FILE LIST, not a directory: data files live once in
  * a shared `_pool/` and are immutable; version k's manifest
  * (`_manifest_v<k>.json`, atomically renamed into place) names the
  * pool files it comprises. Two commit shapes share that one path:
  * [[commitAppend]] costs O(delta) — it writes only the new rows'
  * files and a manifest that is parent's list + the new names — and
  * [[commit]] publishes a full snapshot, a manifest listing only the
  * new files (right for key-bounded dims such as the streaming upsert
  * target, which rewrite every row they keep). At 100 TB the append
  * is the difference between a few file writes and a full-table copy;
  * it is how Iceberg/Delta commits actually work.
  *
  * The second consequence is that per-FILE metadata outlives
  * versions: files are immutable, so metadata computed for a file once
  * is valid in every version that references it. Min/max stats, key
  * blooms and token blooms are per-file side tables (`_filestats`,
  * `_filebloom`, `_filetokens`); `extend*` sketches ONLY the files that
  * have no row yet, a version's view is the side table filtered to its
  * manifest, and [[vacuum]] drops the rows of the files it deletes —
  * the incremental-metadata property that makes data skipping
  * affordable on a table that commits every few minutes.
  *
  * Crash story: a commit is (1) parts moved into `_pool/` under
  * names unique to this version, (2) manifest written to a temp name,
  * (3) one atomic rename. A crash before (3) leaves orphaned pool
  * files invisible to every reader (no manifest names them);
  * [[vacuum]] reclaims them as unreferenced. Concurrent writers race
  * on the rename: the loser's rename fails (target exists) and an
  * append retries at the next version — CAS semantics, spec-proven;
  * a commit derived from the version it replaces (snapshot, rewrite)
  * refuses loudly instead of overwriting the winner.
  */
object ManifestTable {

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestPath(path: String, v: Long) =
    new Path(path, s"_manifest_v$v.json")

  def committedVersions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsFor(spark, path)
    val root = new Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.matches("_manifest_v\\d+\\.json"))
      .map(_.stripPrefix("_manifest_v").stripSuffix(".json").toLong)
  }

  def latestVersion(spark: SparkSession, path: String): Long = {
    val vs = committedVersions(spark, path)
    require(vs.nonEmpty, s"no committed version under $path")
    vs.max
  }

  /** The pool-relative file names version `v` comprises, in manifest
    * order — driver-side, file-count-sized, like the scheduler's own
    * file enumeration.
    */
  def files(spark: SparkSession, path: String, v: Long): Seq[String] =
    readManifest(spark, path, v)._1

  /** (file names, txn id if the version was an idempotent commit,
    * physical→logical column renames — see [[renameColumn]]).
    */
  def readManifest(spark: SparkSession, path: String,
      v: Long): (Seq[String], Option[Long], Map[String, String]) = {
    val fs = fsFor(spark, path)
    val mp = manifestPath(path, v)
    require(fs.exists(mp), s"version $v is not committed under $path")
    val in = fs.open(mp)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    parseManifest(body)
  }

  // single-purpose JSON (de)serialization — the names are our own
  // (`v<k>_part-*.parquet`, no quotes/escapes), the txn is a long and
  // the rename map's keys/values are column identifiers, so a strict
  // parser beats dragging in a JSON library. Three forms: a bare name
  // array (plain commits), `{"txn":N,"files":[...]}` (idempotent
  // commits), and either with a `"renames":{"phys":"logical",...}`
  // field (column mapping). Parsing is strict by ROUND-TRIP: the
  // extracted fields must re-render to the exact input byte string.
  private def renderManifest(names: Seq[String], txn: Option[Long],
      renames: Map[String, String] = Map.empty): String = {
    val arr = names.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    if (txn.isEmpty && renames.isEmpty) arr
    else {
      val fields = txn.map(t => s""""txn":$t""").toSeq ++
        Seq(s""""files":$arr""") ++
        (if (renames.isEmpty) Seq.empty
         else Seq(renames.toSeq.sorted
           .map { case (p, l) => s""""$p":"$l"""" }
           .mkString("\"renames\":{", ",", "}")))
      fields.mkString("{", ",", "}")
    }
  }

  private def parseManifest(
      body: String): (Seq[String], Option[Long], Map[String, String]) = {
    val t = body.trim
    if (!t.startsWith("{")) return (parseNameArray(t), None, Map.empty)
    val files = "\"files\":(\\[[^\\]]*\\])".r.findFirstMatchIn(t)
      .map(m => parseNameArray(m.group(1)))
      .getOrElse(throw new IllegalArgumentException(
        s"malformed manifest object: $t"))
    val txn = "\"txn\":(-?\\d+)".r.findFirstMatchIn(t).map(_.group(1).toLong)
    val kv = "\"([A-Za-z0-9_]+)\":\"([A-Za-z0-9_]+)\"".r
    val renames = "\"renames\":\\{([^}]*)\\}".r.findFirstMatchIn(t)
      .map(_.group(1).trim).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map {
        _.trim match {
          case kv(p, l) => p -> l
          case other => throw new IllegalArgumentException(
            s"malformed rename entry: $other")
        }
      }.toMap).getOrElse(Map.empty[String, String])
    require(renderManifest(files, txn, renames) == t,
      s"malformed manifest object (round-trip mismatch): $t")
    (files, txn, renames)
  }

  private def parseNameArray(body: String): Seq[String] = {
    val t = body.trim
    require(t.startsWith("[") && t.endsWith("]"), s"malformed manifest: $t")
    val inner = t.substring(1, t.length - 1).trim
    if (inner.isEmpty) Seq.empty
    else inner.split(",").toSeq.map { s =>
      val q = s.trim
      require(q.length >= 2 && q.head == '"' && q.last == '"' &&
        q.substring(1, q.length - 1).matches("[A-Za-z0-9._-]+"),
        s"malformed manifest entry: $q")
      q.substring(1, q.length - 1)
    }
  }

  /** Move `df`'s freshly-written part files into the pool under
    * version-unique names; returns the pool-relative names.
    */
  private def writeParts(df: DataFrame, path: String, v: Long): Seq[String] = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    val staging = new Path(path, s"_staging_m$v")
    df.write.mode("overwrite").parquet(staging.toString)
    val pool = new Path(path, "_pool")
    fs.mkdirs(pool)
    val parts = fs.listStatus(staging).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val names = parts.map { p =>
      val name = s"v${v}_${p.getPath.getName}"
      require(fs.rename(p.getPath, new Path(pool, name)),
        s"ManifestTable: pool move failed for $name")
      name
    }
    fs.delete(staging, true)
    names
  }

  /** Atomically publish `names` as version `v`. Returns false if `v`
    * was committed by a concurrent writer first (CAS loser — retry at
    * the next version); the loser's pool files stay orphaned until
    * [[vacuum]].
    */
  private def publish(spark: SparkSession, path: String, v: Long,
      names: Seq[String], txn: Option[Long] = None,
      renames: Map[String, String] = Map.empty): Boolean = {
    val fs = fsFor(spark, path)
    val tmp = new Path(path, s"_manifest_tmp_v${v}_${names.hashCode.abs}")
    val out = fs.create(tmp, false)
    try out.write(renderManifest(names, txn, renames).getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(manifestPath(path, v))) { fs.delete(tmp, false); false }
    else {
      val won = fs.rename(tmp, manifestPath(path, v))
      if (!won) fs.delete(tmp, false) // lost the CAS race mid-flight
      won
    }
  }

  // ---- column mapping (Delta/Iceberg-style): pool files are written
  // ONCE under the table's original — PHYSICAL — column names and are
  // immutable; a rename is pure metadata, a physical→logical map in
  // the manifest. Readers alias physical to logical on the way out;
  // writers (appends, merge sources) translate logical back to
  // physical on the way in, so the pool stays uniform forever and a
  // rename never rewrites a byte of a 100 TB table.

  /** Version `v`'s physical→logical column map (empty = no renames). */
  def renamesOf(spark: SparkSession, path: String, v: Long)
      : Map[String, String] = readManifest(spark, path, v)._3

  private def toLogical(df: DataFrame, renames: Map[String, String])
      : DataFrame =
    if (renames.isEmpty) df
    else df.select(df.columns.toSeq
      .map(c => col(c).as(renames.getOrElse(c, c))): _*)

  private def toPhysical(df: DataFrame, renames: Map[String, String])
      : DataFrame = {
    val inv = renames.map(_.swap)
    if (inv.isEmpty) df
    else df.select(df.columns.toSeq
      .map(c => col(c).as(inv.getOrElse(c, c))): _*)
  }

  /** The physical column behind logical name `logical` under `renames`. */
  private def physicalFor(renames: Map[String, String],
      logical: String): String =
    renames.collectFirst { case (p, l) if l == logical => p }
      .getOrElse(logical)

  /** Metadata-only column rename: commits a NEW version with the SAME
    * file list and an updated physical→logical map — zero data files
    * read or written (the spec asserts byte-identical file
    * references). Renames compose (a→b then b→c maps the original
    * physical a to c); a mapping back to the physical name erases the
    * entry. Refuses a target name already in use. Old versions keep
    * their old names — time travel shows the schema as it was.
    */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Long = {
    require(to.matches("[A-Za-z0-9_]+"), s"renameColumn: bad name '$to'")
    val v = latestVersion(spark, path)
    val renames = renamesOf(spark, path, v)
    val physCols = readVersionPhysical(spark, path, v).columns.toSeq
    val logicalCols = physCols.map(c => renames.getOrElse(c, c))
    require(logicalCols.contains(from),
      s"renameColumn: no column '$from' (have ${logicalCols.mkString(", ")})")
    require(!logicalCols.filterNot(_ == from).contains(to),
      s"renameColumn: '$to' already names a column")
    val phys = physicalFor(renames, from)
    val next =
      if (phys == to) renames - phys else renames + (phys -> to)
    val nv = v + 1
    require(publish(spark, path, nv, files(spark, path, v),
        readManifest(spark, path, v)._2, next),
      s"ManifestTable.renameColumn: version $nv raced a concurrent commit")
    nv
  }

  /** The one write path behind every commit of new rows: write `df`
    * into the pool and publish it as the next version — on top of the
    * parent's file list (`append`) or alone (a full snapshot). An
    * append arrives in the parent's LOGICAL schema and is stored under
    * the physical names, so the pool stays uniform across renames; a
    * snapshot starts a fresh schema with no renames. An append retries
    * past concurrent winners; a snapshot is derived from the version
    * it replaces, so losing the race refuses. With a `txn`, each lap
    * first re-checks whether a concurrent retry of the same txn landed.
    */
  private def commitRows(df: DataFrame, path: String, append: Boolean,
      txn: Option[Long]): Long = {
    val spark = df.sparkSession
    def renamesBelow(v: Long) =
      if (append && v > 1) renamesOf(spark, path, v - 1)
      else Map.empty[String, String]
    var v = committedVersions(spark, path).sorted.lastOption.getOrElse(0L) + 1
    var renames = renamesBelow(v)
    val names = writeParts(toPhysical(df, renames), path, v)
    var done: Option[Long] = None
    while (done.isEmpty) {
      done = txn.flatMap(versionOfTxn(spark, path, _))
      if (done.isEmpty) {
        val parent =
          if (append && v > 1) files(spark, path, v - 1) else Seq.empty
        if (publish(spark, path, v, parent ++ names, txn, renames))
          done = Some(v)
        else {
          require(append,
            s"ManifestTable.commit: version $v raced a concurrent commit")
          v += 1 // our pool files are version-named, but names only
          // need uniqueness, not version agreement
          renames = renamesBelow(v)
        }
      }
    }
    done.get
  }

  /** Append `df` as a new version: O(delta) — only the new rows are
    * written; every parent file is REFERENCED, never copied. The first
    * call creates v1. Returns the committed version number (retrying
    * past concurrent winners).
    */
  def commitAppend(df: DataFrame, path: String): Long =
    commitRows(df, path, append = true, None)

  /** Publish `df` as a full snapshot: a new version whose manifest
    * lists only `df`'s new pool files — the commit shape of a
    * key-bounded dim rebuilt from its previous version (merge, upsert).
    * Earlier versions keep reading their own files until vacuumed.
    * With a `txnId`, a retry of an already-published txn returns that
    * version and writes nothing (the [[commitAppendOnce]] dedup).
    */
  def commit(df: DataFrame, path: String, txnId: Option[Long] = None): Long =
    txnId.flatMap(versionOfTxn(df.sparkSession, path, _))
      .getOrElse(commitRows(df, path, append = false, txnId))

  /** CHECK-constrained append (Delta's table CHECK constraints as an
    * ingestion gate): commits `df` only if every row satisfies
    * `constraint` (a boolean SQL expression over the LOGICAL schema).
    * SQL CHECK semantics — only FALSE violates; NULL (unknown)
    * passes. The check costs O(delta) — it scans the incoming rows
    * once, never the table — and REFUSES the whole commit on any
    * violation (all-or-nothing, reporting the violation count), so a
    * bad producer can never leave a partially-valid version behind.
    */
  def commitAppendChecked(df: DataFrame, path: String,
      constraint: String): Long = {
    val bad = df.where(!coalesce(expr(constraint), lit(true))).count()
    require(bad == 0L,
      s"commitAppendChecked: $bad rows violate CHECK ($constraint) — " +
        "commit refused")
    commitAppend(df, path)
  }

  /** Idempotent append for exactly-once sinks (Delta's txnAppId/
    * txnVersion dedup, same mechanism): `txnId` names the logical
    * transaction — for a streaming sink, the micro-batch id. The txn
    * id is recorded INSIDE the manifest, so the one atomic manifest
    * rename commits the data AND the dedup record together — there is
    * no ordering window where a crash could double-append (marker
    * after data) or lose a batch (marker before data). A retry first
    * scans committed manifests for the txn (driver-side,
    * version-count-sized) and no-ops to the original version; its
    * half-written pool files are vacuum-able orphans.
    */
  def commitAppendOnce(df: DataFrame, path: String, txnId: Long): Long =
    versionOfTxn(df.sparkSession, path, txnId)
      .getOrElse(commitRows(df, path, append = true, Some(txnId)))

  /** The committed version carrying `txnId`, if any. */
  def versionOfTxn(spark: SparkSession, path: String,
      txnId: Long): Option[Long] =
    committedVersions(spark, path).sorted
      .find(v => readManifest(spark, path, v)._2.contains(txnId))

  /** Read version `v`: schedule exactly its manifest's pool files,
    * aliased to `v`'s LOGICAL column names (see [[renameColumn]]).
    * Fails loudly on an uncommitted or vacuumed version.
    */
  def readVersion(spark: SparkSession, path: String, v: Long): DataFrame =
    toLogical(readVersionPhysical(spark, path, v),
      renamesOf(spark, path, v))

  private def readVersionPhysical(spark: SparkSession, path: String,
      v: Long): DataFrame = {
    val names = files(spark, path, v)
    require(names.nonEmpty, s"version $v of $path has no files")
    spark.read.parquet(names.map(n => s"$path/_pool/$n"): _*)
  }

  def latest(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path, latestVersion(spark, path))

  /** Pool files `kept` of version `v` under `v`'s logical names — the
    * scan schedule of every skipping read. An empty schedule reads
    * nothing, with the version's schema intact.
    */
  private def readFiles(spark: SparkSession, path: String, v: Long,
      kept: Seq[String]): DataFrame =
    if (kept.isEmpty) readVersion(spark, path, v).where(lit(false))
    else toLogical(
      spark.read.schema(readVersionPhysical(spark, path, v).schema)
        .parquet(kept.sorted.map(n => s"$path/_pool/$n"): _*),
      renamesOf(spark, path, v))

  /** Timestamp time travel (Delta's `TIMESTAMP AS OF`): the newest
    * version whose manifest was committed at or before `tsMillis` —
    * the manifest file's own modification time IS the commit time,
    * exactly one atomic rename, so no separate commit-time record can
    * disagree with it. Refuses a timestamp older than the first
    * commit (nothing existed to read).
    */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val fs = fsFor(spark, path)
    val at = committedVersions(spark, path)
      .map(v => v -> fs.getFileStatus(manifestPath(path, v))
        .getModificationTime)
      .filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"versionAsOf: no version committed at or before $tsMillis under $path")
    at.maxBy(_._1)._1
  }

  /** Read version `v` with ROW LINEAGE: an extra `_commit_version`
    * column naming the version whose commit INTRODUCED each row's
    * file — pure metadata (file → first manifest that references it),
    * joined at the scan via `_metadata.file_path`, no data rewritten
    * or compared. The incremental-debugging read ("which append
    * brought these rows in?") a 100 TB table serves without storing
    * lineage in the rows. Rewritten files (delete/merge survivors,
    * compaction output) carry the REWRITE's version — lineage names
    * the commit that produced the bytes, not the original insert.
    */
  def readVersionLineage(spark: SparkSession, path: String,
      v: Long): DataFrame = {
    import spark.implicits._
    val vs = committedVersions(spark, path).sorted.filter(_ <= v)
    val firstRef = vs.flatMap(w => files(spark, path, w).map(_ -> w))
      .groupBy(_._1).map { case (f, refs) => f -> refs.map(_._2).min }
    val names = files(spark, path, v)
    val lineage = broadcast(names.map(n => n -> firstRef(n))
      .toDF("_file", "_commit_version"))
    toLogical(
      readVersionPhysical(spark, path, v)
        .withColumn("_file",
          element_at(split(col("_metadata.file_path"), "/"), -1))
        .join(lineage, Seq("_file"))
        .drop("_file"),
      renamesOf(spark, path, v))
  }

  /** One row per version: file count, bytes, and how many files are
    * SHARED with the previous version — the audit trail that makes the
    * O(delta) claim checkable (an append's sharing is its parent's
    * whole list, a snapshot's is zero).
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    val fs = fsFor(spark, path)
    val vs = committedVersions(spark, path).sorted
    val lists = vs.map(v => v -> files(spark, path, v)).toMap
    val rows = vs.map { v =>
      val fl = lists(v)
      val bytes = fl.map(n =>
        fs.getFileStatus(new Path(s"$path/_pool/$n")).getLen).sum
      val shared = if (v == vs.head) 0L
        else fl.toSet.intersect(lists(vs(vs.indexOf(v) - 1)).toSet).size.toLong
      (v, fl.size.toLong, bytes, shared)
    }
    import spark.implicits._
    rows.toDF("version", "n_files", "n_bytes", "n_shared_with_prev")
  }

  /** Compaction: rewrite the LATEST version's rows into `targetFiles`
    * fresh pool files and publish them as a new version that shares
    * NOTHING — older versions still read their original files until
    * vacuumed. Metadata for the new files extends incrementally like
    * any other commit.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 1): Long = {
    val v = latestVersion(spark, path)
    val nv = v + 1
    val names = writeParts(
      readVersionPhysical(spark, path, v).coalesce(targetFiles), path, nv)
    require(publish(spark, path, nv, names, None, renamesOf(spark, path, v)),
      s"ManifestTable.compact: version $nv raced a concurrent commit")
    nv
  }

  /** OPTIMIZE … ZORDER BY on the shared-file layout: rewrite the
    * latest version's rows into `targetFiles` Morton-clustered pool
    * files — each file a compact (x, y) RECTANGLE, so per-file stats
    * are tight on BOTH columns and a 2-d box read prunes on both
    * manifests at once ([[readVersionPrunedMulti]]), where plain
    * range clustering is tight on one key only. Published as a new
    * version sharing nothing; older versions read their original
    * layout until vacuumed; stats for the new files extend
    * incrementally like any commit. zkey16 interleaves the LOW 16
    * bits of each dimension — domains beyond 65535 wrap, degrading
    * cluster quality, never correctness (pruning reads the real
    * column stats and every read carries the exact residual filter).
    */
  def compactZorder(spark: SparkSession, path: String, xCol: String,
      yCol: String, targetFiles: Int): Long = {
    val v = latestVersion(spark, path)
    val renames = renamesOf(spark, path, v)
    val nv = v + 1
    val clustered = readVersionPhysical(spark, path, v)
      .withColumn("__z", graft.operators.ZOrder.zkey16(
        col(physicalFor(renames, xCol)), col(physicalFor(renames, yCol))))
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    val names = writeParts(clustered, path, nv)
    require(publish(spark, path, nv, names, None, renames),
      s"ManifestTable.compactZorder: version $nv raced a concurrent commit")
    nv
  }

  /** Retention with REFCOUNTING: drop every version except the newest
    * `keep`, then delete pool files no SURVIVING manifest references —
    * shared files live exactly as long as a reader can reach them —
    * together with their rows in every per-file side table. Orphans
    * from crashed/lost commits are reclaimed here too. Reading a
    * vacuumed version fails loudly. Returns (versions dropped, pool
    * files deleted).
    */
  def vacuum(spark: SparkSession, path: String,
      keep: Int = 2): (Seq[Long], Seq[String]) = {
    require(keep >= 1, "vacuum: must keep at least the latest version")
    val fs = fsFor(spark, path)
    val vs = committedVersions(spark, path).sorted
    val drop = vs.dropRight(keep)
    drop.foreach(v => fs.delete(manifestPath(path, v), false))
    val live = vs.drop(drop.size)
      .flatMap(v => files(spark, path, v)).toSet
    val pool = new Path(path, "_pool")
    val dead = if (!fs.exists(pool)) Seq.empty[String]
      else fs.listStatus(pool).toSeq.map(_.getPath.getName)
        .filterNot(live.contains).sorted
    dead.foreach(n => fs.delete(new Path(pool, n), false))
    if (dead.nonEmpty) sideTables.map(new Path(path, _)).filter(fs.exists)
      .foreach { table =>
        val tmp = new Path(path, s"${table.getName}_new")
        spark.read.parquet(table.toString)
          .where(!col("file").isin(dead: _*))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        fs.delete(table, true)
        require(fs.rename(tmp, table),
          s"vacuum: ${table.getName} rewrite rename failed")
      }
    (drop, dead)
  }

  /** Predicate-pruned DELETE (Delta's DELETE with file skipping): drop
    * rows with `colName` ∈ [lo, hi] as a NEW version that REWRITES
    * ONLY the files whose per-file stats overlap the band — every
    * other file is referenced unchanged, byte-identical, stats intact.
    * On a 100 TB table a targeted delete (GDPR erasure, a bad
    * ingestion window) touches the few files that can possibly hold
    * the rows; the rest of the table is never read, never written.
    * Old versions still read the pre-delete data (time travel is the
    * audit trail). Requires stats on `colName` for every file — a
    * stats-less file cannot be safely skipped, and rewriting it
    * unconditionally would hide the metadata gap; fail loudly.
    * Returns the new version, or the CURRENT version unchanged if no
    * file overlaps the band (a provable no-op commits nothing).
    */
  def deleteWhere(spark: SparkSession, path: String, colName: String,
      lo: Long, hi: Long): Long = {
    val v = latestVersion(spark, path)
    val renames = renamesOf(spark, path, v)
    val phys = physicalFor(renames, colName)
    val touched = prunedFilesMulti(spark, path, v, Seq((colName, lo, hi)))
    if (touched.isEmpty) return v // provable no-op
    val untouched = files(spark, path, v).filterNot(touched.toSet)
    val nv = v + 1
    val survivors = spark.read
      .parquet(touched.map(n => s"$path/_pool/$n"): _*)
      .where(!(col(phys) >= lo && col(phys) <= hi))
      .coalesce(touched.size)
    val newNames = writeParts(survivors, path, nv)
    require(publish(spark, path, nv, untouched ++ newNames, None, renames),
      s"ManifestTable.deleteWhere: version $nv raced a concurrent commit")
    nv
  }

  /** Incremental read between versions — the manifest layout's payoff
    * on the READ side: the rows added after `fromV` (exclusive) up to
    * `toV` (inclusive) are exactly the rows of the files the two
    * manifests DIFFER by, so change capture costs O(delta-files) with
    * ZERO data compared ([[changeFeed]] diff-joins two full versions —
    * O(table); here the delta falls out of the metadata). This is how
    * a downstream consumer tails a 100 TB table that commits every
    * minute: each poll schedules only the new files.
    *
    * Sound only for APPEND-ONLY histories: a version that REMOVED a
    * file (delete, merge rewrite, compaction, snapshot) breaks
    * rows-added-equals-file-diff — a rewritten file's surviving rows
    * would re-appear as "new". Every step in (fromV, toV] is checked
    * (not just the endpoints: a mid-range rewrite can slip past an
    * endpoint-only subset test) and refused loudly — Delta's
    * streaming-source contract, without the ignoreChanges opt-out.
    */
  def tailSince(spark: SparkSession, path: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV <= toV, s"tailSince: fromV $fromV > toV $toV")
    // fromV = 0 means "before the first commit": the whole of toV is
    // the delta (a fresh consumer's initial batch)
    val base =
      if (fromV == 0) Seq.empty[String] else files(spark, path, fromV)
    var prev = base
    ((fromV + 1) to toV).foreach { v =>
      val cur = files(spark, path, v)
      val removed = prev.filterNot(cur.toSet)
      require(removed.isEmpty,
        s"tailSince: v$v is not an append (removed ${removed.mkString(", ")}) " +
          "— rows-added-equals-file-diff does not hold past a rewrite")
      prev = cur
    }
    val delta = prev.filterNot(base.toSet)
    if (delta.isEmpty) readVersion(spark, path, toV).where(lit(false))
    else toLogical(
      spark.read.parquet(delta.sorted.map(n => s"$path/_pool/$n"): _*),
      renamesOf(spark, path, toV))
  }

  /** Copy-on-write MERGE (Delta's `MERGE INTO … WHEN MATCHED THEN
    * UPDATE SET * WHEN NOT MATCHED THEN INSERT *`): upsert `source`
    * (same schema as the table; `keyCol` unique WITHIN source —
    * checked, because two source rows matching one target row makes
    * the update ambiguous, the error Delta raises too) into the
    * latest version. Two-phase file skipping finds the touched set:
    *
    *   1. '''stats prune''' — a file is a CANDIDATE only if some
    *      source key falls inside its per-file [min,max] band on
    *      `keyCol`. The bands are manifest-sized, so they broadcast
    *      to the source side; the table itself is never read here.
    *   2. '''exact probe''' — candidates are scanned ONCE, key column
    *      only, inner-joined to the source keys via
    *      `_metadata.file_path`: a candidate whose band overlaps but
    *      which holds no actually-matched key stays UNTOUCHED (the
    *      payoff over band-only pruning — spec-proven on a file whose
    *      band brackets a key it doesn't contain).
    *
    * Touched files are rewritten with matched rows' non-key columns
    * replaced by the source row's (row multiplicity preserved — N
    * target rows with the same key all update, as in Delta); source
    * rows that matched nothing anywhere are appended as new file(s).
    * Every other file is referenced byte-identical, stats intact. On
    * a 100 TB table the cost is O(files-actually-hit + delta), not
    * O(table). Old versions still serve the pre-merge rows. Requires
    * stats on `keyCol` for every file (a stats-less file cannot be
    * safely skipped; rewriting it unconditionally would hide the
    * metadata gap — fail loudly). Returns the new version, or the
    * current version unchanged for an empty source.
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      keyCol: String): Long = {
    val v = latestVersion(spark, path)
    val renames = renamesOf(spark, path, v)
    val physKey = physicalFor(renames, keyCol) // pool + stats: physical
    val names = files(spark, path, v)
    val stats = sideRows(spark, path, "_filestats", v, keyCol,
      "min_v", "max_v")
    val src = toPhysical(source, renames).cache()
    try {
      val dup = src.groupBy(physKey).count().where(col("count") > 1).count()
      require(dup == 0,
        s"mergeInto: $dup duplicate $keyCol values in source — " +
          "a target row would match more than one update")
      if (src.isEmpty) return v
      // phase 1: band prune. Bands are manifest-sized → broadcast them
      // against the source keys; candidates = files whose band admits
      // at least one source key.
      import spark.implicits._
      val bands = stats.toSeq
        .collect { case r if !r.isNullAt(1) =>
          (r.getString(0), r.getLong(1), r.getLong(2)) }
        .toDF("file", "min_v", "max_v")
      val srcKeys = src.select(col(physKey).cast("long").as("_mk"))
      val candidates = srcKeys
        .join(broadcast(bands),
          col("_mk") >= col("min_v") && col("_mk") <= col("max_v"))
        .select("file").distinct().collect().map(_.getString(0)).toSeq
      // phase 2: exact probe — key column only, candidates only.
      val touched: Seq[String] =
        if (candidates.isEmpty) Seq.empty
        else spark.read
          .parquet(candidates.sorted.map(n => s"$path/_pool/$n"): _*)
          .select(col(physKey),
            element_at(split(col("_metadata.file_path"), "/"), -1)
              .as("_file"))
          .join(src.select(col(physKey)), Seq(physKey), "left_semi")
          .select("_file").distinct().collect().map(_.getString(0)).toSeq
      val untouched = names.filterNot(touched.toSet)
      val tableSchema = readVersionPhysical(spark, path, v).schema
      val others = tableSchema.fieldNames.filterNot(_ == physKey).toSeq
      val srcAliased = src.select(
        col(physKey) +: others.map(c => col(c).as(s"_src_$c")): _*)
      val nv = v + 1
      // rewrite: matched rows take the source row's non-key columns;
      // multiplicity and target column order preserved.
      val rewrittenNames =
        if (touched.isEmpty) Seq.empty
        else {
          val rows = spark.read.schema(tableSchema)
            .parquet(touched.sorted.map(n => s"$path/_pool/$n"): _*)
          val marked = src.select(col(physKey), lit(true).as("_hit"))
          val rewritten = rows
            .join(srcAliased.join(marked, Seq(physKey)), Seq(physKey), "left")
            .select(tableSchema.fieldNames.toSeq.map {
              case k if k == physKey => col(k)
              case c => when(col("_hit"), col(s"_src_$c"))
                .otherwise(col(c)).as(c)
            }: _*)
            .coalesce(touched.size)
          writeParts(rewritten, path, nv)
        }
      // insert: source rows whose key matched nothing anywhere. Keys
      // outside every band cannot match; keys inside a band matched
      // only if the probe's scan found them — so anti-join against
      // the touched files' key set is exact.
      val matchedKeys =
        if (touched.isEmpty) src.select(col(physKey)).where(lit(false))
        else spark.read
          .parquet(touched.sorted.map(n => s"$path/_pool/$n"): _*)
          .select(col(physKey))
      val inserts = src
        .join(matchedKeys.distinct(), Seq(physKey), "left_anti")
        .select(tableSchema.fieldNames.toSeq.map(col): _*)
      val insertNames =
        if (inserts.isEmpty) Seq.empty
        else writeParts(inserts.coalesce(1), path, nv)
      require(publish(spark, path, nv,
          untouched ++ rewrittenNames ++ insertNames, None, renames),
        s"ManifestTable.mergeInto: version $nv raced a concurrent commit")
      nv
    } finally src.unpersist()
  }

  // ---- per-file side tables. Each holds one row per (file, column):
  // `_filestats` (n_rows, min_v, max_v — long-typed columns),
  // `_filebloom` (a key bloom) and `_filetokens` (a token bloom), keyed
  // by PHYSICAL column name because they describe immutable files.
  // Every file sketched gets a row, even one with no qualifying value
  // (NULL band / NULL blob, which never admits a probe), so a missing
  // row always means "never sketched" and the readers refuse it.
  private val sideTables = Seq("_filestats", "_filebloom", "_filetokens")

  /** Append to side table `table` the rows version `v` lacks: for each
    * of `cols` (logical names), `sketch(files, physicalColumn)` runs
    * over just the files without a row for that column.
    */
  private def extendSide(spark: SparkSession, path: String, table: String,
      v: Long, cols: Seq[String])(
      sketch: (Seq[String], String) => DataFrame): Unit = {
    val renames = renamesOf(spark, path, v)
    val have: Set[(String, String)] =
      if (!fsFor(spark, path).exists(new Path(path, table))) Set.empty
      else spark.read.parquet(s"$path/$table").select("file", "column")
        .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSet
    val names = files(spark, path, v)
    val parts = cols.map(physicalFor(renames, _)).distinct.flatMap { c =>
      val need = names.filterNot(n => have((n, c)))
      if (need.isEmpty) None else Some(sketch(need, c))
    }
    if (parts.nonEmpty)
      parts.reduce(_ unionByName _).coalesce(1)
        .write.mode("append").parquet(s"$path/$table")
  }

  /** One row per file of `need`: `agg` (keyed by `_file`, the pool
    * name of each row's file) left-joined onto the file list, so a
    * file contributing no group keeps NULL aggregates.
    */
  private def perFile(spark: SparkSession, need: Seq[String],
      agg: DataFrame): DataFrame = {
    import spark.implicits._
    need.toDF("_file").join(agg, Seq("_file"), "left")
  }

  /** The pool files `need`, each row tagged with its file's pool name. */
  private def poolScan(spark: SparkSession, path: String,
      need: Seq[String]): DataFrame =
    spark.read.parquet(need.map(n => s"$path/_pool/$n"): _*)
      .withColumn("_file",
        element_at(split(col("_metadata.file_path"), "/"), -1))

  /** Rows of side table `table` for version `v`'s files on logical
    * column `colName`: `file` followed by `fields`. Fails loudly when a
    * file of `v` has no row — a file without metadata cannot be safely
    * skipped, and silently scanning it would hide the gap.
    */
  private def sideRows(spark: SparkSession, path: String, table: String,
      v: Long, colName: String, fields: String*): Array[Row] = {
    val names = files(spark, path, v)
    val phys = physicalFor(renamesOf(spark, path, v), colName)
    val rows =
      if (!fsFor(spark, path).exists(new Path(path, table))) Array.empty[Row]
      else spark.read.parquet(s"$path/$table")
        .where(col("column") === phys && col("file").isin(names: _*))
        .select("file", fields: _*).collect()
    val have = rows.map(_.getString(0)).toSet
    val missing = names.filterNot(have.contains)
    require(missing.isEmpty, s"files of v$v of $path lack $table rows " +
      s"for $colName: ${missing.mkString(", ")}")
    rows
  }

  /** Incrementally extend the per-FILE min/max/count stats for
    * `statsCols` (long-typed): files are immutable, so stats are
    * computed ONCE per file and reused by every version that references
    * it — only files of `version` without a row for the column are
    * scanned. The 100 TB consequence: a minutely append commits
    * metadata for its delta only, never re-reads the table. At scale
    * the point of file stats is that pruned reads drop files BEFORE the
    * scan is scheduled — parquet row-group pruning still pays a task +
    * footer read per file, manifest pruning pays neither. A zero-row
    * file gets n_rows = 0 and a NULL band, which never overlaps a probe.
    */
  def extendStats(spark: SparkSession, path: String, version: Long,
      statsCols: Seq[String]): Unit =
    extendSide(spark, path, "_filestats", version, statsCols) { (need, c) =>
      perFile(spark, need, poolScan(spark, path, need).groupBy("_file").agg(
          count(lit(1)).as("n_rows"),
          min(col(c)).cast("long").as("min_v"),
          max(col(c)).cast("long").as("max_v")))
        .select(col("_file").as("file"), lit(c).as("column"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          col("min_v"), col("max_v"))
    }

  /** Per-FILE BLOOM sketches for `bloomCols` (long-typed) — the
    * LAYOUT-INDEPENDENT point-lookup complement to the min/max bands.
    * Range stats only skip when the physical layout clusters the column
    * (on a hash-distributed layout every file spans the full domain and
    * min/max keeps everything); a bloom answers "can key K possibly be
    * in this file" on ANY layout at `numBits` bits per file per column.
    * Built in one columnar scan per column: `groupBy` file with the
    * mergeable bloom aggregate (`functions/Bloom.scala`) — per-FILE
    * filters, never a global one, so the side table stays
    * file-count-sized and pruning happens BEFORE task scheduling.
    * Extended like [[extendStats]]: only unsketched files are scanned.
    *
    * NULL keys are not admitted to the sketch; an IN probe can never
    * match NULL, so a file holding only NULLs in the column gets a
    * NULL blob and always prunes.
    */
  def extendBloom(spark: SparkSession, path: String, version: Long,
      bloomCols: Seq[String], numBits: Int = 1 << 17, k: Int = 7): Unit = {
    require(bloomCols.nonEmpty, "extendBloom: no columns given")
    extendSide(spark, path, "_filebloom", version, bloomCols) { (need, c) =>
      bloomRows(spark, need, c, numBits, k,
        poolScan(spark, path, need).where(col(c).isNotNull)
          .select(col("_file"), col(c).cast("long").as("_key")))
    }
  }

  /** One side-table row per file of `need`: the bloom of the `_key`
    * values in `keys` (keyed by `_file`), NULL for a file with none.
    */
  private def bloomRows(spark: SparkSession, need: Seq[String], c: String,
      numBits: Int, k: Int, keys: DataFrame): DataFrame =
    perFile(spark, need, keys.groupBy("_file").agg(
        graft.functions.Bloom.bloomAgg(col("_key"), numBits, k).as("blob")))
      .select(col("_file").as("file"), lit(c).as("column"),
        lit(numBits).as("num_bits"), lit(k).as("k"), col("blob"))

  /** The canonical tokenizer shared by the token-bloom build, the
    * residual search filter, and every oracle: lowercase alnum runs.
    * Kept as ONE expression string so build and probe can never drift.
    */
  private def tokensExpr(textCol: String): String =
    s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)"

  /** Per-file TOKEN blooms for text column `textCol` — a full-text
    * skip index: "which files can possibly contain the word W?"
    * answered driver-side, before any task is scheduled. This is the
    * capability behind "grep a 100 TB corpus for a rare term without
    * scanning it": token blooms admit ~the files that truly contain the
    * term (+FPR); everything else never leaves the side table.
    *
    * Built in ONE columnar scan of the text column: tokenize → per-row
    * distinct token hashes → explode → `groupBy` file with the
    * mergeable bloom aggregate (map-side partial bitsets, so the
    * shuffle carries file-count × blob, never token rows). Sizing
    * note: unlike key blooms, token blooms hold a file's DISTINCT
    * VOCABULARY — size `numBits` for vocabulary cardinality (2^17 bits
    * / k=7 holds ~10k distinct tokens at ~1% FPR), not row count.
    */
  def extendTokenBloom(spark: SparkSession, path: String, version: Long,
      textCol: String, numBits: Int = 1 << 17, k: Int = 7): Unit =
    extendSide(spark, path, "_filetokens", version, Seq(textCol)) { (need, c) =>
      bloomRows(spark, need, c, numBits, k,
        poolScan(spark, path, need).where(col(c).isNotNull)
          .select(col("_file"), explode(expr(
            s"array_distinct(transform(${tokensExpr(c)}, t -> xxhash64(t)))"))
            .as("_key")))
    }

  /** The per-file stats side table (all files ever sketched). */
  def readFileStats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/_filestats")

  /** Version `v`'s stats view: the side table filtered to its
    * manifest — per-file metadata outlives versions.
    */
  def statsFor(spark: SparkSession, path: String, v: Long): DataFrame = {
    val names = files(spark, path, v)
    readFileStats(spark, path).where(col("file").isin(names: _*))
  }

  /** The files of version `v` whose per-column stats bands intersect
    * EVERY probe band — the scan schedule [[readVersionPrunedMulti]]
    * reads. Public so specs can audit layout effects (z-order, the
    * c25 partition evolution) at the file level.
    */
  def prunedFilesMulti(spark: SparkSession, path: String, v: Long,
      bands: Seq[(String, Long, Long)]): Seq[String] = {
    require(bands.nonEmpty, "prunedFilesMulti: no bands given")
    val keptPerBand = bands.map { case (c, lo, hi) =>
      sideRows(spark, path, "_filestats", v, c, "min_v", "max_v")
        .filter(r => !r.isNullAt(1) && r.getLong(2) >= lo && r.getLong(1) <= hi)
        .map(_.getString(0)).toSet
    }
    keptPerBand.reduce(_ intersect _).toSeq.sorted
  }

  /** Band-pruned read of version `v` on `colName` ∈ [lo, hi] through
    * the per-file stats, with the exact residual filter on top (file
    * stats are a superset bound, not an index). Correct for ANY
    * layout; it only SKIPS when the layout clusters `colName`.
    */
  def readVersionPruned(spark: SparkSession, path: String, v: Long,
      colName: String, lo: Long, hi: Long): DataFrame =
    readVersionPrunedMulti(spark, path, v, Seq((colName, lo, hi)))

  /** Multi-dimensional data skipping: keep only files overlapping
    * EVERY band — per-column prunes intersect, which is where the
    * z-ordered layout pays ([[compactZorder]]). Exact residual filter
    * on all bands; stats required for every file on every band
    * column, as ever.
    */
  def readVersionPrunedMulti(spark: SparkSession, path: String, v: Long,
      bands: Seq[(String, Long, Long)]): DataFrame =
    readFiles(spark, path, v, prunedFilesMulti(spark, path, v, bands))
      .where(bands.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
        .reduce(_ && _))

  /** JOIN-TIME dynamic file pruning (Delta's DFP) and IN-list lookup:
    * schedule only the files whose [min,max] band on `colName` admits
    * at least one of `keys` — the data-skipping story extended from
    * single-table predicates (c9–c14) to the join boundary, where a
    * dim-filtered fact scan otherwise reads the whole fact table and
    * lets the join discard 99% of it. `keys` is collected
    * driver-side, the same dim-sized contract as a broadcast join's
    * build side (DFP only ever applies when the dim IS
    * broadcast-small); per-file admission is a sorted-array binary
    * search, O(files · log keys). The caller's exact join or IN filter
    * afterwards keeps correctness independent of pruning (a false
    * admit costs bytes, a false drop is impossible: every key inside a
    * file lies inside its band). Requires stats for every file.
    */
  def readVersionPrunedByKeys(spark: SparkSession, path: String, v: Long,
      colName: String, keys: Seq[Long]): DataFrame = {
    val sorted = keys.distinct.sorted.toArray
    def bandHasKey(lo: Long, hi: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(sorted, lo)
      val at = if (i >= 0) i else -i - 1 // first key >= lo
      at < sorted.length && sorted(at) <= hi
    }
    val kept = sideRows(spark, path, "_filestats", v, colName, "min_v", "max_v")
      .filter(r => !r.isNullAt(1) && bandHasKey(r.getLong(1), r.getLong(2)))
      .map(_.getString(0)).toSeq
    readFiles(spark, path, v, kept)
  }

  /** Metadata-only aggregation (the Delta/Iceberg "answer from the
    * manifest" path): COUNT(*) / MIN / MAX on a stats-carrying column
    * computed purely from the per-file stats — sum of per-file row
    * counts, min of per-file minima, max of per-file maxima. ZERO data
    * files are read (spec-proven by deleting them first): at 100 TB
    * this is the difference between a catalog ping and a full scan for
    * the `SELECT count(*), min(k), max(k)` a dashboard fires hourly.
    *
    * Semantics match SQL aggregates exactly: `n_rows` counts ALL rows
    * (the per-file count is unconditional); `min_v`/`max_v` ignore
    * NULLs (an all-NULL file carries a NULL band, which min/max skip).
    * Only sound because files are immutable — a mutable file would
    * need metadata invalidation on write.
    */
  def statsAgg(spark: SparkSession, path: String, version: Long,
      colName: String): DataFrame = {
    val rows = sideRows(spark, path, "_filestats", version, colName,
      "n_rows", "min_v", "max_v")
    val banded = rows.filterNot(_.isNullAt(2))
    import spark.implicits._
    Seq((rows.map(_.getLong(1)).sum,
        banded.map(_.getLong(2)).minOption, banded.map(_.getLong(3)).maxOption))
      .toDF("n_rows", "min_v", "max_v")
  }

  /** The files of `v` whose bloom in side table `table` on `colName`
    * passes `admits` (decoded bits, k), plus the version's file count.
    * Driver-side: files × probes × k bits over file-count-sized blobs —
    * control-plane work, like the scheduler's own file enumeration.
    * False positives over-keep (the residual filter stays exact);
    * false negatives are impossible, so a pruned file provably fails
    * the probe.
    */
  private def bloomPrune(spark: SparkSession, path: String, table: String,
      v: Long, colName: String)(
      admits: (Array[Long], Int) => Boolean): (Seq[String], Long) = {
    val rows = sideRows(spark, path, table, v, colName, "blob")
    val kept = rows.filter { r =>
      !r.isNullAt(1) && {
        val (bits, k) = graft.functions.Bloom.decode(r.getAs[Array[Byte]](1))
        admits(bits, k)
      }
    }.map(_.getString(0)).toSeq.sorted
    (kept, rows.length.toLong)
  }

  /** The files of `v` that might contain ANY of `values` on `colName`
    * per the key blooms, plus the version's total file count.
    */
  def prunedFilesBloom(spark: SparkSession, path: String, v: Long,
      colName: String, values: Seq[Long]): (Seq[String], Long) = {
    require(values.nonEmpty, "prunedFilesBloom: empty value list")
    bloomPrune(spark, path, "_filebloom", v, colName) { (bits, k) =>
      values.exists(graft.functions.Bloom.mightContain(bits, k, _))
    }
  }

  /** IN-list point lookup through the key blooms: schedule only the
    * files whose sketch admits at least one probe key, then apply the
    * exact residual IN filter. The 100 TB shape this serves: "fetch
    * these 50 document ids from a 10k-file table" on a layout that is
    * NOT clustered by id — min/max keeps every file there, the bloom
    * keeps ~the files that truly hold the keys (+FPR).
    */
  def readVersionPrunedBloom(spark: SparkSession, path: String,
      v: Long, colName: String, values: Seq[Long]): DataFrame =
    readFiles(spark, path, v,
        prunedFilesBloom(spark, path, v, colName, values)._1)
      .where(col(colName).isin(values: _*))

  /** Hash search terms EXACTLY as the token build hashed tokens —
    * through the engine's own xxhash64 on a 1-row control-plane plan,
    * so a Spark-version hash change can never split build from probe.
    */
  private def termHashes(spark: SparkSession, terms: Seq[String]): Seq[Long] = {
    require(terms.nonEmpty, "token search: empty term list")
    terms.foreach(t => require(t.matches("[a-z0-9]+"),
      s"search term must be a lowercase alnum token, got '$t'"))
    val row = spark.range(1)
      .select(terms.zipWithIndex.map { case (t, i) =>
        xxhash64(lit(t)).as(s"h$i")
      }: _*).head
    terms.indices.map(row.getLong)
  }

  /** The files of `v` that might contain EVERY one of `terms` in
    * `textCol` per the token blooms (AND search semantics at file
    * granularity — a superset of the row-level answer, which the
    * residual filter makes exact), plus the total file count.
    */
  def prunedFilesToken(spark: SparkSession, path: String, v: Long,
      textCol: String, terms: Seq[String]): (Seq[String], Long) = {
    val hashes = termHashes(spark, terms)
    bloomPrune(spark, path, "_filetokens", v, textCol) { (bits, k) =>
      hashes.forall(graft.functions.Bloom.mightContain(bits, k, _))
    }
  }

  /** Keyword search through the token blooms: schedule only the files
    * whose vocabulary sketch admits every term, then apply the exact
    * row-level containment filter (a row matches iff its tokenized
    * text contains ALL terms). False positives cost bytes; false
    * negatives are impossible (a term a file contains is always in its
    * sketch), so the search NEVER misses a document.
    */
  def readVersionSearch(spark: SparkSession, path: String, v: Long,
      textCol: String, terms: Seq[String]): DataFrame =
    readFiles(spark, path, v,
        prunedFilesToken(spark, path, v, textCol, terms)._1)
      .where(terms.map(t =>
        array_contains(expr(tokensExpr(textCol)), t)).reduce(_ && _))

  /** Row-level change feed between two committed versions (Delta's
    * CHANGE DATA FEED read): one row per changed key with `_change_type`
    * in {insert, delete, update_preimage, update_postimage} — pre/post
    * pairs share the key, so a downstream MERGE can replay the delta
    * without re-reading either snapshot.
    *
    * Derived by DIFF, not log replay: the feed is a single full-outer
    * hash join of the two versions on `keyCols` (one shuffle on the
    * key) with non-key columns compared via a null-safe struct
    * equality, so it holds across any rewrite between them (snapshot,
    * compaction, merge) — unlike [[tailSince]], which is append-only.
    * Output size is delta-sized.
    */
  def changeFeed(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long, keyCols: Seq[String]): DataFrame = {
    val from = readVersion(spark, path, fromVersion)
    val to = readVersion(spark, path, toVersion)
    require(from.columns.sameElements(to.columns),
      s"changeFeed: schema drift between v$fromVersion and v$toVersion")
    val valCols = from.columns.filterNot(keyCols.contains).toSeq
    val f = from.select(struct(keyCols.map(col): _*).as("_k"),
      struct(valCols.map(col): _*).as("_fv"))
    val t = to.select(struct(keyCols.map(col): _*).as("_k2"),
      struct(valCols.map(col): _*).as("_tv"))
    val joined = f.join(t, col("_k") <=> col("_k2"), "full_outer")
      .select(coalesce(col("_k"), col("_k2")).as("_key"),
        col("_fv"), col("_tv"),
        col("_k").isNotNull.as("_inFrom"), col("_k2").isNotNull.as("_inTo"))
    val changed = joined.where(
      !col("_inFrom") || !col("_inTo") || !(col("_fv") <=> col("_tv")))
    val tagged = changed.select(col("_key"), col("_fv"), col("_tv"),
      when(!col("_inFrom"), array(lit("insert")))
        .when(!col("_inTo"), array(lit("delete")))
        .otherwise(array(lit("update_preimage"), lit("update_postimage")))
        .as("_ops"))
      .select(col("_key"), col("_fv"), col("_tv"),
        explode(col("_ops")).as("_change_type"))
    val image = when(
      col("_change_type").isin("delete", "update_preimage"), col("_fv"))
      .otherwise(col("_tv"))
    tagged.select(
      keyCols.map(c => col(s"_key.$c").as(c)) ++
        valCols.map(c => image.getField(c).as(c)) :+
        col("_change_type"): _*)
  }

  /** Apply a change feed to a snapshot: drop deleted/pre-image keys,
    * add inserted/post-image rows. `apply(v_from, changeFeed(from, to))`
    * reconstructs `v_to` exactly (round-trip property, spec-proven) —
    * the consumer-side contract that makes the feed a transport: a
    * downstream replica applies delta-sized feeds instead of copying
    * snapshots. One left-anti join on the key + a union — both
    * key-partitioned, no driver data.
    */
  def applyChanges(snapshot: DataFrame, feed: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val removedKeys = feed
      .where(col("_change_type").isin("delete", "update_preimage"))
      .select(keyCols.map(col): _*)
    val added = feed
      .where(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type")
    snapshot.join(removedKeys, keyCols, "left_anti").unionByName(added)
  }

  /** Incremental view maintenance for SUM/COUNT-class aggregates: given
    * the OLD aggregate of a base table and the base's change feed,
    * produce the NEW aggregate without touching the base again. The
    * 100 TB contract: the only full-size work in the whole operation is
    * the delta-sized `feed.groupBy` shuffle — the snapshot aggregate is
    * group-count-sized and the merge join is group-keyed.
    *
    * Algebra (valid for any abelian-group measure — SUM and COUNT here):
    * each feed row carries sign +1 (`insert` / `update_postimage`) or
    * −1 (`delete` / `update_preimage`); an update whose group changed
    * moves its pre-image out of the old group and its post-image into
    * the new one through the same signed sum. MIN/MAX are NOT
    * maintainable this way (deletion of the current extreme needs the
    * base) — callers with extremes re-aggregate or keep a heap.
    *
    * `oldAgg` columns: `groupCols ++ countCol ++ measures.map(_._2)`
    * (all BIGINT). `feed` columns: `groupCols`, each `measures._1`
    * base-measure column, and `_change_type`. Groups whose maintained
    * row count reaches zero are dropped (the group disappeared from the
    * base). An unrecognized `_change_type` raises instead of silently
    * corrupting the aggregate.
    */
  def incrementalAgg(oldAgg: DataFrame, feed: DataFrame,
      groupCols: Seq[String], countCol: String,
      measures: Seq[(String, String)]): DataFrame = {
    val sign = when(
      col("_change_type").isin("insert", "update_postimage"), lit(1L))
      .when(col("_change_type").isin("delete", "update_preimage"), lit(-1L))
      .otherwise(raise_error(concat(
        lit("incrementalAgg: unknown _change_type "),
        col("_change_type"))).cast("long"))
    val signed = feed.withColumn("_sign", sign)
    val deltaAggs =
      sum(col("_sign")).as(s"_d_$countCol") +:
        measures.map { case (feedCol, aggCol) =>
          sum(col("_sign") * col(feedCol)).as(s"_d_$aggCol")
        }
    val deltas = signed.groupBy(groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    val aggCols = countCol +: measures.map(_._2)
    val merged = oldAgg
      .select((groupCols ++ aggCols).map(col): _*)
      .join(deltas, groupCols, "full_outer")
      .select(groupCols.map(col) ++ aggCols.map { c =>
        (coalesce(col(c), lit(0L)) + coalesce(col(s"_d_$c"), lit(0L))).as(c)
      }: _*)
    merged.where(col(countCol) > 0)
  }

  /** Incremental maintenance of a ROW-LOCAL VIEW (the enrichment-join
    * complement to [[incrementalAgg]]): given the view materialized at
    * an old version, a [[changeFeed]] old→new, and the view definition
    * `enrich` (any deterministic per-row transform of the base — a
    * dim join, a projection, a filter; each base row must map to rows
    * derived from that row alone), produce the view at the NEW version
    * without re-running `enrich` over the base:
    *
    *   V_new = (V_old ∖ rows whose base pk was touched) ∪ enrich(inserts + postimages)
    *
    * Deletes need no own branch — a deleted pk lands in the touched
    * set and contributes no re-add; an update whose pk itself changed
    * is a touched pre-image pk plus a re-added post-image. Unknown
    * `_change_type` values raise (the predicate routes every feed row
    * through the validation branch) instead of silently corrupting
    * the view.
    *
    * 100 TB contract: the only full-size stage is the pk anti-join
    * against the old view — pk-keyed, so a view bucketed by pk
    * co-locates it — and `enrich` runs over the DELTA only (with its
    * dims broadcast, delta-sized map work). Direct recompute runs
    * `enrich` over the world.
    */
  def incrementalView(oldView: DataFrame, feed: DataFrame,
      pkCols: Seq[String], enrich: DataFrame => DataFrame): DataFrame = {
    val known = Seq("insert", "update_postimage", "delete", "update_preimage")
    // the touched-pk scan reads EVERY feed row, so it carries the
    // change-type validation: a known type passes, anything else raises
    val guard = when(col("_change_type").isin(known: _*), lit(true))
      .otherwise(raise_error(concat(
        lit("incrementalView: unknown _change_type "),
        col("_change_type"))).cast("boolean"))
    val touched = feed.where(guard)
      .select(pkCols.map(col): _*).distinct()
    val adds = feed
      .where(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type")
    oldView.join(touched, pkCols, "left_anti")
      .unionByName(enrich(adds))
  }
}
