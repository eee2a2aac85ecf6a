package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic, versioned snapshot commits over plain parquet — the minimal
  * table-format kernel a 100 TB pipeline needs before it can trust a
  * read-modify-write refresh. A bare `write.mode("overwrite")` on the
  * live directory deletes the old snapshot BEFORE the new one is
  * complete: a crash mid-write loses every prior key, and concurrent
  * readers see a half-deleted table. Here every commit writes a FRESH
  * `v-N` data directory and then publishes it with one atomic marker
  * create — readers resolve the newest marker, so they only ever see
  * fully-committed versions, and a crash at any point leaves the last
  * committed snapshot intact (the orphan data dir is reclaimed by the
  * next commit or [[vacuum]]).
  *
  * Layout under `tableDir`:
  * {{{
  *   v-0000000001/part-*.parquet     data, one dir per version
  *   _commits/0000000001             commit marker; content = caller meta
  * }}}
  * The marker is created with create-without-overwrite (atomic in the
  * HDFS namespace; O_EXCL-shaped locally — the protocol Delta Lake's
  * HDFS LogStore uses for commit files), so two racing committers
  * cannot both publish the same version (the second create fails).
  * Markers double as an idempotence ledger: callers stash a replay key
  * (e.g. a batch id) in the marker body and skip work when it is
  * already committed.
  *
  * Retained versions are free time travel: [[readVersion]] pins any
  * committed version and [[diffVersions]] audits what a refresh did
  * ([[graft.ops.Cdc.snapshotDiff]] over two pinned reads).
  *
  * Scale: commit cost is the parquet write itself plus two metadata RPCs
  * (temp create + rename); resolution is one directory listing of
  * `_commits` (markers are empty-ish files, never data). Nothing here
  * funnels data through the driver.
  *
  * Always read through [[read]]/[[readVersion]] — a raw
  * `spark.read.parquet(tableDir)` would union every retained version.
  */
object SnapshotStore {

  private val CommitsDir = "_commits"

  /** Cumulative wall-clock seconds spent inside [[commit]] /
    * [[commitAppend]] (stage write + rename + marker publish) — bench
    * telemetry. Storage-contract queries (q184/q185's IVF-PQ maintenance)
    * are dominated by artifact commits, and an artifact-format change
    * needs this split out of the query medians to have a baseline. */
  private val commitNanosAcc = new java.util.concurrent.atomic.AtomicLong(0L)

  def commitSeconds: Double = commitNanosAcc.get / 1e9

  private def timedCommit[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally commitNanosAcc.addAndGet(System.nanoTime() - t0)
  }

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def dataPath(tableDir: String, v: Long) =
    new Path(tableDir, f"v-$v%010d")

  private def markerPath(tableDir: String, v: Long) =
    new Path(new Path(tableDir, CommitsDir), f"$v%010d")

  /** Newest committed version, or None for a table with no commits yet.
    * ONLY a missing/empty `_commits` dir reads as "no table"; any other
    * IO failure propagates — conflating the two is how a transient error
    * silently truncates a snapshot to one batch. */
  def committedVersion(spark: SparkSession, tableDir: String): Option[Long] = {
    val f = fs(spark, tableDir)
    val commits = new Path(tableDir, CommitsDir)
    if (!f.exists(commits)) None
    else f.listStatus(commits).iterator
      .map(_.getPath.getName)
      .filter(_.forall(_.isDigit))
      .map(_.toLong)
      .maxOption
  }

  /** Marker body of a committed version (the caller meta passed to
    * [[commit]]), or None if that version is not committed. */
  def commitMeta(spark: SparkSession, tableDir: String, v: Long): Option[String] = {
    val f = fs(spark, tableDir)
    val m = markerPath(tableDir, v)
    if (!f.exists(m)) None
    else {
      val in = f.open(m)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  /** Write `df` as the next version and atomically publish it. Returns
    * the committed version. `meta` lands in the marker body (replay
    * keys, audit notes). The data is STAGED in a unique `.tmp-` dir and
    * renamed into `v-N`; a racing committer that computed the same N is
    * detected at the rename, at the post-rename nesting check, or at the
    * marker create — but commit, like vacuum and crash recovery, assumes
    * a SINGLE WRITER per table (see [[stageAndRename]]). A crash before
    * publish leaves the table at its previous version with at most an
    * orphan dir ([[vacuum]] reclaims it; the next commit of version N
    * also clears an unpublished orphan `v-N`). */
  def commit(df: DataFrame, tableDir: String, meta: String = ""): Long =
    timedCommit(commitImpl(df, tableDir, meta))

  /** [[commit]] for BOUNDED-BY-CONTRACT artifact tables (centroid sets,
    * PQ codebooks, per-group view aggregates, ledgers — anything whose
    * row count is a model/metadata constant, never data-sized): writes
    * a single file via coalesce(1). A tiny table committed with the
    * parent query's partitioning pays one write TASK per partition —
    * commit-time telemetry put the q167/q184/q185 index saves at 50-65%
    * of query wall, almost all of it fixed per-task cost (measured:
    * a 16-row, 32-partition commit 0.85 s vs 0.30 s coalesced). Never
    * use for data-sized tables — one writer task is the opposite of a
    * 100 TB commit. */
  def commitSmall(df: DataFrame, tableDir: String, meta: String = ""): Long =
    timedCommit(commitImpl(df.coalesce(1), tableDir, meta))

  private def commitImpl(df: DataFrame, tableDir: String, meta: String): Long = {
    val spark = df.sparkSession
    val v = committedVersion(spark, tableDir).getOrElse(0L) + 1L
    stageAndRename(df, tableDir, v, manifest = None)
    publish(spark, tableDir, v, meta)
    v
  }

  /** APPEND-ONLY commit: publish a new version whose content is the
    * parent version's rows plus `delta`, writing ONLY the delta — the
    * O(batch) commit a daily ingest against a 100 TB table needs (a
    * [[commit]] there is an O(corpus) rewrite, every day). The new
    * `v-N` dir holds just the delta files plus a `_dirs` manifest
    * naming every data dir that composes the version (the parent's
    * manifest + itself); [[readVersion]] resolves the manifest, so
    * readers see the logical union with no physical copy. The manifest
    * is written BEFORE the marker publish — the marker stays the single
    * atomic gate, and a crash at any point leaves the parent version
    * live with at most an orphan delta dir.
    *
    * A later full [[commit]] (e.g. a retrain or compaction) naturally
    * resets the chain: its version has no manifest, so it alone is the
    * content, and [[vacuum]] can then reclaim the delta dirs (vacuum
    * never deletes a dir still referenced by a RETAINED version's
    * manifest). On a table with no committed version this degrades to a
    * plain first commit. */
  def commitAppend(delta: DataFrame, tableDir: String, meta: String = ""): Long = timedCommit {
    val spark = delta.sparkSession
    committedVersion(spark, tableDir) match {
      case None => commitImpl(delta, tableDir, meta) // already inside timedCommit
      case Some(parent) =>
        // schema drift must fail LOUDLY: the multi-dir read resolves one
        // schema by name, so a delta with an extra/renamed/retyped column
        // would otherwise be silently truncated or nulled on read
        // catalogString drops nullability — a parquet round-trip relaxes
        // nullable flags, which is not drift; renames/retypes are
        val ps = readVersion(spark, tableDir, parent).schema
          .map(f => (f.name, f.dataType.catalogString)).toSet
        val ds = delta.schema.map(f => (f.name, f.dataType.catalogString)).toSet
        require(ps == ds,
          s"commitAppend: delta schema ${ds.toSeq.sortBy(_._1)} != table " +
            s"schema ${ps.toSeq.sortBy(_._1)} — evolve via a full commit")
        val v = parent + 1L
        stageAndRename(delta, tableDir, v,
          manifest = Some(manifestDirs(spark, tableDir, parent) :+ dirName(v)))
        publish(spark, tableDir, v, meta)
        v
    }
  }

  private val ManifestFile = "_dirs"
  private val TmpPrefix = ".tmp-"

  private def dirName(v: Long) = f"v-$v%010d"

  /** Stage `df` (plus an optional append-chain manifest) in a unique
    * `.tmp-` dir under `tableDir`, then move the COMPLETE dir into `v-N`.
    * The rename is the data-file publication step; the MARKER create is
    * the only operation here that is atomic by itself. The
    * exists→clear→rename sequence is NOT atomic: COMMIT (like crash
    * recovery and [[vacuum]]) assumes a SINGLE WRITER per table — two
    * live committers racing the same version can interleave between the
    * orphan check and the rename (Hadoop local rename onto an existing
    * dest dir nests the source INSIDE it rather than failing). The
    * post-rename nesting check below converts that interleaving into a
    * loud loser instead of a silently mixed `v-N`; readers are safe
    * either way (they only resolve marker-published versions). */
  private[graft] def stageAndRename(df: DataFrame, tableDir: String, v: Long,
                                    manifest: Option[Seq[String]]): Unit = {
    val spark = df.sparkSession
    val f = fs(spark, tableDir)
    val tmp = new Path(tableDir, TmpPrefix + dirName(v) + "-" +
      java.util.UUID.randomUUID.toString.take(8))
    df.write.mode("overwrite").parquet(tmp.toString)
    manifest.foreach { dirs =>
      val out = f.create(new Path(tmp, ManifestFile), true)
      try out.write(dirs.mkString("\n").getBytes("UTF-8")) finally out.close()
    }
    val dest = dataPath(tableDir, v)
    if (f.exists(dest)) {
      if (commitMeta(spark, tableDir, v).isDefined) {
        f.delete(tmp, true)
        throw new IllegalStateException(
          s"SnapshotStore: version $v of $tableDir was committed concurrently")
      }
      f.delete(dest, true)
    }
    if (!f.rename(tmp, dest)) {
      f.delete(tmp, true)
      throw new IllegalStateException(
        s"SnapshotStore: could not move staged version $v into place at " +
          s"$dest — a concurrent committer won the race")
    }
    // rename onto a dest a racing committer re-created between the check
    // and our rename NESTS the staging dir inside it (local-FS semantics)
    // — detect, clean our nested dir, and lose loudly rather than let
    // publish stamp our meta over the other committer's data
    val nested = new Path(dest, tmp.getName)
    if (f.exists(nested)) {
      f.delete(nested, true)
      throw new IllegalStateException(
        s"SnapshotStore: staged version $v of $tableDir was nested under a " +
          "concurrently re-created dest — a racing committer won; commit " +
          "requires a single writer per table")
    }
  }

  /** Data dirs composing a version: its manifest if present (append
    * chain), else just its own dir (plain commit). */
  private def manifestDirs(spark: SparkSession, tableDir: String,
                           v: Long): Seq[String] = {
    val f = fs(spark, tableDir)
    val m = new Path(dataPath(tableDir, v), ManifestFile)
    if (!f.exists(m)) Seq(dirName(v))
    else {
      val in = f.open(m)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        .split("\n").toSeq.filter(_.nonEmpty)
      finally in.close()
    }
  }

  /** Publish a written `v-N` data dir by creating its marker with
    * create-WITHOUT-overwrite — the primitive that is atomic in the HDFS
    * namespace (and O_EXCL-shaped on local FS), and the same protocol
    * Delta Lake's HDFS LogStore uses for its commit files. When two
    * committers race to the same version the loser's create fails and
    * surfaces as [[IllegalStateException]] instead of double-publishing.
    * The marker body (caller meta) is written after the create; a crash
    * inside that window leaves a valid committed version with empty
    * meta — the data dir is always complete before publish is called.
    * Package-visible so the conflict path is directly testable. */
  private[graft] def publish(spark: SparkSession, tableDir: String, v: Long,
                             meta: String): Unit = {
    val f = fs(spark, tableDir)
    val marker = markerPath(tableDir, v)
    f.mkdirs(marker.getParent)
    val out =
      try f.create(marker, false)
      catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"SnapshotStore: version $v of $tableDir was committed concurrently", e)
      }
    try out.write(meta.getBytes("UTF-8")) finally out.close()
  }

  /** The newest committed snapshot. Throws if no version is committed. */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    readVersion(spark, tableDir,
      committedVersion(spark, tableDir).getOrElse(
        throw new java.io.FileNotFoundException(
          s"SnapshotStore: no committed version under $tableDir")))

  /** Time travel: pin a specific committed version (append chains
    * resolve through their manifests; columns match by NAME across
    * the composed dirs, parquet's resolution rule). */
  def readVersion(spark: SparkSession, tableDir: String, v: Long): DataFrame = {
    require(commitMeta(spark, tableDir, v).isDefined,
      s"SnapshotStore: version $v of $tableDir is not committed")
    val dirs = manifestDirs(spark, tableDir, v)
      .map(d => new Path(tableDir, d).toString)
    spark.read.parquet(dirs: _*)
  }

  /** Rows ADDED between two committed versions of an append chain — the
    * physical delta dirs of `toV` not already in `fromV`, read directly
    * (O(delta), never O(corpus)). Only derivable while both versions sit
    * on the same append chain: a full [[commit]] or [[compact]] between
    * them resets the chain (rewritten rows are not "added"), and this
    * throws rather than fabricate a delta — rebuild the consumer from
    * the full snapshot instead. `fromV == toV` returns an empty frame
    * with the table's schema. */
  def readDelta(spark: SparkSession, tableDir: String,
                fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"readDelta: fromV=$fromV > toV=$toV")
    if (fromV == toV) return readVersion(spark, tableDir, toV).limit(0)
    require(commitMeta(spark, tableDir, fromV).isDefined,
      s"SnapshotStore: version $fromV of $tableDir is not committed")
    require(commitMeta(spark, tableDir, toV).isDefined,
      s"SnapshotStore: version $toV of $tableDir is not committed")
    val from = manifestDirs(spark, tableDir, fromV)
    val to = manifestDirs(spark, tableDir, toV)
    require(from.forall(to.contains),
      s"readDelta: versions $fromV..$toV of $tableDir do not share an " +
        "append chain (a full commit/compact intervened) — rebuild from " +
        "the full snapshot")
    val dirs = to.filterNot(from.contains)
      .map(d => new Path(tableDir, d).toString)
    spark.read.parquet(dirs: _*)
  }

  /** Number of data dirs composing the CURRENT version — the append-chain
    * length. Read amplification grows with it (every read lists and
    * opens each dir's footer), so ingest loops watch this and trigger
    * [[compact]] past a threshold. 1 for a plain commit. */
  def chainLength(spark: SparkSession, tableDir: String): Int =
    committedVersion(spark, tableDir)
      .map(v => manifestDirs(spark, tableDir, v).size).getOrElse(0)

  /** Rewrite the current append chain as ONE physical version — the
    * periodic O(corpus) job that keeps the amortized ingest cost of
    * [[commitAppend]] honest: N daily O(batch) appends accumulate N
    * dirs of small files; compacting every K ingests bounds read
    * amplification at K dirs while keeping per-ingest cost O(batch)
    * (the rewrite amortizes to O(corpus/K) per ingest). The compacted
    * version has no manifest, so it RESETS the chain; [[vacuum]] can
    * then reclaim every delta dir it superseded. Readers are never
    * blocked: the rewrite lands in a fresh v-N dir and publishes through
    * the same atomic marker as any commit. */
  def compact(spark: SparkSession, tableDir: String,
              meta: String = "compact"): Long =
    commit(read(spark, tableDir), tableDir, meta)

  /** What changed between two committed versions, per key:
    * added / removed / changed / same ([[graft.ops.Cdc.snapshotDiff]]). */
  def diffVersions(spark: SparkSession, tableDir: String, fromV: Long, toV: Long,
                   keyCols: Seq[String], contentCols: Seq[String]): DataFrame =
    graft.ops.Cdc.snapshotDiff(
      readVersion(spark, tableDir, fromV),
      readVersion(spark, tableDir, toV), keyCols, contentCols)

  /** Drop all but the newest `keepLast` committed versions (markers
    * first, then data — a reader that already resolved an old marker
    * may still be scanning it, so retention should cover reader
    * lifetimes). Data is reclaimed by a DIR-LEVEL sweep, not from the
    * marker list: any `v-*` dir with no surviving marker and no retained
    * manifest reference is garbage — dropped versions, crashed-commit
    * orphans, and delta dirs a PREVIOUS vacuum stranded (their marker
    * dropped while a then-retained manifest still referenced them; once
    * that manifest is itself dropped, only a dir sweep can ever see them
    * again — a marker-only enumeration leaks them forever). Abandoned
    * `.tmp-` staging dirs are swept too, so vacuum must run from the
    * single writer (an in-flight committer's staging dir is
    * indistinguishable from an abandoned one). Returns the versions
    * whose markers were removed. */
  def vacuum(spark: SparkSession, tableDir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the live version")
    val f = fs(spark, tableDir)
    val commits = new Path(tableDir, CommitsDir)
    if (!f.exists(commits)) return Seq.empty
    val versions = f.listStatus(commits).iterator
      .map(_.getPath.getName).filter(_.forall(_.isDigit)).map(_.toLong)
      .toSeq.sorted
    val drop = versions.dropRight(keepLast)
    // append chains: a retained version's manifest may reference a
    // dropped version's DATA dir — the marker goes, the dir stays until
    // no retained manifest needs it
    val referenced = versions.takeRight(keepLast)
      .flatMap(v => manifestDirs(spark, tableDir, v)).toSet
    drop.foreach(v => f.delete(markerPath(tableDir, v), false))
    f.listStatus(new Path(tableDir)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(TmpPrefix)) f.delete(st.getPath, true)
      else if (n.matches("v-\\d{10}") && !referenced.contains(n) &&
          !f.exists(markerPath(tableDir, n.drop(2).toLong)))
        f.delete(st.getPath, true)
    }
    drop
  }
}
