package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Source fingerprinting for persisted derived indexes (the BM25
  * postings index, the IVF vector index): "the index exists" is not
  * "the index is FRESH" — if the source table is regenerated at the
  * same path, an ensure keyed only on a `_SUCCESS` marker silently
  * serves results computed from the OLD data. The stamp ties an index
  * directory to the exact file state of its source: the sorted
  * (name, size, mtime) listing of every data file, hashed. Listing a
  * source directory is a metadata-only operation (no data read), so an
  * ensure-with-stamp costs one namenode/object-store listing per query
  * session — nothing at data scale.
  */
object IndexStamp {

  /** Root directory every per-corpus `*PathFor` convention resolves
    * under: the `spark.graft.indexRoot` session conf if set, else the
    * `GRAFT_INDEX_ROOT` env var, else `java.io.tmpdir` as the dev/test
    * fallback. Persisted indexes are production STATE — tmp is the one
    * place they must not live in a deployment (lost on reboot, not
    * shared across drivers) — so one warehouse-root config relocates
    * the whole index family (BM25, IVF, PQ, MinHash) without touching
    * call sites: the lifecycle verbs all take explicit paths; this
    * governs only the `*PathFor` conveniences the registered queries
    * and streams use. Accepts any Hadoop-resolvable URI (hdfs://,
    * s3a://, file:/) — paths compose via `Path`, never `java.io.File`.
    */
  def indexRoot: String =
    SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.indexRoot"))
      .orElse(sys.env.get("GRAFT_INDEX_ROOT"))
      .getOrElse(sys.props("java.io.tmpdir"))

  /** `indexRoot`-resolved directory for a deterministic per-corpus
    * index name (the shared body of every `*PathFor`).
    */
  private[ext] def pathUnderRoot(name: String): String =
    new Path(indexRoot, name).toString

  /** Driver-side memo for the 1-row `params` tables the persisted index
    * families store (MinHash, containment, eval-gram): reading one
    * costs a full Spark job (plan + schema inference + a 1-task
    * collect, tens of ms) and the screens re-read it on EVERY call —
    * the curation composites pay it several times per trigger. The
    * memo is validated by the params directory's own metadata listing
    * ((name, length, mtime) of every file — the [[fingerprint]] idea,
    * one FS metadata call, no job): a rebuild rewrites the table's
    * part files (fresh names/mtimes), invalidating the entry, so a
    * stale row can never be served. This caches index CONFIGURATION,
    * never data or results; entries are one Row per index path.
    *
    * Staleness scope (here and in [[schemaMemoRead]]): the fingerprint
    * is the directory's SINGLE-LEVEL listing. A rebuild/append that
    * adds, removes, renames or resizes a direct child always
    * invalidates; a mutation strictly INSIDE an existing child
    * directory is caught only where the filesystem bumps that child
    * directory's mtime — true on local FS and HDFS, NOT on object
    * stores (no directory mtime). Every writer in this repo lands new
    * `ingest=` children or rewrites part files in place (both visible
    * at one level), so the assumption holds here; an object-store
    * deployment with in-place child mutation should swap this for
    * [[fingerprint]]'s recursive walk and pay the deeper listing.
    */
  private val paramsMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.Row)]()

  private[ext] def cachedParamsHead(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Row = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp =
      try fs.listStatus(p).sortBy(_.getPath.getName)
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .mkString("|")
      catch { case _: java.io.FileNotFoundException => null }
    // A missing dir falls through to the plain read so the caller sees
    // the canonical AnalysisException, not a bare FS error — and its
    // memo entry is dropped (an index deleted then rebuilt at the same
    // path must never serve the pre-delete row; eviction also keeps
    // the map bounded by LIVE index paths in a long-lived JVM).
    if (fp == null) paramsMemo.remove(dir)
    val cur = if (fp == null) null else paramsMemo.get(dir)
    if (cur != null && cur._1 == fp) cur._2
    else {
      val row = spark.read.parquet(dir).head()
      if (fp != null) paramsMemo.put(dir, (fp, row))
      row
    }
  }

  /** Driver-side SCHEMA memo for at-rest index tables ([[paramsMemo]]'s
    * sibling): a plain `spark.read.parquet(dir)` runs a footer-reading
    * schema-inference job (1 task, tens of ms) on EVERY call, and the
    * screens re-open their index tables per call — the curation
    * composites pay 6–8 of these per trigger. A hit replays the read
    * with the explicit inferred schema (`spark.read.schema(s)`), which
    * skips inference entirely; the DATA is still read from parquet by
    * the query as before — the memo holds a StructType, never rows.
    * Validation: the directory's top-level metadata listing — an
    * append/compact/rebuild changes it and the entry re-infers (the
    * conservative direction: schemas are fixed per index family, so a
    * false invalidation only costs today's behavior). Keyed by path
    * alone — schemas are context-independent.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  private[ext] def schemaMemoRead(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp =
      try fs.listStatus(p).sortBy(_.getPath.getName)
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .mkString("|")
      catch { case _: java.io.FileNotFoundException => null }
    // Missing dir → plain read, so callers keep the canonical
    // AnalysisException; the stale entry is evicted (paramsMemo's
    // delete-then-rebuild rule).
    if (fp == null) schemaMemo.remove(dir)
    val cur = if (fp == null) null else schemaMemo.get(dir)
    if (cur != null && cur._1 == fp)
      spark.read.schema(cur._2).parquet(dir)
    else {
      val df = spark.read.parquet(dir)
      if (fp != null) schemaMemo.put(dir, (fp, df.schema))
      df
    }
  }

  /** Fingerprint of a source file/directory: md5 over the recursive
    * (ROOT-RELATIVE file path, length, mtime) listing, order-fixed by
    * name. The relative path — not just the file name — is hashed, so
    * renaming or swapping partition directories (`region=EU/` ↔
    * `region=US/`, which preserves every file's name/size/mtime but
    * changes row semantics) changes the stamp. Any rewrite of the
    * source — new files, resized files, touched files — changes it too.
    */
  def fingerprint(spark: SparkSession, sourcePath: String): String = {
    val root = new Path(sourcePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: Path, rel: String): Unit = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).sortBy(_.getPath.getName).foreach { s =>
          val name = s.getPath.getName
          walk(s.getPath, if (rel.isEmpty) name else s"$rel/$name")
        }
      else entries += s"$rel:${st.getLen}:${st.getModificationTime}"
    }
    walk(root, "")
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** The shared ensure protocol for stamped indexes: fresh = the marker
    * exists AND (no source given, or the stored stamp equals the
    * source's current fingerprint); otherwise `build` runs and the new
    * stamp is recorded — AFTER the build, so a failed build leaves no
    * stamp claiming freshness. Returns true iff the build RAN — callers
    * that report "what did this session pay for" (the bench's
    * index-warmup line) need built-vs-validated, not just "it's fresh
    * now".
    */
  def ensureFresh(spark: SparkSession, markerPath: String,
                  indexPath: String, sourcePath: Option[String])
                 (build: => Unit): Boolean = {
    val marker = new Path(markerPath)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val want = sourcePath.map(fingerprint(spark, _))
    val fresh = fs.exists(marker) &&
      (want.isEmpty || read(spark, indexPath) == want)
    if (!fresh) {
      build
      want.foreach(write(spark, indexPath, _))
    }
    !fresh
  }

  /** Whether a partitioned index directory holds any DATA partition —
    * a committed empty base (cold-start initialization) has a
    * `_SUCCESS` marker but zero `ingest=` directories, and reading it
    * as parquet would fail schema inference. Readers gate on this, not
    * on the marker.
    */
  private[graft] def hasIngestData(fs: org.apache.hadoop.fs.FileSystem,
                                   dir: Path): Boolean =
    fs.exists(dir) &&
      Option(fs.globStatus(new Path(dir, "ingest=*"))).exists(_.nonEmpty)

  /** The ingest ids present under a partitioned index directory — the
    * multi-table consistency probe (BM25's postings and stats must
    * carry the SAME id set; a mismatch means a crash landed between
    * the two writes of one append).
    */
  private[graft] def ingestIds(fs: org.apache.hadoop.fs.FileSystem,
                               dir: Path): Set[Long] =
    if (!fs.exists(dir)) Set.empty
    else Option(fs.globStatus(new Path(dir, "ingest=*"))).toSeq.flatten
      .flatMap(_.getPath.getName.stripPrefix("ingest=").toLongOption)
      .toSet

  /** Shared append skeleton for the partitioned index families (BM25 /
    * IVF / PQ) — the cold-start probe, stamp invalidation, and
    * ingest-id policy live in ONE place so a lifecycle fix cannot
    * silently miss an index family (three hand-rolled copies predated
    * this). Semantics: a replayed `ingestId` that a past compaction
    * already folded into the base is a NO-OP (its rows live in ingest 0
    * now — re-landing its partition would duplicate them); when
    * `markerPath` is absent and the id is auto (batch callers), run
    * `fullBuild` and STOP; when absent and the id is explicit (stream
    * callers), run `coldInit` (the empty-base self-initialization that
    * makes the batch land in its own replayable partition); then always
    * drop the `_source_stamp` under `stampRoot` BEFORE `writeBatch(id)`
    * mutates partitions (a crash mid-append must never leave a mutated
    * index that still claims source freshness). `ingestDir` is the
    * directory whose `ingest=` children define the id namespace for
    * auto-assignment — auto ids also skip past compaction-folded ids,
    * so a fold never frees an id a live stream might still replay.
    */
  private[graft] def appendLifecycle(spark: SparkSession, stampRoot: String,
      markerPath: String, ingestDir: String, ingestId: Long)
      (fullBuild: => Unit)(coldInit: => Unit)
      (writeBatch: Long => Unit): Unit = {
    val marker = new Path(markerPath)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val folded = compactedIds(fs, new Path(stampRoot))
    // Checked before the marker probe on purpose: a replay of a folded
    // batch arriving in a crashed compaction's marker-less window must
    // no-op, not cold-init an empty base over the index.
    if (ingestId >= 0 && folded.contains(ingestId)) return
    if (!fs.exists(marker)) {
      if (ingestId < 0) {
        // Invalidate BEFORE the full build too: a family whose build
        // overwrites only subdirectories (BM25's postings/stats) would
        // otherwise leave a pre-crash stamp claiming source freshness
        // for an index now built from this batch alone.
        invalidate(spark, stampRoot)
        fullBuild
        return
      }
      coldInit
    }
    invalidate(spark, stampRoot)
    val id = if (ingestId >= 0) ingestId
      else (ingestIds(fs, new Path(ingestDir)) ++ folded)
        .foldLeft(-1L)(math.max) + 1L
    writeBatch(id)
  }

  // ---------------------------------------------------------------------
  // Compaction — the third lifecycle verb (build / append / compact):
  // fold every `ingest=` partition into the base (ingest 0) so a
  // long-lived stream's per-trigger partitions (8,640/day at a 10 s
  // trigger) stop turning every bucket/cell scan into thousands-of-
  // small-files metadata work. Corpus-invariant by construction: the
  // folded rows are the index's own rows re-laid-out, so a query over
  // the compacted index equals one over the appended (and the rebuilt)
  // index exactly. The `_source_stamp` is deliberately NOT touched —
  // compaction changes files, not corpus, so a still-fresh stamp stays
  // fresh (in practice a foldable index is already unstamped, because
  // the appends that created its partitions dropped the stamp).
  // ---------------------------------------------------------------------

  /** Ingest ids folded into the base by past compactions — the set
    * [[appendLifecycle]] consults to turn a replayed already-folded
    * batch into a no-op. Stored as an append-only directory of small
    * files (`_compacted_ids/fold-<maxFoldedId>`, one id per line): each
    * compaction writes ONE new immutable file, never rewriting prior
    * records, so there is no read-modify-write window in which a crash
    * can lose an earlier fold's ids.
    */
  private[graft] def compactedIds(fs: org.apache.hadoop.fs.FileSystem,
                                  indexRoot: Path): Set[Long] = {
    val dir = new Path(indexRoot, "_compacted_ids")
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).filter(_.isFile).flatMap { st =>
      val in = fs.open(st.getPath)
      try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").flatMap(_.trim.toLongOption)
      finally in.close()
    }.toSet
  }

  /** Delete the compaction fold record AND any staging left by a
    * crashed compaction — full rebuilds reset the ingest-id namespace,
    * so they must reset both (a stale fold record would no-op a new
    * batch that reuses a folded id; a stale `_compact` staging with its
    * `_fold_ids` manifest would let a marker-less crash window AFTER
    * the rebuild "resume" the pre-rebuild fold, installing stale
    * corpus). Root-wiping builds (IVF/PQ static overwrite) get both
    * implicitly; subdir-rewriting builds (BM25) call this explicitly.
    */
  private[graft] def dropCompactionRecord(spark: SparkSession,
                                          indexRoot: String): Unit = {
    val fs = new Path(indexRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("_compacted_ids", "_compact").foreach { d =>
      val p = new Path(indexRoot, d)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  private def writeIdsFile(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                           ids: Set[Long]): Unit = {
    val out = fs.create(p, true)
    try out.write(ids.toSeq.sorted.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readIdsFile(fs: org.apache.hadoop.fs.FileSystem,
                          p: Path): Set[Long] = {
    val in = fs.open(p)
    try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").flatMap(_.trim.toLongOption).toSet
    finally in.close()
  }

  /** Shared compaction skeleton. `targetDirs` are the directories whose
    * `ingest=` children get folded (BM25: postings and stats; IVF/PQ:
    * the index root); `writeStaging(paths)` must write each target's
    * compacted data — everything as `ingest=0` — to the corresponding
    * staging path (all staging lives under `indexRoot/_compact`, an
    * underscore dir parquet discovery ignores, so readers and the
    * staging writes can coexist with the live index).
    *
    * Crash discipline, in write order:
    *  1. staging data, then the `_fold_ids` manifest (staging-complete
    *     marker) — all while the index marker still vouches for the
    *     live index; a crash here leaves the index untouched and the
    *     next compact rewrites staging from live data.
    *  2. drop the index marker — readers now fail LOUDLY ("no index")
    *     for the duration of the swap; appends of folded ids still
    *     no-op ([[appendLifecycle]] checks `_compacted_ids` first) but
    *     any other concurrent writer is excluded by the single-writer
    *     contract every index family already carries.
    *  3. per target: delete the old `ingest=` dirs, move staging's
    *     `ingest=0` into place. Idempotent under crash-resume: a
    *     target whose staging child is GONE was already swapped, so
    *     its `ingest=0` is the new base and is preserved.
    *  4. record the folded ids (immutable `fold-<max>` file), restore
    *     the marker, delete staging LAST — so any crash before the
    *     marker restore leaves the resume gate (staging manifest
    *     present, marker absent) intact.
    *
    * A call on a marker-less index WITHOUT a completed staging fails
    * loudly — there is nothing safe to fold. Returns false (no-op) when
    * the index holds ≤ 1 ingest partition. The `_source_stamp` is never
    * touched (see the section comment).
    */
  private[graft] def compactLifecycle(spark: SparkSession, indexRoot: String,
      markerPath: String, targetDirs: Seq[String])
      (writeStaging: Seq[String] => Unit): Boolean = {
    val root = new Path(indexRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(markerPath)
    val stagingRoot = new Path(root, "_compact")
    val foldFile = new Path(stagingRoot, "_fold_ids")
    val stagingPaths = targetDirs.indices.map(i => new Path(stagingRoot, s"t$i"))
    if (fs.exists(marker)) {
      val ids = targetDirs.map(d => ingestIds(fs, new Path(d)))
        .reduce(_ ++ _)
      // Stale staging (a crash before the marker drop) is superseded by
      // the live index — rewrite it from scratch.
      if (fs.exists(stagingRoot)) fs.delete(stagingRoot, true)
      if (ids.size <= 1) return false
      writeStaging(stagingPaths.map(_.toString))
      writeIdsFile(fs, foldFile, ids)
      dropMarker(spark, markerPath)
    } else {
      require(fs.exists(foldFile),
        s"compact at $indexRoot: no index marker ($markerPath) and no " +
          "completed staging — nothing safe to fold; build the index, " +
          "or re-run the operation that crashed here")
    }
    val foldIds = readIdsFile(fs, foldFile)
    targetDirs.zip(stagingPaths).foreach { case (finS, stg) =>
      val fin = new Path(finS)
      val stgChild = new Path(stg, "ingest=0")
      val hasStg = fs.exists(stgChild)
      Option(fs.globStatus(new Path(fin, "ingest=*"))).toSeq.flatten
        .foreach { st =>
          // A missing staging child means this target already swapped —
          // its ingest=0 is the NEW base, not fold fodder.
          if (hasStg || st.getPath.getName != "ingest=0")
            fs.delete(st.getPath, true)
        }
      if (hasStg) {
        if (!fs.exists(fin)) fs.mkdirs(fin)
        fs.rename(stgChild, new Path(fin, "ingest=0"))
      }
    }
    val recDir = new Path(root, "_compacted_ids")
    if (!fs.exists(recDir)) fs.mkdirs(recDir)
    writeIdsFile(fs, new Path(recDir, s"fold-${foldIds.max}"), foldIds)
    val out = fs.create(marker, true)
    out.close()
    fs.delete(stagingRoot, true)
    true
  }

  /** Drop a commit marker ahead of a multi-directory rebuild — the
    * sibling-layout counterpart of wiping the index root: a build that
    * rewrites several directories must first ensure no stale marker
    * can survive a mid-build crash and vouch for a mixed-corpora
    * index.
    */
  private[graft] def dropMarker(spark: SparkSession,
                                markerPath: String): Unit = {
    val p = new Path(markerPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Reader-side gate for the top-k index readers. A MISSING index (no
    * marker) fails loudly — a typo'd path or never-built index must
    * never serve an empty ranking as if it were a real answer — while
    * a committed empty base (marker present, zero `ingest=`
    * partitions: the cold-start crash window) returns true so the
    * reader yields its typed empty frame instead of failing parquet
    * schema inference. (The semantic-dedup screen deliberately does
    * NOT use this: for an incremental dedup, "no corpus yet" is a
    * legitimate state whose answer is all-novel, marker or not.)
    */
  private[graft] def emptyCommittedIndex(spark: SparkSession,
      markerPath: String, ingestDir: String): Boolean = {
    val marker = new Path(markerPath)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(marker),
      s"no index at $ingestDir ($markerPath missing) — build or ensure " +
        "it first")
    !hasIngestData(fs, new Path(ingestDir))
  }

  private def stampPath(indexPath: String) =
    new Path(indexPath, "_source_stamp")

  /** The stamp recorded when the index was built, if any. */
  def read(spark: SparkSession, indexPath: String): Option[String] = {
    val p = stampPath(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  /** Record the source stamp next to a freshly built index. */
  def write(spark: SparkSession, indexPath: String, stamp: String): Unit = {
    val p = stampPath(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((stamp + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Drop the stamp — used after an incremental append, when the index
    * no longer derives from any single source directory state; a
    * subsequent source-stamped ensure will rebuild from scratch.
    */
  def invalidate(spark: SparkSession, indexPath: String): Unit = {
    val p = stampPath(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }
}
