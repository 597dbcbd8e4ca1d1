package graft.ext

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Cross-trigger executor cache for the at-rest index tables the
  * standing-corpus screens probe every micro-batch.
  *
  * The 10M-doc ScreenDrill named the per-trigger bottleneck: the
  * broadcast semi-join prune is ROW-level, so each trigger still
  * columnar-scans the full fingerprint/band table from parquet —
  * ~2 GB at 10M standing docs — and neither partition layout nor
  * row-group min/max can skip files for a uniform multi-thousand-key
  * probe set (SCALE.md, round 14). But the table a stream probes is
  * almost entirely STATIC: each trigger appends one batch-sized
  * `ingest=` partition and everything else is unchanged. So the cache
  * holds one persisted (MEMORY_AND_DISK — spills, never OOMs)
  * InternalRow RDD PER ingest partition — NOT a plan-keyed
  * `DataFrame.persist`, which Spark's `recacheByPath` drops on every
  * write under the table root, i.e. on every streaming fold (see
  * [[org.apache.spark.sql.GraftRddFrame]]) — and serves their union;
  * a refresh touches only partitions whose metadata fingerprint
  * changed.
  *
  * Freshness is decided per partition from the file listing (relative
  * name, length, mtime — the [[IndexStamp.fingerprint]] discipline;
  * metadata-only, no data read):
  *   - new partitions → read + persist just those (batch-sized);
  *   - a changed or REMOVED partition (compaction folds, index
  *     rebuilds — including the ids-look-identical rebuild trap where
  *     a rebuilt index again holds exactly `ingest=0`) → the whole
  *     entry invalidates and re-reads, because rows may have moved
  *     between partitions.
  *
  * Entries are keyed by (SparkContext identity, dir): a cached
  * persisted DataFrame's blocks live in its context's block manager,
  * so after a stop/restart in the same JVM (tests, notebook kernels)
  * a fresh context must never be served frames whose blocks belong to
  * the dead one — the new context's first read simply refills under
  * its own key, and dead-context entries are swept (their unpersist
  * is a no-op against a stopped context). Locking is PER entry, so
  * concurrent screens over unrelated indexes (the bands and sets of
  * two different streams) list/read/persist in parallel — one global
  * lock here would serialize every stream in the JVM on the slowest
  * index refresh.
  *
  * Default OFF (`spark.graft.indexCache = true` to enable): a cache
  * that silently pins gigabytes of executor memory per screened index
  * is a deployment decision, not a default. When disabled every read
  * is a plain parquet scan — byte-identical plans to round 13. The
  * union plan's width is the partition count, which in-stream
  * compaction already bounds. Verdict equality cached-vs-direct across
  * build/append/compact/rebuild is spec-pinned (ExtSpec).
  */
private[graft] object IndexCache {

  // The mirror is a PERSISTED InternalRow RDD, not a persisted
  // DataFrame: plan-keyed SQL cache entries are dropped by Spark's
  // `recacheByPath` on EVERY write under the table root — and the
  // streaming composites append to the index each trigger, so a
  // DataFrame-persist mirror thrashed (unpersist + table-sized re-read
  // per fold; measured in round 16, SCALE.md). The RDD keeps
  // the parquet-scan lineage (evicted blocks recompute from the files)
  // while being invisible to the CacheManager. `df` rewraps the RDD
  // per call via [[org.apache.spark.sql.GraftRddFrame]].
  private case class Part(fp: String,
                          rdd: org.apache.spark.rdd.RDD[
                            org.apache.spark.sql.catalyst.InternalRow],
                          schema: org.apache.spark.sql.types.StructType)
  // One Entry per (context, dir); `parts` guarded by the entry's own
  // monitor. TrieMap gives lock-free entry lookup; the per-entry lock
  // scopes the expensive work (listings, reads, persists) to the one
  // index being refreshed.
  private final class Entry(val ctx: org.apache.spark.SparkContext) {
    var parts: Map[String, Part] = Map.empty
  }
  private val entries = TrieMap.empty[(Int, String), Entry]

  private def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.indexCache").exists(_.toBoolean)

  /** Metadata fingerprint of one partition directory: every file's
    * (RELATIVE path, length, mtime), order-fixed, walked RECURSIVELY —
    * the bands table nests a second partition level (`ingest=k/band=b/
    * part-*.parquet`), so a top-level-only listing would see zero
    * files and fingerprint every state identically (serving a stale
    * corpus after a rebuild — the exact trap this exists to close).
    * Cheap — metadata listings only.
    */
  private def partFp(fs: org.apache.hadoop.fs.FileSystem,
                     dir: Path): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: Path, rel: String): Unit =
      fs.listStatus(p).sortBy(_.getPath.getName).foreach { s =>
        val r = if (rel.isEmpty) s.getPath.getName
                else s"$rel/${s.getPath.getName}"
        if (s.isDirectory) walk(s.getPath, r)
        else out += s"$r:${s.getLen}:${s.getModificationTime}"
      }
    walk(dir, "")
    out.mkString("\n")
  }

  private def unpersistQuietly(p: Part): Unit =
    try { p.rdd.unpersist(blocking = false); () }
    catch { case scala.util.control.NonFatal(_) => }

  /** The partitioned index table at `dir` (its `ingest=` children),
    * served from the cache when enabled and fresh. Falls back to the
    * plain parquet read when the cache is off — identical plan shape
    * to the uncached engine.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    // Schema-memoized plain read: same bytes, same plan, minus the
    // per-call footer-inference job ([[IndexStamp.schemaMemoRead]]).
    if (!enabled(spark)) return IndexStamp.schemaMemoRead(spark, dir)
    val sc = spark.sparkContext
    // Sweep entries owned by stopped contexts (stop/restart in one
    // JVM): their persisted blocks are gone with the block manager,
    // so only the bookkeeping needs dropping.
    entries.filterInPlace((_, e) => !e.ctx.isStopped)
    val entry = entries.getOrElseUpdate(
      (System.identityHashCode(sc), dir), new Entry(sc))
    val root = new Path(dir)
    val fs = root.getFileSystem(sc.hadoopConfiguration)
    entry.synchronized {
      val live = Option(fs.globStatus(new Path(root, "ingest=*"))).toSeq
        .flatten.filter(_.isDirectory)
        .map(st => st.getPath.getName -> partFp(fs, st.getPath)).toMap
      val cached = entry.parts
      val stale = cached.exists { case (name, p) =>
        live.get(name).forall(_ != p.fp) // changed OR removed
      }
      val base = if (stale) {
        cached.values.foreach(unpersistQuietly)
        Map.empty[String, Part]
      } else cached
      val fresh = live.map { case (name, fp) =>
        name -> base.getOrElse(name, {
          // basePath keeps the `ingest` partition column in the schema,
          // so cached and direct reads are column-identical.
          val df = spark.read.option("basePath", dir)
            .parquet(s"$dir/$name")
          // Named so the block-manager inventory (`getPersistentRDDs`,
          // the Spark UI storage tab) attributes mirror blocks to their
          // index partition — the RDD mirror is CacheManager-invisible,
          // so this name is its only surface observability (ExtSpec
          // pins the refresh behaviour by it).
          Part(fp,
            org.apache.spark.sql.GraftRddFrame.toRowRdd(df)
              .setName(s"graft-index-mirror:$dir/$name")
              .persist(StorageLevel.MEMORY_AND_DISK),
            df.schema)
        })
      }
      entry.parts = fresh
      fresh.values
        .map(p => org.apache.spark.sql.GraftRddFrame
          .fromRowRdd(spark, p.rdd, p.schema))
        .reduceOption(_.unionByName(_))
        .getOrElse(spark.read.parquet(dir))
    }
  }

  /** Drop (and unpersist) every cached entry — test isolation and
    * session teardown. Entries are REMOVED from the map first and only
    * then unpersisted under their own lock: the reverse order (iterate,
    * unpersist, then `entries.clear()`) raced with a concurrent
    * [[read]] that could re-persist partitions between the iteration
    * and the clear, leaving persisted blocks tracked nowhere until
    * context teardown. A reader holding the entry's lock mid-refresh is
    * waited out, and whatever it persisted is unpersisted here; a
    * reader arriving AFTER its entry was removed re-fills a fresh entry
    * that stays tracked in the map.
    */
  def clear(): Unit =
    entries.keySet.foreach { k =>
      entries.remove(k).foreach { e =>
        e.synchronized {
          e.parts.values.foreach(unpersistQuietly)
          e.parts = Map.empty
        }
      }
    }
}
