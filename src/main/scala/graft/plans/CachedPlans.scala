package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** ONE session-scoped memo registry. Every entry is keyed by
  * `(SparkSession, key, tag)`, where the key is a CANONICALIZED analyzed
  * plan (the same semantic dedup Spark's CacheManager applies) or an
  * index directory, and carries the SNAPSHOT FINGERPRINT of that key's
  * inputs. Four uses share it, through thin wrappers over one lookup:
  *   - [[cached]]: persisted plans. Pipelines that derive the same
  *     shingle/edge tables in several declared queries (minhash,
  *     components, decontaminate) share one persisted branch instead of
  *     each calling `persist()` on an identical plan (which logs "Asked
  *     to cache already cached data" and re-runs the eager fill job per
  *     caller). `persist()` + the eager fill `count()` run ONCE per
  *     distinct plan per session (the count is load-bearing: concurrent
  *     lazy branch materialization would race and recompute the
  *     upstream pipeline), and repeated query construction (benchmark
  *     reps, verify reruns) reuses the warm cache with zero extra jobs.
  *   - [[memo]]: iterative results (connected components, BPE vocab,
  *     recall gates) memoized on their INPUT plan + an operator tag,
  *     since checkpoints make their output plan unique per run.
  *   - [[memoValue]]: bounded driver-side values collected from a plan
  *     (the indexed probes' query-token In-lists).
  *   - [[loadIndex]]: loaded on-disk indexes, keyed by directory.
  *
  * Staleness guard: a lookup whose fingerprint differs from the entry's
  * REPLACES that entry, so each (session, key, tag) holds one live
  * snapshot. For plans the fingerprint is the digest of the plan's
  * input-file listing, each file tagged with its length and
  * modification time ([[snapshot]]): two reads of the same path
  * canonicalize to the same plan even when the files underneath were
  * rewritten in between, and fingerprinting the listing makes the
  * post-rewrite build MISS the stale entry and rebuild from current
  * data, while unchanged re-reads still hit. Including length+mtime
  * covers SAME-NAME in-place rewrites too (Spark's own writers use fresh
  * UUID part names, but the streaming state sink's `bucket_<k>` swap
  * keeps names stable). Non-file sources (JDBC, in-memory) have an empty
  * listing and fall back to pure plan keying. For index directories the
  * fingerprint is the recursive walk of [[dirDigest]]. Cost: one
  * `listStatus` per distinct input directory (plans) or per directory
  * of the index tree (indexes) per lookup.
  *
  * Lifetime: entries live until [[clear]] or session end; the session is
  * in every key, so a new session never sees another's entries. Release
  * rule: an entry that leaves the registry (replaced on a snapshot miss,
  * or dropped by [[clear]]) has the `release` its wrapper registered
  * applied to its completed value. Persisted plans and memos unpersist
  * their storage, checkpoint blocks included; values and index handles
  * hold no storage and release nothing. Entries are tiny (a key plus a
  * reference); the cached BLOCKS are governed by Spark's MEMORY_AND_DISK
  * storage with LRU eviction.
  */
object CachedPlans {

  // per-key fill holder: the registry lock guards only the map insert;
  // the (possibly minutes-long) Spark action inside `thunk` runs under
  // the HOLDER's own monitor, so concurrent callers on DIFFERENT keys
  // (e.g. the per-table validate fan-out) proceed in parallel while
  // same-key callers still share one fill. An explicit state machine
  // rather than a `lazy val`: a lazy val whose initializer threw is not
  // memoized, so eviction code that forces it "to release it" would
  // RE-RUN the whole corpus-scale fill (over possibly already-rewritten
  // files) — [[settle]] is the release-side read that never fills.
  private final class Lazy[T <: AnyRef](thunk: () => T) {
    // 0 = never started, 1 = filling, 2 = completed. A FAILED fill
    // resets to 0 (retry semantics: a transient failure heals on the
    // next force instead of poisoning the entry forever).
    private[this] var state = 0
    private[this] var result: T = _
    def value: T = {
      synchronized {
        while (state == 1) wait()
        if (state == 2) return result
        state = 1
      }
      val r =
        try thunk()
        catch {
          case t: Throwable =>
            synchronized { state = 0; notifyAll() }
            throw t
        }
      synchronized { state = 2; result = r; notifyAll() }
      r
    }
    /** The built value if the fill completed — clear() must not trigger
      * a (re)build just to unpersist.
      */
    def peek: Option[T] = synchronized {
      if (state == 2) Some(result) else None
    }
    /** Wait out an in-flight fill (if any), then return the COMPLETED
      * result — None when the fill never started or failed, in which
      * case nothing is persisted and there is nothing to release.
      */
    def settle(): Option[T] = synchronized {
      while (state == 1) wait()
      if (state == 2) Some(result) else None
    }
  }

  /** [[snapshot]] for external cache keys: callers that memoize
    * derived artifacts of a file-backed plan (e.g. QueryIndexes' on-disk
    * corpus indexes) fold this into THEIR keys so a regenerated source
    * re-keys the artifact instead of serving a stale one.
    */
  def dataFingerprint(df: DataFrame): String = snapshot(df)

  /** Input files read from the ANALYZED plan's file relations, unioned
    * with `Dataset.inputFiles`. The union matters: once ANY plan is
    * persisted, the CacheManager substitutes InMemoryRelations into
    * later same-shaped plans' EXECUTED form, and `Dataset.inputFiles`
    * (which reads the post-substitution plan) comes back EMPTY — the
    * snapshot would degrade to "" and the registry key to plan-only, at
    * which point a same-shaped plan over files changed by a NON-Spark
    * writer (the dedup indexes' staged FS-rename commits) silently hits
    * a stale entry (observed: a replayed index retire double-committing
    * its tombstones). The analyzed plan is resolved BEFORE cache
    * substitution, so its file listing survives shadowing.
    */
  private def inputFileList(df: DataFrame): Seq[String] = {
    val fromAnalyzed = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fsr: org.apache.spark.sql.execution.datasources
            .HadoopFsRelation => fsr.location.inputFiles.toSeq
          case _ => Seq.empty[String]
        }
    }.flatten
    (fromAnalyzed ++ df.inputFiles).distinct
  }

  /** MD5 of the sorted input-file listing PLUS each file's length and
    * modification time — the plan's data snapshot identity. Empty string
    * for non-file-backed plans.
    *
    * Name alone is not enough: an in-place rewrite that keeps file names
    * (the streaming state sink's `bucket_<k>` swap, any overwrite with
    * stable names) would leave a name-only digest unchanged and serve
    * stale results. Length+mtime comes from one `listStatus` per distinct
    * parent directory (not one RPC per file); a file deleted between
    * listing and stat simply digests as absent, which still changes the
    * key.
    */
  private def snapshot(df: DataFrame): String = {
    val files = inputFileList(df)
    if (files.isEmpty) ""
    else {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      // one listStatus per parent dir: (path -> (len, mtime)) for every
      // sibling, probed below per input file
      val stats = files.map(new org.apache.hadoop.fs.Path(_).getParent)
        .distinct.flatMap { dir =>
          try {
            dir.getFileSystem(conf).listStatus(dir).map(s =>
              s.getPath.toUri.getPath ->
                (s.getLen, s.getModificationTime))
          } catch { case _: java.io.IOException => Array.empty[
            (String, (Long, Long))] }
        }.toMap
      val md = java.security.MessageDigest.getInstance("MD5")
      files.sorted.foreach { f =>
        md.update(f.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md.update(0.toByte)
        val (len, mtime) = stats.getOrElse(
          new org.apache.hadoop.fs.Path(f).toUri.getPath, (-1L, -1L))
        md.update(s"$len:$mtime".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        md.update(0.toByte)
      }
      java.util.Base64.getEncoder.encodeToString(md.digest())
    }
  }

  /** MD5 of an index directory TREE: every entry's path, length and
    * modification time, walked recursively — the fingerprint of
    * [[loadIndex]]. A lifecycle verb that mutates the index (a staged
    * commit renames files in, a compaction rewrites them) changes it, so
    * the next load re-keys instead of serving stale plans.
    */
  private def dirDigest(spark: SparkSession, dir: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).sortBy(_.getPath.toString).foreach { st =>
        md.update((s"${st.getPath.toUri.getPath}\u0000${st.getLen}:" +
          s"${st.getModificationTime}\u0000")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if (st.isDirectory) walk(st.getPath)
      }
    walk(root)
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  /** One registry entry: the fingerprint it was built under, its fill
    * holder, and the release its wrapper registered for it.
    */
  private final case class Entry(snap: String, holder: Lazy[AnyRef],
      release: AnyRef => Unit)

  // key includes the session: identical plans from different sessions
  // must not share a result (a DataFrame's execution is bound to its
  // session). ONE live snapshot per (session, key, tag): a snapshot miss
  // REPLACES the entry (the stale twin must go anyway — see [[lookup]]),
  // which keeps the lookup O(1) instead of scanning every registered
  // plan for structural equality under the global lock.
  private val registry =
    mutable.Map.empty[(SparkSession, AnyRef, String), Entry]

  /** Release a displaced holder whose fill is (or may be) still IN
    * FLIGHT — called from INSIDE the replacement holder's fill thunk
    * (outside the registry lock), so the ordering is airtight: any
    * caller forcing the replacement — the displacing caller or a
    * concurrent same-key one — first waits out the stale fill and
    * unpersists it, and only then runs the replacement's `persist()`.
    * Evicting without that wait would leave the stale blocks registered
    * in Spark's CacheManager, where the replacement's `persist()` would
    * plan-match them ("already cached") and silently adopt the
    * pre-rewrite data: the exact stale hit the snapshot key exists to
    * prevent. (A COMPLETED stale fill is instead released inside the
    * registry lock, before the replacement entry becomes visible.)
    * [[Lazy.settle]] never forces: a fill that never started or failed
    * has nothing persisted, so there is nothing to release — and
    * forcing it would re-run a corpus-scale job over stale files purely
    * for its own funeral. The wait is bounded by the in-flight fill; a
    * stale caller that starts its fill AFTER this check leaks one
    * persist until [[clear]], which only a pathological interleaving
    * (forcing a holder it was handed before the displacement) reaches.
    */
  private def releaseHolder(h: Lazy[AnyRef],
      release: AnyRef => Unit): Unit =
    try h.settle().foreach(release)
    catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }

  /** The one lookup every wrapper goes through: return the value built
    * for `(session, key, tag)` under fingerprint `snap`, building it
    * (outside the registry lock, see [[Lazy]]) on a miss.
    *
    * A snapshot MISS against an existing entry also EVICTS that entry,
    * through the `release` it was registered with. For persisted plans
    * this is load-bearing: Spark's CacheManager substitutes cached data
    * into any execution whose canonical plan matches — file listing NOT
    * consulted — so a stale twin left persisted would serve its
    * pre-rewrite blocks to the rebuilt frame's execution and the rebuild
    * would silently recompute nothing (bitten in practice by the dedup
    * indexes' FS-rename staged commits, which — unlike Spark writers —
    * never call recacheByPath).
    */
  private def lookup[T <: AnyRef](session: SparkSession, key: AnyRef,
      tag: String, snap: String, release: T => Unit)(build: => T): T = {
    val k = (session, key, tag)
    val holder = synchronized {
      registry.get(k) match {
        case Some(e) if e.snap == snap => e.holder
        case prior =>
          // a COMPLETED stale twin is released here, inside the lock:
          // its CacheManager entry must be gone before any caller can
          // force the replacement's persist (which would plan-match
          // the stale blocks). An IN-FLIGHT twin is instead released
          // from inside the replacement's own fill thunk — waiting here
          // would hold the global lock for the length of its fill, and
          // releasing after the insert (outside the thunk) would let a
          // concurrent same-key caller force the replacement's persist
          // while the stale blocks are still registered.
          val pending = prior.filter { e =>
            e.holder.peek match {
              case Some(v) => e.release(v); false
              case None => true
            }
          }
          val h = new Lazy[AnyRef](() => {
            pending.foreach(e => releaseHolder(e.holder, e.release))
            build
          })
          registry(k) = Entry(snap, h, release.asInstanceOf[AnyRef => Unit])
          h
      }
    }
    holder.value.asInstanceOf[T]
  }

  private val noRelease: AnyRef => Unit = _ => ()

  /** Persist-and-eagerly-fill `df` once per (session, canonical plan,
    * input snapshot): the memo of `df` itself. Later calls with a
    * semantically identical plan over the SAME files return the SAME
    * cached DataFrame without touching the CacheManager again; a
    * rewrite of the files unpersists the stale twin and rebuilds.
    */
  def cached(df: DataFrame): DataFrame =
    lookup[DataFrame](df.sparkSession, df.queryExecution.analyzed
      .canonicalized, "cached", snapshot(df), release) {
      df.persist()
      df.count() // eager: populate ONCE before branches fan out
      df
    }

  /** Memoize `build` once per (session, canonical plan of `key`, input
    * snapshot of `key`, `tag`). Iterative operators (connected
    * components) materialize checkpoints, so their OUTPUT plan is unique
    * per run and [[cached]] can never dedup them; memoizing on the INPUT
    * plan shares one run across queries deriving the same upstream. A
    * rewrite of the underlying files EVICTS the stale build's storage
    * (checkpoint blocks included) and triggers a fresh build.
    */
  def memo(tag: String, key: DataFrame)(build: => DataFrame): DataFrame =
    lookup[DataFrame](key.sparkSession, key.queryExecution.analyzed
      .canonicalized, s"memo|$tag", snapshot(key), release)(build)

  /** Memoize a driver-side value derived from a (file-backed) plan,
    * once per (session, canonical plan of `key`, input snapshot of
    * `key`, `tag`). Without this, every EXECUTION of a probe that prunes
    * a stored component to its query vocabulary re-pays a driver collect
    * (a whole Spark job of fixed overhead): measured +22% on
    * retrieval_hybrid_rrf_phrase and +17% on retrieval_e2e in the r20
    * driver bench. Nothing is persisted behind a value, so it releases
    * nothing.
    */
  def memoValue[T <: AnyRef](tag: String, key: DataFrame)
      (build: => T): T =
    lookup[T](key.sparkSession, key.queryExecution.analyzed.canonicalized,
      s"value|$tag", snapshot(key), noRelease)(build)

  /** Load the index under `dir` once per (session, directory tree
    * state). Every `DedupIndex.load*` pays driver-side Spark actions
    * whose values are pure functions of the index FILES (loadLexical
    * runs a stats aggregate, loadVectors collects ranges, PQ codebooks
    * and centroids), and the declared `*_indexed` queries re-load on
    * every construction. The fingerprint is [[dirDigest]], so a verb
    * that mutates the index re-keys the load and drops the superseded
    * handle. A handle's DataFrames read the files, never a persist, so
    * it releases nothing.
    */
  def loadIndex[T <: AnyRef](spark: SparkSession, dir: String)
      (load: => T): T =
    lookup[T](spark, dir, "index", dirDigest(spark, dir), noRelease)(load)

  /** Release the storage behind a built result: the registry persist
    * (if any) and any checkpoint blocks its plan reads from —
    * `localCheckpoint` results are LogicalRDD leaves over persisted
    * RDDs that `DataFrame.unpersist` alone would never touch. Reliable
    * checkpoint files are left to the ContextCleaner (they survive
    * executor loss by design; deleting them under a live reference
    * would be worse than the leak).
    */
  private def release(df: DataFrame): Unit = {
    df.unpersist(false)
    df.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => ()
    }
  }

  /** Release and forget every entry: registry persists, checkpoint
    * blocks backing memoized results, driver values and index loads.
    */
  def clear(): Unit = synchronized {
    registry.values.foreach(e => e.holder.peek.foreach(e.release))
    registry.clear()
  }
}
