package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import scala.jdk.CollectionConverters._

/** The one registry of per-session artifacts — the lifecycle home of
  * the M7 temp-table-reuse memos: persisted frames ([[Tables]]
  * resolved relations, the activity flows frame, the text and media
  * pipelines' token, pair, signature and model frames), plain values
  * (BPE merges, Hamming sweep widths) and on-disk temp index
  * directories (the BM25, MinHash and Hamming probes' indexes).
  *
  * Every [[SessionCache]] registers here and releases its own entries
  * with the function it was built with: [[frames]] unpersist (unless
  * another live entry reads the same cached data), [[dirs]] delete the
  * directory tree, [[values]] release nothing.
  *
  * Lifecycle contract (cached DataFrames hold their session through
  * `queryExecution`, so entries DO pin a session until evicted; the
  * weak-keyed id map only guarantees the id bookkeeping itself never
  * outlives a session):
  *  - entry keys are (per-session id, key): a new session (even over
  *    the same SparkContext) sees none of an old session's entries —
  *    `newSession()`/restart cannot read stale state;
  *  - the first touch from a session, in any cache, registers ONE
  *    listener that releases that session's entries in every cache
  *    when the APPLICATION ends — the floor guarantee for batch mains
  *    (Bench, Verify, CLI), whose process exit is the session's end;
  *  - [[evictSession]] is the one release path before that: it
  *    releases the session's entries in every cache and removes its
  *    listener. A long-lived service creating per-tenant/per-request
  *    sessions over one application MUST call it when it retires a
  *    session — there is no per-session end event in Spark to hook,
  *    so un-evicted entries (and the sessions they reference) live
  *    until application end. This is the deliberate trade for keeping
  *    persisted frames reliably resident between queries;
  *  - temp directories made by [[tempDir]] are also deleted by ONE JVM
  *    shutdown hook, so a build that failed or a session never
  *    evicted leaves no tree behind a normal exit.
  *
  * `unpersist` does not reach the blocks of the `localCheckpoint`-
  * backed memos (the text and media quantizer centroids, the DSIR λ,
  * the phash probe signatures): eviction drops the reference, and
  * Spark's ContextCleaner frees the blocks once the frame is
  * unreachable.
  *
  * Entry creation uses `computeIfAbsent`, so a racing first touch
  * builds (and persists) an entry exactly once.
  */
object SessionCache {
  // Stable per-session-object id (the public API lacks a session UUID):
  // WEAK keys, so the id map itself never retains a stopped session.
  private val ids = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private[graft] def idOf(spark: SparkSession): String =
    ids.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  private val caches = new CopyOnWriteArrayList[SessionCache[_, _]]()
  private val listeners = new ConcurrentHashMap[String, (SparkContext, SparkListener)]()
  private val liveDirs = ConcurrentHashMap.newKeySet[Path]()
  sys.addShutdownHook(liveDirs.forEach(p => deleteTree(p)))

  /** A cache of frames, released by [[releaseFrame]]. */
  def frames[K]: SessionCache[K, DataFrame] = new SessionCache[K, DataFrame](releaseFrame)

  /** A cache of plain values; release is dropping the entry. */
  def values[K, V]: SessionCache[K, V] = new SessionCache[K, V](_ => ())

  /** A cache of [[tempDir]] paths, whose trees are deleted on release. */
  def dirs[K]: SessionCache[K, String] = new SessionCache[K, String](p => deleteTree(Paths.get(p)))

  /** A fresh temp directory named `prefix…`, filled by `build`. */
  def tempDir(prefix: String)(build: String => Unit): String = {
    val path = Files.createTempDirectory(prefix)
    liveDirs.add(path)
    build(path.toString)
    path.toString
  }

  /** Release `spark`'s entries in every cache and drop its listener. */
  def evictSession(spark: SparkSession): Unit = {
    val sid = idOf(spark)
    Option(listeners.remove(sid)).foreach { case (sc, l) => sc.removeSparkListener(l) }
    caches.forEach(_.evict(sid))
  }

  private[graft] def registeredSessions: java.util.Set[String] = listeners.keySet

  /** Total entries over every cache. */
  private[graft] def size: Int = caches.asScala.map(_.size).sum

  private def listen(spark: SparkSession): String = {
    val sid = idOf(spark)
    listeners.computeIfAbsent(sid, _ => {
      val l = new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          listeners.remove(sid)
          caches.forEach(_.evict(sid))
        }
      }
      spark.sparkContext.addSparkListener(l)
      (spark.sparkContext, l)
    })
    sid
  }

  /** Spark's cache manager keeps ONE cached relation for all
    * same-result plans on a SparkContext, whatever their session, so
    * unpersisting one session's frame would un-cache every other
    * session's memoized frame over the same input. Unpersist only
    * when no live entry (the released one is already removed) looks
    * up the same cached data.
    */
  private def releaseFrame(df: DataFrame): Unit = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val cm = df.sparkSession.sharedState.cacheManager
    val data = cm.lookupCachedData(castToImpl(df))
    val shared = data.exists(cd => caches.asScala.exists(_.holds {
      case other: Dataset[_] => cm.lookupCachedData(castToImpl(other)).exists(_ eq cd)
      case _ => false
    }))
    if (!shared) df.unpersist(blocking = false)
  }

  private def deleteTree(path: Path): Unit = {
    liveDirs.remove(path)
    // a concurrent release may delete the same tree
    scala.util.Try {
      Files.walk(path).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => Files.deleteIfExists(p))
    }
  }
}

final class SessionCache[K, V] private (release: V => Unit) {
  SessionCache.caches.add(this)

  private val entries = new ConcurrentHashMap[(String, K), V]()

  def getOrElseUpdate(spark: SparkSession, key: K)(mk: => V): V =
    entries.computeIfAbsent((SessionCache.listen(spark), key), _ => mk)

  private[graft] def evict(sid: String): Unit =
    entries.keySet.forEach { k =>
      if (k._1 == sid)
        Option(entries.remove(k)).foreach { v =>
          // the context may already be down when the app-end hook runs
          scala.util.Try(release(v))
        }
    }

  private def holds(p: V => Boolean): Boolean = entries.values.asScala.exists(p)

  private[graft] def size: Int = entries.size
}
