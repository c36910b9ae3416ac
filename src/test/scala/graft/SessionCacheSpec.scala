package graft

import org.apache.spark.sql.functions._

/** Lifecycle contract of the M7 memo caches ([[SessionCache]]):
  * per-session isolation (a new session never reuses an old session's
  * frames), bounded growth (repeated touches do not add entries), and
  * one eviction path that actually releases every kind of entry.
  */
class SessionCacheSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A private temp copy of some sf0.001 input files: no session of
    * another suite can hold a same-result cached frame over its paths.
    */
  private def privateCopy(files: String*): java.nio.file.Path = {
    val own = java.nio.file.Files.createTempDirectory("graft_session_cache")
    files.foreach(f => java.nio.file.Files.copy(java.nio.file.Paths.get(dir, f), own.resolve(f)))
    own
  }

  private def bm25Dirs: Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list()).toSeq.flatten
      .filter(_.startsWith("graft_bm25_idx")).toSet

  test("table relations memoize within a session and never leak across sessions") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val t1a = Tables.table(s1, dir, "nation")
    val t1b = Tables.table(s1, dir, "nation")
    assert(t1a eq t1b, "same session + dir + table must memo-hit")
    val t2 = Tables.table(s2, dir, "nation")
    assert(!(t2 eq t1a), "a NEW session must resolve its own relation, not reuse a stale one")
    assert(t2.count() == t1a.count())
    SessionCache.evictSession(s1)
    SessionCache.evictSession(s2)
  }

  test("repeated touches do not grow the cache; evictSession removes exactly that session's entries") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    SessionCache.evictSession(s1); SessionCache.evictSession(s2)
    val base = SessionCache.size
    for (_ <- 1 to 5) Tables.table(s1, dir, "region")
    assert(SessionCache.size == base + 1, "5 touches of one relation must add ONE entry")
    Tables.table(s1, dir, "nation")
    Tables.table(s2, dir, "region")
    assert(SessionCache.size == base + 3)
    SessionCache.evictSession(s1)
    assert(SessionCache.size == base + 1, "evicting s1 must keep s2's entry")
    val again = Tables.table(s1, dir, "region")
    assert(again.count() > 0, "an evicted session re-resolves cleanly")
    SessionCache.evictSession(s1); SessionCache.evictSession(s2)
  }

  test("a persisted pipeline frame is unpersisted by eviction") {
    val s1 = spark.newSession()
    val base = persistedIds
    // build the persisted flows frame for this session
    val before = graft.queries.Relational.activityFlows(s1, dir).count()
    assert(before >= 0)
    val flows = persistedIds -- base
    assert(flows.nonEmpty, "the flows frame must be persisted")
    SessionCache.evictSession(s1)
    assert((persistedIds & flows).isEmpty, "eviction must unpersist the flows frame")
    // a fresh call rebuilds without error (and re-persists)
    val after = graft.queries.Relational.activityFlows(s1, dir).count()
    assert(after == before)
    SessionCache.evictSession(s1)
  }

  test("evictSession releases every kind of entry of one session and keeps the others'") {
    val own = privateCopy(new java.io.File(dir).list().toSeq: _*)
    val d = own.toString
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    // the other session holds no persisted frame: the cache manager
    // shares one cached relation between same-result plans, whatever
    // their session
    val other = Tables.table(s2, d, "nation")
    val otherMerges = graft.queries.TextPipeline.bpeMerges(s2, d)
    val (base, baseDirs) = (persistedIds, bm25Dirs)

    // one memo of each kind: relation, persisted text and media
    // frames, a temp index directory and a plain value
    val table = Tables.table(s1, d, "nation")
    val toks = graft.queries.TextPipeline.tokenizedDocs(s1, d)
    toks.count()
    val vecs = graft.queries.MediaPipeline.mediaVecs(s1, d)
    vecs.count()
    graft.queries.Retrieval.bm25TopKViaIndex(s1, d)
    val merges = graft.queries.TextPipeline.bpeMerges(s1, d)
    assert(toks.storageLevel.useMemory && vecs.storageLevel.useMemory)
    val built = persistedIds -- base
    assert(built.nonEmpty)
    val idxDirs = bm25Dirs -- baseDirs
    assert(idxDirs.size == 1, s"one temp BM25 index for the session: $idxDirs")

    SessionCache.evictSession(s1)
    assert((persistedIds & built).isEmpty,
      s"every persisted frame of the session must leave getPersistentRDDs: ${persistedIds & built}")
    assert(!toks.storageLevel.useMemory, "the token frame must be unpersisted")
    assert(!vecs.storageLevel.useMemory, "the media frame must be unpersisted")
    assert((bm25Dirs & idxDirs).isEmpty, s"the temp index directory must be deleted: $idxDirs")
    assert(!(Tables.table(s1, d, "nation") eq table), "a re-touch must rebuild the relation")
    assert(!(graft.queries.TextPipeline.tokenizedDocs(s1, d) eq toks))
    assert(!(graft.queries.MediaPipeline.mediaVecs(s1, d) eq vecs))
    assert(!(graft.queries.TextPipeline.bpeMerges(s1, d) eq merges))

    assert(Tables.table(s2, d, "nation") eq other, "another session's entries survive")
    assert(graft.queries.TextPipeline.bpeMerges(s2, d) eq otherMerges)
    SessionCache.evictSession(s1); SessionCache.evictSession(s2)
    org.apache.commons.io.FileUtils.deleteQuietly(own.toFile)
  }

  test("evictSession keeps a cached frame that another live session still reads") {
    val own = privateCopy("documents.parquet")
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val base = persistedIds
    // same-result plans in two sessions share ONE cached relation
    val toks1 = graft.queries.TextPipeline.tokenizedDocs(s1, own.toString)
    val toks2 = graft.queries.TextPipeline.tokenizedDocs(s2, own.toString)
    toks1.count(); toks2.count()
    val built = persistedIds -- base
    assert(built.nonEmpty, "the token frame must be persisted")

    SessionCache.evictSession(s1)
    assert(toks2.storageLevel.useMemory, "s2's memoized frame must stay cached")
    assert(built.subsetOf(persistedIds),
      s"s2's cached RDD must stay persisted: ${built -- persistedIds}")
    assert(graft.queries.TextPipeline.tokenizedDocs(s2, own.toString) eq toks2)

    SessionCache.evictSession(s2)
    assert(!toks1.storageLevel.useMemory && !toks2.storageLevel.useMemory,
      "the last holder's eviction un-caches the frame")
    assert((persistedIds & built).isEmpty,
      s"the cached RDD must leave getPersistentRDDs: ${persistedIds & built}")
    org.apache.commons.io.FileUtils.deleteQuietly(own.toFile)
  }

  test("touching many caches from one session registers one application-end listener") {
    val s1 = spark.newSession()
    val sid = SessionCache.idOf(s1)
    val before = SessionCache.registeredSessions.size
    Tables.table(s1, dir, "nation")
    Tables.table(s1, dir, "region")
    graft.queries.TextPipeline.tokenizedDocs(s1, dir)
    graft.queries.MediaPipeline.mediaVecs(s1, dir)
    graft.queries.Relational.activityFlows(s1, dir)
    assert(SessionCache.registeredSessions.size == before + 1)
    assert(SessionCache.registeredSessions.contains(sid))
    SessionCache.evictSession(s1)
    assert(!SessionCache.registeredSessions.contains(sid), "eviction drops the session's listener")
  }

  test("session ids are stable per session object and distinct across sessions") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    assert(SessionCache.idOf(s1) == SessionCache.idOf(s1))
    assert(SessionCache.idOf(s1) != SessionCache.idOf(s2))
    assert(SessionCache.idOf(spark) != SessionCache.idOf(s1))
  }
}
