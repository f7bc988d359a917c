package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** The engine's one state registry, with two scopes.
  *
  * SESSION scope — weak keys on the [[SparkSession]], so every entry dies
  * with its session; a `spark.newSession()` gets its own:
  *   - schemas: the parquet schema inferred once per path
  *     ([[graft.ops.Tables.readCached]]). Metadata only — the data is
  *     re-read from parquet by every invocation;
  *   - pinned entries ([[pinned]]): values computed once per session whose
  *     eager checkpoints must survive [[releaseStrays]] — the memoized
  *     dashboard ground truths and model frames ([[graft.ops.Caching.memo]])
  *     keyed by name, and the resident serving copies of standing
  *     artifacts keyed by artifact root;
  *   - RDD ids: the ids each pinned entry created, and the releasable ids
  *     of [[graft.ops.Caching.materializeAndRelease]]'s results.
  *
  * APPLICATION scope — keyed by `applicationId`, shared by every session
  * of the application: the roots of built artifacts ([[built]]), all
  * under one directory `${java.io.tmpdir}/graft_<applicationId>/`, which
  * a listener deletes when the application ends (`SparkContext.stop`,
  * which Spark's shutdown hook also runs).
  *
  * Writers keep both scopes honest through [[invalidate]]: every writer of
  * a path drops the session entries at or under it.
  *
  * SINGLE-CONSUMER CONTRACT: constructing a registry query
  * ([[graft.SparkEntry]]'s `fresh`) calls [[releaseStrays]], which
  * invalidates every EARLIER registry query's materialized result — their
  * truncated-lineage blocks drop and cannot recompute. Callers holding
  * several query results at once must copy them out
  * ([[org.apache.spark.sql.DataFrame.collect]] / write) before
  * constructing the next query. */
object State {

  /** An entry's value: `mk` runs at most once (concurrent callers wait
    * for the first; a failed run leaves the entry unset for a retry),
    * outside the map's lock, so one entry's computation may ask for
    * another (the DSIR model's build reads the curation verdicts). */
  private final class Once[T](mk: => T) {
    lazy val value: T = mk
  }

  /** A session entry; `ids` are the RDD ids persisted while it ran. */
  private final class Pinned(s: SparkSession, mk: => AnyRef) {
    @volatile var ids: Set[Int] = Set.empty
    val once = new Once({
      val (v, made) = persistedBy(s)(mk)
      ids = made
      v
    })
  }

  private final class SessionScope {
    val schemas = new ConcurrentHashMap[String, StructType]()
    val pinned = new ConcurrentHashMap[String, Pinned]()
    val releasable: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()
  }

  private val sessions = new java.util.WeakHashMap[SparkSession, SessionScope]()

  private def session(s: SparkSession): SessionScope = sessions.synchronized {
    sessions.computeIfAbsent(s, _ => new SessionScope)
  }

  /** `path`'s schema, inferred once per session. */
  def schema(s: SparkSession, path: String)(infer: => StructType): StructType =
    session(s).schemas.computeIfAbsent(path, _ => infer)

  /** The session's value for `key`, computed by `mk` on first use. Every
    * RDD `mk` persisted is protected from [[releaseStrays]] until an
    * [[invalidate]] drops the entry. */
  def pinned[T <: AnyRef](s: SparkSession, key: String)(mk: => T): T =
    session(s).pinned.computeIfAbsent(key, _ => new Pinned(s, mk))
      .once.value.asInstanceOf[T]

  /** `body`'s value and the ids of the RDDs it left persisted. */
  def persistedBy[A](s: SparkSession)(body: => A): (A, Set[Int]) = {
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val v = body
    (v, (sc.getPersistentRDDs.keySet -- before).toSet)
  }

  /** Unpersist those of `ids` that are still persisted. */
  def unpersist(s: SparkSession, ids: Iterable[Int]): Unit = {
    val persisted = s.sparkContext.getPersistentRDDs
    ids.foreach(id => persisted.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Register eagerly checkpointed RDD ids that [[releaseStrays]] may
    * drop. */
  def releasable(s: SparkSession, ids: Iterable[Int]): Unit = {
    val r = session(s).releasable
    ids.foreach(id => r.add(id))
  }

  /** Release the blocks registered [[releasable]] for earlier queries,
    * minus those a pinned entry protects. Checkpointed frames are
    * invisible to the CacheManager, so `clearCache()` never frees them and
    * they would accumulate across a 200-query session. Everything else
    * the session holds persisted — plain caches, streaming-pinned frames,
    * a user's own localCheckpoints — is never touched: a truncated-lineage
    * block that drops while a consumer still holds the frame fails with a
    * missing-block error rather than recomputing. Session hygiene at
    * measured ≈zero cost, not a performance fix (BENCH.md round 15). */
  def releaseStrays(s: SparkSession): Unit = {
    val scope = session(s)
    val keep = scope.pinned.values.asScala.flatMap(_.ids).toSet
    val drop = scope.releasable.asScala.filterNot(keep).toList
    unpersist(s, drop)
    drop.foreach(id => scope.releasable.remove(id))
  }

  /** A write at `root` made stale whatever was read from it: in every
    * session of `s`'s application, drop the schemas and pinned entries
    * keyed at `root` or under it (`root/…`; a sibling that merely shares
    * the string prefix, `root2`, keeps its entries) and unpersist the
    * blocks the dropped entries pinned. */
  def invalidate(s: SparkSession, root: String): Unit = {
    val under = root.stripSuffix("/") + "/"
    def hit(p: String) = p == root || p.startsWith(under)
    val sc = s.sparkContext
    val scopes = sessions.synchronized {
      sessions.asScala.collect {
        case (o, scope) if o.sparkContext eq sc => scope
      }.toList
    }
    for (scope <- scopes) {
      scope.schemas.keySet.removeIf(p => hit(p))
      for (k <- scope.pinned.keySet.asScala.toList if hit(k))
        Option(scope.pinned.remove(k)).foreach(p => unpersist(s, p.ids))
    }
  }

  private final class AppScope(val dir: java.io.File) {
    val built = new ConcurrentHashMap[String, Once[String]]()
  }

  private val apps = new ConcurrentHashMap[String, AppScope]()

  private def app(s: SparkSession): AppScope = {
    val sc = s.sparkContext
    apps.computeIfAbsent(sc.applicationId, id => {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          endApplication(id)
      })
      new AppScope(
        new java.io.File(System.getProperty("java.io.tmpdir"), s"graft_$id"))
    })
  }

  /** The root of the application's `kind` artifact for corpus `dir`:
    * `build` writes it there once per application, and every later call —
    * from any session of the application — returns the root without
    * building. */
  def built(s: SparkSession, kind: String, dir: String)(
      build: String => Unit): String = {
    val a = app(s)
    val root = new java.io.File(a.dir,
      s"${kind}_${dir.replaceAll("[^A-Za-z0-9]", "_")}").toString
    a.built.computeIfAbsent(s"$kind:$dir",
      _ => new Once({ build(root); root })).value
  }

  /** Forget the application's built artifacts and delete its directory. */
  private[graft] def endApplication(appId: String): Unit =
    Option(apps.remove(appId)).foreach(a =>
      org.apache.commons.io.FileUtils.deleteQuietly(a.dir))
}
