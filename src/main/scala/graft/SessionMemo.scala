package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The session-scoped (SparkContext, dataset dir, tag) memo behind the
  * table schemas ([[Tables]]), the fixture caches
  * ([[graft.queries.Models]], [[graft.queries.Dedup]]) and the
  * per-application temp dirs ([[SessionMemo.appTempDir]]).
  *
  * CONTRACT: a dataset dir is immutable for the life of a SparkContext, so
  * anything derived from it alone (a table's schema, a deterministic
  * fixture) is built once per context and served from here after. Entries
  * built under a stopped context are unusable (their checkpoint blocks are
  * gone), so any lookup from a NEW context first drops every foreign entry
  * — a JVM cycling sessions (test suites) cannot accumulate dead entries.
  */
private[graft] object SessionMemo {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  def memo[T <: AnyRef](s: SparkSession, d: String, tag: String)(build: => T): T = {
    val ctx = s.sparkContext.applicationId + "@" + s.sparkContext.startTime
    val key = ctx + ":" + d + ":" + tag
    val hit = cache.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      cache.keySet.removeIf(k => !k.startsWith(ctx))
      val built = build
      cache.put(key, built)
      built
    }
  }

  /** `java.io.tmpdir/<prefix>_<applicationId>`, deleted with everything
    * under it when the application ends; the listener that deletes it is
    * registered once per SparkContext. */
  def appTempDir(s: SparkSession, prefix: String): AppTempDir =
    memo(s, "", s"tmpdir:$prefix") {
      val dir = new AppTempDir(java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"${prefix}_${s.sparkContext.applicationId}").toString)
      s.sparkContext.addSparkListener(dir)
      dir
    }

  final class AppTempDir(val path: String) extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }
}
