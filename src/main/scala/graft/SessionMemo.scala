package graft

import org.apache.spark.sql.SparkSession

/** A session memo: one value per (session, source file state), built on
  * the first call and shared by every later call in that session. Sound
  * for DataFrames because a DataFrame is an immutable logical plan: a
  * shared one changes no result and no physical plan.
  *
  * The key is (session, file path, mtime, length), read with one status
  * call ([[ops.Derived.sourceStamp]]), so a source rewritten in place
  * misses, also within one mtime tick when its length changed. A miss
  * evicts the entries of the same (session, path), so a superseded
  * corpus state's value (and any blocks it pinned) becomes unreachable.
  * Concurrent callers of one key share a single build.
  *
  * Every memo owns its map: some builds call another memo, and a nested
  * `computeIfAbsent` on one ConcurrentHashMap is unsupported.
  */
final class SessionMemo[V] {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long, Long), V]()

  def apply(s: SparkSession, file: String)(build: => V): V = {
    val (mtime, len) = ops.Derived.sourceStamp(s, file)
    val key = (s, file, mtime, len)
    if (!entries.containsKey(key))
      entries.keySet.removeIf(k => k._1 == s && k._2 == file && k != key)
    entries.computeIfAbsent(key, _ => build)
  }

  def clear(): Unit = entries.clear()
}
