package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-lifetime memo for small materialized frames that several
  * declared queries share (the q40 metrics table, BM25 corpus stats).
  *
  * Keys carry a cheap content fingerprint of the data directory (file
  * path + size + mtime over the tree) rather than the raw path alone:
  * rewriting the data under `dir` within a live session produces a
  * NEW key instead of serving stale rows, and the superseded entry is
  * dropped from the map so its checkpoint blocks become eligible for
  * Spark's ContextCleaner once unreferenced — the two failure modes
  * of the previous path-keyed TrieMap (round-4 advisory).
  */
object Memo {

  private val cache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String, String), DataFrame]

  /** The one invalidation rule, shared by every memo map: evict
    * same-(session, dir, tag) entries whose fingerprint changed, then
    * get-or-build under the current fingerprint. */
  private def memoIn[V](map: scala.collection.concurrent.TrieMap[(SparkSession, String, String, String), V])
                       (s: SparkSession, dir: String, tag: String)(build: => V): V = {
    val fp = dirFingerprint(dir)
    map.keys
      .filter(k => k._1 == s && k._2 == dir && k._3 == tag && k._4 != fp)
      .foreach(map.remove)
    map.getOrElseUpdate((s, dir, tag, fp), build)
  }

  /** Fingerprint of every file under `dir` (path, length, mtime) via
    * an UNCONDITIONAL full recursive walk: every depth is observed, so
    * any table layout — including a future partitioned table with
    * part files at depth ≥3 — invalidates on append/delete/rewrite.
    * (An earlier revision cached the deep walk behind a two-level
    * shallow signature; the cache saved microseconds — the signature
    * already visited nearly every file in these layouts — and bought
    * a depth-3 blind spot that could serve stale memoized artifacts.
    * Walking a data dir's few hundred files per memo access is
    * driver-side noise; at real scale the equivalent signal is the
    * table snapshot/transaction id.) */
  private[graft] def dirFingerprint(dir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val listing = walk(new java.io.File(dir))
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
      .mkString("|")
    // a real digest: a 32-bit String.hashCode collides on equal-hash,
    // equal-length names ("Aa" ↔ "BB") and would serve the stale entry
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(listing.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** Memoize `build` per (session, dir-content, tag), materialized
    * with localCheckpoint so consumers re-read executor-resident rows
    * instead of re-running the plan. */
  def cached(s: SparkSession, dir: String, tag: String)
            (build: => DataFrame): DataFrame =
    memoIn(cache)(s, dir, tag)(build.localCheckpoint())

  private val values = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String, String), Any]

  /** Memoize an arbitrary driver-side artifact descriptor (e.g. the
    * catalog names of tables a query wrote) per (session,
    * dir-content, tag) — same invalidation rule as [[cached]]. */
  def cachedValue[T](s: SparkSession, dir: String, tag: String)
                    (build: => T): T =
    memoIn(values)(s, dir, tag)(build).asInstanceOf[T]

  private val scalars = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String, String), Long]

  /** Memoize a driver-side scalar per (session, dir-content, tag) —
    * e.g. a corpus count that parameterizes a plan (q33's adaptive
    * LSH bits), so repeated query construction doesn't re-run the
    * counting job. */
  def cachedCount(s: SparkSession, dir: String, tag: String)
                 (build: => Long): Long =
    memoIn(scalars)(s, dir, tag)(build)
}
