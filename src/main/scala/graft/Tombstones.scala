package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** THE delete sidecar of every index family — the right-to-be-forgotten
  * half of the on-disk lifecycle, beside [[graft.Generations]]. Deletion
  * is TWO-PHASE like every other index mutation:
  *
  *   1. record — the request-sized id set is appended to the live
  *      generation's sidecar ([[record]], [[recordPresent]]); no index
  *      byte is opened;
  *   2. hide — every read of that generation anti-joins the sidecar
  *      ([[hide]]), so deleted content is gone immediately while the
  *      at-rest bytes stand;
  *   3. drop — the next compaction (or any rebuild) rewrites the
  *      generation without the hidden rows and starts a clean sidecar;
  *      a rebuild from external content reads the standing set first
  *      ([[hide]] with `materialize`, [[materialized]]) so forgotten
  *      stays forgotten.
  *
  * A sidecar is VERSIONED WITH its generation: a pinned reader pairs its
  * generation's rows with that generation's delete set, and a compacted
  * generation, which starts with no sidecar, cannot resurrect a
  * grace-window pin's hidden rows. The [[Generations]] keep sets keep
  * each generation together with its sidecar ([[ofListsName]],
  * [[beside]], [[RootEntry]]).
  *
  * Where a sidecar lives (the only code that spells it):
  *  - IVF/SQ8 lists: `tomb__<lists generation>` beside the lists
  *    ([[ofLists]]);
  *  - BM25 postings and the dedup register: `<path>__tomb` beside the
  *    data path ([[beside]]);
  *  - graph index: `tombstones` inside the generation root
  *    ([[inRoot]]).
  *
  * A sidecar's FIRST column is its key: the IVF index's own id column,
  * `doc` for postings, `id` for the register and the graph. The IVF
  * countPresent delete records (id, cid) so compaction can plan its
  * touched lists from the sidecar alone; every reader here keys on the
  * first column only. Each read of a sidecar infers its schema with a
  * Spark job, so an operation reads its sidecar once ([[split]];
  * [[recorded]] with [[hidden]]). */
object Tombstones {

  private val ListsPrefix = "tomb__"

  /** The graph sidecar's entry name inside a generation root. */
  val RootEntry = "tombstones"

  /** The sidecar entry name of the IVF lists generation `lists`. */
  def ofListsName(lists: String): String = ListsPrefix + lists

  /** Whether a directory entry of an IVF index is a lists sidecar. */
  def isListsSidecar(name: String): Boolean = name.startsWith(ListsPrefix)

  /** The sidecar of the IVF/SQ8 lists generation at `listsDir`. */
  def ofLists(listsDir: String): String = {
    val f = new File(listsDir)
    new File(f.getParentFile, ofListsName(f.getName)).getPath
  }

  /** The sidecar of the postings or register generation at `path`. */
  def beside(path: String): String = path + "__tomb"

  /** The sidecar of the graph generation rooted at `root`. */
  def inRoot(root: String): String = s"$root/$RootEntry"

  /** Whether anything was ever deleted from the sidecar's generation —
    * a directory probe, so a never-deleted index pays nothing. */
  def exists(side: String): Boolean = new File(side).isDirectory

  /** CREATE semantics: a leftover sidecar from a prior index at the
    * same path would silently hide legitimate ids from the fresh one. */
  def clear(side: String): Unit = FileTree.delete(new File(side))

  /** The sidecar's key column, or None when there is no sidecar. */
  private def keys(spark: SparkSession, side: String): Option[DataFrame] =
    recorded(spark, side).map(t => t.select(t.columns.head))

  /** The sidecar's rows as recorded, every column (None without a
    * sidecar) — IVF compaction plans its touched lists from the cids
    * a countPresent delete records. */
  def recorded(spark: SparkSession, side: String): Option[DataFrame] =
    if (exists(side)) Some(spark.read.parquet(side)) else None

  /** Phase 1, pure O(request): append `ids` (key first) to the sidecar
    * as one file. */
  def record(ids: DataFrame, side: String): Unit =
    ids.coalesce(1).write.mode("append").parquet(side)

  /** Phase 1 recording only the request ids that are still LIVE: the
    * rows of `live` (the generation's key column, plus any columns the
    * sidecar carries) not yet hidden and matching the request-sized
    * `ids` (one column, named like `live`'s key), made `distinct` when
    * `live` repeats ids. The hit is checkpointed so the count and the
    * append share one evaluation, and appended only when non-empty: a
    * repeated request records nothing and returns 0. Returns the
    * number of rows recorded. */
  def recordPresent(spark: SparkSession, side: String, live: DataFrame,
                    ids: DataFrame, distinct: Boolean): Long = {
    val hit0 = hide(spark, side, live)
      .join(broadcast(ids), ids.columns.toSeq, "left_semi")
    val hit = (if (distinct) hit0.distinct() else hit0).localCheckpoint()
    val n = hit.count()
    if (n > 0L) record(hit, side)
    n
  }

  /** `df` without the ids the sidecar hides — the one anti-join every
    * serve and every maintenance read of a generation applies. With no
    * sidecar the frame passes through untouched. `on` names `df`'s id
    * column when it is not the sidecar's key (compared as a long);
    * otherwise `df` carries the key under its own name.
    * `materialize` checkpoints the sidecar's ids first, for a rebuild
    * that destroys the sidecar before its plan runs.
    *
    * The join strategy is AQE-GOVERNED, never a forced `broadcast()`:
    * each delete request is request-sized, but between compactions the
    * sidecar ACCUMULATES requests, and months of right-to-be-forgotten
    * traffic on a 100 TB index can push the union past the broadcast
    * ceiling — an over-grown sidecar must degrade to a shuffle
    * anti-join, never a driver OOM (the SCALE.md lesson from the dedup
    * candidate sets). The sidecar is a parquet read with file-level size
    * stats, so AQE broadcasts it whenever it actually is small. Each
    * family's `needsCompact` valve ([[count]]) keeps it from living
    * long at the degraded size. */
  def hide(spark: SparkSession, side: String, df: DataFrame,
           on: Option[String] = None, materialize: Boolean = false): DataFrame =
    keys(spark, side).fold(df) { t =>
      joinOn(df, if (materialize) t.localCheckpoint() else t, on, "left_anti")
    }

  /** `df` split into the rows the sidecar hides and the rows it keeps
    * ([[hide]]), from ONE sidecar read: each `spark.read.parquet`
    * costs a schema-inference job. Without a sidecar every row is
    * kept. */
  def split(spark: SparkSession, side: String, df: DataFrame,
            on: Option[String] = None): (DataFrame, DataFrame) =
    keys(spark, side).fold((df.limit(0), df)) { t =>
      (joinOn(df, t, on, "left_semi"), joinOn(df, t, on, "left_anti"))
    }

  /** The rows of `df` (carrying the key under its own name) whose ids
    * the sidecar rows `rows`, already read through [[recorded]], hide. */
  def hidden(df: DataFrame, rows: DataFrame): DataFrame =
    joinOn(df, rows.select(rows.columns.head), None, "left_semi")

  /** `df` joined (`how`) with the one-column sidecar ids `keys`: on the
    * key's own name, or on `df`'s column `on` compared as a long. */
  private def joinOn(df: DataFrame, keys: DataFrame, on: Option[String],
                     how: String): DataFrame = on match {
    case None => df.join(keys, keys.columns.toSeq, how)
    case Some(c) =>
      df.join(keys.select(col(keys.columns.head).as("__tomb")),
        col(c).cast("long") === col("__tomb"), how)
  }

  /** The REVIVE probe every append writer runs: true when any id of
    * `ids` (column `on`) sits in the sidecar. Re-ingesting a deleted
    * id must force phase 2 first — clearing the sidecar entry alone
    * would resurrect the old physical copy next to the new row, and
    * leaving it would hide the new row: a delete outliving the data it
    * names. A directory probe on the never-deleted common case, a
    * request-sized semi-join otherwise. */
  def revives(spark: SparkSession, side: String, ids: DataFrame,
              on: String): Boolean =
    keys(spark, side).exists(t => !joinOn(ids, t, Some(on), "left_semi").isEmpty)

  /** The ids the sidecar hides — distinct ids when `distinct`, raw rows
    * otherwise; 0 without a sidecar. A sidecar-only count, no index
    * bytes: the compaction valves read it. */
  def count(spark: SparkSession, side: String, distinct: Boolean): Long =
    keys(spark, side).fold(0L)(t => if (distinct) t.distinct().count() else t.count())

  /** The sidecar's distinct ids MATERIALIZED (request-sized by the
    * delete contract), or None without a sidecar: the delete set a
    * graph compaction or revive joins more than once. */
  def materialized(spark: SparkSession, side: String): Option[DataFrame] =
    keys(spark, side).map(_.distinct().localCheckpoint())
}
