package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

/** THE generation protocol of every versioned on-disk index: IVF/SQ
  * lists, graph generation roots, BM25 postings generations and the
  * dedup register. A generation is one committed version of an index;
  * every maintenance rewrite walks the same durable steps, in this
  * order, through this module:
  *
  *   1. [[claim]] — derive the next version from the LISTING
  *      (generation dirs ∪ standing fence markers, max + 1) and
  *      acquire the single-writer fence for it;
  *   2. stage — the caller writes the new generation under its
  *      versioned name (nothing is visible yet);
  *   3. [[commit]] — the ordered [[flip]] of the family's `CURRENT`
  *      pointer (pointer families only; a sibling family commits by
  *      its caller threading the returned path, or by a metastore
  *      rename), then the post-commit marker sweep, then GC of every
  *      generation outside the keep set: the new generation and the
  *      one it superseded — the in-flight readers' one-cycle grace
  *      window — each with its delete sidecar.
  *
  * SINGLE-MAINTENANCE-WRITER fence: the version derives from a
  * directory listing, so two concurrent writers — two compactions,
  * or a compaction racing a valve-fired one from another session —
  * can derive the SAME next version, overwrite each other's staged
  * files and race the flip (last rename wins silently). Before
  * staging version N the writer creates a per-version marker with
  * CREATE_NEW — an atomic create-exclusive on any filesystem, a
  * conditional PUT (`If-None-Match: *`) on an object store — and the
  * LOSER of a same-version race fails LOUDLY instead of flipping over
  * the winner. The marker is per-version, never a global lock, so a
  * crashed writer cannot wedge the family: the derivation counts
  * marker files alongside generation dirs ([[markerVersions]]), a
  * re-run versions PAST a dead marker, and the committing writer
  * sweeps markers at or below its version.
  *
  * The fence orders staging CLAIMS; it cannot by itself order
  * COMMITS: a writer that stalls mid-staging while a staggered newer
  * writer claims, commits and sweeps could wake up and flip the
  * pointer BACK to its stale generation. [[flip]] closes that half:
  * it refuses a version not strictly above the standing one, so the
  * stale writer fails loudly and its orphan is GC'd next cycle
  * (`compactPostings` re-checks the metastore location before its
  * rename dance for the same reason; the register has no pointer —
  * `compactRegister`'s RETURNED path is the commit, threaded by a
  * single caller).
  *
  * Each family supplies only its names ([[Family]]): IVF's
  * `lists__vN centroids__vN` pointer pair, the graph's `gen__vN`
  * (its base layout is generation ""), and the sibling families'
  * `<base>__genN` paths ([[siblings]]).
  *
  * The sidecar half of every keep set — which delete sidecar belongs
  * to which generation, and what it is called — comes from
  * [[graft.Tombstones]], the one module that records, hides, counts
  * and probes deletes; this module only keeps and collects the
  * sidecar entries it names. */
object Generations {

  /** The one-line pointer file naming a pointer family's live
    * generation. */
  private val Pointer = "CURRENT"

  /** Fence marker prefix: `WRITER__v<N>` in a pointer family's dir,
    * `<base>__WRITER__v<N>` beside a sibling family. */
  private val Fence = "WRITER__v"

  /** Where one index family keeps its generations and how it names
    * them.
    *  - `dir`: the directory holding generations and fence markers
    *    (and, for pointer families, `CURRENT`);
    *  - `fence`: the marker prefix in `dir`;
    *  - `versioned`: the name prefixes a generation version follows
    *    (`lists__v`, `gen__v`, `<base>__gen`);
    *  - `member`: whether an entry of `dir` belongs to some
    *    generation — the GC's candidates;
    *  - `entries`: a generation name's entries, itself plus its
    *    delete sidecar ([[Tombstones]]) — what keeping that generation
    *    keeps. */
  final case class Family(dir: File, fence: String, versioned: Seq[String],
                          member: File => Boolean,
                          entries: String => Seq[String])

  /** A pointer family: generations, markers and `CURRENT` all live
    * under the index directory `path`. */
  def pointerFamily(path: String, versioned: Seq[String],
                    member: File => Boolean,
                    entries: String => Seq[String]): Family =
    Family(new File(path), Fence, versioned, member, entries)

  /** A path family's base: `path` without a trailing `/` or
    * `__genN` generation suffix. */
  def baseOf(path: String): String =
    path.stripSuffix("/").replaceAll("__gen\\d+$", "")

  /** A sibling family (postings, register): generation `N` of base
    * `<dir>/<base>` is the sibling path `<base>__genN`, its delete
    * sidecar sits beside it ([[Tombstones.beside]]), and the markers
    * sit beside them as `<base>__WRITER__vN`. `path` is the base or
    * any of its generations. */
  def siblings(path: String): Family = {
    val base = new File(baseOf(path))
    val name = base.getName
    Family(base.getParentFile, s"${name}__$Fence", Seq(s"${name}__gen"),
      f => f.isDirectory && (f.getName == name ||
        f.getName.startsWith(s"${name}__gen") || f.getName == Tombstones.beside(name)),
      g => Seq(g, Tombstones.beside(g)))
  }

  /** Generation `v`'s path in the sibling family of `path`. */
  def siblingPath(path: String, v: Int): String = s"${baseOf(path)}__gen$v"

  /** A family's committed-batch ledger (one marker per applied
    * streaming batch — [[graft.streaming.ExactlyOnce]]): the sibling
    * `<base>__applied`, never a child, so it survives generation flips
    * and whole-path rewrites. Whether a batch was applied is a
    * property of the index, not of one generation; CREATE paths clear
    * it, maintenance never touches it. */
  def ledger(path: String): File = new File(baseOf(path) + "__applied")

  private def listing(dir: File): Seq[File] = Option(dir.listFiles()).toSeq.flatten

  /** The version a generation directory name carries in `fam`. */
  private def versionIn(fam: Family, name: String): Option[Int] =
    fam.versioned.collectFirst(Function.unlift(p =>
      if (!name.startsWith(p)) None
      else scala.util.Try(name.stripPrefix(p).toInt).toOption))

  /** Generation directories of `fam` that carry a version name. */
  def generationDirs(fam: Family): Seq[File] =
    listing(fam.dir).filter(f => f.isDirectory && versionIn(fam, f.getName).isDefined)

  /** Versions held by `fam`'s generation directories (live, grace or
    * orphaned). */
  def versions(fam: Family): Seq[Int] =
    generationDirs(fam).flatMap(f => versionIn(fam, f.getName))

  /** Derive + fence the next version in one step: max(generation
    * versions, `extra` versions the family commits elsewhere — the
    * graph's CELLS — and standing markers) + 1, acquired
    * create-exclusive. The version derives from the LISTING, never
    * from the live name: a live-name counter restarts at v2 after a
    * rebuild and overwrites the grace generation readers may still
    * hold. Returns the claimed version. */
  def claim(fam: Family, what: String, extra: Seq[Int] = Nil): Int = {
    val v = (versions(fam) ++ extra ++ markerVersions(fam.dir, fam.fence) :+ 1).max + 1
    acquire(new File(fam.dir, fam.fence + v), what)
    v
  }

  /** Acquire the fence for version `marker` (a file path). Throws
    * IllegalStateException — loudly, before any bytes are staged —
    * when another writer already holds this version. */
  def acquire(marker: File, what: String): Unit = {
    try Files.createFile(marker.toPath)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"$what: concurrent maintenance writer — ${marker.getName} " +
            "already exists under " + marker.getParent + "; another " +
            "writer is staging this generation (single-writer is the " +
            "maintenance contract). If that writer crashed, simply " +
            "re-run: the next attempt derives a fresh version past " +
            "this marker.")
    }
  }

  /** Versions claimed by marker files `<prefix><N>` directly under
    * `dir` — a dead marker burns one version number instead of
    * wedging the re-run. */
  def markerVersions(dir: File, prefix: String): Seq[Int] =
    listing(dir).filter(f => f.isFile && f.getName.startsWith(prefix))
      .flatMap(f => scala.util.Try(f.getName.stripPrefix(prefix).toInt).toOption)

  /** Drop every marker `<prefix><N>` with N <= `upTo` — our own
    * released fence plus dead crashed writers below us. A swept
    * marker below a committed generation can never enable a version
    * collision (derivations see the committed directory and go
    * higher), and a STALLED live writer below us loses nothing it
    * wasn't already losing: [[flip]] rejects its stale generation. */
  def sweep(dir: File, prefix: String, upTo: Int): Unit =
    listing(dir).filter(f => f.isFile && f.getName.startsWith(prefix) &&
        scala.util.Try(f.getName.stripPrefix(prefix).toInt).toOption.exists(_ <= upTo))
      .foreach(f => Files.deleteIfExists(f.toPath))

  /** Release `fam`'s fence up to `v` after a commit that does not go
    * through [[commit]] (the graph append's CELLS bump). */
  def release(fam: Family, v: Int): Unit = sweep(fam.dir, fam.fence, v)

  /** The pointer text of the family at `dir`, trimmed, or None when
    * it has never flipped (the base layout is live). Every reader
    * resolves the live generation through ONE call per operation so
    * a concurrent flip can never be straddled. */
  def pointer(dir: File): Option[String] = {
    val cur = new File(dir, Pointer)
    if (!cur.isFile) None
    else Some(new String(Files.readAllBytes(cur.toPath), UTF_8).trim)
  }

  /** A pointer's generation version: its first token's `__vN`
    * number; the base layout (no version) is v1. */
  private def versionOf(pointer: String): Int = {
    val g = pointer.split("\\s+")(0)
    val i = g.indexOf("__v")
    if (i < 0) 1 else scala.util.Try(g.substring(i + 3).toInt).getOrElse(1)
  }

  /** ORDERED atomic flip of `dir/CURRENT` to `text`: single-file
    * ATOMIC_MOVE over `CURRENT.tmp` on a filesystem, a small-object
    * PUT on an object store. The flip must carry a version STRICTLY
    * ABOVE the standing generation's, or it fails loudly — a stalled
    * writer can never regress the pointer and resurrect what the
    * newer generation's sidecar hides. On a plain filesystem a
    * read-then-move window remains (microseconds, against the
    * single-writer contract); an object store closes it exactly with
    * a conditional PUT (`If-Match` on the CURRENT object) — the guard
    * is written so that swap is drop-in. */
  def flip(dir: File, text: String, what: String): Unit = {
    val ours = versionOf(text)
    val standing = pointer(dir).map(versionOf).getOrElse(1)
    if (ours <= standing)
      throw new IllegalStateException(
        s"$what: stale commit — $dir already points at generation " +
          s"v$standing while this writer staged v$ours; a newer " +
          "maintenance writer committed during staging. This writer's " +
          "generation is orphaned (the GC collects it); re-run the " +
          "maintenance op against the live pointer.")
    val tmp = new File(dir, s"$Pointer.tmp").toPath
    Files.write(tmp, text.getBytes(UTF_8))
    Files.move(tmp, new File(dir, Pointer).toPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** COMMIT version `v` of `fam`: [[flip]] the pointer to `pointer`
    * (None: the caller's commit already happened — a threaded path or
    * a metastore rename), sweep the fence markers up to `v`, then GC
    * every generation entry outside `keep`'s generations and their
    * sidecars. `keep` names the new generation and the one it
    * superseded: the superseded generation survives exactly one cycle
    * as the grace window of readers that resolved just before the
    * flip; generations two or more cycles old are deleted. */
  def commit(fam: Family, v: Int, keep: Seq[String], what: String,
             pointer: Option[String] = None): Unit = {
    pointer.foreach(flip(fam.dir, _, what))
    release(fam, v)
    val kept = keep.flatMap(fam.entries).toSet
    listing(fam.dir).filter(f => fam.member(f) && !kept(f.getName))
      .foreach(FileTree.delete)
  }

  /** CREATE at a pointer family's dir: drop a standing pointer and
    * every versioned generation it could name, so leftover state from
    * a prior index cannot shadow the fresh base layout. */
  def reset(fam: Family): Unit = {
    val cur = new File(fam.dir, Pointer)
    if (cur.isFile) {
      Files.delete(cur.toPath)
      listing(fam.dir).filter(f => f.isDirectory &&
          fam.versioned.exists(f.getName.startsWith))
        .foreach(FileTree.delete)
    }
  }
}
