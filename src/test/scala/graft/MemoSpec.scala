package graft

import org.scalatest.funsuite.AnyFunSuite

/** Memo invalidation semantics: same dir content → one build; any
  * change under the dir → rebuild under a new fingerprint; the cached
  * fingerprint walk must not mask either. */
class MemoSpec extends AnyFunSuite {

  private def tempDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_memo").toFile
    d.deleteOnExit()
    d
  }

  private def write(dir: java.io.File, name: String, content: String,
                    mtime: Long): java.io.File = {
    val f = new java.io.File(dir, name)
    java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
    f.setLastModified(mtime)
    dir.setLastModified(mtime)
    f
  }

  test("dirFingerprint is stable for unchanged content and cached") {
    val d = tempDir()
    write(d, "a.txt", "one", 1000000000000L)
    val fp1 = Memo.dirFingerprint(d.getPath)
    val fp2 = Memo.dirFingerprint(d.getPath)
    assert(fp1 == fp2)
  }

  test("dirFingerprint changes when a file is rewritten") {
    val d = tempDir()
    val f = write(d, "a.txt", "one", 1000000000000L)
    val before = Memo.dirFingerprint(d.getPath)
    write(d, "a.txt", "two!", 1000000060000L)
    assert(f.length == 4)
    val after = Memo.dirFingerprint(d.getPath)
    assert(before != after)
  }

  test("dirFingerprint changes when a file is added or removed") {
    val d = tempDir()
    write(d, "a.txt", "one", 1000000000000L)
    val before = Memo.dirFingerprint(d.getPath)
    val b = write(d, "b.txt", "new", 1000000120000L)
    val withB = Memo.dirFingerprint(d.getPath)
    assert(before != withB)
    b.delete()
    d.setLastModified(1000000180000L)
    val afterDelete = Memo.dirFingerprint(d.getPath)
    assert(withB != afterDelete)
  }

  test("dirFingerprint observes part files at depth >= 3 (partitioned-table layouts)") {
    // the round-7 blind spot: a file under dir/table/key=x/ rewritten
    // with every ancestor mtime pinned — only a full walk sees it
    val d = tempDir()
    val table = new java.io.File(d, "table.parquet")
    val part = new java.io.File(table, "key=x")
    part.mkdirs()
    val deep = new java.io.File(part, "part-0")
    java.nio.file.Files.write(deep.toPath, "one".getBytes("UTF-8"))
    Seq(deep, part, table, d).foreach(_.setLastModified(1000000000000L))
    val before = Memo.dirFingerprint(d.getPath)
    java.nio.file.Files.write(deep.toPath, "two!".getBytes("UTF-8"))
    deep.setLastModified(1000000060000L)
    Seq(part, table, d).foreach(_.setLastModified(1000000000000L))
    assert(before != Memo.dirFingerprint(d.getPath))
  }

  test("cachedCount rebuilds only when the dir content changes") {
    val d = tempDir()
    write(d, "a.txt", "one", 1000000000000L)
    var builds = 0
    def get(): Long =
      Memo.cachedCount(SparkSpec.spark, d.getPath, "memospec") { builds += 1; 42L }
    assert(get() == 42L && get() == 42L)
    assert(builds == 1)
    write(d, "a.txt", "two", 1000000060000L)
    assert(get() == 42L)
    assert(builds == 2)
  }

  test("cachedValue rebuilds when a name changes to an equal-hash, equal-length one") {
    // "Aa" and "BB" share String.hashCode; with equal size and mtime
    // the two listings differ only in that name, so a 32-bit string
    // hash of the listing keys both to the same memo entry
    val d = tempDir()
    val a = write(d, "Aa", "one", 1000000000000L)
    assert(Memo.cachedValue(SparkSpec.spark, d.getPath, "memospec_fp")("first") == "first")
    assert(a.delete())
    write(d, "BB", "one", 1000000000000L)
    assert(Memo.cachedValue(SparkSpec.spark, d.getPath, "memospec_fp")("second") == "second",
      "a changed listing must never serve the stale memo")
  }
}
