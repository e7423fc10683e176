package graft

import graft.operators.AnnStore
import org.apache.hadoop.fs.Path
import java.nio.file.Files

/** Receipt for the r19 serve-path sidecar memo (AnnStore.memoizedRead):
  * identical (path, tag, live-manifest) must hit the memo (loader runs
  * once), any manifest change — rebuild, refresh, restamp — must rotate
  * the key (loader runs again), and a store with no live manifest is
  * never cached. End-to-end staleness is covered by AnnRefreshSpec's
  * serve-after-refresh assertions, which now run through the memo.
  */
class AnnServeMemoSpec extends SparkSpecBase {

  private def writeManifest(root: String, m: String): Unit = {
    val fs = AnnStore.fileSystem(spark, root)
    AnnStore.writeManifestFile(fs, new Path(root), m)
  }

  test("memoizedRead: one load per (path, tag, manifest); manifest change reloads; no manifest never caches") {
    val root = Files.createTempDirectory("graft_memo").toString + "/store"
    AnnStore.fileSystem(spark, root).mkdirs(new Path(root))
    var loads = 0
    def load(): Integer = { loads += 1; Integer.valueOf(loads) }

    // no live manifest: every call loads (nothing to invalidate on)
    assert(AnnStore.memoizedRead(spark, root, "t")(load()) == 1)
    assert(AnnStore.memoizedRead(spark, root, "t")(load()) == 2)

    writeManifest(root, """{"version":1,"kind":"x","fingerprint":"a"}""")
    val v1 = AnnStore.memoizedRead(spark, root, "t")(load())
    assert(AnnStore.memoizedRead(spark, root, "t")(load()) eq v1,
      "same manifest must return the memoized instance without reloading")
    val afterHit = loads

    // a DIFFERENT tag under the same store is its own entry
    AnnStore.memoizedRead(spark, root, "other")(load())
    assert(loads == afterHit + 1)

    // manifest content change (refresh/rebuild/restamp all rewrite it)
    // rotates the key — the stale value can never be served
    writeManifest(root, """{"version":1,"kind":"x","fingerprint":"b"}""")
    val v2 = AnnStore.memoizedRead(spark, root, "t")(load())
    assert(!(v2 eq v1), "manifest change must invalidate the memo")
    assert(AnnStore.memoizedRead(spark, root, "t")(load()) eq v2)
  }

  test("memoizedRead: past its bound the memo evicts one entry; the 65th insert keeps the other 64") {
    val root = Files.createTempDirectory("graft_memo_evict").toString + "/store"
    AnnStore.fileSystem(spark, root).mkdirs(new Path(root))
    writeManifest(root, """{"version":1,"kind":"x","fingerprint":"evict"}""")
    val n = AnnStore.ServeMemoEntries
    var loads = 0
    def load(t: Int): Integer = { loads += 1; Integer.valueOf(t) }
    // n + 1 distinct tags: the last insert overflows the bound by one
    for (t <- 0 to n) AnnStore.memoizedRead(spark, root, s"t$t")(load(t))
    assert(loads == n + 1)
    // the n most recent entries all still hit — nothing was cleared
    for (t <- 1 to n)
      assert(AnnStore.memoizedRead(spark, root, s"t$t")(load(-1)) == t, s"t$t evicted")
    assert(loads == n + 1, "an insert past the bound must not drop the other entries")
    // only the least recently used entry went
    assert(AnnStore.memoizedRead(spark, root, "t0")(load(-1)) == -1)
    assert(loads == n + 2)
  }
}
