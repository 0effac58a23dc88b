package graft

import graft.streaming.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the CDC/IVM family's snapshot-maintenance discipline (VERDICT
  * r7 #1): a merge touching k keys must read back and rewrite ONLY
  * those keys' hash buckets — every untouched bucket directory keeps
  * its files byte-identical — and the merged content must equal the
  * batch last-writer-wins result. This is the direct evidence that
  * per-batch maintenance cost is O(delta buckets), not O(table). */
class SnapshotStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Engine.ready(Engine.configure(
    SparkSession.builder().master("local[4]").appName("snapshot-store-spec"),
    4).getOrCreate())

  override def afterAll(): Unit = ()

  private val root = s"/tmp/graft-snapstore-spec-${System.nanoTime()}"

  /** (relative path, size, md5) of every data file under the snapshot —
    * the byte-stability fingerprint. */
  private def fileState(path: String): Map[String, (Long, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val base = java.nio.file.Paths.get(path)
    walk(new java.io.File(path))
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString
        base.relativize(f.toPath).toString -> (f.length(), md5)
      }.toMap
  }

  private def bucketOfKey(k: Long): Int = {
    import spark.implicits._
    Seq(k).toDF("k").select(SnapshotStore.bucketOf(Seq(col("k"))))
      .head().getInt(0)
  }

  test("merge touching k keys leaves untouched-bucket files byte-identical") {
    import spark.implicits._
    val snap = s"$root/snap"
    // seed: 64 keys spread over all 16 buckets, version 0
    val seed = spark.range(64).select(col("id").as("k"),
      lit(0L).as("ver"), (col("id") * 10).as("v"))
    SnapshotStore.mergeLww(spark, snap, seed,
      keys = Seq("k"), ordering = Seq(col("ver").desc))
    val before = fileState(snap)
    assert(before.nonEmpty, "seed merge produced no files")
    val bucketDirs = before.keySet.map(_.split("/")(0))
    assert(bucketDirs.size == SnapshotStore.BUCKETS,
      s"seed should populate all ${SnapshotStore.BUCKETS} buckets, got $bucketDirs")

    // a delta batch touching exactly 3 keys
    val deltaKeys = Seq(1L, 17L, 33L)
    val delta = deltaKeys.toDF("k")
      .select(col("k"), lit(1L).as("ver"), (col("k") * 1000).as("v"))
    SnapshotStore.mergeLww(spark, snap, delta,
      keys = Seq("k"), ordering = Seq(col("ver").desc))
    val after = fileState(snap)

    val touched = deltaKeys.map(k => s"bucket=${bucketOfKey(k)}").toSet
    assert(touched.size <= 3)
    // untouched buckets: identical file sets, sizes, and bytes
    val untouchedBefore = before.filter { case (p, _) =>
      !touched.contains(p.split("/")(0)) }
    val untouchedAfter = after.filter { case (p, _) =>
      !touched.contains(p.split("/")(0)) }
    assert(untouchedBefore == untouchedAfter,
      "untouched bucket files changed — the merge rewrote beyond the delta")
    // touched buckets: rewritten (file names or bytes differ)
    val touchedBefore = before.filter { case (p, _) =>
      touched.contains(p.split("/")(0)) }
    val touchedAfter = after.filter { case (p, _) =>
      touched.contains(p.split("/")(0)) }
    assert(touchedBefore != touchedAfter,
      "touched buckets were not rewritten — the delta was lost")

    // merged content == batch LWW over seed ∪ delta
    val got = SnapshotStore.read(spark, snap)
      .select("k", "ver", "v").as[(Long, Long, Long)].collect().toSet
    val seedRows: Set[(Long, Long, Long)] = spark.range(64)
      .select(col("id").as("k"), lit(0L).as("ver"), (col("id") * 10).as("v"))
      .as[(Long, Long, Long)].collect().toSet
    val want = seedRows.filterNot(r => deltaKeys.contains(r._1)) ++
      deltaKeys.map(k => (k, 1L, k * 1000)).toSet
    assert(got == want, "merged snapshot content diverges from batch LWW")
  }

  test("deleteKeys erases only its keys' buckets; emptied buckets do not resurrect rows") {
    import spark.implicits._
    val snap = s"$root/snap3"
    // seed 64 keys over all 16 buckets
    val seed = spark.range(64).select(col("id").as("k"),
      lit(0L).as("ver"), (col("id") * 10).as("v"))
    SnapshotStore.mergeLww(spark, snap, seed,
      keys = Seq("k"), ordering = Seq(col("ver").desc))
    val before = fileState(snap)
    // erase two keys from one bucket + EVERY key of another bucket (the
    // emptied-bucket case dynamic overwrite cannot express)
    val b0 = bucketOfKey(5L)
    val sameBucketAll = (0L until 64L).filter(bucketOfKey(_) == b0)
    val otherKey = (0L until 64L).find(bucketOfKey(_) != b0).get
    val erase = (sameBucketAll :+ otherKey).toDF("k")
    SnapshotStore.deleteKeys(spark, snap, erase, Seq("k"))
    val after = fileState(snap)
    val touched = Set(s"bucket=$b0", s"bucket=${bucketOfKey(otherKey)}")
    val unBefore = before.filter { case (p, _) => !touched.contains(p.split("/")(0)) }
    val unAfter = after.filter { case (p, _) => !touched.contains(p.split("/")(0)) }
    assert(unBefore == unAfter,
      "delete rewrote buckets outside the erase set")
    // content: exactly the erased keys are gone, everything else intact
    val got = SnapshotStore.read(spark, snap)
      .select("k").as[Long].collect().toSet
    val want = (0L until 64L).toSet -- sameBucketAll.toSet - otherKey
    assert(got == want, s"post-delete keys diverge: missing=${want -- got} extra=${got -- want}")
    // the fully-emptied bucket's directory holds no data files
    val emptied = after.keys.filter(_.startsWith(s"bucket=$b0/"))
    assert(emptied.isEmpty, s"emptied bucket still holds files: $emptied")
  }

  test("bucket count is a recorded layout property — later merges honor it") {
    import spark.implicits._
    val snap = s"$root/snap64"
    // create at B=64 explicitly
    SnapshotStore.mergeLww(spark, snap,
      spark.range(256).select(col("id").as("k"), lit(0L).as("ver")),
      keys = Seq("k"), ordering = Seq(col("ver").desc), buckets = 64)
    assert(SnapshotStore.bucketCount(snap) == 64)
    val dirs = Option(new java.io.File(snap).listFiles()).get
      .filter(_.getName.startsWith("bucket=")).map(_.getName).toSet
    assert(dirs.size == 64, s"expected 64 bucket dirs, got ${dirs.size}")
    // a later merge with DEFAULT args must key under the RECORDED 64 —
    // pruning under the default 16 would hash rows into the wrong
    // buckets and silently lose the merge
    val before = fileState(snap)
    SnapshotStore.mergeLww(spark, snap,
      Seq((5L, 1L)).toDF("k", "ver"),
      keys = Seq("k"), ordering = Seq(col("ver").desc))
    val after = fileState(snap)
    val touched = after.keySet.union(before.keySet)
      .filter(p => before.get(p) != after.get(p))
      .map(_.split("/")(0))
    assert(touched.size == 1,
      s"a one-key merge must rewrite exactly one of the 64 buckets: $touched")
    val got = SnapshotStore.read(spark, snap)
      .filter(col("k") === 5L).select("ver").as[Long].head()
    assert(got == 1L, "the merge was lost — wrong bucket keying")
  }

  test("deleteKeys with an empty erase set touches nothing") {
    import spark.implicits._
    val snap = s"$root/snap4"
    SnapshotStore.mergeLww(spark, snap,
      spark.range(8).select(col("id").as("k"), lit(0L).as("ver")),
      keys = Seq("k"), ordering = Seq(col("ver").desc))
    val before = fileState(snap)
    SnapshotStore.deleteKeys(spark, snap,
      spark.range(0).select(col("id").as("k")), Seq("k"))
    assert(fileState(snap) == before, "empty erase set modified the snapshot")
  }

  test("compact rewrites only over-bound buckets; content hash-identical, under-bound buckets byte-identical") {
    import spark.implicits._
    val snap = s"$root/snapc"
    // seed all 16 buckets, then 4 delta merges into ONE bucket's keys —
    // each merge dynamic-overwrites that bucket, and writing with more
    // tasks than rows can land multiple files per generation; force the
    // multi-file state directly by appending extra generations
    SnapshotStore.mergeLww(spark, snap,
      spark.range(64).select(col("id").as("k"), lit(0L).as("ver"),
        (col("id") * 10).as("v")),
      keys = Seq("k"), ordering = Seq(col("ver").desc))
    val hot = bucketOfKey(3L)
    val hotKeys = (0L until 64L).filter(bucketOfKey(_) == hot)
    // append three more file generations into the hot bucket dir (the
    // accumulation a long maintenance loop produces)
    (1 to 3).foreach { g =>
      hotKeys.toDF("k").select(col("k"), lit(-g.toLong).as("ver"),
          (col("k") * 10).as("v"))
        .withColumn("bucket", SnapshotStore.bucketOf(Seq(col("k"))))
        .filter(col("bucket") === hot)
        .write.mode("append").partitionBy("bucket").parquet(snap)
    }
    val counts0 = SnapshotStore.bucketFileCounts(snap)
    assert(counts0(hot) > 1, s"fixture failed to accumulate files: $counts0")
    val wantContent = SnapshotStore.read(spark, snap)
      .groupBy(col("k")).agg(org.apache.spark.sql.functions.max(col("ver")).as("ver"))
      .as[(Long, Long)].collect().toSet
    val before = fileState(snap)
    val compacted = SnapshotStore.compact(spark, snap, maxFiles = 1)
    assert(compacted == Seq(hot), s"compacted $compacted, expected Seq($hot)")
    val counts1 = SnapshotStore.bucketFileCounts(snap)
    assert(counts1.values.forall(_ <= 1), s"file bound violated after compact: $counts1")
    // under-bound buckets byte-identical
    val touched = Set(s"bucket=$hot")
    val unBefore = before.filter { case (p, _) => !touched.contains(p.split("/")(0)) }
    val unAfter = fileState(snap).filter { case (p, _) => !touched.contains(p.split("/")(0)) }
    assert(unBefore == unAfter, "compaction rewrote an under-bound bucket")
    // content unchanged (the LWW winners per key are the same rows)
    val gotContent = SnapshotStore.read(spark, snap)
      .groupBy(col("k")).agg(org.apache.spark.sql.functions.max(col("ver")).as("ver"))
      .as[(Long, Long)].collect().toSet
    assert(gotContent == wantContent, "compaction changed snapshot content")
    // idempotent: nothing left over the bound
    assert(SnapshotStore.compact(spark, snap, maxFiles = 1).isEmpty)
  }

  test("staged delete: a crash between swaps cannot resurrect deleted keys or lose survivors") {
    import spark.implicits._
    val snap = s"$root/snap5"
    SnapshotStore.mergeLww(spark, snap,
      spark.range(64).select(col("id").as("k"), lit(0L).as("ver")),
      keys = Seq("k"), ordering = Seq(col("ver").desc))
    // erase keys spanning >= 2 buckets, crash after the FIRST swap
    val delKeys = Seq(1L, 2L, 3L, 4L, 5L, 6L)
    val delBuckets = delKeys.map(bucketOfKey).distinct.sorted
    assert(delBuckets.size >= 2, s"fixture needs >= 2 touched buckets: $delBuckets")
    SnapshotStore.deleteKeysImpl(spark, snap, delKeys.toDF("k"), Seq("k"),
      crashAfterSwaps = 1)
    // mid-crash state: staging still present (committed marker + the
    // unswapped buckets), raw read sees NO key outside the pre-delete /
    // post-delete union — the swapped bucket's deleted keys are GONE
    assert(new java.io.File(s"$snap/_graft_staging_delete/_graft_touched").exists(),
      "committed staging missing after injected crash")
    val swappedBucket = delBuckets.head
    val rawKeys = spark.read.parquet(snap)
      .withColumn("b", SnapshotStore.bucketOf(Seq(col("k"))))
      .select("k", "b").as[(Long, Long)].collect()
    val resurrect = rawKeys.filter { case (k, b) =>
      b == swappedBucket && delKeys.contains(k) }
    assert(resurrect.isEmpty, s"deleted keys visible after their bucket swapped: ${resurrect.toSeq}")
    // survivors of the swapped bucket are intact
    val wantSurvivors = (0L until 64L)
      .filter(k => bucketOfKey(k) == swappedBucket && !delKeys.contains(k)).toSet
    val gotSurvivors = rawKeys.filter(_._2 == swappedBucket).map(_._1).toSet
    assert(gotSurvivors == wantSurvivors, "swapped bucket lost survivors")
    // ANY store operation recovers: a plain read completes the delete
    val got = SnapshotStore.read(spark, snap).select("k").as[Long].collect().toSet
    assert(got == (0L until 64L).toSet -- delKeys,
      s"recovery did not complete the delete: missing=${((0L until 64L).toSet -- delKeys) -- got} extra=${got -- ((0L until 64L).toSet -- delKeys)}")
    assert(!new java.io.File(s"$snap/_graft_staging_delete").exists(),
      "staging not cleared after recovery")
  }

  test("staged delete: EVERY crash point recovers to the exact set difference") {
    import spark.implicits._
    // sweep the crash point across the whole swap sequence (0 swaps …
    // all swaps): at every point, recovery must land exactly
    // keys \ delKeys with no resurrection and no survivor loss
    val delKeys = Seq(2L, 9L, 21L, 33L, 40L)
    val nBuckets = delKeys.map(bucketOfKey).distinct.size
    for (crashAfter <- 0 to nBuckets) {
      val snap = s"$root/snapsweep$crashAfter"
      SnapshotStore.mergeLww(spark, snap,
        spark.range(48).select(col("id").as("k"), lit(0L).as("ver")),
        keys = Seq("k"), ordering = Seq(col("ver").desc))
      SnapshotStore.deleteKeysImpl(spark, snap, delKeys.toDF("k"), Seq("k"),
        crashAfterSwaps = crashAfter)
      val got = SnapshotStore.read(spark, snap)
        .select("k").as[Long].collect().toSet
      val want = (0L until 48L).toSet -- delKeys
      assert(got == want,
        s"crashAfter=$crashAfter: missing=${want -- got} extra=${got -- want}")
      assert(!new java.io.File(s"$snap/_graft_staging_delete").exists(),
        s"crashAfter=$crashAfter: staging not cleared after recovery")
    }
  }

  test("staged delete: an UNCOMMITTED staging (no marker) is discarded, snapshot untouched") {
    import spark.implicits._
    val snap = s"$root/snap6"
    SnapshotStore.mergeLww(spark, snap,
      spark.range(16).select(col("id").as("k"), lit(0L).as("ver")),
      keys = Seq("k"), ordering = Seq(col("ver").desc))
    val before = fileState(snap)
    // simulate a crash mid-staging-write: partial parquet, NO marker
    val st = new java.io.File(s"$snap/_graft_staging_delete/bucket=0")
    st.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(st, "part-corrupt.parquet").toPath, "not parquet")
    SnapshotStore.recoverPendingDelete(snap)
    assert(!new java.io.File(s"$snap/_graft_staging_delete").exists(),
      "uncommitted staging not discarded")
    assert(fileState(snap) == before, "discarding uncommitted staging touched live data")
  }

  test("read() completes a COMMITTED pending delete but never discards an UNCOMMITTED staging") {
    import spark.implicits._
    val snap = s"$root/snap7"
    SnapshotStore.mergeLww(spark, snap,
      spark.range(16).select(col("id").as("k"), lit(0L).as("ver")),
      keys = Seq("k"), ordering = Seq(col("ver").desc))
    // an in-flight writer's staging: partial survivors, NO commit marker
    val st = new java.io.File(s"$snap/_graft_staging_delete/bucket=0")
    st.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(st, "part-inflight.parquet").toPath, "not parquet")
    // ADVICE r9: a read must not rmTree the writer's uncommitted staging
    // (the old behavior), and must still serve the pre-delete content
    val got = SnapshotStore.read(spark, snap).select("k").as[Long].collect().toSet
    assert(got == (0L until 16L).toSet, "read content changed under uncommitted staging")
    assert(st.exists(),
      "read() discarded an uncommitted staging — racing-writer hazard reintroduced")
    // committed staging (marker present): read completes the swap —
    // already pinned end to end by the crash-point tests via read()
    new java.io.File(s"$snap/_graft_staging_delete").listFiles()
    graft.streaming.PartitionedStore.recoverPendingDelete(snap) // cleanup
  }

  test("legacy (unversioned) commit marker: recovery installs staged dirs instead of unwinding the committed delete") {
    import spark.implicits._
    import graft.streaming.PartitionedStore
    val lay = s"$root/legacy"
    spark.range(16).select(col("id").as("k"), (col("id") % 4).as("p"))
      .write.partitionBy("p").parquet(lay)
    // delete all even keys (they live in p ∈ {0, 2}), crash after ONE
    // swap: p=0 already swapped (emptied), p=2 still staged, marker
    // committed
    val delKeys = spark.range(16).filter(col("id") % 2 === 0)
      .select(col("id").as("k"), (col("id") % 4).as("p"))
    PartitionedStore.deleteKeys(spark, lay, Seq("p"), delKeys, Seq("k"),
      crashAfterSwaps = 1)
    val marker = new java.io.File(s"$lay/_graft_staging_delete/_graft_touched")
    assert(marker.exists(), "fixture: no committed staging")
    // rewrite the marker in the PRE-VERSIONING format (comma-separated
    // partition values — what an r10 binary wrote): the crash-then-
    // upgrade window ADVICE r11 flagged. Recovery must not parse this
    // as one bogus rel path and discard the staging — deleted keys in
    // p=2 would resurrect while p=0 already swapped (mixed layout).
    java.nio.file.Files.writeString(marker.toPath, "0,2")
    PartitionedStore.recoverPendingDelete(lay)
    val got = spark.read.parquet(lay).select("k").as[Long].collect().toSet
    assert(got == (1L to 15L by 2).toSet,
      s"legacy-marker recovery unwound the committed delete: $got")
    assert(!new java.io.File(s"$lay/_graft_staging_delete").exists())
  }

  test("legacy rel-path marker on a MULTI-level layout: lines replay exactly — emptied deep leaves install, intermediates never do") {
    import spark.implicits._
    import graft.streaming.PartitionedStore
    // ADVICE r12: the pre-versioning format also wrote rel paths (one
    // per line) for multi-level layouts. Routing those through the
    // directory heuristic would (a) SKIP an emptied deep leaf —
    // resurrecting its deleted keys — and (b) after the leaf swaps
    // away, install its now-empty PARENT dir over the live subtree.
    val lay = s"$root/legacy2"
    spark.range(16).select(col("id").as("k"), (col("id") % 2).as("a"),
        (col("id") % 4).as("b"))
      .write.partitionBy("a", "b").parquet(lay)
    // delete ALL of (a=0, b=0) — ids 0,4,8,12 — and crash before any
    // swap: the staged leaf a=0/b=0 is EMPTY and committed
    val delKeys = spark.range(16).filter(col("id") % 4 === 0)
      .select(col("id").as("k"), (col("id") % 2).as("a"),
        (col("id") % 4).as("b"))
    PartitionedStore.deleteKeys(spark, lay, Seq("a", "b"), delKeys,
      Seq("k"), crashAfterSwaps = 0)
    val marker = new java.io.File(s"$lay/_graft_staging_delete/_graft_touched")
    assert(marker.exists(), "fixture: no committed staging")
    // strip the version header — the pre-versioning rel-path format
    val legacyBody = java.nio.file.Files.readString(marker.toPath)
      .split("\n").drop(1).mkString("\n")
    assert(legacyBody.trim == "a=0/b=0", s"fixture drift: $legacyBody")
    java.nio.file.Files.writeString(marker.toPath, legacyBody)
    PartitionedStore.recoverPendingDelete(lay)
    val got = spark.read.parquet(lay).select("k").as[Long].collect().toSet
    assert(got == (0L until 16L).toSet -- Set(0L, 4L, 8L, 12L),
      s"rel-path legacy recovery mishandled the emptied deep leaf: $got")
    assert(!new java.io.File(s"$lay/_graft_staging_delete").exists())
    // the live a=0 subtree must still hold its surviving sibling b=2
    assert(new java.io.File(s"$lay/a=0/b=2").exists(),
      "recovery installed an intermediate dir over the live subtree")
  }

  test("LWW merge is idempotent: re-merging an applied batch is a no-op in content") {
    import spark.implicits._
    val snap = s"$root/snap2"
    val seed = spark.range(20).select(col("id").as("k"),
      lit(0L).as("ver"), col("id").as("v"))
    SnapshotStore.mergeLww(spark, snap, seed,
      keys = Seq("k"), ordering = Seq(col("ver").desc))
    val batch = Seq((3L, 1L, 99L), (7L, 1L, 98L)).toDF("k", "ver", "v")
    SnapshotStore.mergeLww(spark, snap, batch,
      keys = Seq("k"), ordering = Seq(col("ver").desc))
    val once = SnapshotStore.read(spark, snap)
      .as[(Long, Long, Long)].collect().toSet
    // redelivery of the same batch (at-least-once foreachBatch)
    SnapshotStore.mergeLww(spark, snap, batch,
      keys = Seq("k"), ordering = Seq(col("ver").desc))
    val twice = SnapshotStore.read(spark, snap)
      .as[(Long, Long, Long)].collect().toSet
    assert(once == twice, "replayed merge changed snapshot content")
  }
}
