package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{GraphQueries, Memo, SimilarityQueries => Q}

/** [[Memo]]: once-per-key builds under racing callers, and one
  * process-wide clear that releases and empties every memo. */
class MemoSpec extends AnyFunSuite with TestSession {

  test("8 threads racing the first call for one key run the body exactly once") {
    val memo = Memo[String, Int]()
    val runs = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          memo("k") { runs.incrementAndGet(); Thread.sleep(200); 42 }
        })
      }
      start.countDown()
      assert(got.map(_.get(30, TimeUnit.SECONDS)).forall(_ == 42))
      assert(runs.get == 1, s"body ran ${runs.get} times")
      assert(memo.size == 1)
    } finally pool.shutdown()
  }

  test("a build that throws leaves the key unclaimed; the next call builds") {
    val memo = Memo[String, Int]()
    intercept[IllegalStateException](memo("k")(throw new IllegalStateException))
    assert(memo.size == 0)
    assert(memo("k")(7) == 7)
  }

  test("Memo.clearAll leaves every registered memo empty, index memos included") {
    // one gate per memo the old per-file clear methods missed: the hier
    // maintenance scenario (hierMaintCache, and through it the hier and
    // base graph layouts), the streamed hier fold (hierStreamFoldCache,
    // hnswBaseCache) and the IVF upsert (ivfBaseCache)
    Seq("q_sim_index_hnsw_hier_maint", "q_stream_index_hnsw_hier_fold",
        "q_sim_index_upsert").foreach { g =>
      try SparkEntry.queries(g)(spark, sfDir).collect()
      finally queries.Scratch.release(spark)
    }
    val missed = Seq(Q.hierMaintCache, Q.hierStreamFoldCache,
      Q.hnswBaseCache, Q.ivfBaseCache)
    assert(missed.forall(_.size > 0), "the gates filled no index memo")
    Memo.clearAll()
    assert(missed.forall(_.size == 0))
    val left = Memo.registered.filter(_.size > 0)
    assert(left.isEmpty, s"${left.size} memos still hold entries")
  }

  test("after clearAll, persisted memo frames are gone from getPersistentRDDs") {
    val sc = spark.sparkContext
    Memo.clearAll()
    val before = sc.getPersistentRDDs.keySet
    Q.vectorsForSpec(spark, sfDir)
    GraphQueries.tradeEdges(spark, sfDir)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "the persisted memos registered no RDD")
    Memo.clearAll()
    val still = sc.getPersistentRDDs.keySet.intersect(added)
    assert(still.isEmpty, s"persisted memo RDDs survived clearAll: $still")
  }

  test("after clearAll, q_sim_index_persisted rebuilds its root and returns the same digest") {
    def run(): (Long, String) =
      try DigestLock.digest(SparkEntry.queries("q_sim_index_persisted")(spark, sfDir))
      finally queries.Scratch.release(spark)
    val first = run()
    val root = new java.io.File(Q.persistedIvfIndex(spark, sfDir))
    Memo.clearAll()
    graft.streaming.PartitionedStore.removeTree(root)
    val second = run()
    assert(root.exists(), "clearAll did not make the next touch rebuild the root")
    assert(second == first)
    assert(DigestLock.expected.get("q_sim_index_persisted").contains(second))
  }

  test("the trade-edge memo holds at most 4 entries per session") {
    // the memo is keyed by the dir string as given, so re-spellings of
    // one dir are distinct keys
    val f = new java.io.File(sfDir)
    val spellings = (1 to 6).map(k => f.getParent + "/." * k + "/" + f.getName)
    spellings.foreach(d => GraphQueries.tradeEdges(spark, d))
    val mine = GraphQueries.edgeCache.keys.count(_._1 eq spark)
    assert(mine == 4, s"$mine trade-edge entries for one session")
  }
}
