package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

class MemoSpec extends SparkTestBase {
  private implicit val registry: Memo.Registry = new Memo.Registry

  test("eight threads on a cold key run the build exactly once") {
    val builds = new AtomicInteger(0)
    val memo = Memo("cold_key") { (_, d) =>
      builds.incrementAndGet()
      Thread.sleep(200)
      s"built:$d"
    }
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val go = new CountDownLatch(1)
    try {
      val results = Future.sequence((1 to 8).map { _ =>
        Future { go.await(); memo(spark, "dir") }
      })
      go.countDown()
      assert(Await.result(results, 30.seconds).toSet === Set("built:dir"))
      assert(builds.get === 1)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a build that throws is retried on the next call") {
    val builds = new AtomicInteger(0)
    val memo = Memo("flaky") { (_, _) =>
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("boom")
      42
    }
    intercept[IllegalStateException](memo(spark, "dir"))
    assert(memo(spark, "dir") === 42)
    assert(memo(spark, "dir") === 42)
    assert(builds.get === 2)
  }

  test("evict releases held values and forces a rebuild") {
    val builds = new AtomicInteger(0)
    val released = scala.collection.mutable.ArrayBuffer.empty[Int]
    val memo = Memo.releasing[Int]("evictable", Set("q"),
      v => released.synchronized(released += v)) { (_, _) =>
      builds.incrementAndGet()
    }
    assert(memo(spark, "a") === 1)
    assert(memo(spark, "a") === 1)
    memo.evict()
    assert(released.toSeq === Seq(1))
    assert(memo(spark, "a") === 2)
    assert(builds.get === 2)
  }

  test("SparkEntry.memoFamilies: the eleven families and their consumers") {
    val fams = SparkEntry.memoFamilies.map { case (f, users, _) => f -> users }
    assert(fams.size === 11)
    assert(fams.toMap === Map(
      "basket_graph" -> Set("copurchase_lift", "triangle_count",
        "link_predict", "pagerank_parts", "k_core_parts", "k_truss_parts",
        "bfs_hops_parts", "connected_components", "label_propagation",
        "community_modularity", "negative_edges", "random_walks",
        "skipgram_pairs"),
      "link_adj" -> Set("link_predict"),
      "basket_triangles" -> Set("triangle_count", "k_truss_parts"),
      "verified_pairs" -> Set("dedup_groups", "dedup_keep_best",
        "dedup_keep_canonical", "neardup_safe_split"),
      "lpa_labels" -> Set("label_propagation", "community_modularity"),
      "walk_corpus" -> Set("random_walks", "skipgram_pairs"),
      "trigram_nll" -> Set("ngram_lm_score", "perplexity_buckets"),
      "corpus_prep_frames" -> Set("corpus_prep_attrition",
        "corpus_prep_full"),
      "cosine_truth" -> Set("incremental_cosine_persisted",
        "stream_cosine_incremental"),
      "bpe_model" -> Set("bpe_encode_stats", "bpe_encode_ids",
        "bpe_pack_ids", "bpe_decode_roundtrip", "bpe_pack_report"),
      "bpe_encoded" -> Set("bpe_encode_ids", "bpe_pack_ids",
        "bpe_decode_roundtrip", "bpe_pack_report")))
  }
}
