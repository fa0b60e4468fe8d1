package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape helpers that gate the spread-repartition probes and the
  * persist-before-sort rule. The gates exist because `df.rdd` under
  * AQE materializes every query stage of an exchange-bearing plan —
  * these tests pin (a) the shape classification itself and (b) that
  * classifying a plan launches no Spark jobs. */
class CachesSpec extends AnyFunSuite {
  private lazy val s = SparkSuite.session

  private def countJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    s.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(300) } // let any JobStart events drain
    finally s.sparkContext.removeSparkListener(l)
    jobs.get
  }

  test("hasExchange: scan/narrow plans are exchange-free") {
    import s.implicits._
    val df = (1 to 100).toDF("x").where(col("x") > 5)
      .select(col("x") * 2 as "y")
    assert(!Caches.hasExchange(df))
  }

  test("hasExchange: groupBy introduces a shuffle exchange") {
    import s.implicits._
    val df = (1 to 100).toDF("x").groupBy(col("x") % 10).count()
    assert(Caches.hasExchange(df))
  }

  test("hasExchange: broadcast joins count as exchanges") {
    import s.implicits._
    val a = (1 to 100).toDF("x")
    val b = (1 to 10).toDF("x")
    val df = a.join(broadcast(b), "x")
    assert(Caches.hasExchange(df))
  }

  test("persistForSort: join-of-scans persists, single scan does not") {
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("caches_spec_").toString
    (1 to 50).toDF("k").write.mode("overwrite").parquet(s"$dir/a")
    (1 to 10).toDF("k").write.mode("overwrite").parquet(s"$dir/b")
    val a = s.read.parquet(s"$dir/a")
    val b = s.read.parquet(s"$dir/b")
    try {
      val joined = Caches.persistForSort(a.join(b, "k"))
      assert(joined.storageLevel.useMemory,
        "2-scan join shape should persist before a sort")
      val single = Caches.persistForSort(a.where(col("k") > 3))
      assert(!single.storageLevel.useMemory,
        "single-scan shape must not persist")
    } finally {
      Caches.releaseCaches()
      graft.model.GraftStore.rmTree(new java.io.File(dir))
    }
  }

  test("one releaseCaches frees pipeline and ops-layer entries alike") {
    import s.implicits._
    val cm = s.sharedState.cacheManager
    def cachedRdds = s.sparkContext.getPersistentRDDs.size
    // drain whatever earlier specs left registered; frames persisted
    // outside the registry (store views) stay and are the baseline
    Caches.releaseCaches()
    val wasEmpty = cm.isEmpty
    val before = cachedRdds
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river"),
      (2L, "the quick brown fox jumps over the lazy dog by the river bank"),
      (3L, "an entirely different sentence about registry release")
    ).toDF("doc_id", "text")
    // a Dedup op that registers its signature and band intermediates
    val pairs = graft.pipeline.Dedup.minhashLsh(docs)
      .select("d1", "d2").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
    val pipelineEntries = cachedRdds - before
    assert(pipelineEntries > 0, "minhashLsh registered no intermediates")
    // next to an ops-layer entry
    Caches.persist(docs.select(col("doc_id") * 7 as "k")).count()
    assert(cachedRdds == before + pipelineEntries + 1)
    assert(!cm.isEmpty)
    Caches.releaseCaches()
    assert(cachedRdds == before,
      s"${cachedRdds - before} cached frames survived one release")
    // run alone, the session starts empty and must end empty
    assert(cm.isEmpty == wasEmpty)
  }

  test("hasExchange launches no jobs (unlike .rdd under AQE)") {
    import s.implicits._
    val a = (1 to 100).toDF("x")
    val b = (1 to 10).toDF("x")
    // join + aggregation: .rdd on this plan would materialize its
    // stages; the classification must stay plan-only
    val df = a.join(b, "x").groupBy(col("x") % 3).count()
    val n = countJobs { Caches.hasExchange(df) }
    assert(n == 0, s"hasExchange launched $n jobs")
  }
}
