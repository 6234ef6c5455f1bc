package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The plain dedup entry points must not leak their persisted
  * intermediates into a long-lived session: after the returned plan
  * executes once, the caches are released (asynchronously, via a
  * one-shot QueryExecutionListener). The *WithCaches variants leave
  * lifetime to the caller.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def cachedRddIds(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  private def eventually(timeoutMs: Long = 15000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline && !cond) Thread.sleep(100)
    cond
  }

  test("plain lshCandidatePairs releases its signature cache after first use") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(50)
    val before = cachedRddIds()
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text")
    pairs.count() // first consuming execution
    assert(eventually() { cachedRddIds().subsetOf(before) },
      "signature cache entry still present after the pair plan executed")
  }

  test("plain ngramJaccardPairs releases all three intermediates after first use") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(50)
    val before = cachedRddIds()
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
    pairs.count()
    assert(eventually() { cachedRddIds().subsetOf(before) },
      "posting-list/prefix caches still present after the pair plan executed")
  }

  test("bloom decontamination's eager sketch jobs do not release the benchmark cache early") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, TestSpark.sf).limit(80)
    val before = cachedRddIds()
    val out = graft.operators.Decontamination.contaminationReportBloom(
      docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 5)
    // the sketch build already ran jobs over the cached benchmark set;
    // their async listener events must NOT release it (the release is
    // keyed on the returned plan, which hasn't executed yet)
    Thread.sleep(1500)
    assert((cachedRddIds() -- before).nonEmpty,
      "benchmark shingle cache must stay pinned until the report executes")
    out.count()
    assert(eventually() { cachedRddIds().subsetOf(before) },
      "benchmark shingle cache still present after the report executed")
  }

  test("WithCaches variant leaves the cache to the caller") {
    // distinct parameterization from the plain-call tests above, so an
    // unconsumed listener from those can never match this plan
    val docs = Tables.documents(spark, TestSpark.sf).limit(60)
    val (pairs, sigs) =
      Dedup.lshCandidatePairsWithSignatures(docs, "doc_id", "text", numHashes = 32, bands = 8)
    pairs.count()
    assert(sigs.storageLevel != StorageLevel.NONE,
      "caller-managed signature cache must survive execution")
    sigs.unpersist(blocking = true)
  }

  test("lshNearDupPairs band-count prefilter is lossless vs full candidate scoring") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val full = Dedup.lshCandidatePairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16)
      .filter(org.apache.spark.sql.functions.col("est_jaccard") >= 0.8)
    val pruned = Dedup.lshNearDupPairs(docs, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.8)
    assert(pruned.exceptAll(full).count() == 0 && full.exceptAll(pruned).count() == 0,
      "prefiltered result must equal the fully-scored thresholded result")
    assert(Dedup.minAgreeingBands(64, 16, 0.8) == 4)
    assert(Dedup.minAgreeingBands(64, 8, 0.8) == 1)   // floor degenerates, stays sound
    assert(Dedup.minAgreeingBands(64, 32, 0.9) == 26) // ⌈.9·64⌉=58 → 6 breakable
  }

  test("hot-bucket salting preserves the exact pair set") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, TestSpark.sf).limit(300)
    val (_, sigs) = Dedup.lshCandidatePairsWithSignatures(
      docs, "doc_id", "text", numHashes = 64, bands = 16)
    val banded = Dedup.bandedDebug(sigs, 64, 16, portable = false)
    def pairsAt(hotMin: Long) = Dedup.collisionPairsWithFeatures(
        banded, banded, Seq("band", "bucket"), ordered = true,
        featsA = sigs, featsB = sigs, minCollisions = 4,
        hotBucketMin = hotMin)
      .select(col("id_a"), col("id_b"))
    val plain = pairsAt(Long.MaxValue)  // nothing salted
    val salted = pairsAt(1L)            // every bucket salted
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0,
      "salted within-bucket enumeration must emit the identical pair set")
    assert(plain.count() > 0, "prefilter sanity: some candidates survive")
    sigs.unpersist(blocking = true)
  }

  test("a fresh registration steals a stale claim on the same canonical plan and re-pins") {
    // the r20 q223 failure shape: invocation N's release event lags on
    // the async listener bus (here: its trigger simply never executes),
    // invocation N+1 persists the same canonical plan (CacheManager
    // shares the entry), and without the steal N's late release would
    // drop N+1's cache mid-flight — N+1 then recomputes the
    // intermediate once per consumer, uncached
    def mk() = spark.range(500).selectExpr("id % 7 as k")
      .groupBy("k").count()
    val a = mk(); a.persist()
    val triggerA = a.selectExpr("sum(count) as s")
    CacheLifecycle.releaseWhenExecuted(triggerA, Seq(a))
    // triggerA never executes: A's claim stays pending, its entry cached
    val b = mk(); b.persist() // shares A's entry ("already cached" WARN)
    val triggerB = b.selectExpr("sum(count) as s")
    CacheLifecycle.releaseWhenExecuted(triggerB, Seq(b))
    // registration B must have stolen A's claim (released it
    // synchronously) and re-pinned the plan, so B executes cached
    assert(b.storageLevel != StorageLevel.NONE,
      "fresh invocation's cache must be pinned after the steal")
    triggerB.collect()
    assert(eventually() { b.storageLevel == StorageLevel.NONE },
      "B's own claim must still release after B executes")
  }

  test("registration re-pins an unpersisted census without stealing its own claim") {
    import graft.AdaptiveCache.CensusPersist
    // the re-pin goes through the byte-adaptive bracket; it must not
    // run the hand-off steal, whose pending claim is by then this very
    // registration's: that steal released every cache of the
    // registration at once and left the re-pinned census without an
    // owner, pinned for good
    val census = spark.range(400).selectExpr("id % 11 as k").groupBy("k").count()
      .persistCensus()
    census.unpersist(blocking = true) // e.g. a stale claim's release landed first
    val trigger = census.selectExpr("sum(count) as s")
    CacheLifecycle.releaseWhenExecuted(trigger, Seq(census))
    assert(census.storageLevel != StorageLevel.NONE,
      "registration must re-pin the census")
    assert(CacheLifecycle.hasPendingClaim(census),
      "the registration's own claim must stay pending until its trigger runs")
    trigger.collect()
    assert(eventually() { census.storageLevel == StorageLevel.NONE },
      "the re-pinned census must be released once its trigger executed")
    // the claim goes right after the unpersist, in the same release body
    assert(eventually() { !CacheLifecycle.hasPendingClaim(census) },
      "no claim may outlive the release")
  }

  test("unrelated executions do not release caches prematurely") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(40)
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", numHashes = 16, bands = 4)
    // executions that do NOT consume the signatures
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(10).count()
    Thread.sleep(500) // allow listener-bus delivery of those events
    val n1 = pairs.count() // signatures still valid: plan executes correctly
    val n2 = pairs.count() // after release: recompute path, same answer
    assert(n1 == n2)
  }
}
