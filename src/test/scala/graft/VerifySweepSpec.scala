package graft

/** The Verify dump's chunk-barrier storage sweep: registered queries use
  * unmanaged operator variants whose internal `localCheckpoint` RDDs
  * (substringDupPairs' fingerprint barrier, substringExtent's gram table)
  * otherwise accumulate across the ~200-query dump — latent executor
  * storage growth at larger SFs. The sweep must leave the session's
  * persistent-RDD registry empty once the dump returns. */
class VerifySweepSpec extends SparkSpec {

  test("dump leaves no persistent RDDs behind after checkpoint-heavy queries") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/documents.parquet").exists())
    val out = java.nio.file.Files.createTempDirectory("graft-verify-sweep").toString
    val keys = Set("dedup_substring", "substring_extent", "dedup_resolve")
    val selected = SparkEntry.queries.view.filterKeys(keys).toMap
    assert(selected.size == keys.size, "registry must carry the checkpoint-heavy keys")
    // Suites share one SparkSession (sequential under Test/fork), so a
    // PRIOR suite's leftover storage — e.g. a dedup_resolve result whose
    // own checkpoint the caller never freed — may still be registered
    // here. dump's contract is scoped: it preserves caller-preexisting
    // storage and sweeps only what it created. Asserting a globally
    // empty registry conflated the two and flaked on suite order
    // (r16: one prior-suite localCheckpoint surfaced as a "leak").
    // Sweep the leftovers first so the test owns its baseline (empty),
    // then assert the registry is empty again after the dump — i.e. the
    // dump swept everything IT created. (Caller-preexisting storage
    // surviving a dump is the second test in this suite, which persists
    // sentinels before dumping.)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    assert(pre.isEmpty, s"baseline sweep left: ${pre.mkString(", ")}")
    val errors = Verify.dump(spark, sfDir, out, selected, par = 2)
    assert(errors.isEmpty, s"queries failed: $errors")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${spark.sparkContext.getPersistentRDDs.keys.mkString(", ")}")
    keys.foreach { k =>
      assert(new java.io.File(s"$out/$k").exists(), s"missing output dir for $k")
    }
  }

  test("a caller's pre-existing cached frame and localCheckpoint survive a dump (scoped sweep)") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/documents.parquet").exists())
    val out = java.nio.file.Files.createTempDirectory("graft-verify-scope").toString
    val cached = spark.range(100).toDF("n").cache()
    assert(cached.count() == 100L)
    // a localCheckpoint has TRUNCATED lineage: if the dump's sweep
    // unpersisted it, the next action below would throw unrecoverably —
    // exactly the blast-radius failure the scoped sweep removes
    val checkpointed = spark.range(50).toDF("m").localCheckpoint()
    assert(checkpointed.count() == 50L)
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    assert(pre.nonEmpty)
    try {
      val selected =
        SparkEntry.queries.view.filterKeys(Set("dedup_substring")).toMap
      val (errors, added) = persistedBy(Verify.dump(spark, sfDir, out, selected, par = 1))
      assert(errors.isEmpty, s"queries failed: $errors")
      // dump-created storage swept, caller-owned storage intact
      assert(added.isEmpty, s"dump leaked its own storage: $added")
      assert(pre.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
        s"sweep touched caller storage: " +
          s"pre=$pre post=${spark.sparkContext.getPersistentRDDs.keySet}")
      assert(cached.count() == 100L)
      assert(checkpointed.count() == 50L)
    } finally {
      cached.unpersist(blocking = true)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
  }
}
