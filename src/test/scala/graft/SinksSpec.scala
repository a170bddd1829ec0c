package graft

import org.apache.spark.sql.functions._
import graft.engine.Sinks

/** At-rest layout strategies must show up in the read plans: partition
  * pruning for partitioned layout, no Exchange for bucketed joins. */
class SinksSpec extends SparkSpec {
  import sqlContext.implicits._

  test("writeZoneMapped + readZonePruned: secondary-column stats prune partitions; results match the full scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zm2").toString + "/t"
    // ingest-ordered shape: zone = batch id, v = monotone secondary col
    val df = (1 to 40).map(i => (i / 10, i.toLong)).toDF("zone", "v")
    Sinks.writeZoneMapped(df, dir, "zone", Seq("v"))
    // sidecar carries per-zone stats
    val zm = spark.read.parquet(dir + ".zonemap").orderBy("zone").collect()
    assert(zm.length == 5)
    assert(zm.head.schema.fieldNames.toSet ==
      Set("zone", "v_min", "v_max", "n_rows"))
    // prune for v >= 25: zones 0,1 (v_max 9, 19) drop on stats alone
    val pruned = engine.Sources.readZonePruned(
      spark, dir, "zone", col("v_max") >= 25L)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("zone"), plan)
    // conservative contract: pruned ⊇ matching rows; exact after row filter
    val got = pruned.filter(col("v") >= 25L).select("v").as[Long].collect().toSet
    val full = spark.read.parquet(dir).filter(col("v") >= 25L)
      .select("v").as[Long].collect().toSet
    assert(got == full)
    // and strictly fewer partition directories were admitted than exist
    assert(pruned.select("zone").distinct().count() < 5)
  }

  test("readZonePruned fails loudly without a sidecar (no silent full scan)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zm3").toString + "/t"
    Seq((1, 1L)).toDF("zone", "v").write.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      engine.Sources.readZonePruned(spark, dir, "zone", col("v_max") >= 0L)
    }
    assert(e.getMessage.contains("zone-map sidecar"))
  }

  test("writePartitioned: partition filter prunes directories at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/t"
    val df = Seq(("A", 1), ("A", 2), ("B", 3), ("C", 4)).toDF("tag", "v")
    Sinks.writePartitioned(df, dir, Seq("tag"))
    val read = spark.read.parquet(dir).filter(col("tag") === "A")
    assert(read.count() == 2)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tag"), plan)
    // the data filter does NOT appear as a parquet PushedFilter — it was
    // consumed entirely by partition pruning
    assert(!plan.contains("PushedFilters: [IsNotNull(tag)"), plan)
  }

  test("writeBucketed: join of two tables bucketed on the key runs without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    try {
      val facts = (1 to 1000).map(i => (s"k${i % 50}", i)).toDF("tag", "v")
      val dims = (0 until 50).map(i => (s"k$i", s"d$i")).toDF("tag", "descr")
      Sinks.writeBucketed(facts, "b_facts", "tag", 8)
      Sinks.writeBucketed(dims, "b_dims", "tag", 8)
      val joined = spark.table("b_facts").join(spark.table("b_dims"), "tag")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("compact: many small files collapse, data identical, old layout removed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    val df = (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    df.repartition(64).write.parquet(dir) // the small-files accretion
    def parquetFiles() = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles() == 64)
    Sinks.compact(spark, dir) // 64 tiny files are far under one target file
    assert(parquetFiles() == 1, s"got ${parquetFiles()} files")
    val back = spark.read.parquet(dir)
    assert(back.count() == 10000 && back.exceptAll(df).isEmpty)
    assert(!new java.io.File(dir + ".tmp").exists && !new java.io.File(dir + ".old").exists)
  }

  private def partFiles(dir: String) =
    new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))

  test("publish: a cached frame is written as ⌈bytes ÷ split size⌉ files, not one per partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sized").toString + "/staged"
    val df = (1 to 4000).map(i => (i.toLong, s"payload-$i")).toDF("k", "v")
      .repartition(16).persist()
    try {
      df.count() // the stats are now the cache's measured size
      Sinks.publish(Map("t" -> df), dir)
      assert(partFiles(s"$dir/t") == 1) // far under one 128 MB split
      val back = spark.read.parquet(s"$dir/t")
      assert(back.count() == 4000 && back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)

      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val target = (bytes / 3 + 1).toLong // ⌈bytes ÷ target⌉ = 3
      val key = "spark.sql.files.maxPartitionBytes"
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, target)
      try Sinks.publish(Map("t" -> df), dir)
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(partFiles(s"$dir/t") == ((bytes + target - 1) / target).toInt)
      assert(spark.read.parquet(s"$dir/t").count() == 4000)
    } finally df.unpersist()
  }

  test("publish: a frame of unknown size keeps its partitioning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-unsized").toString + "/staged"
    val rows = spark.sparkContext.parallelize(
      (1 to 100).map(i => org.apache.spark.sql.Row(i.toLong)), 5)
    val df = spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField(
        "k", org.apache.spark.sql.types.LongType))))
    Sinks.publish(Map("t" -> df), dir)
    assert(partFiles(s"$dir/t") == 5)
    assert(spark.read.parquet(s"$dir/t").count() == 100)
  }

  test("jdbc sink: overwrite truncates and reloads, append adds, round-trip exact") {
    val url = "jdbc:derby:memory:graftsink;create=true"
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Sinks.jdbc(df, url, "t", mode = "overwrite")
    def readBack() = graft.engine.Sources.jdbc(spark, url, "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    assert(readBack() == Seq(1L -> "a", 2L -> "b"))
    Sinks.jdbc(Seq((3L, "c")).toDF("k", "v"), url, "t", mode = "append")
    assert(readBack() == Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    // overwrite again: truncate-and-reload, not accumulate
    Sinks.jdbc(df, url, "t", mode = "overwrite", numPartitions = Some(2))
    assert(readBack() == Seq(1L -> "a", 2L -> "b"))
  }

  test("recoverSwap: a crash between the swap's two renames is recovered, data never lost") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swap").toString + "/t"
    val live = new org.apache.hadoop.fs.Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((1L, "v1")).toDF("k", "v").write.parquet(dir)
    // simulate the crash window: live renamed to .old, second rename never ran
    require(fs.rename(live, new org.apache.hadoop.fs.Path(dir + ".old")))
    assert(!fs.exists(live))
    Sinks.recoverSwap(fs, live)
    assert(spark.read.parquet(dir).collect().map(_.getString(1)).sameElements(Array("v1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".old")))
  }

  test("swapInto recovers a half-finished prior swap, then installs the new contents") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swap2").toString + "/t"
    val live = new org.apache.hadoop.fs.Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((1L, "v1")).toDF("k", "v").write.parquet(dir)
    require(fs.rename(live, new org.apache.hadoop.fs.Path(dir + ".old"))) // crashed swap
    Seq((1L, "v2")).toDF("k", "v").write.parquet(dir + ".tmp") // the retry's staging
    Sinks.swapInto(fs, live)
    assert(spark.read.parquet(dir).collect().map(_.getString(1)).sameElements(Array("v2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".tmp")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(dir + ".old")))
  }

  test("publishRoot: multi-table artifact swaps atomically; a failed stage deletes its debris and leaves the live root serving") {
    import sqlContext.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-proot").toString + "/idx"
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sinks.publishRoot(fs, dir) { tmp =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$tmp/one.parquet")
      Seq((2L, "b")).toDF("k", "v").write.parquet(s"$tmp/two.parquet")
    }
    assert(spark.read.parquet(s"$dir/one.parquet").count() == 1)
    assert(spark.read.parquet(s"$dir/two.parquet").count() == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".tmp")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(dir + ".old")))
    // trailing-slash path: staging must derive from the NORMALIZED root
    // (the hand-rolled writers this helper replaced staged at
    // "/idx/.tmp" and then swapInto looked for "/idx.tmp" — the whole
    // publish was discarded after completing)
    Sinks.publishRoot(fs, dir + "/") { tmp =>
      Seq((3L, "c")).toDF("k", "v").write.parquet(s"$tmp/one.parquet")
    }
    assert(spark.read.parquet(s"$dir/one.parquet")
      .collect().map(_.getString(1)).sameElements(Array("c")))
    // failed stage: live root untouched, staged debris deleted
    val boom = intercept[RuntimeException](
      Sinks.publishRoot(fs, dir) { tmp =>
        Seq((9L, "z")).toDF("k", "v").write.parquet(s"$tmp/one.parquet")
        throw new RuntimeException("mid-write failure")
      })
    assert(boom.getMessage == "mid-write failure")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".tmp")),
      "staged debris must be cleaned up on failure")
    assert(spark.read.parquet(s"$dir/one.parquet")
      .collect().map(_.getString(1)).sameElements(Array("c")),
      "live root must keep serving the previous artifact")
    // SIGKILL debris: a stale .tmp from a killed writer (possibly a
    // DIFFERENT artifact shape) must be cleared before staging, or its
    // leftover tables ride along into the published root
    Seq((7L, "stale")).toDF("k", "v")
      .write.parquet(s"$dir.tmp/leftover.parquet")
    Sinks.publishRoot(fs, dir) { tmp =>
      Seq((4L, "d")).toDF("k", "v").write.parquet(s"$tmp/one.parquet")
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/leftover.parquet")),
      "stale staged debris must not be published")
    assert(spark.read.parquet(s"$dir/one.parquet")
      .collect().map(_.getString(1)).sameElements(Array("d")))
  }

  test("compact refuses a Hive-partitioned directory (layout would be lost)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cpart").toString + "/t"
    Seq(("A", 1), ("B", 2)).toDF("tag", "v")
      .write.partitionBy("tag").parquet(dir)
    val e = intercept[IllegalArgumentException](Sinks.compact(spark, dir))
    assert(e.getMessage.contains("Hive-partitioned"), e.getMessage)
  }

  test("writeZOrdered: per-file ranges stay narrow on BOTH dims; 1-col sort does not") {
    import org.apache.spark.sql.DataFrame
    // uniform 2-d grid: the adversarial case for any single-column layout
    val df = (0 until 4096).map(i => (i % 64, i / 64)).toDF("xa", "xb")
    val zDir = java.nio.file.Files.createTempDirectory("graft-z").toString + "/t"
    val sDir = java.nio.file.Files.createTempDirectory("graft-s").toString + "/t"
    Sinks.writeZOrdered(df, zDir, "xa", "xb", nFiles = 16)
    df.repartitionByRange(16, col("xa")).sortWithinPartitions("xa")
      .write.mode("overwrite").parquet(sDir)
    // mean per-FILE normalized range of a column (parquet footer min/max
    // proxy: each file read individually)
    def meanRange(dir: String, c: String): Double = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      val spans = files.map { f =>
        val r = spark.read.parquet(f).agg(min(col(c)), max(col(c))).head()
        (r.getInt(1) - r.getInt(0)) / 63.0
      }
      spans.sum / spans.length
    }
    // z-order: both dims well under half range per file; the rows read for
    // a point/range predicate on EITHER column shrink accordingly
    assert(meanRange(zDir, "xa") < 0.5, s"zo xa=${meanRange(zDir, "xa")}")
    assert(meanRange(zDir, "xb") < 0.5, s"zo xb=${meanRange(zDir, "xb")}")
    // single-column sort: xa is narrow but xb spans ~everything per file
    assert(meanRange(sDir, "xa") < 0.2)
    assert(meanRange(sDir, "xb") > 0.9, s"sorted xb=${meanRange(sDir, "xb")}")
    // layout must not change the data
    val back: DataFrame = spark.read.parquet(zDir)
    assert(back.count() == 4096 && back.exceptAll(df).isEmpty)
  }

  test("overwritePartitions: only the written day is replaced; static overwrite semantics restored after") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dynpart").toString + "/t"
    val days = Seq(
      (1L, "d01"), (2L, "d01"),
      (3L, "d02"), (4L, "d03")).toDF("id", "day")
    Sinks.writePartitioned(days, dir, Seq("day"))
    // backfill day 2 with corrected rows: days 1 and 3 must survive
    val fix = Seq((30L, "d02"), (31L, "d02")).toDF("id", "day")
    Sinks.overwritePartitions(fix, dir, Seq("day"))
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "d01"), (2L, "d01"),
      (30L, "d02"), (31L, "d02"), (4L, "d03")), got.toString)
    // the conf is restored: a plain partitioned overwrite afterwards is
    // STATIC again (whole-table replace), proving no leaked session state
    Sinks.writePartitioned(fix, dir, Seq("day"))
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("evolvingParquet: mixed-vintage directory reads as the declared schema, conflicts fail fast") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString + "/corpus"
    // vintage 1: (doc_id, text); vintage 2 adds lang
    Seq((1L, "old doc")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    Seq((2L, "new doc", "en")).toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(dir)
    val declared = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("score", DoubleType)))
    val df = graft.engine.Sources.evolvingParquet(spark, dir, declared)
    assert(df.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      declared.fields.map(f => f.name -> f.dataType).toSeq)
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.getString(2)), r.isNullAt(3))).toSet
    // the old vintage's missing columns are NULL, not dropped rows or errors;
    // score (declared, in no file yet) is NULL everywhere at the right type
    assert(rows == Set((1L, "old doc", None, true), (2L, "new doc", Some("en"), true)))
    // an undeclared column in the data fails with the aggregated report
    val less = StructType(declared.fields.dropRight(2))
    val e = intercept[graft.engine.Sources.SchemaMismatch](
      graft.engine.Sources.evolvingParquet(spark, dir, less))
    assert(e.problems.exists(_.startsWith("unexpected column: lang")))
    // a type conflict vs the declaration names the column and both types
    val conflict = StructType(declared.fields.map(f =>
      if (f.name == "lang") StructField("lang", IntegerType) else f))
    val e2 = intercept[graft.engine.Sources.SchemaMismatch](
      graft.engine.Sources.evolvingParquet(spark, dir, conflict))
    assert(e2.problems.exists(p => p.contains("lang") && p.contains("expected")))
  }

  test("vacuumPartitions: dry-run reports without deleting; real run deletes only expired; survivors readable") {
    import sqlContext.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vacuum").toString
    val df = Seq(
      (1L, "2024-01-01"), (2L, "2024-02-01"), (3L, "2024-03-01"), (4L, "2024-04-01"))
      .toDF("id", "day")
    graft.engine.Sinks.writePartitioned(df, dir, Seq("day"))
    // dry run: reports the two expired days, deletes nothing
    val planned = graft.engine.Sinks.vacuumPartitions(spark, dir, "day", keepFrom = "2024-03-01")
    assert(planned == Seq("2024-01-01", "2024-02-01"), planned.toString)
    assert(spark.read.parquet(dir).count() == 4)
    // real sweep: expired partitions gone, the rest intact and readable
    val swept = graft.engine.Sinks.vacuumPartitions(spark, dir, "day", "2024-03-01", dryRun = false)
    assert(swept == planned, swept.toString)
    val left = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    assert(left == Set(3L, 4L), left.toString)
    // idempotent: nothing left to expire
    assert(graft.engine.Sinks.vacuumPartitions(spark, dir, "day", "2024-03-01", dryRun = false).isEmpty)
    // a missing table vacuums to empty rather than throwing
    assert(graft.engine.Sinks.vacuumPartitions(spark, s"$dir-nope", "day", "2024-03-01").isEmpty)
    // escaped partition values (':' -> %3A on disk) compare and report
    // DECODED: the partition equal to keepFrom survives ("strictly below")
    val dir2 = java.nio.file.Files.createTempDirectory("graft-vacuum-esc").toString
    graft.engine.Sinks.writePartitioned(
      Seq((1L, "2024-03-01 09:00"), (2L, "2024-03-01 10:00"))
        .toDF("id", "hour"), dir2, Seq("hour"))
    val esc = graft.engine.Sinks.vacuumPartitions(spark, dir2, "hour",
      keepFrom = "2024-03-01 10:00", dryRun = false)
    assert(esc == Seq("2024-03-01 09:00"), esc.toString)
    val kept = spark.read.parquet(dir2).select("id").as[Long].collect().toSet
    assert(kept == Set(2L), kept.toString)
  }
}
