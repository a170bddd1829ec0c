package graft

import graft.engine.{Schemas, Sources}

class SourcesSpec extends SparkSpec {

  test("loadValidated: every fixture table matches its declared schema at sf0.001") {
    graft.engine.Tables.names.foreach { name =>
      val df = Sources.loadValidated(spark, "/root/testdata/sf0.001", name)
      assert(df.columns.length == Schemas.fixtureSchemas(name).fields.length)
    }
  }

  test("Tables.load schema memo is invisible: schema and rows equal a direct read (round 22)") {
    // the memo skips the per-construction footer-inference JOB, never data:
    // the explicit schema must be byte-identical to inference, and every
    // row must still come from the file
    Seq("nation", "documents", "events").foreach { name =>
      val memoized = graft.engine.Tables.load(spark, "/root/testdata/sf0.001", name)
      val direct = spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
      assert(memoized.schema == direct.schema, s"$name schema diverged")
      assert(memoized.count() == direct.count(), s"$name row count diverged")
    }
  }

  test("Tables.load schema memo is keyed on file identity: a rewritten path yields its new schema") {
    import sqlContext.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toString
    Seq(1, 2).toDF("a").write.parquet(s"$dir/t.parquet")
    val first = graft.engine.Tables.load(spark, dir, "t")
    assert(first.columns.toSeq == Seq("a"))
    Seq(("x", 1L)).toDF("b", "c").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val second = graft.engine.Tables.load(spark, dir, "t")
    assert(second.columns.toSeq == Seq("b", "c"), "stale memoized schema served")
    assert(second.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("x", 1L)))
  }

  test("loadValidated: a table read under the wrong name fails fast with a column-level report") {
    val e = intercept[Sources.SchemaMismatch] {
      // read orders parquet while claiming it is lineitem
      val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
      val orders = graft.engine.Tables.load(spark, "/root/testdata/sf0.001", "orders")
      orders.write.parquet(s"$dir/lineitem.parquet")
      Sources.loadValidated(spark, dir, "lineitem")
    }
    assert(e.problems.exists(_.startsWith("missing column: l_orderkey")))
    assert(e.problems.exists(_.startsWith("unexpected column: o_orderkey")))
  }

  test("events.ts: both historical fixture encodings normalize to TimestampType") {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    import org.apache.spark.sql.functions.col
    // (1) the real fixture (currently TIMESTAMP(MICROS) -> TIMESTAMP_NTZ raw)
    val real = graft.engine.Tables.loadEvents(spark, "/root/testdata/sf0.001")
    assert(real.schema("ts").dataType == TimestampType)
    Sources.loadValidated(spark, "/root/testdata/sf0.001", "events") // must not throw
    // (2) the legacy epoch-nanos int64 encoding (what TIMESTAMP(NANOS) looked
    // like under the nanosAsLong read) — a regeneration back to it must load,
    // validate, and yield the same timestamps.
    val dir = java.nio.file.Files.createTempDirectory("graft-events-long").toString
    import spark.implicits._
    val micros = 1715000000000000L // 2024-05-06T13:33:20Z in epoch-µs
    Seq((1L, micros * 1000L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    Sources.loadValidated(spark, dir, "events") // alternative encoding accepted
    val legacy = graft.engine.Tables.loadEvents(spark, dir)
    assert(legacy.schema("ts").dataType == TimestampType)
    val got = legacy.select(org.apache.spark.sql.functions.unix_micros(col("ts"))).head.getLong(0)
    assert(got == micros)
  }

  // ---- S6 production JDBC path, end-to-end against embedded Derby (the
  // sandbox stand-in for the reference's Oracle/SDE view).

  private val derbyUrl = "jdbc:derby:memory:graftpod;create=true"

  private def seedDerby(): Unit = {
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE pod") catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE pod (pnts_code VARCHAR(10), pnts_descr VARCHAR(50), oid INT)")
      (1 to 6).foreach { i =>
        st.execute(s"INSERT INTO pod VALUES ('TAG$i', 'descr $i', $i)")
      }
      st.close()
    } finally conn.close()
  }

  test("jdbc: partitioned read returns the view with the requested parallelism") {
    seedDerby()
    val df = Sources.jdbc(spark, derbyUrl, "pod",
      partitionColumn = Some("oid"), bounds = Some((1L, 6L)), numPartitions = 3)
    assert(df.rdd.getNumPartitions == 3) // one DB cursor per range stripe
    val rows = df.collect().map(r => (r.getString(0), r.getInt(2))).toSet
    assert(rows == (1 to 6).map(i => (s"TAG$i", i)).toSet)
  }

  test("jdbc: filters are pushed into the database scan, not applied in Spark") {
    seedDerby()
    val df = Sources.jdbc(spark, derbyUrl, "pod")
      .filter(org.apache.spark.sql.functions.col("oid") > 3)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.toUpperCase.contains("GREATERTHAN(OID,3)"),
      s"expected pushed OID filter in:\n$physical")
    assert(df.count() == 3)
  }

  test("csv/json: declared-schema reads round-trip the nation table exactly (no inference pass)") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    val nation = graft.engine.Tables.load(spark, "/root/testdata/sf0.001", "nation")
    nation.coalesce(1).write.option("header", true).csv(s"$dir/nation_csv")
    nation.coalesce(1).write.json(s"$dir/nation_json")
    val schema = nation.schema
    val viaCsv = Sources.csv(spark, s"$dir/nation_csv", schema)
    val viaJson = Sources.json(spark, s"$dir/nation_json", schema)
    val expect = nation.orderBy("n_nationkey").collect().toSeq
    assert(viaCsv.orderBy("n_nationkey").collect().toSeq == expect)
    assert(viaJson.orderBy("n_nationkey").collect().toSeq == expect)
    assert(viaCsv.schema == schema) // declared, not inferred
  }

  test("orc: round-trip, schema validation, and filter pushdown into the ORC scan") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val nation = graft.engine.Tables.load(spark, "/root/testdata/sf0.001", "nation")
    nation.write.orc(s"$dir/nation_orc")
    val viaOrc = Sources.orc(spark, s"$dir/nation_orc", Some(nation.schema), "nation")
    assert(viaOrc.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
    // wrong expected schema -> aggregated column-level failure, not a cast crash
    val e = intercept[Sources.SchemaMismatch] {
      Sources.orc(spark, s"$dir/nation_orc",
        Some(graft.engine.Tables.load(spark, "/root/testdata/sf0.001", "region").schema),
        "nation")
    }
    assert(e.problems.nonEmpty)
    // same pushdown contract as parquet
    val plan = viaOrc.filter(col("n_nationkey") === 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_nationkey"), plan)
  }

  test("csv: malformed rows fail fast (FAILFAST), not silent nulls") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-badcsv").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/bad.csv"),
      "k,v\n1,ok\nnot_a_number,boom\n")
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("v", StringType)))
    val e = intercept[org.apache.spark.SparkException] {
      Sources.csv(spark, dir, schema).collect()
    }
    assert(e.getMessage.contains("MALFORMED") || e.getCondition != null)
  }

  test("jdbc: schema validation applies to JDBC sources exactly as to parquet") {
    seedDerby()
    import org.apache.spark.sql.types._
    val wrong = StructType(Seq(
      StructField("pnts_code", StringType), StructField("pnts_descr", StringType),
      StructField("oid", StringType))) // oid is INT in the view
    val e = intercept[Sources.SchemaMismatch] {
      Sources.jdbc(spark, derbyUrl, "pod", expected = Some(wrong))
    }
    assert(e.problems.exists(_.startsWith("column oid")))
  }

  test("incrementalParquet: only new files per batch; uncommitted batches re-deliver; commit advances") {
    import sqlContext.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-incr").toString
    val dir = s"$base/lake"
    val manifest = s"$base/manifest"
    // batch 1 lands two files (separate writes -> separate part files)
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/f1")
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$dir/f2")
    val b1 = graft.engine.Sources.incrementalParquet(spark, dir, manifest)
    assert(b1.df.count() == 2 && b1.newFiles.nonEmpty)
    // crash before commit: the same batch re-delivers in full
    val b1again = graft.engine.Sources.incrementalParquet(spark, dir, manifest)
    assert(b1again.newFiles.sorted == b1.newFiles.sorted)
    b1again.commit()
    // steady state: nothing new -> empty frame with the lake's schema
    val b2 = graft.engine.Sources.incrementalParquet(spark, dir, manifest)
    assert(b2.df.count() == 0 && b2.newFiles.isEmpty)
    assert(b2.df.columns.toSeq == Seq("id", "v"))
    b2.commit() // empty commit is a no-op
    // new arrival: exactly the new file's rows, never the old ones
    Seq((3L, "c")).toDF("id", "v").write.parquet(s"$dir/f3")
    val b3 = graft.engine.Sources.incrementalParquet(spark, dir, manifest)
    assert(b3.df.select("id").as[Long].collect().toSet == Set(3L))
    b3.commit()
    // metadata files (_SUCCESS etc.) never count as data
    assert(!b3.newFiles.exists(_.contains("_SUCCESS")))
    // files under HIDDEN directories (in-flight writer staging) are
    // invisible too — only the leaf-name filter would treat
    // _temporary/.../part-0.parquet as data and double-deliver its rows
    // after the writer's task-commit rename
    val hid = new java.io.File(s"$dir/f4/_temporary/0")
    hid.mkdirs()
    Seq((99L, "staged")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$base/stage-src")
    val part = new java.io.File(s"$base/stage-src").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(hid, "part-00000.parquet").toPath)
    val b4 = graft.engine.Sources.incrementalParquet(spark, dir, manifest)
    assert(b4.newFiles.isEmpty,
      s"staged file under _temporary leaked into the batch: ${b4.newFiles}")
    // empty lake fails loudly instead of an uninferable-schema error
    intercept[IllegalArgumentException](
      graft.engine.Sources.incrementalParquet(spark, s"$base/empty-nonexistent", manifest))
  }

  test("incrementalParquet: manifest auto-compacts past the part-file threshold without losing entries") {
    import sqlContext.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-incr-compact").toString
    val dir = s"$base/lake"
    val manifest = s"$base/manifest"
    // 70 batches of one file each: each commit appends >=1 part file, so
    // the 64-part threshold trips and the manifest rewrites compacted
    (1 to 70).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/f$i")
      val b = graft.engine.Sources.incrementalParquet(spark, dir, manifest)
      assert(b.newFiles.size == 1, s"batch $i saw ${b.newFiles.size} new files")
      b.commit()
    }
    val fs = new org.apache.hadoop.fs.Path(manifest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(manifest))
      .count(st => st.isFile && !st.getPath.getName.startsWith("_"))
    assert(parts < 64, s"manifest never compacted: $parts part files")
    // no entry lost: steady state still delivers nothing
    val after = graft.engine.Sources.incrementalParquet(spark, dir, manifest)
    assert(after.newFiles.isEmpty, s"compaction lost entries: ${after.newFiles}")
    assert(spark.read.parquet(manifest).count() == 70)
  }

  test("incremental ingest + idempotent merge = effective exactly-once under batch replay") {
    import sqlContext.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-incr-e2e").toString
    val dir = s"$base/lake"
    val manifest = s"$base/manifest"
    val table = s"$base/table"
    def mergeBatch(): Unit = {
      val b = graft.engine.Sources.incrementalParquet(spark, dir, manifest)
      if (b.newFiles.nonEmpty) {
        val merged =
          if (new java.io.File(table).exists)
            graft.engine.Ops.upsert(spark.read.parquet(table), b.df, Seq("k"))
          else b.df
        merged.write.mode("overwrite").parquet(s"$table.tmp")
        val fs = new org.apache.hadoop.fs.Path(table)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.engine.Sinks.swapInto(fs, new org.apache.hadoop.fs.Path(table))
      }
      b.commit()
    }
    def live() = spark.read.parquet(table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/b1")
    mergeBatch()
    assert(live() == Map(1L -> "a", 2L -> "b"))
    // batch 2 updates a key and adds one; then REPLAY the same merge twice
    // (simulating a crash after output but re-run of the whole batch):
    // upsert's whole-row replace keeps the table identical
    Seq((2L, "b2"), (3L, "c")).toDF("k", "v").write.parquet(s"$dir/b2")
    val b2 = graft.engine.Sources.incrementalParquet(spark, dir, manifest)
    val merged2 = graft.engine.Ops.upsert(spark.read.parquet(table), b2.df, Seq("k"))
    merged2.write.mode("overwrite").parquet(s"$table.tmp")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.engine.Sinks.swapInto(fs, new org.apache.hadoop.fs.Path(table))
    // crash before commit -> replay the whole batch (same files re-listed)
    mergeBatch()
    assert(live() == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // steady state: one more run changes nothing
    mergeBatch()
    assert(live() == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("binaryFiles: reads raw media bytes; glob prunes at listing; codec decodes the payload") {
    import graft.operators.MultiModal
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val png = bytes(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 0, 0, 0, 13) ++
      "IHDR".getBytes ++ bytes(0, 0, 2, 0x80, 0, 0, 1, 0xe0, 8, 6, 0, 0, 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-bin").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.png"), png)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/notes.txt"), "hello")
    // unfiltered: both files, correct sizes, bytes intact
    val all = graft.engine.Sources.binaryFiles(spark, dir)
    assert(all.count() == 2)
    // glob filter: only the png is listed (pruned before any read)
    val imgs = graft.engine.Sources.binaryFiles(spark, dir, glob = Some("*.png"))
    val row = imgs.collect().head
    assert(imgs.count() == 1 && row.getLong(2) == png.length, row.toString)
    assert(row.getAs[Array[Byte]]("content").sameElements(png))
    // end-to-end into the multimodal path: source bytes -> Media -> features
    import sqlContext.implicits._
    val media = imgs.select(
      org.apache.spark.sql.functions.monotonically_increasing_id().as("media_id"),
      org.apache.spark.sql.functions.lit("image").as("modality"),
      org.apache.spark.sql.functions.col("content")).as[MultiModal.Media]
    val f = MultiModal.extractFeatures(media).collect().head
    assert(f.format == "png" && f.width == 640 && f.height == 480, f.toString)
    intercept[IllegalArgumentException](
      graft.engine.Sources.binaryFiles(spark, dir, maxBytes = 0))
    // the size cap is PER-READ and in-plan: a capped reader fails loudly on
    // the oversized file even when a later construction used a bigger cap
    // (a session-conf cap would be read lazily and governed by whoever set
    // it last)
    val capped = graft.engine.Sources.binaryFiles(spark, dir, maxBytes = 3)
    val uncapped = graft.engine.Sources.binaryFiles(spark, dir)
    // the guard rides ON content, so the pruning-prone content-only
    // projection (the one that can OOM) still fails
    val e0 = intercept[Exception](capped.select("content").collect())
    assert(String.valueOf(e0.getMessage).contains("over the 3-byte cap") ||
      Option(e0.getCause).exists(c => String.valueOf(c.getMessage).contains("over the 3-byte cap")),
      e0.toString)
    val e = intercept[Exception](capped.collect())
    assert(String.valueOf(e.getMessage).contains("over the 3-byte cap") ||
      Option(e.getCause).exists(c => String.valueOf(c.getMessage).contains("over the 3-byte cap")),
      e.toString)
    assert(uncapped.count() == 2)
  }
}
