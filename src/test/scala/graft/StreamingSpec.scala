package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{approx_count_distinct, col, explode, max, window}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{DocStreams, EventStreams}
import graft.streaming.EventStreams.Evt

/** Structured-Streaming twins driven through MemoryStream — real streaming
  * micro-batches, not batch DataFrames. */
class StreamingSpec extends SparkSpec {

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  test("tumblingCounts: watermarked windowed counts emit on watermark advance") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Evt]
    val counts = EventStreams.tumblingCounts(mem.toDF(), "1 hour", "10 minutes")
    val q = counts.writeStream.format("memory").queryName("tc")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Evt(1, ts(5), 1, "click"), Evt(2, ts(20), 1, "click"), Evt(3, ts(30), 2, "view"))
      q.processAllAvailable()
      // watermark still inside hour 0 -> nothing final yet; push it past
      mem.addData(Evt(4, ts(200), 1, "click"))
      q.processAllAvailable()
      mem.addData(Evt(5, ts(400), 1, "click"))
      q.processAllAvailable()
      // window() aligns to epoch hour boundaries, not to the first event
      val win0 = ts(0).getTime - ts(0).getTime % 3600000L
      val rows = spark.table("tc").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
      assert(rows.contains((win0, "click", 2L)))
      assert(rows.contains((win0, "view", 1L)))
    } finally q.stop()
  }

  test("batch/streaming parity: tumbling counts agree with the batch twin on the fixture events") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    // collect ONCE: limit() on a multi-partition scan has no ordering
    // guarantee, so two evaluations could see different 300-row subsets —
    // both sides of the parity check must come from the same collected rows
    val rows = graft.engine.Tables.loadEvents(spark, "/root/testdata/sf0.001")
      .limit(300).select("event_id", "ts", "user_id", "event_type")
      .as[Evt].collect().toSeq
    val batch = graft.operators.Events
      .tumblingCounts(rows.toDF(), "ts", "event_type", "hour")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val mem = MemoryStream[Evt]
    val q = EventStreams.tumblingCounts(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("parity")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("parity").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("batch/streaming parity: sliding counts agree with the batch twin on the fixture events") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val rows = graft.engine.Tables.loadEvents(spark, "/root/testdata/sf0.001")
      .limit(300).select("event_id", "ts", "user_id", "event_type")
      .as[Evt].collect().toSeq
    val batch = graft.operators.Events
      .slidingCounts(rows.toDF(), "ts", "event_type", widthMinutes = 120, slideMinutes = 30)
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2), r.getLong(3))).toSet
    val mem = MemoryStream[Evt]
    val q = EventStreams.slidingCounts(mem.toDF(), "2 hours", "30 minutes")
      .writeStream.format("memory").queryName("sparity")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("sparity").collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2), r.getLong(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("file source: events dropped into a directory flow through the windowed count") {
    import sqlContext.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-src").toString
    val batch1 = Seq(Evt(1, ts(5), 1, "click"), Evt(2, ts(20), 2, "view"))
    batch1.toDF().coalesce(1).write.mode("append").parquet(dir)
    val q = EventStreams.tumblingCounts(
        EventStreams.fromParquetDir(spark, dir), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("filesrc")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("filesrc").count() == 2) // click@h0, view@h0... distinct types
      // drop a second file -> next micro-batch picks it up
      Seq(Evt(3, ts(25), 1, "click")).toDF().coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val clicks = spark.table("filesrc")
        .filter(col("event_type") === "click").select("n").as[Long].collect()
      assert(clicks.toSeq == Seq(2L))
    } finally q.stop()
  }

  test("streaming dedup: duplicate event ids across micro-batches emit once") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Evt]
    val q = EventStreams.dedupEvents(mem.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Evt(1, ts(0), 1, "click"), Evt(1, ts(1), 1, "click"), Evt(2, ts(2), 1, "view"))
      q.processAllAvailable()
      mem.addData(Evt(2, ts(3), 1, "view"), Evt(3, ts(4), 2, "click")) // dup id 2 again
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-stream interval join: same-user pairs within the window, across batches") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[Evt]
    val buys = MemoryStream[Evt]
    val joined = EventStreams.intervalJoin(clicks.toDF(), buys.toDF(), "INTERVAL 5 MINUTES")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(Evt(1, ts(0), 7, "click"), Evt(2, ts(100), 7, "click"))
      buys.addData(Evt(10, ts(3), 7, "purchase"),   // within 5min of click 1
        Evt(11, ts(30), 7, "purchase"),             // matches nothing
        Evt(12, ts(3), 8, "purchase"))              // other user
      q.processAllAvailable()
      buys.addData(Evt(13, ts(104), 7, "purchase")) // second batch joins click 2
      q.processAllAvailable()
      val pairs = spark.table("ssj").select("l_id", "r_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 10L), (2L, 13L)))
    } finally q.stop()
  }

  test("batch/streaming parity: sessionize agrees on sub-second gaps at the 30-minute boundary") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val base = 1700000000000L
    // gaps straddling 30min with millisecond components: 1799.9s (same
    // session), 1800.001s (new session) — a seconds-truncated comparison
    // would misclassify both
    val evts = Seq(
      Evt(1, new Timestamp(base + 100), 7, "click"),
      Evt(2, new Timestamp(base + 100 + 1799900), 7, "click"),         // +1799.900s: same
      Evt(3, new Timestamp(base + 100 + 1799900 + 1800001), 7, "click"), // +1800.001s: new
      Evt(4, new Timestamp(base), 8, "view"))
    val batch = graft.operators.Events
      .sessionize(evts.toDF(), "user_id", "ts", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(4))).toMap

    val mem = MemoryStream[Evt]
    val q = EventStreams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessparity")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(evts)
      q.processAllAvailable()
      val streamed = spark.table("sessparity").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(streamed == batch)
      assert(batch(1L) == batch(2L) && batch(2L) != batch(3L)) // the boundary semantics themselves
    } finally q.stop()
  }

  test("native session_window stats match the batch sessionize+stats twin on fixture events") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    // single collect for both sides (unordered limit — see tumbling parity)
    val rows = graft.engine.Tables.loadEvents(spark, "/root/testdata/sf0.001")
      .limit(300).select("event_id", "ts", "user_id", "event_type")
      .as[Evt].collect().toSeq
    val batch = graft.operators.Events.sessionStats(
        graft.operators.Events.sessionize(rows.toDF(), "user_id", "ts", "event_id"),
        "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3), r.getLong(4))).toSet

    val mem = MemoryStream[Evt]
    val q = EventStreams.sessionWindowStats(mem.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("swstats")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("swstats").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stateful sessionize: per-user gap sessions across micro-batches") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Evt]
    val sess = EventStreams.sessionize(mem.toDS(), gapMinutes = 30)
    val q = sess.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Evt(1, ts(0), 7, "click"), Evt(2, ts(10), 7, "click"))
      q.processAllAvailable()
      mem.addData(Evt(3, ts(50), 7, "click")) // state carried across batches
      q.processAllAvailable()
      // a LATE cross-batch event (before the session tail) joins the live
      // session without rewinding its tail: the next in-order event at
      // +55min is 5min after the tail (event 3 at +50) and must NOT be
      // split into a new session by a rewound lastTs
      mem.addData(Evt(4, ts(45), 7, "click")) // late: session 2's tail is 50
      q.processAllAvailable()
      mem.addData(Evt(5, ts(55), 7, "click"))
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(rows == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 2L), rows.toString)
    } finally q.stop()
  }

  test("upsertSink: streamed CDC records maintain a keyed table via the batch upsert") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val base = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val table = s"$base/t"
    val q = EventStreams.upsertSink(
      mem.toDF().toDF("k", "v", "seq"), table, Seq("k"), "seq", s"$base/ckpt")
    try {
      // batch 1: two inserts + an intra-batch duplicate key (seq 2 wins)
      mem.addData((1L, "a", 1L), (2L, "b", 1L), (1L, "a2", 2L))
      q.processAllAvailable()
      val t1 = spark.read.parquet(table).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(t1 == Map(1L -> "a2", 2L -> "b"))
      // batch 2: update one key, insert another — non-updated key survives
      mem.addData((2L, "b9", 3L), (3L, "c", 3L))
      q.processAllAvailable()
      val t2 = spark.read.parquet(table).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(t2 == Map(1L -> "a2", 2L -> "b9", 3L -> "c"))
      // batch 3: same key AND same seq — the tiebreak is a total order over
      // the remaining columns (desc), so "y" wins deterministically and a
      // replay of this batch would pick the same winner
      mem.addData((4L, "x", 5L), (4L, "y", 5L))
      q.processAllAvailable()
      val t3 = spark.read.parquet(table).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(t3 == Map(1L -> "a2", 2L -> "b9", 3L -> "c", 4L -> "y"))
      // batch 4: a STALE record (seq 1 < the live row's seq 3) from a
      // lagging source partition must not regress the key; the fresh
      // record in the same batch still applies
      mem.addData((2L, "stale", 1L), (5L, "e", 1L))
      q.processAllAvailable()
      val t4 = spark.read.parquet(table).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(t4 == Map(1L -> "a2", 2L -> "b9", 3L -> "c", 4L -> "y", 5L -> "e"),
        s"stale cross-batch record regressed the table: $t4")
    } finally q.stop()
  }

  test("upsertSink with opCol: streamed deletes remove keys; bootstrap batch drops delete-only keys") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft-cdc-del").toString
    val table = s"$base/t"
    val q = EventStreams.upsertSink(
      mem.toDF().toDF("k", "v", "seq", "op"), table, Seq("k"), "seq", s"$base/ckpt",
      opCol = Some("op"))
    try {
      // bootstrap batch: an insert plus a delete of a never-seen key — the
      // delete must not materialize as a row in the new table
      mem.addData((1L, "a", 1L, "I"), (9L, "zz", 1L, "D"))
      q.processAllAvailable()
      val t1 = spark.read.parquet(table).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(t1 == Map(1L -> "a"))
      assert(!spark.read.parquet(table).columns.contains("op"))
      // live batch: insert one, delete key 1; last-record-per-key applies
      // BEFORE ops, so (1,U,seq2) then (1,D,seq3) nets to a delete
      mem.addData((2L, "b", 2L, "U"), (1L, "a2", 2L, "U"), (1L, "x", 3L, "D"))
      q.processAllAvailable()
      val t2 = spark.read.parquet(table).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(t2 == Map(2L -> "b"))
    } finally q.stop()
  }

  test("dropKnownExact: arrivals matching the stored content-hash index drop; fresh content passes") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val corpus = Seq((1L, "known text one"), (2L, "known text two"))
      .toDF("doc_id", "text")
    val index = graft.operators.Dedup.exactGroups(corpus, "doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.dropKnownExact(
        mem.toDF().toDF("doc_id", "text"), index, "text")
      .writeStream.format("memory").queryName("fresh")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Seq((10L, "known text one"), (11L, "brand new text")))
      q.processAllAvailable()
      mem.addData(Seq((12L, "known text two"), (13L, "also new")))
      q.processAllAvailable()
      val kept = spark.table("fresh").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(11L, 13L), kept.toString)
      // schema passes through unchanged (no leaked helper column)
      assert(spark.table("fresh").columns.toSeq == Seq("doc_id", "text"))
    } finally q.stop()
  }

  test("batch/streaming parity: the quality gate applies stored per-stratum cuts identically to the batch gate") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    // cuts trained on a batch corpus: per-lang median length
    val corpus = Seq(
      ("en", 1L, 10L), ("en", 2L, 20L), ("en", 3L, 30L), ("en", 4L, 40L),
      ("de", 5L, 1L), ("de", 6L, 2L), ("de", 7L, 3L)).toDF("lang", "id", "len")
    val cuts = graft.operators.Profile.groupQuantiles(corpus, "lang", "len", Seq(0.5))
      .select(col("lang"), col("p50").as("cut"))
    // arrivals: at/above/below cut per stratum, plus an UNKNOWN stratum
    val arrivals = Seq(
      ("en", 10L, 25L), ("en", 11L, 30L), ("en", 12L, 10L),
      ("de", 13L, 2L), ("de", 14L, 1L),
      ("fr", 15L, 999L)) // no trained cut -> not admitted
    val mem = MemoryStream[(String, Long, Long)]
    val q = DocStreams.qualityGate(
        mem.toDF().toDF("lang", "id", "len"), cuts, "lang", "len")
      .writeStream.format("memory").queryName("gated")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(arrivals.take(3)); q.processAllAvailable()
      mem.addData(arrivals.drop(3)); q.processAllAvailable()
      val kept = spark.table("gated").select("id").as[Long].collect().toSet
      // en median 25 -> keep 25,30; de median 2 -> keep 2; fr dropped
      assert(kept == Set(10L, 11L, 13L), kept.toString)
    } finally q.stop()
  }

  test("batch/streaming parity: DSIR arrivals score bit-identically to the stored-LM batch operator; OOV and empty-text rows behave") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val corpus = Seq(
      (1L, true, "alpha beta gamma alpha beta"),
      (2L, true, "beta gamma alpha gamma"),
      (3L, false, "zebra quokka wombat zebra"),
      (4L, false, "alpha beta gamma"))
      .toDF("doc_id", "is_t", "text")
    val lm = graft.operators.Curation.dsirLm(corpus, "text", col("is_t"))
    // arrivals: in-vocab, mixed, fully OOV, and unscoreable rows
    val arrivals = Seq(
      (10L, "alpha beta zebra"), (11L, "jabberwock vorpal"),
      (12L, "gamma gamma gamma wombat"), (13L, ""), (14L, "   "))
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.dsirScoreArrivals(
        mem.toDF().toDF("doc_id", "text"), lm, "text")
      .writeStream.format("memory").queryName("dsir_scored")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(arrivals.take(2)); q.processAllAvailable()
      mem.addData(arrivals.drop(2)); q.processAllAvailable()
      val got = spark.table("dsir_scored")
        .collect().map(r => r.getLong(0) ->
          (r.getAs[Long]("n_tok"), r.getAs[Double]("dsir_logratio"))).toMap
      // zero-token rows drop, mirroring the batch operator emitting no row
      assert(got.keySet == Set(10L, 11L, 12L), got.toString)
      val batch = graft.operators.Curation.dsirWeightsAgainst(
          arrivals.toDF("doc_id", "text"), "doc_id", "text", lm)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      got.foreach { case (id, (n, s)) =>
        assert(batch(id)._1 == n, s"$id: n_tok $n != ${batch(id)._1}")
        assert(java.lang.Double.compare(batch(id)._2, s) == 0,
          s"$id: $s != ${batch(id)._2}")
      }
    } finally q.stop()
  }

  test("batch/streaming parity: NB arrivals route identically to the stored-model batch classifier, OOV included") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val train = Seq(("A", "x x y"), ("A", "x"), ("B", "z z"))
      .toDF("lang", "text")
    val model = graft.operators.Classify.nbTrain(train, "lang", "text")
    val arrivals = Seq(
      (10L, "x y"), (11L, "z"), (12L, "qq"), (13L, ""), (14L, "z z x"))
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.nbClassifyArrivals(
        mem.toDF().toDF("doc_id", "text"), model, "text")
      .writeStream.format("memory").queryName("nb_routed")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(arrivals.take(2)); q.processAllAvailable()
      mem.addData(arrivals.drop(2)); q.processAllAvailable()
      val got = spark.table("nb_routed")
        .collect().map(r => r.getLong(0) ->
          (r.getAs[Long]("n_tok"), r.getAs[String]("pred_label"),
            r.getAs[Double]("score"))).toMap
      assert(got.keySet == Set(10L, 11L, 12L, 14L), got.toString)
      val batch = graft.operators.Classify.nbClassify(
          arrivals.toDF("doc_id", "text"), "doc_id", "text", model)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getString(2), r.getDouble(3))).toMap
      got.foreach { case (id, (n, l, s)) =>
        assert(batch(id)._1 == n && batch(id)._2 == l,
          s"$id: ($n, $l) != ${batch(id)}")
        assert(java.lang.Double.compare(batch(id)._3, s) == 0,
          s"$id: score $s != ${batch(id)._3}")
      }
    } finally q.stop()
  }

  test("batch/streaming parity: BPE token accounting matches the stored-merges batch apply, OOV and empty rows included") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val train = Seq("ab ab abc", "ab abc").toDF("text")
    val merges = graft.operators.TextAnalysis.bpeMerges(train, "text", 2)
    val arrivals = Seq(
      (10L, "abc abd"), (11L, "xyz"), (12L, ""), (13L, "ab ab ab"))
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.bpeCountArrivals(
        mem.toDF().toDF("doc_id", "text"), merges, "text")
      .writeStream.format("memory").queryName("bpe_counted")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(arrivals.take(2)); q.processAllAvailable()
      mem.addData(arrivals.drop(2)); q.processAllAvailable()
      val got = spark.table("bpe_counted")
        .collect().map(r => r.getLong(0) ->
          (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"))).toMap
      assert(got.keySet == Set(10L, 11L, 13L), got.toString)
      val batch = graft.operators.TextAnalysis.bpeApply(
          arrivals.toDF("doc_id", "text"), "doc_id", "text", merges)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == batch, s"stream $got != batch $batch")
    } finally q.stop()
  }

  test("batch/streaming parity: unigram token accounting matches the stored-vocab batch apply, OOV alphabet included") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val train = Seq("ab ab c", "ab").toDF("text")
    val vocab = graft.operators.TextAnalysis.unigramModel(
      train, "text", vocabSize = 4, iters = 1, maxPieceLen = 2,
      maxCandidates = 10)
    // 'z' is OOV for the stored alphabet — the unk fallback must count
    // it, never drop the word or NULL the sum
    val arrivals = Seq(
      (10L, "ab zc"), (11L, "zzz"), (12L, ""), (13L, "ab ab"))
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.unigramCountArrivals(
        mem.toDF().toDF("doc_id", "text"), vocab, "text", maxPieceLen = 2)
      .writeStream.format("memory").queryName("uni_counted")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(arrivals.take(2)); q.processAllAvailable()
      mem.addData(arrivals.drop(2)); q.processAllAvailable()
      val got = spark.table("uni_counted")
        .collect().map(r => r.getLong(0) ->
          (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"))).toMap
      assert(got.keySet == Set(10L, 11L, 13L), got.toString)
      val batch = graft.operators.TextAnalysis.unigramApply(
          arrivals.toDF("doc_id", "text"), "doc_id", "text", vocab,
          maxPieceLen = 2)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == batch, s"stream $got != batch $batch")
      // the OOV word's pieces: z(unk)+c for doc 10, three unk chars for 11
      assert(got(10L) == ((2L, 3L)) && got(11L) == ((1L, 3L)), got.toString)
    } finally q.stop()
  }

  test("burstEvents: sub-threshold gaps emit with exact micros; first events and slow cadence don't; state spans batches") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Evt]
    val q = EventStreams.burstEvents(mem.toDS(), maxGapMillis = 1000)
      .writeStream.format("memory").queryName("bursts")
      .outputMode(OutputMode.Append()).start()
    try {
      val t0 = 1700000000000L
      def at(ms: Long) = new Timestamp(t0 + ms)
      // user 1: 0ms, 500ms (burst), 10s (not), then next batch 10.4s (burst
      // ACROSS batches); user 2: single event, never emits
      mem.addData(Evt(1, at(0), 1, "c"), Evt(2, at(500), 1, "c"),
        Evt(3, at(10000), 1, "c"), Evt(9, at(0), 2, "c"))
      q.processAllAvailable()
      mem.addData(Evt(4, at(10400), 1, "c"))
      q.processAllAvailable()
      val out = spark.table("bursts")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(out == Map(2L -> 500000L, 4L -> 400000L), out.toString)
    } finally q.stop()
  }

  test("batch/streaming parity: HLL windowed distinct estimates are identical however batches are cut") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val evts = (1 to 200).map { i =>
      Evt(i.toLong, Timestamp.valueOf(f"2025-01-01 ${9 + i % 3}%02d:${i % 60}%02d:00"),
        (i % 37).toLong, "click")
    }
    // batch truth with the same window() bucketing and the same rsd
    val batch = evts.toDF()
      .groupBy(window(col("ts"), "1 hour"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_actors"))
      .select(col("window.start").as("win"), col("approx_actors"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val mem = MemoryStream[Evt]
    val q = EventStreams.tumblingDistinctApprox(mem.toDF(), "user_id")
      .writeStream.format("memory").queryName("hllwin")
      .outputMode(OutputMode.Complete()).start()
    try {
      // uneven batch cuts: the register-max merge must make cut points invisible
      mem.addData(evts.take(13)); q.processAllAvailable()
      mem.addData(evts.slice(13, 140)); q.processAllAvailable()
      mem.addData(evts.drop(140)); q.processAllAvailable()
      val streamed = spark.table("hllwin")
        .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      assert(streamed == batch, s"$streamed vs $batch")
    } finally q.stop()
  }

  test("batch/streaming parity: BM25 arrival scores equal the batch ranker's scores from the same stats") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val terms = Seq("rare", "common")
    val corpus = Seq(
      (1L, "rare common x y"), (2L, "common common common w x y z q"),
      (3L, "common x"), (4L, "x y z")).toDF("doc_id", "text")
    val stats = graft.operators.TextAnalysis.bm25Stats(corpus, "doc_id", "text", terms)
    // batch truth: score every corpus doc (k = corpus size keeps them all)
    val batch = graft.operators.TextAnalysis.bm25Rank(corpus, "doc_id", "text", terms, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.scoreArrivals(
        mem.toDF().toDF("doc_id", "text"), stats, "text", terms)
      .writeStream.format("memory").queryName("bm25s")
      .outputMode(OutputMode.Append()).start()
    try {
      // replay the corpus docs as arrivals, split across micro-batches,
      // plus a NULL-text row that must drop
      mem.addData(Seq((1L, "rare common x y"), (2L, "common common common w x y z q")))
      q.processAllAvailable()
      mem.addData(Seq((3L, "common x"), (4L, "x y z"), (9L, null)))
      q.processAllAvailable()
      val streamed = spark.table("bm25s")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
      // matching docs score identically; the no-hit doc streams with 0.0
      // (the batch RANKER filters it, the stream leaves thresholds to the
      // consumer); NULL text never emits
      assert(batch.forall { case (id, s) => streamed(id) == s }, s"$batch vs $streamed")
      assert(streamed(4L) == 0.0 && !streamed.contains(9L), streamed.toString)
      // schema: original row + score, helper columns dropped
      assert(spark.table("bm25s").columns.toSeq == Seq("doc_id", "text", "score"))
    } finally q.stop()
    // stats trained on REORDERED terms pass the arity check but must fail
    // the in-plan term-identity gate at the first batch — silently scoring
    // one term with another's idf is the failure mode the tag exists for
    val mem2 = MemoryStream[(Long, String)]
    val q2 = DocStreams.scoreArrivals(
        mem2.toDF().toDF("doc_id", "text"), stats, "text", terms.reverse)
      .writeStream.format("memory").queryName("bm25bad")
      .outputMode(OutputMode.Append()).start()
    try {
      mem2.addData(Seq((1L, "rare common")))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(String.valueOf(e.getMessage).contains("trained on terms") ||
        Option(e.getCause).exists(c => String.valueOf(c.getMessage).contains("trained on terms")),
        e.toString)
    } finally q2.stop()
  }

  test("trendingSink: per-batch top-k lands per batch_id, identical to the batch operator on the same rows") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-trend").toString
    val mem = MemoryStream[Evt]
    val q = EventStreams.trendingSink(
      mem.toDF(), s"$base/out", s"$base/ckpt", k = 2)
    try {
      val b1 = Seq(
        Evt(1, ts(0), 1, "view"), Evt(2, ts(1), 1, "view"), Evt(3, ts(2), 2, "view"),
        Evt(4, ts(3), 1, "click"), Evt(5, ts(4), 3, "click"), Evt(6, ts(5), 1, "buy"))
      mem.addData(b1); q.processAllAvailable()
      mem.addData(Evt(7, ts(6), 1, "buy")); q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
      // batch 0: top-2 per window = view(3), click(2); buy(1) cut
      val batch0 = out.filter(col("batch_id") === 0)
        .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n")).toMap
      assert(batch0 == Map("view" -> 3L, "click" -> 2L), batch0.toString)
      // parity: identical to the BATCH operator on the same rows
      val direct = graft.operators.Events.trendingKeys(
        b1.toDF(), "ts", "event_type", "hour", 2)
        .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n")).toMap
      assert(batch0 == direct, s"$batch0 vs $direct")
      // batch 1 landed in its own partition
      assert(out.filter(col("batch_id") === 1).count() == 1)
    } finally q.stop()
  }

  test("seasonalScore: closed hour windows score against stored cells with exact batch parity") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    // baseline: 3 observations of (ts(0)'s dow, hour): counts 10, 10, 22
    // — same numbers as the batch spec: z(22) = (3*22-42)/sqrt(288)
    val weekMin = 7 * 24 * 60
    val batchRows = Seq(0, weekMin, 2 * weekMin).zip(Seq(10, 10, 22)).flatMap {
      case (base, k) => (0 until k).map(i => Evt(base + i, ts(base), 1, "e"))
    }
    val cells = graft.operators.Profile.seasonalCells(batchRows.toDF(), "ts")
    val mem = MemoryStream[Evt]
    val scored = EventStreams.seasonalScore(mem.toDF(), cells)
    val q = scored.writeStream.format("memory").queryName("szn")
      .outputMode(OutputMode.Append()).start()
    try {
      // an hour with 22 events at the same dow/hod, 3 weeks later...
      mem.addData((0 until 22).map(i => Evt(1000 + i, ts(3 * weekMin), 1, "e")))
      q.processAllAvailable()
      // ...then events a week later to push the watermark past it
      mem.addData(Evt(2000, ts(4 * weekMin), 1, "e"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM szn").collect()
      assert(rows.length == 1, rows.mkString(";"))
      val r = rows.head
      assert(r.getAs[Long]("n") == 22 && r.getAs[Long]("k") == 3)
      val zBatch = graft.operators.Profile
        .seasonalAnomaly(batchRows.toDF(), "ts")
        .filter(col("n") === 22).select("z").collect().head.getDouble(0)
      // the streamed hour reproduces the batch z for the same (n, cell)
      assert(r.getAs[Double]("z") == zBatch,
        s"stream z ${r.getAs[Double]("z")} vs batch $zBatch")
    } finally q.stop()
  }

  test("conversionEvents: first conversion emits exact micros lag; pre-view purchases and repeats don't") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventStreams.Evt]
    import EventStreams.Evt
    val q = EventStreams.conversionEvents(mem.toDS(), "view", "purchase")
      .writeStream.format("memory").queryName("conv")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: purchase BEFORE any view (ignored), then view
      // user 2: view only
      mem.addData(
        Evt(1, ts(0), 1, "purchase"), Evt(2, ts(5), 1, "view"),
        Evt(3, ts(1), 2, "view"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM conv").count() == 0)
      // user 1 converts 10 min after the view (cross-batch state); a
      // second purchase must not emit again; user 2 never converts
      mem.addData(Evt(4, ts(15), 1, "purchase"), Evt(5, ts(20), 1, "purchase"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM conv").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("user_id") == 1L)
      assert(rows.head.getAs[Long]("lag_us") == 10L * 60 * 1000000L)
      // batch reconciliation: the batch operator on the same rows agrees
      val all = Seq(Evt(1, ts(0), 1, "purchase"), Evt(2, ts(5), 1, "view"),
        Evt(3, ts(1), 2, "view"), Evt(4, ts(15), 1, "purchase"),
        Evt(5, ts(20), 1, "purchase")).toDF()
      val batch = graft.operators.Events.conversionLag(
        all, "user_id", "ts", "event_type", "view", "purchase").collect()
      assert(batch.length == 1 && batch.head.getAs[Long]("lag_us") ==
        rows.head.getAs[Long]("lag_us"))
    } finally q.stop()
  }

  test("conversionEvents: a same-timestamp to-event converts with lag 0 (batch parity), whatever its id") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventStreams.Evt]
    import EventStreams.Evt
    val q = EventStreams.conversionEvents(mem.toDS(), "view", "purchase")
      .writeStream.format("memory").queryName("convtie")
      .outputMode(OutputMode.Append()).start()
    try {
      // purchase has the SMALLER id at the same instant as the first view
      mem.addData(Evt(1, ts(10), 1, "purchase"), Evt(2, ts(10), 1, "view"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM convtie").collect()
      assert(rows.length == 1 && rows.head.getAs[Long]("lag_us") == 0L)
    } finally q.stop()
  }

  test("countRollupSink rejects a grouping key that resolves to the reserved name 'n'") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventStreams.Evt]
    val e = intercept[IllegalArgumentException] {
      EventStreams.countRollupSink(mem.toDF(),
        Seq(col("user_id").as("n")), "/tmp/never", "/tmp/never-ckpt")
    }
    assert(e.getMessage.contains("reserved column name 'n'"))
  }

  test("countRollupSink: incremental counts equal the batch groupBy however the stream is cut") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-roll").toString
    val mem = MemoryStream[Evt]
    val keys = Seq(
      org.apache.spark.sql.functions.date_trunc("day", col("ts"))
        .as("day"),
      col("event_type"))
    val q = EventStreams.countRollupSink(
      mem.toDF(), keys, s"$base/roll", s"$base/ckpt")
    try {
      val b1 = Seq(Evt(1, ts(0), 1, "view"), Evt(2, ts(1), 1, "view"),
        Evt(3, ts(2), 2, "click"))
      val b2 = Seq(Evt(4, ts(3), 1, "view"), Evt(5, ts(4), 3, "buy"))
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val stored = spark.read.parquet(s"$base/roll").drop("last_batch_id")
        .orderBy("day", "event_type").collect()
      val direct = (b1 ++ b2).toDF().groupBy(keys: _*)
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .orderBy("day", "event_type").collect()
      assert(stored.map(_.toString).toSeq == direct.map(_.toString).toSeq,
        s"stored=${stored.mkString(";")} direct=${direct.mkString(";")}")
    } finally q.stop()
  }

  test("countRollupSink adopts a batch-seeded table (no last_batch_id): merges instead of dying") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-seed").toString
    val keys = Seq(col("event_type"))
    // a BATCH-written rollup (the documented batch->streaming handoff):
    // same shape as the maintained table, but no last_batch_id column
    Seq(("view", 5L), ("click", 2L)).toDF("event_type", "n")
      .write.parquet(s"$base/roll")
    val mem = MemoryStream[Evt]
    val q = EventStreams.countRollupSink(
      mem.toDF(), keys, s"$base/roll", s"$base/ckpt")
    try {
      mem.addData(Seq(Evt(1, ts(0), 1, "view"), Evt(2, ts(1), 2, "buy")))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/roll")
        .select("event_type", "n").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // seeded counts merged with the batch, not replaced or crashed on
      assert(got == Map("view" -> 6L, "click" -> 2L, "buy" -> 1L), got.toString)
      // the replay-guard column appears on the first streaming publish
      assert(spark.read.parquet(s"$base/roll").columns.contains("last_batch_id"))
    } finally q.stop()
  }

  test("zoneMapSink: incremental zone map equals the batch operator however the stream is cut") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-zm").toString
    val mem = MemoryStream[Evt]
    val zone = org.apache.spark.sql.functions.floor(col("event_id") / 10)
      .cast("long")
    val q = EventStreams.zoneMapSink(
      mem.toDF(), zone, "ts", s"$base/zm", s"$base/ckpt")
    try {
      // batch 1: zone 0 partially, zone 1 fully
      mem.addData((1L to 15L).map(i => Evt(i, ts(i.toInt), 1, "e")))
      q.processAllAvailable()
      // batch 2: rest of zone 0's range replays later event times + zone 2
      mem.addData((16L to 25L).map(i => Evt(i, ts(i.toInt), 1, "e")))
      q.processAllAvailable()
      val storedTable = spark.read.parquet(s"$base/zm")
      val stored = storedTable.drop("last_batch_id")
        .orderBy("zone").collect()
      // parity: the batch operator over ALL rows
      val all = (1L to 25L).map(i => Evt(i, ts(i.toInt), 1, "e")).toDF()
      val direct = graft.operators.Profile.zoneMap(all, zone, "ts")
        .orderBy("zone").collect()
      assert(stored.map(_.toString).toSeq == direct.map(_.toString).toSeq,
        s"stored=${stored.mkString(";")} direct=${direct.mkString(";")}")
      // the replay guard rides the table atomically: latest applied batch id
      assert(storedTable.select(max(col("last_batch_id"))).head.getLong(0) == 1L)
      // and the skip audit over the STORED table prunes the early zone
      val skippable = spark.read.parquet(s"$base/zm")
        .filter(col("v_max") < org.apache.spark.sql.functions.lit(ts(12)))
        .collect()
      assert(skippable.length == 1 && skippable.head.getAs[Long]("zone") == 0L)
    } finally q.stop()
  }

  test("psiDriftSink: batch-identical distributions score ~0, a shifted batch crosses the retrain bar") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val ref = (1 to 100).map(i => Tuple1(i.toDouble)).toDF("v")
    val mem = MemoryStream[Double]
    val q = EventStreams.psiDriftSink(
      mem.toDF().toDF("v"), ref, "v", s"$base/out", s"$base/ckpt")
    try {
      mem.addData((1 to 100).map(_.toDouble)) // same distribution
      q.processAllAvailable()
      mem.addData((1 to 100).map(i => 1000.0 + i)) // hard shift
      q.processAllAvailable()
      // batch_id is a PARTITION column (per-batch overwrite = replay
      // idempotence) surfaced by discovery
      val rows = spark.read.parquet(s"$base/out")
        .collect().map(r => r.getAs[Number]("batch_id").longValue() ->
          (r.getAs[Long]("n_rows"), r.getAs[Double]("psi"))).toMap
      assert(rows.size == 2, rows.toString)
      val (sameN, samePsi) = rows(rows.keys.min)
      val (shiftN, shiftPsi) = rows(rows.keys.max)
      assert(sameN == 100L && samePsi == 0.0, s"identical batch scored $samePsi")
      assert(shiftN == 100L && shiftPsi > 0.25, s"shifted batch scored only $shiftPsi")
    } finally q.stop()
  }

  test("upsertSink with opCol: tombstones stop a stale pre-delete upsert from resurrecting a deleted key") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft-cdc-tomb").toString
    val table = s"$base/t"
    val q = EventStreams.upsertSink(
      mem.toDF().toDF("k", "v", "seq", "op"), table, Seq("k"), "seq", s"$base/ckpt",
      opCol = Some("op"))
    def liveMap() = spark.read.parquet(table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    try {
      mem.addData((1L, "a", 1L, "I"), (2L, "b", 1L, "I"))
      q.processAllAvailable()
      // delete key 1 at seq 3: row gone, tombstone (1, 3) recorded
      mem.addData((1L, "x", 3L, "D"))
      q.processAllAvailable()
      assert(liveMap() == Map(2L -> "b"))
      val tomb = spark.read.parquet(s"$table.tombstones").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(tomb == Map(1L -> 3L), s"tombstone table: $tomb")
      // a lagging partition delivers the PRE-delete upsert (seq 2 < 3):
      // without tombstones this passes the freshness check (no live row)
      // and resurrects the key — the tombstone must drop it
      mem.addData((1L, "ghost", 2L, "U"))
      q.processAllAvailable()
      assert(liveMap() == Map(2L -> "b"), "stale pre-delete upsert resurrected the key")
      // a genuinely newer upsert (seq 4 > 3) recreates the key and clears
      // its tombstone
      mem.addData((1L, "reborn", 4L, "U"))
      q.processAllAvailable()
      assert(liveMap() == Map(1L -> "reborn", 2L -> "b"))
      val tomb2 = spark.read.parquet(s"$table.tombstones").count()
      assert(tomb2 == 0L, "recreated key left its tombstone behind")
      // after recreation the LIVE seq watermark (4) takes over stale defense
      mem.addData((1L, "ghost2", 2L, "U"))
      q.processAllAvailable()
      assert(liveMap() == Map(1L -> "reborn", 2L -> "b"))
    } finally q.stop()
  }

  test("upsertSink with opCol: bootstrap-batch deletes tombstone never-seen keys") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft-cdc-tomb0").toString
    val table = s"$base/t"
    val q = EventStreams.upsertSink(
      mem.toDF().toDF("k", "v", "seq", "op"), table, Seq("k"), "seq", s"$base/ckpt",
      opCol = Some("op"))
    try {
      // bootstrap: the delete of a never-seen key lands no row but DOES
      // tombstone, so the key's stale pre-delete upsert arriving later
      // cannot create it
      mem.addData((1L, "a", 5L, "I"), (9L, "zz", 7L, "D"))
      q.processAllAvailable()
      mem.addData((9L, "late", 6L, "U"))
      q.processAllAvailable()
      val t = spark.read.parquet(table).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(t == Map(1L -> "a"), s"bootstrap delete failed to tombstone: $t")
    } finally q.stop()
  }

  test("batch/streaming parity: copied-span candidates vs a stored fingerprint index match the batch join") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val copy = "The quick brown fox jumps over the lazy dog tonight"
    val corpus = Seq(
      (100L, s"corpus preamble $copy corpus epilogue"),
      (101L, "a wholly different corpus document with its own words")
    ).toDF("doc_id", "text")
    val index = graft.operators.Dedup.winnowFingerprints(
      corpus, "doc_id", "text", k = 8, w = 4)
    val arrivals = Seq(
      (1L, s"new arrival quoting: $copy"),        // shares the copied span
      (2L, "nothing in common with anything"),
      (3L, "xx"))                                 // under k: no fingerprints
    // batch twin: same fingerprints, same join
    val batchPairs = graft.operators.Dedup.winnowFingerprints(
        arrivals.toDF("doc_id", "text"), "doc_id", "text", k = 8, w = 4)
      .toDF("new_id", "h")
      .join(index.toDF("corpus_id", "h"), Seq("h"))
      .select("new_id", "corpus_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val mem = MemoryStream[(Long, String)]
    val cand = DocStreams.substringDupCandidates(
      mem.toDF().toDF("doc_id", "text"), index, "doc_id", "text", k = 8, w = 4)
    val q = cand.writeStream.format("memory").queryName("spancand")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(arrivals.take(1)); q.processAllAvailable()
      mem.addData(arrivals.drop(1)); q.processAllAvailable()
      val streamed = spark.table("spancand")
        .select("new_id", "corpus_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batchPairs, s"streamed $streamed vs batch $batchPairs")
      assert(batchPairs.contains((1L, 100L)), "the quoted span must link 1 -> 100")
      assert(!batchPairs.exists(p => p._1 == 2L || p._1 == 3L))
    } finally q.stop()
  }

  test("batch/streaming parity: media near-dup candidates vs a stored signature index match the batch join") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val rng = new scala.util.Random(23)
    def blob(n: Int) = Array.fill[Byte](n)(rng.nextInt(256).toByte)
    val original = blob(400)
    val corpus = Seq((100L, original), (101L, blob(400)))
      .toDF("media_id", "content")
    val index = graft.operators.MultiModal.mediaSignatureIndex(
      corpus, "media_id", "content", blockSize = 8, gramLen = 7, maxGramDf = 20)
    val arrivals = Seq(
      (1L, "HDR99".getBytes ++ original ++ "TRAILER".getBytes), // re-encoding
      (2L, blob(400)),                                           // unrelated
      (3L, blob(10)))                                            // sig < gramLen
    // batch twin: same signatures, same index, same join (pre-threshold)
    val batchPairs = graft.operators.MultiModal.mediaNearDupAgainst(
        arrivals.toDF("media_id", "content"), index, "media_id", "content",
        blockSize = 8, gramLen = 7, minShared = 1)
      .select("new_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mem = MemoryStream[(Long, Array[Byte])]
    val cand = DocStreams.mediaNearDupCandidates(
      mem.toDF().toDF("media_id", "content"), index, "media_id", "content",
      blockSize = 8, gramLen = 7)
    val q = cand.writeStream.format("memory").queryName("mediacand")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(arrivals.take(1)); q.processAllAvailable()
      mem.addData(arrivals.drop(1)); q.processAllAvailable()
      val streamed = spark.table("mediacand")
        .select("new_id", "corpus_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batchPairs, s"streamed $streamed vs batch $batchPairs")
      assert(batchPairs.contains((1L, 100L)), "the re-encoding must link 1 -> 100")
      assert(!batchPairs.exists(p => p._1 == 2L || p._1 == 3L), batchPairs.toString)
    } finally q.stop()
  }

  test("stripArrivalsSink: arriving docs land stripped against the stored corpus, batch-cut-invariant") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val span = "QWERTYUIOPASDFGHJKLZ"
    val corpus = Seq(
      (1L, "abcd efgh ijkl." + span + ".mnop qrst"),
      (2L, "wholly unrelated corpus doc text"))
      .toDF("doc_id", "text")
    val fps = graft.operators.Dedup.winnowFingerprints(
      corpus, "doc_id", "text", k = 4, w = 2)
    val grams = corpus
      .select(col("doc_id").as("id"),
        explode(graft.plans.WinnowMinima.minima(col("text"), 4, 1)).as("h"))
    val arrivals = Seq(
      (10L, "0123 4567-" + span + "_8901 2345"), // loses the span
      (11L, "nothing shared here at all"),        // untouched
      (12L, "zz"))                                // under k: untouched
    val table = java.nio.file.Files.createTempDirectory("strip-sink").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("strip-ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.stripArrivalsSink(
      mem.toDF().toDF("doc_id", "text"), fps, grams, "doc_id", "text",
      table, ckpt, k = 4, w = 2, minShared = 2)
    try {
      // two batch cuts: the strip is per-document against static indexes,
      // so the cut cannot change any output row
      mem.addData(arrivals.take(1)); q.processAllAvailable()
      mem.addData(arrivals.drop(1)); q.processAllAvailable()
      val out = spark.read.parquet(table)
      assert(out.columns.contains("batch_id"), "partition column must surface")
      val got = out.collect()
        .map(r => (r.getAs[Long]("doc_id") ->
          (r.getAs[String]("text"), r.getAs[Long]("n_removed")))).toMap
      val ref = graft.operators.Dedup.stripAgainstCorpus(
        arrivals.toDF("doc_id", "text"), fps, grams, "doc_id", "text",
        k = 4, w = 2, minShared = 2)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(got == ref, s"streamed $got vs batch $ref")
      assert(got(10L) == ("0123 4567-" + "_8901 2345", span.length.toLong))
      assert(got(11L)._2 == 0L && got(12L)._2 == 0L)
    } finally q.stop()
  }

  test("decontamArrivalsSink: arrivals decontaminated + gated identically to the batch stage, id collisions strip") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val span = "QWERTYUIOPASDFGHJKLZ"
    val benchmark = Seq(
      (10L, "eval set item one." + span + ".eval tail"),
      (2L, "another held-out benchmark document"))
      .toDF("doc_id", "text")
    val benchFps = graft.operators.Dedup.winnowFingerprints(
      benchmark, "doc_id", "text", k = 4, w = 2)
    val benchGrams = benchmark
      .select(col("doc_id").as("id"),
        explode(graft.plans.WinnowMinima.minima(col("text"), 4, 1)).as("h"))
    val arrivals = Seq(
      // loses the span but keeps enough to pass the 20-char gate
      (10L, "0123 4567 89ab cdef-" + span + "_0123 4567 89ab cdef"),
      // id 2 collides with a benchmark id AND is a full leak: the
      // cross-dataset contract must strip it to nothing -> kept 0
      (2L, "another held-out benchmark document"),
      (11L, "clean arrival passes through byte-identical"))
    val table = java.nio.file.Files.createTempDirectory("dc-sink").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("dc-ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.decontamArrivalsSink(
      mem.toDF().toDF("doc_id", "text"), benchFps, benchGrams,
      "doc_id", "text", table, ckpt,
      k = 4, w = 2, minShared = 2, minCharsAfter = 20)
    try {
      // two batch cuts: per-document against static indexes, so the cut
      // cannot change any output row
      mem.addData(arrivals.take(1)); q.processAllAvailable()
      mem.addData(arrivals.drop(1)); q.processAllAvailable()
      val out = spark.read.parquet(table)
      assert(out.columns.contains("batch_id"), "partition column must surface")
      val got = out.collect()
        .map(r => (r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("text"), r.getAs[Long]("n_removed"),
            r.getAs[Int]("kept"))))).toMap
      val ref = graft.operators.Curation.decontaminate(
        arrivals.toDF("doc_id", "text"), benchmark, "doc_id", "text",
        k = 4, w = 2, minShared = 2, minCharsAfter = 20)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getInt(3)))).toMap
      assert(got == ref, s"streamed $got vs batch $ref")
      assert(got(10L) ==
        (("0123 4567 89ab cdef-" + "_0123 4567 89ab cdef",
          span.length.toLong, 1)))
      assert(got(2L) == (("", 35L, 0)))  // the same-id leak fully strips
      assert(got(11L)._2 == 0L && got(11L)._3 == 1)
    } finally q.stop()
  }

  test("stripArrivalsSink releases its persisted capped index when the query terminates") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val span = "QWERTYUIOPASDFGHJKLZ"
    val corpus = Seq((1L, "abcd efgh ijkl." + span + ".mnop qrst")).toDF("doc_id", "text")
    val fps = graft.operators.Dedup.winnowFingerprints(
      corpus, "doc_id", "text", k = 4, w = 2)
    val grams = corpus.select(col("doc_id").as("id"),
      explode(graft.plans.WinnowMinima.minima(col("text"), 4, 1)).as("h"))
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    // both capped-index sinks strip through a per-batch partner-pair
    // checkpoint; the corpus doubles as the benchmark index for decontam
    val sinks = Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.streaming.StreamingQuery)](
      "stripArrivalsSink" -> (s => DocStreams.stripArrivalsSink(
        s, fps, grams, "doc_id", "text", tmp("strip-rel") + "/t",
        tmp("strip-rel-ckpt"), k = 4, w = 2, minShared = 2)),
      "decontamArrivalsSink" -> (s => DocStreams.decontamArrivalsSink(
        s, fps, grams, "doc_id", "text", tmp("decontam-rel") + "/t",
        tmp("decontam-rel-ckpt"), k = 4, w = 2, minShared = 2)))
    for ((name, start) <- sinks) {
      // other suites share the session: assert on the RDDs THIS query
      // registers, not on a globally empty registry
      val (perBatch, leaked) = persistedBy {
        val mem = MemoryStream[(Long, String)]
        val q = start(mem.toDF().toDF("doc_id", "text"))
        try {
          // every arrival pairs with the corpus, so every micro-batch
          // really strips through its partner-pair checkpoint
          (10L to 12L).map { id =>
            persistedBy {
              mem.addData(Seq((id, s"0123 4567-$span-8901 $id")))
              q.processAllAvailable()
            }._2
          }
        } finally {
          q.stop()
          q.awaitTermination()
          // the termination event rides the async listener bus: drain it
          // so the listener has released the capped index
          org.apache.spark.graftshim.ListenerShim.waitUntilEmpty(spark.sparkContext)
        }
      }
      // the first batch materializes the persisted capped index and nothing
      // else; later batches register nothing — no per-batch checkpoint
      // outlives its micro-batch
      assert(perBatch.head.size == 1, s"$name: first batch kept ${perBatch.head}")
      assert(perBatch.tail.forall(_.isEmpty), s"$name: later batches kept ${perBatch.tail}")
      assert(leaked.isEmpty,
        s"$name: capped index still cached after termination: ${leaked.mkString(", ")}")
    }
  }

  test("batch/streaming parity: near-dup candidates vs a stored band index agree with minhashCandidatesAgainst") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    // corpus: hashed once into a static band index (the 100 TB steady state)
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "an entirely different document about spark engines"),
      (102L, "short")).toDF("doc_id", "text")
    val index = graft.operators.Dedup.minhashBands(corpus, "doc_id", "text")
    // new batches: one exact dup of 100, one unrelated, one dup of 101
    val arrivals = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "unrelated text that matches nothing in the corpus today"),
      (3L, "an entirely different document about spark engines"))
    val batchPairs = graft.operators.Dedup.minhashCandidatesAgainst(
        graft.operators.Dedup.minhashBands(arrivals.toDF("doc_id", "text"), "doc_id", "text"),
        index)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val mem = MemoryStream[(Long, String)]
    val cand = DocStreams.nearDupCandidates(
      mem.toDF().toDF("doc_id", "text"), index, "doc_id", "text")
    val q = cand.writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append()).start()
    try {
      // split across two micro-batches: the stream-static join is stateless,
      // so each batch matches independently
      mem.addData(arrivals.take(1)); q.processAllAvailable()
      mem.addData(arrivals.drop(1)); q.processAllAvailable()
      val streamed = spark.table("neardup")
        .select("new_id", "corpus_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batchPairs, s"streamed $streamed vs batch $batchPairs")
      assert(batchPairs.contains((1L, 100L)) && batchPairs.contains((3L, 101L)))
      assert(!batchPairs.exists(_._1 == 2L))
    } finally q.stop()
  }

  test("batch/streaming parity: boilerplate strip vs a stored segment index agrees with the batch strip") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val corpus = Seq(
      (1L, "BANNER\ncontent one\nFOOTER"),
      (2L, "BANNER\ncontent two\nFOOTER"),
      (3L, "BANNER\nthird text\nFOOTER")).toDF("doc_id", "text")
    val idx = graft.operators.Dedup.frequentSegments(
      corpus, "doc_id", "text", sep = "\n", maxDocFreq = 2)
    val arrivals = Seq(
      (10L, "BANNER\nfresh arrival\nFOOTER"),
      (11L, "no boilerplate at all"),
      (12L, "FOOTER\nBANNER")) // all boilerplate -> empty text
    val batchOut = graft.operators.Dedup.stripSegmentsMapSide(
        arrivals.toDF("doc_id", "text"), "text", idx, sep = "\n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.stripBoilerplate(
        mem.toDF().toDF("doc_id", "text"), idx, "text", sep = "\n")
      .writeStream.format("memory").queryName("stripped")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(arrivals.take(1)); q.processAllAvailable()
      mem.addData(arrivals.drop(1)); q.processAllAvailable()
      val streamed = spark.table("stripped")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batchOut, s"streamed $streamed vs batch $batchOut")
      assert(streamed(10L) == "fresh arrival")
      assert(streamed(11L) == "no boilerplate at all")
      assert(streamed(12L) == "")
    } finally q.stop()
  }

  test("upsertSink: unorderable non-key column fails eagerly at construction") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    // a MapType column cannot participate in the replay-deterministic
    // tiebreak sort — the sink must refuse at construction with the column
    // named, not blow up inside the first micro-batch
    val withMap = mem.toDF().toDF("k", "v", "seq")
      .withColumn("m", org.apache.spark.sql.functions.map(col("v"), col("v")))
    val ex = intercept[IllegalArgumentException] {
      EventStreams.upsertSink(withMap, "/tmp/graft-never", Seq("k"), "seq", "/tmp/graft-never-ckpt")
    }
    assert(ex.getMessage.contains("m: map<string,string>"))
  }

  test("upsertSink: unorderable seqCol/key and missing columns also fail eagerly; case-insensitive names classify as key/seq") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    def freshMap() = {
      val mem = MemoryStream[(Long, String, Long)]
      mem.toDF().toDF("k", "v", "seq")
        .withColumn("m", org.apache.spark.sql.functions.map(col("v"), col("v")))
    }
    // a map-typed SEQ column breaks the orderBy exactly like a tiebreak one
    // and must be named at construction, not inside the first micro-batch
    val exSeq = intercept[IllegalArgumentException] {
      EventStreams.upsertSink(freshMap(), "/tmp/graft-never", Seq("k"), "m", "/tmp/graft-never-ckpt")
    }
    assert(exSeq.getMessage.contains("m: map<string,string>"))
    // a map-typed KEY breaks Window.partitionBy and the merge join
    val exKey = intercept[IllegalArgumentException] {
      EventStreams.upsertSink(freshMap(), "/tmp/graft-never", Seq("m"), "seq", "/tmp/graft-never-ckpt")
    }
    assert(exKey.getMessage.contains("m: map<string,string>"))
    // a key/seq name that resolves to nothing fails with the name spelled out
    val mem2 = MemoryStream[(Long, String, Long)]
    val plain = mem2.toDF().toDF("k", "v", "seq")
    val exMissing = intercept[IllegalArgumentException] {
      EventStreams.upsertSink(plain, "/tmp/graft-never", Seq("nope"), "seq", "/tmp/graft-never-ckpt")
    }
    assert(exMissing.getMessage.contains("'nope' not found"))
    // differently-cased key/seq names resolve (Spark's default analysis is
    // case-insensitive) and the sink still upserts correctly end-to-end:
    // the last record per key must win, proving "K"/"SEQ" were classified
    // as key/seq and not demoted to tiebreak columns
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-ci").toString
    val mem3 = MemoryStream[(Long, String, Long)]
    val q = EventStreams.upsertSink(mem3.toDF().toDF("k", "v", "seq"),
      s"$dir/table", Seq("K"), "SEQ", s"$dir/ckpt")
    try {
      mem3.addData((1L, "old", 1L), (1L, "new", 2L), (2L, "only", 1L))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/table")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows == Map(1L -> "new", 2L -> "only"))
      // a SECOND batch exercises the steady-state Ops.upsert path, where
      // an unresolved "K" would survive dataCols filtering as a duplicate
      // key column and kill the stream (the bootstrap batch never merges)
      mem3.addData((2L, "upd", 2L), (3L, "ins", 1L))
      q.processAllAvailable()
      val rows2 = spark.read.parquet(s"$dir/table")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows2 == Map(1L -> "new", 2L -> "upd", 3L -> "ins"))
    } finally q.stop()
    // same for the CDC path: differently-cased key/seq/op across TWO
    // batches (the second one drives Ops.applyCdc's exact-name op lookup)
    val mem4 = MemoryStream[(Long, String, Long, String)]
    val dir2 = java.nio.file.Files.createTempDirectory("graft-upsert-ci2").toString
    val q2 = EventStreams.upsertSink(mem4.toDF().toDF("k", "v", "seq", "op"),
      s"$dir2/table", Seq("K"), "SEQ", s"$dir2/ckpt", opCol = Some("OP"))
    try {
      mem4.addData((1L, "a", 1L, "I"), (2L, "b", 1L, "I"))
      q2.processAllAvailable()
      mem4.addData((1L, "x", 2L, "D"), (3L, "c", 2L, "I"))
      q2.processAllAvailable()
      val rows3 = spark.read.parquet(s"$dir2/table")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows3 == Map(2L -> "b", 3L -> "c"))
    } finally q2.stop()
  }

  test("ivfPqIngestSink: streamed arrivals encode bit-identically to the batch appender however batches are cut; stored search reads base+delta") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    // 4 loose clusters of deterministic 16-dim vectors
    def vec(i: Int): Array[Double] = Array.tabulate(16)(j =>
      math.sin(i * 7.0 + j * 3.0) + (if (j % 4 == i % 4) 2.0 else 0.0))
    val all = (0 until 40).map(i => (i.toLong, vec(i)))
    val base = all.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
    val arrivals = all.filter(_._1 % 2 == 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-ing").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val streamIdx = s"$dir/stream"
    val batchIdx = s"$dir/batch"
    try {
      // two identical base indexes (deterministic hash-seeded training)
      Seq(streamIdx, batchIdx).foreach(p =>
        graft.operators.Similarity.writeIvfPqIndex(base, "vec_id",
          "embedding", p, nLists = 4, lloydIters = 1, m = 4, ksub = 8,
          pqIters = 1))
      val mem = MemoryStream[(Long, Array[Double])]
      val q = DocStreams.ivfPqIngestSink(
        mem.toDF().toDF("vec_id", "embedding"), streamIdx,
        "vec_id", "embedding", s"$dir/ckpt")
      try {
        mem.addData(arrivals.take(10)); q.processAllAvailable()
        mem.addData(arrivals.drop(10)); q.processAllAvailable()
      } finally q.stop()
      graft.operators.Similarity.appendIvfPqIndex(spark, batchIdx,
        arrivals.toDF("vec_id", "embedding"), "vec_id", "embedding")
      def rows(p: String, oddOnly: Boolean) = {
        val df = spark.read.parquet(p).select("n_id", "cell", "codes")
        (if (oddOnly) df.filter(col("n_id") % 2 === 1) else df)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
      }
      // delta rows == the batch appender's rows, though the stream saw
      // the arrivals in two cuts and the appender in one
      val streamed = rows(s"$streamIdx/ingest.parquet", oddOnly = false)
      val appended = rows(s"$batchIdx/index.parquet", oddOnly = true)
      assert(streamed == appended, "delta must equal the batch append")
      // each micro-batch landed in its own replay-overwritable partition
      assert(spark.read.parquet(s"$streamIdx/ingest.parquet")
        .select("batch_id").distinct().count() == 2)
      // the stored search serves base + delta: with exhaustive probes and
      // shortlist it is exact, so every query (incl. a delta-only odd id)
      // finds itself at rank 1
      val qdf = all.take(4).toDF("vec_id", "embedding")
      val top1 = graft.operators.Similarity.ivfPqStoredTopK(spark,
          streamIdx, all.toDF("vec_id", "embedding"), "vec_id", "embedding",
          qdf, "vec_id", "embedding", k = 3, shortlist = 100, nProbe = 4)
        .filter(col("rank") === 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(top1 == all.take(4).map(t => t._1 -> t._1).toMap, top1.toString)
    } finally fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("ivfPqSweepIngestSink: the per-batch recall-vs-cost curve is bit-equal to the batch sweep over the grown index at that moment") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    def vec(i: Int): Array[Double] = Array.tabulate(16)(j =>
      math.sin(i * 7.0 + j * 3.0) + (if (j % 4 == i % 4) 2.0 else 0.0))
    val all = (0 until 40).map(i => (i.toLong, vec(i)))
    val base = all.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
    val arrivals = all.filter(_._1 % 2 == 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-swp").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idx = s"$dir/idx"
    val out = s"$dir/out"
    val probes = Seq(1, 2, 4)
    val evalQ = all.take(4).toDF("vec_id", "embedding")
    try {
      graft.operators.Similarity.writeIvfPqIndex(base, "vec_id",
        "embedding", idx, nLists = 4, lloydIters = 1, m = 4, ksub = 8,
        pqIters = 1)
      val mem = MemoryStream[(Long, Array[Double])]
      val q = DocStreams.ivfPqSweepIngestSink(
        mem.toDF().toDF("vec_id", "embedding"), idx, "vec_id", "embedding",
        baseCorpus = base, evalQueries = evalQ, k = 3, shortlist = 100,
        probes = probes, outRoot = out, checkpointDir = s"$dir/ckpt")
      try {
        mem.addData(arrivals.take(10)); q.processAllAvailable()
        mem.addData(arrivals.drop(10)); q.processAllAvailable()
      } finally q.stop()
      // one curve per micro-batch, each in its own replayable partition
      assert(spark.read.parquet(s"$out/sweeps")
        .select("batch_id").distinct().count() == 2)
      def curve(df: org.apache.spark.sql.DataFrame) =
        df.select("n_probe", "q_id", "n_id", "rank").collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
          .toSet
      // batch-2 parity: the recorded curve equals the batch sweep over
      // the grown index with the grown re-rank corpus, run NOW
      val recorded = curve(spark.read.parquet(s"$out/sweeps")
        .filter(col("batch_id") === 1))
      val expected = curve(graft.operators.Similarity
        .ivfPqStoredProbeSweep(spark, idx, all.toDF("vec_id", "embedding"),
          "vec_id", "embedding", evalQ, "vec_id", "embedding",
          k = 3, shortlist = 100, probes = probes))
      assert(recorded == expected,
        "streamed sweep must equal the batch sweep at the same moment")
      // the raw arrivals landed beside the curve (the re-rank feed)
      assert(spark.read.parquet(s"$out/vectors").count() == arrivals.size)
      // batch-1's curve was computed over base + first cut only — it
      // must NOT contain any second-cut id (no time travel)
      val secondCut = arrivals.drop(10).map(_._1).toSet
      val firstCurveIds = spark.read.parquet(s"$out/sweeps")
        .filter(col("batch_id") === 0).select("n_id").collect()
        .map(_.getLong(0)).toSet
      assert(firstCurveIds.intersect(secondCut).isEmpty)
    } finally fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("ivfPqIngestSink epoch guard: a rebuild swapping the root mid-stream fails the next batch loudly and lands nothing") {
    import sqlContext.implicits._
    implicit val sq = spark.sqlContext
    def vec(i: Int): Array[Double] = Array.tabulate(16)(j =>
      math.sin(i * 7.0 + j * 3.0) + (if (j % 4 == i % 4) 2.0 else 0.0))
    val all = (0 until 40).map(i => (i.toLong, vec(i)))
    val base = all.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-epg").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idx = s"$dir/idx"
    try {
      graft.operators.Similarity.writeIvfPqIndex(base, "vec_id",
        "embedding", idx, nLists = 4, lloydIters = 1, m = 4, ksub = 8,
        pqIters = 1)
      val mem = MemoryStream[(Long, Array[Double])]
      val q = DocStreams.ivfPqIngestSink(
        mem.toDF().toDF("vec_id", "embedding"), idx,
        "vec_id", "embedding", s"$dir/ckpt")
      try {
        // batch at the captured epoch lands normally
        mem.addData(all.filter(_._1 % 2 == 1).take(5))
        q.processAllAvailable()
        assert(spark.read.parquet(s"$idx/ingest.parquet").count() == 5)
        // a rebuild swaps the root (epoch 1 -> 2, delta dropped) while
        // the sink still holds the epoch-1 model snapshot
        graft.operators.Similarity.writeIvfPqIndex(
          all.toDF("vec_id", "embedding"), "vec_id", "embedding", idx,
          nLists = 4, lloydIters = 1, m = 4, ksub = 8, pqIters = 1)
        mem.addData(all.filter(_._1 % 2 == 1).drop(5))
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          q.processAllAvailable())
        def chain(t: Throwable): Seq[String] =
          if (t == null) Nil
          else String.valueOf(t.getMessage) +: chain(t.getCause)
        assert(chain(ex).exists(_.contains("republished")),
          chain(ex).mkString(" | "))
        // nothing from the stale batch landed in the new root: the
        // rebuild dropped the delta and the failed batch must not
        // recreate it
        assert(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$idx/ingest.parquet")),
          "stale batch must land nothing in the rebuilt root")
      } finally q.stop()
    } finally fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }
}
