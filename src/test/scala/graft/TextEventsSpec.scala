package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{Events, MultiModal, TextAnalysis}

/** Text analysis, batch event ops, and multimodal plumbing. */
class TextEventsSpec extends SparkSpec {
  import sqlContext.implicits._

  test("langId: stopword votes pick the language; no hits -> und; tie -> first profile") {
    val docs = Seq(
      (1L, "the cat and the dog"),       // en
      (2L, "der hund und die katze"),    // de
      (3L, "xyzzy plugh quux"),          // und
      (4L, "la the")                     // 1 en hit vs 1 es/fr hit -> en (first profile wins ties)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withLangId(docs, "text")
      .select("doc_id", "lang_pred").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "und", 4L -> "en"))
    // NULL text classifies as NULL (missing data), never as "und" (a
    // classified language) — und-rate metrics must not count absent text
    val withNull = Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(TextAnalysis.withLangId(withNull, "text")
      .select("lang_pred").head.isNullAt(0))
    // degenerate profile sets construct instead of throwing: no profiles
    // -> everything und (NULL stays NULL); empty stopword list hits nothing
    import org.apache.spark.sql.functions.col
    val noProfiles = docs.select(
      graft.functions.TextFns.langId(col("text"), Seq.empty).as("l"))
      .collect().map(_.getString(0))
    assert(noProfiles.forall(_ == "und"))
    val emptyStopwords = docs.select(
      graft.functions.TextFns.langId(col("text"),
        Seq("en" -> Seq.empty, "de" -> Seq("der"))).as("l"))
      .collect().map(_.getString(0))
    assert(emptyStopwords.count(_ == "de") == 1)
  }

  test("pmiCollocations: hand-computed PMI, min-count floor, deterministic tie order") {
    // corpus: "a b", "a b", "a c" -> unigrams a:3 b:2 c:1 (N1=6),
    // bigrams (a,b):2 (a,c):1 (N2=3)
    // pmi(a,b) = ln((2/3)/((3/6)(2/6))) = ln 4; pmi(a,c) = ln((1/3)/((3/6)(1/6))) = ln 4
    // equal rounded scores -> tiebreak on (w1, w2)
    val docs = Seq("a b", "a b", "a c").toDF("text")
    val got = TextAnalysis.pmiCollocations(docs, "text", minPairCount = 1, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val ln4 = BigDecimal(math.log(4.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(("a", "b", 2L, ln4), ("a", "c", 1L, ln4)), got.mkString(","))
    // the count floor prunes rare pairs before scoring
    val floored = TextAnalysis.pmiCollocations(docs, "text", minPairCount = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(floored.toSeq == Seq(("a", "b")))
  }

  test("vocabCoverage: OOV tokens counted against the reference vocab, rate rounded") {
    val docs = Seq((1L, "a b c"), (2L, "c c")).toDF("doc_id", "text")
    val vocab = Seq("a", "b", "a").toDF("w") // dup collapses via distinct
    val got = TextAnalysis.vocabCoverage(docs, "doc_id", "text", vocab, "w")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(1L -> ((3L, 1L, 0.3333)), 2L -> ((2L, 2L, 1.0))), got)
  }

  test("token stats: bpe-ish regex splits punctuation that whitespace tokens miss") {
    val docs = Seq((1L, "hello, world! 42 end")).toDF("doc_id", "text")
    val r = TextAnalysis.withTokenStats(docs, "text")
      .select("n_tok", "n_distinct", "n_bpeish").collect().head
    assert(r.getLong(0) == 4)      // whitespace tokens: "hello," "world!" "42" "end"
    assert(r.getLong(1) == 4)
    assert(r.getLong(2) == 6)      // hello , world ! 42 end
  }

  test("repetition ratios: duplicated tokens/bigrams raise the scores; short docs score 0") {
    val docs = Seq(
      (1L, "a a a b"),            // 4 toks / 2 distinct -> 0.5; bigrams [a a, a a, a b] -> 1-2/3
      (2L, "w x y z"),            // all unique -> 0.0, 0.0
      (3L, "solo")                // 1 token -> 0.0; no bigrams -> 0.0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withRepetition(docs, "text")
      .select("doc_id", "dup_token_ratio", "dup_bigram_ratio")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((0.5, 0.3333)))
    assert(out(2L) == ((0.0, 0.0)))
    assert(out(3L) == ((0.0, 0.0)))
  }

  test("funnelConversion: rates are step-over-previous-step; step 1 NULL; zero reach yields NULL not Inf") {
    val t0 = Timestamp.valueOf("2025-01-01 09:00:00")
    def at(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    // users 1,2 view; only user 1 clicks in-window; nobody purchases
    val evts = Seq(
      (1L, "view", at(0)), (2L, "view", at(0)),
      (1L, "click", at(5)),
      (9L, "click", at(0))) // click without a view: never in the funnel
      .toDF("user_id", "event_type", "ts")
    val out = Events.funnelConversion(evts, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), windowMinutes = 60)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(1) == (2L, None), out.toString)
    assert(out(2) == (1L, Some(0.5)), out.toString)
    assert(out(3) == (0L, Some(0.0)), out.toString)
    // a zero-reach PREDECESSOR produces NULL (0/0), never Inf: add a step
    // after the empty purchase step
    val out4 = Events.funnelConversion(evts, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase", "refund"), 60)
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out4(4).isEmpty, out4.toString)
  }

  test("langConfusion: diagonal hits flagged; misclassified and NULL rows surface") {
    val docs = Seq(
      (1L, "en", "the cat and the dog"),     // correct
      (2L, "en", "the cat and the dog"),     // correct
      (3L, "de", "the dog"),                 // declared de, classified en
      (4L, "fr", "xyzzy plugh"),             // classified und
      (5L, "en", null.asInstanceOf[String])  // NULL prediction row
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.langConfusion(docs, "lang", "text")
      .collect().map(r => (r.getString(0), Option(r.getString(1))) ->
        (r.getLong(2), r.getInt(3))).toMap
    assert(out(("en", Some("en"))) == (2L, 1), out.toString)
    assert(out(("de", Some("en"))) == (1L, 0), out.toString)
    assert(out(("fr", Some("und"))) == (1L, 0), out.toString)
    assert(out(("en", None)) == (1L, 0), out.toString)
  }

  test("interarrivalStats: hand-computed gaps in micros; single-event actors drop; ties break on id") {
    val t0 = Timestamp.valueOf("2025-01-01 09:00:00")
    def at(us: Long) = new Timestamp(t0.getTime + us / 1000) // ms precision input
    val evts = Seq(
      (1L, 1L, at(0L)), (2L, 1L, at(10000000L)), (3L, 1L, at(40000000L)), // gaps 10s, 30s
      (4L, 2L, at(0L)),                                                   // one event: no gaps
      (5L, 3L, at(0L)), (6L, 3L, at(0L))                                  // same ts: gap 0, id-tiebreak
    ).toDF("event_id", "user_id", "ts")
    val out = Events.interarrivalStats(evts, "ts", "user_id", "event_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    // quantiles in ms (10s/30s gaps -> p50 20000ms), max in exact micros
    assert(out(1L)._1 == 2 && out(1L)._2 == 20000.0 && out(1L)._4 == 30000000L, out.toString)
    assert(!out.contains(2L), out.keySet.toString)
    assert(out(3L) == (1L, 0.0, 0.0, 0L), out.toString)
  }

  test("windowDistinct: exact per-hour cardinality; sketch flag holds; guards fire") {
    val ts = (h: Int, m: Int) => Timestamp.valueOf(f"2025-01-01 $h%02d:$m%02d:00")
    val evts = Seq(
      (ts(9, 0), 1L), (ts(9, 10), 1L), (ts(9, 20), 2L),  // hour 9: users {1,2}
      (ts(10, 5), 3L), (ts(10, 6), 3L))                  // hour 10: {3}
      .toDF("ts", "user_id")
    val out = Events.windowDistinct(evts, "ts", "user_id", "hour")
      .collect().map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getInt(2))).toMap
    assert(out("2025-01-01 09:00:00.0") == (2L, 1), out.toString)
    assert(out("2025-01-01 10:00:00.0") == (1L, 1), out.toString)
    // the at-scale path: emitApprox surfaces the sketch value itself
    val withApprox = Events.windowDistinct(evts, "ts", "user_id", "hour", emitApprox = true)
    assert(withApprox.columns.toSeq == Seq("win", "n_actors", "approx_actors", "sketch_ok"))
    assert(withApprox.collect().forall(r => r.getLong(2) > 0))
    intercept[IllegalArgumentException](
      Events.windowDistinct(evts, "ts", "user_id", "hour", rsd = 0))
  }

  test("sessionize: gap > 30min starts a new session per user; ids deterministic") {
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val events = Seq(
      (1L, ts(0), 7L), (2L, ts(10), 7L), (3L, ts(50), 7L), // user 7: s1,s1,s2
      (4L, ts(0), 8L), (5L, ts(31), 8L)                     // user 8: s1,s2 (31min gap)
    ).toDF("event_id", "ts", "user_id")
    val out = Events.sessionize(events, "user_id", "ts", "event_id")
      .select("event_id", "session_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L))
    val stats = Events.sessionStats(
      Events.sessionize(events, "user_id", "ts", "event_id"), "user_id", "ts")
    assert(stats.count() == 4)
    assert(stats.filter(col("user_id") === 7 && col("session_id") === 1)
      .select("n_events").as[Long].head() == 2)
  }

  test("tfIdfTopTerms: corpus-wide terms score ln(1)=0, rare terms rank first, term breaks ties") {
    val docs = Seq(
      (1L, "shared rare1 rare1"),   // rare1 tf=2
      (2L, "shared rare2"),
      (3L, "shared zeta alpha")     // tie between zeta/alpha -> alpha first
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getString(1), r.getDouble(2))).toMap
    // Round the PRODUCT tf*idf (what the operator and the DuckDB oracle do),
    // not the factor: round(2*ln3) = 2.197225, but 2*round(ln3) = 2.197224.
    val score = (tf: Int) =>
      BigDecimal(tf * math.log(3.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // "shared" appears in every doc: idf = ln(3/3) = 0 -> never beats a rare term
    assert(out((1L, 1)) == ("rare1", score(2)))
    assert(out((2L, 1)) == ("rare2", score(1)))
    assert(out((3L, 1)) == ("alpha", score(1))) // equal score: lexicographic term order
    assert(out((3L, 2)) == ("zeta", score(1)))
  }

  test("trendingKeys: per-window top-k with deterministic tie-break; WindowGroupLimit plan") {
    val ts = (h: Int, m: Int) => Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val events = Seq(
      (ts(1, 0), "a"), (ts(1, 1), "a"), (ts(1, 2), "b"), (ts(1, 3), "b"),
      (ts(1, 4), "c"),                       // hour 1: a=2, b=2, c=1 -> a,b (tie: key asc)
      (ts(2, 0), "z"), (ts(2, 1), "c"), (ts(2, 2), "c") // hour 2: c=2, z=1
    ).toDF("ts", "event_type")
    val top = Events.trendingKeys(events, "ts", "event_type", "hour", k = 2)
    val rows = top.collect()
      .map(r => (r.getTimestamp(0).getHours, r.getAs[String]("event_type"), r.getAs[Int]("rank")))
      .toSet
    assert(rows == Set((1, "a", 1), (1, "b", 2), (2, "c", 1), (2, "z", 2)))
    assert(top.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "per-window rank not group-limit rewritten")
    intercept[IllegalArgumentException](
      Events.trendingKeys(events, "ts", "event_type", "hour", 0))
  }

  test("resampleHourly: interior empty hours fill with 0; spans are per-key") {
    val ts = (h: Int, m: Int) => Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val events = Seq(
      (1L, ts(1, 10)), (1L, ts(1, 50)), (1L, ts(4, 0)), // user 1: hours 1..4, 2+3 empty
      (2L, ts(2, 5))                                    // user 2: single hour
    ).toDF("user_id", "ts")
    val out = Events.resampleHourly(events, "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getHours, r.getLong(2))).toSet
    assert(out == Set((1L, 1, 2L), (1L, 2, 0L), (1L, 3, 0L), (1L, 4, 1L), (2L, 2, 1L)))
  }

  test("multimodal: real header codec parses crafted PNG/JPEG/GIF/WAV bytes; unknown decodes honestly") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // PNG: 8-byte signature, IHDR chunk, width 640 / height 480 big-endian
    val png = bytes(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 0, 0, 0, 13) ++
      "IHDR".getBytes ++ bytes(0, 0, 2, 0x80, 0, 0, 1, 0xe0, 8, 6, 0, 0, 0)
    // JPEG: SOI, an APP0 segment to walk over, then SOF0 with height 256 /
    // width 512 — the parser must skip non-frame segments by their length
    val jpeg = bytes(0xff, 0xd8, 0xff, 0xe0, 0, 16) ++ new Array[Byte](14) ++
      bytes(0xff, 0xc0, 0, 17, 8, 1, 0, 2, 0) ++ new Array[Byte](10)
    // GIF89a logical screen 3x5, little-endian
    val gif = "GIF89a".getBytes ++ bytes(3, 0, 5, 0)
    // WAV: RIFF/WAVE with a 16-byte fmt chunk (blockAlign 4) and a 40-byte
    // data chunk -> 10 sample frames
    val wav = "RIFF".getBytes ++ bytes(0x24, 0, 0, 0) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ bytes(16, 0, 0, 0) ++
      bytes(1, 0, 2, 0, 0x44, 0xac, 0, 0, 0x10, 0xb1, 2, 0, 4, 0, 16, 0) ++
      "data".getBytes ++ bytes(40, 0, 0, 0) ++ new Array[Byte](40)
    val media = Seq(
      MultiModal.Media(1L, "image", png),
      MultiModal.Media(2L, "image", jpeg),
      MultiModal.Media(3L, "image", gif),
      MultiModal.Media(4L, "audio", wav),
      MultiModal.Media(5L, "image", "not a media payload".getBytes)).toDS()
    val f = MultiModal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f(0).format == "png" && f(0).width == 640 && f(0).height == 480 && f(0).n_frames == 1)
    assert(f(1).format == "jpeg" && f(1).width == 512 && f(1).height == 256)
    assert(f(2).format == "gif" && f(2).width == 3 && f(2).height == 5)
    assert(f(3).format == "wav" && f(3).n_frames == 10)
    // undecodable payloads report zeros, never fabricated dimensions
    assert(f(4).format == "unknown" && f(4).width == 0 && f(4).height == 0 && f(4).n_frames == 0)
    // corrupt headers decode honestly and in finite time:
    //  - PNG with the width sign bit set (spec forbids > 2^31-1) -> unknown
    val badPng = bytes(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 0, 0, 0, 13) ++
      "IHDR".getBytes ++ bytes(0x80, 0, 0, 0, 0, 0, 1, 0, 8, 6, 0, 0, 0)
    assert(MultiModal.Codec.decode(MultiModal.Media(90L, "image", badPng)).format == "unknown")
    //  - RIFF chunk whose 32-bit size would int-truncate to a zero step
    //    (0xFFFFFFF8): must terminate, not stall the executor task
    val stallWav = "RIFF".getBytes ++ bytes(0x24, 0, 0, 0) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ bytes(0xf8, 0xff, 0xff, 0xff)
    assert(MultiModal.Codec.decode(MultiModal.Media(91L, "audio", stallWav)).format == "unknown")
    assert(f.forall(x => x.n_bytes > 0 && x.checksum != 0))
    // partitioning never changes features
    val f2 = MultiModal.extractFeatures(media.repartition(4)).collect().sortBy(_.media_id)
    assert(f.toSeq == f2.toSeq)
    // frame sampling strides over decoded frame counts; zero-frame rows drop
    val vids = Seq(
      MultiModal.Media(7L, "video", wav),
      MultiModal.Media(8L, "video", "undecodable".getBytes)).toDS()
    val frames = MultiModal.sampleFrames(MultiModal.extractFeatures(vids).toDF(), stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(frames.map(_._1).forall(_ == 7L))
    assert(frames.map(_._2).sorted.toSeq == Seq(0L, 3L, 6L, 9L))
  }

  test("ngramNovelty: first occurrence owns the shingle; repeats score zero; short docs drop") {
    val docs = Seq(
      (1L, "a b c"),         // "a b c" first here -> novelty 1
      (2L, "a b c"),         // same shingle, later id -> novelty 0
      (3L, "x y z w"),       // both shingles novel -> 1
      (4L, "too short"))     // < 3 tokens: no shingles
      .toDF("doc_id", "text")
    val r = TextAnalysis.ngramNovelty(docs, "doc_id", "text", shingleN = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r == Map(
      1L -> (1L, 1L, 1.0), 2L -> (1L, 0L, 0.0), 3L -> (2L, 2L, 1.0)), r.toString)
    intercept[IllegalArgumentException](
      TextAnalysis.ngramNovelty(docs, "doc_id", "text", 0))
  }

  test("bpeMerges: hand-computed merge sequence, greedy overlap, lexicographic tie-break, early exhaustion") {
    // word freqs ab:3, abc:2 → iter1 (a,b)=3+2=5 beats (b,c)=2; after the
    // merge only (ab,c)=2 remains; iter3 has no pairs left, so nMerges=5
    // stops early with 2 rows
    val docs = Seq("ab ab abc", "ab abc").toDF("text")
    val got = TextAnalysis.bpeMerges(docs, "text", nMerges = 5)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "a", "b", 5L), (2, "ab", "c", 2L)), got.toString)
    // greedy left-to-right non-overlap: "aaa" counts TWO (a,a) positions
    // but the merge consumes the left pair, leaving [aa, a] → (aa, a)=1
    val tri = Seq("aaa").toDF("text")
    val g2 = TextAnalysis.bpeMerges(tri, "text", nMerges = 3)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(g2 == Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)), g2.toString)
    // equal counts break on the binary-lexicographic (left, right) pair
    val ties = Seq("xy yz").toDF("text")
    val g3 = TextAnalysis.bpeMerges(ties, "text", nMerges = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(g3 == Seq(("x", "y", 1L)), g3.toString)
    intercept[IllegalArgumentException](TextAnalysis.bpeMerges(docs, "text", 0))
  }

  test("bpeEncode: per-doc token counts under the learned merges, hand-computed") {
    // merges after nMerges=1: (a,b) only → "ab" tokenizes to [ab] (1),
    // "abc" to [ab, c] (2)
    val docs = Seq((1L, "ab ab abc"), (2L, "ab abc")).toDF("doc_id", "text")
    val one = TextAnalysis.bpeEncode(docs, "doc_id", "text", nMerges = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(one == Map(1L -> (3L, 4L), 2L -> (2L, 3L)), one.toString)
    // with both merges applied every word is ONE token
    val two = TextAnalysis.bpeEncode(docs, "doc_id", "text", nMerges = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(two == Map(1L -> (3L, 3L), 2L -> (2L, 2L)), two.toString)
  }

  test("bpeApply: stored merges tokenize a fresh batch; OOV words char-init and are counted, never dropped") {
    // train on a corpus whose merges are (a,b) then (ab,c)
    val train = Seq("ab ab abc", "ab abc").toDF("text")
    val merges = TextAnalysis.bpeMerges(train, "text", nMerges = 2)
    // batch: "abc" is in-vocab (1 token), "abd" partially fuses ([ab, d]),
    // "xyz" is fully OOV (3 per-char symbols) — bpeEncode's inner join
    // would have dropped it from the counts entirely
    val batch = Seq((10L, "abc abd"), (11L, "xyz")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeApply(batch, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(10L -> (2L, 3L), 11L -> (1L, 3L)), got.toString)
    // empty merge table = character tokenizer, still counts every word
    val none = TextAnalysis.bpeApply(batch, "doc_id", "text",
      merges.filter(col("rank") < 0))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(none == Map(10L -> (2L, 6L), 11L -> (1L, 3L)), none.toString)
    // rank order matters: the kernel must apply (a,b) BEFORE (ab,c)
    val chained = TextAnalysis.bpeApply(
      Seq((1L, "abc")).toDF("doc_id", "text"), "doc_id", "text", merges)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(chained == Seq((1L, 1L)), chained.toString)
    intercept[IllegalArgumentException](
      ReferenceTwins.bpeApplyChain(batch, "doc_id", "text", merges, 0))
  }

  test("bpeApply kernel == replace-chain reference, incl. OOV, repeats, and a merge-output collision") {
    // crafted merge table exercising the subtle scheduling cases:
    //  rank 0: (i, ng)   — input "ng" only exists AFTER rank 1, so this
    //                      merge can never fire sequentially; a naive
    //                      greedy min-rank kernel WOULD fire it on the
    //                      "i·ng" adjacency rank 1 creates ("collision":
    //                      later merges re-create an earlier merge's
    //                      input string)
    //  rank 1: (n, g)    — creates symbol "ng"
    //  rank 2: (ng, o)   — consumes rank 1's output
    //  rank 3: (a, a)    — left-to-right non-overlap on runs ("aaaa")
    //  rank 4: (aa, aa)  — cascades on rank 3's output
    val merges = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(0, "i", "ng"),
        org.apache.spark.sql.Row(1, "n", "g"),
        org.apache.spark.sql.Row(2, "ng", "o"),
        org.apache.spark.sql.Row(3, "a", "a"),
        org.apache.spark.sql.Row(4, "aa", "aa")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("left_sym",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("right_sym",
          org.apache.spark.sql.types.StringType))))
    val batch = Seq(
      (1L, "sing singo ngongo"),  // collision + chained merges
      (2L, "aaaa aaa aaaaa"),     // run semantics, odd/even lengths
      (3L, "zzz unseen"),         // fully OOV
      (4L, "ng ingo going")       // pre-existing "ng" text vs created symbol
    ).toDF("doc_id", "text")
    val kernel = TextAnalysis.bpeApply(batch, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val chain = ReferenceTwins.bpeApplyChain(batch, "doc_id", "text", merges,
        checkpointEvery = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(kernel == chain, s"kernel $kernel != chain $chain")
    // pin the collision case concretely: "sing" = s·i·ng after rank 1;
    // rank 0 (i, ng) must NOT fire (its rank already passed when the
    // "ng" symbol appeared), so "sing" stays 3 tokens
    val sing = TextAnalysis.bpeApply(
        Seq((9L, "sing")).toDF("doc_id", "text"), "doc_id", "text", merges)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(sing == Seq((1L, 3L)), sing.toString)
  }

  test("bpeApply at production vocabulary scale: 50k merges stay ONE projection; non-occurring merges are exact no-ops") {
    // a production-sized merge table: 50,000 merges whose pairs never
    // occur in the batch, with the 5 relevant merges interleaved at
    // ranks spread across the table. The r16 replace chain was one
    // projection PER MERGE (~1,500 checkpointed stages here); the
    // kernel must stay one projection and touch only occurring pairs.
    val relevant = Seq(
      (10, "a", "b"), (25000, "ab", "c"), (25001, "x", "y"),
      (49998, "abc", "d"), (49999, "xy", "z"))
    val filler = (0 until 50000)
      .filterNot(relevant.map(_._1).toSet)
      .map(i => (i, s"§f$i", s"¶g$i")) // symbols no word contains
    val rows = (relevant ++ filler).sortBy(_._1).map { case (r, l, s) =>
      org.apache.spark.sql.Row(r, l, s)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("left_sym",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("right_sym",
        org.apache.spark.sql.types.StringType)))
    import scala.jdk.CollectionConverters._
    val big = spark.createDataFrame(rows.asJava, schema)
    val small = spark.createDataFrame(
      rows.filter(r => relevant.map(_._1).contains(r.getInt(0))).asJava, schema)
    val batch = Seq((1L, "abcd xyz abxy"), (2L, "abcdabcd aaxx"))
      .toDF("doc_id", "text")
    val gotBig = TextAnalysis.bpeApply(batch, "doc_id", "text", big)
    // one kernel projection, zero replace chains, regardless of |merges|
    // (logical plan: the physical string renders the distinct-aggregate's
    // result projection as attribute names only, hiding the expression)
    val plan = gotBig.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_bpe_count"), plan)
    assert(!plan.contains("replace("), plan)
    val a = gotBig.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 49,995 non-occurring merges are no-ops: the full table must answer
    // exactly as the 5-relevant-merge table (same ranks order)
    val b = TextAnalysis.bpeApply(batch, "doc_id", "text", small)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a == b, s"big $a != small $b")
    // and the counts are the hand-derived ones: "abcd"→[abcd] (ranks
    // 10, 25000, 49998 cascade), "xyz"→[xyz] (25001 then 49999),
    // "abxy"→[ab, xy], "abcdabcd"→[abcd, abcd], "aaxx"→[a, a, x, x]
    // (no (a,a)/(x,x) merges)
    assert(a == Map(1L -> (3L, 4L), 2L -> (2L, 6L)), a.toString)
  }

  test("writeBpeModel/readBpeModel: stored tokenizer applies identically; swap recovery restores the prior artifact") {
    val train = Seq("ab ab abc", "ab abc").toDF("text")
    val batch = Seq((10L, "abc abd"), (11L, "xyz")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-model").toString
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      TextAnalysis.writeBpeModel(train, "text", dir, nMerges = 2)
      val stored = TextAnalysis.readBpeModel(spark, dir)
      assert(!new java.io.File(dir + ".tmp").exists &&
        !new java.io.File(dir + ".old").exists, "publish must leave no debris")
      def res(m: org.apache.spark.sql.DataFrame) =
        TextAnalysis.bpeApply(batch, "doc_id", "text", m)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val a = res(stored)
      val b = res(TextAnalysis.bpeMerges(train, "text", nMerges = 2))
      assert(a == b && a.nonEmpty, s"stored $a != in-memory $b")
      // republish (a retrained model), then simulate the crash window:
      // root renamed to .old, second rename never ran — the next read
      // must recover the artifact, merges intact
      TextAnalysis.writeBpeModel(train, "text", dir, nMerges = 1)
      val n1 = TextAnalysis.readBpeModel(spark, dir).count()
      require(fs.rename(root, new org.apache.hadoop.fs.Path(dir + ".old")))
      assert(TextAnalysis.readBpeModel(spark, dir).count() == n1,
        "swap recovery must restore the prior artifact")
    } finally fs.delete(root, true)
  }

  test("bpeMerges: each re-checkpoint frees the one it supersedes — a long run pins no more RDDs than a short one") {
    val df = Seq(
      "the quick brown fox", "the lazy dog sat", "the quick dog ran",
      "a brown fox jumped", "the dog barked").toDF("text")
    // one merge per round and a checkpoint every round: without the release
    // each round would pin one more vocab snapshot for the session
    def pinned(n: Int) = persistedBy(TextAnalysis.bpeMerges(df, "text", n,
      checkpointEvery = 1, mergesPerRound = 1).collect())._2
    val short = pinned(1)
    val long = pinned(12)
    assert(long.size <= short.size, s"short run pinned $short, long run pinned $long")
  }

  test("bpeMerges batched rounds are exactly the sequential merge sequence on interacting corpora") {
    // every adjacent pair shares symbols with the top pair, forcing the
    // batch down to size 1 each round — and the counts tie everywhere,
    // exercising the strictly-above-cutoff trim
    val hostile = Seq("aaaa aaa aa", "abab bcbc abbc").toDF("text")
    // a Zipfy corpus where batching actually takes multi-pair rounds
    val friendly = Seq(
      "the quick brown fox", "the lazy dog sat", "the quick dog ran",
      "a brown fox jumped", "the dog barked").toDF("text")
    for (df <- Seq(hostile, friendly); n <- Seq(1, 3, 8)) {
      val seq = TextAnalysis.bpeMerges(df, "text", n, mergesPerRound = 1)
        .collect().map(_.toSeq).toSeq
      val bat = TextAnalysis.bpeMerges(df, "text", n, mergesPerRound = 16)
        .collect().map(_.toSeq).toSeq
      assert(bat == seq, s"n=$n: batched $bat != sequential $seq")
    }
    // encode parity under batching too
    val docs = Seq((1L, "ab ab abc"), (2L, "ab abc")).toDF("doc_id", "text")
    val e1 = TextAnalysis.bpeEncode(docs, "doc_id", "text", 2, mergesPerRound = 1)
      .collect().map(_.toSeq).toSet
    val e16 = TextAnalysis.bpeEncode(docs, "doc_id", "text", 2, mergesPerRound = 16)
      .collect().map(_.toSeq).toSet
    assert(e1 == e16, s"$e1 != $e16")
    // the payoff is observable: disjoint-alphabet words with distinct
    // frequencies have non-interacting, strictly-ordered top pairs, so
    // one round takes them all — while the sequential loop pays one
    // driver round-trip per merge
    val disjoint = (0 until 8).flatMap { i =>
      val c = ('a' + i).toChar.toString
      Seq.fill(10 - i)(c + c)
    }.mkString(" ")
    val batchable = Seq(disjoint).toDF("text")
    val seqRounds = TextAnalysis.bpeRounds(batchable, "text", 8,
      mergesPerRound = 1)
    val batRounds = TextAnalysis.bpeRounds(batchable, "text", 8,
      mergesPerRound = 16)
    assert(seqRounds >= 8, s"sequential took $seqRounds rounds")
    assert(batRounds <= 2, s"batched rounds $batRounds")
    // and the merge sequences still agree
    val sm = TextAnalysis.bpeMerges(batchable, "text", 8, mergesPerRound = 1)
      .collect().map(_.toSeq).toSeq
    val bm = TextAnalysis.bpeMerges(batchable, "text", 8, mergesPerRound = 16)
      .collect().map(_.toSeq).toSeq
    assert(sm == bm, s"$bm != $sm")
    // randomized differential over a tiny alphabet: dense symbol reuse
    // maximizes interaction, concat-collision (guard c), and tie-trim
    // traffic — batched must equal sequential on every draw
    for (seed <- Seq(5, 17, 91)) {
      val rng = new scala.util.Random(seed)
      val corpus = Seq((1 to 30).map(_ =>
        (1 to (1 + rng.nextInt(5))).map(_ =>
          ('a' + rng.nextInt(3)).toChar).mkString).mkString(" ")).toDF("text")
      val s6 = TextAnalysis.bpeMerges(corpus, "text", 6, mergesPerRound = 1)
        .collect().map(_.toSeq).toSeq
      val b6 = TextAnalysis.bpeMerges(corpus, "text", 6, mergesPerRound = 16)
        .collect().map(_.toSeq).toSeq
      assert(b6 == s6, s"seed=$seed: $b6 != $s6")
    }
  }

  test("CharEntropy native expression: bit-identical to the interpreted HOF reference, multibyte-safe") {
    val texts = Seq(
      "aaaa",                       // degenerate: H = 0
      "abcd efgh ijkl",             // mixed
      "the quick brown fox jumps over the lazy dog",
      "ｗｉｄｅ ｃｈａｒｓ και ελληνικά", // multibyte codepoints
      "ab",
      "x")
      .toDF("text")
    val both = TextAnalysis.withCharEntropy(texts, "text")
      .withColumn("ref", ReferenceTwins.charEntropyRef("text"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.compare(
        r.getAs[Double]("char_entropy"), r.getAs[Double]("ref")) == 0,
        s"native ${r.getAs[Double]("char_entropy")} != ref ${r.getAs[Double]("ref")} " +
          s"for '${r.getString(0)}'")
    }
    // H("aaaa") is exactly 0; single char too
    val h = both.map(r => r.getString(0) -> r.getAs[Double]("char_entropy")).toMap
    assert(h("aaaa") == 0.0 && h("x") == 0.0, h.toString)
    // NULL/empty guard unchanged
    val edge = Seq(Some(""), None).map(Tuple1(_)).toDF("text")
    val e = TextAnalysis.withCharEntropy(edge, "text").collect()
    assert(e.forall(_.isNullAt(1)), e.mkString(","))
  }

  test("bpeVocab: post-merge symbol inventory with exact weighted counts") {
    // after 2 merges ((a,b) then (ab,c)) over freqs ab:3, abc:2 the vocab
    // is {ab: 3 occurrences, abc: 2} — no residual single chars
    val docs = Seq((1L, "ab ab abc"), (2L, "ab abc")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeVocab(docs, "text", nMerges = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("ab" -> 3L, "abc" -> 2L), got.toString)
    // with only ONE merge the c stays a single-char symbol
    val one = TextAnalysis.bpeVocab(docs, "text", nMerges = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(one == Map("ab" -> 5L, "c" -> 2L), one.toString)
  }

  test("mediaNearDupAgainst: batch twins hit only their stored base; junk arrivals hit nothing") {
    val rng = new scala.util.Random(11)
    def blob(n: Int) = Array.fill[Byte](n)(rng.nextInt(256).toByte)
    val original = blob(400)
    val corpus = Seq((1L, original), (3L, blob(400)))
      .toDF("media_id", "content")
    val batch = Seq(
      (2L, "HDR99".getBytes ++ original ++ "TRAILER".getBytes), // re-encoding of 1
      (6L, blob(400)))                                           // junk arrival
      .toDF("media_id", "content")
    val index = MultiModal.mediaSignatureIndex(corpus, "media_id", "content",
      blockSize = 8, gramLen = 7, maxGramDf = 20)
    val got = MultiModal.mediaNearDupAgainst(batch, index, "media_id", "content",
        blockSize = 8, gramLen = 7, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 1L)), got.toString)
  }

  test("mediaNearDup: CTPH pairs the re-encoding exact md5 misses; disjoint payloads stay apart; quadratic parity") {
    val rng = new scala.util.Random(7)
    def blob(n: Int) = Array.fill[Byte](n)(rng.nextInt(256).toByte)
    val original = blob(400)
    // container re-wrap: same bytes inside a new header/trailer — md5
    // differs, CTPH shares every interior piece
    val reencoded = "HDR99".getBytes ++ original ++ "TRAILER".getBytes
    val unrelated = blob(400)
    val tiny = blob(10)
    val media = Seq((1L, original), (2L, reencoded), (3L, unrelated),
      (4L, tiny), (5L, tiny.clone)).toDF("media_id", "content")
    val got = MultiModal.mediaNearDup(media, "media_id", "content",
      blockSize = 8, gramLen = 7, minShared = 2, maxGramDf = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the re-encoded pair and ONLY it: unrelated random payloads share no
    // signature run, and tiny payloads (signature < gramLen) cannot pair
    // fuzzily even as exact clones — mediaDedup's md5 catches those
    assert(got == Set((1L, 2L)), got.toString)
    assert(MultiModal.Ctph.signature(original, 8) ==
      MultiModal.Ctph.signature(original.clone, 8))
    assert(MultiModal.Ctph.signature(null, 8) == "")
    assert(MultiModal.Ctph.signature(Array.empty[Byte], 8) == "")
    // quadratic parity: with no effective df cap the banded pair plan must
    // equal the brute-force shared-distinct-gram count over the same
    // signatures — the dedup_simhash differential shape at unit scale
    val sigs = media.select(col("media_id"),
        MultiModal.ctphSignature(col("content"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(s: String) = s.sliding(7).filter(_.length == 7).toSet
    val brute = (for {
      (a, sa) <- sigs.toSeq; (b, sb) <- sigs.toSeq if a < b
      shared = grams(sa).intersect(grams(sb)).size if shared >= 2
    } yield (a, b, shared.toLong)).toSet
    val op = MultiModal.mediaNearDup(media, "media_id", "content",
      blockSize = 8, gramLen = 7, minShared = 2, maxGramDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(op == brute, s"op=$op brute=$brute")
  }

  test("mediaNearDupVerify: re-encodings certify near 1.0, disjoint controls near 0, empty payloads NULL; piece hashes are full-width") {
    val rng = new scala.util.Random(23)
    def blob(n: Int) = Array.fill[Byte](n)(rng.nextInt(256).toByte)
    val original = blob(400)
    val reencoded = "HDR99".getBytes ++ original ++ "TRAILER".getBytes
    val unrelated = blob(400)
    val media = Seq((1L, original), (2L, reencoded), (3L, unrelated),
      (4L, Array.empty[Byte])).toDF("media_id", "content")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a_id", "b_id")
    val got = MultiModal.mediaNearDupVerify(media, "media_id", "content", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) null else r.getDouble(5))).toMap
    // wrapper only perturbs boundary pieces: interior full-hash pieces
    // are identical, so the re-encoding certifies high
    val (na, nb, shared, ratio) = got((1L, 2L))
    assert(ratio.asInstanceOf[Double] >= 0.9, got.toString)
    assert(shared <= math.min(na, nb) && shared > 0, got.toString)
    // disjoint random payloads certify ~0 under FULL 32-bit piece hashes
    // (the 6-bit signature alphabet could alias; the verify must not)
    assert(got((1L, 3L))._4.asInstanceOf[Double] <= 0.1, got.toString)
    // empty payload: no pieces, nothing to certify -> NULL ratio
    assert(got((1L, 4L))._2 == 0L && got((1L, 4L))._4 == null, got.toString)
    // the verify walks only payloads the pair frame touches: piece
    // parity with a direct computation
    val direct = MultiModal.Ctph.pieces(original, 8)
    assert(direct.distinct.length == na, s"$na vs ${direct.distinct.length}")
    assert(MultiModal.Ctph.pieces(null, 8).isEmpty)
    intercept[IllegalArgumentException](
      MultiModal.mediaNearDupVerify(media, "media_id", "content",
        pairs.withColumnRenamed("b_id", "wrong")))
  }

  test("mediaDedup: identical payloads collapse keeping the min id; NULL payloads drop; bytes never shuffle as keys") {
    val a = Array[Byte](1, 2, 3, 4)
    val media = Seq(
      (10L, a), (11L, a.clone()),        // byte-identical under distinct ids
      (12L, Array[Byte](9, 9)),
      (13L, null))
      .toDF("media_id", "content")
    val r = MultiModal.mediaDedup(media, "media_id", "content")
      .collect().map(x => x.getLong(1) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r == Map(10L -> (2L, 4L), 12L -> (1L, 2L)), r.toString)
    // the exchange partitions on the md5 grouping expression (the payload
    // never becomes the shuffle key); min/count partial-aggregate map-side
    val p = MultiModal.mediaDedup(media, "media_id", "content")
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min") && p.contains("_groupingexpression"), p)
  }

  test("withUnigramNll: common-token docs score low, rare-token docs high, uniform corpus is flat") {
    import graft.operators.TextAnalysis
    // 'the' appears 7x of 12 tokens, rare tokens once each: doc 3 (all
    // rare) must score strictly above doc 1 (all common); mixed in between
    val docs = Seq(
      (1L, "the the the the"),
      (2L, "the the the xylophone"),
      (3L, "quark boson xylem phloem")
    ).toDF("doc_id", "text")
    val nll = TextAnalysis.withUnigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nll(1) < nll(2) && nll(2) < nll(3), nll.toString)
    // hand-check doc 1: p(the) = 7/12
    assert(math.abs(nll(1) - (-math.log(7.0 / 12.0))) < 1e-4)
    // a uniform corpus scores identically everywhere
    val flat = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val f = TextAnalysis.withUnigramNll(flat, "doc_id", "text")
      .collect().map(_.getDouble(1)).distinct
    assert(f.length == 1)
  }

  test("withCleanText: control strip, whitespace collapse, newline-run collapse, NULL passthrough") {
    import graft.operators.TextAnalysis
    val bell = 7.toChar.toString
    val docs = Seq(
      (1L, s"  a${bell}b\t\tc  d  "),    // control stripped, runs collapse, trim
      (2L, "line1\n\n\n\nline2\nline3"), // newline runs collapse to one
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withCleanText(docs, "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "ab c d")
    assert(out(2L) == "line1\nline2\nline3")
    assert(out(3L) == null)
  }

  test("standardize: per-group moments; constant/single-row groups and NULL values yield NULL z") {
    import graft.operators.Profile
    val df = Seq(
      ("a", 1L, Some(10.0)), ("a", 2L, Some(20.0)), ("a", 3L, Some(30.0)),
      ("b", 4L, Some(5.0)), ("b", 5L, Some(5.0)),   // constant group: sigma 0
      ("c", 6L, Some(42.0)),                        // single row: sigma NULL
      ("a", 7L, None)                               // NULL value
    ).toDF("g", "id", "x")
    val z = Profile.standardize(df, "g", "x")
      .collect().map(r => r.getLong(1) -> Option(r.getAs[java.lang.Double]("x_z"))).toMap
    assert(z(1L) == Some(-1.0) && z(2L) == Some(0.0) && z(3L) == Some(1.0))
    assert(z(4L).isEmpty && z(5L).isEmpty && z(6L).isEmpty && z(7L).isEmpty)
  }

  test("cdcChunks: exact coverage, bounded lengths, and boundary resynchronization after a prefix edit") {
    import graft.operators.TextAnalysis
    // deterministic pseudo-random text, long enough for many chunks
    val rnd = new scala.util.Random(7L)
    val text = (1 to 4000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq((1L, text), (2L, "PREFIX EDIT " + text), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val ch = TextAnalysis.cdcChunks(docs, "doc_id", "text",
      mask = 0x3F, minLen = 16, maxLen = 256, window = 16)
    val byDoc = ch.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1)
    // coverage: chunks reassemble the text byte-exact, in order
    val re1 = byDoc(1L).sortBy(_._2).map(_._3).mkString
    assert(re1 == text)
    // bounds: every chunk except possibly the last is within [minLen, maxLen]
    val lens = byDoc(1L).sortBy(_._2).map(_._3.length)
    assert(lens.init.forall(l => l >= 16 && l <= 256), lens.mkString(","))
    assert(lens.last <= 256)
    // empty/NULL texts emit nothing
    assert(!byDoc.contains(3L) && !byDoc.contains(4L))
    // RESYNC: the prefix edit may change the leading chunk(s), but cut
    // points re-align at the next content-defined boundary — the two docs
    // share most chunk hashes (fixed offsets would share none)
    val h1 = byDoc(1L).map(_._4).toSet
    val h2 = byDoc(2L).map(_._4).toSet
    val shared = h1.intersect(h2).size.toDouble / h1.size
    assert(shared > 0.8, s"resync share $shared (chunks ${h1.size})")
    // determinism across partitionings
    val again = TextAnalysis.cdcChunks(docs.repartition(5), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSet
    assert(again == ch.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSet)
    // fixed-offset contrast: chunkDocs on the edited twin shares nothing
    val f1 = TextAnalysis.chunkDocs(docs.filter(col("doc_id") === 1), "doc_id", "text", 64)
      .select(xxhash64(col("chunk_text"))).collect().map(_.getLong(0)).toSet
    val f2 = TextAnalysis.chunkDocs(docs.filter(col("doc_id") === 2), "doc_id", "text", 64)
      .select(xxhash64(col("chunk_text"))).collect().map(_.getLong(0)).toSet
    assert(f1.intersect(f2).size.toDouble / f1.size < 0.1)
    intercept[IllegalArgumentException](
      TextAnalysis.cdcChunks(docs, "doc_id", "text", minLen = 8, window = 16))

    // astral-plane text: cuts never split a surrogate pair — chunks still
    // reassemble byte-exact and no chunk ends on a lone high surrogate
    // (the forced maxLen cuts would otherwise land mid-pair half the time)
    val emoji = "😀a" * 700 // 😀a ... 2100 code units
    val edocs = Seq((1L, emoji)).toDF("doc_id", "text")
    val ech = TextAnalysis.cdcChunks(edocs, "doc_id", "text",
        mask = 0x3F, minLen = 16, maxLen = 33, window = 16)
      .collect().map(r => (r.getInt(1), r.getString(2))).sortBy(_._1)
    assert(ech.map(_._2).mkString == emoji)
    assert(ech.forall { case (_, c) => !Character.isHighSurrogate(c.last) })
    assert(ech.forall { case (_, c) => c.length <= 34 }) // maxLen + 1 defer
    // mangled text: a run of UNPAIRED high surrogates must not defer the
    // cut repeatedly (that would defeat the maxLen bound without limit)
    val lone = ("\uD83D" * 200) + ("x" * 200)
    val lch = TextAnalysis.cdcChunks(Seq((1L, lone)).toDF("doc_id", "text"),
        "doc_id", "text", mask = 0x3F, minLen = 16, maxLen = 33, window = 16)
      .collect().map(_.getString(2))
    assert(lch.forall(_.length <= 34), lch.map(_.length).mkString(","))
  }

  test("chunkDocs: full coverage with overlap, short final chunk, one chunk at/below size, empty drops") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a" * 10),   // len 10 > 5: step 3, ceil(8/3)=3 chunks
      (2L, "b" * 5),    // exactly one chunk
      (3L, "c" * 2),    // under one chunk
      (4L, ""),         // empty: no chunks
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(docs, "doc_id", "text", chunkChars = 5, overlapChars = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toList.sorted
    assert(out == List(
      (1L, 0, "aaaaa"), (1L, 1, "aaaaa"), (1L, 2, "aaaa"), // starts 0,3,6; last short
      (2L, 0, "bbbbb"), (3L, 0, "cc")), out.mkString(","))
    // overlap: consecutive chunks share exactly overlapChars characters
    val t10 = "0123456789"
    val chunks = TextAnalysis.chunkDocs(Seq((1L, t10)).toDF("doc_id", "text"), "doc_id", "text", 5, 2)
      .orderBy("chunk_idx").collect().map(_.getString(2))
    assert(chunks.toSeq == Seq("01234", "34567", "6789"))
    assert(chunks.sliding(2).forall { case Array(a, b) => a.takeRight(2) == b.take(2); case _ => true })
    intercept[IllegalArgumentException](
      TextAnalysis.chunkDocs(docs, "doc_id", "text", 5, 5))
  }

  test("withBigramNll: word salad of common tokens scores above natural order; short docs drop") {
    // corpus: "a b" occurs repeatedly (a strong bigram); "b a" never in
    // the fluent docs. The scrambled doc uses the SAME tokens (identical
    // unigram profile) but improbable transitions.
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "a b a b"),
      (3L, "b a b a"),      // scrambled: reversed transitions are rarer
      (4L, "solo"),          // 1 token: no pairs
      (5L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withBigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L), out.keySet.toString)
    // docs 1/2 ride the dominant a->b transition; doc 3 leans on b->a,
    // which only it (and docs 1,2 partially) produce -> higher nll
    assert(out(3L) > out(1L), out.toString)
    intercept[IllegalArgumentException](
      TextAnalysis.withBigramNll(docs, "doc_id", "text", lambda = 1.0))
  }

  test("sourceOverlap: hand-computed Jaccard on shared shingles; disjoint pairs absent; co-occurrence not doc pairs") {
    val docs = Seq(
      (1L, "web", "a b c d"),     // shingles: "a b c", "b c d"
      (2L, "web", "a b c d"),     // duplicate doc: distinct collapses it
      (3L, "book", "a b c x"),    // shares "a b c" with web
      (4L, "raw", "q r s t")      // disjoint from both
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceOverlap(docs, "source", "text", shingleN = 3).df
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // web={abc,bcd} (distinct over both docs), book={abc,bcx}: inter 1,
    // union 3 -> 1/3; raw overlaps nothing and must not appear
    assert(out.keySet == Set(("book", "web")), out.toString)
    assert(out(("book", "web")) == (1L, 0.333333), out.toString)
    // the self-join is keyed on the shingle — adding MANY docs with the
    // same shingles must not change the result (co-occurrence is over
    // distinct (group, shingle), never document pairs)
    val many = docs.unionAll(
      (10L to 40L).map(i => (i, "web", "a b c d")).toDF("doc_id", "source", "text"))
    val out2 = TextAnalysis.sourceOverlap(many, "source", "text", 3).df
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out2 == out, s"$out2 vs $out")
    intercept[IllegalArgumentException](
      TextAnalysis.sourceOverlap(docs, "source", "text", shingleN = 0))
  }

  test("sourceOverlap: same result, and close() unpersists the checkpoint blocks") {
    val docs = Seq(
      (1L, "web", "a b c d"),
      (3L, "book", "a b c x")
    ).toDF("doc_id", "source", "text")
    val sc = spark.sparkContext
    val ((out, rows), ours) = persistedBy {
      val out = TextAnalysis.sourceOverlap(docs, "source", "text", 3)
      (out, out.df.collect())
    }
    assert(rows.length == 1 && rows.head.getDouble(3) == 0.333333)
    // the construction registered exactly this operator's checkpoint RDDs
    assert(ours.nonEmpty, "localCheckpoint must register a persistent RDD")
    out.close()
    out.close() // idempotent
    // unpersist(blocking = false) still removes the entry from the
    // persistence registry synchronously; only block deletion is async.
    // Keyed to OUR ids so parallel suites caching elsewhere can't flake it.
    assert((sc.getPersistentRDDs.keySet & ours).isEmpty,
      s"close() must drop the checkpointed RDD ids $ours from the registry")
  }

  test("ttrCurve: pooled ratio per length bucket is the exact sum quotient; NULL text drops") {
    val docs = Seq(
      (1L, "a a a a"),                         // 4 tok, 1 distinct, bucket 0
      (2L, "a b c d"),                         // 4 tok, 4 distinct, bucket 0
      (3L, Seq.fill(25)("w").mkString(" ")),   // 25 tok, 1 distinct, bucket 1
      (4L, null))
      .toDF("doc_id", "text")
    val r = TextAnalysis.ttrCurve(docs, "text", bucketTokens = 20)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    assert(r.keySet == Set(0L, 1L))
    assert(r(0L) == (2L, 8L, 5L, 5.0 / 8.0), r.toString)
    assert(r(1L) == (1L, 25L, 1L, 1.0 / 25.0), r.toString)
    intercept[IllegalArgumentException](TextAnalysis.ttrCurve(docs, "text", 0))
  }

  test("withCompressionRatio: repetition compresses far below prose; NULL text yields NULL; deterministic") {
    val docs = Seq(
      (1L, "ab" * 500),                                       // pure repetition
      (2L, "The five boxing wizards jump quickly over a lazy dog near the quiet riverbank at dawn today."),
      (3L, null))
      .toDF("doc_id", "text")
    val r = TextAnalysis.withCompressionRatio(docs, "text")
      .select("doc_id", "n_bytes", "compression_ratio").collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) -1L else x.getLong(1),
          if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toMap
    assert(r(1L)._1 == 1000L)
    assert(r(1L)._2.get < 0.05, s"repetition must compress hard: ${r(1L)}")
    assert(r(2L)._2.get > 0.5, s"one-line prose barely compresses: ${r(2L)}")
    assert(r(3L)._2.isEmpty, "NULL text has no ratio")
    // deterministic: a second evaluation returns identical bytes
    val again = TextAnalysis.withCompressionRatio(docs, "text")
      .select("doc_id", "deflate_bytes").collect()
      .map(x => x.getLong(0) -> x.get(1)).toMap
    val first = TextAnalysis.withCompressionRatio(docs, "text")
      .select("doc_id", "deflate_bytes").collect()
      .map(x => x.getLong(0) -> x.get(1)).toMap
    assert(again == first)
  }

  test("tokenFertility: punctuation-heavy groups score higher; plain words ~1; zero-word docs drop") {
    val docs = Seq(
      (1L, "en", "plain words only here"),          // 4 words, 4 bpeish -> 1.0
      (2L, "en", "plain words only here"),
      (3L, "code", "x=1; y(2); z[3];"),             // symbols explode the bpeish count
      (4L, "en", null.asInstanceOf[String])
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.tokenFertility(docs, "lang", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("en") == (2L, 1.0), out.toString)    // NULL text excluded from n_docs
    assert(out("code")._2 > 2.0, out.toString)
    assert(out.keySet == Set("en", "code"))
  }

  test("withCharEntropy: degenerate/uniform/known distributions; empty and NULL yield NULL") {
    val docs = Seq(
      (1L, "aaaa"),        // one symbol: H = 0
      (2L, "ab"),          // two equiprobable: H = ln 2
      (3L, "abcd"),        // four equiprobable: H = ln 4
      (4L, "abab"),        // repetition does not add entropy: H = ln 2
      (5L, ""),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withCharEntropy(docs, "text")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out(1L).contains(0.0), out.toString)
    assert(out(2L).contains(BigDecimal(math.log(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(out(3L).contains(BigDecimal(math.log(4)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(out(4L) == out(2L), s"${out(4L)} vs ${out(2L)}")
    assert(out(5L).isEmpty && out(6L).isEmpty)
    // low-entropy repetition scores strictly below natural-ish text
    val cmp = TextAnalysis.withCharEntropy(
      Seq((1L, "x" * 50), (2L, "the quick brown fox jumps over it")).toDF("doc_id", "text"), "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(cmp(1L) < cmp(2L))
    // map-side: no shuffle, no explode in the plan
    val plan = TextAnalysis.withCharEntropy(docs, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Generate"), plan)
  }

  test("gopherRules: each rule fires on its crafted violator; clean prose passes; NULL/empty excluded") {
    val docs = Seq(
      (1L, ("the a of " + "word " * 50).trim),          // clean: passes all
      (2L, ("the a " + "w " * 10).trim),                // too few words
      (3L, ("the a of " + "lengthywords " * 50).trim),  // mean word len too high
      (4L, ("the a of " + "#### $$$$ " * 25 + "w " * 50).trim), // symbols + non-alpha words
      (5L, ("zz " * 60).trim),                          // no stopwords
      (6L, ""),
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text",
      minWords = 20, maxMeanLen = 8.0)
      .collect().map { r =>
        r.getLong(0) -> (r.getInt(6), r.getInt(7), r.getInt(8), r.getInt(9), r.getInt(10), r.getInt(12))
      }.toMap // (f_words, f_mean_len, f_symbol, f_alpha, f_stop, pass)
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L), out.keySet.toString)
    assert(out(1L) == (0, 0, 0, 0, 0, 1), out(1L).toString)
    assert(out(2L)._1 == 1 && out(2L)._6 == 0)
    assert(out(3L)._2 == 1, out(3L).toString)
    assert(out(4L)._3 == 1 && out(4L)._4 == 1, out(4L).toString)
    assert(out(5L)._5 == 1, out(5L).toString)
    intercept[IllegalArgumentException](
      TextAnalysis.gopherRules(docs, "doc_id", "text", stopwords = Seq.empty))
    intercept[IllegalArgumentException](
      TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 0))
  }

  test("bm25Rank: rare terms outrank common, tf saturates, non-matches absent, NULL excluded") {
    // "rare" appears in one doc, "common" in all four: idf(rare) >> idf(common)
    val docs = Seq(
      (1L, "rare common x y"),
      (2L, "common common common common x y z w"),   // tf=3 but longer + common-only
      (3L, "common x"),
      (4L, "x y z"),                                  // matches nothing
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Rank(docs, "doc_id", "text",
      Seq("rare", "common"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // doc 4 (no hits) and doc 5 (NULL) never appear
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L), out.mkString(","))
    // the one rare-term doc wins despite doc 2's higher common-term tf
    assert(out.find(_._3 == 1).map(_._1).contains(1L), out.mkString(","))
    // ranks are 1..n, scores non-increasing
    assert(out.sortBy(_._3).map(_._3).toSeq == (1 to out.length).toSeq)
    assert(out.sortBy(_._3).map(_._2).toSeq.sliding(2)
      .forall { case Seq(a, b) => a >= b; case _ => true })
    // tf saturation: score grows sublinearly in tf — doubling tf of the
    // only matching term in same-length docs must NOT double the score
    val sat = Seq((1L, "t x y z"), (2L, "t t x y")).toDF("doc_id", "text")
    val ss = TextAnalysis.bm25Rank(sat, "doc_id", "text", Seq("t"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ss(2L) > ss(1L) && ss(2L) < 2 * ss(1L), ss.toString)
  }

  test("bm25Rank: no corpus explode/shuffle — TakeOrdered plan, k bounds output; guards fire") {
    val docs = (1L to 200L).map(i => (i, s"w$i spark common filler pad"))
      .toDF("doc_id", "text")
    val q = TextAnalysis.bm25Rank(docs, "doc_id", "text", Seq("spark"), k = 7)
    val plan = q.queryExecution.executedPlan.toString
    // top-k must be TakeOrdered (per-partition k rows), never a global Sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the corpus is never exploded to (doc, token) rows
    assert(!plan.contains("Generate"), plan)
    assert(q.count() == 7)
    intercept[IllegalArgumentException](
      TextAnalysis.bm25Rank(docs, "doc_id", "text", Seq.empty, 5))
    intercept[IllegalArgumentException](
      TextAnalysis.bm25Rank(docs, "doc_id", "text", Seq("a", "a"), 5))
    intercept[IllegalArgumentException](
      TextAnalysis.bm25Rank(docs, "doc_id", "text", Seq("a"), 0))
    intercept[IllegalArgumentException](
      TextAnalysis.bm25Rank(docs, "doc_id", "text", Seq("a"), 5, b = 1.5))
    // a space-containing "term" can never match a whitespace token, and it
    // would make the __terms identity tag ambiguous — rejected up front
    intercept[IllegalArgumentException](
      TextAnalysis.bm25Rank(docs, "doc_id", "text", Seq("a b", "c"), 5))
  }

  test("UnigramSegment kernel: Viterbi optimum, longest-last-piece tie-break, NULL on uncovered, code points") {
    import graft.plans.UnigramSegment
    def seg(word: String, pieces: Seq[(String, Long)], maxLen: Int = 4) = {
      val r = Seq(Tuple1(word)).toDF("w")
        .select(UnigramSegment.segment(col("w"), pieces, maxLen).as("s"))
        .collect().head
      if (r.isNullAt(0)) null else r.getSeq[String](0).toList
    }
    // cheaper composite wins over char path
    assert(seg("abab", Seq("a" -> 10L, "b" -> 10L, "ab" -> 5L)) ==
      List("ab", "ab"))
    // four equal-cost paths over "abc": the smallest-predecessor scan
    // picks the LONGEST last piece at every position -> [abc]
    assert(seg("abc", Seq("a" -> 10L, "b" -> 10L, "c" -> 10L,
      "ab" -> 20L, "bc" -> 20L, "abc" -> 30L)) == List("abc"))
    // a character outside the vocab -> no segmentation -> NULL
    assert(seg("axb", Seq("a" -> 1L, "b" -> 1L)) == null)
    // empty word -> empty array; code points (surrogate pair) segment
    // on character boundaries, never bytes
    assert(seg("", Seq("a" -> 1L)) == List())
    assert(seg("😀a", Seq("😀" -> 5L, "a" -> 5L)) ==
      List("😀", "a"))
    // maxPieceLen bounds the lookback: "abcd" piece unusable at maxLen 3
    assert(seg("abcd", Seq("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 1L,
      "abcd" -> 0L), maxLen = 3) == List("a", "b", "c", "d"))
  }

  test("unigramVocab: hand-computed induction — chars always kept, used pieces win the budget, zero-usage chars report 0") {
    // types ab:3, c:1. Seed: chars a/b/c + multi ab. One EM round:
    // "ab" -> [ab] (one piece beats two), "c" -> [c]; usage ab:3, c:1;
    // prune keeps chars + ab; Laplace re-estimate; final usage under the
    // re-estimated costs is unchanged -> (a,0),(ab,3),(b,0),(c,1).
    val docs = Seq("ab ab c", "ab").toDF("text")
    val v = TextAnalysis.unigramVocab(docs, "text", vocabSize = 4,
      iters = 1, maxPieceLen = 2, maxCandidates = 10)
      .orderBy("piece")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(v == Seq("a" -> 0L, "ab" -> 3L, "b" -> 0L, "c" -> 1L), v.toString)
    // budget binds: 4 single chars + ONE multi slot; ab (usage 2) beats
    // cd (usage 1), so cd falls back to chars
    val docs2 = Seq("ab cd ab").toDF("text")
    val v2 = TextAnalysis.unigramVocab(docs2, "text", vocabSize = 5,
      iters = 1, maxPieceLen = 2, maxCandidates = 10)
      .collect().map(_.getString(0)).toSet
    assert(v2 == Set("a", "b", "c", "d", "ab"), v2.toString)
    intercept[IllegalArgumentException](
      TextAnalysis.unigramVocab(docs, "text", vocabSize = 0))
    intercept[IllegalArgumentException](
      TextAnalysis.unigramVocab(docs, "text", vocabSize = 4, iters = 0))
  }

  test("unigram training releases its checkpoints: unigramModel pins nothing, unigramVocab only the type table") {
    val docs = Seq("ab ab c", "ab").toDF("text")
    val (model, modelPins) = persistedBy(TextAnalysis.unigramModel(docs, "text",
      vocabSize = 4, iters = 1, maxPieceLen = 2, maxCandidates = 10))
    assert(modelPins.isEmpty, s"unigramModel left $modelPins pinned")
    assert(model.count() == 4)
    val (vocab, vocabPins) = persistedBy(TextAnalysis.unigramVocab(docs, "text",
      vocabSize = 4, iters = 1, maxPieceLen = 2, maxCandidates = 10))
    // the one pin left is the checkpointed type table the lazy result reads
    val read = vocab.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    assert(vocabPins.size == 1 && vocabPins.subsetOf(read), s"pinned $vocabPins, read $read")
    assert(vocab.count() == 4)
  }

  test("unigramApply + write/readUnigramModel: stored vocab applies with the unk fallback; round-trip identical") {
    val train = Seq("ab ab c", "ab").toDF("text")
    val vocab = TextAnalysis.unigramModel(train, "text", vocabSize = 4,
      iters = 1, maxPieceLen = 2, maxCandidates = 10)
    // 'z' is OOV: it costs UnigramUnkCost as its own piece and the word
    // still counts; "abc" -> [ab, c] under the induced costs
    val batch = Seq((1L, "ab zc"), (2L, "abc")).toDF("doc_id", "text")
    def apply(v: org.apache.spark.sql.DataFrame) =
      TextAnalysis.unigramApply(batch, "doc_id", "text", v, maxPieceLen = 2)
        .collect().map(x => x.getLong(0) ->
          ((x.getLong(1), x.getLong(2)))).toMap
    val r = apply(vocab)
    assert(r == Map(1L -> ((2L, 3L)), 2L -> ((1L, 2L))), r.toString)
    val dir = java.nio.file.Files.createTempDirectory("uni-model").toString
    try {
      TextAnalysis.writeUnigramModel(train, "text", dir, vocabSize = 4,
        iters = 1, maxPieceLen = 2, maxCandidates = 10)
      val loaded = TextAnalysis.readUnigramModel(spark, dir)
      assert(apply(loaded) == r, "stored model must apply identically")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.toSeq.reverseIterator
        .foreach(f => java.nio.file.Files.deleteIfExists(f): Unit)
    }
    intercept[IllegalArgumentException](
      TextAnalysis.unigramApply(batch, "doc_id", "text", vocab.drop("cost")))
  }

  test("unigram prune protects supplementary-plane characters (code-point length, not UTF-16 units)") {
    // "😀" is 2 UTF-16 units but ONE code point: a prune classifying by
    // String.length routed it through the multi-char budget, where zero
    // usage (the whole-word piece covers it) dropped it — and the word
    // then segmented to NULL and vanished from every count. vocabSize =
    // |alphabet| leaves zero multi slots, so survival proves the char
    // went through the unconditional chars path.
    val docs = Seq((1L, "x😀 ab ab")).toDF("doc_id", "text")
    val v = TextAnalysis.unigramVocab(docs, "text", vocabSize = 4,
      iters = 1, maxPieceLen = 2, maxCandidates = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v.keySet == Set("x", "😀", "a", "b"), v.toString)
    val e = TextAnalysis.unigramEncode(docs, "doc_id", "text",
      vocabSize = 4, iters = 1, maxPieceLen = 2, maxCandidates = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // x😀 -> [x, 😀], ab -> [a, b] twice: 3 words, 6 pieces — nothing
    // vanished
    assert(e == Map(1L -> ((3L, 6L))), e.toString)
  }

  test("unigram prune ties rank in UTF-8 byte order (astral vs U+E000 — the order UTF-16 flips)") {
    // "a\uE000" (61 EE 80 80) sorts BELOW "a<emoji U+1F600>"
    // (61 F0 9F 98 80) in UTF-8 bytes but ABOVE it in UTF-16 code units
    // (E000 > D83D). Equal usage + one multi slot makes the tie the
    // deciding factor: the UTF-8-smaller piece must win, matching both
    // engines' ORDER BY (binary collation).
    val e = "\uE000"; val g = new String(Character.toChars(0x1F600))
    val docs = Seq((1L, s"a$e a$g a$e a$g a$e a$g"))
      .toDF("doc_id", "text")
    // alphabet {a, U+E000, U+1F600} = 3 chars; vocabSize 4 leaves ONE
    // multi slot; both whole-word pieces are used 3x each in round 1
    val v = TextAnalysis.unigramVocab(docs, "text", vocabSize = 4,
      iters = 1, maxPieceLen = 2, maxCandidates = 10)
      .collect().map(r => r.getString(0)).toSet
    assert(v.contains(s"a$e") && !v.contains(s"a$g"),
      s"tie must break by UTF-8 byte order: $v")
  }

  test("unigramEncode: per-doc Viterbi piece counts under the induced vocabulary") {
    val docs = Seq((1L, "ab ab c"), (2L, "ab")).toDF("doc_id", "text")
    val e = TextAnalysis.unigramEncode(docs, "doc_id", "text",
      vocabSize = 4, iters = 1, maxPieceLen = 2, maxCandidates = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: words ab/ab/c -> pieces [ab],[ab],[c] = 3 tokens of 3 words;
    // doc 2: [ab] = 1 of 1
    assert(e == Map(1L -> ((3L, 3L)), 2L -> ((1L, 1L))), e.toString)
  }
}
