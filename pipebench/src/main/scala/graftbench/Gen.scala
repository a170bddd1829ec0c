package graftbench

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, row index), so a table is identical however Spark
  * partitions its generation, and the same seed always yields the same
  * bytes. Each generator also states, in closed form, what the planted
  * rows must produce, so the workloads can check their outputs. */
object Rng {
  /** SplitMix64 finaliser. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def of(seed: Long, stream: Int, i: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(mix(seed * 1000003L + stream) ^ i))
  /** A uniform draw in [0, 1) for (seed, stream, i). */
  def unit(seed: Long, stream: Int, i: Long): Double = of(seed, stream, i).nextDouble()

  /** Seeded bijection on [0, n): i -> (a·i + b) mod n with a prime `a`
    * that does not divide n. */
  final case class Perm(n: Long, a: Long, b: Long) {
    def apply(i: Long): Long = Math.floorMod(a * i + b, n)
  }
  private val primes = Seq(7919L, 104729L, 1299709L, 15485863L, 179424673L)
  def perm(seed: Long, stream: Int, n: Long): Perm = {
    val r = of(seed, stream, -1L)
    val cands = primes.filter(p => n % p != 0)
    Perm(n, cands(r.nextInt(cands.size)), r.nextLong(n))
  }
}

/** The WINS nightly inputs: the five feature classes of FIXTURES.md §B,
  * each with an opaque WKB `SHAPE` payload sized like its geometry kind,
  * and the `WATER_POD_TABLE` dimension.
  *
  * Planted rates, per tagged table of n rows (a seeded permutation picks
  * which rows): 2% `''` tags, 2% NULL tags, 5% rows in duplicate-tag
  * pairs, 5% tags with no POD match; the rest carry a distinct POD code,
  * of which codes c with c mod 20 < 4 start `RV` and 4 ≤ c mod 20 < 7
  * start `RS`. 10% of POD codes have a second, later row (first-match
  * semantics), and 5% of POD codes match no tag. */
object WinsGen {
  final case class Spec(
      name: String, tagCol: Option[String], rows: Int, geom: Int,
      minVerts: Int, maxVerts: Int, copyCol: Option[String])

  /** geom: 1 point, 2 line, 3 polygon. */
  def specs(scale: Double): Seq[Spec] = Seq(
    Spec("RESERVES_AND_RESTRICTIONS", Some("TRRR_TAG"), 20000, 3, 8, 64, Some("DESCRIPTION")),
    Spec("NON_TRIM_HYDROGRAPHY", Some("TNTH_TAG"), 40000, 2, 4, 40, Some("STREAM_NAME")),
    Spec("WATER_LICENSED_WORKS_POINTS", Some("TWRK_TAG"), 100000, 1, 1, 1, None),
    Spec("WATER_LICENSED_WORKS_LINES", Some("TWRK_TAG"), 20000, 2, 2, 20, None),
    Spec("FLOODED_AREA_LINES", None, 15000, 2, 4, 48, None),
  ).map(s => s.copy(rows = math.max(1000, (s.rows * scale).toInt / 1000 * 1000)))

  val PodName = "WATER_POD_TABLE"

  /** Closed-form counts of one tagged table's planted categories. */
  final case class Plan(n: Int, blank: Int, nul: Int, dup: Int, miss: Int) {
    val matched: Int = n - blank - nul - dup - miss
    /** NULL tags (planted NULLs and blanks, after blank->NULL) form ONE
      * window group in the duplicate rule, so two or more are rejected as
      * duplicates; the rest of the duplicate rejects are the planted pairs. */
    val dupRejects: Int = dup + (if (blank + nul >= 2) blank + nul else 0)
    val missRejects: Int = miss + (if (blank + nul == 1) 1 else 0)
    val kept: Int = matched
    def rv: Int = (matched / 20) * 4 + math.min(matched % 20, 4)
    def rs: Int = (matched / 20) * 3 + math.max(0, math.min(matched % 20 - 4, 3))
  }
  def plan(n: Int): Plan = {
    val dup = (n * 5 / 100) / 2 * 2
    Plan(n, n * 2 / 100, n * 2 / 100, dup, n * 5 / 100)
  }

  /** POD codes: every table's matched codes and duplicate-pair codes
    * index [0, podCodes); `podExtra` more codes match no tag. */
  def podCodes(specs: Seq[Spec]): Int =
    specs.filter(_.tagCol.nonEmpty).map { s => val p = plan(s.rows); p.matched + p.dup / 2 }.max
  def podExtra(specs: Seq[Spec]): Int = podCodes(specs) / 20

  def code(c: Long): String = {
    val m = c % 20
    val prefix = if (m < 4) "RV" else if (m < 7) "RS" else "TG"
    f"$prefix-$c%07d"
  }
  def podHasSecond(seed: Long, c: Long): Boolean = Rng.unit(seed, 90, c) < 0.10

  def tag(seed: Long, s: Spec, stream: Int, i: Long): String = {
    val p = plan(s.rows)
    val r = Rng.perm(seed, stream, s.rows)(i)
    if (r < p.blank) ""
    else if (r < p.blank + p.nul) null
    else if (r < p.blank + p.nul + p.dup) code(p.matched + (r - p.blank - p.nul) / 2)
    else if (r < p.blank + p.nul + p.dup + p.miss) f"NM-$stream%02d-$r%07d"
    else code(r - p.blank - p.nul - p.dup - p.miss)
  }

  /** WKB-shaped payload: byte order, type, vertex count, doubles. */
  def shape(rnd: java.util.SplittableRandom, s: Spec): Array[Byte] = {
    val n = if (s.geom == 1) 1 else s.minVerts + rnd.nextInt(s.maxVerts - s.minVerts + 1)
    val header = s.geom match { case 1 => 5; case 2 => 9; case _ => 13 }
    val buf = ByteBuffer.allocate(header + 16 * n).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte).putInt(s.geom)
    if (s.geom == 3) buf.putInt(1)
    if (s.geom != 1) buf.putInt(n)
    var x = -139.0 + rnd.nextDouble() * 25.0
    var y = 48.3 + rnd.nextDouble() * 11.7
    var k = 0
    while (k < n) {
      buf.putDouble(x).putDouble(y)
      x += rnd.nextDouble() * 2e-3 - 1e-3; y += rnd.nextDouble() * 2e-3 - 1e-3
      k += 1
    }
    buf.array()
  }

  def schema(s: Spec): StructType = {
    val tag = s.tagCol.map(StructField(_, StringType)).toSeq
    val copy = s.copyCol.map(StructField(_, StringType)).toSeq
    StructType(Seq(StructField("OBJECTID", LongType)) ++ tag ++
      Seq(StructField("FEATURE_CODE", StringType)) ++ copy ++
      Seq(StructField("SHAPE", BinaryType)))
  }

  def row(seed: Long, s: Spec, stream: Int, i: Long): Row = {
    val rnd = Rng.of(seed, stream, i)
    val fc = if (rnd.nextInt(25) == 0) "" else f"FC${rnd.nextInt(100)}%02d"
    val vals = Seq[Any](i) ++ s.tagCol.map(_ => tag(seed, s, stream, i)).toSeq ++
      Seq(fc) ++ s.copyCol.map(_ => s"download-${rnd.nextInt(1000)}").toSeq ++
      Seq(shape(rnd, s))
    Row.fromSeq(vals)
  }

  def podSchema: StructType = StructType(Seq(
    StructField("OBJECTID", LongType), StructField("PNTS_CODE", StringType),
    StructField("PNTS_DESCR", StringType), StructField("SRCE_GAZETTED", StringType)))

  /** POD rows: primary rows for codes [0, codes + extra) first (by
    * OBJECTID), then the second rows of the duplicated codes. */
  def podRows(seed: Long, specs: Seq[Spec]): Seq[Row] = {
    val codes = podCodes(specs).toLong
    val total = codes + podExtra(specs)
    val primary = (0L until total).map { c =>
      val cd = if (c < codes) code(c) else f"XU-$c%07d"
      Row(c, cd, s"POD $cd", s"Creek ${Rng.of(seed, 91, c).nextInt(5000)}")
    }
    val second = (0L until codes).filter(podHasSecond(seed, _)).zipWithIndex.map {
      case (c, k) => Row(total + k, code(c), s"alt ${code(c)}", "alt")
    }
    primary ++ second
  }

  /** Write every table under `dir` as `<NAME>.parquet`. */
  def write(spark: SparkSession, seed: Long, specs: Seq[Spec], dir: String, parts: Int): Unit =
    Par.run(specs.zipWithIndex.map { case (s, k) => () =>
      val rdd = spark.sparkContext.range(0L, s.rows.toLong, 1L, parts)
        .map(i => row(seed, s, 10 + k, i))
      spark.createDataFrame(rdd, schema(s)).write.mode("overwrite")
        .parquet(s"$dir/${s.name}.parquet")
    } :+ (() => spark.createDataFrame(spark.sparkContext.parallelize(podRows(seed, specs), 1), podSchema)
      .write.mode("overwrite").parquet(s"$dir/$PodName.parquet")), specs.size + 1)
}

/** The pretraining corpus: a lake of parquet files of
  * (doc_id, text, source, n_chars).
  *
  * Per doc (seeded): source web/code/academic at 50/30/20; language
  * en 60%, de/es/fr/zh 10% each, written with that language's
  * `TextFns.defaultProfiles` stopwords over a Zipf(1.1) vocabulary of
  * `vocab` synthetic words; 3-9 lines of 8-20 words. Planted at stated
  * rates: 4% exact copies of an earlier doc (same source, identical
  * text), 4% near copies (one line replaced), 10% carry one of 8 shared
  * boilerplate lines, 2% embed a passage of one of the benchmark docs. */
object CorpusGen {
  val Sources = Seq("web" -> 0.5, "code" -> 0.3, "academic" -> 0.2)
  val Langs = Seq("en" -> 0.6, "de" -> 0.1, "es" -> 0.1, "fr" -> 0.1, "zh" -> 0.1)
  val ExactRate = 0.04
  val NearRate = 0.04
  val BoilerRate = 0.10
  val ContamRate = 0.02
  val BenchDocs = 40

  private def pick[A](xs: Seq[(A, Double)], u: Double): A = {
    var acc = 0.0
    xs.find { case (_, w) => acc += w; u < acc }.getOrElse(xs.last)._1
  }

  /** Zipf(1.1) rank sampler over `vocab` words by inverse CDF table. */
  final class Zipf(vocab: Int) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocab)(k => 1.0 / math.pow(k + 1, 1.1))
      val s = w.sum
      var acc = 0.0
      w.map { x => acc += x / s; acc }
    }
    def sample(u: Double): Int = {
      val k = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (k >= 0) k else -k - 1, vocab - 1)
    }
  }

  def word(rank: Int): String = {
    val sb = new StringBuilder
    var x = rank + 1
    val syl = Array("ka", "lo", "mi", "ren", "ta", "vo", "sen", "dri", "pa", "qu", "ul", "ex")
    while (x > 0) { sb ++= syl(x % syl.length); x /= syl.length }
    sb.toString
  }

  def boilerplate(k: Int): String =
    s"copyright notice number $k all rights reserved by the publisher of this page"

  def benchText(seed: Long, b: Int): String = {
    val r = Rng.of(seed, 70, b)
    (0 until 60).map(_ => s"evalword${r.nextInt(5000)}").mkString(" ")
  }

  private def line(r: java.util.SplittableRandom, z: Zipf, lang: String): String = {
    val stops = graft.functions.TextFns.defaultProfiles.toMap.apply(lang)
    val n = 8 + r.nextInt(13)
    (0 until n).map { _ =>
      if (r.nextDouble() < 0.35) stops(r.nextInt(stops.size))
      else word(z.sample(r.nextDouble()))
    }.mkString(" ")
  }

  /** The unplanted body of doc i. */
  private def base(seed: Long, i: Long, z: Zipf): (String, String, Seq[String]) = {
    val r = Rng.of(seed, 60, i)
    val source = pick(Sources, r.nextDouble())
    val lang = pick(Langs, r.nextDouble())
    val lines = (0 until 3 + r.nextInt(7)).map(_ => line(r, z, lang))
    (source, lang, lines)
  }

  sealed trait Kind
  case object Plain extends Kind
  final case class ExactOf(j: Long) extends Kind
  final case class NearOf(j: Long) extends Kind

  def kind(seed: Long, i: Long): Kind = {
    val u = Rng.unit(seed, 61, i)
    if (i < 10) Plain
    else {
      val j = Rng.of(seed, 62, i).nextLong(i)
      if (u < ExactRate) ExactOf(j) else if (u < ExactRate + NearRate) NearOf(j) else Plain
    }
  }

  /** Follow copy links down to the doc whose body a copy reuses. */
  private def root(seed: Long, i: Long): Long = kind(seed, i) match {
    case ExactOf(j) => root(seed, j)
    case NearOf(j) => root(seed, j)
    case Plain => i
  }

  /** (text, source) of doc i; exact copies reproduce their original's
    * text byte for byte, so only the planted decorations of the original
    * ride along. */
  def doc(seed: Long, i: Long, z: Zipf): (String, String) = kind(seed, i) match {
    case ExactOf(j) => doc(seed, j, z)
    case NearOf(j) =>
      val (text, source) = doc(seed, j, z)
      val lines = text.split("\n", -1)
      val r = Rng.of(seed, 63, i)
      val (_, lang, _) = base(seed, root(seed, j), z)
      lines(r.nextInt(lines.length)) = line(r, z, lang)
      (lines.mkString("\n"), source)
    case Plain =>
      val (source, _, lines0) = base(seed, i, z)
      val r = Rng.of(seed, 64, i)
      var lines = lines0
      if (r.nextDouble() < BoilerRate)
        lines = lines.patch(r.nextInt(lines.size + 1), Seq(boilerplate(r.nextInt(8))), 0)
      if (r.nextDouble() < ContamRate) {
        val words = benchText(seed, r.nextInt(BenchDocs)).split(" ")
        val from = r.nextInt(20)
        lines = lines.patch(r.nextInt(lines.size + 1), Seq(words.slice(from, from + 30).mkString(" ")), 0)
      }
      (lines.mkString("\n"), source)
  }

  /** Ids of planted exact copies: none may survive the dedup cascade. */
  def exactCopyIds(seed: Long, n: Long): Seq[Long] =
    (0L until n).filter(i => kind(seed, i).isInstanceOf[ExactOf])

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  /** Write `docs` docs as `files` parquet files under `lakeDir`. */
  def write(spark: SparkSession, seed: Long, docs: Long, vocab: Int,
      lakeDir: String, files: Int): Unit = {
    val rdd = spark.sparkContext.range(0L, docs, 1L, files).mapPartitions { it =>
      val z = new Zipf(vocab)
      it.map { i => val (t, s) = doc(seed, i, z); Row(i, t, s, t.length.toLong) }
    }
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(lakeDir)
  }

  def benchmarkFrame(spark: SparkSession, seed: Long): DataFrame = {
    val rows = (0 until BenchDocs).map(b => Row(1000000L + b, benchText(seed, b)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("doc_id", LongType), StructField("clean_text", StringType))))
  }
}

/** Run independent Spark actions from `threads` driver threads; they
  * inherit the caller's active session. */
object Par {
  def run(tasks: Seq[() => Unit], threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    val session = SparkSession.getActiveSession
    try {
      tasks.map { f =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { session.foreach(SparkSession.setActiveSession); f() }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }
}

/** Order-independent content digest of a frame: the sum of per-row
  * 64-bit hashes over every column, as hex. */
object Digest {
  def of(df: DataFrame): String = {
    val h = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(coalesce(sum(col("h").cast("decimal(38,0)")), lit(0)).cast("string"))
      .head().getString(0)
    f"${BigInt(h).mod(BigInt(2).pow(64)).toLong}%016x"
  }

  /** One digest over several parquet tables, in the given order. */
  def ofTables(spark: SparkSession, paths: Seq[String]): String =
    f"${paths.map(p => java.lang.Long.parseUnsignedLong(of(spark.read.parquet(p)), 16))
      .foldLeft(0L)((h, x) => Rng.mix(h ^ x))}%016x"

}
