package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.PqKernels

/** Native PQ kernels (encode / per-query LUT / ADC score) vs the
  * interpreted HOF reference path: the r17 hot-path rewrite must be
  * BIT-identical — same argmin tie-break, same double accumulation
  * order — so the recall oracles and shortlists are unaffected by which
  * path an operator uses ([[graft.plans.WinnowMinima]] discipline: the
  * independently derived slow twin IS the test). */
class PqKernelsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = graft.engine.Tables.load(spark, dir, "embeddings")
  private lazy val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
    m = 8, ksub = 16, iters = 1)

  test("native encode == HOF encode, exactly, over the fixture corpus") {
    val native = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val hof = ReferenceTwins.pqEncodeHof(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(native.nonEmpty && native == hof)
  }

  test("native LUT∘ADC == HOF ADC score, exact double equality per pair") {
    val (cbArr, dsub) = {
      // collectCodebooks is private; rebuild the driver-side array here
      val rows = cb.collect()
      val m = rows.map(_.getInt(0)).max + 1
      val ksub = rows.map(_.getInt(1)).max + 1
      val arr = Array.ofDim[Array[Double]](m, ksub)
      rows.foreach(r => arr(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
      (arr, rows.head.getSeq[Double](2).length)
    }
    val m = cbArr.length
    val ksub = cbArr.head.length
    val cbF = PqKernels.flatCodebook(cbArr)
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .select(col("vec_id").as("n_id"), col("codes"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        graft.functions.VectorFns.unitizeNative(col("embedding")).as("q_v"))
      .withColumn("q_lut", PqKernels.lutCol(col("q_v"), cbF, m, ksub))
    val diff = enc.crossJoin(broadcast(q))
      .withColumn("native", PqKernels.adcCol(col("codes"), col("q_lut"), ksub))
      .withColumn("hof", ReferenceTwins.adcScoreHof(col("q_v"), col("codes"), cbArr, dsub))
      .filter(col("native") =!= col("hof")) // exact, not tolerance
      .count()
    assert(diff == 0)
  }

  test("kernels are codegen'd (no ScalaUDF on the kernel projection lines)") {
    val (cbArr, _) = {
      val rows = cb.collect()
      val m = rows.map(_.getInt(0)).max + 1
      val ksub = rows.map(_.getInt(1)).max + 1
      val arr = Array.ofDim[Array[Double]](m, ksub)
      rows.foreach(r => arr(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
      (arr, rows.head.getSeq[Double](2).length)
    }
    val cbF = PqKernels.flatCodebook(cbArr)
    val plan = emb
      .select(graft.functions.VectorFns.unitizeNative(col("embedding")).as("v"))
      .select(col("v"), PqKernels.encodeCol(col("v"), cbF, 8, 16).as("codes"),
        PqKernels.lutCol(col("v"), cbF, 8, 16).as("lut"))
      .select(PqKernels.adcCol(col("codes"), col("lut"), 16).as("s"))
      .queryExecution.executedPlan.toString
    Seq("graft_pq_encode", "graft_pq_lut", "graft_pq_adc").foreach { name =>
      assert(plan.contains(name), s"$name missing from plan:\n$plan")
    }
    plan.linesIterator.filter(l => l.contains("graft_pq")).foreach { l =>
      assert(!l.toLowerCase.contains("scalaudf"), l)
    }
  }

  test("degenerate vector fails LOUDLY: NaN distances encode to -1 and the ADC scan throws instead of reading garbage") {
    import sqlContext.implicits._
    // a zero vector unitizes to NaN (UnitizeVector contract); every
    // codeword distance is then NaN, the strict-< argmin never fires,
    // and the code is -1 — scoring it must throw (the HOF path's ANSI
    // element_at(cb, 0) behavior), never an unchecked negative-offset
    // UnsafeArrayData read that ranks garbage as a real score
    val cbArr: Array[Array[Array[Double]]] =
      Array(Array(Array(0.6, 0.8), Array(-0.8, 0.6)))
    val cbF = PqKernels.flatCodebook(cbArr)
    val df = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        graft.functions.VectorFns.unitizeNative(col("embedding")).as("v"))
    val enc = df.select(col("vec_id"),
      PqKernels.encodeCol(col("v"), cbF, 1, 2).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(enc(0L) == Seq(-1), s"NaN vector must encode to -1: $enc")
    assert(enc(1L).head >= 0)
    val lut = df.filter(col("vec_id") === 1)
      .select(PqKernels.lutCol(col("v"), cbF, 1, 2).as("lut"))
    val scoredBad = df.select(col("vec_id"),
        PqKernels.encodeCol(col("v"), cbF, 1, 2).as("codes"))
      .crossJoin(lut)
      .select(PqKernels.adcCol(col("codes"), col("lut"), 2).as("s"))
    val e = intercept[Exception](scoredBad.collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("PQ code")), e.toString)
  }

  test("adc rejects codes/LUT from different codebooks (m mismatch) instead of reading past the LUT") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    // 16 subspaces of codes against an m=8 LUT: without the length
    // guard, subspaces 8..15 index past the LUT's end — an unchecked
    // UnsafeArrayData read returning garbage scored as real
    val codes = UnsafeArrayData.fromPrimitiveArray(Array.fill(16)(0))
    val lut = UnsafeArrayData.fromPrimitiveArray(Array.fill(8 * 4)(1.0))
    val e = intercept[IllegalArgumentException](PqKernels.adc(codes, lut, 4))
    assert(e.getMessage.contains("different codebooks"), e.getMessage)
    // matched m scores fine
    val ok = PqKernels.adc(
      UnsafeArrayData.fromPrimitiveArray(Array.fill(8)(0)), lut, 4)
    assert(ok == 8.0)
  }

  test("argmin tie-break: equidistant codewords pick the smallest code on both paths") {
    import sqlContext.implicits._
    // two identical codewords per subspace: every distance ties, so the
    // strict-< argmin must return code 0 on both paths
    val rows = Seq((0L, Seq(0.6, 0.8)), (1L, Seq(-0.8, 0.6)))
    val df = rows.toDF("vec_id", "embedding")
    val dup = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(0, 0, Seq(0.3, 0.4)),
        org.apache.spark.sql.Row(0, 1, Seq(0.3, 0.4))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sub",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
    val nat = Similarity.pqEncode(df, "vec_id", "embedding", dup)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val hof = ReferenceTwins.pqEncodeHof(df, "vec_id", "embedding", dup)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(nat == hof)
    assert(nat.values.forall(_ == Seq(0)), s"tie must break to code 0: $nat")
  }

  test("encode/lut reject a vector whose dimension disagrees with the codebook shape instead of reading misaligned memory") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    // a well-formed m=2, ksub=2, dsub=3 flat codebook (12 doubles)
    val cb = UnsafeArrayData.fromPrimitiveArray(Array.fill(12)(0.5))
    // dim 7 is not divisible by m=2: without the guard dsub floors to 3
    // and the codebook offsets silently misalign
    val v7 = UnsafeArrayData.fromPrimitiveArray(Array.fill(7)(1.0))
    val e1 = intercept[IllegalArgumentException](PqKernels.encode(v7, cb, 2, 2))
    assert(e1.getMessage.contains("not divisible"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](PqKernels.lut(v7, cb, 2, 2))
    assert(e2.getMessage.contains("not divisible"), e2.getMessage)
    // dim 8 divides m but implies dsub=4: the 12-entry codebook is the
    // wrong shape (expected 2*2*4=16) — a codebook from another corpus
    val v8 = UnsafeArrayData.fromPrimitiveArray(Array.fill(8)(1.0))
    val e3 = intercept[IllegalArgumentException](PqKernels.encode(v8, cb, 2, 2))
    assert(e3.getMessage.contains("flat codebook carries"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](PqKernels.lut(v8, cb, 2, 2))
    assert(e4.getMessage.contains("flat codebook carries"), e4.getMessage)
    // the matched shape still encodes/scores
    val v6 = UnsafeArrayData.fromPrimitiveArray(Array.fill(6)(1.0))
    assert(PqKernels.encode(v6, cb, 2, 2).numElements() == 2)
    assert(PqKernels.lut(v6, cb, 2, 2).numElements() == 4)
  }
}
