package graft.engine

import org.apache.spark.sql.types._

/** Declared StructTypes (SURVEY §1.2, §7.1) — the engine never infers
  * schemas: the reference instantiates every table from a template gdb
  * (/root/reference/src/wins_transform_staging.py:145,147-148), and the
  * Spark equivalent is a fixed StructType per table, enforced at read time
  * by [[Sources.loadValidated]].
  *
  * Geometry is an opaque WKB BinaryType column (SURVEY §0: the reference
  * performs zero geometric computation).
  */
object Schemas {

  private def s(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  // ---- reference feature classes (src/app.yml:8-13; column evidence in
  // ---- SURVEY §1.2) -------------------------------------------------------

  val reservesAndRestrictions: StructType = s(
    "TRRR_TAG" -> StringType, "FEATURE_CODE" -> StringType,
    "DESCRIPTION" -> StringType, "SHAPE" -> BinaryType)

  val nonTrimHydrography: StructType = s(
    "TNTH_TAG" -> StringType, "FEATURE_CODE" -> StringType,
    "STREAM_NAME" -> StringType, "SHAPE" -> BinaryType)

  val waterLicensedWorksPoints: StructType = s(
    "TWRK_TAG" -> StringType, "FEATURE_CODE" -> StringType, "SHAPE" -> BinaryType)

  val waterLicensedWorksLines: StructType = waterLicensedWorksPoints

  val floodedAreaLines: StructType = s(
    "FEATURE_CODE" -> StringType, "SHAPE" -> BinaryType)

  /** The SDE dimension view (:55-58,174). */
  val waterPodTable: StructType = s(
    "PNTS_CODE" -> StringType, "PNTS_DESCR" -> StringType,
    "SRCE_GAZETTED" -> StringType)

  // ---- fixture tables (FIXTURES.md §A) ------------------------------------

  val fixtureSchemas: Map[String, StructType] = Map(
    "region" -> s("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> s("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> s("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> s("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> s("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    // fixture timestamps are parquet TIMESTAMP(MILLIS, tz=false) -> Spark 4
    // reads TIMESTAMP_NTZ (matching DuckDB's plain TIMESTAMP semantics)
    "orders" -> s("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> s("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    // ts is TIMESTAMP(MICROS, tz=false) in the current fixture -> Spark
    // reads TIMESTAMP_NTZ; Tables.loadEvents normalizes it (and the legacy
    // nanos-as-long encoding, accepted via fixtureAlternatives) to
    // TimestampType
    "events" -> s("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> s("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> s("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** Alternative on-disk encodings a fixture regeneration has historically
    * produced. [[Sources.loadValidated]] accepts a table whose raw schema
    * matches the primary declaration OR any alternative; normalization to
    * one canonical in-memory shape is the loader's job (Tables.loadEvents),
    * not the validator's. events.ts: the round-8 fixture switch from
    * TIMESTAMP(NANOS) (read as int64 under nanosAsLong) to
    * TIMESTAMP(MICROS) broke 11 queries at analysis time — the validator
    * accepting both turns the next silent regeneration into a non-event. */
  val fixtureAlternatives: Map[String, Seq[StructType]] = Map(
    "events" -> Seq(
      s("event_id" -> LongType, "ts" -> LongType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      s("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType)))
}
