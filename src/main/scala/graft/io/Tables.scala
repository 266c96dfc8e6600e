package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** Readers for the driver-generated parquet fixtures (`TESTDATA.md`,
  * `FIXTURES.md`). The reference repo's `repository/` layer was never
  * implemented (`/root/reference/src/etl/` is empty — SURVEY.md §0.2);
  * this is its Spark-native equivalent and the one catalog of the
  * fixture schemas: every table's schema is declared here, so building
  * a DataFrame reads no footer and runs no schema-inference job.
  * `TablesSpec` pins each declared schema to the parquet footers (names,
  * types, order, nullability) at every scale factor and in every
  * adversarial world, so a drifting fixture fails loudly instead of
  * reading a missing column as nulls. The one column whose footer type
  * varies, `events.ts`, is probed per directory (see [[events]]).
  *
  * At 100 TB these would be partitioned/bucketed table roots instead of
  * single files; the API shape (name → DataFrame) is unchanged.
  */
object Tables {
  // `events.ts` is declared in its current flavor; readers substitute
  // the probed type through [[eventsSchema]].
  private val ddl: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" ->
      "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" ->
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  private val schemas: Map[String, StructType] =
    ddl.map { case (n, d) => n -> StructType.fromDDL(d) }.toMap

  val names: Seq[String] = ddl.map(_._1)

  /** The declared schema of fixture table `name`, as its parquet footer
    * reads. For `events` use [[eventsSchema]]: its `ts` type depends on
    * the fixture generation. */
  def schema(name: String): StructType = schemas(name)

  /** The `events` schema with `ts` of the given footer type. */
  def eventsSchema(tsType: DataType): StructType =
    StructType(schemas("events").map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))

  /** Load one fixture table from `dir` (e.g. /root/testdata/sf0.01). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped in two parquet flavors across fixture
    * generations: TIMESTAMP(NANOS) — which Spark's reader rejects
    * outright (PARQUET_TYPE_ILLEGAL) unless read as raw nanos via
    * `nanosAsLong` — and plain TIMESTAMP(MICROS). Returns the type
    * Spark reads `ts` as in `dir`'s footer: LongType for raw nanos, a
    * timestamp type otherwise. Reads the footer through one
    * schema-inference job, and leaves `nanosAsLong` set for the scans
    * that follow. */
  def eventsTsType(spark: SparkSession, dir: String): DataType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
  }

  /** Adapts on the probed `ts` flavor ([[eventsTsType]]): a LongType
    * `ts` is raw nanos, truncated to microseconds (integer `div` keeps
    * the math exact; ns epochs exceed 2^53, so a double division would
    * corrupt low bits), a timestamp `ts` is read natively. Both
    * normalize to the microsecond TIMESTAMP_NTZ the other fixture
    * timestamps get (isAdjustedToUTC=false footers; session tz is
    * pinned UTC so the NTZ cast is value-preserving either way). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tsType = eventsTsType(spark, dir)
    val raw = spark.read.schema(eventsSchema(tsType))
      .parquet(s"$dir/events.parquet")
    val ts =
      if (tsType == LongType)
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      else col("ts").cast("timestamp_ntz")
    raw.withColumn("ts", ts)
  }
}
