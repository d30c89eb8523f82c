package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The fixed test tables (TESTDATA.md), each read with its declared
  * schema. A schema-less `spark.read.parquet` runs one Spark job to infer
  * the schema from the footers while the frame is being built; a declared
  * schema runs none, so building any query frame launches no job.
  *
  * Field order, types and nullability are what Spark infers from the
  * files (every parquet column nullable; pyarrow's tz-less `timestamp[us]`
  * reads as TIMESTAMP_NTZ), pinned by SourcesSpec at sf0.001 and sf0.01.
  */
object TestTables {

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  val schemas: Map[String, StructType] = Map(
    "lineitem" -> schema(
      "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "nation" -> schema(
      "n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
    "region" -> schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "orders" -> schema(
      "o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType,
      "o_orderpriority" -> StringType),
    "customer" -> schema(
      "c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> schema(
      "s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
    "part" -> schema(
      "p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "documents" -> schema(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> schema(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType),
    "events" -> schema(
      "event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType))

  /** `dir`/`name`.parquet with its declared schema */
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val s = schemas.getOrElse(name,
      throw new IllegalArgumentException(s"no declared schema for test table $name"))
    spark.read.schema(s).parquet(s"$dir/$name.parquet")
  }
}
