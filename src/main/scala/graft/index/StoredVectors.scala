package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.{toColumn, toExpression}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.functions.{vector_normalize, PackBytes, UnpackBytes}
import graft.operators.DistanceMetric

/** The form an index stores its vectors in:
  *   - FLAT and BINARY store the raw floats: FLAT's exact scan and BINARY's
  *     exact re-rank score the vectors as given.
  *   - Every other type stores COSINE vectors normalized and scores them
  *     with L2 kernels (reference: ivf_flat_index.py:254-255,
  *     ingestion.py:2616-2663).
  *   - The byte dtypes (uint8, int8) store one packed byte per dimension
  *     (reference: flat_index.py:195-197, ivf_flat_index.py:555-573).
  *     Training, partition assignment, graph builds and merges run on the
  *     float view; the FLAT and IVF byte kernels score the packed bytes.
  *
  * The updates log always holds raw float vectors, so a merge into a
  * stored base brings its additions to this form first. */
private[index] object StoredVectors {

  /** True when the type stores vectors as given, whatever the metric. */
  def rawStore(indexType: String): Boolean =
    indexType == "FLAT" || indexType == "BINARY"

  /** True when the stored float vectors are unit-normalized. */
  def normalized(indexType: String, metric: DistanceMetric): Boolean =
    metric == DistanceMetric.Cosine && !rawStore(indexType)

  /** `df` with its float `vector` column in the stored float form. */
  def normalize(df: DataFrame, indexType: String, metric: DistanceMetric): DataFrame =
    if (normalized(indexType, metric)) df.withColumn("vector", vector_normalize(col("vector")))
    else df

  def byteDtype(dtype: String): Boolean = dtype == "uint8" || dtype == "int8"

  /** Float `vector` column to its stored bytes; no-op for float32. */
  def pack(df: DataFrame, dtype: String): DataFrame =
    if (byteDtype(dtype))
      df.withColumn("vector",
        toColumn(PackBytes(toExpression(col("vector")), signed = dtype == "int8")))
    else df

  /** Stored `vector` column back to its float view; no-op for float32. */
  def unpack(df: DataFrame, dtype: String): DataFrame =
    if (byteDtype(dtype))
      df.withColumn("vector",
        toColumn(UnpackBytes(toExpression(col("vector")), signed = dtype == "int8")))
    else df

  /** An empty (`idCol`: long, vector: array<float>) frame. */
  def empty(spark: SparkSession, idCol: String = "external_id"): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField(idCol, LongType), StructField("vector", ArrayType(FloatType)))))
}
