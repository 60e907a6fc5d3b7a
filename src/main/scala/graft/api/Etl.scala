package graft.api

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField,
  StructType}
import graft.geo.Geo
import graft.ops.Wnv
import graft.sources.Tables

/** The reference's OO API track re-expressed over DataFrames.
  *
  * Mirrors `SpatialEtl` (reference SpatialETL_Lab2.py:1-16: ctor holding
  * remote/local/format/destination, stub extract/transform/load) and
  * `GSheetsEtl` (GSheetsETL_Lab2.py:11-150: overrides + `process()`
  * template method + `final_analysis` Buffer/Erase).
  *
  * The crucial structural difference from the reference: each stage
  * RETURNS a lazy DataFrame instead of materializing a file between
  * stages — `process()` composes one DAG; only `load()` executes it.
  * Stage boundaries survive as the API, not as disk barriers.
  */
abstract class SpatialEtl(
    val spark: SparkSession,
    val remote: String,
    val localDir: String,
    val dataFormat: String,
    val destination: String) {

  /** Source acquisition → raw frame (reference extract()). */
  def extract(): DataFrame

  /** Enrichment/cleaning → transformed frame (reference transform()). */
  def transform(raw: DataFrame): DataFrame

  /** Sink materialization; returns loaded row count (reference load()
    * prints `GetCount_management`, Lab2ETL.py:94).
    */
  def load(transformed: DataFrame): Long

  /** Template method (reference process(), GSheetsETL_Lab2.py:137-150). */
  def process(): Long = load(transform(extract()))
}

/** The `GSheetsEtl` analogue: opt-out addresses from a CSV snapshot of
  * the published sheet → geocoded residential points → parquet, plus
  * `finalAnalysis` = Buffer(1500ft) + Erase as distance anti-join.
  *
  * @param remote      source CSV path (a URL snapshot; file path here —
  *                    network acquisition is deliberately outside the
  *                    data plane, reference Lab2ETL.py:12-19)
  * @param destination output parquet directory
  */
class OptOutEtl(
    spark: SparkSession,
    remote: String,
    localDir: String,
    destination: String)
  extends SpatialEtl(spark, remote, localDir, "csv", destination) {

  override def extract(): DataFrame =
    Tables.csv(spark, remote, Tables.optOutSchema)

  /** P1 concat → P2 geocode → P4 miss-drop ([[Geo.geocode]]) → P6 tag →
    * S4 x/y/Type. */
  override def transform(raw: DataFrame): DataFrame =
    Geo.geocode(raw, col("Street Address"), Nil)
      .select(col("lon").as("x"), col("lat").as("y"),
        lit("Residential").as("Type"))

  /** Writes the points and returns the rows written, counted by the
    * write itself (an observed metric on the written frame), so the
    * load is one job with no read-back. A failed write throws before
    * the count is awaited. */
  override def load(transformed: DataFrame): Long = {
    val written = Observation()
    transformed.observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(destination)
    written.get("rows").asInstanceOf[Long]
  }

  /** The loaded points, read with their declared schema: no
    * footer-schema job. */
  private def loaded(): DataFrame =
    spark.read.schema(OptOutEtl.pointsSchema).parquet(destination)

  /** Buffer 1500 ft + Erase (GSheetsETL_Lab2.py:112-134): zone points
    * minus opt-out buffers, the [[Wnv.eraseBuffers]] anti-join on
    * projected feet. `candidates` carries (cx_ft, cy_ft) points to keep.
    * Building the frame runs no Spark job.
    */
  def finalAnalysis(candidates: DataFrame): DataFrame =
    Wnv.eraseBuffers(candidates, col("cx_ft"), col("cy_ft"), broadcast(
      loaded().select(Geo.xFt(col("x")).as("ox"), Geo.yFt(col("y")).as("oy"))))
}

object OptOutEtl {
  /** Schema of the points [[OptOutEtl.transform]] emits and `load`
    * writes (S4: x/y/Type). */
  val pointsSchema: StructType = StructType(Seq(
    StructField("x", DoubleType), StructField("y", DoubleType),
    StructField("Type", StringType)))
}
