package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.api.OptOutEtl

class EtlApiSpec extends SparkSpec {

  private val fixture = graft.ops.Wnv.FixtureCsv

  test("process() runs extract->transform->load and reports count") {
    val out = Files.createTempDirectory("etl_out").toString + "/pts"
    val etl = new OptOutEtl(spark, fixture, "/tmp", out)
    val n = etl.process()
    // 10 fixture rows minus deterministic geocode misses
    assert(n >= 8 && n <= 10)
    val cols = spark.read.parquet(out).columns.toSeq
    assert(cols === Seq("x", "y", "Type"))
  }

  test("finalAnalysis erases candidates within 1500ft of opt-out points") {
    val out = Files.createTempDirectory("etl_out2").toString + "/pts"
    val etl = new OptOutEtl(spark, fixture, "/tmp", out)
    etl.process()
    val optOut = spark.read.parquet(out).head()
    val nearX = graft.geo.Geo.xFt(lit(optOut.getDouble(0)))
    val nearY = graft.geo.Geo.yFt(lit(optOut.getDouble(1)))
    import spark.implicits._
    // candidate exactly at an opt-out point (erased) + one far away (kept)
    val cands = Seq(1, 2).toDF("id")
      .withColumn("cx_ft", when(col("id") === 1, nearX).otherwise(lit(9e7)))
      .withColumn("cy_ft", when(col("id") === 1, nearY).otherwise(lit(9e7)))
    val kept = etl.finalAnalysis(cands).select("id").collect().map(_.getInt(0))
    assert(kept.toSeq === Seq(2))
  }

  test("finalAnalysis builds with no Spark job (declared points schema)") {
    val out = Files.createTempDirectory("etl_out4").toString + "/pts"
    val etl = new OptOutEtl(spark, fixture, "/tmp", out)
    etl.process()
    import spark.implicits._
    val cands = Seq((1, 0.0, 0.0)).toDF("id", "cx_ft", "cy_ft")
    assert(jobsDuring(etl.finalAnalysis(cands)) === 0)
    assert(spark.read.parquet(out).schema === OptOutEtl.pointsSchema)
  }

  test("load returns the rows its own write counted, in one job") {
    val out = Files.createTempDirectory("etl_out5").toString + "/pts"
    val etl = new OptOutEtl(spark, fixture, "/tmp", out)
    var n = -1L
    assert(jobsDuring { n = etl.load(etl.transform(etl.extract())) } === 1)
    assert(n === spark.read.parquet(out).count())
  }

  test("a failed load throws instead of waiting on its count") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // a destination under a regular file cannot be created
    val blocker = Files.createTempFile("etl_blocker", "")
    val etl = new OptOutEtl(spark, fixture, "/tmp", s"$blocker/pts")
    val load = Future(etl.process())
    Await.ready(load, 2.minutes)
    assert(load.value.get.isFailure)
  }

  test("process() re-runs idempotently (overwrite semantics, P9)") {
    val out = Files.createTempDirectory("etl_out3").toString + "/pts"
    val etl = new OptOutEtl(spark, fixture, "/tmp", out)
    assert(etl.process() === etl.process())
  }
}
