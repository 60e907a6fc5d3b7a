package graft

import graft.api.OptOutEtl
import graft.ops.Wnv

/** The geocode step computes its md5 digest once per row: the three
  * values it slices from the digest (miss test, lon, lat) and the
  * `isnotnull` filters Catalyst infers from a later join on the
  * coordinates all read one bound digest. */
class GeocodeSpec extends SparkSpec {

  private def md5Calls(df: org.apache.spark.sql.DataFrame): Int =
    "md5\\(".r.findAllIn(df.queryExecution.optimizedPlan.toString).length

  test("wnv_target_report evaluates md5 once per customer row") {
    assert(md5Calls(SparkEntry.queries("wnv_target_report")(spark, sf)) === 1)
  }

  test("the ETL transform evaluates md5 once per address row") {
    val etl = new OptOutEtl(spark, Wnv.FixtureCsv, "", "")
    assert(md5Calls(etl.transform(etl.extract())) === 1)
  }
}
