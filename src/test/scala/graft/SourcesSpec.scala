package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

/** Source/sink formats beyond the primary parquet+CSV pair, and the
  * partition-pruning write layout (SCALE.md: partition pruning is the
  * first gate between a 100 TB table and a query's scan cost).
  */
class SourcesSpec extends SparkSpec {

  private def orders = graft.sources.Tables.t(spark, sf, "orders")
    .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  test("JSONL sink/source round-trips with a declared schema") {
    val dir = Files.createTempDirectory("json_rt").toString + "/orders"
    graft.sources.Tables.writeJsonl(orders, dir)
    val back = graft.sources.Tables.jsonl(spark, dir, orders.schema)
    assert(back.count() === orders.count())
    val a = orders.agg(sum(col("o_orderkey"))).head().getLong(0)
    val b = back.agg(sum(col("o_orderkey"))).head().getLong(0)
    assert(a === b)
    // pruned read parses only the requested fields (ReadSchema shrinks)
    val pruned = back.select("o_orderkey")
      .queryExecution.executedPlan.toString
    assert(pruned.contains("ReadSchema: struct<o_orderkey:bigint>"),
      pruned.take(1500))
  }

  test("ORC sink/source round-trips with pushdown intact") {
    val dir = Files.createTempDirectory("orc_rt").toString + "/orders"
    graft.sources.Tables.writeOrc(orders, dir)
    val back = graft.sources.Tables.orc(spark, dir)
      .filter(col("o_totalprice") > 300000.0)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThan(o_totalprice"), plan.take(1500))
    assert(back.count() ===
      orders.filter(col("o_totalprice") > 300000.0).count())
  }

  test("partitioned write enables partition pruning in the scan") {
    val dir = Files.createTempDirectory("part_rt").toString + "/orders"
    orders.write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter(col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    // the status predicate must move to PartitionFilters (directory
    // pruning), NOT data filters — only matching partitions are read
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"), plan.take(1500))
    assert(pruned.count() ===
      orders.filter(col("o_orderstatus") === "F").count())
  }

  test("compaction merges small files and preserves table contents") {
    val dir = Files.createTempDirectory("compact_rt").toString + "/t"
    // simulate a micro-batch sink: many tiny files
    orders.repartition(24).write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).collect()
      .map(_.toString).sorted
    val (nBefore, nAfter) =
      graft.sources.Tables.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(nBefore === 24)
    assert(nAfter === 1, s"expected one output file, got $nAfter")
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(after.toSeq === before.toSeq)
  }

  test("compaction refuses partitioned layouts instead of flattening them") {
    val dir = Files.createTempDirectory("compact_part").toString + "/t"
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      graft.sources.Tables.compact(spark, dir)
    }
    assert(e.getMessage.contains("partitioned layout"))
    // the refused table is untouched
    assert(spark.read.parquet(dir).count() === orders.count())
  }

  test("a new session's table read runs no footer-schema job") {
    import graft.sources.Tables
    val dir = Files.createTempDirectory("graft-tbl-")
    val file = dir.resolve("nation.parquet")
    Files.copy(java.nio.file.Paths.get(s"$sf/nation.parquet"), file)
    def read(): org.apache.spark.sql.DataFrame = {
      var df: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring {
        df = Tables.t(spark.newSession(), dir.toString, "nation")
      } === 0)
      df
    }
    val wider = dir.resolve("wider")
    try {
      val first = read()
      assert(first.schema === spark.read.parquet(file.toString).schema)
      assert(first.count() === Tables.t(spark, sf, "nation").count())
      // a touched input is read again, still with no job
      assert(file.toFile.setLastModified(file.toFile.lastModified() + 60000L))
      assert(read().schema === first.schema)
      // an input rewritten with an added column reads with the new schema
      first.withColumn("n_extra", lit(1)).coalesce(1).write
        .parquet(wider.toString)
      val part = Files.list(wider).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val again = read()
      assert(again.columns.toSeq === first.columns.toSeq :+ "n_extra")
      assert(again.schema === spark.read.parquet(file.toString).schema)
    } finally {
      Files.walk(dir).iterator.asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  test("a declared footer schema equals the inferred one on every table") {
    import graft.sources.Tables
    // events is left out: its loader rewrites ts after the read
    Tables.names.filterNot(_ == "events").foreach { n =>
      assert(Tables.t(spark.newSession(), sf, n).schema ===
        spark.read.parquet(s"$sf/$n.parquet").schema, n)
    }
    // a table written by Spark: a directory of part files
    val dir = Files.createTempDirectory("graft-tbl-dir-").toString
    orders.repartition(2).write.parquet(s"$dir/orders.parquet")
    var back: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring {
      back = Tables.t(spark.newSession(), dir, "orders")
    } === 0)
    assert(back.schema === spark.read.parquet(s"$dir/orders.parquet").schema)
    assert(back.count() === orders.count())
  }

  test("parquet v2 scan answers COUNT/MIN/MAX from footer statistics") {
    // the metadata-only aggregate: with aggregate pushdown on the v2
    // reader, a whole-table COUNT/MIN/MAX never deserializes a single
    // row group — it reads the footers. At 100 TB that turns the
    // standing profiling sweep (row counts, column ranges) from a full
    // corpus scan into a file-listing-sized job. v1 remains the default
    // engine path; this pins that the v2 escape hatch works when a
    // metadata-only readout is what a caller wants.
    val prevAgg = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    val prevV1 = spark.conf.getOption("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      val q = spark.read.parquet(s"$sf/orders.parquet")
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation"), plan.take(2000))
      assert(!plan.contains("PushedAggregation: []"), plan.take(2000))
      val row = q.collect().head
      val ref = orders.agg(count(lit(1)), min(col("o_totalprice")),
        max(col("o_totalprice"))).collect().head
      assert(row.getLong(0) === ref.getLong(0))
      assert(row.getDouble(1) === ref.getDouble(1))
      assert(row.getDouble(2) === ref.getDouble(2))
    } finally {
      prevAgg.fold(spark.conf.unset("spark.sql.parquet.aggregatePushdown"))(
        spark.conf.set("spark.sql.parquet.aggregatePushdown", _))
      prevV1.fold(spark.conf.unset("spark.sql.sources.useV1SourceList"))(
        spark.conf.set("spark.sql.sources.useV1SourceList", _))
    }
  }
}
