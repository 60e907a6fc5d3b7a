package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The co-located-join path (SCALE.md): bucketed tables let repeated
  * joins on the bucket key skip the shuffle entirely — the storage-side
  * answer to "minimize shuffles" for a fact table joined on the same key
  * by every downstream query.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed write + bucketed join runs without an Exchange") {
    // (default warehouse dir; tables dropped at the end)
    // bucketed persistence of the S4 load target
    graft.sources.Tables.t(spark, sf, "orders")
      .write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bkt")
    graft.sources.Tables.t(spark, sf, "customer")
      .write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_bkt")
    // force the sort-merge path (auto-broadcast would also be
    // shuffle-free here but is not the storage property under test)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = spark.table("orders_bkt")
      .join(spark.table("customer_bkt"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // both sides bucketed on the join key -> SortMergeJoin with NO
    // shuffle below it (the only Exchange allowed is the aggregate's)
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, plan)
    assert(!plan.substring(joinIdx).contains("Exchange"), plan)
    // correctness unchanged vs the plain join
    val expected = graft.sources.Tables.t(spark, sf, "orders")
      .join(graft.sources.Tables.t(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")
  }

  test("join_bucket_colocated: join AND aggregate run with zero data shuffles") {
    val q = SparkEntry.queries("join_bucket_colocated")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // merge-hinted join over two bucketed scans
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    // the bucket spec satisfies the join's distribution on both sides
    // AND the aggregate's clustering above it — the only exchange left
    // is the presentation orderBy's range partitioning
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
    assert(plan.contains("Exchange rangepartitioning"), plan.take(3000))
    assert(plan.contains("SelectedBucketsCount"), plan.take(3000))
    // layout must not change a single value: parity with the plain join
    val expected = graft.sources.Tables.t(spark, sf, "customer")
      .join(graft.sources.Tables.t(spark, sf, "orders"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_custkey"))
      .agg(count(lit(1)).as("n_orders"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("per-user windows over a user-bucketed events layout need no shuffle") {
    // the fact-side version of the co-location story: sessionization
    // and every other Window.partitionBy(user_id) analysis — the
    // dominant event-table cost — reads its required distribution
    // straight from the bucket spec. Only a per-partition SortExec
    // remains (the event_id tiebreak extends the stored (user_id, ts)
    // order), never an Exchange.
    import org.apache.spark.sql.expressions.Window
    val ev = graft.sources.Tables.bucketedFor(spark, sf, "events")
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val q = ev.select(col("user_id"), col("event_id"),
      row_number().over(byUser).as("rn"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(plan.contains("Window"), plan.take(3000))
    // parity: same row count and per-user max rank as the plain scan
    val bucketedRanks = q.groupBy(col("user_id"))
      .agg(max(col("rn")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val plainCounts = graft.sources.Tables.t(spark, sf, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(bucketedRanks === plainCounts)
  }

  test("events_sessions_bucketed: sessionization plan has no data shuffle") {
    // the driver-surface form of the previous pin: the per-user window
    // AND the (user_id, session_no) rollup both read the bucket spec
    // (HashPartitioning(user_id) clusters any key list it prefixes);
    // only the presentation sort's range exchange remains
    val q = SparkEntry.queries("events_sessions_bucketed")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
    assert(plan.contains("Exchange rangepartitioning"), plan.take(3000))
    // layout must not change a single value: full-row parity with the
    // plain-layout twin (same invariant the driver checks by oracle)
    val plain = SparkEntry.queries("events_sessions")(spark, sf)
    assert(q.collect().toSeq === plain.collect().toSeq)
  }

  /** A private copy of one testdata table, so its layout can be dropped
    * and its input touched without disturbing the shared one. */
  private def withCopiedTable(name: String)(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt-")
    val file = dir.resolve(s"$name.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/$name.parquet"), file)
    file.toFile.setWritable(true)
    val tbl = Tables.bucketTable(dir.toString, name, "c_custkey", 8, Nil)
    try body(dir.toString)
    finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + "/" + tbl)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
      java.nio.file.Files.delete(file)
      java.nio.file.Files.delete(dir)
    }
  }

  /** A new session with its plain table already loaded, so that what
    * a test counts around `bucketed` is the layout's own work (the
    * table read itself runs no job). */
  private def sessionWith(dir: String) = {
    val s = spark.newSession()
    Tables.t(s, dir, "customer")
    s
  }

  private def layoutRows(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] =
    Tables.bucketed(s, dir, "customer", "c_custkey").collect()
      .map(_.mkString("|")).toSeq.sorted

  test("a new session reuses a stamped layout with no write job") {
    withCopiedTable("customer") { dir =>
      val first = sessionWith(dir)
      assert(jobsDuring(Tables.bucketed(first, dir, "customer",
        "c_custkey")) > 0, "the first call writes the layout")
      val rows = layoutRows(first, dir)
      assert(rows.size === Tables.t(spark, sf, "customer").count())
      // same catalog, new session: the catalog table is reused
      val second = sessionWith(dir)
      assert(jobsDuring(Tables.bucketed(second, dir, "customer",
        "c_custkey")) === 0)
      assert(layoutRows(second, dir) === rows)
      // a fresh catalog (as in a new JVM): the stamped files are
      // registered again, still without a job, with their bucket spec
      val tbl = Tables.bucketTable(dir, "customer", "c_custkey", 8, Nil)
      spark.sql(s"DROP TABLE $tbl")
      val third = sessionWith(dir)
      assert(jobsDuring(Tables.bucketed(third, dir, "customer",
        "c_custkey")) === 0)
      assert(layoutRows(third, dir) === rows)
      val plan = Tables.bucketed(third, dir, "customer", "c_custkey")
        .groupBy(col("c_custkey")).count().queryExecution.executedPlan
        .toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
    }
  }

  test("touching a bucketed layout's input forces a rewrite") {
    withCopiedTable("customer") { dir =>
      val rows = layoutRows(spark.newSession(), dir)
      val f = new java.io.File(s"$dir/customer.parquet")
      assert(f.setLastModified(f.lastModified() + 60000L))
      val second = sessionWith(dir)
      assert(jobsDuring(Tables.bucketed(second, dir, "customer",
        "c_custkey")) > 0, "a changed input mtime must rewrite the layout")
      assert(layoutRows(second, dir) === rows)
      // and the rewrite is stamped again: the next session reuses it
      val third = sessionWith(dir)
      assert(jobsDuring(Tables.bucketed(third, dir, "customer",
        "c_custkey")) === 0)
    }
  }
}
