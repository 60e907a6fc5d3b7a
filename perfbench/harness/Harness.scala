package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.{GraftSession, SparkEntry}
import graft.api.OptOutEtl
import graft.ops
import graft.sources.Tables

/** JVM side of the benchmark: one session, one closed-loop client.
  *
  * `run.py` writes a plan (`key=value` lines) and starts this main with
  * its path. Modes:
  *   - `run`: set up `setups` times (the last session stays), then run
  *     passes of the seeded request orders back to back until `seconds`
  *     have passed, each request sent only after the previous one ended.
  *     Every request is recorded with its latency and its output
  *     fingerprint or its error; `run.py` checks and aggregates them.
  *     With `trace=1` passes alternate untraced / traced; traced passes
  *     record spans and listener counts.
  *   - `record`: fingerprint every registered query once (the reference).
  *   - `dumps`: fingerprint the parquet dumps `graft.Verify` wrote, so the
  *     reference can be tied to the DuckDB-checked outputs.
  *
  * Every call into the program goes through its public entry points;
  * nothing here changes how a query is built or run.
  */
object Harness {

  /** The registry's modules, in `SparkEntry` order, by layer name. */
  val modules: Seq[(String, Seq[(String, (SparkSession, String) => DataFrame)])] =
    Seq("Wnv" -> ops.Wnv.queries, "Relational" -> ops.Relational.queries,
      "Analytics" -> ops.Analytics.queries, "Text" -> ops.Text.queries,
      "Curation" -> ops.Curation.queries, "Events" -> ops.Events.queries,
      "Dedup" -> ops.Dedup.queries, "Similarity" -> ops.Similarity.queries,
      "Multimodal" -> ops.Multimodal.queries, "Sql" -> ops.Sql.queries,
      "Streams" -> graft.streaming.Streams.queries)
  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_._1 -> m) }.toMap

  val EtlJob = "etl_job"

  /** Shared memo artifacts, by the name the plan uses. */
  val artifacts: Map[String, (SparkSession, String) => Unit] = Map(
    "codec" -> ((_, _) => ops.Multimodal.warmCodec()),
    "dedup" -> ops.Dedup.warmArtifacts,
    "similarity" -> ops.Similarity.warmArtifacts,
    "relational" -> ops.Relational.warmArtifacts,
    "events_session" -> ((s, d) => { ops.Events.sessionFrame(s, d); () }))

  val addressSchema: StructType = StructType(
    Seq("FULLADDR", "ADDRNUM", "UNITID", "PREDIR", "STREETNAME",
      "STREETSUFF", "POSTDIR").map(StructField(_, StringType)) ++
      Seq(StructField("x", DoubleType), StructField("y", DoubleType)))

  def main(args: Array[String]): Unit = {
    val plan = Files.readAllLines(Paths.get(args(0))).asScala
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap
    val out = new Records(plan("out"))
    try plan("mode") match {
      case "run" => new Run(plan, out).apply()
      case "record" => record(plan, out)
      case "dumps" => dumps(plan, out)
    } finally out.close()
  }

  private def setProps(s: SparkSession, req: String, phase: String): Unit = {
    s.sparkContext.setLocalProperty("perfbench.req", req)
    s.sparkContext.setLocalProperty("perfbench.phase", phase)
  }

  /** Full evaluation of the physical plan, folded into a fingerprint. */
  def fingerprint(df: DataFrame): Fp = {
    val schema = df.schema
    df.queryExecution.toRdd
      .mapPartitions(rows => Iterator(Fingerprint.of(rows, schema)))
      .collect().foldLeft(Fingerprint.empty(schema))(_ merge _)
  }

  private def record(plan: Map[String, String], out: Records): Unit = {
    val spark = GraftSession.build(plan("cpus"))
    val data = plan("data")
    artifacts.values.foreach(_(spark, data))
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, data)
      val fp = fingerprint(df)
      out("ref", "name" -> name, "module" -> moduleOf(name),
        "oracle" -> SparkEntry.oracleSql.contains(name),
        "lat_s" -> (System.nanoTime() - t0) / 1e9,
        "fp" -> RawJson(fp.json))
    }
    spark.stop()
  }

  private def dumps(plan: Map[String, String], out: Records): Unit = {
    val spark = GraftSession.build(plan("cpus"))
    new File(plan("dir")).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.foreach { name =>
        val fp = fingerprint(spark.read.parquet(s"${plan("dir")}/$name"))
        out("dump", "name" -> name, "fp" -> RawJson(fp.json))
      }
    spark.stop()
  }

  /** One `run`-mode invocation. */
  private final class Run(plan: Map[String, String], out: Records) {
    private val origin = System.nanoTime()
    private val data = plan("data")
    private val cpus = plan("cpus")
    private val traceRun = plan("trace") == "1"
    private val spans = new Spans(origin)
    private val collector = new Collector
    private val work = plan("work")
    private var reqNo = 0

    private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    def apply(): Unit = {
      val setups = plan("setups").toInt
      var spark: SparkSession = null
      for (i <- 0 until setups) {
        if (spark != null) spark.stop()
        spark = setup(i)
      }
      val orders = plan.keys.filter(_.startsWith("order.")).toSeq
        .sortBy(_.stripPrefix("order.").toInt).map(k => plan(k).split(",").toSeq)
      // the first `warmups` passes warm up: a query's first runs pay its
      // code generation and JIT; their requests are checked, not timed
      val warmups = plan("warmup_passes").toInt
      (0 until warmups).foreach(w => pass(spark, w, orders(w), traced = false))
      val seconds = plan("seconds").toDouble
      val minPasses = plan("min_passes").toInt
      val loop0 = System.nanoTime()
      var p = warmups
      // closed loop: a pass starts only after the previous one ended. The
      // loop runs at least `minPasses` passes, so the pass count does not
      // flip with small timing changes; a traced run alternates untraced
      // and traced passes so tracing overhead is measured in one session
      while (p < orders.size &&
          (p < warmups + minPasses || secs(loop0) < seconds)) {
        // traced passes in the order U T T U U T T U …, so a warming
        // trend does not bias the measured tracing overhead
        pass(spark, p, orders(p), traced = traceRun && (p - warmups) % 4 % 3 != 0)
        p += 1
      }
      out("loop", "passes" -> (p - warmups), "seconds" -> secs(loop0))
      if (traceRun) {
        spans.flush(out)
        collector.flush(out)
      }
      out("rss", "peak_mb" -> peakRssMb)
      spark.stop()
    }

    private def peakRssMb: Double =
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

    /** Session build, table warm, bucketed layouts, this workload's
      * artifacts: the cost every deployment pays before its first query.
      */
    private def setup(i: Int): SparkSession = {
      val req = s"setup$i"
      spans.enabled = traceRun
      val t0 = System.nanoTime()
      val spark = spans(req, "session.build")(GraftSession.build(cpus))
      val sessionS = secs(t0)
      if (traceRun) spark.sparkContext.addSparkListener(collector)
      val phases = scala.collection.mutable.ArrayBuffer("session.build" -> sessionS)
      def phase(name: String)(body: => Unit): Unit = {
        setProps(spark, req, name)
        val p0 = System.nanoTime()
        spans(req, name)(body)
        phases += name -> secs(p0)
      }
      phase("sources.warm") {
        Tables.names.foreach(n =>
          Tables.t(spark, data, n).queryExecution.toRdd.count())
      }
      phase("sources.bucketed") {
        Tables.bucketedLayouts.keys.toSeq.sorted.foreach(n =>
          Tables.bucketedFor(spark, data, n).queryExecution.toRdd.count())
      }
      plan.getOrElse("artifacts", "").split(",").filter(_.nonEmpty)
        .foreach(a => phase(s"artifacts.$a")(artifacts(a)(spark, data)))
      val total = secs(t0)
      val stored = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum
      if (traceRun) {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(collector)
      }
      spans.enabled = false
      out("setup", "i" -> i, "total_s" -> total,
        "phases" -> RawJson(Json.obj(phases.toSeq)),
        "stored_bytes" -> stored)
      spark
    }

    private def pass(spark: SparkSession, p: Int, order: Seq[String],
        traced: Boolean): Unit = {
      spans.enabled = traced
      if (traced) spark.sparkContext.addSparkListener(collector)
      val t0 = System.nanoTime()
      order.foreach(request(spark, p, _, traced))
      val wall = secs(t0)
      if (traced) {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(collector)
      }
      spans.enabled = false
      out("pass", "pass" -> p, "traced" -> traced, "wall_s" -> wall)
    }

    /** One closed-loop request. A throw is recorded, never retried. */
    private def request(spark: SparkSession, p: Int, name: String,
        traced: Boolean): Unit = {
      val req = s"r$reqNo"
      reqNo += 1
      setProps(spark, req, "builder")
      val extra = scala.collection.mutable.ArrayBuffer[(String, Any)]()
      val t0 = System.nanoTime()
      val result: Either[String, () => String] =
        try spans(req, "request") {
          if (name == EtlJob) Right(etlJob(spark, req, extra))
          else {
            val fp = query(spark, req, name, traced, extra).json
            Right(() => fp)
          }
        } catch {
          case e: Throwable if NonFatal(e) =>
            Left(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val lat = secs(t0)
      val checked: Either[String, String] = result.flatMap { f =>
        try Right(f()) catch {
          case e: Throwable if NonFatal(e) => Left(s"output check: $e")
        }
      }
      out("req", (Seq[(String, Any)]("req" -> req, "pass" -> p,
        "traced" -> traced, "name" -> name,
        "module" -> moduleOf.getOrElse(name, if (name == EtlJob) "Etl" else "?"),
        "lat_s" -> lat,
        "fp" -> checked.toOption.map(RawJson(_)),
        "err" -> checked.left.toOption) ++ extra.toSeq): _*)
    }

    private def query(spark: SparkSession, req: String, name: String,
        traced: Boolean, extra: scala.collection.mutable.ArrayBuffer[(String, Any)]): Fp = {
      val fn = SparkEntry.queries.getOrElse(name,
        throw new NoSuchElementException(s"no query named $name"))
      val b0 = System.nanoTime()
      val df = spans(req, "builder")(fn(spark, data))
      extra += "builder_s" -> secs(b0)
      val qe = df.queryExecution
      if (traced) {
        spans(req, "catalyst.optimization")(qe.optimizedPlan)
        spans(req, "catalyst.planning")(qe.executedPlan)
        // the rendered explain string (every plan of the query), which
        // spark.sql.maxPlanStringLength caps
        extra += "plan_chars" -> spans(req, "catalyst.plan_string")(
          qe.toString.length)
      }
      setProps(spark, req, "exec")
      val e0 = System.nanoTime()
      val fp = spans(req, "exec")(fingerprint(df))
      extra += "exec_s" -> secs(e0)
      if (traced) extra += "tracker_ms" -> RawJson(Json.obj(
        qe.tracker.phases.toSeq.sortBy(_._1).map { case (k, v) => k -> v.durationMs }))
      fp
    }

    /** The paper's pipeline: extract → transform → load (parquet), the
      * buffer/erase final analysis against the zones, the target-address
      * report and its CSV sink. Returns the (untimed) output check.
      */
    private def etlJob(spark: SparkSession, req: String,
        extra: scala.collection.mutable.ArrayBuffer[(String, Any)]): () => String = {
      val dest = s"$work/optout_points.parquet"
      val reportDir = s"$work/report_csv"
      val etl = new OptOutEtl(spark, plan("etl.optout"), work, dest)
      def step[T](name: String)(body: => T): T = {
        setProps(spark, req, name)
        val s0 = System.nanoTime()
        val r = spans(req, name)(body)
        extra += s"${name}_s" -> secs(s0)
        r
      }
      val raw = step("etl.extract")(etl.extract())
      val points = step("etl.transform")(etl.transform(raw))
      val loaded = step("etl.load")(etl.load(points))
      val targets = step("etl.final_analysis")(
        etl.finalAnalysis(ops.Wnv.zones(spark, data)))
      val report = step("etl.report")(ops.Wnv.targetAddressReport(
        Tables.csv(spark, plan("etl.addresses"), addressSchema), targets))
      step("etl.write")(Tables.writeCsv(report, reportDir))
      () => {
        val lines = new File(reportDir).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
          .flatMap(f => Files.readAllLines(f.toPath).asScala.drop(1)).sorted
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(lines.mkString("\n").getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        def bytes(f: File): Long =
          if (f.isDirectory) f.listFiles().map(bytes).sum else f.length()
        extra += "bytes_written" -> (bytes(new File(dest)) + bytes(new File(reportDir)))
        Json.obj(Seq("loaded" -> loaded, "report_rows" -> lines.length,
          "report_md5" -> md5))
      }
    }
  }
}
