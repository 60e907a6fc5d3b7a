package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Dedup.{idot, idotSql, qcos, qcosSql, qEmb, qEmbSql}
import graft.functions.XF
import graft.Artifact
import graft.sources.Tables.t

/** Similarity search over the `embeddings` table (SURVEY.md §2.8):
  * brute-force cosine top-k as the correctness baseline, and a
  * sign-quantization bucketed variant as the sub-quadratic scale path.
  *
  * All cosine arithmetic uses the quantized-integer scheme from [[Dedup]]
  * (floor(x·2^20) per element): dot products and squared norms are exact
  * BIGINT sums, so ranking is deterministic and bit-identical across
  * engines — no float-accumulation-order hazards in the oracle compare.
  *
  * Scale design: brute force is a broadcast of the (small) query set
  * against a scan of the candidate corpus — ranking via per-query window
  * top-k, which Spark executes as partial top-k per partition before the
  * shuffle when the filter on row_number is pushed (WindowGroupLimit).
  * At 100 TB the bucketed form bounds each probe to one quantization cell;
  * recall is tuned by adding probe cells (multiprobe) — the classic
  * IVF/LSH trade, documented here and tested for the 1-cell case.
  */
object Similarity {

  private val TopK = 5

  /** K-means: cluster-count floor and fixed Lloyd iteration count
    * (unrolled verbatim in the SQL oracle — same seeds, same rounds,
    * same floor). The EFFECTIVE K is corpus-relative:
    * K = max(KmK, ⌈N / KmTarget⌉), i.e. the mean cluster SIZE is
    * pinned at ≤ KmTarget as the corpus grows — the SemDeDup posture
    * (Abbas et al. 2023 scale K with N; LAION used ~11k clusters).
    * A FIXED K would make `dedup_semantic`'s within-cluster pair join
    * Σ|c|² ≈ N²/K — quadratic in the corpus, measured as 62 s at
    * sf10's 200k vectors (57× its sf1 time) in the round-15 full
    * sweep; with cluster size pinned, pair volume is ~N·KmTarget,
    * linear. Every shipped sf ≤ 1 corpus sits at or under
    * KmK·KmTarget = 20k vectors, so their K stays 8 and every
    * committed small-SF record and oracle result is bit-identical.
    * The oracle computes the same K from the same corpus via a scalar
    * subquery on the seed CTE.
    */
  private val KmK = 8
  private val KmIters = 3
  private val KmTarget = 2500

  /** Per-cluster member cap for cluster-balanced sampling. */
  private val KmCap = 40

  /** Within-cluster cosine threshold for semantic dedup. */
  private val SemThresh = 0.45

  /** K-MEANS (Lloyd's) over the embedding corpus — the semantic
    * clustering pass behind topic balancing / cluster-level dedup.
    * Entirely in the exact-integer domain so every iteration is
    * bit-identical across engines and task retries: squared L2 via
    * precomputed norms (d² = |a|² + |c|² − 2a·c, all BIGINT), centroid
    * update as floor(Σq/n) per dim (|Σq| < 2^53, so the double division
    * is exact), KmIters fixed rounds from the vec_id<K seed.
    * Scale shape: each round is one corpus scan against a BROADCAST
    * K-row centroid table (the nested-loop join is K-bounded, never a
    * Cartesian blowup), one (cid,dim)-key aggregation whose map-side
    * partials collapse to K×dims cells, and a K-row update frame that
    * ends in localCheckpoint — lineage stays flat, so round T never
    * re-derives rounds 1..T−1 (T+1 scans total, k-means' honest cost).
    * Returns the final per-vector assignment (vec_id, q, n2, cid, d2).
    *
    * Memoized per (session, dir) like [[Dedup]]'s label memo: the
    * assignment is a MATERIALIZED artifact of the corpus (ends in a
    * localCheckpoint — real blocks, no lineage) consumed by three
    * queries (`emb_kmeans`, `sample_cluster_cap`, `dedup_semantic`),
    * exactly as a production pipeline writes the cluster-assignment
    * table once and joins it from every downstream pass.
    */
  private val kmeansFinalAssign =
    Artifact("similarity", "kmeans_assign")(computeKmeansAssign)

  /** Bench's untimed warmup builds this module's artifacts (k-means
    * assignment, PQ distance table, PCA parts, ranked IVF cells) so the
    * one-time builds never land in a timed query.
    */
  private[graft] def warmArtifacts(s: SparkSession, d: String): Unit =
    Artifact.warm("similarity", s, d)

  private def computeKmeansAssign(s: SparkSession, d: String): DataFrame = {
    val corpus = qEmb(s, d)
    def assign(cents: DataFrame): DataFrame = corpus
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("q"), col("n2"), col("cid"),
        (col("n2") + col("ccn2") -
          lit(2L) * idot(col("q"), col("cq"))).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cid"), col("d2")),
          struct(col("d2"), col("cid"))).as("best"),
        first(col("q")).as("q"), first(col("n2")).as("n2"))
      .select(col("vec_id"), col("q"), col("n2"),
        col("best.cid").as("cid"), col("best.d2").as("d2"))
    def update(assigned: DataFrame): DataFrame = assigned
      .select(col("cid"), posexplode(col("q")).as(Seq("dim", "qv")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(col("qv")).as("sq"), count(lit(1)).as("n"))
      .withColumn("cv", floor(col("sq").cast(DoubleType) /
        col("n").cast(DoubleType)).cast(LongType))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        x => x.getField("cv")).as("cq"))
      .withColumn("ccn2", idot(col("cq"), col("cq")))
      .localCheckpoint()
    // corpus-relative K (see KmTarget): one count job per memoized
    // assignment, matching the oracle's scalar subquery on the seed
    val k = math.max(KmK.toLong,
      math.ceil(corpus.count() / KmTarget.toDouble).toLong)
    var cents = corpus.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("q").as("cq"),
        col("n2").as("ccn2"))
    for (_ <- 1 to KmIters) cents = update(assign(cents))
    // materialize: the memoized artifact must be real blocks, not a
    // lineage that re-runs the rounds per consumer
    assign(cents).localCheckpoint()
  }

  /** PQ codebook sampling step: every `cstep`-th vector is a centroid,
    * with cstep scaled to the corpus so the codebook holds ~256 entries
    * (Jégou'11's canonical K) at ANY scale. The previous
    * corpus-proportional codebook (every 100th vector, K = n/100) made
    * the encode artifact quadratic — N×M×K = n²/25 rows, and the sf10
    * drive measured the per-dim encode join at ~26B intermediate rows
    * before it was killed. Derived from the memoized corpus count
    * [[nEmb]]; the oracle computes the identical
    * GREATEST(1, (n + 255) // 256) from the same table.
    */
  private def pqCstep(s: SparkSession, d: String): Long =
    math.max(1L, (nEmb(s, d) + 255L) / 256L)

  private val pqCstepSql: String =
    "(SELECT GREATEST(1, (COUNT(*) + 255) // 256) FROM qn)"

  /** In-heap row ceiling for the PQ encode artifact (the N×M×K frame —
    * N vectors × M=8 subspaces × K≈256 codebook entries): every
    * committed record through sf10 (200k vectors → ~410M rows) was
    * measured on the in-heap path; sf30's 600k vectors → 1.23B rows
    * (~50 GB deserialized) OOM'd the 96 GB drive inside the 32-way
    * concurrent checkpoint unroll (round-14 warm probe — the same
    * failure class as the Dedup memo OOM eed4443 fixed). Past the
    * ceiling [[graft.Artifact.checkpoint]] streams DISK_ONLY — also the
    * stored-table contract at 100 TB (the encode artifact is a written
    * table every ANN consumer joins). SimilaritySpec pins the shipped
    * corpora against this constant so generator drift cannot silently
    * flip a committed bench regime's storage path. */
  private[graft] val PqInHeapMaxRows = 600000000L

  private val nEmbMemo =
    new graft.BoundedMemo[(SparkSession, String), java.lang.Long](8)
  private[graft] def nEmb(s: SparkSession, d: String): Long =
    nEmbMemo.getOrCompute((s, d))(
      java.lang.Long.valueOf(qEmb(s, d).count())).longValue()

  /** PQ sub-distance table (vec_id, m, cvid, d2): exact integer L2²
    * from each vector's 16-dim subvector in subspace m to centroid
    * cvid's subvector — the encode-time artifact both `sim_pq_adc`
    * (codes + ADC lookups) and `emb_pq_error` (reconstruction audit)
    * consume. Memoized + localCheckpoint per (session, dir) like the
    * shingle index: the cells×codebook join runs once per corpus, and
    * every consumer reads the materialized N×M×K frame.
    */
  private val pqDist = Artifact("similarity", "pq_dist") {
    (s, d) =>
      val cstep = pqCstep(s, d)
      // single-file corpora hand this ~K-way row expansion ONE scan
      // partition unless spread first (the codec-stage lesson,
      // Multimodal.scala:129-137: a scan's partitioning reflects FILE
      // layout, not downstream compute cost)
      val cells = qEmb(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), posexplode(col("q")).as(Seq("dim", "qv")))
      val cents = cells.filter(col("vec_id") % cstep === 0)
        .select(col("vec_id").as("cvid"), col("dim"), col("qv").as("cqv"))
      val enc = cells.join(broadcast(cents), Seq("dim"))
        .withColumn("dd", col("qv") - col("cqv"))
        .groupBy(col("vec_id"), expr("dim DIV 16").as("m"), col("cvid"))
        .agg(sum(col("dd") * col("dd")).as("d2"))
      // N × M(8) × K rows, with K derived from the actual construction
      // (K = ceil(N / cstep) ≤ 256 — the 256 constant previously used
      // here overstated rows for small corpora, which could flip a
      // corpus just under the true in-heap boundary to DISK_ONLY
      // early; r14 ADVICE #4). At every committed regime the derived
      // K equals 256 exactly (sf30: ceil(600k/2344) = 256), so no
      // spec-pinned storage path moves.
      val n = nEmb(s, d)
      val estRows = n * 8L * ((n + cstep - 1L) / cstep)
      Artifact.checkpoint(enc, estRows, PqInHeapMaxRows)
  }

  /** The DuckDB CTE chain both PCA oracles share (through `x3`, the
    * final loading vector). HUGEINT mirrors Spark's DECIMAL(38,0);
    * every division is magnitude-only (sign · (|v| // m)) so DuckDB's
    * floor `//` and Spark's truncating DIV agree — operands are never
    * negative.
    */
  private lazy val pcaSqlCtes: String = {
    def iter(k: Int): String =
      s"""y$k AS (SELECT d1 AS dim, CAST(SUM(cred * x.xv) AS HUGEINT) AS y
         |  FROM cr JOIN x${k - 1} x ON x.dim = cr.d2 GROUP BY 1),
         |m$k AS (SELECT GREATEST(MAX(ABS(y)), 1) AS mx FROM y$k),
         |x$k AS (SELECT dim,
         |    (CASE WHEN y < 0 THEN -1 ELSE 1 END) *
         |      ((ABS(y) * 1000000) // mx) AS xv
         |  FROM y$k CROSS JOIN m$k)""".stripMargin
    s"""$qEmbSql,
       |cells AS (SELECT vec_id, i - 1 AS dim, q[i] AS qv
       |          FROM qn, unnest(range(1, len(q) + 1)) t(i)),
       |nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS HUGEINT) AS n
       |       FROM cells),
       |p AS (SELECT a.dim AS d1, b.dim AS d2,
       |        CAST(SUM(CAST(a.qv AS HUGEINT) * b.qv) AS HUGEINT) AS s12
       |      FROM cells a JOIN cells b ON a.vec_id = b.vec_id
       |      GROUP BY 1, 2),
       |st AS (SELECT dim, CAST(SUM(CAST(qv AS HUGEINT)) AS HUGEINT) AS sv
       |       FROM cells GROUP BY 1),
       |c AS (SELECT d1, d2, nn.n * s12 - a.sv * b.sv AS cnum
       |      FROM p JOIN st a ON a.dim = p.d1
       |      JOIN st b ON b.dim = p.d2 CROSS JOIN nn),
       |g AS (SELECT MAX(ABS(cnum)) // 1000000 + 1 AS g FROM c),
       |cr AS (SELECT d1, d2,
       |         (CASE WHEN cnum < 0 THEN -1 ELSE 1 END) *
       |           (ABS(cnum) // g.g) AS cred
       |       FROM c CROSS JOIN g),
       |x0 AS (SELECT dim, CAST(1000000 AS HUGEINT) AS xv FROM st),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}""".stripMargin
  }

  /** The PCA artifacts shared by `emb_pca_power` and
    * `emb_pca_explained`: (C, x) where C is the exact integer
    * covariance NUMERATOR matrix C(i,j) = n·Σq_iq_j − Σq_i·Σq_j
    * (DECIMAL(38,0), full symmetric 64×64) and x the micro-unit
    * loading vector after 3 power iterations with max-norm rescaling.
    * Division appears only as sign·(|v| DIV m) — magnitude-only, so
    * truncation-vs-floor on negatives can never split the engines.
    * Memoized + localCheckpoint per (session, dir): the corpus-sized
    * C fan-in (emb_covariance's plan shape) runs once; the iterations
    * are 4 096×64 joins — constant-size work regardless of corpus.
    */
  private val pcaParts = Artifact("similarity", "pca_parts") {
    (s, d) =>
      val dec = DecimalType(38, 0)
      // spread before the 64-way explode: the checkpointed frame
      // otherwise inherits the single-row-group scan's ONE partition
      // (the codec-stage rule, Multimodal.pngMedia)
      val cells = t(s, d, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"),
          posexplode(Dedup.qvec(col("embedding"))).as(Seq("dim", "qv")))
        .localCheckpoint()
      val nn = cells.select(col("vec_id")).distinct().count()
      val pairs = cells
        .select(col("vec_id"), col("dim").as("d1"), col("qv").as("q1"))
        .join(cells.select(col("vec_id"), col("dim").as("d2"),
          col("qv").as("q2")), Seq("vec_id"))
        .groupBy(col("d1"), col("d2"))
        .agg(sum((col("q1") * col("q2")).cast(dec)).as("s12"))
      val stats = cells.groupBy(col("dim"))
        .agg(sum(col("qv").cast(dec)).as("sv"))
      val cNum = pairs
        .join(broadcast(stats.select(col("dim").as("d1"),
          col("sv").as("sv1"))), Seq("d1"))
        .join(broadcast(stats.select(col("dim").as("d2"),
          col("sv").as("sv2"))), Seq("d2"))
        .select(col("d1"), col("d2"),
          (lit(nn).cast(dec) * col("s12") - col("sv1") * col("sv2"))
            .cast(dec).as("cnum"))
        .localCheckpoint()
      // reduce C to ≤1e6 magnitude longs (direction-preserving): the
      // iteration only needs the direction, and bounded operands keep
      // every later product exact
      val g = cNum.agg((expr("max(abs(cnum)) DIV 1000000") + 1L).as("g"))
      val cRed = cNum.crossJoin(broadcast(g))
        .select(col("d1"), col("d2"),
          (when(col("cnum") < 0, -1L).otherwise(1L) *
            expr("abs(cnum) DIV g")).as("cred"))
        .localCheckpoint()
      var x = stats.select(col("dim"), lit(1000000L).as("xv"))
      for (_ <- 1 to 3) {
        val y = cRed
          .join(x.select(col("dim").as("d2"), col("xv").as("x2")),
            Seq("d2"))
          .groupBy(col("d1"))
          .agg(sum((col("cred") * col("x2")).cast(dec)).as("y"))
        val mx = y.agg(greatest(max(abs(col("y"))).cast(dec),
          lit(1L).cast(dec)).as("mx"))
        x = y.crossJoin(broadcast(mx))
          .select(col("d1").as("dim"),
            (when(col("y") < 0, -1L).otherwise(1L) *
              expr("(abs(y) * CAST(1000000 AS DECIMAL(38,0))) DIV mx"))
              .as("xv"))
      }
      (cNum, x.localCheckpoint())
  }

  /** Per-(vector, subspace) nearest-centroid code (argmin with the
    * d2·4096+rank composite tie-break both engines share, where rank
    * is the DENSE centroid index cvid/cstep — so the composite stays a
    * total order up to 4096 centroids regardless of the sampling step;
    * with the ~256-entry codebook the guard never fires at any corpus
    * size, but past 4096 it still fails LOUDLY instead of letting
    * min_by resolve ties engine-arbitrarily).
    */
  private def pqCodes(s: SparkSession, d: String): DataFrame = {
    val cstep = pqCstep(s, d)
    val denseRank = when(col("cvid") >= 4096L * cstep, raise_error(lit(
      "pqCodes: centroid rank >= 4096 — the d2*4096+rank tie-break is " +
        "no longer a total order; widen the composite base")))
      .otherwise((col("cvid") / cstep).cast(LongType))
    pqDist(s, d).groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("cvid"), col("d2") * 4096 + denseRank).as("code"))
  }

  /** Probe ranks materialized in the ranked IVF artifact: rank 1 is the
    * home cell (= the former [[ivfCells]] assignment, identical
    * tie-break), ranks 2..3 feed multiprobe candidate generation
    * ([[graft.ops.Dedup]]'s embedding near-dup at nprobe=2) and the
    * recall calibration's widest width.
    */
  private[graft] val IvfMaxProbe = 3

  /** Corpus IVF assignment RANKED to the top-[[IvfMaxProbe]] coarse
    * centroids per vector: (vec_id, cell, prank) with prank 1 the
    * nearest centroid by quantized cosine (ties to the smallest
    * centroid id — one total order both engines share). The cell count
    * scales with the corpus (every 100th vector is a centroid — a
    * trained k-means codebook drops in with the identical plan), so
    * cell occupancy is ~100 REGARDLESS of n: candidate volume through
    * any cell equi-join stays linear in the corpus — the property the
    * round-9 sf1 sweep showed the FIXED 16-cell sign quantizer lacks
    * (n²/32 candidates). The rank window shuffles three scalars per
    * (vector, centroid) pair — never the embedding arrays — and the
    * artifact is memoized + localCheckpointed like the PQ chain (a
    * production index stores exactly this table).
    */
  private[graft] val ivfCellsRanked =
    Artifact("similarity", "ivf_cells_ranked") { (s, d) =>
      val cents = qEmb(s, d).filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cvid"), col("q").as("cq"),
          col("n2").as("ccn2"))
      // spread before the |cents|-way expansion: the single-file corpus
      // scan is ONE partition (same rule as pqDist / Multimodal:129-137)
      qEmb(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .crossJoin(broadcast(cents))
        .select(col("vec_id"),
          qcos(idot(col("q"), col("cq")), col("n2"), col("ccn2")).as("ccos"),
          col("cvid"))
        .withColumn("prank", row_number().over(Window
          .partitionBy(col("vec_id"))
          .orderBy(col("ccos").desc, col("cvid"))))
        .filter(col("prank") <= IvfMaxProbe)
        .select(col("vec_id"), col("cvid").as("cell"),
          col("prank").cast(org.apache.spark.sql.types.LongType)
            .as("prank"))
        .localCheckpoint()
    }

  /** Rank-1 view of [[ivfCellsRanked]] — the (vec_id, cell) home
    * assignment every IVF probe keys on (one artifact build serves
    * both the sim_ivf_* queries and the dedup multiprobe generator).
    */
  private[graft] def ivfCells(s: SparkSession, d: String): DataFrame =
    ivfCellsRanked(s, d).filter(col("prank") === 1L)
      .select(col("vec_id"), col("cell"))

  /** Query subset: every 50th vector. Stays tiny relative to the corpus
    * (the realistic ANN shape: few queries, huge candidate side).
    */
  /** Query-id cap for every query-side instrument (`% 50` sample AND
    * `< 2000`): the index side of each sim_* query scales with the
    * corpus (the realistic serving dimension), but the QUERY COUNT in
    * a benchmark readout is an instrument knob — without the cap it
    * grew with the corpus too, and the round-9 sf1 sweep measured the
    * brute-force/recall instruments going quadratic (queries x corpus:
    * 38x at 10x data). At the sf0.1 gate scales every vec_id is
    * < 2000, so capping changes NOTHING there (committed results are
    * bit-identical); at sf1+ the instruments hold 40 queries and scale
    * linearly with the corpus.
    */
  private[ops] val QueryIdCap = 2000L

  private def queriesSide(s: SparkSession, d: String): DataFrame =
    qEmb(s, d).filter(col("vec_id") % 50 === 0 &&
        col("vec_id") < QueryIdCap)
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("n2").as("qn2"))

  /** 4-bit sign-quantization bucket over the first 4 dimensions (a fixed
    * coarse quantizer; a trained IVF codebook replaces this at scale, same
    * plan shape — derive cell id, equi-join on it). Shared with
    * [[Dedup]]'s embedding near-dup candidate generation.
    */
  private[graft] def bucket(vcol: String): org.apache.spark.sql.Column =
    (0 until 4).map(k =>
      when(element_at(col(vcol), k + 1) >= 0L, lit(1 << k)).otherwise(lit(0)))
      .reduce(_ + _)

  private[ops] def bucketSql(v: String): String =
    (0 until 4).map(k =>
      s"CASE WHEN $v[${k + 1}] >= 0 THEN ${1 << k} ELSE 0 END")
      .mkString(" + ")

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // brute-force cosine top-k: broadcast queries × corpus scan → window
    // top-k per query.
    "sim_topk_bruteforce" -> ((s: SparkSession, d: String) => {
      val cand = qEmb(s, d)
        .select(col("vec_id").as("cid"), col("q").as("cv"), col("n2").as("cn2"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid"))
      broadcast(queriesSide(s, d))
        .join(cand, col("qid") =!= col("cid"))
        .withColumn("cos", qcos(idot(col("qv"), col("cv")), col("qn2"), col("cn2")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("cid"), col("cos"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // bucketed ANN: quantization-cell equi-join restricts each probe to
    // its own cell (recall < 1 by construction; multiprobe widens it).
    "sim_ann_bucketed" -> ((s: SparkSession, d: String) => {
      val cand = qEmb(s, d)
        .select(col("vec_id").as("cid"), col("q").as("cv"), col("n2").as("cn2"))
        .withColumn("cell", bucket("cv"))
      val qs = queriesSide(s, d).withColumn("cell", bucket("qv"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid"))
      broadcast(qs)
        .join(cand, Seq("cell"))
        .filter(col("qid") =!= col("cid"))
        .withColumn("cos", qcos(idot(col("qv"), col("cv")), col("qn2"), col("cn2")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("cid"), col("cos"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // multiprobe ANN: probe the home cell plus the 4 Hamming-1 sign
    // cells — 5x the candidate volume of the 1-cell probe for strictly
    // better recall, same equi-join plan shape (the IVF nprobe knob).
    "sim_ann_multiprobe" -> ((s: SparkSession, d: String) => {
      val cand = qEmb(s, d)
        .select(col("vec_id").as("cid"), col("q").as("cv"), col("n2").as("cn2"))
        .withColumn("cell", bucket("cv"))
      val probes = queriesSide(s, d)
        .withColumn("home", bucket("qv"))
        .withColumn("cell", explode(array(
          col("home") +: (0 until 4).map(k =>
            col("home").bitwiseXOR(lit(1 << k))): _*)))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid"))
      // cosine computed BEFORE the probe-dedup so distinct() shuffles
      // three scalars per candidate pair instead of two embedding
      // arrays (the extra idot per duplicate probe is cheaper than
      // hashing+shuffling the vectors; result set is identical).
      broadcast(probes)
        .join(cand, Seq("cell"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          qcos(idot(col("qv"), col("cv")), col("qn2"), col("cn2")).as("cos"))
        .distinct()
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("cid"), col("cos"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // IVF with a data-derived codebook: every 100th vector serves as a
    // centroid (a k-means codebook replaces this selection at scale —
    // identical plan); every vector is assigned to its nearest centroid;
    // each query probes only its own cell. This is the real IVF shape:
    // assignment cost is corpus × C, probe cost is cell-local.
    //
    // Assignment is a scalar-only argmax: the corpus × centroids product
    // is projected to (vec_id, cvid, ccos) BEFORE aggregating, so the
    // shuffle carries three scalars per pair — not embedding arrays —
    // and max_by gets map-side partial aggregation (one corpus-sized
    // row per group leaves each task). The former window formulation
    // shuffled the full arrays and sorted per group; and because both
    // the query and candidate sides derived from it, it ran TWICE. The
    // query side now assigns only the query subset (1/50th the work).
    "sim_ivf_topk" -> ((s: SparkSession, d: String) => {
      val corpus = qEmb(s, d)
      val qs = corpus.filter(col("vec_id") % 50 === 0 &&
          col("vec_id") < QueryIdCap)
        .join(ivfCells(s, d), Seq("vec_id"))
        .select(col("vec_id").as("qid"), col("q").as("qv"),
          col("n2").as("qn2"), col("cell"))
      val cand = corpus.join(ivfCells(s, d), Seq("vec_id"))
        .select(col("vec_id").as("cid"), col("q").as("cv"),
          col("n2").as("cn2"), col("cell"))
      val wRank = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid"))
      broadcast(qs)
        .join(cand, Seq("cell"))
        .filter(col("qid") =!= col("cid"))
        .withColumn("cos", qcos(idot(col("qv"), col("cv")), col("qn2"), col("cn2")))
        .withColumn("rnk", row_number().over(wRank))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("cid"), col("cos"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // PRODUCT QUANTIZATION + ADC — the memory side of scale ANN (IVF
    // above bounds the SEARCH; PQ bounds the BYTES): the 64-dim vector
    // splits into 4 subspaces of 16 dims, each subvector is encoded as
    // its nearest codebook entry (data-derived codebook: every
    // cstep-th vector with cstep ∝ n, holding the codebook at ~256
    // entries — Jégou'11's canonical K — at any corpus size; a Lloyd
    // codebook drops in with an identical plan),
    // and a query's approximate distance to ANY vector is the sum of 4
    // table lookups (Asymmetric Distance Computation, Jégou et al.,
    // TPAMI 2011) — the corpus is 4 small codes per vector, never the
    // raw floats. Everything is exact integer L2² in the quantized
    // domain, so codes, ADC sums, and ranks are bit-identical across
    // engines; argmin ties break by composite scalar d2·4096+rank
    // with rank the dense centroid index cvid/cstep (guarded loud at
    // 4096 centroids — one total order both engines agree on). The
    // output re-ranks each query's ADC top-5 with the EXACT distance —
    // the calibration a PQ deployment runs to pick M and K before
    // trusting the codes. Scale shape: the codebook (M×K subvectors)
    // broadcasts; encoding is one corpus×codebook join grouped to N×M
    // code rows; ADC probes join the broadcast query lookup table to
    // the code table — no raw-vector shuffle anywhere past encoding.
    "sim_pq_adc" -> ((s: SparkSession, d: String) => {
      val dist = pqDist(s, d)
      val codes = pqCodes(s, d)
      val qdist = dist.filter(col("vec_id") % 50 === 0 &&
          col("vec_id") < QueryIdCap)
        .select(col("vec_id").as("qid"), col("m"), col("cvid"), col("d2"))
      val adc = codes.join(broadcast(qdist),
          codes("m") === qdist("m") && codes("code") === qdist("cvid"))
        .filter(col("qid") =!= col("vec_id"))
        .groupBy(col("qid"), col("vec_id").as("cid"))
        .agg(sum(col("d2")).as("adc_d2"))
      val top = adc.withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc_d2"), col("cid"))))
        .filter(col("rnk") <= TopK)
      val e = qEmb(s, d)
      top
        .join(e.select(col("vec_id").as("qid"), col("q").as("qq"),
          col("n2").as("qn2")), Seq("qid"))
        .join(e.select(col("vec_id").as("cid"), col("q").as("cq"),
          col("n2").as("cn2")), Seq("cid"))
        .select(col("qid"), col("cid"), col("adc_d2"),
          (col("qn2") + col("cn2") - lit(2L) * idot(col("qq"), col("cq")))
            .as("exact_d2"),
          col("rnk").cast(LongType).as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // IVF-PQ — the COMPOSED index every production ANN system ships
    // (FAISS IVFPQ; Jégou'11 §V): IVF bounds the SEARCH (only the
    // query's coarse cell is scanned) and PQ bounds the BYTES (cell
    // members are 4 codes, not vectors); the composition is one extra
    // equi-key on the ADC join — query cell == candidate cell — over
    // the SAME memoized artifacts (ivfCells, pqDist/pqCodes), which is
    // the whole point: the two halves were built to compose by
    // construction, and this query proves it end-to-end with exact
    // integer ADC and an exact-distance re-rank column. Scale shape:
    // candidate volume per query drops from N to |cell|, the broadcast
    // side stays queries × 4 × 16 lookup rows, and everything else
    // rides the pq artifacts' one-time build.
    "sim_ivfpq_topk" -> ((s: SparkSession, d: String) => {
      val cells = ivfCells(s, d)
      val codes = pqCodes(s, d).join(cells, Seq("vec_id"))
      val qdist = pqDist(s, d).filter(col("vec_id") % 50 === 0 &&
          col("vec_id") < QueryIdCap)
        .join(cells, Seq("vec_id"))
        .select(col("vec_id").as("qid"), col("cell").as("qcell"),
          col("m"), col("cvid"), col("d2"))
      val adc = codes.join(broadcast(qdist),
          codes("cell") === qdist("qcell") && codes("m") === qdist("m") &&
            codes("code") === qdist("cvid"))
        .filter(col("qid") =!= col("vec_id"))
        .groupBy(col("qid"), col("vec_id").as("cid"))
        .agg(sum(col("d2")).as("adc_d2"))
      val top = adc.withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc_d2"), col("cid"))))
        .filter(col("rnk") <= TopK)
      val e = qEmb(s, d)
      top
        .join(e.select(col("vec_id").as("qid"), col("q").as("qq"),
          col("n2").as("qn2")), Seq("qid"))
        .join(e.select(col("vec_id").as("cid"), col("q").as("cq"),
          col("n2").as("cn2")), Seq("cid"))
        .select(col("qid"), col("cid"), col("adc_d2"),
          (col("qn2") + col("cn2") - lit(2L) * idot(col("qq"), col("cq")))
            .as("exact_d2"),
          col("rnk").cast(LongType).as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // per-label class centroid, exact: quantized components posexplode to
    // (label, dim) and sum as integers — associative, so the mean is
    // bit-identical at any parallelism (a float array average is not).
    // Long form (label × 64 dims) avoids array-reassembly ordering
    // hazards in the compare. One shuffle, key space = labels × dims;
    // at 100 TB the partial aggregation collapses each partition to the
    // same ~640 cells before the exchange. This is the k-means update
    // step / class-prototype op of an embedding pipeline.
    "emb_centroid_by_label" -> ((s: SparkSession, d: String) =>
      t(s, d, "embeddings")
        .select(col("label"),
          posexplode(Dedup.qvec(col("embedding"))).as(Seq("dim", "qv")))
        .groupBy(col("label"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("qv")).as("sq"))
        .select(col("label").cast(LongType).as("label"),
          col("dim").cast(LongType).as("dim"), col("n"),
          graft.functions.XF.r6(col("sq").cast(DoubleType) /
            col("n").cast(DoubleType) / lit(1048576.0)).as("centroid"))
        .orderBy(col("label"), col("dim"))),

    // ANN RECALL REPORT — per query, how many of the exact top-5 the
    // 1-cell bucketed probe recovered (the tuning table behind the
    // nprobe knob: recall < 1 is the DOCUMENTED trade of cell probing,
    // and this is the measurement that decides whether to widen it).
    // Both rankings reuse the exact quantized cosine, so the report is
    // bit-deterministic; the exact side is Q×N with a tiny broadcast
    // query set — the calibration pass runs on a sample at 100 TB.
    "sim_recall_bucketed" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid"))
      def rank5(scored: DataFrame): DataFrame = scored
        .withColumn("cos",
          qcos(idot(col("qv"), col("cv")), col("qn2"), col("cn2")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("cid"))
      val cand = qEmb(s, d)
        .select(col("vec_id").as("cid"), col("q").as("cv"),
          col("n2").as("cn2"))
      val exact = rank5(broadcast(queriesSide(s, d))
        .join(cand, col("qid") =!= col("cid")))
      val approx = rank5(
        broadcast(queriesSide(s, d).withColumn("cell", bucket("qv")))
          .join(cand.withColumn("cell", bucket("cv")), Seq("cell"))
          .filter(col("qid") =!= col("cid")))
      exact
        .join(approx.withColumn("hit", lit(1L)), Seq("qid", "cid"), "left")
        .groupBy(col("qid"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("qid"), col("n_hits"),
          graft.functions.XF.r6(col("n_hits").cast(DoubleType) / lit(TopK.toDouble))
            .as("recall_at_5"))
        .orderBy(col("qid"))
    }),

    // EMBEDDING OUTLIERS — the per-class farthest members: each label's
    // centroid in floor-div micro units (floor via pmod keeps Spark's
    // truncating DIV and DuckDB's flooring // in agreement on negative
    // sums), then each member's EXACT integer squared distance to its
    // centroid, ranked per label, top 3 kept. (q−c) ≤ 2^21 per dim so
    // the 64-dim squared sum stays ≤ 2^48 — exact in a long. The
    // curation pass that flags corrupt/mislabeled embeddings before
    // they poison retrieval; centroid frame is labels × dims and
    // broadcasts.
    "emb_outliers" -> ((s: SparkSession, d: String) => {
      val cells = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(Dedup.qvec(col("embedding"))).as(Seq("dim", "qv")))
      val cent = cells.groupBy(col("label"), col("dim"))
        .agg(sum(col("qv")).as("sq"), count(lit(1)).as("n"))
        .withColumn("c", expr("(sq - pmod(sq, n)) DIV n")) // exact: divisible
        .select(col("label"), col("dim"), col("c"))
      val d2 = cells
        .join(broadcast(cent), Seq("label", "dim"))
        .withColumn("dd", col("qv") - col("c"))
        .groupBy(col("label"), col("vec_id"))
        .agg(sum(col("dd") * col("dd")).as("dist2"))
      d2.withColumn("rk", row_number().over(Window.partitionBy(col("label"))
          .orderBy(col("dist2").desc, col("vec_id"))))
        .filter(col("rk") <= 3)
        .select(col("label").cast(LongType).as("label"), col("vec_id"),
          col("dist2"), col("rk").cast(LongType).as("rk"))
        .orderBy(col("label"), col("rk"))
    }),

    // per-DIMENSION embedding profile: mean / variance / min / max for
    // each of the 64 dims in one pass — the drift/collapse monitor an
    // embedding pipeline runs before trusting cosine geometry (a dim
    // whose variance collapses, or a shifted mean, silently distorts
    // every similarity above). Quantized integer power sums (Σq, Σq²)
    // are exact and associative, so mean and variance are bit-identical
    // at any parallelism; key space = 64 dims, so map-side partials
    // collapse each partition to 64 cells before the one exchange. At
    // 100 TB Σq² needs the decimal widening (qv² ≤ 2^40; ~2^23 rows per
    // partial stays in long — swap sum(LONG) for sum(DECIMAL(38,0)) past
    // that, same plan).
    "emb_dim_stats" -> ((s: SparkSession, d: String) => {
      val scale = 1048576.0 // 2^20, the qvec quantization step
      val meanQ = col("sq").cast(DoubleType) / col("n").cast(DoubleType)
      t(s, d, "embeddings")
        .select(posexplode(Dedup.qvec(col("embedding"))).as(Seq("dim", "qv")))
        .groupBy(col("dim").cast(LongType).as("dim"))
        .agg(count(lit(1)).as("n"), sum(col("qv")).as("sq"),
          sum(col("qv") * col("qv")).as("sq2"),
          min(col("qv")).as("mn"), max(col("qv")).as("mx"))
        .select(col("dim"), col("n"),
          graft.functions.XF.r6(meanQ / lit(scale)).as("mean"),
          // E[q²]-E[q]² from exact integer sums; products/divisions are
          // IEEE-exact-rounded (no pow — engines may route pow through
          // exp/ln and diverge in the last ulp)
          graft.functions.XF.r6(
            (col("sq2").cast(DoubleType) / col("n").cast(DoubleType) -
              meanQ * meanQ) / lit(scale * scale)).as("variance"),
          graft.functions.XF.r6(col("mn").cast(DoubleType) / lit(scale)).as("min_val"),
          graft.functions.XF.r6(col("mx").cast(DoubleType) / lit(scale)).as("max_val"))
        .orderBy(col("dim"))
    }),

    // ANN CELL-OCCUPANCY AUDIT — index health for the sign-bucket
    // coarse quantizer behind sim_ann_bucketed/multiprobe: every cell
    // (including EMPTY ones — the 16-row universe generates and
    // left-joins, because an unbalanced quantizer shows up precisely
    // as empty cells next to hot ones) with its vector count and
    // corpus share. Hot cells bound probe cost; at 100 TB this table
    // decides when the fixed sign quantizer gets replaced by a trained
    // codebook (same check real IVF indexes run as "imbalance factor").
    "sim_cell_stats" -> ((s: SparkSession, d: String) => {
      val occ = qEmb(s, d)
        .select(bucket("q").cast(LongType).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      val wAll = Window.partitionBy(lit(1))
      s.range(16).select(col("id").as("cell"))
        .join(occ, Seq("cell"), "left")
        .withColumn("n_vecs", coalesce(col("n"), lit(0L)))
        .withColumn("tot", sum(col("n_vecs")).over(wAll))
        .select(col("cell"), col("n_vecs"),
          graft.functions.XF.r6(col("n_vecs").cast(DoubleType) /
            col("tot").cast(DoubleType)).as("share"))
        .orderBy(col("cell"))
    }),

    // PQ RECONSTRUCTION-ERROR AUDIT — the quantization-quality table a
    // PQ deployment reads next to sim_pq_adc's rank calibration: per
    // subspace, the mean squared error of the assigned code (which is
    // exactly min d2 — the argmin's own distance) and the RELATIVE
    // error against the subspace's signal energy Σq². A subspace whose
    // rel_err runs hot needs more centroids (or a rotation) before its
    // ADC distances can be trusted. Exact integer sums end-to-end
    // (corpus-scaled Σ min-d² would widen to DECIMAL(38,0) at 100 TB,
    // same note as emb_kmeans' inertia); reads the materialized pqDist
    // artifact, one extra explode pass for the norms.
    "emb_pq_error" -> ((s: SparkSession, d: String) => {
      val scale2 = 1048576.0 * 1048576.0
      val err = pqDist(s, d).groupBy(col("vec_id"), col("m"))
        .agg(min(col("d2")).as("e"))
      val norms = qEmb(s, d)
        .select(col("vec_id"), posexplode(col("q")).as(Seq("dim", "qv")))
        .groupBy(col("vec_id"), expr("dim DIV 16").as("m"))
        .agg(sum(col("qv") * col("qv")).as("n2s"))
      err.join(norms, Seq("vec_id", "m"))
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("e")).as("se"),
          sum(col("n2s")).as("sn"))
        .select(col("m"), col("n_vecs"),
          graft.functions.XF.r6(col("se").cast(DoubleType) /
            col("n_vecs").cast(DoubleType) / lit(scale2)).as("mean_err"),
          graft.functions.XF.r6(col("se").cast(DoubleType) /
            col("sn").cast(DoubleType)).as("rel_err"))
        .orderBy(col("m"))
    }),

    // DIMENSION COVARIANCE / CORRELATION MATRIX — the input to PCA
    // whitening and the pairwise completion of emb_dim_stats' per-dim
    // monitor: a pair of dims drifting together (|corr| → 1) means the
    // embedding space has collapsed directions that distort every
    // distance above. Upper triangle of the 64×64 matrix from exact
    // integer cross sums: cells self-join on vec_id fans each vector to
    // its dim pairs (corpus × 64·65/2 rows — at 100 TB this is the one
    // explode whose volume warrants the standard sample-then-estimate
    // swap, same output contract), then one (d1, d2)-keyed agg whose
    // map-side partials collapse to the 2080-cell key space. Every
    // double op (divisions, sqrt) runs on exact integer sums in a fixed
    // expression order mirrored by the oracle — IEEE-exact-rounded, so
    // the matrix is bit-identical. corr guards the degenerate-variance
    // case (ANSI mode faults double division by zero).
    "emb_covariance" -> ((s: SparkSession, d: String) => {
      val scale2 = 1048576.0 * 1048576.0
      // Upper-triangle pair products generated PER VECTOR from the
      // quantized array (inline over a nested transform/slice): the
      // previous vec_id self-join paid 4,096 joined rows per vector,
      // two exchanges, and a localCheckpoint write before reaching the
      // same 2,080 groups. Here the only exchange is the 2,080-group
      // aggregation itself, with map-side partial combine absorbing
      // the corpus — at 100 TB the reduce side stays 2,080 rows per
      // partition no matter the vector count. Integer sums are
      // identical addend-for-addend, so the oracle is unchanged.
      val emb = t(s, d, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select(Dedup.qvec(col("embedding")).as("qv"))
      val pairs = emb
        .select(expr(
          "inline(flatten(transform(qv, (x, i) -> " +
            "transform(slice(qv, i + 1, size(qv)), (y, k) -> " +
            "struct(i AS d1, i + k AS d2, x * y AS p)))))"))
        .groupBy(col("d1"), col("d2"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("s12"))
      val stats = emb
        .select(posexplode(col("qv")).as(Seq("dim", "qv")))
        .groupBy(col("dim"))
        .agg(sum(col("qv")).as("s"), sum(col("qv") * col("qv")).as("s2"))
      def m(c: Column): Column = c.cast(DoubleType) / col("n").cast(DoubleType)
      val covQ = m(col("s12")) - m(col("s1v")) * m(col("s2v"))
      val var1 = m(col("s21")) - m(col("s1v")) * m(col("s1v"))
      val var2 = m(col("s22")) - m(col("s2v")) * m(col("s2v"))
      pairs
        .join(broadcast(stats.select(col("dim").as("d1"),
          col("s").as("s1v"), col("s2").as("s21"))), Seq("d1"))
        .join(broadcast(stats.select(col("dim").as("d2"),
          col("s").as("s2v"), col("s2").as("s22"))), Seq("d2"))
        .select(col("d1").cast(LongType).as("d1"),
          col("d2").cast(LongType).as("d2"),
          // + 0.0 collapses IEEE −0.0 (a tiny negative covariance
          // rounded to zero) onto +0.0 — engines render them apart
          (graft.functions.XF.r6(covQ / lit(scale2)) + lit(0.0)).as("cov"),
          when(var1 * var2 > 0.0,
            graft.functions.XF.r6(covQ / (sqrt(var1) * sqrt(var2))) +
              lit(0.0))
            .as("corr"))
        .orderBy(col("d1"), col("d2"))
    }),

    // PRINCIPAL COMPONENT VIA POWER ITERATION — distributed PCA's
    // dominant direction over the embedding corpus: 3 fixed iterations
    // of x ← C·x with max-norm rescaling, over the exact integer
    // covariance NUMERATOR matrix C(i,j) = n·Σq_iq_j − Σq_i·Σq_j (the
    // emb_covariance sums, never divided). The pagerank determinism
    // rule: the spec IS the integer micro-unit trajectory — DECIMAL(38)
    // sums, magnitude-only floor division (sign · (|v| DIV m), so
    // truncation-vs-floor semantics on negatives can never differ
    // between engines), identical in Spark and DuckDB(HUGEINT) bit for
    // bit. Scale shape: the C build is ONE corpus×64² fan-in collapsing
    // to 4 096 cells (emb_covariance's plan, same documented
    // sample-then-estimate swap at 100 TB); each iteration is a
    // 4 096×64 join — constant-size work regardless of corpus.
    "emb_pca_power" -> ((s: SparkSession, d: String) => {
      val (_, x) = pcaParts(s, d)
      x.select(col("dim").cast(LongType).as("dim"),
          col("xv").as("loading_micro"))
        .orderBy(col("dim"))
    }),

    // PCA CALIBRATION — the number that says whether the direction
    // matters: the Rayleigh quotient λ = x'Cx / x'x over the SAME
    // exact integers, as a share of trace(C) (= total variance mass).
    // Every product stays in the DECIMAL(38)/HUGEINT domain (x'Cx ≤
    // ~1e34 — inside both) with ONE double conversion per factor at
    // the end in a fixed expression order, so the r6 values
    // hash-compare. A share near 1/64 means no dominant direction
    // (isotropic corpus); near 1 means the space has collapsed — the
    // same monitor emb_covariance's corr gives pairwise, summarized in
    // one scalar.
    "emb_pca_explained" -> ((s: SparkSession, d: String) => {
      val dec = DecimalType(38, 0)
      val (cNum, x) = pcaParts(s, d)
      val xc = x.select(col("dim"), col("xv"))
      val num = cNum
        .join(xc.select(col("dim").as("d1"), col("xv").as("x1")), Seq("d1"))
        .join(xc.select(col("dim").as("d2"), col("xv").as("x2")), Seq("d2"))
        .agg(sum((col("cnum") * col("x1").cast(dec) * col("x2").cast(dec))
          .cast(dec)).as("num"))
      val denX = xc.agg(sum((col("xv") * col("xv")).cast(dec)).as("den_x"))
      val trace = cNum.filter(col("d1") === col("d2"))
        .agg(sum(col("cnum")).as("trace"))
      num.crossJoin(broadcast(denX)).crossJoin(broadcast(trace))
        .select(
          graft.functions.XF.r6(col("num").cast(DoubleType) /
            (col("den_x").cast(DoubleType) * col("trace").cast(DoubleType)))
            .as("explained_share"))
    }),

    // ALL-BUT-THE-TOP residual audit (Mu & Viswanath, ICLR'18): how
    // much of each vector's energy sits on the corpus' top principal
    // direction — the post-processing decision table for removing the
    // common component before cosine retrieval (a large top-1 share
    // means raw cosine mostly measures the shared offset, not
    // content). Per vector: projection t = ⟨q, x⟩ onto the power-
    // iteration loading (exact DECIMAL sum over the SAME micro-unit
    // artifact emb_pca_power reports), share = t² / (|q|²·|x|²) —
    // every factor an exact integer, ONE double conversion per factor
    // in fixed order, rounded at 1e-6. Rolled up per label (mean via
    // exact-decimal sum, max) so the output is |labels| rows. Scale
    // shape: x is a broadcast 64-row table; the projection is one
    // explode + broadcast join collapsing map-side to one row per
    // vector, then a |labels|-key aggregate — the corpus never
    // shuffles.
    "emb_top1_residual" -> ((s: SparkSession, d: String) => {
      val dec = DecimalType(38, 0)
      val (_, x) = pcaParts(s, d)
      val xx = x.agg(sum((col("xv") * col("xv")).cast(dec)).as("xx"))
      val proj = qEmb(s, d)
        .select(col("vec_id"), col("n2"),
          posexplode(col("q")).as(Seq("dim", "qv")))
        .join(broadcast(x.select(col("dim"), col("xv"))), Seq("dim"))
        .groupBy(col("vec_id"))
        .agg(first(col("n2")).as("n2"),
          sum((col("qv").cast(dec) * col("xv").cast(dec)).cast(dec))
            .as("tp"))
      val share = proj.crossJoin(broadcast(xx))
        .select(col("vec_id"),
          XF.r6((col("tp") * col("tp")).cast(dec).cast(DoubleType) /
            (col("n2").cast(DoubleType) * col("xx").cast(DoubleType)))
            .as("share"))
      t(s, d, "embeddings").select(col("vec_id"), col("label"))
        .join(share, Seq("vec_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          XF.r6(XF.dsum(col("share")) / count(lit(1)))
            .as("avg_top1_share"),
          max(col("share")).as("max_top1_share"))
        .orderBy(col("label"))
    }),

    // HARD-NEGATIVE MINING — the contrastive-training data op (DPR /
    // ANCE shape): for each query vector, the most cosine-similar
    // vectors with a DIFFERENT label — semantically-close,
    // differently-labeled examples are exactly the negatives that make
    // an embedding model learn. Candidate generation is the SAME IVF
    // cell equi-join as the ANN family (the production pattern: mine
    // negatives from the live index, not a fresh scan), labels ride a
    // broadcast dim join, ranking is the exact quantized cosine, top-3
    // per query via the per-query window. Scale shape: per-query cost
    // is |cell|, the label table broadcasts, and widening recall is
    // the same nprobe knob the ANN rows measure.
    "sim_hard_negatives" -> ((s: SparkSession, d: String) => {
      val labels = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"))
      val cells = ivfCells(s, d)
      val qs = qEmb(s, d).filter(col("vec_id") % 50 === 0 &&
          col("vec_id") < QueryIdCap)
        .join(cells, Seq("vec_id")).join(broadcast(labels), Seq("vec_id"))
        .select(col("vec_id").as("qid"), col("q").as("qv"),
          col("n2").as("qn2"), col("cell"), col("label").as("qlabel"))
      val cand = qEmb(s, d)
        .join(cells, Seq("vec_id")).join(broadcast(labels), Seq("vec_id"))
        .select(col("vec_id").as("cid"), col("q").as("cv"),
          col("n2").as("cn2"), col("cell"), col("label").as("clabel"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid"))
      broadcast(qs).join(cand, Seq("cell"))
        .filter(col("qlabel") =!= col("clabel"))
        .withColumn("cos",
          qcos(idot(col("qv"), col("cv")), col("qn2"), col("cn2")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("qlabel"), col("cid"),
          col("clabel"), col("cos"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // pairwise similarity matrix for a tiny id range — the exhaustive
    // debugging view (bounded output: 20×20).
    "sim_pair_matrix" -> ((s: SparkSession, d: String) => {
      val e = qEmb(s, d).filter(col("vec_id") < 20)
      val a = e.select(col("vec_id").as("i"), col("q").as("qa"), col("n2").as("na2"))
      val b = e.select(col("vec_id").as("j"), col("q").as("qb"), col("n2").as("nb2"))
      a.crossJoin(b).filter(col("i") < col("j"))
        .select(col("i"), col("j"),
          qcos(idot(col("qa"), col("qb")), col("na2"), col("nb2")).as("cos"))
        .orderBy(col("i"), col("j"))
    }),

    // MUTUAL k-NN GRAPH — the edge set diversity filtering and
    // graph-based dedup cluster on: node u keeps its 3 nearest
    // neighbors (cosine desc, id asc — quantized cosine makes the
    // ranking tie-stable), and an edge survives only if BOTH endpoints
    // keep each other. Exact over a bounded slice (the oracle-checkable
    // unit, like sim_pair_matrix); at corpus scale the directed-pair
    // stage is replaced 1:1 by the sign-cell / multiprobe candidate
    // equi-join (sim_ann_bucketed) — rank, mutuality and the output
    // contract are unchanged, only candidate generation swaps.
    "sim_knn_graph" -> ((s: SparkSession, d: String) => {
      val e = qEmb(s, d).filter(col("vec_id") < 100)
      val a = e.select(col("vec_id").as("u"), col("q").as("qa"),
        col("n2").as("na2"))
      val b = e.select(col("vec_id").as("v"), col("q").as("qb"),
        col("n2").as("nb2"))
      val nn = a.crossJoin(b).filter(col("u") =!= col("v"))
        .select(col("u"), col("v"),
          qcos(idot(col("qa"), col("qb")), col("na2"), col("nb2")).as("cos"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("u"))
          .orderBy(col("cos").desc, col("v"))))
        .filter(col("rk") <= 3)
        .select(col("u"), col("v"), col("cos"))
      nn.as("x").join(nn.as("y"),
          col("x.u") === col("y.v") && col("x.v") === col("y.u") &&
            col("x.u") < col("x.v"))
        .select(col("x.u").as("i"), col("x.v").as("j"), col("x.cos"))
        .orderBy(col("i"), col("j"))
    }),

    // k-means cluster census (see kmeansFinalAssign for the algorithm
    // and scale notes). Inertia accumulates as DECIMAL(38,0): per-row
    // d² ≤ ~2^47, so a corpus-scaled long sum would overflow past
    // ~2^16 rows/cluster × 100 TB shards. The exact decimal sum is cast
    // to DOUBLE only on output: parquet DECIMAL renders as
    // decimal.Decimal ("123") while DuckDB's renders float64 ("123.0"),
    // so a decimal output column can never hash-match the oracle.
    "emb_kmeans" -> ((s: SparkSession, d: String) =>
      kmeansFinalAssign(s, d)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("d2").cast(DecimalType(38, 0)))
            .cast(DoubleType).as("inertia"))
        .orderBy(col("cid"))),

    // CLUSTER-BALANCED SAMPLING — cap each k-means cluster at KmCap
    // members, picked by a deterministic per-vector hash (never rand():
    // reproducible under retry/speculation, re-runnable to the identical
    // subsample). This is the semantic-diversity rebalance of a training
    // corpus: dominant clusters are truncated, small clusters pass
    // whole, so no cluster dominates the mixture. The per-cluster
    // window is bounded by cluster size; at 100 TB the same shape runs
    // per (cluster × salt) shard if a single cluster outgrows a
    // partition, identical to the documented skew treatment elsewhere.
    "sample_cluster_cap" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("cid"))
        .orderBy(col("hb"), col("vec_id"))
      kmeansFinalAssign(s, d)
        .withColumn("hb",
          graft.functions.XF.h32(concat(lit("cap:"),
            col("vec_id").cast(StringType))))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= KmCap)
        .select(col("vec_id"), col("cid"), col("rk").cast(LongType).as("rk"))
        .orderBy(col("cid"), col("rk"))
    }),

    // SEMANTIC DEDUP (SemDeDup shape): pair vectors ONLY within their
    // k-means cluster and drop the higher id of every pair with cosine
    // ≥ SemThresh — the sub-quadratic embedding-dedup scale path: the
    // pair join is an equi-join on cid, so global pair volume is
    // Σ|cluster|² ≈ N·KmTarget with the corpus-relative K (see KmTarget
    // — a FIXED K makes this N²/K, the quadratic the round-15 sf10
    // sweep measured). The assign pass itself costs N·K distance evals
    // per Lloyd round (= N²/KmTarget); past ~10⁷ vectors the honest
    // next step is a two-level (IVF-style) centroid index for the
    // assign, same plan shape. The cross-cluster complement (near-dups
    // straddling a boundary) is the documented recall trade, tuned by
    // KmTarget exactly like nprobe for ANN.
    "dedup_semantic" -> ((s: SparkSession, d: String) => {
      val a = kmeansFinalAssign(s, d)
      val l = a.select(col("cid"), col("vec_id").as("i"),
        col("q").as("qa"), col("n2").as("na2"))
      val r = a.select(col("cid"), col("vec_id").as("j"),
        col("q").as("qb"), col("n2").as("nb2"))
      val dropped = l.join(r, Seq("cid"))
        .filter(col("i") < col("j"))
        .filter(qcos(idot(col("qa"), col("qb")),
          col("na2"), col("nb2")) >= SemThresh)
        .select(col("j").as("vec_id")).distinct()
      a.join(dropped, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cid"))
        .orderBy(col("vec_id"))
    })
  )

  private val cosAB = qcosSql(idotSql("a.q", "b.q"), "a.n2", "b.n2")

  /** DuckDB twin of the PQ encode chain ([[pqDist]]/[[pqCodes]]):
    * CTEs `cells`, `cents`, `dist`, `codes` over the quantized corpus.
    */
  private val pqCtesSql: String =
    s"""$qEmbSql,
       |cells AS (SELECT vec_id, i - 1 AS dim, q[i] AS qv
       |          FROM qn, unnest(range(1, len(q) + 1)) t(i)),
       |cents AS (SELECT vec_id AS cvid, dim, qv AS cqv
       |          FROM cells WHERE vec_id % $pqCstepSql = 0),
       |dist AS (SELECT c.vec_id, c.dim // 16 AS m, ct.cvid,
       |           CAST(SUM((c.qv - ct.cqv) * (c.qv - ct.cqv)) AS BIGINT)
       |             AS d2
       |         FROM cells c JOIN cents ct ON c.dim = ct.dim
       |         GROUP BY 1, 2, 3),
       |codes AS (SELECT vec_id, m,
       |            arg_min(cvid, d2 * 4096 + cvid // $pqCstepSql) AS code
       |          FROM dist GROUP BY 1, 2)""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "emb_covariance" -> {
      // every double op mirrors the Spark expression ORDER: mean terms
      // are each divided by n before multiplying (not s1*s2/n²), and
      // corr's denominator is sqrt(var1)*sqrt(var2), not sqrt(product).
      def m(e: String) = s"(CAST($e AS DOUBLE) / CAST(n AS DOUBLE))"
      val covQ = s"(${m("s12")} - ${m("s1v")} * ${m("s2v")})"
      val var1 = s"(${m("s21")} - ${m("s1v")} * ${m("s1v")})"
      val var2 = s"(${m("s22")} - ${m("s2v")} * ${m("s2v")})"
      s"""WITH $qEmbSql,
         |cells AS (SELECT vec_id, i - 1 AS dim, q[i] AS qv
         |          FROM qn, unnest(range(1, len(q) + 1)) t(i)),
         |pairs AS (SELECT a.dim AS d1, b.dim AS d2, COUNT(*) AS n,
         |            CAST(SUM(a.qv * b.qv) AS BIGINT) AS s12
         |          FROM cells a JOIN cells b ON a.vec_id = b.vec_id
         |          WHERE a.dim <= b.dim GROUP BY 1, 2),
         |st AS (SELECT dim, CAST(SUM(qv) AS BIGINT) AS s,
         |         CAST(SUM(qv * qv) AS BIGINT) AS s2
         |       FROM cells GROUP BY 1)
         |SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
         |  ROUND($covQ / (1048576.0 * 1048576.0), 6) + CAST(0 AS DOUBLE)
         |    AS cov,
         |  CASE WHEN $var1 * $var2 > CAST(0 AS DOUBLE)
         |       THEN ROUND($covQ / (sqrt($var1) * sqrt($var2)), 6) +
         |            CAST(0 AS DOUBLE) END
         |    AS corr
         |FROM pairs
         |JOIN (SELECT dim AS d1, s AS s1v, s2 AS s21 FROM st) USING (d1)
         |JOIN (SELECT dim AS d2, s AS s2v, s2 AS s22 FROM st) USING (d2)
         |ORDER BY d1, d2""".stripMargin
    },

    "emb_pca_power" ->
      s"""WITH $pcaSqlCtes
         |SELECT CAST(dim AS BIGINT) AS dim, CAST(xv AS BIGINT) AS loading_micro
         |FROM x3 ORDER BY dim""".stripMargin,

    // Rayleigh share from the SAME CTE chain — one double conversion
    // per factor, same expression order as the Spark side
    "emb_pca_explained" ->
      s"""WITH $pcaSqlCtes,
         |num AS (SELECT CAST(SUM(cnum * x1.xv * x2.xv) AS HUGEINT) AS num
         |        FROM c JOIN x3 x1 ON x1.dim = c.d1
         |        JOIN x3 x2 ON x2.dim = c.d2),
         |dx AS (SELECT CAST(SUM(xv * xv) AS HUGEINT) AS den_x FROM x3),
         |tr AS (SELECT CAST(SUM(cnum) AS HUGEINT) AS trace
         |       FROM c WHERE d1 = d2)
         |SELECT ROUND(CAST(num AS DOUBLE) /
         |    (CAST(den_x AS DOUBLE) * CAST(trace AS DOUBLE)), 6)
         |  AS explained_share
         |FROM num CROSS JOIN dx CROSS JOIN tr""".stripMargin,

    // projection/share from the same CTE chain; HUGEINT products, one
    // double conversion per factor in the Spark side's fixed order
    "emb_top1_residual" ->
      s"""WITH $pcaSqlCtes,
         |xx AS (SELECT CAST(SUM(xv * xv) AS HUGEINT) AS xx FROM x3),
         |pr AS (SELECT c.vec_id,
         |         CAST(SUM(CAST(c.qv AS HUGEINT) * x.xv) AS HUGEINT) AS tp
         |       FROM cells c JOIN x3 x ON x.dim = c.dim GROUP BY 1),
         |sh AS (SELECT pr.vec_id,
         |         ROUND(CAST(tp * tp AS DOUBLE) /
         |           (CAST(n2 AS DOUBLE) * CAST(xx AS DOUBLE)), 6) AS share
         |       FROM pr JOIN qn ON qn.vec_id = pr.vec_id CROSS JOIN xx)
         |SELECT label, COUNT(*) AS n_vecs,
         |  ROUND(CAST(SUM(CAST(share AS DECIMAL(28,6))) AS DOUBLE) /
         |    COUNT(*), 6) AS avg_top1_share,
         |  MAX(share) AS max_top1_share
         |FROM sh JOIN embeddings e ON e.vec_id = sh.vec_id
         |GROUP BY label ORDER BY label""".stripMargin,

    "sim_cell_stats" ->
      s"""WITH $qEmbSql,
         |occ AS (SELECT CAST(${bucketSql("q")} AS BIGINT) AS cell,
         |          COUNT(*) AS n
         |        FROM qn GROUP BY 1),
         |uni AS (SELECT CAST(k AS BIGINT) AS cell
         |        FROM unnest(range(0, 16)) t(k))
         |SELECT cell, COALESCE(n, 0) AS n_vecs,
         |  ROUND(CAST(COALESCE(n, 0) AS DOUBLE) /
         |    CAST(SUM(COALESCE(n, 0)) OVER () AS DOUBLE), 6) AS share
         |FROM uni LEFT JOIN occ USING (cell)
         |ORDER BY cell""".stripMargin,

    "emb_pq_error" ->
      s"""WITH $pqCtesSql,
         |err AS (SELECT vec_id, m, MIN(d2) AS e FROM dist GROUP BY 1, 2),
         |norms AS (SELECT vec_id, dim // 16 AS m,
         |            CAST(SUM(qv * qv) AS BIGINT) AS n2s
         |          FROM cells GROUP BY 1, 2)
         |SELECT m, COUNT(*) AS n_vecs,
         |  ROUND(CAST(SUM(e) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) /
         |    (1048576.0 * 1048576.0), 6) AS mean_err,
         |  ROUND(CAST(SUM(e) AS DOUBLE) / CAST(SUM(n2s) AS DOUBLE), 6)
         |    AS rel_err
         |FROM err JOIN norms USING (vec_id, m)
         |GROUP BY m ORDER BY m""".stripMargin,

    "sim_pq_adc" ->
      s"""WITH $pqCtesSql,
         |adc AS (SELECT qd.vec_id AS qid, co.vec_id AS cid,
         |          CAST(SUM(qd.d2) AS BIGINT) AS adc_d2
         |        FROM codes co
         |        JOIN (SELECT * FROM dist WHERE vec_id % 50 = 0 AND vec_id < $QueryIdCap) qd
         |          ON co.m = qd.m AND co.code = qd.cvid
         |        WHERE qd.vec_id <> co.vec_id
         |        GROUP BY 1, 2),
         |ranked AS (SELECT qid, cid, adc_d2,
         |             row_number() OVER (PARTITION BY qid
         |               ORDER BY adc_d2, cid) AS rnk
         |           FROM adc)
         |SELECT r.qid, r.cid, r.adc_d2,
         |  CAST(a.n2 + b.n2 - 2 * ${idotSql("a.q", "b.q")} AS BIGINT)
         |    AS exact_d2,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM ranked r JOIN qn a ON a.vec_id = r.qid
         |  JOIN qn b ON b.vec_id = r.cid
         |WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin,

    // same PQ CTEs + the IVF assignment; the composition is the extra
    // cell equi-predicate on the ADC join
    "sim_ivfpq_topk" -> {
      val cosVC = qcosSql(idotSql("v.q", "c.cq"), "v.n2", "c.cn2")
      s"""WITH $pqCtesSql,
         |fcents AS (SELECT vec_id AS cvid, q AS cq, n2 AS cn2
         |           FROM qn WHERE vec_id % 100 = 0),
         |assigned AS (
         |  SELECT vec_id, cvid AS cell FROM (
         |    SELECT v.vec_id, c.cvid,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY $cosVC DESC, c.cvid) AS arn
         |    FROM qn v CROSS JOIN fcents c)
         |  WHERE arn = 1),
         |adc AS (SELECT qd.vec_id AS qid, co.vec_id AS cid,
         |          CAST(SUM(qd.d2) AS BIGINT) AS adc_d2
         |        FROM codes co
         |        JOIN assigned ac ON ac.vec_id = co.vec_id
         |        JOIN (SELECT d.vec_id, d.m, d.cvid, d.d2, aq.cell
         |              FROM dist d JOIN assigned aq ON aq.vec_id = d.vec_id
         |              WHERE d.vec_id % 50 = 0 AND d.vec_id < $QueryIdCap) qd
         |          ON co.m = qd.m AND co.code = qd.cvid
         |         AND ac.cell = qd.cell
         |        WHERE qd.vec_id <> co.vec_id
         |        GROUP BY 1, 2),
         |ranked AS (SELECT qid, cid, adc_d2,
         |             row_number() OVER (PARTITION BY qid
         |               ORDER BY adc_d2, cid) AS rnk
         |           FROM adc)
         |SELECT r.qid, r.cid, r.adc_d2,
         |  CAST(a.n2 + b.n2 - 2 * ${idotSql("a.q", "b.q")} AS BIGINT)
         |    AS exact_d2,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM ranked r JOIN qn a ON a.vec_id = r.qid
         |  JOIN qn b ON b.vec_id = r.cid
         |WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin
    },

    // same IVF assignment; negatives = same-cell, different-label,
    // ranked by the exact quantized cosine
    "sim_hard_negatives" -> {
      val cosVC = qcosSql(idotSql("v.q", "c.cq"), "v.n2", "c.cn2")
      val cosQC = qcosSql(idotSql("a.q", "b.q"), "a.n2", "b.n2")
      s"""WITH $qEmbSql,
         |fcents AS (SELECT vec_id AS cvid, q AS cq, n2 AS cn2
         |           FROM qn WHERE vec_id % 100 = 0),
         |assigned AS (
         |  SELECT vec_id, cvid AS cell FROM (
         |    SELECT v.vec_id, c.cvid,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY $cosVC DESC, c.cvid) AS arn
         |    FROM qn v CROSS JOIN fcents c)
         |  WHERE arn = 1),
         |scored AS (
         |  SELECT a.vec_id AS qid, ea.label AS qlabel, b.vec_id AS cid,
         |    eb.label AS clabel, $cosQC AS cos
         |  FROM qn a JOIN assigned aa ON aa.vec_id = a.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN assigned ab ON ab.cell = aa.cell
         |  JOIN qn b ON b.vec_id = ab.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE a.vec_id % 50 = 0 AND a.vec_id < $QueryIdCap AND ea.label <> eb.label),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, cid) AS rnk
         |  FROM scored)
         |SELECT qid, qlabel, cid, clabel, cos, CAST(rnk AS INTEGER) AS rnk
         |FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
    },

    "sim_topk_bruteforce" ->
      s"""WITH $qEmbSql,
         |scored AS (
         |  SELECT a.vec_id qid, b.vec_id cid, $cosAB AS cos
         |  FROM qn a JOIN qn b ON a.vec_id % 50 = 0 AND a.vec_id < $QueryIdCap AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT qid, cid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |  FROM scored)
         |SELECT qid, cid, cos, rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin,

    "sim_ann_bucketed" ->
      s"""WITH $qEmbSql,
         |cells AS (SELECT vec_id, q, n2, ${bucketSql("q")} AS cell FROM qn),
         |scored AS (
         |  SELECT a.vec_id qid, b.vec_id cid, $cosAB AS cos
         |  FROM cells a JOIN cells b
         |    ON a.cell = b.cell AND a.vec_id % 50 = 0 AND a.vec_id < $QueryIdCap AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT qid, cid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |  FROM scored)
         |SELECT qid, cid, cos, rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin,

    "sim_ann_multiprobe" ->
      s"""WITH $qEmbSql,
         |cells AS (SELECT vec_id, q, n2, ${bucketSql("q")} AS cell FROM qn),
         |probes AS (
         |  SELECT vec_id, q, n2, xor(cell, m.mask) AS cell
         |  FROM cells, (VALUES (0), (1), (2), (4), (8)) m(mask)
         |  WHERE vec_id % 50 = 0 AND vec_id < $QueryIdCap),
         |scored AS (
         |  SELECT DISTINCT a.vec_id qid, b.vec_id cid, $cosAB AS cos
         |  FROM probes a JOIN cells b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT qid, cid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |  FROM scored)
         |SELECT qid, cid, cos, rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin,

    "sim_ivf_topk" -> {
      val cosVC = qcosSql(idotSql("v.q", "c.cq"), "v.n2", "c.cn2")
      s"""WITH $qEmbSql,
         |cents AS (SELECT vec_id AS cvid, q AS cq, n2 AS cn2
         |          FROM qn WHERE vec_id % 100 = 0),
         |assigned AS (
         |  SELECT vec_id, q, n2, cvid AS cell FROM (
         |    SELECT v.vec_id, v.q, v.n2, c.cvid,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY $cosVC DESC, c.cvid) AS arn
         |    FROM qn v CROSS JOIN cents c)
         |  WHERE arn = 1),
         |scored AS (
         |  SELECT a.vec_id qid, b.vec_id cid, $cosAB AS cos
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id % 50 = 0 AND a.vec_id < $QueryIdCap AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT qid, cid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |  FROM scored)
         |SELECT qid, cid, cos, rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin
    },

    "emb_centroid_by_label" ->
      s"""WITH qe AS (SELECT label, ${Dedup.qvecSql} AS q FROM embeddings),
         |cells AS (
         |  SELECT label, CAST(i - 1 AS BIGINT) AS dim, q[i] AS qv
         |  FROM qe, unnest(range(1, len(q) + 1)) t(i))
         |SELECT CAST(label AS BIGINT) AS label, dim, COUNT(*) AS n,
         |  ROUND(CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |        / CAST(1048576 AS DOUBLE), 6) AS centroid
         |FROM cells GROUP BY label, dim
         |ORDER BY label, dim""".stripMargin,

    "sim_pair_matrix" ->
      s"""WITH $qEmbSql
         |SELECT a.vec_id i, b.vec_id j, $cosAB AS cos
         |FROM qn a JOIN qn b ON a.vec_id < b.vec_id AND b.vec_id < 20
         |WHERE a.vec_id < 20
         |ORDER BY i, j""".stripMargin,

    "sim_knn_graph" ->
      s"""WITH $qEmbSql,
         |pairs AS (
         |  SELECT a.vec_id u, b.vec_id v, $cosAB AS cos
         |  FROM qn a JOIN qn b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 100 AND b.vec_id < 100),
         |nn AS (
         |  SELECT u, v, cos,
         |    row_number() OVER (PARTITION BY u ORDER BY cos DESC, v) AS rk
         |  FROM pairs)
         |SELECT x.u AS i, x.v AS j, x.cos AS cos
         |FROM nn x JOIN nn y ON x.u = y.v AND x.v = y.u AND x.u < x.v
         |WHERE x.rk <= 3 AND y.rk <= 3
         |ORDER BY i, j""".stripMargin,

    "sim_recall_bucketed" ->
      s"""WITH $qEmbSql,
         |exact AS (
         |  SELECT qid, cid FROM (
         |    SELECT a.vec_id qid, b.vec_id cid,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY $cosAB DESC, b.vec_id) AS rnk
         |    FROM qn a JOIN qn b
         |      ON a.vec_id % 50 = 0 AND a.vec_id < $QueryIdCap AND a.vec_id <> b.vec_id)
         |  WHERE rnk <= $TopK),
         |cells AS (SELECT vec_id, q, n2, ${bucketSql("q")} AS cell FROM qn),
         |approx AS (
         |  SELECT qid, cid FROM (
         |    SELECT a.vec_id qid, b.vec_id cid,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY $cosAB DESC, b.vec_id) AS rnk
         |    FROM cells a JOIN cells b
         |      ON a.cell = b.cell AND a.vec_id % 50 = 0 AND a.vec_id < $QueryIdCap
         |     AND a.vec_id <> b.vec_id)
         |  WHERE rnk <= $TopK)
         |SELECT e.qid,
         |  CAST(SUM(CASE WHEN x.cid IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  ROUND(CAST(SUM(CASE WHEN x.cid IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST($TopK AS DOUBLE), 6) AS recall_at_5
         |FROM exact e LEFT JOIN approx x
         |  ON e.qid = x.qid AND e.cid = x.cid
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    "emb_outliers" ->
      s"""WITH cells AS (
         |  SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim, q[i] AS qv
         |  FROM (SELECT vec_id, label, ${Dedup.qvecSql} AS q
         |        FROM embeddings),
         |       unnest(range(1, len(q) + 1)) t(i)),
         |cent AS (
         |  SELECT label, dim,
         |    (CAST(SUM(qv) AS BIGINT) -
         |     ((CAST(SUM(qv) AS BIGINT) % COUNT(*) + COUNT(*)) % COUNT(*)))
         |      // COUNT(*) AS c
         |  FROM cells GROUP BY 1, 2),
         |d2 AS (
         |  SELECT cells.label, vec_id,
         |    CAST(SUM((qv - c) * (qv - c)) AS BIGINT) AS dist2
         |  FROM cells JOIN cent ON cells.label = cent.label
         |    AND cells.dim = cent.dim
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT label, vec_id, dist2,
         |    row_number() OVER (PARTITION BY label
         |      ORDER BY dist2 DESC, vec_id) AS rk
         |  FROM d2)
         |SELECT CAST(label AS BIGINT) AS label, vec_id, dist2,
         |  CAST(rk AS BIGINT) AS rk
         |FROM rk WHERE rk <= 3 ORDER BY label, rk""".stripMargin,

    "emb_dim_stats" -> {
      // DuckDB bare numeric literals are DECIMAL, not DOUBLE (XF contract)
      val sc = "CAST(1048576 AS DOUBLE)"
      s"""WITH qe AS (SELECT ${Dedup.qvecSql} AS q FROM embeddings),
         |cells AS (
         |  SELECT CAST(i - 1 AS BIGINT) AS dim, q[i] AS qv
         |  FROM qe, unnest(range(1, len(q) + 1)) t(i)),
         |agg AS (
         |  SELECT dim, COUNT(*) AS n,
         |    CAST(SUM(qv) AS BIGINT) AS sq,
         |    CAST(SUM(qv * qv) AS BIGINT) AS sq2,
         |    MIN(qv) AS mn, MAX(qv) AS mx
         |  FROM cells GROUP BY dim)
         |SELECT dim, n,
         |  ROUND(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / $sc, 6) AS mean,
         |  ROUND((CAST(sq2 AS DOUBLE) / CAST(n AS DOUBLE) -
         |    (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) *
         |    (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))) / ($sc * $sc), 6)
         |    AS variance,
         |  ROUND(CAST(mn AS DOUBLE) / $sc, 6) AS min_val,
         |  ROUND(CAST(mx AS DOUBLE) / $sc, 6) AS max_val
         |FROM agg ORDER BY dim""".stripMargin
    },

    "emb_kmeans" ->
      s"""WITH $kmeansCtesSql
         |SELECT cid, COUNT(*) AS n_members,
         |  CAST(SUM(CAST(d2 AS DECIMAL(38,0))) AS DOUBLE) AS inertia
         |FROM afinal GROUP BY cid ORDER BY cid""".stripMargin,

    "sample_cluster_cap" ->
      s"""WITH $kmeansCtesSql,
         |ranked AS (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY cid
         |    ORDER BY ${graft.functions.XF.h32Sql(
                "'cap:' || CAST(vec_id AS VARCHAR)")}, vec_id) AS rk
         |  FROM afinal)
         |SELECT vec_id, cid, CAST(rk AS BIGINT) AS rk
         |FROM ranked WHERE rk <= $KmCap ORDER BY cid, rk""".stripMargin,

    "dedup_semantic" ->
      s"""WITH $kmeansCtesSql,
         |dropped AS (
         |  SELECT DISTINCT b.vec_id AS vec_id
         |  FROM afinal a JOIN afinal b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE ${qcosSql(idotSql("a.q", "b.q"), "a.n2", "b.n2")} >=
         |    CAST($SemThresh AS DOUBLE))
         |SELECT a.vec_id, a.cid FROM afinal a
         |WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY a.vec_id""".stripMargin
  )

  /** Shared oracle CTE chain for the k-means rounds — quantized corpus
    * (`qn`), `c0` seeds, `aI`/`cI` unrolled Lloyd rounds, ending in the
    * final assignment `afinal(vec_id, q, n2, cid, d2)`. The DuckDB twin
    * of [[kmeansFinalAssign]].
    */
  private def kmeansCtesSql: String = {
    // aI assigns against c(I-1); cI re-centers from aI
    def assignSql(cents: String, out: String): String = {
      val dist = s"v.n2 + c.n2 - 2 * ${idotSql("v.q", "c.q")}"
      s"""$out AS (
         |  SELECT vec_id, q, n2, cid, d2 FROM (
         |    SELECT v.vec_id, v.q, v.n2, c.cid, $dist AS d2,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY $dist, c.cid) AS rk
         |    FROM qn v, $cents c) WHERE rk = 1)""".stripMargin
    }
    def updateSql(assigned: String, out: String): String =
      s"""${out}d AS (
         |  SELECT cid, i AS dim,
         |    CAST(floor(CAST(SUM(q[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
         |  FROM $assigned, unnest(range(1, len(q) + 1)) t(i)
         |  GROUP BY cid, i),
         |$out AS (
         |  SELECT cid, q, ${idotSql("q", "q")} AS n2
         |  FROM (SELECT cid, list(cv ORDER BY dim) AS q
         |        FROM ${out}d GROUP BY cid))""".stripMargin
    val rounds = (1 to KmIters).map(i =>
      assignSql(s"c${i - 1}", s"a$i") + ",\n" + updateSql(s"a$i", s"c$i"))
      .mkString(",\n")
    s"""$qEmbSql,
       |c0 AS (SELECT vec_id AS cid, q, n2 FROM qn
       |       WHERE vec_id < (SELECT GREATEST($KmK,
       |         CEIL(COUNT(*) / CAST($KmTarget AS DOUBLE))) FROM qn)),
       |$rounds,
       |${assignSql(s"c$KmIters", "afinal")}""".stripMargin
  }
}
