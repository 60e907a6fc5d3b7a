package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.XF
import graft.Artifact
import graft.sources.Tables.t

/** Deduplication operators over `documents` / `embeddings` — the
  * training-data-pipeline dedup family: exact, canonical-key, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  * (The reference has no dedup at all; this is the beyond-reference
  * surface from SURVEY.md §2.8.)
  *
  * Scale design notes:
  *   - Exact/canonical dedup: hash-groupBy on a derived key — one shuffle,
  *     map-side partial agg; the canonical key (sorted distinct token set)
  *     is computed per-row, codegen'd.
  *   - n-gram Jaccard and MinHash verification use an INVERTED-INDEX
  *     equi-join on the shingle string (never a crossJoin): join fan-out
  *     is bounded by shingle document frequency. At 100 TB, drop
  *     ultra-frequent shingles (doc-freq cap) before the self-join —
  *     the classic "stop-shingle" trick; not needed at test scale.
  *   - MinHash/LSH: signatures are the mins of K = 84 universal integer
  *     hash functions, folded per document by the
  *     [[graft.functions.MinhashSig]] kernel (no shingle rows, no
  *     shuffle of them); banding (14 bands × 6 rows, see the
  *     derivation at the Banding constants) turns candidate generation
  *     into an equi-join on (band, signature) that Catalyst plans as a
  *     plain shuffled hash join — the sub-quadratic path that survives
  *     100 TB. Candidates are then verified with exact Jaccard.
  *   - SimHash: 32-bit signature via per-bit ±1 sums over shingle hashes,
  *     folded per document by the [[graft.functions.SimhashSig]] kernel;
  *     near-dup candidates via 4×8-bit band equality (Hamming ≤ 6 ⇒ at
  *     least one of 4 byte-bands equal by pigeonhole when ≤ 3... we use
  *     band-match as a recall-oriented prefilter and verify with exact
  *     bit_count), all integer arithmetic — bit-exact across engines.
  *   - Embedding near-dup: vectors are quantized to BIGINT (floor(x·2^20))
  *     so dot products and norms are EXACT integer sums — order-independent
  *     and engine-independent; one sqrt+division at the end. Candidate
  *     generation is an IVF multiprobe equi-join over the TRAINED cell
  *     artifact ([[Similarity.ivfCellsRanked]]): each side's top-2 cells
  *     probe the home assignments, then the exact quantized cosine as
  *     the residual. Because the cell count scales WITH the corpus
  *     (every 100th vector is a centroid; a k-means codebook drops in
  *     with the identical plan), occupancy is ~100 regardless of n and
  *     candidate volume stays LINEAR — the sub-quadratic shape that
  *     survives 100 TB (the round-≤9 FIXED 16-cell sign quantizer made
  *     it n²/32: 33 s at sf1 vs ~1 s with the trained cells). The
  *     oracle replays the identical ranked assignment + probe fold,
  *     and `dedup_embedding_recall` MEASURES pair recall at nprobe
  *     1/2/3 against exact slice truth — the number a deployment reads
  *     before picking the knob (sf0.01 slice, cos ≥ 0.45: 0.57 / 0.86 /
  *     1.00 pair recall at nprobe 1/2/3; the committed operating point
  *     is nprobe 2, vs 0.57 for the old sign-cell scheme at its own
  *     operating width).
  */
object Dedup {

  // ---- shingling ------------------------------------------------------

  /** Boundary of the in-heap memo regime (docs) for
    * [[graft.Artifact.checkpoint]]. Every committed bench record at
    * sf0.1/sf1 was measured on the in-heap path and sf10+ on the
    * DISK_ONLY path; DedupSpec pins the shipped corpora against this
    * constant so silent docs-count drift in the generators cannot flip
    * a committed regime's storage path. */
  private[graft] val MemoInHeapMaxDocs = 600000L
  private def ckptSized(s: SparkSession, d: String,
      df: DataFrame): DataFrame =
    Artifact.checkpoint(df, nDocs(s, d), MemoInHeapMaxDocs)

  /** Distinct 3-token shingle HASHES of `text` (docs with <3 tokens emit
    * nothing): the [[graft.functions.ShingleHashes]] generator — one JVM
    * loop per document. All downstream set operations (freq counts,
    * minhash, banding, intersection) run on 8-byte longs instead of
    * shingle strings, which cuts shuffle width and per-element compare
    * cost — the representation that survives 100 TB.
    *
    * MATERIALIZED once per (session, dir) — every near-dup query fans the
    * frame into 2-4 consumers (df counts, prefix ranks, index side, doc
    * sets), and Catalyst does not reuse a subplan across self-join
    * branches, so without the checkpoint the text scan + generator run
    * once PER BRANCH (measured: dedup_ngram_jaccard was 3× the generator
    * work, the slowest line in the r5 bench). This is the
    * materialize-the-shingle-index step every PPJoin/LSH system performs
    * before candidate generation; at 100 TB it is a written table that
    * every downstream pass joins, exactly like the k-means assignment
    * memo ([[Similarity]]) and the cluster-label memo below.
    */
  val shingleDf: Artifact[DataFrame] = Artifact("dedup", "shingles") {
    (spark, d) =>
      // spread before the generator: the checkpointed index otherwise
      // inherits the single-row-group scan's ONE partition, putting the
      // whole shingle explode AND the first stage of every consumer on
      // one task (the codec-stage rule, Multimodal.pngMedia; the sf10
      // drive measured the warmup build single-threaded for minutes)
      ckptSized(spark, d, spreadDocs(spark, d)
        .select(col("doc_id"),
          graft.functions.ShingleHashes(col("text"), 3)))
  }

  /** `documents` spread over the task slots, the input of every
    * per-document shingle kernel: the scan of a single-row-group file is
    * ONE partition, which would put a whole corpus pass on one task (the
    * codec-stage rule, Multimodal.pngMedia; the sf10 drive measured the
    * shingle build single-threaded for minutes). A round-robin spread of
    * document rows — not of the shingle rows they expand into. */
  private def spreadDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").repartition(s.sparkContext.defaultParallelism)

  /** Bench's untimed warmup builds this module's artifacts (shingle
    * index, ranked sets, signatures, positional k-gram table,
    * duplicated-start frame, cluster labels): at 100 TB these are
    * stored tables, and their one-time build must never land inside
    * whichever timed query happens to run first.
    */
  private[graft] def warmArtifacts(s: SparkSession, d: String): Unit =
    Artifact.warm("dedup", s, d)

  /** DuckDB twin of [[shingleDf]] as a CTE body (same md5-derived 32-bit
    * hash; DISTINCT over hashes, matching the generator's set semantics).
    */
  val shingleSql: String =
    """SELECT DISTINCT doc_id,
      |       CAST(('0x' || substr(md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]), 1, 8)) AS BIGINT) AS s
      |  FROM (SELECT doc_id, string_split(text,' ') ws FROM documents) tk,
      |       unnest(range(1, len(ws)-1)) t(i)""".stripMargin

  /** Per-doc distinct-shingle sets as arrays + sizes (one shuffle). */
  // ss is SORTED ascending: every consumer intersects via the
  // two-pointer SortedIntersectCount kernel (one merge pass per pair,
  // no per-pair hash set) — the sort is paid once per DOC here, the
  // merge once per CANDIDATE below
  private def docSets(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("s"))).as("ss"),
        count(lit(1)).as("n"))

  private def interCount(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.ArrayExprs.sortedIntersectCount(a, b)

  // ---- ShuffledHashJoin build-memory gate (round-11 ADVICE) ----------
  // A shuffle_hash hint puts the hinted side's rows into a PER-PARTITION
  // in-memory hash relation that, unlike sort-merge, does not spill: the
  // bound is rowsPerPartition × rowWidth ≤ task memory. Two build-side
  // families take the hint in this file:
  //   • doc-set frames (ss shingle arrays, the heavy rows): width ≈
  //     avgShinglesPerDoc × 8 B + overhead — MEASURED per corpus (one
  //     tiny avg-words agg, memoized) rather than assumed; a production
  //     corpus additionally bounds the tail via the token-cap sharding
  //     already documented at prefixPairKeys. These sides are GATED
  //     below: the hint is applied only while nDocs/shufflePartitions ×
  //     rowWidth fits the per-task budget; past that the join falls
  //     back to sort-merge, which spills. Skew is not a concern on
  //     these sides — the build key is doc_id, unique per row.
  //   • pair-key frames (sp, doc_id, n, r2 — ~36 B packed rows): volume
  //     is Σ_doc C(prefix,2), corpus-dependent (sf10 measured 468M rows
  //     ≈ 527 MB/partition at 32 partitions, inside the drive's heap).
  //     On a cluster, shuffle partitions scale with input (SCALE.md
  //     global posture: 100k–1M initial partitions at 100 TB), so
  //     rows/partition stays roughly flat; the hint stays unconditional
  //     there because the r2/positional prunes run INSIDE that join —
  //     falling back to SMJ would re-introduce the measured 205 s sort.
  /** Row-width floor for the gate (bytes) — covers the fixed doc_id +
    * UnsafeRow/array headers even on a tiny-doc corpus. */
  private val DocSetRowBytesFloor = 512L
  /** Per-task build budget: a quarter of an even heap share of the
    * JVM that actually BUILDS the hash relation. On a cluster that is
    * the executor (spark.executor.memory / spark.executor.cores — the
    * r12 ADVICE hole: dividing DRIVER heap by cluster-wide
    * defaultParallelism underestimated the executor budget by ~the
    * executor count and silently disabled the hint exactly in the
    * deployment the gate targets); in local mode the driver JVM is the
    * executor and its heap is shared by defaultParallelism task slots.
    */
  private def buildBudgetBytes(s: SparkSession): Long = {
    val conf = s.sparkContext.getConf
    if (!s.sparkContext.isLocal && conf.contains("spark.executor.memory")) {
      val heap = conf.getSizeAsBytes("spark.executor.memory")
      val cores = math.max(1, conf.getInt("spark.executor.cores", 1))
      heap / cores / 4
    } else {
      val slots = math.max(1, s.sparkContext.defaultParallelism)
      Runtime.getRuntime.maxMemory() / slots / 4
    }
  }
  private val docCountMemo =
    new graft.BoundedMemo[(SparkSession, String), java.lang.Long](8)
  /** documents row count — parquet-footer metadata, memoized. */
  private def nDocs(s: SparkSession, d: String): Long =
    docCountMemo.getOrCompute((s, d))(
      java.lang.Long.valueOf(t(s, d, "documents").count())).longValue()
  private val docWidthMemo =
    new graft.BoundedMemo[(SparkSession, String), java.lang.Long](8)
  /** Measured doc-set row width (bytes): a shingle row carries ~one
    * 8-byte hash per word, and the 2× factor covers the UnsafeArrayData
    * header, the doc_id column, and the hash-relation entry overhead.
    * One tiny avg agg over the corpus, memoized per (session, dir) —
    * replaces the r11 gate's unchecked 4 KB assumption. */
  private def docSetRowBytes(s: SparkSession, d: String): Long =
    docWidthMemo.getOrCompute((s, d))({
      val avgWords = Option(t(s, d, "documents")
        .agg(avg(size(split(col("text"), " ")))).head().get(0))
        .map(_.asInstanceOf[Double]).getOrElse(0.0)
      java.lang.Long.valueOf(math.max(DocSetRowBytesFloor,
        math.ceil(avgWords * 8 * 2).toLong))
    }).longValue()
  /** The docs-side hint, applied only while the per-partition hash build
    * provably fits; huge regimes fall back to spilling sort-merge. */
  private def hashHintIfBounded(s: SparkSession, d: String,
      docs: DataFrame): DataFrame = {
    val parts = math.max(1, s.sessionState.conf.numShufflePartitions).toLong
    if (nDocs(s, d) / parts * docSetRowBytes(s, d) <= buildBudgetBytes(s))
      docs.hint("shuffle_hash")
    else docs
  }

  /** EXACT row count of a [[prefixPairKeys]] frame — Σ_doc
    * C(min(plen, n), 2) over the doc-length catalog (one partial-agg'd
    * distinct over the checkpointed ranked frame — ~nDocs rows reach
    * the shuffle), memoized per (session, dir, plen expression). Feeds
    * [[boundedPairParts]]. */
  private val pairRowsMemo = new graft.BoundedMemo[
    (SparkSession, String, String), java.lang.Long](32)
  private def pairKeyRows(s: SparkSession, d: String,
      plen: org.apache.spark.sql.Column): Long =
    pairRowsMemo.getOrCompute((s, d, plen.toString)) {
      val p = least(plen, col("n")).cast("long")
      // rankedSets is one row per doc already — the former row-form
      // path needed a distinct() exchange to recover the doc catalog
      java.lang.Long.valueOf(Option(rankedSets(s, d)
        .select(col("doc_id"), col("n"))
        .agg(sum(when(p >= 2, (p * (p - lit(1)) / lit(2)).cast("long"))
          .otherwise(lit(0L)))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L))
    }.longValue()

  /** Bytes one packed pair-key row costs inside a shuffle-hash build:
    * (sp, doc_id, n, r2) is 24 B of columns; 36 B covers the UnsafeRow
    * and relation-entry overhead — the sf10 measurement (468M rows ≈
    * 527 MB/partition at 32 partitions). */
  private val PairRowBytes = 36L

  /** Partition count that keeps a pair-key frame's PER-PARTITION
    * shuffle-hash build inside the task budget, or None when the
    * session default already does. The pair frames keep their
    * unconditional shuffle_hash hint (falling back to SMJ would
    * re-introduce the measured 205 s sort — the r11 lesson), so at
    * corpus scales where rows/defaultPartitions no longer fits the
    * heap the EXCHANGE must grow instead: this is SCALE.md's global
    * posture (initial partitions track input so bytes/partition stays
    * bounded) applied inside the operator. The round-14 sf30 probe is
    * the motivating failure: 1.5M docs × C(prefix,2) ≈ 2.1B index rows
    * over 32 static partitions OOM'd a 96 GB heap in the hash build —
    * the r13 DISK_ONLY memo fix had moved the wall from the checkpoint
    * unroll to the join build. Returned counts are pinned (Some) via
    * an explicit repartition by the join key, which AQE does not
    * coalesce; sub-threshold corpora return None and keep the
    * committed small-SF plans bit-identical. */
  private def boundedPairParts(s: SparkSession, rows: Long): Option[Int] = {
    val parts = math.max(1, s.sessionState.conf.numShufflePartitions)
    val need = math.min(32768L,
      rows * PairRowBytes / math.max(1L, buildBudgetBytes(s)) + 1)
    if (need > parts) Some(need.toInt) else None
  }

  /** Exact Jaccard for a given (i, j) candidate-pair frame: join each
    * side's shingle array and intersect per pair — verification cost
    * tracks candidate volume, never corpus size. The doc-set side takes
    * a (gated, see above) shuffle_hash hint: sort-merge would SORT the
    * candidate stream (and, on the second join, the array-widened
    * intermediate — the spill-heavy step at sf10); hashing the docs side
    * streams the candidates through unsorted.
    */
  private def verifyJaccard(s: SparkSession, d: String,
      cand: DataFrame, docs: DataFrame): DataFrame =
    cand
      .join(hashHintIfBounded(s, d, docs.select(col("doc_id").as("i"),
        col("ss").as("si"), col("n").as("ni"))), Seq("i"))
      .join(hashHintIfBounded(s, d, docs.select(col("doc_id").as("j"),
        col("ss").as("sj"), col("n").as("nj"))), Seq("j"))
      .withColumn("inter", interCount(col("si"), col("sj")))
      .withColumn("jac", col("inter").cast(DoubleType) /
        (col("ni") + col("nj") - col("inter")).cast(DoubleType))

  /** Block size for [[postingPairs]]: rows carry at most 2·B postings
    * (~tens of KB), far under any executor page budget. */
  private val PairBlock = 1024

  /** All unordered pairs within each bucket's posting list, generated
    * from the ALREADY-GROUPED bucket frame with per-row memory bounded by
    * `block`.
    *
    * `buckets` must carry an array column `ds` (postings — a scalar or a
    * doc_id-led struct, unique within a bucket); the output keeps the
    * bucket's other columns and adds pair slots `a` and `b` with `a < b`
    * in payload (= doc_id) order, each unordered pair exactly once PER
    * BUCKET (same-block pairs keep only the ascending orientation;
    * cross-block pairs occur once by construction and are normalized) —
    * callers `.distinct()` across buckets exactly as the plain explode
    * form required.
    *
    * Why blocks: `collect_list` makes the whole bucket ONE row, so the
    * naive explode-twice keeps an O(L) array in a single row feeding an
    * O(L²) explode — a single-task memory hotspot once bucket size grows
    * with the corpus. Splitting the list into ceil(L/B) blocks and
    * exploding block PAIRS (bi ≤ bj) emits the identical pair set from
    * rows of at most 2·B postings. The L² pair CPU still lands on one
    * task per bucket — bounded upstream in every caller (stop-shingle
    * maxDf cap, LSH/byte band collision rates) — and the `.distinct()`
    * that follows is a shuffle, so everything downstream of pair
    * generation rebalances across the cluster regardless.
    */
  private[graft] def postingPairs(buckets: DataFrame,
      block: Int = PairBlock): DataFrame = {
    val lastBlock = floor((size(col("ds")) - 1).cast(DoubleType) / block)
      .cast("int")
    buckets
      .withColumn("bi", explode(sequence(lit(0), greatest(lastBlock, lit(0)))))
      .withColumn("ba", slice(col("ds"), col("bi") * block + 1, lit(block)))
      .withColumn("bj", explode(sequence(col("bi"), greatest(lastBlock, lit(0)))))
      .withColumn("bb", slice(col("ds"), col("bj") * block + 1, lit(block)))
      .drop("ds")
      .withColumn("x", explode(col("ba"))).drop("ba")
      .withColumn("y", explode(col("bb"))).drop("bb")
      .filter((col("bi") === col("bj") && col("x") < col("y")) ||
        col("bi") < col("bj"))
      .withColumn("a", least(col("x"), col("y")))
      .withColumn("b", greatest(col("x"), col("y")))
      .drop("x", "y", "bi", "bj")
  }

  /** GROUPED ranked-shingle artifact `(doc_id, n, ss)`: ss = the doc's
    * distinct shingle hashes sorted rarest-first under the GLOBAL total
    * order (document-frequency, s) — the order every prefix-filter
    * argument below counts in — and n = |ss|. Round 17 reshape (guide
    * §2.4): the former ROW-form artifact forced every pair-key branch
    * (ngram probe+index, containment probe+index) through its own
    * groupBy(doc_id)+collect_list EXCHANGE just to regroup rows the
    * artifact had already grouped at build time; with the per-doc array
    * stored directly, prefix slicing and ℓ=2 pair-key generation are
    * pure map-side expressions ([[prefixPairKeys]]) and the row view
    * ([[rankedShingles]]) is a shuffle-free explode. The build also
    * drops the row_number window (array_sort inside the doc group is
    * the same rank assignment — (df, s) is a strict total order because
    * shingles are distinct per doc). Same information, same memo/
    * stored-table contract; sf10's 26M-row regroup exchanges per branch
    * are the motivating cost.
    */
  private val rankedSets = Artifact("dedup", "ranked_sets") { (s, d) =>
    val sh = shingleDf(s, d)
    val freq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    ckptSized(s, d, sh.join(freq, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s"))))
        .as("fs"))
      .select(col("doc_id"),
        size(col("fs")).cast(LongType).as("n"),
        transform(col("fs"), x => x.getField("s")).as("ss")))
  }

  /** Row view `(doc_id, s, rk, n)` of [[rankedSets]] — a map-side
    * posexplode (rk = 1-based rank position), for the consumers that
    * join on the shingle itself (containment's tiny-doc branch, the
    * 1-shingle branch). No exchange; reads the artifact's blocks.
    */
  private def rankedShingles(s: SparkSession, d: String): DataFrame =
    rankedSets(s, d)
      .select(col("doc_id"), col("n"),
        posexplode(col("ss")).as(Seq("pos", "s")))
      .select(col("doc_id"), col("s"),
        (col("pos") + 1).as("rk"), col("n"))

  /** Unordered within-doc shingle-PAIR keys `(doc_id, n, s1, s2)`
    * (s1 < s2 by value) over each doc's `plen`-rarest shingles —
    * the ℓ=2 signature scheme of adaptive prefix filtering (Wang,
    * Li, Feng, "Can We Beat the Prefix Filtering?", SIGMOD'12): a
    * single rare shingle stops discriminating when the corpus is large
    * relative to the shingle universe (the sf10 drive measured uniform
    * df ≈ 1000 over a 3·10⁴ universe — EVERY single-shingle posting
    * list pairs ~10⁶ docs, 2.4·10⁹ candidates in total), but a pair of
    * co-occurring rare shingles keys a joint space of ~(universe²)/2,
    * and candidate volume collapses to near-duplicate density
    * (measured 36.6M at the same sf10, a 65× cut).
    *
    * Per-doc key budget: C(plen, 2), and plen is LINEAR in the doc's
    * shingle count (symmetric Jaccard keys n − ⌈t·n⌉ + 2; containment
    * index n − ⌈t·NiPair⌉ + 2) — so per-doc keys are quadratic in DOC
    * LENGTH with a small constant, not a constant. The frames stay linear in the CORPUS only under
    * the bounded-document-length regime that every call site here and
    * at 100 TB satisfies: the fixture's docs are ≤ ~120 shingles
    * (≤ ~300 keys/doc), and a production crawl pipeline shards
    * documents to a token cap (2–8 k) before shingling — an unbounded
    * long-document corpus would need that cap (or a plen cap, trading
    * the exactness contract for recall, like the retired maxDf knob)
    * before this index frame is safe to build.
    */
  private def prefixPairKeys(sets: DataFrame,
      plen: org.apache.spark.sql.Column): DataFrame =
    // Round 17: the (s, rk) prefix list is SLICED from the rank-sorted
    // per-doc array ([[rankedSets]]) — a pure map-side expression with
    // no groupBy(doc_id) regroup exchange (the former row-form path
    // re-grouped the artifact per branch) and no window — and then fed
    // to the same block-bounded [[postingPairs]] explode as before
    // (identical pair-enumeration machinery and per-row memory bound).
    postingPairs(sets.select(col("doc_id"), col("n"),
        array_sort(transform(
          slice(col("ss"), lit(1), greatest(least(plen, col("n"))
            .cast(IntegerType), lit(0))),
          (x, i) => struct(x.as("s"), (i + 1).as("rk")))).as("ds")))
      .select(col("doc_id"), col("n"),
        // the unordered pair key PACKED into one long: shingle hashes
        // are 32-bit values, so (s1 << 32) | s2 (s1 < s2) is a bijection
        // into the 64-bit space (bitwise — wraps into the sign bit, never
        // ANSI-overflows) — halves the join-key width and hash cost of
        // the frame that dominates these queries' shuffles (the
        // containment index is ~712M rows at sf10)
        shiftleft(col("a.s"), 32).bitwiseOR(col("b.s")).as("sp"),
        // deeper in-doc rank of the two key members — the positional
        // filter each candidate join applies (the canonical key's r2 is
        // bounded by n − I + 2, so pruning on it never drops a true pair)
        greatest(col("a.rk"), col("b.rk")).as("r2"))

  /** EXACT ℓ=2 candidate generation for Jaccard ≥ t — SYMMETRIC
    * prefixes (one shared pair-key frame, self-joined).
    *
    * Canonical witness: for a qualifying pair (A, B), let (x₁, x₂) be
    * the TWO GLOBALLY-RAREST elements of A∩B under the shared total
    * order (df, s). In A, every element rarer than x₁ is outside B
    * (else it would beat x₁'s minimality) — at most |A| − I of those —
    * so rank_A(x₁) ≤ |A| − I + 1; likewise everything rarer than x₂ is
    * x₁ or outside B, so rank_A(x₂) ≤ |A| − I + 2. The SAME argument
    * holds verbatim in B. With I ≥ ⌈t·n⌉ on each side (J ≥ t ⇒
    * I ≥ t/(1+t)·(|A|+|B|) ≥ t·min and ≥ t·max via the length filter),
    * both witness members sit within each doc's
    * (n − ⌈t·n⌉ + 2)-rarest prefix — so ONE pair-key frame serves as
    * both probe and index, and the self-join on (s₁,s₂) emits every
    * qualifying pair. (The previous asymmetric form transferred A-ranks
    * into B — rank_B ≤ (|B| − I) + rank_A — which over-provisions the
    * index by ~⌊n(1−t)/t⌋ extra prefix positions: 4.5× more index rows
    * at sf10, and a 211M-row sort in the candidate join.)
    *
    * Positional prune (r2 carried by [[prefixPairKeys]]): the witness
    * key satisfies r2 ≤ n − I + 2 ≤ n − ⌈t/(1+t)·(|A|+|B|)⌉ + 2 on
    * EACH side; keys deeper than that cannot be the canonical witness
    * of their pair, and dropping them never drops a pair (the witness
    * key always survives and `.distinct()` collapses multiplicity).
    *
    * Docs with a single shingle can never form a pair key; the only
    * qualifying partner of a 1-shingle doc (t > 0.5) is an identical
    * 1-shingle doc, joined directly on the shingle. Exact ⇒ the oracle
    * (plain inverted-index join) is unchanged. Verification still
    * computes true Jaccard over full sorted sets.
    */
  private def pairPrefixCandidates(s: SparkSession, d: String,
      t: Double): DataFrame = {
    // the 1-shingle branch below is exact ONLY for t > 0.5 (a 1-shingle
    // doc's sole qualifying partner at t > 0.5 is an identical
    // 1-shingle doc); enforce the precondition rather than letting a
    // future t <= 0.5 call site silently drop true pairs. t > 0.5 also
    // guarantees I ≥ 2 for every qualifying pair of ≥2-shingle docs,
    // so the pair witness (x₁, x₂) exists.
    require(t > 0.5,
      s"pairPrefixCandidates is exact only for t > 0.5 (got $t): " +
        "the singleton-doc branch joins 1-shingle docs on equality")
    val sets = rankedSets(s, d)
    // ε discipline: ceil(x − ε) errs DOWNWARD on the required overlap,
    // so float rounding can only widen the prefix / keep more keys
    val plen = col("n") - ceil(col("n") * t - 1e-9) + 2
    val keys0 = prefixPairKeys(sets, plen)
    // pin the self-join exchange to a build-bounded partition count
    // (both sides come from the SAME repartitioned frame, so they stay
    // co-partitioned and the join inserts no further exchange)
    val keys = boundedPairParts(s, pairKeyRows(s, d, plen))
      .map(n => keys0.repartition(n, col("sp"))).getOrElse(keys0)
    val ireq = ceil((col("p.n") + col("x.n")).cast(DoubleType) *
      lit(t / (1 + t)) - 1e-9)
    // shuffle_hash: the sort-merge sort of the pair-key frames is the
    // dominant cost at scale (measured 48 s of dedup_ngram_jaccard's
    // 111 s at sf10 pre-hint); a shuffled hash join streams them unsorted
    val paired = keys.alias("p").hint("shuffle_hash").join(keys.alias("x"),
        col("p.sp") === col("x.sp") &&
          col("p.doc_id") < col("x.doc_id"))
      .filter(least(col("p.n"), col("x.n")).cast(DoubleType) >=
        greatest(col("p.n"), col("x.n")).cast(DoubleType) * t - 1e-9)
      .filter(col("p.r2") <= col("p.n") - ireq + 2 &&
        col("x.r2") <= col("x.n") - ireq + 2)
      .select(col("p.doc_id").as("i"), col("x.doc_id").as("j"))
    val ones = sets.filter(col("n") === 1)
      .select(element_at(col("ss"), 1).as("s"), col("doc_id"))
    val onePairs = ones.alias("a").join(ones.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
    paired.union(onePairs).distinct()
  }

  private val jaccardPairsSql: String =
    s"""sh AS ($shingleSql),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |jp AS (
       |  SELECT a.doc_id i, b.doc_id j, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT i, j, CAST(inter AS DOUBLE) /
       |         CAST(x.n + y.n - inter AS DOUBLE) AS jac
       |  FROM jp JOIN sz x ON x.doc_id = i JOIN sz y ON y.doc_id = j)""".stripMargin

  // ---- MinHash --------------------------------------------------------

  // Banding: 14 bands × 6 rows (K = 84). Rows-per-band is THE quadratic
  // knob: a random pair with Jaccard j collides in some band with
  // P ≈ Bands·j^Rows, and that constant multiplies n²/2 pairs. The r10
  // sf10 drive measured the old 4×3 banding at 5·10⁻⁴ per random pair
  // (corpus random-j p99 ≈ 0.014, max 0.06, but j³ decays too slowly) —
  // ~60M spurious candidates, 19.8× the sf1 line. At r = 6, b = 14 the
  // random constant drops ~800× (6.5·10⁻⁷) while recall at the 0.7
  // verify threshold IMPROVES: 1−(1−0.7⁶)¹⁴ = 0.83 vs 0.81 for 4×3
  // (0.99 at j = 0.8, 0.9997 at 0.9). At larger corpora Rows scales as
  // log n against the random-j tail — the standard production knob
  // (Lee et al. ACL'22 use r ≥ 13 at web scale); both engines derive
  // bands and oracle SQL from these three constants, so retuning stays
  // a one-line change.
  val K = 84        // minhash functions
  val Bands = 14
  val Rows = 6

  /** Universal-hash family over the 32-bit shingle hash: h_k(s) =
    * (s·A_k + B_k) mod P, P prime > 2^32. s < 2^32 and A_k < 2^31
    * (checked below; at K = 84, mhA(83) ≈ 2^23.07) keep the product
    * < 2^63 — exact in both engines' 64-bit integer arithmetic (NOT in
    * a double once A_k exceeded 2^21 at the K = 12 → 84 widening; both
    * Spark and DuckDB evaluate this expression in BIGINT, never
    * double, so results stay bit-exact). Replaces re-hashing the
    * shingle STRING per k (K md5 calls per shingle → K integer mults).
    */
  val MinhashP = 4294967311L
  private[graft] def mhA(k: Int): Long = 104729L * (k + 1) + 12345L
  private[graft] def mhB(k: Int): Long = 7919L * (k + 1) + 271L
  // int64-exactness guard for the comment above: s < 2^32 and
  // A_k < 2^31 ⇒ s·A_k + B_k < 2^63. Fails at class-init if K is ever
  // raised past the family's safe range (~20k hash functions).
  require(mhA(K - 1) < (1L << 31) && MinhashP > (1L << 32),
    s"minhash family overflows int64: mhA(${K - 1}) = ${mhA(K - 1)}")
  private def mhSql(k: Int): String =
    s"(s * ${mhA(k)} + ${mhB(k)}) % $MinhashP"

  /** Per-doc K-column minhash signature frame `(doc_id, m0..m{K-1})` of
    * `docs`: one [[graft.functions.MinhashSig]] pass per document (the
    * doc's distinct shingle hashes folded into K mins), no shingle rows
    * and no shuffle of them. */
  private[graft] def docSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.MinhashSig(col("text"), 3,
      (0 until K).map(mhA), (0 until K).map(mhB), MinhashP))

  /** MEMOIZED corpus signature frame: the lsh / incremental / estimate
    * queries each fan it into 2+ self-join branches that Catalyst will
    * not share. At 100 TB this is the stored signature index a crawl
    * pipeline maintains next to the shingle index — the same artifact
    * contract as [[shingleDf]], built straight from `documents` (it does
    * not wait for the shingle index).
    */
  private val corpusSigs = Artifact("dedup", "corpus_sigs") { (s, d) =>
    ckptSized(s, d, docSigs(spreadDocs(s, d)))
  }

  /** Band rows from an existing signature frame (Bands-way explode). */
  private def bandsFromSigs(mh: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val sig = concat_ws("_",
        (0 until Rows).map(r => col(s"m${b * Rows + r}")): _*)
      struct(lit(b).as("band"), sig.as("sig"))
    }
    mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** (doc_id, band, sig) LSH index rows shared by `dedup_minhash_lsh`
    * (self-collision pairs) and `dedup_incremental` (new-batch probe
    * against the corpus index): the corpus signatures, exploded. */
  private def minhashBands(s: SparkSession, d: String): DataFrame =
    bandsFromSigs(corpusSigs(s, d))

  /** DuckDB twin of [[minhashBands]]: CTEs `mh` + `bands`; requires a
    * shingle CTE `sh(doc_id, s)` in scope. */
  private val minhashBandsSql: String = {
    val mins = (0 until K).map(k =>
      s"MIN(${mhSql(k)}) AS m$k").mkString(",\n    ")
    val bandSelects = (0 until Bands).map { b =>
      val sig = (0 until Rows).map(r => s"CAST(m${b * Rows + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $sig AS sig FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    s"""mh AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  // ---- SimHash --------------------------------------------------------

  val SimBits: Int = graft.functions.SimhashSig.Bits

  /** `(doc_id, simhash)`: per-bit ±1 sums over each doc's distinct
    * shingle hashes, one [[graft.functions.SimhashSig]] pass per doc. */
  private def simhashDf(spark: SparkSession, d: String): DataFrame =
    spreadDocs(spark, d)
      .select(col("doc_id"), graft.functions.SimhashSig(col("text"), 3))

  /** SimHash near-dup pairs (Hamming ≤ 6) via the 4×8-bit byte-band
    * candidate join — the shared edge set for `dedup_simhash_pairs` and
    * `dedup_clusters`. Single-computation pattern: group each byte-band
    * bucket's postings from ONE signature frame and explode the pair
    * slots, so the simhash kernel runs once, not once per join side.
    */
  private def simhashPairs(spark: SparkSession, d: String): DataFrame = {
    val sim = simhashDf(spark, d)
    val bands = sim.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(k =>
          struct(lit(k).as("band"),
            shiftright(col("simhash"), 8 * k).bitwiseAND(lit(255L)).as("byte"))): _*))
          .as("bs"))
      .select(col("doc_id"), col("simhash"),
        col("bs.band").as("band"), col("bs.byte").as("byte"))
    postingPairs(bands.groupBy(col("band"), col("byte"))
        .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ds")))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
  }

  private val simhashSql: String = {
    val h = "s"
    val sums = (0 until SimBits).map(b =>
      s"SUM(CASE WHEN (($h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(",\n    ")
    val sim = (0 until SimBits).map(b =>
      s"CASE WHEN b$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""sh AS ($shingleSql),
       |bits AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM sh GROUP BY doc_id),
       |simh AS (SELECT doc_id, $sim AS simhash FROM bits)""".stripMargin
  }

  /** CTE chain producing `shp(i, j, hamming)` — the simhash near-dup pairs
    * (DuckDB twin of [[simhashPairs]]); shared by the pairs and clusters
    * oracles.
    */
  private val simhashPairsCteSql: String =
    s"""$simhashSql,
       |bands AS (
       |  SELECT doc_id, simhash, b.band,
       |         (simhash >> (8 * b.band)) & 255 AS byte
       |  FROM simh, (SELECT unnest(range(0, 4)) AS band) b),
       |shp AS (
       |  SELECT DISTINCT a.doc_id i, b.doc_id j,
       |    bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6)""".stripMargin

  // ---- quantized embeddings ------------------------------------------

  /** floor(x·2^20) per element: integer vectors whose dot products and
    * norms are exact (order-independent) BIGINT sums.
    */
  def qvec(c: Column): Column =
    transform(c, x => floor(x.cast(DoubleType) * lit(1048576.0)).cast(LongType))
  val qvecSql: String =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"

  /** Exact integer dot product — native codegen kernel (see
    * [[graft.functions.ArrayExprs]]); semantically equal to
    * `aggregate(zip_with(a, b, _*_), 0L, _+_)` but runs as a fused loop
    * inside whole-stage codegen.
    *
    * Deliberately the TWO-step path (materialize `qvec` longs once per
    * vector, then dot): every similarity/dedup query here dots each
    * vector against many others (centroids, cells, pair matrices), so
    * per-pair work must be minimal. The fused
    * [[graft.functions.ArrayExprs.quantDot]] kernel re-quantizes both
    * operands per pair — measured ~1.7x slower on the N² patterns — and
    * is the right tool only for single-pass scans that dot each row
    * once.
    */
  def idot(a: Column, b: Column): Column =
    graft.functions.ArrayExprs.longDot(a, b)
  def idotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), x -> x[1]*x[2])) AS BIGINT)"

  /** Quantized cosine: exact integer dot / product of exact-integer norms;
    * one sqrt + one division at the end keeps it bit-identical everywhere.
    */
  def qcos(dot: Column, na2: Column, nb2: Column): Column =
    dot.cast(DoubleType) /
      (sqrt(na2.cast(DoubleType)) * sqrt(nb2.cast(DoubleType)))
  def qcosSql(dot: String, na2: String, nb2: String): String =
    s"(CAST($dot AS DOUBLE) / (sqrt(CAST($na2 AS DOUBLE)) * sqrt(CAST($nb2 AS DOUBLE))))"

  def qEmb(spark: SparkSession, d: String): DataFrame =
    t(spark, d, "embeddings")
      .select(col("vec_id"), qvec(col("embedding")).as("q"))
      .withColumn("n2", idot(col("q"), col("q")))

  val qEmbSql: String =
    s"""qe AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
       |qn AS (SELECT vec_id, q, ${idotSql("q", "q")} AS n2 FROM qe)""".stripMargin

  /** Connected components over the simhash near-dup pair graph:
    * `(doc_id, cluster_id)` where cluster_id is the component's min doc
    * id. Shared by `dedup_clusters` (diagnostic view) and `dedup_apply`
    * (the surviving-corpus pass).
    *
    * Distributed min-label propagation: each round is one equi-join +
    * one groupBy-min, both on the node id (successive rounds reuse the
    * hash partitioning), plus a pointer JUMP — every label is replaced
    * by that label's own label (lbl(x) is itself a node and labels only
    * decrease, so lbl(lbl(x)) ≤ lbl(x)), collapsing label chains
    * geometrically: the Shiloach-Vishkin shortcut (cf. Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"); measured 40 → 17
    * rounds on sf0.1's diameter-39 chain components. Convergence is the
    * monotone label-sum fixpoint; the loop FAILS rather than return
    * non-converged labels at the iteration cap. The label sum is an
    * observed metric of the round's own checkpoint job, so a round is
    * one action. Remaining wall time is round-count × fixed job
    * latency — scheduler cost that amortizes on a real cluster where
    * each round moves real data.
    *
    * Every round ends in an eager `localCheckpoint`, NOT `persist`: the
    * frame feeds the next round twice (the propagation join and the
    * union), so with plain caching the LOGICAL plan doubles per round —
    * by round 25 the plan string hits Spark's 2 GiB cap and the driver
    * spends minutes per action just rendering it (this timed out the
    * round-4 bench). Checkpointing truncates lineage to a LogicalRDD;
    * superseded checkpoint blocks are freed by the ContextCleaner once
    * unreferenced, so repeated Bench/Verify invocations don't accumulate
    * storage. On a cluster, `checkpoint` to reliable storage also buys
    * fault tolerance past executor loss.
    */
  /** The label frame is a MATERIALIZED artifact of the corpus (the loop
    * ends in a localCheckpoint — real data blocks, no lineage), and both
    * consumers (`dedup_clusters`, `dedup_apply`) read the same artifact,
    * exactly as a production pipeline writes the labels table once and
    * joins it from every downstream pass.
    */
  private val clusterLabels =
    Artifact("dedup", "cluster_labels")((s, d) => propagateLabels(s, d)._1)

  /** The `cluster_labels` build: the label frame and its round count. */
  private[graft] def propagateLabels(s: SparkSession, d: String)
      : (DataFrame, Int) = {
    val pairs = simhashPairs(s, d)
    // hash-partition the (static) edge set by the join key BEFORE the
    // checkpoint: localCheckpoint preserves outputPartitioning, so every
    // round's propagation join re-shuffles only the labels side.
    val edges = pairs.select(col("i").as("src"), col("j").as("dst"))
      .union(pairs.select(col("j").as("src"), col("i").as("dst")))
      .repartition(col("src"))
      .localCheckpoint()
    /** `df` checkpointed, with its label sum observed by the checkpoint
      * job itself. */
    def checkpointed(df: DataFrame): (DataFrame, Long) = {
      val lblSum = Observation()
      val cp = df.observe(lblSum, sum(col("lbl")).as("s")).localCheckpoint()
      (cp, Option(lblSum.get("s")).fold(0L)(_.asInstanceOf[Long]))
    }
    var (labels, before) = checkpointed(edges.select(col("src").as("node"))
      .distinct().withColumn("lbl", col("node")))
    var converged = before == 0L
    var iters = 0
    val maxIters = 50
    while (!converged && iters < maxIters) {
      val prop = edges
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("lbl"))
      val mins = labels.union(prop).groupBy(col("node"))
        .agg(min(col("lbl")).as("lbl"))
      // pointer jump (left join + coalesce only as belt-and-suspenders
      // against a label not present as a node, which the invariant rules
      // out): both sides are the same tiny post-agg frame.
      val (next, after) = checkpointed(mins.join(
          mins.select(col("node").as("lbl"), col("lbl").as("jump")),
          Seq("lbl"), "left")
        .select(col("node"), coalesce(col("jump"), col("lbl")).as("lbl")))
      labels = next
      converged = after == before
      before = after
      iters += 1
    }
    require(converged,
      s"dedup_clusters: label propagation did not converge in $maxIters " +
        "iterations (component diameter exceeds cap)")
    System.err.println(s"[graft] dedup_clusters converged in $iters rounds")
    (labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id")),
      iters)
  }

  /** Stage-by-stage wall timing of the two prefix-filtered whales
    * (ngram Jaccard, containment) — the scale-drive diagnostic that
    * tells WHICH stage (pair-key frame build, candidate join, distinct,
    * array verification) dominates at a given SF before any redesign.
    * Counts force full evaluation like Bench. Not a driver query.
    */
  private[graft] def profileScale(s: SparkSession, d: String): Unit = {
    def timed(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = df.queryExecution.toRdd.count()
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  $n%12d rows")
    }
    val sets = rankedSets(s, d)
    val rnk = rankedShingles(s, d)
    val sh = shingleDf(s, d)
    timed("rankedSets (warm)")(sets)
    timed("docSets")(docSets(sh))
    val tJ = 0.8
    timed("ngram sym key pairs")(prefixPairKeys(sets,
      col("n") - ceil(col("n") * tJ - 1e-9) + 2))
    timed("ngram cand distinct")(pairPrefixCandidates(s, d, tJ))
    timed("ngram verify (no sort)")(
      verifyJaccard(s, d, pairPrefixCandidates(s, d, tJ), docSets(sh))
        .filter(col("jac") >= tJ)
        .select(col("i"), col("j"), col("jac")))
    timed("ngram full (barrier+sort)")(
      verifyJaccard(s, d, pairPrefixCandidates(s, d, tJ), docSets(sh))
        .filter(col("jac") >= tJ)
        .select(col("i"), col("j"), col("jac"))
        .repartition(col("i"))
        .orderBy(col("i"), col("j")))
    val tC = 0.9; val niPair = 8
    timed("cont candT pre-distinct")(rnk
      .filter(col("n") < niPair &&
        col("rk") <= col("n") - ceil(col("n") * tC - 1e-9) + 1)
      .select(col("s"), col("doc_id").as("i"), col("n").as("ni"))
      .join(rnk.select(col("s"), col("doc_id").as("j"), col("n").as("nj"),
        col("rk").as("rj")), Seq("s"))
      .filter(col("i") =!= col("j") &&
        col("nj") >= ceil(col("ni") * tC - 1e-9) &&
        col("rj") <= col("nj") - ceil(col("ni") * tC - 1e-9) + 1)
      .select(col("i"), col("j")))
    timed("cont probe pairs")(prefixPairKeys(
      sets.filter(col("n") >= niPair),
      col("n") - ceil(col("n") * tC - 1e-9) + 2))
    timed("cont idx pairs")(prefixPairKeys(sets,
      col("n") - lit(math.ceil(tC * niPair - 1e-9).toInt) + 2))
    timed("cont candP pre-distinct")({
      val probe = prefixPairKeys(sets.filter(col("n") >= niPair),
        col("n") - ceil(col("n") * tC - 1e-9) + 2)
      val idx = prefixPairKeys(sets,
        col("n") - lit(math.ceil(tC * niPair - 1e-9).toInt) + 2)
      probe.alias("p").hint("shuffle_hash").join(idx.alias("x"),
          col("p.sp") === col("x.sp") &&
            col("p.doc_id") =!= col("x.doc_id"))
        .filter(col("x.n") >= ceil(col("p.n") * tC - 1e-9) &&
          col("x.r2") <= col("x.n") - ceil(col("p.n") * tC - 1e-9) + 2)
        .select(col("p.doc_id").as("i"), col("x.doc_id").as("j"))
    })
  }

  /** Count-only scale instrument for the MINHASH family
    * (`dedup_minhash_lsh` / `dedup_minhash_estimate`): one JSON line
    * with the candidate-volume decomposition their at-scale cost is
    * made of — band-bucket collision mass Σ C(|bucket|,2) (the
    * pre-distinct pair stream postingPairs emits), distinct candidate
    * pairs, exact-verification mass Σ(n_i + n_j) over candidates (the
    * two-pointer merge work verifyJaccard actually does), and ≥0.7
    * survivors. Everything reduces to aggregates — no pair
    * materialization — so the instrument runs where the full queries
    * are disk-bound. Drives the fixed-vocab-vs-Heaps regime rows in
    * BASELINE.md (the sf10 ratio adjudication).
    */
  private[graft] def profileMinhash(s: SparkSession, d: String): String = {
    val sh = shingleDf(s, d)
    val nDocs = t(s, d, "documents").count()
    val bands = minhashBands(s, d)
    val buckets = bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") >= 2)
    // null-safe aggregates (r16 ADVICE #1): a corpus with NO multi-doc
    // band buckets returns null sum/max here (and a null verify-mass
    // sum below) — coalesce to zeros so the instrument reports a
    // collision-free corpus instead of NPE-ing.
    val bstats = buckets.agg(
      count(lit(1)).as("nb"),
      coalesce(sum(col("bn") * (col("bn") - 1) / 2), lit(0L))
        .as("collisions"),
      coalesce(max(col("bn")), lit(0L)).as("maxb")).head()
    val cand = postingPairs(minhashBands(s, d)
        .groupBy(col("band"), col("sig"))
        .agg(collect_list(col("doc_id")).as("ds")))
      .select(col("a").as("i"), col("b").as("j")).distinct()
      .localCheckpoint()
    val nCand = cand.count()
    val sizes = docSets(sh).select(col("doc_id"), col("n"))
    val vmass = cand
      .join(sizes.select(col("doc_id").as("i"), col("n").as("ni")),
        Seq("i"))
      .join(sizes.select(col("doc_id").as("j"), col("n").as("nj")),
        Seq("j"))
      .agg(coalesce(sum(col("ni") + col("nj")), lit(0L)).as("m"))
      .head().getLong(0)
    val nSurv = verifyJaccard(s, d, cand, docSets(sh))
      .filter(col("jac") >= 0.7).count()
    s"""{"metric":"minhash_profile","docs":$nDocs,""" +
      s""""buckets_ge2":${bstats.getLong(0)},""" +
      s""""collision_mass":${bstats.getDouble(1).toLong},""" +
      s""""max_bucket":${bstats.getLong(2)},""" +
      s""""distinct_candidates":$nCand,"verify_mass":$vmass,""" +
      s""""survivors_070":$nSurv,"sf":"$d"}"""
  }

  // ---- driver-contract queries ---------------------------------------

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // exact dedup: hash-groupBy on full-content hash, keep min doc_id.
    "dedup_exact" -> ((s: SparkSession, d: String) =>
      t(s, d, "documents")
        .groupBy(md5(col("text")).as("key"))
        .agg(min(col("doc_id")).as("kept_doc_id"), count(lit(1)).as("n_copies"))
        .select(col("kept_doc_id"), col("n_copies"))
        .orderBy(col("kept_doc_id"))),

    // canonical-key dedup: order/multiplicity-insensitive token-set key —
    // catches shuffled/repeated-word copies that exact hashing misses.
    "dedup_canonical" -> ((s: SparkSession, d: String) =>
      t(s, d, "documents")
        .groupBy(XF.h32(concat_ws(" ",
          array_sort(array_distinct(split(col("text"), " "))))).as("key"))
        .agg(min(col("doc_id")).as("kept_doc_id"), count(lit(1)).as("group_n"))
        .select(col("kept_doc_id"), col("group_n"))
        .orderBy(col("kept_doc_id"))),

    // n-gram Jaccard near-dup, threshold 0.8: exact ℓ=2 prefix-filtered
    // set-similarity self-join + per-candidate array intersection.
    "dedup_ngram_jaccard" -> ((s: SparkSession, d: String) => {
      verifyJaccard(s, d, pairPrefixCandidates(s, d, 0.8),
          docSets(shingleDf(s, d)))
        .filter(col("jac") >= 0.8)
        .select(col("i"), col("j"), col("jac"))
        // shuffle barrier before the global sort: the range exchange's
        // SAMPLING pass re-executes its child plan, and here the child
        // is the whole candidate+verify pipeline (measured 16.7 s of
        // re-execution at sf10 for a 20k-row result). Behind a hash
        // exchange the sampler reads shuffle files instead. Stays
        // distributed — no single-partition funnel.
        .repartition(col("i"))
        .orderBy(col("i"), col("j"))
    }),

    // ASYMMETRIC CONTAINMENT near-dup, threshold 0.9: flags documents
    // whose shingle set is (almost) a SUBSET of another's — the
    // quote/excerpt/boilerplate-wrapper duplication Jaccard misses (a
    // paragraph inside a long page has tiny Jaccard but containment ~1).
    // C(i→j) = |S(i)∩S(j)| / |S(i)|. Candidates split by CONTAINED size
    // (exact in union — branch boundaries partition the ni axis):
    //  • ni ≥ NiPair (branch P — the bulk): ℓ=2 PAIR keys with the
    //    two-globally-rarest-shared witness (see pairPrefixCandidates'
    //    derivation): both witness members rank ≤ n − I + 2 in EACH
    //    doc, with I ≥ ⌈t·ni⌉. The probe (contained side) knows its
    //    own ni, so its prefix is ni − ⌈t·ni⌉ + 2 (~⌊0.1·ni⌋+2). The
    //    index (container side) must serve any probe of size ≥ NiPair,
    //    so it enumerates pairs among its nj − ⌈t·NiPair⌉ + 2 rarest —
    //    and the per-pair POSITIONAL filter
    //    r2 ≤ nj − ⌈t·ni⌉ + 2 (valid for the canonical witness; the
    //    size filter nj ≥ ⌈t·ni⌉ rides the same stage) re-tightens
    //    each deep index row to exactly the probes that need it. The
    //    round-10 form routed ni < 25 through a single-shingle join
    //    with the FULL inverted index — at sf10's uniform df ≈ 950
    //    that emitted 263M candidates (measured) whose array
    //    verification dominated the query's 622 s; pair keys hold
    //    candidate volume at near-dup density (~22M) instead.
    //  • ni < NiPair (branch T — tiny docs): a pair key needs ≥ 2
    //    shared shingles and an index depth of nj − ⌈t·ni⌉ + 2, which
    //    degenerates toward ALL of j's pairs as ni → 2; tiny docs
    //    instead probe their single rarest-shared witness (ℓ=1:
    //    rank ≤ n − I + 1 on BOTH sides, same canonical-witness
    //    argument at ℓ=1) against the inverted index with the
    //    positional filter rj ≤ nj − ⌈t·ni⌉ + 1. Fan-out is
    //    prefix·df — affordable precisely because the branch is
    //    rare-to-empty (the generator floors docs at 8 shingles;
    //    DedupSpec's adversarial corpus exercises it with 1-4-shingle
    //    docs).
    // Both directions emit independently: every doc probes as i.
    "dedup_containment" -> ((s: SparkSession, d: String) => {
      val tC = 0.9
      val NiPair = 8 // smallest contained size served by pair keys
      val idxDepth = math.ceil(tC * NiPair - 1e-9).toInt // ⌈t·NiPair⌉ = 8
      val sh = shingleDf(s, d)
      val sets = rankedSets(s, d)
      val rnk = rankedShingles(s, d)
      // all prunes (size + positional) run INSIDE the candidate joins'
      // own stage — n and r2 are carried by the key frames, never
      // re-joined onto the candidate stream. No broadcast hints: every
      // join is keyed; shuffle_hash picks the hash family over the
      // sort-merge sort (the sf10 drive measured the SMJ sort of the
      // 468M-row index frame at 205 s of the query's 622 s).
      val candT = rnk
        .filter(col("n") < NiPair &&
          col("rk") <= col("n") - ceil(col("n") * tC - 1e-9) + 1)
        .select(col("s"), col("doc_id").as("i"), col("n").as("ni"))
        .join(rnk.select(col("s"), col("doc_id").as("j"),
          col("n").as("nj"), col("rk").as("rj")), Seq("s"))
        .filter(col("i") =!= col("j") &&
          col("nj") >= ceil(col("ni") * tC - 1e-9) &&
          col("rj") <= col("nj") - ceil(col("ni") * tC - 1e-9) + 1)
        .select(col("i"), col("j"))
      val probe0 = prefixPairKeys(
        sets.filter(col("n") >= NiPair),
        col("n") - ceil(col("n") * tC - 1e-9) + 2)
      val idx0 = prefixPairKeys(sets, col("n") - lit(idxDepth) + 2)
      // pin BOTH sides' exchanges to one build-bounded partition count
      // (sized from the deeper INDEX frame — the side the hash relation
      // is built from is partition-for-partition the same width): the
      // sf30 regime where 2.1B index rows over 32 static partitions
      // OOM'd the 96 GB drive (see boundedPairParts)
      val (probe, idx) = boundedPairParts(s,
          pairKeyRows(s, d, col("n") - lit(idxDepth) + 2))
        .map(n => (probe0.repartition(n, col("sp")),
          idx0.repartition(n, col("sp"))))
        .getOrElse((probe0, idx0))
      val candP = probe.alias("p").hint("shuffle_hash").join(idx.alias("x"),
          col("p.sp") === col("x.sp") &&
            col("p.doc_id") =!= col("x.doc_id"))
        .filter(col("x.n") >= ceil(col("p.n") * tC - 1e-9) &&
          col("x.r2") <= col("x.n") - ceil(col("p.n") * tC - 1e-9) + 2)
        .select(col("p.doc_id").as("i"), col("x.doc_id").as("j"))
      val cand = candT.union(candP).distinct()
      val docs = docSets(sh)
      // gated shuffle_hash on the docs side for the same reason as
      // verifyJaccard: never sort the (array-widened) candidate stream
      cand
        .join(hashHintIfBounded(s, d, docs.select(col("doc_id").as("i"),
          col("ss").as("si"), col("n").as("ni"))), Seq("i"))
        .join(hashHintIfBounded(s, d, docs.select(col("doc_id").as("j"),
          col("ss").as("sj"))), Seq("j"))
        .withColumn("inter", interCount(col("si"), col("sj")))
        .withColumn("containment",
          col("inter").cast(DoubleType) / col("ni").cast(DoubleType))
        .filter(col("containment") >= tC)
        .select(col("i").as("contained"), col("j").as("container"),
          col("containment"))
        // same sampling barrier as dedup_ngram_jaccard: never let the
        // range exchange re-execute the verify pipeline
        .repartition(col("contained"))
        .orderBy(col("contained"), col("container"))
    }),

    // MinHash + LSH banding: sub-quadratic candidate generation, exact
    // Jaccard verification at threshold 0.7.
    "dedup_minhash_lsh" -> ((s: SparkSession, d: String) => {
      val sh = shingleDf(s, d)
      val bands = minhashBands(s, d)
      // pairs from each band-bucket's posting list, computed from ONE
      // signature frame (a bands-to-bands self-join would run the whole
      // shingle+minhash aggregation once per side), block-bounded via
      // postingPairs; bucket lists are bounded by band collision rate.
      val cand = postingPairs(bands.groupBy(col("band"), col("sig"))
          .agg(collect_list(col("doc_id")).as("ds")))
        .select(col("a").as("i"), col("b").as("j")).distinct()
      // verify candidates with exact Jaccard per pair.
      verifyJaccard(s, d, cand, docSets(sh))
        .filter(col("jac") >= 0.7)
        .select(col("i"), col("j"), col("jac"))
        .orderBy(col("i"), col("j"))
    }),

    // MINHASH ESTIMATOR CALIBRATION — per LSH candidate pair, the
    // sketch-estimated Jaccard (matching minhashes / K) against the
    // exact set Jaccard, with the absolute error: the table that tells
    // you whether K and the banding are tuned for the corpus before
    // trusting the sketch at 100 TB (where exact verification is
    // sampled, not universal). Candidates and signatures come from the
    // same frames dedup_minhash_lsh uses; band-collision pairs sharing
    // NO shingle get exact Jaccard 0 (the estimator's false-positive
    // rows — precisely the ones worth seeing here).
    "dedup_minhash_estimate" -> ((s: SparkSession, d: String) => {
      val sh = shingleDf(s, d)
      // the signature frame feeds both the band explode and the
      // per-pair match-count join — materialize it once (docs × K
      // longs; without this the shingle scan + K-way min aggregation
      // run once per branch)
      val mh = corpusSigs(s, d)
      val bands = bandsFromSigs(mh)
      val cand = postingPairs(bands.groupBy(col("band"), col("sig"))
          .agg(collect_list(col("doc_id")).as("ds")))
        .select(col("a").as("i"), col("b").as("j")).distinct()
      val matches = (0 until K).map(k =>
        when(col(s"a.m$k") === col(s"b.m$k"), 1L).otherwise(0L))
        .reduce(_ + _)
      val est = cand
        .join(mh.as("a"), col("i") === col("a.doc_id"))
        .join(mh.as("b"), col("j") === col("b.doc_id"))
        .select(col("i"), col("j"), matches.as("n_match"))
      val exact = verifyJaccard(s, d, cand, docSets(sh))
        .select(col("i"), col("j"), col("jac"))
      est.join(exact, Seq("i", "j"))
        .select(col("i"), col("j"), col("n_match"),
          XF.r6(col("n_match").cast(DoubleType) / lit(K.toDouble))
            .as("est_jac"),
          XF.r6(col("jac")).as("exact_jac"),
          XF.r6(abs(col("n_match").cast(DoubleType) / lit(K.toDouble) -
            col("jac"))).as("abs_err"))
        .orderBy(col("i"), col("j"))
    }),

    // INCREMENTAL dedup — the continuous-crawl shape: flag each NEW-batch
    // doc (every 5th doc plays the incoming batch) against the EXISTING
    // corpus with (a) an exact content-hash probe and (b) a minhash
    // band-bucket probe (candidate-level: the index lookup a production
    // pipeline runs before full Jaccard verification). Both probes are
    // small-side-joins: the batch probes a corpus-side index — at 100 TB
    // the corpus hash/band index is a precomputed bucketed table, so
    // per-batch cost is O(batch ⋈ index buckets), never a corpus rescan.
    "dedup_incremental" -> ((s: SparkSession, d: String) => {
      val isNew = pmod(col("doc_id"), lit(5)) === 4
      val keys = t(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("key"))
      val corpusKeys = keys.filter(!isNew)
        .select(col("key")).distinct().withColumn("e", lit(1))
      val exact = keys.filter(isNew)
        .join(corpusKeys, Seq("key"), "left")
        .select(col("doc_id"), col("e").isNotNull.as("is_exact_dup"))
      val bands = minhashBands(s, d)
      val corpusBands = bands.filter(!isNew)
        .select(col("band"), col("sig")).distinct().withColumn("m", lit(1))
      val bandHits = bands.filter(isNew)
        .join(corpusBands, Seq("band", "sig"), "left")
        .groupBy(col("doc_id"))
        .agg((count(col("m")) > 0).as("is_band_candidate"))
      // left join: a sub-shingle-width new doc has no bands at all.
      exact.join(bandHits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("is_exact_dup"),
          coalesce(col("is_band_candidate"), lit(false)).as("is_band_candidate"))
        .orderBy(col("doc_id"))
    }),

    // LSH S-CURVE CALIBRATION — the table that justifies the (Bands,
    // Rows) choice itself: over an all-pairs slice (doc_id < 100 — the
    // bounded exhaustive unit, like sim_pair_matrix), each pair's exact
    // Jaccard is bucketed into deciles and the OBSERVED band-collision
    // rate is compared with the THEORETICAL S-curve
    // P(candidate) = 1 − (1 − j^Rows)^Bands. Observed ≫ predicted in a
    // low decile means correlated hash collisions; observed ≪ predicted
    // near the threshold means the banding is dropping true pairs — the
    // two failure modes worth catching before trusting the sketch on a
    // corpus where exhaustive checking is impossible. Predicted-mean
    // doubles mirror the oracle's expression order exactly
    // (left-associative j^Rows and (1−j^Rows)^Bands products derived
    // from the same constants, decimal-sum mean), so every column
    // hash-compares.
    "dedup_lsh_scurve" -> ((s: SparkSession, d: String) => {
      val sh = shingleDf(s, d).filter(col("doc_id") < 100)
      val docs = docSets(sh)
      val pairs = docs.select(col("doc_id").as("i"), col("ss").as("si"),
          col("n").as("ni"))
        .crossJoin(docs.select(col("doc_id").as("j"), col("ss").as("sj"),
          col("n").as("nj")))
        .filter(col("i") < col("j"))
        .withColumn("inter", interCount(col("si"), col("sj")))
        .select(col("i"), col("j"), (col("inter").cast(DoubleType) /
          (col("ni") + col("nj") - col("inter")).cast(DoubleType)).as("jac"))
      val mh = docSigs(t(s, d, "documents").filter(col("doc_id") < 100))
        .localCheckpoint()
      val bandHit = (0 until Bands).map { bd =>
        (0 until Rows).map(r =>
          col(s"a.m${bd * Rows + r}") === col(s"b.m${bd * Rows + r}"))
          .reduce(_ && _)
      }.reduce(_ || _)
      // derived from the Bands/Rows constants (left-assoc products,
      // mirrored by the oracle) so a banding change re-derives the
      // theoretical curve instead of silently comparing against a
      // stale hardcoded one
      val jr = (1 to Rows).map(_ => col("jac")).reduce(_ * _)
      val p = lit(1.0) -
        (1 to Bands).map(_ => lit(1.0) - jr).reduce(_ * _)
      pairs
        .join(mh.as("a"), col("i") === col("a.doc_id"))
        .join(mh.as("b"), col("j") === col("b.doc_id"))
        .select(col("i"), col("j"), col("jac"), bandHit.as("cand"))
        .groupBy(least(floor(col("jac") * 10), lit(9.0)).cast(LongType)
          .as("decile"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("cand"), 1L).otherwise(0L)).as("n_candidates"),
          XF.r6(XF.davg(p)).as("predicted_rate"))
        .withColumn("observed_rate",
          XF.r6(col("n_candidates").cast(DoubleType) /
            col("n_pairs").cast(DoubleType)))
        .select(col("decile"), col("n_pairs"), col("n_candidates"),
          col("observed_rate"), col("predicted_rate"))
        .orderBy(col("decile"))
    }),

    // SimHash signatures per document.
    "dedup_simhash" -> ((s: SparkSession, d: String) =>
      simhashDf(s, d).orderBy(col("doc_id"))),

    // SimHash near-dup pairs: byte-band candidate join + Hamming ≤ 6.
    "dedup_simhash_pairs" -> ((s: SparkSession, d: String) =>
      simhashPairs(s, d).orderBy(col("i"), col("j"))),

    // near-dup CLUSTERS: connected components over the simhash near-dup
    // pair graph (see [[clusterLabels]] for the algorithm + checkpoint
    // contract) — the step a real pipeline runs after pair generation.
    "dedup_clusters" -> ((s: SparkSession, d: String) =>
      clusterLabels(s, d).orderBy(col("doc_id"))),

    // CLUSTER-SIZE HISTOGRAM — the dedup YIELD report read before
    // applying the decision: how many near-dup clusters exist at each
    // size, how many documents they hold, and how many would be removed
    // (size − 1 per cluster). A fat tail here (one giant cluster) means
    // a boilerplate template is glueing unrelated docs — the signal to
    // tighten the Hamming threshold before dedup_apply deletes real
    // content. Runs over the memoized label artifact: two tiny
    // label-frame aggs, corpus never rescanned.
    "dedup_cluster_stats" -> ((s: SparkSession, d: String) =>
      clusterLabels(s, d)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"),
          sum(col("sz") - 1L).as("n_removed"))
        .orderBy(col("cluster_size"))),

    // APPLY the dedup decision: the surviving corpus after near-dup
    // clustering — each cluster keeps its min-id doc, unclustered docs
    // pass through. This is the op a pipeline actually runs (pairs and
    // clusters are diagnostics); one anti-join on the corpus key, cost
    // O(cluster members), composable with any pair source.
    "dedup_apply" -> ((s: SparkSession, d: String) => {
      val removed = clusterLabels(s, d)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      t(s, d, "documents").join(removed, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // embedding-cosine near-dup: IVF multiprobe candidates (each side's
    // top-2 trained cells probed against home assignments — candidate
    // volume LINEAR in the corpus because cells scale with n; see
    // [[embCandPairsIvf]]), then the exact quantized cosine ≥ 0.45
    // residual pushed below the pair fold. Equi-joins only — no
    // CartesianProduct/BNLJ anywhere in the plan (pinned in DedupSpec).
    // The oracle encodes the identical ranked-assignment + probe
    // semantics, and `dedup_embedding_recall` MEASURES pair recall at
    // nprobe 1/2/3 against exact slice truth.
    "dedup_embedding_cosine" -> ((s: SparkSession, d: String) =>
      embCandPairsIvf(s, d, maxProbe = EmbNProbe, sliceMax = None,
        minCos = Some(0.45))
        .select(col("i"), col("j"), col("cos"))
        .orderBy(col("i"), col("j"))),

    // multiprobe recall calibration — the measurement behind the
    // operator's recall claim: on the calibration slice (vec_id < 500
    // — the bounded all-pairs instrument, like dedup_lsh_scurve's),
    // run the REAL candidate generator (full-corpus cell artifact,
    // slice-restricted sides) at nprobe 1/2/3 and report candidate
    // volume and pair recall against exact slice truth at two cosine
    // thresholds (the operator's 0.45 + a looser 0.35 for statistical
    // mass). Truth is the exact 500-row broadcast all-pairs — the one
    // permitted BNLJ, a bounded instrument like sim_recall_bucketed's.
    // This is the number a deployment reads before choosing nprobe.
    "dedup_embedding_recall" -> ((s: SparkSession, d: String) => {
      val sliceMax = 500L
      val cand = embCandPairsIvf(s, d,
        maxProbe = Similarity.IvfMaxProbe, sliceMax = Some(sliceMax),
        minCos = None)
      val sl = qEmb(s, d).filter(col("vec_id") < sliceMax)
      val a = sl.select(col("vec_id").as("ia"), col("q").as("qa"),
        col("n2").as("na2"))
      val b = sl.select(col("vec_id").as("jb"), col("q").as("qb"),
        col("n2").as("nb2"))
      val allp = broadcast(a).join(b, col("ia") < col("jb"))
        .select(col("ia").as("i"), col("jb").as("j"),
          qcos(idot(col("qa"), col("qb")), col("na2"), col("nb2"))
            .as("cos"))
      val perWidth = allp
        .join(cand.select(col("i"), col("j"), col("w")), Seq("i", "j"),
          "left")
        .select(col("cos"), col("w"),
          explode(array((1 to Similarity.IvfMaxProbe).map(x =>
            lit(x.toLong)): _*)).as("nprobe"))
      perWidth.groupBy(col("nprobe"))
        .agg(
          coalesce(sum(when(col("w") <= col("nprobe"), 1L)), lit(0L))
            .as("n_candidates"),
          coalesce(sum(when(col("cos") >= 0.35, 1L)), lit(0L)).as("t35"),
          coalesce(sum(when(col("cos") >= 0.45, 1L)), lit(0L)).as("t45"),
          coalesce(sum(when(col("w") <= col("nprobe") &&
            col("cos") >= 0.35, 1L)), lit(0L)).as("h35"),
          coalesce(sum(when(col("w") <= col("nprobe") &&
            col("cos") >= 0.45, 1L)), lit(0L)).as("h45"))
        .select(col("nprobe"), col("n_candidates"),
          explode(array(
            struct(lit(0.35).as("cos_min"), col("h35").as("n_hits"),
              col("t35").as("n_true")),
            struct(lit(0.45).as("cos_min"), col("h45").as("n_hits"),
              col("t45").as("n_true")))).as("r"))
        .select(col("nprobe"), col("r.cos_min").as("cos_min"),
          col("n_candidates"), col("r.n_true").as("n_true"),
          col("r.n_hits").as("n_hits"),
          when(col("r.n_true") > 0,
            XF.r6(col("r.n_hits").cast(DoubleType) /
              col("r.n_true").cast(DoubleType)))
            .otherwise(lit(0.0)).as("pair_recall"))
        .orderBy(col("cos_min"), col("nprobe"))
    }),

    // DUPLICATE-SUBSTRING SPANS — the exact-substring complement to the
    // document-level near-dup family (Lee et al., "Deduplicating
    // Training Data Makes Language Models Better", ACL'22: remove any
    // substring of ≥ K tokens that occurs twice anywhere in the corpus).
    // The suffix-array of the paper is a single-machine structure; the
    // distributed equivalent used here is POSITIONAL K-GRAMS: a
    // duplicated span of length ≥ K contains a duplicated K-gram at
    // every start offset, so (1) hash every K-token window (one
    // per-row array pass over the token array — no self-join, no
    // window function), (2) one hash-groupBy finds K-grams with
    // global occurrence ≥ 2 (map-side partials collapse the unique
    // mass — the overwhelming majority — before the shuffle), (3) an
    // equi-join marks the duplicated start positions, and (4) a
    // PER-DOCUMENT gaps-and-islands window (partitioned by doc_id —
    // bounded by document length, never corpus-sized) merges starts
    // within K of each other into maximal duplicated spans. At 100 TB
    // every stage is a narrow scan or a keyed shuffle; the dup-hash
    // table is duplicate-density-sized and Bloom/AQE-prunable on the
    // join back.
    "dedup_dup_spans" -> ((s: SparkSession, d: String) => {
      val dp = dupKgramStarts(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      dp
        .withColumn("prev", lag(col("pos"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("pos") - col("prev") > SpanK, 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("brk")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("span_start"),
          (max(col("pos")) + (SpanK - 1)).as("span_end"),
          count(lit(1)).as("n_dup_kgrams"))
        .withColumn("span_tokens",
          col("span_end") - col("span_start") + 1)
        .select(col("doc_id"), col("span_start"), col("span_end"),
          col("span_tokens"), col("n_dup_kgrams"))
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // DUPLICATE-SUBSTRING REMOVAL — the apply step of the span finder:
    // every token covered by ANY duplicated K-gram window is cut, the
    // survivors re-concatenate in order, and the readout is the
    // per-document removal accounting plus the md5 fingerprint of the
    // cleaned text (the value a downstream exact-dedup pass would key
    // on). Coverage positions come from exploding each duplicated
    // start to its K offsets + distinct (≤ K× the duplicated-start
    // frame, far below token count). ONLY documents that actually
    // carry duplicated coverage pay the token explode + collect
    // shuffle: the token frame is LEFT-SEMI pruned against the
    // coverage doc set before the posexplode, so at 100 TB the
    // reconstruction shuffle is duplicate-dense-sized, not
    // corpus-sized; every untouched document's clean_md5 is emitted
    // MAP-SIDE from the same split (the fallback rejoins the token
    // array with single spaces — identical to the survivors'
    // concat_ws derivation, so the fingerprint matches whatever the
    // original whitespace was).
    "dedup_span_removal" -> ((s: SparkSession, d: String) => {
      // read 3× below (doc set, anti-join, per-doc counts) — the
      // explode+distinct shuffle runs once, not per consumer
      val cover = dupKgramStarts(s, d)
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (SpanK - 1)))
            .as("cpos"))
        .distinct()
        .localCheckpoint()
      val coverDocs = cover.select(col("doc_id")).distinct()
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      val toks = docs
        .join(coverDocs, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), posexplode(split(col("text"), " "))
          .as(Seq("p0", "w")))
        .select(col("doc_id"), (col("p0") + 1).cast(LongType).as("cpos"),
          col("w"))
      val clean = toks
        .join(cover, Seq("doc_id", "cpos"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("cpos"), col("w")))),
          x => x.getField("w"))).as("clean_text"))
      val dupN = cover.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("dup_tokens"))
      // dup_tokens IS NULL ⟺ the doc never entered the pruned token
      // frame → its clean text is the full token rejoin, computed
      // map-side here; a covered doc with zero survivors (clean_text
      // null after the left join) hashes the empty string.
      docs
        .join(dupN, Seq("doc_id"), "left")
        .join(clean, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          XF.r6(coalesce(col("dup_tokens"), lit(0L)).cast(DoubleType) /
            col("n_tokens").cast(DoubleType)).as("dup_fraction"),
          md5(when(col("dup_tokens").isNull,
              concat_ws(" ", split(col("text"), " ")))
            .otherwise(coalesce(col("clean_text"), lit(""))))
            .as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // INCREMENTAL SUBSTRING DEDUP — the continuous-crawl form of the
    // span finder (same batch convention as `dedup_incremental`:
    // doc_id % 5 == 4 is the new batch): the new batch's K-gram
    // positions probe the CORPUS K-gram index with one left-semi
    // equi-join — a corpus k-gram occurring ONCE already makes a batch
    // span a duplicate of existing content, so the index is the
    // distinct corpus hash set, and the corpus is never rescanned per
    // batch (at 100 TB: a stored index the nightly batch joins,
    // Bloom-prunable). The readout is per-new-doc coverage accounting
    // plus the ≥50% flag a crawl pipeline gates on.
    "dedup_span_incremental" -> ((s: SparkSession, d: String) => {
      val kg = posKgrams(s, d)
      val isNew = pmod(col("doc_id"), lit(5)) === 4
      // ONE corpus-index definition shared with the streaming probe
      // (stream_span_probe) — the two forms cannot drift
      val corpusIdx = corpusKgramIndex(s, d)
      val covered = kg.filter(isNew)
        .join(corpusIdx, Seq("kh"), "left_semi")
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (SpanK - 1)))
            .as("cpos"))
        .distinct()
      val dupN = covered.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("dup"))
      val frac = coalesce(col("dup"), lit(0L)).cast(DoubleType) /
        col("n_tokens").cast(DoubleType)
      t(s, d, "documents").filter(isNew)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
        .join(dupN, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("dup"), lit(0L)).as("corpus_dup_tokens"),
          XF.r6(frac).as("dup_fraction"),
          (frac >= 0.5).as("flag_near_dup"))
        .orderBy(col("doc_id"))
    })
  )

  // ---- duplicate-substring machinery ----------------------------------

  /** Span window width in tokens (the Lee et al. paper uses 50 BPE
    * tokens at web scale; 8 keeps the testdata's duplicate structure
    * visible — the plan is width-independent).
    */
  private[graft] val SpanK = 8

  /** 60-bit md5-prefix hash both engines compute identically (the
    * [[shingleSql]] device widened to 15 hex digits: birthday-safe for
    * corpus-scale K-gram counts, still inside signed-long range for
    * DuckDB's hex cast).
    */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)
  private def h60Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** Mode-agnostic positional K-gram builder over a (doc_id, text)
    * frame: (doc_id, n_tokens, pos, kh). Pure narrow expressions (no
    * join, no window, no state), so the SAME code runs on a batch
    * frame AND a readStream/MemoryStream frame — shared by the batch
    * memo below and the streaming crawl probe
    * ([[graft.streaming.Streams.spanProbe]]), so the two paths cannot
    * drift.
    */
  private[graft] def kgramsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= SpanK)
      .select(col("doc_id"),
        size(col("ws")).cast(LongType).as("n_tokens"),
        posexplode(transform(
          sequence(lit(0), size(col("ws")) - SpanK),
          i => h60(concat_ws(" ", slice(col("ws"), i + 1, lit(SpanK))))))
        .as(Seq("p0", "kh")))
      .select(col("doc_id"), col("n_tokens"),
        (col("p0") + 1).cast(LongType).as("pos"), col("kh"))

  /** Positional K-gram hashes (doc_id, pos, kh) — THE written K-gram
    * table of the substring-dedup family: the dup-hash groupBy, the
    * position join back, and the incremental new-batch probe all read
    * this one materialized frame (at 100 TB a stored table, like the
    * shingle index).
    */
  private val posKgrams = Artifact("dedup", "pos_kgrams") { (s, d) =>
    // spread before the k-gram explode (the codec-stage rule — see
    // shingleDf)
    ckptSized(s, d, kgramsOf(t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism))
      .select(col("doc_id"), col("pos"), col("kh")))
  }

  /** The distinct corpus K-gram hash set — the stored index a
    * continuous crawl probes (the static side of the streaming span
    * probe; batch convention: doc_id % 5 == 4 is the new batch, the
    * rest is corpus).
    */
  private[graft] def corpusKgramIndex(s: SparkSession, d: String)
      : DataFrame =
    posKgrams(s, d).filter(pmod(col("doc_id"), lit(5)) =!= 4)
      .select(col("kh")).distinct()

  /** Start positions (1-based, long) of every K-gram whose hash occurs
    * ≥ 2 times corpus-wide — the shared frame behind both
    * duplicate-substring queries. One narrow pass builds the positional
    * K-gram hashes from each row's token array (`transform` over the
    * valid start indices + `posexplode` — no join, no window); one
    * hash-groupBy isolates the duplicated hashes; one equi-join marks
    * the positions.
    */
  private val dupKgramStarts = Artifact("dedup", "dup_kgram_starts") {
    (s, d) =>
      val kg = posKgrams(s, d)
      val dup = kg.groupBy(col("kh")).agg(count(lit(1)).as("nocc"))
        .filter(col("nocc") >= 2L)
        .select(col("kh"))
      // the duplicated-starts frame itself is duplicate-density-sized
      // and feeds both span queries — memoized + checkpointed
      kg.join(dup, Seq("kh")).select(col("doc_id"), col("pos"))
        .localCheckpoint()
  }

  /** DuckDB twin of [[dupKgramStarts]] as CTE bodies ending in
    * `dp(doc_id, pos)`.
    */
  private[graft] val dupStartsCteSql: String =
    s"""tkk AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
       |kg AS (SELECT doc_id, i AS pos,
       |         ${h60Sql(s"array_to_string(ws[i:i+${SpanK - 1}], ' ')")} AS kh
       |       FROM tkk, unnest(range(1, len(ws) - ${SpanK - 2})) t(i)
       |       WHERE len(ws) >= $SpanK),
       |dup AS (SELECT kh FROM kg GROUP BY kh HAVING COUNT(*) >= 2),
       |dp AS (SELECT doc_id, pos FROM kg JOIN dup USING (kh))""".stripMargin

  /** Multiprobe width of `dedup_embedding_cosine`: each vector's top-2
    * IVF cells are probed against home assignments. The width is a
    * recall knob (`dedup_embedding_recall` measures 1/2/3; 0.86 pair
    * recall at the cos ≥ 0.45 threshold on the sf0.01 slice at width
    * 2, 1.00 at width 3); 2 is the committed operating point.
    */
  private[graft] val EmbNProbe = 2

  /** IVF multiprobe candidate pairs with per-pair minimal probe width:
    * (i < j, w, cos) where {i,j} is a candidate at probe width
    * `nprobe ≥ w` — i.e. w = the smallest rank at which one side's
    * probe list reaches the OTHER side's home cell (standard IVF
    * multiprobe, symmetric: either direction qualifies). Built from the
    * TRAINED cell artifact ([[Similarity.ivfCellsRanked]] — cells scale
    * with the corpus, occupancy ~100 regardless of n), so candidate
    * volume is LINEAR in the corpus; the round-≤9 fixed 16-cell sign
    * quantizer made it n²/32 (77× the sweep-median scale ratio at sf1 —
    * the round-9 verdict's #1). Generation is one cell equi-join
    * (probe side rank ≤ maxProbe, home side rank 1); the symmetric
    * double-generation folds in the (i,j) groupBy, where cos is
    * bit-identical from either direction (integer dot, IEEE divide) so
    * max(cos) is a no-op canonicalization. `minCos` pushes the residual
    * threshold BELOW the fold for the operator path (the calibration
    * passes None — it counts raw candidates); `sliceMax` restricts both
    * sides to the calibration slice while keeping the FULL-corpus cell
    * artifact (the calibration measures the deployed index, not a
    * slice-trained toy).
    */
  private[graft] def embCandPairsIvf(s: SparkSession, d: String,
      maxProbe: Int, sliceMax: Option[Long],
      minCos: Option[Double]): DataFrame = {
    require(maxProbe >= 1 && maxProbe <= Similarity.IvfMaxProbe,
      s"maxProbe must be in [1,${Similarity.IvfMaxProbe}], got $maxProbe")
    val ranked = Similarity.ivfCellsRanked(s, d)
      .filter(col("prank") <= maxProbe)
    val e = sliceMax.fold(qEmb(s, d))(m =>
      qEmb(s, d).filter(col("vec_id") < m))
    val probes = e.join(ranked, Seq("vec_id"))
      .select(col("vec_id").as("pa"), col("q").as("qa"),
        col("n2").as("na2"), col("cell"), col("prank"))
    val homes = e.join(ranked.filter(col("prank") === 1L), Seq("vec_id"))
      .select(col("vec_id").as("pb"), col("q").as("qb"),
        col("n2").as("nb2"), col("cell"))
    val scored = probes.join(homes, Seq("cell"))
      .filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("i"),
        greatest(col("pa"), col("pb")).as("j"), col("prank"),
        qcos(idot(col("qa"), col("qb")), col("na2"), col("nb2"))
          .as("cos"))
    minCos.fold(scored)(t => scored.filter(col("cos") >= t))
      .groupBy(col("i"), col("j"))
      .agg(min(col("prank")).as("w"), max(col("cos")).as("cos"))
  }

  /** Recursive-CTE connected components of the simhash pair graph,
    * ending in `cl(doc_id, cluster_id)` — shared by the `dedup_clusters`
    * and `dedup_apply` oracles (requires WITH RECURSIVE).
    */
  private val clustersCteSql: String =
    s"""$simhashPairsCteSql,
       |sym AS (SELECT i AS src, j AS dst FROM shp
       |        UNION ALL SELECT j, i FROM shp),
       |nodes AS (SELECT DISTINCT src AS node FROM sym),
       |lbl(node, l) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT s.dst, lbl.l FROM lbl JOIN sym s ON s.src = lbl.node
       |  WHERE lbl.l < s.dst),
       |cl AS (
       |  SELECT node AS doc_id, MIN(l) AS cluster_id
       |  FROM lbl GROUP BY node)""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "dedup_exact" ->
      s"""SELECT MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
         |FROM documents GROUP BY md5(text) ORDER BY kept_doc_id""".stripMargin,

    "dedup_canonical" ->
      s"""SELECT MIN(doc_id) AS kept_doc_id, COUNT(*) AS group_n
         |FROM documents
         |GROUP BY ${XF.h32Sql("array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')")}
         |ORDER BY kept_doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $jaccardPairsSql
         |SELECT i, j, jac FROM jac WHERE jac >= CAST(0.8 AS DOUBLE)
         |ORDER BY i, j""".stripMargin,

    // oracle: plain inverted-index self-join (both directions), exact
    // containment — the Spark prefix filter is exact, so results match.
    "dedup_containment" ->
      s"""WITH sh AS ($shingleSql),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |jp AS (
         |  SELECT a.doc_id i, b.doc_id j, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT i AS contained, j AS container,
         |  CAST(inter AS DOUBLE) / CAST(x.n AS DOUBLE) AS containment
         |FROM jp JOIN sz x ON x.doc_id = i
         |WHERE CAST(inter AS DOUBLE) / CAST(x.n AS DOUBLE) >= CAST(0.9 AS DOUBLE)
         |ORDER BY contained, container""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $jaccardPairsSql,
         |$minhashBandsSql,
         |cand AS (
         |  SELECT DISTINCT a.doc_id i, b.doc_id j
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
         |SELECT jac.i, jac.j, jac.jac
         |FROM jac JOIN cand ON jac.i = cand.i AND jac.j = cand.j
         |WHERE jac.jac >= CAST(0.7 AS DOUBLE)
         |ORDER BY jac.i, jac.j""".stripMargin,

    "dedup_lsh_scurve" -> {
      val bandHit = (0 until Bands).map { bd =>
        (0 until Rows).map(r => s"a.m${bd * Rows + r} = b.m${bd * Rows + r}")
          .mkString("(", " AND ", ")")
      }.mkString(" OR ")
      // expression order mirrors the Spark side: left-assoc j^Rows and
      // (1 − j^Rows)^Bands products derived from the same constants
      val jr = (1 to Rows).map(_ => "jac").mkString(" * ")
      val t1 = s"(1.0 - ($jr))"
      val p = s"(1.0 - ${(1 to Bands).map(_ => t1).mkString(" * ")})"
      s"""WITH sh AS (SELECT * FROM ($shingleSql) t0 WHERE doc_id < 100),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |jp AS (SELECT a.doc_id i, b.doc_id j, COUNT(*) AS inter
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |allp AS (SELECT x.doc_id i, y.doc_id j,
         |           COALESCE(jp.inter, 0) AS inter, x.n AS ni, y.n AS nj
         |         FROM sz x JOIN sz y ON x.doc_id < y.doc_id
         |         LEFT JOIN jp ON jp.i = x.doc_id AND jp.j = y.doc_id),
         |jacs AS (SELECT i, j, CAST(inter AS DOUBLE) /
         |           CAST(ni + nj - inter AS DOUBLE) AS jac FROM allp),
         |$minhashBandsSql,
         |obs AS (SELECT jacs.i, jacs.j, jacs.jac,
         |          ($bandHit) AS cand
         |        FROM jacs JOIN mh a ON a.doc_id = jacs.i
         |        JOIN mh b ON b.doc_id = jacs.j)
         |SELECT CAST(LEAST(FLOOR(jac * 10), 9) AS BIGINT) AS decile,
         |  COUNT(*) AS n_pairs,
         |  CAST(SUM(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_candidates,
         |  ROUND(CAST(SUM(CASE WHEN cand THEN 1 ELSE 0 END) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE), 6) AS observed_rate,
         |  ROUND(CAST(SUM(CAST($p AS DECIMAL(28,6))) AS DOUBLE) /
         |    COUNT(*), 6) AS predicted_rate
         |FROM obs GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "dedup_minhash_estimate" -> {
      val matchSum = (0 until K).map(k =>
        s"(CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $jaccardPairsSql,
         |$minhashBandsSql,
         |cand AS (
         |  SELECT DISTINCT a.doc_id i, b.doc_id j
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |est AS (
         |  SELECT c.i, c.j, CAST($matchSum AS BIGINT) AS n_match
         |  FROM cand c JOIN mh a ON a.doc_id = c.i
         |  JOIN mh b ON b.doc_id = c.j)
         |SELECT e.i, e.j, e.n_match,
         |  ROUND(CAST(n_match AS DOUBLE) / CAST($K AS DOUBLE), 6)
         |    AS est_jac,
         |  ROUND(COALESCE(jac.jac, CAST(0 AS DOUBLE)), 6) AS exact_jac,
         |  ROUND(abs(CAST(n_match AS DOUBLE) / CAST($K AS DOUBLE) -
         |    COALESCE(jac.jac, CAST(0 AS DOUBLE))), 6) AS abs_err
         |FROM est e LEFT JOIN jac ON jac.i = e.i AND jac.j = e.j
         |ORDER BY e.i, e.j""".stripMargin
    },

    "dedup_incremental" ->
      s"""WITH sh AS ($shingleSql),
         |$minhashBandsSql,
         |newkeys AS (
         |  SELECT doc_id, md5(text) AS key FROM documents WHERE doc_id % 5 = 4),
         |corpuskeys AS (
         |  SELECT DISTINCT md5(text) AS key FROM documents WHERE doc_id % 5 <> 4),
         |exact AS (
         |  SELECT n.doc_id, (c.key IS NOT NULL) AS is_exact_dup
         |  FROM newkeys n LEFT JOIN corpuskeys c USING (key)),
         |corpusbands AS (
         |  SELECT DISTINCT band, sig FROM bands WHERE doc_id % 5 <> 4),
         |bandhits AS (
         |  SELECT b.doc_id, COUNT(c.band) > 0 AS is_band_candidate
         |  FROM bands b LEFT JOIN corpusbands c
         |    ON b.band = c.band AND b.sig = c.sig
         |  WHERE b.doc_id % 5 = 4 GROUP BY b.doc_id)
         |SELECT e.doc_id, e.is_exact_dup,
         |  COALESCE(h.is_band_candidate, FALSE) AS is_band_candidate
         |FROM exact e LEFT JOIN bandhits h USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $simhashSql
         |SELECT doc_id, simhash FROM simh ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH $simhashPairsCteSql
         |SELECT i, j, hamming FROM shp ORDER BY i, j""".stripMargin,

    // connected components of the simhash pair graph: label propagation as
    // a recursive CTE — a node reaches label l if a symmetric edge connects
    // it to a node holding l; MIN over reached labels = component minimum
    // (the same fixpoint the Spark loop converges to).
    "dedup_clusters" ->
      s"""WITH RECURSIVE $clustersCteSql
         |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin,

    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $clustersCteSql,
         |szs AS (SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY 1)
         |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
         |  CAST(SUM(sz) AS BIGINT) AS n_docs,
         |  CAST(SUM(sz - 1) AS BIGINT) AS n_removed
         |FROM szs GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_apply" ->
      s"""WITH RECURSIVE $clustersCteSql,
         |removed AS (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d LEFT JOIN removed r ON d.doc_id = r.doc_id
         |WHERE r.doc_id IS NULL
         |ORDER BY d.doc_id""".stripMargin,

    // the calibration's DuckDB twin replays the identical ranked IVF
    // assignment (full-corpus centroids, row_number over the shared
    // (ccos DESC, cvid) total order) and the symmetric probe fold
    // (min prank over both directions); truth is all slice pairs.
    "dedup_embedding_recall" -> {
      val cosVC = qcosSql(idotSql("v.q", "c.cq"), "v.n2", "c.ccn2")
      val cosAB = qcosSql(idotSql("a.q", "b.q"), "a.n2", "b.n2")
      s"""WITH $qEmbSql,
         |cents AS (SELECT vec_id AS cvid, q AS cq, n2 AS ccn2
         |          FROM qn WHERE vec_id % 100 = 0),
         |ranked AS (
         |  SELECT vec_id, cvid AS cell, arn AS prank FROM (
         |    SELECT v.vec_id, c.cvid,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY $cosVC DESC, c.cvid) AS arn
         |    FROM qn v CROSS JOIN cents c)
         |  WHERE arn <= ${Similarity.IvfMaxProbe}),
         |home AS (SELECT vec_id, cell FROM ranked
         |         WHERE prank = 1 AND vec_id < 500),
         |pr AS (
         |  SELECT least(a.vec_id, b.vec_id) AS i,
         |    greatest(a.vec_id, b.vec_id) AS j, MIN(a.prank) AS w
         |  FROM ranked a JOIN home b ON a.cell = b.cell
         |    AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 500
         |  GROUP BY 1, 2),
         |allp AS (
         |  SELECT a.vec_id AS i, b.vec_id AS j, $cosAB AS cos
         |  FROM qn a JOIN qn b ON a.vec_id < b.vec_id
         |  WHERE a.vec_id < 500 AND b.vec_id < 500),
         |w(nprobe) AS (VALUES (1), (2), (3)),
         |th(cos_min) AS (VALUES (CAST(0.35 AS DOUBLE)), (CAST(0.45 AS DOUBLE))),
         |agg AS (
         |  SELECT CAST(w.nprobe AS BIGINT) AS nprobe, th.cos_min,
         |    CAST(SUM(CASE WHEN p.w <= w.nprobe THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_candidates,
         |    CAST(SUM(CASE WHEN cos >= th.cos_min THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_true,
         |    CAST(SUM(CASE WHEN p.w <= w.nprobe
         |      AND cos >= th.cos_min THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM allp LEFT JOIN pr p ON p.i = allp.i AND p.j = allp.j
         |  CROSS JOIN w CROSS JOIN th GROUP BY 1, 2)
         |SELECT nprobe, cos_min, n_candidates, n_true, n_hits,
         |  CASE WHEN n_true > 0
         |    THEN ROUND(CAST(n_hits AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
         |    ELSE CAST(0 AS DOUBLE) END AS pair_recall
         |FROM agg ORDER BY cos_min, nprobe""".stripMargin
    },

    // identical IVF multiprobe semantics as the Spark query: ranked
    // assignment (top-$EmbNProbe cells per vector) probed against home
    // cells, symmetric directions folded by DISTINCT on the
    // canonicalized pair, exact cosine residual.
    "dedup_embedding_cosine" -> {
      val cosVC = qcosSql(idotSql("v.q", "c.cq"), "v.n2", "c.ccn2")
      val cosAB = qcosSql(idotSql("a.q", "b.q"), "a.n2", "b.n2")
      s"""WITH $qEmbSql,
         |cents AS (SELECT vec_id AS cvid, q AS cq, n2 AS ccn2
         |          FROM qn WHERE vec_id % 100 = 0),
         |ranked AS (
         |  SELECT vec_id, cvid AS cell, arn AS prank FROM (
         |    SELECT v.vec_id, c.cvid,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY $cosVC DESC, c.cvid) AS arn
         |    FROM qn v CROSS JOIN cents c)
         |  WHERE arn <= $EmbNProbe),
         |home AS (SELECT vec_id, cell FROM ranked WHERE prank = 1),
         |cand AS (
         |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS i,
         |    greatest(a.vec_id, b.vec_id) AS j
         |  FROM ranked a JOIN home b ON a.cell = b.cell
         |    AND a.vec_id <> b.vec_id)
         |SELECT c.i, c.j, $cosAB AS cos
         |FROM cand c JOIN qn a ON a.vec_id = c.i
         |  JOIN qn b ON b.vec_id = c.j
         |WHERE $cosAB >= CAST(0.45 AS DOUBLE)
         |ORDER BY i, j""".stripMargin
    },

    // gaps-and-islands over the duplicated K-gram starts — DuckDB's
    // window form of the Spark per-doc island merge.
    "dedup_dup_spans" ->
      s"""WITH $dupStartsCteSql,
         |isl AS (
         |  SELECT doc_id, pos,
         |    SUM(CASE WHEN prev IS NULL OR pos - prev > $SpanK
         |        THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM (SELECT doc_id, pos,
         |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |        FROM dp))
         |SELECT doc_id, MIN(pos) AS span_start,
         |  MAX(pos) + ${SpanK - 1} AS span_end,
         |  MAX(pos) + $SpanK - MIN(pos) AS span_tokens,
         |  COUNT(*) AS n_dup_kgrams
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,

    "dedup_span_removal" ->
      s"""WITH $dupStartsCteSql,
         |cov AS (SELECT DISTINCT doc_id, pos + i AS cpos
         |        FROM dp, unnest(range(0, $SpanK)) t(i)),
         |tok AS (SELECT doc_id, i AS cpos, ws[i] AS w
         |        FROM tkk, unnest(range(1, len(ws) + 1)) t(i)),
         |clean AS (
         |  SELECT t.doc_id,
         |    array_to_string(list(t.w ORDER BY t.cpos), ' ') AS clean_text
         |  FROM tok t LEFT JOIN cov c
         |    ON c.doc_id = t.doc_id AND c.cpos = t.cpos
         |  WHERE c.doc_id IS NULL GROUP BY t.doc_id),
         |dupn AS (SELECT doc_id, COUNT(*) AS dup_tokens
         |         FROM cov GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT)
         |    AS n_tokens,
         |  COALESCE(dup_tokens, 0) AS dup_tokens,
         |  ROUND(CAST(COALESCE(dup_tokens, 0) AS DOUBLE) /
         |    CAST(len(string_split(d.text, ' ')) AS DOUBLE), 6)
         |    AS dup_fraction,
         |  md5(COALESCE(clean_text, '')) AS clean_md5
         |FROM documents d
         |LEFT JOIN dupn ON dupn.doc_id = d.doc_id
         |LEFT JOIN clean ON clean.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "dedup_span_incremental" ->
      s"""WITH $dupStartsCteSql,
         |corpus AS (SELECT DISTINCT kh FROM kg WHERE doc_id % 5 <> 4),
         |bst AS (SELECT doc_id, pos FROM kg
         |        WHERE doc_id % 5 = 4
         |          AND kh IN (SELECT kh FROM corpus)),
         |cov AS (SELECT DISTINCT doc_id, pos + i AS cpos
         |        FROM bst, unnest(range(0, $SpanK)) t(i)),
         |dupn AS (SELECT doc_id, COUNT(*) AS dup FROM cov GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |  COALESCE(dup, 0) AS corpus_dup_tokens,
         |  ROUND(CAST(COALESCE(dup, 0) AS DOUBLE) /
         |    CAST(len(string_split(d.text, ' ')) AS DOUBLE), 6)
         |    AS dup_fraction,
         |  (CAST(COALESCE(dup, 0) AS DOUBLE) /
         |    CAST(len(string_split(d.text, ' ')) AS DOUBLE)) >= 0.5
         |    AS flag_near_dup
         |FROM documents d
         |LEFT JOIN dupn ON dupn.doc_id = d.doc_id
         |WHERE d.doc_id % 5 = 4
         |ORDER BY d.doc_id""".stripMargin
  )
}
