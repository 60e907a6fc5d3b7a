package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

class DedupSpec extends SparkSpec {

  test("minhash estimate covers all LSH candidates consistently") {
    val rows = SparkEntry.queries("dedup_minhash_estimate")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(rows.nonEmpty)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (pair, (nMatch, est, exact, err)) =>
      // a shared band pins its Rows row hashes equal
      assert(nMatch >= Dedup.Rows && nMatch <= Dedup.K, pair)
      assert(est === r6(nMatch.toDouble / Dedup.K), pair)
      // exact_jac in the output is itself rounded, so replaying err
      // from it can differ by one more half-ulp at the 1e-6 scale
      assert(math.abs(err -
        r6(math.abs(nMatch.toDouble / Dedup.K - exact))) <= 2e-6, pair)
    }
    // the confirmed LSH near-dups all appear with their exact jaccard
    val lsh = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    lsh.foreach { case (pair, jac) =>
      assert(rows.contains(pair), pair)
      assert(math.abs(rows(pair)._3 - jac) < 1e-6, pair)
    }
  }

  test("profileMinhash counts agree with the queries they instrument") {
    // the scale instrument's JSON must describe the REAL pipeline:
    // distinct_candidates is the LSH candidate frame the queries
    // verify, and survivors_070 is exactly dedup_minhash_lsh's output
    // row count (same corpus, same threshold) — a drifted instrument
    // would silently invalidate every BASELINE regime row it feeds
    val line = Dedup.profileMinhash(spark, sf)
    val m = """"([a-z_0-9]+)":(\d+)""".r
      .findAllMatchIn(line).map(x => x.group(1) -> x.group(2).toLong).toMap
    val lshRows = SparkEntry.queries("dedup_minhash_lsh")(spark, sf).count()
    assert(m("survivors_070") === lshRows, line)
    val estRows = SparkEntry.queries("dedup_minhash_estimate")(spark, sf)
      .count()
    assert(m("distinct_candidates") === estRows, line)
    // collision mass upper-bounds distinct candidates (pre-distinct
    // stream, each unordered pair counted once per shared bucket)
    assert(m("collision_mass") >= m("distinct_candidates"), line)
    assert(m("docs") > 0 && m("verify_mass") > 0, line)
  }

  test("signature kernels equal the groupBy min/sum formulation") {
    // the wide aggregates the per-document kernels replaced, kept here
    // only as the reference: explode the distinct shingle hashes, then
    // one groupBy(doc_id) of K mins and of 32 ±1 bit sums
    val edge = spark.createDataFrame(Seq[(Long, String)](
      -1L -> null,                  // null text
      -2L -> "two tokens",          // fewer than 3 tokens
      -3L -> "",                    // one empty token
      -4L -> "x y z x y z x y z",   // every shingle repeated
      -5L -> "a b c",               // exactly one shingle
      -6L -> "p  q"))               // empty middle token
      .toDF("doc_id", "text")
    val docs = graft.sources.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).union(edge)
    val sh = docs.select(col("doc_id"),
      graft.functions.ShingleHashes(col("text"), 3))
    val mins = (0 until Dedup.K).map(k =>
      min((col("s") * Dedup.mhA(k) + Dedup.mhB(k)) % Dedup.MinhashP)
        .as(s"m$k"))
    val oldSigs = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val newSigs = Dedup.docSigs(docs)
    val bitSums = (0 until Dedup.SimBits).map(b =>
      sum(when(shiftright(col("s"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b$b"))
    val oldSim = sh.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), (0 until Dedup.SimBits).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
    val newSim = docs.select(col("doc_id"),
      graft.functions.SimhashSig(col("text"), 3))
    assert(newSigs.columns.toSeq ===
      "doc_id" +: (0 until Dedup.K).map(k => s"m$k"))
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => r.getLong(0) ->
        (1 until r.length).map(r.getLong)).toMap
    val (o, n) = (rows(oldSigs), rows(newSigs))
    assert(n.size === docs.count() - 3, "one row per doc with >= 3 tokens")
    assert(n === o)
    assert(rows(newSim) === rows(oldSim))
    // the edge cases: no row under 3 tokens or for null text; repeats
    // fold to the distinct set (x y z / y z x / z x y)
    assert(Seq(-1L, -2L, -3L).forall(d => !n.contains(d)))
    assert(Seq(-4L, -5L, -6L).forall(n.contains))
    val reps = sh.filter(col("doc_id") === -4L).count()
    assert(reps === 3)
    assert(n(-4L) === o(-4L))
  }

  test("exact dedup is idempotent") {
    val once = graft.SparkEntry.queries("dedup_exact")(spark, sf)
    val kept = once.select(col("kept_doc_id"))
    // re-deduplicating the kept set yields the same set
    assert(kept.distinct().count() === kept.count())
    assert(once.agg(sum(col("n_copies"))).head().getLong(0) ===
      spark.read.parquet(s"$sf/documents.parquet").count())
  }

  test("canonical dedup groups are a refinement-superset of exact groups") {
    // every exact-duplicate pair is also a canonical-duplicate pair, so
    // the canonical grouping can only have fewer-or-equal groups.
    val exact = graft.SparkEntry.queries("dedup_exact")(spark, sf).count()
    val canon = graft.SparkEntry.queries("dedup_canonical")(spark, sf).count()
    assert(canon <= exact)
  }

  test("minhash LSH near-dup pairs are high-Jaccard and ⊆ exact-jaccard pairs") {
    val lsh = graft.SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.nonEmpty, "sf0.001 documents contain near-dups by construction")
    assert(lsh.forall(_._3 >= 0.7))
    // verification step computes true Jaccard: spot-check one pair by hand
    val (i, j, jac) = lsh.head
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id").isin(i, j))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    }
    def shingles(t: String): Set[Long] =
      t.split(" ").sliding(3).map(w => h32(w.mkString(" "))).toSet
    val (a, b) = (shingles(docs(i)), shingles(docs(j)))
    val expected = a.intersect(b).size.toDouble / a.union(b).size
    assert(math.abs(jac - expected) < 1e-12)
  }

  test("simhash near-dup pairs have Hamming distance <= 6") {
    val pairs = graft.SparkEntry.queries("dedup_simhash_pairs")(spark, sf)
      .collect()
    assert(pairs.forall(_.getInt(2) <= 6))
  }

  test("embedding cosine is bounded and symmetric-by-construction") {
    val cos = graft.SparkEntry.queries("dedup_embedding_cosine")(spark, sf)
      .select(col("cos")).collect().map(_.getDouble(0))
    assert(cos.forall(c => c >= -1.0000001 && c <= 1.0000001))
    assert(cos.forall(_ >= 0.45))
  }

  test("embedding cosine plans as a cell equi-join, never a cartesian") {
    val p = graft.SparkEntry.queries("dedup_embedding_cosine")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("multiprobe candidates emit each qualifying pair exactly once") {
    // the symmetric probe directions fold in the (i,j) groupBy — the
    // output must hold every surviving pair once, or the oracle's
    // DISTINCT-based twin would hash-diverge.
    val out = graft.SparkEntry.queries("dedup_embedding_cosine")(spark, sf)
      .groupBy(col("i"), col("j")).count()
    assert(out.filter(col("count") > 1).count() === 0)
  }

  test("postingPairs block decomposition emits the identical pair set") {
    import spark.implicits._
    // 7-posting bucket forces multi-block (bi < bj) rows at block=2/3;
    // block=16 is the single-block fast path; block=1 is all-cross-block.
    val buckets = Seq(
      ("k1", Seq(5L, 3L, 9L, 1L, 7L, 2L, 8L)),
      ("k2", Seq(4L, 6L, 0L)),
      ("k3", Seq(11L))).toDF("k", "ds")
    val expected = (for {
      (k, ds) <- Seq("k1" -> Seq(5L, 3L, 9L, 1L, 7L, 2L, 8L),
        "k2" -> Seq(4L, 6L, 0L), "k3" -> Seq(11L))
      x <- ds; y <- ds if x < y
    } yield (k, x, y)).toSet
    for (block <- Seq(1, 2, 3, 16)) {
      val got = Dedup.postingPairs(buckets, block)
        .select(col("k"), col("a"), col("b")).distinct()
        .as[(String, Long, Long)].collect().toSet
      assert(got === expected, s"block=$block")
    }
  }

  test("incremental dedup: exact dup implies band candidate; flags match brute force") {
    val rows = graft.SparkEntry.queries("dedup_incremental")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSeq
    assert(rows.nonEmpty)
    // an exact copy shares every shingle, hence every minhash band
    rows.filter(_._2).foreach { case (id, _, band) =>
      assert(band, s"doc $id exact dup but no band hit")
    }
    // brute-force the exact flag
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val corpus = texts.filter(_._1 % 5 != 4).map(_._2).toSet
    val expected = texts.filter(_._1 % 5 == 4)
      .map { case (id, t) => id -> corpus.contains(t) }.toMap
    rows.foreach { case (id, exact, _) => assert(exact === expected(id), s"doc $id") }
  }

  test("dedup_apply keeps exactly one doc per cluster plus all unclustered docs") {
    val clusters = graft.SparkEntry.queries("dedup_clusters")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val kept = graft.SparkEntry.queries("dedup_apply")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    // survivors = corpus minus non-min cluster members
    val removed = clusters.filter { case (id, cl) => id != cl }.map(_._1).toSet
    assert(kept.size.toLong === total - removed.size)
    assert(removed.forall(id => !kept.contains(id)))
    // every cluster's min member survives
    clusters.groupBy(_._2).foreach { case (cl, members) =>
      assert(kept.contains(members.map(_._1).min), s"cluster $cl")
    }
  }

  test("a cluster_labels build runs one action per round plus a constant") {
    // the label sum is observed by each round's checkpoint job, so a
    // round is one action (its adaptive query stages are jobs of that
    // action) and there is no separate convergence job. Measured on the
    // second build, after the first has built every memoized input.
    Dedup.propagateLabels(spark, sf)
    var rounds = 0
    val (jobs, actions) =
      jobsAndActionsDuring { rounds = Dedup.propagateLabels(spark, sf)._2 }
    // sf0.001: 2 rounds, 4 actions and 19 jobs; with a separate sum job
    // per round it was 7 actions (2 · rounds + 3) and 25 jobs
    assert(rounds > 0)
    assert(actions === rounds + 2, s"$jobs jobs")
  }

  test("ngram jaccard pairs equal the brute-force all-pairs answer") {
    import spark.implicits._
    val got = graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "sf0.001 documents contain near-dups by construction")
    val sets = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, text) =>
        id -> text.split(" ").sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
    val brute = for {
      (i, si) <- sets; (j, sj) <- sets
      if i < j
      jac = si.intersect(sj).size.toDouble / si.union(sj).size
      if jac >= 0.8
    } yield (i, j)
    assert(got.map(p => (p._1, p._2)).toSet === brute.toSet)
  }

  test("l2 candidate generators are exact on adversarial sizes and singletons") {
    // corpus stressing the l=2 edges: 1-shingle docs (can never form a
    // pair key — the singleton branch must catch identical ones),
    // 2-3-shingle docs (prefix = whole set), the containment branch
    // boundary ni in {24, 25, 26}, and a short doc 0.9-contained in a
    // long one (the cross-branch direction). Vocabulary is ~40 tokens so
    // shingle df is dense — the regime that broke the single-shingle
    // prefix at sf10.
    import spark.implicits._
    val words = (0 until 40).map(i => s"w$i")
    def doc(ids: Seq[Int]): String = ids.map(words).mkString(" ")
    val base = (0 until 30).toSeq
    val docs = Seq(
      1L -> doc(Seq(0, 1, 2)),              // 1 shingle
      2L -> doc(Seq(0, 1, 2)),              // identical 1-shingle twin
      3L -> doc(Seq(3, 4, 5)),              // different singleton
      4L -> doc(Seq(0, 1, 2, 3)),           // 2 shingles
      5L -> doc(Seq(0, 1, 2, 3)),           // identical 2-shingle twin
      6L -> doc(base),                      // 28 shingles (>= 25: branch L)
      7L -> doc(base :+ 30),                // 29 shingles, contains doc 6
      8L -> doc(base.take(26)),             // 24 shingles (< 25: branch S)
      9L -> doc(base.take(26) :+ 31),       // 25 shingles, contains doc 8
      10L -> doc(Seq(6, 7, 8, 9, 10, 11)),  // 4 shingles, contained in 11
      11L -> doc((6 to 14) ++ (20 to 29))   // long container of 10
    ) ++ (0 until 8).map(k =>               // filler with overlapping windows
      (20L + k) -> doc((k until k + 12) ++ Seq(35, 36, 37)))
    val dir = java.nio.file.Files.createTempDirectory("l2corpus").toString
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sets = docs.map { case (id, t) => id -> shingles(t) }
    val bruteJac = (for {
      (i, si) <- sets; (j, sj) <- sets
      if i < j
      jac = si.intersect(sj).size.toDouble / si.union(sj).size
      if jac >= 0.8
    } yield (i, j)).toSet
    val bruteCon = (for {
      (i, si) <- sets; (j, sj) <- sets
      if i != j
      if si.intersect(sj).size.toDouble / si.size >= 0.9
    } yield (i, j)).toSet
    assert(bruteJac.nonEmpty && bruteCon.nonEmpty,
      "fixture must exercise both answers")
    assert(bruteCon.exists { case (i, _) => sets.toMap.apply(i).size < 25 },
      "fixture must exercise the small-doc containment branch")
    assert(bruteCon.exists { case (i, _) => sets.toMap.apply(i).size >= 25 },
      "fixture must exercise the l=2 containment branch")
    val gotJac = graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotCon = graft.SparkEntry.queries("dedup_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotJac === bruteJac)
    assert(gotCon === bruteCon)
  }

  test("containment pairs are exact and include low-Jaccard subset dups") {
    import spark.implicits._
    val got = graft.SparkEntry.queries("dedup_containment")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    assert(got.forall(_._3 >= 0.9))
    // brute-force oracle over the same shingle sets
    val sets = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, text) =>
        val ws = text.split(" ")
        id -> ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
    val brute = for {
      (i, si) <- sets; (j, sj) <- sets
      if i != j
      inter = si.intersect(sj).size
      if inter.toDouble / si.size >= 0.9
    } yield (i, j)
    assert(got.map(p => (p._1, p._2)).toSet === brute.toSet)
    // containment dominates Jaccard on every pair (|A∩B|/|A| ≥
    // |A∩B|/|A∪B|) — the reason it catches excerpt-in-page dups whose
    // Jaccard sits below any usable threshold.
    val bySet = sets.toMap
    got.foreach { case (i, j, c) =>
      val (si, sj) = (bySet(i), bySet(j))
      val jac = si.intersect(sj).size.toDouble / si.union(sj).size
      assert(c >= jac - 1e-12, s"pair ($i,$j): containment $c < jaccard $jac")
    }
  }

  test("IVF probe generator == closed-form min-rank predicate at every width") {
    import graft.ops.{Dedup, Similarity}
    // ground truth: per-pair minimal probe width from an exact JVM loop
    // over a small slice of the FULL-corpus ranked cell artifact —
    // pair {i,j} is a width-w candidate iff home(j) sits in i's top-w
    // cells or home(i) in j's (the symmetric IVF multiprobe predicate
    // the oracle SQL also encodes)
    val sliceMax = 60L
    val ranked = Similarity.ivfCellsRanked(spark, sf)
      .filter(col("vec_id") < sliceMax).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cells: Map[Long, Seq[Long]] = ranked.groupBy(_._1).map {
      case (v, rows) => v -> rows.sortBy(_._3).map(_._2).toSeq
    }
    def minW(i: Long, j: Long): Option[Int] = {
      val a = cells(i).indexOf(cells(j).head)
      val b = cells(j).indexOf(cells(i).head)
      val w = Seq(a, b).filter(_ >= 0).map(_ + 1)
      if (w.isEmpty) None else Some(w.min)
    }
    val ids = cells.keys.toSeq.sorted
    val wantByPair = (for {
      i <- ids; j <- ids if i < j; w <- minW(i, j)
    } yield ((i, j), w))
    (1 to Similarity.IvfMaxProbe).foreach { w =>
      val got = Dedup.embCandPairsIvf(spark, sf, w, Some(sliceMax), None)
        .select(col("i"), col("j"), col("w")).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = wantByPair.filter(_._2 <= w).toMap
      assert(got.keySet === want.keySet, s"width $w")
      // and the reported minimal width matches the JVM fold
      got.foreach { case (p, gw) => assert(gw === want(p).toLong, p) }
    }
  }

  test("recall calibration plans equi-joins only, even at full width") {
    val p = graft.SparkEntry.queries("dedup_embedding_recall")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin")
      || "BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, // scalar truth attach
      p.take(1500))
  }

  test("quantized cosine tracks float cosine within quantization error") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cosF(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) {
        d += a(k).toDouble * b(k); na += a(k).toDouble * a(k)
        nb += b(k).toDouble * b(k)
      }
      d / math.sqrt(na * nb)
    }
    val fl = cosF(e(0)._2, e(1)._2)
    val q = graft.SparkEntry.queries("sim_pair_matrix")(spark, sf)
      .filter(col("i") === e(0)._1 && col("j") === e(1)._1)
      .head().getDouble(2)
    assert(math.abs(fl - q) < 1e-4, s"float $fl vs quantized $q")
  }

  // ---- duplicate-substring spans --------------------------------------

  private val SpanK = 8

  /** Brute-force duplicated K-gram start positions per doc (1-based),
    * counting occurrences of the raw K-gram STRINGS — hash-free, so a
    * divergence would also expose an h60 collision.
    */
  private def bruteDupStarts: Map[Long, Seq[Long]] = {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val kgrams = toks.toSeq.flatMap { case (id, ws) =>
      (0 to ws.length - SpanK).map(i =>
        (id, (i + 1).toLong, ws.slice(i, i + SpanK).mkString(" ")))
    }
    val occ = kgrams.groupBy(_._3).map { case (g, xs) => g -> xs.size }
    kgrams.filter(t => occ(t._3) >= 2)
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sorted }
  }

  test("dup spans match a brute-force island merge of duplicated 8-grams") {
    val expected = bruteDupStarts.toSeq.flatMap { case (id, ps) =>
      // islands: split where the gap between duplicated starts exceeds K
      val islands = ps.tail.foldLeft(List(List(ps.head))) { (acc, p) =>
        if (p - acc.head.head <= SpanK) (p :: acc.head) :: acc.tail
        else List(p) :: acc
      }.map(_.reverse).reverse
      islands.map(is =>
        (id, is.head, is.last + SpanK - 1, is.last + SpanK - is.head,
          is.size.toLong))
    }.sortBy(t => (t._1, t._2))
    val got = graft.SparkEntry.queries("dedup_dup_spans")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    assert(got.nonEmpty, "sf0.001 contains duplicated passages by construction")
  }

  test("span removal accounting and cleaned-text fingerprints are exact") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val cover = bruteDupStarts.map { case (id, ps) =>
      id -> ps.flatMap(p => p until p + SpanK).toSet
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = graft.SparkEntry.queries("dedup_span_removal")(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4))))
      .toMap
    assert(got.keySet === toks.keySet) // every doc reported, dup or not
    toks.foreach { case (id, ws) =>
      val cov = cover.getOrElse(id, Set.empty[Long])
      val clean = ws.zipWithIndex
        .collect { case (w, i) if !cov.contains(i + 1L) => w }
        .mkString(" ")
      val (nTok, dupTok, frac, fp) = got(id)
      assert(nTok === ws.length.toLong, s"doc $id n_tokens")
      assert(dupTok === cov.size.toLong, s"doc $id dup_tokens")
      assert(math.abs(frac - cov.size.toDouble / ws.length) < 1e-6)
      assert(fp === md5hex(clean), s"doc $id cleaned fingerprint")
    }
  }

  test("incremental span dedup flags new-batch overlap with the corpus") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    def kgrams(ws: Array[String]): Seq[(Long, String)] =
      (0 to ws.length - SpanK).map(i =>
        ((i + 1).toLong, ws.slice(i, i + SpanK).mkString(" ")))
    val corpusSet = toks.filter(_._1 % 5 != 4).values
      .flatMap(ws => kgrams(ws).map(_._2)).toSet
    val got = graft.SparkEntry.queries("dedup_span_incremental")(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    val newDocs = toks.filter(_._1 % 5 == 4)
    assert(got.keySet === newDocs.keySet)
    newDocs.foreach { case (id, ws) =>
      val cov = kgrams(ws).filter(t => corpusSet.contains(t._2))
        .flatMap { case (p, _) => p until p + SpanK }.toSet
      val (nTok, dupTok, frac, flag) = got(id)
      assert(nTok === ws.length.toLong, s"doc $id n_tokens")
      assert(dupTok === cov.size.toLong, s"doc $id corpus_dup_tokens")
      assert(math.abs(frac - cov.size.toDouble / ws.length) < 1e-6)
      assert(flag === (cov.size.toDouble / ws.length >= 0.5), s"doc $id flag")
    }
    // the testdata's near-dup construction guarantees some overlap
    assert(got.values.exists(_._2 > 0))
  }

  // structural plan walks need AQE off: with it on, executedPlan is an
  // AdaptiveSparkPlanExec leaf and collect() sees no inner nodes
  private def noAqePlan(name: String)
      : org.apache.spark.sql.execution.SparkPlan = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try graft.SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dup-span plan: no self-join of the corpus, no cartesian") {
    val plan = noAqePlan("dedup_dup_spans")
    val p = plan.toString
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // every window is the per-doc island merge — assert on the
    // WindowExec NODES' partition specs (a string pin on "doc_id" is
    // vacuous: the plan always contains that substring somewhere)
    import org.apache.spark.sql.execution.window.WindowExec
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the island-merge window")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty &&
        w.partitionSpec.exists(_.references.exists(_.name == "doc_id")),
        s"window not partitioned by doc_id:\n$w")
    }
  }

  test("span-removal plan: token reconstruction is semi-join-pruned") {
    val plan = noAqePlan("dedup_span_removal")
    // the posexplode Generate (the full-token blowup) must sit ABOVE a
    // left-semi join against the coverage doc set — only
    // duplicate-bearing documents pay the explode + collect shuffle
    import org.apache.spark.sql.execution.GenerateExec
    val gens = plan.collect { case g: GenerateExec => g }
    assert(gens.nonEmpty, "expected the token posexplode")
    gens.foreach { g =>
      assert(g.toString.contains("LeftSemi"),
        s"token explode not semi-join-pruned:\n${g.toString.take(1200)}")
    }
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("memo storage regime boundary: the shipped corpora sit on the " +
      "committed side of the in-heap / DISK_ONLY threshold") {
    // every committed bench record up to sf10 (500k docs) was measured
    // with the memos localCheckpoint'ed IN-HEAP, and the sf30+ scale
    // probes run the DISK_ONLY path (the eed4443 sf30-OOM fix). If a
    // testdata generator drift pushed a corpus across
    // MemoInHeapMaxDocs, the committed regimes would silently flip
    // storage paths and every bench comparison against the records
    // would be apples-to-oranges — pin the boundary so the flip is a
    // red spec, not a quiet regression. Scale dirs are generated
    // artifacts; a checkout without them CANCELS loudly (naming what
    // was not covered) instead of counting the skip as a pass
    // (r14 ADVICE #1).
    def docsCount(dir: String): Option[Long] = {
      val p = new java.io.File(s"$dir/documents.parquet")
      if (p.exists()) Some(spark.read.parquet(p.getPath).count())
      else None
    }
    val missing = Seq.newBuilder[String]
    Seq(sf -> "sf0.001", "testdata-gen/sf1" -> "sf1",
        "testdata-gen/sf10" -> "sf10").foreach { case (dir, label) =>
      docsCount(dir) match {
        case Some(n) =>
          assert(n <= Dedup.MemoInHeapMaxDocs,
            s"$label docs $n crossed the in-heap boundary " +
              s"(${Dedup.MemoInHeapMaxDocs}) — committed records through " +
              "sf10 are in-heap measurements")
        case None => missing += label
      }
    }
    docsCount("testdata-gen/sf30") match {
      case Some(n) =>
        assert(n > Dedup.MemoInHeapMaxDocs,
          s"sf30 docs $n fell under the boundary " +
            s"(${Dedup.MemoInHeapMaxDocs}) — sf30 scale records are " +
            "DISK_ONLY measurements")
      case None => missing += "sf30"
    }
    val miss = missing.result()
    if (miss.nonEmpty) cancel("scale dirs not generated in this " +
      s"checkout — boundary pin NOT checked for: ${miss.mkString(", ")}")
  }
}
