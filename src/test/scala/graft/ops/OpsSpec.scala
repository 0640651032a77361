package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1"),
    (2L, "the quick brown fox jumps over the lazy dog", "en", "s1"), // exact dup
    (3L, "the quick brown fox leaps over the lazy dog", "en", "s1"), // near dup
    (4L, "der schnelle braune fuchs und die katze ist da", "de", "s1"),
    (5L, "completely unrelated words about databases engines", "xx", "s2"))
    .toDF("doc_id", "text", "lang", "source")

  /** Clustered embedding corpus: clusters of 4 mutually-near-dup unit
    * vectors (within-cluster cosine ≈ 0.994 ≥ 0.9; the shared base
    * direction is zero-centered uniform per cluster, so cross-cluster
    * cosine concentrates near 0 — |cos| ≲ 3/√64 — and never crosses
    * the threshold), true pair count 1.5n, exactly linear in n.
    */
  private def embCorpus(n: Long): DataFrame =
    spark.range(n)
      .selectExpr("id AS vec_id",
        "transform(sequence(0, 63), j -> pmod(hash(id div 4, j), 1000) / 1000.0 - 0.5 " +
          "+ CASE WHEN j = (id % 4) * 7 THEN 0.05 * (1 + id % 4) ELSE 0.0 END) AS e0")
      // UNIT-normalize: the engine's cosine is the raw dot product
      // (embeddings-table vectors are unit length), so an unnormalized
      // synthetic corpus would put every within-block dot at ||v||² ≈
      // 5.3 ≫ any threshold and measure the wrong semantics
      .selectExpr("vec_id", "e0",
        "sqrt(aggregate(e0, cast(0 as double), (a, y) -> a + y * y)) AS n0")
      .selectExpr("vec_id",
        "transform(e0, x -> cast(x / n0 as float)) AS embedding")

  test("exact dedup keeps min id per content hash") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
    val groups = Dedup.exactDupGroups(docs, col("doc_id"), col("text"))
    assert(groups.filter($"n_copies" === 2).count() == 1)
  }

  test("exact dedup normalizes whitespace and case") {
    val d = Seq((1L, "A  b"), (2L, "a b ")).toDF("doc_id", "text")
    assert(Dedup.exactDedup(d, "doc_id", "text").count() == 1)
  }

  test("minhash LSH finds the near-dup pair and not unrelated docs") {
    val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text",
      k = 8, bands = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical → jaccard 1.0, always banded
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("dup-span coverage: interval merge counts overlapping gram runs once") {
    // doc1/doc2 share exactly one 8-gram ("a..h"); doc5/doc6 are 9-token
    // exact dups, so BOTH their grams duplicate and the [0,8)+[1,9)
    // intervals must merge to 9 covered tokens, not 16. doc4 is shorter
    // than the gram width (no grams, no crash); doc3 shares nothing.
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y a b c d e f g h z w"),
      (3L, "p q r s t u v n1 n2 n3"),
      (4L, "a b c"),
      (5L, "m1 m2 m3 m4 m5 m6 m7 m8 m9"),
      (6L, "m1 m2 m3 m4 m5 m6 m7 m8 m9")).toDF("doc_id", "text")
    val rows = Dedup.dupSpanCoverage(d, "doc_id", "text", n = 8, minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_dup_grams", "dup_tokens", "dup_frac")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(rows == Seq(
      (1L, 10L, 1L, 8L, 0.8),
      (2L, 12L, 1L, 8L, 0.666667),
      (3L, 10L, 0L, 0L, 0.0),
      (4L, 3L, 0L, 0L, 0.0),
      (5L, 9L, 2L, 9L, 1.0),
      (6L, 9L, 2L, 9L, 1.0)))
  }

  test("lineDedup drops cross-doc boilerplate lines and reassembles in order") {
    // "SUBSCRIBE NOW" appears in docs 1/2/3 (boilerplate, dropped
    // everywhere); "unique to one" repeats WITHIN doc 1 only (one
    // distinct doc — kept, both copies); doc 4 is pure boilerplate and
    // must survive as an empty rewrite, not vanish.
    val d = Seq(
      (1L, "unique to one\nSUBSCRIBE NOW\nunique to one\nbody text a"),
      (2L, "body text b\nSUBSCRIBE NOW"),
      (3L, "SUBSCRIBE NOW\nbody text c"),
      (4L, "SUBSCRIBE NOW")).toDF("doc_id", "text")
    val rows = Dedup.lineDedup(d, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_dropped", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(rows == Seq(
      (1L, 4L, 1L, "unique to one\nunique to one\nbody text a"),
      (2L, 2L, 1L, "body text b"),
      (3L, 2L, 1L, "body text c"),
      (4L, 1L, 1L, "")))
  }

  test("semDedup drops the higher id of within-cluster near-dups only") {
    // seeds (refine=0) are ids 0/1 = the unit axes. 2=(0.8,0.6) lands
    // in cluster 0 and pairs with 0 at cos 0.8 >= 0.75 -> dropped;
    // 3=(0.6,0.8) likewise drops against 1 in cluster 1; 4=(-1,0)
    // lands in cluster 1 (dot 0 beats -1) but pairs below threshold
    // with everything there -> survives. Cross-cluster near-dups are
    // by design NOT compared.
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(0.8f, 0.6f)), (3L, Array(0.6f, 0.8f)),
      (4L, Array(-1f, 0f))).toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(emb, nCentroids = 2, refine = 0,
        threshold = 0.75)
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    assert(kept == Seq((0L, 0L), (1L, 1L), (4L, 1L)))
  }

  test("planted J=0.9 pair is found at default banding (recall regression)") {
    // 18 shared words + 1 unique each: |A∩B|=18, |A∪B|=20 → J=0.9 exactly.
    // With the old bands=2/r=16 default this pair was missed with
    // probability ≈0.66; at bands=8/r=4 recall at J=0.9 is ≈0.9998.
    val shared = (1 to 18).map(i => s"word$i")
    val d = Seq(
      (1L, (shared :+ "alpha").mkString(" ")),
      (2L, (shared :+ "bravo").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDupPairs(d, "doc_id", "text").collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 1L)
    assert(pairs.head.getAs[Double]("jaccard") == 0.9)
  }

  test("funnelReached: strict ordering, same-ts events don't advance, zero-step users kept") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      ("a", "signup", ts(1)), ("a", "click", ts(2)), ("a", "purchase", ts(3)), // full
      ("b", "click", ts(1)), ("b", "signup", ts(2)), ("b", "purchase", ts(3)), // click precedes signup -> stuck at 1... but purchase can't fill click's slot
      ("c", "purchase", ts(1)), // wrong first step
      ("d", "signup", ts(1)), ("d", "click", ts(1)), // same ts: not strictly later
      ("e", "view", ts(1))) // no step events at all -> reached 0, still present
      .toDF("user_id", "event_type", "ts")
    val got = Analytics.funnelReached(ev, "user_id", "event_type", "ts",
      Seq("signup", "click", "purchase"))
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 3, "b" -> 1, "c" -> 0, "d" -> 1, "e" -> 0))
  }

  test("attribution: last vs first touch, lookback cutoff, unattributed visible") {
    def ts(d: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-02-$d%02d 10:$m%02d:00")
    val ev = Seq(
      // user a: view then click then purchase — last-touch=click, first-touch=view
      (1L, "a", "view", ts(1, 1), 0.0), (2L, "a", "click", ts(1, 2), 0.0),
      (3L, "a", "purchase", ts(1, 3), 10.0),
      // user b: only touch is 40 days BEFORE the purchase — outside the
      // 30-day lookback, must land in "(none)", not vanish
      (4L, "b", "click", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 0.0),
      (5L, "b", "purchase", ts(10, 1), 7.5),
      // user c: touch strictly AFTER the purchase never attributes
      (6L, "c", "purchase", ts(1, 1), 2.25), (7L, "c", "view", ts(1, 2), 0.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    def run(model: String) = Analytics.attribution(ev, "user_id",
        "event_type", "ts", "event_id", "value",
        touchTypes = Seq("click", "view"), convType = "purchase",
        model = model)
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(run("last") == Map(
      "click" -> ((1L, 10.0)), "(none)" -> ((2L, 9.75))))
    assert(run("first") == Map(
      "view" -> ((1L, 10.0)), "(none)" -> ((2L, 9.75))))
  }

  test("editDistancePairs: same-block pairs within bound only; cross-block never compared") {
    val rows = Seq(
      (1L, "spark engine", "b1"), (2L, "spark enginx", "b1"), // dist 1, same block
      (3L, "spark engine", "b2"), // identical text but different block
      (4L, "zzzzzzzzzzzz", "b1")) // same block, far away
      .toDF("id", "txt", "blk")
    val got = Dedup.editDistancePairs(rows, "id", "txt", col("blk"), maxLen = 32, maxDist = 3)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 1)))
  }

  test("minLabelComponents: chains collapse to min id; untouched ids keep identity") {
    // component {1,2,3} via a chain (1-2, 2-3: needs >1 propagation
    // round), component {7,9}, and ids 4,5 touching no edge at all —
    // the edge-incident iteration must still label them with themselves
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L).toDF("doc_id")
    val got = Dedup.minLabelComponents(pairs, ids, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      7L -> 7L, 9L -> 7L))
  }

  test("simhash of identical docs is identical; hamming grows with difference") {
    val sh = docs.select($"doc_id", Dedup.simHash32($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    val hamNear = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val hamFar = java.lang.Long.bitCount(sh(1L) ^ sh(5L))
    assert(hamNear < hamFar)
  }

  test("n-gram containment: eval doc inside a train doc scores 1.0, unrelated scores 0") {
    val train = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "totally different content about spark engines and shuffles"))
      .toDF("doc_id", "text")
    // eval 20 is a strict substring of train 10; eval 21 shares nothing
    val eval = Seq(
      (20L, "beta gamma delta epsilon zeta eta"),
      (21L, "unrelated words nowhere in training data at all okay"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramContainmentPairs(train, eval, "doc_id", "text",
      n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((20L, 10L, 1.0)))
  }

  test("sequence packing: windows respect the budget up to one straddling doc") {
    val docs = (1 to 100).map(i => (i.toLong, "en", 100)).toDF("doc_id", "lang", "n_tokens")
    val packed = Packing.packWindows(docs, "doc_id", "n_tokens", budget = 250, partitionCol = "lang")
    val sizes = packed.groupBy("pack_id").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every window holds ≥ the budget's floor in docs and overflows by < one doc
    assert(sizes.values.forall(t => t <= 250 + 100))
    assert(packed.agg(sum("n_tokens")).head().getLong(0) == 100L * 100)
    // deterministic: same input → same assignment
    val again = Packing.packWindows(docs, "doc_id", "n_tokens", 250, "lang")
      .select("doc_id", "pack_id").collect().toSet
    assert(again == packed.select("doc_id", "pack_id").collect().toSet)
  }

  test("shelf packing: bins never overflow, full bins are > half full, oversize docs sit alone") {
    // lengths across classes k=1..5 of budget 100, plus two oversize
    val docs = ((1 to 60).map(i => (i.toLong, 15 + (i * 13) % 80)) ++
      Seq((101L, 150), (102L, 999))).toDF("doc_id", "wc")
    val packed = Packing.shelfPack(docs, "doc_id", "wc", budget = 100)
    val bins = packed.groupBy("cap_class", "bin_idx")
      .agg(count(lit(1)).as("n"), sum("wc").as("t"))
      .as[(Long, Long, Long, Long)].collect()
    // the harmonic guarantee: class-k bins hold ≤ k items totalling
    // ≤ budget — NEVER an overflow (pk1's trade, closed)
    assert(bins.filter(_._1 > 0).forall { case (k, _, n, t) => n <= k && t <= 100 })
    // every FULL bin (k items) is more than half the budget
    assert(bins.filter { case (k, _, n, _) => k > 0 && n == k }
      .forall(_._4 > 50))
    // oversize docs (k = 0) land one per bin
    assert(bins.filter(_._1 == 0L).forall(_._3 == 1L))
    assert(bins.count(_._1 == 0L) == 2)
    // nothing lost
    assert(packed.count() == 62)
  }

  test("language ID picks the stopword-dominant language") {
    val out = TextAnalysis.langId(col("text"))
    val got = docs.select($"doc_id", out.as("l")).as[(Long, String)].collect().toMap
    assert(got(1L) == "en")
    assert(got(4L) == "de")
    assert(got(5L) == "und") // no stopword hits at all
  }

  test("quality score is in [0,1] and favors longer diverse docs") {
    val q = docs.select(TextAnalysis.qualityScore($"text").as("q")).as[Double].collect()
    assert(q.forall(v => v >= 0 && v <= 1))
  }

  test("brute top-k returns k ordered neighbors; self excluded") {
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings")
    val top = Similarity.bruteTopK(emb, emb.filter($"vec_id" < 2), 5)
    val rows = top.collect()
    assert(rows.length == 10) // 2 queries × 5
    assert(!rows.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("neighbor_id")))
    // ranks are 1..5 with descending scores per query
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH top-k candidates are a subset of brute-force rankings' universe") {
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings")
    val lsh = Similarity.lshTopK(emb, emb.filter($"vec_id" < 2), 5, planes = 4, dims = 64)
    // every LSH hit appears in the full corpus and scores match brute recompute
    assert(lsh.count() <= 10)
    assert(lsh.filter($"query_id" === $"neighbor_id").count() == 0)
  }

  test("IVF recall@10 vs brute force: refinement meets a floor and beats seed-only") {
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteTopK(emb, q, 10).select("query_id", "neighbor_id")
    val nBrute = brute.count()
    def hits(refine: Int): Long =
      brute.intersect(Similarity.ivfTopK(emb, q, 10, nCentroids = 8, nProbe = 2,
        refine = refine).select("query_id", "neighbor_id")).count()
    val seedHits = hits(0)
    val refinedHits = hits(1)
    info(s"recall@10: seed-only=${seedHits.toDouble / nBrute}, " +
      s"refined=${refinedHits.toDouble / nBrute} over $nBrute brute pairs")
    assert(refinedHits.toDouble / nBrute >= 0.5,
      s"refined IVF recall@10 below floor: $refinedHits/$nBrute")
    assert(refinedHits >= seedHits,
      s"k-means refinement lost recall: $refinedHits < $seedHits")
  }

  test("multi-probe LSH beats single-probe recall@10 at equal candidate budget") {
    // equal expected candidate volume: single-probe at 4 planes inspects
    // ~N/16 of the corpus; multi-probe at 6 planes × 4 probes inspects
    // ~4N/64 = N/16 — same budget, spent on more selective buckets
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings")
    val q = emb.filter(col("vec_id") < 50)
    val brute = Similarity.bruteTopK(emb, q, 10).select("query_id", "neighbor_id")
    val nBrute = brute.count()
    val single = brute.intersect(Similarity.lshTopK(emb, q, 10, planes = 4, dims = 64)
      .select("query_id", "neighbor_id")).count()
    val multi = brute.intersect(
      Similarity.lshTopKMultiProbe(emb, q, 10, planes = 6, dims = 64, nProbe = 4)
        .select("query_id", "neighbor_id")).count()
    info(s"recall@10: single(4 planes)=${single.toDouble / nBrute}, " +
      s"multi(6 planes × 4 probes)=${multi.toDouble / nBrute} over $nBrute brute pairs")
    assert(multi >= single,
      s"multi-probe lost recall at equal budget: $multi < $single")
    // the fixture's vectors are near-random, so absolute recall is
    // fixture-bound: a random N/16 candidate sample would land ~0.06 —
    // the floor asserts LSH stays well above chance, not near-exactness
    assert(multi.toDouble / nBrute >= 0.10, s"multi-probe recall floor: $multi/$nBrute")
  }

  test("probe buckets: first is the sign bucket, rest are single-bit flips, all distinct") {
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings").limit(20)
    val rows = emb.select(
      Similarity.lshBucket(col("embedding"), 6, 64).as("base"),
      Similarity.lshProbeBuckets(col("embedding"), 6, 64, 4).as("probes")).collect()
    rows.foreach { r =>
      val base = r.getInt(0)
      val probes = r.getSeq[Int](1)
      assert(probes.length == 4 && probes.head == base)
      assert(probes.tail.forall(p => Integer.bitCount(p ^ base) == 1))
      assert(probes.distinct.length == 4)
    }
  }

  test("PQ codes are within the codebook and ADC recall clears the floor") {
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings")
    val q = emb.filter(col("vec_id") < 50)
    val pq = Similarity.pqTopK(emb, q, 10, m = 4, dims = 64, codebookK = 16)
    val rows = pq.collect()
    assert(rows.length == 50 * 10)
    // ADC approximates dot: the quantization error must not scramble
    // ranking into noise — recall@10 vs brute force well above the
    // ~0.02 a random top-10 of 500 would score
    val brute = Similarity.bruteTopK(emb, q, 10).select("query_id", "neighbor_id")
    val hits = brute.intersect(pq.select("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / brute.count()
    info(s"PQ ADC recall@10 = $recall")
    assert(recall >= 0.15, s"PQ recall collapsed: $recall")
  }

  test("PQ codebook training: k-means pass meets the floor and beats seed-only") {
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings")
    val q = emb.filter(col("vec_id") < 50)
    val brute = Similarity.bruteTopK(emb, q, 10).select("query_id", "neighbor_id")
    val nBrute = brute.count()
    def hits(refine: Int): Long =
      brute.intersect(Similarity.pqTopK(emb, q, 10, m = 4, dims = 64,
        codebookK = 16, refine = refine).select("query_id", "neighbor_id")).count()
    val seedHits = hits(0)
    val trainedHits = hits(1)
    info(s"PQ recall@10: seed=${seedHits.toDouble / nBrute}, " +
      s"trained=${trainedHits.toDouble / nBrute} over $nBrute brute pairs")
    assert(trainedHits >= seedHits,
      s"codebook training lost recall: $trainedHits < $seedHits")
    assert(trainedHits.toDouble / nBrute >= 0.15,
      s"trained PQ recall below floor: $trainedHits/$nBrute")
  }

  test("IVF×PQ composed ANN: full top-k per query, recall clears the floor") {
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val ivfpq = Similarity.ivfPqTopK(emb, q, 10, nCentroids = 8, nProbe = 2,
      m = 4, dims = 64, codebookK = 16)
    val rows = ivfpq.collect()
    assert(rows.length == 5 * 10)
    assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
    val brute = Similarity.bruteTopK(emb, q, 10).select("query_id", "neighbor_id")
    val nBrute = brute.count()
    val hits = brute.intersect(ivfpq.select("query_id", "neighbor_id")).count()
    info(s"IVF×PQ recall@10 = ${hits.toDouble / nBrute} over $nBrute brute pairs")
    // list pruning (IVF) and quantization error (PQ) stack, so the
    // composed floor sits between PQ-alone (0.15) and IVF-alone (0.5)
    assert(hits.toDouble / nBrute >= 0.15, s"IVF×PQ recall collapsed: $hits/$nBrute")
  }

  test("plane weights are deterministic and within [-1,1]") {
    val w1 = Similarity.planeWeights(3, 16)
    val w2 = Similarity.planeWeights(3, 16)
    assert(w1 == w2)
    assert(w1.flatten.forall(v => v >= -1.0 && v <= 1.0))
  }

  test("hierarchical assignment: deterministic, schema-equal, blocking recall within 1.25x of flat") {
    val vecs = embCorpus(2000).localCheckpoint(true)
    val cents = Similarity.ivfCentroids(vecs, 40, refine = 1).localCheckpoint(true)
    val flat = Similarity.assignToCentroidsWithSim(vecs, cents, "vec_id", "embedding")
      .select("vec_id", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def run() = Similarity
      .assignToCentroidsHierarchical(vecs, cents, "vec_id", "embedding")
    val h1 = run().select("vec_id", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h2 = run().select("vec_id", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 == h2, "hierarchical assignment must be deterministic")
    assert(run().columns.toSeq == Seq("vec_id", "embedding", "cent_id", "cent_sim"))
    assert(h1.size == 2000, "no vector may strand in a fineless cell")
    // argmax agreement with flat is NOT the op's contract (on this
    // adversarial fixture — 500 tight clusters vs 40 centroids on
    // near-orthogonal geometry — coarse routing flips ~38% of weakly
    // determined argmaxes); what matters is BLOCKING quality, pinned
    // on semDedup below: flat keeps 592 of 2000 (94% of the 1500 true
    // dups dropped), hierarchical must stay within 1.25× of it
    val flatSurv = Similarity.semDedup(vecs, 40, 1, 0.9).count()
    val hierSurv = Similarity.semDedup(vecs, 40, 1, 0.9, hierarchical = true).count()
    assert(hierSurv <= math.ceil(flatSurv * 1.25).toLong,
      s"hierarchical blocking lost too much drop-recall: $hierSurv vs flat $flatSurv")
    assert(flat.size == 2000)
  }

  test("hardNegatives excludes same-label vectors even when they are nearest") {
    import spark.implicits._
    // q's nearest neighbor (1) shares its label and must NOT appear;
    // the top negatives are the nearest OTHER-label vectors in order
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), "x"),   // the query
      (1L, Array(0.99f, 0.14f), "x"), // nearest overall, same label
      (2L, Array(0.9f, 0.43f), "y"),
      (3L, Array(0.7f, 0.71f), "y"),
      (4L, Array(0.0f, 1.0f), "z"))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(vecs, vecs.filter(col("vec_id") === 0), k = 2)
      .orderBy(col("rank")).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 3L))
    assert(!out.map(_.getLong(1)).contains(1L), "same-label vector leaked in")
  }

  test("assignAndProbes equals the separate assignment + probe ops, ties included") {
    // duplicate centroids under different ids force a similarity tie —
    // the fused op must break it exactly like min_by/row_number do:
    // (−sim, cent_id) ascending, i.e. lower cent_id wins
    val cents = Seq(
      (10L, Array(1f, 0f)), (20L, Array(1f, 0f)), // tie pair
      (30L, Array(0f, 1f)), (40L, Array(0.6f, 0.8f)))
      .toDF("cent_id", "cent_e")
    val vecs = spark.range(50).select(col("id").as("vec_id"))
      .withColumn("embedding", expr(
        "transform(sequence(0, 1), j -> cast(pmod(hash(vec_id, j), 1000) as float) / 1000.0)"))
    val n = 3
    val fused = Similarity.assignAndProbes(vecs, cents, n)
    // element 1 == assignToCentroids' winner
    val fusedAssign = fused
      .select(col("query_id"), element_at(col("top"), 1).getField("cent_id"))
      .as[(Long, Long)].collect().toMap
    val sepAssign = Similarity
      .assignToCentroids(vecs, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("cent_id")).as[(Long, Long)].collect().toMap
    assert(fusedAssign == sepAssign)
    // exploded 1..n == probeCentroids' probe set (per-query)
    val fusedProbes = fused
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.cent_id")).as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sepProbes = Similarity
      .probeCentroids(vecs, cents, "query_id", "qe", n, "vec_id", "embedding")
      .select(col("query_id"), col("cent_id")).as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(fusedProbes == sepProbes, s"probe sets drifted")
    // and the tie: every query nearest the duplicated direction must
    // report cent 10 (not 20) as its assignment
    val tied = Similarity.assignAndProbes(
      Seq((99L, Array(1f, 0f))).toDF("vec_id", "embedding"), cents, 2)
      .select(element_at(col("top"), 1).getField("cent_id"),
        element_at(col("top"), 2).getField("cent_id"))
      .as[(Long, Long)].collect().head
    assert(tied == ((10L, 20L)), s"tie-break drifted: $tied")
  }
}
