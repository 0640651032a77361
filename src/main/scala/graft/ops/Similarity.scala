package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  *  - `bruteTopK` is the exact baseline: query×corpus join + per-query
  *    top-k (`TakeOrderedAndProject` per key via row_number window). At
  *    scale the corpus side stays partitioned; the (small) query set is
  *    broadcast, so the scan is embarrassingly parallel.
  *  - `lshBuckets`/`lshTopK` is the scale path: sign-random-projection
  *    LSH — P deterministic hyperplanes (md5-derived weights, engine-
  *    portable), vectors bucketed by sign pattern; queries probe only
  *    their own bucket. Bucket join replaces the full cross product —
  *    at 100 TB the candidate set per query is |corpus| / 2^P on
  *    average.
  *
  * Dot products run on doubles (exact for float inputs) via the native
  * codegen'd `dot_product` expression ([[graft.functions.VectorOps]]) —
  * a strict left fold in index order, bit-identical to sequential
  * summation in the oracle but one allocation-free JVM pass per pair
  * instead of an interpreted `zip_with`+`aggregate` lambda chain;
  * scores round to 6 dp before ranking so ordering is
  * engine-independent.
  */
object Similarity {

  /** Cosine/dot score (inputs are L2-normalized ⇒ dot = cosine). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot_product(a, b)

  def cosineRounded(a: Column, b: Column): Column = round(dot(a, b), 6)

  /** Exact top-k neighbors for each query vector. */
  def bruteTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRounded(col("qe"), col("ce")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCSE
    * data-prep step): for each query vector, the top-k most similar
    * corpus vectors whose LABEL DIFFERS — the negatives that sit
    * closest to the decision boundary and carry the gradient signal.
    * Exact by construction (brute scoring under the label filter);
    * swap the corpus for an ANN candidate set when recall < 1 is
    * acceptable at scale.
    *
    * Scale shape: the label-inequality broadcast join streams the
    * corpus ONCE against the broadcast query set, and the per-query
    * rank is the bounded-heap aggregator (map-side ≤ k-row partials),
    * not a row_number window over the full scored set — sim7's
    * formulation, which survives millions of candidates per query.
    * NULL labels never match the inequality (SQL three-valued logic),
    * so unlabeled rows participate on neither side.
    * Output: (query_id, neighbor_id, score, rank).
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"),
      col(labelCol).as("q_label"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"),
      col(labelCol).as("n_label"))
    val scored = c.join(broadcast(q), col("q_label") =!= col("n_label"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRounded(col("qe"), col("ce")).as("score"))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopK.topKByScore(k)(col("score"), col("neighbor_id")).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t._1").as("neighbor_id"),
        col("t._2").as("score"), col("t._3").as("rank"))
  }

  /** Deterministic pseudo-random hyperplane weights in [-1, 1]: derived
    * from md5("p_i") prefixes, so any engine (or the DuckDB oracle) can
    * regenerate the identical planes. Cached driver/executor-side —
    * no per-row hashing (see [[graft.functions.VectorOps.planeWeights]]).
    */
  def planeWeights(planes: Int, dims: Int): Seq[Seq[Double]] =
    graft.functions.VectorOps.planeWeights(planes, dims).toSeq.map(_.toSeq)

  /** Sign-random-projection bucket id from P hyperplanes — all P
    * projections fused into one native pass over the vector (the DSL
    * form re-walked the embedding once per plane, interpreted).
    */
  def lshBucket(emb: Column, planes: Int, dims: Int): Column =
    graft.functions.VectorOps.srp_bucket(emb, planes, dims)

  /** ANN top-k: queries probe only their own sign bucket. Trades recall
    * for a 2^planes candidate reduction (standard SRP-LSH behavior).
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, planes: Int, dims: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"),
      lshBucket(col(embCol), planes, dims).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"),
      lshBucket(col(embCol), planes, dims).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRounded(col("qe"), col("ce")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The `nProbe` SRP buckets a query should inspect, most-likely
    * first: its own sign bucket, then the buckets reached by flipping
    * the lowest-|margin| planes one at a time (margin = the raw
    * projection — a near-zero projection means the true neighbors
    * straddle that hyperplane, the classic multi-probe LSH heuristic).
    * Ties on |margin| break by plane index, so probe sets are
    * deterministic and engine-reproducible.
    */
  def lshProbeBuckets(emb: Column, planes: Int, dims: Int, nProbe: Int): Column = {
    require(planes >= 1 && planes <= 31, s"planes must be in [1, 31], got $planes")
    require(nProbe >= 1 && nProbe <= planes + 1,
      s"nProbe must be in [1, planes+1], got $nProbe")
    val ws = planeWeights(planes, dims)
    val base = lshBucket(emb, planes, dims)
    val margins = array((0 until planes).map { p =>
      struct(abs(dot(slice(emb, 1, dims), typedlit(ws(p)))).as("m"), lit(p).as("p"))
    }: _*)
    // struct sort = (|margin| asc, plane asc); flip the nProbe-1 planes
    // most likely to separate a query from its true neighbors.
    // Per-row cost note: this walks the vector once per plane (margins)
    // plus the fused srp_bucket pass — fine by contract, because probe
    // expansion runs on the BROADCAST query side only, never the
    // corpus. pow(2,p) is exact in double for p ≤ 30 (planes ≤ 31);
    // shiftleft takes only a literal shift so it can't express a
    // column-valued flip.
    // margins read the same dims-prefix srp_bucket hashes, so the flip
    // ranking and the bucket bits share one basis even when the stored
    // vector is longer than dims
    val flips = slice(transform(array_sort(margins), x => x.getField("p")), 1, nProbe - 1)
    concat(array(base),
      transform(flips, p => base.bitwiseXOR(pow(lit(2), p).cast("int"))))
  }

  /** Multi-probe ANN top-k: each query inspects its own bucket plus the
    * `nProbe - 1` lowest-margin bit-flip buckets. Candidate volume
    * scales as nProbe·|corpus|/2^planes, so planes can grow (smaller,
    * more selective buckets) without the recall collapse single-probe
    * suffers — the standard multi-probe LSH trade. Corpus vectors still
    * live in exactly ONE bucket (the probe side explodes, the corpus
    * side does not), so no candidate pair is generated twice and no
    * dedup shuffle is needed.
    */
  def lshTopKMultiProbe(
      corpus: DataFrame, queries: DataFrame, k: Int, planes: Int, dims: Int,
      nProbe: Int, idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"),
      explode(lshProbeBuckets(col(embCol), planes, dims, nProbe)).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"),
      lshBucket(col(embCol), planes, dims).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRounded(col("qe"), col("ce")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic seed rows: the n lowest-id vectors, selected by RANK
    * over `idCol` (TakeOrderedAndProject — O(n) heap per partition,
    * never a full sort), not by an `id < n` domain assumption, so
    * string or sparse ids still yield exactly n seeds.
    */
  private def seedRows(corpus: DataFrame, n: Int, idCol: String): DataFrame =
    corpus.orderBy(col(idCol)).limit(n)

  /** True when `df`'s `idField` is BIGINT — the precondition of the
    * packed-argmin fast path ([[graft.functions.VectorOps.NearestCentroids]]
    * carries centroid ids as longs). Every engine query path satisfies
    * it (vec_id is BIGINT end to end); generic callers with string ids
    * keep the min_by formulation.
    */
  private def idIsLong(df: DataFrame, idField: String): Boolean =
    df.schema.find(_.name == idField).exists(_.dataType ==
      org.apache.spark.sql.types.LongType)

  /** The centroid set packed into ONE row: `__cents =
    * array<struct<cent_id, cent_e>>` — the broadcast payload of the
    * per-row argmin. Element order is irrelevant (the argmin is a
    * strict (−sim, cent_id) lexicographic min, order-independent).
    */
  private def centroidArray(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("cent_id"), col("cent_e"))).as("__cents"))

  /** Nearest-centroid assignment as a single whole-stage-codegen
    * projection: the centroid set is packed into one broadcast array
    * row and every vector computes its argmin in one native pass
    * ([[graft.functions.VectorOps.nearest_centroids]]) — NO corpus×C
    * row inflation, NO per-partition sort, NO aggregate, NO exchange.
    * (The min_by formulation this replaces paid a corpus×C explode +
    * a per-partition partial-SortAggregate sort of the scored rows +
    * a corpus-sized exchange of the partials; the new shape is pinned
    * in PlanShapeSpec.) Ties break on the lower centroid id via the
    * kernel's (−sim, cent_id) ascending order — identical to the
    * window formulation `ORDER BY sim DESC, cent_id` and to the
    * min_by fallback, which generic (non-BIGINT-id) callers still
    * get; quantization (round 6 dp) happens BEFORE the compare on
    * both paths, so ties are engine-reproducible.
    */
  def assignToCentroids(
      df: DataFrame, cents: DataFrame, outId: String, outEmb: String,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    assignToCentroidsWithSim(df, cents, outId, outEmb, idCol, embCol)
      .drop("cent_sim")

  /** [[assignToCentroids]] keeping the winner's (rounded) similarity —
    * the raw material of the centroid-drift signal
    * ([[graft.sources.AnnIndex.ivfDriftReport]]): same packed-argmin
    * projection, one extra struct field read.
    */
  def assignToCentroidsWithSim(
      df: DataFrame, cents: DataFrame, outId: String, outEmb: String,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    if (idIsLong(cents, "cent_id")) {
      // explode of the 1-element argmin array keeps inner-join
      // semantics for an empty centroid set (zero output rows) and
      // evaluates the kernel exactly once per row (no project-collapse
      // re-evaluation per extracted field)
      df.select(col(idCol).as(outId), col(embCol).as(outEmb))
        .join(broadcast(centroidArray(cents)))
        .select(col(outId), col(outEmb),
          explode(graft.functions.VectorOps.nearest_centroids(
            col(outEmb), col("__cents"), 1)).as("m"))
        .select(col(outId), col(outEmb), col("m.cent_id").as("cent_id"),
          col("m.s").as("cent_sim"))
    } else
      df.select(col(idCol).as(outId), col(embCol).as(outEmb))
        .join(broadcast(cents))
        .select(col(outId), col(outEmb), col("cent_id"),
          cosineRounded(col(outEmb), col("cent_e")).as("cent_sim"))
        .groupBy(col(outId))
        .agg(min_by(struct(col("cent_id"), col(outEmb).as("e"),
            col("cent_sim").as("s")),
          struct((lit(0d) - col("cent_sim")).as("ns"), col("cent_id"))).as("m"))
        .select(col(outId), col("m.e").as(outEmb), col("m.cent_id").as("cent_id"),
          col("m.s").as("cent_sim"))

  /** Top-n nearest centroids (probe selection) — the same packed-argmin
    * projection as [[assignToCentroidsWithSim]] with n > 1: one native
    * pass per query row, exploded to n probe rows. Replaces the
    * window-ranked form (|queries|·C rows through an exchange + sort);
    * tie order (−sim, cent_id) is identical, which the window fallback
    * for generic ids still spells out.
    */
  private[graft] def probeCentroids(
      df: DataFrame, cents: DataFrame, outId: String, outEmb: String, n: Int,
      idCol: String, embCol: String): DataFrame =
    if (idIsLong(cents, "cent_id"))
      df.select(col(idCol).as(outId), col(embCol).as(outEmb))
        .join(broadcast(centroidArray(cents)))
        .select(col(outId), col(outEmb),
          explode(graft.functions.VectorOps.nearest_centroids(
            col(outEmb), col("__cents"), n)).as("m"))
        .select(col(outId), col(outEmb), col("m.cent_id").as("cent_id"))
    else {
      val w = Window.partitionBy(col(outId))
        .orderBy(col("cent_sim").desc, col("cent_id"))
      df.select(col(idCol).as(outId), col(embCol).as(outEmb))
        .join(broadcast(cents))
        .withColumn("cent_sim", cosineRounded(col(outEmb), col("cent_e")))
        .withColumn("cent_rank", row_number().over(w))
        .filter(col("cent_rank") <= n)
        .select(col(outId), col(outEmb), col("cent_id"))
    }

  /** Fused [[assignToCentroids]] + [[probeCentroids]]: ONE batch×C
    * scoring pass and ONE exchange yield, per query, the top-`n`
    * centroids as a sorted array — element 1 is the assignment winner,
    * elements 1..n the probe set. Tie-breaks are IDENTICAL to both
    * ops (the array sorts on the same `(−sim, cent_id)` struct the
    * `min_by`/window formulations order by), so consumers that need
    * both halves — a streaming gate probing the index AND blocking
    * in-batch pairs per assigned cluster — replace two broadcast
    * joins, a window exchange and a `min_by` exchange with one
    * broadcast join and one map-side-partial aggregation. That
    * matters on trigger paths, where each exchange is a scheduled
    * stage of fixed cost. Memory: `n ≤ C` structs per query in the
    * partial aggregate (collect_list is capped by `slice` only after
    * the merge, so the in-flight partial holds C structs — fine for
    * C up to a few thousand; an index with more centroids should use
    * the separate ops).
    *
    * Output: (query_id, qe, top: array<struct<ns, cent_id, s>>) with
    * ns = −sim and s = the rounded similarity of that centroid.
    */
  def assignAndProbes(
      df: DataFrame, cents: DataFrame, n: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(n >= 1, s"assignAndProbes needs n >= 1, got $n")
    if (idIsLong(cents, "cent_id"))
      // the kernel's output IS the (ns, cent_id, s)-sorted top array;
      // size-0 rows (empty centroid set) are dropped to match the
      // aggregate form's inner-join semantics
      df.select(col(idCol).as("query_id"), col(embCol).as("qe"))
        .join(broadcast(centroidArray(cents)))
        .select(col("query_id"), col("qe"),
          graft.functions.VectorOps.nearest_centroids(
            col("qe"), col("__cents"), n).as("top"))
        .filter(size(col("top")) >= 1)
    else
      df.select(col(idCol).as("query_id"), col(embCol).as("qe"))
        .join(broadcast(cents))
        .select(col("query_id"), col("qe"), col("cent_id"),
          cosineRounded(col("qe"), col("cent_e")).as("cent_sim"))
        .groupBy(col("query_id"))
        .agg(first(col("qe")).as("qe"),
          slice(sort_array(collect_list(struct(
            (lit(0d) - col("cent_sim")).as("ns"), col("cent_id"),
            col("cent_sim").as("s")))), 1, n).as("top"))
  }

  /** `refine` k-means update passes over deterministic seeds: assign
    * every vector to its nearest current centroid (map-side `max_by`),
    * then take the per-cluster element-wise mean in fixed point (×10⁶
    * integer sums, exact in int64) so refined centroids — which feed
    * further dot products and ranks — are order-independent and
    * engine-reproducible, like Embeddings.dimStats. Refinement
    * shuffles |C|·dims fixed-point partial sums, not the corpus.
    */
  private def refineCentroids(
      seeds: DataFrame, corpus: DataFrame, refine: Int,
      idCol: String, embCol: String): DataFrame =
    (1 to refine).foldLeft(seeds) { (cur, _) =>
      assignToCentroids(corpus, cur, "m_id", "me", idCol, embCol)
        .select(col("cent_id"), posexplode(col("me")).as(Seq("pos", "v")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("v").cast("double") * 1000000.0 + 0.5).cast("long")).as("qsum"))
        .select(col("cent_id"), col("pos"),
          (col("qsum").cast("double") / col("n") / 1000000.0).as("m"))
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("cent_e"))
    }

  /** IVF-style ANN: vectors are assigned to their nearest of C
    * centroids; a query probes its `nProbe` nearest centroid lists
    * only. The standard inverted-file trade: candidate set shrinks
    * ~C/nProbe-fold; recall depends on how often true neighbors live
    * in unprobed lists (measured recall@10 vs brute force improves
    * with the k-means update, asserted in OpsSpec's recall spec).
    *
    * Scale: assignment is a broadcast join + map-side `max_by` (no
    * corpus-sized exchange); the probe join shuffles only by the
    * (small-cardinality) centroid id.
    */
  /** Seeds + `refine` k-means passes — the centroid set shared by
    * [[ivfTopK]], [[ivfPqTopK]] and the persisted index build
    * ([[graft.sources.AnnIndex]]).
    */
  def ivfCentroids(
      corpus: DataFrame, nCentroids: Int, refine: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    refineCentroids(
      seedRows(corpus, nCentroids, idCol)
        .select(col(idCol).as("cent_id"), col(embCol).as("cent_e")),
      corpus, refine, idCol, embCol)

  /** Shared ANN tail: drop self-pairs, score via the native dot, keep
    * each query's top k (score desc, neighbor asc). Expects columns
    * `query_id, neighbor_id, qe, ce`.
    *
    * Two row-identical rank shapes (PLANS.md §10):
    *  - `viaAggregator = false`: `row_number` window — the scored
    *    candidate set flows through an exchange + sort per query
    *    partition. Cheapest at toy candidate counts.
    *  - `viaAggregator = true`: the bounded-heap typed Aggregator
    *    ([[graft.functions.TopK.TopKByScore]]) — partial buffers of
    *    ≤ 2k rows aggregate map-side, so the exchange carries
    *    k·partials, never the candidate set. The only shape that
    *    survives unbounded candidate volume, hence the default on the
    *    persisted-index serve paths ([[graft.sources.AnnIndex]]).
    *    Requires a long-compatible `neighbor_id` (the aggregator's
    *    input encoder) — true of every serve path.
    */
  private[graft] def rankTopK(
      cands: DataFrame, k: Int, viaAggregator: Boolean = false): DataFrame = {
    val scored = cands.filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRounded(col("qe"), col("ce")).as("score"))
    if (viaAggregator)
      scored.groupBy(col("query_id"))
        .agg(graft.functions.TopK.topKByScore(k)(col("score"), col("neighbor_id")).as("tk"))
        .select(col("query_id"), explode(col("tk")).as("t"))
        .select(col("query_id"), col("t._1").as("neighbor_id"),
          col("t._2").as("score"), col("t._3").as("rank"))
    else {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }
  }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, nCentroids: Int, nProbe: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      refine: Int = 1): DataFrame = {
    val cents = ivfCentroids(corpus, nCentroids, refine, idCol, embCol)
    val assigned = assignToCentroids(corpus, cents, "neighbor_id", "ce", idCol, embCol)
    val probes = probeCentroids(queries, cents, "query_id", "qe", nProbe, idCol, embCol)
    rankTopK(probes.join(assigned, Seq("cent_id")), k)
  }

  /** Product-quantization ADC top-k — the COMPRESSION side of the ANN
    * scale story (LSH/IVF shrink the candidate set; PQ shrinks the
    * bytes): embeddings are encoded as `m` one-byte codes (nearest
    * sub-codebook centroid per `dims/m`-dim subspace) and queries score
    * candidates through a per-query lookup table, never touching the
    * float vectors. The dot product is separable across subspaces, so
    * ADC(q, x) = Σ_j LUT_j[code_j(x)] approximates dot(q, x) with the
    * subvector quantization error only.
    *
    * Codebooks start as deterministic seeds (the `codebookK` lowest-id
    * vectors' subvectors) and go through `refine` per-subspace k-means
    * update passes — the same fixed-point assignment/mean loop
    * [[ivfTopK]] runs, independently in each of the m subspaces; a
    * cluster that captures no vectors keeps its seed centroid, so the
    * codebook stays exactly m·codebookK rows by construction.
    *
    * Determinism: every per-subspace dot quantizes to 10⁻⁶ fixed point
    * BEFORE argmax/summation (ties break on centroid id), so codes,
    * scores, and ranks are engine-exact — the bm1 trick.
    *
    * Scale shape: codebooks and LUTs are O(m·k) constants (broadcast);
    * encoding is one map-side max_by aggregation per (vector,
    * subspace); scoring scans the CODES (m bytes/vector, not
    * 4·dims bytes) with a broadcast LUT join and a per-query top-k
    * window. At 100 TB the scan is memory-bandwidth-bound on a ~64×
    * smaller table — [[ivfPqTopK]] composes with IVF lists when
    * candidate pruning is also needed.
    */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, m: Int, dims: Int,
      codebookK: Int, idCol: String = "vec_id", embCol: String = "embedding",
      refine: Int = 1): DataFrame = {
    val cb = pqCodebooks(corpus, m, dims, codebookK, refine, idCol, embCol)
    val codes = pqEncode(corpus, cb, "neighbor_id", m, dims, idCol, embCol)
    val lut = pqLut(queries, cb, "query_id", m, dims, idCol, embCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score6").desc, col("neighbor_id"))
    codes.join(broadcast(lut), Seq("sub_id", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("q6")).as("score6"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** One row per (vector, subspace): `outId, sub_id, v` with v the
    * `dims/m`-length subvector.
    */
  private def subspaces(
      df: DataFrame, outId: String, m: Int, dims: Int,
      idCol: String, embCol: String): DataFrame = {
    require(dims % m == 0, s"dims $dims must divide into $m subspaces")
    val sub = dims / m
    df.select(col(idCol).as(outId), col(embCol).as("e"))
      .select(col(outId), explode(array((0 until m).map(j =>
        struct(lit(j).as("sub_id"), slice(col("e"), j * sub + 1, sub).as("v"))): _*)).as("s"))
      .select(col(outId), col("s.sub_id"), col("s.v"))
  }

  private def pqD6(v: Column, centSub: Column): Column =
    floor(dot(v, centSub) * 1000000.0 + 0.5).cast("long")

  /** m sub-codebooks of `codebookK` centroids: deterministic seeds +
    * `refine` fixed-point k-means update passes per subspace (see
    * [[pqTopK]]). Output: `sub_id, cent_id, cent_sub`.
    */
  def pqCodebooks(
      corpus: DataFrame, m: Int, dims: Int, codebookK: Int, refine: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cb0 = subspaces(seedRows(corpus, codebookK, idCol), "cent_id", m, dims, idCol, embCol)
      .select(col("sub_id"), col("cent_id"), col("v").as("cent_sub"))
    (1 to refine).foldLeft(cb0) { (cb, _) =>
      // per-subspace packed argmin (see assignToCentroidsWithSim): the
      // codebook folds to m array rows, each (vector, subspace) row
      // computes its nearest code in one native fixed-point pass — no
      // ×codebookK row inflation, no SortAggregate, no exchange
      val assigned =
        if (idIsLong(cb, "cent_id"))
          subspaces(corpus, "vid", m, dims, idCol, embCol)
            .join(broadcast(codebookArray(cb)), Seq("sub_id"))
            .select(col("sub_id"), col("v"),
              explode(graft.functions.VectorOps.nearest_centroids_q(
                col("v"), col("__cb"), 1)).as("mm"))
            .select(col("sub_id"), col("mm.cent_id").as("cent_id"), col("v"))
        else subspaces(corpus, "vid", m, dims, idCol, embCol)
          .join(broadcast(cb), Seq("sub_id"))
          .select(col("vid"), col("sub_id"), col("cent_id"), col("v"),
            pqD6(col("v"), col("cent_sub")).as("d6"))
          .groupBy(col("vid"), col("sub_id"))
          .agg(min_by(struct(col("cent_id"), col("v").as("v")),
            struct((lit(0L) - col("d6")).as("nd"), col("cent_id"))).as("m"))
          .select(col("sub_id"), col("m.cent_id").as("cent_id"), col("m.v").as("v"))
      val updated = assigned
        .select(col("sub_id"), col("cent_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("sub_id"), col("cent_id"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x").cast("double") * 1000000.0 + 0.5).cast("long")).as("qsum"))
        .select(col("sub_id"), col("cent_id"), col("pos"),
          (col("qsum").cast("double") / col("n") / 1000000.0).as("mv"))
        .groupBy(col("sub_id"), col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
          x => x.getField("mv")).as("cs_new"))
      // empty cluster ⇒ keep the seed centroid (codebook size invariant)
      cb.join(updated, Seq("sub_id", "cent_id"), "left")
        .select(col("sub_id"), col("cent_id"),
          coalesce(col("cs_new"), col("cent_sub").cast("array<double>")).as("cent_sub"))
    }
  }

  /** The per-subspace codebook packed into m array rows:
    * `sub_id, __cb = array<struct<cent_id, cent_sub>>` — the broadcast
    * payload of the packed PQ argmin.
    */
  private def codebookArray(cb: DataFrame): DataFrame =
    cb.groupBy(col("sub_id"))
      .agg(collect_list(struct(col("cent_id"), col("cent_sub"))).as("__cb"))

  /** PQ codes: nearest sub-codebook centroid per (vector, subspace) —
    * one packed fixed-point argmin pass per row (no ×codebookK rows,
    * no aggregate, no exchange). Output: `outId, sub_id, code`.
    */
  def pqEncode(
      corpus: DataFrame, cb: DataFrame, outId: String, m: Int, dims: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    if (idIsLong(cb, "cent_id"))
      subspaces(corpus, outId, m, dims, idCol, embCol)
        .join(broadcast(codebookArray(cb)), Seq("sub_id"))
        .select(col(outId), col("sub_id"),
          explode(graft.functions.VectorOps.nearest_centroids_q(
            col("v"), col("__cb"), 1)).as("m"))
        .select(col(outId), col("sub_id"), col("m.cent_id").as("code"))
    else
      subspaces(corpus, outId, m, dims, idCol, embCol)
        .join(broadcast(cb), Seq("sub_id"))
        .select(col(outId), col("sub_id"), col("cent_id"),
          pqD6(col("v"), col("cent_sub")).as("d6"))
        .groupBy(col(outId), col("sub_id"))
        .agg(min_by(col("cent_id"),
          struct((lit(0L) - col("d6")).as("nd"), col("cent_id"))).as("code"))

  /** Per-query ADC lookup table: quantized partial dot against every
    * sub-codebook centroid. Output: `outId, sub_id, code, q6`.
    */
  def pqLut(
      queries: DataFrame, cb: DataFrame, outId: String, m: Int, dims: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    subspaces(queries, outId, m, dims, idCol, embCol)
      .join(broadcast(cb), Seq("sub_id"))
      .select(col(outId), col("sub_id"), col("cent_id").as("code"),
        pqD6(col("v"), col("cent_sub")).as("q6"))

  /** IVF×PQ — the composed 100 TB serving shape: IVF list pruning cuts
    * the candidate set ~C/nProbe-fold, then PQ ADC scores the survivors
    * through their m-byte codes and the query's broadcast LUT; the full
    * float vectors are touched only at index-build time (assignment,
    * codebooks, codes), never per query.
    *
    * Scale: candidates = inverted-list join on `cent_id` against the
    * broadcast probe set (map-side); code fetch is one join keyed on
    * the vector id; scoring/rank shuffles only candidate·m rows.
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, nCentroids: Int, nProbe: Int,
      m: Int, dims: Int, codebookK: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      refine: Int = 1, refinePq: Int = 1): DataFrame = {
    val seeds = seedRows(corpus, nCentroids, idCol)
      .select(col(idCol).as("cent_id"), col(embCol).as("cent_e"))
    val cents = refineCentroids(seeds, corpus, refine, idCol, embCol)
    val assigned = assignToCentroids(corpus, cents, "neighbor_id", "ce", idCol, embCol)
      .select(col("neighbor_id"), col("cent_id"))
    val probes = probeCentroids(queries, cents, "query_id", "qe", nProbe, idCol, embCol)
      .select(col("query_id"), col("cent_id"))
    val cb = pqCodebooks(corpus, m, dims, codebookK, refinePq, idCol, embCol)
    val codes = pqEncode(corpus, cb, "neighbor_id", m, dims, idCol, embCol)
    val lut = pqLut(queries, cb, "query_id", m, dims, idCol, embCol)
    val candidates = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score6").desc, col("neighbor_id"))
    candidates.join(codes, Seq("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "sub_id", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("q6")).as("score6"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs, blocked by a key (e.g. a
    * cluster label or LSH bucket) so the pair space never goes O(n²).
    */
  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering the embedding space and dropping,
    * within each cluster, every item that has a higher-id near-dup —
    * i.e. item b is removed iff some a < b in the same cluster has
    * cosine(a, b) ≥ threshold; the min id of each duplicate pair
    * survives. Output: (id, cent_id) survivor rows.
    *
    * The technique's entire reason to exist is the scale shape: the
    * O(n²) global pairwise comparison becomes per-cluster pairwise —
    * n²/K work after one broadcast-assign pass — which is exactly how
    * this composes here: deterministic k-means ([[ivfCentroids]]), a
    * map-side `min_by` assignment (one exchange), then
    * [[cosineNearDupPairs]] blocked on `cent_id` and a left-anti join
    * on the dropped ids. Nothing crosses cluster boundaries.
    *
    * K-SIZING AT SCALE (round-10 finding, PLANS.md): with K ∝ n
    * (constant cluster occupancy) the pairwise stays O(n), but the
    * ASSIGNMENT pass is n·K = Θ(n²) — measured exponent 1.09 at
    * 20k→80k vectors where the 3k→12k probe read 0.01 (fixed costs
    * hid it). At corpus scale either size K = Θ(√n) (balances both
    * terms at O(n^1.5)) or assign hierarchically — √K coarse cells
    * first, then only that cell's fine centroids (IVF's trick applied
    * to the clustering step), keeping K ∝ n at O(n·√K).
    */
  def semDedup(
      corpus: DataFrame, nCentroids: Int, refine: Int, threshold: Double,
      idCol: String = "vec_id", embCol: String = "embedding",
      hierarchical: Boolean = false): DataFrame = {
    val cents = ivfCentroids(corpus, nCentroids, refine, idCol, embCol)
    val assign =
      if (hierarchical)
        assignToCentroidsHierarchical(corpus, cents, idCol, embCol, idCol, embCol)
          .drop("cent_sim")
      else assignToCentroids(corpus, cents, idCol, embCol, idCol, embCol)
    val assigned = assign
      .localCheckpoint(true) // pairs + survivors both read it; cluster once
    val dropped = cosineNearDupPairs(assigned, threshold, "cent_id", idCol, embCol)
      .select(col("id_b").as(idCol)).distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cent_id"))
  }

  /** Two-level (coarse → fine) centroid assignment — the O(n·√K)
    * answer to the round-10 finding (PLANS.md) that flat assignment's
    * n·K scoring is the quadratic hiding in K ∝ n SemDeDup (IVF's own
    * coarse-quantizer trick applied to the clustering step):
    *
    *  1. the K fine centroids are THEMSELVES clustered into
    *     Kc = ⌈√K⌉ coarse cells (K·Kc work — negligible);
    *  2. each vector scores only the Kc coarse cells (n·√K);
    *  3. then only its winning cell's fine centroids (n·K/Kc ≈ n·√K).
    *
    * APPROXIMATE by design: a vector near a coarse boundary may pick a
    * slightly-worse fine centroid than flat assignment would. Measured
    * on the adversarial `OpsSpec` fixture (500 tight clusters vs 40
    * centroids, near-orthogonal geometry — argmaxes weakly
    * determined): per-vector argmax agreement with flat is ~62%, but
    * the metric that matters for SemDeDup — blocking recall — holds
    * up: 87% of true near-dups still dropped vs flat's 94%
    * (spec-pinned at ≤1.25× flat's survivor count in `OpsSpec`).
    * Every tie-break is the flat path's
    * (−sim, id) `min_by`, so the result is deterministic, and every
    * assigned fine centroid provably belongs to the vector's winning
    * cell. Cells left empty by the fine→cell assignment are excluded
    * from step 2, so no vector can strand in a fineless cell.
    * Output schema = [[assignToCentroidsWithSim]].
    */
  def assignToCentroidsHierarchical(
      df: DataFrame, cents0: DataFrame, outId: String, outEmb: String,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // the centroid frame usually carries an n-sized training lineage
    // (ivfCentroids' refine pass); count + coarse training + cellOf
    // would re-run it THREE times unmaterialized
    val cents = cents0.localCheckpoint(true)
    val k = cents.count()
    val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse = ivfCentroids(
      cents.select(col("cent_id").as("vec_id"), col("cent_e").as("embedding")),
      kc, refine = 1)
      .select(col("cent_id").as("cell_id"), col("cent_e").as("cell_e"))
      .localCheckpoint(true)
    // fine centroid -> its coarse cell (K·Kc, tiny)
    val cellOf = assignToCentroids(
      cents.select(col("cent_id").as("vec_id"), col("cent_e").as("embedding")),
      coarse.select(col("cell_id").as("cent_id"), col("cell_e").as("cent_e")),
      "f_id", "f_e")
      .select(col("f_id"), col("f_e"), col("cent_id").as("cell_id"))
      .localCheckpoint(true)
    val usedCells = coarse.join(
      cellOf.select(col("cell_id")).distinct(), Seq("cell_id"), "left_semi")
    // vector -> nearest (non-empty) coarse cell: n·Kc scoring
    val vecCell = assignToCentroids(df,
      usedCells.select(col("cell_id").as("cent_id"), col("cell_e").as("cent_e")),
      outId, outEmb, idCol, embCol)
      .select(col(outId), col(outEmb), col("cent_id").as("cell_id"))
    // vector -> nearest fine centroid WITHIN its cell: n·(K/Kc) scoring
    // via the packed argmin, keyed per cell (the min_by fallback for
    // generic ids mirrors assignToCentroidsWithSim's)
    if (idIsLong(cellOf, "f_id"))
      vecCell.join(broadcast(
          cellOf.groupBy(col("cell_id")).agg(
            collect_list(struct(col("f_id"), col("f_e"))).as("__cents"))),
          Seq("cell_id"))
        .select(col(outId), col(outEmb),
          explode(graft.functions.VectorOps.nearest_centroids(
            col(outEmb), col("__cents"), 1)).as("m"))
        .select(col(outId), col(outEmb), col("m.cent_id").as("cent_id"),
          col("m.s").as("cent_sim"))
    else vecCell.join(broadcast(cellOf), Seq("cell_id"))
      .select(col(outId), col(outEmb),
        col("f_id").as("cent_id"),
        cosineRounded(col(outEmb), col("f_e")).as("cent_sim"))
      .groupBy(col(outId))
      .agg(min_by(struct(col("cent_id"), col(outEmb).as("e"),
          col("cent_sim").as("s")),
        struct((lit(0d) - col("cent_sim")).as("ns"), col("cent_id"))).as("m"))
      .select(col(outId), col("m.e").as(outEmb), col("m.cent_id").as("cent_id"),
        col("m.s").as("cent_sim"))
  }

  def cosineNearDupPairs(
      df: DataFrame, threshold: Double, blockCol: String,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("id_a"), col(embCol).as("ea"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("id_b"), col(embCol).as("eb"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosineRounded(col("ea"), col("eb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
