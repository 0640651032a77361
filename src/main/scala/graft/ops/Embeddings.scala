package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-column utilities beyond search ([[Similarity]]): int8
  * quantization and per-dimension corpus statistics.
  *
  * Both are narrow map-side projections followed by (for stats) a
  * 64-row aggregation — shuffle size is O(dims), independent of corpus
  * size. Determinism: every float enters exact fixed-point (×10⁶ or
  * ×127/amax, floor-rounded) before any aggregation, so results are
  * independent of summation order — the property that lets a
  * distributed sum hash-match a single-threaded oracle.
  */
object Embeddings {

  /** Symmetric int8 quantization: q_i = round_half_up(v_i · 127 / amax),
    * amax = max |v_i| (zero vectors quantize to zeros). Emits the
    * checkable digest (amax, sum/min/max of q) rather than 64 columns.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val amax0 = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    // opaque: CollapseProject would inline the array_max scan into every
    // lambda element -> O(dims²) per row
    val base = df.select(col(idCol),
      graft.functions.ArrayHashes.opaque(col(vecCol)).as("v"),
      graft.functions.ArrayHashes.opaque(amax0).as("amax"))
    val q = when(col("amax") === 0.0, transform(col("v"), _ => lit(0L)))
      .otherwise(transform(col("v"),
        x => floor(x.cast("double") * lit(127.0) / col("amax") + lit(0.5)).cast("long")))
    base.select(col(idCol),
      TextAnalysis.round6(col("amax")).as("amax6"),
      aggregate(q, lit(0L), (acc, x) => acc + x).as("q_sum"),
      array_min(q).as("q_min"),
      array_max(q).as("q_max"))
  }

  /** Upper-triangle covariance matrix of the embedding dimensions —
    * the sufficient statistic for PCA / whitening / decorrelation over
    * an embedding corpus. Same exactness scheme as [[dimStats]]: values
    * quantize to ×10⁶ integers, the three sufficient statistics
    * (Σqᵢ, Σqⱼ, Σqᵢqⱼ) stay exact int64 through the shuffle, and
    * cov = E[xᵢxⱼ] − E[xᵢ]E[xⱼ] runs a fixed IEEE division sequence at
    * the end — order-independent and engine-exact.
    *
    * Overflow envelope — TIGHTER than [[dimStats]]' because the product
    * statistic squares the quantized magnitude: |qᵢqⱼ| ≤ (|v|ₘₐₓ·10⁶)²,
    * so Σqᵢqⱼ stays inside int64 only while n·(|v|ₘₐₓ·10⁶)² < 2⁶³ —
    * i.e. ~9.2M rows at |v| ≤ 1 (unit-normalized embeddings, the
    * intended domain), but only a handful of rows at the |v| ≤ 10³
    * bound dimStats quotes. Outside that envelope the sum wraps
    * silently in legacy mode; run with `spark.sql.ansi.enabled=true`
    * (overflow throws) or pre-scale the vectors when |v|ₘₐₓ·√n·10⁶
    * approaches 2^31.5.
    *
    * Shape: the double-posexplode generates O(n·d²/2) rows but they
    * partial-aggregate map-side, so the exchange carries ≤ d²/2 rows
    * per partition — corpus size never crosses the wire. That is the
    * right declarative plan for moderate d (here 64 → 2080 pairs); for
    * d in the thousands the d² blowup belongs in a per-partition Gram
    * accumulator (`mapPartitions` + one d×d array per partition)
    * feeding the same merge.
    */
  def covarianceMatrix(df: DataFrame, vecCol: String): DataFrame = {
    // opaque: keep the quantized array materialized once per row — a
    // collapsed projection would inline the transform into BOTH
    // generators, recomputing it per exploded row
    val q = graft.functions.ArrayHashes.opaque(
      transform(col(vecCol), x => floor(x.cast("double") * 1000000.0 + 0.5).cast("long")))
    df.select(q.as("q"))
      .select(col("q"), posexplode(col("q")).as(Seq("i0", "qi")))
      .select(col("qi"), col("i0"), posexplode(col("q")).as(Seq("j0", "qj")))
      .filter(col("j0") >= col("i0"))
      .groupBy((col("i0") + 1).cast("long").as("i"), (col("j0") + 1).cast("long").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("qi")).as("si"),
        sum(col("qj")).as("sj"), sum(col("qi") * col("qj")).as("sij"))
      .select(col("i"), col("j"),
        TextAnalysis.round6((col("sij").cast("double") / col("n")
          - (col("si").cast("double") / col("n")) * (col("sj").cast("double") / col("n")))
          / 1.0e12).as("cov6"))
  }

  /** Top principal component by fixed-point POWER ITERATION over the
    * covariance matrix — the whitening/PCA direction a curation
    * pipeline uses to center or de-bias an embedding space. The
    * sufficient-statistics split is the whole scale story: ONE corpus
    * pass builds the d²/2-row covariance ([[covarianceMatrix]], the
    * exchange never carries corpus rows), and the iteration then runs
    * entirely on constant-size tables (d² matrix × d vector), so the
    * 100 TB cost is exactly one covariance pass.
    *
    * Engine-exactness (the pr1 integer-fixpoint pattern): the matrix
    * quantizes to millionths (int64), v₀ = ⌊10⁶/√d + ½⌋ per dim, and
    * each iteration is
    *
    *  - wᵢ = ⌊Σⱼ c6ᵢⱼ·v6ⱼ / 10⁶⌋ — an INTEGER sum (order-free) and a
    *    floor on an exactly-representable double;
    *  - ‖w‖ = √(Σ wᵢ²) — exact int64 sum, correctly-rounded IEEE sqrt
    *    (overflow envelope: |w6| ≲ 10⁶·λmax, so Σ w² stays below 2⁵³
    *    for λmax·√d ≲ 10, far above any unit-normalized corpus);
    *  - v6ᵢ = ⌊w6ᵢ·10⁶/‖w‖ + ½⌋ — two IEEE ops in fixed order.
    *
    * Every step is bit-identical in any engine, so an oracle can unroll
    * the iterations as plain CTEs and hash-match an ITERATIVE
    * eigensolver. Output: (dim, pc6, lambda6) — the quantized unit
    * direction and the Rayleigh-style ‖Cv‖ eigenvalue estimate.
    */
  def topPcPowerIteration(
      df: DataFrame, vecCol: String, dims: Int, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"topPcPowerIteration: iters $iters must be >= 1 " +
      "(the output normalizes by the last iteration's norm)")
    val spark = df.sparkSession
    val tri = covarianceMatrix(df, vecCol)
      .select(col("i"), col("j"),
        floor(col("cov6") * 1000000.0 + 0.5).cast("long").as("c6"))
    // the full (symmetric) matrix, materialized ONCE: the iteration
    // below references it in every matrix-vector join, and an
    // unmaterialized plan would re-run the corpus-sized covariance
    // pass per reference
    val full = tri.unionByName(tri.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("c6")))
      .localCheckpoint(true)
    val v0q = math.floor(1000000.0 / math.sqrt(dims.toDouble) + 0.5).toLong
    var v: DataFrame = spark.range(1, dims + 1)
      .select(col("id").as("j"), lit(v0q).as("v6"))
    var norm: DataFrame = null
    (0 until iters).foreach { _ =>
      val w = full.join(v, Seq("j"))
        .groupBy(col("i"))
        .agg(sum(col("c6") * col("v6")).as("wraw"))
        .select(col("i"),
          floor(col("wraw").cast("double") / 1000000.0).cast("long").as("w6"))
      norm = w.agg(sqrt(sum(col("w6") * col("w6")).cast("double")).as("nrm"))
      v = w.crossJoin(broadcast(norm))
        .select(col("i").as("j"),
          floor(col("w6").cast("double") * 1000000.0 / col("nrm") + 0.5)
            .cast("long").as("v6"))
    }
    v.crossJoin(broadcast(norm))
      .select(col("j").as("dim"),
        (col("v6").cast("double") / 1000000.0).as("pc6"),
        (floor(col("nrm") + 0.5) / 1000000.0).as("lambda6"))
      .orderBy(col("dim"))
  }

  /** Per-dimension mean/variance over the corpus, in overflow-safe
    * fixed-point: values scale to integers q = ⌊v·10⁶ + ½⌋, sums and
    * sums-of-squares stay exact int64 (|v| ≤ 10³ and n ≤ 10⁸ before
    * q² sums approach 2^63), and the two final divisions are
    * correctly-rounded IEEE — order-independent and engine-exact,
    * unlike summing raw doubles.
    */
  def dimStats(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select((col("pos") + 1).as("dim"),
        floor(col("v").cast("double") * 1000000.0 + 0.5).cast("long").as("q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("qsum"),
        sum(col("q") * col("q")).as("qsq"))
      .select(col("dim").cast("long"), col("n"),
        TextAnalysis.round6(col("qsum").cast("double") / col("n") / 1000000.0).as("mean6"),
        TextAnalysis.round6(
          (col("qsq").cast("double") / col("n")
            - (col("qsum").cast("double") / col("n")) * (col("qsum").cast("double") / col("n")))
            / 1.0e12).as("var6"))
}
