package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Product quantization (PQ) for embedding compression + ANN search — the
  * fine-grained half of a production vector index (IVF in [[Similarity]]
  * partitions the corpus; PQ compresses what's inside the partitions).
  *
  * A 64-dim float vector (256 B) becomes [[M]] one-byte codes (8 B, 32×):
  * the vector is split into M contiguous subvectors, each quantized to its
  * nearest centroid in a per-subspace codebook of [[K]] entries trained by
  * deterministic L2 Lloyd iterations. Search uses the standard asymmetric
  * distance computation (ADC): per query, a broadcast M×K lookup table of
  * exact subvector→centroid distances; a corpus vector's approximate
  * distance is the sum of M table lookups over its codes — the full-precision
  * corpus is never touched after encoding.
  *
  * Scale shape mirrors the IVF trainer: Lloyd runs on a capped md5-sample;
  * assignment/encoding is one broadcast-join pass over the corpus (all M
  * subspaces trained and encoded in ONE exploded frame, not M passes); the
  * only driver traffic is the M·K·(dim/M) codebook per iteration. ADC
  * search shuffles only (q_id, vec_id, partial-distance) triples.
  *
  * Determinism and ORACLE-EXACTNESS: every arithmetic step happens in
  * quantized integer space — components enter training as `floor(1e4·x)`
  * (exact on the bit-identical float→double cast), distances are the
  * integer identity q·q − 2q·c + c·c (≤ 8·(2e4)² ≈ 3.2e9 per subspace,
  * well inside 2^53 even through the double-typed vec_dot path), and
  * centroid updates are integer means (`sum div n`, order-free). Seeds are
  * the K smallest md5(vec_id) picks; argmin ties break on centroid id.
  * Because no step depends on float summation order, the whole recursion
  * — sample → seeds → 3×(argmin → integer mean) → encode → ADC — unrolls
  * into chained DuckDB CTEs ([[pqSql]]) and `ann_pq_topk` is hash-verified
  * end to end. QuantizeSpec additionally pins determinism, code-width,
  * reconstruction monotonicity, and planted-twin recall.
  */
object Quantize {

  val M = 8 // subspaces
  val K = 16 // codebook entries per subspace
  val Dim = 64
  private val SubDim = Dim / M
  private[graft] val NumQueries = 5
  private[ops] val TopK = 5

  /** Quantization scale shared with [[Similarity]]'s trained quantizers:
    * `floor(1e4·x)` is exact on bit-identical doubles and keeps every
    * distance term integer-exact. */
  private val QScale = 10000

  /** Exact integer squared-L2 via the dot identity — three codegen'd
    * vec_dot calls over integral-double arrays, no interpreted lambda. */
  private[ops] def d2(a: String, b: String): Column =
    (expr(s"vec_dot($a, $a)") - lit(2.0) * expr(s"vec_dot($a, $b)") +
      expr(s"vec_dot($b, $b)")).cast("long")

  /** The corpus quantizer: `floor(1e4·x)` per component as integral
    * doubles (exact on the bit-identical float→double cast). */
  private[ops] def quantQv(v: String): Column = expr(
    s"cast(transform(cast($v as array<double>), x -> floor($QScale * x)) " +
      "as array<double>)")

  /** One row per (vec_id, sub_idx): the sub_idx-th length-[[SubDim]] slice
    * of an ALREADY-QUANTIZED integral vector column `qv` — the entry point
    * the residual path shares (residuals are integer differences, already
    * in quantized space; re-scaling them would be lossy). */
  private def subvecsQ(qemb: DataFrame): DataFrame =
    qemb.select(col("vec_id"),
      posexplode(expr(
        s"transform(sequence(0, ${M - 1}), m -> slice(qv, m * $SubDim + 1, $SubDim))")))
      .toDF("vec_id", "sub_idx", "sv")

  /** [[subvecsQ]] over a raw (float) vector column `v`. */
  private def subvecs(emb: DataFrame): DataFrame =
    subvecsQ(emb.select(col("vec_id"), quantQv("v").as("qv")))

  /** Per-subspace codebooks: (sub_idx, c_id, cv) after `iters` integer-L2
    * Lloyd rounds over a capped md5-sample of the corpus; cv is an
    * integral array<double> at [[QScale]]. */
  def pqCodebooks(emb: DataFrame, iters: Int = 3, maxTrain: Int = 512): DataFrame =
    pqCodebooksQ(emb.select(col("vec_id"), quantQv("v").as("qv")), iters, maxTrain)

  /** [[pqCodebooks]] over an already-quantized `qv` column (the residual
    * training path of [[annIvfPqTopK]]). */
  def pqCodebooksQ(qemb: DataFrame, iters: Int = 3, maxTrain: Int = 512): DataFrame = {
    val spark = qemb.sparkSession
    import spark.implicits._
    val n = qemb.count()
    val every = math.max(1L, (n + maxTrain - 1) / maxTrain)
    val sampled =
      if (every == 1L) qemb
      else qemb.filter(expr(
        s"conv(substring(md5(cast(vec_id as string)), 1, 15), 16, 10) % $every = 0"))
    // ONE bounded collect of the whole training sample (md5-mod-capped at
    // ~maxTrain rows × dim integral doubles at ANY corpus scale); the M
    // per-subspace Lloyd recursions then run driver-side in the identical
    // exact integer arithmetic (see [[Lloyd]]) instead of as per-iteration
    // Spark jobs — 5 serial collect barriers of a previous version become
    // this single one. Subspace slicing is driver-side array slicing of
    // the SQL-quantized values (never re-quantized).
    val rows: Array[(String, Array[Long])] = sampled
      .select(col("vec_id"), col("qv")).collect()
      .map(r => (Lloyd.md5Hex(r.getLong(0).toString),
        r.getSeq[Double](1).map(_.toLong).toArray))
      .sortBy(_._1)
    // Seeds: the K hash-smallest sampled vectors seed EVERY subspace with
    // their respective subvectors; rank = hash order (0-based).
    val bySub: Array[Array[Array[Long]]] = Array.tabulate(M) { m =>
      rows.map(_._2.slice(m * SubDim, (m + 1) * SubDim))
    }
    val books: Seq[(Int, Int, Vector[Double])] = (0 until M).flatMap { m =>
      Lloyd.run(bySub(m), bySub(m).take(K), iters)
        .zipWithIndex.map { case (cv, c) => (m, c, cv.map(_.toDouble).toVector) }
    }
    books.toDF("sub_idx", "c_id", "cv")
  }

  /** Nearest codebook entry per (vec_id, sub_idx): broadcast the M·K
    * codebook, integer-L2 argmin with c_id tiebreak via struct-min. `sv`
    * is constant within each group, so `first` is value-deterministic. */
  private def assign(sub: DataFrame, cdf: DataFrame): DataFrame =
    sub.join(broadcast(cdf), "sub_idx")
      .select(col("vec_id"), col("sub_idx"), col("sv"),
        struct(d2("sv", "cv").as("d"), col("c_id")).as("sc"))
      .groupBy(col("vec_id"), col("sub_idx"))
      .agg(min(col("sc")).as("best"), first(col("sv")).as("sv"))
      .select(col("vec_id"), col("sub_idx"), col("sv"), col("best.c_id").as("c_id"))

  /** PQ codes: (vec_id, codes array<int> ordered by sub_idx) — M bytes of
    * index payload per vector at cluster scale. */
  def pqEncode(emb: DataFrame, codebooks: DataFrame): DataFrame =
    pqEncodeQ(emb.select(col("vec_id"), quantQv("v").as("qv")), codebooks)

  /** [[pqEncode]] over an already-quantized `qv` column. */
  def pqEncodeQ(qemb: DataFrame, codebooks: DataFrame): DataFrame =
    assign(subvecsQ(qemb), codebooks)
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub_idx, c_id))), s -> s.c_id)")
        .as("codes"))

  /** Audit helper: total squared quantization error (in QScale² units) of
    * `emb` under `codebooks` — an exact integer sum, so plain `sum` is
    * deterministic. Lloyd training must not increase this. */
  def quantizationError(emb: DataFrame, codebooks: DataFrame): Double =
    assign(subvecs(emb), codebooks)
      .join(broadcast(codebooks), Seq("sub_idx", "c_id"))
      .select(d2("sv", "cv").as("e"))
      .agg(sum(col("e"))).head.getLong(0).toDouble

  /** ADC top-k: queries keep full precision; the corpus is searched purely
    * through its codes against a broadcast per-query distance LUT. Every
    * distance is an exact integer, so the ranking hash-matches the oracle. */
  def annPqTopK(embeddings: DataFrame): DataFrame = {
    val emb = embeddings.select(col("vec_id"), col("embedding").as("v")).persist()
    val books = pqCodebooks(emb)
    val codes = pqEncode(emb, books)
      .select(col("vec_id"), posexplode(col("codes"))).toDF("vec_id", "sub_idx", "c_id")
    val lut = subvecs(emb.filter(col("vec_id") < NumQueries))
      .select(col("vec_id").as("q_id"), col("sub_idx"), col("sv"))
      .join(broadcast(books), "sub_idx")
      .select(col("q_id"), col("sub_idx"), col("c_id"), d2("sv", "cv").as("pd"))
    val scored = codes
      .join(broadcast(lut), Seq("sub_idx", "c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adist"))
    graft.plans.TopK.topKPerGroup(
        scored, Seq("q_id"), Seq("adist" -> true, "vec_id" -> true), TopK)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("adist").asc, col("vec_id").asc)).cast("long"))
      .select(col("q_id"), col("rnk"), col("vec_id"))
      .orderBy(col("q_id"), col("rnk"))
  }

  // ------------------------------------------------------------- IVF-PQ

  /** Coarse cells for the IVF layer (nprobe of [[NProbe]]): the geometry
    * billion-scale ANN actually ships (FAISS IVF-PQ / SPANN): the coarse
    * quantizer prunes the corpus to the probed cells, PQ codes compress
    * what's INSIDE a cell — trained on the residual (vector − its cell
    * centroid), which is the part the coarse layer can't explain and has
    * far lower variance than the raw vectors, so the same codebook budget
    * quantizes finer. */
  val CoarseK = 8
  val NProbe = 2

  /** IVF-PQ ANN search, integer-exact end to end:
    *
    *   1. coarse quantizer: [[Similarity.kmeansCentroids]] (integer Lloyd,
    *      512-cap md5 sample, broadcast centroids);
    *   2. every vector's RESIDUAL vs its cell centroid (an exact integer
    *      difference — no new quantization error);
    *   3. per-subspace PQ codebooks trained on the residuals
    *      ([[pqCodebooksQ]], same capped-sample integer recursion);
    *   4. queries probe their [[NProbe]] nearest cells; per probed cell
    *      the QUERY residual is taken against THAT cell's centroid and a
    *      broadcast ADC lookup table built from it;
    *   5. candidates are ONLY the vectors in probed cells — the pruning
    *      that makes the layout sublinear where [[annPqTopK]] scans every
    *      code — scored by the M-term LUT sum, exact integers throughout.
    *
    * Because steps 1-5 are all integer arithmetic with deterministic
    * tiebreaks, the whole composition unrolls into DuckDB CTEs
    * ([[ivfPqSql]]) and the query is hash-verified, like its parents
    * `ann_ivf_trained_topk` (reference ANN parity surface;
    * cf. the reference's embedding join in src/streaming/enrichment.py
    * having no index at all) and `ann_pq_topk`.
    */
  def annIvfPqTopK(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (scored, _) = ivfPqScored(
      embeddings.select(col("vec_id"), col("embedding").as("v")))
    graft.plans.TopK.topKPerGroup(
        scored, Seq("q_id"), Seq("adist" -> true, "vec_id" -> true), TopK)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adist").asc, col("vec_id").asc)).cast("long"))
      .select(col("q_id"), col("rnk"), col("vec_id"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Candidate pool width for the exact re-rank stage. */
  val RerankCand = 20

  /** TWO-STAGE retrieval — the shape every production vector search
    * ships: stage 1 generates [[RerankCand]] candidates per query from
    * the compressed IVF-PQ index (cheap, approximate — ADC distances
    * carry quantization error), stage 2 re-ranks ONLY those candidates
    * against the full-precision vectors with the exact integer metric
    * and keeps the top [[TopK]]. At 100 TB the refine stage touches
    * queries×candidates rows — O(1) per query — while the compressed
    * index absorbs the corpus-scale scan; the candidates→full-vector
    * join is the classic "fetch the originals for the shortlist" point
    * lookup. Integer-exact end to end, so the composed pipeline is
    * hash-verified against the CTE unroll. */
  def annIvfPqRerankTopK(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (scored, qemb) = ivfPqScored(
      embeddings.select(col("vec_id"), col("embedding").as("v")))
    val cand = graft.plans.TopK.topKPerGroup(
      scored, Seq("q_id"), Seq("adist" -> true, "vec_id" -> true), RerankCand)
    val queries = qemb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("qv").as("qq"))
    cand.select(col("q_id"), col("vec_id"))
      .join(qemb, "vec_id") // fetch the shortlist's full-precision vectors
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("vec_id"), d2("qq", "qv").as("d"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("d").asc, col("vec_id").asc)).cast("long"))
      .filter(col("rnk") <= TopK)
      .select(col("q_id"), col("rnk"), col("vec_id"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Delta ids live above this mark — "tonight's crawl batch". */
  val DeltaBase = 200000L

  /** The planted "tonight's crawl" delta the incremental family shares:
    * a perturbed twin of every 50th base vector, ids shifted above
    * [[DeltaBase]] (the re-crawled/updated document case). Deterministic,
    * so the in-query incremental search and the persisted-index append
    * query ([[IvfPqIndex]]) fold in the SAME batch and can share one
    * oracle unroll. Returns (vec_id, v). */
  private[graft] def plantedDelta(embeddings: DataFrame): DataFrame =
    embeddings.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select((col("vec_id") + DeltaBase).as("vec_id"),
        expr("transform(cast(embedding as array<double>), (x, i) -> x + ((i % 7) - 3) / 1000d)")
          .as("v"))

  /** Fail fast instead of silently colliding: a base id at-or-above the
    * delta mark would (a) be excluded from training by trainPred and
    * (b) collide with a planted delta id, feeding duplicate vec_ids
    * into the groupBy/first aggregation nondeterministically. */
  private[ops] def requireBelowDeltaBase(embeddings: DataFrame): Unit = {
    val maxRow = embeddings.agg(max(col("vec_id"))).head
    require(maxRow.isNullAt(0) || maxRow.getLong(0) < DeltaBase,
      s"incremental IVF-PQ: corpus vec_ids reach ${maxRow.get(0)} — " +
        s"raise DeltaBase (currently $DeltaBase) above the id domain")
  }

  /** INCREMENTAL index maintenance — the property that makes IVF-PQ
    * operable at 100 TB: the quantizers are trained ONCE on the base
    * corpus and FROZEN; a newly-arrived batch is folded in by pure
    * per-row encoding (cell assignment + residual PQ codes against the
    * frozen codebooks — one broadcast pass, no shuffle of the base, no
    * retraining, no index rebuild). Here the delta is a planted
    * perturbed twin of every 50th base vector (the re-crawled/updated
    * document case); the search runs over the combined index and must
    * surface the fresh twins. The training-set restriction is IN the
    * oracle (`trainPred`), so the hash proves the delta never leaked
    * into training — the exact invariant an incremental pipeline must
    * hold to avoid daily recall drift. */
  def annIvfPqIncrementalTopK(embeddings: DataFrame): DataFrame = {
    // Same fail-fast contract as [[requireBelowDeltaBase]], moved INTO
    // the plan (r18, guide §1.2): the eager max-agg was one extra serial
    // job barrier ahead of the pipeline per query; as a per-row
    // `assert_true` riding the base projection it costs one comparison
    // per row inside the existing scan and still aborts the query loudly
    // on the first violating id. `.isNull` keeps every passing row
    // (assert_true is NULL on success), so output is unchanged. The
    // persisted-index build paths keep the eager form (they run once per
    // build, off the query path).
    val base = embeddings.select(col("vec_id"),
      expr("cast(embedding as array<double>)").as("v"))
      .filter(assert_true(col("vec_id") < DeltaBase,
        concat(lit(s"incremental IVF-PQ: corpus vec_id "), col("vec_id"),
          lit(s" >= DeltaBase ($DeltaBase) - raise DeltaBase above the id domain")))
        .isNull)
    val (scored, _) = ivfPqScored(base.unionByName(plantedDelta(embeddings)),
      trainPred = col("vec_id") < DeltaBase)
    rankAdcTopK(scored)
  }

  /** ADC scores → the incremental family's output shape: top [[TopK]]
    * per query by (adist, vec_id), emitted as (q_id, rnk, vec_id). */
  private[ops] def rankAdcTopK(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.plans.TopK.topKPerGroup(
        scored, Seq("q_id"), Seq("adist" -> true, "vec_id" -> true), TopK)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adist").asc, col("vec_id").asc)).cast("long"))
      .select(col("q_id"), col("rnk"), col("vec_id"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The BUILD half of the IVF-PQ pipeline — everything a persisted index
    * holds: (coarse centroids, residual PQ codebooks, codes = (vec_id,
    * cell, sub_idx, code), qemb = the quantized full-precision corpus for
    * downstream exact stages). [[graft.ops.IvfPqIndex]] materializes the
    * first three to gavro tables; the in-query family recomputes them. */
  private[graft] def ivfPqTrainEncode(emb0: DataFrame,
      trainPred: Column = lit(true))
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val emb = emb0.persist() // (vec_id, v)
    val qemb = emb.select(col("vec_id"), quantQv("v").as("qv"))
    // 1. coarse quantizer (the only training step that sees raw vectors)
    val coarse = Similarity.kmeansCentroids(emb.filter(trainPred), k = CoarseK)
    // 2. cell assignment + residuals
    val resid = cellResiduals(qemb, coarse).persist()
    // 3. PQ codebooks + codes over the residual space
    val books = pqCodebooksQ(
      resid.filter(trainPred).select(col("vec_id"), col("qv")))
    (coarse, books, codesFromResiduals(resid, books), qemb)
  }

  /** Cell assignment + residuals against a (frozen or just-trained)
    * coarse quantizer: argmin via struct-min — a map-side reduction, not
    * an unpartitioned window — then the integral residual per vector.
    * Returns (vec_id, cell, qv = residual). */
  private def cellResiduals(qemb: DataFrame, coarse: DataFrame): DataFrame =
    qemb.join(broadcast(coarse), lit(true))
      .select(col("vec_id"), col("qv"),
        struct(d2("qv", "cv").as("d"), col("c_id")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(min(col("sc")).as("best"), first(col("qv")).as("qv"))
      .select(col("vec_id"), col("qv"), col("best.c_id").as("cell"))
      .join(broadcast(coarse.withColumnRenamed("c_id", "cell")), "cell")
      .select(col("vec_id"), col("cell"),
        expr("zip_with(qv, cv, (a, b) -> a - b)").as("qv"))

  /** PQ code assignment against (frozen or just-trained) codebooks. The
    * cell rides the encode group key (functionally dependent on vec_id),
    * so the ADC stage needs no second corpus-wide join back to the cell
    * map — the plan audit showed that join as the only SortMergeJoin in
    * the pipeline. Returns (vec_id, cell, sub_idx, code). */
  private def codesFromResiduals(resid: DataFrame,
      books: DataFrame): DataFrame = {
    val rsub = resid.select(col("vec_id"), col("cell"), posexplode(expr(
        s"transform(sequence(0, ${M - 1}), m -> slice(qv, m * $SubDim + 1, $SubDim))")))
      .toDF("vec_id", "cell", "sub_idx", "sv")
    rsub.join(broadcast(books), "sub_idx")
      .select(col("vec_id"), col("cell"), col("sub_idx"),
        struct(d2("sv", "cv").as("d"), col("c_id")).as("sc"))
      .groupBy(col("vec_id"), col("cell"), col("sub_idx"))
      .agg(min(col("sc")).as("best"))
      .select(col("vec_id"), col("cell"), col("sub_idx"),
        col("best.c_id").as("code"))
  }

  /** ENCODE-ONLY fold-in against FROZEN quantizers: cell assignment +
    * residual PQ codes for `emb` = (vec_id, v), with `coarse`/`books`
    * taken as given — no training anywhere. One broadcast pass over the
    * new rows; cost is O(|delta|), independent of the base corpus. This
    * is the per-row half [[ivfPqTrainEncode]] runs after training, shared
    * so the persisted-index append path ([[IvfPqIndex]]) provably encodes
    * exactly as the build did. Returns (vec_id, cell, sub_idx, code). */
  private[ops] def ivfPqEncodeFrozen(emb: DataFrame, coarse: DataFrame,
      books: DataFrame): DataFrame =
    codesFromResiduals(
      cellResiduals(emb.select(col("vec_id"), quantQv("v").as("qv")), coarse),
      books)

  /** The SEARCH half: probe selection, per-probed-cell query residual
    * LUTs, and cell-pruned ADC over `codes` — exactly steps 4-5 of the
    * composed pipeline, taking the index tables as inputs so a PREBUILT
    * index (gavro-loaded) and a just-trained one run the identical plan.
    * `queries` is (q_id, qv) quantized full-precision query vectors. */
  private[ops] def ivfPqAdcScore(queries: DataFrame, coarse: DataFrame,
      books: DataFrame, codes: DataFrame): DataFrame =
    ivfPqAdc(codes, ivfPqLut(ivfPqProbes(queries, coarse), coarse, books))

  /** Step 4a — probe selection: the [[NProbe]] nearest coarse cells per
    * query, by exact integer distance with c_id tiebreak. Returns (q_id,
    * qv, cell). The prebuilt-index path collects the distinct cells off
    * this frame (≤ queries·nprobe values) to push an IN filter into the
    * codes scan. */
  private[ops] def ivfPqProbes(queries: DataFrame, coarse: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    queries
      .join(broadcast(coarse), lit(true))
      .select(col("q_id"), col("qv"), col("c_id"),
        d2("qv", "cv").as("cd"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cd").asc, col("c_id").asc)))
      .filter(col("crnk") <= NProbe)
      .select(col("q_id"), col("qv"), col("c_id").as("cell"))
  }

  /** Step 5 — ADC restricted to probed cells: the join on (cell, sub_idx,
    * code) IS the partition pruning — unprobed cells never survive it. */
  private[ops] def ivfPqAdc(codes: DataFrame, lut: DataFrame): DataFrame =
    codes.join(broadcast(lut), Seq("cell", "sub_idx", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adist"))

  /** Per-(query, probed-cell) ADC lookup table from `probes` = (q_id, qv,
    * cell): the query residual against THAT cell's centroid, one exact
    * integer distance per (sub_idx, code). */
  private[ops] def ivfPqLut(probes: DataFrame, coarse: DataFrame,
      books: DataFrame): DataFrame = {
    val qres = probes
      .join(broadcast(coarse.withColumnRenamed("c_id", "cell")), "cell")
      .select(col("q_id"), col("cell"),
        expr("zip_with(qv, cv, (a, b) -> a - b)").as("qv"))
    val qsub = qres.select(col("q_id"), col("cell"), posexplode(expr(
        s"transform(sequence(0, ${M - 1}), m -> slice(qv, m * $SubDim + 1, $SubDim))")))
      .toDF("q_id", "cell", "sub_idx", "sv")
    qsub.join(broadcast(books), "sub_idx")
      .select(col("q_id"), col("cell"), col("sub_idx"),
        col("c_id").as("code"), d2("sv", "cv").as("pd"))
  }

  /** The shared IVF-PQ pipeline through ADC scoring: returns (scored =
    * (q_id, vec_id, adist) over probed-cell candidates, qemb = the
    * quantized full-precision corpus for downstream exact stages). */
  private def ivfPqScored(emb0: DataFrame,
      trainPred: Column = lit(true)): (DataFrame, DataFrame) = {
    val (coarse, books, codes, qemb) = ivfPqTrainEncode(emb0, trainPred)
    val queries = qemb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("qv"))
    (ivfPqAdcScore(queries, coarse, books, codes), qemb)
  }

  // ------------------------------------------------------------------ oracle

  private def d2Sql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${SubDim + 1}), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** The PQ recursion unrolled as DuckDB CTEs: quantize → md5-sample →
    * subspace explode → hash seeds → 3×(argmin → integer mean with
    * lost-centroid carry) → encode all → per-query LUT → ADC sum → rank.
    * Mirrors [[Similarity]]'s kmeansSql technique per subspace. */
  private def pqSql: String = {
    val rounds = (1 to 3).map { r =>
      val prev = s"c${r - 1}"
      s"""a$r AS (
         |  SELECT vec_id, sub_idx, sv, c_id FROM (
         |    SELECT s.vec_id, s.sub_idx, s.sv, c.c_id,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub_idx
         |        ORDER BY ${d2Sql("s.sv", "c.cv")} ASC, c.c_id ASC) AS crnk
         |    FROM sub s JOIN $prev c USING (sub_idx)) WHERE crnk = 1
         |), u$r AS (
         |  SELECT sub_idx, c_id, d, sum(sv[d]) // count(*) AS m
         |  FROM a$r, range(1, ${SubDim + 1}) r(d) GROUP BY sub_idx, c_id, d
         |), n$r AS (
         |  SELECT sub_idx, c_id, list(m ORDER BY d) AS cv
         |  FROM u$r GROUP BY sub_idx, c_id
         |), c$r AS (
         |  SELECT p.sub_idx, p.c_id, coalesce(nu.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN n$r nu
         |    ON nu.sub_idx = p.sub_idx AND nu.c_id = p.c_id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH src AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |qt AS (
       |  SELECT vec_id, list_transform(v, x -> floor($QScale * x)::BIGINT) AS qv
       |  FROM src
       |), ev AS (
       |  SELECT greatest(1, (count(*) + ${512 - 1}) // 512)::BIGINT AS every FROM qt
       |), samp AS (
       |  SELECT vec_id, qv FROM qt, ev
       |  WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT % every = 0
       |), sub AS (
       |  SELECT vec_id, m::INT AS sub_idx,
       |    list_slice(qv, m * $SubDim + 1, m * $SubDim + $SubDim) AS sv
       |  FROM samp, range(0, $M) r(m)
       |), allsub AS (
       |  SELECT vec_id, m::INT AS sub_idx,
       |    list_slice(qv, m * $SubDim + 1, m * $SubDim + $SubDim) AS sv
       |  FROM qt, range(0, $M) r(m)
       |), seedids AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT vec_id,
       |      (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1)::INT AS c_id
       |    FROM samp) WHERE c_id < $K
       |), c0 AS (
       |  SELECT s.sub_idx, sd.c_id, s.sv AS cv
       |  FROM sub s JOIN seedids sd USING (vec_id)
       |),
       |$rounds,
       |codes AS (
       |  SELECT vec_id, sub_idx, c_id FROM (
       |    SELECT s.vec_id, s.sub_idx, c.c_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub_idx
       |        ORDER BY ${d2Sql("s.sv", "c.cv")} ASC, c.c_id ASC) AS crnk
       |    FROM allsub s JOIN c3 c USING (sub_idx)) WHERE crnk = 1
       |), lut AS (
       |  SELECT q.vec_id AS q_id, q.sub_idx, c.c_id,
       |    ${d2Sql("q.sv", "c.cv")} AS pd
       |  FROM allsub q JOIN c3 c USING (sub_idx) WHERE q.vec_id < $NumQueries
       |), scored AS (
       |  SELECT l.q_id, k.vec_id, sum(l.pd) AS adist
       |  FROM codes k JOIN lut l USING (sub_idx, c_id)
       |  WHERE k.vec_id <> l.q_id
       |  GROUP BY l.q_id, k.vec_id
       |), ranked AS (
       |  SELECT q_id, vec_id, (row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist ASC, vec_id ASC))::BIGINT AS rnk
       |  FROM scored
       |)
       |SELECT q_id, rnk, vec_id FROM ranked WHERE rnk <= $TopK
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** Full-dimension exact integer squared-L2 (the coarse probe metric). */
  private def d2FullSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${Dim + 1}), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** The IVF-PQ composition unrolled: [[Similarity.kmeansSql]] emits the
    * coarse recursion (`qt`, `c3`) and [[Similarity.assignCellsSql]] the
    * cell map; residuals, the residual-space PQ recursion (fresh `p*` CTE
    * names — the coarse rounds own `a/u/n/c`), probes, per-probed-cell
    * query residual LUTs, and the cell-pruned ADC follow. Everything is
    * integer arithmetic with deterministic tiebreaks, so the hash check
    * proves the whole index build + search, not a sample of it. */
  private[ops] def ivfPqCoreSql(
      srcSql: String = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings",
      trainPred: String = "TRUE",
      numQueries: Int = NumQueries): String = {
    val rounds = (1 to 3).map { r =>
      val prev = s"pc${r - 1}"
      s"""pa$r AS (
         |  SELECT vec_id, sub_idx, sv, c_id FROM (
         |    SELECT s.vec_id, s.sub_idx, s.sv, c.c_id,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub_idx
         |        ORDER BY ${d2Sql("s.sv", "c.cv")} ASC, c.c_id ASC) AS crnk
         |    FROM rsub s JOIN $prev c USING (sub_idx)) WHERE crnk = 1
         |), pu$r AS (
         |  SELECT sub_idx, c_id, d, sum(sv[d]) // count(*) AS m
         |  FROM pa$r, range(1, ${SubDim + 1}) r(d) GROUP BY sub_idx, c_id, d
         |), pn$r AS (
         |  SELECT sub_idx, c_id, list(m ORDER BY d) AS cv
         |  FROM pu$r GROUP BY sub_idx, c_id
         |), pc$r AS MATERIALIZED (
         |  SELECT p.sub_idx, p.c_id, coalesce(nu.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN pn$r nu
         |    ON nu.sub_idx = p.sub_idx AND nu.c_id = p.c_id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH src AS ($srcSql),
       |${Similarity.kmeansSql("src", trainPred)},
       |${Similarity.assignCellsSql},
       |res AS MATERIALIZED (
       |  SELECT a.vec_id, a.c_id AS cell,
       |    list_transform(range(1, ${Dim + 1}), i -> q.qv[i] - c.cv[i]) AS rv
       |  FROM assigned a JOIN qt q USING (vec_id) JOIN c3 c ON c.c_id = a.c_id
       |), rev AS (
       |  SELECT greatest(1, (count(*) + 511) // 512)::BIGINT AS every
       |  FROM res WHERE $trainPred
       |), rsamp AS MATERIALIZED (
       |  SELECT vec_id, rv FROM res, rev
       |  WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT % every = 0
       |    AND ($trainPred)
       |), rsub AS (
       |  SELECT vec_id, m::INT AS sub_idx,
       |    list_slice(rv, m * $SubDim + 1, m * $SubDim + $SubDim) AS sv
       |  FROM rsamp, range(0, $M) r(m)
       |), allrsub AS MATERIALIZED (
       |  SELECT vec_id, m::INT AS sub_idx,
       |    list_slice(rv, m * $SubDim + 1, m * $SubDim + $SubDim) AS sv
       |  FROM res, range(0, $M) r(m)
       |), rseeds AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT vec_id,
       |      (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1)::INT AS c_id
       |    FROM rsamp) WHERE c_id < $K
       |), pc0 AS (
       |  SELECT s.sub_idx, sd.c_id, s.sv AS cv
       |  FROM rsub s JOIN rseeds sd USING (vec_id)
       |),
       |$rounds,
       |codes AS MATERIALIZED (
       |  SELECT vec_id, sub_idx, c_id AS code FROM (
       |    SELECT s.vec_id, s.sub_idx, c.c_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub_idx
       |        ORDER BY ${d2Sql("s.sv", "c.cv")} ASC, c.c_id ASC) AS crnk
       |    FROM allrsub s JOIN pc3 c USING (sub_idx)) WHERE crnk = 1
       |), probes AS (
       |  SELECT q_id, c_id AS cell FROM (
       |    SELECT q.vec_id AS q_id, c.c_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${d2FullSql("q.qv", "c.cv")} ASC, c.c_id ASC) AS crnk
       |    FROM qt q, c3 c WHERE q.vec_id < $numQueries) WHERE crnk <= $NProbe
       |), qres AS (
       |  SELECT p.q_id, p.cell,
       |    list_transform(range(1, ${Dim + 1}), i -> q.qv[i] - c.cv[i]) AS rv
       |  FROM probes p JOIN qt q ON q.vec_id = p.q_id
       |  JOIN c3 c ON c.c_id = p.cell
       |), qsub AS (
       |  SELECT q_id, cell, m::INT AS sub_idx,
       |    list_slice(rv, m * $SubDim + 1, m * $SubDim + $SubDim) AS sv
       |  FROM qres, range(0, $M) r(m)
       |), lut AS (
       |  SELECT s.q_id, s.cell, s.sub_idx, c.c_id AS code,
       |    ${d2Sql("s.sv", "c.cv")} AS pd
       |  FROM qsub s JOIN pc3 c USING (sub_idx)
       |), scored AS (
       |  SELECT l.q_id, k.vec_id, sum(l.pd) AS adist
       |  FROM codes k JOIN res e USING (vec_id)
       |  JOIN lut l ON l.cell = e.cell AND l.sub_idx = k.sub_idx
       |    AND l.code = k.code
       |  WHERE k.vec_id <> l.q_id
       |  GROUP BY l.q_id, k.vec_id
       |)""".stripMargin
  }

  private def ivfPqSql: String =
    s"""${ivfPqCoreSql()},
       |ranked AS (
       |  SELECT q_id, vec_id, (row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist ASC, vec_id ASC))::BIGINT AS rnk
       |  FROM scored
       |)
       |SELECT q_id, rnk, vec_id FROM ranked WHERE rnk <= $TopK
       |ORDER BY q_id, rnk""".stripMargin

  /** Two-stage oracle: the IVF-PQ candidate pool (top [[RerankCand]] by
    * ADC) re-ranked by EXACT full-dimension integer L2 against `qt`.
    * Parameterized on the query count so the prebuilt-index query
    * ([[IvfPqIndex]], search-many) shares the unroll. */
  private[ops] def ivfPqRerankSql(numQueries: Int = NumQueries): String =
    s"""${ivfPqCoreSql(numQueries = numQueries)},
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adist ASC, vec_id ASC) AS crnk
       |    FROM scored) WHERE crnk <= $RerankCand
       |), rr AS (
       |  SELECT c.q_id, c.vec_id, (row_number() OVER (PARTITION BY c.q_id
       |    ORDER BY ${d2FullSql("qq.qv", "vv.qv")} ASC, c.vec_id ASC))::BIGINT AS rnk
       |  FROM cand c
       |  JOIN qt qq ON qq.vec_id = c.q_id
       |  JOIN qt vv ON vv.vec_id = c.vec_id
       |)
       |SELECT q_id, rnk, vec_id FROM rr WHERE rnk <= $TopK
       |ORDER BY q_id, rnk""".stripMargin

  /** Incremental oracle: the combined (base ∪ planted-delta) corpus with
    * both quantizer trainings restricted to base ids — the CTE unroll of
    * "frozen codebooks, delta encoded in". */
  /** The combined (base ∪ planted-delta) corpus as oracle source SQL —
    * the unroll of [[plantedDelta]], shared with the persisted-index
    * append oracles ([[IvfPqIndex]]). */
  private[ops] def ivfPqIncrementalSrcSql: String =
    s"""SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $DeltaBase,
       |    list_transform(range(1, ${Dim + 1}),
       |      i -> (embedding::DOUBLE[])[i] + (((i - 1) % 7) - 3) / 1000.0)
       |  FROM embeddings WHERE vec_id % 50 = 0""".stripMargin

  private[ops] def ivfPqIncrementalSql: String = {
    val src = ivfPqIncrementalSrcSql
    s"""${ivfPqCoreSql(src, s"vec_id < $DeltaBase")},
       |ranked AS (
       |  SELECT q_id, vec_id, (row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist ASC, vec_id ASC))::BIGINT AS rnk
       |  FROM scored
       |)
       |SELECT q_id, rnk, vec_id FROM ranked WHERE rnk <= $TopK
       |ORDER BY q_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_pq_topk" -> ((s, d) => annPqTopK(Tables.embeddings(s, d))),
    "ann_ivfpq_topk" -> ((s, d) => annIvfPqTopK(Tables.embeddings(s, d))),
    "ann_ivfpq_rerank" -> ((s, d) => annIvfPqRerankTopK(Tables.embeddings(s, d))),
    "ann_ivfpq_incremental" -> ((s, d) =>
      annIvfPqIncrementalTopK(Tables.embeddings(s, d))),
  )

  def oracleSql: Map[String, String] = Map(
    "ann_pq_topk" -> pqSql,
    "ann_ivfpq_topk" -> ivfPqSql,
    "ann_ivfpq_rerank" -> ivfPqRerankSql(),
    "ann_ivfpq_incremental" -> ivfPqIncrementalSql,
  )
}
