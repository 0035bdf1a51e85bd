package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Similarity search over an embedding column (SURVEY.md §2.7):
  * brute-force cosine top-k as the correctness baseline, plus the two
  * standard scale paths — random-hyperplane LSH buckets and IVF-style
  * centroid partitioning.
  *
  * Scale design: brute force is O(n·q) dot products — fine as a
  * verification oracle, not a 100 TB plan. LSH prunes candidates to
  * one bucket (+ multiprobe neighbors); IVF shuffles vectors once by
  * nearest centroid and probes `nprobe` cells per query, so the scan
  * is 1/nlist-th of the data per probe. Both keep everything as
  * broadcast joins + column expressions; dot products run through the
  * native codegen [[graft.plans.VectorDot]] (index-ordered and
  * therefore bit-deterministic).
  */
object Similarity {

  /** Index-ordered dot product in double precision — a native codegen
    * expression ([[graft.plans.VectorDot]]): Spark's `zip_with` +
    * `aggregate` lambdas run interpreted per element, ~100× slower on
    * a pairwise join. Deterministic left fold either way.
    */
  def dot(a: Column, b: Column): Column =
    graft.plans.VectorDot.vector_dot(a, b)

  private def dotPre(a: Column, b: Column): Column = dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Per-row prep: vector + precomputed norm, so cosine over a pair of
    * prepped rows is ONE dot (`/ (na·nb)`) instead of three — norms are
    * computed once per VECTOR, not once per PAIR. Same operations in
    * the same order as [[cosine]], so values stay bit-identical.
    */
  private def prepped(emb: DataFrame, idCol: String, vecCol: String,
                      idAs: String, vAs: String, nAs: String): DataFrame =
    graft.sources.Tables.fanOut(
      emb.select(col(idCol).as(idAs), col(vecCol).as(vAs)))
      .withColumn(nAs, norm(col(vAs)))

  /** Exact per-group top-k as a map-side-combinable AGGREGATE
    * ([[graft.plans.TopKByAgg]]): the top-k of a union is the top-k
    * of the per-partition top-k's, so a combiner ships k pairs per
    * group where `row_number() OVER (ORDER BY score DESC, id)` would
    * shuffle-sort EVERY scored row — at 10^11 candidates the window
    * sorts the corpus per query; this ships k rows per (partition,
    * query). Same selection, same order (doubles compare like
    * Spark's sort), pinned by every ANN hash gate.
    */
  def topKByAgg(score: Column, id: Column, k: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.plans.TopKByAgg(
        org.apache.spark.sql.GraftSqlBridge.toExpression(score),
        org.apache.spark.sql.GraftSqlBridge.toExpression(id), k)
        .toAggregateExpression())

  /** Shared final stage of every ANN path: scored
    * `(query_id, cand_id, score)` rows → `(query_id, cand_id, rank,
    * <outName>)`, top k per query by score desc / cand_id asc, score
    * rounded to 6 dp AFTER ranking. One [[topKByAgg]] aggregate —
    * the only shuffle ships ≤ k pairs per (partition, query).
    */
  private def rankTopK(scored: DataFrame, scoreCol: Column, k: Int,
                       outName: String): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(topKByAgg(scoreCol, col("cand_id"), k).as("__tk"))
      .select(col("query_id"),
        posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col("query_id"), col("__e.id").as("cand_id"),
        (col("__pos") + 1).cast("bigint").as("rank"),
        round(col("__e.score"), 6).as(outName))

  /** A1 — exact cosine top-k: for each query vector (`queryPred`
    * selects queries), the k nearest other vectors. The query side is
    * broadcast; ranking is deterministic (score desc, id asc).
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int = 10): DataFrame = {
    val q = prepped(emb.filter(queryPred), idCol, vecCol,
      "query_id", "qv", "qn")
    val c = prepped(emb, idCol, vecCol, "cand_id", "cv", "cn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cos",
        dotPre(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(scored, col("cos"), k, "cos_sim")
  }

  /** Deterministic random hyperplanes (seeded) as literal arrays —
    * broadcast to every task as part of the plan. `private[graft]` so
    * the oracle-SQL generator can emit the SAME plane constants as
    * lossless double literals.
    */
  private[graft] def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Seq[Array[Double]] = {
    val r = new Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(r.nextGaussian()))
  }

  /** Sign-bucket of a vector against the hyperplane set: an
    * nPlanes-bit integer.
    */
  private def lshBucket(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val lits = array(p.map(lit): _*)
      when(dot(vec, lits) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** A2 — LSH-bucketed ANN: candidates share the query's sign-bucket
    * or any bucket within `probeBits` bit-flips of it (multiprobe),
    * then exact cosine rank within candidates. At 100 TB the bucket
    * join replaces the full scan.
    *
    * `probeBits` is the recall knob: probing Hamming-radius r costs
    * Σ C(nPlanes, i) bucket lookups per query and widens recall
    * because a near neighbor disagrees with the query on few plane
    * signs — each extra bit of probe radius recovers the neighbors
    * lost to one more sign flip. Tune radius and plane count
    * together: planes ≈ log₂(corpus / target-bucket-size), then raise
    * probeBits until recall meets the application's floor.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int = 10, nPlanes: Int = 12,
              dim: Int = 64, seed: Long = 42L,
              probeBits: Int = 1): DataFrame = {
    require(probeBits >= 0 && probeBits <= nPlanes,
      s"probeBits must be in [0,$nPlanes], got $probeBits")
    val planes = hyperplanes(dim, nPlanes, seed)
    val bucketed = emb.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val q = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        lshBucket(col(vecCol), planes).as("qbucket"))
    // multiprobe: every xor-mask of ≤ probeBits plane bits (mask 0 is
    // the bucket itself); masks are pairwise distinct, so no pair is
    // probed twice
    val masks: Seq[Long] = (0 to probeBits).flatMap(d =>
      (0 until nPlanes).combinations(d)
        .map(_.foldLeft(0L)((m, i) => m | (1L << i))))
    val probes = q.select(col("query_id"), col("qv"),
      explode(array(masks.map(m =>
        col("qbucket").bitwiseXOR(lit(m))): _*))
        .as("bucket"))
    val cand = bucketed.join(broadcast(probes),
        Seq("bucket")).filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    rankTopK(cand, col("cos"), k, "cos_sim")
  }

  /** A3 — IVF-style ANN: `centroidPred` picks the coarse centroid set
    * (at real scale: a k-means output); every vector is assigned to
    * its nearest centroid (one shuffle), queries probe the `nprobe`
    * nearest cells. Returns exact cosine rank within probed cells.
    */
  /** Nearest-centroid assignment against an explicit centroid TABLE
    * `(cell, centv)` — the general form [[assignCells]] and the
    * [[kmeansIterate]] loop share: broadcast the (centroid-sized)
    * table, keep each vector's argmax-cosine centroid (ties to the
    * smallest cell id). The argmax is a map-side-combinable
    * `min(struct(-cos, cell, cv))`, not a window: a combiner reduces
    * the joined n·k pairs to n survivors inside the scan stage,
    * where a row_number would shuffle-sort all n·k (IEEE negation is
    * exact, so the struct order — and every downstream gate hash —
    * is identical to the ordered window it replaces). One broadcast
    * join + one shuffle of n assignment rows.
    */
  def assignToCentroids(emb: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame): DataFrame =
    assignMin(emb, idCol, vecCol, centroids, carryVec = true)
      .select(col("cand_id"), col("__w.cv").as("cv"),
        col("__w.cell").as("cell"))

  /** [[assignToCentroids]] without the vector column in the output —
    * the form for consumers that only need the label (the k-means
    * final assignment). Identical cell per id: `cell` is unique per
    * centroid row, so the struct comparison never reaches the dropped
    * `cv` field — and not carrying it keeps the per-row min buffer at
    * (double, id) instead of (double, id, dim×double) (§4).
    */
  private[graft] def assignCellOnly(emb: DataFrame, idCol: String,
                                    vecCol: String,
                                    centroids: DataFrame): DataFrame =
    assignMin(emb, idCol, vecCol, centroids, carryVec = false)
      .select(col("cand_id"), col("__w.cell").as("cell"))

  /** Shared argmax-cosine core: norms are computed ONCE per vector and
    * ONCE per centroid instead of per (vector, centroid) pair — the
    * [[prepped]] discipline (cosine is dot/(norm·norm) with the same
    * operand order, so scores stay bit-identical); per pair only the
    * cross dot product remains (one [[dot]] instead of three).
    */
  private def assignMin(emb: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame,
                        carryVec: Boolean): DataFrame = {
    val cents = centroids.select(col("cell"), col("centv"),
      norm(col("centv")).as("__cn"))
    val negcos = negate(dotPre(col("cv"), col("centv")) /
      (col("__vn") * col("__cn"))).as("negcos")
    val fields =
      if (carryVec) Seq(negcos, col("cell"), col("cv"))
      else Seq(negcos, col("cell"))
    emb.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
      .withColumn("__vn", norm(col("cv")))
      .join(broadcast(cents))
      .groupBy(col("cand_id"))
      .agg(min(struct(fields: _*)).as("__w"))
  }

  /** Nearest-centroid assignment where the centroids are emb rows
    * picked by `centroidPred`: every vector → (cand_id, cv, cell).
    * Shared by the IVF probe path and the centroid-update step.
    */
  def assignCells(emb: DataFrame, idCol: String, vecCol: String,
                  centroidPred: Column): DataFrame =
    assignToCentroids(emb, idCol, vecCol,
      emb.filter(centroidPred)
        .select(col(idCol).as("cell"), col(vecCol).as("centv")))

  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, centroidPred: Column,
              k: Int = 10, nprobe: Int = 2): DataFrame =
    ivfTopKIndexed(emb, idCol, vecCol, queryPred,
      emb.filter(centroidPred)
        .select(col(idCol).as("cell"), col(vecCol).as("centv")),
      k, nprobe)

  /** A3 (trained form) — the IVF probe against an EXPLICIT centroid
    * table `(cell, centv)`: the serve side of the train→serve loop,
    * fed by [[kmeansIterate]]'s trained centroids (or any externally
    * built coarse quantizer). [[ivfTopK]] is this with the centroid
    * table drawn from emb rows. Same plan shape: centroids broadcast
    * twice (assign + probe), one shuffle on the vector id, exact
    * cosine rank within probed cells.
    */
  def ivfTopKIndexed(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, centroids: DataFrame,
                     k: Int = 10, nprobe: Int = 2): DataFrame = {
    val assigned = assignToCentroids(emb, idCol, vecCol, centroids)
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("qdist").desc, col("cell"))
    val probed = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(broadcast(centroids))
      .withColumn("qdist", cosine(col("qv"), col("centv")))
      .withColumn("r", row_number().over(probeW))
      .filter(col("r") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
    rankTopK(assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosine(col("qv"), col("cv"))),
      col("cos"), k, "cos_sim")
  }

  /** A4 — centroid UPDATE step (the k-means / IVF index-training inner
    * loop): assign every vector to its nearest centroid, then
    * aggregate each cell's SUFFICIENT STATISTICS — per-position
    * element sum and member count. Emitted LONG as
    * (cell, pos, sum_val, n_vec): a plain groupBy over posexploded
    * elements with map-side partial aggregation, no wide rows, no
    * collect. The division into means happens on the centroid-sized
    * result ([[centroidMeans]]) — exactly how distributed k-means
    * updates run (ship sums, divide centrally), and it keeps the gate
    * exact: a rounded QUOTIENT of a sum is the one value two engines
    * can round differently at the last decimal place.
    *
    * Determinism: elements are quantized to 6 decimal places and
    * summed in EXACT decimal, so the sums are bit-identical under any
    * partitioning/order and any engine (a raw float sum would differ
    * run-to-run at 1000 executors). 6 dp of a unit-normalized float32
    * embedding is below its representational noise floor.
    */
  def centroidUpdate(emb: DataFrame, idCol: String, vecCol: String,
                     centroidPred: Column): DataFrame =
    centroidStats(assignCells(emb, idCol, vecCol, centroidPred))

  /** The sufficient-statistics aggregate over an assignment
    * (`cand_id, cv, cell` from [[assignToCentroids]]): per (cell, pos)
    * exact-decimal element sum + member count. See [[centroidUpdate]]
    * for the determinism rationale.
    */
  def centroidStats(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "v")))
      .select(col("cell"), (col("pos") + 1).cast("bigint").as("pos"),
        round(col("v").cast("double"), 6).cast("decimal(18,6)").as("el"))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("el")).cast("double").as("sum_val"),
        count(lit(1)).as("n_vec"))

  /** The new centroid table from [[centroidUpdate]]'s statistics. */
  def centroidMeans(stats: DataFrame): DataFrame =
    stats.select(col("cell"), col("pos"),
      (col("sum_val") / col("n_vec")).as("mean_val"))

  /** [[centroidMeans]] reassembled into a `(cell, centv)` centroid
    * table (array<double>, index-ordered via a struct sort — no window,
    * no nondeterministic collect order). Cells that lost every member
    * simply have no stats rows and drop out — the standard k-means
    * empty-cell behavior. Means stay the RAW double quotient
    * sum_val / n_vec: the dividend is already exact-decimal-determined
    * and IEEE division is correctly rounded, so the quotient is
    * bit-identical on any engine — whereas ROUNDING a quotient is the
    * one step two engines legitimately disagree on at the last decimal
    * place (integer-grid sums over even cell sizes land exactly on
    * rounding halves, where BigDecimal HALF_UP and float-multiply
    * rounding split).
    */
  def centroidTable(stats: DataFrame): DataFrame =
    centroidMeans(stats)
      .groupBy(col("cell"))
      .agg(array_sort(
          collect_list(struct(col("pos"), col("mean_val").as("mv"))))
        .as("__pm"))
      .select(col("cell"),
        transform(col("__pm"), p => p.getField("mv")).as("centv"))

  /** A4 (iterated) — Lloyd's k-means over the cosine geometry, the
    * loop a real IVF index build runs to train its coarse centroids:
    * seed centroids from `initPred` rows, then repeat assign →
    * sufficient-stats → means until the centroids stop moving
    * (`movement <= tol`, movement = Σ|new−old| over the quantized
    * element grid, computed in exact decimal so the convergence
    * decision is deterministic on any engine/partitioning) or
    * `maxIter` rounds.
    *
    * Per-round cost at scale: one broadcast of the k×dim centroid
    * table, one scan of the corpus, one (cell, pos)-keyed partial
    * aggregate — no corpus shuffle ever; per-round lineage truncation
    * via [[graft.Checkpoints.truncate]]. The per-round movement scalar
    * is the only thing the driver sees.
    * Mean centroids are NOT renormalized: cosine is scale-invariant in
    * the centroid argument, so the argmax assignment is identical
    * either way (spherical k-means without the cosmetic normalize).
    *
    * Returns (final assignment `(cand_id, cell)`, trained centroid
    * table `(cell, centv)` — feed it to [[ivfTopKIndexed]] to serve
    * the index — and per-round movement). A NEGATIVE `tol` disables
    * early stopping entirely — the loop runs exactly `maxIter`
    * rounds, so the run is reproducible by unrolling exactly
    * `maxIter` assign/update rounds (how the driver gate's SQL oracle
    * mirrors it; grid movement 0 does not quite imply a raw-double
    * fixpoint, so the gate pins the round count instead).
    */
  def kmeansIterate(emb: DataFrame, idCol: String, vecCol: String,
                    initPred: Column, maxIter: Int = 10,
                    tol: Double = 0.0)
      : (DataFrame, DataFrame, Seq[Double]) = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    graft.Checkpoints.cached(graft.sources.Tables.fanOut(
      emb.select(col(idCol).as("cand_id"), col(vecCol).as("cv")))) { base =>
      // quantized long form of a centroid table — the grid the movement
      // metric lives on (same 6-dp decimal quantization as the stats)
      def longForm(c: DataFrame, vAs: String): DataFrame =
        c.select(col("cell"), posexplode(col("centv")).as(Seq("pos", "v")))
          .select(col("cell"), (col("pos") + 1).cast("bigint").as("pos"),
            round(col("v").cast("double"), 6).cast("decimal(18,6)").as(vAs))
      var cent = graft.Checkpoints.truncate(
        emb.filter(initPred)
          .select(col(idCol).as("cell"), col(vecCol).as("centv")))
      val moves = scala.collection.mutable.ArrayBuffer.empty[Double]
      var iter = 0
      var converged = false
      // r19: with early stopping disabled (tol < 0) the per-round
      // movement scalar gates nothing — so instead of one driver action
      // PER ROUND (a full job over tiny checkpointed tables, pure
      // scheduling overhead at low SF), the round pairs are remembered
      // and all movements compute in ONE batched job after the loop
      // (identical arithmetic: same per-round inner join, same exact-
      // decimal sum, grouped by round tag). With tol >= 0 the per-round
      // action stays — it decides the loop.
      val batchMoves = tol < 0
      val pending =
        scala.collection.mutable.ArrayBuffer.empty[(DataFrame, DataFrame)]
      while (iter < maxIter && !converged) {
        val newCent = graft.Checkpoints.truncate(centroidTable(
          centroidStats(assignToCentroids(base, "cand_id", "cv", cent))))
        if (batchMoves) pending += ((cent, newCent))
        else {
          // inner join: a cell that lost all members contributes no
          // movement (it no longer exists to move)
          val mv = longForm(cent, "o").join(longForm(newCent, "n"),
              Seq("cell", "pos"))
            .agg(coalesce(sum(abs(col("o") - col("n"))),
              lit(java.math.BigDecimal.ZERO)).cast("double"))
            .head().getDouble(0)
          moves += mv
          if (mv <= tol) converged = true
        }
        cent = newCent
        iter += 1
      }
      if (pending.nonEmpty) {
        val byRound = pending.zipWithIndex.map { case ((o, n), i) =>
            longForm(o, "o").join(longForm(n, "n"), Seq("cell", "pos"))
              .select(lit(i).as("__round"),
                abs(col("o") - col("n")).as("__d"))
          }.reduce(_ unionByName _)
          .groupBy(col("__round"))
          .agg(sum(col("__d")).cast("double").as("__mv"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        // a round whose join was empty has no group — its movement is 0
        // (exactly the per-round coalesce above)
        pending.indices.foreach(i => moves += byRound.getOrElse(i, 0.0))
      }
      (graft.Checkpoints.truncate(
        assignCellOnly(base, "cand_id", "cv", cent)), cent, moves.toSeq)
    }
  }

  /** D5 (scale path) — LSH-bucketed near-dup pairs: candidate pairs
    * share a sign-bucket or any 1-bit-flipped neighbor (multiprobe),
    * then exact cosine verify at ≥ `threshold`. The bucket equi-join
    * replaces [[cosineNearDupPairs]]'s O(n²) product — this is the
    * form to run at 100 TB (recall is bounded by the probe radius; add
    * planes/probes or union several seeds to widen it).
    *
    * Join-shape note: only the LEFT side explodes probes; with the
    * `id_a < id_b` filter each qualifying pair matches exactly once (a
    * bucket and its 1-bit flips are pairwise distinct values), so no
    * post-join distinct over heavy vector columns is needed.
    */
  def cosineNearDupPairsLsh(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, nPlanes: Int = 12,
                            dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, nPlanes, seed)
    val base = prepped(emb, idCol, vecCol, "id", "v", "nrm")
      .withColumn("bucket", lshBucket(col("v"), planes))
    val probes = base.select(col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"),
      explode(array((col("bucket") +: (0 until nPlanes).map(i =>
        col("bucket").bitwiseXOR(shiftleft(lit(1L), i)))): _*)).as("bucket"))
    probes.join(
        base.select(col("id").as("id_b"), col("v").as("vb"),
          col("nrm").as("nb"), col("bucket")),
        Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(dotPre(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos").as("cos_sim"))
  }

  /** D5 — embedding-cosine near-duplicate pairs at ≥ `threshold`.
    * Pairwise here (the correctness form); the scale path is
    * [[cosineNearDupPairsLsh]] (or `lshTopK`/`ivfTopK` with a
    * threshold filter).
    */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    val a = prepped(emb, idCol, vecCol, "id_a", "va", "na")
    val b = prepped(emb, idCol, vecCol, "id_b", "vb", "nb")
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cos",
        round(dotPre(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos").as("cos_sim"))
  }

  /** D11 — SEMANTIC near-duplicate pairs, the cluster-then-prune scale
    * path (the SemDeDup recipe, Abbas et al. 2023): assign every
    * vector to its nearest centroid cell, then compute pairwise cosine
    * ONLY within each cell. Where [[cosineNearDupPairsLsh]] buckets by
    * DATA-BLIND random hyperplanes, this buckets by a LEARNED coarse
    * quantizer — centroids from [[kmeansIterate]] adapt the partition
    * to the corpus's actual density, so near-dup pairs (which cluster
    * together by construction) co-locate with higher recall at equal
    * pair budget.
    *
    * Scale shape: one centroid broadcast + one corpus scan for the
    * assignment, one shuffle on `cell` for the self-join; pair space
    * is Σ|cell|² instead of n² — the cell count is the knob (k ≈
    * corpus/target-cell-size keeps cells task-sized; AQE splits a
    * skewed cell's join at runtime). Recall is traded at cell
    * BOUNDARIES only: a pair straddling two cells is missed, which is
    * the same trade every IVF-style index makes (and why `centroids`
    * should come from a trained quantizer in production).
    *
    * Output: (id_a, id_b, cell, cos_sim) with id_a < id_b — `cell`
    * kept so downstream canonical-doc selection can stay cell-local.
    */
  def semanticNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                           centroids: DataFrame,
                           threshold: Double): DataFrame = {
    val assigned = assignToCentroids(emb, idCol, vecCol, centroids)
      .withColumn("nrm", norm(col("cv")))
    val a = assigned.select(col("cell"), col("cand_id").as("id_a"),
      col("cv").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("cand_id").as("id_b"),
      col("cv").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(dotPre(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cell"),
        col("cos").as("cos_sim"))
  }

  /** [[semanticNearDupPairs]] with the coarse quantizer drawn from emb
    * rows selected by `centroidPred` — the untrained-seed form the
    * gate pins (deterministic, oracle-mirrorable); production trains
    * the centroids first ([[kmeansIterate]]) and calls the table form.
    */
  def semanticNearDupPairsSeeded(emb: DataFrame, idCol: String,
                                 vecCol: String, centroidPred: Column,
                                 threshold: Double): DataFrame =
    semanticNearDupPairs(emb, idCol, vecCol,
      emb.filter(centroidPred)
        .select(col(idCol).as("cell"), col(vecCol).as("centv")),
      threshold)

  // ===================================================================
  // A5 — product quantization: the MEMORY side of the ANN story.
  // A 100 TB embedding corpus is ~10^11 vectors × 64 floats; serving
  // exact or IVF ANN needs the vectors resident, which is the scale
  // wall. PQ stores M small CODES per vector instead (here 4 codes ≈
  // 4 bytes vs 256 — a 64× cut), and answers top-k from codes alone
  // via asymmetric distance computation (ADC): per query, one tiny
  // (M × |codebook|) lookup table of exact subspace dot products, then
  // every candidate's score is M table lookups summed — no vector is
  // ever read at query time. Jégou et al., "Product Quantization for
  // Nearest Neighbor Search", TPAMI 2011.
  //
  // Geometry: subspace quantizers are trained and assigned in L2
  // (mean update IS Lloyd's optimal centroid for L2 — the same
  // sufficient-stats machinery as the cosine k-means), and the ADC
  // score reconstructs cosine(q, x̂) = Σⱼ⟨qⱼ, cⱼ⟩ / (‖q‖·‖x̂‖) with
  // ‖x̂‖² = Σⱼ⟨cⱼ, cⱼ⟩ — both numerator and norm are sums of
  // codebook-resident terms.
  // ===================================================================

  /** The argmin-equivalent of squared L2 distance to a centroid:
    * ‖a−b‖² = ‖a‖² − 2⟨a,b⟩ + ‖b‖², and ‖a‖² is constant within an
    * argmin-over-b group — so the comparison key drops it and reads
    * the centroid's ‖b‖² from a precomputed broadcast-side column
    * (`ccCol`), leaving ONE codegen'd dot per joined row instead of
    * three. Not a distance (can be negative); only its within-group
    * order is meaningful.
    */
  /** The `m` contiguous subspace slices of a vector column, exploded
    * long: (…, subspace, subvec). `dim` must divide evenly — a PQ
    * layout is a declared contract, not an inference.
    */
  private def sliced(emb: DataFrame, idCol: String, vecCol: String,
                     m: Int, dim: Int): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into $m subspaces")
    val sd = dim / m
    val slices = array((0 until m).map(j =>
      slice(col(vecCol), j * sd + 1, sd)): _*)
    emb.select(col(idCol).as("cand_id"),
      posexplode(slices).as(Seq("subspace", "subvec")))
  }

  /** Train the PQ codebook: per subspace, `rounds` rounds of L2 Lloyd
    * (argmin squared distance, ties to the smallest cell id; mean
    * update IS Lloyd's optimal centroid for L2) seeded from `initPred`
    * rows' slices. Returns `(subspace, code, centv)` — M × |seeds|
    * rows, the entire serving index metadata. Fixed rounds (no early
    * stop) keep the training run reproducible round-for-round, the
    * same contract as the gated [[kmeansIterate]] form.
    *
    * All M subspaces train JOINTLY: per round, ONE broadcast of the
    * full (subspace, cell, centv) codebook joined on `subspace`, one
    * scan of the persisted sliced projection, and two partial aggs —
    * the argmin (a map-side-combinable `min(struct(cdist, cell))`,
    * NOT a window: a row_number over the joined n·M·|codebook| rows
    * would sort what a combiner reduces to n·M survivors before the
    * shuffle) and the (subspace, cell, pos) exact-decimal stats agg.
    * The per-round job count is independent of M (an M-loop of
    * per-subspace Lloyd jobs would rescan the corpus M × rounds
    * times; the subspaces are independent problems that share every
    * scan). The struct-min tie-breaks exactly like the ordered
    * window (cdist, then smallest cell), sums ride the same 6-dp
    * decimal grid as [[centroidStats]], and means stay raw IEEE
    * quotients, so the result is bit-identical to training each
    * subspace alone with windowed assignment — the batching is a
    * plan property, not a semantics change.
    */
  def pqTrain(emb: DataFrame, idCol: String, vecCol: String,
              m: Int, dim: Int, initPred: Column,
              rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    graft.Checkpoints.cached(graft.sources.Tables.fanOut(
      sliced(emb, idCol, vecCol, m, dim))) { long =>
      var cent = sliced(emb.filter(initPred), idCol, vecCol, m, dim)
        .select(col("subspace"), col("cand_id").as("cell"),
          col("subvec").as("centv"))
      (0 until rounds).foreach { _ =>
        // r19: the assign step is a per-row argmin (see pqEncode) —
        // the collected-codebook kernel replaces the n·M·K broadcast
        // join + struct-min; the struct's subvec tie field was dead
        // (cell is unique per code, so comparison never reached it)
        val book = graft.plans.PqBook.fromCodebook(cent, m,
          "subspace", "cell", "centv")
        val stats = long
          .select(col("subspace"),
            graft.plans.PqArgminApi.nearest_code(col("subspace"),
              col("subvec"), book).as("cell"),
            posexplode(col("subvec")).as(Seq("pos", "v")))
          .select(col("subspace"), col("cell"),
            (col("pos") + 1).cast("bigint").as("pos"),
            round(col("v").cast("double"), 6).cast("decimal(18,6)")
              .as("el"))
          .groupBy(col("subspace"), col("cell"), col("pos"))
          .agg(sum(col("el")).cast("double").as("sum_val"),
            count(lit(1)).as("n_vec"))
        cent = graft.Checkpoints.truncate(stats
          .select(col("subspace"), col("cell"), col("pos"),
            (col("sum_val") / col("n_vec")).as("mean_val"))
          .groupBy(col("subspace"), col("cell"))
          .agg(array_sort(
              collect_list(struct(col("pos"), col("mean_val").as("mv"))))
            .as("__pm"))
          .select(col("subspace"), col("cell"),
            transform(col("__pm"), p => p.getField("mv")).as("centv")))
      }
      cent.select(col("subspace"), col("cell").as("code"), col("centv"))
    }
  }

  /** The PRODUCTION entry to PQ training: a codebook of exactly `k`
    * codes per subspace, whatever the corpus size. Codebook size is a
    * MODEL CONSTANT, not a corpus function — train cost is k·corpus
    * per round, so an init whose seed count scales with the corpus
    * (the gates' `id % 17` recipe, kept there only for oracle
    * replay) melts at scale: measured at sf1, the modulo init's
    * k≈1176 codebook trained in 911 s where this fixed k=120 trains
    * in 7.2 s on the same data (docs/SCALE.md "sf1 serve-loop
    * stress"). Seeds are the `k` rows ranked first by
    * (xxhash64(id), id) — deterministic for a given corpus (re-runs
    * retrain bit-identically), hash-spread across the id space (no
    * locality bias from "first k ids"), and resolved driver-side as a
    * bounded k-row TakeOrdered, never a full sort. Delegates to
    * [[pqTrain]] — same joint-subspace Lloyd, same decimal grid, same
    * reproducibility contract.
    */
  def pqTrainFixedK(emb: DataFrame, idCol: String, vecCol: String,
                    m: Int, dim: Int, k: Int = 120,
                    rounds: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val seeds = emb.select(col(idCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(k).collect().map(_.get(0)).toSeq
    require(seeds.nonEmpty, "cannot train a PQ codebook on an empty corpus")
    pqTrain(emb, idCol, vecCol, m, dim,
      col(idCol).isInCollection(seeds), rounds)
  }

  /** Encode every vector as its per-subspace nearest code:
    * `(id, subspace, code)` long form — M small ints per vector, the
    * only thing the serving tier keeps per candidate. The argmin is
    * the same map-side-combinable struct-min as [[pqTrain]]'s assign
    * step (ties to the smallest code), so the broadcast join's
    * n·M·|codebook| rows reduce to n·M inside the scan stage.
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    // r19: `sliced` emits ONE row per (id, subspace), so the previous
    // broadcast join + min(struct) reduced singleton groups — a
    // per-row argmin phrased as an n·M·K join. The collected-codebook
    // kernel ([[graft.plans.PqBook]]) computes the same argmin (same
    // fold, same cc, same tie order — see its parity contract) in a
    // pure map: no join rows, no aggregation, no exchange.
    val book = graft.plans.PqBook.fromCodebook(codebook, m,
      "subspace", "code", "centv")
    sliced(emb, idCol, vecCol, m, dim)
      .select(col("cand_id").as("id"), col("subspace"),
        graft.plans.PqArgminApi.nearest_code(col("subspace"),
          col("subvec"), book).as("code"))
  }

  /** Reconstruct x̂ from codes (centroid concatenation, subspace
    * order) — the decode side, used to measure quantization error.
    */
  def pqDecode(codes: DataFrame, codebook: DataFrame): DataFrame =
    codes.join(broadcast(codebook), Seq("subspace", "code"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("subspace"), col("centv"))))
        .as("__sc"))
      .select(col("id"),
        flatten(transform(col("__sc"), s => s.getField("centv")))
          .as("decoded"))

  /** A5 — ADC top-k: approximate cosine rank of every encoded
    * candidate against each query, from codes + codebook alone.
    * The per-query lookup table (subspace × code → ⟨qⱼ, c⟩, ‖c‖²) is
    * queries × codebook — broadcast-sized; candidates are one scan of
    * the codes table with M lookups each (a broadcast join on
    * (subspace, code) + one sum per candidate). Production re-ranks
    * the top-R survivors with exact vectors; the gate floors the raw
    * ADC recall so the approximation itself is pinned.
    */
  def pqTopK(queries: DataFrame, idCol: String, vecCol: String,
             codes: DataFrame, codebook: DataFrame,
             m: Int, dim: Int, k: Int = 10): DataFrame = {
    val lut = sliced(queries, idCol, vecCol, m, dim)
      .select(col("cand_id").as("query_id"), col("subspace"),
        col("subvec"))
      .join(codebook, Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("code"),
        // the (38,18) fixed-point limbs of the per-subspace dot
        // products, computed ONCE on the broadcast-sized LUT: the
        // big-side ADC aggregation then sums bare longs
        // (graft.plans.Decimal128.LimbSumLongs) instead of paying a
        // double->decimal(38,18) BigDecimal conversion per joined row
        // per buffer slot — value-identical to the previous
        // sum(qc.cast(decimal(38,18))) exact-decimal sums
        graft.plans.Decimal128Api.unscaled_lo(
          dot(col("subvec"), col("centv")).cast("decimal(38,18)"))
          .as("__qcl"),
        graft.plans.Decimal128Api.unscaled_hi(
          dot(col("subvec"), col("centv")).cast("decimal(38,18)"))
          .as("__qch"),
        graft.plans.Decimal128Api.unscaled_lo(
          dot(col("centv"), col("centv")).cast("decimal(38,18)"))
          .as("__ccl"),
        graft.plans.Decimal128Api.unscaled_hi(
          dot(col("centv"), col("centv")).cast("decimal(38,18)"))
          .as("__cch"))
    val qnorm = queries.select(col(idCol).as("query_id"),
      norm(col(vecCol)).as("qn"))
    rankTopK(codes.join(broadcast(lut), Seq("subspace", "code"))
      .groupBy(col("query_id"), col("id"))
      // EXACT-DECIMAL partial sums (the BM25 per-term discipline):
      // the m per-subspace doubles are row-local and identical on
      // every path, but a DOUBLE sum is order-sensitive — codes read
      // from an index's cell partitions aggregate in a different row
      // order than freshly-encoded codes, and with near-duplicate
      // corpora the shortlist's rank-`rerank` cut sits in an exact
      // ADC-tie zone, so a last-ulp difference flips WHICH tied
      // candidate survives the cut (caught by the sf1 sweep:
      // indexed serve ≠ in-memory serve at 10× replication). Decimal
      // addition is order-free, so the ADC score — and therefore the
      // shortlist — is bit-identical however the codes are stored.
      .agg(graft.plans.Decimal128Api
          .sum128Wide(col("__qcl"), col("__qch"), 38, 18).cast("double")
          .as("qdot"),
        graft.plans.Decimal128Api
          .sum128Wide(col("__ccl"), col("__cch"), 38, 18).cast("double")
          .as("cn2"))
      .join(broadcast(qnorm), Seq("query_id"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("acos", col("qdot") / (col("qn") * sqrt(col("cn2"))))
      .withColumnRenamed("id", "cand_id"),
      col("acos"), k, "approx_cos")
  }

  /** Exact cosine re-rank of any `(query_id, cand_id)` shortlist —
    * stage 2 of every two-stage ANN serve (PQ/LSH/IVF shortlists
    * alike). Reads exactly the shortlisted vectors per query via an
    * id equi-join — at 10^11 candidates that is the difference
    * between scanning the corpus and touching a few dozen rows.
    * Output schema matches [[bruteForceTopK]] (exact cosine values,
    * same tie order), so the quality delta vs exact search is pure
    * recall, never score drift.
    */
  def pqRerank(emb: DataFrame, idCol: String, vecCol: String,
               queryPred: Column, shortlist: DataFrame,
               k: Int = 10): DataFrame = {
    val q = prepped(emb.filter(queryPred), idCol, vecCol,
      "query_id", "qv", "qn")
    val c = prepped(emb, idCol, vecCol, "cand_id", "cv", "cn")
    rankTopK(shortlist.select(col("query_id"), col("cand_id"))
      .join(c, Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos",
        dotPre(col("qv"), col("cv")) / (col("qn") * col("cn"))),
      col("cos"), k, "cos_sim")
  }

  /** A5 (served form) — ADC shortlist of `rerank` candidates, exact
    * cosine re-rank of the shortlist ([[pqRerank]]): the standard
    * two-stage PQ serve. Stage 1 reads NO vectors (codes + codebook
    * only); stage 2 touches only the shortlist.
    */
  def pqTopKReranked(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, codes: DataFrame,
                     codebook: DataFrame, m: Int, dim: Int,
                     k: Int = 10, rerank: Int = 50): DataFrame = {
    require(rerank >= k, s"rerank width $rerank must cover k=$k")
    pqRerank(emb, idCol, vecCol, queryPred,
      pqTopK(emb.filter(queryPred), idCol, vecCol,
        codes, codebook, m, dim, rerank), k)
  }

  /** D9b — SEMANTIC contamination check: eval-set leakage detection
    * in embedding space, the dense complement of the lexical n-gram
    * [[Dedup.contaminationCheck]] (a paraphrased benchmark item
    * shares no 3-grams but still sits next to its source in
    * embedding space). Flags corpus vectors within `minCos` of ANY
    * benchmark vector, with the D9 scale argument verbatim: the
    * benchmark side BROADCASTS (eval sets are small by definition)
    * and the corpus streams through one scan — n·|bench| comparisons
    * map-side, no shuffle, no pair table. For benchmark suites past
    * broadcast size, run the benchmark as QUERIES through the
    * persisted [[VectorIndex]] instead (same cosine math, probed-cell
    * cost); this form is the exact reference the index probe is
    * measured against.
    */
  def semanticContamination(emb: DataFrame, idCol: String,
                            vecCol: String, isBenchmark: Column,
                            minCos: Double): DataFrame = {
    val bench = emb.filter(isBenchmark)
      .select(col(idCol).as("bench_id"), col(vecCol).as("bv"))
    emb.filter(!isBenchmark)
      .select(col(idCol).as("doc_id"), col(vecCol).as("cv"))
      .join(broadcast(bench))
      .withColumn("cos_sim", round(cosine(col("cv"), col("bv")), 6))
      .filter(col("cos_sim") >= minCos)
      .select(col("doc_id"), col("bench_id"), col("cos_sim"))
  }

  // ---- A6 — IVFPQ: cell-routed product quantization --------------

  /** The IVFPQ index's candidate table: every vector's PQ codes KEYED
    * BY its coarse cell — `(id, cell, subspace, code)`. This is the
    * table a production index partitions (or bucket-sorts) by `cell`,
    * so a probe's scan touches only its probed cells' files; built
    * once per (re)index from [[pqEncode]] ⋈ [[assignToCentroids]].
    */
  def pqEncodeCells(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, codebook: DataFrame,
                    m: Int, dim: Int): DataFrame =
    pqEncode(emb, idCol, vecCol, codebook, m, dim)
      .join(assignToCentroids(emb, idCol, vecCol, centroids)
        .select(col("cand_id").as("id"), col("cell")), Seq("id"))

  /** Stage 1 of the IVFPQ serve: ADC over ONLY the probed cells'
    * codes. Queries probe their `nprobe` nearest coarse cells (the
    * [[ivfTopKIndexed]] probe — centroid-table broadcast, bounded
    * per-query window), and the ADC join starts from
    * `cellCodes ⋈ probed-cells` — a 1/nlist-per-probe slice of the
    * codes table instead of [[pqTopK]]'s full codes scan. At 10^11
    * vectors × nlist=2^16 that is the difference between scanning
    * ~100 GB of codes per query batch and a few MB per probe. The
    * per-query LUT/norm sides are broadcast-sized as in [[pqTopK]];
    * scores are identical ADC arithmetic, so recall differs from
    * global ADC only through the cell restriction — exactly IVF's
    * candidate-recall trade, measured and floored by the gate.
    */
  def ivfpqShortlist(queries: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, cellCodes: DataFrame,
                     codebook: DataFrame, m: Int, dim: Int,
                     k: Int, nprobe: Int = 2): DataFrame = {
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("qdist").desc, col("cell"))
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(broadcast(centroids))
      .withColumn("qdist", cosine(col("qv"), col("centv")))
      .withColumn("r", row_number().over(probeW))
      .filter(col("r") <= nprobe)
      .select(col("query_id"), col("cell"))
    val lut = sliced(queries, idCol, vecCol, m, dim)
      .select(col("cand_id").as("query_id"), col("subspace"),
        col("subvec"))
      .join(codebook, Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("code"),
        // the (38,18) fixed-point limbs of the per-subspace dot
        // products, computed ONCE on the broadcast-sized LUT: the
        // big-side ADC aggregation then sums bare longs
        // (graft.plans.Decimal128.LimbSumLongs) instead of paying a
        // double->decimal(38,18) BigDecimal conversion per joined row
        // per buffer slot — value-identical to the previous
        // sum(qc.cast(decimal(38,18))) exact-decimal sums
        graft.plans.Decimal128Api.unscaled_lo(
          dot(col("subvec"), col("centv")).cast("decimal(38,18)"))
          .as("__qcl"),
        graft.plans.Decimal128Api.unscaled_hi(
          dot(col("subvec"), col("centv")).cast("decimal(38,18)"))
          .as("__qch"),
        graft.plans.Decimal128Api.unscaled_lo(
          dot(col("centv"), col("centv")).cast("decimal(38,18)"))
          .as("__ccl"),
        graft.plans.Decimal128Api.unscaled_hi(
          dot(col("centv"), col("centv")).cast("decimal(38,18)"))
          .as("__cch"))
    val qnorm = queries.select(col(idCol).as("query_id"),
      norm(col(vecCol)).as("qn"))
    rankTopK(cellCodes.join(broadcast(probed), Seq("cell"))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      .groupBy(col("query_id"), col("id"))
      // EXACT-DECIMAL partial sums (the BM25 per-term discipline):
      // the m per-subspace doubles are row-local and identical on
      // every path, but a DOUBLE sum is order-sensitive — codes read
      // from an index's cell partitions aggregate in a different row
      // order than freshly-encoded codes, and with near-duplicate
      // corpora the shortlist's rank-`rerank` cut sits in an exact
      // ADC-tie zone, so a last-ulp difference flips WHICH tied
      // candidate survives the cut (caught by the sf1 sweep:
      // indexed serve ≠ in-memory serve at 10× replication). Decimal
      // addition is order-free, so the ADC score — and therefore the
      // shortlist — is bit-identical however the codes are stored.
      .agg(graft.plans.Decimal128Api
          .sum128Wide(col("__qcl"), col("__qch"), 38, 18).cast("double")
          .as("qdot"),
        graft.plans.Decimal128Api
          .sum128Wide(col("__ccl"), col("__cch"), 38, 18).cast("double")
          .as("cn2"))
      .join(broadcast(qnorm), Seq("query_id"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("acos", col("qdot") / (col("qn") * sqrt(col("cn2"))))
      .withColumnRenamed("id", "cand_id"),
      col("acos"), k, "approx_cos")
  }

  /** A6 — the full IVFPQ serve: cell-routed ADC shortlist
    * ([[ivfpqShortlist]]), exact re-rank of the shortlist
    * ([[pqRerank]]). The production 100 TB shape: stage 1 reads
    * 1/nlist of the codes per probe and no vectors; stage 2 touches
    * only the shortlisted vectors by id equi-join.
    */
  def ivfpqTopKReranked(emb: DataFrame, idCol: String, vecCol: String,
                        queryPred: Column, centroids: DataFrame,
                        cellCodes: DataFrame, codebook: DataFrame,
                        m: Int, dim: Int, k: Int = 10,
                        nprobe: Int = 2, rerank: Int = 50): DataFrame = {
    require(rerank >= k, s"rerank width $rerank must cover k=$k")
    pqRerank(emb, idCol, vecCol, queryPred,
      ivfpqShortlist(emb.filter(queryPred), idCol, vecCol, centroids,
        cellCodes, codebook, m, dim, rerank, nprobe), k)
  }

  // ===== A7 — random-projection dimensionality reduction (JL) =====

  /** Deterministic ±1 projection signs (seeded), one array per OUTPUT
    * dimension — the sparse random projection of Achlioptas 2003 (the
    * database-friendly Johnson–Lindenstrauss construction: ±1 entries
    * preserve pairwise distances within (1±ε) like Gaussian entries
    * do, but the projection is 64 sign-folds instead of 64 float
    * multiplies). `private[graft]` so the oracle-SQL generator emits
    * the SAME sign constants as literal lists (the [[hyperplanes]]
    * pattern).
    */
  private[graft] def projectionSigns(dim: Int, outDim: Int,
                                     seed: Long): Seq[Array[Double]] = {
    val r = new Random(seed)
    Seq.fill(outDim)(Array.fill(dim)(if (r.nextBoolean()) 1.0 else -1.0))
  }

  /** A7 — project an embedding column to `outDim` dimensions:
    * `proj[j] = Σ_i sign(i,j)·v[i] / √outDim`. Each output dimension
    * is ONE index-ordered [[dot]] against a literal sign vector — the
    * whole projection stays inside WholeStageCodegen, no shuffle, no
    * UDF, and the left-fold accumulation order makes the values
    * bit-reproducible by any engine's sequential fold.
    *
    * Scale design: this is the standard pre-ANN step at corpus scale —
    * a 64→16 projection cuts every downstream pairwise dot product,
    * LSH bucket test, and candidate shuffle by 4× while JL keeps
    * neighborhoods approximately intact (recall floor spec-pinned
    * against the exact 64-dim baseline). A map-only projection of a
    * 100 TB embedding table is embarrassingly parallel; the reduced
    * table is what the A2/A3 scale paths should index.
    *
    * `√outDim` must be exact in binary (outDim a power of 4: 4, 16,
    * 64…) so the scaling divide is bit-portable.
    */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    dim: Int = 64, outDim: Int = 16,
                    seed: Long = 43L): DataFrame = {
    val scale = math.sqrt(outDim.toDouble)
    require(scale == math.rint(scale),
      s"outDim must be a perfect square for an exact √outDim, got $outDim")
    val signs = projectionSigns(dim, outDim, seed)
    emb.select(col(idCol),
      array(signs.map(s =>
        dot(col(vecCol), array(s.map(lit): _*)) / scale): _*)
        .as("proj"))
  }

  /** A7 gate shape — exact top-k in the PROJECTED space: project once
    * ([[randomProject]]), then the A1 machinery verbatim on the
    * 16-dim vectors. Scores are projected-space cosines (named
    * `proj_cos` — approximations are never passed off as exact
    * cosines, the D6/A2 rule).
    */
  def projectedTopK(emb: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, k: Int = 10, dim: Int = 64,
                    outDim: Int = 16, seed: Long = 43L): DataFrame = {
    val proj = randomProject(emb, idCol, vecCol, dim, outDim, seed)
    val q = prepped(proj.filter(queryPred), idCol, "proj",
      "query_id", "qv", "qn")
    val c = prepped(proj, idCol, "proj", "cand_id", "cv", "cn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("pcos",
        dotPre(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(scored, col("pcos"), k, "proj_cos")
  }

  /** A7 (served form) — projected-space shortlist of `rerank`
    * candidates, exact full-dimension re-rank of the shortlist
    * ([[pqRerank]]): the standard two-stage reduce-then-rerank serve,
    * the A5/A6 shape with JL projection as the cheap stage. Stage 1
    * scores 4×-smaller vectors; stage 2 touches only the shortlist.
    */
  def projectedTopKReranked(emb: DataFrame, idCol: String,
                            vecCol: String, queryPred: Column,
                            k: Int = 10, rerank: Int = 50,
                            dim: Int = 64, outDim: Int = 16,
                            seed: Long = 43L): DataFrame = {
    require(rerank >= k, s"rerank width $rerank must cover k=$k")
    pqRerank(emb, idCol, vecCol, queryPred,
      projectedTopK(emb, idCol, vecCol, queryPred, rerank, dim,
        outDim, seed), k)
  }
}
