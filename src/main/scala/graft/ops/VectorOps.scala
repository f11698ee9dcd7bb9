package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *  - v1: brute-force cosine top-k against a query vector — the exactness
  *    baseline. `zip_with`+`aggregate` columns (codegen'd), sequential
  *    left-to-right double summation in both engines so the DuckDB oracle
  *    matches bit-exactly.
  *  - v2: LSH-bucketed variant (random-hyperplane sign bits) — the scale
  *    path: at 100 TB the crossJoin is replaced by a bucket-equi-join, and
  *    the query side is broadcast.
  *  - v3: per-cluster centroids (IVF coarse quantizer shape) + distance of
  *    each vector to its own centroid.
  */
object VectorOps {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Sequential double dot product — the native codegen'd expression
    * ([[graft.functions.DotProduct]]); bit-identical to the HOF
    * `aggregate(zip_with(...))` formulation the DuckDB oracles mirror.
    */
  private[graft] def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotProduct(a, b)

  private[ops] def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-20 vs the vec_id=0 query vector. */
  def annTopK(spark: SparkSession, dir: String): DataFrame = annTopKOn(emb(spark, dir))

  /** v1's brute-force scan over an already-loaded embeddings frame; v4's
    * exact branch reuses the frame it sized the dispatch on.
    */
  private[ops] def annTopKOn(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_embedding"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        (dot(col("embedding"), col("q_embedding")) /
          (norm(col("embedding")) * norm(col("q_embedding")))).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(20)
  }

  def annTopKSql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       scored AS (
         SELECT vec_id, label,
           list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.qe::DOUBLE[]),
                    p -> p[1] * p[2]))
           / (sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x*x)))
              * sqrt(list_sum(list_transform(q.qe::DOUBLE[], x -> x*x)))) AS cosine
         FROM embeddings e CROSS JOIN q)
       SELECT vec_id, label, cosine FROM scored
       ORDER BY cosine DESC, vec_id LIMIT 20"""

  /** Deterministic pseudo-random hyperplanes via splitmix64 on (plane,dim).
    * Values in [-1,1).
    */
  private[ops] def hyperplane(plane: Int, dim: Int): Array[Double] = {
    (0 until dim).map { d =>
      var z = plane.toLong * 0x9e3779b97f4a7c15L + d.toLong * 0xbf58476d1ce4e5b9L + 0x94d049bb133111ebL
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      ((z >>> 11) * 1.1102230246251565e-16) * 2.0 - 1.0
    }.toArray
  }

  /** LSH bucketing: 8 hyperplane sign bits → bucket id; returns bucket
    * occupancy (the index structure an ANN query would probe). Oracle:
    * DuckDB recomputes the buckets from the same hyperplane VALUES literals
    * ([[lshBucketsSql]]) — Double.toString round-trips exactly, so the sign
    * bits are bit-equal.
    */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val planes = (0 until 8).map(p => hyperplane(p, 64))
    val bucketBits = planes.zipWithIndex.map { case (pl, i) =>
      val plCol = array(pl.map(lit): _*)
      when(dot(col("embedding"), plCol) > 0.0, 1L << i).otherwise(0L)
    }.reduce(_ + _)
    emb(spark, dir)
      .select(col("vec_id"), bucketBits.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
      .orderBy("bucket")
  }

  def lshBucketsSql: String = {
    val values = (0 until 8).map { i =>
      val arr = hyperplane(i, 64).map(_.toString).mkString("[", ", ", "]")
      s"($i, $arr::DOUBLE[])"
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       planes(i, p) AS (VALUES
         $values),
       b AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_sum(list_transform(list_zip(e.emb, pl.p),
                                z -> z[1] * z[2])) > 0.0
                      THEN (1 << pl.i) ELSE 0 END) AS BIGINT) AS bucket
             FROM e CROSS JOIN planes pl GROUP BY e.vec_id)
       SELECT bucket, count(*) AS n_vecs FROM b GROUP BY bucket ORDER BY bucket"""
  }

  /** The (vec_id, tbl, bkt) LSH index rows shared by the bucketed ANN
    * operators (d7 near-dup in [[DedupOps.lshNearDup]], v4 top-k below):
    * `tables` independent hash tables of `bits` hyperplane sign bits each,
    * planes drawn from [[hyperplane]] with plane index `tbl*bits + bit`.
    * At production scale `bits` grows with log2(n / target bucket size);
    * the index is a linear scan to build and shuffles ids only. Recall of
    * a (bits, tables) point follows `1 − (1 − p^bits)^tables`,
    * `p = 1 − acos(cosθ)/π`, measurement-validated within ±0.026 over a
    * 27-point stress grid by `graft.tools.AnnRecallSweep` (see
    * [[DedupOps.lshNearDupOn]] and the BASELINE.md round-5 table).
    */
  private[graft] def bucketIndex(e: DataFrame, bits: Int, tables: Int): DataFrame = {
    val tableStructs = array((0 until tables).map { t =>
      val bkt = (0 until bits).map { j =>
        val pl = hyperplane(t * bits + j, 64)
        when(dot(col("embedding"), array(pl.map(lit): _*)) > 0.0, lit(1 << j))
          .otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), bkt.as("bkt"))
    }: _*)
    e.select(col("vec_id"), explode(tableStructs).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
  }

  /** v4 — bucketed ANN top-k: probe the query vector's bucket in each hash
    * table (a broadcast of `tables` (tbl,bkt) keys), union the bucket
    * members as candidates, rescore exact cosine, top-20. Same output
    * columns and — on the test data — the same rows as the brute-force v1
    * (VectorSpec), but the scan touches only bucket members: at 100 TB the
    * probe is a broadcast-hash semi-join against the precomputed index,
    * never a full-corpus cross join. Shares [[DedupOps.NearDupBits]]/
    * [[DedupOps.NearDupTables]] with d7 — one index serves both near-dup
    * and query-time search.
    */
  def lshAnnTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // d7's dispatch rule ([[DedupOps.annParamsFor]]): v4's contract is v1's
    // exact top-20 (VectorSpec pins the equality), so below the measured
    // crossover the brute-force scan IS the cheaper identical-output plan;
    // above it, probe at the analytically sized (bits, tables) point.
    DedupOps.annParamsFor(DedupOps.parquetRows(e)) match {
      case None => annTopKOn(e)
      case Some(op) => lshAnnTopKOn(e, op.bits, op.tables)
    }
  }

  /** The bucketed probe at an explicit (bits, tables) point — v4's LSH
    * machinery, unchanged; [[lshAnnTopK]] dispatches into it above the
    * crossover.
    */
  private[graft] def lshAnnTopKOn(e: DataFrame, bits: Int, tables: Int): DataFrame = {
    val bk = bucketIndex(e, bits, tables)
    val qb = bk.filter(col("vec_id") === 0)
      .select(col("tbl").as("qtbl"), col("bkt").as("qbkt"))
    val cand = bk.join(broadcast(qb),
        col("tbl") === col("qtbl") && col("bkt") === col("qbkt"), "left_semi")
      .select(col("vec_id")).distinct()
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_embedding"))
    cand.join(e, "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        (dot(col("embedding"), col("q_embedding")) /
          (norm(col("embedding")) * norm(col("q_embedding")))).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(20)
  }

  def lshAnnTopKSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
       planes(tbl, bit, p) AS (VALUES
         ${DedupOps.planeSqlValues}),
       bk AS (SELECT e.vec_id, pl.tbl,
              CAST(sum(CASE WHEN list_sum(list_transform(list_zip(e.emb, pl.p),
                                 z -> z[1] * z[2])) > 0.0
                       THEN (1 << pl.bit) ELSE 0 END) AS INT) AS bkt
              FROM e CROSS JOIN planes pl GROUP BY e.vec_id, pl.tbl),
       qb AS (SELECT tbl, bkt FROM bk WHERE vec_id = 0),
       cand AS (SELECT DISTINCT bk.vec_id FROM bk JOIN qb USING (tbl, bkt)),
       q AS (SELECT emb AS qe FROM e WHERE vec_id = 0)
       SELECT e.vec_id, e.label,
         list_sum(list_transform(list_zip(e.emb, q.qe), z -> z[1] * z[2]))
           / (sqrt(list_sum(list_transform(e.emb, x -> x*x)))
              * sqrt(list_sum(list_transform(q.qe, x -> x*x)))) AS cosine
       FROM cand JOIN e ON cand.vec_id = e.vec_id CROSS JOIN q
       ORDER BY cosine DESC, e.vec_id LIMIT 20"""

  /** Per-label centroids + mean intra-cluster distance (IVF coarse shape).
    * Centroid sums go through exact DECIMAL so the per-dimension means are
    * deterministic under any partitioning; each vector's distance to its
    * centroid runs on the native [[graft.functions.DotProduct]] via the
    * expansion |a−c|² = a·a − 2·a·c + c·c (three fused codegen'd loops, no
    * per-dimension map lookups, dimensionality taken from the data). The
    * DuckDB oracle mirrors the identical expansion term-for-term, so the
    * doubles agree bit-exactly; the per-label mean also goes through an
    * exact DECIMAL sum (then one double divide + round 9 dp on both sides),
    * so no step of the query depends on partition summation order.
    */
  /** Per-label mean centroid vectors — the IVF coarse quantizer shared by
    * v3 (cluster stats) and v5 (IVF probe). Sums go through exact DECIMAL so
    * the per-dimension means are deterministic under any partitioning; one
    * shuffle of labels×dims rows, output k×dim values (broadcastable).
    */
  private[graft] def labelCentroids(e: DataFrame): DataFrame =
    meanVectors(e, "label")

  /** The one DECIMAL-exact per-key mean-vector pipeline behind BOTH
    * centroid computations ([[labelCentroids]] keyed by the data label,
    * [[kmeansMeans]] keyed by the learned cell) — the quantization, the
    * double divide and the dim-sorted reassembly live here ONCE so the
    * v3/v5 and v6 engine-exactness contracts cannot drift apart.
    */
  private def meanVectors(df: DataFrame, key: String): DataFrame =
    df.select(col(key), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(key, "dim")
      .agg((sum(col("v").cast("decimal(38,15)")).cast("double") / count(lit(1))).as("c"))
      .groupBy(key)
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("carr"))

  def clusterStats(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cvec = labelCentroids(e)
    val withC = e.join(broadcast(cvec), "label")
      .select(col("label"),
        sqrt(greatest(
          dot(col("embedding"), col("embedding"))
            - lit(2.0) * dot(col("embedding"), col("carr"))
            + dot(col("carr"), col("carr")),
          lit(0.0))).as("dist"))
    withC.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        // exact DECIMAL sum (like the centroids above) so the mean is
        // deterministic under any partitioning; double avg() would let
        // partition-order summation flip the 9th rounded digit
        round(sum(col("dist").cast("decimal(38,15)")).cast("double")
          / count(lit(1)), 9).as("mean_dist"))
      .orderBy("label")
  }

  def clusterStatsSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
       x AS (SELECT label, unnest(emb) AS v, generate_subscripts(emb, 1) AS dim FROM e),
       cd AS (SELECT label, dim,
                CAST(sum(CAST(v AS DECIMAL(38,15))) AS DOUBLE) / count(*) AS c
              FROM x GROUP BY label, dim),
       cv AS (SELECT label, list(c ORDER BY dim) AS carr FROM cd GROUP BY label),
       d AS (SELECT e.label,
               sqrt(greatest(
                 list_sum(list_transform(e.emb, x -> x * x))
                 - 2.0 * list_sum(list_transform(list_zip(e.emb, cv.carr),
                                  z -> z[1] * z[2]))
                 + list_sum(list_transform(cv.carr, x -> x * x)), 0.0)) AS dist
             FROM e JOIN cv USING (label))
       SELECT label, count(*) AS n_vecs,
         round(CAST(sum(CAST(dist AS DECIMAL(38,15))) AS DOUBLE) / count(*), 9)
           AS mean_dist
       FROM d GROUP BY label ORDER BY label"""

  /** Cells the IVF probe visits per query (of the 10 label-centroid cells). */
  val IvfNProbe = 3

  /** v5 — IVF-flat ANN top-k: the classic inverted-file search
    * complementing the LSH path (v4).
    *
    *  - **Coarse quantizer**: the [[labelCentroids]] per-label means (the
    *    v3-proven bit-exact DECIMAL machinery) — k=10 cells, k×dim values,
    *    broadcast to every row as a single collected-array row (no driver
    *    collect).
    *  - **Assignment**: one linear scan; each vector ranks all cells by
    *    squared distance via the expansion |a−c|² = a·a − 2·a·c + c·c on the
    *    native codegen'd [[graft.functions.DotProduct]], entirely per-row
    *    (an `array_sort(transform(...))` argmin — zero shuffle, ties broken
    *    by cell id).
    *  - **Probe**: the query vector's nprobe=3 nearest cells; candidates are
    *    the vectors assigned to those cells (a broadcast filter), then exact
    *    cosine rescore and top-20.
    *
    * At 100 TB the assignment is computed once at ingest and the corpus is
    * partitioned by `cell`, so a query prunes to nprobe/k of the data via
    * partition pruning before the rescore scan; the quantizer build is one
    * labels×dims shuffle. The DuckDB oracle re-derives centroid, assignment
    * (same expansion term-for-term, same (d2, cell) tie-break) and rescore,
    * so the result is hash-exact, not rows-only.
    *
    * Recall depends on the corpus clustering, as for any IVF index: a
    * genuinely near vector (cosine → 1) is near-identical to the query and
    * lands in the query's own cell, so it is always found (VectorSpec plants
    * one and asserts rank 2); the synthetic embeddings table has no real
    * neighbors of the query (best foreign cosine ≈ 0.33, uniform over
    * cells), where the measured tail recall@20 is 0.55 at a 31% scan
    * fraction (nprobe/k = 3/10) — the probe trades exactly scan for tail on
    * unclusterable data.
    */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    ivfTopKOn(emb(spark, dir))

  /** Every vector with its full (d2, cell)-ranked centroid list: the one
    * broadcast-argmin primitive behind BOTH quantizer assignments (v5's
    * [[ivfAssigned]], v6's [[kmeansAssign]]) — the distance expansion, the
    * tie-break and the collected-array broadcast live here ONCE so the two
    * paths cannot desynchronize. `cents` must carry (cell, carr).
    *
    * PRECONDITION (r5 advice, documented): `cents` must be non-empty — an
    * empty centroid frame still yields one global-agg row with an empty
    * `cells` array, assigning every vector a NULL cell, where the DuckDB
    * oracle's CROSS JOIN with an empty cv CTE yields zero rows. Both v5/v6
    * quantizers derive centroids from the data itself, so the frame is
    * empty only when the corpus is (when nothing diverges).
    */
  private def rankedAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    val cells1 = cents.agg(
      array_sort(collect_list(struct(col("cell"), col("carr")))).as("cells"))
    def d2(c: Column): Column =
      dot(col("embedding"), col("embedding")) -
        lit(2.0) * dot(col("embedding"), c.getField("carr")) +
        dot(c.getField("carr"), c.getField("carr"))
    val ranked = array_sort(transform(col("cells"),
      c => struct(d2(c).as("d2"), c.getField("cell").as("cell"))))
    e.crossJoin(broadcast(cells1))
      .select(col("vec_id"), col("label"), col("embedding"), ranked.as("ranked"))
  }

  private[ops] def ivfAssigned(e: DataFrame): DataFrame =
    rankedAssign(e, labelCentroids(e).withColumnRenamed("label", "cell"))
      .select(col("vec_id"), col("label"), col("embedding"),
        element_at(col("ranked"), 1).getField("cell").as("cell"), col("ranked"))

  private[graft] def ivfTopKOn(e: DataFrame): DataFrame = {
    val assigned = ivfAssigned(e)
    val qp = assigned.filter(col("vec_id") === 0)
      .select(transform(slice(col("ranked"), 1, IvfNProbe),
          x => x.getField("cell")).as("qcells"),
        col("embedding").as("q_embedding"))
    assigned.select("vec_id", "label", "embedding", "cell")
      .crossJoin(broadcast(qp))
      .filter(array_contains(col("qcells"), col("cell")))
      .select(col("vec_id"), col("label"), col("cell"),
        (dot(col("embedding"), col("q_embedding")) /
          (norm(col("embedding")) * norm(col("q_embedding")))).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(20)
  }

  def ivfTopKSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
       x AS (SELECT label, unnest(emb) AS v, generate_subscripts(emb, 1) AS dim FROM e),
       cd AS (SELECT label, dim,
                CAST(sum(CAST(v AS DECIMAL(38,15))) AS DOUBLE) / count(*) AS c
              FROM x GROUP BY label, dim),
       cv AS (SELECT label AS cell, list(c ORDER BY dim) AS carr FROM cd GROUP BY label),
       dist AS (SELECT e.vec_id, e.label, e.emb, cv.cell,
                  list_sum(list_transform(e.emb, x -> x * x))
                  - 2.0 * list_sum(list_transform(list_zip(e.emb, cv.carr),
                                    z -> z[1] * z[2]))
                  + list_sum(list_transform(cv.carr, x -> x * x)) AS d2
                FROM e CROSS JOIN cv),
       assigned AS (SELECT vec_id, label, emb, cell FROM dist
                    QUALIFY row_number() OVER (PARTITION BY vec_id
                                               ORDER BY d2, cell) = 1),
       qcells AS (SELECT cell FROM dist WHERE vec_id = 0
                  ORDER BY d2, cell LIMIT ${IvfNProbe}),
       q AS (SELECT emb AS qe FROM e WHERE vec_id = 0)
       SELECT a.vec_id, a.label, a.cell,
         list_sum(list_transform(list_zip(a.emb, q.qe), z -> z[1] * z[2]))
           / (sqrt(list_sum(list_transform(a.emb, x -> x * x)))
              * sqrt(list_sum(list_transform(q.qe, x -> x * x)))) AS cosine
       FROM assigned a CROSS JOIN q
       WHERE a.cell IN (SELECT cell FROM qcells)
       ORDER BY cosine DESC, a.vec_id LIMIT 20"""

  /** v5's 100 TB layout made concrete: materialize the IVF index — the
    * cell assignment computed ONCE at ingest and the corpus written
    * `partitionBy("cell")` — plus the k-row centroid table beside it. A
    * probe then touches only its `nprobe` cell DIRECTORIES: the pruning
    * is partition pruning in the parquet file index, so no byte of the
    * other k−nprobe cells is ever scanned (VectorSpec asserts the probe's
    * `inputFiles` span exactly the probed cells and its scan carries the
    * `cell IN (...)` PartitionFilters).
    */
  def ivfWriteIndex(e: DataFrame, path: String): Unit = {
    ivfAssigned(e).select("vec_id", "label", "embedding", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
    labelCentroids(e).select(col("label").as("cell"), col("carr"))
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** k-means seed count (= the corpus's label fan-out, so v6's learned
    * cells are comparable to v3/v5's label-seeded quantizer) and Lloyd
    * round count for [[kmeansRefine]].
    */
  val KmeansK = 10
  val KmeansIters = 2

  /** One k-means assignment pass: every vector labeled with its nearest
    * centroid (argmin of the |a−c|² = a·a − 2·a·c + c·c expansion, ties
    * broken by cell id — the v5 convention) and that centroid's d2. The
    * centroid table collapses to ONE collected-array row broadcast to
    * every vector, so assignment is a per-row `array_sort(transform(...))`
    * argmin with zero shuffle — k is index fan-out, never data-sized.
    */
  private def kmeansAssign(e: DataFrame, cents: DataFrame): DataFrame =
    rankedAssign(e, cents)
      .select(col("vec_id"), col("label"), col("embedding"),
        element_at(col("ranked"), 1).getField("cell").as("cell"),
        element_at(col("ranked"), 1).getField("d2").as("d2"))

  /** Per-cell DECIMAL-exact mean vectors of an assignment — the
    * [[labelCentroids]] arithmetic keyed by the learned cell instead of
    * the data label. A cell that lost all members simply produces no row
    * (the standard "empty clusters vanish" Lloyd behavior), identically
    * in the DuckDB oracle's GROUP BY.
    */
  private def kmeansMeans(assigned: DataFrame): DataFrame =
    meanVectors(assigned, "cell")

  /** v6 — k-means Lloyd refinement: the clustering step a production
    * SemDeDup / IVF pipeline actually RUNS before d11/v5 can assume a
    * quantizer (Abbas et al. 2023 cluster with k-means; v3/v5 seed from
    * the ground-truth `label` column, which real corpora don't have).
    *
    * Deterministic end to end, with every non-associative step removed:
    *  - **Seeding**: the [[KmeansK]] vectors with the smallest `vec_id`
    *    (first-k seeding — no RNG state, reproducible and resumable; cell
    *    id = seed vec_id).
    *  - **[[KmeansIters]] Lloyd rounds**: assignment is the per-row
    *    broadcast argmin of [[kmeansAssign]] (zero shuffle; double
    *    arithmetic identical term-for-term in both engines, ties by cell);
    *    recomputation is the DECIMAL-exact per-(cell,dim) mean of
    *    [[kmeansMeans]] — a raw double mean would make the learned
    *    centroids depend on partition summation order and diverge the
    *    whole downstream assignment cascade.
    *  - **Output**: a final assignment against the learned centroids,
    *    reported per cell as (n_vecs, majority data-label + its fraction —
    *    the purity diagnostic, ties to the smaller label — and the
    *    DECIMAL-exact mean distance, the v3 convention).
    *
    * Scale shape: the corpus is read ONCE (`localCheckpoint`, the d9/t8
    * materialization lesson — production persists to disk); each round
    * costs one pass over the checkpoint plus one map-side-combinable
    * (cell,dim) Exchange bounded by k×dim, and the final stats shuffle one
    * row per (cell,label) pair. Centroid tables between rounds are k×dim
    * values — eagerly checkpointed so the plan stays flat instead of
    * re-deriving round r−1 inside round r. The DuckDB oracle chains the
    * identical rounds as CTEs, so the result is hash-exact.
    */
  def kmeansRefine(spark: SparkSession, dir: String): DataFrame = {
    kmeansRefineOn(emb(spark, dir).localCheckpoint())
  }

  private[graft] def kmeansRefineOn(e: DataFrame): DataFrame = {
    // Seeding PRECONDITION (r5 advice, documented): vec_ids dense from 0,
    // as every corpus this engine generates has them — `vec_id < KmeansK`
    // is then exactly "the KmeansK smallest vec_ids" without the global
    // sort+limit the literal reading would cost. Sparse/offset id spaces
    // would under-seed; the oracle applies the identical predicate, so
    // the two engines can never diverge on it either way.
    var cents = e.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").cast("int").as("cell"),
        transform(col("embedding"), x => x.cast("double")).as("carr"))
      .localCheckpoint()
    for (_ <- 1 to KmeansIters)
      cents = kmeansMeans(kmeansAssign(e, cents)).localCheckpoint()
    val fin = kmeansAssign(e, cents)
    // one pass over the final assignment: (cell,label) partials carry both
    // the purity counts and the exact DECIMAL distance sums, then re-agg
    // to cell level (DECIMAL re-summation is associative-exact)
    // k×|labels| rows, materialized once: its TWO consumers (cell stats,
    // purity window) would otherwise each re-run the final assignment
    val cl = fin.groupBy("cell", "label")
      .agg(count(lit(1)).as("ln"),
        sum(sqrt(greatest(col("d2"), lit(0.0))).cast("decimal(38,15)")).as("sd"))
      .localCheckpoint()
    val ag = cl.groupBy("cell")
      .agg(sum(col("ln")).as("n_vecs"),
        round(sum(col("sd")).cast("double") / sum(col("ln")), 9).as("mean_dist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy(col("ln").desc, col("label"))
    val top = cl.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("cell"), col("label").as("top_label"), col("ln"))
    ag.join(top, "cell")
      .select(col("cell"), col("n_vecs"), col("top_label"),
        (col("ln").cast("double") / col("n_vecs")).as("top_frac"),
        col("mean_dist"))
      .orderBy("cell")
  }

  def kmeansRefineSql: String = {
    def assign(i: Int, cv: String) =
      s"""a$i AS (
         SELECT e.vec_id, e.label, e.emb, cv.cell,
           list_sum(list_transform(e.emb, x -> x * x))
           - 2.0 * list_sum(list_transform(list_zip(e.emb, cv.carr),
                             z -> z[1] * z[2]))
           + list_sum(list_transform(cv.carr, x -> x * x)) AS d2
         FROM e CROSS JOIN $cv cv
         QUALIFY row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY d2, cv.cell) = 1)"""
    def means(i: Int) =
      s"""cd$i AS (SELECT cell, unnest(emb) AS v,
                    generate_subscripts(emb, 1) AS dim FROM a$i),
         cm$i AS (SELECT cell, dim,
                    CAST(sum(CAST(v AS DECIMAL(38,15))) AS DOUBLE) / count(*) AS c
                  FROM cd$i GROUP BY cell, dim),
         cv$i AS (SELECT cell, list(c ORDER BY dim) AS carr FROM cm$i GROUP BY cell)"""
    val rounds = (1 to KmeansIters).map(i =>
      assign(i, if (i == 1) "cv0" else s"cv${i - 1}") + ",\n" + means(i))
      .mkString(",\n")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
       cv0 AS (SELECT CAST(vec_id AS INT) AS cell, emb AS carr FROM e
               WHERE vec_id < $KmeansK),
       $rounds,
       ${assign(KmeansIters + 1, s"cv$KmeansIters")},
       cl AS (SELECT cell, label, count(*) AS ln,
                sum(CAST(sqrt(greatest(d2, 0.0)) AS DECIMAL(38,15))) AS sd
              FROM a${KmeansIters + 1} GROUP BY cell, label),
       ag AS (SELECT cell, CAST(sum(ln) AS BIGINT) AS n_vecs,
                round(CAST(sum(sd) AS DOUBLE) / sum(ln), 9) AS mean_dist
              FROM cl GROUP BY cell),
       tp AS (SELECT cell, label AS top_label, ln,
                row_number() OVER (PARTITION BY cell
                                   ORDER BY ln DESC, label) AS rn
              FROM cl)
       SELECT ag.cell, ag.n_vecs, tp.top_label,
         CAST(tp.ln AS DOUBLE) / ag.n_vecs AS top_frac, ag.mean_dist
       FROM ag JOIN tp ON ag.cell = tp.cell AND tp.rn = 1
       ORDER BY ag.cell"""
  }

  /** Probe an [[ivfWriteIndex]] layout for the top-k cosine neighbors of
    * `query`. The centroid table is collected to rank cells driver-side —
    * k rows, bounded by the index fan-out, never by the data; partition
    * pruning REQUIRES a literal predicate, so this collect is the price
    * of not scanning the corpus. The in-driver distance uses the same
    * a·a − 2·a·c + c·c expansion with the same left-to-right double
    * summation as [[graft.functions.DotProduct]], so the probed cells —
    * and therefore the result — are bit-identical to the inline
    * [[ivfTopK]] (VectorSpec pins the equality).
    */
  def ivfProbeIndex(spark: SparkSession, path: String,
      query: Array[Float], k: Int): DataFrame = {
    val qd = query.map(_.toDouble)
    def d2(c: Seq[Double]): Double = {
      var qq = 0.0; var qc = 0.0; var cc = 0.0
      var i = 0
      while (i < qd.length) {
        qq += qd(i) * qd(i); qc += qd(i) * c(i); cc += c(i) * c(i); i += 1
      }
      qq - 2.0 * qc + cc
    }
    val probeCells = spark.read.parquet(s"$path/centroids")
      .collect().map(r => (d2(r.getSeq[Double](1)), r.getInt(0)))
      .sorted.take(IvfNProbe).map(_._2)
    val q = typedlit(query)
    spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(probeCells.map(Integer.valueOf): _*))
      .select(col("vec_id"), col("label"), col("cell"),
        (dot(col("embedding"), q) / (norm(col("embedding")) * norm(q)))
          .as("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
  }
}
