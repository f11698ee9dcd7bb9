package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftColumns, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact (hash groupBy), n-gram Jaccard pairs (posting lists + per-doc
  * overlap counts), MinHash signatures + LSH banding, and SimHash. Per-row
  * work runs in native Catalyst expressions and grouping rides Catalyst's
  * shuffles and aggregates, except the posting-list pair stages (d2, d4,
  * d7's LSH candidates, d8's edges): they stream sorted runs through
  * typed `mapPartitions` (see [[ngramJaccardPairs]], [[bucketPairs]]).
  * No UDFs, no driver-side loops on the d2 path.
  *
  * Portability note for the DuckDB oracle: token hashes are derived as
  * bigint from the first 15 hex chars of md5 (`conv(...,16,10)` in Spark,
  * `('0x'||…)::BIGINT` in DuckDB) and mixed with XOR — multiplication-free,
  * so no engine-specific overflow semantics can diverge.
  *
  * Scale: d2's posting lists shuffle on the shingle key — at 100 TB the
  * LSH-banded variant (d4) is the path: candidates meet only inside a band
  * bucket, turning the quadratic pair space into per-bucket joins.
  */
object DedupOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Exact dedup: content-hash groups, first doc_id as keeper (A8-shape). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .orderBy("content_hash")

  def exactDedupSql: String =
    """SELECT md5(text) AS content_hash, count(*) AS n_copies,
       min(doc_id) AS keeper
       FROM documents GROUP BY 1 ORDER BY content_hash"""

  /** Distinct word-3-gram shingle HASHES per doc — the native
    * [[graft.functions.ShingleHashes]] expression (one tight loop per
    * row; ShingleSpec pins it element-equal to the declarative
    * `array_distinct(transform(sequence(...), concat_ws(...)))` →
    * `transform(..., tokHash)` formulation the DuckDB oracles mirror,
    * including the <3-token empty-array guard: DuckDB's
    * `generate_series(1, 0)` is empty where Spark's `sequence(1, 0)`
    * DESCENDS, so the guard lives inside the expression).
    */
  private def hashedShinglesOn(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      graft.functions.TextShingles.shingleHashCol(col("text")).as("shingles"))

  /** Hot-shingle bound for [[ngramJaccardPairs]]: shingles occurring in more
    * than this many documents are dropped before pairing (classic
    * document-frequency / prefix filtering). A shingle with df=d produces
    * d·(d-1)/2 partner entries — one corpus-scale stopword trigram would
    * make its posting list quadratic AND that key a skewed shuffle
    * straggler. The bound caps per-key fan-out at ~5k partner entries
    * regardless of corpus size; such
    * shingles carry no near-dup signal anyway (they match everything). At
    * the oracle SF the max df is 7, so results are unchanged there.
    */
  val MaxShingleDf = 100

  /** n-gram Jaccard near-dup pairs — LOWER-BOUND semantics, by design: the
    * df-pruning below drops shingles with df > [[MaxShingleDf]] from the
    * intersection counts (but not the per-doc sizes), so every reported
    * jaccard is ≤ the exact value and a pair whose overlap consists ONLY
    * of corpus-scale hot shingles can be missed entirely. Consumers
    * thresholding at τ get no false positives above τ but may get false
    * negatives for pairs held together solely by stop-shingles — acceptable
    * for dedup (such pairs match everything) and required for scale (exact
    * jaccard on hot keys is quadratic). The DuckDB oracle prunes
    * identically; COVERAGE.md "d2" documents the contract for consumers.
    *
    * Mechanics — per-document overlap counting over posting lists built
    * from sorted runs: each (doc, shingle hash) entry carries the doc's
    * distinct-shingle count n. ONE shuffle on the 60-bit hash, sorted
    * within each partition by (hash, doc), lays every posting list out as
    * one run; [[graft.functions.TextShingles.postingRunTails]] streams the
    * runs, df-prunes hot shingles (df > [[MaxShingleDf]]) and gives every
    * entry its TAIL — the later entries of its list, packed as
    * delta-varint bytes (~3 bytes per partner, where a bigint id and an
    * int size take 12) — keyed by its own doc. ONE more shuffle, sorted by
    * doc, lays out each probe doc's tails as one run, and
    * [[graft.functions.TextShingles.partnerRunOverlaps]] counts the
    * partners in one per-document hash map, computing jaccard =
    * |∩| / (|A|+|B|-|∩|) from the carried sizes (counts over ALL distinct
    * shingles, so the pruned jaccard is a lower bound of exact) and keeping
    * only pairs at or above the floor. No row per candidate pair is ever
    * shuffled or aggregated, no hash aggregate collects a list, and no join
    * is needed for the sizes. A posting list is buffered up to
    * [[MaxShingleDf]] + 1 entries, and a probe doc holds at most
    * n·([[MaxShingleDf]] − 1) partner entries, so memory stays df-capped
    * at any corpus size. Both shuffles take `spark.sql.shuffle.partitions`
    * partitions, which AQE leaves uncoalesced, so every core gets a share.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsOn(docs(spark, dir), 0.05)

  /** d2's posting-list pair machinery over any (doc_id, text) frame with a
    * caller-chosen jaccard floor — shared with the c1 curation funnel's
    * near-dup stage (threshold 0.8 over the funnel's dedup survivors).
    */
  private[ops] def ngramJaccardPairsOn(d: DataFrame, minJaccard: Double): DataFrame = {
    // A NULL id or text never pairs. Dropping those rows up front lets the
    // entries be typed non-null, as the typed run stages below read them.
    // Shuffling the 60-bit hash, not the ~25-byte shingle string, keeps the
    // posting shuffle small; the oracle hashes the same way, so a hash
    // collision (~|shingles|²/2^61 per doc) over-counts a pair's
    // intersection IDENTICALLY in both engines. A within-doc collision puts
    // the doc twice in one posting list (the native shingle expression
    // dedupes by shingle STRING, as array_distinct had it); it sorts next
    // to itself, and partnerOverlaps skips the resulting self-partner, as
    // a self-join's a < b would.
    //
    // explode_outer then a NULL-h drop, not explode: for explode the
    // optimizer infers size(shingles) > 0 and pushes it below this
    // projection, where it re-hashes every document's shingles
    val entries = hashedShinglesOn(
        d.filter(col("doc_id").isNotNull && col("text").isNotNull))
      .select(explode_outer(col("shingles")).as("h"),
        nonNull(col("doc_id")).as("doc_id"),
        nonNull(size(col("shingles"))).as("n"))
      .filter(col("h").isNotNull)
    // Each stage below hash-partitions its input into a fixed count: AQE
    // sizes partitions by bytes and would coalesce these stages, whose cost
    // grows with the square of each list's length, onto a few cores. Each
    // partition is sorted so that a posting list, and a probe doc's tails,
    // is one run of equal key, read by one pass with no aggregate buffer.
    import d.sparkSession.implicits._
    val parts = d.sparkSession.sessionState.conf.numShufflePartitions
    entries
      .repartition(parts, col("h")).sortWithinPartitions("h", "doc_id")
      .as[(Long, Long, Int)]
      .mapPartitions(graft.functions.TextShingles.postingRunTails(_, MaxShingleDf))
      .toDF("doc_a", "na", "tail")
      .repartition(parts, col("doc_a")).sortWithinPartitions("doc_a")
      .as[(Long, Int, Array[Byte])]
      .mapPartitions(graft.functions.TextShingles.partnerRunOverlaps(_, minJaccard))
      .toDF("doc_a", "doc_b", "inter", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** `c` typed non-nullable; a NULL fails the task, so callers drop NULL
    * rows first.
    */
  private def nonNull(c: Column): Column = GraftColumns.column(
    AssertNotNull(GraftColumns.expression(c)))

  def ngramJaccardSql: String =
    s"""WITH ${shingleCtes("documents")},
       ${jaccardPairCtes(0.05)}
       SELECT doc_a, doc_b, inter, jaccard FROM jpairs ORDER BY doc_a, doc_b"""

  /** Portable 60-bit token hash (first 15 hex chars of md5 as bigint) in
    * DuckDB-SQL form; the JVM twin is [[graft.functions.TextShingles.hash60]]
    * inside the native d3/d5 folds.
    */
  private def tokHashSql(e: String): String =
    s"(('0x' || substr(md5($e), 1, 15))::BIGINT)"

  /** The oracles' shingle CTEs over `src`'s (doc_id, text): `toks` (the
    * space-split tokens), `sh` (each doc's distinct word-3-grams, none
    * under 3 tokens) and `hs` (their 60-bit hashes, one row per shingle).
    */
  private[ops] def shingleCtes(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                generate_series(1, greatest(len(t)-2, 0)),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
              FROM toks),
       hs AS (SELECT doc_id, ${tokHashSql("shingle")} AS h FROM sh)"""

  /** d2's oracle pair CTEs over [[shingleCtes]]: `cnt` (shingles per doc),
    * `keep` (hashes with df ≤ [[MaxShingleDf]]), `pr` (their postings),
    * `pairs` (shared kept hashes per doc pair, doc_a < doc_b) and `jpairs`
    * (the pairs whose jaccard reaches `minJaccard`, with inter and jaccard).
    */
  private[ops] def jaccardPairCtes(minJaccard: Double): String =
    s"""cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       keep AS (SELECT h FROM hs GROUP BY 1 HAVING count(*) <= $MaxShingleDf),
       pr AS (SELECT hs.doc_id, hs.h FROM hs JOIN keep USING (h)),
       pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                 FROM pr a JOIN pr b ON a.h = b.h AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       jpairs AS (SELECT doc_a, doc_b, inter,
                         CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
                  FROM pairs
                  JOIN cnt ca ON doc_a = ca.doc_id
                  JOIN cnt cb ON doc_b = cb.doc_id
                  WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= $minJaccard)"""

  /** XOR-mix constants for the MinHash family (fixed, engine-neutral). */
  val MinHashSeeds: Seq[Long] = Seq(
    0x243f6a8885a308dL, 0x13198a2e0370734L, 0xa4093822299f31dL,
    0x082efa98ec4e6c8L, 0x452821e638d0137L, 0xbe5466cf34e90c6L,
    0xc0ac29b7c97c50dL, 0x3f84d5b5b547091L)

  /** MinHash signatures: min over distinct shingles of (H(shingle) XOR
    * seed_k), k = 0..7. Multiplication-free hash family — identical
    * overflow-free arithmetic in Spark and DuckDB.
    *
    * Computed ENTIRELY per row (`transform` + `array_min` over the in-row
    * shingle array): no shingle explode, no groupBy — i.e. ZERO shuffle.
    * The former explode+groupBy formulation shuffled ~|shingles| rows per
    * document (an ~85× fan-out of the corpus) just to re-group them by
    * doc_id; at 100 TB that shuffle IS the operator's cost, and it buys
    * nothing a per-row fold doesn't. Docs with no shingles (< 3 tokens)
    * are absent from the output, exactly as the aggregate form and the
    * DuckDB oracle (unnest of an empty list) have it.
    */
  def minhash(spark: SparkSession, dir: String): DataFrame =
    minhashRaw(spark, dir).orderBy("doc_id")

  /** [[minhash]] without the presentation sort — the form d4 builds on.
    * One native [[graft.functions.MinHashSigs]] evaluation per row (NULL
    * = no shingles = the old `filter(size(shingles) > 0)` row drop);
    * still zero shuffles.
    */
  private def minhashRaw(spark: SparkSession, dir: String): DataFrame = {
    val sigs = docs(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextShingles.minHashSigCol(col("text"), MinHashSeeds)
          .as("sigs"))
      .filter(col("sigs").isNotNull)
    sigs.select(col("doc_id") +:
      MinHashSeeds.indices.map(k => col("sigs").getItem(k).as(s"mh$k")): _*)
  }

  def minhashSql: String =
    s"""WITH ${shingleCtes("documents")},
       $minhashCte
       SELECT * FROM mh ORDER BY doc_id"""

  /** The oracles' MinHash CTE over [[shingleCtes]]: `mh` (doc_id, mh0..mh7). */
  private def minhashCte: String = {
    val mins = MinHashSeeds.zipWithIndex.map { case (seed, k) =>
      s"min(xor(h, ${seed}::BIGINT)) AS mh$k"
    }.mkString(", ")
    s"mh AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id)"
  }

  /** The oracles' LSH band CTE over [[minhashCte]]: `bands` (doc_id, band,
    * key), 4 bands of 2 minhash rows each.
    */
  private def bandsCte: String = {
    val selects = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || '_' || mh${2 * b + 1} AS key FROM mh"
    }.mkString("\n         UNION ALL ")
    s"bands AS ($selects)"
  }

  /** LSH banding over the MinHash signature (4 bands × 2 rows): docs
    * sharing a band bucket are near-dup candidates. The scale path: the
    * candidate pairing happens per-bucket, never across the full corpus.
    *
    * Same posting-list shape as d2/d7 ([[ngramJaccardPairs]],
    * [[lshNearDupOn]]): the 4 band keys per doc come from ONE evaluation of
    * the minhash aggregate (an in-row array explode — the former
    * union-of-selects + self-join re-evaluated the shingle explode + minhash
    * aggregate once per band branch AND per join side, 8× total, correct
    * only as fast as ReuseExchange deduplicated it), then [[bucketPairs]]
    * lays each (band, key) bucket out as one sorted run with ONE shuffle
    * and streams its pairs — no join, no second shuffle of the index.
    */
  def lshPairs(spark: SparkSession, dir: String): DataFrame =
    lshPairsRaw(spark, dir).orderBy("doc_a", "doc_b")

  /** [[lshPairs]] without the presentation sort — the edge set d8 clusters.
    * Band keys come from the ONE shared encoding, [[bandKeysOn]] (also the
    * streaming flagger's index builder), so batch pairing and streaming
    * probes can never drift apart.
    */
  private[ops] def lshPairsRaw(spark: SparkSession, dir: String): DataFrame =
    bucketPairs(bandKeysOn(docs(spark, dir)), "doc_id", "band", "key")
      .toDF("doc_a", "doc_b")

  /** Every distinct (a, b) of ids sharing a bucket in an (id, key columns)
    * index, a before b in the bucket's id order — d2's sorted-run idiom:
    * ONE shuffle hash-partitions the entries by key into
    * `spark.sql.shuffle.partitions` partitions (AQE leaves them
    * uncoalesced, as a bucket costs the square of its size), each sorted
    * by (key, id) so that a bucket is one run, and
    * [[graft.functions.TextShingles.runPairs]] streams each run's pairs. A
    * NULL id never pairs. A pair that shares several buckets comes out
    * once.
    */
  private[graft] def bucketPairs(index: DataFrame, id: String, keys: String*)
      : Dataset[(Long, Long)] = {
    import index.sparkSession.implicits._
    val parts = index.sparkSession.sessionState.conf.numShufflePartitions
    index.filter(col(id).isNotNull)
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys :+ id).map(col): _*)
      .select(struct(keys.map(col): _*), col(id))
      .mapPartitions((rows: Iterator[Row]) =>
        graft.functions.TextShingles.runPairs(rows.map(r => (r.get(0), r.getLong(1)))))
      .distinct()
  }

  def lshPairsSql: String =
    s"""WITH ${shingleCtes("documents")},
       $minhashCte,
       $bandsCte
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM bands a JOIN bands b
         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       ORDER BY doc_a, doc_b"""

  /** Embedding-cosine near-dup: top-50 most-similar vector pairs, exact.
    * Brute-force pair scoring is the exactness baseline (the synthetic
    * embeddings have no pairs above any useful threshold, so the operator
    * is exposed threshold-free); the 100 TB path replaces the pair join
    * with VectorOps.lshBuckets candidate generation — candidates meet only
    * inside a hyperplane-sign bucket. Dot products are sequential
    * left-to-right double sums in both engines (bit-exact oracle).
    */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame =
    embedNearDupOn(
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")), 50)

  /** All-pairs exact variant over any (vec_id, embedding) frame. */
  def embedNearDupOn(e0: DataFrame, topK: Int): DataFrame = {
    val dot = VectorOps.dot _
    // norms once per VECTOR (n of them), not once per PAIR (n²/2): the
    // pair join then does a single dot product per candidate
    val e = e0.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
      .orderBy(desc("cosine"), col("ia"), col("ib"))
      .limit(topK)
  }

  def embedNearDupSql: String =
    """SELECT a.vec_id AS ia, b.vec_id AS ib,
       list_sum(list_transform(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
                p -> p[1] * p[2]))
       / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x*x)))
          * sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x*x)))) AS cosine
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       ORDER BY cosine DESC, ia, ib LIMIT 50"""

  /** SimHash: 60-bit signature; bit i set when the sum over tokens (with
    * multiplicity) of ±1 on bit i of H(token) is positive (the ±1 sum per
    * bit equals 2·(count of tokens with bit i set) − n_tokens). Computed
    * ENTIRELY per row by the native [[graft.functions.SimHashSig]] fold —
    * ZERO shuffle (round 6; the d3 MinHashSigs lesson). The previous
    * explode + 61-sum hash aggregate shuffled one row PER TOKEN keyed on
    * doc_id just to re-group rows already adjacent in the document — at
    * 100 TB that shuffle IS the operator's cost. Token/hash/majority
    * semantics are bit-identical (DedupSpec pins the fold against the
    * declarative aggregate; the DuckDB oracle is unchanged). The
    * isNotNull filter mirrors the explode's row drop for NULL text
    * (split(NULL) explodes to no rows), so the two forms agree on every
    * input.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.TextShingles.simHashSigCol(col("text")).as("simhash"))
      .orderBy("doc_id")

  def simhashSql: String = {
    val cs = (0 until 60).map(i => s"sum((h >> $i) & 1) AS c$i").mkString(", ")
    val sig = (0 until 60)
      .map(i => s"CASE WHEN 2*c$i - n > 0 THEN (1::BIGINT << $i) ELSE 0 END")
      .mkString(" + ")
    s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       hs AS (SELECT doc_id, ${tokHashSql("tok")} AS h FROM tk),
       ag AS (SELECT doc_id, count(*) AS n, $cs FROM hs GROUP BY doc_id)
       SELECT doc_id, CAST($sig AS BIGINT) AS simhash
       FROM ag ORDER BY doc_id"""
  }

  /** d7 — the 100 TB embedding near-dup: LSH candidate generation inside
    * random-hyperplane buckets (the same splitmix64 hyperplane family as
    * [[VectorOps.lshBuckets]]), exact-cosine rescore, global top-50. Unlike
    * [[embedNearDup]]'s all-pairs BroadcastNestedLoopJoin, candidates meet
    * ONLY inside a (table, bucket) equi-join key — the join fan-out per key
    * is bucket_size², tuned by [[NearDupBits]] (≈ log2(n / target bucket
    * size) at production scale). [[NearDupTables]] independent tables give
    * recall; (bits=2, tables=20) yields 100% recall of the exact top-50
    * pairs AND of v1's top-20 query probe on every test SF (verified
    * against [[embedNearDup]]/[[VectorOps.annTopK]] in DedupSpec/VectorSpec
    * — the synthetic vectors have weak similarity structure, cosine ≤ 0.52,
    * so honest full recall needs wide tables here; with real near-dups,
    * cosine ≥ 0.9, the same table count supports 16+ bits and the candidate
    * set collapses).
    */
  val NearDupBits = 2
  val NearDupTables = 20

  /** Exact-vs-LSH dispatch crossover for d7/v4: BASELINE.md's measured
    * break-even on this hardware (d6 all-pairs 25.8s ≈ d7 LSH 26.2s at
    * n = 50k; below it the codegen'd DotProduct makes the exact quadratic
    * the cheaper plan — at the 500-2000-vector test SFs the 20-table index
    * costs ~20× what it saves). d7's contract is *defined* as d6's exact
    * top-k (DedupSpec pins lshNearDupOn == embedNearDup at the test SFs,
    * recall 1.000 measured at every AnnScale n), so below the crossover the
    * exact path returns the identical rows for a fraction of the cost.
    */
  val AnnExactCrossover = 50000L

  /** Production sizing targets for the above-crossover LSH path, fed to
    * [[AnnSizing.operatingPoint]]: bits from the measured 64-vector bucket
    * budget (the BASELINE.md AnnScale rule, bits = log2(n/64)), tables from
    * ≥0.9 recall at the SemDeDup-floor cosine 0.95 — near-identical pairs
    * (cosine ≥ 0.99, the ones near-dup REMOVAL acts on) then recall at
    * ~1.0 (p^bits is far larger there; at n=10⁶/bits=14/tables=10 the
    * formula gives 1 − 3·10⁻⁷, and AnnScale measures 1.000 on planted
    * pairs at cosine 0.9987).
    */
  val NearDupTargetBucket = 64L
  val NearDupHardestCos = 0.95
  val NearDupTargetRecall = 0.90

  /** The d7/v4 sizing decision: None = run the exact path (n at or below
    * the measured crossover), Some(op) = run LSH at the analytically sized
    * (bits, tables) point. Pure driver arithmetic — shared by d7, v4 and
    * the AnnScale auto-mode harness so the dispatch cannot drift between
    * them.
    */
  def annParamsFor(n: Long): Option[AnnSizing.OperatingPoint] =
    if (n <= AnnExactCrossover) None
    else Some(AnnSizing.operatingPoint(
      n, NearDupTargetBucket, NearDupHardestCos, NearDupTargetRecall))

  def lshNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    lshNearDupAuto(e.select(col("vec_id"), col("embedding")), parquetRows(e), 50)
  }

  /** Rows of a parquet read, summed from its files' footers on the
    * driver: the d7/v4 dispatch is sized without a Spark job, so building
    * the query (`explain`, a plan dump) scans no data.
    */
  private[ops] def parquetRows(read: DataFrame): Long = {
    val conf = read.sparkSession.sessionState.newHadoopConf()
    read.inputFiles.iterator.map { f =>
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try footer.getRecordCount finally footer.close()
    }.sum
  }

  /** d7 over any (vec_id, embedding) frame of `n` rows, with the operating
    * point derived from the data size instead of hardcoded constants
    * ([[annParamsFor]]): the exact all-pairs path below the measured
    * crossover (same contract — d7 is defined as d6's top-k),
    * formula-sized LSH above it.
    */
  def lshNearDupAuto(e0: DataFrame, n: Long, topK: Int): DataFrame =
    annParamsFor(n) match {
      case None => embedNearDupOn(e0, topK)
      case Some(op) => lshNearDupOn(e0, op.bits, op.tables, topK)
    }

  /** Bucketed variant over any (vec_id, embedding) frame; at production
    * scale raise `bits` ≈ log2(n / target bucket size) and size `tables`
    * for the recall the near-dup threshold needs. The recall of a
    * (bits, tables) point is the hyperplane-collision formula
    * `1 − (1 − p^bits)^tables` with `p = 1 − acos(cosθ)/π` — validated
    * under stress by `graft.tools.AnnRecallSweep`: at n=10⁵ with pairs
    * planted at cosine bands 0.85/0.90/0.95, measured recall matches the
    * prediction within ±0.026 at all 27 (band × bits ∈ {9,11,13} ×
    * tables ∈ {4,8,16}) grid points (BASELINE.md round-5 table,
    * `data/r5_validation.log`). Operating points at 100 TB can therefore
    * be chosen analytically: bits from the bucket-size budget, tables
    * from the formula at the hardest cosine the threshold must recall.
    */
  def lshNearDupOn(e0: DataFrame, bits: Int, tables: Int, topK: Int): DataFrame = {
    val dot = VectorOps.dot _
    val e = e0.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
    // (vec_id, table, bucket) index rows: T tables × b sign bits per vector
    // (shared with v4's query-time probe — one index, two operators)
    val bk = VectorOps.bucketIndex(e, bits, tables)
    // candidates: sorted-run pair expansion per (table, bucket) — ONE
    // shuffle of the id index (same shape as d2's shingle postings; a
    // self-join would shuffle the index twice and build hash tables).
    // Bucket sizes are bounded by construction (bits ≈ log2(n / target
    // bucket size)), so the per-run expansion is bucket²/2 with a
    // design-bounded bucket. The cross-table pair dedupe happens in
    // [[bucketPairs]], before the rescore joins: a round-6 A/B at the test
    // parameters (dedupe-late via rescore-all + TakeOrdered(topK·tables) +
    // slice-dedupe measured 15.8s vs 9.4s for dedupe-first) showed that
    // shuffling the narrow (ia, ib) pairs through a distinct is
    // cheaper than dragging the ≤`tables`× duplicates through the
    // embedding joins, whose output rows carry two 64-element vectors.
    val cand = lshCandidatePairs(bk)
    // exact-cosine rescore: rejoin the embeddings by id. The embedding side
    // is HINTED to a shuffled HASH join: the candidate stream is the big
    // side (pairs >> vectors, and after the join each row carries two
    // 64-float arrays), so the sort-merge strategy Spark picks once the
    // vector table outgrows the broadcast threshold would SORT the
    // pair-with-embeddings stream — measured at n=10⁶ (AnnScale): ~2.4·10⁸
    // candidates × ~300 B sort input spilled >77 GB and killed the job on
    // the local disk. A shuffled hash join builds per-partition maps on the
    // n-row embedding side (n/partitions vectors each) and STREAMS the pair
    // side unsorted — the scale-correct plan at any n; at test SF the hint
    // costs nothing measurable.
    val ea = e.select(col("vec_id").as("ia"), col("embedding").as("ea"), col("nrm").as("na"))
    val eb = e.select(col("vec_id").as("ib"), col("embedding").as("eb"), col("nrm").as("nb"))
    cand.join(ea.hint("SHUFFLE_HASH"), "ia").join(eb.hint("SHUFFLE_HASH"), "ib")
      .select(col("ia"), col("ib"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
      .orderBy(desc("cosine"), col("ia"), col("ib"))
      .limit(topK)
  }

  /** The distinct (ia, ib) candidate pairs of a (vec_id, tbl, bkt) LSH
    * index: the [[bucketPairs]] of its (tbl, bkt) buckets. Shared with
    * `graft.tools.AnnRecallSweep`, so its recall is measured on the exact
    * candidate set the shipped operator runs.
    */
  private[graft] def lshCandidatePairs(bk: DataFrame): DataFrame =
    bucketPairs(bk, "vec_id", "tbl", "bkt").toDF("ia", "ib")

  /** Hyperplane rows as DuckDB VALUES literals — Double.toString emits the
    * shortest round-trip decimal, which DuckDB's correctly-rounded parser
    * maps back to the identical double, so bucket signs are bit-equal.
    */
  private[ops] def planeSqlValues: String =
    (0 until NearDupTables).flatMap { t =>
      (0 until NearDupBits).map { j =>
        val arr = VectorOps.hyperplane(t * NearDupBits + j, 64)
          .map(_.toString).mkString("[", ", ", "]")
        s"($t, $j, $arr::DOUBLE[])"
      }
    }.mkString(",\n         ")

  def lshNearDupSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
              sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
            FROM embeddings),
       planes(tbl, bit, p) AS (VALUES
         $planeSqlValues),
       bk AS (SELECT e.vec_id, pl.tbl,
              CAST(sum(CASE WHEN list_sum(list_transform(list_zip(e.emb, pl.p),
                                 z -> z[1] * z[2])) > 0.0
                       THEN (1 << pl.bit) ELSE 0 END) AS INT) AS bkt
              FROM e CROSS JOIN planes pl GROUP BY e.vec_id, pl.tbl),
       cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
                FROM bk a JOIN bk b
                  ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id)
       SELECT ia, ib,
         list_sum(list_transform(list_zip(ea.emb, eb.emb), z -> z[1] * z[2]))
           / (ea.nrm * eb.nrm) AS cosine
       FROM cand JOIN e ea ON cand.ia = ea.vec_id JOIN e eb ON cand.ib = eb.vec_id
       ORDER BY cosine DESC, ia, ib LIMIT 50"""

  /** d8 — near-dup CLUSTER assignment: connected components of the d4
    * LSH candidate graph, every document labeled with its component's
    * minimum doc_id (the canonical keeper) plus the component size. This
    * is the step a curation pipeline actually deletes by: pairwise
    * near-dup output (d2/d4/d7) under-removes on transitive chains
    * (A~B, B~C but A≁C must still collapse to ONE keeper), so dedup-at-
    * scale is "cluster, keep min" — exactly this operator.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each
    * round is one groupBy(node) + in-row emission, and the edge set
    * converges to a star forest rooted at each component's minimum in
    * O(log n) rounds. The obvious alternative, label-propagation-to-min,
    * needs DIAMETER rounds — a chain of n near-identical crawl dups is
    * the common worst case at corpus scale, so diameter bounds are the
    * difference between 20 shuffles and 10⁶ ([[graft.ops]] DedupSpec
    * pins a 256-node path converging in ≤12 rounds, far under its 255
    * diameter). Per-round lineage is truncated with `localCheckpoint`
    * (on a real cluster, point `spark.sparkContext.setCheckpointDir` at
    * durable storage and use `checkpoint()` — same shape, executor-loss
    * safe). Convergence is detected by an exact set compare (count +
    * one-sided except on deduped sets); the edge set shrinks toward one
    * edge per non-root node, so the check costs less each round.
    *
    * The DuckDB oracle re-derives the same labels via a recursive
    * reachability CTE over the same d4 edge set — algorithm-independent
    * ground truth, so the comparison is hash-exact.
    */
  /** d8's size dispatch (the d7 [[annParamsFor]] principle applied to the
    * component step): an LSH near-dup edge set at or below this row count
    * is collected and union-found ON THE DRIVER — a bounded ≤~3 MB
    * collect, the "broadcast the small side" idiom taken to its
    * conclusion — instead of paying 3-5 driver-sequential alternating-star
    * rounds of 4+ tiny shuffles each. Above the bound (any real dedup
    * corpus) the distributed O(log n) star algorithm runs unchanged; it
    * stays gated by DedupSpec's union-find-equality and round-count tests
    * either way.
    */
  val CcDriverEdgeBound = 200000

  def lshClusters(spark: SparkSession, dir: String): DataFrame =
    lshClustersWith(spark, dir, CcDriverEdgeBound)

  /** [[lshClusters]] with the driver-path bound as a parameter (DedupSpec
    * forces the distributed path with 0). The deduplicated edge set is
    * materialized once, so the size probe and either component path read
    * it instead of re-running the d4 band aggregate.
    */
  private[ops] def lshClustersWith(
      spark: SparkSession, dir: String, edgeBound: Int): DataFrame = {
    val edges = lshPairsRaw(spark, dir)
      .select(col("doc_a").as("s"), col("doc_b").as("d"))
      .localCheckpoint()
    // take bound+1 rows — overflow means "go distributed"
    val sample = edges.limit(edgeBound + 1).collect()
    val roots =
      if (sample.length <= edgeBound)
        driverComponents(spark, sample.map(r => (r.getLong(0), r.getLong(1))))
      else connectedComponents(edges)._1
    val lbl = docs(spark, dir).select(col("doc_id"))
      .join(roots.withColumnRenamed("s", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("cluster_id"))
    lbl
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .orderBy("doc_id")
  }

  /** Driver union-find over a bounded edge list, returning the same
    * (s = non-root node, root = component minimum) frame shape as
    * [[connectedComponents]] — min-rooted, roots/isolated nodes absent —
    * so the two paths are drop-in interchangeable (DedupSpec pins their
    * equality on the test corpus).
    */
  private[ops] def driverComponents(
      spark: SparkSession, edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val rows = parent.keys.toArray.map(v => (v, find(v)))
      .filter { case (v, r) => v != r }
    rows.toSeq.toDF("s", "root")
  }

  /** Alternating-star connected components over an undirected edge list
    * (any orientation, self-loops ignored). Returns the star forest as
    * (s = non-root node, root = its component minimum) — roots and
    * isolated nodes are absent — plus the round count (for the
    * convergence-speed gate in DedupSpec).
    */
  private[ops] def connectedComponents(edges0: DataFrame): (DataFrame, Int) = {
    var edges = edges0
      .filter(col("s") =!= col("d")).distinct()
      .localCheckpoint()
    var rounds = 0
    var done = false
    while (!done) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      rounds += 1
      done = next.count() == edges.count() && next.except(edges).isEmpty
      edges = next
    }
    (edges.groupBy("s").agg(min(col("d")).as("root")), rounds)
  }

  /** Large-star: for each node u over its full neighborhood Γ(u), connect
    * every strictly-larger neighbor to m = min(Γ(u) ∪ {u}).
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("d").as("s"), col("s").as("d")))
    sym.groupBy("s").agg(collect_set(col("d")).as("nb"))
      .select(col("s"), least(col("s"), array_min(col("nb"))).as("m"), col("nb"))
      .select(explode(filter(col("nb"), v => v > col("s"))).as("v"), col("m"))
      .select(col("v").as("s"), col("m").as("d"))
      .distinct()
  }

  /** Small-star: orient each edge large→small; for each node u over its
    * smaller neighbors N(u), connect N(u) ∪ {u} minus the minimum m to m.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(
      greatest(col("s"), col("d")).as("s"), least(col("s"), col("d")).as("d"))
    dir.groupBy("s").agg(collect_set(col("d")).as("nb"))
      .select(explode(array_union(col("nb"), array(col("s")))).as("v"),
        array_min(col("nb")).as("m"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("s"), col("m").as("d"))
      .distinct()
  }

  def lshClustersSql: String =
    s"""WITH RECURSIVE ${shingleCtes("documents")},
       $minhashCte,
       $bandsCte,
       pairs AS (SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
       reach(s, d) AS (SELECT s, d FROM edges
                       UNION
                       SELECT r.s, e.d FROM reach r JOIN edges e
                         ON r.d = e.s AND e.d <> r.s),
       lbl AS (SELECT doc.doc_id,
                 least(doc.doc_id, coalesce(min(r.d), doc.doc_id)) AS cluster_id
               FROM documents doc LEFT JOIN reach r ON r.s = doc.doc_id
               GROUP BY doc.doc_id)
       SELECT doc_id, cluster_id,
              count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       FROM lbl ORDER BY doc_id"""

  /** The (doc_id, band, key) LSH band index over any (doc_id, text) frame
    * — the d4 banding (4 bands × 2 minhash rows, same seeds/hash) as a
    * reusable index: one native [[graft.functions.MinHashSigs]] evaluation
    * per row, an in-row band-key explode, zero shuffles. Batch callers
    * pair it per (band, key) bucket ([[bucketPairs]]); the streaming near-dup
    * flagger ([[graft.streaming.StreamingOps.nearDupAgainstIndex]]) joins
    * an incoming stream's band keys against a static snapshot of it.
    * Key encoding = `concat_ws("_", mh_{2b}, mh_{2b+1})`; this is THE
    * band-key encoding — [[lshPairsRaw]] (d4/d8) pairs this same frame,
    * so batch pairing and streaming probes share one definition.
    */
  private[graft] def bandKeysOn(d: DataFrame): DataFrame = {
    val sigs = d.select(col("doc_id"),
      graft.functions.TextShingles.minHashSigCol(col("text"), MinHashSeeds)
        .as("sigs"))
      .filter(col("sigs").isNotNull)
    val bandKeys = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", col("sigs").getItem(2 * b), col("sigs").getItem(2 * b + 1))
          .as("key"))
    }: _*)
    sigs.select(col("doc_id"), explode(bandKeys).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** d9's stand-in benchmark predicate: every [[BenchmarkMod]]-th doc_id
    * plays the role of a held-out eval document. A real pipeline swaps
    * this for the actual benchmark corpus (MMLU/GSM8K/... files);
    * everything below is agnostic to where the benchmark rows come from.
    * The modulus is interpolated into the DuckDB oracle and re-used by
    * HygieneSpec, so changing the stand-in stays a one-line edit.
    */
  val BenchmarkMod = 97

  private def isBenchmark(id: Column): Column = id % BenchmarkMod === 0

  /** d9 — training/eval decontamination: flag every training document that
    * shares at least one word-3-gram with the benchmark set, with the
    * count of distinct shared shingle hashes. The standard pre-training
    * hygiene step (an eval question leaking into the training set inflates
    * measured accuracy); n-gram overlap is the method GPT-3/PaLM/Llama
    * report.
    *
    * Scale shape: the benchmark side is SMALL by definition (eval suites
    * are thousands of docs, the corpus is billions), so its distinct
    * shingle-hash set is BROADCAST — the training corpus is never
    * shuffled: ONE scan + shingling pass (the compact per-doc hash-array
    * frame — doc_id + longs, no text — is materialized via localCheckpoint
    * so the benchmark and training branches read the same blocks instead
    * of each re-scanning the parquet and re-shingling; production swaps
    * that for checkpoint()/a persisted table, the CurationOps spine note),
    * explode, broadcast hash-join, then a doc_id-keyed aggregate over only
    * the MATCHED rows (contamination hits, a vanishing fraction at real
    * scale). Collision semantics follow the d2 family: overlap counts
    * distinct 60-bit hashes, identical in the DuckDB oracle. On the
    * synthetic corpus the ~40-word vocabulary makes 3-gram overlap
    * near-universal, so most docs are flagged with small counts — the
    * values are data-determined; the operator's selectivity at web scale
    * comes from real benchmarks' rarer shingles.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = hashedShinglesOn(docs(spark, dir))
      .localCheckpoint()
      .select(col("doc_id"), explode(col("shingles")).as("h"))
    val benchShingles = sh.filter(isBenchmark(col("doc_id")))
      .select("h").distinct()
    sh.filter(!isBenchmark(col("doc_id")))
      .join(broadcast(benchShingles), "h")
      .groupBy("doc_id")
      .agg(count_distinct(col("h")).as("n_overlap"))
      .orderBy("doc_id")
  }

  def decontaminateSql: String =
    s"""WITH ${shingleCtes("documents")},
       bench AS (SELECT DISTINCT h FROM hs WHERE doc_id % $BenchmarkMod = 0)
       SELECT doc_id, count(DISTINCT h) AS n_overlap
       FROM hs JOIN bench USING (h)
       WHERE doc_id % $BenchmarkMod <> 0
       GROUP BY doc_id ORDER BY doc_id"""

  /** Hot-phrase thresholds for [[boilerplate]] (d10). A shingle is
    * boilerplate when its document frequency reaches BOTH bounds:
    * `df >= HotDfMin` (absolute floor so tiny corpora don't flag noise)
    * and `df * 1000 >= n_docs * HotFracPermille` — i.e. the phrase occurs
    * in at least 0.8% of ALL documents. The fractional bound is the scale
    * contract: it caps the hot set's total postings at
    * `1000/HotFracPermille × avg-shingles-per-doc` entries REGARDLESS of
    * corpus row count (a phrase must own ≥0.8% of all docs to qualify, so
    * at most 125 such phrases exist per average doc length), which is what
    * makes the broadcast below safe at 10^12 documents. Integer
    * arithmetic on both sides — no double `frac * n` whose DECIMAL-vs-
    * binary parse could diverge between engines.
    */
  val HotDfMin = 4
  val HotFracPermille = 8L

  /** d10 — corpus-level boilerplate detection (the CCNet/RefinedWeb
    * repeated-segment hygiene step): per document, how many of its
    * distinct word-3-grams are corpus-hot phrases (headers, footers,
    * cookie banners — text repeated verbatim across a meaningful fraction
    * of the corpus), the boilerplate fraction, and a heavy flag
    * (`n_boiler*2 >= n_shingles`, integer-exact). Documents that are
    * mostly boilerplate are dropped or stripped before training.
    *
    * Scale shape: ONE corpus scan + shingling pass materialized as the
    * compact per-doc hash-array frame (localCheckpoint, the d9 spine —
    * doc_id + longs, no text) feeds both branches; the df aggregate is the
    * single full-size Exchange (map-side combinable, keyed on the 60-bit
    * hash, no skew — every key's count is bounded by n_docs); the hot set
    * is broadcast (small by the fractional-threshold argument above); the
    * per-doc count re-aggregates on unique doc ids (second Exchange,
    * map-side combine to ≤1 row/doc/partition). Collision semantics follow
    * the d2 family — hot membership is by 60-bit hash, identical in the
    * DuckDB oracle. Docs with <3 words have no shingles and no row (both
    * engines).
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val shArr = hashedShinglesOn(docs(spark, dir)).localCheckpoint()
    val sh = shArr.select(col("doc_id"),
      size(col("shingles")).as("n_shingles"),
      explode(col("shingles")).as("h"))
    val nCorpus = shArr.agg(count(lit(1)).as("n_corpus"))
    val hot = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nCorpus))
      .filter(col("df") >= HotDfMin &&
        col("df") * 1000L >= col("n_corpus") * HotFracPermille)
      .select(col("h"), lit(1).as("is_hot"))
    sh.join(broadcast(hot), Seq("h"), "left")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(col("is_hot")).as("n_boiler"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_shingles")).as("boiler_frac"),
        (col("n_boiler") * 2 >= col("n_shingles")).cast("int").as("is_heavy"))
      .orderBy("doc_id")
  }

  /** d11's similarity floor: a vector is DROPPED when some lower-id vector
    * in its IVF cell has cosine ≥ this. The SemDeDup paper runs web-scale
    * embeddings at ~0.95+; the synthetic embeddings table has no planted
    * near-identical pairs (max within-cell cosine ≈ 0.49 at sf0.01), so the
    * shipped floor sits where both keep branches are exercised at the
    * oracle SFs. It is a plain constant — production tunes it per corpus.
    */
  val SemDedupTau = 0.4

  /** d11 — semantic dedup (the SemDeDup recipe, Abbas et al. 2023):
    * cluster the embedding space with the v3/v5 IVF coarse quantizer, then
    * compare vectors ONLY within their cell and drop any vector whose cell
    * contains a more-than-[[SemDedupTau]]-similar lower-id vector — the
    * deterministic min-id-keeper reading of the paper's
    * one-representative-per-ε-ball rule (the c1 funnel's near-dup
    * semantics). Complements d6/d7: those find near-IDENTICAL pairs; d11
    * prunes semantic redundancy at much looser similarity, keyed by the
    * cluster structure instead of LSH bands.
    *
    * Scale shape: the quantizer build and assignment are v5's (one
    * labels×dims shuffle + a zero-shuffle per-row argmin); the compact
    * assigned frame (id, vector, cell) is materialized once
    * (localCheckpoint — both self-join sides and the keep-side read it,
    * so the embeddings parquet is scanned once); the pair space is
    * partitioned by cell exactly as SemDeDup prescribes (cost Σ|cell|²/2,
    * controlled by the quantizer fan-out k — at 10⁹ vectors k scales so
    * cells stay ~10⁴), and the self-join is SHUFFLE_HASH-hinted per the
    * d7 lesson: sort-merge would sort the vector payloads by cell for
    * nothing. max(cosine) per vector is order-independent, so the doubles
    * are engine-exact (DedupSpec + oracle).
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semDedupOn(spark.read.parquet(s"$dir/embeddings.parquet"))

  private[graft] def semDedupOn(e: DataFrame): DataFrame = {
    import VectorOps.{dot, norm}
    val assigned = VectorOps.ivfAssigned(e)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .localCheckpoint()
    val x = assigned.select(col("vec_id").as("ia"), col("embedding").as("ea"),
      col("cell"))
    val y = assigned.select(col("vec_id").as("ib"), col("embedding").as("eb"),
      col("cell"))
    val nn = x.join(y.hint("SHUFFLE_HASH"), Seq("cell"))
      .filter(col("ia") > col("ib"))
      .select(col("ia"),
        (dot(col("ea"), col("eb")) / (norm(col("ea")) * norm(col("eb"))))
          .as("cos"))
      .groupBy("ia").agg(max("cos").as("nn"))
    assigned.select(col("vec_id"), col("cell"))
      .join(nn.hint("SHUFFLE_HASH"), col("vec_id") === col("ia"), "left")
      // sentinel -2.0 for "no lower-id cellmate": outside cosine's
      // [-1, 1], so it can never collide with a genuine anti-parallel
      // cellmate's -1.0
      .select(col("vec_id"), col("cell"),
        coalesce(col("nn"), lit(-2.0)).as("nn_lower_sim"),
        (coalesce(col("nn"), lit(-2.0)) < SemDedupTau).as("keep"))
      .orderBy("vec_id")
  }

  def semDedupSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
       x AS (SELECT label, unnest(emb) AS v, generate_subscripts(emb, 1) AS dim FROM e),
       cd AS (SELECT label, dim,
                CAST(sum(CAST(v AS DECIMAL(38,15))) AS DOUBLE) / count(*) AS c
              FROM x GROUP BY label, dim),
       cv AS (SELECT label AS cell, list(c ORDER BY dim) AS carr FROM cd GROUP BY label),
       dist AS (SELECT e.vec_id, e.emb, cv.cell,
                  list_sum(list_transform(e.emb, x -> x * x))
                  - 2.0 * list_sum(list_transform(list_zip(e.emb, cv.carr),
                                    z -> z[1] * z[2]))
                  + list_sum(list_transform(cv.carr, x -> x * x)) AS d2
                FROM e CROSS JOIN cv),
       assigned AS (SELECT vec_id, emb, cell FROM dist
                    QUALIFY row_number() OVER (PARTITION BY vec_id
                                               ORDER BY d2, cell) = 1),
       p AS (SELECT a.vec_id AS ia,
               max(list_sum(list_transform(list_zip(a.emb, b.emb), z -> z[1] * z[2]))
                 / (sqrt(list_sum(list_transform(a.emb, x -> x * x)))
                    * sqrt(list_sum(list_transform(b.emb, x -> x * x))))) AS nn
             FROM assigned a JOIN assigned b
               ON a.cell = b.cell AND a.vec_id > b.vec_id
             GROUP BY 1)
       SELECT a.vec_id, a.cell,
         coalesce(p.nn, -2.0) AS nn_lower_sim,
         coalesce(p.nn, -2.0) < $SemDedupTau AS keep
       FROM assigned a LEFT JOIN p ON a.vec_id = p.ia
       ORDER BY a.vec_id"""

  def boilerplateSql: String =
    s"""WITH ${shingleCtes("documents")},
       dfq AS (SELECT h, count(*) AS df FROM hs GROUP BY 1),
       n AS (SELECT count(*) AS n_corpus FROM documents),
       hot AS (SELECT h FROM dfq, n
               WHERE df >= $HotDfMin AND df*1000 >= n_corpus*$HotFracPermille),
       per AS (SELECT hs.doc_id, CAST(count(*) AS INT) AS n_shingles,
                      count(hot.h) AS n_boiler
               FROM hs LEFT JOIN hot ON hs.h = hot.h GROUP BY 1)
       SELECT doc_id, n_shingles, n_boiler,
              CAST(n_boiler AS DOUBLE)/n_shingles AS boiler_frac,
              CAST(n_boiler*2 >= n_shingles AS INT) AS is_heavy
       FROM per ORDER BY doc_id"""
}
