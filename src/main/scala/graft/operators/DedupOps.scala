package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (north star):
  * exact hash-dedup, token-shingle Jaccard, MinHash+LSH banding, SimHash.
  * No reference analog beyond per-batch `distinct()` (SURVEY.md §2.4 D1) —
  * these are its corpus-scale generalizations.
  *
  * Every hash is derived from md5 (available identically in Spark and
  * DuckDB), so the entire pipeline — signatures, bands, candidate pairs,
  * exact Jaccard verification — is integer-exact and oracle-checkable.
  *
  * Scale posture (100 TB): shingling is a narrow explode; signatures are one
  * hash-aggregate (16 mins) per doc; LSH banding turns the quadratic
  * all-pairs problem into an equi-join on (band, key) — the shuffle carries
  * one row per (doc, band), and only same-bucket docs ever meet. Exact
  * Jaccard runs on candidate pairs only. The all-pairs SimHash join below is
  * banded the same way (prefix blocks) before the hamming filter.
  */
object DedupOps extends QueryModule {

  private def docs(s: SparkSession, dir: String) = Tables.t(s, dir, "documents")

  private val P = 2147483647L // 2^31 - 1; (a*h+b) stays < 2^62
  /** Fixed MinHash permutation constants (k=16), a odd, both < P. */
  private val AB: Seq[(Long, Long)] = Seq(
    (1103515245L, 12345L), (1588635695L, 545925293L), (6364136223L % P, 1442695040L),
    (25214903917L % P, 11L), (134775813L, 1L), (214013L, 2531011L),
    (22695477L, 1L), (69069L, 1234567L), (1664525L, 1013904223L),
    (8121L, 28411L), (4096L, 150889L), (741103597L, 887987685L),
    (1597334677L, 851723965L), (747796405L, 2891336453L % P), (48271L, 0L),
    (16807L, 0L))

  /** 64-bit hash from md5 (first 15 hex digits), mod P — identical in both
    * engines: Spark conv(hex,16,10) ≡ DuckDB CAST('0x'||hex AS BIGINT). */
  private def h64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long") % P
  private def h64Sql(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT) % $P"

  /** doc_id + distinct 3-token shingles (shared with TextOps contamination).
    * repartition() first: the sandbox table is ONE parquet file = one input
    * split, which would run the explode + map-side distinct on a single
    * task; at corpus scale the scan is naturally split and the exchange is
    * a no-op-sized shuffle of raw docs. */
  private[graft] def shingles(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .repartition(col("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      // filtering matches the oracle's empty list for < 3 tokens
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(shingles3(col("toks"))).as("sh"))
      .distinct()

  /** The 3-token shingles of a token array, in order. Callers guard
    * size(toks) >= 3: below it, sequence(1, size - 2) runs DOWNWARD (Spark's
    * default step is -1 when start > stop) to index 0, an element_at error,
    * where DuckDB's generate_series(1, 0) is just empty. */
  private[graft] def shingles3(toks: Column): Column =
    transform(sequence(lit(1), size(toks) - 2),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
        element_at(toks, i + 2)))

  private[graft] val shinglesSql: String =
    """SELECT DISTINCT doc_id,
      |  unnest(list_transform(generate_series(1, len(toks) - 2),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)""".stripMargin

  // ---- exact dedup --------------------------------------------------------

  /** Exact dedup: group by full text hash, keep min doc_id. */
  private def exactDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  // ---- n-gram Jaccard -----------------------------------------------------

  /** Document-frequency cap for the exact-pair candidate generators: a
    * shingle with df > DF_CAP never generates candidate pairs (read off the
    * rarity order as [[rarityArr]]'s `nc`, never re-joined). This is what
    * bounds candidate volume LINEARLY: Σ_{df≤K} df² ≤ K·Σ df = K × (total
    * shingle occurrences), so a 10× corpus costs ≤ 10× — the uncapped
    * inverted-index self-join's Σ df² is quadratic wherever boilerplate
    * shingles have df ∝ n (measured 49–66× at 10× data in round 10).
    * Completeness bound (identical in both engines, so the oracle replays
    * it): a qualifying pair is missed iff every shingle its prefixes share
    * has df > DF_CAP — i.e. the pair overlaps ONLY in stop-shingles.
    * Identical-text duplicates are re-added losslessly via the md5 channel
    * ([[sameTextPairs]]); near-dups of heavily-boilerplated text are the
    * LSH family's job (minhash_lsh_pairs scales by design). At the bench
    * SFs (max df 7 at sf0.01, 25 at sf0.1) the cap is inactive — results
    * are byte-identical to the uncapped round-10 contract; at native sf1.0
    * it keeps 115/120 jaccard pairs (the 5 misses share only df>64
    * shingles) while cutting candidate mass 25×. */
  private val DF_CAP = 64L

  /** The exact-pair family's shared spine, one row per doc: (doc_id, ta =
    * its distinct shingle hashes in global (df, h) rarity order, sz = |ta|,
    * nc = how many have df ≤ [[DF_CAP]]). ta sorts by df first, so its
    * capped hashes are exactly its first nc: a capped rarity prefix is
    * `slice(ta, 1, least(nc, len))`, and verification intersects whole
    * arrays. The only reader of document frequencies; caller caches. */
  private def rarityArr(s: SparkSession, dir: String): DataFrame = {
    val base = shingles(s, dir).select(col("doc_id"), h64(col("sh")).as("h"))
      .distinct()
    val dfreq = base.groupBy(col("h")).agg(count(lit(1)).as("df"))
    base.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(transform(sort_array(collect_list(struct(col("df"), col("h")))),
        x => x.getField("h")).as("ta"),
        count(when(col("df") <= DF_CAP, 1)).cast("int").as("nc"))
      .withColumn("sz", size(col("ta")).cast("long"))
  }

  /** Identical-text doc pairs via one md5 group — the lossless channel that
    * keeps exact duplicates in the pair results regardless of the df-cap
    * (an exact-dup family's shingles all have df ≥ family size). Output is
    * bounded by the true duplicate mass, which any doc-pair contract pays. */
  private def sameTextPairs(s: SparkSession, dir: String): DataFrame = {
    val grp = docs(s, dir).select(md5(col("text")).as("fp"), col("doc_id"))
    grp.as("x").join(grp.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
  }

  private def sameTextPairsSql: String =
    """SELECT x.doc_id AS a_id, y.doc_id AS b_id
      |FROM (SELECT md5(text) fp, doc_id FROM documents) x
      |JOIN (SELECT md5(text) fp, doc_id FROM documents) y
      |  ON x.fp = y.fp AND x.doc_id < y.doc_id""".stripMargin

  /** Exact shingle-Jaccard near-dup pairs (≥ 0.3), candidate-bounded: the
    * rarity-prefix filter (lossless — J ≥ τ forces the rarest
    * s − ⌈τs⌉ + 1 shingles of each side to intersect) composed with the
    * [[DF_CAP]] stop-shingle cap (the linear-candidate bound) and the
    * lossless md5 identical-text channel. Verification is the exact
    * array intersection over full rarity arrays, so every emitted pair
    * carries its true inter/jaccard — the cap only prunes candidate
    * GENERATION. Round 10 measured the uncapped inverted-index form at
    * 49× cost for 10× data; this form's candidate mass is ≤ DF_CAP ×
    * shingle occurrences by construction. */
  private def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val arr = rarityArr(s, dir).cache() // feeds the prefix explode AND both verify sides
    // prefix length s − ⌈3s/10⌉ + 1 (τ = 0.3), capped at the nc rarest
    val pre = arr.select(col("doc_id"), col("sz"),
      explode(expr("slice(ta, 1, least(nc, CAST(sz - ((3 * sz + 9) div 10) + 1 AS INT)))"))
        .as("h"))
    val candP = pre.as("a").join(pre.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          lit(10L) * least(col("a.sz"), col("b.sz")) >=
            lit(3L) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    val cand = candP.union(sameTextPairs(s, dir)).distinct()
    val ver = cand
      .join(arr.select(col("doc_id").as("a_id"), col("ta").as("taa"),
        col("sz").as("na")), "a_id")
      .join(arr.select(col("doc_id").as("b_id"), col("ta").as("tab"),
        col("sz").as("nb")), "b_id")
      .withColumn("inter",
        size(array_intersect(col("taa"), col("tab"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.3)
      .select(col("a_id"), col("b_id"), col("inter"), col("jaccard"))
    // ordered1, not orderBy: a global sort's range-partitioning sampling
    // pass would re-execute the banded self-join for a few-dozen-row output
    graft.QOps.ordered1(ver, col("a_id"), col("b_id"))
  }

  private def ngramJaccardSql: String =
    s"""WITH sh AS MATERIALIZED ($shinglesSql),
       |base AS (SELECT DISTINCT doc_id, ${h64Sql("sh")} AS h FROM sh),
       |dfreq AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM base GROUP BY 1),
       |arr AS MATERIALIZED (
       |  SELECT doc_id, list(h ORDER BY df, h) AS ta,
       |    CAST(COUNT(*) AS BIGINT) AS sz
       |  FROM base JOIN dfreq USING (h) GROUP BY doc_id
       |), pre AS (
       |  SELECT p.doc_id, p.sz, p.h
       |  FROM (SELECT doc_id, sz,
       |          unnest(list_slice(ta, 1,
       |            CAST(sz - ((3 * sz + 9) // 10) + 1 AS INT))) AS h
       |        FROM arr) p
       |  JOIN dfreq USING (h) WHERE df <= $DF_CAP
       |), cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM pre a JOIN pre b
       |    ON a.h = b.h AND a.doc_id < b.doc_id
       |   AND 10 * LEAST(a.sz, b.sz) >= 3 * GREATEST(a.sz, b.sz)
       |  UNION
       |  $sameTextPairsSql
       |), ver AS (
       |  SELECT a_id, b_id,
       |    CAST(len(list_intersect(x.ta, y.ta)) AS BIGINT) AS inter,
       |    x.sz AS na, y.sz AS nb
       |  FROM cand JOIN arr x ON x.doc_id = a_id JOIN arr y ON y.doc_id = b_id
       |)
       |SELECT a_id, b_id, inter,
       |       inter * 1.0 / (na + nb - inter) AS jaccard
       |FROM ver
       |WHERE inter * 1.0 / (na + nb - inter) >= 0.3
       |ORDER BY a_id, b_id""".stripMargin

  // ---- MinHash + LSH ------------------------------------------------------

  /** MinHash signatures (k=16): one row per doc, 16 min-hash columns. */
  private def minhashSig(s: SparkSession, dir: String): DataFrame = {
    val base = shingles(s, dir).withColumn("h", h64(col("sh")))
    val aggs = AB.zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("h") + lit(b)) % P).as(s"mh$j")
    }
    base.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .orderBy(col("doc_id"))
  }

  private def minhashSigSql: String = {
    val cols = AB.zipWithIndex.map { case ((a, b), j) =>
      s"MIN(($a * h + $b) % $P) AS mh$j"
    }.mkString(",\n  ")
    s"""SELECT doc_id,
       |  $cols
       |FROM (SELECT doc_id, ${h64Sql("sh")} AS h
       |      FROM ($shinglesSql))
       |GROUP BY doc_id""".stripMargin
  }

  /** One row per (doc, band): the 4 bands × 4 rows of a [[minhashSig]]
    * signature, each band's rows joined into its bucket key. */
  private def lshBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      posexplode(array((0 until 4).map(bnd =>
        concat_ws(":", (0 until 4).map(r => col(s"mh${bnd * 4 + r}")): _*)): _*))
        .as(Seq("band", "key")))

  /** The LSH blocking stage: the distinct (a_id < b_id) doc pairs that share
    * a band bucket. */
  private def lshCandidates(sig: DataFrame): DataFrame = {
    val bands = lshBands(sig)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** Per-doc distinct-shingle count `n_sh`, the input of a Jaccard union. */
  private def shingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))

  /** Exact shingle intersection `inter` of each candidate pair (ids `a`,
    * `b`). Equi-join on (doc, shingle) both times: the intersection
    * materializes directly — joining on doc alone and filtering sh == sh2
    * would expand each pair to |sh_a|·|sh_b| rows first (quadratic). */
  private def shingleOverlap(cand: DataFrame, sh: DataFrame,
      a: String = "a_id", b: String = "b_id"): DataFrame =
    cand
      .join(sh.select(col("doc_id").as(a), col("sh")), a)
      .join(sh.select(col("doc_id").as(b), col("sh")), Seq(b, "sh"))
      .groupBy(col(a), col(b))
      .agg(count(lit(1)).as("inter"))

  /** `pairs` with each side's [[shingleCounts]]: `na` for a_id, `nb` for b_id. */
  private def withPairCounts(pairs: DataFrame, sizes: DataFrame): DataFrame =
    pairs
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_sh", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_sh", "nb"), "b_id")

  /** The oracles' form of [[lshBands]]: four SELECTs over a `sig` CTE. */
  private val bandSelectsSql: String = (0 until 4).map { bnd =>
    val key = (0 until 4).map(r => s"mh${bnd * 4 + r}").mkString(", ")
    s"SELECT doc_id, $bnd AS band, concat_ws(':', $key) AS key FROM sig"
  }.mkString("\n  UNION ALL ")

  /** The oracles' form of [[lshCandidates]]: `bands` and `cand` CTEs over a
    * `sig` CTE. */
  private val lshCandSql: String =
    s"""bands AS (
       |  $bandSelectsSql
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |)""".stripMargin

  /** MinHash LSH near-dup pairs: 4 bands × 4 rows → same-bucket candidates →
    * exact Jaccard ≥ 0.3 verification. Unordered core, shared by the
    * registered query and the clustering stage downstream. */
  private def minhashLshCore(s: SparkSession, dir: String): DataFrame = {
    // cache: the signature subtree feeds both sides of the band self-join
    val sig = minhashSig(s, dir).cache()
    val cand = lshCandidates(sig)
    val sh = shingles(s, dir).cache()
    val sizes = shingleCounts(sh)
    withPairCounts(shingleOverlap(cand, sh), sizes)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.3)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Registered form: ordered1 for the same reason as ngramJaccard — tiny
    * output, costly child. */
  private def minhashLsh(s: SparkSession, dir: String): DataFrame =
    graft.QOps.ordered1(minhashLshCore(s, dir), col("a_id"), col("b_id"))

  /** MinHash ESTIMATOR CALIBRATION over the LSH candidate pairs: per pair,
    * the sketch-estimated Jaccard (matching signature rows / 16) against
    * the exact shingle Jaccard, with the absolute error — the diagnostics
    * report a pipeline owner reads before trusting sketch-only dedup at
    * scale (is k=16 enough for this corpus?). All three quantities are
    * exact integer millis (matches·1000 div 16, inter·1000 div uni), so the
    * report hash-matches cross-engine; sketches and shingle sets are the
    * SAME cached subtrees the LSH join already builds. Unlike
    * minhash_lsh_pairs this keeps every candidate (no ≥0.3 cut) — the
    * low-similarity tail is exactly where the estimator error shows.
    */
  private def minhashCalibration(s: SparkSession, dir: String): DataFrame = {
    val sig = minhashSig(s, dir).cache()
    val cand = lshCandidates(sig)
    val matchCnt = (0 until 16).map(j =>
      when(col(s"a_mh$j") === col(s"b_mh$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val sigA = sig.select(col("doc_id").as("a_id") +:
      (0 until 16).map(j => col(s"mh$j").as(s"a_mh$j")): _*)
    val sigB = sig.select(col("doc_id").as("b_id") +:
      (0 until 16).map(j => col(s"mh$j").as(s"b_mh$j")): _*)
    val sh = shingles(s, dir).cache()
    val sizes = shingleCounts(sh)
    val inter = shingleOverlap(cand, sh)
    val out = withPairCounts(cand
        .join(inter, Seq("a_id", "b_id"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L))), sizes)
      .join(sigA, "a_id").join(sigB, "b_id")
      .withColumn("matches", matchCnt)
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("est_milli", expr("(matches * 1000) div 16"))
      .withColumn("jac_milli", expr("(inter * 1000) div uni"))
      .select(col("a_id"), col("b_id"), col("matches"), col("inter"),
        col("uni"), col("est_milli"), col("jac_milli"),
        abs(col("est_milli") - col("jac_milli")).as("err_milli"))
    graft.QOps.ordered1(out, col("a_id"), col("b_id"))
  }

  /** BLOCKING QUALITY report — the set-level eval a pipeline owner reads
    * before trusting LSH blocking at scale (minhash_calibration is the
    * per-pair sketch-error view; this is the recall/cost view):
    *
    *  - ground truth = exact shingle-Jaccard ≥ 0.5 pairs. COMPLETE, not
    *    sampled: any pair with Jaccard > 0 shares a shingle, so the
    *    shingle equi-join candidate space provably contains every
    *    above-threshold pair.
    *  - candidates  = the 4×4 MinHash-LSH band buckets (the same blocking
    *    minhash_lsh_pairs / incremental_dedup run in production).
    *  - pairs_completeness (recall): caught truth pairs / truth pairs.
    *  - reduction_ratio: 1 − candidates / all n·(n−1)/2 pairs — the whole
    *    point of blocking (at 1e9 docs, all-pairs is 5e17; this is the
    *    number that says the join never materializes it).
    *
    * All metrics exact integer millis (÷ via integer div). One output row.
    * Shingle sets and signatures are the same cached subtrees the LSH
    * queries build. */
  private def blockingQuality(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir).cache()
    val sizes = shingleCounts(sh)
    val inter = sh.select(col("doc_id").as("a_id"), col("sh"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh")), "sh")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    val truth = withPairCounts(inter, sizes)
      .filter(expr("(inter * 1000) div (na + nb - inter) >= 500"))
      .select(col("a_id"), col("b_id"))
      .cache()
    val sig = minhashSig(s, dir).cache()
    val cand = lshCandidates(sig).cache()
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    val nCaught = truth.join(cand, Seq("a_id", "b_id"), "left_semi")
      .agg(count(lit(1)).as("n_caught"))
    val nDocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    nTruth.crossJoin(broadcast(nCand)).crossJoin(broadcast(nCaught))
      .crossJoin(broadcast(nDocs))
      .select(col("n_docs"), col("n_truth"), col("n_cand"), col("n_caught"),
        when(col("n_truth") > 0, expr("(n_caught * 1000) div n_truth"))
          .otherwise(lit(1000L)).as("recall_milli"),
        // ppm, not milli: a good blocker prunes >99.9% of the pair space,
        // so milli resolution would round every healthy value to 1000.
        // DECIMAL(38,0) carrier: n_cand·10⁶ and n_docs·(n_docs−1) overflow
        // BIGINT near the 1e9-doc scale this metric targets (DuckDB's
        // HUGEINT promotion would keep going while a long silently wraps);
        // div on decimals still returns an exact BIGINT. Guarded for
        // n_docs ≤ 1 where the pair space is empty (DuckDB errors on //0).
        expr("""CASE WHEN n_docs > 1 THEN
                  1000000 - (CAST(n_cand AS DECIMAL(38,0)) * 1000000) div
                    (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) div 2)
                END""").as("reduction_ppm"))
  }

  private def blockingQualitySql: String =
    s"""WITH sh AS MATERIALIZED ($shinglesSql),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), truth AS (
       |  SELECT i.a_id, i.b_id
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.a_id
       |  JOIN sizes sb ON sb.doc_id = i.b_id
       |  WHERE (i.inter * 1000) // (sa.n_sh + sb.n_sh - i.inter) >= 500
       |), sig AS ($minhashSigSql),
       |$lshCandSql, m AS (
       |  SELECT
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
       |     WHERE EXISTS (SELECT 1 FROM cand c
       |                   WHERE c.a_id = t.a_id AND c.b_id = t.b_id)) AS n_caught
       |)
       |SELECT n_docs, n_truth, n_cand, n_caught,
       |  CAST(CASE WHEN n_truth > 0 THEN (n_caught * 1000) // n_truth
       |            ELSE 1000 END AS BIGINT) AS recall_milli,
       |  CAST(CASE WHEN n_docs > 1 THEN
       |         1000000 - (n_cand * 1000000) // (n_docs * (n_docs - 1) // 2)
       |       END AS BIGINT) AS reduction_ppm
       |FROM m""".stripMargin

  /** Exact theoretical LSH catch probability at the decile midpoint
    * j = (2d+1)/20 for the 4-band × 4-row family: p = 1 − (1 − j⁴)⁴,
    * computed as EXACT RATIONAL integer arithmetic (numerator/denominator
    * over 160000⁴ ≈ 6.6e20 — BigInt here, HUGEINT in the oracle) so both
    * engines produce the identical BIGINT millis; a float pow would not be
    * cross-engine reproducible. */
  private def scurveTheoMilli(d: Int): Long = {
    val k4 = BigInt(2 * d + 1).pow(4)
    val den = BigInt(160000).pow(4)
    val base4 = (BigInt(160000) - k4).pow(4)
    (((den - base4) * 1000) / den).toLong
  }

  /** LSH S-CURVE eval — the (bands, rows) design readout: per exact-Jaccard
    * decile, how many true pairs exist, how many the 4×4 banding actually
    * catches, and what the theory 1 − (1 − j^rows)^bands predicts at the
    * decile midpoint. `blocking_quality` is the single-threshold summary;
    * this is the full curve you read before changing the band geometry
    * (is the knee where the dedup threshold needs it?). Truth = ALL pairs
    * with Jaccard > 0 among a deterministic doc SAMPLE (complete via the
    * blocked shingle equi-join on the sampled side): the sample keeps
    * n/S ≈ [[SCURVE_TARGET]] docs via md5(doc_id) mod S = 0 with
    * S = max(1, n div target), computed identically in both engines — at
    * sf0.01 S = 1 (the full exact truth), at any scale the truth join
    * stays constant-bounded (round 10 measured the unsampled truth at 20×
    * cost for 10× data; an S-curve is a per-decile statistic, and a
    * hash-sample of docs induces an unbiased pair sample). The LSH
    * candidate side stays FULL — it is the machinery under eval. A
    * 10-row decile spine keeps empty deciles visible (n_true = 0,
    * caught_milli NULL in both engines). All columns exact integers.
    */
  private val SCURVE_TARGET = 2000L

  private def lshScurveEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingles(s, dir).cache()
    val sizes = shingleCounts(sh)
    val sRow = docs(s, dir).agg(count(lit(1)).as("nd"))
      .select(greatest(lit(1L), expr(s"nd div $SCURVE_TARGET")).as("samp"))
    val shT = sh.crossJoin(broadcast(sRow))
      .filter(pmod(
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long"), col("samp")) === 0L)
      .select(col("doc_id"), col("sh"))
    val inter = shT.select(col("doc_id").as("a_id"), col("sh"))
      .join(shT.select(col("doc_id").as("b_id"), col("sh")), "sh")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    val truth = withPairCounts(inter, sizes)
      .withColumn("decile", least(lit(9L),
        expr("(inter * 1000) div (na + nb - inter) div 100")))
      .select(col("a_id"), col("b_id"), col("decile"))
    val sig = minhashSig(s, dir).cache()
    val cand = lshCandidates(sig)
    val perDec = truth
      .join(cand.withColumn("_hit", lit(1L)), Seq("a_id", "b_id"), "left")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_caught"))
    val theo = (0 until 10)
      .map(d => (d.toLong, (2L * d + 1) * 50, scurveTheoMilli(d)))
      .toDF("decile", "j_mid_milli", "theo_milli")
    broadcast(theo).join(perDec, Seq("decile"), "left")
      .select(col("decile"), col("j_mid_milli"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"),
        when(col("n_true") > 0, expr("(n_caught * 1000) div n_true"))
          .as("caught_milli"),
        col("theo_milli"))
      .orderBy(col("decile"))
  }

  private def lshScurveEvalSql: String =
    s"""WITH sh AS MATERIALIZED ($shinglesSql),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
       |samp AS (
       |  SELECT GREATEST(1, COUNT(*) // $SCURVE_TARGET) AS samp FROM documents
       |), sht AS (
       |  SELECT s.doc_id, s.sh FROM sh s CROSS JOIN samp
       |  WHERE CAST(concat('0x', substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 15))
       |             AS BIGINT) % samp = 0
       |), truth AS (
       |  SELECT i.a_id, i.b_id,
       |    LEAST(9, (i.inter * 1000) // (sa.n_sh + sb.n_sh - i.inter) // 100)
       |      AS decile
       |  FROM (
       |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |           CAST(COUNT(*) AS BIGINT) AS inter
       |    FROM sht a JOIN sht b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2
       |  ) i
       |  JOIN sizes sa ON sa.doc_id = i.a_id
       |  JOIN sizes sb ON sb.doc_id = i.b_id
       |), sig AS ($minhashSigSql),
       |$lshCandSql, per_dec AS (
       |  SELECT t.decile, CAST(COUNT(*) AS BIGINT) AS n_true,
       |    CAST(SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_caught
       |  FROM truth t
       |  LEFT JOIN cand c ON c.a_id = t.a_id AND c.b_id = t.b_id
       |  GROUP BY 1
       |), spine AS (
       |  SELECT unnest(generate_series(0, 9)) AS decile
       |), theo AS (
       |  -- exact rational: p = 1 - (1 - j^4)^4 at j = (2d+1)/20, all
       |  -- HUGEINT integer arithmetic over the 160000^4 denominator —
       |  -- identical BIGINT millis to the Spark side's BigInt constants
       |  SELECT decile,
       |    CAST(((den - base * base * base * base) * 1000) // den AS BIGINT)
       |      AS theo_milli
       |  FROM (
       |    SELECT decile,
       |      CAST(160000 AS HUGEINT) * 160000 * 160000 * 160000 AS den,
       |      CAST(160000 - (2*decile+1)*(2*decile+1)*(2*decile+1)*(2*decile+1)
       |           AS HUGEINT) AS base
       |    FROM spine
       |  )
       |)
       |SELECT s.decile,
       |  CAST((2 * s.decile + 1) * 50 AS BIGINT) AS j_mid_milli,
       |  COALESCE(p.n_true, 0) AS n_true,
       |  COALESCE(p.n_caught, 0) AS n_caught,
       |  CAST(CASE WHEN p.n_true > 0 THEN (p.n_caught * 1000) // p.n_true END
       |       AS BIGINT) AS caught_milli,
       |  t.theo_milli
       |FROM spine s
       |LEFT JOIN per_dec p USING (decile)
       |JOIN theo t USING (decile)
       |ORDER BY s.decile""".stripMargin

  private def minhashCalibrationSql: String = {
    val matchSum = (0 until 16).map(j =>
      s"CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH sig AS MATERIALIZED ($minhashSigSql),
       |$lshCandSql, sh AS MATERIALIZED ($shinglesSql),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.a_id
       |  JOIN sh b ON b.doc_id = c.b_id AND b.sh = a.sh
       |  GROUP BY 1, 2
       |)
       |SELECT c.a_id, c.b_id,
       |  CAST($matchSum AS BIGINT) AS matches,
       |  COALESCE(i.inter, 0) AS inter,
       |  sza.n_sh + szb.n_sh - COALESCE(i.inter, 0) AS uni,
       |  (CAST($matchSum AS BIGINT) * 1000) // 16 AS est_milli,
       |  (COALESCE(i.inter, 0) * 1000)
       |    // (sza.n_sh + szb.n_sh - COALESCE(i.inter, 0)) AS jac_milli,
       |  ABS((CAST($matchSum AS BIGINT) * 1000) // 16
       |      - (COALESCE(i.inter, 0) * 1000)
       |        // (sza.n_sh + szb.n_sh - COALESCE(i.inter, 0))) AS err_milli
       |FROM cand c
       |LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
       |JOIN sizes sza ON sza.doc_id = c.a_id
       |JOIN sizes szb ON szb.doc_id = c.b_id
       |JOIN sig sa ON sa.doc_id = c.a_id
       |JOIN sig sb ON sb.doc_id = c.b_id
       |ORDER BY c.a_id, c.b_id""".stripMargin
  }

  /** Incremental dedup — the shape a DAILY ingest actually runs: probe an
    * increment of new documents against the HISTORICAL corpus's LSH band
    * index instead of re-deduplicating the whole corpus. The increment is
    * the deterministic 10% slice `doc_id % 10 = 0` (standing in for
    * "today's crawl"); the corpus is the rest. Every increment doc reports
    * its best corpus match (max Jaccard, ties to the lowest corpus id) or
    * a no-match row.
    *
    * Scale posture (100 TB): the corpus appears ONLY through its
    * (band, key) index — one row per (doc, band), persisted once in a real
    * deployment — and the probe is an equi-join of increment bands against
    * it: cost O(increment + touched buckets) per day, never corpus² and
    * never a corpus rescan. Exact-Jaccard verification touches candidate
    * pairs only.
    */
  private def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = lshBands(minhashSig(s, dir).cache())
    val inc = bands.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("new_id"), col("band"), col("key"))
    val corpusIdx = bands.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("old_id"), col("band"), col("key"))
    val cand = inc.join(corpusIdx, Seq("band", "key"))
      .select(col("new_id"), col("old_id")).distinct()
    val sh = shingles(s, dir).cache()
    val sizes = shingleCounts(sh)
    val verified = shingleOverlap(cand, sh, "new_id", "old_id")
      .join(sizes.withColumnRenamed("doc_id", "new_id")
        .withColumnRenamed("n_sh", "nn"), "new_id")
      .join(sizes.withColumnRenamed("doc_id", "old_id")
        .withColumnRenamed("n_sh", "no"), "old_id")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("nn") + col("no") - col("inter")))
      .filter(col("jaccard") >= 0.3)
    val w = Window.partitionBy(col("new_id"))
      .orderBy(col("jaccard").desc, col("old_id"))
    val best = verified
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("new_id"), col("old_id").as("dup_of"), col("jaccard"))
    docs(s, dir).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("new_id"))
      .join(best, Seq("new_id"), "left")
      .select(col("new_id"), col("dup_of"), col("jaccard"),
        col("dup_of").isNotNull.cast("long").as("is_dup"))
      .orderBy(col("new_id"))
  }

  private def incrementalDedupSql: String =
    s"""WITH sig AS MATERIALIZED ($minhashSigSql),
       |bands AS (
       |  $bandSelectsSql
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
       |  WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0
       |), sh AS MATERIALIZED ($shinglesSql),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.new_id, c.old_id, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.new_id
       |  JOIN sh sb ON sb.doc_id = c.old_id AND sb.sh = sa.sh
       |  GROUP BY 1, 2
       |), verified AS (
       |  SELECT i.new_id, i.old_id,
       |         i.inter * 1.0 / (sn.n_sh + so.n_sh - i.inter) AS jaccard
       |  FROM inter i
       |  JOIN sizes sn ON sn.doc_id = i.new_id
       |  JOIN sizes so ON so.doc_id = i.old_id
       |  WHERE i.inter * 1.0 / (sn.n_sh + so.n_sh - i.inter) >= 0.3
       |), best AS (
       |  SELECT new_id, old_id AS dup_of, jaccard
       |  FROM (SELECT v.*, ROW_NUMBER() OVER (PARTITION BY new_id
       |          ORDER BY jaccard DESC, old_id) AS rk FROM verified v)
       |  WHERE rk = 1
       |)
       |SELECT d.doc_id AS new_id, b.dup_of, b.jaccard,
       |  CAST(CASE WHEN b.dup_of IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_dup
       |FROM documents d LEFT JOIN best b ON b.new_id = d.doc_id
       |WHERE d.doc_id % 10 = 0
       |ORDER BY new_id""".stripMargin

  /** Connected components of an undirected edge list (a_id, b_id) columns:
    * every node ends labeled with its component's minimum id, whatever the
    * component diameter (the fixed-K unrolled form silently under-merged any
    * chain longer than K). A node whose only pair is with itself is its own
    * component.
    */
  private[graft] def connectedComponents(pairs0: DataFrame): DataFrame =
    connectedComponents(pairs0, smallGraphLimit = 1000000L)

  /** @param smallGraphLimit edge count at or below which the labels come
    *        from a driver-side union-find; above it, from the distributed
    *        [[ccAlternatingStar]]. Labels are IDENTICAL either way; the fast
    *        path exists because each distributed round pays several Spark
    *        jobs — pure scheduler overhead when the deduplicated edge list is
    *        a few thousand rows (the common case: near-dup graphs are far
    *        smaller than the corpus). 1M edges ≈ 16 MB of longs is
    *        comfortably driver-safe.
    */
  private[graft] def connectedComponents(
      pairs0: DataFrame, smallGraphLimit: Long): DataFrame = {
    // cache: the count and then the collect (or the star path's edge set)
    // read the expensive pair-finding child
    val pairs = pairs0.cache()
    val nEdges = pairs.count()
    if (nEdges > smallGraphLimit) {
      val labels = ccAlternatingStar(pairs)._1
      // the star path has materialized its own edge set; without this every
      // dedup query leaves the pairs pinned in storage for the JVM lifetime
      pairs.unpersist()
      return labels
    }
    val spark = pairs0.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .as[(Long, Long)].collect()
    pairs.unpersist()
    val parent = scala.collection.mutable.Map[Long, Long]()
    // iterative find + path compression: a recursive find overflows the
    // stack on path-shaped components (descending-id edge order builds an
    // O(nodes) parent chain — well inside the 1M-edge envelope)
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = parent.keys.toSeq.map(v => (v, find(v)))
    labels.toDF("doc_id", "cluster")
  }

  /** Near-dup CLUSTERS from the LSH pairs via [[connectedComponents]]. */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    graft.QOps.ordered1(
      connectedComponents(minhashLshCore(s, dir).select(col("a_id"), col("b_id"))),
      col("doc_id"))

  /** Connected components by ALTERNATING large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the O(log n)-round algorithm, where min-label propagation needs
    * O(diameter) rounds. On a 100 TB pair graph whose duplicate families
    * chain (the common near-dup topology: A≈B≈C≈…), diameter can reach
    * thousands while log₂(n) stays ~40 — this is [[connectedComponents]]'s
    * distributed path, VALUE-IDENTICAL to its union-find (every node labeled
    * with its component's min id; the oracle is the same recursive
    * reachability the dedup_clusters query uses, and PipelineOpsSpec pins
    * equality + the round advantage on an adversarial 64-chain).
    *
    * Each round is two (groupBy-min + equi-join + distinct) passes over the
    * CURRENT edge set — which only shrinks toward the star forest — with
    * lineage rebased per round (the kcore_peel lesson). Termination: the
    * edge set reaching a fixpoint, detected with count + one-sided except
    * (both bounded by the edge set itself).
    */
  private[graft] def ccAlternatingStar(
      pairs: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    // self-pairs stay in the node set (a node whose only pair is with itself
    // is its own component) and leave only the edge set the rounds work on
    val edges = pairs
      .select(col("a_id").cast("long").as("u"), col("b_id").cast("long").as("v"))
      .distinct().cache()
    val allNodes = edges.select(col("u")).unionAll(edges.select(col("v").as("u")))
      .distinct()
    var e = edges.filter(col("u") =!= col("v"))
    var n = e.count()
    var rounds = 0
    var stable = n == 0L
    while (!stable && rounds < maxRounds) {
      // large-star: every neighbor LARGER than u links to u's min
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val lmin = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = sym.join(lmin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // small-star: orient (max, min); every neighbor (all smaller) and u
      // itself link to the min of the closed neighborhood
      val oriented = large
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val smin = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = oriented.join(smin, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(smin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
      val next = graft.QOps.rebase(small).cache()
      val nNext = next.count()
      stable = nNext == n && next.exceptAll(e).isEmpty
      // a no-op in round 1, whose e is a view of the still-needed edges
      e.unpersist()
      e = next
      n = nNext
      rounds += 1
    }
    // loud, not wrong: an unconverged edge set is not a star forest and the
    // label join below would emit non-minimal labels
    require(stable, s"ccAlternatingStar did not converge in $maxRounds rounds")
    // converged star forest: each non-center u carries one (u -> center)
    // edge; centers (and isolated inputs) label themselves
    val labels = allNodes
      .join(e.groupBy(col("u")).agg(min(col("v")).as("lab")), Seq("u"), "left")
      .select(col("u").as("doc_id"),
        coalesce(col("lab"), col("u")).as("cluster"))
    (labels, rounds)
  }

  /** The LSH near-dup clusters via the O(log n)-round alternating-star CC —
    * same labels, same oracle as dedup_clusters (see [[ccAlternatingStar]]). */
  private def ccAlternatingStarClusters(s: SparkSession, dir: String): DataFrame =
    graft.QOps.ordered1(
      ccAlternatingStar(minhashLshCore(s, dir).select(col("a_id"), col("b_id")))._1,
      col("doc_id"))

  /** Duplicate-family size distribution — the dedup report a corpus owner
    * reads first ("how much of my corpus is 2-copies vs 100-copy pileups"):
    * cluster sizes from [[connectedComponents]] rolled into a (family_size,
    * n_families, n_docs) histogram. Singletons are not in the pair graph,
    * so the histogram covers families of size ≥ 2 by construction. The
    * histogram domain is bounded by the largest family — two tiny hash
    * aggregates on top of the audited clustering plan.
    */
  private def clusterSizeHistogram(s: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashLshCore(s, dir).select(col("a_id"), col("b_id")))
      .groupBy(col("cluster")).agg(count(lit(1)).as("family_size"))
      .groupBy(col("family_size"))
      .agg(count(lit(1)).cast("long").as("n_families"),
        sum(col("family_size")).cast("long").as("n_docs"))
      .orderBy(col("family_size"))

  private def clusterSizeHistogramSql: String =
    s"""WITH clusters AS ($dedupClustersSql),
       |sizes AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS family_size
       |  FROM clusters GROUP BY 1
       |)
       |SELECT family_size, CAST(COUNT(*) AS BIGINT) AS n_families,
       |  CAST(SUM(family_size) AS BIGINT) AS n_docs
       |FROM sizes GROUP BY 1 ORDER BY family_size""".stripMargin

  /** Dedup ROI report — what near-dup dedup actually buys: corpus docs and
    * tokens vs the docs/tokens REMOVED when each duplicate family keeps
    * only its lowest-id survivor (deterministic canonical; the quality-
    * argmax variant is `cluster_keep_best`). One row: the number every
    * dedup proposal leads with ("−X% tokens"). Removed-token share in
    * exact ppm — no float enters the report.
    */
  private def dedupImpactReport(s: SparkSession, dir: String): DataFrame = {
    val clusters =
      connectedComponents(minhashLshCore(s, dir).select(col("a_id"), col("b_id")))
    val surv = clusters.groupBy(col("cluster"))
      .agg(min(col("doc_id")).as("keep"))
    val removed = clusters.join(surv, "cluster")
      .filter(col("doc_id") =!= col("keep"))
      .select(col("doc_id"))
    val toks = docs(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .cache()
    val corpus = toks.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(col("ntok")).cast("long").as("total_tokens"))
    val rem = removed.join(toks, "doc_id")
      .agg(count(lit(1)).cast("long").as("n_removed"),
        coalesce(sum(col("ntok")), lit(0L)).cast("long").as("removed_tokens"))
    val fam = clusters.agg(
      count(lit(1)).cast("long").as("n_clustered"),
      countDistinct(col("cluster")).cast("long").as("n_families"))
    broadcast(corpus).crossJoin(broadcast(fam)).crossJoin(rem)
      .withColumn("removed_tokens_ppm",
        expr("(removed_tokens * 1000000) div total_tokens"))
      .select(col("n_docs"), col("total_tokens"), col("n_clustered"),
        col("n_families"), col("n_removed"), col("removed_tokens"),
        col("removed_tokens_ppm"))
  }

  private def dedupImpactReportSql: String =
    s"""WITH clusters AS ($dedupClustersSql),
       |surv AS (
       |  SELECT cluster, MIN(doc_id) AS keep FROM clusters GROUP BY 1
       |), removed AS (
       |  SELECT c.doc_id FROM clusters c JOIN surv s ON c.cluster = s.cluster
       |  WHERE c.doc_id <> s.keep
       |), toks AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
       |  FROM documents
       |), corpus AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(ntok) AS BIGINT) AS total_tokens
       |  FROM toks
       |), rem AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_removed,
       |    CAST(COALESCE(SUM(t.ntok), 0) AS BIGINT) AS removed_tokens
       |  FROM removed r JOIN toks t ON r.doc_id = t.doc_id
       |), fam AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_clustered,
       |    CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_families
       |  FROM clusters
       |)
       |SELECT n_docs, total_tokens, n_clustered, n_families, n_removed,
       |  removed_tokens,
       |  (removed_tokens * 1000000) // total_tokens AS removed_tokens_ppm
       |FROM corpus CROSS JOIN fam CROSS JOIN rem""".stripMargin

  /** Similarity-distribution histogram of the LSH candidate pairs: exact
    * Jaccard binned in 50-milli bands — the plot a dedup owner reads to
    * PICK the near-dup threshold (where does the bimodal valley sit?)
    * before committing a cutoff. Candidate generation and the exact
    * intersection reuse the audited banded machinery; the histogram is one
    * more hash agg over a ≤21-row band domain.
    */
  private def jaccardHistogram(s: SparkSession, dir: String): DataFrame = {
    val sig = minhashSig(s, dir).cache()
    val cand = lshCandidates(sig)
    val sh = shingles(s, dir).cache()
    val sizes = shingleCounts(sh)
    val inter = shingleOverlap(cand, sh)
    withPairCounts(cand.join(inter, Seq("a_id", "b_id"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L))), sizes)
      .withColumn("jac_milli", expr("(inter * 1000) div (na + nb - inter)"))
      .withColumn("band_lo_milli", expr("(jac_milli div 50) * 50"))
      .groupBy(col("band_lo_milli"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
      .orderBy(col("band_lo_milli"))
  }

  private def jaccardHistogramSql: String =
    s"""WITH sig AS MATERIALIZED ($minhashSigSql),
       |$lshCandSql, sh AS MATERIALIZED ($shinglesSql),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.a_id
       |  JOIN sh b ON b.doc_id = c.b_id AND b.sh = a.sh
       |  GROUP BY 1, 2
       |), jac AS (
       |  SELECT ((COALESCE(i.inter, 0) * 1000)
       |          // (sza.n_sh + szb.n_sh - COALESCE(i.inter, 0)) // 50) * 50
       |    AS band_lo_milli
       |  FROM cand c
       |  LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
       |  JOIN sizes sza ON sza.doc_id = c.a_id
       |  JOIN sizes szb ON szb.doc_id = c.b_id
       |)
       |SELECT band_lo_milli, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM jac GROUP BY 1 ORDER BY band_lo_milli""".stripMargin

  /** Cross-source duplication matrix — "which crawls duplicate which":
    * verified near-dup pairs rolled up by the (unordered) source pair of
    * their endpoints. The diagonal is within-source duplication; off-
    * diagonal cells say which pairs of feeds overlap (the report that
    * decides which source to drop or down-weight in the mixture). Two
    * broadcast joins of the doc→source projection against the audited
    * LSH pair plan, then a hash agg over the ≤|sources|² matrix.
    */
  private def sourceDedupMatrix(s: SparkSession, dir: String): DataFrame = {
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    minhashLshCore(s, dir).select(col("a_id"), col("b_id"))
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private def sourceDedupMatrixSql: String =
    s"""WITH pairs AS ($minhashLshSql)
       |SELECT LEAST(da.source, db.source) AS src_a,
       |       GREATEST(da.source, db.source) AS src_b,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM pairs p
       |JOIN documents da ON p.a_id = da.doc_id
       |JOIN documents db ON p.b_id = db.doc_id
       |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  /** Oracle: true connected components via recursive reachability — every
    * label a node can reach, min per node. Matches [[connectedComponents]]
    * (union-find or alternating star) at any diameter (the old unrolled-K
    * oracle could only ever agree with an equally-unrolled Spark plan). */
  private def dedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  SELECT a_id, b_id FROM ($minhashLshSql)
       |), und AS (
       |  SELECT a_id AS u, b_id AS v FROM pairs
       |  UNION ALL
       |  SELECT b_id AS u, a_id AS v FROM pairs
       |), reach(u, lab) AS (
       |  SELECT DISTINCT u, u FROM und
       |  UNION
       |  SELECT und.u, reach.lab FROM und JOIN reach ON reach.u = und.v
       |)
       |SELECT u AS doc_id, MIN(lab) AS cluster FROM reach
       |GROUP BY u ORDER BY doc_id""".stripMargin

  private def minhashLshSql: String =
    s"""WITH sig AS MATERIALIZED ($minhashSigSql),
       |$lshCandSql, sh AS MATERIALIZED ($shinglesSql),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.a_id, c.b_id, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.a_id
       |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.sh = sa.sh
       |  GROUP BY 1, 2
       |)
       |SELECT i.a_id, i.b_id,
       |       i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.a_id
       |JOIN sizes sb ON sb.doc_id = i.b_id
       |WHERE i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter) >= 0.3
       |ORDER BY a_id, b_id""".stripMargin

  /** End-to-end dedup pipeline output: for every near-dup CLUSTER, the
    * member that survives — not keep-min-id but keep-BEST, argmax of the
    * quality score over the cluster (ties to the lowest id). This is the
    * composition a real pipeline ships: LSH candidates → exact verify →
    * connected components → quality-ranked survivor per component. One
    * window over the (tiny) clustered subset joined to the per-doc quality
    * projection.
    */
  private def clusterKeepBest(s: SparkSession, dir: String): DataFrame = {
    val clusters =
      connectedComponents(minhashLshCore(s, dir).select(col("a_id"), col("b_id")))
    val quality = TextOps.qualityScore(s, dir)
      .select(col("doc_id"), col("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("quality").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("n_members",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("doc_id").as("keep_doc_id"),
        col("quality"), col("n_members"))
      // ordered1, not orderBy: range-partitioning sampling would re-execute
      // the clusters⋈quality window subtree for a few-dozen-row output
      .transform(graft.QOps.ordered1(_, col("cluster")))
  }

  private def clusterKeepBestSql: String =
    s"""WITH clusters AS ($dedupClustersSql),
       |q AS (${TextOps.qualityScoreSql}),
       |j AS (
       |  SELECT c.cluster, c.doc_id, q.quality,
       |         CAST(COUNT(*) OVER (PARTITION BY c.cluster) AS BIGINT) AS n_members,
       |         ROW_NUMBER() OVER (PARTITION BY c.cluster
       |                            ORDER BY q.quality DESC, c.doc_id) AS rk
       |  FROM clusters c JOIN q USING (doc_id)
       |)
       |SELECT cluster, doc_id AS keep_doc_id, quality, n_members
       |FROM j WHERE rk = 1 ORDER BY cluster""".stripMargin

  // ---- SimHash ------------------------------------------------------------

  /** 32-bit SimHash per doc from distinct-token md5 hashes: bit j is the
    * majority vote of token-hash bit j. Pure integer math. */
  private def simhash(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .repartition(col("doc_id")) // single-file scan → parallelize the explode
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
      .withColumn("h", h64(col("tok")))
    val bitSums = (0 until 32).map(j =>
      sum(shiftright(col("h"), j) % 2).as(s"s$j"))
    val grouped = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val sim = (0 until 32).map(j =>
      when(lit(2) * col(s"s$j") > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    grouped.select(col("doc_id"), sim.as("simhash"))
      .orderBy(col("doc_id"))
  }

  private def simhashSql: String = {
    val bitSums = (0 until 32).map(j => s"SUM((h >> $j) % 2) AS s$j").mkString(",\n    ")
    val simExpr = (0 until 32).map(j =>
      s"CASE WHEN 2 * s$j > n THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), hs AS (
       |  SELECT doc_id, ${h64Sql("tok")} AS h FROM toks
       |), grouped AS (
       |  SELECT doc_id, COUNT(*) AS n,
       |    $bitSums
       |  FROM hs GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash
       |FROM grouped""".stripMargin
  }

  private def simhashQuery(s: SparkSession, dir: String): DataFrame = simhash(s, dir)

  /** SimHash near-dup pairs: block on the top-16-bit prefix (the LSH step —
    * at corpus scale only same-block docs meet), then hamming ≤ 10. */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    // cache: one row per doc, feeds both sides of the block self-join
    val sig = simhash(s, dir).withColumn("blk", shiftright(col("simhash"), 16))
      .cache()
    graft.QOps.ordered1(
      sig.as("x").join(sig.as("y"),
          col("x.blk") === col("y.blk") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long")
            .as("hamming"))
        .filter(col("hamming") <= 10),
      col("a_id"), col("b_id"))
  }

  private def simhashPairsSql: String =
    s"""WITH sig AS ($simhashSql),
       |blk AS (SELECT doc_id, simhash, simhash >> 16 AS blk FROM sig)
       |SELECT x.doc_id AS a_id, y.doc_id AS b_id,
       |       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |FROM blk x JOIN blk y ON x.blk = y.blk AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 10
       |ORDER BY a_id, b_id""".stripMargin

  /** Oriented triangle count over the SimHash near-dup graph (hamming ≤ 4):
    * the graph-analytics primitive after connected components. Edges are
    * kept as a_id < b_id, so the 3-way self-join (a,b)⋈(b,c)⋈(a,c) counts
    * every triangle exactly once — the standard orientation trick that
    * bounds the intermediate size by Σ out-degree², instead of 6× the
    * triangles. Both self-joins are equi-joins on node id (shuffle, no
    * cartesian); the edge list is cached once.
    *
    * Scale note: ANY enumeration is Ω(#triangles), and this synthetic
    * corpus's near-dup graph is near-clique blocks (the full sf0.1 graph
    * holds 3.1e8 triangles — measured, and inherent, not a plan defect), so
    * the query runs on a fixed 500-doc subgraph, same result at every
    * SF ≥ 0.01. A production corpus counts triangles AFTER dedup collapses
    * the cliques, or caps per-block degree before enumerating.
    */
  private def triangleCount(s: SparkSession, dir: String): DataFrame = {
    val sig = simhash(s, dir).filter(col("doc_id") < 500)
      .withColumn("blk", shiftright(col("simhash"), 16))
      .cache()
    val e = sig.as("x").join(sig.as("y"),
        col("x.blk") === col("y.blk") && col("x.doc_id") < col("y.doc_id"))
      .filter(bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= 4)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .cache()
    val e2 = e.select(col("a_id").as("b2"), col("b_id").as("c_id"))
    val e3 = e.select(col("a_id").as("a3"), col("b_id").as("c3"))
    e.join(e2, col("b_id") === col("b2"))
      .join(e3, col("a_id") === col("a3") && col("c_id") === col("c3"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  private def triangleCountSql: String =
    s"""WITH sig AS ($simhashSql),
       |blk AS (SELECT doc_id, simhash, simhash >> 16 AS blk FROM sig
       |        WHERE doc_id < 500),
       |e AS (
       |  SELECT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM blk x JOIN blk y ON x.blk = y.blk AND x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 4
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
       |FROM e e1
       |JOIN e e2 ON e1.b_id = e2.a_id
       |JOIN e e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id""".stripMargin

  /** Set-similarity join with PREFIX FILTERING (the PPJoin/AllPairs family,
    * Chaudhuri et al. ICDE'06): 3-shingle-set Jaccard ≥ 0.6 pairs, found
    * without comparing all doc pairs AND without the full inverted-index
    * self-join that [[ngramJaccard]] blocks through. Shingle hashes sort by
    * global rarity (document frequency, hash tie-break); a doc with s
    * shingles only exposes its first s − ⌈τ·s⌉ + 1 rarest — if two sets
    * have Jaccard ≥ τ, their prefixes MUST share an element (lossless,
    * unlike LSH banding), so the prefix equi-join is a COMPLETE candidate
    * generator. A 5·min ≥ 3·max size filter prunes inside the join; the
    * exact intersection verifies with integer cross-multiplication
    * (5·inter ≥ 3·union ⇔ J ≥ 0.6) — the one IEEE division is the reported
    * jaccard itself.
    *
    * Scale posture: candidate volume is Σ df² over PREFIX occurrences only
    * — at τ=0.6 each doc exposes 40% of its shingles, the rarest ones, so
    * high-df shingles (the df² bombs of the full inverted-index join)
    * rarely pair — and since round 11 never pair: the [[DF_CAP]] stop-
    * shingle cap bounds candidates linearly even on a small-vocabulary
    * corpus where prefix-df itself grows with n (round 10 measured 41× at
    * 10× data without the cap), with the md5 identical-text channel
    * keeping exact duplicates lossless. Sets travel as 64-bit hashes, not
    * strings (same h64 both engines, so the oracle replays exactly).
    * DedupOps' PipelineOpsSpec test proves completeness against the
    * quadratic definition at sf0.001.
    */
  private val PPJ_TAU_NUM = 3L // τ = 3/5
  private val PPJ_TAU_DEN = 5L

  private def jaccardPrefixCore(s: SparkSession, dir: String): DataFrame = {
    // cached: feeds the prefix explode AND the pair verify (Q caching contract)
    val arr = rarityArr(s, dir).cache()
    // prefix length s − ⌈τs⌉ + 1 with ⌈3s/5⌉ = (3s+4) div 5 (s ≥ 0),
    // capped at the nc rarest
    val pre = arr.select(col("doc_id"), col("sz"),
      explode(expr(
        s"slice(ta, 1, least(nc, CAST(sz - (($PPJ_TAU_NUM * sz + ${PPJ_TAU_DEN - 1}) div $PPJ_TAU_DEN) + 1 AS INT)))"))
        .as("h"))
    val cand = pre.as("a").join(pre.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          lit(PPJ_TAU_DEN) * least(col("a.sz"), col("b.sz")) >=
            lit(PPJ_TAU_NUM) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .union(sameTextPairs(s, dir))
      .distinct()
    val ver = cand
      .join(arr.select(col("doc_id").as("a_id"), col("ta").as("taa"),
        col("sz").as("sza")), "a_id")
      .join(arr.select(col("doc_id").as("b_id"), col("ta").as("tab"),
        col("sz").as("szb")), "b_id")
      .withColumn("inter",
        size(array_intersect(col("taa"), col("tab"))).cast("long"))
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .filter(lit(PPJ_TAU_DEN) * col("inter") >= lit(PPJ_TAU_NUM) * col("uni"))
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"),
        (col("inter").cast("double") / col("uni").cast("double")).as("jaccard"))
    ver
  }

  private def jaccardPrefixJoin(s: SparkSession, dir: String): DataFrame =
    graft.QOps.ordered1(jaccardPrefixCore(s, dir), col("a_id"), col("b_id"))

  private def jaccardPrefixJoinSql: String =
    s"""WITH sh AS MATERIALIZED ($shinglesSql),
       |base AS (
       |  SELECT DISTINCT doc_id, ${h64Sql("sh")} AS h FROM sh
       |), dfreq AS (
       |  SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM base GROUP BY 1
       |), arr AS MATERIALIZED (
       |  SELECT doc_id, list(h ORDER BY df, h) AS ta,
       |    CAST(COUNT(*) AS BIGINT) AS sz
       |  FROM base JOIN dfreq USING (h) GROUP BY doc_id
       |), pre AS (
       |  SELECT p.doc_id, p.sz, p.h
       |  FROM (SELECT doc_id, sz,
       |          unnest(list_slice(ta, 1,
       |            sz - (($PPJ_TAU_NUM * sz + ${PPJ_TAU_DEN - 1}) // $PPJ_TAU_DEN) + 1)) AS h
       |        FROM arr) p
       |  JOIN dfreq USING (h) WHERE df <= $DF_CAP
       |), cand AS (
       |  SELECT DISTINCT a_id, b_id FROM (
       |    SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |    FROM pre a JOIN pre b
       |      ON a.h = b.h AND a.doc_id < b.doc_id
       |     AND $PPJ_TAU_DEN * LEAST(a.sz, b.sz) >= $PPJ_TAU_NUM * GREATEST(a.sz, b.sz)
       |    UNION ALL
       |    $sameTextPairsSql
       |  )
       |), ver AS (
       |  SELECT a_id, b_id,
       |    CAST(len(list_intersect(x.ta, y.ta)) AS BIGINT) AS inter,
       |    x.sz + y.sz - CAST(len(list_intersect(x.ta, y.ta)) AS BIGINT) AS uni
       |  FROM cand
       |  JOIN arr x ON x.doc_id = a_id
       |  JOIN arr y ON y.doc_id = b_id
       |)
       |SELECT a_id, b_id, inter, uni,
       |  CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
       |FROM ver WHERE $PPJ_TAU_DEN * inter >= $PPJ_TAU_NUM * uni
       |ORDER BY a_id, b_id""".stripMargin

  /** Agreement between two INDEPENDENT near-dup clusterings — MinHash-LSH
    * components vs prefix-join (J ≥ 0.6) components — as the exact Rand
    * index: the fraction of doc pairs both methods classify the same way
    * (together / apart). The cluster-stability readout a pipeline owner
    * checks before trusting one method's dedup decisions at scale. Never
    * enumerates pairs: all four Rand terms come from the label CONTINGENCY
    * TABLE (one groupBy of the n-row label join, ≤ clusters² cells) via
    * Σ C(n,2) sums — exact int64 (products of counts ≪ 2⁶³ to ~3e9 docs),
    * ONE final IEEE division. Unclustered docs are singletons (own id).
    */
  private def clusteringAgreement(s: SparkSession, dir: String): DataFrame = {
    val labA = connectedComponents(
      minhashLshCore(s, dir).select(col("a_id"), col("b_id")))
      .withColumnRenamed("cluster", "la")
    val labB = connectedComponents(
      jaccardPrefixCore(s, dir).select(col("a_id"), col("b_id")))
      .withColumnRenamed("cluster", "lb")
    val lab = docs(s, dir).select(col("doc_id"))
      .join(labA, Seq("doc_id"), "left")
      .join(labB, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("la"), col("doc_id")).as("la"),
        coalesce(col("lb"), col("doc_id")).as("lb"))
    val cont = lab.groupBy(col("la"), col("lb"))
      .agg(count(lit(1)).as("nij")).cache()
    val aRow = cont.agg(sum(expr("nij * (nij - 1) div 2")).as("same_both"),
      sum(col("nij")).as("n_docs"))
    val bRow = cont.groupBy(col("la")).agg(sum(col("nij")).as("ni"))
      .agg(sum(expr("ni * (ni - 1) div 2")).as("same_a"))
    val cRow = cont.groupBy(col("lb")).agg(sum(col("nij")).as("nj"))
      .agg(sum(expr("nj * (nj - 1) div 2")).as("same_b"))
    aRow.crossJoin(broadcast(bRow)).crossJoin(broadcast(cRow))
      .withColumn("n_pairs", expr("n_docs * (n_docs - 1) div 2"))
      .select(col("n_docs"), col("n_pairs"), col("same_both"),
        col("same_a"), col("same_b"),
        ((col("n_pairs") + lit(2) * col("same_both") - col("same_a") -
          col("same_b")).cast("double") / col("n_pairs").cast("double"))
          .as("rand_index"))
  }

  private def clusteringAgreementSql: String =
    s"""WITH RECURSIVE lshp AS MATERIALIZED (
       |  SELECT a_id, b_id FROM ($minhashLshSql)
       |), undA(u, v) AS (
       |  SELECT a_id, b_id FROM lshp UNION ALL SELECT b_id, a_id FROM lshp
       |), reachA(u, lab) AS (
       |  SELECT DISTINCT u, u FROM undA
       |  UNION
       |  SELECT undA.u, reachA.lab FROM undA JOIN reachA ON reachA.u = undA.v
       |), labA AS (
       |  SELECT u AS doc_id, MIN(lab) AS la FROM reachA GROUP BY u
       |), ppj AS MATERIALIZED (
       |  SELECT a_id, b_id FROM ($jaccardPrefixJoinSql)
       |), undB(u, v) AS (
       |  SELECT a_id, b_id FROM ppj UNION ALL SELECT b_id, a_id FROM ppj
       |), reachB(u, lab) AS (
       |  SELECT DISTINCT u, u FROM undB
       |  UNION
       |  SELECT undB.u, reachB.lab FROM undB JOIN reachB ON reachB.u = undB.v
       |), labB AS (
       |  SELECT u AS doc_id, MIN(lab) AS lb FROM reachB GROUP BY u
       |), lab AS (
       |  SELECT d.doc_id, COALESCE(a.la, d.doc_id) AS la,
       |         COALESCE(b.lb, d.doc_id) AS lb
       |  FROM documents d
       |  LEFT JOIN labA a USING (doc_id)
       |  LEFT JOIN labB b USING (doc_id)
       |), cont AS (
       |  SELECT la, lb, CAST(COUNT(*) AS BIGINT) AS nij FROM lab GROUP BY 1, 2
       |), arow AS (
       |  SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS same_both,
       |         CAST(SUM(nij) AS BIGINT) AS n_docs
       |  FROM cont
       |), brow AS (
       |  SELECT CAST(SUM(ni * (ni - 1) // 2) AS BIGINT) AS same_a
       |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS ni FROM cont GROUP BY la)
       |), crow AS (
       |  SELECT CAST(SUM(nj * (nj - 1) // 2) AS BIGINT) AS same_b
       |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS nj FROM cont GROUP BY lb)
       |)
       |SELECT n_docs, n_docs * (n_docs - 1) // 2 AS n_pairs, same_both,
       |  same_a, same_b,
       |  CAST(n_docs * (n_docs - 1) // 2 + 2 * same_both - same_a - same_b
       |       AS DOUBLE) / CAST(n_docs * (n_docs - 1) // 2 AS DOUBLE)
       |    AS rand_index
       |FROM arow, brow, crow""".stripMargin

  /** Sorted-neighborhood dedup blocking (Hernández–Stolfo): docs sorted by
    * their SimHash value, candidate pairs drawn only from a sliding window
    * of W=4 ranks, then hamming ≤ 4 verifies — the fourth blocking
    * strategy in the catalog (hash-bucket, LSH band, prefix filter, and
    * now sort-order locality). Near-identical simhashes sort adjacently,
    * so the window catches near-dups the prefix BLOCK equi-join also
    * finds, at a guaranteed W·n candidate budget (no df² blowup on hot
    * blocks). The global sort rank comes from [[PrefixOps]] — no
    * single-reducer window — and the window pairing is W−1 shifted
    * EQUI-joins on (rank + d), never a range join. Ties in simhash order
    * break by doc_id, so ranks are total both engines.
    */
  private val SN_W = 4

  private def sortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    // cached: feeds the rank base and all W−1 shifted probe sides
    val ranked = PrefixOps.withGlobalPrefix(
        simhash(s, dir), col("simhash"),
        Seq(col("simhash"), col("doc_id")))
      .select(col("doc_id"), col("simhash"), col("g_rank").as("rk"))
      .cache()
    val shifted = (1 until SN_W).map { d =>
      ranked.select((col("rk") - d).as("rk"),
        col("doc_id").as("b_id"), col("simhash").as("b_sim"))
    }.reduce(_ unionAll _)
    ranked.join(shifted, "rk")
      .filter(bit_count(col("simhash").bitwiseXOR(col("b_sim"))) <= 4)
      .select(
        least(col("doc_id"), col("b_id")).as("a_id"),
        greatest(col("doc_id"), col("b_id")).as("b_id"),
        bit_count(col("simhash").bitwiseXOR(col("b_sim"))).cast("long")
          .as("hamming"))
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  private def sortedNeighborhoodSql: String = {
    val shifts = (1 until SN_W).map(d =>
      s"SELECT rk - $d AS rk, doc_id AS b_id, simhash AS b_sim FROM ranked")
      .mkString("\n  UNION ALL ")
    s"""WITH sig AS ($simhashSql),
       |ranked AS (
       |  SELECT doc_id, simhash,
       |         ROW_NUMBER() OVER (ORDER BY simhash, doc_id) AS rk
       |  FROM sig
       |), shifted AS (
       |  $shifts
       |)
       |SELECT DISTINCT
       |  LEAST(r.doc_id, s.b_id) AS a_id,
       |  GREATEST(r.doc_id, s.b_id) AS b_id,
       |  CAST(bit_count(xor(r.simhash, s.b_sim)) AS BIGINT) AS hamming
       |FROM ranked r JOIN shifted s USING (rk)
       |WHERE bit_count(xor(r.simhash, s.b_sim)) <= 4
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Local clustering coefficient per node over the bounded SimHash
    * near-dup graph (same 500-doc subgraph and edge rule as
    * [[triangleCount]]): cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — "how
    * clique-like is this node's neighborhood", the per-node complement of
    * the global triangle count (near-dup clusters score ~1, bridge docs
    * ~0). Triangles enumerate through the oriented a<b<c equi-join and
    * credit each corner; degrees come from the undirected edge list. The
    * ratio is exact integers until ONE IEEE division. Nodes with deg < 2
    * are excluded (coefficient undefined).
    */
  private def clusteringCoefficient(s: SparkSession, dir: String): DataFrame = {
    val sig = simhash(s, dir).filter(col("doc_id") < 500)
      .withColumn("blk", shiftright(col("simhash"), 16))
      .cache()
    val e = sig.as("x").join(sig.as("y"),
        col("x.blk") === col("y.blk") && col("x.doc_id") < col("y.doc_id"))
      .filter(bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= 4)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .cache()
    val deg = e.select(col("a_id").as("node"))
      .unionAll(e.select(col("b_id").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val e2 = e.select(col("a_id").as("b2"), col("b_id").as("c_id"))
    val e3 = e.select(col("a_id").as("a3"), col("b_id").as("c3"))
    val tris = e.join(e2, col("b_id") === col("b2"))
      .join(e3, col("a_id") === col("a3") && col("c_id") === col("c3"))
      .select(col("a_id"), col("b_id"), col("c_id"))
    val triPerNode = tris.select(col("a_id").as("node"))
      .unionAll(tris.select(col("b_id").as("node")))
      .unionAll(tris.select(col("c_id").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.filter(col("deg") >= 2)
      .join(triPerNode, Seq("node"), "left")
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
      .select(col("node"), col("deg"), col("tri"),
        ((lit(2) * col("tri")).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double")).as("cc"))
      .orderBy(col("node"))
  }

  private def clusteringCoefficientSql: String =
    s"""WITH sig AS ($simhashSql),
       |blk AS (SELECT doc_id, simhash, simhash >> 16 AS blk FROM sig
       |        WHERE doc_id < 500),
       |e AS (
       |  SELECT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM blk x JOIN blk y ON x.blk = y.blk AND x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 4
       |), deg AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT a_id AS node FROM e UNION ALL SELECT b_id FROM e)
       |  GROUP BY 1
       |), tris AS (
       |  SELECT e1.a_id, e1.b_id, e2.b_id AS c_id
       |  FROM e e1
       |  JOIN e e2 ON e1.b_id = e2.a_id
       |  JOIN e e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id
       |), tpn AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
       |    SELECT a_id AS node FROM tris
       |    UNION ALL SELECT b_id FROM tris
       |    UNION ALL SELECT c_id FROM tris)
       |  GROUP BY 1
       |)
       |SELECT d.node, d.deg, COALESCE(t.tri, 0) AS tri,
       |  CAST(2 * COALESCE(t.tri, 0) AS DOUBLE)
       |    / CAST(d.deg * (d.deg - 1) AS DOUBLE) AS cc
       |FROM deg d LEFT JOIN tpn t USING (node)
       |WHERE d.deg >= 2
       |ORDER BY d.node""".stripMargin

  /** Asymmetric shingle containment |A∩B|/|A| ≥ 0.8: doc A is (nearly) a
    * sub-document of B — the quote/boilerplate/subsumption case symmetric
    * Jaccard misses by design (a 10-shingle doc fully inside a 500-shingle
    * doc has Jaccard 0.02 but containment 1.0). Kept in BOTH orders, since
    * containment of A in B and B in A differ.
    *
    * Candidate generation is the containment variant of the rarity-prefix
    * filter: containment ≥ τ means at most ⌊(1−τ)·|A|⌋ of A's shingles
    * miss B, so the INNER side exposes only its ⌊|A|/5⌋ + 1 rarest
    * shingles (lossless) while the outer side exposes all — both capped at
    * [[DF_CAP]] (the linear bound; miss model documented there), with the
    * md5 identical-text channel re-adding exact duplicates. A 5·|B| ≥ 4·|A|
    * size filter prunes inside the join (containment ≥ 0.8 forces
    * |B| ≥ ⌈0.8·|A|⌉). Verification intersects full rarity arrays, so
    * emitted rows carry the true containment. Round 10 measured the
    * uncapped inverted-index form at 66× cost for 10× data. */
  private def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    val arr = rarityArr(s, dir).cache()
    // inner prefix: rarest ⌊sz/5⌋+1 hashes (lossless at τ = 0.8); both
    // sides capped at the nc rarest
    val preI = arr.select(col("doc_id"), col("sz"),
      explode(expr("slice(ta, 1, least(nc, CAST(sz div 5 + 1 AS INT)))")).as("h"))
    val full = arr.select(col("doc_id"), col("sz"),
      explode(expr("slice(ta, 1, nc)")).as("h"))
    val candP = preI.as("a").join(full.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id") &&
          lit(5L) * col("b.sz") >= lit(4L) * col("a.sz"))
      .select(col("a.doc_id").as("inner_id"), col("b.doc_id").as("outer_id"))
    val dup = sameTextPairs(s, dir)
    val candG = dup.select(col("a_id").as("inner_id"), col("b_id").as("outer_id"))
      .union(dup.select(col("b_id").as("inner_id"), col("a_id").as("outer_id")))
    val cand = candP.union(candG).distinct()
    val ver = cand
      .join(arr.select(col("doc_id").as("inner_id"), col("ta").as("taa"),
        col("sz").as("n_inner")), "inner_id")
      .join(arr.select(col("doc_id").as("outer_id"), col("ta").as("tab")),
        "outer_id")
      .withColumn("inter",
        size(array_intersect(col("taa"), col("tab"))).cast("long"))
      .withColumn("containment",
        col("inter").cast("double") / col("n_inner"))
      .filter(col("containment") >= 0.8)
      .select(col("inner_id"), col("outer_id"), col("n_inner"),
        col("inter"), col("containment"))
    graft.QOps.ordered1(ver, col("inner_id"), col("outer_id"))
  }

  private def containmentPairsSql: String =
    s"""WITH sh AS MATERIALIZED ($shinglesSql),
       |base AS (SELECT DISTINCT doc_id, ${h64Sql("sh")} AS h FROM sh),
       |dfreq AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM base GROUP BY 1),
       |arr AS MATERIALIZED (
       |  SELECT doc_id, list(h ORDER BY df, h) AS ta,
       |    CAST(COUNT(*) AS BIGINT) AS sz
       |  FROM base JOIN dfreq USING (h) GROUP BY doc_id
       |), capped AS (SELECT h FROM dfreq WHERE df <= $DF_CAP),
       |prei AS (
       |  SELECT p.doc_id, p.sz, p.h
       |  FROM (SELECT doc_id, sz,
       |          unnest(list_slice(ta, 1, CAST(sz // 5 + 1 AS INT))) AS h
       |        FROM arr) p
       |  JOIN capped USING (h)
       |), fullx AS (
       |  SELECT p.doc_id, p.sz, p.h
       |  FROM (SELECT doc_id, sz, unnest(ta) AS h FROM arr) p
       |  JOIN capped USING (h)
       |), dup AS ($sameTextPairsSql),
       |cand AS (
       |  SELECT a.doc_id AS inner_id, b.doc_id AS outer_id
       |  FROM prei a JOIN fullx b
       |    ON a.h = b.h AND a.doc_id <> b.doc_id AND 5 * b.sz >= 4 * a.sz
       |  UNION
       |  SELECT a_id, b_id FROM dup
       |  UNION
       |  SELECT b_id, a_id FROM dup
       |), ver AS (
       |  SELECT inner_id, outer_id, x.sz AS n_inner,
       |    CAST(len(list_intersect(x.ta, y.ta)) AS BIGINT) AS inter
       |  FROM cand JOIN arr x ON x.doc_id = inner_id
       |  JOIN arr y ON y.doc_id = outer_id
       |)
       |SELECT inner_id, outer_id, n_inner, inter,
       |       inter * 1.0 / n_inner AS containment
       |FROM ver WHERE inter * 1.0 / n_inner >= 0.8
       |ORDER BY inner_id, outer_id""".stripMargin

  // ---- Fellegi-Sunter record-linkage scoring ------------------------------

  /** Fellegi-Sunter probabilistic record linkage over the
    * sorted-neighborhood candidate pairs: each pair gets an agreement
    * vector over four comparators (same source, same lang, |Δchars| ≤ 10,
    * simhash hamming ≤ 8) and a log-likelihood match score
    * Σ ln(m/u) / ln((1−m)/(1−u)) — the classical linkage model, with the
    * standard match/possible/non-match decision bands at ±2.
    *
    * u-probabilities (chance agreement between two RANDOM records) are
    * estimated from the corpus itself: same-group collision probability
    * from the source/lang marginals, and the length comparator's u from a
    * range self-join over the COMPRESSED n_chars histogram (bounded by the
    * length domain, never by corpus size). m-probabilities are fixed model
    * constants (the EM fit a production linker would run is out of scope).
    * Each pair's four log-weights are quantized to 1e-6 longs before the
    * sum, so the score and the decision bands are bit-deterministic.
    *
    * Scale posture: candidates come from the same two-level-prefix-sum
    * blocking as sorted_neighborhood (W−1 shifted equi-joins, never n²);
    * the u-stats are a 1-row broadcast; metadata attaches through two
    * id equi-joins.
    */
  private val FS_M = Seq(0.95, 0.9, 0.85, 0.9)

  private def fsTerm(flag: String, m: Double, u: String): String =
    s"""CASE WHEN $flag THEN
       |  CAST(ROUND(LN(CAST($m AS DOUBLE) / $u) * 1e6) AS BIGINT)
       |ELSE
       |  CAST(ROUND(LN((1 - CAST($m AS DOUBLE)) / (1 - $u)) * 1e6) AS BIGINT)
       |END""".stripMargin.replaceAll("\n\\s*", " ")

  private def fellegiSunter(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"), col("lang"),
      col("n_chars").cast("long").as("nc"))
    val ranked = PrefixOps.withGlobalPrefix(
        simhash(s, dir), col("simhash"),
        Seq(col("simhash"), col("doc_id")))
      .select(col("doc_id"), col("simhash"), col("g_rank").as("rk"))
      .cache()
    val shifted = (1 until SN_W).map { dd =>
      ranked.select((col("rk") - dd).as("rk"),
        col("doc_id").as("b_id"), col("simhash").as("b_sim"))
    }.reduce(_ unionAll _)
    val pairs = ranked.join(shifted, "rk")
      .select(
        least(col("doc_id"), col("b_id")).as("a_id"),
        greatest(col("doc_id"), col("b_id")).as("b_id"),
        bit_count(col("simhash").bitwiseXOR(col("b_sim"))).cast("long")
          .as("hamming"))
      .distinct()
    // corpus-estimated u-probabilities, one broadcast row
    val nRow = d.agg(count(lit(1)).as("nn"))
    val s2 = d.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("s2"))
    val l2 = d.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("l2"))
    val hist = d.groupBy(col("nc")).agg(count(lit(1)).as("c"))
    val len2 = hist.as("h1")
      .join(broadcast(hist.select(col("nc").as("nc2"), col("c").as("c2"))),
        abs(col("nc") - col("nc2")) <= 10)
      .agg(sum(col("c") * col("c2")).as("len2"))
    val u = nRow.crossJoin(broadcast(s2)).crossJoin(broadcast(l2))
      .crossJoin(broadcast(len2))
      .select(
        expr("(CAST(CAST(s2 AS STRING) AS DOUBLE) - nn) / (CAST(nn AS DOUBLE) * nn - nn)").as("u_src"),
        expr("(CAST(l2 AS DOUBLE) - nn) / (CAST(nn AS DOUBLE) * nn - nn)").as("u_lang"),
        expr("(CAST(len2 AS DOUBLE) - nn) / (CAST(nn AS DOUBLE) * nn - nn)").as("u_len"),
        lit(0.05).cast("double").as("u_sim"))
    val meta = (p: String) => d.select(col("doc_id").as(s"${p}_id"),
      col("source").as(s"${p}_source"), col("lang").as(s"${p}_lang"),
      col("nc").as(s"${p}_nc"))
    val score = Seq(
      fsTerm("f_src = 1", FS_M(0), "u_src"),
      fsTerm("f_lang = 1", FS_M(1), "u_lang"),
      fsTerm("f_len = 1", FS_M(2), "u_len"),
      fsTerm("f_sim = 1", FS_M(3), "u_sim")).mkString(" + ")
    pairs
      .join(meta("a"), "a_id").join(meta("b"), "b_id")
      .crossJoin(broadcast(u))
      .withColumn("f_src", (col("a_source") === col("b_source")).cast("long"))
      .withColumn("f_lang", (col("a_lang") === col("b_lang")).cast("long"))
      .withColumn("f_len", (abs(col("a_nc") - col("b_nc")) <= 10).cast("long"))
      .withColumn("f_sim", (col("hamming") <= 8).cast("long"))
      .withColumn("score", expr(s"CAST($score AS DOUBLE) / 1e6"))
      .withColumn("verdict",
        when(col("score") >= 2.0, "match")
          .when(col("score") <= -2.0, "non_match")
          .otherwise("possible"))
      .select(col("a_id"), col("b_id"), col("f_src"), col("f_lang"),
        col("f_len"), col("f_sim"), col("score"), col("verdict"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private def fellegiSunterSql: String = {
    val shifts = (1 until SN_W).map(d =>
      s"SELECT rk - $d AS rk, doc_id AS b_id, simhash AS b_sim FROM ranked")
      .mkString("\n  UNION ALL ")
    val score = Seq(
      fsTerm("f_src = 1", FS_M(0), "u_src"),
      fsTerm("f_lang = 1", FS_M(1), "u_lang"),
      fsTerm("f_len = 1", FS_M(2), "u_len"),
      fsTerm("f_sim = 1", FS_M(3), "u_sim")).mkString(" + ")
    s"""WITH sig AS ($simhashSql),
       |ranked AS (
       |  SELECT doc_id, simhash,
       |         ROW_NUMBER() OVER (ORDER BY simhash, doc_id) AS rk
       |  FROM sig
       |), shifted AS (
       |  $shifts
       |), pairs AS (
       |  SELECT DISTINCT
       |    LEAST(r.doc_id, s.b_id) AS a_id,
       |    GREATEST(r.doc_id, s.b_id) AS b_id,
       |    CAST(bit_count(xor(r.simhash, s.b_sim)) AS BIGINT) AS hamming
       |  FROM ranked r JOIN shifted s USING (rk)
       |), d AS (
       |  SELECT doc_id, source, lang, CAST(n_chars AS BIGINT) AS nc
       |  FROM documents
       |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM d),
       |s2 AS (SELECT CAST(SUM(c*c) AS BIGINT) AS s2 FROM
       |       (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY source)),
       |l2 AS (SELECT CAST(SUM(c*c) AS BIGINT) AS l2 FROM
       |       (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY lang)),
       |hist AS (SELECT nc, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY nc),
       |len2 AS (
       |  SELECT CAST(SUM(h1.c * h2.c) AS BIGINT) AS len2
       |  FROM hist h1 JOIN hist h2 ON ABS(h1.nc - h2.nc) <= 10
       |), u AS (
       |  SELECT
       |    (CAST(CAST(s2 AS STRING) AS DOUBLE) - nn) / (CAST(nn AS DOUBLE) * nn - nn) AS u_src,
       |    (CAST(l2 AS DOUBLE) - nn) / (CAST(nn AS DOUBLE) * nn - nn) AS u_lang,
       |    (CAST(len2 AS DOUBLE) - nn) / (CAST(nn AS DOUBLE) * nn - nn) AS u_len,
       |    CAST(0.05 AS DOUBLE) AS u_sim
       |  FROM nn, s2, l2, len2
       |), feat AS (
       |  SELECT p.a_id, p.b_id,
       |    CAST(a.source = b.source AS BIGINT) AS f_src,
       |    CAST(a.lang = b.lang AS BIGINT) AS f_lang,
       |    CAST(ABS(a.nc - b.nc) <= 10 AS BIGINT) AS f_len,
       |    CAST(p.hamming <= 8 AS BIGINT) AS f_sim,
       |    u_src, u_lang, u_len, u_sim
       |  FROM pairs p
       |  JOIN d a ON a.doc_id = p.a_id
       |  JOIN d b ON b.doc_id = p.b_id
       |  CROSS JOIN u
       |)
       |SELECT a_id, b_id, f_src, f_lang, f_len, f_sim,
       |  CAST($score AS DOUBLE) / 1e6 AS score,
       |  CASE WHEN CAST($score AS DOUBLE) / 1e6 >= 2.0 THEN 'match'
       |       WHEN CAST($score AS DOUBLE) / 1e6 <= -2.0 THEN 'non_match'
       |       ELSE 'possible' END AS verdict
       |FROM feat
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Fuzzy product-name matching with the custom codegen
    * [[graft.functions.JaroWinkler]] expression — the record-linkage
    * comparator (typos, transpositions, prefix-weighted) that
    * [[fellegiSunter]]'s agree/disagree features would plug in on real
    * name columns. Scale posture: the pair space is the DISTINCT-name
    * domain (the exact_percentiles compression move — aggregate first,
    * pair the compressed domain), so cost is domain² however many billion
    * rows carry those names; the name list broadcasts. Byte-based JW is
    * verified bit-identical to DuckDB's `jaro_winkler_similarity`, so the
    * micro-quantized score hash-matches.
    */
  private def jaroWinklerPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextFunctions.register(s)
    val names = Tables.t(s, dir, "part").select(col("p_name")).distinct()
    val a = names.select(col("p_name").as("name_a"))
    val b = names.select(col("p_name").as("name_b"))
    a.join(broadcast(b), col("name_a") < col("name_b"))
      .withColumn("jw_micro",
        round(expr("jaro_winkler(name_a, name_b)") * 1e6).cast("long"))
      .filter(col("jw_micro") >= 600000L)
      .orderBy(col("jw_micro").desc, col("name_a"), col("name_b"))
  }

  private val jaroWinklerPairsSql: String =
    """WITH names AS (SELECT DISTINCT p_name FROM part)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(ROUND(jaro_winkler_similarity(a.p_name, b.p_name) * 1e6)
      |       AS BIGINT) AS jw_micro
      |FROM names a JOIN names b ON a.p_name < b.p_name
      |WHERE CAST(ROUND(jaro_winkler_similarity(a.p_name, b.p_name) * 1e6)
      |           AS BIGINT) >= 600000
      |ORDER BY jw_micro DESC, name_a, name_b""".stripMargin

  // ---- cross-document duplicate spans (suffix-array-style) ---------------

  /** Maximal cross-document duplicated token spans — the exact-substring
    * dedup semantics of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499), re-expressed relationally:
    * instead of a corpus suffix array, match 8-token grams across documents
    * and merge runs of consecutive matches. Two positions (pa, pb) in docs
    * (a, b) lie on the same DIAGONAL when pa − pb is constant; a shared
    * substring of L ≥ 8 tokens appears as exactly L−7 consecutive matching
    * grams on one diagonal, so a gaps-and-islands pass over (a, b, diag)
    * ordered by pa recovers every maximal span with no per-character work.
    * Spans shorter than 15 tokens (runs shorter than 8 grams) are dropped —
    * the operator reports substantive duplication, not chance overlap.
    *
    * Scale posture (100 TB): the only pair generator is an equi-join on the
    * gram hash, and grams seen in more than 16 distinct documents are
    * dropped FIRST (df-cap — true boilerplate belongs to
    * boilerplate_shingles, and a viral gram in a million docs would
    * otherwise fan out quadratically). Everything downstream is
    * key-partitioned: the island window partitions by (a, b, diag) — span
    * fragments of one doc pair, never the corpus. Gram hashes are 60-bit
    * md5 prefixes, identical in both engines.
    */
  private val SPAN_GRAM = 8
  private val SPAN_MIN_TOKENS = 15
  private val SPAN_DF_CAP = 16

  private def dupSpansDf(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val grams = docs(s, dir)
      .repartition(col("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= SPAN_GRAM)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), size(col("toks")) - (SPAN_GRAM - 1)),
          i => struct(i.as("pos"),
            conv(substring(md5(concat(lit("sp:"),
              array_join(slice(col("toks"), i, lit(SPAN_GRAM)), " "))),
              1, 15), 16, 10).cast("long").as("h")))).as("pg"))
      .select(col("doc_id"), col("pg.pos").cast("long").as("pos"), col("pg.h"))
      .cache() // read by the df-cap agg AND both sides of the pair join
    val rare = grams.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= SPAN_DF_CAP)
      .select(col("h"))
    val g = grams.join(rare, "h").cache() // both sides of the pair join
    val pairs = g.select(col("doc_id").as("a_id"), col("pos").as("pa"), col("h"))
      .join(g.select(col("doc_id").as("b_id"), col("pos").as("pb"), col("h")), "h")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    val byDiag = W.partitionBy(col("a_id"), col("b_id"), col("diag"))
      .orderBy(col("pa"))
    pairs
      .withColumn("grp", col("pa") - row_number().over(byDiag))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
        (count(lit(1)) + (SPAN_GRAM - 1)).as("span_len"))
      .filter(col("span_len") >= SPAN_MIN_TOKENS)
      .select(col("a_id"), col("b_id"), col("start_a"), col("start_b"),
        col("span_len"))
  }

  private def crossdocDupSpans(s: SparkSession, dir: String): DataFrame =
    dupSpansDf(s, dir)
      .orderBy(col("a_id"), col("b_id"), col("start_a"), col("start_b"))

  private val dupSpansSqlBody: String =
    s"""grams AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    CAST(concat('0x', substr(md5('sp:' ||
       |      array_to_string(toks[i:i+${SPAN_GRAM - 1}], ' ')), 1, 15))
       |      AS BIGINT) AS h
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |       unnest(generate_series(1, len(toks) - ${SPAN_GRAM - 1})) AS t(i)
       |  WHERE len(toks) >= $SPAN_GRAM
       |), rare AS (
       |  SELECT h FROM grams GROUP BY h
       |  HAVING COUNT(DISTINCT doc_id) <= $SPAN_DF_CAP
       |), g AS (
       |  SELECT grams.* FROM grams JOIN rare USING (h)
       |), pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS pa, b.pos AS pb,
       |         a.pos - b.pos AS diag
       |  FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
       |), runs AS (
       |  SELECT *, pa - ROW_NUMBER()
       |    OVER (PARTITION BY a_id, b_id, diag ORDER BY pa) AS grp
       |  FROM pairs
       |), spans AS (
       |  SELECT a_id, b_id, MIN(pa) AS start_a, MIN(pb) AS start_b,
       |         CAST(COUNT(*) + ${SPAN_GRAM - 1} AS BIGINT) AS span_len
       |  FROM runs GROUP BY a_id, b_id, diag, grp
       |  HAVING COUNT(*) + ${SPAN_GRAM - 1} >= $SPAN_MIN_TOKENS
       |)""".stripMargin

  private val crossdocDupSpansSql: String =
    s"""WITH $dupSpansSqlBody
       |SELECT a_id, b_id, start_a, start_b, span_len
       |FROM spans ORDER BY a_id, b_id, start_a, start_b""".stripMargin

  /** Per-document duplicated-token coverage: what fraction of each
    * document's tokens sit inside SOME cross-document duplicate span from
    * [[crossdocDupSpans]] (both orientations)? Overlapping spans are merged
    * first by the classic interval-islands pass — a new island starts where
    * an interval's lo exceeds the running max hi of all earlier intervals —
    * so a token covered by five spans counts once. The Lee et al. "fraction
    * of corpus that is duplicated text" metric, per document, as an exact
    * ppm integer. Windows partition by doc_id; intervals per doc are
    * bounded by span count, not corpus size.
    */
  private def dupSpanCoverage(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val spans = dupSpansDf(s, dir)
    // DISTINCT is load-bearing, not cosmetic: the same (lo, hi) interval
    // recurs when one span is shared with several partner docs, and a ROWS
    // window frame over TIED (lo, hi) sort keys is order-nondeterministic
    // (observed in DuckDB: both tied rows can see an empty preceding frame,
    // splitting one island in two). Dedup makes (lo, hi) a total order per
    // doc; union coverage is unchanged.
    val ivals = spans
      .select(col("a_id").as("doc_id"), col("start_a").as("lo"),
        (col("start_a") + col("span_len") - 1).as("hi"))
      .unionAll(spans.select(col("b_id").as("doc_id"), col("start_b").as("lo"),
        (col("start_b") + col("span_len") - 1).as("hi")))
      .distinct()
    val byLo = W.partitionBy(col("doc_id")).orderBy(col("lo"), col("hi"))
    val merged = ivals
      .withColumn("prev_max_hi",
        max(col("hi")).over(byLo.rowsBetween(W.unboundedPreceding, -1)))
      .withColumn("island",
        sum(when(col("prev_max_hi").isNull || col("lo") > col("prev_max_hi"), 1L)
          .otherwise(0L)).over(byLo.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("hi")) - min(col("lo")) + 1).as("covered"))
      .groupBy(col("doc_id"))
      .agg(sum(col("covered")).cast("long").as("covered"))
    docs(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
      .join(merged, Seq("doc_id"))
      .withColumn("covered_ppm", expr("covered * 1000000 div n_toks"))
      .orderBy(col("doc_id"))
  }

  private val dupSpanCoverageSql: String =
    s"""WITH $dupSpansSqlBody,
       |ivals AS (
       |  -- UNION (not ALL): tied (lo, hi) sort keys under a ROWS frame are
       |  -- order-nondeterministic; distinct intervals are a total order
       |  SELECT a_id AS doc_id, start_a AS lo,
       |         start_a + span_len - 1 AS hi FROM spans
       |  UNION
       |  SELECT b_id, start_b, start_b + span_len - 1 FROM spans
       |), marked AS (
       |  SELECT doc_id, lo, hi,
       |    MAX(hi) OVER (PARTITION BY doc_id ORDER BY lo, hi
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS prev_max_hi
       |  FROM ivals
       |), islands AS (
       |  SELECT doc_id, lo, hi,
       |    SUM(CASE WHEN prev_max_hi IS NULL OR lo > prev_max_hi
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY lo, hi
       |            ROWS UNBOUNDED PRECEDING) AS island
       |  FROM marked
       |), per_island AS (
       |  SELECT doc_id, island, MAX(hi) - MIN(lo) + 1 AS covered
       |  FROM islands GROUP BY 1, 2
       |), per_doc AS (
       |  SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS covered
       |  FROM per_island GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
       |  p.covered,
       |  p.covered * 1000000 // CAST(len(string_split(d.text, ' ')) AS BIGINT)
       |    AS covered_ppm
       |FROM documents d JOIN per_doc p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  override def queries: Seq[Q] = Seq(
    Q("crossdoc_dup_spans", crossdocDupSpans, Some(crossdocDupSpansSql)),
    Q("dup_span_coverage", dupSpanCoverage, Some(dupSpanCoverageSql)),
    Q("jaro_winkler_pairs", jaroWinklerPairs, Some(jaroWinklerPairsSql)),
    Q("fellegi_sunter", fellegiSunter, Some(fellegiSunterSql)),
    Q("containment_pairs", containmentPairs, Some(containmentPairsSql)),
    Q("sorted_neighborhood", sortedNeighborhood, Some(sortedNeighborhoodSql)),
    Q("clustering_coefficient", clusteringCoefficient,
      Some(clusteringCoefficientSql)),
    Q("clustering_agreement", clusteringAgreement, Some(clusteringAgreementSql)),
    Q("jaccard_prefix_join", jaccardPrefixJoin, Some(jaccardPrefixJoinSql)),
    Q("triangle_count", triangleCount, Some(triangleCountSql)),
    Q("exact_dedup", exactDedup, Some(
      """SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),
    Q("ngram_jaccard_pairs", ngramJaccard, Some(ngramJaccardSql)),
    Q("minhash_signatures", minhashSig, Some(minhashSigSql + "\nORDER BY doc_id")),
    Q("minhash_lsh_pairs", minhashLsh, Some(minhashLshSql)),
    Q("minhash_calibration", minhashCalibration, Some(minhashCalibrationSql)),
    Q("blocking_quality", blockingQuality, Some(blockingQualitySql)),
    Q("lsh_scurve_eval", lshScurveEval, Some(lshScurveEvalSql)),
    Q("incremental_dedup", incrementalDedup, Some(incrementalDedupSql)),
    Q("dedup_clusters", dedupClusters, Some(dedupClustersSql)),
    Q("cc_alternating_star", ccAlternatingStarClusters, Some(dedupClustersSql)),
    Q("cluster_size_histogram", clusterSizeHistogram, Some(clusterSizeHistogramSql)),
    Q("source_dedup_matrix", sourceDedupMatrix, Some(sourceDedupMatrixSql)),
    Q("jaccard_histogram", jaccardHistogram, Some(jaccardHistogramSql)),
    Q("dedup_impact_report", dedupImpactReport, Some(dedupImpactReportSql)),
    Q("cluster_keep_best", clusterKeepBest, Some(clusterKeepBestSql)),
    Q("simhash", simhashQuery, Some(simhashSql + "\nORDER BY doc_id")),
    Q("simhash_pairs", simhashPairs, Some(simhashPairsSql))
  )
}
