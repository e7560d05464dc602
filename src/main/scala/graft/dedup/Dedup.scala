package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.GraftFunctions
import graft.lake.SnapshotTable
import graft.sources.Tables

/** §2D deduplication over the documents table.
  *
  * Scale architecture (100 TB of documents):
  *  - exact: hash-groupBy on a 128-bit content hash — one shuffle of
  *    (hash, id), never the text.
  *  - MinHash-LSH: ONE pass per doc computes the k=64 signature
  *    (custom expression, no shingle explosion); only
  *    (band, bandKey, doc_id) tuples shuffle — 16 rows/doc. Candidate
  *    pairs join back to text for exact-Jaccard verification, so the
  *    quadratic step touches candidates only — and band buckets wider
  *    than [[DefaultBucketCap]] (the boilerplate hot keys that are
  *    quadratic on one skewed key at corpus scale) degrade to a
  *    linear star via [[cappedPairs]].
  *  - SimHash: 64-bit signature per doc; 4×16-bit band exact-match
  *    generates candidates; popcount(xor) verifies Hamming ≤ 3.
  */
object Dedup {

  /** Band buckets wider than this emit a linear star instead of all
    * pairs — see [[cappedPairs]]. 1000 members ≈ 500k pairs, the
    * largest quadratic patch a single task should ever absorb.
    */
  val DefaultBucketCap: Int = 1000

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---------------------------------------------------------------
  /** Candidate pairs from band buckets with BOUNDED width.
    *
    * `bands` must have columns (id, band, band_key) plus any payload
    * columns to carry onto both sides of each pair. Buckets with at
    * most `cap` members emit all intra-bucket pairs (the classic LSH
    * candidate set). Buckets beyond `cap` — the boilerplate/empty-doc
    * hot keys that make an uncapped band self-join quadratic on ONE
    * skewed key at corpus scale — emit a linear STAR (every member
    * paired with the bucket's minimum id) PLUS a linear CHAIN
    * (consecutive members by id). Both keep the bucket connected for
    * the downstream rep/connected-components step, and the chain means
    * connectivity does not hinge on the single bucket-min row passing
    * the caller's verifier: if the min is an outlier (a dissimilar doc
    * that band-collided), adjacent members still link up. All pairs
    * flow through the verifier (Jaccard / Hamming / cosine), so the
    * cap bounds the candidate count at O(2·members) per hot bucket
    * without admitting false positives. Bucket sizing, the bucket-min
    * row, and the chain predecessor come from windows over one
    * (band, band_key) partitioning — the same hash partitioning the
    * self-join needs, so the cap costs no extra exchange.
    *
    * Rows with a NULL band or band_key are dropped up front — the
    * uncapped self-join's null-unsafe equality never matched them, and
    * a window would lump them into one giant fake bucket.
    *
    * Output: (id_a, id_b, <payload>_a, <payload>_b), id_a < id_b,
    * deduplicated across bands when `dedup` is true. Callers whose
    * downstream is an EXPENSIVE per-pair verifier (exact Jaccard over
    * shingle sets, cosine over raw vectors) keep the default: paying
    * one distinct-shuffle to verify each pair once is the right
    * trade. Callers whose downstream is a cheap codegen'd predicate
    * feeding a duplicate-INSENSITIVE aggregate (simhash: popcount
    * filter → min-partner election) pass `dedup = false` — the
    * duplicate band hits are filtered map-side and collapse in the
    * aggregate's partial combine, so no global distinct over the full
    * candidate set ever shuffles (at corpus scale that distinct is a
    * hash table over EVERY candidate pair — the memory hot spot).
    */
  private[graft] def cappedPairs(bands: DataFrame, cap: Int = DefaultBucketCap,
      dedup: Boolean = true): DataFrame = {
    val payload = bands.columns.toSeq.filterNot(Set("id", "band", "band_key"))
    val keyed = bands.filter(col("band").isNotNull && col("band_key").isNotNull)
    val w = Window.partitionBy("band", "band_key")
    val row = struct((col("id") +: payload.map(col)): _*)
    val sized = keyed
      .withColumn("bsz", count(lit(1)).over(w))
      .withColumn("bmin", min(row).over(w))
    val small = sized.filter(col("bsz") <= cap)
    val allPairs = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select((col("a.id").as("id_a") +: payload.map(c => col(s"a.$c").as(s"${c}_a"))) ++
              (col("b.id").as("id_b") +: payload.map(c => col(s"b.$c").as(s"${c}_b"))): _*)
    def pairsFrom(from: String) =
      (col(s"$from.id").as("id_a") +: payload.map(c => col(s"$from.$c").as(s"${c}_a"))) ++
        (col("id").as("id_b") +: payload.map(c => col(c).as(s"${c}_b")))
    // hot bucket → star to the bucket-min row (bmin.id < id by
    // construction, so the id_a < id_b invariant holds) …
    val hot = sized.filter(col("bsz") > cap)
      .withColumn("prev", lag(row, 1).over(w.orderBy("id")))
    val starPairs = hot.filter(col("id") =!= col("bmin.id"))
      .select(pairsFrom("bmin"): _*)
    // … plus the id-ordered chain (prev.id < id by the window order)
    val chainPairs = hot.filter(col("prev").isNotNull)
      .select(pairsFrom("prev"): _*)
    val all = allPairs.unionByName(starPairs).unionByName(chainPairs)
    if (dedup) all.dropDuplicates("id_a", "id_b") else all
  }

  /** Exact DuckDB mirror of [[embeddingAnn]]: the 2×12 hyperplanes
    * inlined as DOUBLE-list constants (same
    * [[graft.functions.HashUtil.unitComponent]] values; shortest-repr
    * doubles round-trip exactly), left-to-right list_reduce
    * projections and cosines (the codegen'd expressions' IEEE
    * operation order), capped pair generation via window functions,
    * ROUND(cos,6) ≥ 0.45 verify, min-partner rep election.
    */
  /** Shared CTE chain (through the verified `good` pairs) of the
    * [[embeddingAnn]] and [[ccAnn]] oracles — callers prepend
    * `WITH ` / `WITH RECURSIVE ` and append their consumer CTEs.
    */
  private val annPairsCtes: String = {
    val dims = 64
    val planes = Seq(1L, 2L).flatMap { seed =>
      (0 until 12).map { b =>
        val comps = (0 until dims)
          .map(i => graft.functions.HashUtil.unitComponent(seed, b, i))
          .mkString("[", ", ", "]")
        s"($seed, $b, CAST($comps AS DOUBLE[]))"
      }
    }.mkString(",\n    ")
    s"""planes(tbl, b, comps) AS (VALUES
       |    $planes
       |), projs AS (
       |  SELECT e.vec_id, p.tbl, p.b,
       |    list_reduce(list_transform(range(1, ${dims + 1}),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * p.comps[i]), (a, x) -> a + x) AS proj
       |  FROM embeddings e CROSS JOIN planes p
       |), buckets AS (
       |  SELECT vec_id, tbl AS band,
       |    SUM(CASE WHEN proj >= 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS band_key
       |  FROM projs GROUP BY 1, 2
       |), sized AS (
       |  SELECT vec_id, band, band_key,
       |    COUNT(*) OVER w AS bsz,
       |    MIN(vec_id) OVER w AS bmin_id,
       |    LAG(vec_id) OVER (w ORDER BY vec_id) AS prev_id
       |  FROM buckets
       |  WINDOW w AS (PARTITION BY band, band_key)
       |), small_pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sized a JOIN sized b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id
       |  WHERE a.bsz <= $DefaultBucketCap
       |), star_pairs AS (
       |  SELECT bmin_id AS id_a, vec_id AS id_b FROM sized
       |  WHERE bsz > $DefaultBucketCap AND vec_id <> bmin_id
       |), chain_pairs AS (
       |  SELECT prev_id AS id_a, vec_id AS id_b FROM sized
       |  WHERE bsz > $DefaultBucketCap AND prev_id IS NOT NULL
       |), cand AS (
       |  SELECT DISTINCT id_a, id_b FROM (
       |    SELECT * FROM small_pairs UNION ALL
       |    SELECT * FROM star_pairs UNION ALL
       |    SELECT * FROM chain_pairs)
       |), good AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.id_a
       |  JOIN embeddings eb ON eb.vec_id = c.id_b
       |  WHERE ROUND(
       |    list_reduce(list_transform(range(1, ${dims + 1}),
       |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)), (a, x) -> a + x)
       |    / (sqrt(list_reduce(list_transform(range(1, ${dims + 1}),
       |        i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)), (a, x) -> a + x))
       |     * sqrt(list_reduce(list_transform(range(1, ${dims + 1}),
       |        i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)), (a, x) -> a + x))), 6)
       |    >= 0.45
       |)""".stripMargin
  }

  /** Exact DuckDB mirror of [[embeddingAnn]]'s rep election over the
    * shared verified-pair CTEs. */
  val embeddingAnnOracle: String =
    s"""WITH $annPairsCtes, reps AS (
       |  SELECT id_b AS vec_id, MIN(id_a) AS rep_cand FROM good GROUP BY id_b
       |)
       |SELECT e.vec_id,
       |  COALESCE(r.rep_cand, e.vec_id) AS rep_id,
       |  COALESCE(r.rep_cand <> e.vec_id, FALSE) AS is_dup
       |FROM embeddings e LEFT JOIN reps r USING (vec_id)
       |ORDER BY e.vec_id""".stripMargin

  /** Exact DuckDB mirror of [[ccAnn]]: the same verified ANN pairs,
    * then connected components as a recursive transitive-closure CTE
    * (min reachable id — the label pointer jumping converges to);
    * vectors with no verified pair stay singletons.
    */
  val ccAnnOracle: String =
    s"""WITH RECURSIVE $annPairsCtes, edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM good
       |  UNION SELECT id_b AS src, id_a AS dst FROM good
       |), reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst
       |), comp0 AS (SELECT id AS vec_id, MIN(r) AS component FROM reach GROUP BY id),
       |comp AS (
       |  SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS component
       |  FROM embeddings e LEFT JOIN comp0 c USING (vec_id)
       |), sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
       |SELECT c.vec_id, c.component, s.cluster_size
       |FROM comp c JOIN sizes s USING (component)
       |ORDER BY c.vec_id""".stripMargin

  // ---------------------------------------------------------------
  /** Exact dedup by content hash: every doc gets its group size and a
    * canonical keep flag (min doc_id wins).
    */
  def exact(s: SparkSession, dir: String): DataFrame = {
    val hashed = docs(s, dir).select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val w = Window.partitionBy("h")
    hashed
      .withColumn("dup_count", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min("doc_id").over(w))
      .orderBy("doc_id")
  }

  val exactOracle: String =
    """SELECT doc_id, h,
      | COUNT(*) OVER (PARTITION BY h) AS dup_count,
      | (doc_id = MIN(doc_id) OVER (PARTITION BY h)) AS keep
      |FROM (SELECT doc_id, MD5(text) AS h FROM documents) t
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  /** LSH band key: the RAW 4-value signature slice (array<bigint>),
    * not a hash of it — band equality is then exactly "all 4 minhash
    * rows agree" with zero band-key collisions, and the whole pipeline
    * stays mirrorable in the DuckDB oracle. Cost: a 32-byte shuffle
    * key instead of 8 per (doc, band) row — noise next to the row
    * itself.
    */
  private[dedup] val BandExpr =
    "transform(sequence(0, 15), b -> slice(sig, b*4+1, 4))"

  /** MinHash-LSH near-dup detection with the EXACT-duplicate pre-pass
    * in front (r21 — the same r14 move that fixed dedup_pipeline, now
    * on the flagship rep-election entry): byte-identical texts collide
    * in ALL 16 bands, so on a duplicate-dense corpus (boilerplate-heavy
    * crawls; ScaleData's replicated slices) the doc-level band join
    * emits every identical pair 16× and then MinHash-verifies texts it
    * could have hashed once. Hashing first collapses each
    * identical-text cluster to one representative; signatures, the
    * band join, and the exact-Jaccard verify run over DISTINCT texts
    * only, and the per-doc election folds back through the membership
    * map.
    *
    * The fold-back is exact, not approximate. Doc-level truth:
    * rep_cand(d) = MIN(id_a) over verified pairs (id_a < d). Every
    * within-group pair verifies (identical texts: all 16 bands
    * collide, Jaccard 1), and a cross-group pair verifies iff the
    * GROUPS' texts band-collide and pass Jaccard — identical for all
    * member pairs. So d's verified-partner set is (G(d) \ d) ∪
    * (members of groups verified against G(d)) intersected with
    * {< d}, whose min is m(G(d)) = min(rep(G(d)), min neighbor-group
    * reps) whenever m < d, else none (m ≤ rep ≤ d always, so "none"
    * happens exactly at d = m). One value per GROUP decides every
    * member — oracle-hash re-verified bit-equal. (Where the bucket cap
    * fires the two formulations can differ — rep-level buckets are
    * strictly smaller, so the cap fires later and recall only rises;
    * at the gated SFs no bucket approaches the cap on either side.)
    */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val d = docs(s, dir).select("doc_id", "text")
    // materialize the (doc_id → rep_id) map once (two longs per doc;
    // same in-query intermediate reuse as ConnectedComponents'
    // localCheckpoint): it feeds repTexts — which cappedPairs'
    // window + self-join + star/chain branches and both verify joins
    // each re-plan — and without truncation every one of those ~8
    // consumers re-ran the sha-256 groupBy + membership join over the
    // full corpus (the r21 plan dump blew up to 76 scans before this)
    val members = exactMembership(d).localCheckpoint()
    val repTexts = d.join(members.filter(col("doc_id") === col("rep_id"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
    val bands = repTexts
      .select(col("doc_id").as("id"), expr("graft_minhash(text, 64, 3)").as("sig"))
      .select(col("id"), posexplode(expr(BandExpr)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val cand = cappedPairs(bands)
    val verified = cand
      .join(repTexts.select(col("doc_id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(repTexts.select(col("doc_id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .withColumn("jaccard", expr("graft_ngram_jaccard(text_a, text_b, 3)"))
      .filter(col("jaccard") >= 0.8)
      .select("id_a", "id_b")
    // m(group) = min(own rep, min verified-neighbor rep) — the one
    // value per group the doc-level election reduces to (see above)
    val nbrMin = verified.select(col("id_b").as("rep_id"), col("id_a").as("nbr"))
      .unionByName(verified.select(col("id_a").as("rep_id"), col("id_b").as("nbr")))
      .groupBy("rep_id").agg(min("nbr").as("nbr_min"))
    members.join(nbrMin, Seq("rep_id"), "left")
      .select(col("doc_id"),
        least(col("rep_id"), coalesce(col("nbr_min"), col("rep_id"))).as("m"))
      .select(col("doc_id"),
        when(col("m") < col("doc_id"), col("m")).as("rep_cand"))
      .select(
        col("doc_id"),
        coalesce(col("rep_cand"), col("doc_id")).as("rep_id"),
        coalesce(col("rep_cand") =!= col("doc_id"), lit(false)).as("is_dup"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  def simhash(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val sigs = docs(s, dir).select(col("doc_id"), expr("graft_simhash(text)").as("sig"))
    val bands = sigs.select(col("doc_id").as("id"), col("sig"), posexplode(expr(
      "transform(sequence(0, 3), b -> (sig >> (b * 16)) & 65535)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    // dedup = false: the popcount verifier is codegen'd-cheap (re-
    // checking a band-duplicate pair costs nothing) and the min-
    // partner election is duplicate-insensitive, so duplicates
    // collapse in the aggregate's map-side combine instead of a
    // global distinct over every candidate pair — at corpus scale
    // that distinct hash-tables ~4× the verified-pair volume
    val cand = cappedPairs(bands, dedup = false)
      .filter(expr("bit_count(sig_a ^ sig_b) <= 3"))
    val reps = cand.groupBy(col("id_b").as("doc_id")).agg(min("id_a").as("rep_cand"))
    sigs.join(reps, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("sig").as("simhash"),
        coalesce(col("rep_cand"), col("doc_id")).as("rep_id"),
        coalesce(col("rep_cand") =!= col("doc_id"), lit(false)).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Exact DuckDB mirror of the WHOLE MinHash-LSH dedup. Everything in
    * the chain is deterministic, so the flagship near-dup entry is
    * hash-gated end-to-end: word-3-gram shingle hashes (FNV-1a over
    * each token's UTF-8 bytes, a space byte after every token, then
    * splitmix64 — [[graft.functions.Tokenize.shingleHashes]]), the
    * k=64 2-universal minhash (the 64 (a,b) constants are computed
    * from the same mix64 and inlined as a VALUES table; unsigned min
    * in [0,2^64) HUGEINT), raw-slice band keys (LIST equality),
    * [[cappedPairs]]'s small-bucket all-pairs + hot-bucket star/chain
    * via window functions, the exact shingle-set Jaccard ≥ 0.8
    * verification, and min-partner rep election.
    */
  /** Shared oracle prefix: the deterministic MinHash-LSH chain from
    * raw text to verified near-dup pairs (`good`), used by BOTH
    * [[minhashLshOracle]] (rep election tail) and [[pipelineOracle]]
    * (connected-components closure tail). Starts WITH RECURSIVE so
    * the pipeline tail can append a recursive CTE.
    */
  private val minhashGoodPairsSql: String = {
    import graft.functions.{OracleHashSql => H}
    import graft.functions.HashUtil
    val consts = (0 until 64).map { j =>
      val a = java.lang.Long.toUnsignedString(HashUtil.mix64(2L * j + 1) | 1L)
      val b = java.lang.Long.toUnsignedString(HashUtil.mix64(2L * j))
      s"($j, CAST($a AS HUGEINT), CAST($b AS HUGEINT))"
    }.mkString(",\n    |    ").replace("|", "")
    s"""WITH RECURSIVE consts(j, ca, cb) AS (VALUES
       |    $consts
       |), toksl AS (
       |  SELECT doc_id, LIST_FILTER(regexp_split_to_array(text, '\\s+'),
       |    t -> LEN(t) > 0) AS tl
       |  FROM documents
       |), sh0 AS (
       |  SELECT doc_id,
       |    CASE WHEN LEN(tl) < 3 THEN [array_to_string(tl, ' ')]
       |    ELSE list_transform(range(0, LEN(tl)-2),
       |      i -> tl[i+1] || ' ' || tl[i+2] || ' ' || tl[i+3] || ' ')
       |    END AS shingles
       |  FROM toksl
       |), shx AS (
       |  SELECT doc_id, UNNEST(shingles) AS sg FROM sh0
       |), sb AS (
       |  SELECT doc_id, hex(encode(sg)) AS hx,
       |         CAST(octet_length(encode(sg)) AS INT) AS n
       |  FROM shx
       |), g0 AS (
       |  SELECT doc_id, ${H.fnvFold(H.bytesList("hx", "n"))} AS z FROM sb
       |)${H.mix64Ctes("g0", "g", "h", Seq("doc_id"))}
       |, dsets AS (
       |  SELECT doc_id, list_distinct(list(h)) AS hset FROM g4 GROUP BY doc_id
       |), mh AS (
       |  SELECT doc_id, c.j AS j,
       |    MIN((${H.mul64("c.ca", "h")} + c.cb) % ${H.M}) AS mv
       |  FROM g4 CROSS JOIN consts c GROUP BY 1, 2
       |), sig AS (
       |  SELECT doc_id, list(mv ORDER BY j) AS sig FROM mh GROUP BY doc_id
       |), bands AS (
       |  SELECT doc_id, bb.b AS band, sig[4*bb.b+1 : 4*bb.b+4] AS band_key
       |  FROM sig CROSS JOIN (SELECT CAST(UNNEST(range(0, 16)) AS INT) AS b) bb
       |), sized AS (
       |  SELECT doc_id, band, band_key,
       |    COUNT(*) OVER w AS bsz,
       |    MIN(doc_id) OVER w AS bmin_id,
       |    LAG(doc_id) OVER (w ORDER BY doc_id) AS prev_id
       |  FROM bands
       |  WINDOW w AS (PARTITION BY band, band_key)
       |), small_pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sized a JOIN sized b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  WHERE a.bsz <= $DefaultBucketCap
       |), star_pairs AS (
       |  SELECT bmin_id AS id_a, doc_id AS id_b FROM sized
       |  WHERE bsz > $DefaultBucketCap AND doc_id <> bmin_id
       |), chain_pairs AS (
       |  SELECT prev_id AS id_a, doc_id AS id_b FROM sized
       |  WHERE bsz > $DefaultBucketCap AND prev_id IS NOT NULL
       |), cand AS (
       |  SELECT DISTINCT id_a, id_b FROM (
       |    SELECT * FROM small_pairs UNION ALL
       |    SELECT * FROM star_pairs UNION ALL
       |    SELECT * FROM chain_pairs)
       |), good AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN dsets da ON da.doc_id = c.id_a
       |  JOIN dsets db ON db.doc_id = c.id_b
       |  WHERE CASE WHEN LEN(list_distinct(list_concat(da.hset, db.hset))) = 0 THEN 1.0
       |        ELSE CAST(LEN(list_intersect(da.hset, db.hset)) AS DOUBLE)
       |           / LEN(list_distinct(list_concat(da.hset, db.hset))) END >= 0.8
       |)""".stripMargin
  }

  val minhashLshOracle: String =
    minhashGoodPairsSql +
      """
        |, reps AS (
        |  SELECT id_b AS doc_id, MIN(id_a) AS rep_cand FROM good GROUP BY id_b
        |)
        |SELECT d.doc_id,
        |  COALESCE(r.rep_cand, d.doc_id) AS rep_id,
        |  COALESCE(r.rep_cand <> d.doc_id, FALSE) AS is_dup
        |FROM documents d LEFT JOIN reps r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin

  /** Oracle for the END-TO-END pipeline: same verified near-dup edges,
    * then connected components as a recursive transitive closure (min
    * reachable id = the label the distributed pointer-jumping loop
    * converges to), keep = "I am my cluster's min". Feasible because
    * the oracle runs at small SF where closures are tiny.
    */
  val pipelineOracle: String =
    minhashGoodPairsSql +
      """
        |, edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM good
        |  UNION SELECT id_b AS src, id_a AS dst FROM good
        |), reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst
        |), comp AS (
        |  SELECT id, MIN(r) AS component FROM reach GROUP BY id
        |)
        |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
        |  (COALESCE(c.component, d.doc_id) = d.doc_id) AS kept
        |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin

  /** Exact DuckDB mirror of the WHOLE simhash dedup — signature
    * computation (FNV-1a+splitmix64 token hashes via
    * [[graft.functions.OracleHashSql]], per-bit vote sums), 16-bit
    * band bucketing, the capped pair generation ([[cappedPairs]]'s
    * small-bucket all-pairs AND hot-bucket star+chain, replicated with
    * window functions), hamming≤3 verification, and min-partner rep
    * election. Everything is deterministic, so the entry is hash-gated
    * end-to-end rather than rows-only.
    */
  val simhashOracle: String = {
    import graft.functions.{OracleHashSql => H}
    s"""WITH toks AS (
       |  SELECT doc_id, UNNEST(LIST_FILTER(regexp_split_to_array(text, '\\s+'),
       |    t -> LEN(t) > 0)) AS tok
       |  FROM documents
       |), tb AS (
       |  SELECT doc_id, hex(encode(tok)) AS hx,
       |         CAST(octet_length(encode(tok)) AS INT) AS n
       |  FROM toks
       |), h0 AS (
       |  SELECT doc_id, ${H.fnvFold(H.bytesList("hx", "n"))} AS z FROM tb
       |)${H.mix64Ctes("h0", "h", "h", Seq("doc_id"))}
       |, votes AS (
       |  SELECT doc_id, bits.j AS j,
       |    SUM(CASE WHEN (CAST(h AS UBIGINT) >> bits.j) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM h4 CROSS JOIN (SELECT CAST(UNNEST(range(0, 64)) AS INT) AS j) bits
       |  GROUP BY 1, 2
       |), sig0 AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN v > 0 THEN CAST(CAST(1 AS UBIGINT) << j AS HUGEINT) ELSE 0 END) AS usig
       |  FROM votes GROUP BY doc_id
       |), sigs AS (
       |  SELECT d.doc_id, CAST(COALESCE(s.usig, 0) AS HUGEINT) AS usig
       |  FROM documents d LEFT JOIN sig0 s USING (doc_id)
       |), bands AS (
       |  SELECT doc_id, usig, bb.b AS band,
       |    CAST((CAST(usig AS UBIGINT) >> (16*bb.b)) & 65535 AS INT) AS band_key
       |  FROM sigs CROSS JOIN (SELECT CAST(UNNEST(range(0, 4)) AS INT) AS b) bb
       |), sized AS (
       |  SELECT doc_id, band, band_key,
       |    COUNT(*) OVER w AS bsz,
       |    MIN(doc_id) OVER w AS bmin_id,
       |    LAG(doc_id) OVER (w ORDER BY doc_id) AS prev_id
       |  FROM bands
       |  WINDOW w AS (PARTITION BY band, band_key)
       |), small_pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sized a JOIN sized b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  WHERE a.bsz <= $DefaultBucketCap
       |), star_pairs AS (
       |  SELECT bmin_id AS id_a, doc_id AS id_b FROM sized
       |  WHERE bsz > $DefaultBucketCap AND doc_id <> bmin_id
       |), chain_pairs AS (
       |  SELECT prev_id AS id_a, doc_id AS id_b FROM sized
       |  WHERE bsz > $DefaultBucketCap AND prev_id IS NOT NULL
       |), cand AS (
       |  SELECT DISTINCT id_a, id_b FROM (
       |    SELECT * FROM small_pairs UNION ALL
       |    SELECT * FROM star_pairs UNION ALL
       |    SELECT * FROM chain_pairs)
       |), good AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.id_a
       |  JOIN sigs sb ON sb.doc_id = c.id_b
       |  WHERE bit_count(xor(CAST(sa.usig AS UBIGINT), CAST(sb.usig AS UBIGINT))) <= 3
       |), reps AS (
       |  SELECT id_b AS doc_id, MIN(id_a) AS rep_cand FROM good GROUP BY id_b
       |)
       |SELECT s.doc_id, ${H.toSigned("s.usig")} AS simhash,
       |  COALESCE(r.rep_cand, s.doc_id) AS rep_id,
       |  COALESCE(r.rep_cand <> s.doc_id, FALSE) AS is_dup
       |FROM sigs s LEFT JOIN reps r USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Exact n-gram Jaccard on a linear pair set (adjacent doc ids) —
    * exercises the verifier independently of LSH candidate recall.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val d = docs(s, dir).select("doc_id", "text")
    d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("graft_ngram_jaccard(a.text, b.text, 3)").as("jaccard3"),
        expr("graft_ngram_jaccard(a.text, b.text, 1)").as("jaccard1"))
      .orderBy("id_a")
  }

  /** DuckDB oracle: Jaccard over distinct word-n-gram STRING sets.
    * The Spark side intersects 64-bit shingle-hash sets; identical
    * n-grams hash identically and distinct ones collide with
    * probability ~2⁻⁶⁴, so the two formulations agree exactly on real
    * data. Short docs (< n tokens) degrade to the single joined-token
    * string on both sides; a cross token-count string collision is
    * impossible (tokens cannot contain whitespace), matching the
    * hash-side behavior of distinct hash functions never colliding.
    */
  val ngramJaccardOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, LIST_FILTER(regexp_split_to_array(text, '\s+'), t -> LEN(t) > 0) AS ts
      |  FROM documents),
      |g3 AS (
      |  SELECT doc_id,
      |   CASE WHEN LEN(ts) < 3 THEN [array_to_string(ts, ' ')]
      |        ELSE list_distinct(list_transform(generate_series(1, LEN(ts) - 2),
      |          i -> array_to_string(ts[i:i+2], ' '))) END AS g
      |  FROM toks),
      |g1 AS (
      |  SELECT doc_id,
      |   CASE WHEN LEN(ts) < 1 THEN [array_to_string(ts, ' ')]
      |        ELSE list_distinct(ts) END AS g
      |  FROM toks)
      |SELECT a3.doc_id AS id_a, b3.doc_id AS id_b,
      | CAST(LEN(list_intersect(a3.g, b3.g)) AS DOUBLE)
      |  / (LEN(a3.g) + LEN(b3.g) - LEN(list_intersect(a3.g, b3.g))) AS jaccard3,
      | CAST(LEN(list_intersect(a1.g, b1.g)) AS DOUBLE)
      |  / (LEN(a1.g) + LEN(b1.g) - LEN(list_intersect(a1.g, b1.g))) AS jaccard1
      |FROM g3 a3 JOIN g3 b3 ON b3.doc_id = a3.doc_id + 1
      |JOIN g1 a1 ON a1.doc_id = a3.doc_id
      |JOIN g1 b1 ON b1.doc_id = b3.doc_id
      |ORDER BY id_a""".stripMargin

  // ---------------------------------------------------------------
  /** Exact self-1NN over an embedding table WITHOUT broadcasting the
    * corpus: a blocked cosine kernel. The corpus is hashed into B
    * blocks and each block is packed once (`graft_pack_vectors`: ids,
    * one flat float array, norms). Block pairs meet through
    * one shuffle equi-join on the block keys. The cosine is symmetric
    * to the bit, so only pairs a ≤ b are formed, B(B+1)/2 pair rows in
    * all, each block replicated B times across the two sides. Each
    * pair row is scored in a tight loop (`graft_block_nn`) that keeps
    * a running best per vector of either block and emits at most one
    * (q_id, nn_id, cos) row per vector. The final
    * `graft_topk(cos, nn_id, 1)` merges N·B rows, never N². A kernel
    * call holds the two packed blocks of its pair row.
    *
    * Exact kNN is inherently N² compute — the *approximate* scale path
    * is [[embeddingAnn]] — but this is the shape that lets the exact
    * variant run as far as compute allows on a 1000-executor cluster.
    *
    * Returns (vec_id, nn_id, cos): cos is `graft_cosine`'s value
    * (both score through [[graft.functions.Cosine]]), ties break by
    * (score desc, id asc) with NaN ranked first
    * ([[graft.functions.TopKBuffer.before]]), independent of
    * partitioning. A null vector is never anyone's neighbor; a query
    * with no non-null candidate — a null vector, a one-vector table —
    * gets no row.
    */
  def exactSelf1nn(s: SparkSession, e: DataFrame): DataFrame = {
    GraftFunctions.register(s)
    // the pair rows are distributed by block pair, so B caps the
    // usable parallelism: 2× the session's shuffle partitions gives
    // every slot several pairs, and replication stays N·B vectors
    // (tiny next to the N² cosines)
    val b = math.max(8, s.sessionState.conf.numShufflePartitions * 2)
    val blocks = e
      .groupBy(pmod(xxhash64(col("vec_id")), lit(b)).as("blk"))
      .agg(expr("graft_pack_vectors(vec_id, embedding)").as("packed"))
    // the pair rows are a few MB, which AQE would coalesce into one
    // task; a repartition to an explicit count is never coalesced
    val tasks = math.max(b, s.sparkContext.defaultParallelism)
    def side(role: String, partners: Column, partnerRole: String) =
      blocks.select(col("blk").as(s"${role}_blk"), explode(partners).as(s"${partnerRole}_blk"),
          col("packed").as(role))
        .repartition(tasks, col("a_blk"), col("b_blk"))
    val lower = side("a", sequence(col("blk"), lit(b - 1L)), "b")
    val upper = side("b", sequence(lit(0L), col("blk")), "a")
    // sort-merge at any size: a broadcast would ship half the pair
    // rows, B/2 copies of the corpus, to every executor
    lower.join(upper.hint("merge"), Seq("a_blk", "b_blk"))
      .select(expr("graft_block_nn(a, b, a_blk = b_blk)"))
      .groupBy("q_id")
      .agg(expr("graft_topk(cos, nn_id, 1)").as("top"))
      .select(col("q_id").as("vec_id"), col("top")(0).getField("id").as("nn_id"),
        col("top")(0).getField("score").as("cos"))
  }

  /** Embedding near-dup: each vector's exact nearest neighbor by
    * cosine, flagged against a threshold. Pair generation is the
    * blocked kernel [[exactSelf1nn]] (no corpus broadcast, no
    * BroadcastNestedLoopJoin — pinned in PlanShapeSpec). DuckDB oracle
    * recomputes the cosine with the same sequential double fold.
    */
  def embedding(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
    exactSelf1nn(s, e)
      .select(col("vec_id"), col("nn_id"),
        round(col("cos"), 6).as("cos"),
        (round(col("cos"), 6) >= 0.45).as("near_dup"))
      .orderBy("vec_id")
  }

  /** The 100 TB embedding-dedup path: LSH-bucketed candidate
    * generation (two 12-bit hyperplane tables — a self-join WITHIN
    * buckets, the same shape as the text MinHash-LSH), exact-cosine
    * re-rank on candidates only, flag pairs above the near-dup
    * threshold. Approximate (recall < 1 on uniform corpora) →
    * rows-only; the recall harness in AnnRecallSpec measures it on
    * clustered data.
    */
  /** LSH-bucketed, exact-cosine-verified near-dup pairs — the shared
    * candidate generator of [[embeddingAnn]] (rep election) and
    * [[ccAnn]] (graph clustering). Cost ∝ bucket collisions, never N².
    *
    * Memory shape (r16 — found by a ccAnn heap OOM at sf5): pair
    * generation runs on BARE (id, band, band_key) rows and the
    * embeddings join back BY ID only for the per-pair cosine — the
    * same payload-after-pairs shape as the text MinHash path. Carrying
    * the 64-float vectors THROUGH cappedPairs put them in every window
    * sort buffer and both sort-merge-join sides (×32 concurrent
    * tasks); bare ids keep those buffers fixed-width longs. The pair
    * SET is unchanged (the windows/min/lag order by id exactly as
    * before — struct ordering led with id), so the DuckDB oracle —
    * which always windowed over bare vec_ids — hash-matches untouched.
    */
  private[graft] def annVerifiedPairs(e: DataFrame, threshold: Double): DataFrame = {
    val bucketed = Seq(1L, 2L).map { seed =>
      e.select(col("vec_id").as("id"), lit(seed).as("band"),
        expr(s"graft_lsh_bucket(embedding, 12, $seed)").as("band_key"))
    }.reduce(_ unionByName _)
    cappedPairs(bucketed)
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
      .withColumn("cos", expr("graft_cosine(emb_a, emb_b)"))
      .filter(round(col("cos"), 6) >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  def embeddingAnn(s: SparkSession, dir: String, threshold: Double = 0.45): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
    val cand = annVerifiedPairs(e, threshold)
    val reps = cand.groupBy(col("id_b").as("vec_id")).agg(min("id_a").as("rep_cand"))
    e.select("vec_id").join(reps, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("rep_cand"), col("vec_id")).as("rep_id"),
        coalesce(col("rep_cand") =!= col("vec_id"), lit(false)).as("is_dup"))
      .orderBy("vec_id")
  }

  val embeddingOracle: String =
    """WITH pairs AS (
      | SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
      |  list_sum(list_transform(range(1, LEN(a.embedding) + 1),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(range(1, LEN(a.embedding) + 1),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(range(1, LEN(b.embedding) + 1),
      |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
      | FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id)
      |SELECT vec_id, nn_id, ROUND(cos, 6) AS cos, (ROUND(cos, 6) >= 0.45) AS near_dup
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) AS rn FROM pairs) t
      |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------
  /** Exact-duplicate grouping key over (doc_id, text). NULL texts are
    * excluded from content grouping: the doc-level pipeline gives them
    * no signature at all (graft_minhash's null propagates, no bands,
    * never a candidate — each null doc is its own singleton), but
    * sha2(NULL) is NULL, which a shared key would collapse into ONE
    * all-nulls group — every null-text doc declared a duplicate of
    * every other, and a skew hotspot on a nulls-heavy crawl. Null docs
    * get a per-doc key ("#" + doc_id, disjoint from 64-hex digests) so
    * each stays its own representative. Sub-shingle-size texts stay
    * ELIGIBLE: their shingle set is empty, so the doc-level path gives
    * them all the same constant signature and verifies any two at
    * Jaccard union-0 = 1 — exact-hashing identical ones first is
    * absorbed, same as full-size texts.
    */
  private[graft] def exactContentKey: Column =
    when(col("text").isNotNull, sha2(col("text"), 256))
      .otherwise(concat(lit("#"), col("doc_id")))

  /** Exact-duplicate pre-pass over a (doc_id, text) corpus: returns
    * (exactEdges, reps) where exactEdges star-links every duplicate to
    * its cluster's min-id representative and reps is one (doc_id,
    * text) row per distinct content key.
    *
    * Shuffle shape — this is the 100 TB hot path, so no step may
    * funnel a hot key into one task: the rep map is a
    * `groupBy(hash_key).agg(min)` (map-side partial aggregation
    * collapses each hot key per input partition; AQE can further split
    * a skewed reduce key), NEVER a `Window.partitionBy(hash_key)` (a
    * window has no partial agg and lands every copy of the hottest
    * text — empty pages, robots.txt, boilerplate, plausibly 10⁸ rows
    * on a real crawl — on ONE task). The join deriving edges shuffles
    * only (doc_id, hash_key) pairs — bare ids, never text — and is a
    * plain equi-join AQE skew-splits; rep TEXTS are recovered with a
    * semi-join on doc_id, which is uniformly distributed by
    * construction. Pinned by PlanShapeSpec ("no window over the raw
    * corpus").
    */
  private[graft] def exactPrePass(d: DataFrame): (DataFrame, DataFrame) = {
    val keyed = d.select(col("doc_id"), exactContentKey.as("hash_key"))
    val repMap = keyed.groupBy("hash_key").agg(min("doc_id").as("rep_id"))
    val exactEdges = keyed.join(repMap, Seq("hash_key"))
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("rep_id").as("src"), col("doc_id").as("dst"))
    // rep ids are distinct across groups (each doc_id belongs to one
    // key group), so a semi-join recovers exactly one text per rep
    val reps = d.join(repMap.select(col("rep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .select("doc_id", "text")
    (exactEdges, reps)
  }

  /** Full (doc_id → rep_id) membership map of the exact-duplicate
    * pre-pass: every doc appears exactly once with its identical-text
    * group's min-id representative (NULL texts are per-doc singleton
    * groups, see [[exactContentKey]]). Same shuffle discipline as
    * [[exactPrePass]]: a hash-groupBy rep election (map-side partial
    * agg on the hot boilerplate keys) and an AQE-splittable equi-join
    * of bare (doc_id, hash_key) pairs — never a window over the raw
    * corpus.
    */
  private[graft] def exactMembership(d: DataFrame): DataFrame = {
    val keyed = d.select(col("doc_id"), exactContentKey.as("hash_key"))
    val repMap = keyed.groupBy("hash_key").agg(min("doc_id").as("rep_id"))
    keyed.join(repMap, Seq("hash_key")).select("doc_id", "rep_id")
  }

  // ---------------------------------------------------------------
  /** The full dedup product in one call: EXACT-duplicate pre-pass →
    * MinHash-LSH candidates over the distinct texts → exact-Jaccard
    * verification → connected components → keep the smallest doc_id
    * per cluster. Returns every doc with its cluster and keep
    * decision — `filter(col("kept"))` IS the deduped corpus.
    *
    * The exact pre-pass (sha-256 hash-groupBy, one shuffle) is the
    * production shape at 100 TB AND the r14 sf5 attribution fix: a
    * duplicate-dense corpus (ScaleData's 50× replication; real crawls
    * are boilerplate-heavy) makes byte-identical copies collide in
    * ALL 16 bands, so doc-level pair generation emits every duplicate
    * pair 16× (measured at sf5: 107M pre-dedup pairs for 6.77M real
    * ones, candidates 13.3 s + verify 11.5 s of the 45 s pipeline)
    * and then MinHash-verifies texts it could have hashed once.
    * Hashing first collapses each identical-text cluster to one
    * representative + O(cluster) star edges; LSH/verify run on
    * distinct texts only. Components are IDENTICAL: exact copies have
    * Jaccard 1 ≥ any threshold and identical signatures, so every
    * doc-level verified edge is absorbed by rep-star + rep-pair
    * transitivity (and rep-level buckets are smaller, so the pair cap
    * can only fire LATER — recall never drops). NULL texts are the one
    * exclusion: the doc-level path never pairs them (null signature,
    * no bands), so the pre-pass must not hash-group them either. The
    * DuckDB oracle (doc-level pipeline in SQL) hash-matches unchanged.
    */
  def dedupCorpus(s: SparkSession, docs: DataFrame, jaccardThreshold: Double = 0.8): DataFrame = {
    GraftFunctions.register(s)
    val d = docs.select("doc_id", "text")
    val (exactEdges, reps) = exactPrePass(d)
    // near-dup detection over DISTINCT texts only
    val bands = reps
      .select(col("doc_id").as("id"), expr("graft_minhash(text, 64, 3)").as("sig"))
      .select(col("id"), posexplode(expr(BandExpr)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val cand = cappedPairs(bands)
    val nearEdges = cand
      .join(reps.select(col("doc_id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(reps.select(col("doc_id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .filter(expr(s"graft_ngram_jaccard(text_a, text_b, 3) >= $jaccardThreshold"))
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val comps = ConnectedComponents.run(
      exactEdges.unionByName(nearEdges), d.select(col("doc_id").as("id")))
    comps
      .withColumn("kept", col("id") === col("component"))
      .select(col("id").as("doc_id"), col("component"), col("kept"))
  }

  /** Rows-only query over the pipeline: per-doc cluster + keep flag. */
  def dedupPipeline(s: SparkSession, dir: String): DataFrame =
    dedupCorpus(s, docs(s, dir)).orderBy("doc_id")

  // ---------------------------------------------------------------
  /** Embedding clustering: 1-NN graph → connected components → one
    * cluster label per vector (the "pick a canonical doc per near-dup
    * cluster" step). Approximate graph → rows-only.
    */
  def ccClusters(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
    // 1-NN graph via the blocked exact kNN — no corpus broadcast
    val pairs = exactSelf1nn(s, e)
      .select(col("vec_id").as("src"), col("nn_id").as("dst"))
    val labels = ConnectedComponents.run(
      pairs, e.select(col("vec_id").as("id")), maxIter = 8)
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("component"))
      .select(col("id").as("vec_id"), col("component"), col("cluster_size"))
      .orderBy("vec_id")
  }

  /** The clustering path a 100 TB run actually takes (VERDICT r15
    * item 5): connected components over the ANN CANDIDATE GRAPH —
    * [[annVerifiedPairs]]' LSH-bucketed, exact-cosine-verified edges
    * — instead of [[ccClusters]]' exact N² 1-NN graph (kept as the
    * declared exact baseline). Edge generation costs bucket
    * collisions, not N²; CC is the same pointer-jumping loop. Fully
    * oracled: the LSH is deterministic, so DuckDB recomputes the
    * identical edge set and closure.
    */
  def ccAnn(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
    val pairs = annVerifiedPairs(e, 0.45)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val labels = ConnectedComponents.run(
      pairs, e.select(col("vec_id").as("id")), maxIter = 8)
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("component"))
      .select(col("id").as("vec_id"), col("component"), col("cluster_size"))
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[ccClusters]]: the same exact-cosine 1-NN
    * edge set as [[embeddingOracle]], then connected components as a
    * recursive transitive-closure CTE (min reachable id = the label
    * the pointer-jumping loop converges to). Feasible because the
    * oracle runs at small SF where Σ|component|² is tiny.
    */
  val ccClustersOracle: String =
    """WITH RECURSIVE pairs AS (
      | SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
      |  list_sum(list_transform(range(1, LEN(a.embedding) + 1),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(range(1, LEN(a.embedding) + 1),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(range(1, LEN(b.embedding) + 1),
      |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
      | FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id),
      |nn AS (
      | SELECT vec_id, nn_id FROM (
      |  SELECT vec_id, nn_id,
      |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) AS rn
      |  FROM pairs) t WHERE rn = 1),
      |edges AS (
      | SELECT vec_id AS src, nn_id AS dst FROM nn
      | UNION SELECT nn_id AS src, vec_id AS dst FROM nn),
      |reach AS (
      | SELECT src AS id, src AS r FROM edges
      | UNION
      | SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
      |comp AS (SELECT id AS vec_id, MIN(r) AS component FROM reach GROUP BY id),
      |sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
      |SELECT c.vec_id, c.component, s.cluster_size
      |FROM comp c JOIN sizes s ON c.component = s.component
      |ORDER BY c.vec_id""".stripMargin

  // ---------------------------------------------------------------
  // ---------------------------------------------------------------
  /** Incremental dedup under the gate: the corpus arrives as TWO
    * batches, each appended through [[IncrementalIndex]] (signatures
    * computed for the new batch ONLY — at 100 TB you never re-hash
    * the corpus), then candidates come from the MAINTAINED index via
    * the same capped bucket pairing as the one-shot path and are
    * verified with exact n-gram Jaccard. The oracle is the from-
    * scratch truth — ALL pairs above the threshold — so the gate
    * proves the incremental index loses nothing vs a full rebuild.
    */
  def incremental(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val stem = s"/tmp/graft_dedup_inc/${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val (docsRoot, indexRoot) = (s"$stem/docs", s"$stem/index")
    Seq(docsRoot, indexRoot).foreach(SnapshotTable.drop(s, _))
    val d = docs(s, dir).select("doc_id", "text")
    IncrementalIndex.append(s, docsRoot, indexRoot, d.filter(col("doc_id") % 2 === 0))
    IncrementalIndex.append(s, docsRoot, indexRoot, d.filter(col("doc_id") % 2 === 1))
    incrementalPairs(s, docsRoot, indexRoot)
  }

  /** Verified near-dup pairs from a maintained [[IncrementalIndex]]:
    * the exact-duplicate pre-pass settles byte-identical pairs from
    * the stored content hashes alone (Jaccard 1 by definition — no
    * text read, no band join, no 16× per-band pair multiplicity), the
    * capped bucket join and exact-Jaccard verify run over global
    * content REPS only, and each verified rep pair fans back out to
    * the member pairs it stands for — the score is a pure function of
    * the text, so every member pair inherits its reps' Jaccard
    * exactly. Output is identical to verifying all doc-level
    * candidates (the dedup_incremental oracle is the from-scratch
    * all-pairs truth), but candidates and text shuffles scale with
    * DISTINCT texts, not docs.
    */
  private[graft] def incrementalPairs(s: SparkSession, docsRoot: String,
      indexRoot: String): DataFrame = {
    val members = IncrementalIndex.members(s, indexRoot)
    // all within-cluster pairs: byte-identical texts, Jaccard exactly
    // 1 (sub-shingle texts included: identical shorts share their one
    // whole-text shingle; null texts never share a key). Quadratic in
    // cluster size because the OUTPUT is — an equi-join AQE can
    // skew-split, shuffling bare ids only.
    val within = members.as("a").join(members.as("b"),
        col("a.rep_id") === col("b.rep_id") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        lit(1.0).as("jaccard3"))
    val repTexts = SnapshotTable.read(s, docsRoot)
      .join(members.filter(col("doc_id") === col("rep_id")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select("doc_id", "text")
    val verified = IncrementalIndex.candidatePairs(s, indexRoot, members)
      .join(repTexts.select(col("doc_id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(repTexts.select(col("doc_id").as("id_b"), col("text").as("text_b")), "id_b")
      .withColumn("jaccard3", expr("graft_ngram_jaccard(text_a, text_b, 3)"))
      .filter(col("jaccard3") >= 0.8)
      .select(col("id_a"), col("id_b"), col("jaccard3"))
    // fan each verified rep pair out to all cross-cluster member pairs
    val cross = verified
      .join(members.select(col("rep_id").as("id_a"), col("doc_id").as("m_a")), Seq("id_a"))
      .join(members.select(col("rep_id").as("id_b"), col("doc_id").as("m_b")), Seq("id_b"))
      .select(least(col("m_a"), col("m_b")).as("id_a"),
        greatest(col("m_a"), col("m_b")).as("id_b"),
        round(col("jaccard3"), 6).as("jaccard3"))
    within.unionByName(cross).orderBy("id_a", "id_b")
  }

  val incrementalOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, LIST_FILTER(regexp_split_to_array(text, '\s+'), t -> LEN(t) > 0) AS ts
      |  FROM documents),
      |g3 AS (
      |  SELECT doc_id,
      |   CASE WHEN LEN(ts) < 3 THEN [array_to_string(ts, ' ')]
      |        ELSE list_distinct(list_transform(generate_series(1, LEN(ts) - 2),
      |          i -> array_to_string(ts[i:i+2], ' '))) END AS g
      |  FROM toks)
      |SELECT id_a, id_b, ROUND(j, 6) AS jaccard3 FROM (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(LEN(list_intersect(a.g, b.g)) AS DOUBLE)
      |   / (LEN(a.g) + LEN(b.g) - LEN(list_intersect(a.g, b.g))) AS j
      | FROM g3 a JOIN g3 b ON a.doc_id < b.doc_id)
      |WHERE j >= 0.8 ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------
  /** Exact duplicate-SPAN removal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — ExactSubstr): any
    * [[SpanW]]-token window occurring more than once in the corpus is
    * boilerplate/copy and every token it covers is excised from every
    * document, instead of dropping whole near-dup docs. The paper's
    * single-machine tool builds a suffix array; the distributed
    * re-expression is an n-gram inventory:
    *
    *  1. one map-side explode emits (doc, pos, hash64(window)) per
    *     window — the 64-bit hash shuffles, NEVER the window text;
    *  2. a partial-agg count by hash finds windows with ≥2
    *     occurrences (linear; a skewed boilerplate hash partial-
    *     aggregates map-side like any hot groupBy key);
    *  3. duplicated occurrences join back (1:1 per occurrence, no
    *     quadratic pair step anywhere), fan out to their ≤[[SpanW]]
    *     covered positions, and an anti-join keeps uncovered tokens;
    *  4. documents reassemble by position — per-doc state is bounded
    *     by document length, the same bound the chunking/packing ops
    *     carry.
    *
    * Output is the cleaned corpus plus per-doc accounting, hash-gated
    * doc-for-doc; the oracle groups the raw window STRINGS, so the
    * gate also certifies the 64-bit hash inventory collision-free on
    * this corpus.
    */
  private val SpanW = 15

  def spanRemoval(s: SparkSession, dir: String): DataFrame = {
    // spread before the window-hash stage: ~n_tokens × SpanW string
    // builds per row over a possibly-1-split input (see
    // Tables.spreadForCompute — a no-op at cluster scale)
    val base = graft.sources.Tables.spreadForCompute(docs(s, dir))
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => length(t) > lit(0)).as("tl"))
    // window hashes are built NUMERICALLY (r21, opt guide §4 — cheap
    // codegen'd expressions in the hot path): hash each token's bytes
    // ONCE into a per-doc long array, then hash the 15-long slice per
    // window — O(text bytes + 15·8·windows) instead of the previous
    // concat_ws shape's O(15·text bytes) string builds + re-hashing
    // (~tokens×15 char copies per doc, the profiled hot spot). The
    // hash is purely internal — the output depends only on window
    // EQUALITY classes, which any per-window injective-on-the-corpus
    // hash preserves (equal windows ⇒ equal token-hash slices; the
    // string-grouping oracle certifies collision-freedom per corpus,
    // exactly as it did for the string xxhash64).
    val occ = base.filter(size(col("tl")) >= SpanW)
      .withColumn("th", expr("transform(tl, t -> xxhash64(t))"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(tl) - $SpanW), i -> xxhash64(slice(th, i + 1, $SpanW)))")))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
    val dup = occ.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h")
    val dupOcc = occ.join(dup, "h").select("doc_id", "pos")
    val covered = dupOcc
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + $SpanW - 1)")).as("p"))
      .distinct()
    val tokpos = base.select(col("doc_id"), posexplode(col("tl")))
      .select(col("doc_id"), col("pos").as("p"), col("col").as("tok"))
    val kept = tokpos.join(covered, Seq("doc_id", "p"), "left_anti")
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("p"), col("tok")))),
        x => x.getField("tok"))).as("clean_text"))
    val spanCounts = dupOcc.groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
    base.select(col("doc_id"), size(col("tl")).cast("long").as("n_tokens"))
      .join(spanCounts, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  val spanRemovalOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, LIST_FILTER(regexp_split_to_array(text, '\\s+'), t -> LEN(t) > 0) AS tl
       |  FROM documents),
       |occ AS (
       |  SELECT doc_id, CAST(UNNEST(range(0, LEN(tl) - $SpanW + 1)) AS INT) AS pos, tl
       |  FROM base WHERE LEN(tl) >= $SpanW),
       |sh AS (
       |  SELECT doc_id, pos, array_to_string(tl[pos + 1 : pos + $SpanW], ' ') AS g FROM occ),
       |dup AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) >= 2),
       |dupocc AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup d USING (g)),
       |cov0 AS (SELECT doc_id, UNNEST(range(pos, pos + $SpanW)) AS p FROM dupocc),
       |cov AS (SELECT DISTINCT doc_id, p FROM cov0),
       |tokpos AS (
       |  SELECT doc_id, CAST(UNNEST(range(0, LEN(tl))) AS INT) AS p, tl FROM base),
       |tok AS (SELECT doc_id, p, tl[p + 1] AS tok FROM tokpos),
       |kept AS (
       |  SELECT t.doc_id, t.p, t.tok FROM tok t
       |  WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.p = t.p)),
       |rebuilt AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY p) AS clean_text
       |  FROM kept GROUP BY doc_id),
       |spans AS (SELECT doc_id, COUNT(*) AS n_dup_spans FROM dupocc GROUP BY doc_id)
       |SELECT b.doc_id, CAST(LEN(b.tl) AS BIGINT) AS n_tokens,
       |  COALESCE(s.n_dup_spans, 0) AS n_dup_spans,
       |  CAST(LEN(b.tl) AS BIGINT) - COALESCE(r.n_kept, 0) AS n_removed,
       |  COALESCE(r.clean_text, '') AS clean_text
       |FROM base b
       |LEFT JOIN spans s USING (doc_id)
       |LEFT JOIN rebuilt r USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------
  /** Directional n-gram CONTAINMENT (Broder's resemblance companion):
    * C(a→b) = |grams(a) ∩ grams(b)| / |grams(a)| — the asymmetric
    * signal Jaccard misses. A short doc quoted inside a long one has
    * low Jaccard (the union is big) but C(short→long) ≈ 1; pipelines
    * drop the CONTAINED side, not a random member. Runs on the same
    * linear verifier probe set as dedup_ngram_jaccard (consecutive-id
    * pairs): candidate generation at scale is the LSH machinery; the
    * verifier itself is what this entry certifies. Distinct 3-gram
    * sets via builtin transform/array_distinct/array_intersect (all
    * codegen'd, zero shuffle beyond the pair join); counts are exact
    * integers, ratios single IEEE divisions — hash-gated.
    */
  def containment(s: SparkSession, dir: String): DataFrame = {
    // slice-guard: Spark's sequence(0, n) DESCENDS when n < 0, so a
    // sub-3-token doc would fabricate grams — the outer slice to
    // greatest(size-2, 0) grams drops them (empty set, like the
    // oracle's empty range)
    val d = docs(s, dir).select(col("doc_id"),
      filter(split(col("text"), "\\s+"), t => length(t) > lit(0)).as("tl"))
      .select(col("doc_id"), array_distinct(expr(
        """slice(transform(sequence(0, greatest(size(tl) - 3, 0)),
          |  i -> concat_ws(' ', slice(tl, i + 1, 3))), 1, greatest(size(tl) - 2, 0))"""
          .stripMargin)).as("grams"))
    d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        size(col("a.grams")).cast("long").as("n_a"),
        size(col("b.grams")).cast("long").as("n_b"),
        size(array_intersect(col("a.grams"), col("b.grams"))).cast("long").as("n_inter"))
      .withColumn("cont_ab", col("n_inter").cast("double") / col("n_a"))
      .withColumn("cont_ba", col("n_inter").cast("double") / col("n_b"))
      .orderBy("id_a")
  }

  val containmentOracle: String =
    """WITH g AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(tl) - 2, 0) + 1),
      |    i -> tl[i] || ' ' || tl[i + 1] || ' ' || tl[i + 2])) AS grams
      |  FROM (SELECT doc_id,
      |          LIST_FILTER(regexp_split_to_array(text, '\s+'), t -> LEN(t) > 0) AS tl
      |        FROM documents))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(LEN(a.grams) AS BIGINT) AS n_a,
      |  CAST(LEN(b.grams) AS BIGINT) AS n_b,
      |  CAST(LEN(list_intersect(a.grams, b.grams)) AS BIGINT) AS n_inter,
      |  CAST(LEN(list_intersect(a.grams, b.grams)) AS DOUBLE) / LEN(a.grams) AS cont_ab,
      |  CAST(LEN(list_intersect(a.grams, b.grams)) AS DOUBLE) / LEN(b.grams) AS cont_ba
      |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
      |ORDER BY id_a""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("dedup_containment", containment, Some(containmentOracle)),
    Q("dedup_span_removal", spanRemoval, Some(spanRemovalOracle)),
    Q("dedup_pipeline", dedupPipeline, Some(pipelineOracle)),
    Q("dedup_incremental", incremental, Some(incrementalOracle)),
    Q("dedup_cc_clusters", ccClusters, Some(ccClustersOracle)),
    Q("dedup_cc_ann", ccAnn, Some(ccAnnOracle)),
    Q("dedup_exact", exact, Some(exactOracle)),
    Q("dedup_minhash_lsh", minhashLsh, Some(minhashLshOracle)),
    Q("dedup_simhash", simhash, Some(simhashOracle)),
    Q("dedup_ngram_jaccard", ngramJaccard, Some(ngramJaccardOracle)),
    Q("dedup_embedding", embedding, Some(embeddingOracle)),
    Q("dedup_embedding_ann", (s, d) => embeddingAnn(s, d), Some(embeddingAnnOracle)))
}
