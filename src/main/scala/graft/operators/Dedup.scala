package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Q
import graft.functions.Similarity
import graft.sources.Tables
import SessionLedger.memo

/** Deduplication family over `documents`/`embeddings` (BASELINE.json north
  * star): exact hash dedup, n-gram Jaccard, MinHash+LSH banding, SimHash,
  * and embedding-cosine near-dup.
  *
  * Scale design: the brute-force pair queries (q31/q34) are the
  * oracle-checkable ground truth at test scale; the production paths are the
  * sketch-based ones (q32 MinHash-LSH, q33 SimHash) whose candidate
  * generation is a bucket equi-join — shuffle on (band, hash), candidates
  * per bucket stay small, no O(n²) stage — and whose verification step only
  * ever touches the candidate set.
  *
  * Plan economy: the whole family works over ONE shared relation of hashed
  * shingles (`shingled`: (doc_id, h) with h = xxhash64 of the word-3-gram).
  * Working on 8-byte longs instead of ~30-byte shingle strings halves every
  * downstream shuffle and makes the sort-merge compares branchless; shingle
  * multiplicity per doc is carried by a tiny per-doc count relation that
  * broadcast-joins onto the pair aggregate instead of a window function over
  * the full exploded relation. Hash-as-shingle-identity is sound at any
  * realistic scale: for D distinct shingles the expected number of colliding
  * pairs is D²/2^65 (~3e-11 at sf0.1's 27k shingles; ~5 expected collisions
  * even at 10^10 shingles), each perturbing one `common` count by 1.
  */
object Dedup {

  /** Unpersist every memoized intermediate and checkpoint block of `spark`
    * (its table plans stay; see [[SessionLedger]]). Bench, Verify and the
    * spec teardowns call it between batches; it also runs when the
    * session's application ends. */
  def releaseCaches(spark: SparkSession): Unit = SessionLedger.release(spark)

  /** Exploded, hashed, per-doc-distinct shingle relation shared by the whole
    * family, carrying TWO identities per word-3-gram: `h` = xxhash64 (an
    * 8-byte long — the narrow join/shuffle key for the exact-pair paths; see
    * the collision bound in the object doc) and `x60` = the first 15 hex
    * nibbles of md5(shingle) as a 60-bit long — engine-portable (DuckDB:
    * `('0x' || substr(md5(shingle), 1, 15))::BIGINT`), so the sketch queries
    * built on it are reproducible in DuckDB SQL and fully oracle-checkable,
    * while every per-row sketch operation downstream (min-hash family,
    * simhash bit votes) is pure integer arithmetic — exactly ONE md5 is ever
    * computed per shingle. Columns prune at the cached-scan. Dedup happens
    * row-wise after explode: the distinct shuffle is narrow, and row-level
    * `array_distinct` over the HOF-produced shingle array measures 5× slower
    * (interpreted path) than this shape. Persisted + memoized: every sketch
    * query reads it from several join sides, so exactly one materialization
    * exists per (session, dir). Repartitioned first — the corpus arrives as
    * one small parquet file (one input split), which would otherwise
    * serialize everything downstream on a single task. */
  private def shingled(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "shingled") {
      // positions explode from a sequence and each 3-gram is concatenated
      // in the fused post-explode projection — the array-of-shingles
      // `transform` HOF this replaces is interpreted and materialized every
      // doc's full shingle array before the explode (same lesson as q108;
      // the memo build is the one place the whole sketch family pays it)
      Tables(spark, dir, "documents")
        .repartition(col("doc_id"))
        .withColumn("w", TextAnalysis.words(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(1), size(col("w")) - 2)).as("i"))
        .select(col("doc_id"), concat_ws(" ",
          element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1),
          element_at(col("w"), col("i") + 2)).as("shingle"))
        .select(col("doc_id"), xxhash64(col("shingle")).as("h"),
          graft.expressions.Md5Prefix.of(col("shingle").cast("binary"), 15)
            .as("x60"))
        .distinct()
    }

  /** The shared toks→shingles→exploded oracle CTE prefix mirrored by every
    * sketch oracle: per-doc distinct shingles with their count and md5
    * identity. Ends without a trailing comma. */
  private[operators] val shingleOracleCte: String =
    raw"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                   FOR i IN range(1, greatest(len(w) - 1, 1))]) AS shingles
       |  FROM toks),
       |exs AS (
       |  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle
       |  FROM sh WHERE len(shingles) > 0),
       |exm AS (
       |  SELECT doc_id, n_sh,
       |    ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS x60 FROM exs)""".stripMargin

  /** 2-universal min-hash family constants for q32: p = 2^31−1 (Mersenne),
    * (a_i, b_i) from a splitmix mixer — embedded as literals in both the
    * Spark plan and the oracle SQL. */
  private val MinHashP = 2147483647L
  private[operators] val minHashA: IndexedSeq[Long] =
    (0 until 16).map(i =>
      java.lang.Long.remainderUnsigned(graft.functions.Mix.splitmix(2L * i + 1), MinHashP - 1) + 1)
  private[operators] val minHashB: IndexedSeq[Long] =
    (0 until 16).map(i =>
      java.lang.Long.remainderUnsigned(graft.functions.Mix.splitmix(2L * i + 2), MinHashP))

  /** Per-doc distinct-shingle counts (the Jaccard denominators). Derived
    * from the cached shingle relation on demand — 1 row per doc, so it
    * broadcast-joins onto pair aggregates. */
  private def shingleCounts(spark: SparkSession, dir: String): DataFrame =
    shingled(spark, dir).groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))

  /** All-pairs exact word-3-gram Jaccard via shingle equi-join (no cross
    * join: only docs sharing a shingle ever meet).
    *
    * Skew guard: shingles appearing in more than `maxDocFreq` docs are
    * excluded from the pair join — a head shingle shared by d docs emits
    * d²/2 pair rows, the one quadratic term in this plan. The guard is an
    * anti-join against the HOT shingle set (at most |rows|/maxDocFreq
    * entries, so it broadcasts at any scale — unlike the complement "rare"
    * set, which grows with the corpus). Denominators keep the FULL distinct
    * shingle counts, so `jaccard` is then a lower bound for docs containing
    * hot shingles. At test scale (max df = 25 on sf0.1) the guard is a no-op
    * and the DuckDB oracle mirrors it verbatim.
    *
    * Persisted + memoized (MEMORY_AND_DISK): q31, q48, and q60 consume the
    * same relation; the round-1 GC-pressure concern was measured against
    * unmemoized per-call MEMORY_ONLY persists that stacked copies. The
    * persist holds only pairs at `minJaccard` ≥ 0.1 — every consumer
    * filters at 0.1 or higher, so caching the ~full pair aggregate (orders
    * of magnitude larger) would buy nothing (the round-2 bench regression
    * was exactly that). Callers needing a lower threshold pass it
    * explicitly and get their own memo entry. */
  def jaccardPairs(spark: SparkSession, dir: String, maxDocFreq: Int = 1000,
      minJaccard: Double = 0.1): DataFrame =
    memo(spark, dir, s"jaccardPairs:$maxDocFreq:$minJaccard") {
      val ex = shingled(spark, dir)
      val nsh = shingleCounts(spark, dir)
      val hot = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDocFreq).select(col("h"))
      // Explicit select, not positional toDF: a usingColumns join moves the
      // join key to the front of the output schema, so positional renames
      // after it silently swap columns.
      val exCapped = ex.join(hot, Seq("h"), "left_anti")
        .select(col("doc_id"), col("h"))
      val a = exCapped.select(col("doc_id").as("doc_a"), col("h"))
      val b = exCapped.select(col("doc_id").as("doc_b"), col("h").as("hb"))
      a.join(b, col("h") === col("hb") && col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("common"))
        // Denominator joins: nsh is one row per document (linear in corpus),
        // so no broadcast hint — AQE broadcasts it when it fits and falls
        // back to a keyed shuffle at scale, where force-broadcasting a
        // corpus-sized relation would blow the driver.
        .join(nsh.toDF("doc_a", "na"), "doc_a")
        .join(nsh.toDF("doc_b", "nb"), "doc_b")
        .withColumn("jaccard",
          col("common").cast("double") / (col("na") + col("nb") - col("common")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
          col("common"), col("jaccard"))
    }

  /** Min-label connected components over an undirected edge list — the
    * endpoint of near-dup detection: pairs → clusters → one survivor per
    * cluster. Label propagation to fixpoint: each vertex takes the min
    * label in its neighborhood; converges in O(diameter) rounds. The driver
    * loop only checks a changed-count per round (the data never leaves the
    * cluster); localCheckpoint truncates the growing lineage. At 100 TB
    * scale the same loop runs with edges pre-partitioned by src. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    // Edge checkpoint is SERIALIZED (MEMORY_AND_DISK_SER): the default
    // level stores deserialized row COPIES memory-first, and at the sf100
    // decade (1.5B symmetric edges) concurrent partition unrolls OOMed a
    // 28g heap inside MemoryStore.putIteratorAsValues. Serialized blocks
    // are ~4x smaller and evict/spill cleanly; each superstep streams the
    // edges once, so deserialization cost is the right trade at every
    // size. Label checkpoints stay default — they are node-grain (small).
    val sym = SessionLedger.tracked(
      edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .distinct(), StorageLevel.MEMORY_AND_DISK_SER)
    // Superseded iterates are dropped EAGERLY (SessionLedger.drop): each
    // round's checkpoint is only read by the next round, so live checkpoint
    // blocks stay O(1) instead of O(diameter) — the r15 concurrent-session
    // spec caught exactly these accumulating past releaseCaches. `sym` and
    // the FINAL iterate stay live (the returned plan reads the final
    // iterate) under the session ledger, freed by releaseCaches.
    var labels = SessionLedger.tracked(
      sym.select(col("src").as("doc_id")).distinct()
        .withColumn("label", col("doc_id")))
    var prevCp = labels
    var changed = 1L
    while (changed > 0) {
      val nbrMin = sym.join(labels.select(col("doc_id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
      val updated = SessionLedger.tracked(labels
        .join(nbrMin.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("new_label")))
      changed = updated.filter(col("new_label") < col("label")).count()
      SessionLedger.drop(prevCp)
      prevCp = updated
      labels = updated.select(col("doc_id"), col("new_label").as("label"))
    }
    SessionLedger.drop(sym) // only the loop reads the edge checkpoint
    labels.select(col("doc_id"), col("label").as("cluster_rep"))
  }

  /** Oracle mirror of `connectedComponents`: min-label components by
    * recursive reachability over the undirected pairs (`a`, `b`) of the
    * relation `pairs`, ending at `labeled(doc_id, cluster_rep)` without a
    * trailing comma. The query needs `WITH RECURSIVE`. */
  private[operators] def componentsOracleCte(pairs: String, a: String, b: String): String =
    s"""edges AS (
       |  SELECT $a AS src, $b AS dst FROM $pairs
       |  UNION
       |  SELECT $b, $a FROM $pairs),
       |nodes AS (SELECT DISTINCT src AS doc FROM edges),
       |reach(doc, r) AS (
       |  SELECT doc, doc FROM nodes
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.doc),
       |labeled AS (
       |  SELECT doc AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY doc)""".stripMargin

  /** `labels` plus `cluster_size`, the number of rows sharing its
    * `cluster_rep`. */
  private[operators] def withClusterSize(labels: DataFrame): DataFrame =
    labels.withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster_rep"))))

  /** Oracle mirror of `jaccardPairs` at `threshold` over the shared
    * shingle CTEs (q31, q48, q60, q92), ending at `pairs`. */
  private[graft] def jaccardPairsOracle(threshold: Double): String =
    s"""$shingleOracleCte,
       |rare AS (
       |  SELECT shingle FROM exs GROUP BY shingle HAVING COUNT(*) <= 1000),
       |exr AS (
       |  SELECT exs.doc_id, exs.n_sh, exs.shingle FROM exs JOIN rare USING (shingle)),
       |pairs_all AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
       |         COUNT(*) AS common
       |  FROM exr a JOIN exr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |pairs AS (
       |  SELECT doc_a, doc_b, common,
       |    CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
       |  FROM pairs_all
       |  WHERE CAST(common AS DOUBLE) / (na + nb - common) >= $threshold)""".stripMargin

  /** Memoized component labels for the Jaccard ≥ 0.5 edge set — q48 and q60
    * both consume them, and the label-propagation loop is multiple Spark
    * jobs, so one materialization per (session, dir) matters. */
  private def clusters05(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "clusters05") {
      val edges = jaccardPairs(spark, dir).filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"))
      connectedComponents(edges)
    }

  /** Oracle mirror of `clusters05`, ending at `labeled`. */
  private val clusters05Oracle: String =
    s"${jaccardPairsOracle(0.5)},\n${componentsOracleCte("pairs", "doc_a", "doc_b")}"

  /** q48 — near-dup clustering: Jaccard ≥ 0.5 pairs → connected components
    * → (doc, cluster representative, cluster size). Oracle computes the same
    * min-label components with a recursive CTE. */
  val q48DedupClusters: Q = Q(
    "q48_dedup_clusters",
    (s, dir) => withClusterSize(clusters05(s, dir)),
    Some(s"""WITH RECURSIVE $clusters05Oracle
       |SELECT doc_id, cluster_rep,
       |  CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
       |FROM labeled""".stripMargin),
    anchor = true)

  /** q30 — exact dedup: md5-hash groupBy, min-doc survivor, cluster size
    * (the A7 distinct dedup generalized to content hashing). */
  val q30ExactDedup: Q = Q(
    "q30_dedup_exact",
    (s, dir) => Tables(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(
        min(col("doc_id")).as("survivor_doc"),
        count(lit(1)).as("cluster_size"),
        (count(lit(1)) - 1).as("dups_removed")),
    Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS survivor_doc,
      |  COUNT(*) AS cluster_size, COUNT(*) - 1 AS dups_removed
      |FROM documents GROUP BY 1""".stripMargin))

  /** q31 — n-gram Jaccard near-dup pairs (exact, oracle-checkable ground
    * truth for the sketch paths). */
  val q31NgramJaccard: Q = Q(
    "q31_dedup_ngram_jaccard",
    (s, dir) => jaccardPairs(s, dir)
      .filter(col("jaccard") >= 0.1)
      .select(col("doc_a"), col("doc_b"), col("common"), col("jaccard")),
    Some(s"""WITH ${jaccardPairsOracle(0.1)}
      |SELECT doc_a, doc_b, common, jaccard FROM pairs""".stripMargin),
    anchor = true)

  /** q32 — MinHash + LSH banding: 16 min-hashes per doc, 4 bands × 4 rows;
    * docs sharing any band hash become candidates; exact Jaccard then
    * verifies THE CANDIDATES ONLY — both the estimate and the exact `jaccard`
    * column are computed from the candidate set joined back to the shingle
    * relation, so no stage of this plan enumerates all pairs.
    *
    * Hash family is PORTABLE and pure integer arithmetic: min-hash i =
    * MIN((a_i·(x60 mod p) + b_i) mod p) with p = 2^31−1 and literal
    * (a_i, b_i) constants shared with the oracle SQL — a classic
    * 2-universal family over the portable 60-bit shingle identity, so the
    * whole query — candidates, estimate, exact verify — is reproducible in
    * DuckDB SQL and fully hash-checked, at the cost of ONE md5 per shingle
    * (paid once in the shared relation) instead of one per (seed, shingle).
    * a_i·xm < 2^62 keeps every product inside signed-64 range in both
    * engines. Band keys are the ':'-joined decimal row signatures. */
  private val LshNumHashes = 16
  private val LshBandsN = 4

  /** The MinHash-LSH oracle chain (signatures → banding → candidates →
    * exact Jaccard on candidates), mirrored verbatim by q32 and q113 —
    * assumes `shingleOracleCte` precedes it; ends at `verified` without a
    * trailing comma. */
  private[operators] def lshOracleCte: String = {
    val mhDefs = (0 until LshNumHashes)
      .map(i => s"    min(((x60 % ${MinHashP}) * ${minHashA(i)} + ${minHashB(i)}) % ${MinHashP}) AS mh$i")
      .mkString(",\n")
    val bandDefs = (0 until LshBandsN)
      .map(b => (0 until LshNumHashes / LshBandsN).map(r => s"CAST(mh${b * 4 + r} AS VARCHAR)")
        .mkString(" || ':' || "))
      .mkString("[", ", ", "]")
    s"""sig AS (
       |  SELECT doc_id,
       |$mhDefs
       |  FROM exm GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id,
       |    unnest([0, 1, 2, 3]) AS band_idx,
       |    unnest($bandDefs) AS band_hash
       |  FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |nsh AS (SELECT DISTINCT doc_id, n_sh FROM exm),
       |common AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS common
       |  FROM cand c
       |  JOIN exm a ON a.doc_id = c.doc_a
       |  JOIN exm b ON b.doc_id = c.doc_b AND b.x60 = a.x60
       |  GROUP BY 1, 2),
       |verified AS (
       |  SELECT doc_a, doc_b,
       |    CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common) AS jaccard
       |  FROM common
       |  JOIN nsh na ON na.doc_id = common.doc_a
       |  JOIN nsh nb ON nb.doc_id = common.doc_b)""".stripMargin
  }

  /** Memoized MinHash signatures (16 hashes over the portable 60-bit
    * shingle identity) — the sketch behind q32's reporting pair set AND
    * q113's production survivorship chain; referenced from several join
    * sides, so one materialization per (session, dir). */
  private def minhashSig(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "minhashSig") {
      val xm = col("x60") % MinHashP
      shingled(s, dir).groupBy(col("doc_id")).agg(
        min((xm * minHashA(0) + minHashB(0)) % MinHashP).as("mh0"),
        (1 until LshNumHashes).map(i =>
          min((xm * minHashA(i) + minHashB(i)) % MinHashP).as(s"mh$i")): _*)
    }

  /** LSH candidate pairs: 4 bands × 4 rows; docs sharing any band hash
    * become candidates via a (band_idx, band_hash) equi-join — bucketed,
    * never all-pairs. */
  private def lshCandidates(s: SparkSession, dir: String): DataFrame = {
    val rows = LshNumHashes / LshBandsN
    val sig = minhashSig(s, dir)
    val bandCols = (0 until LshBandsN).map { b =>
      concat_ws(":", (0 until rows).map(r => col(s"mh${b * rows + r}").cast("string")): _*)
        .as(s"band$b")
    }
    val banded = sig.select((col("doc_id") +: bandCols): _*)
    val exploded = banded.select(col("doc_id"),
      posexplode(array((0 until LshBandsN).map(b => col(s"band$b")): _*)).as(Seq("band_idx", "band_hash")))
    val ca = exploded.toDF("doc_a", "band_idx", "band_hash")
    val cb = exploded.toDF("doc_b", "band_idx_b", "band_hash_b")
    ca.join(cb,
        col("band_idx") === col("band_idx_b") &&
        col("band_hash") === col("band_hash_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** EXACT Jaccard computed ON THE CANDIDATE SET ONLY: each LSH candidate
    * pair joined back to the shingle relation on both doc ids, shared
    * shingles counted via the narrow long identity `h`. The candidate set
    * ≪ all pairs, so the join is (small candidates) ⋈ (linear shingle
    * relation) — broadcastable at test scale, a keyed shuffle at 100 TB;
    * no stage anywhere in this chain enumerates all pairs. Memoized +
    * persisted: q32 (reporting) and q113 (survivorship) both consume it. */
  private def lshVerified(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "lshVerified") {
      val ex = shingled(s, dir)
      val nsh = shingleCounts(s, dir)
      val ea = ex.select(col("doc_id").as("doc_a"), col("h"))
      val eb = ex.select(col("doc_id").as("doc_b"), col("h"))
      lshCandidates(s, dir)
        .join(ea, Seq("doc_a"))
        .join(eb, Seq("doc_b", "h"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("common"))
        .join(nsh.toDF("doc_a", "na"), "doc_a") // linear-size: AQE decides
        .join(nsh.toDF("doc_b", "nb"), "doc_b")
        .withColumn("jaccard",
          col("common").cast("double") / (col("na") + col("nb") - col("common")))
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    }

  val q32MinHashLsh: Q = Q(
    "q32_dedup_minhash_lsh",
    (s, dir) => {
      val sig = minhashSig(s, dir)
      val candidates = lshCandidates(s, dir)
      // est_jaccard from the full signatures
      val sa = sig.toDF(("doc_a" +: (0 until LshNumHashes).map(i => s"a$i")): _*)
      val sb = sig.toDF(("doc_b" +: (0 until LshNumHashes).map(i => s"b$i")): _*)
      val est = candidates.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("est_jaccard",
          (0 until LshNumHashes).map(i =>
            when(col(s"a$i") === col(s"b$i"), 1.0).otherwise(0.0))
            .reduce(_ + _) / LshNumHashes)
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      est.join(lshVerified(s, dir), Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
          coalesce(col("jaccard"), lit(0.0)).as("jaccard"))
    },
    Some {
      val estSum = (0 until LshNumHashes)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1.0 ELSE 0.0 END")
        .mkString(" + ")
      s"""WITH $shingleOracleCte,
         |$lshOracleCte,
         |est AS (
         |  SELECT doc_a, doc_b, ($estSum) / $LshNumHashes AS est_jaccard
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = cand.doc_a
         |  JOIN sig sb ON sb.doc_id = cand.doc_b)
         |SELECT e.doc_a, e.doc_b, e.est_jaccard, COALESCE(v.jaccard, 0.0) AS jaccard
         |FROM est e LEFT JOIN verified v
         |  ON v.doc_a = e.doc_a AND v.doc_b = e.doc_b""".stripMargin
    })

  /** Memoized 60-bit SimHash signatures (±1 bit votes over the portable
    * shingle identity, ONE shuffle), shared by q33 and q79. */
  private def simhashSig(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "simhashSig") {
      val bits = 60
      val votes = shingled(s, dir).groupBy(col("doc_id")).agg(
        sum(when(shiftright(col("x60"), 0).bitwiseAND(1) === 1, 1).otherwise(-1)).as("v0"),
        (1 until bits).map(b =>
          sum(when(shiftright(col("x60"), b).bitwiseAND(1) === 1, 1)
            .otherwise(-1)).as(s"v$b")): _*)
      votes.select(col("doc_id"),
        (0 until bits).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    }

  /** Banded SimHash pair search: pigeonhole-complete for hamming ≤
    * (bands−1); candidates from the (band, bits) equi-join, exact hamming
    * verify on candidates only. */
  private def simhashPairs(sim: DataFrame, widths: Seq[Int], maxHamming: Int): DataFrame = {
    require(widths.length > maxHamming, "pigeonhole: need bands > maxHamming")
    val offsets = widths.scanLeft(0)(_ + _).init
    val bandCols = widths.indices.map { b =>
      shiftright(col("simhash"), offsets(b)).bitwiseAND(lit((1L << widths(b)) - 1))
    }
    val banded = sim.select(col("doc_id"), col("simhash"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_bits")))
    val ca = banded.toDF("doc_a", "sim_a", "band_idx", "band_bits")
    val cb = banded.toDF("doc_b", "sim_b", "band_idx_b", "band_bits_b")
    ca.join(cb,
        col("band_idx") === col("band_idx_b") &&
        col("band_bits") === col("band_bits_b") &&
        col("doc_a") < col("doc_b"))
      // hamming BEFORE distinct: the radius test is per-row computable, so
      // filtering in the join stage means the distinct shuffle carries only
      // radius-passing pairs instead of every band collision (the same
      // shrink-before-shuffle rule as lshPairs — ARCHITECTURE rule 8)
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"),
        col("hamming").cast("long").as("hamming"))
      .distinct()
  }

  /** Oracle for `simhashPairs` at radius `maxHamming`: the same
    * signatures in SQL, then the exact all-pairs hamming join (fine for
    * DuckDB at the gate SFs; banded pigeonhole-complete candidates give
    * exactly these pairs). */
  private def simhashOracle(maxHamming: Int): String = {
    val bits = 60
    val voteDefs = (0 until bits).map { b =>
      s"    SUM(CASE WHEN (x60 >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n")
    val simSum = (0 until bits)
      .map(b => s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH $shingleOracleCte,
       |votes AS (
       |  SELECT doc_id,
       |$voteDefs
       |  FROM exm GROUP BY doc_id),
       |sim AS (SELECT doc_id, $simSum AS simhash FROM votes)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  a.simhash AS sim_a, b.simhash AS sim_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming""".stripMargin
  }

  /** q33 — SimHash: 60-bit signature from per-shingle hash bit votes;
    * near-dup pairs = hamming distance ≤ 10 (random docs sit near hamming 30,
    * so ≤10 isolates true near-dups). Features are 3-gram shingles, not
    * words: the synthetic vocabulary is tiny, so word SETS are nearly
    * identical across all docs and carry no signal, while shingles are
    * near-unique per doc.
    *
    * The per-shingle hash is PORTABLE: the shared relation's `x60` identity
    * (60 md5-derived bits as a long) supplies the bit votes via plain
    * integer shift/mask in BOTH engines, so signatures — and therefore the
    * whole pair set — are reproducible in DuckDB SQL: q33 is fully
    * hash-checked, not rows-only.
    *
    * Candidate generation is BANDED, not all-pairs: the signature splits
    * into 11 disjoint bands (5×6 bits + 6×5 bits). Pigeonhole: a pair at
    * hamming ≤ 10 differs in at most 10 bit positions, so at least one band
    * is bit-identical — the (band_idx, band_bits) equi-join has perfect
    * recall for the ≤10 threshold, and the hamming filter on candidates
    * removes false positives; the banded result is therefore EXACTLY the
    * all-pairs-filter result, which is what the oracle computes (all-pairs
    * is fine for DuckDB at sf0.01; the Spark plan has no cartesian stage).
    * At 100 TB you widen the signature (several longs) so each band carries
    * 11+ bits and bucket sizes stay sub-linear; the plan shape is identical. */
  val q33SimHash: Q = Q(
    "q33_dedup_simhash",
    (s, dir) =>
      // 11 disjoint bands over the 60 bits — complete for hamming ≤ 10.
      // High-recall RESEARCH radius: 5-6 bit band domains collide heavily
      // as the corpus grows (signature-warm band join 25.4 s at a 40k-doc
      // corpus vs ~1 s at 5k), so this variant is for bounded corpora; q79
      // is the production radius whose candidates stay collision-linear.
      simhashPairs(simhashSig(s, dir), Seq(6, 6, 6, 6, 6, 5, 5, 5, 5, 5, 5), 10),
    Some(simhashOracle(10)),
    anchor = true)

  /** q79 — SimHash at the PRODUCTION radius: hamming ≤ 4 via 5 bands of
    * 12 bits (pigeonhole-complete for ≤ 4). The 4096-value band domains
    * keep bucket sizes — hence candidate pairs — collision-linear in corpus
    * size, where q33's research radius (11 bands of 5-6 bits, 32-64 value
    * domains) goes quadratic once buckets saturate: signature-warm band
    * join measured 1.0 s vs 25.4 s on an 8× (40k-doc) corpus at local[4].
    * Shares q33's memoized
    * signature relation; the oracle is the same exact n² hamming join with
    * the tighter radius. */
  val q79SimHashScale: Q = Q(
    "q79_simhash_scale",
    (s, dir) => simhashPairs(simhashSig(s, dir), Seq(12, 12, 12, 12, 12), 4),
    Some(simhashOracle(4)))

  /** q34 — embedding-cosine near-dup pairs (brute force at test scale; the
    * LSH-bucketed scale paths are q36 top-k and q38 pairs). Sequential-fold
    * double arithmetic matches DuckDB's list_dot_product bitwise. */
  val q34EmbeddingDups: Q = Q(
    "q34_dedup_embedding",
    (s, dir) => {
      // Norms precomputed once per row; the non-equi pair join leaves the
      // single-file input unpartitioned, so spread the probe side first.
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("emb"))
        .withColumn("nrm", Similarity.norm(col("emb")))
      val a = e.repartition(col("vec_id")).toDF("vec_a", "emb_a", "nrm_a")
      val b = e.toDF("vec_b", "emb_b", "nrm_b")
      a.join(b, col("vec_a") < col("vec_b"))
        .withColumn("cosine",
          Similarity.cosinePre(Similarity.dot(col("emb_a"), col("emb_b")),
            col("nrm_a"), col("nrm_b")))
        .filter(col("cosine") >= 0.35)
        .select(col("vec_a"), col("vec_b"), col("cosine"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  list_dot_product(a.emb, b.emb) /
      |    (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.emb, b.emb) /
      |    (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.35""".stripMargin),
    anchor = true)

  /** Per-doc quality scores — q24's exact double expression (length /
    * diversity / stopword blend, `TextAnalysis.qualityExpr`), shared by the
    * survivorship queries (q60, q113). */
  private def qualityScores(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("w", TextAnalysis.words(col("text")))
      .withColumn("word_count", size(col("w")).cast("long"))
      .select(col("doc_id"),
        TextAnalysis.qualityExpr(col("w"), col("word_count")).as("quality_score"))

  /** Survivorship over component `labels` (doc_id, cluster_rep): every
    * document, singletons as their own cluster, resolved to ONE kept
    * document per cluster by quality score (q24's formula), ties pinned to
    * the lowest doc_id. Survivor selection is a per-cluster window
    * (`first_value` ordered by quality desc, doc_id asc) — both engines
    * order the bitwise-identical doubles identically, so the result is
    * hash-checked. Shared by q60 and q113. */
  private def survivors(labels: DataFrame, s: SparkSession, dir: String): DataFrame = {
    val labeled = qualityScores(s, dir).join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"), col("doc_id")))
    val win = Window.partitionBy(col("cluster_rep"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    withClusterSize(labeled
        .withColumn("survivor_doc", first(col("doc_id")).over(win))
        .withColumn("is_survivor", col("doc_id") === col("survivor_doc")))
      .select(col("doc_id"), col("cluster_rep"), col("survivor_doc"),
        col("is_survivor"), col("cluster_size"))
  }

  /** Oracle mirror of `survivors`; follows a `labeled(doc_id, cluster_rep)`
    * CTE and ends the query. */
  private val survivorsOracle: String =
    s"""qual AS (
       |${TextAnalysis.qualityOracle(TextAnalysis.docWordsOracle)}),
       |fullc AS (
       |  SELECT q.doc_id, COALESCE(l.cluster_rep, q.doc_id) AS cluster_rep,
       |         q.quality_score
       |  FROM qual q LEFT JOIN labeled l ON l.doc_id = q.doc_id)
       |SELECT doc_id, cluster_rep,
       |  FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_rep
       |    ORDER BY quality_score DESC, doc_id ASC) AS survivor_doc,
       |  doc_id = FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_rep
       |    ORDER BY quality_score DESC, doc_id ASC) AS is_survivor,
       |  COUNT(*) OVER (PARTITION BY cluster_rep) AS cluster_size
       |FROM fullc""".stripMargin

  /** q60 — dedup SURVIVORSHIP: the endpoint a training-data pipeline
    * actually ships — near-dup clusters (q48's label-propagation components
    * over Jaccard ≥ 0.5 pairs) resolved to one kept document per cluster
    * (`survivors`). Scale: quality is per-row, the window partitions by
    * cluster (cluster sizes are near-dup group sizes — small by
    * construction), and the component loop is q48's O(diameter) rounds. */
  val q60DedupSurvivors: Q = Q(
    "q60_dedup_survivors",
    (s, dir) => survivors(clusters05(s, dir), s, dir),
    Some(s"""WITH RECURSIVE $clusters05Oracle,
       |$survivorsOracle""".stripMargin),
    anchor = true)

  /** q113 — dedup survivorship, PRODUCTION FORM: the text-side mirror of
    * the embedding family's q34 (anchor) → q110/q111 (production) split.
    * Where q60 resolves survivors over the EXACT all-pairs Jaccard edge
    * set (inherited from anchor q31 — Σ C(df,2) growth, 1.2B joined rows
    * at sf10), this is the composition a training-data pipeline actually
    * runs at 100 TB: MinHash-LSH banding generates candidates (bucketed
    * equi-join, never all-pairs), exact Jaccard verifies THE CANDIDATES
    * ONLY, Jaccard ≥ 0.5 survivors-of-verification become the edge set,
    * min-label connected components cluster, and q60's quality window
    * picks one survivor per cluster (ties pinned to lowest doc_id). Every
    * stage is the already-proven scale shape; the only difference from
    * q60 is recall — pairs the 4×4 banding misses (P[candidate] =
    * 1−(1−j⁴)⁴) stay unclustered, which is the accepted trade the sketch
    * exists to make. The oracle chains q32's banding/verification CTEs
    * into q48's min-reachability components and q60's survivor SQL, so
    * the full composition is hash-checked end to end. */
  val q113DedupSurvivorsLsh: Q = Q(
    "q113_dedup_survivors_lsh",
    (s, dir) => survivors(memo(s, dir, "lshClusters05") {
        connectedComponents(lshVerified(s, dir).filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b")))
      }, s, dir),
    Some(s"""WITH RECURSIVE $shingleOracleCte,
       |$lshOracleCte,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
       |${componentsOracleCte("pairs", "doc_a", "doc_b")},
       |$survivorsOracle""".stripMargin))

  /** q61 — benchmark CONTAMINATION detection (train/test decontamination):
    * for every training document, the fraction of its distinct 3-gram
    * shingles that appear anywhere in the "benchmark" set (stand-in here:
    * docs with doc_id ≡ 0 mod 100, the held-out suite a real pipeline
    * would load as its own table). Asymmetric containment — NOT symmetric
    * Jaccard — because a short benchmark prompt embedded in a long training
    * doc must still flag, which a Jaccard threshold misses.
    *
    * Scale: the benchmark shingle set is tiny relative to the corpus
    * (benchmark suites are fixed-size), so the hit join broadcasts at real
    * scale and the only corpus-wide movement is the per-doc aggregate —
    * linear, no pair enumeration anywhere. */
  val q61Contamination: Q = Q(
    "q61_contamination",
    (s, dir) => {
      val sh = shingled(s, dir)
      val benchShingles = sh.filter(col("doc_id") % 100 === 0)
        .select(col("h")).distinct().withColumn("hit", lit(1))
      sh.filter(col("doc_id") % 100 =!= 0)
        .join(benchShingles, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_sh"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(col("doc_id"), col("n_sh"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_sh")).as("overlap_frac"),
          (col("n_hit").cast("double") / col("n_sh") >= 0.5).as("contaminated"))
    },
    Some(s"""WITH $shingleOracleCte,
       |bench AS (
       |  SELECT DISTINCT shingle FROM exs WHERE doc_id % 100 = 0),
       |hits AS (
       |  SELECT e.doc_id, COUNT(*) AS n_sh,
       |    CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM exs e LEFT JOIN bench b ON b.shingle = e.shingle
       |  WHERE e.doc_id % 100 <> 0
       |  GROUP BY e.doc_id)
       |SELECT doc_id, n_sh, n_hit,
       |  CAST(n_hit AS DOUBLE) / n_sh AS overlap_frac,
       |  CAST(n_hit AS DOUBLE) / n_sh >= 0.5 AS contaminated
       |FROM hits""".stripMargin))

  /** q67 — the END-TO-END curation pipeline a training corpus runs through:
    * language gate (q22's marker vote) → quality gate (q24's score) → exact
    * -dedup keeper (q23's normalized fingerprint, global-min canonical) →
    * benchmark decontamination (q61's shingle containment). Every doc gets
    * an audit verdict: the FIRST failing gate as drop_reason, or kept=true.
    *
    * This is the composition test: four independent signal relations over
    * the same pruned documents source, each shuffling on its own key (word for the
    * lexicon vote, fingerprint for the keeper, shingle for contamination),
    * joined back on doc_id at the end. At 100 TB each stage is the already
    * -proven scale shape (broadcast lexicon, hash-agg keeper, bucketed
    * shingle join) and the final doc_id joins co-partition; keeper choice is
    * the GLOBAL min doc_id per fingerprint (well-defined independent of the
    * other gates — survivor-aware keepers are q60's variant). Short docs
    * (<3 words, no shingles) are uncontaminated by definition. */
  val q67CurationPipeline: Q = Q(
    "q67_curation_pipeline",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      // language vote (q22 shape: broadcast lexicon, per-doc argmax)
      val lex = TextAnalysis.langLexicon.toDF("cand_lang", "word")
      val lang = docs
        .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("word"))
        .join(broadcast(lex), Seq("word"))
        .groupBy(col("doc_id"), col("cand_lang"))
        .agg(count(lit(1)).as("matches"))
        .groupBy(col("doc_id"))
        .agg(min(struct(negate(col("matches")).as("neg"), col("cand_lang").as("lang"))).as("top"))
        .select(col("doc_id"), col("top.lang").as("pred_lang"))
      // quality score (q24's exact double expression, shared qualityExpr)
      // FUSED with the exact-dedup fingerprint into ONE corpus scan
      // (optimization r18): both are per-row projections of the same
      // documents row, and the old separate qual/fpKeeper/spine relations
      // cost three scans where one does (same values, same IEEE tree —
      // the shared qualityExpr — so the oracle hash is unchanged).
      // Window-min over the fp partition: ONE shuffle, no corpus-sized
      // broadcast — the keeper relation is as big as the corpus at scale.
      val keeperW = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      val qualFp = docs
        .withColumn("w", TextAnalysis.words(col("text")))
        .withColumn("word_count", size(col("w")).cast("long"))
        .select(col("doc_id"),
          TextAnalysis.qualityExpr(col("w"), col("word_count")).as("quality_score"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ").cast("binary")).as("fp"))
        .withColumn("keeper_id", min(col("doc_id")).over(keeperW))
      // contamination vs the doc_id%100=0 benchmark slice (q61 shape)
      val sh = shingled(s, dir)
      val benchShingles = sh.filter(col("doc_id") % 100 === 0)
        .select(col("h")).distinct().withColumn("hit", lit(1))
      val contam = sh.filter(col("doc_id") % 100 =!= 0)
        .join(benchShingles, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)) >= 0.5)
          .as("contam"))
      // qualFp is 1:1 with documents, so it IS the spine (the old
      // docs.select(doc_id) spine + inner joins to qual and fpKeeper
      // produced exactly this row set — two scans and two joins more).
      val verdict = qualFp
        .select(col("doc_id"), col("quality_score"), col("keeper_id"))
        .join(lang, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("pred_lang"), lit("und")).as("predicted_lang"),
          col("quality_score"),
          (col("doc_id") === col("keeper_id")).as("is_keeper"),
          coalesce(col("contam"), lit(false)).as("contaminated"))
      verdict.select(col("doc_id"), col("predicted_lang"), col("quality_score"),
        col("is_keeper"), col("contaminated"),
        when(col("doc_id") % 100 === 0, "benchmark")
          .when(col("predicted_lang") === "und", "language")
          .when(col("quality_score") < 0.55, "quality")
          .when(!col("is_keeper"), "duplicate")
          .when(col("contaminated"), "contaminated")
          .as("drop_reason"))
        .withColumn("kept", col("drop_reason").isNull)
    },
    Some(s"""WITH $shingleOracleCte,
      |lex(cand_lang, word) AS (VALUES
      |  ('en','the'),('en','a'),('en','of'),
      |  ('sqlish','query'),('sqlish','table'),('sqlish','scan'),('sqlish','join'),
      |  ('streamish','stream'),('streamish','window'),('streamish','batch')),
      |exploded AS (SELECT doc_id, unnest(w) AS word FROM toks),
      |votes AS (
      |  SELECT doc_id, cand_lang, COUNT(*) AS matches
      |  FROM exploded JOIN lex USING (word) GROUP BY 1, 2),
      |best AS (
      |  SELECT doc_id, cand_lang AS pred_lang
      |  FROM (SELECT doc_id, cand_lang,
      |          ROW_NUMBER() OVER (PARTITION BY doc_id
      |                             ORDER BY matches DESC, cand_lang ASC) AS rn
      |        FROM votes) r WHERE rn = 1),
      |qual AS (
      |${TextAnalysis.qualityOracle("toks")}),
      |fp AS (
      |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      |  FROM documents),
      |keeper AS (SELECT fp, MIN(doc_id) AS keeper_id FROM fp GROUP BY 1),
      |bench AS (SELECT DISTINCT shingle FROM exs WHERE doc_id % 100 = 0),
      |contam AS (
      |  SELECT e.doc_id,
      |    CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |      / COUNT(*) >= 0.5 AS contam
      |  FROM exs e LEFT JOIN bench b ON b.shingle = e.shingle
      |  WHERE e.doc_id % 100 <> 0 GROUP BY e.doc_id),
      |verdict AS (
      |  SELECT d.doc_id,
      |    COALESCE(best.pred_lang, 'und') AS predicted_lang,
      |    qual.quality_score,
      |    d.doc_id = k.keeper_id AS is_keeper,
      |    COALESCE(contam.contam, FALSE) AS contaminated
      |  FROM documents d
      |  LEFT JOIN best ON best.doc_id = d.doc_id
      |  JOIN qual ON qual.doc_id = d.doc_id
      |  JOIN fp ON fp.doc_id = d.doc_id
      |  JOIN keeper k ON k.fp = fp.fp
      |  LEFT JOIN contam ON contam.doc_id = d.doc_id)
      |SELECT doc_id, predicted_lang, quality_score, is_keeper, contaminated,
      |  drop_reason, drop_reason IS NULL AS kept
      |FROM (
      |  SELECT *,
      |    CASE WHEN doc_id % 100 = 0 THEN 'benchmark'
      |         WHEN predicted_lang = 'und' THEN 'language'
      |         WHEN quality_score < 0.55 THEN 'quality'
      |         WHEN NOT is_keeper THEN 'duplicate'
      |         WHEN contaminated THEN 'contaminated'
      |         ELSE NULL END AS drop_reason
      |  FROM verdict) v""".stripMargin))

  /** q86 — duplicated-span fraction (the per-doc signal behind exact
    * substring dedup, Lee et al. 2021's "Deduplicating Training Data"): for
    * each document, the fraction of its distinct 3-gram spans that occur in
    * at least one OTHER place in the corpus. q61's containment shape turned
    * corpus-internal: same shared shingle relation, document frequencies
    * instead of a benchmark probe set. Linear — one df aggregate on the
    * span key, one per-doc aggregate, no pair enumeration; at 100 TB both
    * shuffles are on already-hashed longs. A doc with df≥2 on most of its
    * spans is a copy-heavy doc even when no single whole-doc duplicate
    * exists — the case q30/q31 miss. */
  val q86SpanDupes: Q = Q(
    "q86_span_dupes",
    (s, dir) => {
      // df on the PORTABLE span identity (x60) — the oracle computes the
      // same counts on the same key, so no cross-hash collision asymmetry.
      val sh = shingled(s, dir)
      val docFreq = sh.groupBy(col("x60")).agg(count(lit(1)).as("df"))
      sh.join(docFreq, Seq("x60"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_spans"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_spans"))
        .select(col("doc_id"), col("n_spans"), col("dup_spans"),
          (col("dup_spans").cast("double") / col("n_spans")).as("dup_frac"),
          (col("dup_spans").cast("double") / col("n_spans") >= 0.5).as("copy_heavy"))
    },
    Some(s"""WITH $shingleOracleCte,
       |sdf AS (SELECT x60, COUNT(*) AS df FROM exm GROUP BY 1),
       |per AS (
       |  SELECT e.doc_id, COUNT(*) AS n_spans,
       |    CAST(SUM(CASE WHEN sdf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans
       |  FROM exm e JOIN sdf USING (x60) GROUP BY 1)
       |SELECT doc_id, n_spans, dup_spans,
       |  CAST(dup_spans AS DOUBLE) / n_spans AS dup_frac,
       |  CAST(dup_spans AS DOUBLE) / n_spans >= 0.5 AS copy_heavy
       |FROM per""".stripMargin))

  /** q92 — cross-source duplication matrix: near-dup pair counts (Jaccard
    * ≥ 0.5, q48's edge set from the shared memo) rolled up by unordered
    * source-domain pair — the "which domains copy from each other"
    * provenance diagnostic that decides which source to drop when dedup
    * keeps one copy. Two broadcast-sized joins (doc→source is corpus-sized:
    * AQE picks shuffle vs broadcast) and one aggregate at domain-pair grain
    * (≤ |domains|² rows — tiny at any corpus scale).
    *
    * ANCHOR: the edge set is jaccardPairs — the EXACT all-pairs ground
    * truth (Σ C(df,2) growth; ~12B joined rows at sf100, where a solo
    * dump run exhausted this box's shuffle disk). Same inheritance and
    * same tagging rationale as q48/q60; the production composition would
    * roll the identical matrix over `lshVerified` (q32/q113's bucketed
    * candidate chain), whose every stage is proven to sf100 elsewhere. */
  val q92CrossSourceDups: Q = Q(
    "q92_crosssource_dups",
    (s, dir) => {
      val src = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
      jaccardPairs(s, dir).filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"))
        .join(src.toDF("doc_a", "source_a"), "doc_a")
        .join(src.toDF("doc_b", "source_b"), "doc_b")
        .select(
          least(col("source_a"), col("source_b")).as("src_lo"),
          greatest(col("source_a"), col("source_b")).as("src_hi"))
        .groupBy(col("src_lo"), col("src_hi"))
        .agg(count(lit(1)).as("dup_pairs"))
    },
    Some(s"""WITH ${jaccardPairsOracle(0.5)},
       |lab AS (
       |  SELECT least(sa.source, sb.source) AS src_lo,
       |         greatest(sa.source, sb.source) AS src_hi
       |  FROM pairs
       |  JOIN documents sa ON sa.doc_id = pairs.doc_a
       |  JOIN documents sb ON sb.doc_id = pairs.doc_b)
       |SELECT src_lo, src_hi, COUNT(*) AS dup_pairs
       |FROM lab GROUP BY src_lo, src_hi""".stripMargin),
    anchor = true)

  val all: Seq[Q] = Seq(q30ExactDedup, q31NgramJaccard, q32MinHashLsh, q33SimHash,
    q34EmbeddingDups, q48DedupClusters, q60DedupSurvivors, q61Contamination,
    q67CurationPipeline, q79SimHashScale, q86SpanDupes, q92CrossSourceDups,
    q113DedupSurvivorsLsh)
}
