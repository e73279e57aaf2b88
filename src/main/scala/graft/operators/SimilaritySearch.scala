package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.functions.Similarity
import graft.sources.Tables

/** Approximate-nearest-neighbor surface over the `embeddings` table
  * (BASELINE.json north star): brute-force cosine top-k as the exact
  * baseline, and a random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Scale design: brute force is O(N×Q) — fine when the query set is small
  * and broadcast (as here: corpus×broadcast(queries), no shuffle of the
  * corpus). The LSH variant buckets both sides by sign-bit codes so the join
  * is a bucket equi-join; recall trades off with bucket bits. Norms are
  * computed once per row, not once per pair.
  */
object SimilaritySearch {

  /** Embeddings with the double-array projection and precomputed norm — the
    * shared prelude of every ANN query (unused columns prune away). */
  private[graft] def embWithNorm(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), Similarity.toDoubleArray(col("embedding")).as("emb"))
      .withColumn("nrm", Similarity.norm(col("emb")))

  /** Oracle CTE mirroring `embWithNorm`. */
  private val embOracleCte: String =
    """e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings)""".stripMargin

  /** `[a, b, …]` DuckDB list literal for a coefficient vector (Double
    * toString round-trips, so both engines parse identical doubles). */
  private def arraySql(a: Array[Double]): String = a.mkString("[", ", ", "]")

  /** Argmin over named score columns: first index whose score is ≤ all
    * later ones — ties break to the lowest index. Shared by q62/q65/
    * `kmeansIterateOn`, and mirrored by the oracles' CASE chains. */
  private def argminCols(names: Seq[String]): org.apache.spark.sql.Column =
    (0 until names.length - 1).foldRight(lit(names.length - 1)) { (i, rest) =>
      when((i + 1 until names.length).map(j => col(names(i)) <= col(names(j))).reduce(_ && _), i)
        .otherwise(rest)
    }

  private def nearestCid(k: Int): org.apache.spark.sql.Column =
    argminCols((0 until k).map(i => s"s$i"))

  /** q35 — brute-force cosine top-k: for each query vector (vec_id < 8),
    * the 5 nearest other vectors by cosine, ties broken by vec_id. */
  val q35BruteForceTopK: Q = Q(
    "q35_ann_bruteforce",
    (s, dir) => {
      val e = embWithNorm(s, dir)
      val queries = e.select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
        .filter(col("q_id") < 8)
      val scored = e.join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .withColumn("cosine",
          Similarity.cosinePre(Similarity.dot(col("emb"), col("q_emb")),
            col("nrm"), col("q_nrm")))
      scored
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id").asc))
          .cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
    },
    Some(s"""WITH $embOracleCte,
      |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 8),
      |scored AS (
      |  SELECT q.q_id, e.vec_id AS neighbor_id,
      |         list_dot_product(e.emb, q.q_emb) / (e.nrm * q.q_nrm) AS cosine
      |  FROM e JOIN q ON e.vec_id <> q.q_id)
      |SELECT q_id, neighbor_id, cosine, rank FROM (
      |  SELECT q_id, neighbor_id, cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |           ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM scored) r
      |WHERE rank <= 5""".stripMargin))

  /** The 4 sign-projection hyperplanes for q36, as explicit constants so the
    * SAME coefficient literals appear in the Spark plan and the generated
    * oracle SQL (Double.toString round-trips, so both engines parse the
    * identical double and the sequential dot products match bitwise). */
  private[operators] val lshPlanes: Seq[Array[Double]] =
    (0 until 4).map { p =>
      Array.tabulate(64)(d => ((((d + 1) * (2 * p + 3)) % 7) - 3) / 3.0)
    }

  /** q36 — LSH-bucketed ANN: 4 fixed hyperplanes give a 4-bit sign code;
    * neighbors are searched only within the query's bucket (a bucket
    * equi-join — the 100 TB path vs the brute cross product). Fully
    * oracle-checked thanks to the literal planes. */
  val q36LshTopK: Q = Q(
    "q36_ann_lsh",
    (s, dir) => {
      def code(embCol: org.apache.spark.sql.Column) =
        lshPlanes.zipWithIndex.map { case (plane, p) =>
          when(Similarity.dot(embCol, typedLit(plane)) > 0, lit(1 << p)).otherwise(lit(0))
        }.reduce(_ + _)
      val e = embWithNorm(s, dir).withColumn("bucket", code(col("emb")))
      val qside = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
      e.join(broadcast(qside),
          col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
        .withColumn("cosine",
          Similarity.cosinePre(Similarity.dot(col("emb"), col("q_emb")),
            col("nrm"), col("q_nrm")))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id").asc))
          .cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("bucket").cast("long").as("bucket"),
          col("cosine"), col("rank"))
    },
    Some {
      val bucketSql = lshPlanes.zipWithIndex.map { case (plane, p) =>
        s"(CASE WHEN list_dot_product(emb, ${arraySql(plane)}) > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH $embOracleCte,
         |b AS (SELECT vec_id, emb, nrm, $bucketSql AS bucket FROM e),
         |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm, bucket AS q_bucket
         |      FROM b WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.q_id, b.vec_id AS neighbor_id, CAST(b.bucket AS BIGINT) AS bucket,
         |         list_dot_product(b.emb, q.q_emb) / (b.nrm * q.q_nrm) AS cosine
         |  FROM b JOIN q ON b.bucket = q.q_bucket AND b.vec_id <> q.q_id)
         |SELECT q_id, neighbor_id, bucket, cosine, rank FROM (
         |  SELECT q_id, neighbor_id, bucket, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |           ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM scored) r
         |WHERE rank <= 5""".stripMargin
    })

  /** q37 — IVF-style ANN: a coarse quantizer (here: per-label centroids)
    * partitions the corpus; each query probes its 2 nearest centroids and
    * searches only those inverted lists. The probe join is broadcast
    * (centroids are tiny); the list search shuffles on the centroid id.
    *
    * Centroids are ORDER-INDEPENDENT and engine-portable: each component is
    * quantized to the 2^-20 grid with `floor(x·2^20 + 0.5)` — exact in
    * double arithmetic for float32 inputs (the product by a power of two is
    * exact; the +0.5 sum stays within 53 mantissa bits), so both engines
    * compute the identical BIGINT — summed exactly per dimension, and
    * divided ONCE in double at the end (the q53 exact-sum technique). A
    * double `avg` would be aggregation-order-dependent and unverifiable;
    * this quantized mean differs from the float mean by < 2^-20 per
    * component, is bitwise-reproducible in DuckDB SQL, and leaves q37 fully
    * hash-checked. `SimilaritySpec` still pins recall vs brute force. */
  val q37IvfTopK: Q = Q(
    "q37_ann_ivf",
    (s, dir) => {
      val e = embWithNorm(s, dir)
      // centroid per label: elementwise quantized mean (64 dims → tiny
      // result); exact integer sums make the aggregate order-independent.
      val centroids = e
        .select(col("label"), posexplode(col("emb")).as(Seq("d", "x")))
        .groupBy(col("label"), col("d")).agg(
          sum(floor(col("x") * lit(1048576.0) + lit(0.5)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .withColumn("cx", col("s").cast("double") / (col("n") * lit(1048576L)).cast("double"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("cx")))), s => s.getField("cx"))
          .as("cemb"))
        .withColumn("cnrm", Similarity.norm(col("cemb")))
      val queries = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
      // probe: 2 nearest centroids per query
      val probed = queries.join(broadcast(centroids), lit(true))
        .withColumn("c_cos", Similarity.cosinePre(
          Similarity.dot(col("q_emb"), col("cemb")), col("q_nrm"), col("cnrm")))
        .withColumn("c_rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("label").asc)))
        .filter(col("c_rank") <= 2)
        .select(col("q_id"), col("q_emb"), col("q_nrm"), col("label"))
      // search only the probed inverted lists
      probed.join(e, Seq("label"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cosine", Similarity.cosinePre(
          Similarity.dot(col("emb"), col("q_emb")), col("nrm"), col("q_nrm")))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id").asc))
          .cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("label").cast("long").as("probed_label"),
          col("cosine"), col("rank"))
    },
    Some(s"""WITH $embOracleCte,
      |comp AS (
      |  SELECT label, unnest(range(1, len(emb) + 1)) AS d, unnest(emb) AS x FROM e),
      |csum AS (
      |  SELECT label, d, SUM(CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS s,
      |         COUNT(*) AS n
      |  FROM comp GROUP BY label, d),
      |cent AS (
      |  SELECT label,
      |    list(CAST(s AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) ORDER BY d) AS cemb
      |  FROM csum GROUP BY label),
      |centn AS (
      |  SELECT label, cemb, sqrt(list_dot_product(cemb, cemb)) AS cnrm FROM cent),
      |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 8),
      |probed AS (
      |  SELECT q_id, q_emb, q_nrm, label FROM (
      |    SELECT q.q_id, q.q_emb, q.q_nrm, c.label,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
      |        list_dot_product(q.q_emb, c.cemb) / (q.q_nrm * c.cnrm) DESC,
      |        c.label ASC) AS c_rank
      |    FROM q CROSS JOIN centn c) p
      |  WHERE c_rank <= 2),
      |scored AS (
      |  SELECT p.q_id, e.vec_id AS neighbor_id, CAST(e.label AS BIGINT) AS probed_label,
      |         list_dot_product(e.emb, p.q_emb) / (e.nrm * p.q_nrm) AS cosine
      |  FROM probed p JOIN e ON e.label = p.label AND e.vec_id <> p.q_id)
      |SELECT q_id, neighbor_id, probed_label, cosine, rank FROM (
      |  SELECT q_id, neighbor_id, probed_label, cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |           ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM scored) r
      |WHERE rank <= 5""".stripMargin))

  /** Rademacher (±1-entry) hyperplane family from a splitmix-style integer
    * mixer — a proper independent family (the q36 modular formula repeats
    * planes past p=6). Plane p is a pure function of p, so any prefix of
    * the family is stable: q38's literal 16 and `lshPairs`'s bands×bits
    * draw from the same sequence. */
  private[graft] def radPlanes(n: Int): Seq[Array[Double]] =
    (0 until n).map { p =>
      Array.tabulate(64) { d =>
        if ((graft.functions.Mix.splitmix((p * 64 + d).toLong) & 1L) == 1L) 1.0 else -1.0
      }
    }

  /** The 4-bands × 4-planes family for q38 (planes 4b..4b+3 for band b),
    * embedded as literals in both the Spark plan and the oracle SQL. */
  private[operators] val pairPlanes: Seq[Array[Double]] = radPlanes(16)

  /** q38 — embedding-LSH near-dup PAIRS: the scale-safe replacement for
    * q34's all-pairs baseline (`Dedup.q34EmbeddingDups` remains the declared
    * exact ground truth; `SimilaritySpec` pins this query's recall against
    * it). OR-construction: 4 independent band tables, each a 4-bit sign code
    * from `pairPlanes`; a pair becomes a candidate if it collides in ANY
    * band (a self equi-join on (band_idx, bucket) — shuffle on the bucket,
    * no cartesian stage), then the exact cosine verifies candidates only.
    * Collision probability per band for angle θ is (1-θ/π)^4, so 4 bands
    * give ~46% recall at cosine 0.35 and >90% at cosine 0.8 — raise the
    * band count for higher recall at 100 TB; the plan shape — code, bucket
    * equi-join, distinct, verify-on-candidates — is unchanged. Fully
    * oracle-checked thanks to the literal planes. */
  val q38LshPairs: Q = Q(
    "q38_dedup_embedding_lsh",
    // the anchor IS lshPairs at (4, 4) — spec-pinned identical since r9;
    // the fused band-code expression keeps that identity (bit-exact
    // substitution, expressions.LshBandCodes scaladoc). The oracle below
    // stays an INDEPENDENT literal-plane DuckDB formulation either way.
    (s, dir) => lshPairs(s, dir, bands = 4, bitsPerBand = 4),
    Some {
      def bandSql(b: Int) = (0 until 4).map { i =>
        s"(CASE WHEN list_dot_product(emb, ${arraySql(pairPlanes(b * 4 + i))}) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
      val bandList = (0 until 4).map(bandSql).mkString("[", ", ", "]")
      s"""WITH $embOracleCte,
         |banded AS (
         |  SELECT vec_id, unnest([0, 1, 2, 3]) AS band_idx, unnest($bandList) AS bucket
         |  FROM e),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         |  FROM banded x JOIN banded y
         |    ON x.band_idx = y.band_idx AND x.bucket = y.bucket
         |   AND x.vec_id < y.vec_id)
         |SELECT c.vec_a, c.vec_b,
         |  list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cosine
         |FROM cand c
         |JOIN e a ON a.vec_id = c.vec_a
         |JOIN e b ON b.vec_id = c.vec_b
         |WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= 0.35""".stripMargin
    },
    anchor = true)

  /** Parameterized embedding-LSH near-dup pairs — the PRODUCTION form of
    * q38, which stays the 4-band × 4-bit ORACLE ANCHOR (literal planes in
    * both engines), the same anchor-vs-production split as q109's literal
    * cluster cards vs `clusterCardsTrained`.
    *
    * Why the parameter matters at scale: buckets per band = 2^bitsPerBand,
    * and expected candidate pairs grow as N²/2^bits — with the anchor's
    * FIXED 4 bits that is N²/16, quadratic with a small constant. The sf1
    * bench measured exactly that: 10× vectors → 42.8× wall on the anchor
    * (the one super-linear query in the 110), while this form with bits
    * sized to the corpus (bits ≈ log2(N / targetBucket)) keeps bucket
    * populations — and thus candidate pairs per vector — constant as N
    * grows. The recall trade is explicit and tunable the other way: per
    * band, P(collide at angle θ) = (1−θ/π)^bits, so more bits need more
    * bands for the same recall; every emitted pair is exact-verified
    * against the true cosine either way (precision is always 1.0 vs the
    * q34 ground truth — only recall varies).
    *
    * Plan shape is identical to the anchor at any (bands, bits): band-code
    * projection → (band, bucket) self equi-join carrying the vectors →
    * first-colliding-band + cosine filters INSIDE the join stage → done
    * (the result is unique by construction — no distinct, no post-join
    * shuffle of any kind). No cartesian stage at any setting.
    *
    * Why verify-inside-the-join (round 11, measured at sf10): the earlier
    * shape (narrow candidate join → distinct → two joins to re-attach
    * embeddings) shuffled O(candidates) wide rows — 38M pairs × two 32-dim
    * arrays ≈ 11 GB at sf10's 200k vectors, which spilled and turned a 10×
    * data step into 50× wall (246 s; this shape: 12 s, identical rows).
    * Carrying (emb, nrm, all band codes) through the bucket join shuffles
    * only O(N·bands) wide rows (≈1.6M at sf10) and reduces each candidate
    * to a narrow (vec_a, vec_b, cosine) in the same stage. A pair that
    * collides in several bands is emitted ONLY in its first colliding band
    * (each side carries its full code array, so "no earlier band matched"
    * is a codegen'd array filter): one dot product per unique candidate,
    * and uniqueness by construction replaces the distinct shuffle. At any
    * corpus size every shuffle in the plan is linear in N. */
  def lshPairs(spark: SparkSession, dir: String, bands: Int = 4,
      bitsPerBand: Int = 4, threshold: Double = 0.35): DataFrame = {
    require(bitsPerBand <= 30, "bucket code must fit an Int")
    val planes = radPlanes(bands * bitsPerBand)
    // fused band-code projection: ONE compiled expression computes every
    // band's code in a single pass over the vector (at production plane
    // counts the composed per-plane when-chain generated a method too
    // large for the JIT — q110 ran de-optimized; see LshBandCodes)
    val e = embWithNorm(spark, dir)
    val banded = e.select(col("vec_id"), col("emb"), col("nrm"),
      Similarity.lshBandCodes(col("emb"), planes, bitsPerBand).as("codes"))
      .select(col("vec_id"), col("emb"), col("nrm"), col("codes"),
        posexplode(col("codes")).as(Seq("band_idx", "bucket")))
    val ca = banded.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
      col("nrm").as("nrm_a"), col("codes").as("codes_a"),
      col("band_idx"), col("bucket"))
    val cb = banded.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
      col("nrm").as("nrm_b"), col("codes").as("codes_b"),
      col("band_idx").as("band_idx_b"), col("bucket").as("bucket_b"))
    ca.join(cb,
        col("band_idx") === col("band_idx_b") &&
        col("bucket") === col("bucket_b") &&
        col("vec_a") < col("vec_b"))
      // first-colliding-band dedup: drop the row unless no EARLIER band's
      // codes also matched. Spelled as a literal chain of element_at
      // comparisons, NOT exists/zip_with/slice — higher-order array
      // functions are interpreted and would evict the join stage from
      // whole-stage codegen (measured 7x wall at sf10)
      .filter(!(0 until bands - 1).map(j =>
          col("band_idx") > j &&
          element_at(col("codes_a"), j + 1) === element_at(col("codes_b"), j + 1))
        .reduceOption(_ || _).getOrElse(lit(false)))
      .withColumn("cosine",
        Similarity.cosinePre(Similarity.dot(col("emb_a"), col("emb_b")),
          col("nrm_a"), col("nrm_b")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** q110 — the SCALED operating point of `lshPairs`, oracle-checked
    * (VERDICT r9 item 1: the production form was spec-pinned but the only
    * CORRECTNESS-green point on the LSH curve was the quadratic q38
    * anchor; this registers a green point AT SCALE SETTINGS).
    *
    * 8 bands × 8 bits = what the production rule bits ≈ log2(N/64) gives
    * at the top of the swept decade (sf1: 20k vectors → 256-bucket bands
    * hold ~78 vectors), with bands doubled from the anchor's 4 because
    * finer buckets cost recall — P(band collision at angle θ) =
    * (1−θ/π)^bits — and bands buy it back on the OR-construction.
    * Expected candidate pairs: bands·N²/2^(bits+1) = N²/64 vs the
    * anchor's N²/8 — 8× fewer candidates AND higher recall on true
    * near-dups (planted dups sit at cosine ≳0.8 where 8 bands × 8 bits
    * reach ~90%+). The oracle must be static SQL, so the registry point
    * pins (8, 8); corpus-adaptive bits remain `lshPairs`'s job — same
    * plan shape at every setting, no cartesian stage.
    *
    * The 64 hyperplanes are the deterministic `radPlanes` prefix — the
    * identical double literals appear in the Spark plan and the generated
    * oracle SQL, so both engines compute bitwise-equal band codes. */
  /** The (8 bands × 8 bits) candidate+cosine oracle CTE chain shared by
    * q110 and q111 — everything through `scored` (vec_a, vec_b, cosine ≥
    * threshold), mirroring lshPairs' splitmix Rademacher planes as SQL
    * literals. Prefix with WITH [RECURSIVE] at the call site. */
  private[graft] def lshPairsOracleCte(threshold: Double): String = {
    val planes = radPlanes(64)
    def bandSql(b: Int) = (0 until 8).map { i =>
      s"(CASE WHEN list_dot_product(emb, ${arraySql(planes(b * 8 + i))}) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")
    val bandList = (0 until 8).map(bandSql).mkString("[", ", ", "]")
    s"""$embOracleCte,
       |banded AS (
       |  SELECT vec_id, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS band_idx,
       |         unnest($bandList) AS bucket
       |  FROM e),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM banded x JOIN banded y
       |    ON x.band_idx = y.band_idx AND x.bucket = y.bucket
       |   AND x.vec_id < y.vec_id),
       |scored AS (
       |  SELECT c.vec_a, c.vec_b,
       |    list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cosine
       |  FROM cand c
       |  JOIN e a ON a.vec_id = c.vec_a
       |  JOIN e b ON b.vec_id = c.vec_b
       |  WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= $threshold)""".stripMargin
  }

  val q110LshScaled: Q = Q(
    "q110_ann_lsh_scaled",
    (s, dir) => lshPairs(s, dir, bands = 8, bitsPerBand = 8),
    Some(s"""WITH ${lshPairsOracleCte(0.35)}
       |SELECT vec_a, vec_b, cosine FROM scored""".stripMargin))

  /** q111 — embedding-level near-dup CLUSTERS: `lshPairs` becomes the
    * edge relation of the same min-label connected components q48 runs
    * over Jaccard edges. The composition is the SemDeDup-style endgame a
    * corpus pipeline actually ships: candidate generation bucket-bounded
    * (lshPairs — every shuffle linear in N), edges O(passing pairs),
    * components label-propagation with per-superstep localCheckpoint
    * (diameter-bounded rounds). Threshold pins the corpus's research
    * setting (0.35 — the same regime q34/q38/q110 measure; this synthetic
    * embedding table has NO pairs above ~0.6, so a production-style 0.9
    * dedup threshold would oracle-pass on an EMPTY relation at every SF —
    * the q74-empty-window trap — whereas 0.35 exercises real component
    * structure at every gate SF; production raises the parameter, the
    * plan shape is identical). Oracle: the shared plane-mirroring pair
    * CTE + a recursive min-reachability CTE, so the WHOLE composition —
    * hyperplanes to cluster labels — is hash-checked cross-engine.
    * Output grain: one row per clustered vector (singletons have no
    * edges and no row, same as q48). */
  /** Production form of q111 — corpus-adaptive parameters, same plan
    * shape at every setting: bits ≈ log2(N/64) keeps bucket populations
    * constant as N grows (the lshPairs rule), and the threshold is the
    * near-dup semantics knob (the research 0.35 graph PERCOLATES into one
    * giant component by sf1 — real dedup thresholds sit where components
    * are the planted-dup sets). Labels are NOT memoized here — callers
    * own persistence; the registry entry memoizes its pinned point. */
  def embeddingClusters(spark: SparkSession, dir: String, bands: Int,
      bitsPerBand: Int, threshold: Double): DataFrame =
    withClusterSizes(clusterLabels(spark, dir, bands, bitsPerBand, threshold))

  /** lshPairs edges → min-label component labels (doc_id, cluster_rep) —
    * the single body both the probe form and the memoized registry entry
    * compose, so the two can't drift. */
  private def clusterLabels(spark: SparkSession, dir: String, bands: Int,
      bitsPerBand: Int, threshold: Double): DataFrame =
    Dedup.connectedComponents(
      lshPairs(spark, dir, bands, bitsPerBand, threshold)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))

  private def withClusterSizes(labels: DataFrame): DataFrame =
    labels.select(col("doc_id").as("vec_id"), col("cluster_rep"))
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_rep"))))

  val q111EmbeddingClusters: Q = Q(
    "q111_embedding_clusters",
    (s, dir) => {
      // memoized like q48's clusters05: the label-propagation loop runs
      // count() actions per superstep, so repeated in-session invocations
      // must reuse one materialization (released with Dedup.releaseCaches)
      val labels = SessionLedger.memo(s, dir, "embClusters035") {
        clusterLabels(s, dir, bands = 8, bitsPerBand = 8, threshold = 0.35)
      }
      withClusterSizes(labels)
    },
    Some(s"""WITH RECURSIVE ${lshPairsOracleCte(0.35)},
       |edges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM scored
       |  UNION
       |  SELECT vec_b, vec_a FROM scored),
       |nodes AS (SELECT DISTINCT src AS v FROM edges),
       |reach(v, r) AS (
       |  SELECT v, v FROM nodes
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.v),
       |labeled AS (
       |  SELECT v AS vec_id, MIN(r) AS cluster_rep FROM reach GROUP BY v)
       |SELECT vec_id, cluster_rep,
       |  CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
       |FROM labeled""".stripMargin))

  /** The 4 literal initial centroids for q62 (±0.25-entry vectors from the
    * same splitmix mixer as `pairPlanes` — deterministic, shared verbatim
    * with the oracle SQL). */
  private[operators] val kmeansInit: Seq[Array[Double]] =
    (0 until 4).map { c =>
      Array.tabulate(64) { d =>
        if ((graft.functions.Mix.splitmix((1000 + c * 64 + d).toLong) & 1L) == 1L) 0.25 else -0.25
      }
    }

  /** q62 — one distributed Lloyd (k-means) step: the TRAINING half of the
    * IVF index (q37 searches a prebuilt quantizer; this builds one). Each
    * vector is assigned to its nearest of 4 literal initial centroids by
    * L2 (argmin of ‖c‖²−2·x·c — the shared ‖x‖² term cancels; when-chain
    * ties to the lowest centroid id), then new centroids are recomputed as
    * quantized-integer means (exact BIGINT sums on the 2^-20 grid, one
    * double division at the end — the q37/q53 technique), emitted one row
    * per (centroid, dimension) so the result is flat-comparable.
    *
    * Scale: assignment is a map-only pass (centroids are literals in the
    * plan — at real k they broadcast); the recompute is one shuffle at
    * (k × dims) grain. Iterating = re-running with the new literals; every
    * step stays oracle-checkable because nothing depends on aggregation
    * order. */
  val q62KmeansStep: Q = Q(
    "q62_kmeans_step",
    (s, dir) => {
      val e = embWithNorm(s, dir)
      val scores = kmeansInit.zipWithIndex.map { case (c, i) =>
        val cc = c.map(v => v * v).sum
        (lit(cc) - lit(2.0) * Similarity.dot(col("emb"), typedLit(c))).as(s"s$i")
      }
      val scored = e.select((col("vec_id") +: col("emb") +: scores): _*)
      scored.withColumn("cid", nearestCid(kmeansInit.length).cast("long"))
        .select(col("cid"), posexplode(col("emb")).as(Seq("d", "x")))
        .groupBy(col("cid"), col("d"))
        .agg(
          count(lit(1)).as("n_points"),
          sum(floor(col("x") * lit(1048576.0) + lit(0.5)).cast("long")).as("sq"))
        .select(col("cid"), col("d").cast("long").as("d"), col("n_points"),
          (col("sq").cast("double") / (col("n_points") * lit(1048576L)).cast("double"))
            .as("cx"))
    },
    Some {
      val scoreDefs = kmeansInit.zipWithIndex.map { case (c, i) =>
        val cc = c.map(v => v * v).sum
        s"    $cc - 2.0 * list_dot_product(emb, ${arraySql(c)}) AS s$i"
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |scored AS (
         |  SELECT vec_id, emb,
         |$scoreDefs
         |  FROM e),
         |assigned AS (
         |  SELECT emb,
         |    CAST(CASE
         |      WHEN s0 <= s1 AND s0 <= s2 AND s0 <= s3 THEN 0
         |      WHEN s1 <= s2 AND s1 <= s3 THEN 1
         |      WHEN s2 <= s3 THEN 2
         |      ELSE 3 END AS BIGINT) AS cid
         |  FROM scored),
         |comp AS (
         |  SELECT cid, unnest(range(0, len(emb))) AS d, unnest(emb) AS x
         |  FROM assigned)
         |SELECT cid, CAST(d AS BIGINT) AS d, COUNT(*) AS n_points,
         |  CAST(SUM(CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / CAST(COUNT(*) * 1048576 AS DOUBLE) AS cx
         |FROM comp GROUP BY cid, d""".stripMargin
    })

  /** Iterated Lloyd training (builds the IVF coarse quantizer): runs
    * `iters` q62-style steps, holding only the k×dims centroid matrix on
    * the driver between rounds (the standard Spark ML training pattern —
    * model state is tiny by definition, the corpus never leaves the
    * cluster). Returns (centroids, per-iteration inertia). Assignment ties
    * break to the lowest centroid id; empty clusters keep their previous
    * centroid. `SimilaritySpec` pins monotone non-increasing inertia. */
  def kmeansIterate(spark: org.apache.spark.sql.SparkSession, dir: String, iters: Int,
      init: Seq[Array[Double]] = kmeansInit): (Seq[Array[Double]], Seq[Double]) =
    kmeansIterateOn(embWithNorm(spark, dir).select(col("emb")), iters, init)

  /** Lloyd training over an arbitrary vector relation (one `emb` double-array
    * column) — the `kmeansIterate` core, reused per-subspace by `pqTrain`. */
  def kmeansIterateOn(vecs: org.apache.spark.sql.DataFrame, iters: Int,
      init: Seq[Array[Double]]): (Seq[Array[Double]], Seq[Double]) = {
    val e = vecs.select(col("emb")).persist()
    try {
      var centroids = init
      val inertias = Seq.newBuilder[Double]
      (0 until iters).foreach { _ =>
        val k = centroids.length
        // Assignment shape switches by k exactly like assignLiteral /
        // assignByTable: the plan-literal score columns + nearestCid are
        // O(k²) expression NODES (nested when-chain of And-chains), which
        // overflows the Column→Expression conversion stack near k≈300 —
        // real √N̅ cluster counts (sf10: k=447) crashed here before the
        // table path below. Both paths compute the identical score
        // (cc − 2·x·c, ties to the lowest cid), so the spec-pinned
        // small-k results are unchanged.
        val assigned = if (k <= literalPathMaxK) {
          val scores = centroids.zipWithIndex.map { case (c, i) =>
            val cc = c.map(v => v * v).sum
            (lit(cc) - lit(2.0) * Similarity.dot(col("emb"), typedLit(c))).as(s"s$i")
          }
          e.select((col("emb") +: scores): _*)
            .withColumn("cid", nearestCid(k))
            // true squared distance for the inertia metric: ‖x‖² + best score
            .withColumn("dist2",
              Similarity.dot(col("emb"), col("emb")) +
                least((0 until k).map(i => col(s"s$i")): _*))
        } else {
          import vecs.sparkSession.implicits._
          val cdf = centroids.zipWithIndex
            .map { case (c, i) => (i, c, c.map(v => v * v).sum) }
            .toDF("c_cid", "c_vec", "c_cc")
          // row identity for the per-vector argmin: the input relation has
          // no key (training runs over bare emb vectors), so synthesize
          // one. Uniqueness per row is all the groupBy needs — the id
          // never reaches the result, and `e` is persisted so positions
          // are stable under recomputation.
          e.withColumn("rid", monotonically_increasing_id())
            .crossJoin(broadcast(cdf))
            .withColumn("s", col("c_cc") - lit(2.0) * Similarity.dot(col("emb"), col("c_vec")))
            .groupBy(col("rid"))
            .agg(min(struct(col("s"), col("c_cid"))).as("m"),
              first(col("emb")).as("emb"))
            .select(col("emb"), col("m.c_cid").as("cid"),
              (Similarity.dot(col("emb"), col("emb")) + col("m.s")).as("dist2"))
        }
        val stats = assigned
          .select(col("cid"), col("dist2"), posexplode(col("emb")).as(Seq("d", "x")))
          .groupBy(col("cid"), col("d"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(when(col("d") === 0, col("dist2"))).as("i0"))
          .collect()
        inertias += stats.flatMap(r => Option(r.get(4)).map(_ => r.getDouble(4))).sum
        val next = centroids.zipWithIndex.map { case (old, i) =>
          val dims = stats.filter(_.getInt(0) == i)
          if (dims.isEmpty) old
          else {
            val out = old.clone()
            dims.foreach(r => out(r.getInt(1)) = r.getDouble(3) / r.getLong(2))
            out
          }
        }
        centroids = next
      }
      (centroids, inertias.result())
    } finally e.unpersist(blocking = false)
  }

  /** Product-quantization geometry: 64 dims → `PqM`=4 subspaces × `PqSub`=16
    * dims, `PqK`=4 centroids per subspace (2 bits/subspace → an 8-bit code
    * per vector; production PQ uses M=8..64, K=256 — same plan shape). */
  private[graft] val PqM = 4
  private[graft] val PqK = 4
  private[graft] val PqSub = 16

  /** Literal initial codebooks (±0.2-entry subvectors from the splitmix
    * mixer, like `kmeansInit`) — shared verbatim with the q65 oracle SQL.
    * `pqTrain` refines them per-subspace with Lloyd iterations. */
  private[graft] val pqCodebooks: Seq[Seq[Array[Double]]] =
    (0 until PqM).map { m =>
      (0 until PqK).map { c =>
        Array.tabulate(PqSub) { d =>
          if ((graft.functions.Mix.splitmix((5000 + (m * PqK + c) * PqSub + d).toLong) & 1L) == 1L)
            0.2 else -0.2
        }
      }
    }

  private def pqSubvec(embCol: org.apache.spark.sql.Column, m: Int) =
    slice(embCol, m * PqSub + 1, PqSub)

  /** q65 — product-quantization ANN (ADC: asymmetric distance computation).
    * The FINE-quantizer half of a 100 TB vector index (q37/q62 are the
    * coarse half): every corpus vector compresses to an M-byte code —
    * 64 dims × 4 bytes → 4 codes here, a 64× memory cut at production
    * M/K — and queries score against codes without decompressing, via a
    * per-query lookup table of query-subvector→centroid distances.
    *
    * Plan shape at scale: encoding is a map-only pass (codebooks are plan
    * literals; at real size they broadcast); the scored relation shuffles
    * only (vec_id, M codes) — the raw vectors never move — and the per-query
    * distance table is K×M doubles, broadcast with the query set. ADC
    * distance = Σ_m d²(q_m, cb_m[code_m]), an upper-ish approximation of
    * the true L2²; `SimilaritySpec` pins the ADC→exact recall and that
    * trained codebooks strictly cut reconstruction error. Everything is
    * integer codes + fixed-order double sums over literal codebooks, so the
    * whole query is reproducible in DuckDB SQL and fully hash-checked. */
  val q65PqAdc: Q = Q(
    "q65_ann_pq_adc",
    (s, dir) => {
      val e = embWithNorm(s, dir)
      // encode: per-subspace argmin of cc − 2·x_m·c (‖x_m‖² cancels)
      val scoreCols = for {
        m <- 0 until PqM; c <- 0 until PqK
        cb = pqCodebooks(m)(c); cc = cb.map(v => v * v).sum
      } yield (lit(cc) - lit(2.0) * Similarity.dot(pqSubvec(col("emb"), m), typedLit(cb)))
        .as(s"s${m}_$c")
      val coded = e.select((col("vec_id") +: scoreCols): _*)
        .select((col("vec_id") +: (0 until PqM).map(m =>
          argminCols((0 until PqK).map(c => s"s${m}_$c")).as(s"code$m"))): _*)
      // per-query ADC lookup table: exact d²(q_m, centroid c) for every (m, c)
      val qdCols = for {
        m <- 0 until PqM; c <- 0 until PqK
        cb = pqCodebooks(m)(c); cc = cb.map(v => v * v).sum
        qs = pqSubvec(col("q_emb"), m)
      } yield (Similarity.dot(qs, qs) - lit(2.0) * Similarity.dot(qs, typedLit(cb)) + lit(cc))
        .as(s"qd${m}_$c")
      val qd = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
        .select((col("q_id") +: qdCols): _*)
      val adc = (0 until PqM).map { m =>
        (0 until PqK - 1).foldRight(col(s"qd${m}_${PqK - 1}")) { (c, rest) =>
          when(col(s"code$m") === c, col(s"qd${m}_$c")).otherwise(rest)
        }
      }.reduce(_ + _)
      coded.join(broadcast(qd), col("vec_id") =!= col("q_id"))
        .withColumn("adc_dist", adc)
        .withColumn("pq_code",
          (col("code0") + col("code1") * lit(PqK) + col("code2") * lit(PqK * PqK)
            + col("code3") * lit(PqK * PqK * PqK)).cast("long"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("adc_dist").asc, col("vec_id").asc))
          .cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("pq_code"),
          col("adc_dist"), col("rank"))
    },
    Some {
      def subSql(embExpr: String, m: Int) = s"$embExpr[${m * PqSub + 1}:${(m + 1) * PqSub}]"
      val scoreDefs = (for {
        m <- 0 until PqM; c <- 0 until PqK
        cb = pqCodebooks(m)(c); cc = cb.map(v => v * v).sum
      } yield s"    $cc - 2.0 * list_dot_product(${subSql("emb", m)}, ${arraySql(cb)}) AS s${m}_$c")
        .mkString(",\n")
      def argminSql(m: Int) = {
        val whens = (0 until PqK - 1).map { c =>
          val conds = (c + 1 until PqK).map(j => s"s${m}_$c <= s${m}_$j").mkString(" AND ")
          s"WHEN $conds THEN $c"
        }.mkString(" ")
        s"CASE $whens ELSE ${PqK - 1} END"
      }
      val codeDefs = (0 until PqM).map(m => s"    ${argminSql(m)} AS code$m").mkString(",\n")
      val qdDefs = (for {
        m <- 0 until PqM; c <- 0 until PqK
        cb = pqCodebooks(m)(c); cc = cb.map(v => v * v).sum
        qs = subSql("q_emb", m)
      } yield s"    list_dot_product($qs, $qs) - 2.0 * list_dot_product($qs, ${arraySql(cb)}) + $cc AS qd${m}_$c")
        .mkString(",\n")
      val adcSql = (0 until PqM).map { m =>
        val whens = (0 until PqK - 1).map(c => s"WHEN code$m = $c THEN qd${m}_$c").mkString(" ")
        s"(CASE $whens ELSE qd${m}_${PqK - 1} END)"
      }.mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |scored AS (
         |  SELECT vec_id,
         |$scoreDefs
         |  FROM e),
         |coded AS (
         |  SELECT vec_id,
         |$codeDefs
         |  FROM scored),
         |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 8),
         |qd AS (
         |  SELECT q_id,
         |$qdDefs
         |  FROM q),
         |paired AS (
         |  SELECT qd.q_id, coded.vec_id AS neighbor_id,
         |    CAST(code0 + code1 * $PqK + code2 * ${PqK * PqK} + code3 * ${PqK * PqK * PqK} AS BIGINT) AS pq_code,
         |    $adcSql AS adc_dist
         |  FROM coded JOIN qd ON coded.vec_id <> qd.q_id)
         |SELECT q_id, neighbor_id, pq_code, adc_dist, rank FROM (
         |  SELECT q_id, neighbor_id, pq_code, adc_dist,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |           ORDER BY adc_dist ASC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM paired) r
         |WHERE rank <= 5""".stripMargin
    })

  /** Train the PQ codebooks: independent Lloyd runs per subspace over the
    * sliced corpus (each is a tiny k-means — the corpus shuffles nothing,
    * and at 100 TB the M runs share one cached pass per iteration). */
  def pqTrain(spark: org.apache.spark.sql.SparkSession, dir: String,
      iters: Int): Seq[Seq[Array[Double]]] =
    (0 until PqM).map { m =>
      val sub = embWithNorm(spark, dir).select(pqSubvec(col("emb"), m).as("emb"))
      kmeansIterateOn(sub, iters, pqCodebooks(m))._1
    }

  /** Mean PQ reconstruction error Σ_m ‖x_m − cb_m[code_m]‖² over the corpus
    * — the quantizer-quality metric `SimilaritySpec` pins (trained < initial). */
  def pqReconstructionError(spark: org.apache.spark.sql.SparkSession, dir: String,
      books: Seq[Seq[Array[Double]]]): Double = {
    val terms = books.zipWithIndex.map { case (cbs, m) =>
      val qs = pqSubvec(col("emb"), m)
      least(cbs.map { cb =>
        val cc = cb.map(v => v * v).sum
        Similarity.dot(qs, qs) - lit(2.0) * Similarity.dot(qs, typedLit(cb)) + lit(cc)
      }: _*)
    }
    embWithNorm(spark, dir).select(terms.reduce(_ + _).as("err"))
      .agg(avg(col("err"))).head().getDouble(0)
  }

  /** q75 — per-vector array analytics (the embedding-column profiling
    * pass): dimension count, L2 norm, extreme values, and the argmax
    * dimension. Norms ride the quantized-integer trick (floor(x·2²⁰+0.5)
    * is exact in double for float32 inputs, squares sum exactly in longs
    * — order-independent, engine-portable; sqrt is correctly-rounded
    * IEEE). argmax is "lowest position among maximal values" — computed
    * with a struct-min in Spark and a max-join in the oracle, same
    * semantics. Explode + hash-agg (codegen) instead of the higher-order
    * aggregate (CodegenFallback) — one shuffle on vec_id. */
  val q75VectorStats: Q = Q(
    "q75_vector_stats",
    (s, dir) => {
      val x = graft.sources.Tables(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "vf")))
        .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("vf").cast("double").as("v"))
        .withColumn("vq", floor(col("v") * lit(1048576.0) + lit(0.5)).cast("long"))
      x.groupBy(col("vec_id"))
        .agg(
          count(lit(1)).as("n_dims"),
          sum(col("vq") * col("vq")).as("norm2_scaled"),
          max(col("v")).as("max_val"),
          min(col("v")).as("min_val"),
          min(struct(negate(col("v")).as("nv"), col("pos").as("p"))).as("am"))
        .select(col("vec_id"), col("n_dims"), col("norm2_scaled"),
          col("max_val"), col("min_val"),
          col("am.p").as("argmax_pos"),
          (sqrt(col("norm2_scaled").cast("double")) / lit(1048576.0)).as("l2_norm"))
    },
    Some("""WITH x AS (
      |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
      |         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos
      |  FROM embeddings),
      |agg AS (
      |  SELECT vec_id, COUNT(*) AS n_dims,
      |    CAST(SUM(CAST(floor(v*1048576.0+0.5) AS BIGINT)
      |           * CAST(floor(v*1048576.0+0.5) AS BIGINT)) AS BIGINT) AS norm2_scaled,
      |    MAX(v) AS max_val, MIN(v) AS min_val
      |  FROM x GROUP BY vec_id)
      |SELECT agg.vec_id, n_dims, norm2_scaled, max_val, min_val,
      |  (SELECT MIN(pos) FROM x WHERE x.vec_id = agg.vec_id AND x.v = agg.max_val)
      |    AS argmax_pos,
      |  sqrt(CAST(norm2_scaled AS DOUBLE)) / 1048576.0 AS l2_norm
      |FROM agg""".stripMargin))

  /** SemDeDup prune against an arbitrary centroid model — the shared core
    * of q85 (literal k=4 anchor) and `semdedupTrained` (the production
    * composition): map-side nearest-centroid assignment, cid-bucketed
    * lower-id pair join, per-vector MAX cosine, prune at `tau`. Greedy
    * keep-first: the survivor set is order-deterministic (lowest vec_id in
    * any ≥-tau chain survives). */
  def semdedupWith(s: org.apache.spark.sql.SparkSession, dir: String,
      centroids: Seq[Array[Double]], tau: Double): org.apache.spark.sql.DataFrame =
    semdedupPrune(assignLiteral(embWithNorm(s, dir), centroids), tau)

  /** Literal-path cutover: `nearestCid`'s argmin CASE chain is k(k-1)/2
    * comparisons, so generated code grows QUADRATICALLY in k — at k=45 a
    * probe showed janino's 64 KB method limit tripping and the whole stage
    * silently falling back to interpreted execution (the worst of both
    * paths). 16 keeps the chain at 120 comparisons, far under the limit,
    * and everything larger takes `assignByTable`, whose plan is O(1) in k.
    * The two paths are bit-identical (SimilaritySpec), so the cutover is a
    * pure physical-plan choice. */
  private[graft] val literalPathMaxK = 16

  /** Nearest-centroid assignment with centroids as PLAN LITERALS (one score
    * column per centroid) — zero extra shuffle, ideal for small k, but plan
    * width grows with k. Ties break to the lowest cid. */
  private[graft] def assignLiteral(e: org.apache.spark.sql.DataFrame,
      centroids: Seq[Array[Double]]): org.apache.spark.sql.DataFrame = {
    val scores = centroids.zipWithIndex.map { case (c, i) =>
      val cc = c.map(v => v * v).sum
      (lit(cc) - lit(2.0) * Similarity.dot(col("emb"), typedLit(c))).as(s"s$i")
    }
    e.select((col("vec_id") +: col("emb") +: col("nrm") +: scores): _*)
      .withColumn("cid", nearestCid(centroids.length).cast("long"))
      .select(col("vec_id"), col("cid"), col("emb"), col("nrm"))
  }

  /** Nearest-centroid assignment against a BROADCAST centroid TABLE — the
    * large-k path (k ≫ plan-literal width, e.g. √N̅ clusters on a real
    * corpus): one (vector × centroid) broadcast join, per-vector
    * min-struct argmin (lowest distance, then lowest cid — the exact tie
    * order of `nearestCid`, over identically-computed distances), then one
    * equi-join to re-attach the vector payload. Plan size is O(1) in k;
    * the k×d model rides the broadcast. `SimilaritySpec` pins bit-equality
    * of the two assignment paths. */
  private[graft] def assignByTable(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame,
      centroids: Seq[Array[Double]]): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val cdf = centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c, c.map(v => v * v).sum) }
      .toDF("c_cid", "c_vec", "c_cc")
    val best = e.select(col("vec_id"), col("emb"))
      .crossJoin(broadcast(cdf))
      .withColumn("dist",
        col("c_cc") - lit(2.0) * Similarity.dot(col("emb"), col("c_vec")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("c_cid"))).as("m"))
      .select(col("vec_id"), col("m.c_cid").as("cid"))
    e.join(best, "vec_id")
      .select(col("vec_id"), col("cid"), col("emb"), col("nrm"))
  }

  /** The prune half of SemDeDup over an assigned (vec_id, cid, emb, nrm)
    * relation: cid-bucketed lower-id pair join → per-vector MAX cosine →
    * prune at `tau`. */
  private[graft] def semdedupPrune(assigned: org.apache.spark.sql.DataFrame,
      tau: Double): org.apache.spark.sql.DataFrame = {
    val a = assigned.toDF("vec_a", "cid", "emb_a", "nrm_a")
    val b = assigned.toDF("vec_b", "cid_b", "emb_b", "nrm_b")
    val pairMax = a.join(b, col("cid") === col("cid_b") && col("vec_a") < col("vec_b"))
      .withColumn("cosine", Similarity.cosinePre(
        Similarity.dot(col("emb_a"), col("emb_b")), col("nrm_a"), col("nrm_b")))
      .groupBy(col("vec_b"))
      .agg(max(col("cosine")).as("max_cos_lower"))
      .withColumnRenamed("vec_b", "vec_id")
    assigned.select(col("vec_id"), col("cid"))
      .join(pairMax, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("max_cos_lower"),
        coalesce(col("max_cos_lower") >= lit(tau), lit(false)).as("pruned"))
  }

  /** End-to-end TRAINED SemDeDup — the composition a real run uses
    * (VERDICT r6 item 6): train k ≈ √N coarse centroids on a bounded
    * sample, then prune with the trained model. k ∝ √N keeps expected
    * within-cluster pair count near-linear in N — the method's point.
    * `SimilaritySpec` pins survivor-set determinism at two corpus sizes and
    * with a sample smaller than the corpus. */
  def semdedupTrained(s: org.apache.spark.sql.SparkSession, dir: String,
      iters: Int = 3, tau: Double = 0.3,
      sampleCap: Int = 65536): org.apache.spark.sql.DataFrame =
    semdedupPrune(trainedAssignment(s, dir, iters, sampleCap), tau)

  /** The bounded md5-rank training sample (q88's carve-out mechanism) —
    * ONE definition, so the rung measured in PLANS.md ("SemDeDup training
    * rung") is the shipped rung.
    * Repartition after the sort-LIMIT: the limit emits the sample as ONE
    * partition, and without the exchange every Lloyd iteration over it
    * runs single-threaded — measured SLOWER than full-corpus training at
    * sf10 (129 s vs 108 s) despite 3× less data. Same lesson as the
    * writer-fusion straggler: never feed a cardinality-reducing
    * single-partition op straight into a compute-heavy stage. The
    * exchange moves sampleCap rows once. */
  private[graft] def md5Sample(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame, n: Long,
      sampleCap: Int): org.apache.spark.sql.DataFrame =
    if (n <= sampleCap) e
    else e.orderBy(md5(col("vec_id").cast("string").cast("binary")),
      col("vec_id")).limit(sampleCap)
      .repartition(s.sparkContext.defaultParallelism)

  /** The √N̅-cluster Lloyd-trained assignment shared by `semdedupTrained`
    * and `clusterCardsTrained` (VERDICT r12 item 2). Lloyd runs over a
    * bounded sample and only the ASSIGNMENT touches the full corpus — one
    * map pass — so training cost is `sampleCap`·k·d·iters, not N·k·d·iters
    * (full-corpus training made the sf100 point hours-long before the prune
    * started). k = √N̄ still grows with the corpus, but k is model size.
    *
    * The sample is `md5Sample`: value-derived (never partition-derived; the
    * round-7 rank lesson), retry-stable and reproducible from the data
    * alone. When n ≤ `sampleCap` it is the whole corpus. Init = the k
    * lowest-vec_id embeddings of the sample — deterministic, no RNG. Only
    * k×d centroid doubles ever reach the driver. Assignment picks its
    * physical shape by k: plan-literal score columns up to k=16 (zero
    * shuffle; see literalPathMaxK), the broadcast centroid-table argmin
    * above (plan size O(1) in k). The two paths are bit-identical
    * (SimilaritySpec). */
  private[graft] def trainedAssignment(s: org.apache.spark.sql.SparkSession,
      dir: String, iters: Int = 3, sampleCap: Int = 65536): org.apache.spark.sql.DataFrame = {
    val e = embWithNorm(s, dir)
    val n = e.count()
    val k = math.min(sampleCap.toLong,
      math.max(2L, math.round(math.sqrt(n.toDouble)))).toInt
    val sample = md5Sample(s, e, n, sampleCap)
    // bounded collect: k ≤ sampleCap rows × dim doubles — model-grain
    val init = sample.orderBy(col("vec_id")).limit(k)
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray).toSeq
    val (centroids, _) = kmeansIterateOn(sample.select(col("emb")), iters, init)
    if (centroids.length <= literalPathMaxK) assignLiteral(e, centroids)
    else assignByTable(s, e, centroids)
  }

  /** q85 — SemDeDup (semantic dedup, Abbas et al. 2023 shape): assign every
    * embedding to its nearest coarse centroid, then prune any vector whose
    * cosine to a LOWER-id vector in the SAME cluster is ≥ τ (greedy
    * keep-first — the survivor set is order-deterministic). Pair search is
    * restricted to within-cluster, which is the whole point of the method:
    * with k ∝ √N clusters the intra-cluster pair count stays near-linear
    * while brute-force all-pairs (q34) is quadratic. k=4 literal centroids
    * here (q62's init, shared verbatim with the oracle) keep the query fully
    * hash-checkable; the production composition is `semdedupTrained`
    * (k ≈ √N Lloyd-trained centroids → same prune) — the plan
    * shape (map-side assign → cid-bucketed self-join → per-vec MAX) is
    * unchanged. MAX over doubles is order-insensitive (no rounding), so the
    * whole result is bitwise-portable. */
  val q85SemDedup: Q = Q(
    "q85_semdedup",
    (s, dir) => semdedupWith(s, dir, kmeansInit, tau = 0.3),
    Some {
      val scoreDefs = kmeansInit.zipWithIndex.map { case (c, i) =>
        val cc = c.map(v => v * v).sum
        s"    $cc - 2.0 * list_dot_product(emb, ${arraySql(c)}) AS s$i"
      }.mkString(",\n")
      s"""WITH $embOracleCte,
         |scored AS (
         |  SELECT vec_id, emb, nrm,
         |$scoreDefs
         |  FROM e),
         |assigned AS (
         |  SELECT vec_id, emb, nrm,
         |    CAST(CASE
         |      WHEN s0 <= s1 AND s0 <= s2 AND s0 <= s3 THEN 0
         |      WHEN s1 <= s2 AND s1 <= s3 THEN 1
         |      WHEN s2 <= s3 THEN 2
         |      ELSE 3 END AS BIGINT) AS cid
         |  FROM scored),
         |pm AS (
         |  SELECT b.vec_id AS vec_id,
         |    MAX(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)) AS max_cos_lower
         |  FROM assigned a JOIN assigned b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  GROUP BY b.vec_id)
         |SELECT s.vec_id, s.cid, pm.max_cos_lower,
         |  COALESCE(pm.max_cos_lower >= 0.3, FALSE) AS pruned
         |FROM assigned s LEFT JOIN pm ON pm.vec_id = s.vec_id""".stripMargin
    })

  /** q109 — cluster topic cards: the "what is in my data" report a corpus
    * curator reads after clustering — for each embedding cluster, the 5
    * most SALIENT terms of its documents (term frequency × cluster-level
    * inverse document frequency). Assignment reuses the literal centroids
    * (q62/q85's — oracle-shared); doc text joins on doc_id = vec_id (the
    * testdata convention, same as q101). Salience stays integer-exact
    * (tf · (10⁶ div cluster_df)) so the output hash-checks.
    * Scale: one corpus-grain term aggregate at (cid, term) — map-side
    * combinable; cluster-df and the rank window run over vocabulary-sized
    * relations, partitioned by cid. */
  /** The topic-card report over ANY (vec_id, cid) assignment — q109
    * anchors it on the literal k=4 centroids (oracle-hash-checkable);
    * `clusterCardsTrained` composes the same report over the real
    * √N̅-cluster trained model. */
  private[graft] def clusterCards(assigned: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val terms = docs
        .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("term"))
        .join(assigned, col("doc_id") === col("vec_id"))
      val tf = terms.groupBy(col("cid"), col("term")).agg(count(lit(1)).as("tf"))
      // `tf >= 1` is an always-true anchor (count(*) ≥ 1): without it the
      // cluster-df branch's copy of the (cid, term) aggregate prunes the
      // tf column, stops canonicalizing equal to the join branch's copy,
      // and the whole tokenize+assign+aggregate pipeline — including the
      // assignment broadcast build — executes twice. Anchored, the cdf
      // branch re-reads the same exchange (ReusedExchange; one pass).
      val cdf = tf.filter(col("tf") >= 1)
        .groupBy(col("term")).agg(count(lit(1)).as("cdf"))
      val w = Window.partitionBy(col("cid"))
        .orderBy(col("salience").desc, col("term").asc)
      tf.join(cdf, "term")
        .withColumn("salience", expr("tf * (1000000 div cdf)"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("cid"), col("rank"), col("term"), col("tf"),
          col("cdf"), col("salience"))
  }

  /** Topic cards over the TRAINED clustering (√N̅ Lloyd centroids, same
    * assignment as `semdedupTrained`) — the report a curator actually reads:
    * one card per real cluster. Same vocabulary-grain plan as q109; the
    * only difference is the assignment source. */
  def clusterCardsTrained(s: org.apache.spark.sql.SparkSession, dir: String,
      iters: Int = 3): org.apache.spark.sql.DataFrame =
    clusterCards(
      trainedAssignment(s, dir, iters).select(col("vec_id"), col("cid")),
      Tables(s, dir, "documents"))

  val q109ClusterCards: Q = Q(
    "q109_cluster_cards",
    (s, dir) => clusterCards(
      assignLiteral(embWithNorm(s, dir), kmeansInit).select(col("vec_id"), col("cid")),
      Tables(s, dir, "documents")),
    Some {
      val scoreDefs = kmeansInit.zipWithIndex.map { case (c, i) =>
        val cc = c.map(v => v * v).sum
        s"    $cc - 2.0 * list_dot_product(emb, ${arraySql(c)}) AS s$i"
      }.mkString(",\n")
      s"""WITH $embOracleCte,
         |scored AS (
         |  SELECT vec_id, emb,
         |$scoreDefs
         |  FROM e),
         |assigned AS (
         |  SELECT vec_id,
         |    CAST(CASE
         |      WHEN s0 <= s1 AND s0 <= s2 AND s0 <= s3 THEN 0
         |      WHEN s1 <= s2 AND s1 <= s3 THEN 1
         |      WHEN s2 <= s3 THEN 2
         |      ELSE 3 END AS BIGINT) AS cid
         |  FROM scored),
         |terms AS (
         |  SELECT a.cid, unnest(regexp_split_to_array(trim(d.text), '\\s+')) AS term
         |  FROM documents d JOIN assigned a ON d.doc_id = a.vec_id),
         |tf AS (
         |  SELECT cid, term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM terms GROUP BY cid, term),
         |cdf AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cdf FROM tf GROUP BY term)
         |SELECT cid, rank, term, tf, cdf, salience FROM (
         |  SELECT tf.cid, tf.term, tf.tf, cdf.cdf,
         |    tf.tf * (1000000 // cdf.cdf) AS salience,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.cid
         |      ORDER BY tf.tf * (1000000 // cdf.cdf) DESC, tf.term ASC)
         |      AS BIGINT) AS rank
         |  FROM tf JOIN cdf USING (term)) r
         |WHERE rank <= 5""".stripMargin
    })

  val all: Seq[Q] = Seq(q35BruteForceTopK, q36LshTopK, q37IvfTopK, q38LshPairs,
    q62KmeansStep, q65PqAdc, q75VectorStats, q85SemDedup, q109ClusterCards,
    q110LshScaled, q111EmbeddingClusters)
}
