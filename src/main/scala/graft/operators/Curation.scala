package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** The capstone composition: run the curation verdicts (q67), keep the
  * surviving documents, assign them to fixed token-budget training shards
  * (q83's distributed prefix sum), and write a shard-partitioned corpus —
  * the end-to-end "raw lake in, training set out" path a user of this
  * library actually runs. Every stage is an already-oracle-checked
  * operator; this wires them into one DAG and one partitioned write.
  */
object Curation {

  /** Kept documents with their audit fields, shard ids, and text — ready
    * to write. Shard ids are assigned AFTER filtering (so shards pack
    * contiguously over survivors, no holes from dropped docs). */
  def trainingSet(spark: SparkSession, dir: String,
      tokenBudget: Long = 2000L): DataFrame = {
    val kept = Dedup.q67CurationPipeline.run(spark, dir)
      .filter(col("kept"))
      .select(col("doc_id"), col("predicted_lang"), col("quality_score"))
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val toks = kept.join(docs, "doc_id")
      .withColumn("tokens", size(TextAnalysis.words(col("text"))).cast("long"))
      .withColumn("bucket", expr("doc_id div 256"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
    val wB = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
    val offsets = toks.groupBy(col("bucket"))
      .agg(sum(col("tokens")).as("btotal"))
      .withColumn("boffset", coalesce(
        sum(col("btotal")).over(wB.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("boffset"))
    toks.withColumn("within", sum(col("tokens")).over(wIn))
      .join(offsets, "bucket")
      .select(col("doc_id"), col("predicted_lang"), col("quality_score"),
        col("tokens"), col("text"),
        expr(s"(boffset + within - tokens) div $tokenBudget").as("shard_id"))
  }

  /** Write the curated corpus partitioned by shard — one directory per
    * training shard, each holding ~tokenBudget tokens of clean text. */
  def exportTrainingSet(spark: SparkSession, dir: String, outPath: String,
      tokenBudget: Long = 2000L): Unit =
    trainingSet(spark, dir, tokenBudget)
      .repartition(col("shard_id"))
      .write.mode("overwrite")
      .partitionBy("shard_id")
      .parquet(outPath)

  /** The md5 epoch shuffle key — ONE definition shared by q106, q107, and
    * `exportEpoch` so the deal convention can never drift between the
    * oracle-checked queries and the export path. */
  private[operators] def epochKey(epoch: Int): org.apache.spark.sql.Column =
    md5(concat(lit(s"epoch$epoch:"), col("doc_id").cast("string")).cast("binary"))

  /** Epoch-shuffled order + token-budget shard assignment over a relation
    * carrying (doc_id, tokens, shuffle_key): adds train_pos, cum_tokens,
    * shard_id via one `Ranks.withGlobalOrder` pass (q107's shape). */
  private[operators] def packEpochShards(keyed: DataFrame,
      tokenBudget: Long): DataFrame =
    Ranks.withGlobalOrder(keyed,
        Seq(col("shuffle_key").asc, col("doc_id").asc), "train_pos",
        running = Seq((col("tokens"), "cum_tokens")),
        sampleOn = Some(col("doc_id")))
      .withColumn("shard_id", expr(s"(cum_tokens - tokens) div $tokenBudget"))

  /** EPOCH export — the full per-epoch training-data deal: curation
    * survivors (q67 verdicts) → epoch-keyed deterministic shuffle →
    * token-budget shard packing IN SHUFFLED ORDER (q106/q107's single
    * `Ranks.withGlobalOrder` pass) → shard-partitioned write. Each epoch's
    * shards are an unbiased re-deal of the survivors (doc_id-range shards
    * bias a shard toward ingestion order); changing `epoch` re-permutes
    * with zero state. Returns the exported relation for inspection
    * (shard_id cast back to LONG — Hive partition inference reads INT). */
  def exportEpoch(spark: SparkSession, dir: String, outPath: String,
      epoch: Int, tokenBudget: Long = 2000L): DataFrame = {
    val kept = Dedup.q67CurationPipeline.run(spark, dir)
      .filter(col("kept"))
      .select(col("doc_id"), col("predicted_lang"), col("quality_score"))
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val keyed = kept.join(docs, "doc_id")
      .withColumn("tokens", size(TextAnalysis.words(col("text"))).cast("long"))
      .withColumn("shuffle_key", epochKey(epoch))
    val packed = packEpochShards(keyed, tokenBudget)
      .select(col("doc_id"), col("predicted_lang"), col("quality_score"),
        col("tokens"), col("train_pos"), col("text"), col("shard_id"))
    // Staged write + rename swap (ScaleLayout.stagedSwap): a direct
    // `overwrite` of an existing outPath deletes the old epoch BEFORE the
    // job runs, so a mid-job task failure would leave the export neither
    // old nor new. Staging keeps the previous epoch readable until the new
    // one is fully committed; the swap is two directory renames.
    val staging = outPath + ".stage"
    val fs = new org.apache.hadoop.fs.Path(outPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ScaleLayout.withFailpoint(packed.repartition(col("shard_id")), staging)
      .write.mode("overwrite").partitionBy("shard_id").parquet(staging)
    ScaleLayout.stagedSwap(fs, outPath, staging)
    spark.read.parquet(outPath)
      .withColumn("shard_id", col("shard_id").cast("long"))
  }

  /** q88 — deterministic eval carve-out: exactly k=2 held-out documents per
    * (source, lang) stratum, chosen by md5-rank — retry-stable,
    * partitioning-independent, and reproducible from the data alone (no
    * RNG state to version). The standard "carve a fixed eval set before
    * training" step; q50 is the rate-based cousin, this is the exact-k one.
    * Scale: one window per stratum — the sort key is an 8-byte-prefix
    * comparison on a 32-char hex string, and strata partition the corpus so
    * the windows parallelize; a stratum too large for one partition would
    * switch to the q50 rate shape instead. */
  val q88EvalCarveout: Q = Q(
    "q88_eval_carveout",
    (s, dir) => {
      val w = Window.partitionBy(col("source"), col("lang"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("split", when(col("rk") <= 2, "eval").otherwise("train"))
    },
    Some("""SELECT doc_id, source, lang, CAST(rk AS BIGINT) AS rk,
      |  CASE WHEN rk <= 2 THEN 'eval' ELSE 'train' END AS split
      |FROM (SELECT doc_id, source, lang,
      |        ROW_NUMBER() OVER (PARTITION BY source, lang
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |      FROM documents) t""".stripMargin))

  /** q89 — domain-mixture resampling (temperature reweighting, τ = 0.5):
    * per-source sampling rates ∝ √count / count flatten the domain
    * distribution (the multilingual-corpus balancing trick), targeting a
    * 200-doc corpus; each doc keeps or drops by a portable md5-uniform
    * draw, so the sample is deterministic and the per-source totals are
    * oracle-checked. Exactness: √ is IEEE-correctly-rounded (bitwise equal
    * in both engines), but Σ√cnt over sources is order-sensitive in
    * doubles — so the weights are quantized to BIGINT on the 2^-20 grid
    * first (q62's technique), summed exactly, and divided once. The
    * uniform draw is the first 48 bits of md5 compared against rate·2^48 —
    * all exact double ops. Scale: rates are one domain-sized aggregate
    * (broadcasts by definition), keep/drop is map-side. */
  val q89DomainMixture: Q = Q(
    "q89_domain_mixture",
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
      val rates = docs.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .withColumn("w",
          floor(sqrt(col("cnt").cast("double")) * lit(1048576.0) + lit(0.5)).cast("long"))
        .withColumn("wsum", sum(col("w")).over(Window.partitionBy()))
        .withColumn("rate", least(lit(1.0),
          ((col("w").cast("double") / col("wsum").cast("double")) * lit(200.0))
            / col("cnt").cast("double")))
      docs.join(broadcast(rates), Seq("source"))
        .withColumn("u48", graft.expressions.Md5Prefix.of(
          concat(col("doc_id").cast("string"), lit(":"), col("source")).cast("binary"), 12))
        .withColumn("kept",
          col("u48").cast("double") < col("rate") * lit(281474976710656.0))
        .groupBy(col("source"))
        .agg(max(col("cnt")).as("cnt"), max(col("w")).as("w"),
          max(col("rate")).as("rate"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"))
    },
    Some("""WITH counts AS (
      |  SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
      |weighted AS (
      |  SELECT source, cnt,
      |    CAST(floor(sqrt(CAST(cnt AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS w
      |  FROM counts),
      |rates AS (
      |  SELECT source, cnt, w,
      |    least(CAST(1.0 AS DOUBLE),
      |      ((CAST(w AS DOUBLE) / CAST((CAST(SUM(w) OVER () AS BIGINT)) AS DOUBLE)) * 200.0)
      |        / CAST(cnt AS DOUBLE)) AS rate
      |  FROM weighted),
      |drawn AS (
      |  SELECT d.source, r.cnt, r.w, r.rate,
      |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.source), 1, 12)) AS BIGINT) AS u48
      |  FROM documents d JOIN rates r ON r.source = d.source)
      |SELECT source, MAX(cnt) AS cnt, MAX(w) AS w, MAX(rate) AS rate,
      |  CAST(SUM(CASE WHEN CAST(u48 AS DOUBLE) < rate * 281474976710656.0
      |       THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs
      |FROM drawn GROUP BY source""".stripMargin))

  /** q91 — per-source length-gate report: exact word-count quantiles
    * (q69's rank-selection technique — no interpolation ambiguity) plus the
    * pass rate of the standard [20, 80]-word length filter, per source
    * domain. The "should this domain's length gate move" diagnostic a
    * curation pipeline reviews before changing filters. One window shuffle
    * on source + one aggregate; sorts stay per-group. */
  val q91LengthGates: Q = Q(
    "q91_length_gates",
    (s, dir) => {
      val wOrd = Window.partitionBy(col("source")).orderBy(col("wc").asc, col("doc_id").asc)
      val wAll = Window.partitionBy(col("source"))
      def target(p: Int) = expr(s"(cnt - 1) * $p div 100 + 1")
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextAnalysis.words(col("text"))).cast("long").as("wc"))
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .groupBy(col("source"))
        .agg(
          max(col("cnt")).as("n_docs"),
          min(when(col("rn") === target(25), col("wc"))).as("p25_words"),
          min(when(col("rn") === target(50), col("wc"))).as("p50_words"),
          min(when(col("rn") === target(75), col("wc"))).as("p75_words"),
          sum(when(col("wc").between(20, 80), 1L).otherwise(0L)).as("pass_docs"))
        .select(col("source"), col("n_docs"), col("p25_words"), col("p50_words"),
          col("p75_words"), col("pass_docs"),
          (col("pass_docs").cast("double") / col("n_docs").cast("double")).as("pass_rate"))
    },
    Some(raw"""WITH wcs AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS wc
      |  FROM documents),
      |r AS (
      |  SELECT source, wc,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY wc ASC, doc_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM wcs)
      |SELECT source,
      |  CAST(MAX(cnt) AS BIGINT) AS n_docs,
      |  MIN(CASE WHEN rn = (cnt - 1) * 25 // 100 + 1 THEN wc END) AS p25_words,
      |  MIN(CASE WHEN rn = (cnt - 1) * 50 // 100 + 1 THEN wc END) AS p50_words,
      |  MIN(CASE WHEN rn = (cnt - 1) * 75 // 100 + 1 THEN wc END) AS p75_words,
      |  CAST(SUM(CASE WHEN wc BETWEEN 20 AND 80 THEN 1 ELSE 0 END) AS BIGINT) AS pass_docs,
      |  CAST(CAST(SUM(CASE WHEN wc BETWEEN 20 AND 80 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
      |    / CAST(MAX(cnt) AS DOUBLE) AS pass_rate
      |FROM r GROUP BY source""".stripMargin))

  /** q106 — deterministic epoch shuffle (training data ordering): every
    * reproducible training run needs a corpus-wide permutation that is (a)
    * pseudo-random, (b) identical across re-runs and engines, (c) cheap to
    * re-derive per epoch. The shuffle key is md5("epoch1:" ++ doc_id) —
    * engine-portable, uniform, and changing the epoch prefix re-permutes
    * the corpus with zero state. The global position comes from
    * `Ranks.withGlobalOrder` (range-partition + offsets), NOT a global
    * window — so materializing a full training order stays distributed at
    * any corpus size. Composes with q83 (shard packing) for
    * order-then-pack epoch exports. */
  val q106TrainOrder: Q = Q(
    "q106_train_order",
    (s, dir) => {
      val keyed = Tables(s, dir, "documents")
        .select(col("doc_id"), epochKey(1).as("shuffle_key"))
      Ranks.withGlobalOrder(keyed,
        Seq(col("shuffle_key").asc, col("doc_id").asc), "train_pos",
        sampleOn = Some(col("doc_id")))
    },
    Some("""SELECT doc_id,
      |  md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
      |  CAST(ROW_NUMBER() OVER (
      |    ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR)), doc_id)
      |    AS BIGINT) AS train_pos
      |FROM documents""".stripMargin))

  /** q107 — epoch-shuffled shard packing: the composition an actual
    * training-data export runs per epoch — permute the corpus with the
    * q106 epoch key, then pack documents into fixed token-budget shards IN
    * SHUFFLED ORDER (so each shard is an unbiased sample, not a doc_id
    * range). Both the position and the running token total come out of ONE
    * `Ranks.withGlobalOrder` pass (rank + running sum share the same range
    * partitioning), so the whole operator is: map-side key+count → one
    * range shuffle → offsets broadcast. A shard is where a doc's FIRST
    * token lands (q83's convention). Changing the epoch literal re-deals
    * every shard with zero state. */
  val q107EpochShards: Q = Q(
    "q107_epoch_shards",
    (s, dir) => {
      val budget = 2000L
      val keyed = Tables(s, dir, "documents")
        .select(col("doc_id"), epochKey(1).as("shuffle_key"),
          size(TextAnalysis.words(col("text"))).cast("long").as("tokens"))
      packEpochShards(keyed, budget)
        .select(col("doc_id"), col("shuffle_key"), col("tokens"),
          col("train_pos"), col("cum_tokens"), col("shard_id"))
    },
    Some("""WITH keyed AS (
      |  SELECT doc_id,
      |    md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
      |  FROM documents),
      |ordered AS (
      |  SELECT doc_id, shuffle_key, tokens,
      |    CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
      |      AS train_pos,
      |    CAST(SUM(tokens) OVER (ORDER BY shuffle_key, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM keyed)
      |SELECT doc_id, shuffle_key, tokens, train_pos, cum_tokens,
      |  (cum_tokens - tokens) // 2000 AS shard_id
      |FROM ordered""".stripMargin))

  /** q112 core over any (source, text) relation — factored out so the spec
    * can plant a disjoint-vocabulary source pair. The pair grid comes from
    * a cross of the SOURCE-GRAIN relation (bounded set — documented tiny
    * cartesian, PlanAuditSpec deliberate list), left-joined to the
    * common-term aggregate: a pair sharing no terms still emits its row
    * with sum_min = 0, i.e. tv = (Q_a + Q_b)/2·10⁶ ≈ 1 — the inner join
    * alone would silently omit it. */
  private[graft] def sourceTv(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val tc = docs
        .select(col("source"), explode(TextAnalysis.words(col("text"))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
      val tot = tc.groupBy(col("source")).agg(sum(col("cnt")).as("tot"))
      val p = tc.join(tot, "source")
        .withColumn("q", expr("(1000000 * cnt) div tot"))
      val qtot = p.groupBy(col("source")).agg(sum(col("q")).as("qtot"))
      val a = p.select(col("source").as("source_a"), col("term"), col("q").as("qa"))
      val b = p.select(col("source").as("source_b"), col("term"), col("q").as("qb"))
      val common = a.join(b, Seq("term"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("common_terms"),
          sum(least(col("qa"), col("qb"))).as("sum_min"))
      // `qtot >= 0` is an always-true anchor (sum of non-negative q):
      // without it column pruning collapses the pair-grid's source list to
      // its own distinct-source pipeline straight off the corpus scan (two
      // more tokenize passes); anchored it re-reads the qtot aggregate's
      // exchange (ReusedExchange — executed plan: 1 corpus scan, was 3).
      val srcs = qtot.filter(col("qtot") >= 0).select(col("source"))
      val grid = srcs.toDF("source_a").crossJoin(srcs.toDF("source_b"))
        .filter(col("source_a") < col("source_b"))
      grid.join(common, Seq("source_a", "source_b"), "left")
        .na.fill(0L, Seq("common_terms", "sum_min"))
        .join(qtot.toDF("source_a", "qtot_a"), "source_a")
        .join(qtot.toDF("source_b", "qtot_b"), "source_b")
        .select(col("source_a"), col("source_b"), col("common_terms"),
          (col("qtot_a") + col("qtot_b") - lit(2L) * col("sum_min")).as("tv_scaled"),
          ((col("qtot_a") + col("qtot_b") - lit(2L) * col("sum_min")).cast("double")
            / lit(2000000.0)).as("tv"))
  }

  /** q112 — source-similarity matrix: pairwise TOTAL-VARIATION distance
    * between per-source unigram distributions — the domain-similarity
    * input to mixture design (which sources are near-duplicates of each
    * other's distribution, which are outliers; feeds q89's rates).
    *
    * TV needs no logs (unlike KL), so it stays integer-exact and
    * hash-checkable: per-source probabilities quantize to q = (10⁶·cnt)
    * div total, and for a pair (a, b),  Σ_t |q_a − q_b| over the UNION
    * vocabulary = Q_a + Q_b − 2·Σ_{t∈both} min(q_a, q_b) — so one INNER
    * join on term (terms private to one source contribute via the Q
    * totals) computes the whole union-sum. tv = that / (2·10⁶) ∈ [0, 1].
    * Scale shape: one (source, term) count aggregate (map-side
    * combinable), a source-grain totals relation (broadcasts), and a
    * term-keyed self-join whose fan-out is sources-per-term choose 2 —
    * vocabulary-linear for a bounded source set. */
  val q112SourceSimilarity: Q = Q(
    "q112_source_similarity",
    (s, dir) => sourceTv(Tables(s, dir, "documents")),
    Some("""WITH tc AS (
      |  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |        FROM documents) x
      |  GROUP BY source, term),
      |tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot FROM tc GROUP BY source),
      |p AS (
      |  SELECT tc.source, tc.term, (1000000 * tc.cnt) // tot.tot AS q
      |  FROM tc JOIN tot ON tc.source = tot.source),
      |qt AS (SELECT source, CAST(SUM(q) AS BIGINT) AS qtot FROM p GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(COUNT(*) AS BIGINT) AS common_terms,
      |    CAST(SUM(least(a.q, b.q)) AS BIGINT) AS sum_min
      |  FROM p a JOIN p b ON a.term = b.term AND a.source < b.source
      |  GROUP BY a.source, b.source),
      |grid AS (
      |  SELECT a.source AS source_a, b.source AS source_b
      |  FROM qt a JOIN qt b ON a.source < b.source)
      |SELECT g.source_a, g.source_b,
      |  CAST(COALESCE(pairs.common_terms, 0) AS BIGINT) AS common_terms,
      |  qa.qtot + qb.qtot - 2 * CAST(COALESCE(pairs.sum_min, 0) AS BIGINT) AS tv_scaled,
      |  CAST(qa.qtot + qb.qtot - 2 * COALESCE(pairs.sum_min, 0) AS DOUBLE) / 2000000.0 AS tv
      |FROM grid g
      |LEFT JOIN pairs ON pairs.source_a = g.source_a AND pairs.source_b = g.source_b
      |JOIN qt qa ON qa.source = g.source_a
      |JOIN qt qb ON qb.source = g.source_b""".stripMargin))

  val all: Seq[Q] = Seq(q88EvalCarveout, q89DomainMixture, q91LengthGates,
    q106TrainOrder, q107EpochShards, q112SourceSimilarity)
}
