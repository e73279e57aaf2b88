package graft.operators

import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Distributed model-training supersteps over the documents corpus — the
  * "learn a quality/language classifier from corpus signals" stage of a
  * training-data pipeline (the reference's analytics stack stops at
  * descriptive marts; this is the extension surface's supervised rung,
  * joining the iterative family: q62 k-means, q68 PageRank, q98 BPE).
  *
  * Determinism rules (the reason these hash-match a DuckDB oracle): every
  * per-row feature is an exact BIGINT; sums of BIGINTs are order-independent;
  * doubles appear only in FINAL per-row expressions whose operands are
  * integers < 2⁵³ (exact conversions) combined with the same literal
  * structure on both engines — identical IEEE ops, identical bytes.
  */
object Learn {

  /** Integer weight numerators, denominator 1000 (so w·x lives in BIGINTs):
    * bias, word_count, char_len, stopword_count. */
  val W: Seq[(String, Long)] = Seq(
    "bias" -> -2000L, "word_count" -> 30L, "char_len" -> -5L, "stop_count" -> 400L)

  /** q99 — one batch perceptron update: classify lang='en' (+1) vs rest
    * (-1) from three exact integer features + bias, find the misclassified
    * set under the fixed scaled-integer weights, and emit per-feature
    * gradient and updated weight (η = 10⁻³ on the 10⁻³-scaled weights →
    * one division by 10⁶ at the very end). The whole step is one scan +
    * one 4-counter global aggregate — a training iteration at 100 TB costs
    * exactly one pass, the textbook map-side-combine shape (the driver
    * loop feeds w_new back in, same protocol as q62/q68). */
  val q99PerceptronStep: Q = Q(
    "q99_perceptron_step",
    (s, dir) => {
      val feats = Tables(s, dir, "documents")
        .withColumn("w", TextAnalysis.words(col("text")))
        .select(
          when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
          size(col("w")).cast("long").as("wc"),
          length(col("text")).cast("long").as("cl"),
          TextAnalysis.stopwordCount(col("w")).as("sc"))
        .withColumn("m",
          lit(W(0)._2) + lit(W(1)._2) * col("wc") +
          lit(W(2)._2) * col("cl") + lit(W(3)._2) * col("sc"))
        .withColumn("mis", col("y") * col("m") <= 0)
      val g = feats.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("mis"), 1L).otherwise(0L)).as("n_mis"),
        sum(when(col("mis"), col("y")).otherwise(0L)).as("g0"),
        sum(when(col("mis"), col("y") * col("wc")).otherwise(0L)).as("g1"),
        sum(when(col("mis"), col("y") * col("cl")).otherwise(0L)).as("g2"),
        sum(when(col("mis"), col("y") * col("sc")).otherwise(0L)).as("g3"))
      g.select(col("n_docs"), col("n_mis"), explode(array(
          W.zipWithIndex.map { case ((name, wi), i) =>
            struct(lit(name).as("feature"), lit(wi).as("w_int"),
              col(s"g$i").as("grad"))
          }: _*)).as("f"))
        .select(
          col("f.feature").as("feature"),
          col("n_docs"), col("n_mis"),
          (col("f.w_int").cast("double") / lit(1000.0)).as("w_old"),
          col("f.grad").as("grad"),
          ((col("f.w_int") * lit(1000L) + col("f.grad")).cast("double")
            / lit(1000000.0)).as("w_new"))
    },
    Some {
      val featSql =
        """SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
          |    CAST(len(w) AS BIGINT) AS wc,
          |    CAST(length(text) AS BIGINT) AS cl,
          |    CAST(len(list_filter(w, x -> list_contains(['the','a','of','and'], x))) AS BIGINT) AS sc
          |  FROM (SELECT lang, text, regexp_split_to_array(trim(text), '\s+') AS w
          |        FROM documents) raw""".stripMargin
      val rows = W.zipWithIndex.map { case ((name, wi), i) =>
        s"""SELECT '$name' AS feature, n_docs, n_mis,
           |  CAST($wi AS DOUBLE) / 1000.0 AS w_old, g$i AS grad,
           |  CAST($wi * 1000 + g$i AS DOUBLE) / 1000000.0 AS w_new FROM g""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH f AS (
         |  SELECT y, wc, cl, sc,
         |    ${W(0)._2} + ${W(1)._2} * wc + ${W(2)._2} * cl + ${W(3)._2} * sc AS m
         |  FROM ($featSql) feat
         |), g AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN y * m <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mis,
         |    CAST(SUM(CASE WHEN y * m <= 0 THEN y ELSE 0 END) AS BIGINT) AS g0,
         |    CAST(SUM(CASE WHEN y * m <= 0 THEN y * wc ELSE 0 END) AS BIGINT) AS g1,
         |    CAST(SUM(CASE WHEN y * m <= 0 THEN y * cl ELSE 0 END) AS BIGINT) AS g2,
         |    CAST(SUM(CASE WHEN y * m <= 0 THEN y * sc ELSE 0 END) AS BIGINT) AS g3
         |  FROM f)
         |$rows""".stripMargin
    })

  /** q100 — χ² term–class association (feature selection for corpus
    * classifiers: which vocabulary terms most separate lang='en' documents
    * from the rest — the scoring behind fastText-style keyword filters).
    * Presence-based 2×2 contingency per term: a/b = en/other docs
    * containing it, c/d = the complements. All contingency arithmetic is
    * exact BIGINT; χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) converts the
    * (< 2⁵³) integers to doubles in one fixed expression shape. Terms in
    * < 5 or = N documents are excluded (degenerate margins), and a
    * single-class corpus (n_en = 0 or N, where χ² is 0/0 for every term)
    * yields the empty result instead of NaN rows. Scale shape:
    * distinct-(doc,term) explode (+ one null-term sentinel per doc) → ONE
    * term-keyed count aggregate, read by both the class-totals branch
    * (its null-term group) and the per-term branch (shared exchange — the
    * corpus is tokenized once) → tiny broadcast cross with the one-row
    * totals → top-30 TakeOrderedAndProject. */
  val q100Chi2Terms: Q = Q(
    "q100_chi2_terms",
    (s, dir) => {
      // One corpus pass for BOTH the per-term contingency counts and the
      // class totals: every document emits one SENTINEL row (null term —
      // a real term is never null: whitespace-split tokens are non-null
      // strings) alongside its distinct terms, so the null-term group of
      // the one term-keyed aggregate carries a = n_en, a + b = n_docs.
      // The sentinel survives null/empty text via the coalesce (null
      // `words` would null the whole concat), matching the old separate
      // COUNT(*) scan on corrupt rows. Each branch then selects its rows
      // with a single CASE predicate over the AGGREGATE OUTPUTS (not a
      // bare term IS [NOT] NULL conjunct, which PushDownPredicates would
      // push below the aggregate into that branch's copy — un-sharing the
      // exchange and re-tokenizing the corpus): both predicates are
      // non-pushable and always equivalent to the null test (a + b =
      // group row count ≥ 1 for every group).
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(0L).as("en"),
          explode(concat(
            array(lit(null).cast("string")),
            coalesce(array_distinct(TextAnalysis.words(col("text"))),
              array().cast("array<string>")))).as("term"))
      val counts = docs.groupBy(col("term")).agg(
        sum(col("en")).as("a"),
        sum(lit(1L) - col("en")).as("b"))
      val totals = counts
        .filter(when(col("term").isNull, col("a") + col("b"))
          .otherwise(lit(-1L)) >= 0L)
        .select((col("a") + col("b")).as("n_docs"), col("a").as("n_en"))
      val c2 = counts
        .filter(when(col("term").isNotNull, col("a") + col("b"))
          .otherwise(lit(-1L)) >= 1L)
        .crossJoin(broadcast(totals))
        .filter(col("a") + col("b") >= 5 && col("a") + col("b") < col("n_docs"))
        // degenerate class margins: a single-class corpus (all or no docs
        // 'en') makes (a+c) or (b+d) zero → 0/0 = NaN for EVERY term and the
        // top-30 order collapses to NaN placement. Guard here (inactive on
        // mixed corpora, so the oracle hash is unchanged) rather than
        // documenting a precondition.
        .filter(col("n_en") > 0 && col("n_en") < col("n_docs"))
        .withColumn("c", col("n_en") - col("a"))
        .withColumn("d", col("n_docs") - col("n_en") - col("b"))
        .withColumn("adbc", col("a") * col("d") - col("b") * col("c"))
        .withColumn("chi2",
          col("n_docs").cast("double") * col("adbc").cast("double")
            * col("adbc").cast("double")
            / ((col("a") + col("b")).cast("double")
              * (col("c") + col("d")).cast("double")
              * (col("a") + col("c")).cast("double")
              * (col("b") + col("d")).cast("double")))
      c2.select(col("term"), col("a"), col("b"), col("c"), col("d"), col("chi2"))
        .orderBy(col("chi2").desc, col("term").asc)
        .limit(30)
    },
    Some("""WITH pres AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents
      |), tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
      |  FROM documents
      |), counts AS (
      |  SELECT term, CAST(SUM(en) AS BIGINT) AS a,
      |    CAST(SUM(1 - en) AS BIGINT) AS b
      |  FROM pres GROUP BY term
      |), c2 AS (
      |  SELECT term, a, b, n_en - a AS c, n_docs - n_en - b AS d,
      |    a * (n_docs - n_en - b) - b * (n_en - a) AS adbc, n_docs
      |  FROM counts CROSS JOIN tot
      |  WHERE a + b >= 5 AND a + b < n_docs
      |    AND n_en > 0 AND n_en < n_docs
      |)
      |SELECT term, a, b, c, d,
      |  CAST(n_docs AS DOUBLE) * CAST(adbc AS DOUBLE) * CAST(adbc AS DOUBLE)
      |    / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
      |       * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) AS chi2
      |FROM c2
      |ORDER BY chi2 DESC, term ASC LIMIT 30""".stripMargin))

  /** One row per in-document bigram occurrence (doc_id, lang, a, b) —
    * the token stream both LM operators consume. The bigram columns are
    * wrapped `notNull` (valid in-range element_at over split tokens can
    * never be null): without it, the scoring join's inferred
    * isnotnull(a)/isnotnull(b) constraints push into ITS copy of the
    * bigram-count subtree while the prefix-count (c1/ones) branch only
    * infers isnotnull(a) — the two copies of the (a, b) count aggregate
    * stop canonicalizing equal and the whole tokenize+explode+count
    * pipeline runs a THIRD time (executed q102/q103 plans: 3 corpus
    * scans; with non-nullable keys the prefix branch re-reads the count
    * aggregate's exchange — 2 scans, the two-pass design shape). */
  private def docBigrams(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Tables(s, dir, "documents")
      .withColumn("w", TextAnalysis.words(col("text")))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"), col("w"))
      .select(col("doc_id"), col("lang"),
        graft.functions.Cleanse.notNull(element_at(col("w"), col("i"))).as("a"),
        graft.functions.Cleanse.notNull(element_at(col("w"), col("i") + 1)).as("b"))

  /** Scale guard for the corpus-LM join (VERDICT r17 finding 1): a bigram
    * LM is vocab²-BOUNDED but corpus-GROWN — at the sweep SFs it is a few
    * thousand rows (broadcast is trivially the right plan), but a
    * web-scale corpus yields 10⁸–10¹⁰ distinct bigrams (tens of GB), and
    * Spark hard-fails any broadcast above 8 GB, so an unconditionally
    * forced `broadcast()` hint is a scale-killer at the 100 TB design
    * point. memoLevelFor-style (SessionLedger) pure decision: hint the
    * broadcast only while the documents corpus's ON-DISK footprint — one
    * filesystem metadata call, valid on HDFS/S3 via the Hadoop FS API, and a hard upper bound on the LM's distinct-bigram
    * row count since the aggregate can't outgrow its input's occurrences —
    * stays under the cap. Above the cap the join is left UNHINTED: it
    * plans as a shuffle join, and AQE may still upgrade it to a broadcast
    * at runtime from the MEASURED post-aggregate size (the decision we
    * actually want on a cluster — LmJoinGuardSpec pins both directions
    * and the un-hinted path's hash-exactness). */
  private[graft] def lmBroadcastFor(corpusBytes: Long, capBytes: Long): Boolean =
    corpusBytes > 0 && corpusBytes <= capBytes

  /** Test hook (LmJoinGuardSpec's planted large-vocab fixture): lets one
    * JVM exercise both sides of the cap without env forks. Production
    * mains never set it. */
  @volatile private[graft] var lmBroadcastCapOverride: Option[Long] = None

  /** Default 1 GiB of on-disk corpus: covers every sweep decade here
    * (sf100's documents ≈ 0.6 GB) with the forced-hint plan the sf10/sf100
    * adjudications certified, while any real multi-TB corpus degrades to
    * the shuffle join. */
  private[graft] def lmBroadcastCap: Long = lmBroadcastCapOverride.getOrElse(1L << 30)

  private[graft] def corpusBytes(
      s: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  private def lmHinted(s: org.apache.spark.sql.SparkSession, dir: String,
      lm: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (lmBroadcastFor(corpusBytes(s, dir), lmBroadcastCap)) broadcast(lm)
    else lm

  /** q102 — bigram language-model fluency scoring (the KenLM-style
    * perplexity filter of LLM data pipelines, made cross-engine exact):
    * train the bigram LM on the corpus itself (c2 = bigram count, c1 =
    * prefix count, one aggregate each), then score every document by its
    * mean transition probability. Each probability is INTEGER-quantized —
    * q = (10⁶·c2) div c1, exact floor division in both engines — so the
    * per-doc sum is an order-independent BIGINT and only the final mean
    * divides as double. (True log-perplexity needs `ln`, which is not
    * bitwise-portable — see Ranking's probe; the mean-probability score
    * induces a usable fluency ORDER with exact arithmetic.) Scale shape:
    * the count tables join back onto the token stream via [[lmHinted]] —
    * broadcast (map-side scoring pass) while the corpus is under the LM
    * cap, shuffle join above it; nothing corpus-sized ever shuffles
    * except the bigram count aggregate itself and, above the cap, the
    * scoring join's own hash exchange. */
  val q102BigramLm: Q = Q(
    "q102_bigram_lm",
    (s, dir) => {
      val bigrams = docBigrams(s, dir)
      val c2 = bigrams.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
      val c1 = c2.groupBy(col("a")).agg(sum(col("c2")).as("c1"))
      val lm = c2.join(c1, "a")
      bigrams
        .join(lmHinted(s, dir, lm), Seq("a", "b"))
        .withColumn("q", expr("(1000000 * c2) div c1"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sum_q"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_q"),
          (col("sum_q").cast("double") /
            (col("n_bigrams") * lit(1000000L)).cast("double")).as("fluency"))
    },
    Some("""WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents
      |), bg AS (
      |  SELECT doc_id,
      |    w[CAST(i.i AS INTEGER)] AS a, w[CAST(i.i AS INTEGER) + 1] AS b
      |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) i
      |  WHERE len(w) >= 2
      |), c2 AS (
      |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY a, b
      |), c1 AS (
      |  SELECT a, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY a
      |), scored AS (
      |  SELECT bg.doc_id, (1000000 * c2.c2) // c1.c1 AS q
      |  FROM bg JOIN c2 USING (a, b) JOIN c1 ON bg.a = c1.a
      |)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(q) AS BIGINT) AS sum_q,
      |  CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE) AS fluency
      |FROM scored GROUP BY doc_id""".stripMargin))

  /** q103 — DSIR-style importance weights (Xie et al. 2023's data-selection
    * shape): score every document under TWO bigram LMs — the TARGET model
    * trained on the lang='en' slice and the SOURCE model trained on the
    * whole corpus — and weight it by the ratio of mean transition
    * probabilities. Bigrams unseen by the target LM contribute probability
    * 0 (left join + COALESCE — the add-zero analogue of unseen-token
    * smoothing), so off-target documents sink. All per-bigram
    * probabilities are the same (10⁶·c)/prefix integer quantization as
    * q102; the weight is ONE double division of two exact BIGINTs. Docs
    * whose source score is zero are excluded (weight undefined). At scale
    * both LM tables ride ONE [[lmHinted]]-guarded join over a single
    * token-stream pass — broadcast under the corpus cap, shuffle above. */
  val q103DsirWeights: Q = Q(
    "q103_dsir_weights",
    (s, dir) => {
      // BOTH language models come out of ONE (a, b)-grain aggregate over
      // the bigram stream (target count = conditional sum on lang='en'),
      // so the corpus explodes twice (counting + scoring), not three
      // times, and one broadcast carries the combined LM. t2=0 marks a
      // bigram the target LM never saw — the same rows the two-relation
      // formulation's LEFT join missed (and when t2>0, t1>0 follows, so
      // the guarded div is total).
      val bigrams = docBigrams(s, dir)
      val counts = bigrams.groupBy(col("a"), col("b")).agg(
        count(lit(1)).as("s2"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t2"))
      val ones = counts.groupBy(col("a")).agg(
        sum(col("s2")).as("s1"), sum(col("t2")).as("t1"))
      val lm = counts.join(ones, "a")
      bigrams
        .join(lmHinted(s, dir, lm), Seq("a", "b"))
        .withColumn("qs", expr("(1000000 * s2) div s1"))
        .withColumn("qt", expr(
          "CASE WHEN t2 > 0 THEN (1000000 * t2) div t1 ELSE 0 END"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("qs")).as("sum_qs"), sum(col("qt")).as("sum_qt"))
        .filter(col("sum_qs") > 0)
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          col("sum_qs"), col("sum_qt"),
          (col("sum_qt").cast("double") / col("sum_qs").cast("double"))
            .as("dsir_weight"))
    },
    Some("""WITH d AS (
      |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents
      |), bg AS (
      |  SELECT doc_id, lang,
      |    w[CAST(i.i AS INTEGER)] AS a, w[CAST(i.i AS INTEGER) + 1] AS b
      |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) i
      |  WHERE len(w) >= 2
      |), s2 AS (
      |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS s2 FROM bg GROUP BY a, b
      |), s1 AS (
      |  SELECT a, CAST(SUM(s2) AS BIGINT) AS s1 FROM s2 GROUP BY a
      |), t2 AS (
      |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS t2
      |  FROM bg WHERE lang = 'en' GROUP BY a, b
      |), t1 AS (
      |  SELECT a, CAST(SUM(t2) AS BIGINT) AS t1 FROM t2 GROUP BY a
      |), scored AS (
      |  SELECT bg.doc_id, bg.lang,
      |    (1000000 * s2.s2) // s1.s1 AS qs,
      |    COALESCE((1000000 * t2.t2) // t1.t1, 0) AS qt
      |  FROM bg
      |  JOIN s2 USING (a, b) JOIN s1 ON bg.a = s1.a
      |  LEFT JOIN t2 USING (a, b) LEFT JOIN t1 ON bg.a = t1.a
      |), rolled AS (
      |  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(qs) AS BIGINT) AS sum_qs, CAST(SUM(qt) AS BIGINT) AS sum_qt
      |  FROM scored GROUP BY doc_id, lang
      |)
      |SELECT doc_id, lang, n_bigrams, sum_qs, sum_qt,
      |  CAST(sum_qt AS DOUBLE) / CAST(sum_qs AS DOUBLE) AS dsir_weight
      |FROM rolled WHERE sum_qs > 0""".stripMargin))

  /** Per-document exact-integer features + label (the q99 feature frame,
    * reusable across epochs — compute once, cache, iterate). */
  def features(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    Tables(spark, dir, "documents")
      .withColumn("w", TextAnalysis.words(col("text")))
      .select(
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
        size(col("w")).cast("long").as("wc"),
        length(col("text")).cast("long").as("cl"),
        TextAnalysis.stopwordCount(col("w")).as("sc"))
  }

  /** One epoch at micro-unit weights (scale 10⁻⁶): returns (n_mis, grads).
    * Sign of the margin is scale-invariant, so the integer protocol holds
    * across epochs without ever touching a double. */
  private def epoch(feats: org.apache.spark.sql.DataFrame, w: Seq[Long])
      : (Long, Seq[Long]) = {
    val m = lit(w(0)) + lit(w(1)) * col("wc") +
      lit(w(2)) * col("cl") + lit(w(3)) * col("sc")
    val mis = col("y") * m <= 0
    val row = feats.agg(
      sum(when(mis, 1L).otherwise(0L)),
      sum(when(mis, col("y")).otherwise(0L)),
      sum(when(mis, col("y") * col("wc")).otherwise(0L)),
      sum(when(mis, col("y") * col("cl")).otherwise(0L)),
      sum(when(mis, col("y") * col("sc")).otherwise(0L))).head()
    (row.getLong(0), (1 to 4).map(row.getLong))
  }

  /** Full perceptron training loop: batch updates w ← w + η·Σ y·x with
    * η = 10⁻⁶ (i.e. +grad in micro-units) for `epochs` rounds, starting
    * from `W`. Returns the (epoch, n_mis, weights) trajectory — epoch 0
    * is the pre-update state of q99. Each epoch is ONE distributed pass
    * (scan + 5-counter aggregate); the driver holds only the 4 weights,
    * so the loop costs epochs × one-job at any corpus size. */
  def perceptronTrain(spark: org.apache.spark.sql.SparkSession, dir: String,
      epochs: Int): Seq[(Int, Long, Seq[Long])] = {
    val feats = features(spark, dir).persist()
    try {
      var w = W.map(_._2 * 1000L) // 10⁻³-scale numerators → micro-units
      val traj = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Seq[Long])]
      for (e <- 0 until epochs) {
        val (nMis, g) = epoch(feats, w)
        traj += ((e, nMis, w))
        w = w.zip(g).map { case (wi, gi) => wi + gi }
      }
      traj.toSeq
    } finally feats.unpersist()
  }

  val all: Seq[Q] = Seq(q99PerceptronStep, q100Chi2Terms, q102BigramLm, q103DsirWeights)
}
