package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.Q
import graft.expressions.NormalizeText
import graft.sources.Tables

/** Text-analysis operators over the `documents` table (BASELINE.json north
  * star: language-ID, quality scoring, token counting, fingerprinting).
  * Everything is built-in expressions (split/regexp/higher-order functions) —
  * whole-stage codegen, no UDFs, embarrassingly parallel per-row → scales
  * linearly with input splits at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokenization of trimmed text (shared by all text ops).
    * Native byte-scan expression, value-exact to `split(trim(c), "\\s+")`
    * — the built-in recompiles the regex and round-trips the whole
    * document through java.lang.String per ROW (see WhitespaceTokens). */
  def words(c: Column): Column =
    graft.expressions.WhitespaceTokens.of(trim(c))

  /** Compiled per-term occurrence count over a words array — identical
    * semantics to `size(filter(w, x => x === lit(term)))` but one codegen'd
    * loop with no interpreted HOF and no intermediate array
    * (expressions.CountInArray; bit-parity pinned in SimilaritySpec). */
  def countTerm(wordsCol: Column, term: String): Column =
    Bridge.column(graft.expressions.CountInArray(
      Bridge.expression(wordsCol), Bridge.expression(lit(term))))

  /** Stopword occurrence count over a words array — value-identical to
    * `size(filter(w, x => array_contains(stopArr, x)))` (each word matches
    * at most one stopword, so the per-term counts sum to the filter size;
    * integer sum, cast only at the consumer), but four compiled
    * CountInArray loops instead of an interpreted HOF that evicts its
    * stage from whole-stage codegen (perf-lessons rule 1 — the last two
    * registry HOF sites, q24/q60/q67, converted round 13). */
  def stopwordCount(wordsCol: Column): Column =
    stopwords.map(t => countTerm(wordsCol, t)).reduce(_ + _)

  /** Word n-gram shingles (n=3) from a words-array column — the
    * MinHash/Jaccard feature set. REQUIRES size(wordsCol) >= 3: callers must
    * filter first (under ANSI mode element_at would throw out-of-bounds and
    * sequence(1,0) descends). Not deduplicated — explode then `.distinct()`
    * row-wise instead: wrapping this in when()/array_distinct forces the
    * whole projection onto the interpreted CodegenFallback path (measured
    * 18s vs 0.7s on the sf0.1 corpus). */
  def shingles(wordsCol: Column): Column =
    transform(
      sequence(lit(1), size(wordsCol) - 2),
      i => concat_ws(" ",
        element_at(wordsCol, i), element_at(wordsCol, i + 1), element_at(wordsCol, i + 2)))

  /** Stopword lexicon for the heuristic scorers. Tiny inline set matched to
    * the synthetic vocabulary; real pipelines swap in per-language lists. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and")

  /** Per-"language" marker words for the n-gram/stopword language-ID
    * heuristic (deterministic stand-in lexicon for the synthetic corpus). */
  val langLexicon: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of",
    "sqlish" -> "query", "sqlish" -> "table", "sqlish" -> "scan", "sqlish" -> "join",
    "streamish" -> "stream", "streamish" -> "window", "streamish" -> "batch")

  /** q20 — descriptive text statistics (length, words, distinct ratio). */
  val q20TextStats: Q = Q(
    "q20_text_stats",
    (s, dir) => Tables(s, dir, "documents")
      .withColumn("w", words(col("text")))
      .select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        length(col("text")).cast("long").as("char_len"),
        size(col("w")).cast("long").as("word_count"),
        size(array_distinct(col("w"))).cast("long").as("distinct_words"),
        (length(regexp_replace(col("text"), "\\s+", "")).cast("double") / size(col("w")))
          .as("avg_word_len")),
    Some("""SELECT doc_id, lang, source, n_chars,
      |  CAST(length(text) AS BIGINT) AS char_len,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS word_count,
      |  CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS distinct_words,
      |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
      |    / len(regexp_split_to_array(trim(text), '\s+')) AS avg_word_len
      |FROM documents""".stripMargin))

  /** q21 — token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / single digits / other symbols), rolled up per source. */
  val q21TokenCount: Q = Q(
    "q21_token_count",
    (s, dir) => Tables(s, dir, "documents")
      .select(col("source"),
        size(words(col("text"))).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
          .cast("long").as("bpe_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("bpe_tokens")).as("total_bpe_tokens"),
        max(col("bpe_tokens")).as("max_bpe_tokens")),
    Some("""SELECT source, COUNT(*) AS doc_count,
      |  CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
      |  CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
      |  MAX(bpe_tokens) AS max_bpe_tokens
      |FROM (SELECT source,
      |        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
      |        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
      |      FROM documents) t
      |GROUP BY source""".stripMargin))

  /** q22 — language ID by marker-word voting: explode words, broadcast-join
    * the lexicon, count matches per candidate language, argmax with pinned
    * tiebreak (matches DESC, lang ASC); unmatched docs → 'und'. */
  val q22LangId: Q = Q(
    "q22_lang_id",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val lex = langLexicon.toDF("cand_lang", "word")
      val matches = docs
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
        .join(broadcast(lex), Seq("word"))
        .groupBy(col("doc_id"), col("cand_lang"))
        .agg(count(lit(1)).as("matches"))
      val best = matches
        .groupBy(col("doc_id"))
        .agg(min(struct(negate(col("matches")).as("neg"), col("cand_lang").as("lang"))).as("top"))
        .select(col("doc_id"), col("top.lang").as("best_lang"),
          negate(col("top.neg")).as("match_count"))
      docs.select(col("doc_id"), col("lang").as("labeled_lang"))
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("labeled_lang"),
          coalesce(col("best_lang"), lit("und")).as("predicted_lang"),
          coalesce(col("match_count"), lit(0L)).as("match_count"))
    },
    Some("""WITH lex(cand_lang, word) AS (VALUES
      |  ('en','the'),('en','a'),('en','of'),
      |  ('sqlish','query'),('sqlish','table'),('sqlish','scan'),('sqlish','join'),
      |  ('streamish','stream'),('streamish','window'),('streamish','batch')),
      |exploded AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, cand_lang, COUNT(*) AS matches
      |  FROM exploded JOIN lex USING (word)
      |  GROUP BY doc_id, cand_lang),
      |best AS (
      |  SELECT doc_id, cand_lang AS best_lang, matches AS match_count
      |  FROM (SELECT doc_id, cand_lang, matches,
      |          ROW_NUMBER() OVER (PARTITION BY doc_id
      |                             ORDER BY matches DESC, cand_lang ASC) AS rn
      |        FROM scored) r
      |  WHERE rn = 1)
      |SELECT d.doc_id, d.lang AS labeled_lang,
      |  COALESCE(b.best_lang, 'und') AS predicted_lang,
      |  COALESCE(b.match_count, 0) AS match_count
      |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id""".stripMargin))

  /** q23 — document fingerprinting: whitespace-normalized lowercase md5,
    * grouped to find exact-duplicate clusters with a canonical (min) doc. */
  val q23Fingerprint: Q = Q(
    "q23_fingerprint",
    (s, dir) => Tables(s, dir, "documents")
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ").cast("binary"))
          .as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("cluster_size"), min(col("doc_id")).as("canonical_doc")),
    Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  COUNT(*) AS cluster_size, MIN(doc_id) AS canonical_doc
      |FROM documents GROUP BY 1""".stripMargin))

  /** q24 — quality scoring: length/diversity/stopword-ratio blend. The exact
    * double expression structure is mirrored in the oracle so per-row IEEE
    * arithmetic is identical. */
  val q24Quality: Q = Q(
    "q24_quality_score",
    (s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("w", words(col("text")))
        .withColumn("word_count", size(col("w")).cast("long"))
        .withColumn("distinct_ratio",
          size(array_distinct(col("w"))).cast("double") / col("word_count"))
        .withColumn("stopword_ratio",
          stopwordCount(col("w")).cast("double") / col("word_count"))
        .select(
          col("doc_id"), col("word_count"), col("distinct_ratio"), col("stopword_ratio"),
          (least(col("word_count").cast("double") / lit(100.0), lit(1.0)) * lit(0.3)
            + col("distinct_ratio") * lit(0.4)
            + (lit(1.0) - col("stopword_ratio")) * lit(0.3)).as("quality_score"))
    },
    Some("""SELECT doc_id, word_count, distinct_ratio, stopword_ratio,
      |  least(CAST(word_count AS DOUBLE) / 100.0, 1.0) * 0.3
      |    + distinct_ratio * 0.4
      |    + (1.0 - stopword_ratio) * 0.3 AS quality_score
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(w) AS BIGINT) AS word_count,
      |    CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS BIGINT) AS distinct_ratio,
      |    CAST(len(list_filter(w, x -> list_contains(['the','a','of','and'], x))) AS DOUBLE)
      |      / CAST(len(w) AS BIGINT) AS stopword_ratio
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |        FROM documents) raw) feat""".stripMargin))

  /** q64 — repetition signals (the Gopher/C4-style quality gates a training
    * corpus filters on): per-doc duplicate-word fraction, most-common-word
    * fraction, and the same two signals over 2-grams — high values mark
    * boilerplate/spam documents that length or stopword ratios (q24) miss.
    *
    * Plan: the doc_id hash partitioning satisfies every downstream
    * clustering — each branch's `groupBy(doc_id, token)`, its per-doc
    * rollup, AND the final join all run without further exchanges; the
    * token stream shuffles once per branch (word + bigram — Spark
    * materializes rather than shares subplans; verified 3 exchanges
    * total in the executed plan). Bigrams pair adjacent words with
    * `element_at` on the still-in-scope token array inside the fused
    * post-explode projection — NOT a `lead` window, which would sort the
    * entire exploded word stream per doc just to look one row ahead
    * (at corpus scale that sort dwarfs the aggregates this query is
    * actually about). Ratios are divisions of exact longs, so both
    * engines produce identical doubles. */
  val q64RepetitionSignals: Q = Q(
    "q64_repetition_signals",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
        .repartition(col("doc_id"))
        .select(col("doc_id"), words(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
      val wx = docs.select(col("doc_id"), explode(col("w")).as("word"))
      val wordStats = wx.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(
          sum(col("c")).as("n_words"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_word_c"))
      val bg = docs
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
        .select(col("doc_id"), concat_ws(" ",
          element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1)).as("bigram"))
      val bgStats = bg.groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(
          sum(col("c")).as("n_bigrams"),
          count(lit(1)).as("n_distinct_bg"),
          max(col("c")).as("top_bigram_c"))
      wordStats.join(bgStats, "doc_id")
        .select(col("doc_id"), col("n_words"),
          (lit(1.0) - col("n_distinct").cast("double") / col("n_words").cast("double"))
            .as("dup_word_frac"),
          (col("top_word_c").cast("double") / col("n_words").cast("double"))
            .as("top_word_frac"),
          (lit(1.0) - col("n_distinct_bg").cast("double") / col("n_bigrams").cast("double"))
            .as("dup_bigram_frac"),
          (col("top_bigram_c").cast("double") / col("n_bigrams").cast("double"))
            .as("top_bigram_frac"))
    },
    Some(raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |t2 AS (SELECT doc_id, w FROM toks WHERE len(w) >= 2),
      |wx AS (SELECT doc_id, unnest(w) AS word FROM t2),
      |wc AS (SELECT doc_id, word, COUNT(*) AS c FROM wx GROUP BY 1, 2),
      |ws AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
      |         COUNT(*) AS n_distinct, MAX(c) AS top_word_c
      |  FROM wc GROUP BY 1),
      |bx AS (
      |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bigram
      |  FROM t2),
      |bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bx GROUP BY 1, 2),
      |bs AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |         COUNT(*) AS n_distinct_bg, MAX(c) AS top_bigram_c
      |  FROM bc GROUP BY 1)
      |SELECT ws.doc_id, n_words,
      |  1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS dup_word_frac,
      |  CAST(top_word_c AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
      |  1.0 - CAST(n_distinct_bg AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS dup_bigram_frac,
      |  CAST(top_bigram_c AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS top_bigram_frac
      |FROM ws JOIN bs ON bs.doc_id = ws.doc_id""".stripMargin))

  /** q71 — inverted index build: term → (document frequency, ordered
    * posting list). The search-index construction pass of a corpus
    * pipeline: explode distinct terms per doc, ONE shuffle on term, and
    * the posting list materializes as a numerically-sorted doc_id string
    * (sort the LONGS, then stringify — lexical sort would order "10"
    * before "9"). At 100 TB posting lists for stop-like terms get long;
    * production would cap or shard them (df is the guard column this
    * query already carries). */
  val q71InvertedIndex: Q = Q(
    "q71_inverted_index",
    (s, dir) => Tables(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(words(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string"))).as("postings")),
    Some("""SELECT term, COUNT(*) AS df,
      |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
      |FROM (
      |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS term
      |  FROM documents) t
      |GROUP BY term""".stripMargin))

  /** q73 — rare-term salience: each doc's top-3 terms ranked by term
    * frequency DESC, corpus document-frequency ASC (rare beats common),
    * term ASC — the integer-pair surrogate for tf-idf that avoids libm:
    * ln() is not correctly-rounded and engines legitimately differ in the
    * last ulp, so a log-weighted score can't be hash-compared; the integer
    * ranking is monotone in the same signals and bit-portable. Two
    * aggregations (term-grain tf, corpus-grain df) + a broadcast-sized df
    * join at test scale (keyed shuffle at corpus scale) + per-doc top-k. */
  val q73RareTerms: Q = Q(
    "q73_rare_terms",
    (s, dir) => {
      val terms = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      // `tf >= 1` is an always-true anchor (count(*) ≥ 1): without it
      // column pruning drops the tf column from the df branch's copy of
      // the (doc_id, term) aggregate, the two copies stop canonicalizing
      // equal, and the tokenize+explode+partial-aggregate pipeline (and
      // its exchange) runs twice — measured as two back-to-back ~0.45 s
      // single-task corpus jobs. Anchored, the df branch re-reads the
      // join branch's exchange (ReusedExchange; one corpus pass).
      val df = tf.filter(col("tf") >= 1)
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.join(df, "term")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"))
    },
    Some("""WITH tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |        FROM documents) x
      |  GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
      |SELECT doc_id, term, tf, df, rank FROM (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |           ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS BIGINT) AS rank
      |  FROM tf JOIN df USING (term)) r
      |WHERE rank <= 3""".stripMargin))

  /** q83 — training-shard assignment: pack documents (in doc_id order) into
    * fixed token-budget shards via a DISTRIBUTED prefix sum — the two-level
    * pattern that replaces the naive global-window running sum (a
    * single-partition sort, the classic scale-killer): docs bucket by
    * doc_id div 256; running sums are per-bucket windows (parallel across
    * buckets), bucket offsets come from one tiny window over the
    * bucket-total relation (|docs|/256 rows — driver-scale at any corpus
    * size); cum = offset + within. A doc's shard is where its FIRST token
    * lands, so every shard except the last holds ≥ budget tokens minus one
    * doc's overhang. Pure integer arithmetic end to end. */
  val q83TokenShards: Q = Q(
    "q83_token_shards",
    (s, dir) => {
      val budget = 2000L
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), size(words(col("text"))).cast("long").as("tokens"))
        .withColumn("bucket", expr("doc_id div 256"))
      val wIn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("doc_id"))
      val withIn = toks.withColumn("within", sum(col("tokens")).over(wIn))
      val wB = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      val offsets = toks.groupBy(col("bucket"))
        .agg(sum(col("tokens")).as("btotal"))
        .withColumn("boffset", coalesce(
          sum(col("btotal")).over(wB.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bucket"), col("boffset"))
      withIn.join(offsets, "bucket")
        .select(col("doc_id"), col("tokens"),
          (col("boffset") + col("within")).as("cum_tokens"),
          expr(s"(boffset + within - tokens) div $budget").as("shard_id"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens,
      |    doc_id // 256 AS bucket
      |  FROM documents),
      |within AS (
      |  SELECT doc_id, tokens, bucket,
      |    CAST(SUM(tokens) OVER (PARTITION BY bucket ORDER BY doc_id)
      |      AS BIGINT) AS within
      |  FROM toks),
      |offsets AS (
      |  SELECT bucket,
      |    CAST(COALESCE(SUM(SUM(tokens)) OVER (ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS boffset
      |  FROM toks GROUP BY bucket)
      |SELECT w.doc_id, w.tokens,
      |  o.boffset + w.within AS cum_tokens,
      |  (o.boffset + w.within - w.tokens) // 2000 AS shard_id
      |FROM within w JOIN offsets o ON o.bucket = w.bucket""".stripMargin))

  /** q90 — shard-packing efficiency report: per-shard document count, token
    * total, and fill fraction against q83's fixed token budget — the metric
    * a sequence-packing pipeline watches (underfilled shards waste
    * accelerator steps; the only legitimately short shard is the last).
    * Pure re-aggregation of q83's shard assignment: one extra shuffle at
    * shard grain, which is corpus_tokens/budget rows — small by
    * construction. */
  val q90PackingReport: Q = Q(
    "q90_packing_report",
    (s, dir) => q83TokenShards.run(s, dir)
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .select(col("shard_id"), col("n_docs"), col("shard_tokens"),
        col("first_doc"), col("last_doc"),
        (col("shard_tokens").cast("double") / lit(2000.0)).as("fill_frac")),
    Some(s"""WITH sharded AS (
       |${q83TokenShards.oracle.get}
       |)
       |SELECT shard_id, COUNT(*) AS n_docs,
       |  CAST(SUM(tokens) AS BIGINT) AS shard_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       |  CAST(CAST(SUM(tokens) AS BIGINT) AS DOUBLE) / 2000.0 AS fill_frac
       |FROM sharded GROUP BY shard_id""".stripMargin))

  /** q39 — winnowing fingerprints (the rolling-hash document-fingerprint
    * scheme): hash every 8-char k-gram, slide a 4-position window, keep each
    * window's minimum hash, distinct per doc. Hashes are md5 — engine-
    * portable (identical in DuckDB), so unlike an xxhash64 formulation this
    * is fully hash-checkable against the oracle. The hot path carries the
    * digest as raw 16-byte BINARY ([[graft.expressions.Md5Raw]]): unsigned
    * bytewise order == lowercase-hex lexicographic order, so window MIN /
    * DISTINCT / group MIN-MAX rank identically while the built-in `md5()`'s
    * per-row JCA lookup + 32-char hex string disappear from the per-gram
    * loop; hex is re-derived with `lower(hex(...))` only for the doc-grain
    * output rows. Grams are never materialized as an array — positions
    * explode from a `sequence` and the substring is computed in the fused
    * post-explode projection (the array-of-strings `transform` this
    * replaces churned a per-doc gram array through an interpreted HOF).
    * One shuffle total: whole docs repartition by doc_id BEFORE the
    * explode (grams never ride an exchange), and the window, the
    * (doc_id, fp) distinct, and the doc-grain agg all reuse that
    * clustering. */
  val q39Winnowing: Q = Q(
    "q39_winnowing",
    (s, dir) => {
      val k = 8
      val w = 4
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, w - 1)
      Tables(s, dir, "documents")
        .repartition(col("doc_id"))
        .filter(length(col("text")) >= k)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")) - (k - 1))).as("pos"))
        .select(col("doc_id"), col("pos"),
          graft.expressions.Md5Raw.of(
            col("text").substr(col("pos"), lit(k)).cast("binary")).as("h"))
        .withColumn("fp", min(col("h")).over(win))
        .select(col("doc_id"), col("fp")).distinct()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("fp_count"),
          lower(hex(min(col("fp")))).as("min_fp"),
          lower(hex(max(col("fp")))).as("max_fp"))
    },
    Some("""WITH pos AS (
      |  SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS pos
      |  FROM documents WHERE length(text) >= 8),
      |grams AS (
      |  SELECT doc_id, pos, md5(substr(text, pos, 8)) AS h FROM pos),
      |fps AS (
      |  SELECT DISTINCT doc_id,
      |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM grams)
      |SELECT doc_id, COUNT(*) AS fp_count, MIN(fp) AS min_fp, MAX(fp) AS max_fp
      |FROM fps GROUP BY doc_id""".stripMargin))

  /** q87 — corpus vocabulary report (the Zipf/coverage summary a corpus
    * card publishes): top-50 terms by frequency with corpus share and
    * cumulative share, alongside total-token / vocabulary-size / hapax
    * counts. Everything reduces to ONE term-count aggregate: the summary is
    * a re-aggregation of the (term, cnt) relation (tiny — vocabulary-sized),
    * the top-50 rank and cumulative share come from the distributed
    * two-level prefix sum (`Ranks.withGlobalOrder` — no unpartitioned
    * window even at web-corpus vocabulary sizes), and shares are
    * single divisions of exact BIGINT sums, so the doubles are
    * bitwise-portable. At 100 TB the token explode is map-side partial-agg
    * (term-count relation ≪ corpus) and only partition-count-sized
    * relations ever reach a single partition. */
  val q87VocabReport: Q = Q(
    "q87_vocab_report",
    (s, dir) => {
      val tc = Tables(s, dir, "documents")
        .select(explode(words(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val summary = tc.agg(
        sum(col("cnt")).as("total_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax_terms"))
      // rank + running share via the distributed two-level prefix sum —
      // vocab is "small" at test SF but web-corpus vocabularies are not,
      // and the technique costs nothing extra (PlanAuditSpec forbids the
      // unpartitioned-window alternative registry-wide).
      Ranks.withGlobalOrder(tc, Seq(col("cnt").desc, col("term").asc),
          "rank", running = Seq((col("cnt"), "cum_cnt")),
          sampleOn = Some(col("term")))
        .filter(col("rank") <= 50)
        .crossJoin(broadcast(summary))
        .select(col("rank"), col("term"), col("cnt"),
          (col("cnt").cast("double") / col("total_tokens").cast("double")).as("share"),
          (col("cum_cnt").cast("double") / col("total_tokens").cast("double")).as("cum_share"),
          col("total_tokens"), col("vocab_size"), col("hapax_terms"))
    },
    Some(raw"""WITH tc AS (
       |  SELECT term, COUNT(*) AS cnt
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
       |        FROM documents) x
       |  GROUP BY term),
       |st AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens,
       |    COUNT(*) AS vocab_size,
       |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_terms
       |  FROM tc),
       |ranked AS (
       |  SELECT term, cnt,
       |    ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rank,
       |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, term ASC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
       |  FROM tc)
       |SELECT rank, term, cnt,
       |  CAST(cnt AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
       |  CAST(cum_cnt AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS cum_share,
       |  total_tokens, vocab_size, hapax_terms
       |FROM ranked CROSS JOIN st
       |WHERE rank <= 50""".stripMargin))

  /** 60-bit md5 surrogate (same construction as q78's checksum): small
    * enough that BIT_XOR never overflows, wide enough that a corpus-level
    * XOR collision is ~2⁻⁶⁰. */
  private def md5_60(c: Column): Column =
    graft.expressions.Md5Prefix.of(c.cast("binary"), 15)

  /** PII detection patterns — deliberately restricted to constructs with
    * identical semantics in Java regex (Spark) and RE2 (DuckDB oracle):
    * character classes, bounded repetition, ASCII `\b`. No backrefs or
    * lookaround (RE2 has neither).
    *
    * Known PAN coarseness: without digit-boundary lookarounds
    * (`(?<!\d)\d{13,19}(?!\d)` — Java-legal, RE2-impossible) a ≥20-digit
    * run redacts as a 19-digit match plus an unredacted tail, and 13–19
    * digit SUBstrings of longer numeric tokens (ids, hashes) over-redact.
    * `\b` cannot express "not adjacent to a digit" (digits are word chars,
    * so it would instead FORBID matches flush against letters). For a
    * compliance pass this errs toward over-redaction — the safe direction;
    * a Java-only deployment can swap in the lookaround form without
    * touching the plan. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PanRe = "\\d{13,19}"

  /** q96 — PII detection + redaction, the compliance pass a training-data
    * pipeline runs before anything leaves the raw zone. The synthetic
    * corpus carries no PII, so the query first plants emails / IPv4s /
    * card-length digit runs deterministically (doc_id residues — identical
    * arithmetic in the oracle), then counts hits per class and redacts
    * email → IP → number (longest-structure first, so a class never eats
    * another's placeholder). Per-source report: hit counts + a 60-bit XOR
    * checksum of the redacted corpus proving byte-equality with the oracle's
    * redaction. Row-local regex work over a single scan — linear at 100 TB,
    * no shuffle until the tiny per-source rollup. */
  val q96PiiRedaction: Q = Q(
    "q96_pii_redaction",
    (s, dir) => {
      val planted = Tables(s, dir, "documents").withColumn("t", concat(
        col("text"),
        when(col("doc_id") % 7 === 0, concat(
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, concat(
          lit(" from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 97).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit(" card 4111111111111111 on file")).otherwise(lit(""))))
      planted.select(col("source"),
          size(regexp_extract_all(col("t"), lit(EmailRe), lit(0)))
            .cast("long").as("e"),
          size(regexp_extract_all(col("t"), lit(Ipv4Re), lit(0)))
            .cast("long").as("i"),
          size(regexp_extract_all(col("t"), lit(PanRe), lit(0)))
            .cast("long").as("c"),
          md5_60(regexp_replace(regexp_replace(regexp_replace(col("t"),
            EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PanRe, "<NUM>")).as("h"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("docs"),
          sum(when(col("e") + col("i") + col("c") > 0, 1L).otherwise(0L))
            .as("docs_with_pii"),
          sum(col("e")).as("email_hits"),
          sum(col("i")).as("ip_hits"),
          sum(col("c")).as("card_hits"),
          expr("bit_xor(h)").as("redacted_checksum"))
    },
    Some("""WITH planted AS (
      |  SELECT source, text
      |    || CASE WHEN doc_id % 7 = 0
      |         THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0
      |         THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 97) ELSE '' END
      |    || CASE WHEN doc_id % 13 = 0
      |         THEN ' card 4111111111111111 on file' ELSE '' END AS t
      |  FROM documents
      |), hits AS (
      |  SELECT source,
      |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
      |    len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS i,
      |    len(regexp_extract_all(t, '\d{13,19}')) AS c,
      |    ('0x' || substr(md5(regexp_replace(regexp_replace(regexp_replace(t,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |      '\d{13,19}', '<NUM>', 'g')), 1, 15))::BIGINT AS h
      |  FROM planted
      |)
      |SELECT source, COUNT(*) AS docs,
      |  CAST(SUM(CASE WHEN e + i + c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
      |  CAST(SUM(e) AS BIGINT) AS email_hits,
      |  CAST(SUM(i) AS BIGINT) AS ip_hits,
      |  CAST(SUM(c) AS BIGINT) AS card_hits,
      |  BIT_XOR(h) AS redacted_checksum
      |FROM hits GROUP BY source""".stripMargin))

  /** Column wrapper for the native normalization expression. */
  def normalizeText(c: Column, mode: String): Column =
    Bridge.column(NormalizeText(Bridge.expression(c), NormalizeText.modeOf(mode)))

  /** q97 — Unicode normalization via the native `graft_normalize`
    * expression (expressions/NormalizeText.scala). The ASCII corpus is
    * first pushed out of normal form by replacing every 'a' with
    * "a"+U+0301 (combining acute) — the decomposed spelling of 'á' — then:
    * NFC must recompose each pair to one precomposed code point (char
    * count shrinks, byte count shrinks from 3 to 2 per site), and accent
    * stripping must return the exact original bytes (roundtrip_docs ==
    * docs). Checksums XOR a 60-bit md5 so the oracle (DuckDB
    * nfc_normalize / strip_accents, i.e. utf8proc) proves byte-level
    * agreement with java.text.Normalizer — the two independent UAX #15
    * implementations must emit identical corpora. Pure row-local map work;
    * the only shuffle is the 20-group rollup. */
  val q97NormalizeUnicode: Q = Q(
    "q97_normalize_unicode",
    (s, dir) => Tables(s, dir, "documents")
      .withColumn("acc", regexp_replace(col("text"), "a", "a\u0301"))
      .select(col("source"), col("text"),
        col("acc"),
        normalizeText(col("acc"), "nfc").as("nfc"),
        normalizeText(col("acc"), "strip").as("stripped"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs"),
        sum(length(col("acc"))).as("injected_chars"),
        sum(octet_length(col("acc"))).as("injected_bytes"),
        sum(length(col("nfc"))).as("nfc_chars"),
        sum(octet_length(col("nfc"))).as("nfc_bytes"),
        call_function("bit_xor",
          graft.expressions.Md5Prefix.of(col("nfc").cast("binary"), 15))
          .as("nfc_checksum"),
        call_function("bit_xor",
          graft.expressions.Md5Prefix.of(col("stripped").cast("binary"), 15))
          .as("stripped_checksum"),
        sum(when(col("stripped") === col("text"), 1L).otherwise(0L))
          .as("roundtrip_docs")),
    Some("""WITH injected AS (
      |  SELECT source, text, replace(text, 'a', 'a' || chr(769)) AS acc
      |  FROM documents
      |)
      |SELECT source, COUNT(*) AS docs,
      |  CAST(SUM(length(acc)) AS BIGINT) AS injected_chars,
      |  CAST(SUM(strlen(acc)) AS BIGINT) AS injected_bytes,
      |  CAST(SUM(length(nfc_normalize(acc))) AS BIGINT) AS nfc_chars,
      |  CAST(SUM(strlen(nfc_normalize(acc))) AS BIGINT) AS nfc_bytes,
      |  BIT_XOR(('0x' || substr(md5(nfc_normalize(acc)), 1, 15))::BIGINT) AS nfc_checksum,
      |  BIT_XOR(('0x' || substr(md5(strip_accents(acc)), 1, 15))::BIGINT) AS stripped_checksum,
      |  CAST(SUM(CASE WHEN strip_accents(acc) = text THEN 1 ELSE 0 END) AS BIGINT) AS roundtrip_docs
      |FROM injected GROUP BY source""".stripMargin))

  /** q98 — one BPE vocabulary-induction superstep: count within-word
    * adjacent character pairs weighted by word frequency and emit the top
    * 20 merge candidates with a pinned (count DESC, pair ASC) tiebreak —
    * the argmax a tokenizer trainer folds into its merge table each
    * round (Sennrich et al. 2016, the BPE tokenizers every LLM corpus is
    * tokenized with). Same superstep shape as q62/q68: the driver loop
    * re-runs it after applying a merge. Scale shape: word-level
    * pre-aggregation FIRST (the Zipf head collapses — 'the' contributes
    * one row, not millions), then pair explode over the ~vocab-sized
    * survivor set, then a TakeOrderedAndProject top-20 — no
    * single-partition window over the corpus. */
  val q98BpeMergeStep: Q = Q(
    "q98_bpe_merge_step",
    (s, dir) => {
      val wc = Tables(s, dir, "documents")
        .select(explode(words(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val top = wc
        .select(col("freq"), col("word"),
          explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
        .select(col("word").substr(col("i"), lit(2)).as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("merge_count"))
        .orderBy(col("merge_count").desc, col("pair").asc)
        .limit(20)
      top.withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("merge_count").desc, col("pair").asc)).cast("int"))
        .select(col("rank"), col("pair"), col("merge_count"))
    },
    Some("""WITH w AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents
      |), wc AS (
      |  SELECT word, COUNT(*) AS freq FROM w WHERE length(word) >= 2 GROUP BY word
      |), pairs AS (
      |  SELECT substr(wc.word, CAST(i.i AS INTEGER), 2) AS pair, wc.freq
      |  FROM wc, LATERAL (SELECT unnest(generate_series(1, length(wc.word) - 1)) AS i) i
      |), ranked AS (
      |  SELECT pair, CAST(SUM(freq) AS BIGINT) AS merge_count,
      |    ROW_NUMBER() OVER (ORDER BY SUM(freq) DESC, pair ASC) AS rank
      |  FROM pairs GROUP BY pair
      |)
      |SELECT CAST(rank AS INT) AS rank, pair, merge_count
      |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin))

  /** Leftmost-greedy, non-overlapping application of one BPE merge (l,r) →
    * l+r over a symbol array — a single `aggregate` HOF pass carrying
    * (emitted prefix, pending symbol) state: "aaa" under (a,a) becomes
    * ["aa","a"], never ["aa","aa"]. Row-local, so merge application is
    * embarrassingly parallel at any corpus size. */
  private[graft] def applyMerge(syms: Column, l: String, r: String): Column = {
    val init = struct(
      typedLit(Seq.empty[String]).as("out"),
      lit(null).cast("string").as("pend"))
    aggregate(syms, init,
      (acc, s) => {
        val canMerge = acc.getField("pend") === lit(l) && s === lit(r)
        struct(
          when(acc.getField("pend").isNull, acc.getField("out"))
            .when(canMerge, concat(acc.getField("out"), array(lit(l + r))))
            .otherwise(concat(acc.getField("out"), array(acc.getField("pend"))))
            .as("out"),
          when(acc.getField("pend").isNull, s)
            .when(canMerge, lit(null).cast("string"))
            .otherwise(s).as("pend"))
      },
      acc => when(acc.getField("pend").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("pend")))))
  }

  /** Full BPE tokenizer training (Sennrich et al. 2016): start from
    * character symbols, repeat `rounds` × [count adjacent pairs weighted by
    * word freq → argmax with pinned (count DESC, left ASC, right ASC)
    * tiebreak → apply the merge everywhere]. Returns the merge table —
    * THE artifact a tokenizer ships. q98 is exactly round one's candidate
    * list; this is the driver loop over it (protocol of Graph.iterate).
    * Scale: state is one word-level table (vocab-sized, Zipf-collapsed, NOT
    * corpus-sized); each round is one explode+agg job plus a row-local
    * rewrite; localCheckpoint truncates the per-round lineage growth. The
    * driver holds only the merge table. */
  def bpeTrain(spark: org.apache.spark.sql.SparkSession, dir: String,
      rounds: Int): Seq[(String, String, Long)] =
    bpeTrainFrom(initialSymbolState(spark, dir), rounds, maxBatch = 1)._1

  /** Batched BPE training: EXACTLY the sequential `bpeTrain` merge table,
    * in ~merges/maxBatch Spark supersteps instead of one per merge — the
    * difference between 32k sequential jobs and ~2k for a production-size
    * vocabulary. Returns (merge table, supersteps executed). See
    * `bpeTrainFrom` for the exactness argument. */
  def bpeTrainBatched(spark: org.apache.spark.sql.SparkSession, dir: String,
      merges: Int, maxBatch: Int = 16): (Seq[(String, String, Long)], Int) =
    bpeTrainFrom(initialSymbolState(spark, dir), merges, maxBatch)

  /** Word-frequency symbol state (syms: Array[String], freq) — the
    * Zipf-collapsed vocabulary-grain training state, NOT corpus-grain. */
  private def initialSymbolState(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(expr("filter(split(word, ''), s -> s <> '')").as("syms"), col("freq"))

  /** The trainer loop over any (syms, freq) state. Each superstep collects
    * the top (maxBatch+1) pair candidates in the pinned (count DESC, l ASC,
    * r ASC) order and applies the longest SORTED PREFIX of them that is
    *   (a) pairwise symbol-disjoint — no accepted pair shares l or r with
    *       an earlier accepted pair's symbols OR ITS OUTPUT l+r (the output
    *       string may already exist as a symbol from an earlier round, and
    *       a merge must not be able to create occurrences of a later batch
    *       member), and
    *   (b) strictly above the first rejected candidate's count (only
    *       enforced when accepting >1; a batch of one is trivially exact).
    * Why this equals the one-merge-per-job sequential trainer: applying an
    * accepted merge cannot change the count of any LATER accepted pair
    * (disjoint symbols — the merge neither consumes nor produces them),
    * and every other pair stays bounded by the first rejected count:
    * non-accepted old pairs sort at or below it by construction (the batch
    * is a prefix), merges only DECREASE overlapping old pairs, and each
    * occurrence of a newly created pair (e.g. (lr, z)) maps injectively to
    * an old occurrence of a pair sharing a symbol with the merge ((r, z)) —
    * itself non-accepted, so ≤ the first rejected count < every accepted
    * count. Hence the sequential argmax provably selects exactly the
    * accepted pairs, in the accepted order, with the same recorded counts.
    * Ties WITHIN the batch are fine (their relative order is the pinned
    * tiebreak); a tie WITH the first rejected candidate shrinks the batch
    * to the strict-drop boundary (worst case 1 = sequential behavior). */
  private[graft] def bpeTrainFrom(init: DataFrame, merges: Int,
      maxBatch: Int): (Seq[(String, String, Long)], Int) = {
    require(maxBatch >= 1, "maxBatch must be >= 1")
    // tracked/drop (not bare localCheckpoint + Dataset.unpersist: the
    // latter is a silent no-op on checkpointed plans — no CacheManager
    // entry — so every batch's blocks leaked until session end, r15)
    var cur = SessionLedger.tracked(init)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var steps = 0
    var exhausted = false
    while (out.size < merges && !exhausted) {
      val want = math.min(maxBatch, merges - out.size)
      val cands = cur.filter(size(col("syms")) >= 2)
        .select(col("freq"),
          explode(sequence(lit(0), size(col("syms")) - 2)).as("i"), col("syms"))
        .select(element_at(col("syms"), col("i") + 1).as("l"),
          element_at(col("syms"), col("i") + 2).as("r"), col("freq"))
        .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(want + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      steps += 1
      if (cands.isEmpty) exhausted = true
      else {
        // (a) longest symbol-disjoint prefix, capped at `want`
        val used = scala.collection.mutable.Set.empty[String]
        var m = 0
        while (m < cands.length && m < want &&
            !used(cands(m)._1) && !used(cands(m)._2)) {
          used += cands(m)._1; used += cands(m)._2
          used += cands(m)._1 + cands(m)._2 // the merge's output symbol
          m += 1
        }
        // (b) strict count drop to the first rejected candidate (if any)
        while (m > 1 && m < cands.length && cands(m - 1)._3 == cands(m)._3)
          m -= 1
        val batch = cands.take(m)
        out ++= batch
        val next = SessionLedger.tracked(cur.select(
          batch.foldLeft(col("syms")) { case (c, (l, r, _)) => applyMerge(c, l, r) }
            .as("syms"), col("freq")))
        SessionLedger.drop(cur)
        cur = next
      }
    }
    SessionLedger.drop(cur)
    (out.toSeq, steps)
  }

  /** Apply a learned merge table to the corpus — the ENCODE side of the
    * tokenizer: per word, split to characters and fold the merges in
    * learned-rank order (each one leftmost-greedy, same semantics as
    * training, so encode(bpeTrain corpus) reproduces training's final
    * symbol state). The whole encoder is one nested expression per row —
    * no joins, no shuffles, no state; merge-table size only deepens the
    * per-row expression. Returns (doc_id, tokens, n_tokens) — n_tokens is
    * what the q83/q90 packing stages consume. */
  def bpeEncode(spark: org.apache.spark.sql.SparkSession, dir: String,
      merges: Seq[(String, String)]): DataFrame = {
    val charSplit = (w: Column) => filter(split(w, ""), s => s =!= lit(""))
    val encodeWord = (w: Column) =>
      merges.foldLeft(charSplit(w)) { case (acc, (l, r)) => applyMerge(acc, l, r) }
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        flatten(transform(words(col("text")), w => encodeWord(w))).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
  }

  /** q105 — overlapping context-window chunking (the RAG / long-context
    * prep pass: split every document into fixed token windows with overlap,
    * keyed for provenance). window=64 tokens, stride=48 → 16-token overlap;
    * the final window per doc may run short (never dropped — trailing
    * tokens always land in some chunk, and a chunk starts at every stride
    * boundary ≤ doc length). Pure per-row explode + slice: no shuffle at
    * all, chunk ids derive from the start offset (not a window function),
    * so the operator is a single map-side pass at any corpus size — the
    * shape that matters when chunking 100 TB for an embedding index. */
  /** The chunk transform behind q105, as a plain DataFrame→DataFrame so the
    * SAME code path runs in batch (oracle-checked) and under `readStream`
    * (stateless per-row explode — no watermark or state store needed;
    * parity pinned in StreamingStateSpec, design rule 5). */
  def chunk(docs: DataFrame, window: Int = 64, stride: Int = 48): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("n", size(col("w")))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), col("n"), lit(stride))).as("start"))
      .withColumn("chunk", slice(col("w"), col("start"), lit(window)))
      .select(col("doc_id"),
        expr(s"((start - 1) div $stride) + 1").cast("long").as("chunk_id"),
        col("start").cast("long").as("start_tok"),
        size(col("chunk")).cast("long").as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))

  val q105Chunking: Q = Q(
    "q105_chunking",
    (s, dir) => chunk(Tables(s, dir, "documents")),
    Some("""WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, w, len(w) AS n,
      |    unnest(range(1, len(w) + 1, 48)) AS start
      |  FROM d)
      |SELECT doc_id,
      |  CAST((start - 1) // 48 + 1 AS BIGINT) AS chunk_id,
      |  CAST(start AS BIGINT) AS start_tok,
      |  CAST(len(w[start:least(start + 63, n)]) AS BIGINT) AS n_tokens,
      |  array_to_string(w[start:least(start + 63, n)], ' ') AS chunk_text
      |FROM c""".stripMargin))

  /** q108 — boilerplate stripping (the C4-style cleanup pass: text repeated
    * across many documents of a source — nav bars, license footers, templa-
    * ted headers — is removed from EVERY document, with the document text
    * REBUILT from the surviving content in order). Unit here is the
    * non-overlapping 8-token block (this corpus has no newlines; on real
    * data the split expression changes, the plan does not). A block is
    * boilerplate when it appears verbatim in ≥ 3 distinct documents of the
    * same source. Rebuild = order-sorted collect of kept blocks — the
    * collect_list is per-document (bounded by document size, not corpus),
    * made deterministic by array_sort on the block index.
    * Scale shape: block explode (|tokens|/8 rows) → one map-side-combined
    * (source, block, doc) occurrence-pack aggregate (read once, reused by
    * both the distinct-doc count and the join back) → equi-join on
    * (source, block) → per-doc regroup. Nothing wider than a document ever
    * sits in one group; the frequency relation is bounded by distinct
    * blocks, and `bis` arrays by a single document's block count. */
  /** The strip transform behind q108 as a plain DataFrame function
    * (doc_id, source, text) → cleaned docs, so the drop semantics are
    * spec-testable on a fixture with PLANTED boilerplate (the natural
    * corpus has no block-ALIGNED same-source repeats, so there the oracle
    * exercises the no-drop reconstruction path: cleaned_text must rebuild
    * the original token stream exactly). */
  def stripBoilerplate(docs: DataFrame, minDocs: Int = 3): DataFrame = {
    // block starts explode from a sequence and the block text is built by
    // slice+array_join in the fused post-explode projection — `transform`
    // (a higher-order function, interpreted) would materialize a per-doc
    // array of block strings AND evict the stage from codegen
    val blocks = docs
      .select(col("doc_id"), col("source"), words(col("text")).as("w"))
      .select(col("doc_id"), col("source"), col("w"),
        explode(sequence(lit(1), size(col("w")), lit(8))).as("st"))
      .select(col("doc_id"), col("source"),
        expr("CAST((st - 1) div 8 AS BIGINT)").as("bi"),
        array_join(slice(col("w"), col("st"), lit(8)), " ").as("btxt"))
    // Re-grain to one row per (source, btxt, doc_id) — `bis` packs that
    // doc's occurrence indices of the block text (bounded by document
    // size). countDistinct(doc_id) per block is then a count of non-NULL
    // doc_ids over `occ` (a NULL doc_id is no document, as in the oracle's
    // COUNT(DISTINCT)), and the occurrence stream is restored by exploding
    // `bis` after the join — so BOTH the frequency aggregate and the
    // join side consume the same (source, btxt, doc_id) exchange (AQE
    // reuse) instead of tokenizing the corpus twice. The anchor filter
    // keeps `bis` from being pruned out of the count-only branch's copy
    // (always true: every group has ≥1 occurrence), which would stop the
    // two copies canonicalizing equal.
    val occ = blocks.groupBy(col("source"), col("btxt"), col("doc_id"))
      .agg(collect_list(col("bi")).as("bis"))
      .filter(size(col("bis")) >= 1)
    val freq = occ.groupBy(col("source"), col("btxt"))
      .agg(count(col("doc_id")).as("ndocs"))
    occ.join(freq, Seq("source", "btxt"))
      .select(col("doc_id"), col("source"),
        explode(col("bis")).as("bi"), col("btxt"),
        (col("ndocs") >= minDocs).as("boiler"))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("dropped_blocks"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN NOT boiler THEN struct(bi, btxt) END)), x -> x.btxt)"),
          " ").as("cleaned_text"))
  }

  val q108BoilerplateStrip: Q = Q(
    "q108_boilerplate_strip",
    (s, dir) => stripBoilerplate(Tables(s, dir, "documents")),
    Some("""WITH d AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, source, CAST((st - 1) // 8 AS BIGINT) AS bi,
      |    array_to_string(w[st:least(st + 7, len(w))], ' ') AS btxt
      |  FROM (SELECT doc_id, source, w, unnest(range(1, len(w) + 1, 8)) AS st
      |        FROM d) x),
      |f AS (
      |  SELECT source, btxt, COUNT(DISTINCT doc_id) AS ndocs
      |  FROM b GROUP BY source, btxt),
      |j AS (
      |  SELECT b.doc_id, b.source, b.bi, b.btxt, f.ndocs >= 3 AS boiler
      |  FROM b JOIN f USING (source, btxt))
      |SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS dropped_blocks,
      |  COALESCE(string_agg(CASE WHEN NOT boiler THEN btxt END, ' ' ORDER BY bi), '')
      |    AS cleaned_text
      |FROM j GROUP BY doc_id, source""".stripMargin))

  val all: Seq[Q] = Seq(q20TextStats, q21TokenCount, q22LangId, q23Fingerprint,
    q24Quality, q39Winnowing, q64RepetitionSignals, q71InvertedIndex, q73RareTerms,
    q83TokenShards, q87VocabReport, q90PackingReport,
    q96PiiRedaction, q97NormalizeUnicode, q98BpeMergeStep, q105Chunking,
    q108BoilerplateStrip)
}
