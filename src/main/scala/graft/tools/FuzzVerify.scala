package graft.tools

import scala.util.Random

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Verify}
import graft.functions.Cleanse._
import graft.functions.Similarity
import graft.sources.Tables

/** Seeded oracle FUZZ harness (VERDICT r14 item 5): the 113 pinned registry
  * queries are POINTS in parameter space — a tiebreak or rounding divergence
  * BETWEEN those points (the q104 ln-idf and argmax-tie classes of bug) is
  * invisible to the fixed gate. Each template here draws its thresholds /
  * keys / date bounds / k from a seeded RNG, then renders BOTH the DataFrame
  * plan and the DuckDB SQL from the SAME drawn values — so every seed is a
  * fresh oracle-checked query, reproducible from (template, seed) alone.
  *
  * Parameter draws happen FIRST, into plain vals; the plan and the SQL may
  * reference only those vals. Literals cross the engine boundary as
  * `Double.toString` / date strings, which round-trip exactly (the proven
  * q02/q35 pattern).
  *
  * Each instance is a `Q` (name `fzNN_<template>_s<seed>`, oracle = its
  * SQL) dumped by `Verify.dump`: one parquet dir per instance +
  * `oracle_sql.json`, so tools/selfcheck.py compares it unchanged. Driven by
  * tools/fuzz_oracle.py (which also enforces a non-trivial-rows floor —
  * a fuzz PASS on an empty result proves nothing).
  *
  * Usage: tools/run.sh graft.tools.FuzzVerify <sfDir> <outDir> [n=50] [seed0=42]
  */
object FuzzVerify {

  /** Money-sum SQL shape shared with the registry oracles. */
  private def moneySumSql(exprSql: String): String =
    s"CAST(ROUND(SUM(CAST($exprSql AS DECIMAL(18,6))), 2) AS DOUBLE)"

  /** Two-decimal literal rendering: 0.07 prints as "0.07", never "0.07000…1"
    * (the draws below only produce exact-hundredth doubles). Locale-pinned:
    * the `f` interpolator follows the default JVM locale, so under e.g.
    * -Duser.language=tr it rendered "0,07" INTO the oracle SQL and every
    * fz00 instance died on a DuckDB parse error (caught by this round's
    * hostile-locale sweep; the registry itself was green). */
  private def d2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  // ---------------------------------------------------------------- t01
  /** Predicate-boundary class (q02 family): date window × quantity cap ×
    * discount band over lineitem, decimal revenue. Catches boundary
    * (>=/</BETWEEN) and money-rounding drift. */
  private def tRangeRev(r: Random): Q = {
    val start = java.time.LocalDate.of(1995 + r.nextInt(6), 1 + r.nextInt(12), 1)
    val d1 = start.toString
    val d2s = start.plusMonths(2 + r.nextInt(7)).toString
    val qtyCap = 10 + r.nextInt(36)
    val lo = r.nextInt(7) / 100.0
    val hi = lo + (2 + r.nextInt(3)) / 100.0
    Q("range_rev",
      (s, dir) => Tables(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit(d1).cast("timestamp") &&
          col("l_shipdate") < lit(d2s).cast("timestamp") &&
          col("l_discount").between(lo, hi) &&
          col("l_quantity") < qtyCap)
        .agg(
          moneyReport(moneySum(col("l_extendedprice") * col("l_discount"))).as("promo_revenue"),
          count(lit(1)).as("n_rows")),
      Some(s"""SELECT ${moneySumSql("l_extendedprice*l_discount")} AS promo_revenue,
         |  COUNT(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '$d1' AND l_shipdate < TIMESTAMP '$d2s'
         |  AND l_discount BETWEEN ${d2(lo)} AND ${d2(hi)}
         |  AND l_quantity < $qtyCap""".stripMargin))
  }

  // ---------------------------------------------------------------- t02
  /** Filtered grouped aggregation (q01 family): quantity band, per
    * flag/status sums and averages. Catches AVG double-accumulation drift
    * under varying group populations. */
  private def tFlagAgg(r: Random): Q = {
    val a = 1 + r.nextInt(25)
    val b = a + 5 + r.nextInt(20)
    Q("flag_agg",
      (s, dir) => Tables(s, dir, "lineitem")
        .filter(col("l_quantity").between(a, b))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          moneyReport(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order")),
      Some(s"""SELECT l_returnflag, l_linestatus,
         |  SUM(l_quantity) AS sum_qty,
         |  ${moneySumSql("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
         |  AVG(l_quantity) AS avg_qty,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_quantity BETWEEN $a AND $b
         |GROUP BY l_returnflag, l_linestatus""".stripMargin))
  }

  // ---------------------------------------------------------------- t03
  /** Top-k-per-group tiebreak class (q10 family): k and sort direction
    * vary; the partkey tiebreak must pin the SAME rows in both engines. */
  private def tBrandTopK(r: Random): Q = {
    val k = 1 + r.nextInt(8)
    val desc = r.nextBoolean()
    val ord = if (desc) "DESC" else "ASC"
    Q("brand_topk",
      (s, dir) => {
        val price = if (desc) col("p_retailprice").desc else col("p_retailprice").asc
        Tables(s, dir, "part")
          .withColumn("brand_rank",
            row_number().over(Window.partitionBy(col("p_brand"))
              .orderBy(price, col("p_partkey").asc)).cast("long"))
          .filter(col("brand_rank") <= k)
          .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("brand_rank"))
      },
      Some(s"""SELECT p_brand, p_partkey, p_retailprice, brand_rank
         |FROM (SELECT p_brand, p_partkey, p_retailprice,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
         |               ORDER BY p_retailprice $ord, p_partkey ASC) AS BIGINT) AS brand_rank
         |      FROM part) t
         |WHERE brand_rank <= $k""".stripMargin))
  }

  // ---------------------------------------------------------------- t04
  /** Date-bounded join + rollup (q03/q13 family): orders window joined to
    * customer, revenue per nation. Catches join+decimal-agg drift. */
  private def tNationWindow(r: Random): Q = {
    val start = java.time.LocalDate.of(1995 + r.nextInt(6), 1 + r.nextInt(12), 1)
    val d1 = start.toString
    val d2s = start.plusMonths(3 + r.nextInt(10)).toString
    Q("nation_window",
      (s, dir) => Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(d1).cast("timestamp") &&
          col("o_orderdate") < lit(d2s).cast("timestamp"))
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(
          count(lit(1)).as("order_count"),
          moneyReport(moneySum(col("o_totalprice"))).as("revenue")),
      Some(s"""SELECT c_nationkey, COUNT(*) AS order_count,
         |  ${moneySumSql("o_totalprice")} AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE o_orderdate >= TIMESTAMP '$d1' AND o_orderdate < TIMESTAMP '$d2s'
         |GROUP BY c_nationkey""".stripMargin))
  }

  // ---------------------------------------------------------------- t05
  /** Global sort-limit tiebreak class (q12 family): N and direction vary;
    * TakeOrderedAndProject must pick the same N rows as DuckDB's
    * ORDER BY + LIMIT. */
  private def tTopOrders(r: Random): Q = {
    val n = 5 + r.nextInt(46)
    val desc = r.nextBoolean()
    val ord = if (desc) "DESC" else "ASC"
    Q("top_orders",
      (s, dir) => {
        val price = if (desc) col("o_totalprice").desc else col("o_totalprice").asc
        Tables(s, dir, "orders")
          .orderBy(price, col("o_orderkey").asc)
          .limit(n)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      },
      Some(s"""SELECT o_orderkey, o_custkey, o_totalprice
         |FROM orders ORDER BY o_totalprice $ord, o_orderkey ASC LIMIT $n""".stripMargin))
  }

  // ---------------------------------------------------------------- t06
  /** Window-frame class (q11 family): per-customer order sequence with a
    * running decimal sum and NTILE(t); customer subset via modulus so the
    * partition population varies with the seed. */
  private def tCustSeq(r: Random): Q = {
    val m = 3 + r.nextInt(5)
    val rm = r.nextInt(m)
    val t = 2 + r.nextInt(5)
    Q("cust_seq",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        Tables(s, dir, "orders")
          .filter(pmod(col("o_custkey"), lit(m)) === rm)
          .select(
            col("o_custkey"), col("o_orderkey"),
            row_number().over(w).cast("long").as("order_seq"),
            sum(money(col("o_totalprice")))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double").as("running_spend"),
            ntile(t).over(w).cast("long").as("order_bucket"))
      },
      Some(s"""SELECT o_custkey, o_orderkey,
         |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER
         |    (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
         |  CAST(NTILE($t) OVER w AS BIGINT) AS order_bucket
         |FROM orders WHERE o_custkey % $m = $rm
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin))
  }

  // ---------------------------------------------------------------- t07
  /** Text tokenization class (q21 family): doc-length floor varies, and the
    * rollup key alternates lang/source with the seed. Catches regex-token
    * drift under a varying admitted population. */
  private def tTokStats(r: Random): Q = {
    val minChars = 50 + r.nextInt(350)
    val key = if (r.nextBoolean()) "lang" else "source"
    Q("tok_stats",
      (s, dir) => Tables(s, dir, "documents")
        .filter(col("n_chars") >= minChars)
        .select(col(key),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
            .cast("long").as("bpe_tokens"))
        .groupBy(col(key))
        .agg(
          count(lit(1)).as("doc_count"),
          sum(col("bpe_tokens")).as("total_bpe_tokens"),
          max(col("bpe_tokens")).as("max_bpe_tokens")),
      Some(s"""SELECT $key, COUNT(*) AS doc_count,
         |  CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
         |  MAX(bpe_tokens) AS max_bpe_tokens
         |FROM (SELECT $key,
         |        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
         |      FROM documents WHERE n_chars >= $minChars) t
         |GROUP BY $key""".stripMargin))
  }

  // ---------------------------------------------------------------- t08
  /** Quality-gate threshold class (q64 family, q20 expression pairs):
    * minimum word count and maximum average word length vary. Catches
    * double-division boundary drift in the gate predicate. */
  private def tQualGate(r: Random): Q = {
    val minWords = 5 + r.nextInt(36)
    // maxAvg floor is 4.5, not 4.0 (VERDICT r16 item 3 / r17 re-range): the
    // corpus's avg-word-length 1st percentile is ~3.94 and its min ~3.69,
    // so a 4.0 draw admits 0-5 docs and (combined with a high minWords) can
    // produce an EMPTY instance — which vacuously hash-matches. At 4.5 the
    // tightest draw (minWords=40) still admits ~160 docs at every gate SF.
    val maxAvg = 4.5 + r.nextInt(10) * 0.5
    Q("qual_gate",
      (s, dir) => {
        val w = split(trim(col("text")), "\\s+")
        Tables(s, dir, "documents")
          .withColumn("word_count", size(w).cast("long"))
          .withColumn("avg_word_len",
            length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
              col("word_count"))
          .filter(col("word_count") >= minWords && col("avg_word_len") <= maxAvg)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("kept_docs"),
            sum(col("word_count")).as("kept_words"))
      },
      Some(s"""SELECT source, COUNT(*) AS kept_docs,
         |  CAST(SUM(word_count) AS BIGINT) AS kept_words
         |FROM (SELECT source,
         |        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS word_count,
         |        CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         |          / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_word_len
         |      FROM documents) t
         |WHERE word_count >= $minWords AND avg_word_len <= $maxAvg
         |GROUP BY source""".stripMargin))
  }

  // ---------------------------------------------------------------- t09
  /** Integer-division bucketing class: histogram of l_quantity at a drawn
    * bucket width — `div` (Spark) vs `//` (DuckDB) must land every row in
    * the same bucket. */
  private def tQtyHist(r: Random): Q = {
    val w = Seq(2, 3, 5, 7)(r.nextInt(4))
    Q("qty_hist",
      (s, dir) => Tables(s, dir, "lineitem")
        .select(expr(s"CAST(l_quantity AS BIGINT) div $w").as("bucket"),
          col("l_quantity"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty_sum")),
      Some(s"""SELECT CAST(l_quantity AS BIGINT) // $w AS bucket,
         |  COUNT(*) AS n, SUM(l_quantity) AS qty_sum
         |FROM lineitem GROUP BY 1""".stripMargin))
  }

  // ---------------------------------------------------------------- t10
  /** Brute cosine top-k class (q35 family): query-set size and k vary; the
    * neighbor_id tiebreak must survive both engines' sort. */
  private def tCosTopK(r: Random): Q = {
    val nq = 4 + r.nextInt(9)
    val k = 3 + r.nextInt(8)
    Q("cos_topk",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("emb"))
          .withColumn("nrm", Similarity.norm(col("emb")))
        val queries = e.select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm")).filter(col("q_id") < nq)
        e.join(broadcast(queries), col("vec_id") =!= col("q_id"))
          .withColumn("cosine",
            Similarity.cosinePre(Similarity.dot(col("emb"), col("q_emb")),
              col("nrm"), col("q_nrm")))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("cosine").desc, col("vec_id").asc)).cast("long"))
          .filter(col("rank") <= k)
          .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
      },
      Some(s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < $nq),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS neighbor_id,
         |         list_dot_product(e.emb, q.q_emb) / (e.nrm * q.q_nrm) AS cosine
         |  FROM e JOIN q ON e.vec_id <> q.q_id)
         |SELECT q_id, neighbor_id, cosine, rank FROM (
         |  SELECT q_id, neighbor_id, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |           ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM scored) r
         |WHERE rank <= $k""".stripMargin))
  }

  // ---------------------------------------------------------------- t11
  /** Dedup-family threshold class (q31): the exact n-gram Jaccard pair
    * relation cut at a drawn threshold — the boundary where a pair's
    * common/(na+nb-common) ratio meets the literal must agree between
    * engines at every cut, not just the registry's pinned 0.1/0.5. */
  private def tJaccardThresh(r: Random): Q = {
    val t = (2 + r.nextInt(9)) * 0.05 // 0.10 .. 0.50, exact-twentieth grid
    Q("jaccard_thresh",
      (s, dir) => graft.operators.Dedup.jaccardPairs(s, dir)
        .filter(col("jaccard") >= t)
        .select(col("doc_a"), col("doc_b"), col("common"), col("jaccard")),
      Some(s"""WITH ${graft.operators.Dedup.jaccardPairsOracle(t)}
         |SELECT doc_a, doc_b, common, jaccard FROM pairs""".stripMargin))
  }

  // ---------------------------------------------------------------- t12
  /** ANN-production threshold class (q110): the (8 bands × 8 bits)
    * LSH-bucketed cosine pair relation at a drawn threshold — candidate
    * generation is threshold-independent, so this sweeps the verify
    * filter's boundary against the mirrored-plane oracle. */
  private def tLshThresh(r: Random): Q = {
    // 0.25 .. 0.40 (VERDICT r16 item 3): re-ranged against the corpus's
    // measured cosine distribution. The old 0.30..0.50 grid drew 0.45/0.50
    // where the corpus has 14/1 brute pairs at sf0.01 (7/0 at sf0.001) and
    // the 8x8 LSH bucketing — recall <1 by design — sometimes caught none:
    // 3/50 + 4/200 instances returned ZERO rows (matrix_r16.log), which
    // vacuously hash-match. At 0.40 every gate SF has >=59 brute pairs
    // (sf0.001: 66) and expected LSH survivors >=10, so every draw
    // exercises a non-trivial verify boundary; 0.25 widens the sweep on
    // the dense side instead.
    val t = (5 + r.nextInt(4)) * 0.05
    Q("lsh_thresh",
      (s, dir) => graft.operators.SimilaritySearch
        .lshPairs(s, dir, bands = 8, bitsPerBand = 8, threshold = t),
      Some(s"""WITH ${graft.operators.SimilaritySearch.lshPairsOracleCte(8, 8, t)}
         |SELECT vec_a, vec_b, cosine FROM scored""".stripMargin))
  }

  val templates: Seq[Random => Q] = Seq(
    tRangeRev, tFlagAgg, tBrandTopK, tNationWindow, tTopOrders,
    tCustSeq, tTokStats, tQualGate, tQtyHist, tCosTopK,
    tJaccardThresh, tLshThresh)

  /** Deterministic instance list: instance i uses template i%12 and RNG
    * seed seed0+i — (seed0, n) fully reproduce a run. */
  def instances(seed0: Long, n: Int): Seq[Q] =
    (0 until n).map { i =>
      val q = templates(i % templates.length)(new Random(seed0 + i))
      q.copy(name = f"fz${i % templates.length}%02d_${q.name}_s${seed0 + i}")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/fuzz_out")
    val n = args.lift(2).map(_.toInt).getOrElse(50)
    val seed0 = args.lift(3).map(_.toLong).getOrElse(42L)
    val spark = Verify.session()
    val failed = Verify.dump(spark, sfDir, outDir, instances(seed0, n))
    println(s"[fuzz] dumped ${n - failed}/$n instances (seed0=$seed0) to $outDir")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
