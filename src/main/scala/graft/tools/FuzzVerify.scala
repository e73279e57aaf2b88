package graft.tools

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.{Q, Verify}
import graft.functions.Cleanse._
import graft.operators.{CoreQueries, Dedup, SimilaritySearch, TextAnalysis}
import graft.sources.Tables

/** Seeded oracle FUZZ harness (VERDICT r14 item 5): the 113 pinned registry
  * queries are POINTS in parameter space — a tiebreak or rounding divergence
  * BETWEEN those points (the q104 ln-idf and argmax-tie classes of bug) is
  * invisible to the fixed gate. Each template draws its thresholds / keys /
  * date bounds / k from a seeded RNG and passes them to a registry query's
  * own Spark builder and oracle-SQL generator (q01, q02, q10, q11, q12,
  * q21, q31, q35, q110): every seed is a fresh oracle-checked point of the
  * code users run, reproducible from (template, seed) alone. Where a
  * template narrows the input population (q01's quantity band, q11's
  * customer subset, q21's length floor), it hands the builder a filtered
  * relation and the generator the matching FROM relation. Three templates
  * have no registry twin and build their own query: `nation_window`,
  * `qual_gate` (on the registry's `words` tokenizer) and `qty_hist`.
  *
  * Parameter draws happen FIRST, into plain vals; the query may reference
  * only those vals. Literals cross the engine boundary as `Double.toString`
  * / date strings, which round-trip exactly.
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

  // ---------------------------------------------------------------- t01
  /** Predicate-boundary class (q02): date window × quantity cap × discount
    * band over lineitem, decimal revenue. Catches boundary (>=/</BETWEEN)
    * and money-rounding drift. */
  private def tRangeRev(r: Random): Q = {
    val start = java.time.LocalDate.of(1995 + r.nextInt(6), 1 + r.nextInt(12), 1)
    val d1 = start.toString
    val d2 = start.plusMonths(2 + r.nextInt(7)).toString
    val qtyCap = 10 + r.nextInt(36)
    val lo = r.nextInt(7)
    val hi = lo + 2 + r.nextInt(3)
    Q("range_rev",
      (s, dir) => CoreQueries.selectiveRevenue(s, dir, d1, d2, lo / 100.0, hi / 100.0, qtyCap),
      Some(CoreQueries.selectiveRevenueOracle(d1, d2, lo / 100.0, hi / 100.0, qtyCap)))
  }

  // ---------------------------------------------------------------- t02
  /** Filtered grouped aggregation (q01): quantity band, per flag/status
    * sums and averages. Catches AVG double-accumulation drift under
    * varying group populations. */
  private def tFlagAgg(r: Random): Q = {
    val a = 1 + r.nextInt(25)
    val b = a + 5 + r.nextInt(20)
    Q("flag_agg",
      (s, dir) => CoreQueries.pricingSummary(
        Tables(s, dir, "lineitem").filter(col("l_quantity").between(a, b))),
      Some(CoreQueries.pricingSummaryOracle(
        s"(SELECT * FROM lineitem WHERE l_quantity BETWEEN $a AND $b) l")))
  }

  // ---------------------------------------------------------------- t03
  /** Top-k-per-group tiebreak class (q10): k and sort direction vary; the
    * partkey tiebreak must pin the SAME rows in both engines. */
  private def tBrandTopK(r: Random): Q = {
    val k = 1 + r.nextInt(8)
    val desc = r.nextBoolean()
    Q("brand_topk",
      (s, dir) => CoreQueries.topKPerGroup(s, dir, k, desc),
      Some(CoreQueries.topKPerGroupOracle(k, desc)))
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
  /** Global sort-limit tiebreak class (q12): N and direction vary;
    * TakeOrderedAndProject must pick the same N rows as DuckDB's
    * ORDER BY + LIMIT. */
  private def tTopOrders(r: Random): Q = {
    val n = 5 + r.nextInt(46)
    val desc = r.nextBoolean()
    Q("top_orders",
      (s, dir) => CoreQueries.topOrders(s, dir, n, desc),
      Some(CoreQueries.topOrdersOracle(n, desc)))
  }

  // ---------------------------------------------------------------- t06
  /** Window-frame class (q11): per-customer order sequence with lag/lead,
    * a running decimal sum and NTILE(t); customer subset via modulus so the
    * partition population varies with the seed. */
  private def tCustSeq(r: Random): Q = {
    val m = 3 + r.nextInt(5)
    val rm = r.nextInt(m)
    val t = 2 + r.nextInt(5)
    Q("cust_seq",
      (s, dir) => CoreQueries.customerOrderSeq(
        Tables(s, dir, "orders").filter(pmod(col("o_custkey"), lit(m)) === rm), t),
      Some(CoreQueries.customerOrderSeqOracle(
        s"(SELECT * FROM orders WHERE o_custkey % $m = $rm) o", t)))
  }

  // ---------------------------------------------------------------- t07
  /** Text tokenization class (q21): doc-length floor varies, and the
    * rollup key alternates lang/source with the seed. Catches whitespace-
    * and regex-token drift under a varying admitted population. */
  private def tTokStats(r: Random): Q = {
    val minChars = 50 + r.nextInt(350)
    val key = if (r.nextBoolean()) "lang" else "source"
    Q("tok_stats",
      (s, dir) => TextAnalysis.tokenCount(
        Tables(s, dir, "documents").filter(col("n_chars") >= minChars), key),
      Some(TextAnalysis.tokenCountOracle(
        s"(SELECT * FROM documents WHERE n_chars >= $minChars) d", key)))
  }

  // ---------------------------------------------------------------- t08
  /** Quality-gate threshold class (q64 family, q20 expression pairs):
    * minimum word count and maximum average word length vary over the
    * registry's tokenizer (`TextAnalysis.words` / `docWordsOracle`).
    * Catches double-division boundary drift in the gate predicate. */
  private def tQualGate(r: Random): Q = {
    val minWords = 5 + r.nextInt(36)
    // maxAvg floor is 4.5, not 4.0 (VERDICT r16 item 3 / r17 re-range): the
    // corpus's avg-word-length 1st percentile is ~3.94 and its min ~3.69,
    // so a 4.0 draw admits 0-5 docs and (combined with a high minWords) can
    // produce an EMPTY instance — which vacuously hash-matches. At 4.5 the
    // tightest draw (minWords=40) still admits ~160 docs at every gate SF.
    val maxAvg = 4.5 + r.nextInt(10) * 0.5
    Q("qual_gate",
      (s, dir) => Tables(s, dir, "documents")
        .withColumn("word_count", size(TextAnalysis.words(col("text"))).cast("long"))
        .withColumn("avg_word_len",
          length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
            col("word_count"))
        .filter(col("word_count") >= minWords && col("avg_word_len") <= maxAvg)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept_docs"),
          sum(col("word_count")).as("kept_words")),
      Some(s"""SELECT source, COUNT(*) AS kept_docs,
         |  CAST(SUM(word_count) AS BIGINT) AS kept_words
         |FROM (SELECT source,
         |        CAST(len(w) AS BIGINT) AS word_count,
         |        CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(w) AS avg_word_len
         |      FROM documents JOIN ${TextAnalysis.docWordsOracle} USING (doc_id)) t
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
  /** Brute cosine top-k class (q35): query-set size and k vary; the
    * neighbor_id tiebreak must survive both engines' sort. */
  private def tCosTopK(r: Random): Q = {
    val nq = 4 + r.nextInt(9)
    val k = 3 + r.nextInt(8)
    Q("cos_topk",
      (s, dir) => SimilaritySearch.bruteForceTopK(s, dir, nq, k),
      Some(SimilaritySearch.bruteForceTopKOracle(nq, k)))
  }

  // ---------------------------------------------------------------- t11
  /** Dedup-family threshold class (q31): the exact n-gram Jaccard pair
    * relation cut at a drawn threshold — the boundary where a pair's
    * common/(na+nb-common) ratio meets the literal must agree between
    * engines at every cut, not just the registry's pinned 0.1/0.5. */
  private def tJaccardThresh(r: Random): Q = {
    val t = (2 + r.nextInt(9)) * 0.05 // 0.10 .. 0.50, exact-twentieth grid
    Q("jaccard_thresh",
      (s, dir) => Dedup.jaccardPairs(s, dir)
        .filter(col("jaccard") >= t)
        .select(col("doc_a"), col("doc_b"), col("common"), col("jaccard")),
      Some(s"""WITH ${Dedup.jaccardPairsOracle(t)}
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
      (s, dir) => SimilaritySearch
        .lshPairs(s, dir, bands = 8, bitsPerBand = 8, threshold = t),
      Some(s"""WITH ${SimilaritySearch.lshPairsOracleCte(8, 8, t)}
         |SELECT vec_a, vec_b, cosine FROM scored""".stripMargin))
  }

  val templates: Seq[Random => Q] = Seq(
    tRangeRev, tFlagAgg, tBrandTopK, tNationWindow, tTopOrders,
    tCustSeq, tTokStats, tQualGate, tQtyHist, tCosTopK,
    tJaccardThresh, tLshThresh)

  /** Deterministic instance list: instance i uses template i%12 and RNG
    * seed splitmix(seed0+i) — (seed0, n) fully reproduce a run. The mix
    * matters: `java.util.Random` seeds that differ only in low bits give
    * nearly the same first draw, so `seed0 + i` alone let `brand_topk`
    * draw only k = 6 or 7 of 1–8. */
  def instances(seed0: Long, n: Int): Seq[Q] =
    (0 until n).map { i =>
      val q = templates(i % templates.length)(new Random(graft.functions.Mix.splitmix(seed0 + i)))
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
