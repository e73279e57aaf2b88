package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Probabilistic structures built RELATIONALLY — count-min and Bloom as
  * plain aggregates over portable md5-derived hashes, so the sketch CELLS
  * themselves are engine-reproducible and the whole construction is
  * hash-checked against DuckDB (unlike engine-native sketch binaries,
  * which only admit error-bound checks — q19/q49).
  *
  * Both structures are algebraic: CMS cells merge by ADDITION, Bloom words
  * by OR — the same mergeable-partial shape as Incremental's state tables,
  * so per-partition / per-day sketches roll up hierarchically without
  * re-scanning (the 100 TB deployment mode). Hash cost is one md5 per
  * (row, hash-index) — heavier than xxhash64, paid for full oracle parity
  * (same trade recorded for q32/q33 in PLANS.md).
  */
object Sketches {

  /** j-th portable hash of a column, in [0, buckets): first 15 md5 nibbles
    * of "j:value", exactly `('0x'||substr(md5(j||':'||v),1,15))::BIGINT %
    * buckets` in DuckDB. */
  private def h(j: Int, c: Column, buckets: Int): Column =
    pmod(graft.expressions.Md5Prefix.of(
      concat(lit(s"$j:"), c.cast("string")).cast("binary"), 15),
      lit(buckets.toLong))

  private val CmsD = 4   // hash rows
  private val CmsW = 64  // buckets per row — small so collisions are REAL

  /** q80 — count-min sketch over event user activity, with its guarantee
    * surfaced: build the d×w cell table (one aggregation of the exploded
    * (row, bucket) stream), then read every user's estimate back as
    * min_j cells[j][h_j(user)] and place it next to the exact count.
    * CMS never undercounts (estimate ≥ exact always) and at w=64 over
    * ~1k users the overcounts are real and engine-identical — every cell
    * and estimate hash-matches DuckDB, not just an error flag. */
  val q80CountMin: Q = Q(
    "q80_count_min",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("user_id"))
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_count"))
      // cell counts derive from the per-user exact counts (optimization
      // r18): a cell's value is the number of EVENTS hashing into it =
      // Σ exact_count over the users in the bucket — identical by
      // definition. The old form re-scanned events and exploded 4 hash
      // structs per EVENT; this explodes per USER over the exact
      // aggregate's exchange (ReusedExchange with the probe branch — one
      // events scan, was two) and shuffles user-grain partials only.
      val cells = exact
        .select(col("exact_count"), explode(array((0 until CmsD).map(j =>
          struct(lit(j).as("row_j"), h(j, col("user_id"), CmsW).as("bucket"))): _*))
          .as("c"))
        .groupBy(col("c.row_j").as("row_j"), col("c.bucket").as("bucket"))
        .agg(sum(col("exact_count")).as("cell"))
      val probes = exact.select(col("user_id"), col("exact_count"),
        explode(array((0 until CmsD).map(j =>
          struct(lit(j).as("row_j"), h(j, col("user_id"), CmsW).as("bucket"))): _*))
          .as("p"))
        .select(col("user_id"), col("exact_count"),
          col("p.row_j").as("row_j"), col("p.bucket").as("bucket"))
      probes.join(cells, Seq("row_j", "bucket"))
        .groupBy(col("user_id"), col("exact_count"))
        .agg(min(col("cell")).as("cms_estimate"))
        .select(col("user_id"), col("exact_count"), col("cms_estimate"),
          (col("cms_estimate") >= col("exact_count")).as("never_undercounts"))
    },
    Some {
      def hSql(j: Int, v: String, m: Int) =
        s"(('0x' || substr(md5('$j:' || CAST($v AS VARCHAR)), 1, 15))::BIGINT % $m)"
      val cellRows = (0 until CmsD)
        .map(j => s"  SELECT user_id, $j AS row_j, ${hSql(j, "user_id", CmsW)} AS bucket FROM events")
        .mkString("\n  UNION ALL\n")
      s"""WITH hashed AS (
         |$cellRows),
         |cells AS (
         |  SELECT row_j, bucket, COUNT(*) AS cell FROM hashed GROUP BY 1, 2),
         |exact AS (
         |  SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id),
         |probes AS (
         |  SELECT DISTINCT user_id, row_j, bucket FROM hashed)
         |SELECT e.user_id, e.exact_count,
         |  MIN(c.cell) AS cms_estimate,
         |  MIN(c.cell) >= e.exact_count AS never_undercounts
         |FROM exact e
         |JOIN probes p ON p.user_id = e.user_id
         |JOIN cells c ON c.row_j = p.row_j AND c.bucket = p.bucket
         |GROUP BY e.user_id, e.exact_count""".stripMargin
    })

  private val BloomBits = 1024 // 32 words of 32 bits (bit 63 would overflow DuckDB's checked <<)
  private val BloomK = 3

  /** q81 — Bloom-filter membership, relationally: build a 1024-bit filter
    * (32 OR-aggregated 32-bit words — `bit_or` is the mergeable combine)
    * over the customer keys that placed 'F'-status orders, probe EVERY
    * customer, and emit maybe ∧ actual side by side: no-false-negatives
    * is structural (actual ⇒ maybe), false positives are real at this
    * sizing and bit-identical across engines. This is the join-pruning
    * filter shape (Spark's runtime row-group Bloom pushdown, DuckDB's
    * dynamic filters) made explicit and oracle-checkable. */
  val q81BloomFilter: Q = Q(
    "q81_bloom_filter",
    (s, dir) => {
      def bitCols(key: Column) =
        array((0 until BloomK).map(j => h(j, key, BloomBits)): _*)
      val members = Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_custkey")).distinct()
      val words = members
        .select(explode(bitCols(col("o_custkey"))).as("bit"))
        .select((col("bit") / 32).cast("long").as("word_idx"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT))").as("mask"))
        .groupBy(col("word_idx"))
        .agg(expr("bit_or(mask)").as("word"))
      val probes = Tables(s, dir, "customer")
        .select(col("c_custkey"), explode(bitCols(col("c_custkey"))).as("bit"))
        .select(col("c_custkey"),
          (col("bit") / 32).cast("long").as("word_idx"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT))").as("mask"))
      val maybe = probes.join(words, Seq("word_idx"), "left")
        .groupBy(col("c_custkey"))
        .agg((count(lit(1)) ===
          sum(when(col("word").bitwiseAND(col("mask")) =!= 0, 1L).otherwise(0L)))
          .as("maybe_member"))
      val actual = members.select(col("o_custkey").as("c_custkey"))
        .withColumn("actual_member", lit(true))
      maybe.join(actual, Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("maybe_member"),
          coalesce(col("actual_member"), lit(false)).as("actual_member"),
          (!coalesce(col("actual_member"), lit(false)) || col("maybe_member"))
            .as("no_false_negative"))
    },
    Some {
      def hSql(j: Int, v: String) =
        s"(('0x' || substr(md5('$j:' || CAST($v AS VARCHAR)), 1, 15))::BIGINT % $BloomBits)"
      def bitsRows(v: String, src: String) = (0 until BloomK)
        .map(j => s"  SELECT $v AS key, ${hSql(j, v)} // 32 AS word_idx, " +
          s"(CAST(1 AS BIGINT) << (${hSql(j, v)} % 32)) AS mask FROM $src")
        .mkString("\n  UNION ALL\n")
      s"""WITH members AS (
         |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         |mbits AS (
         |$${MB}),
         |words AS (SELECT word_idx, BIT_OR(mask) AS word FROM mbits GROUP BY 1),
         |pbits AS (
         |$${PB}),
         |maybe AS (
         |  SELECT key AS c_custkey,
         |    COUNT(*) = SUM(CASE WHEN (w.word & p.mask) <> 0 THEN 1 ELSE 0 END)
         |      AS maybe_member
         |  FROM pbits p LEFT JOIN words w ON w.word_idx = p.word_idx
         |  GROUP BY key)
         |SELECT m.c_custkey, m.maybe_member,
         |  a.o_custkey IS NOT NULL AS actual_member,
         |  (a.o_custkey IS NULL) OR m.maybe_member AS no_false_negative
         |FROM maybe m LEFT JOIN members a ON a.o_custkey = m.c_custkey"""
        .stripMargin
        .replace("${MB}", bitsRows("o_custkey", "members"))
        .replace("${PB}", bitsRows("c_custkey", "customer"))
    })

  /** q95 — heavy hitters via the custom Misra-Gries
    * `TypedImperativeAggregate` (`expressions.HeavyHitters`) — the custom-
    * AGGREGATE rung of the Catalyst ladder, and the constant-memory way to
    * find frequent terms at 100 TB: k counters per partition, partial
    * summaries merged associatively, no term-grain shuffle of the corpus.
    * Counter VALUES depend on merge order, so the query asserts only the
    * sketch's deterministic guarantees (q19's error-flag technique): every
    * term with count > N/(k+1) must be present, and its estimate must lie
    * in [count − N/(k+1), count] — both checked in exact integer
    * arithmetic. k=32 exceeds this corpus's vocabulary, so estimates are
    * exact here; `SketchesSpec` stresses vocab ≫ k with skewed data. */
  val q95HeavyHitters: Q = Q(
    "q95_heavy_hitters",
    (s, dir) => {
      val k = 32
      val terms = Tables(s, dir, "documents")
        .select(explode(TextAnalysis.words(col("text"))).as("term"))
      val hh = terms
        .agg(graft.expressions.HeavyHitters.of(col("term"), k).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.term").as("term"), col("e.est").as("est"))
      val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val n = exact.agg(sum(col("cnt")).as("n"))
      exact.crossJoin(broadcast(n))
        .filter(col("cnt") * (k + 1) > col("n"))
        .join(hh, Seq("term"), "left")
        .select(col("term"), col("cnt"),
          col("est").isNotNull.as("hh_present"),
          (col("est").isNotNull && col("est") <= col("cnt") &&
            col("est") * (k + 1) >= col("cnt") * (k + 1) - col("n"))
            .as("est_in_bound"))
    },
    Some(raw"""WITH tc AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
       |  FROM documents),
       |c AS (SELECT term, COUNT(*) AS cnt FROM tc GROUP BY term),
       |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
       |SELECT term, cnt, TRUE AS hh_present, TRUE AS est_in_bound
       |FROM c CROSS JOIN n WHERE cnt * 33 > n""".stripMargin))

  val all: Seq[Q] = Seq(q80CountMin, q81BloomFilter, q95HeavyHitters)
}
