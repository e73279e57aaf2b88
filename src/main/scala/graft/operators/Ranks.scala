package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Distributed total-order ranking — the scale-safe replacement for the
  * classic `row_number().over(Window.orderBy(...))` anti-pattern, which
  * moves the ENTIRE input to one partition (WindowExec with an empty
  * partition spec = single-executor sort + OOM at corpus scale).
  *
  * Shape (the generalized q83 two-level prefix sum):
  *   1. Sample splitter keys ONCE at plan-construction time (deterministic
  *      hash-mod thinning, no RNG) and embed them as plan literals; each
  *      row's bucket id is "how many splitters sort before my key" — a pure
  *      VALUE function of the row. This is the load-bearing choice: a
  *      `repartitionByRange` + `spark_partition_id` formulation assigns ids
  *      per physical EXECUTION, and the rank/offset branches below may
  *      execute the exchange twice with independently-sampled bounds —
  *      off-by-a-few ranks that only surface at larger inputs (caught by
  *      the sf0.1 oracle sweep). Literal bounds make every consumer agree
  *      by construction, and the answer is EXACT whatever bounds the
  *      sample produced.
  *   2. rank / running sums WITHIN each bucket — a partitioned window,
  *      parallel across the cluster.
  *   3. per-bucket totals reduce to a buckets-count-row relation; its
  *      prefix sums (one tiny window over driver-scale data) are the
  *      offsets each bucket adds back via a broadcast join.
  *
  * The sort key must be a TOTAL order (include a unique tiebreaker):
  * splitters then cut tie groups too, so a single hot key value cannot
  * collapse a bucket at scale. Used by q84/q104 (corpus-wide BM25 rank),
  * q87 (vocabulary report), q106/q107 (epoch shuffle + packing);
  * PlanAuditSpec enforces registry-wide that no data-scale relation flows
  * into an unpartitioned window.
  */
object Ranks {

  /** Append a global ROW_NUMBER column named `rankName` (LongType) ranked by
    * `order` (asc/desc per column, total order required), plus an exact
    * global running sum column `name` for each `(expr, name)` in `running`,
    * all without any data-scale unpartitioned window.
    *
    * PRECONDITION: the sort-key columns must be NON-NULL for every row —
    * bucket assignment and the window's null ordering would otherwise
    * disagree (silently wrong ranks). ENFORCED at runtime: a null key takes
    * the sentinel bucket −1 (a codegen-friendly `when`, keeping the hot
    * projection inside whole-stage codegen), the bucket-grain offsets
    * relation raises on the sentinel via a FILTER (which column pruning
    * can never remove — every consumer executes the join that
    * materializes it), and the
    * driver sample pass rejects sampled nulls — a violating corpus fails
    * loudly instead of mis-ranking. Wrap genuinely nullable keys in
    * `coalesce` with a sentinel first.
    *
    * `sampleMod`: the splitter sample keeps rows whose key-hash ≡ 0 mod
    * this; a cheap pre-thin so the second-level cap (below) has less work.
    * The cap itself is DETERMINISTIC and uniform at any N: the sample is
    * the `64·buckets` survivors with the smallest salted key hash — a
    * value-derived top-k (TakeOrderedAndProject: per-partition heads +
    * bounded driver merge, never a full collect), totally ordered by
    * (hash, key) so hash ties cannot make the sample depend on partition
    * layout (string keys are prefix-thinned first — see splitterBounds —
    * and rows tied on the thinned order have IDENTICAL output tuples, so
    * the sample multiset is still a pure value function). An unordered
    * `limit` here would draw the whole sample from whichever splits
    * answered first — the exact skew the sampler exists to avoid. Any
    * sample yields EXACT ranks; only balance varies.
    *
    * `boundsFrom` (optimization r18): an optional CHEAPER relation to draw
    * the splitter sample from, with the same key columns as `df`. The
    * bounds are only lexicographic cut points and the ranks are EXACT for
    * ANY bound values (see step 1 above), so the sample source may score
    * its keys approximately — e.g. q84 passes the BM25 scorer over a
    * hash-thinned doc subset with stats computed on that subset (idf and
    * avgdl are ratios, so subset stats land in the same value range and
    * balance holds), which turns the bounds job from one full corpus
    * tokenize+stats pass into a ~1% pass. Determinism is unchanged: the
    * sample is still a pure value function of the data. */
  def withGlobalOrder(df: DataFrame, order: Seq[Column], rankName: String,
      running: Seq[(Column, String)] = Nil, sampleMod: Int = 101,
      sampleOn: Option[Column] = None,
      boundsFrom: Option[DataFrame] = None): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    // over-decompose to smooth hash collisions + skew, but cap: bucket count
    // only needs to exceed core count, and the driver-side sample is
    // 64·buckets rows — parts×4 uncapped would sample ~2.5M rows at a 10k-
    // partition cluster config for no extra balance. (Since the bounds
    // moved from inlined plan literals into RangeBucketId's reference
    // object, the cap no longer protects codegen — generated code is
    // constant-size at any bucket count — only driver sample cost.)
    val buckets = math.min(parts * 4, 4096)
    val split = order.map(Bridge.splitSortOrder)
    val keyCols = split.map(_._1)
    val asc = split.map(_._2)

    val bounds = splitterBounds(boundsFrom.getOrElse(df), order, buckets,
      sampleMod, sampleOn)
    // Bucket id: a native binary-search expression over the sorted bounds
    // (expressions.RangeBucketId). The previous formulation inlined the
    // search as a nested CASE tree of literal comparisons — O(log B) evals
    // per row but O(B) generated CODE, and at shuffle.partitions=256
    // (1024 buckets) the tree blew Janino's 64 KB method limit and evicted
    // the whole consumer stage (q84's BM25 scorer) from whole-stage
    // codegen — caught by the sf100 probe; a real cluster's partition
    // count would hit it on every run. The native expression's generated
    // code is constant-size at ANY bucket count (box keys, call the bounds
    // searcher), so the stage stays codegen-clean at cluster configs.
    //
    // Null guard: a NULL key would make afterBound-style comparisons NULL
    // and silently drop the row into bucket 0 while the within-bucket window
    // orders it NULLS FIRST/LAST — shifting ranks for every in-between row
    // with no error. Fail loudly — but NOT with a per-row `raise_error` in
    // this projection: RaiseError is not codegen-compatible, and one such
    // expression evicts the WHOLE stage from whole-stage codegen, so every
    // upstream column in the stage (for q84, the entire BM25 scorer over the
    // words arrays) re-evaluates interpreted — measured 3× on q84/q104/q106.
    // Instead NULL keys take the sentinel bucket −1 (inside RangeBucketId —
    // codegen-clean), and the raise lives in the OFFSETS relation below as
    // a FILTER — bucket grain, ≤`buckets`+1 rows, and pruning-proof: even a
    // consumer that drops the rank and every running sum still executes the
    // broadcast join, which materializes the filtered relation — so a
    // violating corpus fails loudly before any output row can be observed.
    val pid = Bridge.column(graft.expressions.RangeBucketId(
      keyCols.map(Bridge.expression), asc,
      bounds.map(r => Array.tabulate(r.length)(r.get)).toArray))
    val withPid = df.withColumn("__pid", pid)

    // 2. within-bucket rank / running sums (partitioned window — parallel)
    val wIn = Window.partitionBy(col("__pid")).orderBy(order: _*)
    val cum = wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = running.foldLeft(
      withPid.withColumn("__within", row_number().over(wIn).cast("long"))) {
      case (d, (c, n)) => d.withColumn(s"__run_$n", sum(c).over(cum))
    }

    // 3. offsets = totals of all strictly-earlier buckets (≤`buckets` rows).
    // Deliberately aggregated over `withPid`, NOT the windowed relation:
    // the partial aggregate collapses to ≤`buckets` rows per map task
    // BEFORE any exchange, so this branch re-scans the (columnar, pruned)
    // input but shuffles almost nothing. The alternative — sharing the rank
    // branch's corpus-wide pid exchange — does not actually reuse (column
    // pruning makes the two exchange subtrees canonically different,
    // verified on the executed plan) and would shuffle the corpus TWICE.
    // Net physical cost of the whole helper: two map passes + ONE
    // corpus-size shuffle + one bucket-grain shuffle, at any input size.
    val wOff = Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)
    // the NULL-key raise (see the pid comment): evaluated once per BUCKET,
    // not per row, so the corpus-grain projection stays inside whole-stage
    // codegen. Expressed as a FILTER on the bucket-grain relation, NOT a
    // projection: a guard riding an output COLUMN is column-pruned away
    // whenever a consumer keeps only a subset (the r8 __pcnt guard
    // vanished for running-sum-only consumers — ADVICE r9 — and sentinel
    // bucket −1 silently shifted every offset), while a filter survives
    // any projection because pruning removes columns, never predicates,
    // and the inner broadcast join always materializes this relation. And
    // NOT inside the join-key output either: a raise_error inside the
    // build key expression measured 3× on q84/q104/q106 (the r9 bench
    // diff caught it — the join stops being codegen-clean once its key is
    // a non-codegen expression; same all-or-nothing lesson as r8). A
    // plain-attribute key + a tiny non-codegen filter over ≤buckets+1
    // rows keeps both properties.
    // (Optimization r18 probe, rejected: routing this branch through an
    // explicit repartition(__pid) + full-width count anchor to share the
    // window branch's exchange does NOT canonicalize equal — the count
    // anchor is rewritten to count(1) and CollapseProject folds the key
    // expressions, so pruning re-narrows this branch; and an anchor
    // FILTER would be pushed below the exchange, splitting the branches
    // again. The re-scan design below stays: it shuffles almost nothing
    // at any scale, and the one expensive re-scan family (q84/q104's
    // scorer) was instead made cheap at the sampler — see boundsFrom.)
    val totals = withPid.groupBy(col("__pid")).agg(
        count(lit(1)).as("__pcnt"),
        running.map { case (c, n) => sum(c).as(s"__ptot_$n") }: _*)
      // `.otherwise(__pcnt >= 0)` — always true — exists ONLY to reference
      // an aggregate output: a predicate over just the grouping column
      // gets pushed below the aggregate to CORPUS grain, where the
      // raise_error evicts the scorer stage from codegen (measured 2.4×
      // on q84 before this anchor)
      .filter(when(col("__pid") === -1, raise_error(lit(
          "Ranks.withGlobalOrder: NULL sort-key value — keys must be " +
            "non-null (wrap in coalesce with a sentinel); ranks would be " +
            "corrupt")).cast("boolean"))
        .otherwise(col("__pcnt") >= 0))
    val offsets = running.foldLeft(
      totals.withColumn("__poff", coalesce(sum(col("__pcnt")).over(wOff), lit(0L)))) {
      case (d, (_, n)) =>
        d.withColumn(s"__off_$n", coalesce(sum(col(s"__ptot_$n")).over(wOff), lit(0L)))
    }.select(col("__pid") +: col("__poff") +:
      running.map { case (_, n) => col(s"__off_$n") }: _*)
    val joined = running.foldLeft(
      within.join(broadcast(offsets), "__pid")
        .withColumn(rankName, col("__poff") + col("__within"))) {
      case (d, (_, n)) => d.withColumn(n, col(s"__off_$n") + col(s"__run_$n"))
    }
    joined.drop("__pid" :: "__within" :: "__poff" ::
      running.toList.flatMap { case (_, n) => List(s"__run_$n", s"__off_$n") }: _*)
  }

  /** The splitter-bound sample behind `withGlobalOrder` — exposed for the
    * balance/determinism properties in GraftProps. Returns ≤ buckets−1
    * sorted distinct key tuples (as Rows of __k0..__kn).
    *
    * Sampling: a cheap hash-mod pre-thin (`sampleMod`; on `sampleOn` when
    * given, so the filter pushes below expensive key computation), then a
    * DETERMINISTIC uniform cap — the `64·buckets` survivors with the
    * smallest salted hash, totally ordered by (hash, key) so the sample is
    * a pure function of the DATA VALUES: re-orderings, re-partitionings,
    * and execution races cannot change it. Physically a
    * TakeOrderedAndProject (per-partition bounded heads + bounded driver
    * merge), so driver heap stays O(64·buckets·keyWidth) at any N — with
    * keyWidth itself capped at 64 chars for strings by the prefix thinning
    * below, bounding the worst case (4096 buckets × 1 KB keys ≈ 0.5 GB of
    * UTF-16 on the driver pre-thinning) at ~30 MB. */
  private[graft] def splitterBounds(df: DataFrame, order: Seq[Column],
      buckets: Int, sampleMod: Int, sampleOn: Option[Column]): Seq[Row] = {
    val split = order.map(Bridge.splitSortOrder)
    val keyCols = split.map(_._1)
    val asc = split.map(_._2)
    val thinned = sampleOn match {
      case Some(c) => df.filter(pmod(xxhash64(c), lit(sampleMod)) === 0)
      case None => df
    }
    val sampleCap = 64 * buckets
    // salt ≠ the mod filter's hash, so the top-k order is independent of the
    // survivor pattern
    val hashed = sampleOn match {
      case Some(c) => thinned.select(
        (xxhash64(lit("graft_rethin"), c).as("__h") +:
          keyCols.zipWithIndex.map { case (k, i) => k.as(s"__k$i") }): _*)
      case None =>
        val keyed = thinned.select(
          keyCols.zipWithIndex.map { case (c, i) => c.as(s"__k$i") }: _*)
        keyed
          .filter(pmod(xxhash64(keyed.columns.map(col): _*), lit(sampleMod)) === 0)
          .select((xxhash64(lit("graft_rethin") +: keyed.columns.map(col): _*)
            .as("__h") +: keyed.columns.map(col)): _*)
    }
    val keyNames = keyCols.indices.map(i => s"__k$i")
    // Adversarially wide STRING keys are thinned to a 64-char prefix BEFORE
    // the driver collect: the sample is 64·buckets rows and each bound
    // becomes a plan literal, so 1 KB keys at the 4096-bucket cap would
    // hold ~0.5 GB on the driver (2 B/char UTF-16) and megabytes of plan
    // state — for cut points whose exact values don't matter. Ranks are
    // EXACT for ANY bound values (a bound is just a lexicographic cut);
    // char-truncation preserves UTF-8 byte order (a char prefix is a byte
    // prefix), so driver sort and executor `afterBound` comparisons still
    // agree. Worst case a hot shared 64-char prefix collapses some bounds
    // → fewer buckets → less balance, never wrong ranks. Non-string key
    // types pass through untouched.
    val thinned64 = hashed.select(col("__h") +: keyNames.map { n =>
      hashed.schema(n).dataType match {
        case org.apache.spark.sql.types.StringType =>
          substring(col(n), 1, 64).as(n)
        case _ => col(n)
      }
    }: _*)
    val sample = thinned64
      .orderBy((col("__h").asc +: keyNames.map(col(_).asc)): _*)
      .limit(sampleCap)
      .select(keyNames.map(col): _*)
      .collect()
    sample.foreach { r =>
      require(!r.anyNull,
        "Ranks.withGlobalOrder: sampled a NULL sort-key value — keys must be " +
          "non-null (wrap in coalesce with a sentinel); ranks would be corrupt")
    }
    val ord = rowOrdering(asc)
    val sorted = sample.sortWith((a, b) => ord.compare(a, b) < 0)
    if (sorted.isEmpty) Nil
    else (1 until buckets)
      .map(i => sorted((i.toLong * sorted.length / buckets).toInt))
      .distinct
  }

  /** Lexicographic Ordering over sample rows (null-free total-order keys:
    * numerics, strings, timestamps), honoring per-column direction.
    * CORRECTNESS-CRITICAL since the bucket id is a binary search: the
    * driver-sorted bound order must agree with the executor-side
    * `afterBound` comparisons, or pid stops being monotone in the row
    * order (the old linear count-of-bounds form tolerated any bound order;
    * the search does not). Hence strings compare as UNSIGNED UTF-8 BYTES —
    * Spark's binary UTF8String order — not String.compareTo (UTF-16 code
    * units), which disagrees for supplementary-plane characters. */
  private def rowOrdering(asc: Seq[Boolean]): Ordering[Row] = new Ordering[Row] {
    private def utf8Compare(x: String, y: String): Int = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
    override def compare(a: Row, b: Row): Int = {
      var i = 0
      while (i < asc.length) {
        val c = (a.get(i), b.get(i)) match {
          case (x: String, y: String) => utf8Compare(x, y)
          case (x: java.lang.Comparable[_], y) =>
            x.asInstanceOf[java.lang.Comparable[Any]].compareTo(y)
          case (x, y) => utf8Compare(x.toString, y.toString)
        }
        if (c != 0) return if (asc(i)) c else -c
        i += 1
      }
      0
    }
  }
}
