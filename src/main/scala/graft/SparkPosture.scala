package graft

import org.apache.spark.sql.SparkSession

/** Cluster-posture session settings shared by the harness mains
  * (Verify/Bench and the `graft.tools` mains, via `session`).
  *
  * `spark.io.compression.codec=zstd`: the sf100 decade showed the
  * single-disk shuffle path is BYTES-bound, not CPU-bound — q74's 600M-row
  * lineitem shuffle went 356 s → ~50 s warm just by switching the shuffle/
  * spill codec from lz4 to zstd (the numeric fact columns compress ~3×
  * better, and the smaller spill set stays inside the page cache instead
  * of forcing writeback). On a real cluster the same bytes ride the
  * network, so the posture transfers. `spark.shuffle.file.buffer=1m`
  * cuts write syscalls on wide fan-out shuffles (256 reducers × open
  * files); memory cost is bounded by reducer count and small vs heap.
  *
  * Runtime bloom-filter thresholds are deliberately NOT baked: Spark
  * sizes `bloom_filter_agg` from the creation side's rowCount estimate,
  * which is None over raw parquet scans, so a forced filter at 100×
  * corpus saturates its default 1M-item bitmap (FPP→1, all cost no
  * pruning — measured at sf100: bloom alone bought 21%, zstd 5-7×).
  * The default bloom caps (maxNumItems 4M / 64M bits) bound what sizing
  * can buy at 25M-key creation sides regardless (PLANS.md "Round-12: catalog-stats mode").
  * Probes can still enable/raise everything per-run via GRAFT_SPARK_OPTS.
  *
  * Every setting yields to an explicit `-Dspark.*` system property
  * (GRAFT_SPARK_OPTS in tools/run.sh) so probes can A/B alternatives
  * without source edits.
  */
object SparkPosture {
  private val settings: Seq[(String, String)] = Seq(
    "spark.io.compression.codec" -> "zstd",
    "spark.shuffle.file.buffer" -> "1m",
    // Janino compile cache sized to the workload (r19, measured at sf0.1;
    // PLANS.md "Codegen census"): one full registry pass compiles ~870
    // distinct generated classes (WholeStageCodegen units + unsafe
    // projections/orderings/predicates, mean ~12-16 ms each), so Spark's
    // default 100-entry LRU thrashes completely — EVERY warm pass
    // recompiled ~975 sources (~12 s/pass of pure Janino on the driver,
    // the wall-vs-jobsum gap between AQE stages). At 4096 the second pass
    // compiles ~10 and the third 0; suite pass wall fell 42 s -> 26 s and
    // the full bench warm total ~52.6 s -> ~32.5 s (same box window, both
    // via tools/run.sh) with zero per-query regressions. Not a local-only
    // tweak: the cache is per-JVM (driver and executors alike), so any
    // long-lived production process running this registry repeatedly pays
    // the same recompile tax; memory is bounded by ~870 live entries of
    // tens-of-KB sources+classes (low hundreds of MB worst case).
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // Bypass-writer memory is tasks × reducers × file.buffer and sits
    // OUTSIDE the memory manager — it can never spill. At the default
    // threshold (200) a 200-partition shuffle × 32 concurrent tasks × the
    // 1m buffer above = 6.4 GB of raw buffers, which OOM'd a 4 GiB heap in
    // the r15 constrained-memory run (q48's pair shuffle died in
    // BypassMergeSortShuffleWriter with ZERO prior spills — the one shuffle
    // path that degrades by crashing). Capping the threshold at 32 keeps
    // bypass for gate-posture shuffles (≤32 reducers, where its
    // sort-avoidance wins and its buffer cost matches the proven 8 GiB
    // posture) and sends anything wider to SortShuffleWriter, whose
    // buffers are execution-memory-managed and spill instead of crashing.
    // At cluster scale reducer counts are in the thousands, so bypass
    // never applied there anyway — this only changes constrained/local
    // wide-shuffle behavior from OOM to spill.
    "spark.shuffle.sort.bypassMergeThreshold" -> "32")

  /** The pairs `apply` will set: the posture minus any key the launcher
    * already pinned with -Dspark.* (SparkConf loads system properties, and
    * a builder .config would silently beat them — so we decline instead). */
  def effective: Seq[(String, String)] =
    settings.filterNot { case (k, _) => sys.props.contains(k) }

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    effective.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The one way a harness main builds its session: the posture,
    * `local[cpus]`, `shuffle` partitions, session time zone UTC (matches
    * the oracle and Verify) and no UI. Callers set their own log level. */
  def session(cpus: String, shuffle: String): SparkSession =
    apply(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  def session(cpus: String): SparkSession = session(cpus, cpus)
}
