package graft.tools

import scala.util.control.NonFatal

/** Long-lived-driver soak (follows the r15 checkpoint-leak fix): a serving
  * driver that runs the dedup/similarity family per request must hold ZERO
  * growing state across request cycles — before Checkpoints, every cycle
  * leaked its localCheckpoint blocks, so block count grew linearly until
  * the ContextCleaner happened to GC. This probe runs `rounds` cycles of
  * the whole family (one fresh child session per cycle, the multi-tenant
  * shape), releases after each, and records persisted-RDD count, tracked
  * checkpoint count, memo keys, and heap after GC. PASS = all three
  * counters return to the pre-cycle baseline every cycle and used heap
  * stays bounded (no monotone growth).
  *
  * r16 (ADVICE r15 item 6): each cycle now also exercises the reference's
  * FULL serve loop, not just the query family — a `publishServing` push of
  * the lake tables to an embedded Derby serving DB (main.py:55-62's
  * if_exists='replace' semantics, so repeated cycles are idempotent) and a
  * Structured Streaming micro-batch (streamingTumbling → memory sink →
  * processAllAvailable → stop), whose state store + sink table must not
  * outlive the cycle either.
  *
  * Usage: tools/run.sh graft.tools.SessionSoak [sfDir] [rounds=5]
  */
object SessionSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val rounds = args.lift(1).map(_.toInt).getOrElse(5)
    val root = graft.SparkPosture.session("8")
    root.sparkContext.setLogLevel("ERROR")

    // --- serve-loop fixtures (built once; per-cycle work reads them) ---
    // Lake tables for publishServing: small real derivatives of the sf
    // data, named the way the pipeline names them so the publish call is
    // the production entry point verbatim.
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val lakeDir = java.nio.file.Files.createTempDirectory("soak-lake").toString
    val servingUrl = "jdbc:derby:memory:graftsoak;create=true"
    graft.sources.Tables(root, sfDir, "nation")
      .write.mode("overwrite").parquet(s"$lakeDir/dim_locations.parquet")
    graft.sources.Tables(root, sfDir, "orders").limit(2000)
      .write.mode("overwrite").parquet(s"$lakeDir/master_table.parquet")
    // Streaming source dir: the sf events table re-laid-out as a directory
    // the file stream source can list.
    val streamDir = java.nio.file.Files.createTempDirectory("soak-stream").toString
    graft.sources.Tables(root, sfDir, "events").limit(5000)
      .write.mode("overwrite").parquet(streamDir)

    val family = Seq(
      graft.operators.Dedup.q30ExactDedup, graft.operators.Dedup.q31NgramJaccard,
      graft.operators.Dedup.q32MinHashLsh, graft.operators.Dedup.q33SimHash,
      graft.operators.Dedup.q48DedupClusters,
      graft.operators.Dedup.q113DedupSurvivorsLsh,
      graft.operators.Dedup.q34EmbeddingDups,
      graft.operators.SimilaritySearch.q36LshTopK,
      graft.operators.SimilaritySearch.q111EmbeddingClusters,
      graft.operators.Graph.q68PagerankStep)

    def usedHeapMb(): Long = {
      System.gc(); Thread.sleep(200)
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
    }
    val baseBlocks = root.sparkContext.getPersistentRDDs.size
    println(s"[soak] baseline persisted_rdds=$baseBlocks heap_mb=${usedHeapMb()}")
    var failed = false
    var firstCycleHeap = 0L
    for (r <- 1 to rounds) {
      val s = root.newSession()
      val rows = family.map(q => q.run(s, sfDir).count()).sum
      // serve loop 1/2: publish the lake to the embedded serving DB —
      // overwrite mode means every cycle replaces, like the reference
      graft.pipeline.OlistPipeline.publishServing(s, lakeDir, servingUrl)
      val served = graft.sources.Tables.jdbc(s, servingUrl, "dim_locations").count()
      // serve loop 2/2: one streaming micro-batch drain; the memory sink
      // table and the query's state store are per-cycle resources that
      // must be torn down with the cycle
      val qn = s"soak_tumbling_$r"
      val sq = graft.streaming.Events.streamingTumbling(s, streamDir)
        .writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      sq.processAllAvailable()
      val streamed = s.table(qn).count()
      sq.stop(); s.catalog.dropTempView(qn)
      graft.operators.Dedup.releaseCaches(s)
      // releaseCaches unpersists async — give the block manager a moment
      var blocks = root.sparkContext.getPersistentRDDs.size
      val deadline = System.nanoTime() + 15e9.toLong
      while (blocks != baseBlocks && System.nanoTime() < deadline) {
        Thread.sleep(200); blocks = root.sparkContext.getPersistentRDDs.size
      }
      val ckpts = graft.operators.Checkpoints.trackedIdsFor(s).size
      val memos = graft.operators.Dedup.memoKeysFor(s).size
      val heap = usedHeapMb()
      if (r == 1) firstCycleHeap = heap
      // ADVICE r16 item 5: the serve-loop row check is part of `ok` BEFORE
      // the cycle line prints — a served==0/streamed==0 cycle must never
      // read "clean" in the log with the FAIL trailing it.
      val serveOk = served > 0 && streamed > 0
      val ok = blocks == baseBlocks && ckpts == 0 && memos == 0 && serveOk
      if (!ok) failed = true
      println(s"[soak] cycle $r: rows=$rows served=$served streamed=$streamed " +
        s"persisted_rdds=$blocks tracked_ckpts=$ckpts memo_keys=$memos " +
        s"heap_mb=$heap " +
        (if (ok) "clean" else if (!serveOk) "FAIL (serve loop returned no rows)"
         else "LEAK"))
    }
    val endHeap = usedHeapMb()
    // bounded-heap check: allow 50% headroom over the first post-cycle
    // measurement for JIT/code-cache/metaspace warm growth; monotone leak
    // across cycles would blow well past that
    val heapOk = endHeap <= firstCycleHeap * 3 / 2 + 256
    println(s"[soak] ${if (!failed && heapOk) "PASS" else "FAIL"} " +
      s"rounds=$rounds final_heap_mb=$endHeap first_cycle_heap_mb=$firstCycleHeap " +
      s"(bound ${firstCycleHeap * 3 / 2 + 256})")
    root.stop()
    // ADVICE r16 item 5 (tidiness): drop the in-memory Derby DB and the
    // temp fixture dirs — a soak leaves nothing behind.
    try java.sql.DriverManager.getConnection(
      "jdbc:derby:memory:graftsoak;drop=true")
    catch { case _: java.sql.SQLException => () } // 08006 = dropped OK
    def rmTree(dir: String): Unit = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => try java.nio.file.Files.delete(f)
                        catch { case NonFatal(_) => () })
    }
    rmTree(lakeDir); rmTree(streamDir)
    if (failed || !heapOk) sys.exit(1)
  }
}
