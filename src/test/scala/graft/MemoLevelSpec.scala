package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SessionLedger

/** Pins the heap-adaptive storage level for memoized dedup intermediates
  * (ADVICE r15 item 3 — the change whose half-edited form broke the r15
  * build, now finished properly).
  *
  * Why it exists: deserialized MEMORY_AND_DISK block sizes are
  * SizeEstimator ESTIMATES; under a tight heap the underestimation lets
  * the block store overfill physical heap before eviction starts — the
  * 2 GiB full-registry probe died of raw OutOfMemoryError in q48 with
  * every family memo warm, while q48 alone at 2 GiB passed. Serialized
  * blocks are byte-exact accounted (~4× smaller), so small heaps must
  * trade per-reuse deserialization CPU for survival. These branches are
  * CI-pinned so a refactor can't silently flip the policy.
  */
class MemoLevelSpec extends AnyFunSuite {

  test("auto: serialized below a 6 GiB max heap, deserialized at/above") {
    // the r15 constrained probes ran at 2 and 4 GiB — both must auto-SER
    assert(SessionLedger.memoLevelFor(2L << 30) ==
      StorageLevel.MEMORY_AND_DISK_SER)
    assert(SessionLedger.memoLevelFor(4L << 30) ==
      StorageLevel.MEMORY_AND_DISK_SER)
    assert(SessionLedger.memoLevelFor((6L << 30) - 1) ==
      StorageLevel.MEMORY_AND_DISK_SER)
    // the boundary itself and roomy heaps keep deserialized reuse speed
    assert(SessionLedger.memoLevelFor(6L << 30) ==
      StorageLevel.MEMORY_AND_DISK)
    assert(SessionLedger.memoLevelFor(128L << 30) ==
      StorageLevel.MEMORY_AND_DISK)
  }
}
