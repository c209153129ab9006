package graft

/** Read-only view of engine counters that are package-private, for the
  * benchmark's per-layer report. Lives with the benchmark, not the engine.
  */
object PerfbenchProbe {
  def memoEntries: Int = Memos.totalEntries
}
