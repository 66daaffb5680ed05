package graft

/** Executable form of SURVEY §5's cluster sizing rules, derived from
  * cluster shape instead of hardcoded. Sessions themselves come from
  * [[GraftSession]].
  */
object ScaleDefaults {

  /** Shuffle partition count: at least ~2 tasks per core (pipeline
    * overlap), raised so each partition stays near `targetPartitionMB`
    * for the expected shuffle volume (oversized partitions spill;
    * thousands of tiny ones drown the scheduler — AQE coalesces the
    * in-between at runtime). */
  def shufflePartitions(totalCores: Int, expectedShuffleGB: Double,
                        targetPartitionMB: Int = 200): Int = {
    val byCores = totalCores * 2
    val bySize = math.ceil(expectedShuffleGB * 1024.0 / targetPartitionMB).toInt
    math.max(byCores, bySize)
  }
}
