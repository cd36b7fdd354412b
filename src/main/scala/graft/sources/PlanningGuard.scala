package graft.sources

/** DRIVER PLANNING-SIZE GUARD for the two lakehouse planners.
  *
  * Both formats materialize the live-file list on the driver to plan a
  * scan — [[IcebergScan]] walks the manifest tree, [[DeltaScan]]
  * replays the checkpoint and the log tail (one entry per live file,
  * checked as the entries accumulate). That is the standard FileIndex-style cost every engine pays,
  * but it is O(live files) DRIVER memory, and at 100 TB × small files
  * it can grow past what one JVM holds with no warning. This guard
  * makes the failure mode LOUD and actionable instead of an opaque
  * driver OOM mid-plan: a read that would materialize more than
  * [[maxFiles]] entries (or roughly [[maxBytes]] of planning state)
  * refuses with the counts and the fixes (compact small files, or
  * raise the bound when the driver is sized for it).
  *
  * Defaults: 4M files / 4 GiB approximate planning bytes — a driver
  * with tens of GiB of heap holds that comfortably (manifest string
  * bounds are already truncated to bound per-entry width). Override
  * via GRAFT_PLANNING_MAX_FILES / GRAFT_PLANNING_MAX_BYTES or the
  * vars (tests use the vars). */
object PlanningGuard {
  @volatile var maxFiles: Long =
    sys.env.get("GRAFT_PLANNING_MAX_FILES").map(_.toLong).getOrElse(4L * 1000 * 1000)
  @volatile var maxBytes: Long =
    sys.env.get("GRAFT_PLANNING_MAX_BYTES").map(_.toLong).getOrElse(4L << 30)

  /** fail loudly when a table's planning state exceeds the bounds */
  def check(table: String, files: Long, approxBytes: Long): Unit = {
    if (files > maxFiles) throw new IllegalStateException(
      s"planning $table would materialize $files live file entries on the " +
        s"driver (bound: $maxFiles) — compact small files, or raise " +
        "GRAFT_PLANNING_MAX_FILES / PlanningGuard.maxFiles if the driver " +
        "is sized for it")
    if (approxBytes > maxBytes) throw new IllegalStateException(
      s"planning $table would hold ~$approxBytes bytes of file metadata on " +
        s"the driver ($files entries; bound: $maxBytes bytes) — compact " +
        "small files, or raise GRAFT_PLANNING_MAX_BYTES / " +
        "PlanningGuard.maxBytes if the driver is sized for it")
  }
}
