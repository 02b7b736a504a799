package graft.core

/** The route switches and byte caps one [[Ops]] computes with: which of
  * the driver-side routes it may take, and how many compressed bytes a
  * driver route may hold. Immutable and owned by its `Ops` (a
  * transaction's `Ops` inherits its session's), so two configurations
  * run side by side in one JVM and nothing leaks between them.
  *
  * Routes only shape where the work runs: every route computes the
  * same chunk bytes, so table hashes never depend on this value
  * (pinned across configurations by RouteFuzzSpec and DriverRouteSpec).
  * Production runs [[Routes.Default]]; specs build others to pin
  * driver-route == job-route equality.
  *
  * @param pointDml point DML (VALUES inserts, full-PK deletes and
  *   updates, range updates, byte-admitted INSERT…SELECT deltas) splices
  *   through the driver patch instead of the scan/merge paths.
  * @param driverPatch [[Ops.patchTableBounded]] may read, splice and
  *   write touched chunk runs on the driver, and the batched per-chunk
  *   and per-region jobs (transforms, minis, merge and join regions) may
  *   read byte-admitted chunks on the driver (zero Spark jobs).
  * @param driverMaterialize [[Canonical.materialize]] may collect a
  *   metadata-sized input once and write its chunks on the driver. Also
  *   the master switch of the counting-IVM fold-in of aggregate views
  *   ([[Ops.rekeyDeltaFoldIn]]): off, an aggregate view refresh re-merges
  *   per-chunk minis (the reference route) instead. Where a fold-in or
  *   index splice runs is not a switch: its one plan runs on the driver
  *   when its leaves, the changed chunks, are byte-admitted driver rows
  *   (`driverPatch`, `driverMaxBytes`), and as Spark jobs otherwise.
  * @param driverMaxBytes compressed-byte budget of every driver-side
  *   chunk read, splice and collect — the cap that bounds driver
  *   memory (the row caps bound per-row object overhead). 64 MB
  *   compressed is a few hundred MB of row objects at typical codecs. */
private[graft] final case class Routes(
    pointDml: Boolean = true,
    driverPatch: Boolean = true,
    driverMaterialize: Boolean = true,
    driverMaxBytes: Long = 64L << 20)

private[graft] object Routes {
  /** The production routes: every driver route on, 64 MB driver byte
    * budget. */
  val Default: Routes = Routes()
}
