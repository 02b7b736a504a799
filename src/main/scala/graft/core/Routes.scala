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
  *   the switch of the re-key refreshes' source-row delta: off, an
  *   aggregate view refresh takes neither variant of the counting-IVM
  *   fold-in — the driver one nor the distributed one — and re-merges
  *   per-chunk minis (the reference route), and an index refresh
  *   splices the delta of the distributed row net ([[Ops.rowNet]])
  *   instead of the driver's.
  * @param driverMaxBytes compressed-byte budget of every driver-side
  *   chunk read, splice and collect — the cap that bounds driver
  *   memory (the row caps bound per-row object overhead). 64 MB
  *   compressed is a few hundred MB of row objects at typical codecs.
  * @param interpretedCollectMaxBytes crossover for the byte-admitted
  *   collects: estimated row bytes (row bound × schema width) at or
  *   under it run with interpreted expressions, above it with codegen
  *   (see [[Canonical.interpretedCollectOk]]). */
private[graft] final case class Routes(
    pointDml: Boolean = true,
    driverPatch: Boolean = true,
    driverMaterialize: Boolean = true,
    driverMaxBytes: Long = 64L << 20,
    interpretedCollectMaxBytes: Long = 16L << 20)

private[graft] object Routes {
  /** The production routes: every driver route on, 64 MB driver byte
    * budget, 16 MB interpreted-collect crossover. */
  val Default: Routes = Routes()
}
