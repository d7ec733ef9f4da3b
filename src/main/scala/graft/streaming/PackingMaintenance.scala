package graft.streaming

import graft.streaming.FamilyMaintenance.{Carry, StoreSpec}

/** The compaction loop for [[IncrementalPacking]]'s accumulating
  * stores — the [[FamilyMaintenance]] engine instantiated for the
  * sequence-packing family. Bins are exact facts (shipped bins never
  * move — the family's core discipline), so the maintenance hazard is
  * purely physical: every micro-batch adds a `batch=N` bin directory
  * plus a ≤shards-row cursor snapshot, and a crawl that has been
  * draining for a year pays a per-drain listing of thousands of tiny
  * snapshot files before its first cursor read.
  *
  * Both stores carry row-preserving and flat (no bucketed store, so
  * nothing to re-size): the bin relation is id-width rows read whole
  * (epoch plans aggregate it; no bucket probe to size), and the cursor
  * snapshots stay correct under any fold because the read is
  * `MAX(cum_tokens)` per shard — deliberately not `max_by(·, batch)`, so
  * rows tying at `batch=-1` resolve identically
  * ([[IncrementalPacking.cursor]]). What MUST also cross the boundary
  * is the frozen configuration: the `_shards`, `_budget`,
  * `_tokens_source`, and `_payloads` markers live at the root beside the
  * stores, and a generation without them would re-bootstrap with the LIVE
  * constants — silently re-binning a store packed under different ones
  * (or re-pricing it in a different token unit, or flipping payload
  * materialization mid-history), the exact drift the markers exist to
  * block. The post-carry hook copies all four verbatim.
  *
  * A compacted generation is a complete [[IncrementalPacking]] root at
  * `batch=-1`, and [[IncrementalPacking.run]] REFUSES a fresh
  * checkpoint while `batch>=0` directories remain — one fresh era per
  * compaction.
  */
object PackingMaintenance extends FamilyMaintenance.Facts(
  "PackingMaintenance",
  Seq(
    StoreSpec("bins", IncrementalPacking.binsPath _, Carry.Rows()),
    StoreSpec("cursor", IncrementalPacking.cursorPath _, Carry.Rows()),
    // payload fragments CANNOT carry row-preserving: landing every
    // fragment at one batch id erases the batch order their
    // concatenation depends on, so the carry pre-concatenates per bin
    // (token-total verified) — see IncrementalPacking.foldPayloads.
    // Optional: the store only exists when run() was given a vocabulary.
    StoreSpec("payloads", IncrementalPacking.payloadsPath _,
      Carry.Custom((spark, src, dest, numFiles, _) =>
        IncrementalPacking.foldPayloads(spark, src, dest, numFiles)),
      optional = true)),
  IncrementalPacking.storePaths _,
  postCarry = (spark, src, dest) =>
    // the frozen-config markers are root-level, not store-level, so they
    // ride the hook: absent markers (a legacy pre-marker store) stay
    // absent — run()'s own heal path owns that case
    Seq(IncrementalPacking.shardsMarker _,
      IncrementalPacking.budgetMarker _,
      IncrementalPacking.tokensSourceMarker _,
      IncrementalPacking.payloadsMarker _).foreach { m =>
      StoragePaths.readSmallFile(spark, m(src)).foreach(v =>
        StoragePaths.writeSmallFile(spark, m(dest), v))
    })
