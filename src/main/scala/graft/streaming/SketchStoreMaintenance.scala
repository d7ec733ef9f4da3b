package graft.streaming

import graft.streaming.FamilyMaintenance.{Carry, StoreSpec}

/** The one-call maintenance loop for [[IncrementalSketchStore]]'s two
  * mergeable-summary stores on the shared [[FamilyMaintenance]] engine.
  * The verified folds themselves are [[IncrementalSketchStore.foldDaily]]
  * and [[IncrementalSketchStore.foldCms]]; the engine adds everything
  * around them: a measure-then-act trigger, a generation root, an atomic
  * `_current` pointer, and a published destination the drains can
  * re-enter without hand-wiring a path swap.
  *
  * Both stores are [[FamilyMaintenance.Carry.Custom]] wrappers over the
  * folds — the sketches are MERGEABLE summaries, so the carry is a fold,
  * not a row copy, and each fold verifies its own invariant before the
  * engine may publish (exact counter totals for both; an IDENTICAL
  * all-time HLL estimate for the daily store, because identical register
  * states survive any merge order). Neither store is bucketed: the daily
  * store is one row per (batch, day) and the CMS store one ~160 KB row
  * per batch, so the maintenance hazard is purely the per-read fold and
  * listing cost of thousands of batch files — which the fold resets to
  * one row (CMS) / one row per day (daily). Both are optional: a store
  * the deployment never ran is simply absent and skipped.
  *
  * The trigger measures the first store present — the daily store, or
  * the CMS store in a CMS-only deployment (both drains append one file
  * per batch, so either count tracks drain history), firing when the
  * per-read fold spans more than `maxFiles` batches. A compacted
  * generation holds both stores at `batch=-1` — below every streaming
  * epoch — so the drains re-enter the published generation under a fresh
  * checkpoint via [[IncrementalSketchStore.dailyPath]] /
  * [[IncrementalSketchStore.cmsPath]] of `currentRoot`, and the
  * fresh-era guard accepts it.
  */
object SketchStoreMaintenance extends FamilyMaintenance.Facts(
  "SketchStoreMaintenance",
  Seq(
    StoreSpec("daily", IncrementalSketchStore.dailyPath _,
      Carry.Custom((s, src, dst, _, _) =>
        IncrementalSketchStore.foldDaily(s, src, dst)),
      optional = true),
    StoreSpec("cms", IncrementalSketchStore.cmsPath _,
      Carry.Custom((s, src, dst, _, _) =>
        IncrementalSketchStore.foldCms(s, src, dst)),
      optional = true)),
  IncrementalSketchStore.storePaths _,
  DefaultMaxFiles = 256L)
