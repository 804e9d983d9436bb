package perfbench

/** `cdc_apply`: the CDC engine's two uses in one JVM — the bulk phase (a
  * backfill of a few large epochs, see `BulkApply`) and the trickle phase (a
  * tail of many small epochs, see `TrickleApply`). Each phase stresses a
  * different layer; they share one session so the JVM's fixed start-up and
  * JIT costs are paid once.
  *
  * Set-up builds both inputs, then runs both warm-ups. `--seconds` is split
  * evenly between the two timed phases; each phase also has a minimum amount
  * of work. The live heap is measured when both timed phases are done.
  */
object CdcApply {
  def run(ctx: Ctx, sessionS: Double): Unit = {
    var bulkIn: BulkApply.Input = null
    var trickleIn: TrickleApply.Input = null
    val prepS = Util.timed {
      bulkIn = new BulkApply.Input(ctx)
      trickleIn = new TrickleApply.Input(ctx)
    }
    Util.mark(f"prepared in $prepS%.2f s")
    val bulk = new BulkApply.Phase(ctx, bulkIn)
    val trickle = new TrickleApply.Phase(ctx, trickleIn)
    val warmS = Util.timed { bulk.warmUp(); trickle.warmUp() }
    Util.mark("warmed up")
    ctx.report.e2e("setup_s") = sessionS + prepS + warmS
    ctx.report.detail("warmup_s") = (warmS, "s")

    bulk.run(ctx.seconds / 2)
    trickle.run(ctx.seconds / 2)
    ctx.report.e2e("live_heap_mb") = Util.liveHeapMb()
    bulk.gate()
    trickle.gate()
    Util.mark("gates done")
    if (ctx.tracer.enabled) ctx.listener.get.drain()
    bulk.report()
    trickle.report()
    bulk.cleanUp()
    trickle.cleanUp()
  }
}
