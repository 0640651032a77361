package graft.streaming

/** Per-phase trigger wall times on stderr, gated on
  * `GRAFT_TRIGGER_TIMING`: the sync query's `front-half`, then the
  * epoch sink's `stageDeltas`, `stageAudit` and `commit`.
  */
private[streaming] object TriggerTiming {
  def timed[A](tag: String, phase: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    if (sys.env.contains("GRAFT_TRIGGER_TIMING"))
      System.err.println(
        f"[$tag] ${(System.nanoTime() - t0) / 1e6}%6.0f ms  $phase")
    r
  }
}
