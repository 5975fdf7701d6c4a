package graft.tools

/** Opt-in phase-level wall-clock instrumentation for the streaming-growth
  * cost decomposition (round-14 verdict ask #1b): the measured per-trigger
  * residual at datadom6 scale needed its growing TERM named — probe read
  * vs data/manifest commits vs GC sweeps — not another end-to-end number.
  * Disabled (the default) this is one branch on a static final; enabled
  * (env `GRAFT_PHASE_TIMING`) each wrapped phase prints one JSON line the
  * probe scripts aggregate.
  * Never enabled in benches or tests — measurement plumbing, not a
  * product surface.
  */
object PhaseTimer {

  val enabled: Boolean = sys.env.contains("GRAFT_PHASE_TIMING")

  def apply[T](phase: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f
      finally println(
        s"""{"phase":"$phase","ms":${(System.nanoTime() - t0) / 1000000}}""")
    }
}
