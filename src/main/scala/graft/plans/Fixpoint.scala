package graft.plans

/** The round loop of graft's iterative operators: BFS, the frontier
  * relaxation behind weighted and temporal shortest paths, k-core, SCC,
  * Borůvka and connected components run their rounds here, so the round
  * counter, the bound and the exit live in one place.
  *
  * A step maps (state, 1-based round) to (next state, converged); the
  * loop stops at the first converged step. At `maxRounds` unconverged, a
  * GUARD (the default) fails, naming the loop and the bound, rather than
  * return a half-done state as the answer; a BOUNDED loop returns the
  * state it reached — for bounds that are part of the algorithm
  * (k-core's peel cap, a radius-capped BFS ball).
  *
  * No pin policy: each step keeps its own `localCheckpoint`, visible at
  * its call site, because a loop's cost lives at its materialization
  * boundaries (FuseME, PAPERS.md) and a lazy pin means different things
  * in graft's two session kinds. In the AQE-off clone the co-rating graph
  * memo is built on, `localCheckpoint(false)` defers a round's work to
  * the final action (q152 runs 3 jobs with or without per-round pins); in
  * a default adaptive (AQE) session, pinning each TextRank round lazily
  * ran the round's work while q203's frame was being built (24 jobs
  * instead of 20, build 0.37 → 0.91 s, one traced run on 4 vCPUs). So the
  * fixed-count PageRank recurrence pins no round, and these loops keep
  * the pins they were measured with.
  */
object Fixpoint {

  /** Runs `step` from `init` until it reports convergence. Returns the
    * final state and the number of rounds run (calls to `step`).
    */
  def apply[S](name: String, maxRounds: Int, bounded: Boolean = false)(init: S)(
      step: (S, Int) => (S, Boolean)): (S, Int) = {
    @annotation.tailrec
    def loop(state: S, round: Int): (S, Int) =
      if (round == maxRounds) {
        if (bounded) (state, round)
        else sys.error(s"$name: not converged within $maxRounds rounds")
      } else {
        val (next, converged) = step(state, round + 1)
        if (converged) (next, round + 1) else loop(next, round + 1)
      }
    loop(init, 0)
  }
}
