package graft

/** Attributes harness-SETUP time inside a registered query separately from
  * the operator under test.
  *
  * Several queries round-trip through a storage format (q41–q43, q49, q63,
  * q80, q85, q88) or re-lay input for a streaming source (q54, m09): the
  * in-query table/file WRITE exists only so the read path has something to
  * scan — at scale the data already exists and only the read side is the
  * operator. That write is pure small-file IO, the most host-contention-
  * sensitive work in the suite, so on a contended host it can masquerade as
  * an operator regression (the r8/r9 bench-discrepancy postmortems traced
  * every driver-flagged "regression" in this cluster to exactly that).
  * Queries wrap their setup in [[setup]]; [[Bench]] drains the accumulator
  * per query and reports `setup_s` / `op_s` alongside the unchanged total.
  *
  * Since r20 the once-per-(JVM, corpus) persisted-index builds
  * (`Dedup.PersistedIndex`) are also setup-attributed: the
  * shared build otherwise lands inside whichever query calls first, making
  * per-query diffs order-dependent (VERDICT r19 item 2 — d16 read 3.9× its
  * r18 figure purely because it drew the build that round).
  *
  * The accumulator is a plain atomic (queries run sequentially on the
  * driver in Bench/Verify); under Verify nothing drains it, and the
  * wrapper is a pass-through — zero behavior change for correctness runs.
  */
object BenchSplit {
  private val acc = new java.util.concurrent.atomic.AtomicLong(0L)
  // reentrancy guard: a persisted-index build may trigger ANOTHER
  // index build (r21: the pair-index build reads the signature index)
  // — only the outermost setup() records, or the nested span would be
  // counted twice and op_s = total − setup would understate the operator
  private val depth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }

  /** Run `body`, attributing its wall time to harness setup. */
  def setup[T](body: => T): T = {
    if (depth.get > 0) body
    else {
      depth.set(1)
      val t0 = System.nanoTime()
      try body
      finally { depth.set(0); acc.addAndGet(System.nanoTime() - t0) }
    }
  }

  /** Seconds of setup time accumulated since the last drain; resets. */
  def drainSeconds(): Double = acc.getAndSet(0L) / 1e9
}
