package graft.pipeline

/** Quiescence (debounce) semantics — operator A9, the reference's
  * wait_for_quiet (dags/msconvert_dag.py:92-100): a run is ready only after
  * its recursive byte size has been unchanged for `quietS` seconds.
  *
  * The reference blocks a task polling every `checkIntS`; a distributed
  * engine must not block executors, so the same state machine runs
  * non-blocking across observations (SURVEY.md §7.4.1, hard part #1):
  * per-cycle in batch mode (PipelineRunner folds it over each cycle's
  * observed sizes; LedgerStore keeps the clocks between cycles) and
  * per-event in streaming mode (flatMapGroupsWithState keyed by run path —
  * see graft.streaming.DebounceStream).
  *
  * The transition function is pure so both modes — and the property tests —
  * share one definition.
  */
object Quiescence {

  /** (lastSize, epoch seconds when that size was first observed). */
  final case class QuietState(lastSize: Long, stableSinceEpochS: Long)

  final case class Decision(state: QuietState, ready: Boolean)

  /** One observation step.
    *
    * Size changed ⇒ restart the stability clock at `nowEpochS`. Unchanged for
    * >= quietS ⇒ ready. Matches the reference loop: `if size == last and
    * (now - stable_since) >= quiet_s: return` with the clock reset on every
    * size change.
    */
  def advance(prev: Option[QuietState], size: Long, nowEpochS: Long, quietS: Int): Decision =
    prev match {
      case Some(s) if s.lastSize == size =>
        Decision(s, nowEpochS - s.stableSinceEpochS >= quietS)
      case _ =>
        Decision(QuietState(size, nowEpochS), quietS <= 0)
    }
}
