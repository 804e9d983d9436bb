package graft.classifier

/** The transfer-outcome state machine + per-session classification fold.
  *
  * Semantics donors:
  *  - outcome decision tree: reference `src/prmdata/domain/gp2gp/transfer_outcome.py:44-105`
  *  - SLA calculation:       reference `src/prmdata/domain/gp2gp/transfer_service.py:167-181`
  *  - cutoff filter:         reference `transfer_service.py:158-164`
  *  - group sort:            reference `transfer_service.py:62` (stable by time)
  *
  * Pure Scala (no Spark) — executed per key by the session kernel
  * (`CdcPipeline.classifySession`) inside the batch, epoch and streaming
  * folds, so the hot path is a single in-memory pass per session and never
  * materializes a session as a table.
  */
object TransferClassifier {

  final val EightDaysMicros: Long = 8L * 24 * 3600 * 1000000L

  /** Full per-session fold: stable-sort by time, cutoff-filter, parse, derive.
    * Returns None when the session lacks a start message (dropped, like the
    * reference) — `transfer_service.py:55-88`.
    */
  def classify(
      unordered: Seq[SpineMessage],
      cutoffMicros: Long,
      counters: Gp2gpSession.Counters = new Gp2gpSession.Counters,
  ): Option[Transfer] = {
    val sorted = stableSortByTime(unordered)
    val filtered = ignoreMessagesSentAfter(cutoffMicros, sorted)
    Gp2gpSession.parse(filtered, counters).map(s => deriveTransfer(s, counters))
  }

  /** Stable sort by time (reference relies on Python's stable sort so that
    * equal-time messages keep input order — `transfer_service.py:62`).
    */
  def stableSortByTime(messages: Seq[SpineMessage]): Vector[SpineMessage] =
    messages.toVector.sortBy(_.timeMicros) // scala Vector sortBy is stable (TimSort)

  /** Cutoff: keep messages within `cutoff` of session start; cutoff == 0 keeps
    * all — reference `transfer_service.py:158-164` (inclusive bound).
    */
  def ignoreMessagesSentAfter(
      cutoffMicros: Long, sorted: Vector[SpineMessage]): Vector[SpineMessage] = {
    if (cutoffMicros == 0L || sorted.isEmpty) sorted
    else {
      val start = sorted.head.timeMicros
      sorted.filter(m => m.timeMicros - start <= cutoffMicros)
    }
  }

  /** SLA = effective final ack − effective request completed, clamped ≥ 0 —
    * `transfer_service.py:167-181`. Raw microseconds; the 8-day on-time test
    * runs on the UNROUNDED value (`transfer_outcome.py:86`), the sink rounds
    * to whole seconds with half-even rounding (Python `round`,
    * `transfer.py:31-36`).
    */
  def slaDurationMicros(
      session: Gp2gpSession,
      counters: Gp2gpSession.Counters = new Gp2gpSession.Counters): Option[Long] =
    session.effectiveFinalAcknowledgementTimeMicros.map { ackTime =>
      val diff = ackTime - session.effectiveRequestCompletedTimeMicros.get
      // the reference WARNS on negative SLA before clamping
      // (transfer_service.py:176-178) — surfaced as a counter here
      if (diff < 0) counters.negativeSla += 1
      math.max(0L, diff)
    }

  def roundSeconds(micros: Long): Long = math.rint(micros / 1e6).toLong

  def deriveTransfer(
      session: Gp2gpSession,
      counters: Gp2gpSession.Counters = new Gp2gpSession.Counters): Transfer = {
    val slaMicros = slaDurationMicros(session, counters)
    val (status, reason) = assignOutcome(session, slaMicros)
    Transfer(
      conversationId = session.conversationId,
      slaDurationSeconds = slaMicros.map(roundSeconds),
      requestingPracticeAsid = session.requestingPracticeAsid,
      sendingPracticeAsid = session.sendingPracticeAsid,
      requestingSupplier = session.requestingSupplier,
      sendingSupplier = session.sendingSupplier,
      senderErrorCodes = session.senderErrorCodes,
      finalErrorCodes = session.finalErrorCodes,
      intermediateErrorCodes = session.intermediateErrorCodes,
      status = status,
      failureReason = reason,
      dateRequestedMicros = session.dateRequestedMicros,
      dateCompletedMicros = session.effectiveFinalAcknowledgementTimeMicros,
      lastSenderMessageTimestampMicros = session.lastSenderMessageTimestampMicros,
    )
  }

  /** Outcome decision tree — exact port of `transfer_outcome.py:44-81`. */
  def assignOutcome(
      c: Gp2gpSession, slaMicros: Option[Long]): (String, Option[String]) = {
    import FailureReason._
    import TransferStatus._
    if (c.isIntegrated) {
      // _integrated_within_sla — transfer_outcome.py:83-89 (8-day SLA)
      if (slaMicros.exists(_ <= EightDaysMicros)) (IntegratedOnTime, None)
      else (ProcessFailure, Some(IntegratedLate))
    } else if (c.hasConcludedWithFailure) (TechnicalFailure, Some(FinalError))
    else if (c.containsCopcFragments) copcOutcome(c)
    else if (c.containsFatalSenderErrorCode) (TechnicalFailure, Some(FatalSenderError))
    else if (c.isMissingRequestAcknowledged) (TechnicalFailure, Some(RequestNotAcknowledged))
    else if (c.isMissingCoreEhr) (TechnicalFailure, Some(CoreEhrNotSent))
    else if (c.containsCoreEhrWithSenderError)
      (UnclassifiedFailure, Some(TransferredNotIntegratedWithError))
    else (ProcessFailure, Some(TransferredNotIntegrated))
  }

  /** COPC sub-tree — `transfer_outcome.py:66-81`. */
  private def copcOutcome(c: Gp2gpSession): (String, Option[String]) = {
    import FailureReason._
    import TransferStatus._
    if (c.containsUnacknowledgedDuplicateEhrAndCopcFragments)
      (UnclassifiedFailure, Some(AmbiguousCopcs))
    else if (c.containsCopcError && !c.isMissingCopcAck)
      (UnclassifiedFailure, Some(TransferredNotIntegratedWithError))
    else if (c.isMissingCopc) (TechnicalFailure, Some(CopcNotSent))
    else if (c.isMissingCopcAck) (TechnicalFailure, Some(CopcNotAcknowledged))
    else (ProcessFailure, Some(TransferredNotIntegrated))
  }
}
