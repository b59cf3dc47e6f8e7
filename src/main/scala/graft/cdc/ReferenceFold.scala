package graft.cdc

/** Sequential, single-threaded re-expression of the reference's per-event
  * merge ladder (`TransactionViewUpsertService.kt:60-250`): the semantic
  * oracle the distributed implementations ([[ViewReplay]],
  * [[graft.streaming.CdcStream]]) are property-tested against.
  *
  * Ladder semantics per event (processing order = call order):
  *  1. view absent → upsert: apply the FULL status update (plus `_class`).
  *  2. view present and `lastProcessedEventAt < event.tsMs` (strict) →
  *     apply the full status update.
  *  3. otherwise → apply only the unconditional data (enrichment) update,
  *     if the handler produces one; else no-op (the reference's retriable
  *     `CdcQueryMatchException` path, which under bounded retry converges
  *     to a no-op for a stale status-only event).
  *
  * Each handler mirrors `updateXxxData` (`TransactionViewUpsertService.kt:
  * 308-659`): a pair (dataUpdate?, statusUpdate) where statusUpdate is a
  * superset of dataUpdate plus `status` and `lastProcessedEventAt`, and
  * Mongo `$unset` is modeled as set-to-None.
  */
object ReferenceFold {

  import EventCodes._

  /** Replay events in the given order against an empty view store. */
  def replay(events: Seq[CdcEvent]): Map[String, TransactionView] =
    events.foldLeft(Map.empty[String, TransactionView]) { (store, e) =>
      store.updated(e.transactionId, processOne(store.get(e.transactionId), e))
    }

  def processOne(view: Option[TransactionView], e: CdcEvent): TransactionView = step(view, e)._1

  /** The rung an event takes: `Full` (rungs 1-2 above), `Enrich` or
    * `Noop` (rung 3, with or without a data update). */
  sealed trait Rung
  case object Full extends Rung
  case object Enrich extends Rung
  case object Noop extends Rung

  /** One event folded onto `view`: the view after it and the rung it took. */
  def step(view: Option[TransactionView], e: CdcEvent): (TransactionView, Rung) =
    view match {
      case None =>
        (applyStatusUpdate(TransactionView.empty(e.transactionId), e), Full)
      case Some(v) if v.lastProcessedEventAt.forall(_ < e.tsMs) =>
        (applyStatusUpdate(v, e), Full)
      case Some(v) =>
        applyDataUpdate(v, e).fold[(TransactionView, Rung)]((v, Noop))((_, Enrich))
    }

  /** The conditional "status update" fragment: everything the handler sets,
    * including status and the watermark. */
  def applyStatusUpdate(v0: TransactionView, e: CdcEvent): TransactionView = {
    val v = applyDataUpdate(v0, e).getOrElse(v0) // statusUpdate ⊇ dataUpdate in every handler
      .copy(lastProcessedEventAt = Some(e.tsMs))
    e.eventCode match {
      case Activated => v.copy(status = Some(Status.Activated))
      case AuthRequested => v.copy(status = Some(Status.AuthorizationRequested))
      case AuthCompleted => v.copy(status = Some(Status.AuthorizationCompleted))
      case UserReceiptRequested => v.copy(status = Some(Status.NotificationRequested))
      case Expired =>
        v.copy(status = Some(e.statusBeforeExpiration match {
          case Some(Status.Activated) => Status.ExpiredNotAuthorized
          case Some(Status.CancellationRequested) => Status.CancellationExpired
          case _ => Status.Expired
        }))
      case RefundRequested => v.copy(status = Some(Status.RefundRequested))
      case Closed =>
        v.copy(
          status = Some(
            if (e.wasCanceledByUser.contains(true)) Status.Canceled
            else if (e.responseOutcome.contains("OK")) Status.Closed
            else Status.Unauthorized),
          sendPaymentResultOutcome = Some(Status.NotReceived),
          closureErrorJson = None)
      case ClosureSynthetic =>
        v.copy(
          status = Some(Status.Closed),
          sendPaymentResultOutcome = Some(Status.NotReceived),
          closureErrorJson = None)
      case UserCanceled => v.copy(status = Some(Status.CancellationRequested))
      case RefundError => v.copy(status = Some(Status.RefundError))
      case ClosureRequested => v.copy(status = Some(Status.ClosureRequested))
      case ClosureError =>
        v.copy(
          status = Some(Status.ClosureError),
          sendPaymentResultOutcome = Some(Status.NotReceived),
          closureErrorJson = e.closureErrorJson)
      case UserReceiptAdded =>
        e.responseOutcome match {
          case Some("OK") => v.copy(status = Some(Status.NotifiedOk))
          case Some("KO") => v.copy(status = Some(Status.NotifiedKo))
          case _ => v // status untouched (reference leaves it unset)
        }
      case UserReceiptAddError => v.copy(status = Some(Status.NotificationError))
      case ClosureRetried =>
        val w = v.copy(sendPaymentResultOutcome = Some(Status.NotReceived))
        if (e.closureErrorJson.isDefined) w.copy(closureErrorJson = e.closureErrorJson) else w
      case ClosureFailed => v.copy(status = Some(Status.Unauthorized))
      case Refunded => v.copy(status = Some(Status.Refunded))
      case RefundRetried => v // watermark-only update
      case UserReceiptAddRetried => v // watermark-only update
      case other =>
        throw new IllegalArgumentException(s"Cannot handle event with eventCode: $other")
    }
  }

  /** The unconditional "data update" fragment (enrichment fields only —
    * applied regardless of event order), or None for handlers with no
    * data update. */
  def applyDataUpdate(v: TransactionView, e: CdcEvent): Option[TransactionView] =
    e.eventCode match {
      case Activated =>
        val w = v.copy(
          email = e.email,
          paymentNoticesJson = e.paymentNoticesJson,
          clientId = e.clientId,
          creationDate = Some(e.creationDate))
        Some(if (e.userId.isDefined) w.copy(userId = e.userId) else w)
      case AuthRequested =>
        Some(v.copy(
          paymentGateway = e.paymentGateway,
          paymentTypeCode = e.paymentTypeCode,
          pspId = e.pspId,
          feeTotal = e.fee,
          authorizationRequestId = e.authorizationRequestId))
      case AuthCompleted =>
        // set-or-unset: a null payload field explicitly clears the view field
        val base = v.copy(authorizationCode = e.authorizationCode, rrn = e.rrn)
        Some(e.gatewayType match {
          case Some("NPG") =>
            val w = base.copy(
              gatewayAuthorizationStatus = e.operationResult,
              authorizationErrorCode = e.gatewayErrorCode)
            if (e.paymentEndToEndId.isDefined) w.copy(endToEndId = e.paymentEndToEndId) else w
          case Some("REDIRECT") =>
            base.copy(
              gatewayAuthorizationStatus = e.outcome,
              authorizationErrorCode = e.gatewayErrorCode)
          case _ => base // unhandled gateway type: only code/rrn written
        })
      case UserReceiptRequested =>
        Some(v.copy(sendPaymentResultOutcome = e.responseOutcome))
      case Closed | ClosureSynthetic =>
        Some(v.copy(closureErrorJson = None)) // $unset
      case _ => None // no data update for the remaining handlers
    }
}
