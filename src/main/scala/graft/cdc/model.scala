package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** Typed CDC domain model, re-expressed from the reference's event surface
  * (reference reads catalogued in SURVEY.md §1.3; fixtures in FIXTURES.md §2).
  * Events are modeled FLAT (one nullable column per payload field the
  * reference consumes) — the natural Spark shape: a single wide
  * `Dataset[CdcEvent]` with `eventCode` as the union discriminator, instead
  * of 19 classes × Jackson polymorphism.
  */

/** One change-stream event (envelope + flattened payload).
  *
  * Envelope: reference `EcommerceChangeStreamDocumentUtil.kt:35-49`
  * (`operationType`, `fullDocument`) plus the `ttl` migration marker
  * (`EcommerceTransactionsLogEventsStream.kt:98-121`).
  * Common fields: `id`, `transactionId`, `eventCode`, `creationDate`
  * (ISO-8601 string; `tsMs` is its epoch-millis, the ordering watermark —
  * `TransactionViewUpsertService.kt:144`).
  */
case class CdcEvent(
    id: String,
    transactionId: String,
    eventCode: String,
    creationDate: String,
    tsMs: Long,
    // envelope
    operationType: String = "insert",
    ttl: Option[Long] = None,
    // TransactionActivatedEvent payload
    email: Option[String] = None,
    paymentNoticesJson: Option[String] = None,
    clientId: Option[String] = None,
    userId: Option[String] = None,
    // TransactionAuthorizationRequestedEvent payload
    paymentGateway: Option[String] = None,
    paymentTypeCode: Option[String] = None,
    pspId: Option[String] = None,
    fee: Option[Long] = None,
    authorizationRequestId: Option[String] = None,
    // TransactionAuthorizationCompletedEvent payload
    authorizationCode: Option[String] = None,
    rrn: Option[String] = None,
    gatewayType: Option[String] = None, // "NPG" | "REDIRECT"
    operationResult: Option[String] = None, // NPG
    paymentEndToEndId: Option[String] = None, // NPG
    outcome: Option[String] = None, // REDIRECT: OK | KO
    gatewayErrorCode: Option[String] = None,
    // receipt / closure outcomes
    responseOutcome: Option[String] = None, // OK | KO
    wasCanceledByUser: Option[Boolean] = None,
    statusBeforeExpiration: Option[String] = None,
    closureErrorJson: Option[String] = None,
    retryCount: Option[Int] = None
)

/** The keyed materialized view row (`transactions-view` document, reference
  * set-sites catalogued in SURVEY.md §1.4). All fields nullable except the
  * key and `_class`; `$unset` ≡ set-to-null in this relational model.
  */
case class TransactionView(
    transactionId: String,
    status: Option[String],
    lastProcessedEventAt: Option[Long],
    creationDate: Option[String],
    email: Option[String],
    paymentNoticesJson: Option[String],
    clientId: Option[String],
    userId: Option[String],
    paymentGateway: Option[String],
    paymentTypeCode: Option[String],
    pspId: Option[String],
    feeTotal: Option[Long],
    authorizationRequestId: Option[String],
    authorizationCode: Option[String],
    rrn: Option[String],
    gatewayAuthorizationStatus: Option[String],
    endToEndId: Option[String],
    authorizationErrorCode: Option[String],
    sendPaymentResultOutcome: Option[String],
    closureErrorJson: Option[String],
    _class: String
)

object TransactionView {
  /** Constant polymorphic discriminator written on upsert
    * (`TransactionViewUpsertService.kt:71-75`). */
  val ClassName = "it.pagopa.ecommerce.commons.documents.v2.Transaction"

  def empty(transactionId: String): TransactionView = TransactionView(
    transactionId, None, None, None, None, None, None, None, None, None,
    None, None, None, None, None, None, None, None, None, None, ClassName)
}

/** The 19 concrete event types (dispatch list
  * `TransactionViewUpsertService.kt:271-299`; code strings FIXTURES.md §2). */
object EventCodes {
  val Activated = "TRANSACTION_ACTIVATED_EVENT"
  val AuthRequested = "TRANSACTION_AUTHORIZATION_REQUESTED_EVENT"
  val AuthCompleted = "TRANSACTION_AUTHORIZATION_COMPLETED_EVENT"
  val ClosureRequested = "TRANSACTION_CLOSURE_REQUESTED_EVENT"
  val Closed = "TRANSACTION_CLOSED_EVENT"
  val ClosureSynthetic = "TRANSACTION_CLOSURE_SYNTHETIC_EVENT"
  val ClosureError = "TRANSACTION_CLOSURE_ERROR_EVENT"
  val ClosureRetried = "TRANSACTION_CLOSURE_RETRIED_EVENT"
  val ClosureFailed = "TRANSACTION_CLOSURE_FAILED_EVENT"
  val Expired = "TRANSACTION_EXPIRED_EVENT"
  val UserCanceled = "TRANSACTION_USER_CANCELED_EVENT"
  val UserReceiptRequested = "TRANSACTION_USER_RECEIPT_REQUESTED_EVENT"
  val UserReceiptAdded = "TRANSACTION_USER_RECEIPT_ADDED_EVENT"
  val UserReceiptAddError = "TRANSACTION_ADD_USER_RECEIPT_ERROR_EVENT"
  val UserReceiptAddRetried = "TRANSACTION_ADD_USER_RECEIPT_RETRY_EVENT"
  val RefundRequested = "TRANSACTION_REFUND_REQUESTED_EVENT"
  val RefundError = "TRANSACTION_REFUND_ERROR_EVENT"
  val Refunded = "TRANSACTION_REFUNDED_EVENT"
  val RefundRetried = "TRANSACTION_REFUND_RETRIED_EVENT"

  val all: Seq[String] = Seq(
    Activated, AuthRequested, AuthCompleted, ClosureRequested, Closed,
    ClosureSynthetic, ClosureError, ClosureRetried, ClosureFailed, Expired,
    UserCanceled, UserReceiptRequested, UserReceiptAdded, UserReceiptAddError,
    UserReceiptAddRetried, RefundRequested, RefundError, Refunded, RefundRetried)
}

/** Which events reach the merge ladder: the one admission rule of the
  * stateful stream, its foreachBatch twin and the batch replay. */
object Admission {

  /** O3 op filter (insert/update/replace) → O5 ttl anti-filter (a `ttl`
    * document is the data-migration touch, not a new event) → unknown
    * event codes skipped (the reference raises a non-retriable
    * CdcEventTypeException and the stream-level handler drops the event
    * and lives on, `TransactionViewUpsertService.kt:292-299`,
    * `EcommerceTransactionsLogEventsStream.kt:202-206`; kept, an unknown
    * code would kill the stateful query in [[ReferenceFold.processOne]]
    * and emit a phantom all-null view row in the replay). O6 decode errors
    * are dropped upstream (PERMISSIVE parse). A Column predicate, not a
    * typed lambda: Catalyst evaluates it on the decoded columns, so
    * dropped rows are never deserialized; a null in any tested field
    * drops the row. */
  val rule: Column =
    col("operationType").isin("insert", "update", "replace") &&
      col("ttl").isNull &&
      col("eventCode").isin(EventCodes.all: _*)
}

/** `TransactionStatusDto` values observed at the reference's set-sites
  * (SURVEY.md §1.4). */
object Status {
  val Activated = "ACTIVATED"
  val AuthorizationRequested = "AUTHORIZATION_REQUESTED"
  val AuthorizationCompleted = "AUTHORIZATION_COMPLETED"
  val ClosureRequested = "CLOSURE_REQUESTED"
  val Closed = "CLOSED"
  val ClosureError = "CLOSURE_ERROR"
  val Unauthorized = "UNAUTHORIZED"
  val Canceled = "CANCELED"
  val CancellationRequested = "CANCELLATION_REQUESTED"
  val CancellationExpired = "CANCELLATION_EXPIRED"
  val Expired = "EXPIRED"
  val ExpiredNotAuthorized = "EXPIRED_NOT_AUTHORIZED"
  val NotificationRequested = "NOTIFICATION_REQUESTED"
  val NotificationError = "NOTIFICATION_ERROR"
  val NotifiedOk = "NOTIFIED_OK"
  val NotifiedKo = "NOTIFIED_KO"
  val RefundRequested = "REFUND_REQUESTED"
  val RefundError = "REFUND_ERROR"
  val Refunded = "REFUNDED"

  val NotReceived = "NOT_RECEIVED" // sendPaymentResultOutcome sentinel
}
