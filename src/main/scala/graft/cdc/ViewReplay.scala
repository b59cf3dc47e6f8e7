package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed batch replay of the event log into the `transactions-view`
  * — the declarative (Catalyst-optimizable) twin of [[ReferenceFold]].
  *
  * Semantics (proved equivalent to the fold by `ViewReplayPropertySpec`):
  * processing order is (tsMs, id); an event's conditional status update
  * applies iff it is the FIRST event of its (transactionId, tsMs) group in
  * that order (the reference's strict `lastProcessedEventAt < ts` guard,
  * `TransactionViewUpsertService.kt:140-148` — on ties the first processed
  * wins and the rest degrade to their unconditional data update). Every
  * view field is then an arg-max over the events that successfully wrote it.
  *
  * Scale shape: ONE hash shuffle on `transactionId` (the `repartition`),
  * after which both the tie-group window (clustered by a superset key) and
  * the final `groupBy` reuse the partitioning; all aggregates are
  * `max(struct(...))` — partial-aggregable, codegen-friendly, no
  * `collect`, no per-key state on the driver. At 100 TB this is a single
  * shuffle of the deduped log, skew-tolerant under AQE.
  */
object ViewReplay {

  import EventCodes._

  /** A view field: when does a status update write it, when does a data
    * update write it, and with what value. */
  private case class FieldRule(name: String, statusWrites: Column, dataWrites: Column, value: Column)

  private val ec = col("eventCode")
  private val T = lit(true)
  private val F = lit(false)

  private def rules: Seq[FieldRule] = {
    val statusValue =
      when(ec === Activated, Status.Activated)
        .when(ec === AuthRequested, Status.AuthorizationRequested)
        .when(ec === AuthCompleted, Status.AuthorizationCompleted)
        .when(ec === UserReceiptRequested, Status.NotificationRequested)
        .when(ec === Expired,
          when(col("statusBeforeExpiration") === Status.Activated, Status.ExpiredNotAuthorized)
            .when(col("statusBeforeExpiration") === Status.CancellationRequested,
              Status.CancellationExpired)
            .otherwise(Status.Expired))
        .when(ec === RefundRequested, Status.RefundRequested)
        .when(ec === Closed,
          when(col("wasCanceledByUser") === true, Status.Canceled)
            .when(col("responseOutcome") === "OK", Status.Closed)
            .otherwise(Status.Unauthorized))
        .when(ec === ClosureSynthetic, Status.Closed)
        .when(ec === UserCanceled, Status.CancellationRequested)
        .when(ec === RefundError, Status.RefundError)
        .when(ec === ClosureRequested, Status.ClosureRequested)
        .when(ec === ClosureError, Status.ClosureError)
        .when(ec === UserReceiptAdded,
          when(col("responseOutcome") === "OK", Status.NotifiedOk)
            .when(col("responseOutcome") === "KO", Status.NotifiedKo))
        .when(ec === UserReceiptAddError, Status.NotificationError)
        .when(ec === ClosureFailed, Status.Unauthorized)
        .when(ec === Refunded, Status.Refunded)

    val statusSetters =
      ec.isin((EventCodes.all.toSet -- Set(ClosureRetried, RefundRetried, UserReceiptAddRetried))
        .toSeq: _*) &&
        !(ec === UserReceiptAdded && !col("responseOutcome").isin("OK", "KO"))

    val isActivated = ec === Activated
    val isAuthReq = ec === AuthRequested
    val isAuthDone = ec === AuthCompleted
    val gwKnown = col("gatewayType").isin("NPG", "REDIRECT")
    val gwStatusVal =
      when(col("gatewayType") === "NPG", col("operationResult"))
        .when(col("gatewayType") === "REDIRECT", col("outcome"))
    // sendPaymentResultOutcome: RECEIPT_REQUESTED carries it in BOTH update
    // fragments; CLOSED/SYNTHETIC/CLOSURE_ERROR/CLOSURE_RETRIED only in the
    // conditional status update (NOT_RECEIVED sentinel).
    val sproStatus = ec.isin(UserReceiptRequested, Closed, ClosureSynthetic,
      ClosureError, ClosureRetried)
    val sproVal =
      when(ec === UserReceiptRequested, col("responseOutcome"))
        .otherwise(lit(Status.NotReceived))
    // closureErrorData: set by CLOSURE_ERROR (status-only), conditionally by
    // CLOSURE_RETRIED (status-only, if present), unset by CLOSED/SYNTHETIC
    // (both fragments) — `TransactionViewUpsertService.kt:486,514,556-613`.
    val cedStatus = ec === ClosureError ||
      (ec === ClosureRetried && col("closureErrorJson").isNotNull) ||
      ec.isin(Closed, ClosureSynthetic)
    val cedData = ec.isin(Closed, ClosureSynthetic)
    val cedVal = when(ec.isin(ClosureError, ClosureRetried), col("closureErrorJson"))

    Seq(
      FieldRule("status", statusSetters, F, statusValue),
      FieldRule("lastProcessedEventAt", T, F, col("tsMs")),
      FieldRule("creationDate", isActivated, isActivated, col("creationDate")),
      FieldRule("email", isActivated, isActivated, col("email")),
      FieldRule("paymentNoticesJson", isActivated, isActivated, col("paymentNoticesJson")),
      FieldRule("clientId", isActivated, isActivated, col("clientId")),
      FieldRule("userId", isActivated && col("userId").isNotNull,
        isActivated && col("userId").isNotNull, col("userId")),
      FieldRule("paymentGateway", isAuthReq, isAuthReq, col("paymentGateway")),
      FieldRule("paymentTypeCode", isAuthReq, isAuthReq, col("paymentTypeCode")),
      FieldRule("pspId", isAuthReq, isAuthReq, col("pspId")),
      FieldRule("feeTotal", isAuthReq, isAuthReq, col("fee")),
      FieldRule("authorizationRequestId", isAuthReq, isAuthReq, col("authorizationRequestId")),
      FieldRule("authorizationCode", isAuthDone, isAuthDone, col("authorizationCode")),
      FieldRule("rrn", isAuthDone, isAuthDone, col("rrn")),
      FieldRule("gatewayAuthorizationStatus", isAuthDone && gwKnown, isAuthDone && gwKnown,
        gwStatusVal),
      FieldRule("endToEndId",
        isAuthDone && col("gatewayType") === "NPG" && col("paymentEndToEndId").isNotNull,
        isAuthDone && col("gatewayType") === "NPG" && col("paymentEndToEndId").isNotNull,
        col("paymentEndToEndId")),
      FieldRule("authorizationErrorCode", isAuthDone && gwKnown, isAuthDone && gwKnown,
        col("gatewayErrorCode")),
      FieldRule("sendPaymentResultOutcome", sproStatus, ec === UserReceiptRequested, sproVal),
      FieldRule("closureErrorJson", cedStatus, cedData, cedVal)
    )
  }

  /** Replay a CdcEvent-shaped DataFrame into one view row per transaction.
    *
    * Pipeline = [[Admission.rule]] (O3 op-filter → O5 ttl anti-filter →
    * unknown codes skipped) → O7 dedup → O8/O9 dispatch (the field rules)
    * → O10–O13 merge (arg-max aggregation).
    */
  def replay(events: DataFrame): DataFrame = {
    // One data shuffle: repartition on the key up front; the dedup window
    // (clustered by a superset of the key), the tie-group window, and the
    // final groupBy all reuse that partitioning. An event id is unique
    // within its transaction, so per-key dedup == global dropDuplicates.
    val dedupW = Window.partitionBy(col("transactionId"), col("id")).orderBy(col("tsMs"))
    val filtered = events
      .filter(Admission.rule)
      .repartition(col("transactionId"))
      .withColumn("__dn", row_number().over(dedupW))
      .filter(col("__dn") === 1)
      .drop("__dn")

    // First event of each (tx, ts) tie-group applies its status update;
    // the window is clustered by a superset of the repartition key, so no
    // second shuffle.
    val tieW = Window.partitionBy(col("transactionId"), col("tsMs"))
    val flagged = filtered.withColumn("__applied", col("id") === min(col("id")).over(tieW))

    val applied = col("__applied")
    val aggs = rules.map { r =>
      val wrote = (applied && r.statusWrites) || (!applied && r.dataWrites)
      max(when(wrote, struct(col("tsMs").as("o"), col("id").as("t"), r.value.as("v"))))
        .getField("v").as(r.name)
    }

    flagged
      .groupBy(col("transactionId"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("_class", lit(TransactionView.ClassName))
      .select("transactionId", "status", "lastProcessedEventAt", "creationDate",
        "email", "paymentNoticesJson", "clientId", "userId", "paymentGateway",
        "paymentTypeCode", "pspId", "feeTotal", "authorizationRequestId",
        "authorizationCode", "rrn", "gatewayAuthorizationStatus", "endToEndId",
        "authorizationErrorCode", "sendPaymentResultOutcome", "closureErrorJson",
        "_class")
  }
}
