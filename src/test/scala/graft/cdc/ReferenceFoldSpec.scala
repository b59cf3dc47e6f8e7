package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

/** The rung [[ReferenceFold.step]] reports, for each of the 19 event
  * codes: plain functions, no Spark. */
class ReferenceFoldSpec extends AnyFunSuite {

  import EventCodes._
  import ReferenceFold.{Enrich, Full, Noop}

  /** The handlers with a data update: a stale event of these enriches. */
  private val enriching =
    Set(Activated, AuthRequested, AuthCompleted, UserReceiptRequested, Closed, ClosureSynthetic)

  private def ev(code: String, ts: Long) =
    CdcEvent(s"e-$code", "t1", code, java.time.Instant.ofEpochMilli(ts).toString, ts,
      gatewayType = Some("NPG"), responseOutcome = Some("OK"), closureErrorJson = Some("{}"))

  private def viewAt(ts: Long) =
    TransactionView.empty("t1").copy(status = Some(Status.Activated), lastProcessedEventAt = Some(ts))

  test("an absent view or a strictly older one takes the full rung for every code") {
    EventCodes.all.foreach { code =>
      val e = ev(code, 2000L)
      Seq(None, Some(viewAt(1999L)), Some(TransactionView.empty("t1"))).foreach { v =>
        val (after, rung) = ReferenceFold.step(v, e)
        assert(rung == Full, s"$code onto $v")
        assert(after.lastProcessedEventAt.contains(2000L), code)
        assert(after == ReferenceFold.processOne(v, e), code)
      }
    }
  }

  test("a stale event enriches for exactly the six data-update handlers, else leaves the view") {
    assert(EventCodes.all.distinct.size == 19 && EventCodes.all.count(enriching) == 6)
    EventCodes.all.foreach { code =>
      // an equal watermark is stale too: only a strictly newer event is full
      Seq(2000L, 2001L).foreach { watermark =>
        val v = viewAt(watermark)
        val e = ev(code, 2000L)
        val (after, rung) = ReferenceFold.step(Some(v), e)
        assert(rung == (if (enriching(code)) Enrich else Noop), s"$code at watermark $watermark")
        assert(after.status == v.status && after.lastProcessedEventAt == v.lastProcessedEventAt, code)
        if (rung == Noop) assert(after eq v, code)
        assert(after == ReferenceFold.processOne(Some(v), e), code)
      }
    }
  }
}
