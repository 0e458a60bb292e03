package graft.analytics

/** Pipeline alerting (reference: src/alerts.py, src/slack_alerts.py,
  * scheduler.py:72-95): decide success/failure/partial from run stats and
  * emit through a pluggable channel. The decision logic is pure and
  * tested; transports are injected (no SMTP/webhook egress here — a real
  * deployment supplies one, typically from a StreamingQueryListener or the
  * batch driver). */
object Alerts {

  sealed trait Severity
  case object Info extends Severity
  case object Warning extends Severity
  case object Critical extends Severity

  final case class Alert(severity: Severity, title: String, body: String)

  /** Channel = transport. Production: SMTP/webhook; tests/default: log. */
  trait Channel { def send(alert: Alert): Unit }
  final class LogChannel extends Channel {
    val sent = scala.collection.mutable.ArrayBuffer.empty[Alert]
    def send(alert: Alert): Unit = sent += alert
  }

  /** Run summary -> alert decision (reference scheduler.py:72-95: alert on
    * failure, on zero records, and on quality-gate misses). */
  def evaluateRun(recordsLoaded: Long, symbolsRequested: Int,
                  symbolsFetched: Int, qualityPassRate: Double,
                  qualityGate: Double = 0.9): Option[Alert] = {
    if (recordsLoaded == 0)
      Some(Alert(Critical, "Pipeline produced no records",
        s"0 records loaded for $symbolsRequested requested symbols"))
    else if (qualityPassRate < qualityGate)
      Some(Alert(Critical, "Data quality gate failed",
        f"pass rate $qualityPassRate%.2f below gate $qualityGate%.2f"))
    else if (symbolsFetched < symbolsRequested)
      Some(Alert(Warning, "Partial fetch",
        s"$symbolsFetched/$symbolsRequested symbols fetched"))
    else None
  }
}
