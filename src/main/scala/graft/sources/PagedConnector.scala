package graft.sources

/** Transient server-side failure (the reference's HTTP 5xx / timeout path,
  * hankook_api.py:87-120 `_request`'s retry loop) — safe to retry. */
final class TransientApiError(msg: String) extends RuntimeException(msg)

/** Expired/invalid OAuth token (HTTP 401) — re-issue and retry
  * (hankook_api.py:33 `issue_access_token` is called again on expiry). */
final class TokenExpiredError(msg: String) extends RuntimeException(msg)

/** One page of the remote feed plus the continuation cursor — the
  * reference's `tr_cont` header: a response either carries "more follows"
  * (cursor to echo back) or "done" (None). */
final case class ApiPage(rows: Seq[ApiEventRow], next: Option[String])

/** Wire-level event row: timestamps as epoch micros (what a JSON feed
  * would carry), converted to engine types at the DataFrame boundary. */
final case class ApiEventRow(event_id: Long, ts_micros: Long, user_id: Long,
    event_type: String, value: Double, props: String)

/** The remote API surface the paged transport speaks — the reference's
  * broker REST contract (hankook_api.py:33 `issue_access_token`, :87
  * `_request` with `tr_cont` paging, :131 `get_daily_price`) reduced to
  * three endpoints. Implementations must be Serializable: the connector
  * ships them to executors, where all fetching happens. */
trait PagedEventApi extends Serializable {
  /** OAuth'd session token. Per-CONNECTION state: each executor partition
    * issues (and on expiry re-issues) its own, like a JDBC connection. */
  def issueToken(): String

  /** Key universe as of `asOf` — the symbol-list endpoint. Dimension-scale
    * by contract; called once per run from the scheduler side. */
  def listKeys(token: String, asOf: java.sql.Date): Seq[Long]

  /** One page of daily rows for `userId` in [from, to], resuming at
    * `cursor` (None = first page). May throw [[TransientApiError]] (retry
    * same page) or [[TokenExpiredError]] (re-issue token, retry same page). */
  def fetchPage(token: String, userId: Long, from: java.sql.Date,
      to: java.sql.Date, cursor: Option[String]): ApiPage
}

/** One API "connection": a cached token plus the bounded
  * retry-with-exponential-backoff loop. Shared by the executor-side page
  * fetch (one session per partition, a connection pool's shape) and the
  * driver-side control calls (`issueToken`/`listKeys`) — both endpoints
  * throw the same transient 5xx / token-expiry fault classes, so both get
  * the same absorption (hankook_api.py:87-120 `_request`'s retry loop).
  * Constructed where it is used, never serialized with live state. */
private[sources] final class ApiRetrySession(api: PagedEventApi,
    maxRetries: Int, backoffMs: Long) {
  private var token: String = null

  def call[A](f: String => A): A = {
    var attempt = 0 // transient-failure budget (target OR token endpoint)
    var expiries = 0 // token re-issue budget: a permanently-401ing
    // API must FAIL the call, not hot-spin re-issuing forever
    var out: Option[A] = None
    while (out.isEmpty) {
      try {
        // token issue INSIDE the try: the token endpoint throws the
        // same transient 5xx the target endpoint does, and it must
        // consume the same bounded backoff budget, not kill the call
        if (token == null) token = api.issueToken()
        out = Some(f(token))
      } catch {
        case e: TokenExpiredError =>
          token = null
          expiries += 1
          if (expiries >= maxRetries) throw e
        case e: TransientApiError =>
          attempt += 1
          if (attempt >= maxRetries) throw e
          Thread.sleep(backoffMs << (attempt - 1))
      }
    }
    out.get
  }
}
