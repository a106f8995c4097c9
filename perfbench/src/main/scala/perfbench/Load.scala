package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

/** One scheduled request: sent at `dueNs` (monotonic), labelled `op`. */
final case class Req(op: String, dueNs: Long, body: String, step: Int)

/** What happened to one request. Latency is measured from `dueNs`, so a
  * stall that delays later sends counts against them. */
final case class Outcome(req: Req, startNs: Long, endNs: Long, ok: Boolean)

/** Open-loop HTTP load from one process: requests are sent on their
  * schedule, never in reply to earlier responses, by at most `threads`
  * senders, each holding one keep-alive connection. When every sender is
  * busy the next request waits; that wait shows as generator lateness
  * (start − due) and in its due-time latency. */
object Load {

  /** POST `body` to `url`; the response body on 200, else an error. */
  def post(url: String, body: String,
      timeoutMs: Int = 60000): Either[String, String] =
    try {
      val c = URI.create(url).toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setConnectTimeout(timeoutMs)
      c.setReadTimeout(timeoutMs)
      c.setRequestProperty("Content-Type", "application/json")
      val out = c.getOutputStream
      out.write(body.getBytes(StandardCharsets.UTF_8))
      out.close()
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val resp = if (in == null) "" else
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      if (code == 200) Right(resp) else Left(s"HTTP $code: ${resp.take(200)}")
    } catch {
      case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Send `reqs` (sorted by due time) and validate each 200 body with
    * `check` (None = correct). A request that throws, answers non-200 or
    * fails its check is a failure; it is logged to stderr. */
  def run(url: String, reqs: IndexedSeq[Req], threads: Int,
      check: (Req, String) => Option[String]): Vector[Outcome] = {
    val next = new AtomicInteger(0)
    val results = new Array[Outcome](reqs.length)
    val senders = (0 until threads).map { t =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.length) {
          val r = reqs(i)
          var wait = r.dueNs - System.nanoTime()
          while (wait > 0) {
            java.util.concurrent.locks.LockSupport.parkNanos(wait)
            wait = r.dueNs - System.nanoTime()
          }
          val start = System.nanoTime()
          val resp = post(url, r.body)
          val end = System.nanoTime()
          val err = resp.fold(Some(_), body => check(r, body))
          err.foreach(e => System.err.println(s"[perfbench] op ${r.op} failed: $e"))
          Trace.record("client.request", r.op, start, end)
          results(i) = Outcome(r, start, end, err.isEmpty)
          i = next.getAndIncrement()
        }
      }, s"perfbench-sender-$t")
      th.setDaemon(true)
      th.start()
      th
    }
    senders.foreach(_.join())
    results.toVector
  }
}
