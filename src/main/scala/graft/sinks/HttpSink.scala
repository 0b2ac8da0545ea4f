package graft.sinks

import java.io.IOException
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Generic HTTP-push sink — the delivery half of the reference's
  * out_http / out_es / out_splunk / out_loki family: pre-serialized
  * record lines POST in bounded batches, failures retry with the
  * full-jitter capped exponential backoff of the reference scheduler
  * (`src/flb_scheduler.c:253-316` — wait = uniform(base, min(cap,
  * base·2^n))).
  *
  * Distribution shape (same as [[ForwardSink]]): each PARTITION runs its
  * own HTTP client — no driver collect, no single-writer funnel; at
  * 1000 executors that is 1000 concurrent bulk writers, which is how the
  * reference's worker threads scale out. Batch form below; in streaming,
  * call from `foreachBatch`.
  *
  * Retry policy mirrors the reference engine's task retry rules: network
  * errors, 429 and 5xx are retryable (out_http `http.c` FLB_RETRY
  * paths); other 4xx are permanent errors and fail immediately (a
  * malformed payload never heals by resending).
  */
object HttpSink {

  /** Full-jitter wait before retry attempt `n` (0-based):
    * uniform(base, min(cap, base·2^n)) — flb_scheduler.c:259-265.
    */
  def backoffMs(baseMs: Int, capMs: Int, attempt: Int,
                rnd: java.util.Random): Long = {
    val exp = math.min(capMs.toLong, baseMs.toLong << math.min(attempt, 30))
    val hi = math.max(exp, baseMs.toLong)
    baseMs + (if (hi == baseMs) 0L else math.abs(rnd.nextLong()) % (hi - baseMs + 1))
  }

  /** POST `body` once; returns the status code, or throws IOException on
    * a transport failure. For https URLs, `tls` supplies the truststore
    * / hostname-verification policy (the out_http `tls.ca_file` /
    * `tls.verify` options); absent ⇒ JVM default trust roots.
    */
  private def postOnce(url: String, body: Array[Byte], contentType: String,
                       headers: Seq[(String, String)],
                       tls: Option[graft.sources.Tls.Client]): Int = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    (conn, tls) match {
      case (https: javax.net.ssl.HttpsURLConnection, Some(t)) =>
        https.setSSLSocketFactory(
          graft.sources.Tls.clientContext(t).getSocketFactory)
        if (!t.verifyHostname)
          https.setHostnameVerifier((_, _) => true)
      case _ => ()
    }
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(30000)
      conn.setRequestProperty("Content-Type", contentType)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      conn.getOutputStream.write(body)
      conn.getResponseCode
    } finally conn.disconnect()
  }

  /** POST with retries: success on 2xx; retry transport errors, 429 and
    * 5xx up to `maxRetries` times with full-jitter backoff; fail fast on
    * any other 4xx. Returns the number of attempts made.
    */
  def postWithRetry(url: String, body: Array[Byte],
                    contentType: String = "application/x-ndjson",
                    headers: Seq[(String, String)] = Nil,
                    maxRetries: Int = 3, baseMs: Int = 100,
                    capMs: Int = 5000,
                    rnd: java.util.Random = new java.util.Random(),
                    tls: Option[graft.sources.Tls.Client] = None): Int = {
    var attempt = 0
    while (true) {
      val status =
        try postOnce(url, body, contentType, headers, tls)
        catch {
          case e: javax.net.ssl.SSLHandshakeException => throw e // never heals
          case e: IOException => if (attempt >= maxRetries) throw e; -1
        }
      if (status >= 200 && status < 300) return attempt + 1
      if (status >= 400 && status < 500 && status != 429)
        throw new IOException(s"permanent HTTP error $status from $url")
      if (attempt >= maxRetries)
        throw new IOException(s"HTTP $status from $url after ${attempt + 1} attempts")
      Thread.sleep(backoffMs(baseMs, capMs, attempt, rnd))
      attempt += 1
    }
    0 // unreachable
  }

  /** Ship a one-string-column DataFrame as NDJSON POSTs of at most
    * `batchLines` lines, one client per partition. `lineCol` rows are
    * already-serialized record lines ([[Formats.jsonLine]] output).
    */
  def write(df: DataFrame, url: String, lineCol: String = "value",
            batchLines: Int = 1000, maxRetries: Int = 3,
            baseMs: Int = 100, capMs: Int = 5000,
            headers: Seq[(String, String)] = Nil,
            tls: Option[graft.sources.Tls.Client] = None): Unit = {
    // a NULL line would serialize as the literal string "null" — drop it
    val lines = df.select(col(lineCol).cast("string").as("line"))
      .filter(col("line").isNotNull)
    lines.foreachPartition { (rows: Iterator[Row]) =>
      val rnd = new java.util.Random()
      rows.map(_.getAs[String]("line")).grouped(batchLines).foreach { batch =>
        val body = (batch.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)
        postWithRetry(url, body, "application/x-ndjson", headers,
          maxRetries, baseMs, capMs, rnd, tls)
      }
    }
  }

  /** Ship pre-built whole request bodies (one per row — e.g.
    * [[Formats.lokiPush]] payloads), one POST per body, one client per
    * partition. The per-stream batching already happened upstream in the
    * payload aggregation, so a body is never re-split here.
    */
  def writeBodies(df: DataFrame, url: String, bodyCol: String = "value",
                  contentType: String = "application/json",
                  headers: Seq[(String, String)] = Nil, maxRetries: Int = 3,
                  baseMs: Int = 100, capMs: Int = 5000): Unit = {
    val bodies = df.select(col(bodyCol).cast("string").as("body"))
      .filter(col("body").isNotNull)
    bodies.foreachPartition { (rows: Iterator[Row]) =>
      val rnd = new java.util.Random()
      rows.foreach { r =>
        postWithRetry(url, r.getAs[String]("body").getBytes(StandardCharsets.UTF_8),
          contentType, headers, maxRetries, baseMs, capMs, rnd)
      }
    }
  }

  /** Azure Log Analytics SharedKey authorization (out_azure
    * `azure.c:230-330` build_headers): the string-to-sign is
    * `POST\n<content-length>\napplication/json\nx-ms-date:<rfc1123>\n
    * /api/logs`, HMAC-SHA256'd with the base64-DECODED workspace key,
    * base64-encoded into `SharedKey <customerId>:<signature>`. Returns
    * the (Authorization, x-ms-date) header pair; `rfc1123Date` is a
    * parameter so callers (and specs) control the clock.
    */
  def azureSharedKeyAuth(customerId: String, sharedKeyB64: String,
                         contentLength: Int,
                         rfc1123Date: String): Seq[(String, String)] = {
    val toSign = s"POST\n$contentLength\napplication/json\n" +
      s"x-ms-date:$rfc1123Date\n/api/logs"
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      java.util.Base64.getDecoder.decode(sharedKeyB64), "HmacSHA256"))
    val sig = java.util.Base64.getEncoder.encodeToString(
      mac.doFinal(toSign.getBytes(StandardCharsets.UTF_8)))
    Seq("Authorization" -> s"SharedKey $customerId:$sig",
      "x-ms-date" -> rfc1123Date)
  }

  /** Splunk HEC sender (out_splunk `plugins/out_splunk/splunk.c`): lines
    * are [[Formats.splunkHecEvent]] payloads, batched newline-joined to
    * `/services/collector/event` with the `Splunk <token>` auth header —
    * the exact stream our own HEC ingest decodes back.
    */
  def writeSplunkHec(df: DataFrame, url: String, token: String,
                     lineCol: String = "value", batchLines: Int = 1000,
                     maxRetries: Int = 3, baseMs: Int = 100,
                     capMs: Int = 5000): Unit =
    write(df, url.stripSuffix("/") + "/services/collector/event", lineCol,
      batchLines, maxRetries, baseMs, capMs,
      headers = Seq("Authorization" -> s"Splunk $token"))

  /** Datadog log intake (out_datadog `plugins/out_datadog/datadog.c:425`
    * headers, :221-340 body): batches of [[Formats.datadogEvent]] records
    * wrapped into one JSON array body per POST, `DD-API-KEY` header.
    */
  def writeDatadog(df: DataFrame, url: String, apiKey: String,
                   lineCol: String = "value", batchLines: Int = 1000,
                   maxRetries: Int = 3, baseMs: Int = 100,
                   capMs: Int = 5000): Unit = {
    val lines = df.select(col(lineCol).cast("string").as("line"))
      .filter(col("line").isNotNull)
    lines.foreachPartition { (rows: Iterator[Row]) =>
      val rnd = new java.util.Random()
      rows.map(_.getAs[String]("line")).grouped(batchLines).foreach { batch =>
        val body = batch.mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8)
        postWithRetry(url, body, "application/json",
          Seq("DD-API-KEY" -> apiKey), maxRetries, baseMs, capMs, rnd)
      }
    }
  }
}
