package graft.model

import java.sql.Timestamp

/** Input row shape — the transcript table from BASELINE.json `input_hint`:
  * (conv_id, turn_idx, role, text, tool, ts). A conversation generalizes the
  * reference's per-file stream identity (reference: main.go:60, metrics/SBOMetrics.go:103);
  * `turn_idx` generalizes line order within a file.
  */
final case class TranscriptTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** User-agent classification result.
  * Mirrors the reference's SBOUserAgent (logparsers/useragent.go:117-124):
  * six strings drawn from closed enums (useragent.go:62-103).
  */
final case class UaInfo(
    ua_full: String,
    ua_os: String,
    ua_family: String,
    ua_device_type: String,
    ua_human: String,
    ua_intent: String)

/** One parsed line. Mirrors the reference's SBOHttpRequestLog
  * (logparsers/httpservers.go:40-61). The parse stage exposes it to
  * Catalyst as flat columns with the nested SBOUserAgent inlined
  * (org.apache.spark.sql.graft.ParseTurn.schema; flat columns prune and
  * filter better in Parquet + Catalyst).
  *
  * Conventions kept from Go zero values: unset strings are "" (not null);
  * `ua` is None exactly where the reference leaves the pointer nil (Apache
  * common log format has no UA field, httpservers.go:169-192). `log_ts` is
  * None where Go silently produced the zero time (parse error ignored at
  * httpservers.go:175) — divergence documented in SURVEY.md §7.4.
  */
final case class ParsedFields(
    domain: String,
    client_ip: String,
    remote_logname: String,
    remote_user: String,
    log_ts: Option[Timestamp],
    tz_offset_sec: Int,
    method: String,
    path: String,
    path1: String,
    path2: String,
    path3: String,
    protocol: String,
    status: String, // kept as string like the reference (prefix-tested "2"/"5", main.go:771)
    bytes_sent: Long,
    referer: String,
    ua: Option[UaInfo],
    malicious: Int,
    format: String)

object Malicious {
  // reference: logparsers/httpservers.go:31-38
  val Unknown = 0
  val Invalid = 1
  val SqlInj = 10
  val Xss = 20
  val Traversal = 30
  val Scan = 40
}

/** Long-format metric row — the reference's SBOMetricWindowDataToBeSaved
  * (metrics/SBOMetrics.go:57-64) with conv_id standing in for FilePath.
  */
final case class MetricRow(
    conv_id: String,
    metric_type: Int,
    key_value: String,
    time_window: Long,
    metric_value: Long)

object MetricType {
  // reference: metrics/SBOMetrics.go:35-47
  val ReqCount = 1
  val BytesSent = 2
  val HttpStatus = 3
  val ClientIp = 4 // disabled in the reference (metricgenerator.go:92-98)
  val Method = 5
  val Referer = 6
  val Path = 7
  val UaFamily = 11
  val OsFamily = 12
  val DeviceType = 13
  val IsHuman = 14
  val RequestIntent = 15
}
