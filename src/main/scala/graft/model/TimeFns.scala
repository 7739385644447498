package graft.model

import java.time.{Instant, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ISO-8601 ↔ epoch conversions (SURVEY §2 C3/C4/C5), matching the
  * reference's dateutil-based helpers (`opentelemetry_helpers.py:130-152`,
  * `otel_output_parser/common_helpers/utils.py:25-33`).
  *
  * Golden vectors (FIXTURES.md §2):
  * `"2022-03-19T14:47:02.118432Z" → 1647701222118 ms`,
  * `"2021-10-10T10:25:35.173367Z" → 1633861535.173367 s`,
  * `"1970-01-01T00:00:00.123456Z" → 123 ms`.
  */
object TimeFns {

  private def toInstant(iso: String): Instant =
    OffsetDateTime.parse(iso, DateTimeFormatter.ISO_OFFSET_DATE_TIME).toInstant

  def iso8601ToEpochS(iso: String): Double = {
    val i = toInstant(iso)
    i.getEpochSecond.toDouble + i.getNano / 1e9
  }

  def iso8601ToEpochUs(iso: String): Long = {
    val i = toInstant(iso)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Matches `int(iso8601_to_epoch_s(x) * 1000)` — a float multiply then
    * truncation (`otel_output_parser/common_helpers/utils.py:31-33`), kept
    * bit-faithful rather than computed in integer µs. */
  def iso8601ToEpochMs(iso: String): Long = (iso8601ToEpochS(iso) * 1000).toLong

  /** Span duration in float seconds (`get_duration_s`). */
  def durationS(startIso: String, endIso: String): Double =
    iso8601ToEpochS(endIso) - iso8601ToEpochS(startIso)

  /** Duration in seconds rounded to ms, reproducing Python's banker's
    * rounding (`round(x, 3)` in `opentelemetry_task_span_parser.py:250-253`).
    */
  def durationRoundedS(startUs: Long, endUs: Long): Double =
    BigDecimal((endUs - startUs) / 1e6)
      .setScale(3, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  /** Render an Instant in the reference's span-timestamp format
    * (µs precision, `Z` suffix). */
  def toIso(instant: Instant): String =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      .withZone(ZoneOffset.UTC).format(instant)

  /** Human duration rendering for the Mermaid Gantt sink, reproducing the
    * reference's string algorithm over `str(datetime.timedelta)`
    * (`otel_output_parser/mermaid_graphs.py:9-22`): ≤60s → `round(s, 2)`
    * with Python float repr + "s"; otherwise the H:MM:SS.ffffff rendering
    * with ":"→"h "/"m ", last 4 chars chopped, "0h "/"00m " stripped. */
  def renderSeconds(usRange: (Long, Long)): String = {
    val seconds = (usRange._2 - usRange._1) / 1e6
    if (seconds <= 60) {
      val r = BigDecimal(seconds)
        .setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      Json.renderDouble(r) + "s"
    } else {
      val td = pythonTimedeltaStr(seconds)
      (td.replaceFirst(":", "h ").replaceFirst(":", "m ").dropRight(4) + "s")
        .replace("0h ", "").replace("00m ", "")
    }
  }

  /** `str(datetime.timedelta(seconds=s))`: "[D day[s], ]H:MM:SS[.ffffff]". */
  private[model] def pythonTimedeltaStr(seconds: Double): String = {
    val totalUs = Math.round(seconds * 1e6)
    val us = totalUs % 1000000L
    val totalS = totalUs / 1000000L
    val days = totalS / 86400
    val h = (totalS % 86400) / 3600
    val m = (totalS % 3600) / 60
    val sec = totalS % 60
    val dayPart =
      if (days == 0) ""
      else if (days == 1) "1 day, "
      else s"$days days, "
    val frac = if (us == 0) "" else f".$us%06d"
    f"$dayPart$h:$m%02d:$sec%02d$frac"
  }

  // ---- column versions (for DataFrame pipelines) ----

  def isoToEpochUsCol(c: Column): Column = unix_micros(to_timestamp(c))
  def isoToEpochMsCol(c: Column): Column =
    floor(isoToEpochUsCol(c) / 1000).cast("long") // Column `/` is true division
  def durationSCol(startIso: Column, endIso: Column): Column =
    bround((isoToEpochUsCol(endIso) - isoToEpochUsCol(startIso)) / 1e6, 3)
}
