package graft.model

import java.nio.charset.StandardCharsets
import java.util.Base64

/** Typed scalar codec (SURVEY §2 C1/C2), mirroring the reference's
  * `SerializedData` (`composable_logs/tasks/task_opentelemetry_logging.py:105-158`):
  * a value is stored as `(type, encoding, encoded_content)` with
  * `type ∈ {utf-8, bytes, int, float, bool, json}` and
  * `encoding ∈ {utf-8, base64, json}`.
  *
  * Scala has no `isinstance(True, int)` ambiguity, but the *tag* dispatch
  * order (string, bytes, bool-before-int, int, float, json) is preserved so
  * the emitted tags match the reference byte-for-byte (golden vectors in
  * FIXTURES.md §2).
  */
case class SerializedData(tpe: String, encoding: String, encodedContent: String) {

  /** Inverse dispatch — the five arms plus the error arm of the reference's
    * `decode()` (`task_opentelemetry_logging.py:116-129`). */
  def decode(): Any = (tpe, encoding) match {
    case ("utf-8", "utf-8") => encodedContent
    case ("json", "json") => Json.parse(encodedContent)
    case ("bytes", "base64") => Base64.getDecoder.decode(encodedContent)
    case ("bool", "json") | ("float", "json") | ("int", "json") =>
      Json.parse(encodedContent)
    case _ =>
      throw new IllegalArgumentException(s"Unknown encoding $tpe, $encoding.")
  }
}

object SerializedData {

  def encode(content: Any): SerializedData = content match {
    case s: String => SerializedData("utf-8", "utf-8", s)
    case null => throw new IllegalArgumentException(
      "Logging null values not supported")
    case b: Array[Byte] =>
      SerializedData("bytes", "base64",
        new String(Base64.getEncoder.encode(b), StandardCharsets.UTF_8))
    case b: Boolean => SerializedData("bool", "json", Json.render(b))
    case i: Int => SerializedData("int", "json", Json.render(i))
    case l: Long => SerializedData("int", "json", Json.render(l))
    case f: Float => SerializedData("float", "json", Json.render(f))
    case d: Double => SerializedData("float", "json", Json.render(d))
    case other =>
      try SerializedData("json", "json", Json.render(other))
      catch {
        case e: Exception => throw new RuntimeException(
          s"Unable to parse ${other.toString.take(1000)}", e)
      }
  }
}
