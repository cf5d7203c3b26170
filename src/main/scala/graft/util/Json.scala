package graft.util

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The one JSON writer (and reader) of the tool artifacts (Bench's
  * line and files, SOAK.json, FRONTIER.json, oracle_sql/iter.json), on
  * json4s: strings are escaped per RFC 8259 — a tab or CR in
  * builder-authored SQL would otherwise make the driver's json.load
  * fail and silently zero the round's correctness. */
object Json {
  /** An ordered object; a field whose value is JNothing is left out. */
  def obj(fields: (String, JValue)*): JObject =
    JObject(fields.filter(_._2 != JNothing).toList)

  /** `v` rounded half-up to `digits` decimals, written without an
    * exponent; `null` when `v` is NaN or infinite. */
  def fixed(v: Double, digits: Int): JValue =
    if (v.isNaN || v.isInfinite) JNull
    else JDecimal(BigDecimal(v).setScale(digits,
      BigDecimal.RoundingMode.HALF_UP))

  def render(v: JValue): String = JsonMethods.compact(v)

  def parse(s: String): JValue = JsonMethods.parse(s)

  /** Writes `v` and a newline to `path`. */
  def write(path: String, v: JValue): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      render(v) + "\n")
}
