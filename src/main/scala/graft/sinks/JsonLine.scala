package graft.sinks

import org.apache.spark.sql.types.StructType

/** The JSON-line encoding kernel every sink write face shares: the
  * at-least-once `JsonRowSerializer` (`Row` → bytes) and the `graft-bq`
  * task writer (`InternalRow` → line). Callers keep their own value
  * dispatch; field-name prefixes and string escaping live here only.
  *
  * Escaping follows Spark's `to_json`: `"` and `\` get a backslash,
  * `\n`/`\r`/`\t` their short forms, every other char below 0x20 the
  * lowercase `\u00xx` form; everything else (including surrogate pairs)
  * is copied as is.
  */
object JsonLine {
  private val Hex = "0123456789abcdef".toCharArray

  /** `"name":` for every field of `schema`, names escaped once here so
    * the per-row loop only appends. */
  def fieldPrefixes(schema: StructType): Array[String] =
    schema.fields.map { f =>
      val sb = new java.lang.StringBuilder(f.name.length + 3).append('"')
      escapeTo(sb, f.name)
      sb.append("\":").toString
    }

  /** Appends `s` escaped, without quotes: clean runs are bulk-copied,
    * only the chars that need escaping are handled one at a time. */
  def escapeTo(sb: java.lang.StringBuilder, s: String): Unit = {
    val n = s.length
    var start = 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c < ' ' || c == '"' || c == '\\') {
        if (i > start) sb.append(s, start, i)
        c match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case _ => sb.append("\\u00").append(Hex(c >> 4)).append(Hex(c & 0xf))
        }
        start = i + 1
      }
      i += 1
    }
    if (n > start) sb.append(s, start, n)
  }

  /** Appends `s` as a quoted, escaped JSON string. */
  def quoteTo(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    escapeTo(sb, s)
    sb.append('"')
  }
}
