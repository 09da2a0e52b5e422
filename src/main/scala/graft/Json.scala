package graft

/** The one JSON string-literal escaper of every machine-readable face. */
object Json {

  /** `s` as a JSON string literal (`null` for null): quote, backslash and
    * ALL control chars escaped — a newline or tab in a path, message or
    * SQL text must not emit invalid JSON. `asciiOnly` escapes every
    * control and non-ASCII char as \\uXXXX instead: the audit log's
    * canonical form, which feeds its hash chain and so must never
    * change. */
  def str(s: String, asciiOnly: Boolean = false): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if asciiOnly && (c < ' ' || c > '\u007f') => f"\\u${c.toInt}%04x"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
}
