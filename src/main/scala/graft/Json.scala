package graft

object Json {

  /** `s` as a quoted JSON string, for every artifact the engine writes:
    * backslash, quote and every control character below 0x20 escaped (a
    * raw tab or CR in an exception message makes the artifact invalid). */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
