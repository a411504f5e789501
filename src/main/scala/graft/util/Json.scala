package graft.util

/** The JSON string literal the driver mains (Verify, Bench) write. */
object Json {

  /** `s` quoted and escaped: backslash, quote, `\n`/`\r`/`\t` in their
    * short forms and every other control char (< 0x20) as `\u00XX` — a
    * raw tab or CR in builder-authored SQL would otherwise make the
    * reader's json.load fail. */
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
