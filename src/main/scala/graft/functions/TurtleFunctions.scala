package graft.functions

/** Scalar render helpers shared by the concept renderer and the Column
  * wrappers. Each mirrors one reference function; the subtle bits are
  * Python falsiness (empty string == absent) and code-point string
  * ordering, both preserved here.
  */
object TurtleFunctions {

  /** `escape` (`umls2rdf.py:103-104`): backslashes first, then quotes —
    * order matters. */
  def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** `turtle_string` (`umls2rdf.py:106-113`): triple-quoted literal iff the
    * value contains a newline; optional `@lang` / `^^datatype` suffix
    * (lang wins if both). */
  def turtleString(value: String, lang: Option[String] = None,
      datatype: Option[String] = None): String = {
    val v = escape(value)
    val literal =
      if (v.contains("\n")) "\"\"\"" + v + "\"\"\"" else "\"" + v + "\""
    lang match {
      case Some(l) if l.nonEmpty => s"$literal@$l"
      case _ => datatype match {
        case Some(dt) if dt.nonEmpty => s"$literal^^$dt"
        case _ => literal
      }
    }
  }

  /** UMLS 3-letter → BCP47-ish 2-letter language map
    * (`umls2rdf.py:92`), applied lowercased (`umls2rdf.py:597`). */
  val langMap: Map[String, String] = Map(
    "eng" -> "en", "fre" -> "fr", "cze" -> "cz", "fin" -> "fi",
    "ger" -> "de", "ita" -> "it", "jpn" -> "jp", "pol" -> "pl",
    "por" -> "pt", "rus" -> "ru", "spa" -> "es", "swe" -> "sw",
    "scr" -> "hr", "dut" -> "nl", "lav" -> "lv", "hun" -> "hu",
    "kor" -> "kr", "dan" -> "da", "nor" -> "no", "heb" -> "he",
    "baq" -> "eu")

  /** Map a MRSAB.LAT value to an output language tag; unmapped → as-is
    * lowercased (the reference indexes the dict directly and KeyErrors,
    * `umls2rdf.py:92,766`). `strict = true` reproduces the reference's
    * hard failure; the lenient default keeps a mistyped LAT from sinking
    * a whole export. */
  def mapLang(lat: String, strict: Boolean = false): String = {
    val l = Option(lat).getOrElse("").toLowerCase
    langMap.get(l) match {
      case Some(tag) => tag
      case None if strict => throw new IllegalStateException(
        s"Language '$l' not in the UMLS language map (reference KeyErrors)")
      case None => l
    }
  }

  /** STN parent derivation (C11, `umls2rdf.py:170-175`): dotted path →
    * drop last segment; single-segment → drop last char ("A1" → "A"). */
  def stnParent(stn: String): String =
    if (stn.contains(".")) stn.substring(0, stn.lastIndexOf("."))
    else if (stn.nonEmpty) stn.substring(0, stn.length - 1)
    else stn

  /** Property label prettify (C8, `umls2rdf.py:522-527`): short
    * descriptions become the label; if the RESULT contains '_', the label
    * is rebuilt from the attribute fragment (`self.att`, not the
    * description) as space-joined words with ONLY the first character
    * uppercased (not initcap). */
  def prettyLabel(att: String, description: String): String = {
    var label = att
    if (description != null && description.length < 20) label = description
    if (label.contains("_")) {
      label = att.split("_", -1).mkString(" ")
      if (label.nonEmpty)
        label = label.substring(0, 1).toUpperCase + label.substring(1)
    }
    label
  }
}
