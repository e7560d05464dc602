package graft

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.DeserializationFeature
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON for graft's hand-rendered documents and everything read back
  * from them: REST catalog request bodies and responses, exported and
  * imported Iceberg metadata, Delta logs. One string escaper for
  * emission; one strict parser (json4s over Jackson, shipped with
  * Spark) and a few typed accessors for reads, so a field is found by
  * its path in the document, never by the first match of its key
  * anywhere in the text.
  */
object Json {

  /** `s` as a JSON string literal (RFC 8259 escapes). */
  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  // trailing content after the document is an error, not ignored; a
  // leading-dot number (`.5`) is the one leniency, kept for clients of
  // the maintain route that always sent it
  private lazy val reader = JsonMethods.mapper.readerFor(classOf[JValue])
    .`with`(DeserializationFeature.USE_BIG_INTEGER_FOR_INTS)
    .`with`(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .`with`(JsonReadFeature.ALLOW_LEADING_DECIMAL_POINT_FOR_NUMBERS)

  /** One complete JSON document. Malformed or empty input and trailing
    * content raise IllegalArgumentException — a 400 at the REST
    * handlers.
    */
  def parse(text: String): JValue = {
    val v =
      try reader.readValue[JValue](text)
      catch {
        case e: java.io.IOException =>
          throw new IllegalArgumentException(s"malformed JSON: ${e.getMessage}")
      }
    if (v == null || v == JNothing)
      throw new IllegalArgumentException("malformed JSON: empty document")
    v
  }

  /** [[parse]], requiring a top-level object (every request body). */
  def parseObject(text: String): JObject = parse(text) match {
    case o: JObject => o
    case other => throw new IllegalArgumentException(
      s"request body must be a JSON object, got ${other.getClass.getSimpleName}")
  }

  /** The value at `path`, descending through objects only (unlike
    * json4s `\`, never mapping over arrays); JNothing when any step is
    * missing or not an object. A repeated key resolves to its first
    * occurrence.
    */
  def at(v: JValue, path: String*): JValue = path.foldLeft(v) {
    case (JObject(fields), k) =>
      fields.collectFirst { case (`k`, x) => x }.getOrElse(JNothing)
    case _ => JNothing
  }

  /** Whether the value exists — `null` counts as present. */
  def present(v: JValue): Boolean = v != JNothing

  def str(v: JValue): Option[String] = v match {
    case JString(s) => Some(s)
    case _ => None
  }

  /** An integer within Long range; `3.5` or `"3"` is None. */
  def long(v: JValue): Option[Long] = v match {
    case JInt(n) if n.isValidLong => Some(n.longValue)
    case JLong(n) => Some(n)
    case _ => None
  }

  /** A number; integers count. */
  def double(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble)
    case JInt(n) => Some(n.toDouble)
    case JLong(n) => Some(n.toDouble)
    case _ => None
  }

  def bool(v: JValue): Option[Boolean] = v match {
    case JBool(b) => Some(b)
    case _ => None
  }

  /** An array's elements; Nil for anything else. */
  def arr(v: JValue): List[JValue] = v match {
    case JArray(xs) => xs
    case _ => Nil
  }

  /** An optional array of strings: absent or `null` is Nil, anything
    * but an array of strings an IllegalArgumentException naming `what`.
    */
  def strs(v: JValue, what: String): List[String] = v match {
    case JNothing | JNull => Nil
    case JArray(xs) => xs.map(x => str(x).getOrElse(
      throw new IllegalArgumentException(s"$what must be an array of strings")))
    case _ => throw new IllegalArgumentException(s"$what must be an array of strings")
  }

  /** An optional integer: absent or `null` is None, any other
    * non-integer an IllegalArgumentException naming `what`.
    */
  def optLong(v: JValue, what: String): Option[Long] = v match {
    case JNothing | JNull => None
    case x => Some(long(x).getOrElse(
      throw new IllegalArgumentException(s"$what must be an integer")))
  }
}
