package graft

import com.fasterxml.jackson.core.JsonFactoryBuilder
import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.fasterxml.jackson.core.json.JsonReadFeature

/** JSON string literals through jackson-core (shipped in the Spark jars):
  * every hand-written JSON record in the program quotes user text here,
  * so quotes, backslashes and all control characters are escaped per the
  * JSON spec.
  */
object JsonString {

  /** `s` as a quoted JSON string literal. */
  def quote(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  // raw control characters are accepted on read: manifests written before
  // the jackson encoder left them unescaped
  private val factory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  /** The text of an escaped JSON string body (the part between the
    * quotes) — the inverse of [[quote]].
    */
  def unquote(body: String): String = {
    val p = factory.createParser("\"" + body + "\"")
    try { p.nextToken(); p.getText } finally p.close()
  }
}
