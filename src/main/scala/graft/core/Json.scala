package graft.core

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The one JSON codec of the engine's metadata: table manifests, run
  * checkpoints, the dedup config, validation reports and descriptors,
  * and the JSON lines the mains print. One shared Jackson
  * `ObjectMapper` (the Jackson Spark itself ships — no extra
  * dependency) over the tree model:
  *
  *  - writers build an `ObjectNode` field by field, so key order and
  *    which optional keys appear stay explicit at the call site; output
  *    is compact, and strings are escaped per RFC 8259 (quotes,
  *    backslashes and control characters);
  *  - readers look fields up by name, in any order and with any
  *    whitespace. A required field that is absent, null or of the wrong
  *    type fails with an `IllegalStateException` naming the field and
  *    the document it was read from, as does malformed JSON — never a
  *    silently dropped entry.
  */
object Json {

  private val mapper = new ObjectMapper()

  /** A new empty object to fill with `put`/`putObject`/`putArray`. */
  def obj(): ObjectNode = mapper.createObjectNode()

  /** Compact serialization of a tree built with [[obj]]. */
  def write(node: JsonNode): String = mapper.writeValueAsString(node)

  /** The tree of a JSON document written elsewhere (e.g. a Spark
    * schema's `json`), to embed in an object with `set`.
    */
  def tree(text: String): JsonNode = mapper.readTree(text)

  /** Parse `text`, which must be a JSON object; `what` names the
    * document in every error raised while reading it.
    */
  def parse(text: String, what: String): Doc = {
    val node =
      try mapper.readTree(text)
      catch {
        case e: JsonProcessingException =>
          throw new IllegalStateException(
            s"$what: malformed JSON: ${e.getOriginalMessage}", e)
      }
    doc(node, what)
  }

  private def doc(node: JsonNode, what: String): Doc =
    if (node != null && node.isObject) new Doc(node, what)
    else throw new IllegalStateException(s"$what: expected a JSON object, got $node")

  /** Read view of one JSON object. */
  final class Doc private[Json] (node: JsonNode, what: String) {

    private def fail(name: String, problem: String): Nothing =
      throw new IllegalStateException(s"""$what: field "$name" $problem""")

    /** The field's value; absent and JSON null are both None. */
    private def opt(name: String): Option[JsonNode] =
      Option(node.get(name)).filterNot(_.isNull)

    def optLong(name: String): Option[Long] = opt(name).map { v =>
      if (v.isIntegralNumber && v.canConvertToLong) v.longValue
      else fail(name, s"is not a 64-bit integer: $v")
    }

    def optStr(name: String): Option[String] = opt(name).map { v =>
      if (v.isTextual) v.textValue else fail(name, s"is not a string: $v")
    }

    def optObj(name: String): Option[Doc] =
      opt(name).map(doc(_, s"$what, $name"))

    def long(name: String): Long = optLong(name).getOrElse(fail(name, "is missing"))
    def str(name: String): String = optStr(name).getOrElse(fail(name, "is missing"))
    def obj(name: String): Doc = optObj(name).getOrElse(fail(name, "is missing"))

    /** This object as compact JSON text. */
    def json: String = write(node)

    /** This object's members, in document order, each an object. */
    def members: Seq[(String, Doc)] =
      node.properties.asScala.toSeq.map { e =>
        e.getKey -> doc(e.getValue, s"""$what "${e.getKey}"""")
      }

    /** The array-valued field's elements, each an object. */
    def elements(name: String): Seq[Doc] = {
      val a = opt(name).getOrElse(fail(name, "is missing"))
      if (!a.isArray) fail(name, "is not an array")
      a.elements.asScala.toSeq.zipWithIndex.map { case (v, i) =>
        doc(v, s"$what, $name[$i]")
      }
    }
  }
}
