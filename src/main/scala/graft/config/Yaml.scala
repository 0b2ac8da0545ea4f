package graft.config

import scala.jdk.CollectionConverters._

import org.snakeyaml.engine.v2.api.LoadSettings
import org.snakeyaml.engine.v2.api.lowlevel.Compose
import org.snakeyaml.engine.v2.exceptions.YamlEngineException
import org.snakeyaml.engine.v2.nodes.{MappingNode, ScalarNode, SequenceNode, Tag}
import org.snakeyaml.engine.v2.nodes.{Node => YamlNode}
import org.snakeyaml.engine.v2.schema.FailsafeSchema

/** fluent-bit's YAML config format, read through snakeyaml-engine as the
  * reference reads it through libyaml events
  * (`src/config_format/flb_cf_yaml.c`). The document is composed under
  * the failsafe schema, so all scalars stay STRINGS — the config layer
  * owns interpretation (`on`/`true`, numbers), matching how flb_cf
  * stores every property as text and converts at plugin-init time.
  *
  * Out of scope because no fluent-bit config uses them: anchors/aliases,
  * explicit tags other than str/seq/map/null, complex (non-scalar)
  * mapping keys and multi-document streams. Those raise instead of
  * mis-parsing.
  */
object Yaml {

  sealed trait Node
  final case class YStr(v: String) extends Node
  final case class YSeq(items: Vector[Node]) extends Node
  final case class YMap(entries: Vector[(String, Node)]) extends Node {
    /** Case-insensitive lookup — flb_cf section/property names are
      * case-insensitive (`HTTP_Server` ≡ `http_server`).
      */
    def get(k: String): Option[Node] =
      entries.collectFirst { case (kk, n) if kk.equalsIgnoreCase(k) => n }
    def str(k: String): Option[String] =
      get(k).collect { case YStr(v) => v }
    def seq(k: String): Vector[Node] = get(k) match {
      case Some(YSeq(items)) => items
      case Some(other)       => Vector(other) // one item, unwrapped form
      case None              => Vector.empty
    }
  }

  private val Settings = LoadSettings.builder().setSchema(new FailsafeSchema()).build()
  private val Tags = Set(Tag.STR, Tag.SEQ, Tag.MAP, Tag.NULL)

  /** Parse one document to its root mapping. An empty document parses to
    * an empty mapping (flb accepts an empty config file).
    */
  def parse(text: String): YMap = {
    val root =
      try new Compose(Settings).composeString(text).map[Node](walk).orElse(YStr(""))
      catch {
        case e: YamlEngineException =>
          throw new IllegalArgumentException(s"yaml: ${e.getMessage}", e)
      }
    root match {
      case m: YMap => m
      case YStr("") => YMap(Vector.empty)
      case YSeq(_) => throw new IllegalArgumentException(
        "yaml: root must be a mapping (fluent-bit configs are keyed by section)")
      case YStr(s) => throw new IllegalArgumentException(
        s"yaml: root must be a mapping, got scalar '$s'")
    }
  }

  private def walk(n: YamlNode): Node = {
    n.getAnchor.ifPresent(a => fail(n, s"anchors and aliases are unsupported (&$a)"))
    if (!Tags(n.getTag)) fail(n, s"tag ${n.getTag} is unsupported")
    n match {
      case s: ScalarNode => YStr(s.getValue)
      case s: SequenceNode => YSeq(s.getValue.asScala.iterator.map(walk).toVector)
      case m: MappingNode => YMap(m.getValue.asScala.iterator.map { t =>
        walk(t.getKeyNode) match {
          case YStr(k) => k -> walk(t.getValueNode)
          case _ => fail(t.getKeyNode, "complex (non-scalar) mapping keys are unsupported")
        }
      }.toVector)
    }
  }

  private def fail(n: YamlNode, msg: String): Nothing = {
    val at = n.getStartMark.map[String](m => s"line ${m.getLine + 1}: ").orElse("")
    throw new IllegalArgumentException(s"yaml: $at$msg")
  }
}
