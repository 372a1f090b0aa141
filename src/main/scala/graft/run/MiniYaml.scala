package graft.run

import java.nio.file.{Files, Path}
import java.util.{Collections, IdentityHashMap}
import scala.jdk.CollectionConverters._
import org.yaml.snakeyaml.LoaderOptions
import org.yaml.snakeyaml.composer.Composer
import org.yaml.snakeyaml.error.{Mark, MarkedYAMLException, YAMLException}
import org.yaml.snakeyaml.nodes.{MappingNode, ScalarNode, SequenceNode, Tag}
import org.yaml.snakeyaml.parser.ParserImpl
import org.yaml.snakeyaml.reader.StreamReader
import org.yaml.snakeyaml.resolver.Resolver

/** The dbt project files (`dbt_project.yml`, `schema.yml`, `packages.yml`,
  * `selectors.yml`, `dependencies.yml`, `profiles.yml`) read as YAML 1.1,
  * the dialect of dbt's PyYAML, from SnakeYAML's node graph (`compose`).
  * Scalars stay raw strings (`on`, `yes`, `1.10`, `~` are not coerced;
  * `key:` is `Scalar("")`), mappings keep document order and `Obj.get`
  * returns the first match. Anchors resolve in the composer; `<<` merge
  * keys flatten here (own keys win, earlier merge sources win). A file is
  * one document with a mapping on top; an empty one is `Obj(Nil)`. Input
  * is bounded (50 aliases to collections, no recursive keys, no alias
  * cycles), and every error is an IllegalArgumentException with the line
  * and column.
  */
object MiniYaml {
  sealed trait Node
  final case class Scalar(value: String) extends Node
  final case class Arr(items: Seq[Node]) extends Node
  final case class Obj(entries: Seq[(String, Node)]) extends Node {
    def get(key: String): Option[Node] = entries.find(_._1 == key).map(_._2)
    def scalar(key: String): Option[String] = get(key).collect {
      case Scalar(v) => v
    }
    def obj(key: String): Option[Obj] = get(key).collect { case o: Obj => o }
    def arr(key: String): Seq[Node] = get(key) match {
      case Some(Arr(items)) => items
      case _ => Nil
    }
  }

  /** Items of an `Arr` value that are scalars (flow or block lists). */
  def scalars(n: Node): Seq[String] = n match {
    case Scalar(v) => Seq(v)
    case Arr(items) => items.collect { case Scalar(v) => v }
    case _ => Nil
  }

  def parse(text: String): Obj = read(text, "yaml")

  /** [[parse]] of a file; an error message starts with its path. */
  def parseFile(p: Path): Obj = read(Files.readString(p), p.toString)

  private type YNode = org.yaml.snakeyaml.nodes.Node

  private def read(text: String, where: String): Obj = {
    def fail(m: Mark, msg: String): Nothing = throw new IllegalArgumentException(
      s"$where line ${m.getLine + 1}, column ${m.getColumn + 1}: $msg")
    val opts = new LoaderOptions
    opts.setAllowRecursiveKeys(false)
    val root = try {
      new Composer(new ParserImpl(new StreamReader(text), opts), new Resolver,
        opts).getSingleNode
    } catch {
      case e: MarkedYAMLException if e.getProblemMark != null =>
        fail(e.getProblemMark,
          Option(e.getContext).fold("")(_ + ": ") + e.getProblem)
      case e: YAMLException =>
        throw new IllegalArgumentException(s"$where: ${e.getMessage}", e)
    }
    // converted nodes by identity: an aliased subtree converts once, and a
    // node met again while it is still open is an alias cycle
    val done = new IdentityHashMap[YNode, Node]
    val open = Collections.newSetFromMap(new IdentityHashMap[YNode, java.lang.Boolean])
    def conv(n: YNode): Node = Option(done.get(n)).getOrElse {
      if (!open.add(n)) fail(n.getStartMark,
        s"alias '*${n.getAnchor}' refers to a node that contains it")
      val out = n match {
        case s: ScalarNode => Scalar(s.getValue)
        case s: SequenceNode => Arr(s.getValue.asScala.toSeq.map(conv))
        case m: MappingNode =>
          val (merges, own) =
            m.getValue.asScala.toSeq.partition(_.getKeyNode.getTag == Tag.MERGE)
          val ownEntries = own.map(t => t.getKeyNode match {
            case k: ScalarNode => k.getValue -> conv(t.getValueNode)
            case k => fail(k.getStartMark, "mapping keys must be scalars")
          })
          val merged = merges.map(_.getValueNode).flatMap(v => conv(v) match {
            case o: Obj => o.entries
            case Arr(os) if os.forall(_.isInstanceOf[Obj]) =>
              os.collect { case o: Obj => o.entries }.flatten
            case _ => fail(v.getStartMark, "'<<' takes a mapping or a list of them")
          })
          val seen = scala.collection.mutable.Set(ownEntries.map(_._1): _*)
          Obj(ownEntries ++ merged.filter(e => seen.add(e._1)))
      }
      open.remove(n)
      done.put(n, out)
      out
    }
    root match {
      case null => Obj(Nil)
      case s: ScalarNode if s.getTag == Tag.NULL => Obj(Nil) // `---` alone
      case m: MappingNode => conv(m).asInstanceOf[Obj]
      case n => fail(n.getStartMark,
        s"expected a top-level mapping, got a ${n.getNodeId}")
    }
  }
}
