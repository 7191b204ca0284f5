package graft.meta

import scala.jdk.CollectionConverters._

/** Dynamic metadata value tree ("metadata stays data, not code").
  *
  * Models the YAML documents the reference engine is driven by
  * (reference: the yaml files under hbsir/metadata/, loaded at
  * hbsir/core/metadata_reader.py:127-165). Keys may be integers (year
  * version markers) or strings; insertion order is preserved because the
  * reference's overlay/categorize semantics depend on it.
  */
sealed trait Meta {
  def isNull: Boolean = this == MNull

  def asMap: Vector[(MKey, Meta)] = this match {
    case MMap(e) => e
    case other   => throw new IllegalArgumentException(s"not a map: $other")
  }
  def asList: Vector[Meta] = this match {
    case MList(e) => e
    case other    => throw new IllegalArgumentException(s"not a list: $other")
  }
  def asStr: String = this match {
    case MStr(s)  => s
    case MInt(i)  => i.toString
    case MDbl(d)  => d.toString
    case MBool(b) => b.toString
    case other    => throw new IllegalArgumentException(s"not a string: $other")
  }
  def asLong: Long = this match {
    case MInt(i) => i
    case MDbl(d) => d.toLong
    case MStr(s) => s.trim.toLong
    case other   => throw new IllegalArgumentException(s"not an int: $other")
  }
  def asBool: Boolean = this match {
    case MBool(b) => b
    case other    => throw new IllegalArgumentException(s"not a bool: $other")
  }

  /** Map-style lookup by string key. */
  def get(key: String): Option[Meta] = this match {
    case MMap(e) => e.collectFirst { case (SKey(k), v) if k == key => v }
    case _       => None
  }
  def get(key: Long): Option[Meta] = this match {
    case MMap(e) => e.collectFirst { case (IKey(k), v) if k == key => v }
    case _       => None
  }
  def apply(key: String): Meta =
    get(key).getOrElse(throw new NoSuchElementException(s"key $key in $this"))
  def has(key: String): Boolean = get(key).isDefined
}

final case class MInt(v: Long) extends Meta
final case class MDbl(v: Double) extends Meta
final case class MStr(v: String) extends Meta
final case class MBool(v: Boolean) extends Meta
case object MNull extends Meta
final case class MList(items: Vector[Meta]) extends Meta
final case class MMap(entries: Vector[(MKey, Meta)]) extends Meta {
  lazy val keys: Vector[MKey] = entries.map(_._1)
}

sealed trait MKey { def asString: String }
final case class IKey(v: Long) extends MKey { def asString = v.toString }
final case class SKey(v: String) extends MKey { def asString = v }

object Meta {
  def map(entries: (MKey, Meta)*): MMap = MMap(entries.toVector)
  def list(items: Meta*): MList = MList(items.toVector)
  def k(s: String): MKey = SKey(s)
  def k(i: Long): MKey = IKey(i)

  /** Recursive local-override merge: maps merge key-wise (override wins
    * at leaves, base keys keep their order, new keys append in override
    * order); any non-map override value replaces the base subtree.
    *
    * This is the settings-merge semantic of the reference — flattening
    * nested dicts to leaf paths and updating leaf-by-leaf
    * (metadata_reader.py:215-253) is exactly a recursive map merge — and
    * a strict superset of its shallow per-document metadata update
    * (metadata_reader.py:342-353): a local doc that replaces whole
    * top-level entries behaves identically under either.
    */
  def deepMerge(base: Meta, overlay: Meta): Meta = (base, overlay) match {
    case (a: MMap, b: MMap) =>
      val merged = a.entries.map { case (k, v) =>
        k -> b.entries.collectFirst { case (bk, bv) if bk == k => deepMerge(v, bv) }.getOrElse(v)
      }
      val added = b.entries.filterNot { case (bk, _) => a.keys.contains(bk) }
      MMap(merged ++ added)
    case (_, o) => o
  }

  /** Parse a YAML document (snakeyaml ships with Spark) into a Meta tree.
    * The alias cap is raised from snakeyaml's default 50: the reference's
    * real tables.yaml/schema.yaml corpus reuses hundreds of column-spec
    * anchors (e.g. tables.yaml:169-310), which are data, not a billion-
    * laughs amplification (the code-point cap still bounds expansion).
    */
  def fromYaml(yaml: String): Meta = {
    val opts = new org.yaml.snakeyaml.LoaderOptions()
    opts.setMaxAliasesForCollections(10000)
    val loaded = new org.yaml.snakeyaml.Yaml(opts).load[Object](yaml)
    fromJava(loaded)
  }

  private val TemplateP = raw"\{\{\s*([A-Za-z0-9_]+)(?:\.([A-Za-z0-9_]+))?\s*\}\}".r

  /** Parse a YAML document containing `{{placeholder}}` references, the
    * template mechanism of the reference's commodities metadata
    * (hbsir/core/metadata_reader.py:366-381, used at
    * hbsir/metadata/commodities.yaml:1784-1830): `{{name}}` splices
    * `name`'s `items` subtree; `{{name.item}}` splices a single item.
    * Like the reference, resolution is textual: the context is the
    * document with placeholders blanked, and each placeholder is replaced
    * by the referenced subtree serialized inline.
    */
  def fromYamlTemplated(yaml: String): Meta = {
    val cleaned = TemplateP.replaceAllIn(yaml, "null")
    val context = fromYaml(cleaned)
    val dumper = {
      val opts = new org.yaml.snakeyaml.DumperOptions()
      opts.setDefaultFlowStyle(org.yaml.snakeyaml.DumperOptions.FlowStyle.FLOW)
      opts.setWidth(Int.MaxValue)
      new org.yaml.snakeyaml.Yaml(opts)
    }
    def lookup(name: String, item: Option[String]): Meta = {
      val items = context(name)("items")
      item.fold(items)(i => items(i))
    }
    def toJava(m: Meta): Object = m match {
      case MNull    => null
      case MInt(i)  => java.lang.Long.valueOf(i)
      case MDbl(d)  => java.lang.Double.valueOf(d)
      case MStr(s)  => s
      case MBool(b) => java.lang.Boolean.valueOf(b)
      case MList(items) =>
        val l = new java.util.ArrayList[Object](); items.foreach(i => l.add(toJava(i))); l
      case MMap(entries) =>
        val mm = new java.util.LinkedHashMap[Object, Object]()
        entries.foreach { case (k, v) =>
          val key: Object = k match {
            case IKey(i) => java.lang.Long.valueOf(i)
            case SKey(s) => s
          }
          mm.put(key, toJava(v))
        }
        mm
    }
    val substituted = TemplateP.replaceAllIn(yaml, m => {
      val value = lookup(m.group(1), Option(m.group(2)))
      java.util.regex.Matcher.quoteReplacement(
        dumper.dump(toJava(value)).trim)
    })
    fromYaml(substituted)
  }

  def fromJava(o: Object): Meta = o match {
    case null                       => MNull
    case b: java.lang.Boolean       => MBool(b)
    case i: java.lang.Integer       => MInt(i.longValue)
    case l: java.lang.Long          => MInt(l)
    case bi: java.math.BigInteger   => MInt(bi.longValueExact)
    case d: java.lang.Double        => MDbl(d)
    case f: java.lang.Float         => MDbl(f.doubleValue)
    case s: String                  => MStr(s)
    case m: java.util.Map[_, _] =>
      MMap(m.asScala.toVector.map { case (k, v) =>
        val key = k match {
          case ki: java.lang.Integer => IKey(ki.longValue)
          case kl: java.lang.Long    => IKey(kl)
          case ks: String            => SKey(ks)
          case other                 => SKey(String.valueOf(other))
        }
        key -> fromJava(v.asInstanceOf[Object])
      })
    case l: java.util.List[_] =>
      MList(l.asScala.toVector.map(v => fromJava(v.asInstanceOf[Object])))
    case other =>
      MStr(String.valueOf(other))
  }
}
