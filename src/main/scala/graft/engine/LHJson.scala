package graft.engine

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator, JsonParser, JsonToken}
import scala.collection.immutable.ListMap

/** Error raised by variable substitution / mutation / comparison — the
  * engine's equivalent of the reference's `VarSubOrzDash`
  * (reference: common/objects/rundata/VarSubOrzDash.java). Callers turn
  * it into a `VARIABLE_LOOKUP_ERROR` thread failure.
  */
final class VarSubError(msg: String, cause: Throwable = null)
  extends Exception(msg, cause)

/** Dynamically-typed JSON values, the engine's runtime representation of
  * workflow variables (reference: BaseSchema JSON + `Object`-typed
  * variables, see SURVEY.md §1.3), and the engine's only JSON codec.
  *
  * Value model: `null | Boolean | Int | Long | Double | String |
  * Vector[Any] | ListMap[String, Any]` — immutable, insertion-ordered
  * objects. Integer JSON numbers that fit in 32 bits decode to `Int`
  * (mirroring Jackson's Integer), up to 64 bits to `Long`, bigger ones
  * and decimals to `Double`. A duplicate key keeps its first position
  * and its last value.
  *
  * Both directions stream: [[parse]] reads Jackson parser tokens
  * straight into the value model and [[render]] walks a value straight
  * into a Jackson generator, with no `JsonNode` tree between value and
  * text. Parsing reads the first JSON value of the text and ignores
  * what follows it; empty or blank text parses to null.
  *
  * IMPORTANT: engine code must compare values with `.equals`, never
  * Scala `==` on `Any` — Scala's cooperative numeric equality would make
  * `1 == 1.0` true where the reference (Java `Object.equals`) says false.
  */
object LHJson {
  private val factory = new JsonFactory()

  /** Parse a JSON document; throws on invalid input. */
  def parse(s: String): Any = {
    val p = factory.createParser(s)
    try read(p, p.nextToken())
    finally p.close()
  }

  private def read(p: JsonParser, t: JsonToken): Any = t match {
    case JsonToken.START_OBJECT =>
      val b = ListMap.newBuilder[String, Any]
      var k = p.nextFieldName()
      while (k != null) {
        b += k -> read(p, p.nextToken())
        k = p.nextFieldName()
      }
      b.result()
    case JsonToken.START_ARRAY =>
      val b = Vector.newBuilder[Any]
      var e = p.nextToken()
      while (e != JsonToken.END_ARRAY) {
        b += read(p, e)
        e = p.nextToken()
      }
      b.result()
    case JsonToken.VALUE_STRING => p.getText
    case JsonToken.VALUE_NUMBER_INT => p.getNumberType match {
      case JsonParser.NumberType.INT => p.getIntValue
      case JsonParser.NumberType.LONG => p.getLongValue
      case _ => p.getDoubleValue
    }
    case JsonToken.VALUE_NUMBER_FLOAT => p.getDoubleValue
    case JsonToken.VALUE_TRUE => true
    case JsonToken.VALUE_FALSE => false
    case JsonToken.VALUE_NULL | null => null
    case other => throw new VarSubError(s"Unsupported JSON token: $other")
  }

  /** Reference `LHUtil.stringToObj` (LHUtil.java:167-177): parse if
    * possible, else return the raw string. */
  def stringToObj(s: String): Any =
    try parse(s)
    catch { case _: Exception => s }

  /** Strict JSON rendering (maps AND lists become JSON; map keys are
    * rendered with `String.valueOf`, a `Float` as its `Double`). */
  def render(v: Any): String = {
    val w = new java.io.StringWriter()
    val g = factory.createGenerator(w)
    try write(g, v)
    finally g.close()
    w.toString
  }

  private def write(g: JsonGenerator, v: Any): Unit = v match {
    case null => g.writeNull()
    case b: Boolean => g.writeBoolean(b)
    case i: Int => g.writeNumber(i)
    case l: Long => g.writeNumber(l)
    case d: Double => g.writeNumber(d)
    case f: Float => g.writeNumber(f.toDouble)
    case s: String => g.writeString(s)
    case xs: Seq[_] =>
      g.writeStartArray()
      xs.foreach(write(g, _))
      g.writeEndArray()
    case m: scala.collection.Map[_, _] =>
      g.writeStartObject()
      m.foreach { case (k, x) =>
        g.writeFieldName(String.valueOf(k))
        write(g, x)
      }
      g.writeEndObject()
    case other =>
      throw new IllegalArgumentException(s"Cannot render: ${other.getClass}")
  }

  /** Reference `LHUtil.objToString` (LHUtil.java:197-211): maps render
    * as JSON, scalars via `toString` (so a String stays unquoted). We
    * also JSON-render lists — the reference's Java `List.toString` is
    * only valid JSON for numeric lists, and every harness case that
    * jsonpaths into a list round-trips through this. */
  def objToString(v: Any): String = v match {
    case null => "null"
    case s: String => s
    case _: Seq[_] | _: scala.collection.Map[_, _] => render(v)
    case other => other.toString
  }

  /** Reference `LHUtil.unsplat` (LHUtil.java:113-133): map stays a map;
    * a JSON-object string parses to a map; anything else → {"": value}. */
  def unsplat(v: Any): ListMap[String, Any] = v match {
    case m: ListMap[_, _] => m.asInstanceOf[ListMap[String, Any]]
    case other =>
      try {
        parse(objToString(other)) match {
          case m: ListMap[_, _] => m.asInstanceOf[ListMap[String, Any]]
          case _ => ListMap("" -> other)
        }
      } catch { case _: Exception => ListMap("" -> other) }
  }

  // ---- field readers, shared by the engine's codecs ----
  // A value of the wrong type reads like an absent one: the reader
  // gives its default or None, and each codec says with a
  // `getOrElse(throw …)` which absences are errors, in its own error
  // type. A number reads through `intValue`/`longValue` (Scala's
  // `toInt`/`toLong`) whether it parsed as Int, Long or Double.

  /** `v` as an object; None for anything else. */
  def obj(v: Any): Option[ListMap[String, Any]] = v match {
    case m: ListMap[_, _] => Some(m.asInstanceOf[ListMap[String, Any]])
    case _ => None
  }

  /** Field `k` as an object, absent or null reading as the empty one;
    * None when it holds anything else. */
  def objOrEmpty(o: ListMap[String, Any], k: String): Option[ListMap[String, Any]] =
    o.getOrElse(k, null) match {
      case null => Some(ListMap.empty)
      case v => obj(v)
    }

  /** Field `k` as a list; empty when absent or not a list. */
  def list(o: ListMap[String, Any], k: String): Vector[Any] =
    o.getOrElse(k, null) match {
      case xs: Vector[_] => xs
      case _ => Vector.empty
    }

  def str(o: ListMap[String, Any], k: String): Option[String] =
    o.getOrElse(k, null) match {
      case s: String => Some(s)
      case _ => None
    }

  def int(o: ListMap[String, Any], k: String, dflt: Int = 0): Int =
    o.getOrElse(k, null) match {
      case n: Number => n.intValue
      case _ => dflt
    }

  def optInt(o: ListMap[String, Any], k: String): Option[Int] =
    o.getOrElse(k, null) match {
      case n: Number => Some(n.intValue)
      case _ => None
    }

  def long(o: ListMap[String, Any], k: String, dflt: Long = 0L): Long =
    o.getOrElse(k, null) match {
      case n: Number => n.longValue
      case _ => dflt
    }

  def optLong(o: ListMap[String, Any], k: String): Option[Long] =
    o.getOrElse(k, null) match {
      case n: Number => Some(n.longValue)
      case _ => None
    }
}

/** Jayway-compatible JSONPath evaluator (reference: LHUtil.jsonPath,
  * LHUtil.java:184-193 wraps jayway `JsonPath.parse(json).read(path)`):
  * definite steps `$`, `.field`, `['field']`, `[index]`, plus the
  * indefinite forms `$..field` (deep scan), `[*]` and `.*` (wildcard).
  *
  * Jayway list semantics: a path containing any indefinite step returns
  * a LIST of matches; per-branch misses after the fan-out are silently
  * skipped, and a deep scan that matches nothing returns the empty list
  * rather than erroring. Purely definite paths keep jayway's
  * error-on-miss behavior: a missing field, bad index, or scalar
  * dereference throws (→ VARIABLE_LOOKUP_ERROR in the engine), unlike
  * Spark's `get_json_object` which returns null.
  */
object JsonPath {
  sealed private trait Step
  private case class Field(name: String) extends Step
  private case class Index(i: Int) extends Step
  private case object Wildcard extends Step
  private case class DeepScan(name: String) extends Step

  private def compile(path: String): List[Step] = {
    if (path.isEmpty || path.charAt(0) != '$')
      throw new VarSubError(s"Path must start with '$$': $path")
    val steps = List.newBuilder[Step]
    var i = 1
    while (i < path.length) {
      path.charAt(i) match {
        case '.' =>
          i += 1
          if (i < path.length && path.charAt(i) == '.') {
            // deep scan: `$..field` (jayway ScanPathToken)
            i += 1
            val start = i
            while (i < path.length && path.charAt(i) != '.' && path.charAt(i) != '[')
              i += 1
            if (i == start)
              throw new VarSubError(s"Deep scan needs a field name: $path")
            val name = path.substring(start, i)
            if (name == "*")
              throw new VarSubError(s"'$$..*' not supported: $path")
            steps += DeepScan(name)
          } else if (i < path.length && path.charAt(i) == '*') {
            steps += Wildcard
            i += 1
          } else {
            val start = i
            while (i < path.length && path.charAt(i) != '.' && path.charAt(i) != '[')
              i += 1
            if (i == start) throw new VarSubError(s"Empty field name in $path")
            steps += Field(path.substring(start, i))
          }
        case '[' =>
          i += 1
          if (i < path.length && (path.charAt(i) == '\'' || path.charAt(i) == '"')) {
            val quote = path.charAt(i)
            i += 1
            val start = i
            while (i < path.length && path.charAt(i) != quote) i += 1
            if (i >= path.length) throw new VarSubError(s"Unclosed quote in $path")
            steps += Field(path.substring(start, i))
            i += 1 // quote
            if (i >= path.length || path.charAt(i) != ']')
              throw new VarSubError(s"Expected ']' in $path")
            i += 1
          } else if (i < path.length && path.charAt(i) == '*') {
            if (i + 1 >= path.length || path.charAt(i + 1) != ']')
              throw new VarSubError(s"Expected ']' after '*' in $path")
            steps += Wildcard
            i += 2
          } else {
            val start = i
            while (i < path.length && path.charAt(i) != ']') i += 1
            if (i >= path.length) throw new VarSubError(s"Expected ']' in $path")
            val idx =
              try path.substring(start, i).trim.toInt
              catch {
                case e: NumberFormatException =>
                  throw new VarSubError(s"Bad index in $path", e)
              }
            steps += Index(idx)
            i += 1
          }
        case c =>
          throw new VarSubError(s"Unexpected '$c' at $i in $path")
      }
    }
    steps.result()
  }

  /** Jayway ScanPathToken walk: at every OBJECT node (preorder,
    * insertion order) emit its `f` value if present, then descend into
    * every value; array elements are walked in index order. */
  private def deepScan(node: Any, f: String): Vector[Any] = node match {
    case m: ListMap[_, _] =>
      val mm = m.asInstanceOf[ListMap[String, Any]]
      mm.get(f).toVector ++ mm.values.toVector.flatMap(deepScan(_, f))
    case xs: Vector[_] => xs.flatMap(deepScan(_, f))
    case _ => Vector.empty
  }

  private def children(node: Any): Vector[Any] = node match {
    case m: ListMap[_, _] => m.values.toVector
    case xs: Vector[_] => xs
    case _ => Vector.empty
  }

  /** Evaluate `path` against JSON text. Definite paths return the
    * single match and throw VarSubError on any miss; indefinite paths
    * (any `..`/`*` step) return a Vector of matches, skipping branch
    * misses — jayway's list semantics. */
  def read(json: String, path: String): Any = {
    val root =
      try LHJson.parse(json)
      catch {
        case e: Exception =>
          throw new VarSubError(s"Failed parsing JSON for path $path", e)
      }
    var nodes: Vector[Any] = Vector(root)
    var indefinite = false
    compile(path).foreach { step =>
      step match {
        case Field(f) =>
          if (!indefinite) nodes = Vector(nodes.head match {
            case m: ListMap[_, _] =>
              m.asInstanceOf[ListMap[String, Any]].getOrElse(f,
                throw new VarSubError(
                  s"No results for path: $path (missing '$f')"))
            case _ => throw new VarSubError(
              s"Cannot apply ${step} to non-container while reading $path")
          })
          else nodes = nodes.collect {
            case m: ListMap[_, _]
                if m.asInstanceOf[ListMap[String, Any]].contains(f) =>
              m.asInstanceOf[ListMap[String, Any]](f)
          }
        case Index(idx) =>
          if (!indefinite) nodes = Vector(nodes.head match {
            case xs: Vector[_] =>
              if (idx < 0 || idx >= xs.length)
                throw new VarSubError(
                  s"Index $idx out of bounds for path: $path")
              else xs(idx)
            case _ => throw new VarSubError(
              s"Cannot apply ${step} to non-container while reading $path")
          })
          else nodes = nodes.collect {
            case xs: Vector[_] if idx >= 0 && idx < xs.length => xs(idx)
          }
        case Wildcard =>
          if (!indefinite) {
            nodes.head match {
              case _: ListMap[_, _] | _: Vector[_] => ()
              case _ => throw new VarSubError(
                s"Cannot apply wildcard to scalar while reading $path")
            }
            indefinite = true
          }
          nodes = nodes.flatMap(children)
        case DeepScan(f) =>
          indefinite = true
          nodes = nodes.flatMap(deepScan(_, f))
      }
    }
    if (indefinite) nodes else nodes.head
  }
}
