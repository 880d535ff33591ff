package graft.engine

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.streaming.StateFnDriver

/** [[LHJson]] streams between text and values; this spec holds it to
  * the Jackson tree path it replaced (`ObjectMapper.readTree` into the
  * value model, value model into a `JsonNode` and `writeValueAsString`),
  * kept here as the oracle: equal values, value types included, and
  * equal text, on the wire fixtures, on every snapshot and TSR of the
  * random fuzz DAGs, and on edge inputs. */
class LHJsonSpec extends AnyFunSuite {

  /** The tree path, as LHJson implemented it before it streamed. */
  private object Tree {
    private val mapper = new ObjectMapper()
    private val nodes = JsonNodeFactory.instance

    def parse(s: String): Any = fromNode(mapper.readTree(s))

    def fromNode(n: JsonNode): Any =
      if (n == null || n.isNull || n.isMissingNode) null
      else if (n.isBoolean) n.booleanValue()
      else if (n.isInt) n.intValue()
      else if (n.isLong) n.longValue()
      else if (n.isNumber) n.doubleValue()
      else if (n.isTextual) n.textValue()
      else if (n.isArray) n.elements().asScala.map(fromNode).toVector
      else if (n.isObject) {
        var out = ListMap.empty[String, Any]
        n.properties().asScala.foreach { e =>
          out = out.updated(e.getKey, fromNode(e.getValue))
        }
        out
      } else throw new VarSubError(s"Unsupported JSON node: $n")

    def toNode(v: Any): JsonNode = v match {
      case null => nodes.nullNode()
      case b: Boolean => nodes.booleanNode(b)
      case i: Int => nodes.numberNode(i)
      case l: Long => nodes.numberNode(l)
      case d: Double => nodes.numberNode(d)
      case f: Float => nodes.numberNode(f.toDouble)
      case s: String => nodes.textNode(s)
      case xs: Seq[_] =>
        val arr = new ArrayNode(nodes)
        xs.foreach(x => arr.add(toNode(x)))
        arr
      case m: scala.collection.Map[_, _] =>
        val obj = new ObjectNode(nodes)
        m.foreach { case (k, x) => obj.set[JsonNode](String.valueOf(k), toNode(x)) }
        obj
      case other =>
        throw new IllegalArgumentException(s"Cannot render: ${other.getClass}")
    }

    def render(v: Any): String = mapper.writeValueAsString(toNode(v))
  }

  /** Equal values of equal types, objects in equal key order. Scala `==`
    * would call `1 == 1L` and two differently ordered ListMaps equal. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: ListMap[_, _], y: ListMap[_, _]) =>
      x.keys.toSeq == y.keys.toSeq &&
        x.values.zip(y.values).forall { case (p, q) => same(p, q) }
    case (x: Vector[_], y: Vector[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: AnyRef, y: AnyRef) => x.getClass == y.getClass && x.equals(y)
  }

  private def outcome(f: => Any): Either[Class[_], Any] =
    try Right(f) catch { case e: Exception => Left(e.getClass) }

  /** `parse` agrees with the tree, both in value and in failing; a
    * parsed value renders to the tree's text. */
  private def checkText(s: String): Unit = {
    (outcome(LHJson.parse(s)), outcome(Tree.parse(s))) match {
      case (Right(v), Right(t)) =>
        assert(same(v, t), s"parse differs on <$s>: $v vs $t")
        assert(LHJson.render(v) == Tree.render(t), s"render differs on <$s>")
      case (Left(_), Left(_)) => ()
      case (got, want) => fail(s"parse on <$s>: $got, tree: $want")
    }
    assert(same(LHJson.stringToObj(s), {
      try Tree.parse(s) catch { case _: Exception => s }
    }), s"stringToObj differs on <$s>")
  }

  private def checkValue(v: Any): Unit =
    (outcome(LHJson.render(v)), outcome(Tree.render(v))) match {
      case (Right(got), Right(want)) =>
        assert(got == want, s"render differs on $v")
      case (Left(got), Left(want)) => assert(got == want, s"render of $v")
      case (got, want) => fail(s"render of $v: $got, tree: $want")
    }

  test("wire fixtures parse and render like the tree") {
    val dir = new java.io.File(getClass.getResource("/wirespecs").toURI)
    val files = dir.listFiles().filter(_.getName.endsWith(".json"))
    assert(files.length >= 10)
    files.foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      checkText(text)
    }
  }

  test("every snapshot and TSR of the random fuzz DAGs parses and renders like the tree") {
    var docs = 0
    for (seed <- 0 until 200) {
      val spec =
        try FuzzWorkflows.randomSpec(new Random(seed))
        catch { case _: SpecValidationError => null }
      if (spec != null)
        StateFnDriver.run(spec, new Random(seed), redeliver = false)
          .flatMap(_.out).foreach { r =>
            checkText(r.json)
            assert(LHJson.render(LHJson.parse(r.json)) == r.json)
            docs += 1
          }
    }
    assert(docs > 500, s"only $docs documents")
  }

  test("edge inputs parse like the tree") {
    val inputs = Seq(
      "", " ", " \n\t ", "null", "true", "false", "0", "-0", "1 2", "{} x",
      "[1] 2", "true story", "2147483647", "2147483648", "-2147483648",
      "-2147483649", "9223372036854775807", "9223372036854775808",
      "100000000000000000000000000000", "-0.0", "0.0", "1.5e3", "1e400",
      "-1e400", "1E-400", "123abc", "NaN", "[]", "{}", "[[],{},[{}]]",
      """{"a":1,"b":2,"a":3}""", """{"a":{"x":1},"b":[2],"a":[1,{"a":0}]}""",
      """{"a":1""", """[1,2""", """"abc""", """{"a":""", """{"a" 1}""",
      "[1,]", "{,}", "\"\\u0041\\n\\t\\\"\\\\\\/\\b\\f\\r\\u0000\\u001f\"",
      "\"\\ud83d\\ude00 😀 é \\u00e9\"", "\"raw\u0001control\"", "\"\\x\"",
      """{"ключ":"значение","":"empty key"}""")
    inputs.foreach(checkText)
  }

  test("edge values render like the tree") {
    val values = Seq[Any](
      null, true, 0, -1, Int.MinValue, Long.MaxValue, 1.0, -0.0, 1e300,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      1.5f, Float.NaN, "", "q\"b\\s/\u0000\u001f\n\t😀é",
      Vector(1, "a", null), List(1L, 2.5), ArrayBuffer(1, ArrayBuffer("x")),
      ListMap("b" -> 1, "a" -> ListMap("c" -> Vector())),
      Map[Any, Any](1 -> "one", 2.5 -> "two", (null, "n"), true -> Vector()),
      scala.collection.mutable.LinkedHashMap("k" -> 1),
      ListMap("x" -> new Object), 'c', BigDecimal(1), Vector(Some(1)))
    values.foreach(checkValue)
  }
}
