package graft.engine

import scala.collection.immutable.ListMap

/** Variable-mutation semantics (reference: Mutation.java). All pure:
  * `apply` computes the new value of a variable from (lhs, rhs, op,
  * declared type); callers do the two-phase dry-run/commit themselves by
  * computing all new values before writing any (E13).
  *
  * Faithful quirks, preserved on purpose:
  *  - result is coerced back to the declared type with permissive
  *    string→number / string→bool / JSON-string→container parsing, and
  *    a failed parse is an ERROR (thread failure), not a null
  *    (Mutation.coerceBackToType, Mutation.java:108-199);
  *  - INT division/multiplication/subtraction go through double then
  *    truncate toward zero (`Double.intValue`, Mutation.java:253-279);
  *  - DIVIDE by zero is an error (Mutation.java:257-259);
  *  - ADD on BOOLEAN/OBJECT is an error (Mutation.java:202-210);
  *  - null coerced to STRING is "" (Mutation.java:147-151).
  */
/** A Java-style runtime cast/parse failure (ClassCastException /
  * NumberFormatException in the reference). Distinct from [[VarSubError]]
  * because the reference wraps these with the mutated variable's name
  * (Mutation.execute, Mutation.java:40-54) while explicit
  * VarSubOrzDash'es pass through unwrapped. */
final class LHCastError(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

object Mutations {

  object Op {
    val ASSIGN = "ASSIGN"; val ADD = "ADD"; val EXTEND = "EXTEND"
    val SUBTRACT = "SUBTRACT"; val MULTIPLY = "MULTIPLY"; val DIVIDE = "DIVIDE"
    val REMOVE_IF_PRESENT = "REMOVE_IF_PRESENT"
    val REMOVE_INDEX = "REMOVE_INDEX"; val REMOVE_KEY = "REMOVE_KEY"
  }

  def toInt(o: Any): Int = o match {
    case d: Double => d.toInt
    case s: String =>
      try Integer.valueOf(s).intValue()
      catch {
        case e: NumberFormatException =>
          throw new LHCastError(s"""For input string: "$s"""", e)
      }
    case i: Int => i
    case other =>
      throw new LHCastError(s"Cannot cast ${typeName(other)} to Integer")
  }

  def toDouble(o: Any): Double = o match {
    case d: Double => d
    case s: String =>
      try java.lang.Double.valueOf(s).doubleValue()
      catch {
        case e: NumberFormatException =>
          throw new LHCastError(s"""For input string: "$s"""", e)
      }
    case i: Int => i.toDouble
    case other =>
      throw new LHCastError(s"Cannot cast ${typeName(other)} to Double")
  }

  def toBool(o: Any): Boolean = o match {
    case b: Boolean => b
    // Java Boolean.valueOf: anything not "true" (case-insensitive) is false
    case s: String => java.lang.Boolean.valueOf(s).booleanValue()
    case other =>
      throw new LHCastError(s"Cannot cast ${typeName(other)} to Boolean")
  }

  def toStr(o: Any): String = o match {
    case null => ""
    case s: String => s
    case other => LHJson.objToString(other)
  }

  def toArray(o: Any): Vector[Any] = o match {
    case xs: Vector[_] => xs.toVector
    case s: String =>
      try LHJson.parse(s) match {
        case xs: Vector[_] => xs.toVector
        case _ => throw new VarSubError("Failed to convert string to list!")
      }
      catch {
        case v: VarSubError => throw v
        case e: Exception =>
          throw new VarSubError("Failed to convert string to list!", e)
      }
    case other =>
      throw new LHCastError(s"Cannot cast ${typeName(other)} to List")
  }

  def toMap(o: Any): ListMap[String, Any] = o match {
    case m: ListMap[_, _] => m.asInstanceOf[ListMap[String, Any]]
    case s: String =>
      try LHJson.parse(s) match {
        case m: ListMap[_, _] => m.asInstanceOf[ListMap[String, Any]]
        case _ => throw new VarSubError("Failed to convert string to map!")
      }
      catch {
        case v: VarSubError => throw v
        case e: Exception =>
          throw new VarSubError("Failed to convert string to map!", e)
      }
    case other =>
      throw new LHCastError(s"Cannot cast ${typeName(other)} to Map")
  }

  def coerceBackToType(o: Any, varType: String): Any =
    if (o == null) null
    else varType match {
      case VarType.INT => toInt(o)
      case VarType.FLOAT => toDouble(o)
      case VarType.BOOLEAN => toBool(o)
      case VarType.STRING => toStr(o)
      case VarType.ARRAY => toArray(o)
      case VarType.OBJECT => toMap(o)
      case other => throw new VarSubError(s"Impossible var type $other")
    }

  /** Compute the mutated value. Throws VarSubError on any type error —
    * reference `Mutation.execute` (Mutation.java:40-105). */
  def apply(lhs: Any, rhs: Any, op: String, varType: String): Any = {
    val raw = op match {
      case Op.ASSIGN => rhs
      case Op.ADD => handleAdd(lhs, rhs, varType)
      case Op.EXTEND => handleExtend(lhs, rhs, varType)
      case Op.SUBTRACT => numeric(lhs, rhs, varType)(_ - _)
      case Op.MULTIPLY => numeric(lhs, rhs, varType)(_ * _)
      case Op.DIVIDE =>
        val r = toDouble(rhs)
        if (r == 0.0) throw new VarSubError("tried to DIVIDE by zero!")
        numeric(lhs, rhs, varType)(_ / _)
      case Op.REMOVE_IF_PRESENT =>
        asList(lhs).filterNot(x => eq(x, rhs))
      case Op.REMOVE_INDEX =>
        // The reference's handleRemoveIndex (Mutation.java:295-300) calls
        // Java's `List.remove(Object)` overload because rhs is typed
        // Object — so despite the name, this removes the FIRST ELEMENT
        // EQUAL to rhs, and is a silent no-op when absent. The harness's
        // var_mutations case 1 ("remove_idx(2)" leaving [[1,2,3]]
        // untouched) depends on exactly this behavior.
        val xs = asList(lhs)
        val i = xs.indexWhere(x => eq(x, rhs))
        if (i < 0) xs else xs.patch(i, Nil, 1)
      case Op.REMOVE_KEY =>
        // Java `map.remove(rhs)` with strict key equality: JSON object
        // keys are strings, so a numeric rhs is a silent no-op
        // (Mutation.java:288-293) — preserved.
        asMap(lhs).filterNot { case (k, _) => eq(k, rhs) }
      case other =>
        throw new VarSubError(s"Got an invalid variable mutation operation: $other")
    }
    if (raw == null) null else coerceBackToType(raw, varType)
  }

  private def handleAdd(lhs: Any, rhs: Any, varType: String): Any =
    varType match {
      case VarType.BOOLEAN | VarType.OBJECT =>
        throw new VarSubError(
          "had an invalid wfspec. Tried to add a boolean or object.")
      case VarType.INT => toInt(rhs) + toInt(lhs)
      case VarType.STRING => toStr(lhs) + toStr(rhs)
      case VarType.ARRAY => asList(lhs) :+ rhs
      case _ => toDouble(lhs) + toDouble(rhs) // FLOAT
    }

  private def handleExtend(lhs: Any, rhs: Any, varType: String): Any = {
    if (varType != VarType.ARRAY || !rhs.isInstanceOf[Vector[_]])
      throw new VarSubError("Can only EXTEND two array's.")
    asList(lhs) ++ rhs.asInstanceOf[Vector[Any]]
  }

  /** double arithmetic, truncated toward zero when the declared type is
    * INT (reference Double.intValue, Mutation.java:253-279). */
  private def numeric(lhs: Any, rhs: Any, varType: String)(
      f: (Double, Double) => Double): Any = {
    val out = f(toDouble(lhs), toDouble(rhs))
    if (varType == VarType.FLOAT) out else out.toInt
  }

  private def asList(v: Any): Vector[Any] = v match {
    case xs: Vector[_] => xs.toVector
    case other => throw new VarSubError(s"Expected list, got ${typeName(other)}")
  }

  private def asMap(v: Any): ListMap[String, Any] = v match {
    case m: ListMap[_, _] => m.asInstanceOf[ListMap[String, Any]]
    case other => throw new VarSubError(s"Expected map, got ${typeName(other)}")
  }

  /** Strict Java-`Object.equals` semantics — NOT Scala `==`, whose
    * cooperative numeric equality would make 1 == 1.0 true. */
  @scala.annotation.nowarn("msg=cooperative equality")
  def eq(a: Any, b: Any): Boolean =
    if (a == null) b == null
    else a.equals(b)

  /** Reference `Mutation.compare` (Mutation.java:334-344): raw
    * Comparable.compareTo; cross-type comparison is an ERROR (failed
    * thread), never a silent coercion. */
  def compare(left: Any, right: Any): Int = (left, right) match {
    case (a: Int, b: Int) => java.lang.Integer.compare(a, b)
    case (a: Long, b: Long) => java.lang.Long.compare(a, b)
    // NO Int↔Long bridge: the reference's Integer.compareTo((Comparable)
    // Long) throws ClassCastException → VarSubOrzDash, and LHJson decodes
    // >2^31 JSON integers as Long, so comparing a large parsed value
    // against an Int literal must FAIL the thread, not silently coerce.
    case (a: Double, b: Double) => java.lang.Double.compare(a, b)
    case (a: String, b: String) => a.compareTo(b)
    case (a: Boolean, b: Boolean) => java.lang.Boolean.compare(a, b)
    case (a, b) =>
      throw new VarSubError(
        s"Failed comparing the provided values: ${typeName(a)} vs ${typeName(b)}")
  }

  /** Reference `Mutation.contains` (Mutation.java:313-332): haystack
    * must be a collection; null haystack is an error. */
  @scala.annotation.nowarn("msg=cooperative equality")
  def contains(haystack: Any, needle: Any): Boolean = haystack match {
    case xs: Vector[_] =>
      // in-order scan; a null element NPEs in the reference's
      // `thing.equals(right)` loop → VarSubOrzDash, unless a match was
      // already found earlier in the list (Mutation.java:314-330)
      xs.exists { x =>
        if (x == null)
          throw new VarSubError(
            "Failed determing whether the left contains the right " +
              "(null element in haystack)")
        x.equals(needle)
      }
    case _: ListMap[_, _] =>
      // Java `Collection` cast of a Map fails in the reference; maps are
      // not valid haystacks there either.
      throw new VarSubError(
        "Failed determing whether the left contains the right (map haystack)")
    case _ =>
      throw new VarSubError(
        "Failed determing whether the left contains the right: " +
          LHJson.objToString(haystack))
  }

  private def typeName(v: Any): String =
    if (v == null) "null" else v.getClass.getSimpleName
}
