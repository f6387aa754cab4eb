package graft.expressions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column => exprCol, expression => colExpr}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.standards.{Codelist, Standards, TerminologyRegistry}

/**
 * One codelist's term index, as the CT expressions ship it to executors:
 * folded spelling (submission value or synonym) → canonical submission
 * value. `code` and `source` are its label in plan text; two indexes with
 * the same label hold the same terms, because `source` is either a
 * registry id (standard and CT publication) or the content digest of an
 * ad-hoc map.
 */
final class CtIndex private (val code: String, val source: String,
    entries: java.util.HashMap[String, UTF8String]) extends Serializable {

  /** `txt` semantics (null → "", SQL trim of spaces), then the CT fold. */
  private def key(v: UTF8String): String =
    if (v == null) "" else Codelist.fold(v.trim().toString)

  def member(v: UTF8String): Boolean = entries.containsKey(key(v))

  /** Canonical submission value, or null on a miss. */
  def lookup(v: UTF8String): UTF8String = entries.get(key(v))

  def isEmpty: Boolean = entries.isEmpty
}

object CtIndex {
  private val cache = TrieMap.empty[(String, String), CtIndex]

  /** The index of `code` in `registry` (empty when the registry does not
    * define the code), built once per (registry, code). */
  def apply(registry: TerminologyRegistry, code: String): CtIndex = {
    val c = Codelist.fold(code.trim)
    cache.getOrElseUpdate((registry.id, c), build(c, registry.id, registry.lookupMap(c)))
  }

  /** An index over an ad-hoc map whose keys are already-folded spellings,
    * labelled by a digest of its content. */
  def adHoc(lookup: Map[String, String]): CtIndex = {
    val md = MessageDigest.getInstance("SHA-256")
    lookup.toSeq.sorted.foreach { case (k, v) => md.update(s"$k\u0000$v\u0000".getBytes(UTF_8)) }
    build(md.digest().take(8).map("%02x".format(_)).mkString, "ad-hoc", lookup)
  }

  private def build(code: String, source: String, lookup: Map[String, String]): CtIndex = {
    val m = new java.util.HashMap[String, UTF8String](lookup.size * 2)
    lookup.foreach { case (k, v) => m.put(k, UTF8String.fromString(v)) }
    new CtIndex(code, source, m)
  }
}

/**
 * Shared shape of the CT expressions. The plan prints and compares only
 * `(child, code, source)`; the index rides as a non-printed copy argument
 * and reaches generated code as a reference object, so a 2,474-term
 * codelist costs plan rendering, analysis and AQE re-planning one short
 * string instead of an `InSet` of 2,474 literals.
 */
sealed trait CtExpression extends UnaryExpression with ImplicitCastInputTypes {
  def code: String
  def source: String
  def index: CtIndex

  // type inferred: AbstractDataType is not visible outside org.apache.spark.sql
  override def inputTypes = Seq(StringType)
  override protected def otherCopyArgs: Seq[AnyRef] = index :: Nil
  override def sql: String = s"$prettyName(${child.sql}, '$code', '$source')"
}

/** V8 — codelist membership (`graft_ct_member`): never null; a null or
  * blank input is a member only if the codelist holds a blank term. */
case class CtMember(child: Expression, code: String, source: String)(val index: CtIndex)
    extends CtExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_ct_member"

  override def eval(input: InternalRow): Any =
    index.member(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("ctIndex", index)
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |boolean ${ev.value} = $idx.member(${c.isNull} ? null : ${c.value});
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CtMember =
    copy(child = newChild)(index)
}

/** N8 — canonical submission value of a term or synonym
  * (`graft_ct_lookup`), null on a miss. */
case class CtLookup(child: Expression, code: String, source: String)(val index: CtIndex)
    extends CtExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ct_lookup"

  override def eval(input: InternalRow): Any =
    index.lookup(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("ctIndex", index)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |UTF8String ${ev.value} = $idx.lookup(${c.isNull} ? null : ${c.value});
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CtLookup =
    copy(child = newChild)(index)
}

object CtExpressions {

  def member(c: Column, index: CtIndex): Column =
    exprCol(CtMember(colExpr(c), index.code, index.source)(index))

  def lookup(c: Column, index: CtIndex): Column =
    exprCol(CtLookup(colExpr(c), index.code, index.source)(index))

  /** SQL arguments: the value, a codelist code and, optionally, a registry
    * id `standard@version` (default: the SDTM registry of the default CT
    * publication). */
  private def resolve(name: String, children: Seq[Expression]): (Expression, CtIndex) = {
    def literal(e: Expression): String = e match {
      case Literal(v: UTF8String, _: StringType) => v.toString
      case other => throw new IllegalArgumentException(
        s"$name expects a string literal, got ${other.sql}")
    }
    val registry = children.length match {
      case 2 => Standards.ctRegistry
      case 3 => literal(children(2)).split("@", 2) match {
        case Array(standard, version) => Standards.ct(standard, version)
        case _ => throw new IllegalArgumentException(
          s"$name expects a registry id standard@version, got '${literal(children(2))}'")
      }
      case n => throw new IllegalArgumentException(
        s"$name expects 2 or 3 arguments, got $n")
    }
    (children.head, CtIndex(registry, literal(children(1))))
  }

  /** (name, info, builder) triples for FunctionRegistry injection. */
  def registryEntries: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_ct_member",
      new ExpressionInfo(classOf[CtMember].getName, "graft_ct_member"),
      { children: Seq[Expression] =>
        val (v, index) = resolve("graft_ct_member", children)
        CtMember(v, index.code, index.source)(index)
      }),
    ("graft_ct_lookup",
      new ExpressionInfo(classOf[CtLookup].getName, "graft_ct_lookup"),
      { children: Seq[Expression] =>
        val (v, index) = resolve("graft_ct_lookup", children)
        CtLookup(v, index.code, index.source)(index)
      }))
}
