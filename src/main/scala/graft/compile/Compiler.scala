package graft.compile

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dsl._
import graft.functions.Registry
import graft.model.PipelineSpec

/** Plan-time error (unknown model, field, key, type mismatch, model cycle).
  * Carries the reference's provenance format `failed @ Model.field: Op: msg`
  * (/root/reference/wrangle_pypes/pipeline.py:128-135) when raised from a
  * field build. */
class PlanException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

/** A column expression paired with its statically-derived data type.
  *
  * Spark only exposes a column's type after analysis against a concrete
  * plan; inside higher-order-function lambdas there is no plan to analyze
  * against, so the compiler threads types itself — a small type checker over
  * the Transform AST. This also lets `Get` dispatch struct/map/array/JSON
  * access at *plan time* (the reference dispatches per row,
  * transformations.py:94-108). */
final case class TypedCol(col: Column, dt: DataType)

/** Lowers Transform ASTs to single Catalyst Column trees.
  *
  * Everything the reference interprets row-at-a-time
  * (pipeline.py:114-129,138-166) happens here once, at plan-build time; the
  * emitted expressions are plain Spark built-ins / higher-order functions,
  * so Catalyst gets full visibility (pushdown, pruning, CSE, codegen).
  */
object Compiler {

  /** @param spec  full pipeline spec (for Create/CreateMultiple recursion)
    * @param stack models currently being compiled — cycle rejection
    *              (SURVEY.md §7.3: the reference would recurse forever) */
  final case class Ctx(spec: PipelineSpec, stack: List[String] = Nil)

  def compile(t: Transform, in: TypedCol, ctx: Ctx): TypedCol = t match {
    case Id => in

    case Constant(v) =>
      TypedCol(lit(v), litType(v))

    case ConstantCol(c, dt) => TypedCol(c, dt)

    case CastTo(dt) => TypedCol(in.col.cast(dt), dt)

    case Fn(name) =>
      val f = Registry.fn(name)
      TypedCol(f.fn(in.col), f.out(in.dt))

    case Default(v, cond) =>
      val p = compilePred(cond, in)
      TypedCol(when(p, in.col).otherwise(lit(v)), in.dt)

    case Get(key, default) => compileGet(key, default, in)

    case Attr(name) =>
      in.dt match {
        case st: StructType => structField(in, st, name)
        case other =>
          fail(s"Attr($name) needs a struct input, got ${other.simpleString}")
      }

    case FilterT(pred) =>
      in.dt match {
        case ArrayType(et, n) =>
          val out = filter(in.col, x => compilePred(pred, TypedCol(x, et)))
          TypedCol(out, ArrayType(et, n))
        case other => fail(s"Filter needs an array input, got ${other.simpleString}")
      }

    case MapT(inner) =>
      in.dt match {
        case ArrayType(et, _) =>
          // Element type probe first (against a throwaway column) so we know
          // the output element type; then the real lambda.
          val probe = compile(inner, TypedCol(lit(null).cast(et), et), ctx)
          val out = transform(in.col, x => compile(inner, TypedCol(x, et), ctx).col)
          TypedCol(out, ArrayType(probe.dt, containsNull = true))
        case other => fail(s"Map/ForEach needs an array input, got ${other.simpleString}")
      }

    case Flatten(depth) =>
      var cur = in
      (1 to depth).foreach { _ =>
        cur.dt match {
          case ArrayType(ArrayType(et, n), _) =>
            cur = TypedCol(flatten(cur.col), ArrayType(et, n))
          case other =>
            fail(s"Flatten: input is not a nested array: ${other.simpleString}")
        }
      }
      cur

    case Gather(keys) =>
      in.dt match {
        case st: StructType =>
          val cols = keys.map(k => structField(in, st, k).col.as(k))
          val fields = keys.map { k =>
            val f = st.fields(st.fieldIndex(k)); StructField(k, f.dataType, f.nullable)
          }
          TypedCol(struct(cols: _*), StructType(fields))
        case MapType(kt, vt, n) =>
          val keyArr = array(keys.map(k => lit(k).cast(kt)): _*)
          TypedCol(map_filter(in.col, (k, _) => array_contains(keyArr, k)),
            MapType(kt, vt, n))
        case other => fail(s"Gather needs struct/map input, got ${other.simpleString}")
      }

    case FoldInKeys(name) =>
      in.dt match {
        case MapType(kt, vst: StructType, _) =>
          val out = transform(map_entries(in.col), e => {
            val folded = e.getField("key").as(name) +:
              vst.fields.toSeq.map(f => e.getField("value").getField(f.name).as(f.name))
            struct(folded: _*)
          })
          val outSt = StructType(StructField(name, kt, nullable = false) +: vst.fields)
          TypedCol(out, ArrayType(outSt))
        case other =>
          fail(s"FoldInKeys needs MAP<K, STRUCT> input, got ${other.simpleString}")
      }

    case FoldInValue(key, name) =>
      in.dt match {
        case MapType(kt, vst: StructType, _) =>
          val pulled = element_at(in.col, lit(key).cast(kt))
          val rest = map_filter(in.col, (k, _) => k =!= lit(key).cast(kt))
          val out = transform_values(rest, (_, v) => {
            val folded = pulled.as(name) +:
              vst.fields.toSeq.map(f => v.getField(f.name).as(f.name))
            struct(folded: _*)
          })
          val outSt = StructType(StructField(name, vst, nullable = true) +: vst.fields)
          TypedCol(out, MapType(kt, outSt))
        case other =>
          fail(s"FoldInValue needs MAP<K, STRUCT> input, got ${other.simpleString}")
      }

    case GetKeys =>
      in.dt match {
        case MapType(kt, _, _) => TypedCol(map_keys(in.col), ArrayType(kt, containsNull = false))
        case st: StructType =>
          // Struct "keys" are schema-time constants.
          TypedCol(array(st.fieldNames.map(lit(_)).toSeq: _*),
            ArrayType(StringType, containsNull = false))
        case other => fail(s"GetKeys needs map/struct input, got ${other.simpleString}")
      }

    case GetValues =>
      in.dt match {
        case MapType(_, vt, n) => TypedCol(map_values(in.col), ArrayType(vt, n))
        case st: StructType if st.fields.map(_.dataType).distinct.length == 1 =>
          TypedCol(array(st.fieldNames.toSeq.map(f => in.col.getField(f)): _*),
            ArrayType(st.fields.head.dataType))
        case other => fail(s"GetValues needs map/uniform-struct input, got ${other.simpleString}")
      }

    case If(cond, thenT, elseT) =>
      val p = compilePred(cond, in)
      val thenC = compile(thenT, in, ctx)
      elseT match {
        case Some(e) =>
          val elseC = compile(e, in, ctx)
          TypedCol(when(p, thenC.col).otherwise(elseC.col), thenC.dt)
        case None =>
          // Missing else ⇒ NULL, exactly the reference's None branch
          // (transformations.py:219-222).
          TypedCol(when(p, thenC.col), thenC.dt)
      }

    case Create(model) => compileCreate(model, in, ctx)

    case CreateMultiple(model) =>
      in.dt match {
        case ArrayType(et, _) =>
          val probe = compileCreate(model, TypedCol(lit(null).cast(et), et), ctx)
          val out = transform(in.col, x => compileCreate(model, TypedCol(x, et), ctx).col)
          TypedCol(out, ArrayType(probe.dt))
        case other =>
          fail(s"CreateMultiple needs an array input, got ${other.simpleString}")
      }

    case Chain(ts) => ts.foldLeft(in)((acc, op) => compile(op, acc, ctx))
  }

  /** Compile one model to a struct column (Create / top-level wrangle). */
  def compileCreate(model: String, in: TypedCol, ctx: Ctx): TypedCol = {
    if (ctx.stack.contains(model))
      fail(s"cyclic model reference: ${(model :: ctx.stack).reverse.mkString(" -> ")}")
    val ms = ctx.spec(model)
    val childCtx = ctx.copy(stack = model :: ctx.stack)
    val fields = ms.fields.map { f =>
      val tc = compileField(model, f.name, f.t, in, childCtx)
      (f.name, tc)
    }
    val st = StructType(fields.map { case (n, tc) => StructField(n, tc.dt) })
    TypedCol(struct(fields.map { case (n, tc) => tc.col.as(n) }: _*), st)
  }

  /** Field build with the reference's error-provenance contract
    * (`failed @ Model.field: Op: msg`, pipeline.py:128-135) applied to
    * plan-time failures — the op named is the specific failing chain
    * node, not the whole chain. */
  def compileField(model: String, field: String, t: Transform, in: TypedCol,
                   ctx: Ctx): TypedCol =
    compileFieldPrefixes(model, field, t, in, ctx).last._2

  /** Cumulative prefix compilations of a field's top-level chain:
    * one `(opName, column after ops 1..i)` per node (a single entry for
    * non-chains). The last entry is exactly [[compileField]]'s result —
    * `scanLeft.last ≡ foldLeft` — and Permissive mode wraps EACH prefix
    * in a runtime guard so `_errors.op` can name the first failing node,
    * the reference's per-transformation provenance (pipeline.py:142-148).
    * Prefixes share subtrees, which projection-level codegen CSE
    * de-duplicates. */
  def compileFieldPrefixes(model: String, field: String, t: Transform,
                           in: TypedCol, ctx: Ctx): Seq[(String, TypedCol)] = {
    def step(op: Transform, acc: TypedCol): TypedCol =
      try compile(op, acc, ctx)
      catch {
        case e: PlanException if !e.getMessage.startsWith("failed @") =>
          throw new PlanException(
            s"failed @ $model.$field: ${opName(op)}: ${e.getMessage}", e)
      }
    t match {
      case Chain(ts) if ts.nonEmpty =>
        var acc = in
        ts.map { op => acc = step(op, acc); (opName(op), acc) }
      case other => Seq((opName(other), step(other, in)))
    }
  }

  // ------------------------------------------------------------------
  // Get: plan-time dispatch on the input type
  // ------------------------------------------------------------------
  private def compileGet(key: Any, default: Option[Any], in: TypedCol): TypedCol =
    in.dt match {
      case st: StructType =>
        key match {
          case s: String if st.fieldNames.contains(s) => structField(in, st, s)
          case s: String =>
            // KeyError at plan time: struct membership is static.
            default match {
              case Some(d) => TypedCol(lit(d), litType(d))
              case None    => fail(s"Get($s): no such field in ${st.simpleString}")
            }
          case other => fail(s"Get(${other}): struct keys must be strings")
        }

      case MapType(kt, vt, _) =>
        // With a default: tolerate the miss (reference catches KeyError,
        // transformations.py:102-108). Without: under ANSI mode Spark raises,
        // matching the reference's fail-fast re-raise.
        val k = lit(key).cast(kt)
        val out = default match {
          case Some(d) => coalesce(try_element_at(in.col, k), lit(d))
          case None    => element_at(in.col, k)
        }
        TypedCol(out, vt)

      case ArrayType(et, _) =>
        val i = key match {
          case n: Int  => n
          case n: Long => n.toInt
          case other   => fail(s"Get($other): array index must be an integer")
        }
        // Python 0-based (reference subscripts a Sequence,
        // transformations.py:99-100) vs Spark 1-based element_at; negative
        // indices count from the end in both.
        val idx = lit(if (i >= 0) i + 1 else i)
        val out = default match {
          case Some(d) => coalesce(try_element_at(in.col, idx), lit(d))
          case None    => element_at(in.col, idx)
        }
        TypedCol(out, et)

      case StringType =>
        // JSON-string payload (the fixtures' `events.props` shape).
        val base = get_json_object(in.col, s"$$.$key")
        val out = default match {
          case Some(d) => coalesce(base, lit(d).cast(StringType))
          case None    => base
        }
        TypedCol(out, StringType)

      case other =>
        fail(s"Get($key) unsupported on input type ${other.simpleString}")
    }

  private def structField(in: TypedCol, st: StructType, name: String): TypedCol = {
    if (!st.fieldNames.contains(name))
      fail(s"no field $name in ${st.simpleString}")
    val f = st.fields(st.fieldIndex(name))
    TypedCol(in.col.getField(name), f.dataType)
  }

  // ------------------------------------------------------------------
  // Predicates
  // ------------------------------------------------------------------
  def compilePred(p: Pred, in: TypedCol): Column = p match {
    case Truthy    => truthy(in)
    case IsNull    => in.col.isNull
    case IsNotNull => in.col.isNotNull
    case Cmp(op, v) =>
      val l = lit(v)
      op match {
        case "<"  => in.col < l
        case "<=" => in.col <= l
        case ">"  => in.col > l
        case ">=" => in.col >= l
        case "==" => in.col === l
        case "!=" => in.col =!= l
        case o    => fail(s"unknown comparison operator: $o")
      }
    case In(vs)      => in.col.isInCollection(vs)
    case PredFn(n)   => Registry.pred(n)(in.col, in.dt)
    case Not(x)      => !compilePred(x, in)
    case And(a, b)   => compilePred(a, in) && compilePred(b, in)
    case Or(a, b)    => compilePred(a, in) || compilePred(b, in)
  }

  /** Python truthiness per type (SURVEY.md §7.3): NULL, false, 0, "", empty
    * collection ⇒ false. NULL-safe: a NULL value is falsy, not NULL. */
  def truthy(in: TypedCol): Column = {
    val c = in.col
    val t = in.dt match {
      case BooleanType                  => c
      case _: NumericType               => c =!= lit(0)
      case StringType                   => length(c) > 0
      case _: ArrayType | _: MapType    => size(c) > 0
      case _                            => lit(true) // objects: truthy unless NULL
    }
    coalesce(t, lit(false))
  }

  private def litType(v: Any): DataType =
    org.apache.spark.sql.catalyst.expressions.Literal(v).dataType

  private def fail(msg: String): Nothing = throw new PlanException(msg)

  def opName(t: Transform): String = t match {
    case Chain(ts) if ts.nonEmpty => ts.map(opName).mkString("|")
    case other                    => other.getClass.getSimpleName.stripSuffix("$")
  }
}
