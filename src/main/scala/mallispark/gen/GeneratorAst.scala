package mallispark.gen

import mallispark.ir.SchemaIR
import mallispark.ir.SchemaIR._
import mallispark.ir.Destructure.{Edn, Kw, VMap}

/** `malli.generator-ast` analogue (reference:
  * test/malli/generator_ast.clj `generator-ast`, fixtures
  * generator_ast_test.clj): render the generator a schema would use AS
  * DATA — an EDN op-tree — for inspection and golden-testing.
  *
  * The reference builds its AST by re-evaluating malli.generator against
  * a mock test.check; here the tree mirrors [[Generate.gen]]'s dispatch
  * 1:1 (same property precedence, same branch structure, same collection
  * bounds), so the AST is an honest description of the Column generator
  * actually built — not of test.check. Op names follow the reference
  * where semantics coincide (`:return`/`:elements`/`:fmap`/`:one-of`/
  * `:tuple`/`:vector`/`:boolean`/`:recursive-gen`/`:recur`).
  *
  * Refs render the reference's folded `:recursive-gen` shape: `:rec-gen`
  * is one body expansion with `{:op :recur :target ..}` at re-entries,
  * `:scalar-gen` the TERMINATED spine ([[Generate.terminate]]'s pruning —
  * ref-free branches preferred, optional recursive entries dropped,
  * zero-min collections emptied; this differs from the reference's
  * mock-gen scalars, which park `:return ()` inside the recursive
  * branches instead), and `:max-depth` the engine's actual unroll bound
  * ([[Generate.RefDepth]]). */
object GeneratorAst {

  def generatorAst(ir: SchemaIR, reg: Registry = Registry.empty): String =
    Edn.print(ast(ir, reg, Map.empty))

  private def op(kind: String, kvs: (String, Any)*): VMap =
    VMap(((Kw("op"): Any) -> (Kw(kind): Any)) +:
      kvs.toVector.map { case (k, v) => (Kw(k): Any) -> v })

  /** Literal property/enum values into the EDN universe: keyword strings
    * (leading colon, the SchemaIR convention) print as keywords. */
  private def ednVal(v: Any): Any = v match {
    case s: String if s.startsWith(":") => Kw(s.drop(1))
    case xs: Seq[_] => xs.toVector.map(ednVal)
    case m: Map[_, _] => VMap(m.asInstanceOf[Map[String, Any]]
      .toVector.sortBy(_._1)
      .map { case (k, x) => (ednVal(if (k.startsWith(":")) k else ":" + k),
        ednVal(x)) })
    case other => other
  }

  private def numKvs(loK: String, lo: Option[Any],
                     hiK: String, hi: Option[Any]): Vector[(String, Any)] =
    (lo.map(loK -> _) ++ hi.map(hiK -> _)).toVector

  private def collOp(c: SchemaIR, mn: Option[Int], mx: Option[Int],
                     reg: Registry, active: Map[String, String]): VMap =
    op("vector", (Seq[(String, Any)]("generator" -> ast(c, reg, active)) ++
      numKvs("min-elements", mn.map(_.toLong),
        "max-elements", mx.map(_.toLong))): _*)

  /** `active` maps in-flight ref names to their `:recur` targets. */
  private def ast(ir: SchemaIR, reg: Registry,
                  active: Map[String, String]): Any = ir match {
    // :gen/* precedence mirrors Generate.gen's SProps branch
    // (generator.cljc:455-476): return > elements > schema > child
    case SProps(p, c) =>
      val base: Any =
        if (p.genReturn.isDefined) op("return", "value" -> ednVal(p.genReturn.get))
        else p.genElements match {
          case Some(Seq(one)) => op("return", "value" -> ednVal(one))
          case Some(vs) => op("elements", "values" -> vs.toVector.map(ednVal))
          case None => p.genSchema match {
            case Some(s) => ast(s, reg, active)
            case None =>
              val b = ast(Generate.withGenBounds(c, p), reg, active)
              if ((p.genInfinite || p.genNaN) && b.isInstanceOf[VMap])
                VMap(b.asInstanceOf[VMap].pairs ++
                  (if (p.genInfinite) Vector((Kw("infinite?"): Any) -> (true: Any)) else Vector.empty) ++
                  (if (p.genNaN) Vector((Kw("NaN?"): Any) -> (true: Any)) else Vector.empty))
              else b
          }
        }
      p.genFmap match {
        case Some(src) => op("fmap", "f" -> src, "generator" -> base)
        case None => base
      }
    case SAny => op("string", "min" -> 1L, "max" -> 12L)
    case SString(mn, mx) =>
      op("string", "min" -> mn.getOrElse(0).toLong,
        "max" -> mx.getOrElse(mn.getOrElse(0) + 12).toLong)
    case SNil => op("return", "value" -> null)
    case SSome => op("string", "min" -> 1L, "max" -> 8L)
    case SInt(mn, mx) =>
      op("large-integer",
        (numKvs("min", mn, "max", mx)): _*)
    case SDouble(mn, mx) =>
      op("double", (numKvs("min", mn, "max", mx)): _*)
    case SBoolean => op("boolean")
    case SBinary => op("bytes")
    case SUuid => op("uuid")
    case SIdent(kind, ns) =>
      op(kind, (ns.map(n => "namespace" -> (Kw(n): Any))).toVector: _*)
    case STimestamp(mn, mx) =>
      op("instant", (numKvs("min", mn.map(_.toString),
        "max", mx.map(_.toString))): _*)
    case SDate(mn, mx) =>
      op("date", (numKvs("min", mn, "max", mx)): _*)
    case STime(kind, mn, mx) =>
      op("time/" + kind, (numKvs("min", mn, "max", mx)): _*)
    case SEnum(Seq(one)) => op("return", "value" -> ednVal(one))
    case SEnum(vs) => op("elements", "values" -> vs.toVector.map(ednVal))
    case SRegex(p) => op("regex", "pattern" -> p)
    case SCompare(cop, v) => cop match {
      case "=" => op("return", "value" -> ednVal(v))
      case other => op("compare", "pred" -> (Kw(other): Any),
        "value" -> ednVal(v))
    }
    case SMaybe(c) =>
      // one-of [nil, child] — the reference's -maybe-gen shape
      op("one-of", "generators" -> Vector(
        op("return", "value" -> null), ast(c, reg, active)))
    case SAnd(cs) => ast(cs.head, reg, active) // first child governs
    case SOr(cs) =>
      op("one-of", "generators" -> cs.toVector.map(ast(_, reg, active)))
    case SOrn(bs) => ast(SOr(bs.map(_._2)), reg, active)
    case SAndn(bs) => ast(SAnd(bs.map(_._2)), reg, active)
    case SMap(entries, _, _) =>
      op("map", "entries" -> VMap(entries.toVector.map { e =>
        val v = ast(e.child, reg, active)
        (Kw(e.key): Any) ->
          (if (e.optional)
            op("one-of", "generators" -> Vector(
              op("return", "value" -> null), v))
          else v)
      }))
    case SMapOf(k, v, mn, mx) =>
      op("map-of", (Seq[(String, Any)](
        "key" -> ast(k, reg, active), "value" -> ast(v, reg, active)) ++
        numKvs("min-elements", mn.map(_.toLong),
          "max-elements", mx.map(_.toLong))): _*)
    case SVector(c, mn, mx) => collOp(c, mn, mx, reg, active)
    case SSeqable(c, mn, mx) => collOp(c, mn, mx, reg, active)
    case SEvery(c, mn, mx, _) => collOp(c, mn, mx, reg, active)
    case SSet(c, mn, mx) =>
      op("set", (Seq[(String, Any)]("generator" -> ast(c, reg, active)) ++
        numKvs("min-elements", mn.map(_.toLong),
          "max-elements", mx.map(_.toLong))): _*)
    case STuple(cs) =>
      op("tuple", "generators" -> cs.toVector.map(ast(_, reg, active)))
    case SMulti(_, bs, _) =>
      op("one-of", "generators" -> bs.toVector.map(b => ast(b._2, reg, active)))
    case SCat(cs) =>
      op("tuple", "generators" -> cs.toVector.map(ast(_, reg, active)))
    case SCatn(es) => ast(SCat(es.map(_._2)), reg, active)
    case SStar(c) => collOp(c, None, Some(8), reg, active)
    case SPlus(c) => collOp(c, Some(1), Some(8), reg, active)
    case SOpt(c) => collOp(c, None, Some(1), reg, active)
    case SRepeat(c, mn, mx) => collOp(c, Some(mn), Some(mx), reg, active)
    case SAlt(cs) => ast(SOr(cs), reg, active)
    case SAltn(es) => ast(SOr(es.map(_._2)), reg, active)
    case SScoped(local, c, _) =>
      ast(c, reg.scoped(local), active)
    case SRef(name) => active.get(name) match {
      case Some(target) => op("recur", "target" -> (Kw(target): Any))
      case None =>
        val target = s"recur${active.size}"
        op("recursive-gen",
          "target" -> (Kw(target): Any),
          "max-depth" -> Generate.RefDepth.toLong,
          "rec-gen" -> ast(reg(name), reg, active + (name -> target)),
          "scalar-gen" -> ast(Generate.terminate(reg(name), reg), reg, active))
    }
    case other => throw new IllegalArgumentException(
      s"cannot build a generator AST for ${SchemaIR.form(other)} " +
        "(needs a custom generator)")
  }
}
