package mallispark.ir

import SchemaIR._

/** malli rules shared by the Column tier (`SchemaCompiler`) and the row
  * tier (`RowEval`): one copy of each, so the two tiers cannot drift. */
object Semantics {

  /** Error type of a failing leaf (malli's explain `:type`). */
  def leafKey(l: Leaf): String = l match {
    case SNil => ":nil"
    case SSome => ":some"
    case _: SString => ":string"
    case _: SInt => ":int"
    case _: SDouble => ":double"
    case SBoolean => ":boolean"
    case SBinary => ":bytes"
    case SUuid => ":uuid"
    case SIdent(kind, _) => s":$kind"
    case _: STimestamp => ":time/instant"
    case _: SDate => ":time/local-date"
    case STime(kind, _, _) => s":time/$kind"
    case _: SEnum => ":enum"
    case _: SRegex => ":re"
    case SCompare(op, _) => s":$op"
    case SFn(name, _) => s":fn/$name"
    case SCustom(name, _, _) => name
  }

  /** Error type of a schema failing as a whole: its leaf key through any
    * props, `:validate/<name>`, else the schema's form. */
  def errorKey(ir: SchemaIR): String = ir match {
    case SProps(_, c) => errorKey(c)
    case l: Leaf => leafKey(l)
    case SValidate(n, _) => s":validate/$n"
    case other => SchemaIR.form(other)
  }

  /** malli's :every bounded-check window: max(min, max+1, limit)
    * (core.cljc:745-751). */
  def everyLimit(mn: Option[Int], mx: Option[Int], limit: Int): Int =
    Seq(Some(limit), mn, mx.map(_ + 1)).flatten.max

  /** Does the schema accept a null VALUE (vs null meaning missing-key)? */
  def acceptsNull(ir: SchemaIR, reg: Registry,
                  seen: Set[(String, SchemaIR)] = Set.empty): Boolean =
    ir match {
      case SAny | SNil | _: SMaybe => true
      // nil is a seqable VALUE (seqs empty) — a physical null under these
      // reads as present-nil, never missing-key; the child itself reports
      // ::limits when a :min bound needs size
      case _: SSeqable | _: SEvery => true
      case SOr(cs) => cs.exists(acceptsNull(_, reg, seen))
      case SOrn(bs) => bs.exists(b => acceptsNull(b._2, reg, seen))
      case SAnd(cs) => cs.forall(acceptsNull(_, reg, seen))
      case SAndn(bs) => bs.forall(b => acceptsNull(b._2, reg, seen))
      // props/scopes never change nullability — peel
      case SProps(_, c) => acceptsNull(c, reg, seen)
      case SScoped(local, c, _) => acceptsNull(c, reg.scoped(local), seen)
      // a ref derefs (a [:ref ...→ :maybe] under a required key accepts a
      // present-nil); cycle-guarded on the RESOLVED (name, target) like
      // simpleParser, so shadowed same-name refs are not false cycles
      case SRef(n) => reg.schemas.get(n).exists(t =>
        !seen((n, t)) && acceptsNull(t, reg, seen + ((n, t))))
      case _ => false
    }
}
