package mallispark.eval

import mallispark.ir.{MiniEval, SchemaIR}
import mallispark.ir.SchemaIR._
import mallispark.ir.SchemaIR.Registry
import mallispark.compile.Transform.{Mode, StringMode, JsonMode}

/** Value-universe decode/encode — `m/decode`/`m/encode` over in-memory
  * values, the tier-3 dual of the Column-level
  * [[mallispark.compile.Transform]] (reference transform.cljc; seqex
  * fixtures transform_test.cljc:339-434).
  *
  * This layer carries the parts a static column type cannot express:
  *  - a failed coercion keeps the ORIGINAL value (the reference's
  *    `-safe` semantics; columns must go null instead),
  *  - heterogeneous `:or` (first branch whose DECODED value validates),
  *  - seq-regex decode: the structurally-decoded candidate replaces the
  *    input only when it VALIDATES against the schema — otherwise the
  *    input returns untouched (`[:repeat {:min 2} :int]` over ["1"]
  *    stays ["1"]); encode gates on the INPUT validating instead.
  *
  * Schema-hinted `:decode/<mode>` / `:encode/<mode>` props run through
  * the full row-level MiniEval here (not just the Column-expressible
  * subset). */
object ValueTransform {

  private def modeName(mode: Mode): String = mode match {
    case StringMode => "string"
    case JsonMode => "json"
  }

  private def hintFor(hints: Seq[(String, THint)], mode: Mode)
      : Option[THint] =
    hints.collectFirst { case (n, h) if n == modeName(mode) => h }

  private def apply1(src: String, v: Any): Any =
    MiniEval.compileFmap(src)(Seq(v))

  /** The schema a repeated element decodes through: star-like wrappers
    * splice, so `[:repeat [:* :int]]` decodes elements as `:int`. */
  private def innermost(c: SchemaIR): SchemaIR = c match {
    case SStar(x) => innermost(x)
    case SPlus(x) => innermost(x)
    case SOpt(x) => innermost(x)
    case SRepeat(x, _, _) => innermost(x)
    case other => other
  }

  /** Decoded-candidate gate: sequences re-shape only when the candidate
    * validates; everything else (including non-seq inputs) stays. */
  private def gated(ir: SchemaIR, v: Any)(f: Seq[Any] => Seq[Any])(
      implicit reg: Registry, depth: Int): Any =
    v match {
      case xs: Seq[_] =>
        val cand = f(xs.asInstanceOf[Seq[Any]])
        if (RowEval.validate(ir, cand)) cand else v
      case _ => v
    }

  def decode(ir: SchemaIR, v: Any, mode: Mode)(
      implicit reg: Registry = Registry.empty, depth: Int = 8): Any =
    ir match {
    // registry refs deref like RowEval: depth-bounded, scoped registries
    // layer over the ambient one (recursive-coercer semantics)
    case SRef(name) =>
      if (depth <= 0) v else decode(reg(name), v, mode)(reg, depth - 1)
    case SScoped(local, c, _) =>
      decode(c, v, mode)(reg.scoped(local), depth)
    case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
      decode(mallispark.ir.SchemaOps.expand(alg, reg), v, mode)
    case SProps(p, c) =>
      hintFor(p.decodeHints, mode) match {
        case None => decode(c, v, mode)
        case Some(h) =>
          val v1 = h.enter.map(apply1(_, v)).getOrElse(v)
          val v2 = decode(c, v1, mode)
          h.leave.map(apply1(_, v2)).getOrElse(v2)
      }
    case SMaybe(c) => if (v == null) null else decode(c, v, mode)
    case SAnd(cs) if cs.nonEmpty =>
      cs.foldLeft(v)((a, c) => decode(c, a, mode))
    case SOr(cs) if cs.nonEmpty =>
      cs.iterator.map(c => (c, decode(c, v, mode)))
        .collectFirst { case (c, d) if RowEval.validate(c, d) => d }
        .getOrElse(v)
    case SAndn(bs) if bs.nonEmpty => decode(SAnd(bs.map(_._2)), v, mode)
    case SOrn(bs) if bs.nonEmpty => decode(SOr(bs.map(_._2)), v, mode)
    case _: SInt => v match {
      case s: String if mode == StringMode =>
        try s.toLong catch { case _: NumberFormatException => v }
      case i: Int => i.toLong
      case b: Byte => b.toLong
      case sh: Short => sh.toLong
      // -number->long: exact integrals only (transform.cljc:99-103)
      case d: Double if d.isWhole => d.toLong
      case f: Float if f.isWhole => f.toLong
      case _ => v
    }
    case _: SDouble => v match {
      case s: String if mode == StringMode =>
        try s.toDouble catch { case _: NumberFormatException => v }
      case n: Long => n.toDouble
      case i: Int => i.toDouble
      case f: Float => f.toDouble
      case _ => v
    }
    case SBoolean => v match {
      case "true" if mode == StringMode => true
      case "false" if mode == StringMode => false
      case _ => v
    }
    case SIdent(kind, _) if kind.endsWith("keyword") => v match {
      // both bundles decode keywords (json carries them as plain strings)
      case s: String => if (s.startsWith(":")) s else ":" + s
      case _ => v
    }
    // :enum/:= decode via inferred child type (transform.cljc:236-248)
    case SEnum(vs) =>
      SchemaIR.inferLeaf(vs).map(decode(_, v, mode)).getOrElse(v)
    case SCompare("=", value) =>
      SchemaIR.inferLeaf(Seq(value)).map(decode(_, v, mode)).getOrElse(v)
    case _: STimestamp => v match {
      case s: String =>
        try java.time.Instant.parse(s)
        catch {
          case _: java.time.format.DateTimeParseException =>
            try java.time.OffsetDateTime.parse(s).toInstant
            catch { case _: java.time.format.DateTimeParseException => v }
        }
      case _ => v
    }
    case _: SDate => v match {
      case s: String =>
        try java.time.LocalDate.parse(s)
        catch { case _: java.time.format.DateTimeParseException => v }
      case _ => v
    }
    case STime(kind, _, _) => v match {
      case s: String =>
        try kind match {
          case "duration" => java.time.Duration.parse(s)
          case "period" => java.time.Period.parse(s)
          case "local-date-time" => java.time.LocalDateTime.parse(s)
          case "local-time" => java.time.LocalTime.parse(s)
          case "offset-time" => java.time.OffsetTime.parse(s)
          case "offset-date-time" => java.time.OffsetDateTime.parse(s)
          case "zoned-date-time" => java.time.ZonedDateTime.parse(s)
          case _ => v
        } catch { case _: java.time.DateTimeException => v }
      case _ => v
    }
    case SVector(c, _, _) => v match {
      case xs: Seq[_] => xs.map(x => decode(c, x, mode))
      case _ => v
    }
    case SSeqable(c, _, _) => v match {
      case xs: Seq[_] => xs.map(x => decode(c, x, mode))
      case _ => v
    }
    case SSet(c, _, _) => v match {
      case xs: Seq[_] => xs.map(x => decode(c, x, mode)).distinct
      case _ => v
    }
    case STuple(cs) => v match {
      case xs: Seq[_] if xs.size == cs.size =>
        cs.zip(xs).map { case (c, x) => decode(c, x, mode) }
      case _ => v
    }
    case SMap(es, _, _) => v match {
      case m: scala.collection.Map[_, _] =>
        val mm = m.asInstanceOf[scala.collection.Map[Any, Any]]
        val byKey = es.map(e => e.key -> e).toMap
        mm.map { case (k, mv) =>
          byKey.get(String.valueOf(k)) match {
            case Some(e) => k -> decode(e.child, mv, mode)
            case None => k -> mv
          }
        }
      case _ => v
    }
    case SMapOf(k, vv, _, _) => v match {
      case m: scala.collection.Map[_, _] =>
        m.asInstanceOf[scala.collection.Map[Any, Any]]
          .map { case (mk, mv) => decode(k, mk, mode) -> decode(vv, mv, mode) }
      case _ => v
    }
    // :multi decodes through the DISPATCHED branch (tagged unions —
    // transform_test.cljc:664-685 multi decode); dispatch normalization
    // mirrors RowEval's (null dispatch → default branch)
    case SMulti(dk, bs, default) => v match {
      case m: scala.collection.Map[_, _] =>
        val mm = m.asInstanceOf[scala.collection.Map[Any, Any]]
        val dv = mm.collectFirst {
          case (k, x) if String.valueOf(k) == dk && x != null =>
            String.valueOf(x)
        }.orNull
        bs.find(_._1 == dv).map(_._2).orElse(default)
          .map(decode(_, v, mode)).getOrElse(v)
      case _ => v
    }
    // seq-regexes: structurally decode, keep only a VALIDATING candidate
    case SStar(c) => gated(ir, v)(_.map(decode(innermost(c), _, mode)))
    case SPlus(c) => gated(ir, v)(_.map(decode(innermost(c), _, mode)))
    case SOpt(c) => gated(ir, v)(_.map(decode(innermost(c), _, mode)))
    case SRepeat(c, _, _) =>
      gated(ir, v)(_.map(decode(innermost(c), _, mode)))
    case SCat(cs) => gated(ir, v) { xs =>
      if (xs.size == cs.size)
        cs.zip(xs).map { case (c, x) => decode(innermost(c), x, mode) }
      else xs
    }
    case SCatn(es) => decode(SCat(es.map(_._2)), v, mode)
    // standalone :alt behaves like :or over the VALUE — the engine's
    // bounded-form deviation (RowEval.validate, SURVEY §2.9); first
    // branch whose DECODED value validates wins
    case SAlt(cs) =>
      cs.iterator.map(c => (c, decode(c, v, mode)))
        .collectFirst { case (c, d) if RowEval.validate(c, d) => d }
        .getOrElse(v)
    case SAltn(es) => decode(SAlt(es.map(_._2)), v, mode)
    case _ => v
  }

  /** `m/coerce` at value level (core.cljc:2750-2774): decode, then
    * validate — Right(decoded) on success, Left(errors) otherwise (the
    * exception-throwing reference arity maps to the Left). */
  def coerce(ir: SchemaIR, v: Any, mode: Mode)(
      implicit reg: Registry = Registry.empty, depth: Int = 8)
      : Either[Seq[RowEval.Err], Any] = {
    val d = decode(ir, v, mode)
    if (RowEval.validate(ir, d)) Right(d)
    else Left(RowEval.explain(ir, d))
  }

  /** Encode — the string-transformer direction. Seq-regexes and tuples
    * gate on the INPUT validating (an un-parsable value stays). */
  def encode(ir: SchemaIR, v: Any, mode: Mode = StringMode)(
      implicit reg: Registry = Registry.empty, depth: Int = 8): Any =
    ir match {
      case SRef(name) =>
        if (depth <= 0) v else encode(reg(name), v, mode)(reg, depth - 1)
      case SScoped(local, c, _) =>
        encode(c, v, mode)(reg.scoped(local), depth)
      case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
        encode(mallispark.ir.SchemaOps.expand(alg, reg), v, mode)
      case SProps(p, c) =>
        hintFor(p.encodeHints, mode) match {
          case None => encode(c, v, mode)
          case Some(h) =>
            val v1 = h.enter.map(apply1(_, v)).getOrElse(v)
            val v2 = encode(c, v1, mode)
            h.leave.map(apply1(_, v2)).getOrElse(v2)
        }
      case SMaybe(c) => if (v == null) null else encode(c, v, mode)
      case SAnd(cs) if cs.nonEmpty =>
        cs.foldLeft(v)((a, c) => encode(c, a, mode))
      case SAndn(bs) if bs.nonEmpty => encode(SAnd(bs.map(_._2)), v, mode)
      case SOrn(bs) if bs.nonEmpty => encode(SOr(bs.map(_._2)), v, mode)
      case SOr(cs) if cs.nonEmpty =>
        cs.find(RowEval.validate(_, v)).map(encode(_, v, mode)).getOrElse(v)
      case _: SInt | _: SDouble | SBoolean => v match {
        case n @ (_: Long | _: Int | _: Double | _: Float | _: Boolean) =>
          String.valueOf(n)
        case _ => v
      }
      case SIdent(kind, _) if kind.endsWith("keyword") => v match {
        case s: String => s.stripPrefix(":")
        case _ => v
      }
      // :enum/:= encode via inferred child type — keyword enums drop ':'
      case SEnum(vs) if SchemaIR.inferLeaf(vs).isDefined =>
        encode(SchemaIR.inferLeaf(vs).get, v, mode)
      case SCompare("=", value)
          if SchemaIR.inferLeaf(Seq(value)).isDefined =>
        encode(SchemaIR.inferLeaf(Seq(value)).get, v, mode)
      case _: STimestamp | _: SDate | _: STime => v match {
        case null => null
        case other => other.toString // java.time types print ISO-8601
      }
      case SVector(c, _, _) => v match {
        case xs: Seq[_] => xs.map(encode(c, _, mode))
        case _ => v
      }
      case SSeqable(c, _, _) => v match {
        case xs: Seq[_] => xs.map(encode(c, _, mode))
        case _ => v
      }
      case SSet(c, _, _) => v match {
        case xs: Seq[_] => xs.map(encode(c, _, mode))
        case _ => v
      }
      case STuple(cs) => v match {
        case xs: Seq[_] if xs.size == cs.size =>
          cs.zip(xs).map { case (c, x) => encode(c, x, mode) }
        case _ => v
      }
      case SMap(es, _, _) => v match {
        case m: scala.collection.Map[_, _] =>
          val mm = m.asInstanceOf[scala.collection.Map[Any, Any]]
          val byKey = es.map(e => e.key -> e).toMap
          mm.map { case (k, mv) =>
            byKey.get(String.valueOf(k)) match {
              case Some(e) => k -> encode(e.child, mv, mode)
              case None => k -> mv
            }
          }
        case _ => v
      }
      case SMapOf(k, vv, _, _) => v match {
        case m: scala.collection.Map[_, _] =>
          m.asInstanceOf[scala.collection.Map[Any, Any]]
            .map { case (mk, mv) =>
              encode(k, mk, mode) -> encode(vv, mv, mode) }
        case _ => v
      }
      // standalone :alt encodes like :or (engine deviation, see decode)
      case SAlt(cs) =>
        cs.find(RowEval.validate(_, v)).map(encode(_, v, mode)).getOrElse(v)
      case SAltn(es) => encode(SAlt(es.map(_._2)), v, mode)
      case _: SStar | _: SPlus | _: SOpt | _: SRepeat | _: SCat | _: SCatn =>
        v match {
          case xs: Seq[_] if RowEval.validate(ir, v) =>
            ir match {
              case SCat(cs) if cs.size == xs.size =>
                cs.zip(xs).map { case (c, x) =>
                  encode(innermost(c), x, mode) }
              case SCatn(es) if es.size == xs.size =>
                es.map(_._2).zip(xs).map { case (c, x) =>
                  encode(innermost(c), x, mode) }
              case SStar(c) => xs.map(encode(innermost(c), _, mode))
              case SPlus(c) => xs.map(encode(innermost(c), _, mode))
              case SOpt(c) => xs.map(encode(innermost(c), _, mode))
              case SRepeat(c, _, _) =>
                xs.map(encode(innermost(c), _, mode))
              case _ => xs
            }
          case _ => v
        }
      case _ => v
    }
}
