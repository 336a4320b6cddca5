package mallispark.compile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.{SchemaIR, SchemaOps}
import mallispark.ir.SchemaIR._

/** Transformer layer — malli's decode/encode
  * (reference: /root/reference/src/malli/transform.cljc).
  *
  * malli transformers are per-schema-node value interceptors composed into
  * closures (transform.cljc:16-52, 411-426); ours are `Column → Column`
  * rewrites composed into one projection, so the whole decode is a single
  * codegen'd `select`.
  *
  * Failure semantics: malli returns the INPUT unchanged when a coercion
  * fails (e.g. -string->long, transform.cljc:60-69). A Spark column has one
  * static type, so a failed cast cannot keep the original string in a long
  * column: failures become null, and `coerce` (decode → validate) routes
  * those rows to violations — the composition has the same accept/reject
  * behavior as malli's coerce (core.cljc:2750-2774). Where source and target
  * types already match, the transformer is elided (no-op decode costs
  * nothing — malli protocol doc core.cljc:35-37).
  */
object Transform {

  sealed trait Mode
  /** `string-transformer` — decode strings into schema types
    * (transform.cljc:428-443). */
  case object StringMode extends Mode
  /** `json-transformer` — JSON-native values stay; only non-JSON types
    * (timestamps, uuids) decode from strings (transform.cljc:445-458). */
  case object JsonMode extends Mode

  /** ISO-8601 patterns accepted by -string->date (transform.cljc:137-159). */
  private def toTs(c: Column): Column =
    F.coalesce(
      F.try_to_timestamp(c),
      F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
      F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      F.try_to_timestamp(c, F.lit("yyyy-MM-dd")))

  private def modeName(mode: Mode): String = mode match {
    case StringMode => "string"
    case JsonMode => "json"
  }

  private def hintFor(hints: Seq[(String, SchemaIR.THint)], mode: Mode)
      : Option[SchemaIR.THint] =
    hints.collectFirst { case (n, h) if n == modeName(mode) => h }

  private def applyFn(src: String, col: Column, dt: DataType)
      : (Column, DataType) =
    mallispark.gen.FmapColumns.compile(src, col, dt)

  /** Decode one column to the schema's natural type.
    * Elision: if `dt` already matches, return the column untouched.
    *
    * Schema-hinted transformations (`:decode/<mode>` props, reference
    * transform_test.cljc:824-928): the hint's `:enter` runs BEFORE the
    * node's own transform (and its children), `:leave` runs AFTER —
    * compiled through the shared [[mallispark.gen.FmapColumns]] kernel so
    * hinted decodes stay codegen'd Column expressions. A hint for a mode
    * the transformer doesn't carry is a no-op (the "undefined
    * transformations" fixture). */
  def decode(ir: SchemaIR, col: Column, dt: DataType, mode: Mode)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): Column =
    ir match {
      // registry refs deref depth-bounded against the compile Ctx, the
      // same recursion budget the validator uses
      case SRef(n) =>
        if (ctx.depth <= 0) col
        else decode(ctx.registry(n), col, dt, mode)(
          ctx.copy(depth = ctx.depth - 1))
      case SScoped(local, c, _) =>
        decode(c, col, dt, mode)(ctx.scoped(local))
      case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
        decode(SchemaOps.expand(alg, ctx.registry), col, dt, mode)
      case SProps(p, c) =>
        hintFor(p.decodeHints, mode) match {
          case None => decode(c, col, dt, mode)
          case Some(h) =>
            val (c1, t1) = h.enter.map(applyFn(_, col, dt))
              .getOrElse((col, dt))
            val c2 = decode(c, c1, t1, mode)
            h.leave.map(applyFn(_, c2, decodedType(c, t1, mode))._1)
              .getOrElse(c2)
        }
      case SMaybe(c) => decode(c, col, dt, mode)
      // :and applies EVERY child's transformer in child order, threading
      // the evolving column type (transform_test.cljc:879-900 — the
      // string→long decode of child 1 feeds child 2's hints)
      case SAnd(cs) if cs.nonEmpty =>
        cs.foldLeft((col, dt)) { case ((c0, t0), child) =>
          (decode(child, c0, t0, mode), decodedType(child, t0, mode))
        }._1
      // tagged composites decode like their untagged duals
      case SAndn(bs) if bs.nonEmpty =>
        decode(SAnd(bs.map(_._2)), col, dt, mode)
      case SOrn(bs) if bs.nonEmpty =>
        decode(SOr(bs.map(_._2)), col, dt, mode)
      // :or decodes with the FIRST branch whose result validates
      // (transform.cljc -or-transformer); a typed engine can only gate
      // between branches that decode to ONE column type — branches with
      // a different result type are skipped, and when nothing validates
      // the first branch's decode stands (malli keeps the raw input
      // there; a static column type cannot)
      case SOr(cs) if cs.nonEmpty =>
        val t0 = decodedType(cs.head, dt, mode)
        val usable = cs.filter(c => decodedType(c, dt, mode) == t0)
        val head = decode(usable.head, col, dt, mode)
        if (usable.size == 1) head
        else usable.tail.foldLeft(
          F.when(SchemaCompiler.valid(usable.head, head, t0), head)) {
            (acc, c) =>
              val d = decode(c, col, dt, mode)
              acc.when(SchemaCompiler.valid(c, d, t0), d)
          }.otherwise(head)
      case _: SInt =>
        dt match {
          case StringType if mode == StringMode =>
            // -string->long (transform.cljc:60-69): failure → null (see note)
            col.try_cast(LongType)
          case ByteType | ShortType | IntegerType => col.cast(LongType)
          case FloatType | DoubleType =>
            // -number->long: only exact integrals (transform.cljc:99-103).
            // try_cast, not cast: ANSI mode throws on NaN/overflow doubles
            // (repo invariant — never the throwing variants)
            val asLong = col.try_cast(LongType)
            F.when(asLong.isNotNull && col === asLong.cast(dt), asLong)
          case _ => col
        }
      case _: SDouble =>
        dt match {
          case StringType if mode == StringMode => col.try_cast(DoubleType)
          case ByteType | ShortType | IntegerType | LongType | FloatType =>
            col.cast(DoubleType)
          case _ => col
        }
      case SBoolean =>
        dt match {
          case StringType if mode == StringMode =>
            // -string->boolean: "true"/"false" ONLY (transform.cljc:108-113)
            F.when(col === "true", true).when(col === "false", false)
              .otherwise(F.lit(null).cast(BooleanType))
          case _ => col
        }
      case _: STimestamp =>
        dt match {
          case StringType => toTs(col) // JSON carries dates as strings too
          case _ => col
        }
      case _: SDate =>
        dt match {
          case StringType => F.try_to_timestamp(col).cast(DateType)
          case TimestampType => col.cast(DateType)
          case _ => col
        }
      case SUuid =>
        dt match {
          case StringType =>
            // -string->uuid is regex-gated (transform.cljc:115-124);
            // ONE canonical pattern shared with validation
            F.when(col.rlike(SchemaCompiler.uuidRe), col)
          case _ => col
        }
      // :time/* string decoders (experimental/time/transform.cljc:56-62
      // default-parsers) — ISO-8601 strings into the native interval / NTZ
      // types, pure Column arithmetic (no UDF). Failure → null (this
      // engine's string->X convention; the reference's -safe keeps the
      // input). Subsets match the physical types: durations without
      // fractional seconds ("PnDTnHnMnS"), periods years/months only
      // ("PnYnM" — Spark's YearMonthInterval has no day field).
      case STime("duration", _, _) if dt == StringType =>
        // the lookahead rejects the degenerate "P"/"PT" (all groups
        // optional otherwise) — java.time's parse throws on them too
        val re = "^(?=.*\\d)P(?:(\\d+)D)?(?:T(?:(\\d+)H)?(?:(\\d+)M)?(?:(\\d+)S)?)?$"
        def g(i: Int) = F.coalesce(
          F.nullif(F.regexp_extract(col, re, i), F.lit("")), F.lit("0"))
          .cast(IntegerType)
        F.when(col.rlike(re),
          F.make_dt_interval(g(1), g(2), g(3),
            g(4).cast(DecimalType(18, 6))))
      case STime("period", _, _) if dt == StringType =>
        val re = "^(?=.*\\d)P(?:(\\d+)Y)?(?:(\\d+)M)?$"
        def g(i: Int) = F.coalesce(
          F.nullif(F.regexp_extract(col, re, i), F.lit("")), F.lit("0"))
          .cast(IntegerType)
        F.when(col.rlike(re), F.make_ym_interval(g(1), g(2)))
      case STime("local-date-time", _, _) if dt == StringType =>
        F.coalesce(
          F.try_to_timestamp(col, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
          F.try_to_timestamp(col, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSS")))
          .cast(TimestampNTZType)
      case _: SString =>
        dt match {
          case StringType => col
          case _ if mode == StringMode => col.cast(StringType) // encode dir
          case _ => col
        }
      case SIdent(kind, _) if kind.endsWith("keyword") =>
        dt match {
          // -string->keyword (transform.cljc:71-77): "abc" decodes to the
          // keyword :abc — in string-form terms, prepend the ':' when
          // absent. BOTH transformer bundles carry it (the json decoder
          // table includes keyword?, transform.cljc:258-266)
          case StringType =>
            F.when(col.startsWith(":") || col.isNull, col)
              .otherwise(F.concat(F.lit(":"), col))
          case _ => col
        }
      // :enum/:= decode through the INFERRED base type of the children
      // (transform.cljc:236-248 -infer-child-compiler; the json bundle
      // only moves keywords since json carries numbers natively, which
      // falls out of the delegated leaf's own mode gating)
      case SEnum(vs) =>
        SchemaIR.inferLeaf(vs).map(decode(_, col, dt, mode)).getOrElse(col)
      case SCompare("=", value) =>
        SchemaIR.inferLeaf(Seq(value)).map(decode(_, col, dt, mode))
          .getOrElse(col)
      case SSet(c, _, _) =>
        // -sequential->set (transform.cljc:211-233) on ArrayType payloads
        dt match {
          case ArrayType(et, _) =>
            F.array_distinct(F.transform(col, x => decode(c, x, et, mode)))
          case _ => col
        }
      case SVector(c, _, _) =>
        dt match {
          case ArrayType(et, _) => F.transform(col, x => decode(c, x, et, mode))
          case _ => col
        }
      case SSeqable(c, _, _) =>
        dt match {
          case ArrayType(et, _) => F.transform(col, x => decode(c, x, et, mode))
          case _ => col
        }
      // nested :map over a struct column: decode each declared field in
      // place (undeclared fields ride along); null structs stay null
      // rather than collapsing into a struct of nulls
      case SMap(es, _, _) =>
        dt match {
          case st: StructType if needsDecode(ir, dt, mode) =>
            val byKey = es.map(e => e.key -> e).toMap
            val fields = st.fields.toIndexedSeq.map { f =>
              byKey.get(f.name) match {
                case Some(e) =>
                  val dcd =
                    decode(e.child, col.getField(f.name), f.dataType, mode)
                  e.default.map(d0 => F.coalesce(dcd, F.lit(d0)))
                    .getOrElse(dcd).as(f.name)
                case None => col.getField(f.name).as(f.name)
              }
            }
            F.when(col.isNotNull, F.struct(fields: _*))
          case _ => col
        }
      // :map-of over a MapType column: decode keys and values through
      // their schemas. Entries whose KEY fails to decode are dropped —
      // a typed map cannot hold the reference's keep-the-original
      // fallback, and a null map key is a runtime error in Spark
      case SMapOf(k, v, _, _) =>
        dt match {
          case MapType(kt, vt, _) if needsDecode(ir, dt, mode) =>
            val dec = F.transform(F.map_entries(col), e => F.struct(
              decode(k, e.getField("key"), kt, mode).as("key"),
              decode(v, e.getField("value"), vt, mode).as("value")))
            F.map_from_entries(
              F.filter(dec, s => s.getField("key").isNotNull))
          case _ => col
        }
      // tuples: positional decode — struct tuples per field, array
      // tuples per index (only when every position decodes to the
      // array's one element type)
      case STuple(cs) =>
        dt match {
          case st: StructType if st.fields.length == cs.length &&
              needsDecode(ir, dt, mode) =>
            val fields = st.fields.toIndexedSeq.zip(cs).map { case (f, c) =>
              decode(c, col.getField(f.name), f.dataType, mode).as(f.name)
            }
            F.when(col.isNotNull, F.struct(fields: _*))
          case ArrayType(et, _) if needsDecode(ir, dt, mode) &&
              cs.forall(c => decodedType(c, et, mode) ==
                decodedType(cs.head, et, mode)) =>
            // positions past the declared arity (already invalid as a
            // tuple) go null when the element type moved — a raw `x`
            // there would force an ANSI-illegal implicit cast
            val outT = decodedType(cs.head, et, mode)
            F.transform(col, (x, i) => cs.zipWithIndex.tail.foldLeft(
              F.when(i === 0, decode(cs.head, x, et, mode))) {
                case (acc, (c, j)) =>
                  acc.when(i === j, decode(c, x, et, mode))
              }.otherwise(
                if (outT == et) x else F.lit(null).cast(outT)))
          case _ => col
        }
      case _ => col
    }

  /** Whether decoding `ir` over `dt` would change anything — the type
    * moves, or some node in the subtree carries a hint for this mode.
    * Containers use it to skip rebuilding structs/maps that would come
    * back identical (plan-size elision). */
  private def needsDecode(ir: SchemaIR, dt: DataType, mode: Mode)(
      implicit ctx: SchemaCompiler.Ctx): Boolean =
    decodedType(ir, dt, mode) != dt || hasHints(ir, mode) ||
      hasValueDecoders(ir)

  /** Decoders that change the VALUE but not the column type — keyword
    * ':'-prepending, directly or via :enum/:= child inference. The type
    * test alone would elide container rebuilds that still need them.
    * Conservative: fires even when the physical position isn't a string
    * (the rebuild is then a no-op projection, never wrong). */
  private def hasValueDecoders(ir: SchemaIR): Boolean = (ir match {
    case SIdent(kind, _) => kind.endsWith("keyword")
    case SEnum(vs) =>
      SchemaIR.inferLeaf(vs).exists(_.isInstanceOf[SIdent])
    case SCompare("=", value) =>
      SchemaIR.inferLeaf(Seq(value)).exists(_.isInstanceOf[SIdent])
    case _ => false
  }) || SchemaIR.childrenWithPath(ir).exists {
    case (_, c) => hasValueDecoders(c)
  }

  private def hasHints(ir: SchemaIR, mode: Mode): Boolean =
    (ir match {
      case SProps(p, _) => hintFor(p.decodeHints, mode).nonEmpty
      case _ => false
    }) || SchemaIR.childrenWithPath(ir).exists {
      case (_, c) => hasHints(c, mode)
    }

  /** The column type [[decode]] produces — the static mirror of its case
    * analysis, used to thread types through `:and` chains and hint
    * `:leave` compilation. Kept in lockstep with `decode` (TransformSpec
    * asserts the pairing on representative inputs). */
  def decodedType(ir: SchemaIR, dt: DataType, mode: Mode)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): DataType =
    ir match {
      case SRef(n) =>
        if (ctx.depth <= 0) dt
        else decodedType(ctx.registry(n), dt, mode)(
          ctx.copy(depth = ctx.depth - 1))
      case SScoped(local, c, _) =>
        decodedType(c, dt, mode)(ctx.scoped(local))
      case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
        decodedType(SchemaOps.expand(alg, ctx.registry), dt, mode)
      case SProps(p, c) =>
        hintFor(p.decodeHints, mode) match {
          case None => decodedType(c, dt, mode)
          case Some(h) =>
            val t1 = h.enter
              .map(mallispark.gen.FmapColumns.outType(_, dt)).getOrElse(dt)
            val t2 = decodedType(c, t1, mode)
            h.leave.map(mallispark.gen.FmapColumns.outType(_, t2))
              .getOrElse(t2)
        }
      case SMaybe(c) => decodedType(c, dt, mode)
      case SAnd(cs) if cs.nonEmpty =>
        cs.foldLeft(dt)((t, c) => decodedType(c, t, mode))
      case SOr(cs) if cs.nonEmpty => decodedType(cs.head, dt, mode)
      case SAndn(bs) if bs.nonEmpty =>
        decodedType(SAnd(bs.map(_._2)), dt, mode)
      case SOrn(bs) if bs.nonEmpty =>
        decodedType(SOr(bs.map(_._2)), dt, mode)
      case _: SInt => dt match {
        case StringType if mode == StringMode => LongType
        case ByteType | ShortType | IntegerType | FloatType | DoubleType =>
          LongType
        case _ => dt
      }
      // decode's :enum/:= inference delegation, mirrored
      case SEnum(vs) =>
        SchemaIR.inferLeaf(vs).map(decodedType(_, dt, mode)).getOrElse(dt)
      case SCompare("=", value) =>
        SchemaIR.inferLeaf(Seq(value)).map(decodedType(_, dt, mode))
          .getOrElse(dt)
      case _: SDouble => dt match {
        case StringType if mode == StringMode => DoubleType
        case ByteType | ShortType | IntegerType | LongType | FloatType =>
          DoubleType
        case _ => dt
      }
      case SBoolean => dt match {
        case StringType if mode == StringMode => BooleanType
        case _ => dt
      }
      case _: STimestamp => dt match {
        case StringType => TimestampType
        case _ => dt
      }
      case _: SDate => dt match {
        case StringType | TimestampType => DateType
        case _ => dt
      }
      case STime("duration", _, _) if dt == StringType =>
        DayTimeIntervalType()
      case STime("period", _, _) if dt == StringType =>
        YearMonthIntervalType()
      case STime("local-date-time", _, _) if dt == StringType =>
        TimestampNTZType
      case _: SString => dt match {
        case StringType => dt
        case _ if mode == StringMode => StringType
        case _ => dt
      }
      case SSet(c, _, _) => dt match {
        case ArrayType(et, n) => ArrayType(decodedType(c, et, mode), n)
        case _ => dt
      }
      case SVector(c, _, _) => dt match {
        case ArrayType(et, n) => ArrayType(decodedType(c, et, mode), n)
        case _ => dt
      }
      case SSeqable(c, _, _) => dt match {
        case ArrayType(et, n) => ArrayType(decodedType(c, et, mode), n)
        case _ => dt
      }
      case SMap(es, _, _) => dt match {
        case st: StructType =>
          val byKey = es.map(e => e.key -> e).toMap
          StructType(st.fields.map { f =>
            byKey.get(f.name).map(e =>
              f.copy(dataType = decodedType(e.child, f.dataType, mode),
                nullable = true)).getOrElse(f)
          })
        case _ => dt
      }
      case SMapOf(k, v, _, _) => dt match {
        case MapType(kt, vt, n) =>
          MapType(decodedType(k, kt, mode), decodedType(v, vt, mode), n)
        case _ => dt
      }
      case STuple(cs) => dt match {
        case st: StructType if st.fields.length == cs.length =>
          StructType(st.fields.zip(cs).map { case (f, c) =>
            f.copy(dataType = decodedType(c, f.dataType, mode),
              nullable = true)
          })
        case ArrayType(et, n) if cs.nonEmpty &&
            cs.forall(c => decodedType(c, et, mode) ==
              decodedType(cs.head, et, mode)) =>
          ArrayType(decodedType(cs.head, et, mode), n)
        case _ => dt
      }
      case _ => dt
    }

  /** The column type [[encode]] produces. Every leaf encoder in this
    * engine lands on a string column (see encode's default cases); only
    * the composing wrappers thread other types through hints. */
  def encodedType(ir: SchemaIR, dt: DataType,
                  mode: Mode = StringMode): DataType = ir match {
    case SProps(p, c) =>
      hintFor(p.encodeHints, mode) match {
        case None => encodedType(c, dt, mode)
        case Some(h) =>
          val t1 = h.enter
            .map(mallispark.gen.FmapColumns.outType(_, dt)).getOrElse(dt)
          val t2 = encodedType(c, t1, mode)
          h.leave.map(mallispark.gen.FmapColumns.outType(_, t2))
            .getOrElse(t2)
      }
    case SAnd(cs) if cs.nonEmpty =>
      cs.foldLeft(dt)((t, c) => encodedType(c, t, mode))
    case SMap(es, _, _) if dt.isInstanceOf[StructType] =>
      val st = dt.asInstanceOf[StructType]
      val byKey = es.map(e => e.key -> e).toMap
      StructType(st.fields.map { f =>
        f.copy(dataType = byKey.get(f.name)
          .map(e => encodedType(e.child, f.dataType, mode))
          .getOrElse(StringType), nullable = true)
      })
    case SVector(c, _, _) if dt.isInstanceOf[ArrayType] =>
      val at = dt.asInstanceOf[ArrayType]
      ArrayType(encodedType(c, at.elementType, mode), at.containsNull)
    case SSet(c, _, _) if dt.isInstanceOf[ArrayType] =>
      val at = dt.asInstanceOf[ArrayType]
      ArrayType(encodedType(c, at.elementType, mode), at.containsNull)
    case SSeqable(c, _, _) if dt.isInstanceOf[ArrayType] =>
      val at = dt.asInstanceOf[ArrayType]
      ArrayType(encodedType(c, at.elementType, mode), at.containsNull)
    case _ => StringType
  }

  /** "" → nil (-string->nil, transform.cljc:171-172); opt-in piece of the
    * string transformer. */
  def emptyStringToNull(col: Column): Column = F.nullif(col, F.lit(""))

  /** Encode: schema type → string (transform.cljc date→string at 183-193).
    * `:encode/<mode>` hints run `:enter` before the node's encode and
    * `:leave` after, like decode but in the encode direction. */
  def encode(ir: SchemaIR, col: Column, dt: DataType,
             mode: Mode = StringMode)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx())
      : Column = ir match {
    case SRef(n) =>
      if (ctx.depth <= 0) col
      else encode(ctx.registry(n), col, dt, mode)(
        ctx.copy(depth = ctx.depth - 1))
    case SScoped(local, c, _) =>
      encode(c, col, dt, mode)(ctx.scoped(local))
    case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
      encode(SchemaOps.expand(alg, ctx.registry), col, dt, mode)
    case SProps(p, c) =>
      hintFor(p.encodeHints, mode) match {
        case None => encode(c, col, dt, mode)
        case Some(h) =>
          val (c1, t1) = h.enter.map(applyFn(_, col, dt))
            .getOrElse((col, dt))
          val c2 = encode(c, c1, t1, mode)
          h.leave.map(applyFn(_, c2, encodedType(c, t1, mode))._1)
            .getOrElse(c2)
      }
    // :and encode: every child in order, threading types (the encode dual
    // of the decode fold)
    case SAnd(cs) if cs.nonEmpty =>
      cs.foldLeft((col, dt)) { case ((c0, t0), child) =>
        (encode(child, c0, t0, mode), encodedType(child, t0, mode))
      }._1
    case _: STimestamp =>
      F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    case SIdent(kind, _) if kind.endsWith("keyword") =>
      // keyword→string encode drops the leading ':' (m/encode keyword?
      // string-transformer — transform.cljc:432 -keyword->string)
      F.regexp_replace(col, "^:", "")
    // :enum/:= encode through the inferred child type — keyword enums
    // drop the colon (child-inference fixtures, transform_test:1142-1230)
    case SEnum(vs) if SchemaIR.inferLeaf(vs).isDefined =>
      encode(SchemaIR.inferLeaf(vs).get, col, dt, mode)
    case SCompare("=", value) if SchemaIR.inferLeaf(Seq(value)).isDefined =>
      encode(SchemaIR.inferLeaf(Seq(value)).get, col, dt, mode)
    // interval→ISO-8601 encode (experimental/time/transform.cljc:81-89):
    // emitted in total-seconds / total-months form ("PT3723S", "P14M") —
    // a valid ISO rendering that parses back to the equal value (the
    // reference's str emits the mixed form; round-trip equality holds)
    case STime("duration", _, _) if dt.isInstanceOf[DayTimeIntervalType] =>
      F.concat(F.lit("PT"), col.cast(LongType).cast(StringType), F.lit("S"))
    case STime("period", _, _) if dt.isInstanceOf[YearMonthIntervalType] =>
      F.concat(F.lit("P"), col.cast(IntegerType).cast(StringType), F.lit("M"))
    case _: SDate => F.date_format(col, "yyyy-MM-dd")
    case SBinary => F.base64(col)
    // container encode duals: per-field / per-element encode in place
    case SMap(es, _, _) if dt.isInstanceOf[StructType] =>
      val st = dt.asInstanceOf[StructType]
      val byKey = es.map(e => e.key -> e).toMap
      F.when(col.isNotNull, F.struct(st.fields.toIndexedSeq.map { f =>
        byKey.get(f.name)
          .map(e => encode(e.child, col.getField(f.name), f.dataType, mode))
          .getOrElse(col.getField(f.name).cast(StringType)).as(f.name)
      }: _*))
    case SVector(c, _, _) if dt.isInstanceOf[ArrayType] =>
      val et = dt.asInstanceOf[ArrayType].elementType
      F.transform(col, x => encode(c, x, et, mode))
    case SSet(c, _, _) if dt.isInstanceOf[ArrayType] =>
      val et = dt.asInstanceOf[ArrayType].elementType
      F.transform(col, x => encode(c, x, et, mode))
    case SSeqable(c, _, _) if dt.isInstanceOf[ArrayType] =>
      val et = dt.asInstanceOf[ArrayType].elementType
      F.transform(col, x => encode(c, x, et, mode))
    case _ if dt == StringType => col
    case _ => col.cast(StringType)
  }

  /** Raw JSON-lines ingestion (the crawl-dump entry path): parse a JSON
    * document string column with the schema's own StructType, run the
    * json-transformer over the parsed struct, and flatten its fields
    * into top-level columns (replacing `jsonCol`). Malformed documents
    * parse to null fields — `coerce`/`validateDF` downstream routes them
    * to violations, preserving the decode-failure contract. Everything
    * stays inside one codegen'd projection (JsonToStructs + the decode
    * expressions). */
  def fromJsonLines(ir: SMap, df: DataFrame, jsonCol: String)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): DataFrame = {
    val st = SchemaCompiler.toStructType(ir)
    val dec = decode(ir, F.from_json(F.col(jsonCol), st), st, JsonMode)
    val keep = df.columns.filterNot(_ == jsonCol)
      .map(F.col).toIndexedSeq
    df.withColumn("__parsed", dec)
      .select(keep :+ F.col("__parsed.*"): _*)
  }

  /** CSV sibling of [[fromJsonLines]] (sidecar/metadata feeds): parse a
    * delimited line with the schema's StructType (PERMISSIVE — fields
    * that fail their type go null), decode, flatten. */
  def fromCsvLines(ir: SMap, df: DataFrame, csvCol: String,
                   options: Map[String, String] = Map.empty)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): DataFrame = {
    val st = SchemaCompiler.toStructType(ir)
    val dec = decode(ir, F.from_csv(F.col(csvCol), st, options),
      st, StringMode)
    val keep = df.columns.filterNot(_ == csvCol)
      .map(F.col).toIndexedSeq
    df.withColumn("__parsed", dec)
      .select(keep :+ F.col("__parsed.*"): _*)
  }

  /** The export dual of [[fromJsonLines]]: render the schema's declared
    * columns back into one JSON document string per row (StructsToJson —
    * codegen'd; timestamps print ISO-8601, null fields are omitted).
    * Round-trip law: `fromJsonLines(toJsonLines(df))` reproduces the
    * declared columns. */
  def toJsonLines(ir: SMap, df: DataFrame,
                  outCol: String = "json"): DataFrame =
    df.withColumn(outCol,
      F.to_json(F.struct(ir.entries.map(e => F.col(e.key)): _*)))

  /** Decode a whole DataFrame against a top-level :map schema. Unmatched
    * (extra) columns pass through untouched — use stripExtraKeys to drop. */
  def decodeDF(ir: SMap, df: DataFrame, mode: Mode): DataFrame = {
    val bySchema = ir.entries.map(e => e.key -> e).toMap
    val cols = df.schema.fields.toSeq.map { f =>
      bySchema.get(f.name) match {
        case Some(e) =>
          val decoded = decode(e.child, F.col(f.name), f.dataType, mode)
          // default-value-transformer (:default prop,
          // transform.cljc:492-528): fill nulls with the declared default
          val withDefault = e.default match {
            case Some(d) => F.coalesce(decoded, F.lit(d))
            case None => decoded
          }
          withDefault.as(f.name)
        case None => F.col(f.name)
      }
    }
    df.select(cols: _*)
  }

  /** strip-extra-keys-transformer (transform.cljc:460-483): keep only
    * schema-declared columns. A `::m/default` rest schema defines how the
    * REMAINING keys strip (transform_test.cljc:565-630): nested
    * default-map chains contribute their entry keys recursively, and a
    * rest `:map-of` keeps every extra column whose NAME validates against
    * its key schema (column names are strings, so a `:string`-keyed rest
    * keeps all extras and an `:int`-keyed one keeps none — the value-
    * universe dual lives in RowEval). */
  def stripExtraKeys(ir: SMap, df: DataFrame): DataFrame = {
    def explicit(m: SMap): Set[String] =
      m.entries.map(_.key).toSet ++ (m.rest match {
        case Some(r: SMap) => explicit(r)
        case _ => Set.empty
      })
    def restKey(m: SMap): Option[SchemaIR] = m.rest match {
      case Some(r: SMap) => restKey(r)
      case Some(SMapOf(k, _, _, _)) => Some(k)
      case _ => None
    }
    val known = explicit(ir)
    val keyOk: String => Boolean = restKey(ir) match {
      case Some(k) => name => mallispark.eval.RowEval.validate(k, name)
      case None => _ => false
    }
    df.select(df.columns.filter(c => known(c) || keyOk(c))
      .map(F.col).toIndexedSeq: _*)
  }

  /** key-transformer (transform.cljc:485-490): rename columns. */
  def renameKeys(df: DataFrame, renames: Map[String, String]): DataFrame =
    renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  /** key-transformer with a function over names — the `mt/key-transformer
    * {:decode f}` shape (transform_test.cljc:632-697). Column renames are
    * driver-side metadata, so an arbitrary String => String is fine here
    * (no row-level work). */
  def transformKeys(df: DataFrame, f: String => String): DataFrame =
    renameKeys(df, df.columns.map(c => c -> f(c)).filter(p => p._1 != p._2)
      .toMap)

  /** default-value-transformer over a whole frame
    * (transform.cljc:492-528; option fixtures transform_test.cljc:958+).
    * A default comes from the ENTRY prop, else the child schema's own
    * `:default` prop, else `typeDefaults` for the child's leaf kind
    * (the `{:defaults {type fn}}` option). Null cells coalesce to it;
    * a MISSING column materializes as the default when the entry is
    * required — optional entries join only under `addOptionalKeys`
    * (`::mt/add-optional-keys`). */
  def fillDefaults(ir: SMap, df: DataFrame,
                   addOptionalKeys: Boolean = false,
                   typeDefaults: Map[String, Any] = Map.empty): DataFrame = {
    def leafKind(s: SchemaIR): String = s match {
      case SProps(_, c) => leafKind(c)
      case SMaybe(c) => leafKind(c)
      case _: SString => "string"
      case _: SInt => "int"
      case _: SDouble => "double"
      case SBoolean => "boolean"
      case _ => ""
    }
    def defaultOf(e: Entry): Option[Any] =
      e.default
        .orElse(e.child match {
          case SProps(p, _) => p.default
          case _ => None
        })
        .orElse(typeDefaults.get(leafKind(e.child)))
    ir.entries.foldLeft(df) { (d, e) =>
      defaultOf(e) match {
        case None => d
        case Some(dv) =>
          if (d.columns.contains(e.key))
            d.withColumn(e.key, F.coalesce(F.col(e.key), F.lit(dv)))
          else if (!e.optional || addOptionalKeys)
            d.withColumn(e.key, F.lit(dv))
          else d
      }
    }
  }

  /** coerce = decode → validate → split (core.cljc:2750-2774): returns
    * (accepted, rejected) without double-scanning logic at the caller.
    * `exclude` passes through to the closed-map check like
    * validateDF's — engine bookkeeping columns riding the frame must
    * not fail every row as extra keys. */
  def coerce(ir: SMap, df: DataFrame, mode: Mode,
             exclude: Set[String] = Set.empty)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx())
      : (DataFrame, DataFrame) = {
    val decoded = decodeDF(ir, df, mode)
    val flagged = SchemaCompiler.validateDF(ir, decoded, "__valid",
      exclude = exclude)
    (flagged.where(F.col("__valid")).drop("__valid"),
      flagged.where(!F.col("__valid")).drop("__valid"))
  }
}
