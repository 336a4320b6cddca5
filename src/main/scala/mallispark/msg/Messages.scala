package mallispark.msg

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.types.{DoubleType, LongType}

import mallispark.ir.SchemaIR
import mallispark.ir.SchemaIR._
import mallispark.ir.SchemaIR.ErrorKeys

/** Error humanization — malli's `malli.error` namespace
  * (reference: /root/reference/src/malli/error.cljc).
  *
  * Violation rows store the error KEY (cheap, groupable at scale);
  * humanization happens at report time on the driver — the same split
  * malli makes between `explain` (data) and `me/humanize` (strings).
  * English strings match `default-errors` (error.cljc:44-172) so
  * humanized fixtures are comparable with the reference. */
object Messages {

  /** error key → English message (error.cljc defaults). */
  val defaults: Map[String, String] = Map(
    ErrorKeys.MissingKey -> "missing required key", // error.cljc:46
    ErrorKeys.ExtraKey -> "disallowed key", // error.cljc:57
    ErrorKeys.InvalidType -> "invalid type", // error.cljc:56
    ErrorKeys.InvalidDispatch -> "invalid dispatch value", // error.cljc:58
    ErrorKeys.InputRemaining -> "input remaining", // error.cljc:65
    ErrorKeys.EndOfInput -> "end of input", // error.cljc:66
    ErrorKeys.Limits -> "invalid count", // ::m/limits shape (error.cljc:47-52)
    ErrorKeys.DuplicateKey -> "duplicate key",
    // the reference renders ::m/tuple-size and the comparators through
    // :error/fn closures that splice the VALUE/bound into the string
    // (error.cljc:53-55, 145-172); violation rows here carry only the
    // KEY, so these render the reference phrasing without the number —
    // pass an override with the bound for byte-exact reference strings
    ErrorKeys.TupleSize -> "invalid tuple size",
    ":>" -> "should be larger than the bound",
    ":>=" -> "should be at least the bound",
    ":<" -> "should be smaller than the bound",
    ":<=" -> "should be at most the bound",
    ":=" -> "should be the expected value",
    ":not=" -> "should not be the expected value",
    ":string" -> "should be a string", // error.cljc:80
    ":int" -> "should be an int", // error.cljc:71
    ":double" -> "should be a double", // error.cljc:78
    ":boolean" -> "should be a boolean", // error.cljc:79
    ":bytes" -> "should be bytes",
    ":uuid" -> "should be a uuid",
    ":keyword" -> "should be a keyword", // error.cljc:72
    ":simple-keyword" -> "should be a simple keyword",
    ":qualified-keyword" -> "should be a qualified keyword", // error.cljc:74
    ":symbol" -> "should be a symbol", // error.cljc:73
    ":simple-symbol" -> "should be a simple symbol",
    ":qualified-symbol" -> "should be a qualified symbol",
    ":char" -> "should be a char",
    ":enum" -> "should be one of the allowed values",
    ":re" -> "should match regex", // error.cljc:115
    ":some" -> "should be some", // error.cljc:68
    ":nil" -> "should be nil",
    ":not" -> "should not match",
    ":time/instant" -> "should be a timestamp in range",
    ":time/local-date" -> "should be a date in range",
    ":time/duration" -> "should be a duration in range",
    ":time/period" -> "should be a period in range",
    ":time/local-time" -> "should be a local time in range",
    ":time/local-date-time" -> "should be a local date-time in range",
    ":time/offset-date-time" -> "should be an offset date-time in range",
    ":time/offset-time" -> "should be an offset time",
    ":time/zoned-date-time" -> "should be a zoned date-time",
    ":time/zone-id" -> "should be a zone id",
    ":time/zone-offset" -> "should be a zone offset")

  /** Message lookup chain (error.cljc:293-310): explicit property
    * override → key table → unknown. */
  def message(errorKey: String,
              overrides: Map[String, String] = Map.empty): String =
    overrides.getOrElse(errorKey,
      defaults.getOrElse(errorKey, "unknown error")) // ::unknown, error.cljc:45

  /** Clojure `pr-str` for the values spliced into `:=`/`:not=`/`:enum`
    * messages (error.cljc `-pr-str`): strings quoted, everything else
    * via str. */
  private def prStr(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case other => String.valueOf(other)
  }

  private def plural(n: Int, unit: String): String =
    s"$n $unit" + (if (n != 1) "s" else "")

  /** Distributed humanize: a codegen CASE Column rendering the
    * reference's English message for each violation row from its
    * (schema_path, error_key, value) columns. The reference's
    * `:error/fn` defaults — comparators, `:enum`, `:string`/`:int`/
    * `:double` bounds, `::m/limits`, `::m/tuple-size`
    * (error.cljc:47-55, 120-172) — splice the SCHEMA's bound and the
    * offending value into the string; here the bounds are baked in as
    * literals from the schema node at each schema path and the actual
    * value is spliced from the row's value column, so the whole
    * humanization stays inside whole-stage codegen (no UDF, no
    * driver-side loop over rows).
    *
    * Lookup chain (error.cljc:293-329): `pathOverrides` — the
    * `:error/message` SCHEMA-PROPERTY analogue, keyed by "/"-joined
    * schema path — wins over everything for errors AT that schema node;
    * then `keyOverrides` (the caller-supplied `:errors` table); then the
    * `:error/fn` splicing above; then the static [[defaults]] table;
    * then "unknown error". */
  def messageColumn(root: SchemaIR,
                    pathOverrides: Map[String, String] = Map.empty,
                    keyOverrides: Map[String, String] = Map.empty,
                    pathCol: Column = F.col("schema_path"),
                    keyCol: Column = F.col("error_key"),
                    valueCol: Column = F.col("value")): Column = {
    val asNum = valueCol.try_cast(DoubleType)
    val asLong = valueCol.try_cast(LongType)

    def minMax[N](typeMsg: String, mn: Option[N], mx: Option[N])(
        implicit num: Numeric[N]): Column = {
      val bounds: Column = (mn, mx) match {
        case (Some(a), Some(b)) if a == b => F.lit(s"should be $a")
        case (Some(a), _) =>
          F.when(asNum < num.toDouble(a), F.lit(s"should be at least $a"))
            .otherwise(mx.map(b => F.lit(s"should be at most $b"))
              .getOrElse(F.lit(typeMsg)))
        case (_, Some(b)) => F.lit(s"should be at most $b")
        case _ => F.lit(typeMsg)
      }
      F.when(asNum.isNull, F.lit(typeMsg)).otherwise(bounds)
    }

    // value here is the collection SIZE (what the violation row carries
    // for ::m/limits)
    def limits(mn: Option[Int], mx: Option[Int]): Column = (mn, mx) match {
      case (Some(a), Some(b)) if a == b =>
        F.lit(s"should have $a elements")
      case (Some(a), _) =>
        F.when(asLong < a.toLong, F.lit(s"should have at least $a elements"))
          .otherwise(mx.map(b => F.lit(s"should have at most $b elements"))
            .getOrElse(F.lit(s"should have at least $a elements")))
      case (_, Some(b)) => F.lit(s"should have at most $b elements")
      case _ => F.lit(defaults(ErrorKeys.Limits))
    }

    // (path condition, error-key literal, message column) branches from
    // every subschema that the reference renders through an :error/fn
    val spliced: Seq[(Column, Column)] =
      mallispark.ir.SchemaOps.subschemas(root).flatMap { case (p, node) =>
        val pathStr = p.mkString("/")
        def at(key: String, msg: Column) =
          (pathCol === pathStr && keyCol === key) -> msg
        node match {
          case SCompare(op @ (">" | ">=" | "<" | "<="), bound) =>
            val word = op match {
              case ">" => "larger than"; case ">=" => "at least"
              case "<" => "smaller than"; case "<=" => "at most"
            }
            Seq(at(s":$op",
              F.when(asNum.isNotNull, F.lit(s"should be $word $bound"))
                .otherwise(F.lit("should be a number"))))
          case SCompare("=", v) =>
            Seq(at(":=", F.lit(s"should be ${prStr(v)}")))
          case SCompare("not=", v) =>
            Seq(at(":not=", F.lit(s"should not be ${prStr(v)}")))
          case SEnum(vs) =>
            val msg =
              if (vs.size == 1) s"should be ${prStr(vs.head)}"
              else "should be either " +
                vs.init.map(prStr).mkString(", ") + s" or ${prStr(vs.last)}"
            Seq(at(":enum", F.lit(msg)))
          case SString(mn, mx) if mn.nonEmpty || mx.nonEmpty =>
            // value IS the string; its length plays the reference's
            // (count value)
            val n = F.length(valueCol)
            val msg = (mn, mx) match {
              case (Some(a), Some(b)) if a == b =>
                F.lit(s"should be ${plural(a, "character")}")
              case (Some(a), _) =>
                F.when(n < a, F.lit(s"should be at least ${plural(a, "character")}"))
                  .otherwise(mx.map(b =>
                      F.lit(s"should be at most ${plural(b, "character")}"))
                    .getOrElse(F.lit(s"should be at least ${plural(a, "character")}")))
              case (_, Some(b)) =>
                F.lit(s"should be at most ${plural(b, "character")}")
              case _ => F.lit("should be a string")
            }
            Seq(at(":string",
              F.when(valueCol.isNull, F.lit("should be a string"))
                .otherwise(msg)))
          case SInt(mn, mx) if mn.nonEmpty || mx.nonEmpty =>
            Seq(at(":int", minMax("should be an integer", mn, mx)))
          case SDouble(mn, mx) if mn.nonEmpty || mx.nonEmpty =>
            Seq(at(":double", minMax("should be a double", mn, mx)))
          case STuple(cs) =>
            Seq(at(ErrorKeys.TupleSize,
              F.concat(F.lit("invalid tuple size "), valueCol,
                F.lit(s", expected ${cs.size}"))))
          case SVector(_, mn, mx) if mn.nonEmpty || mx.nonEmpty =>
            Seq(at(ErrorKeys.Limits, limits(mn, mx)))
          case SSeqable(_, mn, mx) if mn.nonEmpty || mx.nonEmpty =>
            Seq(at(ErrorKeys.Limits, limits(mn, mx)))
          case SSet(_, mn, mx) if mn.nonEmpty || mx.nonEmpty =>
            Seq(at(ErrorKeys.Limits, limits(mn, mx)))
          case SEvery(_, mn, mx, _) if mn.nonEmpty || mx.nonEmpty =>
            Seq(at(ErrorKeys.Limits, limits(mn, mx)))
          case SMapOf(_, _, mn, mx) if mn.nonEmpty || mx.nonEmpty =>
            Seq(at(ErrorKeys.Limits, limits(mn, mx)))
          // :not humanization (error.cljc -en-humanize-negation +
          // not-humanize / nested-not / custom-negating fixtures): peel
          // double negations, then render the innermost child's message
          // POSITIVE (even nots) or NEGATED (odd). Negation = "should "
          // → "should not " on the child's message — except comparators,
          // whose :negated builders FORWARD to the complement
          // (error.cljc:145-172), and bounded numerics/strings, where
          // the satisfied bound renders via the flipped comparison.
          case SNot(child0) =>
            var inner: SchemaIR = child0
            var negate = true
            var innerMsg: Option[String] = None
            var continue = true
            while (continue) inner match {
              case SNot(c) => inner = c; negate = !negate
              case SProps(pp, c) =>
                if (pp.errorMessage.nonEmpty) {
                  innerMsg = pp.errorMessage; continue = false
                } else inner = c
              case _ => continue = false
            }
            def flip(c: Column): Column =
              F.regexp_replace(c, "^should ", "should not ")
            def minMaxDir[N](typeMsg: String, mn: Option[N], mx: Option[N],
                             neg: Boolean)(
                implicit num: Numeric[N]): Column = {
              val bounds: Column = (mn, mx) match {
                case (Some(a), Some(b)) if a == b => F.lit(s"should be $a")
                case (Some(a), _) =>
                  val cond =
                    if (neg) asNum >= num.toDouble(a)
                    else asNum < num.toDouble(a)
                  F.when(cond, F.lit(s"should be at least $a"))
                    .otherwise(mx.map(b => F.lit(s"should be at most $b"))
                      .getOrElse(F.lit(typeMsg)))
                case (_, Some(b)) => F.lit(s"should be at most $b")
                case _ => F.lit(typeMsg)
              }
              F.when(asNum.isNull, F.lit(typeMsg)).otherwise(bounds)
            }
            def stringDir(mn: Option[Int], mx: Option[Int],
                          neg: Boolean): Column = {
              val n = F.length(valueCol)
              val base = (mn, mx) match {
                case (Some(a), Some(b)) if a == b =>
                  F.lit(s"should be ${plural(a, "character")}")
                case (Some(a), _) =>
                  F.when(if (neg) n >= a else n < a,
                      F.lit(s"should be at least ${plural(a, "character")}"))
                    .otherwise(mx.map(b =>
                        F.lit(s"should be at most ${plural(b, "character")}"))
                      .getOrElse(F.lit(defaults(":string"))))
                case (_, Some(b)) =>
                  F.lit(s"should be at most ${plural(b, "character")}")
                case _ => F.lit(defaults(":string"))
              }
              F.when(valueCol.isNull, F.lit(defaults(":string")))
                .otherwise(base)
            }
            def enumMsg(vs: Seq[Any]): String =
              if (vs.size == 1) s"should be ${prStr(vs.head)}"
              else "should be either " + vs.init.map(prStr)
                .mkString(", ") + s" or ${prStr(vs.last)}"
            val cmpWord = Map(">" -> "larger than", ">=" -> "at least",
              "<" -> "smaller than", "<=" -> "at most")
            val cmpNegWord = Map(">" -> "at most", ">=" -> "smaller than",
              "<" -> "at least", "<=" -> "larger than")
            val msg: Column = innerMsg match {
              // :error/message carried by the child: negate the string
              // itself (custom-negating-test)
              case Some(m) =>
                if (negate) F.lit(
                  if (m.startsWith("should not "))
                    m.replaceFirst("should not", "should")
                  else if (m.startsWith("should "))
                    m.replaceFirst("should", "should not")
                  else m)
                else F.lit(m)
              case None => inner match {
                case SCompare(op @ (">" | ">=" | "<" | "<="), b) =>
                  val word = if (negate) cmpNegWord(op) else cmpWord(op)
                  F.when(asNum.isNotNull, F.lit(s"should be $word $b"))
                    .otherwise(F.lit("should be a number"))
                case SCompare("=", v) =>
                  F.lit((if (negate) "should not be " else "should be ") +
                    prStr(v))
                case SCompare("not=", v) =>
                  F.lit((if (negate) "should be " else "should not be ") +
                    prStr(v))
                case SInt(mn, mx) if mn.nonEmpty || mx.nonEmpty =>
                  val m0 = minMaxDir(defaults(":int"), mn, mx, negate)
                  if (negate) flip(m0) else m0
                case SDouble(mn, mx) if mn.nonEmpty || mx.nonEmpty =>
                  val m0 = minMaxDir(defaults(":double"), mn, mx, negate)
                  if (negate) flip(m0) else m0
                case SString(mn, mx) if mn.nonEmpty || mx.nonEmpty =>
                  val m0 = stringDir(mn, mx, negate)
                  if (negate) flip(m0) else m0
                case SEnum(vs) =>
                  val m0 = F.lit(enumMsg(vs))
                  if (negate) flip(m0) else m0
                case SAny =>
                  F.lit(if (negate) "should not be any" else "should be any")
                case SSome =>
                  F.lit(
                    if (negate) "should not be some" else "should be some")
                case leaf =>
                  val m0 = F.lit(defaults.getOrElse(
                    mallispark.ir.Semantics.errorKey(leaf), "match"))
                  if (negate) flip(m0) else m0
              }
            }
            Seq(at(":not", msg))
          case _ => Seq.empty
        }
      }

    val defaultsCase = defaults.toSeq.sortBy(_._1)
      .foldRight(F.lit("unknown error"): Column) { case ((k, m), acc) =>
        F.when(keyCol === k, F.lit(m)).otherwise(acc)
      }
    val splicedCase = spliced.foldRight(defaultsCase) {
      case ((cond, msg), acc) => F.when(cond, msg).otherwise(acc)
    }
    val keyCase = keyOverrides.toSeq.sortBy(_._1).foldRight(splicedCase) {
      case ((k, m), acc) => F.when(keyCol === k, F.lit(m)).otherwise(acc)
    }
    // schema-carried :error/message props (SProps wrappers) are the
    // reference's property lookup (error.cljc:293-296); caller-supplied
    // pathOverrides layer on top (the options table wins, error.cljc
    // -resolve-direct-message order)
    (schemaMessageOverrides(root) ++ pathOverrides).toSeq.sortBy(_._1)
      .foldRight(keyCase) {
        case ((p, m), acc) => F.when(pathCol === p, F.lit(m)).otherwise(acc)
      }
  }

  /** `:error/message` props carried by the schema itself, keyed by
    * "/"-joined schema path (error.cljc:293-296 property lookup). */
  def schemaMessageOverrides(root: SchemaIR): Map[String, String] =
    mallispark.ir.SchemaOps.subschemas(root).collect {
      case (p, SchemaIR.SProps(np, _)) if np.errorMessage.isDefined =>
        p.mkString("/") -> np.errorMessage.get
    }.toMap

  /** `:error/path` redirects carried by the schema, keyed by schema
    * path (error.cljc:218-222 `-path`). */
  def schemaErrorPaths(root: SchemaIR): Map[String, Seq[String]] =
    mallispark.ir.SchemaOps.subschemas(root).collect {
      case (p, SchemaIR.SProps(np, _)) if np.errorPath.isDefined =>
        p.mkString("/") -> np.errorPath.get
    }.toMap

  /** Distributed `:error/path` redirect: rewrites a violation row's IN
    * path to `in ++ :error/path` when its schema node carries the prop —
    * the error.cljc:218-226 `-path`-over-`:in` choice as a codegen CASE
    * Column (no UDF). Apply to the `in` column before grouping /
    * humanizing. */
  def errorPathRedirect(root: SchemaIR,
                        pathCol: Column = F.col("schema_path"),
                        inCol: Column = F.col("in")): Column =
    schemaErrorPaths(root).toSeq.sortBy(_._1).foldRight(inCol) {
      case ((p, segs), acc) =>
        val suffix = segs.mkString("/")
        F.when(pathCol === p,
          F.when(inCol === "", F.lit(suffix))
            .otherwise(F.concat(inCol, F.lit("/" + suffix))))
          .otherwise(acc)
    }

  /** One humanized violation: (in-path, message). */
  final case class Humanized(in: Seq[String], message: String)

  /** `me/humanize` (error.cljc:379-395): errors → value-shaped nested map
    * of messages, keyed by the value path (`-push-in` semantics: messages
    * accumulate per path). Driver-side, for explain fixtures and report
    * rendering — NOT part of the distributed plan.
    *
    * `in` arrives in the engine-wide "/"-joined encoding (the same one
    * violation rows and oracle SQL use); a data key CONTAINING a slash
    * is therefore ambiguous in this representation — callers with such
    * keys should pass pre-split paths through [[errorValue]] instead. */
  def humanize(errors: Seq[(String, String)],
               overrides: Map[String, String] = Map.empty)
      : Map[Seq[String], Seq[String]] =
    errors
      .map { case (in, key) =>
        (if (in.isEmpty) Seq.empty[String] else in.split("/").toSeq) ->
          message(key, overrides)
      }
      .groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap

  /** Schema-aware humanize for explain output: each error arrives as
    * (schema-path, in-path, error-key); the schema's own `:error/message`
    * props resolve first (error.cljc:293-296) and `:error/path` props
    * REDIRECT the message to `in ++ :error/path` (error.cljc:218-226 —
    * the error_test.cljc:623-631 "passwords don't match" fixture). */
  def humanizeErrors(root: SchemaIR,
                     errors: Seq[(Seq[String], Seq[String], String)],
                     overrides: Map[String, String] = Map.empty)
      : Map[Seq[String], Seq[String]] = {
    val msgs = schemaMessageOverrides(root)
    val paths = schemaErrorPaths(root)
    errors
      .map { case (sp, in, key) =>
        val spKey = sp.mkString("/")
        (in ++ paths.getOrElse(spKey, Nil)) ->
          msgs.getOrElse(spKey, message(key, overrides))
      }
      .groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
  }

  /** Schema-aware SHAPED humanize: resolve each error's message and
    * redirected in-path like [[humanizeErrors]], then nest them into the
    * value's own structure via [[humanizeShaped]] — the full `me/humanize`
    * composition (explain → messages → `-push-in`). */
  def humanizeErrorsShaped(root: SchemaIR, value: Any,
                           errors: Seq[(Seq[String], Seq[String], String)],
                           overrides: Map[String, String] = Map.empty)
      : Any = {
    val msgs = schemaMessageOverrides(root)
    val paths = schemaErrorPaths(root)
    humanizeShaped(value, errors.map { case (sp, in, key) =>
      val spKey = sp.mkString("/")
      (in ++ paths.getOrElse(spKey, Nil)) ->
        msgs.getOrElse(spKey, message(key, overrides))
    })
  }

  /** Marker for an in-progress error vector while folding (the
    * reference's `^::error` metadata tag, error.cljc:183-184). */
  private final case class ErrVec(msgs: Vector[String])

  /** Value-SHAPED humanize — the reference's `-push-in` nesting
    * (error.cljc:188-215; shape fixtures error_test.cljc:105-180):
    * errors embed into the value's own structure — map keys carry
    * `Seq(messages)`, vector positions pad with null up to the deepest
    * error index, a map with BOTH its own and child errors parks the
    * root messages under `"malli/error"`, child errors win over a
    * parent's ("lose it"), and an error node stops deeper nesting.
    * `errors` are (in-path, message) pairs; numeric segments index
    * sequences. Returns null when there are no errors (humanize of a
    * valid value is nil). */
  def humanizeShaped(value: Any, errors: Seq[(Seq[String], String)]): Any = {
    def getIn(v: Any, k: String): Any = v match {
      case m: scala.collection.Map[_, _] =>
        m.asInstanceOf[scala.collection.Map[Any, Any]]
          .collectFirst { case (mk, mv) if String.valueOf(mk) == k => mv }
          .orNull
      case xs: Seq[_] => k.toIntOption
        .filter(i => i >= 0 && i < xs.size).map(xs(_)).orNull
      case _ => null
    }
    def getAcc(a: Any, k: String): Any = a match {
      case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]].getOrElse(k, null)
      case xs: Vector[_] =>
        k.toIntOption.filter(i => i >= 0 && i < xs.size)
          .map(xs(_)).orNull
      case _ => null
    }
    def push(a: Any, k: String, child: Any): Any = a match {
      case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]] + (k -> child)
      case xs: Vector[_] => k.toIntOption match {
        case Some(i) if i >= 0 =>
          val v0 = xs.asInstanceOf[Vector[Any]]
          val filled =
            if (i >= v0.size) v0 ++ Vector.fill(i - v0.size + 1)(null)
            else v0
          filled.updated(i, child)
        // a non-index or NEGATIVE key into a sequence shape collapses to
        // the "invalid type" marker (error.cljc -push; error_test 1271
        // pins [-1] into a vector value)
        case _ => ErrVec(Vector("invalid type"))
      }
      case _ => Map(k -> child)
    }
    def pushIn(a: Any, v: Any, path: Seq[String], msg: String): Any =
      path match {
        case p +: ps =>
          a match {
            case _: ErrVec => a // error present — do not go deeper
            case _ =>
              val a0 =
                if (a == null) v match {
                  case _: Seq[_] => Vector.empty[Any]
                  case _ => Map.empty[String, Any]
                } else a
              push(a0, p, pushIn(getAcc(a0, p), getIn(v, p), ps, msg))
          }
        case _ => a match {
          case _: Map[_, _] => pushIn(a, v, Seq("malli/error"), msg)
          case ErrVec(ms) => ErrVec(ms :+ msg)
          case xs: Vector[_] if xs.nonEmpty => a // children win — lose it
          case _ => ErrVec(Vector(msg))
        }
      }
    def render(x: Any): Any = x match {
      case ErrVec(ms) => ms.toSeq
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> render(v) }
      case xs: Vector[_] =>
        xs.map(x0 => if (x0 == null) null else render(x0)).toSeq
      case other => other
    }
    val acc = errors.foldLeft(null: Any) { case (a, (in, m)) =>
      pushIn(a, value, in, m)
    }
    if (acc == null) null else render(acc)
  }

  /** `me/error-value` (error.cljc:397-408): the input reshaped to only its
    * FAILING parts — leaves whose `in` path appears in `errIns` are kept;
    * with `maskValid` set, valid leaves become the mask string instead of
    * being dropped (the `::mask-valid-values` option, error.cljc:232-244).
    * Driver-side, like humanize. */
  def errorValue(value: Any, errIns: Set[Seq[String]],
                 maskValid: Option[String] = None): Any = {
    def go(v: Any, here: Seq[String]): Option[Any] = {
      val failingHere = errIns.contains(here)
      v match {
        // Rows pair naturally with explain output at report time —
        // convert to a field map so masking descends instead of
        // treating the whole row as one leaf (which would return every
        // column, defeating the masking)
        case r: org.apache.spark.sql.Row if !failingHere =>
          go(r.schema.fieldNames.zip(r.toSeq).toMap, here)
        case m: Map[_, _] if !failingHere =>
          val mm = m.asInstanceOf[Map[String, Any]]
          val kept = mm.flatMap { case (k, x) =>
            go(x, here :+ k).map(k -> _)
          }
          if (kept.nonEmpty) Some(kept) else None
        case s: Seq[_] if !failingHere =>
          val kept = s.zipWithIndex.flatMap { case (x, i) =>
            go(x, here :+ i.toString).map(i -> _)
          }
          if (kept.nonEmpty) Some(kept.toMap) else None
        case leaf =>
          if (failingHere || errIns.exists(_.startsWith(here))) Some(leaf)
          else maskValid.map(m => m)
      }
    }
    go(value, Seq.empty).getOrElse(Map.empty)
  }

  /** Spell-check suggestion for `::m/extra-key` (error.cljc:249-281):
    * closest known key by Levenshtein distance, if within tolerance
    * max(length/3, 1) like the reference's `-most-similar-to`. */
  def spellCheck(unknownKey: String, knownKeys: Set[String]): Option[String] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val tolerance = math.max(unknownKey.length / 3, 1)
    // ties break LEXICOGRAPHICALLY, not by hash-set iteration order —
    // adding an unrelated key to the schema must never flip the
    // suggestion (cross-run determinism, like everything else here)
    knownKeys.toSeq
      .map(k => k -> lev(unknownKey, k))
      .filter(_._2 <= tolerance)
      .sortBy { case (k, d) => (d, k) }
      .headOption.map(_._1)
  }
}
