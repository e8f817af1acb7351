package graft.ops

import graft.functions.BoundParam.param
import graft.functions.RegexFind
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graphite render-target expressions — the `?target=` surface of the
  * public render API (graphite-web render/evaluator.py +
  * render/grammar.py, reconstructed from public docs): a target string
  * composes series functions around a metric glob, e.g.
  * `summarize(perSecond(servers.*.req), '10min', 'sum')`. A graphite
  * user's dashboard queries run verbatim against the parquet store.
  *
  * Supported grammar:
  *
  * {{{
  *   target   := func '(' target (',' target)* (',' literal)* ')' | glob
  *   func     := 147 functions — the full graphite 1.1 dashboard
  *               surface (see [[Funcs]]): pointwise transforms, rates,
  *               the combine family + the aggregate/movingWindow/
  *               sortBy/filterSeries umbrella forms, trailing windows,
  *               percentiles, series selection, timeShift/timeStack,
  *               *SeriesLists positional pairing, mapSeries/
  *               reduceSeries, applyByNode/useSeriesAbove,
  *               seriesByTag/groupByTags/aliasByTags, Holt-Winters,
  *               consolidateBy/xFilesFactor annotations, generators,
  *               presentational passthroughs
  *   literal  := 'quoted' | "quoted" | number (sign/decimals/exponent)
  *   glob     := graphite metric pattern ({a,b}, *, ?, [...]);
  *               digit-leading and dashed nodes parse in series slots
  * }}}
  *
  * Evaluation follows graphite's two semantic rules exactly:
  *  - **History pre-fetch**: `movingAverage(_, N)` needs N·step of
  *    history before `from` — the requirement propagates to the leaf
  *    fetch ([[historyExtS]]), every stage computes over the extended
  *    range, and the final result is trimmed back to the request.
  *  - **Step tracking**: `summarize` coarsens the series step; stages
  *    above it (a rate's divisor, a window's row count) see the new
  *    step, exactly as graphite's TimeSeries carries `step`.
  *
  * This is the one implementation of each graphite function; the
  * graphite fixture keys in [[Fetch]] are target strings rendered here.
  *
  * Scale: the leaf is one glob-pruned scan whose per-metric group
  * explodes onto the request grid (density then propagates through
  * group-bys for free, no further densify), windows partition by
  * metric, and all cardinalities are bounded by the request range,
  * never data volume.
  */
object RenderTarget {

  sealed trait Expr
  final case class Leaf(glob: String) extends Expr
  final case class Call(name: String, children: Seq[Expr], args: Seq[String])
    extends Expr
  object Call {
    /** Single-child sugar, keeps call sites and tests terse. */
    def apply(name: String, child: Expr, args: Seq[String]): Call =
      Call(name, Seq(child), args)
  }

  /** Cross-series combines: N member series in, ONE series out (the
    * output metric is the function's own name, graphite-style).
    */
  private val CombineFuncs = Set(
    "sumSeries", "averageSeries", "minSeries", "maxSeries", "countSeries",
    "rangeOfSeries", "stddevSeries")

  /** The Holt-Winters anomaly family — the one genuinely SEQUENTIAL
    * recurrence in the render API (each bucket's state depends on the
    * previous bucket's and on the same phase one season back), which no
    * built-in window/aggregate expresses: evaluated per series via
    * `groupByKey(metric).flatMapGroups` over the request+bootstrap
    * window. Memory per series is O(window buckets) — request-bounded,
    * independent of table size, so the shape holds at 100 TB (the scan
    * is still the shared pruned leaf scan; only the tiny dense frame
    * enters the typed recursion).
    */
  private val HoltWintersFuncs = Set(
    "holtWintersForecast", "holtWintersConfidenceBands",
    "holtWintersAberration", "holtWintersConfidenceArea")

  /** Rendering hints with NO data semantics (color, line style, axis,
    * stacking, Cacti-style legend text): this engine serves series, not
    * pixels, so they pass their child through unchanged — but they must
    * PARSE, or every real dashboard target that styles its lines errors
    * out at the grammar.
    */
  private val PresentationFuncs = Set(
    "color", "dashed", "lineWidth", "secondYAxis", "stacked",
    "areaBetween", "cactiStyle", "alpha", "drawAsInfinite", "legendValue")

  /** graphite's named moving functions: each is `movingWindow` with a
    * fixed aggregator, as functions.py defines them.
    */
  private val MovingAliases = Map(
    "movingAverage" -> "average", "movingSum" -> "sum", "movingMin" -> "min",
    "movingMax" -> "max", "movingMedian" -> "median")

  /** Trailing-window functions: `f(series, N)` computes over the last N
    * points — all share movingAverage's history pre-fetch rule.
    */
  private val MovingFuncs = MovingAliases.keySet ++
    Set("movingWindow", "stdev", "exponentialMovingAverage")

  /** Functions that return their one child unchanged: the presentation
    * hints, the annotations that [[consolidationOf]] and [[xffOf]] read,
    * `mapSeries` (reduceSeries reads the node structure off the names
    * directly) and the bare sorts (the output contract already orders
    * rows by (metric, bucket_ts); the selecting form is
    * `limit(sortByX(…))`).
    */
  private val Passthrough = PresentationFuncs ++ Set(
    "consolidateBy", "xFilesFactor", "cumulative", "setXFilesFactor",
    "mapSeries", "sortByMaxima", "sortByTotal", "sortByName", "sortBy")

  /** Pointwise transforms: each row's new `value` from its old one, the
    * call's literal arguments and the series step. None propagates
    * through null arithmetic for free; each keeps the child's grid and
    * step, so it fuses into the child's projection under whole-stage
    * codegen (no extra shuffle or window).
    */
  private val Pointwise: Map[String, (Seq[String], Long) => Column] = {
    val v = col("value")
    Map(
      ("scale", (a, _) => round(v * argAt("scale", a, 0, "factor").toDouble, 6)),
      ("offset", (a, _) => round(v + argAt("offset", a, 0, "factor").toDouble, 6)),
      // graphite's literal-addition alias of offset
      ("add", (a, _) => round(v + argAt("add", a, 0, "constant").toDouble, 6)),
      ("absolute", (_, _) => abs(v)),
      ("transformNull", (a, _) =>
        coalesce(v, lit(a.headOption.map(_.toDouble).getOrElse(0.0)))),
      // datapoints beyond n become None (the series stays on the grid)
      ("removeBelowValue", (a, _) => when(v >= argAt("removeBelowValue", a, 0, "n").toDouble, v)),
      ("removeAboveValue", (a, _) => when(v <= argAt("removeAboveValue", a, 0, "n").toDouble, v)),
      ("logarithm", (a, _) =>
        when(v > 0, round(log(a.headOption.map(_.toDouble).getOrElse(10.0), v), 6))),
      ("pow", (a, _) => round(pow(v, argAt("pow", a, 0, "factor").toDouble), 6)),
      ("squareRoot", (_, _) => when(v >= 0, round(sqrt(v), 6))),
      ("invert", (_, _) => when(v =!= 0, round(lit(1.0) / v, 6))),
      // per-step values re-expressed per N seconds: × N/step, the
      // unit-conversion sibling of scale that tracks the series step
      ("scaleToSeconds", (a, step) =>
        round(v * (argAt("scaleToSeconds", a, 0, "seconds").toDouble / step), 6)),
      ("isNonNull", (_, _) => when(v.isNotNull, 1.0).otherwise(0.0)),
      ("sigmoid", (_, _) => round(lit(1.0) / (lit(1.0) + exp(-v)), 6)),
      ("exp", (_, _) => round(exp(v), 6)),
      // graphite's round(seriesList, precision); the frame already
      // carries 6-place rounding, so precision is capped there
      ("roundFunction", { (a, _) =>
        val prec = a.headOption.map(_.toInt).getOrElse(0)
        require(prec >= 0 && prec <= 6, "roundFunction precision must be in [0, 6]")
        round(v, prec)
      }),
      // ln(v / (1−v)); outside (0, 1) graphite emits None
      ("logit", (_, _) => when(v > 0 && v < 1, round(log(v / (lit(1.0) - v)), 6))))
  }

  /** Renames: each series' new `metric` from its old name and the call's
    * literal arguments; values and grid are unchanged.
    */
  private val Renames: Map[String, Seq[String] => Column] = {
    val parts = split(col("metric"), "\\.")
    Map(
      ("alias", a => lit(argAt("alias", a, 0, "newName"))),
      // all node indices join with '.'; nodes use Python list semantics
      // (-1 is the LAST dot-node)
      ("aliasByNode", a => concat_ws(".", a.map(n => nodeAt(parts, n.toInt)): _*)),
      ("aliasByMetric", _ => element_at(parts, -1)),
      ("aliasByTags", { a =>
        require(a.nonEmpty, "aliasByTags needs at least one tag")
        concat_ws(".", a.map(tagValue): _*)
      }),
      // metric node slice [start, stop): stop 0 (or absent) = to the
      // end, graphite's path-trimming helper
      ("substr", { a =>
        val start = a.headOption.map(_.toInt).getOrElse(0)
        val stop = a.lift(1).map(_.toInt).getOrElse(0)
        require(start >= 0 && stop >= 0 && (stop == 0 || stop > start),
          s"substr needs 0 <= start < stop (or stop 0 for end)")
        val sliceLen =
          if (stop == 0) greatest(size(parts) - start, lit(0))
          else lit(stop - start)
        array_join(slice(parts, lit(start + 1), sliceLen), ".")
      }),
      // the replacement is PYTHON re.sub syntax in graphite (\1 =
      // backreference): Java's replaceAll would read \1 as a literal '1'
      // and throw on a bare '$'
      ("aliasSub", a => regexp_replace(col("metric"), argAt("aliasSub", a, 0, "search"),
        pyReplacement(argAt("aliasSub", a, 1, "replace"))))
    )
  }

  /** Functions whose LEADING arguments are all series and whose first
    * literal argument (if any) is always quoted — i.e. an unquoted
    * digit-leading token before any literal can only be a metric. For
    * these, the grammar prefers the series parse even when the token is
    * a complete numeral (`3e5`, `10e2` — legal graphite node names that
    * are also well-formed exponents): `averageSeries(a, 3e5, b)` reads
    * `3e5` as a metric, while `scale(m, 1e3)` (not in this set) still
    * reads `1e3` as the number. Conservatively excludes every function
    * with an optional unquoted-numeric parameter (asPercent's total,
    * interpolate's limit, weightedAverage's node indices, ...).
    */
  private val SeriesArgFuncs = CombineFuncs ++ Set(
    "group", "unique", "powSeries", "diffSeries", "multiplySeries",
    "divideSeries", "fallbackSeries", "areaBetween",
    "divideSeriesLists", "sumSeriesLists", "diffSeriesLists",
    "multiplySeriesLists", "aggregateSeriesLists")

  /** graphite's threshold selectors as `filterSeries(series, stat, op, n)`:
    * the mean and the current value keep a series that ties the
    * threshold, the extremes compare strictly.
    */
  private val ThresholdAliases = Map(
    "averageAbove" -> ("average", ">="), "averageBelow" -> ("average", "<="),
    "currentAbove" -> ("current", ">="), "currentBelow" -> ("current", "<="),
    "maximumAbove" -> ("max", ">"), "maximumBelow" -> ("max", "<"),
    "minimumAbove" -> ("min", ">"), "minimumBelow" -> ("min", "<"))

  /** Every function name the grammar parses: the tables' and the named
    * sets' entries, and the functions that keep their own `eval` arm.
    */
  private val Funcs = CombineFuncs ++ MovingFuncs ++ HoltWintersFuncs ++
    Passthrough ++ SeriesArgFuncs ++ Pointwise.keySet ++ Renames.keySet ++
    ThresholdAliases.keySet ++ Set(
    "perSecond", "derivative", "nonNegativeDerivative", "integral",
    "integralByInterval", "keepLastValue", "interpolate", "changed", "delay",
    "summarize", "smartSummarize", "hitcount", "timeShift", "timeStack",
    "timeSlice", "linearRegression", "offsetToZero", "minMax",
    "aggregateLine", "nPercentile", "removeBelowPercentile",
    "removeAbovePercentile", "percentileOfSeries", "asPercent",
    "groupByNode", "groupByNodes", "groupByTags", "aggregate",
    "aggregateWithWildcards", "sumSeriesWithWildcards",
    "averageSeriesWithWildcards", "multiplySeriesWithWildcards",
    "weightedAverage", "reduceSeries", "applyByNode",
    "highest", "lowest", "highestMax", "highestAverage", "lowestAverage",
    "highestCurrent", "lowestCurrent", "mostDeviant", "filterSeries",
    "removeEmptySeries", "averageOutsidePercentile",
    "removeBetweenPercentile", "useSeriesAbove", "limit", "sortByMinima",
    "exclude", "grep", "seriesByTag", "aliasQuery", "compressPeriodicGaps",
    "constantLine", "threshold", "identity", "timeFunction", "time",
    "sinFunction", "sin", "randomWalk", "randomWalkFunction", "events",
    "verticalLine")
  /** Parse a target string. Globs may contain commas only inside
    * braces (graphite's own constraint), so argument splitting tracks
    * brace/paren depth.
    */
  def parse(s: String): Expr = {
    val (e, rest) = parseExpr(s.trim)
    require(rest.trim.isEmpty, s"trailing input after target: '$rest'")
    e
  }

  private def parseExpr(s: String): (Expr, String) = {
    val t = s.trim
    val ident = t.takeWhile(c => c.isLetterOrDigit || c == '_')
    if (Funcs.contains(ident) && t.drop(ident.length).trim.startsWith("(")) {
      val afterParen = t.drop(ident.length).trim.drop(1)
      val (first, r1) = parseExpr(afterParen)
      var rest = r1.trim
      val children = Seq.newBuilder[Expr] += first
      val args = Seq.newBuilder[String]
      // graphite's positional shape: series arguments first, then scalar
      // literals. A quote or numeric start marks the literal tail (which
      // means an unquoted glob STARTING with a digit can't follow a
      // series argument — quote-free graphite has the same ambiguity).
      var literalSeen = false
      while (rest.startsWith(",")) {
        val t2 = rest.drop(1).trim
        // In a [[SeriesArgFuncs]] function, a digit-leading token before
        // any literal is a metric even when it is ALSO a complete
        // numeral (`3e5`): these functions take no unquoted numerics in
        // their leading slots, so the series reading is the only one
        // that can be meant. Quotes and signs keep the literal path
        // (metrics cannot start with quote/'-'/'+').
        val seriesDigit = !literalSeen && SeriesArgFuncs.contains(ident) &&
          t2.headOption.exists(_.isDigit)
        val startsLiteral = !seriesDigit && t2.headOption.exists(c0 =>
          c0 == '\'' || c0 == '"' || c0 == '-' || c0 == '+' || c0.isDigit)
        if (literalSeen || startsLiteral) {
          val (arg, r2) = parseLiteral(t2)
          // digit-leading SERIES argument (e.g. `sumSeries(a.b, 2xx.count)`
          // or the reversed-IP shape `10-0-0-1.cpu`): the numeric parse
          // stops at the first letter/glob/dash char — when one follows
          // and no literal has been seen yet, the token is a metric whose
          // first node starts with a digit, not a number. Re-parse it as
          // a Leaf (the leaf branch consumes to the next top-level ','
          // or ')'). Sign-started tokens (`-1h`) never re-parse: metrics
          // cannot start with '+'/'-', so they stay on the literal path
          // and fail loudly at parse time, and '-' right after digits is
          // unambiguous too — a numeric literal never continues with it.
          val globContinues = !literalSeen && t2.head.isDigit &&
            r2.headOption.exists(c => c.isLetter || "*?{[_-.".contains(c))
          if (globContinues) {
            val (e2, r2b) = parseExpr(t2)
            children += e2
            rest = r2b.trim
          } else {
            args += arg
            rest = r2.trim
            literalSeen = true
          }
        } else {
          val (e2, r2) = parseExpr(t2)
          children += e2
          rest = r2.trim
        }
      }
      require(rest.startsWith(")"), s"expected ')' in target at: '$rest'")
      (Call(ident, children.result(), args.result()), rest.drop(1))
    } else if (t.headOption.exists(c => c == '\'' || c == '"')) {
      // a QUOTED token in a series slot (seriesByTag's tag expressions,
      // generator names): the quoted body may contain ',' ')' freely —
      // capture it whole as a quoted Leaf ([[unquote]] strips later)
      val (body, rest) = parseLiteral(t)
      (Leaf(s"${t.head}$body${t.head}"), rest)
    } else {
      // leaf glob: consume until a top-level ',' or ')' (braces nest)
      var depth = 0
      val g = t.takeWhile {
        case '{' | '[' => depth += 1; true
        case '}' | ']' => depth -= 1; true
        case ',' | ')' if depth == 0 => false
        case _ => true
      }
      require(g.nonEmpty, s"empty metric glob in target at: '$t'")
      (Leaf(g.trim), t.drop(g.length))
    }
  }

  /** Strip one layer of quotes off a Leaf that the grammar's
    * series-argument slot captured verbatim (generator names like
    * `identity('x')`).
    */
  private def unquote(s: String): String =
    if (s.length >= 2 && (s.head == '\'' || s.head == '"') && s.last == s.head)
      s.substring(1, s.length - 1)
    else s

  /** The n-th dot-node of a split metric name under PYTHON list
    * semantics: node -1 is the LAST component (ubiquitous in graphite
    * dashboards: `aliasByNode(..., -1)` legends the leaf name).
    * `try_element_at` is 1-based and counts negatives from the end, so
    * n >= 0 maps to n+1 and n < 0 passes through; the try_ form returns
    * NULL (the plain one ERRORS) past either end, matching getItem's
    * out-of-range behavior that positive indices always had.
    */
  private def nodeAt(parts: Column, n: Int): Column =
    if (n >= 0) try_element_at(parts, lit(n + 1))
    else try_element_at(parts, lit(n))

  /** aliasQuery's legend formatter: the python %-format subset real
    * dashboards use (`%d`, `%s`, `%f`, `%.Nf`), applied to the
    * sub-query's current value with CROSS-ENGINE-PINNED rendering:
    * `%d` truncates toward zero (python's behavior; Spark's
    * long-cast and DuckDB's `trunc` agree, while a bare DuckDB
    * BIGINT cast would ROUND), `%.Nf` routes through the pinned
    * half-up round ([[Buckets.round6]]'s three-op form at N places)
    * and a DECIMAL(38, N) cast so both engines print identical
    * digits — `format_string`/`printf` disagree at binary midpoints —
    * and `%f` is `%.6f` (python's default precision).
    */
  private def formatAlias(pattern: String, v: Column): Column = {
    val m = java.util.regex.Pattern
      .compile("%(?:\\.(\\d+))?([dsf])").matcher(pattern)
    require(m.find(),
      s"aliasQuery newName '$pattern' carries no %d/%s/%f spec")
    val (start, end, prec, spec) =
      (m.start, m.end, m.group(1), m.group(2))
    // exactly ONE spec: a second %d would otherwise pass through as
    // literal text — a silently wrong legend (python raises on the
    // arg-count mismatch; loud beats quiet)
    require(!m.find(),
      s"aliasQuery newName '$pattern' carries more than one %-spec")
    // python's %% renders a literal percent; any OTHER bare % in the
    // fixed text is an unsupported spec and must not ship silently
    def depct(sgm: String): String = {
      require(!sgm.replace("%%", "").contains("%"),
        s"aliasQuery newName '$pattern': unsupported %-spec in '$sgm'")
      sgm.replace("%%", "%")
    }
    val prefix = depct(pattern.substring(0, start))
    val suffix = depct(pattern.substring(end))
    val rendered = spec match {
      case "d" | "s" =>
        // python gives %.Nd zero-padding and %.Ns truncation semantics;
        // silently ignoring the precision would render a WRONG legend,
        // so reject loudly until someone needs it
        require(prec == null,
          s"aliasQuery %-spec '%.$prec$spec': precision is " +
            "only supported on %f")
        if (spec == "d") v.cast("long").cast("string")
        else v.cast("string")
      case _ =>
        val n = Option(prec).map(_.toInt).getOrElse(6)
        require(n >= 0 && n <= 6,
          "aliasQuery %f precision must be in [0, 6]")
        val p = math.pow(10, n)
        (floor(v * lit(p) + lit(0.5)) / lit(p))
          .cast(s"decimal(38, $n)").cast("string")
    }
    concat(lit(prefix), rendered, lit(suffix))
  }

  /** Translate a PYTHON `re.sub` replacement string (what graphite
    * users write: `\1` = group backreference, `$` = a literal dollar)
    * into Java `Matcher.replaceAll` syntax (`$1` = backreference,
    * `\$` = literal dollar), so `aliasQuery('…(\\d+)', 'chan.\\1')`
    * rewrites names the way graphite documents instead of producing
    * the literal character `1` (Java reads `\1` as an escaped '1') or
    * throwing on a `$` in the replacement.
    */
  private[ops] def pyReplacement(r: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < r.length) {
      r.charAt(i) match {
        case '\\' if i + 1 < r.length && r.charAt(i + 1).isDigit =>
          sb.append('$').append(r.charAt(i + 1)); i += 2
        case '\\' if i + 1 < r.length && r.charAt(i + 1) == '\\' =>
          sb.append("\\\\"); i += 2
        case '$' => sb.append("\\$"); i += 1
        case c => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  private def parseLiteral(s: String): (String, String) = s.headOption match {
    case Some(q @ ('\'' | '"')) =>
      val body = s.drop(1).takeWhile(_ != q)
      require(s.length > body.length + 1, s"unterminated string in target: '$s'")
      (body, s.drop(body.length + 2))
    case Some(c0) if c0 == '-' || c0 == '+' || c0.isDigit =>
      // numeric literal: optional sign, digits, optional decimal part,
      // optional exponent — scale(m, 0.5), offset(m, -3) and
      // scale(m, 1e3) are all graphite-legal unquoted. The exponent is
      // consumed only when digits actually follow the e/E(±), so a
      // digit-leading metric like `2errors.count` keeps its 'e' for the
      // Leaf re-parse above.
      val sign = if (c0 == '-' || c0 == '+') 1 else 0
      val num = s.drop(sign).takeWhile(c => c.isDigit || c == '.')
      require(num.nonEmpty && num.head.isDigit,
        s"expected numeric literal in target at: '$s'")
      val afterNum = s.drop(sign + num.length)
      val expLen = afterNum.headOption match {
        case Some('e' | 'E') =>
          val es = if (afterNum.drop(1).headOption.exists(c => c == '-' || c == '+')) 2 else 1
          val ed = afterNum.drop(es).takeWhile(_.isDigit)
          if (ed.nonEmpty) es + ed.length else 0
        case _ => 0
      }
      val len = sign + num.length + expLen
      (s.take(len), s.drop(len))
    case _ =>
      val tok = s.takeWhile(c => c.isLetterOrDigit)
      require(tok.nonEmpty, s"expected literal in target at: '$s'")
      (tok, s.drop(tok.length))
  }

  /** Graphite time-offset string → seconds: number + unit word
    * (render docs: s/sec, min, h/hour, d/day, w/week; bare number =
    * seconds). `min` is minutes — graphite reserves `mon` for months,
    * which whisper-range queries don't need.
    */
  def durationS(s: String): Long = {
    val t = s.trim.toLowerCase
    val digits = t.takeWhile(_.isDigit)
    require(digits.nonEmpty, s"invalid duration '$s'")
    val n = digits.toLong
    val mult = t.drop(digits.length) match {
      case "" | "s" | "sec" | "secs" | "second" | "seconds" => 1L
      case "min" | "mins" | "minute" | "minutes" => 60L
      case "h" | "hour" | "hours" => 3600L
      case "d" | "day" | "days" => 86400L
      case "w" | "week" | "weeks" => 604800L
      case u => throw new IllegalArgumentException(s"unknown duration unit '$u' in '$s'")
    }
    n * mult
  }

  /** The metric globs at the expression's leaves — what a source-side
    * planner can prune FILES by before any byte is read (the wsp tree
    * walk accepts them as its `metricGlob` read option).
    */
  def leafGlobs(e: Expr): Seq[String] = e match {
    case Leaf(g) => Seq(g)
    // seriesByTag's children are tag EXPRESSIONS, not metric globs —
    // nothing a glob-pruning source (or the shared-scan regex union)
    // can use
    case Call("seriesByTag", _, _) => Nil
    // events counts from the raw point stream with its own pushed
    // filter — its tag strings are not globs for the shared scan
    case Call("events", _, _) => Nil
    // verticalLine's child is an attime STRING, not a glob; aliasQuery's
    // derived queries fetch from the base points directly (its series
    // child still contributes normally)
    case Call("verticalLine", _, _) => Nil
    // applyByNode evaluates its TEMPLATE once per node-prefix: the
    // scan must cover every metric the template can reach, so its
    // globs join the union with `%` widened to an any-prefix wildcard
    // of the right node depth
    case Call("applyByNode", cs, args) =>
      cs.flatMap(leafGlobs) ++
        leafGlobs(parse(applyTemplate(args).replace("%",
          Seq.fill(args.head.toInt + 1)("*").mkString("."))))
    // useSeriesAbove fetches the search→replace REWRITTEN names: the
    // literal substitution applied to the child's glob covers them
    // (the eval case applies the SAME literal substitution in-plan via
    // Pattern.quote, so the two sides agree by construction)
    case Call(f @ "useSeriesAbove", cs, args) =>
      val base = cs.flatMap(leafGlobs)
      base ++ base.map(_.replace(unquote(argAt(f, args, 1, "search")),
        unquote(argAt(f, args, 2, "replace"))))
    case Call(_, cs, _) => cs.flatMap(leafGlobs)
  }

  /** applyByNode's template argument (2nd arg; the 1st is the node). */
  private def applyTemplate(args: Seq[String]): String = unquote(args(1))

  /** The tree's `seriesByTag` selections, each as its tag expressions.
    * Their predicates join the glob regexes in the shared scan's
    * pre-filter, and they count with the glob leaves toward the
    * shared-scan fence decision (see leafSelect): a target mixing ONE
    * glob with ONE tag selection still has two consumers of the shared
    * aggregate, and an unfenced predicate on either side splits them
    * back into two scans.
    */
  private def tagSelections(e: Expr): Seq[Seq[String]] = e match {
    case Leaf(_) => Nil
    case Call("seriesByTag", cs, args) => Seq(tagExprs(cs, args))
    case Call(_, cs, _) => cs.flatMap(tagSelections)
  }

  /** seriesByTag's tag expressions: every quoted argument is one. */
  private def tagExprs(cs: Seq[Expr], args: Seq[String]): Seq[String] = {
    val exprs = cs.collect { case Leaf(g) => unquote(g) } ++ args
    require(exprs.nonEmpty && cs.forall(_.isInstanceOf[Leaf]),
      "seriesByTag takes quoted tag expressions, e.g. " +
        "seriesByTag('name=cpu', 'dc=~us-.*')")
    exprs
  }

  /** Compile one graphite tag expression (`tag=value`, `tag!=value`,
    * `tag=~regex`, `tag!=~regex`; `name` is the pseudo-tag for the
    * metric's name part) into a predicate over the
    * `name;tag1=v1;tag2=v2` metric string. Regex matches anchor at the
    * START of the tag value, graphite's rule.
    */
  private[ops] def tagPredicate(e: String): Column = {
    val ops = Seq("!=~", "=~", "!=", "=")
    val op = ops.find(o => e.indexOf(o) > 0).getOrElse(
      throw new IllegalArgumentException(s"invalid tag expression '$e'"))
    val k = e.substring(0, e.indexOf(op))
    val v = e.substring(e.indexOf(op) + op.length)
    val valCol =
      if (k == "name") substring_index(col("metric"), ";", 1)
      else regexp_extract(col("metric"),
        ";" + java.util.regex.Pattern.quote(k) + "=([^;]*)", 1)
    op match {
      case "="   => valCol === v
      case "!="  => valCol =!= v
      case "=~"  => valCol.rlike("^(?:" + v + ")")
      case "!=~" => !valCol.rlike("^(?:" + v + ")")
    }
  }

  /** Extract a tag's value column from the tagged metric string. */
  private def tagValue(t: String): Column =
    if (t == "name") substring_index(col("metric"), ";", 1)
    else regexp_extract(col("metric"),
      ";" + java.util.regex.Pattern.quote(t) + "=([^;]*)", 1)

  /** timeShift's offset in seconds. Graphite's implicit sign is MINUS
    * (shift back in time); the explicit `+` form would need buckets past
    * `until`, which the request-bounded fetch never reads — rejected.
    */
  def shiftS(arg: String): Long = {
    val t = arg.trim
    require(!t.startsWith("+"),
      s"timeShift '+' (forward shift) needs data past `until` — unsupported")
    durationS(t.stripPrefix("-"))
  }

  /** Seconds of history below `from` the expression needs fetched —
    * the max over children, so every member of a combine sees the
    * deepest requirement's extension.
    */
  def historyExtS(e: Expr, spp: Int, fromS: Long = 0L, untilS: Long = 0L,
      tz: java.time.ZoneId = java.time.ZoneOffset.UTC): Long = e match {
    case Leaf(_) => 0L
    case Call(f, Seq(c), args) if MovingFuncs(f) =>
      historyExtS(c, spp, fromS, untilS, tz) + windowPts(args.head, stepS(c, spp)) * stepS(c, spp)
    case Call(f, Seq(c), args) if HoltWintersFuncs(f) =>
      // bootstrap rounded UP to the child's step: a non-multiple (e.g.
      // '90s' over a 60s leaf) would shift extFromI off the alignTs
      // bucket grid, the dense spine would match nothing, and the
      // render would be silently all-null (r15 review)
      val st = stepS(c, spp)
      val boot = hwBootstrapS(args)
      historyExtS(c, spp, fromS, untilS, tz) + ((boot + st - 1) / st) * st
    case Call("timeShift", Seq(c), args) =>
      historyExtS(c, spp, fromS, untilS, tz) + shiftS(args.head)
    case Call("timeStack", Seq(c), args) =>
      // deepest copy: shiftEnd × unit back in time. All three args are
      // optional in graphite (defaults '1d', 0, 7) — a bare
      // timeStack(series) must render the default stack, not throw an
      // index error before evaluation (r15 review)
      historyExtS(c, spp, fromS, untilS, tz) +
        args.lift(2).map(_.toLong).getOrElse(7L) *
        durationS(args.headOption.getOrElse("1d"))
    case Call("linearRegression", Seq(c), args)
        if args.nonEmpty && untilS > 0 =>
      // startSourceAt may reach back before the display window: extend
      // the leaf scan so the fit's source points exist in the frame
      // (request times are threaded only from [[evaluate]]; the
      // time-less overload specs use cannot — and need not — see this).
      // The extension is fromI − lo with lo the fit's own step-floored
      // bound: both are multiples of spp (step is), so extFromI stays
      // ON the alignTs bucket grid — a raw fromS − src delta would
      // desync the whole spine — and reaches the fit's first bucket
      // exactly, not one short.
      val src = AtTime.parse(unquote(args.head), untilS, tz)
      val step = stepS(c, spp)
      val lo = Math.floorDiv(src, step) * step
      val (fromI, _) = Fetch.fetchWindow(fromS, untilS, spp)
      historyExtS(c, spp, fromS, untilS, tz) + Math.max(0L, fromI - lo)
    case Call("applyByNode", cs, args) =>
      // the template may carry its own history need (a movingAverage
      // inside it); probe it with the widened wildcard prefix
      (cs.map(historyExtS(_, spp, fromS, untilS, tz)) :+
        historyExtS(parse(applyTemplate(args).replace("%",
          Seq.fill(args.head.toInt + 1)("*").mkString("."))), spp, fromS, untilS, tz)).max
    case Call(_, cs, _) => cs.map(historyExtS(_, spp, fromS, untilS, tz)).max
  }

  /** Output step of the expression (summarize coarsens it; a combine's
    * members must agree).
    */
  def stepS(e: Expr, spp: Int): Long = e match {
    case Leaf(_) => spp.toLong
    case Call("summarize" | "smartSummarize", Seq(c), args) =>
      val iv = durationS(args.head)
      require(iv % stepS(c, spp) == 0,
        s"summarize interval ${args.head} must be a multiple of the series step")
      iv
    case Call("hitcount", Seq(c), args) =>
      // hitcount coarsens exactly like summarize (eval emits
      // iv-aligned buckets) — without this case a movingAverage above
      // hitcount pre-fetched n×LEAF-step of history instead of
      // n×interval, and a combine over hitcount + summarize members
      // failed the shared-step require despite agreeing grids (r15
      // review)
      durationS(args.head)
    // generators with their OWN step argument: report exactly what
    // eval emits, or a combine would pass its same-step require while
    // unioning misaligned grids (silent 4-of-5-buckets-missing sums)
    case Call("randomWalk" | "randomWalkFunction", _, args) =>
      args.headOption.map(_.toLong).getOrElse(60L)
    case Call("sinFunction" | "sin", _, args) =>
      args.lift(1).map(_.toLong).getOrElse(spp.toLong)
    // the marker series is emitted at step 1 (graphite's two 1-second
    // points); compressPeriodicGaps reports its CHILD's step — the
    // per-series detected step is data-dependent (graphite's own
    // return mixes steps the same way)
    case Call("verticalLine", _, _) => 1L
    case Call("compressPeriodicGaps", Seq(c), _) => stepS(c, spp)
    case Call(n, cs, _) =>
      // verticalLine markers are step-exempt: their whole point is to
      // overlay a data series (`group(cpu.load, verticalLine(…))`), so
      // they must not trip the shared-step requirement — the marker's
      // two rows ride along whatever grid the real members agree on
      val steps = cs.filterNot(isMarker).map(stepS(_, spp)).distinct
      if (steps.isEmpty) 1L
      else {
        require(steps.size == 1,
          s"$n: member series must share one step (got ${steps.mkString(", ")})")
        steps.head
      }
  }

  /** A subtree that evaluates to a verticalLine marker series —
    * possibly styled or relabeled (`alias(verticalLine(…), 'deploy')`,
    * `color(…)`, any presentation wrapper: the NORMAL way a marker is
    * drawn). Step-exemption must see through those wrappers, or the
    * exemption only covers the bare form nobody writes.
    */
  private def isMarker(e: Expr): Boolean = e match {
    case Call("verticalLine", _, _) => true
    case Call(f, Seq(c), _)
        if PresentationFuncs(f) || f == "alias" || f == "aliasSub" =>
      isMarker(c)
    case _ => false
  }

  /** graphite 1.1's named-aggregator vocabulary as a per-group Column.
    * Called directly by `highest`/`lowest` (with the aliases rewritten
    * onto them: `highestMax`, `highestAverage`, `lowestAverage`,
    * `mostDeviant`, `limit(sortByMaxima|sortByTotal|sortBy(…))`),
    * `highestCurrent`/`lowestCurrent`, `filterSeries` (with the
    * `*Above`/`*Below` aliases) and `movingWindow`; `summarize`,
    * `aggregate`, `aggregateWithWildcards`, `aggregateLine`,
    * `groupByNode(s)` and `groupByTags` reach it through
    * [[summarizeAggOrdered]]. `last`/`current` pick the value at the
    * latest known bucket by the caller's ordering `lastBy`:
    * [[lastInSeries]] or [[lastAcrossSeries]].
    */
  private def summarizeAgg(func: String, c: Column, lastBy: Column): Column = func match {
    case "sum" | "total" => sum(c)
    case "avg" | "average" => avg(c)
    case "max" => max(c)
    case "min" => min(c)
    // the continuous median; unlike `median`, it accepts a rows frame
    case "median" => percentile(c, lit(0.5))
    case "count" => count(c).cast("double")
    case "range" | "rangeOf" => max(c) - min(c)
    case "stddev" => stddev_pop(c)
    case "last" | "current" =>
      max_by(c, when(c.isNotNull, lastBy))
    case f => throw new IllegalArgumentException(s"unknown aggregation '$f'")
  }

  /** `last`/`current` within one series (summarize, movingWindow,
    * per-series statistics): the bucket alone decides, and the scalar
    * key keeps the aggregate a hash aggregate.
    */
  private def lastInSeries: Column = col("bucket_ts")

  /** `last`/`current` in a per-bucket combine (aggregate,
    * aggregateWithWildcards, groupByNode(s), groupByTags): every member
    * shares the bucket, so the METRIC breaks the tie — graphite's
    * safeLast over list (= name) order; a bare bucket key would leave
    * the pick to encounter order. The struct key plans a sort aggregate.
    */
  private def lastAcrossSeries: Column = struct(col("bucket_ts"), col("metric"))

  /** [[summarizeAgg]] for OUTPUT-bearing grouped contexts: the one
    * order-sensitive float case, `avg`, is pinned to the shared exact
    * fixed-point mean ([[Rollup.gridMean6]]) so the group mean is
    * bit-identical across partitionings and engines — an unordered
    * partial-merge avg over raw doubles
    * of 6-decimal grid values divides onto a round-half midpoint for
    * 1/K of buckets when the member count K is even, and the merge
    * order then decides the 6th decimal (the r10 `dsir_weight` class).
    * Every other named aggregator is order-insensitive (min/max/count/
    * median/last sort or select; sums of 6-decimal values have a zero
    * 7th decimal, never a midpoint), so it stays on the plain form —
    * as do ranking/filter contexts (sortBy, filterSeries, highest/
    * lowest: an ulp can only flip a selection on a macroscopically
    * exact tie between DIFFERENT series). Window contexts cannot take
    * the fold wrapper's `.over`: movingWindow pins its window mean as
    * its own frame-ordered fold instead.
    */
  private def summarizeAggOrdered(func: String, c: Column, lastBy: Column): Column =
    func match {
      case "avg" | "average" =>
        Rollup.gridMean6(c)
      case _ => summarizeAgg(func, c, lastBy)
    }

  /** The per-series ordered window: each series' rows by bucket. */
  private val bySeries = Window.partitionBy(col("metric")).orderBy(col("bucket_ts"))

  /** Shared counter-delta kernel for nonNegativeDerivative/perSecond:
    * per-series lag; None on gaps; a decrease is None UNLESS `maxValue`
    * is given, in which case it is a counter wrap and the recovered
    * delta is `maxValue − prev + value + 1` (graphite's rule; a value
    * above maxValue still yields None). `div` scales the delta — 1 for
    * the derivative, the series step for the rate.
    */
  private def counterDelta(df: DataFrame, maxValue: Option[Double],
      div: Column): DataFrame = {
    val delta = maxValue match {
      case None =>
        when(col("value") >= col("prev"), col("value") - col("prev"))
      case Some(mx) =>
        // graphite's nonNegativeDelta: a value above the counter's
        // ceiling is None outright; a wrap recovers only if prev was
        // itself within the ceiling
        when(col("value") > mx, lit(null).cast("double"))
          .when(col("value") >= col("prev"), col("value") - col("prev"))
          .when(col("prev") <= mx, lit(mx) - col("prev") + col("value") + 1)
    }
    df.withColumn("prev", lag(col("value"), 1).over(bySeries))
      .withColumn("value",
        when(col("value").isNotNull && col("prev").isNotNull,
          Buckets.round6(delta / div)))
      .select(col("metric"), col("bucket_ts"), col("value"))
  }

  /** graphite's STRICT safeMul as one grouped aggregate: the per-group
    * product of member values, None the moment ANY member is None
    * (unlike the None-as-0 sum family). No product aggregate exists in
    * Spark — collect the member-count-bounded values and fold; the
    * known-vs-total count pair enforces strictness. Shared by
    * multiplySeries, aggregate('multiply') and
    * aggregateWithWildcards('multiply').
    */
  private def strictProduct(df: DataFrame, groupCols: Seq[Column],
      metricOut: Column): DataFrame =
    df.groupBy(groupCols: _*)
      // collect (metric, value) structs and SORT before folding:
      // collect_list order is partition-arrival order, and FP multiply
      // is not associative — an unsorted fold can flip the 6th decimal
      // across runs (the hash-determinism rule powSeries already
      // follows). Member metrics are unique within a group, so the
      // sort is total.
      .agg(sort_array(collect_list(struct(col("metric"), col("value"))))
          .as("vs"),
        count(col("value")).as("kn"), count(lit(1)).as("tot"))
      .select(metricOut.as("metric"), col("bucket_ts"),
        when(col("kn") === col("tot"),
          round(aggregate(col("vs"), lit(1.0),
            (acc, x) => acc * x.getField("value")), 6))
          .as("value"))

  /** One series per `key` and bucket: the named aggregate `func` over
    * the bucket's members, beside any `more` aggregates. Shared by
    * groupByNode(s), groupByTags, aggregate and aggregateWithWildcards.
    */
  private def reduceBy(df: DataFrame, key: Column, func: String,
      more: Column*): DataFrame =
    df.groupBy(key.as("metric"), col("bucket_ts"))
      .agg(round(summarizeAggOrdered(func, col("value"), lastAcrossSeries), 6).as("value"),
        more: _*)

  /** A window argument that is either an integer POINT COUNT or a
    * quoted DURATION ('5min') converted to points at the series step —
    * graphite accepts both across the whole moving-window family.
    */
  private def windowPts(arg: String, step: Long): Long = {
    val t = arg.trim
    if (t.forall(_.isDigit)) t.toLong
    else {
      val s = durationS(t)
      require(s % step == 0 && s >= step,
        s"window '$arg' must be a multiple of the series step")
      s / step
    }
  }

  /** Argument `i` of render function `f`: a target that lacks it fails
    * naming the function and the argument, not with an index error.
    */
  private def argAt(f: String, args: Seq[String], i: Int, name: String): String =
    args.lift(i).getOrElse(
      throw new IllegalArgumentException(s"$f: missing argument '$name'"))

  /** A selector's series count, its first argument: present and positive. */
  private def countArg(f: String, args: Seq[String]): Int = {
    val n = argAt(f, args, 0, "n").toInt
    require(n > 0, s"$f count must be positive")
    n
  }

  /** A percentile, the first argument: present and in (0, 100]. */
  private def percentArg(f: String, args: Seq[String]): Double = {
    val n = argAt(f, args, 0, "n").toDouble
    require(n > 0 && n <= 100, s"$f n must be in (0, 100]")
    n
  }

  /** The `consolidateBy` annotation in the tree, if any — graphite
    * stamps it per-series; this engine applies the first one found to
    * the whole target (one consolidation per render frame).
    */
  def consolidationOf(e: Expr): Option[String] = e match {
    case Leaf(_) => None
    case Call("consolidateBy", cs, args) =>
      args.headOption.orElse(cs.flatMap(consolidationOf).headOption)
    // graphite's cumulative(series) is sugar for consolidateBy('sum')
    case Call("cumulative", cs, _) =>
      Some("sum")
    case Call(_, cs, _) => cs.flatMap(consolidationOf).headOption
  }

  /** The `xFilesFactor` annotation in the tree, if any (render-API xff:
    * a consolidated bucket is None unless at least this fraction of its
    * input slots are known).
    */
  def xffOf(e: Expr): Option[Double] = e match {
    case Leaf(_) => None
    case Call("xFilesFactor" | "setXFilesFactor", cs, args) =>
      args.headOption.map(_.toDouble).orElse(cs.flatMap(xffOf).headOption)
    case Call(_, cs, _) => cs.flatMap(xffOf).headOption
  }

  /** Uniform Holt-Winters argument shape across the family:
    * `f(series[, delta[, bootstrap[, seasonality]]])` (graphite's
    * forecast takes no delta — passing one is accepted and ignored
    * there, keeping the positions stable). Defaults: delta 3,
    * bootstrap 7d, season 1d — graphite's.
    */
  /** The family's output rounding: the SHARED pinned 6-decimal formula
    * ([[Buckets.round6]]'s `floor(x·1e6 + 0.5)/1e6` three-op form),
    * used by the recurrence arms and the band-algebra key so the
    * algebra under test IS the deployed algebra — and so the
    * recursive-CTE oracle ([[renderTargetHoltSql]]) can restate the
    * round op-for-op instead of relying on native round agreement.
    */
  private def hwR6(x: Double): Double =
    math.floor(x * 1e6 + 0.5) / 1e6

  /** Confidence-band algebra around a forecast point: `pred ± delta·dev`
    * (absent forecast → absent band). Pure and engine-independent —
    * [[renderTargetHoltBands]] pins it against a SQL oracle over a
    * shared synthetic forecast column.
    */
  private[ops] def hwUpper(pred: Option[Double], dev: Double,
      delta: Double): Option[Double] = pred.map(x => hwR6(x + delta * dev))

  private[ops] def hwLower(pred: Option[Double], dev: Double,
      delta: Double): Option[Double] = pred.map(x => hwR6(x - delta * dev))

  /** Aberration clamp: how far the actual value escapes the band
    * (0 inside the band or when either side is absent).
    */
  private[ops] def hwAberr(actual: Option[Double], pred: Option[Double],
      dev: Double, delta: Double): Double =
    (actual, pred) match {
      case (Some(a), Some(p)) =>
        val up = p + delta * dev
        val lo = p - delta * dev
        if (a > up) hwR6(a - up) else if (a < lo) hwR6(a - lo) else 0.0
      case _ => 0.0
    }

  private def hwDelta(args: Seq[String]): Double =
    args.headOption.map(_.toDouble).getOrElse(3.0)
  private def hwBootstrapS(args: Seq[String]): Long =
    args.lift(1).map(durationS).getOrElse(604800L)
  private def hwSeasonS(args: Seq[String]): Long =
    args.lift(2).map(durationS).getOrElse(86400L)

  /** One series' additive triple-exponential-smoothing pass (graphite's
    * `holt_winters_analysis`, reconstructed from the public render-API
    * docs; α=0.1, β=0.0035, γ=0.1): per slot, returns (prediction,
    * deviation). Gaps contribute a zeroed seasonal state and carry the
    * pending prediction, as graphite does; slots before one season has
    * accumulated read zero seasonal coefficients.
    */
  private[ops] def hwAnalysis(
      values: Array[Option[Double]],
      season: Int): Array[(Option[Double], Double)] = {
    val alpha = 0.1; val beta = 0.0035; val gamma = 0.1
    val n = values.length
    val intercepts = new Array[java.lang.Double](n)
    val slopes = new Array[Double](n)
    val seasonals = new Array[Double](n)
    val deviations = new Array[Double](n)
    val out = new Array[(Option[Double], Double)](n)
    def seasonalAt(i: Int): Double =
      if (i - season >= 0) seasonals(i - season) else 0.0
    def deviationAt(i: Int): Double =
      if (i - season >= 0) deviations(i - season) else 0.0
    var nextPred: Option[Double] = None
    var i = 0
    while (i < n) {
      values(i) match {
        case None =>
          intercepts(i) = null; slopes(i) = 0.0; seasonals(i) = 0.0
          deviations(i) = 0.0
          out(i) = (nextPred, 0.0)
          nextPred = None
        case Some(actual) =>
          val (lastIntercept, lastSlope, prediction) =
            if (i == 0) (actual, 0.0, Some(actual))
            else {
              val li = if (intercepts(i - 1) == null) actual
                       else intercepts(i - 1).doubleValue
              (li, slopes(i - 1), nextPred)
            }
          val lastSeasonal = seasonalAt(i)
          val intercept =
            alpha * (actual - lastSeasonal) + (1 - alpha) * (lastIntercept + lastSlope)
          val slope = beta * (intercept - lastIntercept) + (1 - beta) * lastSlope
          val seasonal = gamma * (actual - intercept) + (1 - gamma) * lastSeasonal
          val deviation =
            gamma * Math.abs(actual - prediction.getOrElse(0.0)) +
              (1 - gamma) * deviationAt(i)
          intercepts(i) = intercept; slopes(i) = slope
          seasonals(i) = seasonal; deviations(i) = deviation
          out(i) = (prediction, deviation)
          nextPred = Some(intercept + slope + seasonalAt(i + 1))
      }
      i += 1
    }
    out
  }

  /** maxDataPoints consolidation functions (`consolidateBy`'s domain —
    * graphite render docs). `first`/`last` pick by slot order among
    * known values: the null-ordering key drops None slots from the
    * argmin/argmax, so a bucket's value is its first/last KNOWN point.
    */
  private def consolidateAgg(func: String): Column = func match {
    // the default consolidation mean folds the run's slots in slot
    // order (bucket_ts is unique within a consolidation run) — same
    // midpoint hazard as summarizeAggOrdered's avg; the caller's outer
    // round(…, 6) is idempotent over the round6 result
    case "average" | "avg" =>
      Rollup.gridMean6(col("value"))
    case "sum" => sum(col("value"))
    case "min" => min(col("value"))
    case "max" => max(col("value"))
    case "first" =>
      min_by(col("value"), when(col("value").isNotNull, col("bucket_ts")))
    case "last" =>
      max_by(col("value"), when(col("value").isNotNull, col("bucket_ts")))
    case f =>
      throw new IllegalArgumentException(s"unknown consolidation function '$f'")
  }

  /** Evaluate a target over the points table for `[from, until]` at the
    * base resolution `spp`. Output: `(metric, bucket_ts, value)` ordered,
    * trimmed to the coarse bucket containing `from` per the final step.
    *
    * Most per-series functions are table entries with one `eval` arm per
    * table: [[Pointwise]] maps each value, [[Renames]] each name, and
    * [[Passthrough]] returns its child. Member combines evaluate their
    * members through `members` (one shared step, one gathered union);
    * per-(key, bucket) named aggregates go through [[reduceBy]], and
    * per-series ordered windows through [[bySeries]].
    */
  def evaluate(
      spark: SparkSession,
      pts: DataFrame,
      target: String,
      fromS: Long,
      untilS: Long,
      spp: Int,
      maxDataPoints: Int = 0,
      // graphite's `&tz=`: in-target attime strings (timeSlice bounds,
      // linearRegression source window) resolve day-anchored references
      // in the REQUEST zone, exactly like the from/until facade
      // ([[AtTime]]). UTC default keeps every existing call unchanged.
      tz: java.time.ZoneId = java.time.ZoneOffset.UTC): DataFrame = {
    val expr0 = parse(target)
    val (fromI, untilI) = Fetch.requestWindow(fromS, untilS, spp)
    val extFromI = fromI - historyExtS(expr0, spp, fromS, untilS, tz)

    // ONE base-table pass shared by every leaf: filter by the UNION of
    // the leaf regexes, aggregate to (metric, bucket) once, and let each
    // Leaf re-filter the tiny post-agg frame by its own regex. The leaf
    // subtrees below the aggregation exchange are then CANONICALLY
    // IDENTICAL, so Spark's exchange reuse executes the scan + partial
    // aggregate once per target, not once per leaf — a multi-glob
    // dashboard target no longer multiplies the scan (at 100 TB the
    // scan IS the cost). Leaves densify from it too ([[densify]]).
    //
    // The scan and the map-side partial aggregate stay parallel. When
    // Spark estimates the aggregate at no more than AQE's minimum
    // partition size (`spark.sql.adaptive.coalescePartitions
    // .minPartitionSize`, 1 MB by default), below which AQE coalesces its
    // shuffle into one partition anyway, the final aggregate GATHERS into
    // one partition. Every densify, window, per-series statistic and
    // cross-series combine above it then plans with no further exchange:
    // a render is the scan's shuffle-map job plus one result job. The
    // frame is bounded by matched series × buckets (the wsp scan reports
    // that bound as its row estimate). A wider frame keeps the exchanges
    // and their parallelism: gathered, a 2000-series × 1380-bucket
    // render ran 1.4–1.6× slower on 4 cores, even where the target
    // reduces it to one series. Member unions follow the same choice
    // ([[gathered]]); the generators are one partition either way
    // ([[Buckets.grid]]).
    val leafRx = leafGlobs(expr0).distinct.map(Fetch.globToRegex)
    val tagSel = tagSelections(expr0)
    def tagSelect(exprs: Seq[String]): Column = exprs.map(tagPredicate).reduce(_ && _)
    // only series some selector names reach the aggregate: the union of
    // the glob regexes and the tag selections (a pure-generator target
    // has neither and reads no series from it)
    val selectors = leafRx.map(RegexFind.find(col("metric"), _)) ++ tagSel.map(tagSelect)
    val aggregated =
      pts.filter(col("ts_s") >= extFromI && col("ts_s") < untilI &&
          selectors.reduceOption(_ || _).getOrElse(lit(true)))
        .groupBy(col("metric"), Buckets.alignTs(col("ts_s"), spp).as("bucket_ts"))
        // the pinned grid mean (exact fixed-point sum + shared round6):
        // per-bucket raw counts grow with data density, and power-of-two
        // counts land native round on cross-engine decimal midpoints
        .agg(Rollup.mean6(col("value")).as("value"))
    val gathers = selectors.isEmpty ||
      aggregated.queryExecution.optimizedPlan.stats.sizeInBytes <=
        spark.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    def gather(df: DataFrame): DataFrame = if (gathers) df.coalesce(1) else df
    val sharedAgg = gather(aggregated)
    // member frames side by side
    def gathered(members: Seq[DataFrame]): DataFrame = gather(members.reduce(_ unionByName _))

    // Per-leaf selection over [[sharedAgg]]. With two or more selectors
    // (glob leaves and seriesByTag selections both count) the predicate
    // is wrapped in [[graft.functions.OptimizerFence]], so it stays above
    // the aggregate and every leaf reuses one scan and one shuffle; an
    // unfenced predicate is pushed to the scan and each leaf scans again.
    val selectorCount = leafRx.size + tagSel.size
    def fenced(pred: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (selectorCount < 2) pred
      else graft.functions.OptimizerFence.fence(pred)
    def leafSelect(rx: String): DataFrame =
      sharedAgg.filter(fenced(RegexFind.find(col("metric"), rx)))

    // Dense frame of a selection off [[sharedAgg]] on the base grid.
    // Grouping the selection itself keeps one scan: a `distinct` beside
    // it plans straight over the scan and escapes exchange reuse.
    def densify(sel: DataFrame): DataFrame =
      Buckets.densify(sel, extFromI, untilI, spp.toLong)

    // The displayed window of a node with step `step` starts at the
    // (possibly partial) bucket containing `from`. Rankings, thresholds
    // and per-series statistics judge a series over it alone, never over
    // the history extension below it. Window bounds reach generated code
    // as bound parameters, so a render at a new window compiles no class.
    def shownFrom(step: Long): Long = Math.floorDiv(fromI, step) * step
    def shown(step: Long): Column = col("bucket_ts") >= param(shownFrom(step))
    // one row per series: `stats` over its displayed window
    def shownStats(df: DataFrame, step: Long, stats: Column*): DataFrame =
      df.filter(shown(step)).groupBy(col("metric")).agg(stats.head, stats.tail: _*)
    // every row of `df` beside its series' statistics, broadcast
    def withShownStats(df: DataFrame, step: Long, stats: Column*): DataFrame =
      df.join(broadcast(shownStats(df, step, stats: _*)), Seq("metric"), "left")
    // the series of `df` that `sel` names, by a broadcast semi join
    def keep(df: DataFrame, step: Long, sel: DataFrame): (DataFrame, Long) =
      (df.join(broadcast(sel.select("metric")), Seq("metric"), "left_semi"), step)
    // the `n` series of highest (or lowest) `stat_v`, ties by name
    def firstN(stats: DataFrame, n: Int, highest: Boolean): DataFrame =
      stats.orderBy(if (highest) col("stat_v").desc_nulls_last
        else col("stat_v").asc_nulls_last, col("metric")).limit(n)

    // the member series of `f` side by side, each first passed through
    // `each` with its position; members must share one step
    def members(f: String, cs: Seq[Expr],
        each: (DataFrame, Int) => DataFrame = (df, _) => df): (DataFrame, Long) = {
      val evald = cs.map(eval)
      val steps = evald.map(_._2).distinct
      require(steps.size == 1,
        s"$f: member series must share one step (got ${steps.mkString(", ")})")
      (gathered(evald.map(_._1).zipWithIndex.map(each.tupled)), steps.head)
    }

    // (dense series frame, step): every bucket of the node's grid has a
    // row; gaps are NULL values — graphite's None
    def eval(e: Expr): (DataFrame, Long) = e match {
      case Leaf(glob) =>
        (densify(leafSelect(Fetch.globToRegex(glob))), spp.toLong)
      case Call("perSecond", Seq(c), args) =>
        // counter → rate; optional maxValue recovers wraps, as
        // nonNegativeDerivative
        val (df, step) = eval(c)
        (counterDelta(df, args.headOption.map(_.toDouble), lit(step)), step)
      case Call(f @ "stdev", Seq(c), args) =>
        // a separate lineage from movingWindow in functions.py: the
        // population deviation of the last n values INCLUDING the
        // current one; nulls are skipped natively
        val (df, step) = eval(c)
        val n = windowPts(args.head, step).toInt
        require(n > 0, s"$f window must be positive")
        val w = bySeries.rowsBetween(-(n - 1), Window.currentRow)
        (df.withColumn("value", round(stddev_pop(col("value")).over(w), 6)), step)
      case Call(f, Seq(c), args) if HoltWintersFuncs(f) =>
        // sequential recurrence → typed per-series pass; each group
        // holds one request+bootstrap window (bounded), sorted in
        // memory. The bootstrap history arrived via historyExtS and is
        // trimmed back off by the caller.
        val delta = hwDelta(args)
        val seasonS = hwSeasonS(args)
        val (df, step) = eval(c)
        require(seasonS % step == 0 && seasonS >= step,
          s"holtWinters seasonality must be a multiple of the series step")
        val season = (seasonS / step).toInt
        import spark.implicits._
        val typed = df.select(col("metric"), col("bucket_ts"),
            col("value").cast("double"))
          .as[(String, Long, Option[Double])]
        val outRows = typed.groupByKey(_._1).flatMapGroups {
          (metric: String, it: Iterator[(String, Long, Option[Double])]) =>
            val rows = it.toArray.sortBy(_._2)
            val analysis = hwAnalysis(rows.map(_._3), season)
            f match {
              case "holtWintersForecast" =>
                rows.iterator.zip(analysis.iterator).map {
                  case ((_, b, _), (p, _)) => (metric, b, p.map(hwR6))
                }
              case "holtWintersConfidenceBands" | "holtWintersConfidenceArea" =>
                rows.iterator.zip(analysis.iterator).flatMap {
                  case ((_, b, _), (p, d)) => Iterator(
                    (s"$metric@upper", b, hwUpper(p, d, delta)),
                    (s"$metric@lower", b, hwLower(p, d, delta)))
                }
              case "holtWintersAberration" =>
                rows.iterator.zip(analysis.iterator).map {
                  case ((_, b, v), (p, d)) =>
                    (metric, b, Some(hwAberr(v, p, d, delta)): Option[Double])
                }
            }
        }
        (outRows.toDF("metric", "bucket_ts", "value"), step)
      case Call(f, cs, _) if CombineFuncs(f) =>
        // N member expressions collapse to one synthetic series; the
        // bucket grid survives the group-by because every member frame
        // is dense. Aggregates skip None natively (all-None → None);
        // countSeries counts MEMBERS per bucket — graphite's constant
        // number-of-series line, None members included.
        val (df, step) = members(f, cs)
        val v = f match {
          // sum of 6-decimal member values: 7th decimal is zero, never a
          // round-half midpoint — the unordered sum is safe as-is
          case "sumSeries" => round(sum(col("value")), 6)
          // mean ÷ member count CAN land on a midpoint → the pinned
          // fixed-point mean + shared round6 (gridMean6)
          case "averageSeries" =>
            Rollup.gridMean6(col("value"))
          case "minSeries" => min(col("value"))
          case "maxSeries" => max(col("value"))
          case "countSeries" => count(lit(1)).cast("double")
          case "rangeOfSeries" => round(max(col("value")) - min(col("value")), 6)
          case "stddevSeries" => round(stddev_pop(col("value")), 6)
        }
        (df.groupBy(col("bucket_ts")).agg(v.as("value"))
          .select(lit(f).as("metric"), col("bucket_ts"), col("value")), step)
      case Call("divideSeries", Seq(num, den), _) =>
        // graphite requires a ONE-series divisor; statically demand a
        // combine so the contract is visible in the target string
        // itself (a bare glob's cardinality is data-dependent)
        require(den match { case Call(n, _, _) => CombineFuncs(n); case _ => false },
          "divideSeries divisor must be a single series — wrap it in " +
            "sumSeries/averageSeries/…")
        val (dn, sn) = eval(num)
        val (dd, sd) = eval(den)
        require(sn == sd, "divideSeries operands must share one step")
        // divisor frame = one row per bucket — request-bounded, broadcast
        val denv = broadcast(dd.select(col("bucket_ts"), col("value").as("den_v")))
        (dn.join(denv, Seq("bucket_ts"))
          .withColumn("value",
            when(col("value").isNotNull && col("den_v").isNotNull &&
              col("den_v") =!= 0,
              round(col("value") / col("den_v"), 6)))
          .select(col("metric"), col("bucket_ts"), col("value")), sn)
      case Call("divideSeries", _, _) =>
        throw new IllegalArgumentException(
          "divideSeries takes exactly two series arguments")
      case Call("groupByNode", Seq(c), args) =>
        // group series by the n-th dot-node of the metric name and
        // aggregate each group — the render API's re-aggregation surface
        // (e.g. per-datacenter sums over host-level series)
        val n = args.head.toInt
        val func = args.lift(1).getOrElse("avg")
        val (df, step) = eval(c)
        (reduceBy(df, nodeAt(split(col("metric"), "\\."), n), func), step)
      // graphite's pure selector aliases, each rewritten onto its
      // general form
      case Call(f @ ("highestMax" | "highestAverage" | "lowestAverage"), Seq(c), args) =>
        eval(Call(if (f == "lowestAverage") "lowest" else "highest", Seq(c),
          Seq(argAt(f, args, 0, "n"), if (f == "highestMax") "max" else "average")))
      case Call(f, Seq(c), args) if ThresholdAliases.contains(f) =>
        val (stat, op) = ThresholdAliases(f)
        eval(Call("filterSeries", Seq(c), Seq(stat, op, argAt(f, args, 0, "n"))))
      case Call(f @ "summarize", Seq(c), args) =>
        val ivArg = argAt(f, args, 0, "intervalString")
        val iv = durationS(ivArg)
        val func = args.lift(1).getOrElse("sum")
        // graphite's 4th arg: alignToFrom=true anchors the coarse
        // buckets at the request start instead of the epoch grid
        val alignToFrom = args.lift(2).exists(_.toBoolean)
        val (df, step) = eval(c)
        require(iv % step == 0 && iv >= step,
          s"summarize interval $ivArg must be a multiple of the series step")
        val bucket =
          if (alignToFrom)
            (param(fromI) + floor((col("bucket_ts") - param(fromI)) / iv) * iv)
              .cast("long").as("bucket_ts")
          else (floor(col("bucket_ts") / iv) * iv).cast("long").as("bucket_ts")
        (df.groupBy(col("metric"), bucket)
          .agg(round(summarizeAggOrdered(func, col("value"), lastInSeries), 6).as("value")), iv)
      case Call(f, Seq(c), args) if Pointwise.contains(f) =>
        val (df, step) = eval(c)
        (df.withColumn("value", Pointwise(f)(args, step)), step)
      case Call(f, Seq(c), args) if Renames.contains(f) =>
        val (df, step) = eval(c)
        (df.withColumn("metric", Renames(f)(args)), step)
      case Call(f, Seq(c), _) if Passthrough(f) =>
        eval(c)
      case Call("derivative", Seq(c), _) =>
        // plain successive difference — unlike perSecond: no /step, and
        // no counter-reset rule (negative diffs pass through)
        val (df, step) = eval(c)
        (df.withColumn("prev", lag(col("value"), 1).over(bySeries))
          .withColumn("value",
            when(col("value").isNotNull && col("prev").isNotNull,
              round(col("value") - col("prev"), 6)))
          .select(col("metric"), col("bucket_ts"), col("value")), step)
      case Call("nonNegativeDerivative", Seq(c), args) =>
        // perSecond's reset/gap rule without the /step normalisation
        // (graphite: perSecond = nonNegativeDerivative scaled by 1/step).
        // Optional maxValue: a decrease is a COUNTER WRAP, not a reset —
        // the true delta is value + (maxValue − prev) + 1 (graphite's
        // 32-bit-counter recovery); without it decreases emit None.
        val (df, step) = eval(c)
        (counterDelta(df, args.headOption.map(_.toDouble), lit(1L)), step)
      case Call("integral", Seq(c), _) =>
        // running per-series total; accumulation skips None (native
        // null-skipping sum) and None points stay None in the output
        val (df, step) = eval(c)
        val w = bySeries.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        (df.withColumn("value",
            when(col("value").isNotNull, round(sum(col("value")).over(w), 6)))
          .select(col("metric"), col("bucket_ts"), col("value")), step)
      case Call("keepLastValue", Seq(c), args) =>
        // bridge None-runs of length ≤ limit with the value before the
        // run (graphite: a LONGER run stays entirely None; leading runs
        // have no predecessor and stay None; trailing runs are bridged).
        // Relational form: run_id = running non-null count (constant
        // within a run), so (metric, run_id) groups one opener value
        // with its trailing Nones; bridge iff the group's None-count is
        // within the limit.
        val limit = args.headOption.map(_.toLong).getOrElse(Long.MaxValue)
        require(limit > 0, "keepLastValue limit must be positive")
        val (df, step) = eval(c)
        val wCum = bySeries.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wRun = Window.partitionBy(col("metric"), col("run_id"))
        (df.withColumn("run_id", count(col("value")).over(wCum))
          .withColumn("bridged", last(col("value"), ignoreNulls = true).over(wCum))
          .withColumn("run_nulls",
            count(when(col("value").isNull, 1)).over(wRun))
          .withColumn("value",
            when(col("value").isNotNull, col("value"))
              .when(col("run_id") > 0 && col("run_nulls") <= limit,
                col("bridged")))
          .select(col("metric"), col("bucket_ts"), col("value")), step)
      case Call("hitcount", Seq(c), args) =>
        // values are rates (hits per second) — re-bucket to TOTAL hits
        // per interval: sum(value × step), epoch-aligned buckets (the
        // alignToInterval=true variant; summarize owns the plain-sum
        // shape). Skips None natively; an all-None interval stays None.
        val iv = durationS(args.head)
        val (df, step) = eval(c)
        require(iv % step == 0 && iv >= step,
          s"hitcount interval ${args.head} must be a multiple of the series step")
        (df.groupBy(col("metric"),
            (floor(col("bucket_ts") / iv) * iv).cast("long").as("bucket_ts"))
          .agg(round(sum(col("value") * step), 6).as("value")), iv)
      case Call(f @ "diffSeries", cs, _) if cs.size >= 2 =>
        // series 1 minus the rest: tag member 0 positive, the rest
        // negated, then one null-skipping per-bucket sum — graphite's
        // rule (None counts as 0 unless EVERY member is None) for free
        val (df, step) = members(f, cs, (df, i) =>
          df.withColumn("value", if (i == 0) col("value") else -col("value")))
        (df.groupBy(col("bucket_ts")).agg(round(sum(col("value")), 6).as("value"))
          .select(lit("diffSeries").as("metric"), col("bucket_ts"), col("value")), step)
      case Call(f @ "multiplySeries", cs, _) =>
        // per-bucket product across members; no product aggregate in
        // Spark, so collect the (member-count-bounded) values and fold.
        // Graphite's safeMul is STRICT: any None member makes the
        // bucket None (unlike the None-as-0 sum family) — the
        // known-vs-total guard enforces it
        val (df, step) = members(f, cs)
        (strictProduct(df, Seq(col("bucket_ts")), lit("multiplySeries")), step)
      case Call("offsetToZero", Seq(c), _) =>
        // shift each series down by its own displayed-window minimum —
        // per-series one-row frame, broadcast back
        val (df, step) = eval(c)
        (withShownStats(df, step, min(col("value")).as("min_v"))
          .withColumn("value", round(col("value") - col("min_v"), 6))
          .select(col("metric"), col("bucket_ts"), col("value")), step)
      case Call("changed", Seq(c), _) =>
        // 1 where the value differs from the previous KNOWN-pair point,
        // else 0 (graphite: None on either side compares unchanged)
        val (df, step) = eval(c)
        (df.withColumn("prev", lag(col("value"), 1).over(bySeries))
          .withColumn("value",
            when(col("value").isNotNull && col("prev").isNotNull &&
              col("value") =!= col("prev"), 1.0).otherwise(0.0))
          .select(col("metric"), col("bucket_ts"), col("value")), step)
      case Call(f @ ("removeBelowPercentile" | "removeAbovePercentile"), Seq(c), args) =>
        // mask values beyond the series' OWN n-th percentile over the
        // displayed window
        val n = percentArg(f, args)
        val (df, step) = eval(c)
        val v = col("value")
        (withShownStats(df, step, percentile(v, lit(n / 100)).as("thr_v"))
          .withColumn("value", when(
            if (f == "removeBelowPercentile") v >= col("thr_v") else v <= col("thr_v"), v))
          .select(col("metric"), col("bucket_ts"), col("value")), step)
      case Call(f @ "nPercentile", Seq(c), args) =>
        // each series becomes the flat line of its own displayed-window
        // n-th percentile
        val n = percentArg(f, args)
        val (df, step) = eval(c)
        (withShownStats(df, step,
            round(percentile(col("value"), lit(n / 100)), 6).as("pct_v"))
          .select(col("metric"), col("bucket_ts"), col("pct_v").as("value")),
          step)
      case Call(f @ ("highestCurrent" | "lowestCurrent"), Seq(c), args) =>
        // `highest`/`lowest` by the last known value, but only series
        // with a known value in the window rank: an all-None series is
        // never selected, even when n exceeds the known series
        val n = countArg(f, args)
        val (df, step) = eval(c)
        val cur = shownStats(df, step,
          summarizeAgg("current", col("value"), lastInSeries).as("stat_v"))
        keep(df, step, firstN(cur.filter(col("stat_v").isNotNull), n,
          highest = f == "highestCurrent"))
      case Call("timeStack", Seq(c), args) =>
        // the N-copies week-over-week overlay: shifted copies of the
        // child for i in [start, end], each re-stamped forward by
        // i × unit and suffixed `@-i` — the deepest copy's history was
        // already pre-fetched via historyExtS. Args optional, graphite
        // defaults ('1d', 0, 7) — keep in lockstep with historyExtS
        val delta = durationS(args.headOption.getOrElse("1d"))
        val start = args.lift(1).map(_.toInt).getOrElse(0)
        val end = args.lift(2).map(_.toInt).getOrElse(7)
        require(start >= 0 && end >= start,
          "timeStack needs 0 <= shiftStart <= shiftEnd")
        val (df, step) = eval(c)
        require(delta % step == 0,
          s"timeStack unit ${args(0)} must be a multiple of the series step")
        val copies = (start to end).map { i =>
          df.withColumn("bucket_ts", col("bucket_ts") + i * delta)
            .withColumn("metric", concat(col("metric"), lit(s"@-$i")))
        }
        (gathered(copies).filter(col("bucket_ts") < param(untilI)), step)
      case Call("group", cs, _) =>
        // plain union of series lists, every member keeps its own name.
        // verticalLine markers are step-exempt (stepS has the same
        // rule): overlaying a marker on a data series is the marker's
        // whole use case, and the union carries its two rows verbatim
        val evald = cs.zip(cs.map(eval))
        val steps = evald.collect {
          case (c0, (_, st)) if !isMarker(c0) => st
        }.distinct
        require(steps.size <= 1,
          s"group: member series must share one step (got ${steps.mkString(", ")})")
        (gathered(evald.map(_._2._1)), steps.headOption.getOrElse(1L))
      case Call("groupByNodes", Seq(c), args) =>
        // groupByNode's multi-node form: key = the selected dot-nodes
        // re-joined, one aggregate per (key, bucket)
        val func = args.head
        val nodes = args.tail.map(_.toInt)
        require(nodes.nonEmpty, "groupByNodes needs at least one node index")
        val (df, step) = eval(c)
        val parts = split(col("metric"), "\\.")
        (reduceBy(df, concat_ws(".", nodes.map(n => nodeAt(parts, n)): _*), func), step)
      case Call("weightedAverage", Seq(cv, cw), args) =>
        // ONE output series: Σ(value·weight)/Σ(weight) per bucket, the
        // value and weight series paired by the n-th dot-node of their
        // names (graphite's key dict; a duplicate key keeps its
        // last-sorted KNOWN series — deterministic name-max dedup).
        // Both sides come off the one shared leaf aggregate, so this is
        // a join of two request-bounded frames, not two scans.
        val n = args.head.toInt
        val (dv, sv) = eval(cv)
        val (dw, sw) = eval(cw)
        require(sv == sw, "weightedAverage operands must share one step")
        def byNode(d: DataFrame, as: String): DataFrame =
          d.filter(col("value").isNotNull)
            .groupBy(nodeAt(split(col("metric"), "\\."), n).as("node"),
              col("bucket_ts"))
            .agg(max_by(col("value"), col("metric")).as(as))
        // both Σ folds pinned to node order (unique per bucket) and the
        // quotient rounded via the shared round6: v·w carries a full
        // mantissa, so the unordered merge + native round could flip a
        // 6th decimal between engines/runs
        val sparse = byNode(dv, "v").join(byNode(dw, "w"), Seq("node", "bucket_ts"))
          .groupBy(col("bucket_ts"))
          .agg(Rollup.orderedSumBy(col("v") * col("w"), col("node")).as("num"),
            Rollup.orderedSumBy(col("w"), col("node")).as("den"))
          .select(col("bucket_ts"),
            when(col("den").isNotNull && col("den") =!= 0,
              Buckets.round6(col("num") / col("den"))).as("value"))
        // re-densify onto the child's grid: the isNotNull pre-filter +
        // inner pair join DROP buckets where every member is a gap, and
        // a sparse frame breaks the dense-grid invariant every combine
        // and rows-window stage above relies on. The value side is
        // dense per metric, so its distinct buckets ARE the grid.
        (dv.select(col("bucket_ts")).distinct()
          .join(sparse, Seq("bucket_ts"), "left")
          .select(lit("weightedAverage").as("metric"), col("bucket_ts"),
            col("value")), sv)
      case Call(f @ "filterSeries", Seq(c), args) =>
        // graphite 1.1's general series filter: keep series whose
        // displayed-window statistic satisfies `operator threshold` —
        // the *Above/*Below selectors rewrite onto it
        val func = argAt(f, args, 0, "func")
        val thr = argAt(f, args, 2, "threshold").toDouble
        val stat = col("stat_v")
        val pass = argAt(f, args, 1, "operator") match {
          case ">"  => stat > thr
          case ">=" => stat >= thr
          case "<"  => stat < thr
          case "<=" => stat <= thr
          case "="  => stat === thr
          case "!=" => stat =!= thr
          case o => throw new IllegalArgumentException(
            s"unknown filterSeries operator '$o'")
        }
        val (df, step) = eval(c)
        keep(df, step,
          shownStats(df, step, summarizeAgg(func, col("value"), lastInSeries).as("stat_v"))
            .filter(pass))
      case Call(f @ ("highest" | "lowest"), Seq(c), args) =>
        // the general top/bottom-n by a chosen statistic; highestMax,
        // lowestAverage, limit(sortBy…) and mostDeviant rewrite onto it
        val n = args.headOption.map(_.toInt).getOrElse(1)
        require(n > 0, s"$f count must be positive")
        val func = args.lift(1).getOrElse("average")
        val (df, step) = eval(c)
        keep(df, step, firstN(
          shownStats(df, step, summarizeAgg(func, col("value"), lastInSeries).as("stat_v")),
          n, highest = f == "highest"))
      case Call("removeEmptySeries", Seq(c), args) =>
        // drop series with NO known value in the displayed window; the
        // optional xFilesFactor arg raises the bar to a known-fraction
        // (graphite 1.1: removeEmptySeries(series, 0.1) keeps series
        // ≥10% populated)
        val xff = args.headOption.map(_.toDouble).getOrElse(0.0)
        val (df, step) = eval(c)
        keep(df, step,
          shownStats(df, step, count(col("value")).as("kn"), count(lit(1)).as("tot"))
            .filter(col("kn") > 0 && col("kn").cast("double") / col("tot") >= xff))
      case Call("seriesByTag", cs, args) =>
        // tag-DB selection over `name;tag=value` metrics: every quoted
        // argument is one tag expression, ALL must hold. Same dense
        // frame shape as a glob Leaf, selected off the shared aggregate
        // by the compiled tag predicates instead of a regex. Fenced like
        // leafSelect: an unfenced deterministic predicate would push
        // below the shared aggregate and fork the scan
        (densify(sharedAgg.filter(fenced(tagSelect(tagExprs(cs, args))))), spp.toLong)
      case Call("groupByTags", Seq(c), args) =>
        // re-aggregate keyed by (name, selected tags) — the tagged twin
        // of groupByNodes; output names keep graphite's
        // `name;tag=value` shape for the kept tags
        val func = args.head
        val tags = args.tail
        require(tags.nonEmpty, "groupByTags needs at least one tag")
        val (df, step) = eval(c)
        val key = concat(
          substring_index(col("metric"), ";", 1) +:
            tags.flatMap(t => Seq(lit(s";$t="), tagValue(t))): _*)
        (reduceBy(df, key, func), step)
      case Call(f @ ("identity" | "timeFunction" | "time"), Seq(Leaf(name)), _) =>
        // the timestamp generator: value = bucket_ts on the request
        // grid (the quoted series name arrives as a quoted Leaf —
        // the grammar's series slot always parses as an expression)
        val _ = f
        (Buckets.grid(spark, extFromI, untilI, spp.toLong)
          .select(lit(unquote(name)).as("metric"), col("bucket_ts"),
            col("bucket_ts").cast("double").as("value")), spp.toLong)
      case Call("sinFunction" | "sin", Seq(Leaf(name)), args) =>
        val amp = args.headOption.map(_.toDouble).getOrElse(1.0)
        val stepArg = args.lift(1).map(_.toLong).getOrElse(spp.toLong)
        // epoch-aligned spine (ceil of extFromI onto the step grid, a
        // no-op when already aligned): generator buckets must sit on
        // the SAME k·step grid as summarize/alignTs buckets, or an
        // equal-step combine pairs nothing and sums interleave on two
        // offset grids
        val genFrom = -Math.floorDiv(-extFromI, stepArg) * stepArg
        (Buckets.grid(spark, genFrom, untilI, stepArg)
          .select(lit(unquote(name)).as("metric"), col("bucket_ts"),
            round(sin(col("bucket_ts")) * amp, 6).as("value")), stepArg)
      case Call("randomWalk" | "randomWalkFunction", Seq(Leaf(name)), args) =>
        // graphite's random walk (value₀ = 0; valueᵢ₊₁ = valueᵢ +
        // U[−0.5, 0.5)) made DETERMINISTIC: graphite draws from the
        // wall-clock-seeded global PRNG, which would break the engine's
        // hash-stable render contract, so the uniform source is a
        // seeded double Lehmer hash of the bucket index
        // (x → 48271·x mod (2³¹−1), applied twice — 63-bit-safe integer
        // arithmetic, exactly reproducible in ANSI SQL). Documented
        // deviation; optional extra arg `seed` (default 0) picks the
        // walk.
        val stepArg = args.headOption.map(_.toLong).getOrElse(60L)
        val seed = args.lift(1).map(_.toLong).getOrElse(0L)
        val m = 2147483647L
        // epoch-aligned spine, like sinFunction above (no-op when
        // extFromI is already a step multiple — the oracle keys' case)
        val genFrom = -Math.floorDiv(-extFromI, stepArg) * stepArg
        // exact: bucket_ts - genFrom is a step multiple below 2^53
        val i = ((col("bucket_ts") - param(genFrom)) / stepArg).cast("long")
        val h1 = (lit(48271L) * ((lit(seed) + i) % m)) % m
        val h2 = (lit(48271L) * h1) % m
        val w = bySeries.rowsBetween(Window.unboundedPreceding, -1)
        (Buckets.grid(spark, genFrom, untilI, stepArg)
          .select(lit(unquote(name)).as("metric"), col("bucket_ts"),
            (h2.cast("double") / m - 0.5).as("inc"))
          .select(col("metric"), col("bucket_ts"),
            round(coalesce(sum(col("inc")).over(w), lit(0.0)), 6)
              .as("value")), stepArg)
      case Call("events", cs, args) =>
        // graphite's events(*tags): matching events on the request
        // grid. Under the engine's §1.3 mapping (metric := event_type)
        // an event's "tag" is its type; no tags (or '*') = all events.
        // graphite renders raw event timestamps for drawAsInfinite —
        // the grid-shaped analog is the per-bucket event COUNT (zeros
        // where quiet, a count never has gaps); documented deviation.
        // Counts need the raw point stream, not the shared per-bucket
        // AVG — a second scan, but tag + time predicates push down and
        // [[leafGlobs]] keeps these tags out of the shared-scan regex.
        // '*' in ANY position is the all-events wildcard: it clears the
        // whole tag filter rather than dropping out of the list (else
        // events('view','*') would silently narrow to just 'view').
        // Empty-string tags are ignored in every position.
        val named = (cs.collect { case Leaf(n) => unquote(n) } ++
          args.map(unquote)).filter(_.nonEmpty)
        val tags = if (named.contains("*")) Seq.empty[String] else named
        val name = s"events(${tags.mkString(",")})"
        val sel = if (tags.isEmpty) lit(true) else col("metric").isin(tags: _*)
        val cnt = gather(pts
          .filter(sel && col("ts_s") >= extFromI && col("ts_s") < untilI)
          .groupBy(Buckets.alignTs(col("ts_s"), spp).as("bucket_ts"))
          .agg(count(lit(1)).cast("double").as("cnt")))
        (Buckets.grid(spark, extFromI, untilI, spp.toLong)
          .join(cnt, Seq("bucket_ts"), "left")
          .select(lit(name).as("metric"), col("bucket_ts"),
            coalesce(col("cnt"), lit(0.0)).as("value")), spp.toLong)
      case Call("smartSummarize", Seq(c), args) =>
        // summarize anchored at the request start — sugar for
        // summarize(…, alignToFrom=true)
        eval(Call("summarize", Seq(c),
          Seq(args.head, args.lift(1).getOrElse("sum"), "true")))
      case Call("delay", Seq(c), args) =>
        // shift VALUES by n steps on the unchanged grid (timeShift
        // moves buckets; delay moves values — leading slots go None)
        val n = args.head.toInt
        val (df, step) = eval(c)
        (df.withColumn("value", lag(col("value"), n).over(bySeries)), step)
      case Call("minMax", Seq(c), _) =>
        // per-series [0,1] normalisation over the displayed window;
        // a flat series maps to 0 (graphite's zero-range rule)
        val (df, step) = eval(c)
        (withShownStats(df, step, min(col("value")).as("mn"), max(col("value")).as("mx"))
          .withColumn("value",
            when(col("value").isNotNull && col("mx") === col("mn"), 0.0)
              .when(col("value").isNotNull,
                round((col("value") - col("mn")) / (col("mx") - col("mn")), 6)))
          .select(col("metric"), col("bucket_ts"), col("value")), step)
      case Call("integralByInterval", Seq(c), args) =>
        // integral that resets at each interval boundary: the running
        // sum partitions by (metric, interval chunk) — still one sort
        val iv = durationS(args.head)
        val (df, step) = eval(c)
        require(iv % step == 0 && iv >= step,
          s"integralByInterval interval ${args.head} must be a multiple of the series step")
        val chunk = (floor(col("bucket_ts") / iv) * iv).cast("long")
        val w = Window.partitionBy(col("metric"), chunk)
          .orderBy(col("bucket_ts"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        (df.withColumn("value",
            when(col("value").isNotNull, round(sum(col("value")).over(w), 6)))
          .select(col("metric"), col("bucket_ts"), col("value")), step)
      case Call("exponentialMovingAverage", Seq(c), args) =>
        // EMA recurrence (α = 2/(N+1), seeded by the first known value;
        // None slots emit None and leave the state unchanged) — same
        // typed per-series pass as the Holt-Winters family, with N
        // points of pre-fetched history so the seed has converged by
        // the first requested bucket
        val (df, step) = eval(c)
        val n = windowPts(args.head, step).toInt
        require(n > 0, "exponentialMovingAverage window must be positive")
        val alpha = 2.0 / (n + 1)
        // the file's ONE pinned 6-decimal rounding FORM (hwR6's
        // floor(x·1e6 + 0.5)/1e6 three ops, inlined: the executor
        // closure must not capture the enclosing object) — a local
        // BigDecimal HALF_UP disagrees on binary near-midpoints
        def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
        import spark.implicits._
        val typed = df.select(col("metric"), col("bucket_ts"),
            col("value").cast("double"))
          .as[(String, Long, Option[Double])]
        val out = typed.groupByKey(_._1).flatMapGroups {
          (metric: String, it: Iterator[(String, Long, Option[Double])]) =>
            val rows = it.toArray.sortBy(_._2)
            var ema: Option[Double] = None
            rows.iterator.map { case (_, b, v) =>
              v match {
                case Some(x) =>
                  ema = Some(ema.fold(x)(e => alpha * x + (1 - alpha) * e))
                  (metric, b, Some(r6(ema.get)): Option[Double])
                case None => (metric, b, None: Option[Double])
              }
            }
        }
        (out.toDF("metric", "bucket_ts", "value"), step)
      case Call("interpolate", Seq(c), args) =>
        // bridge None-runs of length ≤ limit LINEARLY between the
        // surrounding known points (graphite's interpolate; contrast
        // keepLastValue's flat bridge); leading/trailing runs have only
        // one side and stay None. Two ignore-null windows over one
        // metric partition: last-known behind, first-known ahead.
        val limit = args.headOption.map(_.toLong).getOrElse(Long.MaxValue)
        require(limit > 0, "interpolate limit must be positive")
        val (df, step) = eval(c)
        val wB = bySeries.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wF = bySeries.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val knownTs = when(col("value").isNotNull, col("bucket_ts"))
        (df
          .withColumn("pv", last(col("value"), ignoreNulls = true).over(wB))
          .withColumn("pt", last(knownTs, ignoreNulls = true).over(wB))
          .withColumn("nv", first(col("value"), ignoreNulls = true).over(wF))
          .withColumn("nt", first(knownTs, ignoreNulls = true).over(wF))
          .withColumn("value",
            when(col("value").isNotNull, col("value"))
              .when(col("pt").isNotNull && col("nt").isNotNull &&
                (col("nt") - col("pt")) / step - 1 <= limit,
                // round6, not round: the bridge DIVIDES, and a gap span
                // of 2^k steps lands the result on decimal midpoints
                // where native round semantics differ across engines
                Buckets.round6(col("pv") + (col("nv") - col("pv")) *
                  (col("bucket_ts") - col("pt")) / (col("nt") - col("pt")))))
          .select(col("metric"), col("bucket_ts"), col("value")), step)
      case Call(f @ "averageOutsidePercentile", Seq(c), args) =>
        // keep series whose displayed-window average falls OUTSIDE the
        // [100−n, n] percentile band of all the averages — the outlier
        // panel; stats frame is one row per series + a 1-row band
        val n0 = argAt(f, args, 0, "n").toDouble
        val n = if (n0 < 50) 100 - n0 else n0
        require(n > 0 && n <= 100, s"$f n must be in (0, 100]")
        val (df, step) = eval(c)
        val avgs = shownStats(df, step, avg(col("value")).as("avg_v"))
        val bands = avgs.agg(
          percentile(col("avg_v"), lit((100 - n) / 100)).as("lo_v"),
          percentile(col("avg_v"), lit(n / 100)).as("hi_v"))
        keep(df, step, avgs.crossJoin(broadcast(bands))
          .filter(col("avg_v") < col("lo_v") || col("avg_v") > col("hi_v")))
      // --------------------------------------- series-name filters:
      // unanchored regex over the metric name (graphite's re.search
      // semantics — rlike searches, it doesn't anchor)
      case Call("exclude", Seq(c), args) =>
        val (df, step) = eval(c)
        (df.filter(!col("metric").rlike(args.head)), step)
      case Call("grep", Seq(c), args) =>
        val (df, step) = eval(c)
        (df.filter(col("metric").rlike(args.head)), step)
      case Call("asPercent", cs, args) =>
        // one-series-list form: each member as a percent of the
        // per-bucket total across ALL members; explicit-total form:
        // divide by a (single-series) total expression, broadcast like
        // divideSeries' divisor; literal form: divide by the constant.
        val (df, step) = eval(cs.head)
        def pct(total: DataFrame): DataFrame =
          df.join(broadcast(total), Seq("bucket_ts"))
            .withColumn("value",
              when(col("value").isNotNull && col("tot_v").isNotNull &&
                col("tot_v") =!= 0,
                round(col("value") / col("tot_v") * 100, 6)))
            .select(col("metric"), col("bucket_ts"), col("value"))
        cs.lift(1) match {
          case Some(totalExpr) =>
            require(totalExpr match {
              case Call(n, _, _) => CombineFuncs(n); case _ => false },
              "asPercent total must be a single series — wrap it in " +
                "sumSeries/averageSeries/…")
            val (dt, st) = eval(totalExpr)
            require(step == st, "asPercent operands must share one step")
            (pct(dt.select(col("bucket_ts"), col("value").as("tot_v"))), step)
          case None if args.nonEmpty =>
            val k = args.head.toDouble
            (df.withColumn("value", round(col("value") / k * 100, 6)), step)
          case None =>
            (pct(df.groupBy(col("bucket_ts"))
              .agg(sum(col("value")).as("tot_v"))), step)
        }
      case Call(f @ "percentileOfSeries", Seq(c), args) =>
        // per-bucket n-th percentile ACROSS member series → one series;
        // linear interpolation (percentile ⟷ quantile_cont), nulls
        // skipped, all-null bucket stays null
        val n = percentArg(f, args)
        val (df, step) = eval(c)
        (df.groupBy(col("bucket_ts"))
          .agg(round(percentile(col("value"), lit(n / 100)), 6).as("value"))
          .select(lit("percentileOfSeries").as("metric"), col("bucket_ts"),
            col("value")), step)
      case Call("limit", Seq(Call("sortByMinima", Seq(c), _)), args) =>
        // the n lowest minima among the series sortByMinima keeps
        val n = countArg("limit", args)
        val (df, step) = eval(c)
        keep(df, step, firstN(shownStats(df, step, min(col("value")).as("stat_v"),
          max(col("value")).as("max_v")).filter(col("max_v") > 0), n, highest = false))
      case Call("limit", Seq(Call(sf @ ("sortByMaxima" | "sortByTotal" | "sortBy"),
          Seq(c), sargs)), args) =>
        // the selecting composition: sortByX orders the series list,
        // limit keeps the first n — a top-n selection, rewritten onto
        // highest/lowest (sortBy's optional reverse sorts descending)
        val n = argAt("limit", args, 0, "n")
        eval(sf match {
          case "sortByMaxima" => Call("highest", Seq(c), Seq(n, "max"))
          case "sortByTotal" => Call("highest", Seq(c), Seq(n, "sum"))
          case _ =>
            Call(if (sargs.lift(1).exists(_.toBoolean)) "highest" else "lowest",
              Seq(c), Seq(n, sargs.headOption.getOrElse("average")))
        })
      case Call("limit", Seq(c), args) =>
        // bare limit keeps the first n of the series list — list order
        // in this engine is the output contract's name order, so
        // limit(sortByName(…), n) is this case too
        val n = countArg("limit", args)
        val (df, step) = eval(c)
        keep(df, step, df.select(col("metric")).distinct().orderBy(col("metric")).limit(n))
      case Call("sortByMinima", Seq(c), _) =>
        // even bare, sortByMinima SELECTS: graphite drops series whose
        // maximum never goes positive before sorting
        val (df, step) = eval(c)
        keep(df, step, shownStats(df, step, max(col("value")).as("max_v"))
          .filter(col("max_v") > 0))
      case Call(f @ "mostDeviant", Seq(c), args) =>
        // the n series with the highest population deviation over the
        // displayed window — `highest(…, n, 'stddev')` in 1.1 vocabulary
        eval(Call("highest", Seq(c), Seq(argAt(f, args, 0, "n"), "stddev")))
      case Call("constantLine", Seq(Leaf(v)), _) =>
        // no series child — a synthetic constant on the request grid
        // (graphite draws 3 points; a full grid keeps the frame shape
        // uniform so combines over it behave)
        val k = v.toDouble
        (Buckets.grid(spark, extFromI, untilI, spp.toLong)
          .select(lit(v).as("metric"), col("bucket_ts"),
            lit(k).as("value")), spp.toLong)
      case Call("verticalLine", Seq(Leaf(ts)), args) =>
        // graphite's event marker: a two-point unit series at the
        // resolved instant (TimeSeries(label, ts, ts+1, step=1,
        // [1.0, 1.0]) — graphite-web functions.py verticalLine). The
        // timestamp is a FULL attime string resolved against the
        // request's `until` as render-time "now" (timeSlice's rule),
        // and graphite raises when the instant falls outside the
        // requested window — kept: silently dropping a deploy marker
        // defeats its purpose.
        val tsV = AtTime.parse(unquote(ts), untilS, tz)
        // graphite guards [from, until]; here the lower bound is the
        // RENDERED window's first instant (fromI — whisper's fetch
        // excludes the partial bucket containing `from`), because the
        // final trim would otherwise silently drop a marker placed in
        // [fromS, fromI) — the exact silent loss this guard exists to
        // prevent
        require(tsV >= fromI && tsV <= untilS,
          s"verticalLine time $tsV is outside the rendered " +
            s"window [$fromI, $untilS]")
        val label = args.headOption.getOrElse(unquote(ts))
        (Buckets.grid(spark, tsV, tsV + 2, 1L)
          .select(lit(label).as("metric"), col("bucket_ts"),
            lit(1.0).as("value")), 1L)
      case Call("compressPeriodicGaps", Seq(c), _) =>
        // graphite 1.1.6's gap compressor: a series that reports only
        // every k-th bucket (a 5-minute exporter fetched on a 1-minute
        // grid) is re-expressed on its NATIVE step so downstream
        // consolidation sees a dense series. Reconstruction (the
        // reference implementation guesses the step from the data):
        // per series, the new step is the MODAL distance between
        // consecutive known points (tie → smallest — deterministic in
        // both engines, unlike a bare mode()), the new grid runs from
        // the first to the last known point, and values are read at
        // exact grid hits. A series with <2 known points has no
        // detectable period and passes through unchanged. Every frame
        // here is request-bounded (series × buckets), so the per-metric
        // windows are safe at any corpus size.
        val (df, step) = eval(c)
        // duplicate member rows (group(m.a, m.a), or two series renamed
        // to one label) consolidate per (metric, bucket) by max BEFORE
        // the delta derivation: a duplicated timestamp would otherwise
        // make the modal delta 0 and sequence(lo, hi, 0) throw
        val nn = df.filter(col("value").isNotNull)
          .groupBy(col("metric"), col("bucket_ts"))
          .agg(max(col("value")).as("value"))
        // ONE aggregation derives everything the rebuild needs: the
        // sorted known-timestamp array gives the bounds, and the
        // staggered-slice zip (the shingle trick) gives the
        // consecutive deltas without a per-metric window sort; the
        // modal step falls out of a count + max_by((n, −d)) pass —
        // no row_number window either, so the op itself adds ZERO
        // window nodes (a generator child's own global cumsum is the
        // only one left in the plan, see WINDOWS.md)
        val deltas = nn.groupBy(col("metric"))
          .agg(sort_array(collect_list(col("bucket_ts"))).as("tss"))
          .select(col("metric"),
            element_at(col("tss"), 1).as("lo"),
            element_at(col("tss"), -1).as("hi"),
            explode(expr("zip_with(slice(tss, 2, greatest(size(tss) - 1, 0)), " +
              "slice(tss, 1, greatest(size(tss) - 1, 0)), (a, b) -> a - b)"))
              .as("d"))
        val stepNew = deltas
          .groupBy(col("metric"), col("lo"), col("hi"), col("d"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("metric"), col("lo"), col("hi"))
          .agg(max_by(col("d"), struct(col("n"), -col("d"))).as("step_new"))
        val grid = stepNew.select(col("metric"),
          explode(sequence(col("lo"), col("hi"), col("step_new")))
            .as("bucket_ts"))
        val compressed = grid
          .join(nn, Seq("metric", "bucket_ts"), "left")
          .select(col("metric"), col("bucket_ts"), col("value"))
        val tooSparse = df.join(stepNew.select(col("metric")),
            Seq("metric"), "left_anti")
          .select(col("metric"), col("bucket_ts"), col("value"))
        // the per-series step may now vary; the reported step stays the
        // child's (graphite's own return mixes steps the same way)
        (gathered(Seq(compressed, tooSparse)), step)
      case Call("aliasQuery", Seq(c), args) =>
        // graphite 1.1's legend-by-lookup: for each member series,
        // regex-rewrite its name into a NEW query, evaluate that query
        // over the same request window, and format the member's alias
        // with the sub-query's current (last known) value. The rewrite
        // and sub-fetch are fully relational: the member-name frame is
        // request-bounded, the sub-fetch is one extra ranged pass over
        // the base points joined to the derived names (graphite also
        // re-fetches), and the "current value" is max_by over the
        // sub-series' known buckets. Deviation (documented): graphite
        // raises when a derived query matches nothing; here the member
        // keeps its original name — a missing lookup shouldn't 500 the
        // whole dashboard, and the no-match row is visible either way.
        val (df, step) = eval(c)
        val (search, replace, newName) =
          (args(0), pyReplacement(args(1)), args(2))
        // member names rewritten to the derived query names (request-
        // bounded frame); the sub-fetch SEMI-JOINS the raw points to
        // those few names BEFORE aggregating — without it the minute-
        // mean shuffle covers every series in the window when only the
        // handful of derived names is ever read
        val named = df.select(col("metric")).distinct()
          .withColumn("q", regexp_replace(col("metric"), search, replace))
        val sub = pts
          .filter(col("ts_s") >= fromI && col("ts_s") < untilI)
          .join(broadcast(named.select(col("q").as("metric")).distinct()),
            Seq("metric"), "left_semi")
          .groupBy(col("metric").as("q"),
            Buckets.alignTs(col("ts_s"), spp).as("bucket_ts"))
          .agg(Rollup.mean6(col("value")).as("v"))
        val lastV = sub.filter(col("v").isNotNull)
          .groupBy(col("q")).agg(max_by(col("v"), col("bucket_ts")).as("cur"))
        val renamed = named
          .join(broadcast(lastV), Seq("q"), "left")
          .select(col("metric"),
            when(col("cur").isNotNull, formatAlias(newName, col("cur")))
              .otherwise(col("metric")).as("metric_new"))
        (df.join(broadcast(renamed), Seq("metric"))
          .select(col("metric_new").as("metric"), col("bucket_ts"),
            col("value")), step)
      case Call("timeShift", Seq(c), args) =>
        // value at t comes from t − delta; the delta was added to the
        // leaf's history extension by historyExtS, so the child grid
        // already covers the shifted window — re-stamp and trim the
        // buckets the shift pushed past `until`
        val delta = shiftS(args.head)
        val (df, step) = eval(c)
        require(delta % step == 0,
          s"timeShift offset ${args.head} must be a multiple of the series step")
        (df.withColumn("bucket_ts", col("bucket_ts") + delta)
          .filter(col("bucket_ts") < param(untilI)), step)
      // ------------------------------- graphite 1.1 umbrella forms:
      case Call("aggregate", Seq(c), args) =>
        // the 1.1 canonical combine: aggregate(list, 'func'[, xff]).
        // The named aggregators run as one per-bucket aggregate;
        // 'multiply' and 'diff' reuse the strict-fold / signed-sum
        // shapes of their dedicated twins (no product aggregate in
        // Spark; diff is first-by-name minus the rest). The optional
        // xFilesFactor gates each bucket on its known-member fraction;
        // the strict/signed shapes have no known-values form to gate,
        // so a non-default xff there is rejected loudly.
        val func = args.head
        val xff = args.lift(1).map(a => unquote(a).toDouble).getOrElse(0.0)
        val (df, step) = eval(c)
        func match {
          case "multiply" | "diff" =>
            require(xff <= 0.0,
              s"aggregate('$func') does not support xFilesFactor: the " +
                "strict fold has no known-values form to gate")
            if (func == "multiply")
              (strictProduct(df, Seq(col("bucket_ts")), lit("multiplySeries")),
                step)
            else {
              // the dense frame carries every metric in every bucket, so
              // the per-bucket name-minimum IS the list head
              val wb = Window.partitionBy(col("bucket_ts"))
              val signed = df.withColumn("value",
                when(col("metric") === min(col("metric")).over(wb), col("value"))
                  .otherwise(-col("value")))
              (signed.groupBy(col("bucket_ts"))
                .agg(round(sum(col("value")), 6).as("value"))
                .select(lit("diffSeries").as("metric"), col("bucket_ts"),
                  col("value")), step)
            }
          case _ if xff > 0.0 =>
            (reduceBy(df, lit(s"${func}Series"), func,
                count(col("value")).as("kn"), count(lit(1)).as("tot"))
              .select(col("metric"), col("bucket_ts"),
                when(col("kn").cast("double") >= col("tot") * xff, col("value"))
                  .as("value")), step)
          case _ =>
            (reduceBy(df, lit(s"${func}Series"), func), step)
        }
      case Call(f @ ("sumSeriesWithWildcards" | "averageSeriesWithWildcards" |
          "multiplySeriesWithWildcards"), Seq(c), args) =>
        // named sugar over aggregateWithWildcards
        val func = f match {
          case "sumSeriesWithWildcards" => "sum"
          case "averageSeriesWithWildcards" => "average"
          case _ => "multiply"
        }
        eval(Call("aggregateWithWildcards", Seq(c), func +: args))
      case Call("aggregateWithWildcards", Seq(c), args) =>
        // combine series whose names agree once the wildcard node
        // positions are removed — groupByNodes' complement (the name
        // KEEPS the non-wildcard nodes, in order), under any named
        // aggregator; 'multiply' keeps graphite's strict safeMul
        val func = args.head
        val positions = args.tail.map(_.toInt)
        require(positions.nonEmpty,
          "aggregateWithWildcards needs at least one node position")
        val (df, step) = eval(c)
        val parts = split(col("metric"), "\\.")
        val kept = filter(parts, (_, i) =>
          positions.map(p => i =!= p).reduce(_ && _))
        val key = array_join(kept, ".")
        if (func == "multiply")
          (strictProduct(df, Seq(key.as("metric"), col("bucket_ts")), col("metric")), step)
        else (reduceBy(df, key, func), step)
      case Call(f, Seq(c), args) if f == "movingWindow" || MovingAliases.contains(f) =>
        // the trailing window: a named aggregator over the n points
        // strictly BEFORE each point — graphite's slice
        // `bootstrap[i+offset-windowPoints : i+offset]`, current
        // EXCLUDED. The named moving functions are this window with
        // their fixed aggregator. Nulls are skipped natively (all-null
        // window → null).
        val (df, step) = eval(c)
        val n = windowPts(args.head, step).toInt
        require(n > 0, s"$f window must be positive")
        val func = MovingAliases.getOrElse(f, args.lift(1).getOrElse("average"))
        val w = bySeries.rowsBetween(-n, -1)
        // `count` and `range` come out of summarizeAgg WRAPPED (a cast /
        // a subtraction); `.over` must attach to the aggregates
        // themselves, not the wrapper, or Catalyst sees a bare
        // aggregate and demands a GROUP BY (found by the evaluator
        // fuzz) — window them explicitly
        val v = func match {
          // the window mean as a FRAME-ORDERED fold (collect_list keeps
          // frame order and skips nulls) divided by the count and
          // rounded through the shared round6, the oracle's op-for-op
          // form: native avg and native round disagree with it on
          // 6th-decimal midpoints (the outer round keeps a round6 value)
          case "average" | "avg" =>
            val cnt = count(col("value")).over(w)
            when(cnt > 0, Buckets.round6(
              aggregate(collect_list(col("value")).over(w), lit(0d), (a, x) => a + x) / cnt))
          case "count" => count(col("value")).over(w).cast("double")
          case "range" | "rangeOf" =>
            max(col("value")).over(w) - min(col("value")).over(w)
          case _ => summarizeAgg(func, col("value"), lastInSeries).over(w)
        }
        (df.withColumn("value", round(v, 6)), step)
      case Call(f @ "unique", cs, _) if cs.nonEmpty =>
        // union of the member lists keeping each series name ONCE —
        // first occurrence wins (list order = child order)
        val (u, step) = members(f, cs, (df, i) => df.withColumn("src", lit(i)))
        val firstSrc = u.groupBy(col("metric")).agg(min(col("src")).as("src"))
        (u.join(broadcast(firstSrc), Seq("metric", "src"), "left_semi")
          .select(col("metric"), col("bucket_ts"), col("value")), step)
      case Call(f @ ("divideSeriesLists" | "sumSeriesLists" | "diffSeriesLists" |
          "multiplySeriesLists" | "aggregateSeriesLists"), Seq(ca, cb), args) =>
        // pairwise by POSITION: the i-th series of each list (name
        // order — this engine's list-order contract) combines
        // pointwise. Unmatched tails drop (inner join on rank);
        // graphite raises on length mismatch instead, but that check
        // would cost an extra action in the query path, so the inner
        // join IS the documented contract here. Ranking runs on the
        // request-bounded distinct-name frames (driver-free).
        val op = f match {
          case "divideSeriesLists" => "divide"
          case "sumSeriesLists" => "sum"
          case "diffSeriesLists" => "diff"
          case "multiplySeriesLists" => "multiply"
          case _ => args.head
        }
        val (da, stepA) = eval(ca)
        val (db, stepB) = eval(cb)
        require(stepA == stepB, s"$f: both lists must share one step")
        def ranked(df: DataFrame, m: String, v: String) = {
          val names = df.select(col("metric")).distinct()
            .withColumn("rk", row_number().over(Window.orderBy(col("metric"))))
          df.join(broadcast(names), Seq("metric"))
            .select(col("rk"), col("bucket_ts"),
              col("metric").as(m), col("value").as(v))
        }
        val j = ranked(da, "m_a", "v_a")
          .join(ranked(db, "m_b", "v_b"), Seq("rk", "bucket_ts"))
        val (name, v) = op match {
          case "divide" => ("divideSeries",
            when(col("v_a").isNotNull && col("v_b").isNotNull &&
              col("v_b") =!= 0, round(col("v_a") / col("v_b"), 6)))
          case "sum" => ("sumSeries",
            when(col("v_a").isNotNull || col("v_b").isNotNull,
              round(coalesce(col("v_a"), lit(0.0)) +
                coalesce(col("v_b"), lit(0.0)), 6)))
          case "diff" => ("diffSeries",
            when(col("v_a").isNotNull || col("v_b").isNotNull,
              round(coalesce(col("v_a"), lit(0.0)) -
                coalesce(col("v_b"), lit(0.0)), 6)))
          case "multiply" => ("multiplySeries",
            when(col("v_a").isNotNull && col("v_b").isNotNull,
              round(col("v_a") * col("v_b"), 6)))
          case o => throw new IllegalArgumentException(
            s"unknown aggregateSeriesLists op '$o'")
        }
        (j.select(concat(lit(s"$name("), col("m_a"), lit(","), col("m_b"),
          lit(")")).as("metric"), col("bucket_ts"), v.as("value")), stepA)
      case Call("linearRegression", Seq(c), args) =>
        // per-series least-squares fit over the SOURCE window, served
        // as the fitted line on the request grid: OLS is algebraic, so
        // two aggregates (slope, intercept) per series broadcast back —
        // no sequential pass. The source window defaults to the display
        // window; graphite's optional startSourceAt/endSourceAt (full
        // attime strings vs the request `until`) move it — e.g. fit on
        // last week, project this week. [[historyExtS]] extended the
        // leaf scan when the source reaches back before `from`, so the
        // child grid carries the source points.
        // the regressor is CENTERED at the source-window start:
        // algebraically identical, but epoch-second x-values (~1.7e9)
        // would cancel catastrophically in the intercept and make the
        // 6-decimal result engine-dependent
        val (df, step) = eval(c)
        val lo = args.lift(0).map(unquote).filter(_.nonEmpty)
          .map(t => Math.floorDiv(AtTime.parse(t, untilS, tz), step) * step)
          .getOrElse(shownFrom(step))
        val hi = args.lift(1).map(unquote).filter(_.nonEmpty)
          .map(t => Math.floorDiv(AtTime.parse(t, untilS, tz), step) * step + step)
          .getOrElse(untilI)
        require(lo < hi,
          s"linearRegression: empty source window [$lo, $hi)")
        // the child frame ends at the request `until` ([[historyExtS]]
        // extends it backward only); a source window past that edge
        // would silently fit on a clipped frame — reject it loudly.
        // (graphite re-fetches the source range independently, so
        // endSourceAt>until works there; documented deviation.)
        require(hi <= untilI, "linearRegression: endSourceAt past the " +
          s"request until is unsupported (source [$lo, $hi) vs frame end $untilI)")
        val x = col("bucket_ts") - param(lo)
        val fit = broadcast(df
          .filter(col("bucket_ts") >= param(lo) && col("bucket_ts") < param(hi))
          .groupBy(col("metric"))
          .agg(regr_slope(col("value"), x).as("beta"),
            regr_intercept(col("value"), x).as("alpha")))
        (df.join(fit, Seq("metric"), "left")
          .select(col("metric"), col("bucket_ts"),
            when(col("beta").isNotNull, round(col("alpha") + col("beta") * x, 6))
              .as("value")), step)
      case Call(f @ "timeSlice", Seq(c), args) =>
        // None outside [start, end]: bounds are FULL attime strings
        // ([[AtTime]] — epochs, -durations, midnight/day-names/dates),
        // resolved against the request's `until` as the render-time
        // "now"; an absent bound keeps the request edge
        val (df, step) = eval(c)
        def bound(a: String, dflt: Long): Long = {
          val t = a.trim
          if (t.isEmpty) dflt else AtTime.parse(t, untilS, tz)
        }
        val startT = bound(argAt(f, args, 0, "startSliceAt"), fromS)
        val endT = args.lift(1).map(bound(_, untilS)).getOrElse(untilS)
        (df.withColumn("value",
          when(col("bucket_ts") >= param(startT) && col("bucket_ts") <= param(endT),
            col("value"))), step)
      case Call("aggregateLine", Seq(c), args) =>
        // each series flattened to the horizontal line of its own
        // displayed-window aggregate — per-series one-row stat,
        // broadcast back across the grid
        val func = args.headOption.getOrElse("avg")
        val (df, step) = eval(c)
        (withShownStats(df, step,
            round(summarizeAggOrdered(func, col("value"), lastInSeries), 6).as("line_v"))
          .select(col("metric"), col("bucket_ts"),
            col("line_v").as("value")), step)
      case Call("threshold", Seq(Leaf(v)), args) =>
        // constantLine + alias (+ ignored color) — the alerting guide
        // line real dashboards overlay
        val name = args.headOption.map(unquote).filter(_.nonEmpty).getOrElse(v)
        val k = v.toDouble
        (Buckets.grid(spark, extFromI, untilI, spp.toLong)
          .select(lit(name).as("metric"), col("bucket_ts"),
            lit(k).as("value")), spp.toLong)
      case Call("fallbackSeries", Seq(c, fb), _) =>
        // the fallback serves ONLY when the primary matched nothing:
        // anti-join the fallback against the primary's 0/1-row
        // existence marker — emptiness decided inside the plan, no
        // driver-side count
        val (df, step) = eval(c)
        val (fdf, fstep) = eval(fb)
        require(step == fstep, "fallbackSeries: both series must share one step")
        val marker = df.select(lit(1).as("present")).limit(1)
        val fallback = fdf.withColumn("present", lit(1))
          .join(broadcast(marker), Seq("present"), "left_anti")
          .drop("present")
        (gathered(Seq(df, fallback)), step)
      case Call(f @ "removeBetweenPercentile", Seq(c), args) =>
        // keep series that ESCAPE the cross-series per-bucket n-th
        // percentile band at least once in the displayed window
        // (graphite folds n below 50 to its mirror; the band is OPEN —
        // a value ON the edge escapes, graphite's `not lo < v < hi`).
        // Deliberate deviation: percentiles interpolate continuously
        // (Spark's percentile = DuckDB's quantile_cont) where
        // graphite's getPercentile picks a member value — the band
        // differs by at most one inter-member gap
        val n0 = argAt(f, args, 0, "n").toDouble
        val n = if (n0 < 50) 100 - n0 else n0
        require(n < 100, s"$f n must be below 100")
        val (df, step) = eval(c)
        val inWindow = df.filter(shown(step))
        val bands = inWindow.groupBy(col("bucket_ts"))
          .agg(percentile(col("value"), lit((100 - n) / 100)).as("lo_v"),
            percentile(col("value"), lit(n / 100)).as("hi_v"))
        keep(df, step, inWindow.join(bands, Seq("bucket_ts"))
          .filter(col("value").isNotNull &&
            !(col("value") > col("lo_v") && col("value") < col("hi_v")))
          .select(col("metric")).distinct())
      case Call("reduceSeries", Seq(c), args) =>
        // reduceSeries(mapSeries(list, …), 'func', reduceNode, m1, m2):
        // within each series group agreeing on every node EXCEPT
        // reduceNode, combine the two members named by the matchers.
        // One grouped aggregate with conditional member extraction —
        // the pivot is two `max(when(node = matcher))` columns, no join.
        val func = args.head
        val node = args(1).toInt
        val matchers = args.drop(2).map(unquote)
        require(matchers.size == 2,
          "reduceSeries supports exactly two reduce matchers")
        val (df, step) = eval(c)
        val parts = split(col("metric"), "\\.")
        // python node semantics: a negative node resolves from the end,
        // so the key filter drops position size+node and the tag reads
        // via nodeAt (both agree with the positive form for node >= 0)
        val nodePos =
          if (node >= 0) lit(node) else size(parts) + node
        val keyCol = array_join(filter(parts, (_, i) => i =!= nodePos), ".")
        val tag = nodeAt(parts, node)
        val g = df.groupBy(keyCol.as("metric"), col("bucket_ts"))
          .agg(max(when(tag === matchers(0), col("value"))).as("v1"),
            max(when(tag === matchers(1), col("value"))).as("v2"))
        val v = func match {
          case "asPercent" =>
            when(col("v1").isNotNull && col("v2").isNotNull &&
              col("v2") =!= 0, round(col("v1") / col("v2") * 100, 6))
          case "divide" =>
            when(col("v1").isNotNull && col("v2").isNotNull &&
              col("v2") =!= 0, round(col("v1") / col("v2"), 6))
          case "diff" =>
            when(col("v1").isNotNull || col("v2").isNotNull,
              round(coalesce(col("v1"), lit(0.0)) -
                coalesce(col("v2"), lit(0.0)), 6))
          case f2 => throw new IllegalArgumentException(
            s"unknown reduceSeries function '$f2'")
        }
        (g.select(col("metric"), col("bucket_ts"), v.as("value")), step)
      case Call("applyByNode", Seq(c), args) =>
        // evaluate the TEMPLATE once per distinct node-prefix of the
        // matched series, '%' standing for the prefix, and union the
        // results — graphite's per-group sub-query form (e.g. each
        // host's free-disk percentage from two of its own metrics).
        // The prefix list is one bounded driver collect (distinct
        // series names over the requested window — request-scale, never
        // data-scale; graphite materializes the same list), mirroring
        // the documented bounded collects in Dedup/WhisperTable. Each
        // prefix's subtree then re-filters the SAME shared aggregate,
        // so the union stays one scan.
        val node = args.head.toInt
        val template = applyTemplate(args)
        val newName = args.lift(2)
        // prefix discovery skips the dense spine: a Leaf child's
        // distinct names come straight off the shared post-agg frame
        // (scan + partial aggregate only — the collect job stays as
        // cheap as a metrics_find)
        val (prefixSrc, step) = c match {
          case Leaf(g) => (leafSelect(Fetch.globToRegex(g)), spp.toLong)
          case _ => eval(c)
        }
        val prefixes = prefixSrc
          .select(array_join(slice(split(col("metric"), "\\."), 1, node + 1),
            ".").as("p"))
          .distinct().collect().map(_.getString(0)).sorted
        require(prefixes.length <= 1024,
          s"applyByNode: ${prefixes.length} node groups exceed the " +
            "bounded-evaluation gate (1024)")
        if (prefixes.isEmpty)
          // no matching series is an EMPTY result, as for every other
          // selector (and so fallbackSeries' emptiness switch works
          // above this function too) — never an error
          (sharedAgg.filter(lit(false))
            .select(col("metric"), col("bucket_ts"), col("value")), step)
        else {
          val evald = prefixes.toSeq.map { p =>
            val (sub, st) = eval(parse(template.replace("%", p)))
            require(st == step,
              "applyByNode template must keep the series step")
            newName.fold(sub)(n =>
              sub.withColumn("metric", lit(n.replace("%", p))))
          }
          (gathered(evald), step)
        }
      case Call(f @ "useSeriesAbove", Seq(c), args) =>
        // series whose displayed-window MAX clears the threshold have
        // their names rewritten search→replace, and THOSE series serve
        // — graphite's two-round-trip form (inspect requests_per_sec,
        // fetch latency for the busy ones). The rewrite happens IN-PLAN
        // (regexp_replace on the qualifying-name frame, broadcast semi
        // join back into the shared aggregate) — no driver collect.
        // Search/replace are applied as LITERAL substrings (Pattern
        // .quote / quoteReplacement), because the pre-scan glob rewrite
        // in [[leafGlobs]] substitutes them literally — the two sides
        // MUST agree or the shared scan misses the rewritten names and
        // the result is silently empty. Documented deviation: graphite
        // re.sub's regex semantics are not honored; the overwhelmingly
        // common dotted-name search ('req.count') is literal in both.
        val thr = unquote(argAt(f, args, 0, "value")).toDouble
        val search = unquote(argAt(f, args, 1, "search"))
        val replace = unquote(argAt(f, args, 2, "replace"))
        val (df, step) = eval(c)
        val rewritten = shownStats(df, step, max(col("value")).as("max_v"))
          .filter(col("max_v") > thr)
          .select(regexp_replace(col("metric"),
            java.util.regex.Pattern.quote(search),
            java.util.regex.Matcher.quoteReplacement(replace)).as("metric"))
        (densify(sharedAgg.join(broadcast(rewritten), Seq("metric"), "left_semi")),
          spp.toLong)
      case Call(f @ "powSeries", cs, _) if cs.nonEmpty =>
        // left-fold power across members in name order (graphite's
        // safePow reduce) — strict like multiplySeries: any None member
        // makes the bucket None. Name-sorted struct array, fold from
        // the head.
        val (u, step) = members(f, cs)
        (u.groupBy(col("bucket_ts"))
          .agg(sort_array(collect_list(struct(col("metric").as("m"),
            col("value").as("v")))).as("vs"),
            count(col("value")).as("kn"), count(lit(1)).as("tot"))
          .select(lit("powSeries").as("metric"), col("bucket_ts"),
            when(col("kn") === col("tot") && size(col("vs")) > 0,
              round(aggregate(
                expr("slice(vs, 2, size(vs) - 1)"),
                element_at(col("vs"), 1).getField("v"),
                (acc, x) => pow(acc, x.getField("v"))), 6)).as("value")), step)
      case Call(f, _, _) =>
        throw new IllegalArgumentException(s"unsupported render function '$f'")
    }

    val (out, finalStep) = eval(expr0)
    // keep the (possibly partial) final-step bucket containing `from`
    val lo = shownFrom(finalStep)
    val trimmed = out.filter(shown(finalStep))
    // maxDataPoints consolidation (graphite's render-frame cap): when
    // the grid exceeds the cap, merge runs of ceil(buckets/cap) slots —
    // anchored at `lo`, graphite chunks from the range start — using
    // the target's consolidateBy function (default average) under its
    // xFilesFactor gate. Pure re-aggregation of the request-bounded
    // frame: no new scan, no shuffle beyond the final group-by (none
    // where the frame is gathered).
    val buckets = (untilI - lo + finalStep - 1) / finalStep
    val consolidated =
      if (maxDataPoints <= 0 || buckets <= maxDataPoints) trimmed
      else {
        val factor = (buckets + maxDataPoints - 1) / maxDataPoints
        val cStep = finalStep * factor
        val func = consolidationOf(expr0).getOrElse("average")
        val xff = xffOf(expr0).getOrElse(0.0)
        trimmed
          .groupBy(col("metric"),
            (param(lo) + floor((col("bucket_ts") - param(lo)) / param(cStep)) *
              param(cStep))
              .cast("long").as("bucket_ts"))
          .agg(round(consolidateAgg(func), 6).as("cv"),
            count(col("value")).as("known"), count(lit(1)).as("total"))
          .select(col("metric"), col("bucket_ts"),
            when(col("known") >= col("total") * xff, col("cv")).as("value"))
      }
    // the request-bounded response body: one sorted partition (without
    // a shuffle where the frame is gathered), no sampling job
    (if (gathers) consolidated.coalesce(1) else consolidated.repartition(1))
      .sortWithinPartitions("metric", "bucket_ts")
  }

  /** graphite's PIE mode — the render API's second output form
    * (`?graphType=pie&pieMode=…`, functions.py's PieFunctions dict next
    * to SeriesFunctions): every series of the evaluated target reduces
    * to ONE value per slice. `average` is safeAvg over the known
    * buckets (the pinned fixed-point mean, so the slice value is bit-exact
    * cross-engine), `maximum`/`minimum` the extremes; a series with no
    * known values yields a NULL slice (graphite drops it at chart
    * time). One tens-of-rows aggregate on top of the line evaluator —
    * scan and shuffle shape unchanged.
    */
  def evaluatePie(spark: SparkSession, pts: DataFrame, target: String,
      fromS: Long, untilS: Long, spp: Int,
      mode: String = "average"): DataFrame = {
    val df = evaluate(spark, pts, target, fromS, untilS, spp)
    val agg = mode match {
      case "average" => Rollup.gridMean6(col("value"))
      case "maximum" => round(max(col("value")), 6)
      case "minimum" => round(min(col("value")), 6)
      case m => throw new IllegalArgumentException(
        s"unknown pieMode '$m' (average, maximum, minimum)")
    }
    df.groupBy("metric").agg(agg.as("value")).orderBy("metric")
  }

  // ------------------------------------------------------- fixture keys

  /** `render_target`: a composed dashboard target — event rates
    * re-bucketed to 10-minute totals, over the glob-matched metrics.
    */
  val TargetExpr1 =
    s"summarize(perSecond(${Fetch.GlobPattern}), '10min', 'sum')"

  /** `render_target_smooth`: cross-series combine then a trailing
    * smooth — exercises the history pre-fetch propagating to the leaf.
    */
  val TargetExpr2 =
    s"movingAverage(sumSeries(${Fetch.GlobPattern}), 10)"

  def renderTarget(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    evaluate(spark, Buckets.pointsInRange(spark, sfDir, fromI, untilI),
      TargetExpr1, Buckets.FromS, Buckets.UntilS, 60)
  }

  def renderTargetSmooth(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val extFromI = fromI - 600L // movingAverage(10) × 60 s leaf step
    evaluate(spark, Buckets.pointsInRange(spark, sfDir, extFromI, untilI),
      TargetExpr2, Buckets.FromS, Buckets.UntilS, 60)
  }

  val renderTargetSql: String = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val rx = Fetch.globToRegex(Fetch.GlobPattern)
    val lo = Math.floorDiv(fromI, 600L) * 600
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)),
       |rate AS (
       |  SELECT metric, bucket_ts,
       |         CASE WHEN v IS NOT NULL AND prev IS NOT NULL AND v >= prev
       |              THEN round((v - prev) / 60, 6) END AS value
       |  FROM (SELECT metric, bucket_ts, v,
       |               lag(v) OVER (PARTITION BY metric ORDER BY bucket_ts) AS prev
       |        FROM dense))
       |SELECT metric, (bucket_ts // 600) * 600 AS bucket_ts,
       |       round(sum(value), 6) AS value
       |FROM rate
       |GROUP BY 1, 2
       |HAVING (bucket_ts // 600) * 600 >= $lo
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  /** `render_target_rate`: the classic per-minute counter panel —
    * `scale(nonNegativeDerivative(glob), 60)`. Exercises the pointwise
    * tier: numeric literal args and null-propagating arithmetic fused
    * onto the rate window's projection.
    */
  val TargetExprRate =
    s"scale(nonNegativeDerivative(${Fetch.GlobPattern}), 60)"

  /** `render_target_fill`: `integral(keepLastValue(glob, 3))` — gaps of
    * up to 3 buckets bridged with the preceding value, then the running
    * per-series total. Exercises the run-length bridge rule and the
    * null-skipping accumulator stacked on one metric-partitioned sort.
    */
  val TargetExprFill =
    s"integral(keepLastValue(${Fetch.GlobPattern}, 3))"

  /** `render_target_timeshift`: `timeShift(summarize(glob, '10min',
    * 'avg'), '1h')` — the week-over-week comparison shape. Exercises the
    * shift propagating into the leaf's history extension and the
    * re-stamp/trim interplay with a coarsened step.
    */
  val TargetExprShift =
    s"timeShift(summarize(${Fetch.GlobPattern}, '10min', 'avg'), '1h')"

  def renderTargetRate(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    evaluate(spark, Buckets.pointsInRange(spark, sfDir, fromI, untilI),
      TargetExprRate, Buckets.FromS, Buckets.UntilS, 60)
  }

  def renderTargetFill(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    evaluate(spark, Buckets.pointsInRange(spark, sfDir, fromI, untilI),
      TargetExprFill, Buckets.FromS, Buckets.UntilS, 60)
  }

  def renderTargetTimeshift(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val extFromI = fromI - 3600L // timeShift '1h' propagated to the leaf
    evaluate(spark, Buckets.pointsInRange(spark, sfDir, extFromI, untilI),
      TargetExprShift, Buckets.FromS, Buckets.UntilS, 60)
  }

  /** Dotted-path glob over [[Buckets.pointsPathedInRange]]'s 20 series:
    * 4 shards × the three glob-matched event types.
    */
  val PathedGlob = "shard*.{click,sign*,v?ew}"

  /** `render_target_ratio`: `divideSeries(sumSeries(g), countSeries(g))`
    * — the mean-including-gaps panel. Exercises the multi-series
    * grammar, the combine family, and the broadcast one-series divisor.
    */
  val TargetExprRatio =
    s"divideSeries(sumSeries(${Fetch.GlobPattern}), countSeries(${Fetch.GlobPattern}))"

  /** `render_target_group`: `groupByNode(shard*…, 1, 'sum')` — host-level
    * series re-aggregated per event type across shards.
    */
  val TargetExprGroup = s"groupByNode($PathedGlob, 1, 'sum')"

  /** `render_target_top`: `highestAverage(shard*…, 3)` — series
    * selection by ranking over the requested window.
    */
  val TargetExprTop = s"highestAverage($PathedGlob, 3)"

  def renderTargetRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    evaluate(spark, Buckets.pointsInRange(spark, sfDir, fromI, untilI),
      TargetExprRatio, Buckets.FromS, Buckets.UntilS, 60)
  }

  def renderTargetGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    evaluate(spark, Buckets.pointsPathedInRange(spark, sfDir, fromI, untilI),
      TargetExprGroup, Buckets.FromS, Buckets.UntilS, 60)
  }

  def renderTargetTop(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    evaluate(spark, Buckets.pointsPathedInRange(spark, sfDir, fromI, untilI),
      TargetExprTop, Buckets.FromS, Buckets.UntilS, 60)
  }

  /** `render_target_hitcount`: `hitcount(transformNull(g, 0), '1h')` —
    * hourly hit totals from per-minute rates, gaps counted as zero.
    */
  val TargetExprHitcount =
    s"hitcount(transformNull(${Fetch.GlobPattern}, 0), '1h')"

  /** `render_target_above`: threshold selection then a value floor —
    * `removeBelowValue(averageAbove(shard*…, 50), 40)`.
    */
  val TargetExprAbove =
    s"removeBelowValue(averageAbove($PathedGlob, 50), 40)"

  def renderTargetHitcount(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    evaluate(spark, Buckets.pointsInRange(spark, sfDir, fromI, untilI),
      TargetExprHitcount, Buckets.FromS, Buckets.UntilS, 60)
  }

  def renderTargetAbove(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    evaluate(spark, Buckets.pointsPathedInRange(spark, sfDir, fromI, untilI),
      TargetExprAbove, Buckets.FromS, Buckets.UntilS, 60)
  }

  val renderTargetHitcountSql: String = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val rx = Fetch.globToRegex(Fetch.GlobPattern)
    val lo = Math.floorDiv(fromI, 3600L) * 3600
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, coalesce(a.v, 0) AS v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts))
       |SELECT metric, (bucket_ts // 3600) * 3600 AS bucket_ts,
       |       round(sum(v * 60), 6) AS value
       |FROM dense
       |GROUP BY 1, 2
       |HAVING (bucket_ts // 3600) * 3600 >= $lo
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  val renderTargetAboveSql: String = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val rx = Fetch.globToRegex(PathedGlob)
    s"""WITH ${Buckets.pointsPathedSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)),
       |keep AS (
       |  SELECT metric FROM dense GROUP BY 1 HAVING avg(v) >= 50)
       |SELECT d.metric, d.bucket_ts,
       |       CASE WHEN d.v >= 40 THEN d.v END AS value
       |FROM dense d JOIN keep USING (metric)
       |ORDER BY d.metric, d.bucket_ts""".stripMargin
  }

  val renderTargetRatioSql: String = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val rx = Fetch.globToRegex(Fetch.GlobPattern)
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)),
       |num AS (
       |  SELECT bucket_ts, round(sum(v), 6) AS nv FROM dense GROUP BY 1),
       |den AS (
       |  SELECT bucket_ts, CAST(count(*) AS DOUBLE) AS dv FROM dense GROUP BY 1)
       |SELECT 'sumSeries' AS metric, n.bucket_ts,
       |       CASE WHEN nv IS NOT NULL AND dv IS NOT NULL AND dv <> 0
       |            THEN round(nv / dv, 6) END AS value
       |FROM num n JOIN den USING (bucket_ts)
       |ORDER BY n.bucket_ts""".stripMargin
  }

  val renderTargetGroupSql: String = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val rx = Fetch.globToRegex(PathedGlob)
    s"""WITH ${Buckets.pointsPathedSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts))
       |SELECT split_part(metric, '.', 2) AS metric, bucket_ts,
       |       round(sum(v), 6) AS value
       |FROM dense
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  val renderTargetTopSql: String = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val rx = Fetch.globToRegex(PathedGlob)
    s"""WITH ${Buckets.pointsPathedSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)),
       |stats AS (
       |  SELECT metric, avg(v) AS rank_v FROM dense GROUP BY 1),
       |top_n AS (
       |  SELECT metric FROM stats
       |  ORDER BY rank_v DESC NULLS LAST, metric LIMIT 3)
       |SELECT d.metric, d.bucket_ts, d.v AS value
       |FROM dense d JOIN top_n USING (metric)
       |ORDER BY d.metric, d.bucket_ts""".stripMargin
  }

  val renderTargetRateSql: String = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val rx = Fetch.globToRegex(Fetch.GlobPattern)
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)),
       |lagged AS (
       |  SELECT metric, bucket_ts, v,
       |         lag(v) OVER (PARTITION BY metric ORDER BY bucket_ts) AS prev
       |  FROM dense)
       |SELECT metric, bucket_ts,
       |       CASE WHEN v IS NOT NULL AND prev IS NOT NULL AND v >= prev
       |            THEN round(round(v - prev, 6) * 60, 6) END AS value
       |FROM lagged
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  val renderTargetFillSql: String = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val rx = Fetch.globToRegex(Fetch.GlobPattern)
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)),
       |runs AS (
       |  SELECT metric, bucket_ts, v,
       |         count(v) OVER (PARTITION BY metric ORDER BY bucket_ts
       |           ROWS UNBOUNDED PRECEDING) AS run_id,
       |         last_value(v IGNORE NULLS) OVER (PARTITION BY metric
       |           ORDER BY bucket_ts ROWS UNBOUNDED PRECEDING) AS bridged
       |  FROM dense),
       |bridgedv AS (
       |  SELECT metric, bucket_ts,
       |         CASE WHEN v IS NOT NULL THEN v
       |              WHEN run_id > 0 AND count(CASE WHEN v IS NULL THEN 1 END)
       |                OVER (PARTITION BY metric, run_id) <= 3 THEN bridged
       |         END AS fv
       |  FROM runs)
       |SELECT metric, bucket_ts,
       |       CASE WHEN fv IS NOT NULL
       |            THEN round(sum(fv) OVER (PARTITION BY metric
       |              ORDER BY bucket_ts ROWS UNBOUNDED PRECEDING), 6)
       |       END AS value
       |FROM bridgedv
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  val renderTargetTimeshiftSql: String = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val extFromI = fromI - 3600L
    val rx = Fetch.globToRegex(Fetch.GlobPattern)
    val lo = Math.floorDiv(fromI, 600L) * 600
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $extFromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $extFromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($extFromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)),
       |coarse AS (
       |  SELECT metric, (bucket_ts // 600) * 600 AS b,
       |         ${Rollup.gridMean6Sql()} AS value
       |  FROM dense GROUP BY 1, 2),
       |shifted AS (
       |  SELECT metric, b + 3600 AS bucket_ts, value FROM coarse)
       |SELECT metric, bucket_ts, value FROM shifted
       |WHERE bucket_ts < $untilI AND bucket_ts >= $lo
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  // ------------------------------------------- round-9 function keys

  private def stdFromI: Long = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)._1
  private def stdUntilI: Long = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)._2

  /** Evaluate `target` over the flat points view on the standard oracle
    * window, with `extS` seconds of history pre-fetched at the source.
    */
  private[ops] def evalFlat(spark: SparkSession, sfDir: String, target: String,
      extS: Long = 0, maxDataPoints: Int = 0): DataFrame =
    evaluate(spark,
      Buckets.pointsInRange(spark, sfDir, stdFromI - extS, stdUntilI),
      target, Buckets.FromS, Buckets.UntilS, 60, maxDataPoints)

  /** [[evalFlat]] over the dotted-path (sharded) points view. */
  private def evalPathed(spark: SparkSession, sfDir: String, target: String,
      extS: Long = 0): DataFrame =
    evaluate(spark,
      Buckets.pointsPathedInRange(spark, sfDir, stdFromI - extS, stdUntilI),
      target, Buckets.FromS, Buckets.UntilS, 60)

  /** Shared dense-series CTE prefix for the round-9 oracle twins —
    * literally the leaf evaluation: ranged scan → per-minute avg →
    * spine left join (gaps as NULL).
    */
  private def denseSqlWith(ptsCte: String, rx: String,
      fromI: Long, untilI: Long): String =
    s"""WITH $ptsCte,
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts))""".stripMargin

  /** [[denseSqlWith]] with an arbitrary WHERE condition on the metric
    * instead of a regex — the tag-selection twins.
    */
  private def denseSqlWhere(ptsCte: String, cond: String,
      fromI: Long, untilI: Long): String =
    s"""WITH $ptsCte,
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND ($cond)),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND ($cond)
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts))""".stripMargin

  private def denseFlatSql: String =
    denseSqlWith(Buckets.pointsSql, Fetch.globToRegex(Fetch.GlobPattern),
      stdFromI, stdUntilI)

  private def densePathedSql: String =
    denseSqlWith(Buckets.pointsPathedSql, Fetch.globToRegex(PathedGlob),
      stdFromI, stdUntilI)

  /** `render_target_percent`: each event type as a share of the
    * per-minute total across the matched series — `asPercent(glob)`.
    */
  val TargetExprPercent = s"asPercent(${Fetch.GlobPattern})"

  def renderTargetPercent(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprPercent)

  val renderTargetPercentSql: String =
    s"""$denseFlatSql,
       |tot AS (SELECT bucket_ts, sum(v) AS tot_v FROM dense GROUP BY 1)
       |SELECT d.metric, d.bucket_ts,
       |       CASE WHEN d.v IS NOT NULL AND tot_v IS NOT NULL AND tot_v <> 0
       |            THEN round(d.v / tot_v * 100, 6) END AS value
       |FROM dense d JOIN tot USING (bucket_ts)
       |ORDER BY d.metric, d.bucket_ts""".stripMargin

  /** `render_target_sort`: top-5 series by requested-window total —
    * the `limit(sortByTotal(…), 5)` selecting composition.
    */
  val TargetExprSort = s"limit(sortByTotal($PathedGlob), 5)"

  def renderTargetSort(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprSort)

  val renderTargetSortSql: String =
    s"""$densePathedSql,
       |stats AS (
       |  SELECT metric, sum(v) AS rank_v FROM dense GROUP BY 1),
       |top_n AS (
       |  SELECT metric FROM stats
       |  ORDER BY rank_v DESC NULLS LAST, metric LIMIT 5)
       |SELECT d.metric, d.bucket_ts, d.v AS value
       |FROM dense d JOIN top_n USING (metric)
       |ORDER BY d.metric, d.bucket_ts""".stripMargin

  /** `render_target_median`: combine then a trailing median smooth —
    * `movingMedian(sumSeries(glob), 10)` (outlier-robust smoothing).
    */
  val TargetExprMedian = s"movingMedian(sumSeries(${Fetch.GlobPattern}), 10)"

  def renderTargetMedian(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprMedian, extS = 600L)

  val renderTargetMedianSql: String = {
    val extFromI = stdFromI - 600L
    s"""${denseSqlWith(Buckets.pointsSql, Fetch.globToRegex(Fetch.GlobPattern),
        extFromI, stdUntilI)},
       |summed AS (
       |  SELECT bucket_ts, round(sum(v), 6) AS value
       |  FROM dense GROUP BY 1),
       |smoothed AS (
       |  SELECT bucket_ts,
       |         round(median(value) OVER (ORDER BY bucket_ts
       |           ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING), 6) AS value
       |  FROM summed)
       |SELECT 'sumSeries' AS metric, bucket_ts, value FROM smoothed
       |WHERE bucket_ts >= $stdFromI
       |ORDER BY bucket_ts""".stripMargin
  }

  /** `render_target_filter`: regex drop + regex rename —
    * `aliasSub(exclude(shard*…, 'sign'), '^shard', 'dc')`.
    */
  val TargetExprFilter = s"aliasSub(exclude($PathedGlob, 'sign'), '^shard', 'dc')"

  def renderTargetFilter(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprFilter)

  val renderTargetFilterSql: String =
    s"""$densePathedSql
       |SELECT regexp_replace(metric, '^shard', 'dc') AS metric,
       |       bucket_ts, v AS value
       |FROM dense
       |WHERE NOT regexp_matches(metric, 'sign')
       |ORDER BY 1, 2""".stripMargin

  /** `render_target_current`: series whose last known value clears the
    * threshold — `currentAbove(shard*…, 50)`.
    */
  val TargetExprCurrent = s"currentAbove($PathedGlob, 50)"

  def renderTargetCurrent(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprCurrent)

  val renderTargetCurrentSql: String =
    s"""$densePathedSql,
       |cur AS (
       |  SELECT metric, arg_max(v, bucket_ts) AS cur_v
       |  FROM dense WHERE v IS NOT NULL GROUP BY 1),
       |keep AS (SELECT metric FROM cur WHERE cur_v >= 50)
       |SELECT d.metric, d.bucket_ts, d.v AS value
       |FROM dense d JOIN keep USING (metric)
       |ORDER BY d.metric, d.bucket_ts""".stripMargin

  /** `render_target_pctile`: per-bucket 90th percentile across the 20
    * sharded series — `percentileOfSeries(shard*…, 90)`.
    */
  val TargetExprPctile = s"percentileOfSeries($PathedGlob, 90)"

  def renderTargetPctile(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprPctile)

  val renderTargetPctileSql: String =
    s"""$densePathedSql
       |SELECT 'percentileOfSeries' AS metric, bucket_ts,
       |       round(quantile_cont(v, 0.9), 6) AS value
       |FROM dense GROUP BY bucket_ts
       |ORDER BY bucket_ts""".stripMargin

  /** `render_target_trim`: values above each series' own 80th
    * percentile masked to None — `removeAbovePercentile(shard*…, 80)`.
    */
  val TargetExprTrim = s"removeAbovePercentile($PathedGlob, 80)"

  def renderTargetTrim(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprTrim)

  val renderTargetTrimSql: String =
    s"""$densePathedSql,
       |thr AS (
       |  SELECT metric, quantile_cont(v, 0.8) AS thr_v
       |  FROM dense GROUP BY 1)
       |SELECT d.metric, d.bucket_ts,
       |       CASE WHEN d.v <= thr_v THEN d.v END AS value
       |FROM dense d LEFT JOIN thr USING (metric)
       |ORDER BY d.metric, d.bucket_ts""".stripMargin

  /** `render_target_stdev`: combine then the trailing population
    * deviation — `stdev(sumSeries(glob), 10)`.
    */
  val TargetExprStdev = s"stdev(sumSeries(${Fetch.GlobPattern}), 10)"

  def renderTargetStdev(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprStdev, extS = 600L)

  val renderTargetStdevSql: String = {
    val extFromI = stdFromI - 600L
    s"""${denseSqlWith(Buckets.pointsSql, Fetch.globToRegex(Fetch.GlobPattern),
        extFromI, stdUntilI)},
       |summed AS (
       |  SELECT bucket_ts, round(sum(v), 6) AS value
       |  FROM dense GROUP BY 1),
       |smoothed AS (
       |  SELECT bucket_ts,
       |         round(stddev_pop(value) OVER (ORDER BY bucket_ts
       |           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS value
       |  FROM summed)
       |SELECT 'sumSeries' AS metric, bucket_ts, value FROM smoothed
       |WHERE bucket_ts >= $stdFromI
       |ORDER BY bucket_ts""".stripMargin
  }

  /** `render_target_constant`: the reference-line series —
    * `constantLine(42.5)` on the request grid.
    */
  val TargetExprConstant = "constantLine(42.5)"

  def renderTargetConstant(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprConstant)

  val renderTargetConstantSql: String =
    s"""SELECT '42.5' AS metric, CAST(range AS BIGINT) AS bucket_ts,
       |       42.5 AS value
       |FROM range($stdFromI, $stdUntilI, 60)
       |ORDER BY bucket_ts""".stripMargin

  /** `render_target_gen`: the seeded deterministic random walk —
    * `randomWalk(name, step, seed)` with the double-Lehmer-hash uniform
    * source (see the eval case: graphite's wall-clock PRNG replaced by
    * seedable integer arithmetic both engines reproduce exactly).
    */
  val TargetExprGen = "randomWalk('gen.walk', 60, 7)"

  def renderTargetGen(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprGen)

  val renderTargetGenSql: String =
    s"""WITH grid AS (
       |  SELECT CAST(range AS BIGINT) AS bucket_ts
       |  FROM range($stdFromI, $stdUntilI, 60)),
       |inc AS (
       |  SELECT bucket_ts,
       |    (48271 * ((48271 * ((7 + (bucket_ts - $stdFromI) // 60)
       |      % 2147483647)) % 2147483647)) % 2147483647 AS h
       |  FROM grid)
       |SELECT 'gen.walk' AS metric, bucket_ts,
       |  round(coalesce(sum(h / CAST(2147483647.0 AS DOUBLE) - CAST(0.5 AS DOUBLE)) OVER (
       |    ORDER BY bucket_ts
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), 6)
       |    AS value
       |FROM inc
       |ORDER BY bucket_ts""".stripMargin

  /** `render_target_events`: graphite's `events(*tags)` as the
    * per-bucket count of matching events on the request grid (tags
    * select event types under the §1.3 metric := event_type mapping).
    */
  val TargetExprEvents = "events('view', 'click')"

  def renderTargetEvents(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprEvents)

  val renderTargetEventsSql: String =
    s"""WITH ${Buckets.pointsSql},
       |cnt AS (
       |  SELECT (ts_s // 60) * 60 AS bucket_ts,
       |         CAST(count(*) AS DOUBLE) AS cnt
       |  FROM pts
       |  WHERE metric IN ('view', 'click')
       |    AND ts_s >= $stdFromI AND ts_s < $stdUntilI
       |  GROUP BY 1),
       |spine AS (SELECT CAST(range AS BIGINT) AS bucket_ts
       |          FROM range($stdFromI, $stdUntilI, 60))
       |SELECT 'events(view,click)' AS metric, s.bucket_ts,
       |       coalesce(c.cnt, 0) AS value
       |FROM spine s LEFT JOIN cnt c USING (bucket_ts)
       |ORDER BY s.bucket_ts""".stripMargin

  /** `render_target_consolidate`: the render-frame cap —
    * `consolidateBy(xFilesFactor(glob, 0.3), 'max')` consolidated to
    * ≤100 points: 1440 minute slots → 96 15-minute frames, a frame None
    * unless ≥30% of its slots are known.
    */
  val TargetExprConsolidate =
    s"consolidateBy(xFilesFactor(${Fetch.GlobPattern}, 0.3), 'max')"

  def renderTargetConsolidate(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprConsolidate, maxDataPoints = 100)

  val renderTargetConsolidateSql: String =
    s"""$denseFlatSql
       |SELECT metric,
       |       CAST($stdFromI + ((bucket_ts - $stdFromI) // 900) * 900
       |         AS BIGINT) AS bucket_ts,
       |       CASE WHEN count(v) >= count(*) * CAST(0.3 AS DOUBLE)
       |            THEN round(max(v), 6) END AS value
       |FROM dense
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** `render_target_diff`: headroom panel — `diffSeries(maxSeries(g),
    * averageSeries(g))` (peak minus mean across the matched series).
    */
  val TargetExprDiff =
    s"diffSeries(maxSeries(${Fetch.GlobPattern}), averageSeries(${Fetch.GlobPattern}))"

  def renderTargetDiff(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprDiff)

  val renderTargetDiffSql: String =
    s"""$denseFlatSql,
       |mx AS (SELECT bucket_ts, max(v) AS value FROM dense GROUP BY 1),
       |av AS (SELECT bucket_ts, ${Rollup.gridMean6Sql()} AS value
       |       FROM dense GROUP BY 1)
       |SELECT 'diffSeries' AS metric, m.bucket_ts,
       |       CASE WHEN m.value IS NULL AND a.value IS NULL THEN NULL
       |            ELSE round(coalesce(m.value, 0) - coalesce(a.value, 0), 6)
       |       END AS value
       |FROM mx m JOIN av a USING (bucket_ts)
       |ORDER BY m.bucket_ts""".stripMargin

  /** `render_target_math`: the pointwise math tier stacked —
    * `squareRoot(invert(scaleToSeconds(g, 300)))`.
    */
  val TargetExprMath =
    s"squareRoot(invert(scaleToSeconds(${Fetch.GlobPattern}, 300)))"

  def renderTargetMath(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprMath)

  val renderTargetMathSql: String =
    s"""$denseFlatSql,
       |s1 AS (
       |  SELECT metric, bucket_ts, round(v * CAST(5.0 AS DOUBLE), 6) AS v FROM dense),
       |s2 AS (
       |  SELECT metric, bucket_ts,
       |         CASE WHEN v <> 0 THEN round(CAST(1.0 AS DOUBLE) / v, 6) END AS v FROM s1)
       |SELECT metric, bucket_ts,
       |       CASE WHEN v >= 0 THEN round(sqrt(v), 6) END AS value
       |FROM s2
       |ORDER BY metric, bucket_ts""".stripMargin

  /** `render_target_spread`: per-minute spread across the 20 sharded
    * series — `rangeOfSeries(shard*…)`.
    */
  val TargetExprSpread = s"rangeOfSeries($PathedGlob)"

  def renderTargetSpread(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprSpread)

  val renderTargetSpreadSql: String =
    s"""$densePathedSql
       |SELECT 'rangeOfSeries' AS metric, bucket_ts,
       |       round(max(v) - min(v), 6) AS value
       |FROM dense GROUP BY bucket_ts
       |ORDER BY bucket_ts""".stripMargin

  /** `render_target_stack`: the week-over-week overlay —
    * `timeStack(sumSeries(g), '1h', 0, 2)` (three shifted copies).
    */
  val TargetExprStack = s"timeStack(sumSeries(${Fetch.GlobPattern}), '1h', 0, 2)"

  def renderTargetStack(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprStack, extS = 7200L)

  val renderTargetStackSql: String = {
    val extFromI = stdFromI - 7200L
    s"""${denseSqlWith(Buckets.pointsSql, Fetch.globToRegex(Fetch.GlobPattern),
        extFromI, stdUntilI)},
       |summed AS (
       |  SELECT bucket_ts, round(sum(v), 6) AS value
       |  FROM dense GROUP BY 1),
       |stacked AS (
       |  SELECT 'sumSeries@-' || i AS metric,
       |         bucket_ts + i * 3600 AS bucket_ts, value
       |  FROM summed, (SELECT unnest([0, 1, 2]) AS i))
       |SELECT metric, bucket_ts, value FROM stacked
       |WHERE bucket_ts >= $stdFromI AND bucket_ts < $stdUntilI
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  /** `render_target_nonnull`: gap-boundary detector —
    * `changed(isNonNull(g))` (1 exactly where presence flips).
    */
  val TargetExprNonnull = s"changed(isNonNull(${Fetch.GlobPattern}))"

  def renderTargetNonnull(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprNonnull)

  val renderTargetNonnullSql: String =
    s"""$denseFlatSql,
       |nn AS (
       |  SELECT metric, bucket_ts,
       |         CASE WHEN v IS NOT NULL THEN 1.0 ELSE 0.0 END AS v
       |  FROM dense),
       |lagged AS (
       |  SELECT metric, bucket_ts, v,
       |         lag(v) OVER (PARTITION BY metric ORDER BY bucket_ts) AS prev
       |  FROM nn)
       |SELECT metric, bucket_ts,
       |       CASE WHEN v IS NOT NULL AND prev IS NOT NULL AND v <> prev
       |            THEN 1.0 ELSE 0.0 END AS value
       |FROM lagged
       |ORDER BY metric, bucket_ts""".stripMargin

  /** `render_target_select2`: threshold + rank composed —
    * `lowestAverage(maximumAbove(shard*…, 80), 3)` (series that ever
    * spike above 80, then the 3 calmest of them).
    */
  val TargetExprSelect2 = s"lowestAverage(maximumAbove($PathedGlob, 80), 3)"

  def renderTargetSelect2(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprSelect2)

  val renderTargetSelect2Sql: String =
    s"""$densePathedSql,
       |spiky AS (
       |  SELECT metric FROM dense GROUP BY 1 HAVING max(v) > 80),
       |stats AS (
       |  SELECT d.metric, avg(d.v) AS rank_v
       |  FROM dense d JOIN spiky USING (metric) GROUP BY 1),
       |calm AS (
       |  SELECT metric FROM stats
       |  ORDER BY rank_v ASC NULLS LAST, metric LIMIT 3)
       |SELECT d.metric, d.bucket_ts, d.v AS value
       |FROM dense d JOIN calm USING (metric)
       |ORDER BY d.metric, d.bucket_ts""".stripMargin

  /** `render_target_interp`: gaps of ≤5 slots bridged linearly —
    * `interpolate(g, 5)`.
    */
  val TargetExprInterp = s"interpolate(${Fetch.GlobPattern}, 5)"

  def renderTargetInterp(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprInterp)

  val renderTargetInterpSql: String =
    s"""$denseFlatSql,
       |w AS (
       |  SELECT metric, bucket_ts, v,
       |         last_value(v IGNORE NULLS) OVER (PARTITION BY metric
       |           ORDER BY bucket_ts ROWS UNBOUNDED PRECEDING) AS pv,
       |         last_value(CASE WHEN v IS NOT NULL THEN bucket_ts END
       |           IGNORE NULLS) OVER (PARTITION BY metric
       |           ORDER BY bucket_ts ROWS UNBOUNDED PRECEDING) AS pt,
       |         first_value(v IGNORE NULLS) OVER (PARTITION BY metric
       |           ORDER BY bucket_ts ROWS BETWEEN CURRENT ROW AND
       |           UNBOUNDED FOLLOWING) AS nv,
       |         first_value(CASE WHEN v IS NOT NULL THEN bucket_ts END
       |           IGNORE NULLS) OVER (PARTITION BY metric
       |           ORDER BY bucket_ts ROWS BETWEEN CURRENT ROW AND
       |           UNBOUNDED FOLLOWING) AS nt
       |  FROM dense)
       |SELECT metric, bucket_ts,
       |       CASE WHEN v IS NOT NULL THEN v
       |            WHEN pt IS NOT NULL AND nt IS NOT NULL
       |                 AND (nt - pt) / 60 - 1 <= 5
       |            THEN ${Buckets.round6Sql(
                       "pv + (nv - pv) * (bucket_ts - pt) / (nt - pt)")}
       |       END AS value
       |FROM w
       |ORDER BY metric, bucket_ts""".stripMargin

  /** `render_target_align`: request-anchored coarse buckets —
    * `summarize(g, '7min', 'max', true)` (alignToFrom; 7 min never
    * divides the epoch grid, so anchor choice is observable).
    */
  val TargetExprAlign = s"summarize(${Fetch.GlobPattern}, '7min', 'max', true)"

  def renderTargetAlign(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprAlign)

  val renderTargetAlignSql: String =
    s"""$denseFlatSql
       |SELECT metric,
       |       CAST($stdFromI + ((bucket_ts - $stdFromI) // 420) * 420
       |         AS BIGINT) AS bucket_ts,
       |       round(max(v), 6) AS value
       |FROM dense
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** `render_target_band`: outlier series — averages outside the
    * [20th, 80th] percentile band of all series' averages.
    */
  val TargetExprBand = s"averageOutsidePercentile($PathedGlob, 80)"

  def renderTargetBand(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprBand)

  val renderTargetBandSql: String =
    s"""$densePathedSql,
       |avgs AS (
       |  SELECT metric, avg(v) AS avg_v FROM dense GROUP BY 1),
       |band AS (
       |  SELECT quantile_cont(avg_v, 0.2) AS lo_v,
       |         quantile_cont(avg_v, 0.8) AS hi_v FROM avgs),
       |keep AS (
       |  SELECT metric FROM avgs, band
       |  WHERE avg_v < lo_v OR avg_v > hi_v)
       |SELECT d.metric, d.bucket_ts, d.v AS value
       |FROM dense d JOIN keep USING (metric)
       |ORDER BY d.metric, d.bucket_ts""".stripMargin

  /** `render_target_union`: two series lists side by side —
    * `group(shard*.click, shard*.v?ew)`.
    */
  val TargetExprUnion = "group(shard*.click, shard*.v?ew)"

  def renderTargetUnion(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprUnion)

  val renderTargetUnionSql: String = {
    val rx = s"${Fetch.globToRegex("shard*.click")}|${Fetch.globToRegex("shard*.v?ew")}"
    s"""${denseSqlWith(Buckets.pointsPathedSql, rx, stdFromI, stdUntilI)}
       |SELECT metric, bucket_ts, v AS value FROM dense
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  /** `render_target_wavg`: self-weighted mean across the event types —
    * `weightedAverage(shard*…, shard*…, 1)` (Σv²/Σv per bucket).
    */
  val TargetExprWavg = s"weightedAverage($PathedGlob, $PathedGlob, 1)"

  def renderTargetWavg(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprWavg)

  val renderTargetWavgSql: String =
    s"""$densePathedSql,
       |bn AS (
       |  SELECT split_part(metric, '.', 2) AS node, bucket_ts,
       |         arg_max(v, metric) AS v
       |  FROM dense WHERE v IS NOT NULL GROUP BY 1, 2),
       |folded AS (
       |  SELECT bucket_ts,
       |         ${Rollup.orderedSumSql("node", "v * v")} AS num,
       |         ${Rollup.orderedSumSql("node", "v")} AS den
       |  FROM bn GROUP BY bucket_ts)
       |SELECT 'weightedAverage' AS metric, g.bucket_ts,
       |       CASE WHEN den IS NOT NULL AND den <> 0
       |            THEN ${Buckets.round6Sql("num / den")} END AS value
       |FROM (SELECT DISTINCT bucket_ts FROM dense) g
       |LEFT JOIN folded f ON f.bucket_ts = g.bucket_ts
       |ORDER BY g.bucket_ts""".stripMargin

  /** `render_target_holt`: the anomaly panel —
    * `holtWintersAberration(sumSeries(g), 3, '6h', '1h')`. Oracle: the
    * seasonal recurrence IS SQL-expressible as a single-row recursive
    * CTE state machine ([[renderTargetHoltSql]]) — one iteration per
    * grid slot carrying (intercept, slope, pending prediction) as
    * scalars and the per-slot seasonal/deviation history as growing
    * DOUBLE lists (the season lookback reads `list[i − season]`), every
    * arithmetic step spelled in the same IEEE op order as
    * [[hwAnalysis]]. The grid is request-bounded (360 bootstrap + 1440
    * window slots at any SF), so the recursion depth is constant — a
    * spec-shaped oracle, not a data-volume one.
    */
  val TargetExprHolt =
    s"holtWintersAberration(sumSeries(${Fetch.GlobPattern}), 3, '6h', '1h')"

  def renderTargetHolt(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprHolt, extS = 21600L)

  // lazy: closes over holtInputCtes, declared below with the input key
  lazy val renderTargetHoltSql: String = {
    // season = 1h / 60s-step; the state lists are 1-indexed, i counts
    // consumed slots, so slot i+1's season lookback is list[i + 1 - S]
    val S = 3600 / 60
    val a = "vs[i + 1]"
    val gap = s"$a IS NULL"
    val li = s"CASE WHEN i = 0 OR intercept IS NULL THEN $a ELSE intercept END"
    val pout = s"CASE WHEN i = 0 AND $a IS NOT NULL THEN $a ELSE nextpred END"
    val lseas =
      s"CASE WHEN i + 1 - $S >= 1 THEN seasonals[i + 1 - $S] ELSE CAST(0 AS DOUBLE) END"
    val ldev =
      s"CASE WHEN i + 1 - $S >= 1 THEN devs[i + 1 - $S] ELSE CAST(0 AS DOUBLE) END"
    // α, β, γ spelled as the identical literals hwAnalysis binds; the
    // (1 − x) complements are computed IEEE-identically in both engines
    val al = "CAST(0.1 AS DOUBLE)"
    val be = "CAST(0.0035 AS DOUBLE)"
    val ga = "CAST(0.1 AS DOUBLE)"
    val intc = s"($al * ($a - $lseas) + (1 - $al) * (($li) + slope))"
    val slp = s"($be * ($intc - ($li)) + (1 - $be) * slope)"
    val seas = s"($ga * ($a - $intc) + (1 - $ga) * ($lseas))"
    val dev =
      s"($ga * abs($a - COALESCE($pout, CAST(0 AS DOUBLE))) + (1 - $ga) * ($ldev))"
    // nextPred reads the NEXT slot's seasonal — already in the appended
    // list (hwAnalysis's seasonalAt(i + 1) over the just-written array)
    val seasNext = s"CASE WHEN i + 2 - $S >= 1 " +
      s"THEN list_append(seasonals, $seas)[i + 2 - $S] ELSE CAST(0 AS DOUBLE) END"
    s"""WITH RECURSIVE $holtInputCtes,
       |arr AS (
       |  SELECT list(value ORDER BY bucket_ts) AS vs,
       |         list(bucket_ts ORDER BY bucket_ts) AS bs,
       |         count(*) AS n FROM inp),
       |hw(i, intercept, slope, nextpred, seasonals, devs, preds) AS (
       |  SELECT 0, CAST(NULL AS DOUBLE), CAST(0 AS DOUBLE), CAST(NULL AS DOUBLE),
       |         CAST([] AS DOUBLE[]), CAST([] AS DOUBLE[]), CAST([] AS DOUBLE[])
       |  UNION ALL
       |  SELECT i + 1,
       |         CASE WHEN $gap THEN NULL ELSE $intc END,
       |         CASE WHEN $gap THEN CAST(0 AS DOUBLE) ELSE $slp END,
       |         CASE WHEN $gap THEN NULL ELSE $intc + $slp + $seasNext END,
       |         list_append(seasonals, CASE WHEN $gap THEN CAST(0 AS DOUBLE) ELSE $seas END),
       |         list_append(devs, CASE WHEN $gap THEN CAST(0 AS DOUBLE) ELSE $dev END),
       |         list_append(preds, $pout)
       |  FROM hw, arr WHERE i < n),
       |fin AS (SELECT vs, bs, preds, devs, n FROM hw, arr WHERE i = n),
       |idx AS (SELECT unnest(range(1, n + 1)) AS j FROM fin)
       |SELECT 'sumSeries' AS metric, bs[j] AS bucket_ts,
       |       CASE WHEN vs[j] IS NOT NULL AND preds[j] IS NOT NULL THEN
       |         CASE WHEN vs[j] > preds[j] + 3 * devs[j]
       |              THEN ${Buckets.round6Sql("vs[j] - (preds[j] + 3 * devs[j])")}
       |              WHEN vs[j] < preds[j] - 3 * devs[j]
       |              THEN ${Buckets.round6Sql("vs[j] - (preds[j] - 3 * devs[j])")}
       |              ELSE CAST(0 AS DOUBLE) END
       |       ELSE CAST(0 AS DOUBLE) END AS value
       |FROM fin, idx
       |WHERE bs[j] >= $stdFromI
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  /** `render_target_holt_input`: the EXACT frame the Holt-Winters
    * recurrence consumes — `sumSeries(glob)` dense over the
    * request window EXTENDED by the 6h bootstrap — as its own
    * oracle-checked key. The recurrence itself stays non-SQL, but its
    * input plumbing (ranged scan, extension arithmetic, member combine,
    * gap spine) is fully relational, so this key plus
    * [[renderTargetHoltBands]] shrink the holt key's no-oracle surface
    * to the recurrence alone.
    */
  def renderTargetHoltInput(spark: SparkSession, sfDir: String): DataFrame =
    evaluate(spark,
      Buckets.pointsInRange(spark, sfDir, stdFromI - 21600, stdUntilI),
      s"sumSeries(${Fetch.GlobPattern})",
      Buckets.FromS - 21600, Buckets.UntilS, 60)

  /** The holt input frame as a CTE chain ending in `inp` — shared
    * verbatim by the input key's oracle and the recurrence oracle
    * ([[renderTargetHoltSql]]), so the recurrence provably consumes the
    * independently-green input frame.
    */
  private val holtInputCtes: String = {
    val fromI = stdFromI - 21600
    val untilI = stdUntilI
    val rx = Fetch.globToRegex(Fetch.GlobPattern)
    s"""${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)),
       |inp AS (
       |  SELECT 'sumSeries' AS metric, bucket_ts, round(sum(v), 6) AS value
       |  FROM dense GROUP BY bucket_ts)""".stripMargin
  }

  val renderTargetHoltInputSql: String =
    s"""WITH $holtInputCtes
       |SELECT metric, bucket_ts, value FROM inp
       |ORDER BY metric, bucket_ts""".stripMargin

  /** `render_target_holt_bands`: the band/aberration ALGEBRA pinned
    * against the oracle over a shared synthetic forecast frame. Both
    * engines generate the identical (actual, pred, dev) columns from
    * one integer formula (denominators 7/9/3 — non-terminating decimal
    * expansions, so HALF_UP-vs-scaled rounding can never disagree on a
    * midpoint), the engine applies the REAL [[hwUpper]]/[[hwLower]]/
    * [[hwAberr]] functions the recurrence arms deploy, and the oracle
    * re-states the algebra in SQL. 144 rows of pure algebra — a spec
    * key, deliberately not a data-volume op; NULL pred/actual rows
    * exercise the absent-forecast arms.
    */
  def renderTargetHoltBands(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val delta = 3.0
    val rows = (0 until 48).flatMap { i =>
      val b = Buckets.FromS + i * 60L
      val actual =
        if (i % 13 == 0) None else Some(((i * 37) % 101).toDouble / 7)
      val pred =
        if (i % 11 == 0) None else Some(((i * 53) % 97).toDouble / 9)
      val dev = ((i * 29) % 13).toDouble / 3
      Seq(
        ("holt@upper", b, hwUpper(pred, dev, delta)),
        ("holt@lower", b, hwLower(pred, dev, delta)),
        ("holt@aberration", b,
          Some(hwAberr(actual, pred, dev, delta)): Option[Double]))
    }
    rows.toDF("metric", "bucket_ts", "value").orderBy("metric", "bucket_ts")
  }

  val renderTargetHoltBandsSql: String =
    s"""WITH g AS (
       |  SELECT i, ${Buckets.FromS} + i * 60 AS bucket_ts,
       |         CASE WHEN i % 13 = 0 THEN NULL
       |              ELSE CAST((i * 37) % 101 AS DOUBLE) / 7 END AS actual,
       |         CASE WHEN i % 11 = 0 THEN NULL
       |              ELSE CAST((i * 53) % 97 AS DOUBLE) / 9 END AS pred,
       |         CAST((i * 29) % 13 AS DOUBLE) / 3 AS dev
       |  FROM (SELECT unnest(range(0, 48)) AS i)),
       |b AS (
       |  SELECT 'holt@upper' AS metric, bucket_ts,
       |         ${Buckets.round6Sql("pred + 3 * dev")} AS value FROM g
       |  UNION ALL
       |  SELECT 'holt@lower', bucket_ts,
       |         ${Buckets.round6Sql("pred - 3 * dev")} FROM g
       |  UNION ALL
       |  SELECT 'holt@aberration', bucket_ts,
       |         CASE WHEN actual > pred + 3 * dev
       |              THEN ${Buckets.round6Sql("actual - (pred + 3 * dev)")}
       |              WHEN actual < pred - 3 * dev
       |              THEN ${Buckets.round6Sql("actual - (pred - 3 * dev)")}
       |              ELSE 0.0 END
       |  FROM g)
       |SELECT metric, CAST(bucket_ts AS BIGINT) AS bucket_ts, value FROM b
       |ORDER BY metric, bucket_ts""".stripMargin

  /** `render_target_minmax`: per-series [0,1] normalisation —
    * `minMax(shard*…)`.
    */
  val TargetExprMinmax = s"minMax($PathedGlob)"

  def renderTargetMinmax(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprMinmax)

  val renderTargetMinmaxSql: String =
    s"""$densePathedSql,
       |ext AS (
       |  SELECT metric, min(v) AS mn, max(v) AS mx FROM dense GROUP BY 1)
       |SELECT d.metric, d.bucket_ts,
       |       CASE WHEN d.v IS NOT NULL AND mx = mn THEN 0.0
       |            WHEN d.v IS NOT NULL
       |            THEN round((d.v - mn) / (mx - mn), 6) END AS value
       |FROM dense d LEFT JOIN ext USING (metric)
       |ORDER BY d.metric, d.bucket_ts""".stripMargin

  /** `render_target_resetint`: hourly-resetting running totals —
    * `integralByInterval(g, '1h')`.
    */
  val TargetExprResetint = s"integralByInterval(${Fetch.GlobPattern}, '1h')"

  def renderTargetResetint(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprResetint)

  val renderTargetResetintSql: String =
    s"""$denseFlatSql
       |SELECT metric, bucket_ts,
       |       CASE WHEN v IS NOT NULL
       |            THEN round(sum(v) OVER (PARTITION BY metric,
       |              (bucket_ts // 3600) ORDER BY bucket_ts
       |              ROWS UNBOUNDED PRECEDING), 6) END AS value
       |FROM dense
       |ORDER BY metric, bucket_ts""".stripMargin

  /** `render_target_wildcards`: shard-collapsed per-event sums —
    * `sumSeriesWithWildcards(shard*…, 0)` (the wildcard node dropped
    * from the combined name).
    */
  val TargetExprWildcards = s"sumSeriesWithWildcards($PathedGlob, 0)"

  def renderTargetWildcards(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprWildcards)

  val renderTargetWildcardsSql: String =
    s"""$densePathedSql
       |SELECT split_part(metric, '.', 2) AS metric, bucket_ts,
       |       round(sum(v), 6) AS value
       |FROM dense
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Evaluate over the TAGGED points view on the standard window. */
  private def evalTagged(spark: SparkSession, sfDir: String,
      target: String): DataFrame =
    evaluate(spark,
      Buckets.pointsTaggedInRange(spark, sfDir, stdFromI, stdUntilI),
      target, Buckets.FromS, Buckets.UntilS, 60)

  /** `render_target_tags`: tag-DB series selection —
    * `seriesByTag('shard=~s[01]', 'name!=signup')` (regex on one tag,
    * inequality on the name pseudo-tag).
    */
  val TargetExprTags = "seriesByTag('shard=~s[01]', 'name!=signup')"

  def renderTargetTags(spark: SparkSession, sfDir: String): DataFrame =
    evalTagged(spark, sfDir, TargetExprTags)

  val renderTargetTagsSql: String = {
    val cond = "regexp_matches(regexp_extract(metric, ';shard=([^;]*)', 1), " +
      "'^(?:s[01])') AND split_part(metric, ';', 1) <> 'signup'"
    s"""${denseSqlWhere(Buckets.pointsTaggedSql, cond, stdFromI, stdUntilI)}
       |SELECT metric, bucket_ts, v AS value FROM dense
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  /** `render_target_tagagg`: tag-keyed re-aggregation then tag alias —
    * `aliasByTags(groupByTags(seriesByTag('name=click'), 'sum',
    * 'shard'), 'shard')` (per-shard click sums named s0..s3).
    */
  val TargetExprTagagg =
    "aliasByTags(groupByTags(seriesByTag('name=click'), 'sum', 'shard'), 'shard')"

  def renderTargetTagagg(spark: SparkSession, sfDir: String): DataFrame =
    evalTagged(spark, sfDir, TargetExprTagagg)

  val renderTargetTagaggSql: String = {
    val cond = "split_part(metric, ';', 1) = 'click'"
    s"""${denseSqlWhere(Buckets.pointsTaggedSql, cond, stdFromI, stdUntilI)}
       |SELECT regexp_extract(metric, ';shard=([^;]*)', 1) AS metric,
       |       bucket_ts, round(sum(v), 6) AS value
       |FROM dense
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  /** `render_target_aggregate`: graphite 1.1's canonical combine under
    * a robust aggregator — `aggregate(shard*…, 'median')`.
    */
  val TargetExprAggregate = s"aggregate($PathedGlob, 'median')"

  def renderTargetAggregate(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprAggregate)

  val renderTargetAggregateSql: String =
    s"""$densePathedSql
       |SELECT 'medianSeries' AS metric, bucket_ts,
       |       round(median(v), 6) AS value
       |FROM dense GROUP BY 2 ORDER BY 2""".stripMargin

  /** `render_target_genmoving`: the general trailing window with a
    * DURATION size — `movingWindow(sumSeries(…), '10min', 'sum')`.
    */
  val TargetExprGenmoving =
    s"movingWindow(sumSeries(${Fetch.GlobPattern}), '10min', 'sum')"

  def renderTargetGenmoving(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprGenmoving, extS = 600L)

  val renderTargetGenmovingSql: String = {
    val extFromI = stdFromI - 600L
    s"""${denseSqlWith(Buckets.pointsSql, Fetch.globToRegex(Fetch.GlobPattern),
        extFromI, stdUntilI)},
       |summed AS (
       |  SELECT bucket_ts, round(sum(v), 6) AS value
       |  FROM dense GROUP BY 1),
       |smoothed AS (
       |  SELECT bucket_ts,
       |         round(sum(value) OVER (ORDER BY bucket_ts
       |           ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING), 6) AS value
       |  FROM summed)
       |SELECT 'sumSeries' AS metric, bucket_ts, value FROM smoothed
       |WHERE bucket_ts >= $stdFromI
       |ORDER BY bucket_ts""".stripMargin
  }

  /** `render_target_sortby`: 1.1's general sort + limit selection —
    * `limit(sortBy(shard*…, 'stddev', true), 3)` (3 noisiest series).
    */
  val TargetExprSortby = s"limit(sortBy($PathedGlob, 'stddev', true), 3)"

  def renderTargetSortby(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprSortby)

  val renderTargetSortbySql: String =
    s"""$densePathedSql,
       |stats AS (
       |  SELECT metric, stddev_pop(v) AS rank_v FROM dense GROUP BY 1),
       |top_n AS (
       |  SELECT metric FROM stats
       |  ORDER BY rank_v DESC NULLS LAST, metric LIMIT 3)
       |SELECT d.metric, d.bucket_ts, d.v AS value
       |FROM dense d JOIN top_n USING (metric)
       |ORDER BY d.metric, d.bucket_ts""".stripMargin

  /** `render_target_lists`: positional pairing across two lists —
    * `divideSeriesLists(shard0.*, shard1.*)` (shard-over-shard ratio
    * per event type; name order pairs the event types up).
    */
  val TargetExprLists = "divideSeriesLists(shard0.*, shard1.*)"

  def renderTargetLists(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprLists)

  val renderTargetListsSql: String = {
    val rx0 = Fetch.globToRegex("shard0.*")
    val rx1 = Fetch.globToRegex("shard1.*")
    s"""${denseSqlWith(Buckets.pointsPathedSql, s"$rx0|$rx1",
        stdFromI, stdUntilI)},
       |a AS (SELECT metric, row_number() OVER (ORDER BY metric) AS rk
       |      FROM (SELECT DISTINCT metric FROM dense
       |            WHERE regexp_matches(metric, '$rx0'))),
       |b AS (SELECT metric, row_number() OVER (ORDER BY metric) AS rk
       |      FROM (SELECT DISTINCT metric FROM dense
       |            WHERE regexp_matches(metric, '$rx1')))
       |SELECT 'divideSeries(' || a.metric || ',' || b.metric || ')' AS metric,
       |       d1.bucket_ts,
       |       CASE WHEN d1.v IS NOT NULL AND d2.v IS NOT NULL AND d2.v <> 0
       |            THEN round(d1.v / d2.v, 6) END AS value
       |FROM a JOIN b USING (rk)
       |  JOIN dense d1 ON d1.metric = a.metric
       |  JOIN dense d2 ON d2.metric = b.metric AND d2.bucket_ts = d1.bucket_ts
       |ORDER BY 1, 2""".stripMargin
  }

  /** `render_target_regress`: per-series OLS trend line —
    * `linearRegression(sumSeries(…))`.
    */
  val TargetExprRegress = s"linearRegression(sumSeries(${Fetch.GlobPattern}))"

  def renderTargetRegress(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprRegress)

  val renderTargetRegressSql: String =
    s"""$denseFlatSql,
       |summed AS (
       |  SELECT bucket_ts, round(sum(v), 6) AS value
       |  FROM dense GROUP BY 1),
       |fit AS (
       |  SELECT regr_slope(value, bucket_ts - $stdFromI) AS beta,
       |         regr_intercept(value, bucket_ts - $stdFromI) AS alpha
       |  FROM summed)
       |SELECT 'sumSeries' AS metric, s.bucket_ts,
       |       CASE WHEN beta IS NOT NULL
       |            THEN round(alpha + beta * (s.bucket_ts - $stdFromI), 6) END
       |         AS value
       |FROM summed s CROSS JOIN fit
       |ORDER BY s.bucket_ts""".stripMargin

  /** `render_target_slice`: the time window mask —
    * `timeSlice(glob, from+6h, from+12h)` (values elsewhere → None).
    */
  val TargetExprSlice =
    s"timeSlice(${Fetch.GlobPattern}, ${Buckets.FromS + 21600}, ${Buckets.FromS + 43200})"

  def renderTargetSlice(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprSlice)

  val renderTargetSliceSql: String =
    s"""$denseFlatSql
       |SELECT metric, bucket_ts,
       |       CASE WHEN bucket_ts >= ${Buckets.FromS + 21600}
       |             AND bucket_ts <= ${Buckets.FromS + 43200}
       |            THEN v END AS value
       |FROM dense ORDER BY 1, 2""".stripMargin

  /** `render_target_aggline`: each series as the flat line of its own
    * window average — `aggregateLine(shard*…, 'avg')`.
    */
  val TargetExprAggline = s"aggregateLine($PathedGlob, 'avg')"

  def renderTargetAggline(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprAggline)

  val renderTargetAgglineSql: String =
    s"""$densePathedSql,
       |stat AS (
       |  SELECT metric, ${Rollup.gridMean6Sql()} AS line_v
       |  FROM dense GROUP BY 1)
       |SELECT d.metric, d.bucket_ts, s.line_v AS value
       |FROM dense d LEFT JOIN stat s USING (metric)
       |ORDER BY 1, 2""".stripMargin

  /** `render_target_fallback`: in-plan emptiness switch — the primary
    * glob matches nothing, so `fallbackSeries` serves the constant.
    */
  val TargetExprFallback = "fallbackSeries(zzz.nomatch*, constantLine(42))"

  def renderTargetFallback(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprFallback)

  val renderTargetFallbackSql: String =
    s"""SELECT '42' AS metric, CAST(range AS BIGINT) AS bucket_ts,
       |       CAST(42.0 AS DOUBLE) AS value
       |FROM range($stdFromI, $stdUntilI, 60)
       |ORDER BY 2""".stripMargin

  /** `render_target_reduce`: the map/reduce pair — per shard,
    * click-to-view percentage:
    * `reduceSeries(mapSeries(shard*.{click,view}, 0), 'asPercent', 1,
    * 'click', 'view')`.
    */
  val TargetExprReduce =
    "reduceSeries(mapSeries(shard*.{click,view}, 0), 'asPercent', 1, 'click', 'view')"

  def renderTargetReduce(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprReduce)

  val renderTargetReduceSql: String =
    s"""${denseSqlWith(Buckets.pointsPathedSql,
        Fetch.globToRegex("shard*.{click,view}"), stdFromI, stdUntilI)},
       |g AS (
       |  SELECT split_part(metric, '.', 1) AS metric, bucket_ts,
       |         max(CASE WHEN split_part(metric, '.', 2) = 'click'
       |                  THEN v END) AS v1,
       |         max(CASE WHEN split_part(metric, '.', 2) = 'view'
       |                  THEN v END) AS v2
       |  FROM dense GROUP BY 1, 2)
       |SELECT metric, bucket_ts,
       |       CASE WHEN v1 IS NOT NULL AND v2 IS NOT NULL AND v2 <> 0
       |            THEN round(v1 / v2 * 100, 6) END AS value
       |FROM g ORDER BY 1, 2""".stripMargin

  /** `render_target_unique`: overlapping lists union with first-wins
    * name dedup — `unique(shard0.*, shard*.click)` (shard0.click
    * appears in both; values agree, so the oracle is the plain union).
    */
  val TargetExprUnique = "unique(shard0.*, shard*.click)"

  def renderTargetUnique(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprUnique)

  val renderTargetUniqueSql: String = {
    val rx = s"${Fetch.globToRegex("shard0.*")}|${Fetch.globToRegex("shard*.click")}"
    s"""${denseSqlWith(Buckets.pointsPathedSql, rx, stdFromI, stdUntilI)}
       |SELECT metric, bucket_ts, v AS value FROM dense
       |ORDER BY 1, 2""".stripMargin
  }

  /** `render_target_between`: drop series that never leave the
    * cross-series p10–p90 band — `removeBetweenPercentile(shard*…, 90)`.
    */
  val TargetExprBetween = s"removeBetweenPercentile($PathedGlob, 90)"

  def renderTargetBetween(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprBetween)

  val renderTargetBetweenSql: String =
    s"""$densePathedSql,
       |bands AS (
       |  SELECT bucket_ts, quantile_cont(v, 0.10) AS lo_v,
       |         quantile_cont(v, 0.90) AS hi_v
       |  FROM dense GROUP BY 1),
       |outside AS (
       |  SELECT DISTINCT d.metric
       |  FROM dense d JOIN bands USING (bucket_ts)
       |  WHERE d.v IS NOT NULL AND NOT (d.v > lo_v AND d.v < hi_v))
       |SELECT d.metric, d.bucket_ts, d.v AS value
       |FROM dense d JOIN outside USING (metric)
       |ORDER BY 1, 2""".stripMargin

  /** `render_target_apply`: per-node-group sub-query — each shard's
    * click share of its own total:
    * `applyByNode(shard*.click, 0, 'asPercent(%.click, sumSeries(%.*))')`.
    */
  val TargetExprApply =
    "applyByNode(shard*.click, 0, 'asPercent(%.click, sumSeries(%.*))')"

  def renderTargetApply(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprApply)

  val renderTargetApplySql: String =
    s"""${denseSqlWith(Buckets.pointsPathedSql, Fetch.globToRegex("shard*.*"),
        stdFromI, stdUntilI)},
       |tot AS (
       |  SELECT split_part(metric, '.', 1) AS shard, bucket_ts,
       |         sum(v) AS tot_v
       |  FROM dense GROUP BY 1, 2)
       |SELECT d.metric, d.bucket_ts,
       |       CASE WHEN d.v IS NOT NULL AND tot_v IS NOT NULL AND tot_v <> 0
       |            THEN round(d.v / tot_v * 100, 6) END AS value
       |FROM dense d JOIN tot
       |  ON split_part(d.metric, '.', 1) = tot.shard
       | AND d.bucket_ts = tot.bucket_ts
       |WHERE d.metric LIKE '%.click'
       |ORDER BY 1, 2""".stripMargin

  /** `render_target_useabove`: inspect one metric, serve another —
    * `useSeriesAbove(shard*.click, 90, 'click', 'view')` (view traffic
    * of the shards whose click rate peaked above 90).
    */
  val TargetExprUseabove = "useSeriesAbove(shard*.click, 90, 'click', 'view')"

  def renderTargetUseabove(spark: SparkSession, sfDir: String): DataFrame =
    evalPathed(spark, sfDir, TargetExprUseabove)

  val renderTargetUseaboveSql: String = {
    val rxClick = Fetch.globToRegex("shard*.click")
    val rx = s"$rxClick|${Fetch.globToRegex("shard*.view")}"
    s"""${denseSqlWith(Buckets.pointsPathedSql, rx, stdFromI, stdUntilI)},
       |q AS (
       |  SELECT replace(metric, 'click', 'view') AS metric
       |  FROM (SELECT metric, max(v) AS max_v FROM dense
       |        WHERE regexp_matches(metric, '$rxClick') GROUP BY 1)
       |  WHERE max_v > 90)
       |SELECT d.metric, d.bucket_ts, d.v AS value
       |FROM dense d JOIN q USING (metric)
       |ORDER BY 1, 2""".stripMargin
  }

  /** `render_target_wrap`: counter-wrap recovery —
    * `nonNegativeDerivative(sumSeries(…), 1000)` (a decrease reads as a
    * wrap of a 0..1000 counter; values above the ceiling are None).
    */
  val TargetExprWrap =
    s"nonNegativeDerivative(sumSeries(${Fetch.GlobPattern}), 1000)"

  def renderTargetWrap(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprWrap)

  val renderTargetWrapSql: String =
    s"""$denseFlatSql,
       |summed AS (
       |  SELECT bucket_ts, round(sum(v), 6) AS value
       |  FROM dense GROUP BY 1),
       |lagged AS (
       |  SELECT bucket_ts, value,
       |         lag(value) OVER (ORDER BY bucket_ts) AS prev
       |  FROM summed)
       |SELECT 'sumSeries' AS metric, bucket_ts,
       |       CASE WHEN value IS NULL OR prev IS NULL THEN NULL
       |            WHEN value > 1000 THEN NULL
       |            WHEN value >= prev THEN round(value - prev, 6)
       |            WHEN prev <= 1000 THEN round(1000 - prev + value + 1, 6)
       |       END AS value
       |FROM lagged ORDER BY bucket_ts""".stripMargin

  /** `render_target_vertical`: the deploy-marker series —
    * `verticalLine(ts, label)` with the instant as a full attime
    * string (graphite's HH:MM_YYYYMMDD form). The oracle derives the
    * epoch independently from a SQL TIMESTAMP literal, so an [[AtTime]]
    * resolution defect diverges the hashes.
    */
  val TargetExprVertical = "verticalLine('12:00_20240110', 'deploy')"

  def renderTargetVertical(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprVertical)

  val renderTargetVerticalSql: String =
    """SELECT 'deploy' AS metric,
      |       CAST(epoch(TIMESTAMP '2024-01-10 12:00:00') AS BIGINT) + t.i
      |         AS bucket_ts,
      |       1.0 AS value
      |FROM range(2) AS t(i) ORDER BY bucket_ts""".stripMargin

  /** `render_target_compress`: `compressPeriodicGaps` over a
    * deterministically-gapped series — the seeded Lehmer walk with its
    * negative excursions removed, so the known points sit at irregular
    * distances and the modal-delta step detection, the per-series grid
    * rebuild, and the exact-hit value join all do real work. The oracle
    * reproduces the whole pipeline (walk → gap → lag-deltas →
    * count-ranked mode with the tie → smallest rule → generate_series
    * grid → left join) in SQL.
    */
  val TargetExprCompress =
    "compressPeriodicGaps(removeBelowValue(randomWalk('gen.walk', 60, 7), 0))"

  def renderTargetCompress(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprCompress)

  val renderTargetCompressSql: String =
    s"""WITH grid AS (
       |  SELECT CAST(range AS BIGINT) AS bucket_ts
       |  FROM range($stdFromI, $stdUntilI, 60)),
       |inc AS (
       |  SELECT bucket_ts,
       |    (48271 * ((48271 * ((7 + (bucket_ts - $stdFromI) // 60)
       |      % 2147483647)) % 2147483647)) % 2147483647 AS h
       |  FROM grid),
       |walk AS (
       |  SELECT bucket_ts,
       |    round(coalesce(sum(h / CAST(2147483647.0 AS DOUBLE) - CAST(0.5 AS DOUBLE)) OVER (
       |      ORDER BY bucket_ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), 6)
       |      AS value
       |  FROM inc),
       |nn AS (SELECT bucket_ts, value FROM walk WHERE value >= 0),
       |deltas AS (
       |  SELECT bucket_ts - lag(bucket_ts) OVER (ORDER BY bucket_ts) AS d
       |  FROM nn),
       |stepnew AS (
       |  SELECT d AS step_new FROM (
       |    SELECT d, row_number() OVER (ORDER BY count(*) DESC, d) AS rk
       |    FROM deltas WHERE d IS NOT NULL GROUP BY d)
       |  WHERE rk = 1),
       |newgrid AS (
       |  SELECT unnest(generate_series(lo, hi, step_new)) AS bucket_ts
       |  FROM (SELECT min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM nn),
       |       stepnew)
       |SELECT 'gen.walk' AS metric, g.bucket_ts, nn.value
       |FROM newgrid g LEFT JOIN nn USING (bucket_ts)
       |ORDER BY g.bucket_ts""".stripMargin

  /** `render_target_aliasq`: `aliasQuery`'s legend-by-lookup — the
    * `view` series labeled with the CURRENT value of the `click`
    * series its name rewrites to. The oracle re-derives the lookup
    * (minute-mean of `click`, last known bucket, `%d`'s
    * truncate-toward-zero render) from the raw events, so a defect in
    * the rewrite join, the sub-fetch, or the pinned formatter diverges
    * the hashes.
    */
  val TargetExprAliasq =
    "aliasQuery(vi*, 'view', 'click', 'views (clicks now: %d)')"

  def renderTargetAliasq(spark: SparkSession, sfDir: String): DataFrame =
    evalFlat(spark, sfDir, TargetExprAliasq)

  val renderTargetAliasqSql: String =
    s"""${denseSqlWith(Buckets.pointsSql, Fetch.globToRegex("vi*"),
        stdFromI, stdUntilI)},
       |sub AS (
       |  SELECT (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE metric = 'click' AND ts_s >= $stdFromI AND ts_s < $stdUntilI
       |  GROUP BY 1),
       |cur AS (
       |  SELECT v FROM sub WHERE v IS NOT NULL
       |  ORDER BY bucket_ts DESC LIMIT 1)
       |SELECT 'views (clicks now: '
       |         || CAST(CAST(trunc(cur.v) AS BIGINT) AS VARCHAR) || ')'
       |         AS metric,
       |       d.bucket_ts, d.v AS value
       |FROM dense d, cur
       |ORDER BY d.bucket_ts""".stripMargin

  /** `render_target_pie`: the pie form of the standard glob request —
    * `?graphType=pie&pieMode=average` over [[Fetch.GlobPattern]]. One
    * slice per series, value = the ordered-fold mean of its known
    * minute buckets; the oracle folds the identical (bucket-sorted)
    * value list.
    */
  def renderTargetPie(spark: SparkSession, sfDir: String): DataFrame =
    evaluatePie(spark,
      Buckets.pointsInRange(spark, sfDir, stdFromI, stdUntilI),
      Fetch.GlobPattern, Buckets.FromS, Buckets.UntilS, 60, "average")

  val renderTargetPieSql: String =
    s"""${denseSqlWith(Buckets.pointsSql, Fetch.globToRegex(Fetch.GlobPattern),
        stdFromI, stdUntilI)}
       |SELECT metric, ${Rollup.gridMean6Sql()} AS value
       |FROM dense GROUP BY metric ORDER BY metric""".stripMargin

  val renderTargetSmoothSql: String = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val extFromI = fromI - 600L
    val rx = Fetch.globToRegex(Fetch.GlobPattern)
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $extFromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $extFromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($extFromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)),
       |summed AS (
       |  SELECT bucket_ts, round(sum(v), 6) AS value
       |  FROM dense GROUP BY 1),
       |smoothed AS (
       |  SELECT bucket_ts,
       |         round(avg(value) OVER (ORDER BY bucket_ts
       |           ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING), 6) AS value
       |  FROM summed)
       |SELECT 'sumSeries' AS metric, bucket_ts, value FROM smoothed
       |WHERE bucket_ts >= $fromI
       |ORDER BY bucket_ts""".stripMargin
  }
}
