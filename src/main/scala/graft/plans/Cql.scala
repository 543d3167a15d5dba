package graft.plans

import java.sql.Timestamp
import java.time.{Duration, Instant, OffsetDateTime, Period, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.StFunctions
import graft.geom.{GeomOps => G}

/**
 * (E)CQL text filters compiled to ONE Catalyst `Column` — the Spark
 * analog of the reference's primary query-string surface
 * (`ECQL.toFilter(...)`, used throughout geomesa-accumulo/-index tests
 * and every CLI/GeoServer entry point; the planner receives the parsed
 * filter in QueryPlanner.scala and geomesa-filter's FilterHelper
 * decomposes it).
 *
 * Spark-first shape: instead of building a GeoTools Filter object tree
 * and evaluating it per-SimpleFeature, the string compiles directly to
 * Catalyst expressions — relational predicates become codegen'd
 * comparisons that Parquet pushdown/column pruning see natively, WKT
 * literals are parsed ONCE on the driver and shipped as WKB literals,
 * and spatial predicates land on the same st_* surface the rest of the
 * engine uses, so `SpatialFilterRule` derives index ranges from a CQL
 * `BBOX(...)` exactly as it does from a hand-written
 * `st_intersects(...)` filter.
 *
 * Supported grammar (the subset the reference's own tests exercise —
 * see the ECQL.toFilter call sites under /root/reference):
 *
 *  - INCLUDE / EXCLUDE
 *  - AND / OR / NOT, parentheses, case-insensitive keywords
 *  - comparisons  = <> != < > <= >=  over properties, literals,
 *    arithmetic (+ - * /), and function calls
 *  - BETWEEN a AND b (inclusive), NOT BETWEEN
 *  - IN (v1, v2, ...), NOT IN; bare leading IN ('id1', ...) is the
 *    feature-ID filter (FilterHelper id extraction) against `idColumn`
 *  - LIKE / ILIKE / NOT LIKE with % and _ wildcards
 *  - IS NULL / IS NOT NULL
 *  - spatial: BBOX(g, x1,y1,x2,y2 [,'EPSG:4326']), INTERSECTS,
 *    DISJOINT, CONTAINS, WITHIN, TOUCHES, CROSSES, OVERLAPS, EQUALS,
 *    RELATE(a, b, 'DE-9IM'), DWITHIN / BEYOND(a, b, dist, units) with
 *    units in {meters, kilometers, feet, statute miles} (geodesic
 *    meters, like the reference's dwithin handling)
 *  - temporal: dtg DURING t1/t2 (strict interval, ISO 19108 — both
 *    bounds exclusive, matching GeoTools During), instant/period and
 *    period/instant forms (e.g. 2016-01-01T00:00:00Z/T1S), BEFORE,
 *    AFTER, TEQUALS; bare ISO instants are lexed as literals
 *  - WKT geometry literals anywhere an expression is expected
 *  - functions: every registered st_* name (StFunctions.all), plus the
 *    GeoTools filter-function names the reference's tests use:
 *    geometryType, currentDate([±ISO period]), jsonPath('$.col.path'),
 *    abs/ceil/floor, strToUpperCase/strToLowerCase/strConcat/
 *    strLength/strTrim/strSubstring
 *
 * Properties may be double-quoted. Unknown bare identifiers compile to
 * column references (GeoTools semantics).
 */
object Cql {

  /** The world polygon query literals are trimmed to — the reference's
    * FilterHelper.WholeWorldPolygon. */
  private[plans] val WorldPolygon: org.locationtech.jts.geom.Geometry = G.worldPolygon

  /** Compile a CQL filter to a Column predicate. `props` overrides how
    * named properties resolve (e.g. "geom" -> st_makePoint(lon, lat) on
    * a lon/lat table, which keeps SpatialFilterRule pushdown working);
    * unmapped names resolve to `col(name)`. Bare `IN (...)` feature-ID
    * filters compare against `idColumn`. */
  def parse(cql: String, props: Map[String, Column] = Map.empty,
            idColumn: String = "id", arrayProps: Set[String] = Set.empty): Column =
    new Parser(cql, props, idColumn, arrayProps).compile()

  /** `cs` OR-ed as a balanced tree (false when empty): Spark overflows
    * the stack converting a left-deep chain of ~300 disjuncts. */
  private[graft] def disjunction(cs: Seq[Column]): Column =
    if (cs.isEmpty) lit(false)
    else if (cs.size == 1) cs.head
    else { val (a, b) = cs.splitAt(cs.size / 2); disjunction(a) || disjunction(b) }

  /** `df.where(cql)`. Multi-valued (List) attributes are detected from
    * the schema automatically: a comparison on an ArrayType column
    * matches when ANY element satisfies it — the reference's semantics
    * for `fingers = 'index'` / `toes < 2.0` over `List[...]` attributes
    * (its attribute index writes one row per element and the GeoTools
    * evaluator matches any; AttributeIndexStrategyTest "lists of
    * strings/doubles" cases). */
  def filter(df: DataFrame, cql: String, props: Map[String, Column] = Map.empty,
             idColumn: String = "id"): DataFrame =
    df.where(parse(cql, props, idColumn, arrayProps(df)))

  /** The multi-valued (List-typed) attribute names of a DataFrame — the
    * ONE definition of which properties get any-element comparison
    * semantics, shared by every CQL entry point. */
  def arrayProps(df: DataFrame): Set[String] = df.schema.fields.collect {
    case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => f.name
  }.toSet

  /** Compile a CQL *expression* (not a predicate) — the grammar the
    * reference's query transforms use ("derived=strConcat(a, b)"):
    * arithmetic, literals, property refs, function calls, WKT. */
  def parseExpression(text: String, props: Map[String, Column] = Map.empty,
                      idColumn: String = "id"): Column =
    new Parser(text, props, idColumn, Set.empty).compileExpression()

  /** Split a filter at its top-level ORs — the reference's
    * OrSplittingFilter (geomesa-filter/.../visitor/OrSplittingFilter
    * .scala; OrSplittingFilterTest): `A OR B OR C` yields 3 branches,
    * nested parenthesized ORs recurse (`(A OR B) OR C` also yields 3),
    * but the split never descends into NOT or AND ("not run through
    * lower-level filters"). The branches feed [[Disjoint.makeDisjoint]]
    * / per-index-range scans exactly like the reference's pipeline.
    * Returns branch substrings so each can be planned independently. */
  def splitOr(cql: String): Seq[String] = {
    val toks = lex(cql)
    // token index ranges, exclusive of TEof
    def split(lo: Int, hi: Int): Seq[(Int, Int)] = {
      var depth = 0
      val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = lo
      while (i < hi) {
        toks(i) match {
          case TOp("(", _, _) => depth += 1
          case TOp(")", _, _) => depth -= 1
          case t: TIdent if depth == 0 && t.s.equalsIgnoreCase("OR") => cuts += i
          case _ =>
        }
        i += 1
      }
      if (cuts.isEmpty) {
        // fully-parenthesized branch: strip and recurse (nested ORs split)
        val wrapped = hi - lo >= 2 && (toks(lo) match {
          case TOp("(", _, _) =>
            // the close matching toks(lo) must be the LAST token
            var d = 0; var j = lo; var matchAt = -1
            while (j < hi && matchAt < 0) {
              toks(j) match {
                case TOp("(", _, _) => d += 1
                case TOp(")", _, _) => d -= 1; if (d == 0) matchAt = j
                case _ =>
              }
              j += 1
            }
            matchAt == hi - 1
          case _ => false
        })
        if (wrapped) split(lo + 1, hi - 1) else Seq((lo, hi))
      } else {
        val bounds = (lo +: cuts.map(_ + 1)).zip(cuts.map(c => c) :+ hi)
        bounds.flatMap { case (a, b) =>
          // a leading/trailing/double OR leaves an empty piece — surface
          // it as a parse error, not an index crash downstream
          require(a < b, s"dangling OR in filter: $cql")
          split(a, b)
        }.toSeq
      }
    }
    val n = toks.length - 1 // drop TEof
    if (n <= 0) Seq(cql)
    else split(0, n).map { case (a, b) => cql.substring(toks(a).start, toks(b - 1).end) }
  }

  /** Split a filter at its top-level ANDs — the conjunct extraction the
    * reference's FilterSplitter/FilterExtractingVisitor perform before
    * strategy selection (geomesa-index-api planning/FilterSplitter
    * .scala:63-107). Parenthesized groups stay whole, a top-level OR
    * makes the whole filter one conjunct (no distribution), and the
    * `AND` inside `a BETWEEN x AND y` is part of BETWEEN, not a cut. */
  def splitAnd(cql: String): Seq[String] = {
    val toks = lex(cql)
    val n = toks.length - 1 // drop TEof
    if (n <= 0) return Seq(cql)
    var depth = 0
    var pendingBetween = false
    var hasTopOr = false
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < n) {
      toks(i) match {
        case TOp("(", _, _) => depth += 1
        case TOp(")", _, _) => depth -= 1
        case t: TIdent if depth == 0 && t.s.equalsIgnoreCase("BETWEEN") => pendingBetween = true
        case t: TIdent if depth == 0 && t.s.equalsIgnoreCase("OR") => hasTopOr = true
        case t: TIdent if depth == 0 && t.s.equalsIgnoreCase("AND") =>
          if (pendingBetween) pendingBetween = false else cuts += i
        case _ =>
      }
      i += 1
    }
    if (hasTopOr || cuts.isEmpty) Seq(cql)
    else {
      val bounds = (0 +: cuts.map(_ + 1).toSeq).zip(cuts.toSeq :+ n)
      bounds.map { case (a, b) =>
        require(a < b, s"dangling AND in filter: $cql")
        cql.substring(toks(a).start, toks(b - 1).end)
      }
    }
  }

  // ---- lexer ----------------------------------------------------------

  private sealed trait Tok { def start: Int; def end: Int }
  private final case class TIdent(s: String, start: Int, end: Int) extends Tok
  private final case class TNum(s: String, start: Int, end: Int) extends Tok
  private final case class TStr(s: String, start: Int, end: Int) extends Tok
  private final case class TQuotedIdent(s: String, start: Int, end: Int) extends Tok
  private final case class TDate(s: String, start: Int, end: Int) extends Tok
  private final case class TOp(s: String, start: Int, end: Int) extends Tok
  private final case class TEof(start: Int, end: Int) extends Tok

  // Full ISO instants (with time part) are lexed as single tokens so
  // DURING 2016-01-01T00:00:00Z/... needs no lexer mode switch.
  private val DateRe =
    """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:?\d{2})?""".r
  private val NumRe = """(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?""".r
  private val IdentRe = """[A-Za-z_][A-Za-z0-9_]*""".r

  private def lex(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'') {
        // single-quoted string, '' escapes a quote
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          val ch = s.charAt(j)
          if (ch == '\'') {
            if (j + 1 < n && s.charAt(j + 1) == '\'') { sb += '\''; j += 2 }
            else { closed = true; j += 1 }
          } else { sb += ch; j += 1 }
        }
        require(closed, s"unterminated string literal at offset $i in: $s")
        out += TStr(sb.toString, i, j); i = j
      } else if (c == '"') {
        val j = s.indexOf('"', i + 1)
        require(j >= 0, s"unterminated quoted identifier at offset $i in: $s")
        out += TQuotedIdent(s.substring(i + 1, j), i, j + 1); i = j + 1
      } else if (c.isDigit) {
        DateRe.findPrefixOf(s.substring(i)) match {
          case Some(d) => out += TDate(d, i, i + d.length); i += d.length
          case None =>
            val m = NumRe.findPrefixOf(s.substring(i)).get
            out += TNum(m, i, i + m.length); i += m.length
        }
      } else if (c.isLetter || c == '_') {
        val m = IdentRe.findPrefixOf(s.substring(i)).get
        var end = i + m.length
        var ident = m
        // namespace-qualified property names (`ns:geom`) lex as ONE
        // identifier — GeoTools resolves the namespace to the same
        // attribute (FilterTest's spatioTemporalPredicatesWithNS), and
        // nothing else in this grammar uses a bare ':' (times are lexed
        // inside digit-led date tokens)
        if (end < n && s.charAt(end) == ':' && end + 1 < n &&
            (s.charAt(end + 1).isLetter || s.charAt(end + 1) == '_')) {
          val m2 = IdentRe.findPrefixOf(s.substring(end + 1)).get
          ident = s"$m:$m2"
          end = end + 1 + m2.length
        }
        out += TIdent(ident, i, end); i = end
      } else {
        val two = if (i + 1 < n) s.substring(i, i + 2) else ""
        if (two == "<=" || two == ">=" || two == "<>" || two == "!=") {
          out += TOp(two, i, i + 2); i += 2
        } else if ("=<>()+-*/,".indexOf(c) >= 0) {
          out += TOp(c.toString, i, i + 1); i += 1
        } else sys.error(s"unexpected character '$c' at offset $i in CQL: $s")
      }
    }
    out += TEof(n, n)
    out.result()
  }

  // ---- parser ---------------------------------------------------------

  private final class ParseError(msg: String) extends RuntimeException(msg)

  // shared with StrategyDecider's conjunct classification
  private[plans] val SpatialOps = Set("BBOX", "INTERSECTS", "DISJOINT", "CONTAINS",
    "WITHIN", "TOUCHES", "CROSSES", "OVERLAPS", "EQUALS", "DWITHIN", "BEYOND", "RELATE")
  private val GeomKeywords = Set("POINT", "LINESTRING", "POLYGON", "MULTIPOINT",
    "MULTILINESTRING", "MULTIPOLYGON", "GEOMETRYCOLLECTION", "LINEARRING")
  private val PeriodRe = """(?i)-?P[0-9YMWD]+(T[0-9HMS.]+)?|-?PT[0-9HMS.]+|-?T\d+(\.\d+)?[HMS]""".r

  private final class Parser(input: String, props: Map[String, Column], idColumn: String,
                             arrayProps: Set[String]) {
    private val toks = lex(input)
    private var pos = 0

    private def peek: Tok = toks(pos)
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def fail(msg: String): Nothing =
      throw new ParseError(s"$msg at offset ${peek.start} in CQL: $input")
    private def isKw(t: Tok, kw: String): Boolean = t match {
      case TIdent(s, _, _) => s.equalsIgnoreCase(kw); case _ => false
    }
    private def acceptKw(kw: String): Boolean =
      if (isKw(peek, kw)) { pos += 1; true } else false
    private def expectOp(op: String): Unit = peek match {
      case TOp(`op`, _, _) => pos += 1
      case _ => fail(s"expected '$op'")
    }

    def compile(): Column = {
      val c = orExpr()
      peek match {
        case _: TEof => c
        case t => throw new ParseError(s"trailing input at offset ${t.start} in CQL: $input")
      }
    }

    def compileExpression(): Column = {
      val c = expr()
      peek match {
        case _: TEof => c
        case t => throw new ParseError(s"trailing input at offset ${t.start} in CQL expression: $input")
      }
    }

    private def orExpr(): Column = {
      var c = andExpr()
      while (acceptKw("OR")) c = c || andExpr()
      c
    }

    private def andExpr(): Column = {
      var c = unary()
      while (acceptKw("AND")) c = c && unary()
      c
    }

    private def unary(): Column =
      if (acceptKw("NOT")) !unary() else predicate()

    private def predicate(): Column = peek match {
      case t: TIdent if t.s.equalsIgnoreCase("INCLUDE") => pos += 1; lit(true)
      case t: TIdent if t.s.equalsIgnoreCase("EXCLUDE") => pos += 1; lit(false)
      case t: TIdent if SpatialOps.contains(t.s.toUpperCase) && isKw(t, t.s) &&
        toks(pos + 1).isInstanceOf[TOp] && toks(pos + 1).asInstanceOf[TOp].s == "(" =>
        spatialPredicate(t.s.toUpperCase)
      case t: TIdent if t.s.equalsIgnoreCase("IN") => // bare feature-ID filter
        pos += 1; inList(resolve(idColumn))
      case TOp("(", _, _) =>
        // '(' may open a boolean group or a parenthesized arithmetic
        // expression; try the boolean reading first and backtrack.
        val save = pos
        try {
          pos += 1
          val c = orExpr()
          expectOp(")")
          peek match {
            case TOp(op, _, _) if Set("=", "<>", "!=", "<", ">", "<=", ">=", "+", "-", "*", "/").contains(op) =>
              throw new ParseError("boolean group followed by operator — re-parse as expression")
            case _ => c
          }
        } catch {
          case _: ParseError => pos = save; comparison()
        }
      case _ => comparison()
    }

    /** expr followed by a comparison / BETWEEN / IN / LIKE / NULL /
      * temporal tail. */
    private def comparison(): Column = {
      // A bare multi-valued (ArrayType) property on the left compiles
      // its predicate to "ANY element satisfies" — the reference's
      // list-attribute semantics (GeoTools evaluates list attributes
      // element-wise; the attribute index writes one row per element:
      // AttributeIndexStrategyTest's `fingers = 'index'`, `toes < 2.0`,
      // `fingers BETWEEN ...` cases). Only a bare reference is treated
      // this way — an array inside arithmetic would not type-check.
      val arrayRef: Option[Column] = peek match {
        case t: TIdent if arrayProps.contains(t.s) &&
          !(toks(pos + 1) match { case TOp("(", _, _) => true; case _ => false }) =>
          pos += 1; Some(resolve(t.s))
        case TQuotedIdent(s, _, _) if arrayProps.contains(s) =>
          pos += 1; Some(resolve(s))
        case _ => None
      }
      val lhs = arrayRef.getOrElse(expr())
      def anyOf(f: Column => Column): Column = arrayRef match {
        case Some(arr) => exists(arr, f)
        case None => f(lhs)
      }
      val negated = acceptKw("NOT")
      peek match {
        case TOp(op, _, _) if Set("=", "<>", "!=", "<", ">", "<=", ">=").contains(op) =>
          require(!negated, "NOT must precede a predicate, not a comparison operator")
          pos += 1
          val rhs = expr()
          op match {
            case "=" => anyOf(_ === rhs)
            case "<>" | "!=" => anyOf(_ =!= rhs)
            case "<" => anyOf(_ < rhs)
            case ">" => anyOf(_ > rhs)
            case "<=" => anyOf(_ <= rhs)
            case ">=" => anyOf(_ >= rhs)
          }
        case t: TIdent if t.s.equalsIgnoreCase("BETWEEN") =>
          pos += 1
          val lo = expr()
          if (!acceptKw("AND")) fail("expected AND in BETWEEN")
          val hi = expr()
          val c = anyOf(x => x >= lo && x <= hi)
          if (negated) !c else c
        case t: TIdent if t.s.equalsIgnoreCase("IN") =>
          pos += 1
          val vs = inValues()
          val c = anyOf(x => disjunction(vs.map(x === _)))
          if (negated) !c else c
        case t: TIdent if t.s.equalsIgnoreCase("LIKE") =>
          pos += 1
          val pat = stringLit()
          val c = anyOf(_.like(pat))
          if (negated) !c else c
        case t: TIdent if t.s.equalsIgnoreCase("ILIKE") =>
          pos += 1
          val pat = stringLit()
          val c = anyOf(_.ilike(pat))
          if (negated) !c else c
        case t: TIdent if t.s.equalsIgnoreCase("IS") =>
          require(!negated, "write `x IS NOT NULL`, not `x NOT IS NULL`")
          pos += 1
          val neg = acceptKw("NOT")
          if (!acceptKw("NULL")) fail("expected NULL after IS")
          if (neg) lhs.isNotNull else lhs.isNull
        case t: TIdent if t.s.equalsIgnoreCase("DURING") =>
          require(!negated, "NOT DURING: write NOT (x DURING ...)")
          pos += 1
          val (start, end) = duringInterval()
          lhs > lit(start) && lhs < lit(end) // strict (ISO 19108 During)
        case t: TIdent if t.s.equalsIgnoreCase("BEFORE") =>
          require(!negated, "NOT BEFORE: write NOT (x BEFORE ...)")
          pos += 1
          lhs < lit(instant())
        case t: TIdent if t.s.equalsIgnoreCase("AFTER") =>
          require(!negated, "NOT AFTER: write NOT (x AFTER ...)")
          pos += 1
          lhs > lit(instant())
        case t: TIdent if t.s.equalsIgnoreCase("TEQUALS") =>
          require(!negated, "NOT TEQUALS: write NOT (x TEQUALS ...)")
          pos += 1
          lhs === lit(instant())
        case _ => fail("expected a predicate operator")
      }
    }

    private def inValues(): Vector[Column] = {
      expectOp("(")
      val vals = Vector.newBuilder[Column]
      vals += expr()
      while (peek match { case TOp(",", _, _) => pos += 1; true; case _ => false })
        vals += expr()
      expectOp(")")
      vals.result()
    }

    private def inList(lhs: Column): Column = {
      val vs = inValues()
      disjunction(vs.map(lhs === _))
    }

    private def stringLit(): String = next() match {
      case TStr(s, _, _) => s
      case _ => fail("expected a string literal")
    }

    // ---- spatial ------------------------------------------------------

    private def spatialPredicate(op: String): Column = {
      pos += 1 // op keyword
      expectOp("(")
      op match {
        case "BBOX" =>
          val g = geomArg()
          expectOp(","); val x1 = numArg()
          expectOp(","); val y1 = numArg()
          expectOp(","); val x2 = numArg()
          expectOp(","); val y2 = numArg()
          if (peek match { case TOp(",", _, _) => true; case _ => false }) {
            pos += 1
            val crs = stringLit() // only EPSG:4326 storage, arg accepted for parity
            // exact authority-code match — a substring test would accept
            // e.g. EPSG:104326 (a real, different CRS) as degrees
            val code = crs.toUpperCase.split(':').last
            require(crs.isEmpty || code == "4326" || crs.toUpperCase == "CRS:84",
              s"unsupported CRS '$crs' (engine stores EPSG:4326)")
          }
          expectOp(")")
          // the reference's query normalization (FilterHelper
          // .visitBinarySpatialOp:54-77): trim to world — whole-world
          // boxes become INCLUDE, fully out-of-bounds boxes EXCLUDE. A
          // BBOX is explicit min/max, never dateline-reinterpreted
          // (addWayPointsToBBOX pins that interpretation).
          val (bxMin, byMin) = (math.min(x1, x2), math.min(y1, y2))
          val (bxMax, byMax) = (math.max(x1, x2), math.max(y1, y2))
          if (bxMin <= -180 && byMin <= -90 && bxMax >= 180 && byMax >= 90) lit(true)
          else {
            val (cxMin, cyMin) = (math.max(bxMin, -180.0), math.max(byMin, -90.0))
            val (cxMax, cyMax) = (math.min(bxMax, 180.0), math.min(byMax, 90.0))
            if (cxMin > cxMax || cyMin > cyMax) lit(false)
            else StFunctions.fn("st_intersects")(g, lit(G.toWkb(G.bbox(cxMin, cyMin, cxMax, cyMax))))
          }
        case "RELATE" =>
          val a = geomArg(); expectOp(",")
          val b = geomArg(); expectOp(",")
          val pattern = stringLit()
          expectOp(")")
          StFunctions.fn("st_relateBool")(a, b, lit(pattern))
        case "DWITHIN" | "BEYOND" =>
          val (a, ga) = geomArgWithLit(); expectOp(",")
          val (b, gb) = geomArgWithLit(); expectOp(",")
          val d = numArg(); expectOp(",")
          // units may be quoted ('kilometers') or bare (meters) — the
          // reference's test filters use both forms. The one two-word
          // unit, bare `statute miles`, lexes as two idents: keep
          // consuming idents until the closing paren.
          val first = next() match {
            case TStr(s, _, _) => s
            case TIdent(s, _, _) => s
            case _ => fail("expected a distance unit")
          }
          val unitWords = scala.collection.mutable.ListBuffer(first)
          while (peek.isInstanceOf[TIdent]) unitWords += next().asInstanceOf[TIdent].s
          val units = unitWords.mkString(" ")
          expectOp(")")
          val meters = d * G.unitToMeters(units)
          def dw(x: Column, y: Column) = StFunctions.fn("st_dwithin")(x, y, lit(meters))
          // the reference normalizes dwithin literals too (FilterHelper
          // .visitDwithin — same trim + IDL split, parts OR'd)
          val within = (ga, gb) match {
            case (None, Some(g)) => orOverParts(g, p => dw(a, geomLit(p)))
            case (Some(g), None) => orOverParts(g, p => dw(geomLit(p), b))
            case _ => dw(a, b)
          }
          if (op == "DWITHIN") within else !within
        case name =>
          val (a, ga) = geomArgWithLit(); expectOp(",")
          val (b, gb) = geomArgWithLit()
          expectOp(")")
          def make(x: Column, y: Column): Column = name match {
            case "INTERSECTS" => StFunctions.fn("st_intersects")(x, y)
            case "DISJOINT" => StFunctions.fn("st_disjoint")(x, y)
            case "CONTAINS" => StFunctions.fn("st_contains")(x, y)
            case "WITHIN" => StFunctions.fn("st_within")(x, y)
            case "TOUCHES" => StFunctions.fn("st_touches")(x, y)
            case "CROSSES" => StFunctions.fn("st_crosses")(x, y)
            case "OVERLAPS" => StFunctions.fn("st_overlaps")(x, y)
            case "EQUALS" => StFunctions.fn("st_equals")(x, y)
          }
          // the ops the reference's QueryPlanFilterVisitor normalizes
          // (:76-96): BBOX/Within/Intersects/Overlaps/Contains
          val visited = Set("INTERSECTS", "WITHIN", "OVERLAPS", "CONTAINS")
          if (!visited.contains(name)) make(a, b)
          else (ga, gb) match {
            case (None, Some(g)) => normalizedSpatial(name, g, litFirst = false,
              p => make(a, geomLit(p)))
            case (Some(g), None) => normalizedSpatial(name, g, litFirst = true,
              p => make(geomLit(p), b))
            case _ => make(a, b)
          }
      }
    }

    private def geomLit(g: org.locationtech.jts.geom.Geometry): Column = lit(G.toWkb(g))

    /** A geometry argument plus, when it is a direct WKT literal, the
      * driver-parsed geometry (so the query normalization can inspect it). */
    private def geomArgWithLit(): (Column, Option[org.locationtech.jts.geom.Geometry]) = peek match {
      case t: TIdent if GeomKeywords.contains(t.s.toUpperCase) =>
        val g = wktGeometry()
        (geomLit(g), Some(g))
      case _ => (expr(), None)
    }

    /** The reference's query normalization for a spatial-literal operand
      * (FilterHelper.visitBinarySpatialOp:54-77 + isFilterWholeWorld
      * :157-180): trim the literal to the world polygon (EXCLUDE when
      * empty), INCLUDE when the trimmed literal covers the whole world
      * (in the op/argument orders the reference accepts), then apply the
      * IDL dateline split and OR the resulting parts. */
    private def normalizedSpatial(op: String, g: org.locationtech.jts.geom.Geometry,
                                  litFirst: Boolean,
                                  pred: org.locationtech.jts.geom.Geometry => Column): Column = {
      val includeOk = op match {
        case "INTERSECTS" | "OVERLAPS" => true
        case "WITHIN" => !litFirst // prop WITHIN whole-world
        case "CONTAINS" => litFirst // whole-world CONTAINS prop
        case _ => false
      }
      G.queryPartsOrWorld(g) match {
        case None if includeOk => lit(true)
        case None => pred(G.worldPolygon)
        case Some(Seq()) => lit(false)
        case Some(parts) => parts.map(pred).reduce(_ || _)
      }
    }

    /** IDL-split a literal and OR the per-part predicates — the
      * reference's recreateAsIdlSafeFilter (FilterHelper:123-136), which
      * also ORs explicit multi-geometries apart. */
    private def orOverParts(g: org.locationtech.jts.geom.Geometry,
                            pred: org.locationtech.jts.geom.Geometry => Column): Column =
      G.queryParts(g) match {
        case Seq() => lit(false)
        case parts => parts.map(pred).reduce(_ || _)
      }

    /** A geometry argument: WKT literal (driver-parsed → WKB literal),
      * property reference, or function call producing a geometry. */
    private def geomArg(): Column = peek match {
      case t: TIdent if GeomKeywords.contains(t.s.toUpperCase) => wktLiteral()
      case _ => expr()
    }

    /** Slice the raw WKT text (keyword + balanced parens) from the
      * input and parse it once on the driver. */
    private def wktLiteral(): Column = lit(G.toWkb(wktGeometry()))

    private def wktGeometry(): org.locationtech.jts.geom.Geometry = {
      val kw = next().asInstanceOf[TIdent]
      var depth = 0
      var endOff = kw.end
      var done = false
      // EMPTY geometries: keyword followed by EMPTY, no parens
      // ("POINT EMPTY" — GeoTools WKT accepts these)
      peek match {
        case TIdent(e, _, end) if e.equalsIgnoreCase("EMPTY") =>
          endOff = end; pos += 1; done = true
        case _ =>
      }
      while (!done) {
        peek match {
          case TOp("(", _, e) => depth += 1; endOff = e; pos += 1
          case TOp(")", _, e) =>
            depth -= 1; endOff = e; pos += 1
            if (depth == 0) done = true
          case t: TEof => fail("unterminated WKT literal")
          case t =>
            if (depth == 0) fail(s"expected '(' in WKT literal at offset ${t.start}")
            endOff = t.end; pos += 1
        }
      }
      G.fromWkt(input.substring(kw.start, endOff))
    }

    private def numArg(): Double = {
      val neg = peek match { case TOp("-", _, _) => pos += 1; true; case _ => false }
      next() match {
        case TNum(s, _, _) => if (neg) -s.toDouble else s.toDouble
        case _ => fail("expected a number")
      }
    }

    // ---- temporal -----------------------------------------------------

    private def duringInterval(): (Timestamp, Timestamp) = {
      val a = temporalOperand()
      expectOp("/")
      val b = temporalOperand()
      (a, b) match {
        case (Left(t1), Left(t2)) => (ts(t1), ts(t2))
        case (Left(t1), Right(p)) => (ts(t1), ts(plus(t1, p)))
        case (Right(p), Left(t2)) => (ts(plus(t2, p.negated)), ts(t2))
        case _ => fail("period/period is not a valid DURING interval")
      }
    }

    private def temporalOperand(): Either[Instant, Iso8601Period] = peek match {
      case TDate(s, _, _) => pos += 1; Left(parseInstant(s))
      case TStr(s, _, _) => pos += 1; Left(parseInstant(s))
      case t: TIdent if PeriodRe.matches(t.s) => pos += 1; Right(parsePeriod(t.s))
      case _ => fail("expected an ISO instant or period")
    }

    private def instant(): Timestamp = peek match {
      case TDate(s, _, _) => pos += 1; ts(parseInstant(s))
      case TStr(s, _, _) => pos += 1; ts(parseInstant(s))
      case _ => fail("expected an ISO instant")
    }

    // ---- expressions --------------------------------------------------

    private def expr(): Column = {
      var c = term()
      var more = true
      while (more) {
        peek match {
          case TOp("+", _, _) => pos += 1; c = c + term()
          case TOp("-", _, _) => pos += 1; c = c - term()
          case _ => more = false
        }
      }
      c
    }

    private def term(): Column = {
      var c = factor()
      var more = true
      while (more) {
        peek match {
          case TOp("*", _, _) => pos += 1; c = c * factor()
          case TOp("/", _, _) => pos += 1; c = c / factor()
          case _ => more = false
        }
      }
      c
    }

    private def factor(): Column = peek match {
      case TOp("-", _, _) => pos += 1; -factor()
      case TOp("(", _, _) => pos += 1; val c = expr(); expectOp(")"); c
      case TNum(s, _, _) =>
        pos += 1
        if (s.contains('.') || s.toLowerCase.contains('e')) lit(s.toDouble) else lit(s.toLong)
      case TStr(s, _, _) => pos += 1; lit(s)
      case TDate(s, _, _) => pos += 1; lit(ts(parseInstant(s)))
      case TQuotedIdent(s, _, _) => pos += 1; resolve(s)
      // ECQL boolean literals (`admin = false`); a column actually named
      // "true"/"false" can still be referenced double-quoted.
      case t: TIdent if t.s.equalsIgnoreCase("TRUE") => pos += 1; lit(true)
      case t: TIdent if t.s.equalsIgnoreCase("FALSE") => pos += 1; lit(false)
      case t: TIdent if GeomKeywords.contains(t.s.toUpperCase) => wktLiteral()
      case t: TIdent =>
        if (toks(pos + 1) match { case TOp("(", _, _) => true; case _ => false })
          functionCall()
        else { pos += 1; resolve(t.s) }
      case t => fail("expected an expression")
    }

    /** Property resolution; a quoted `$.attr.path` property name routes
      * through the JSON-path accessor, like the reference's
      * JsonPathPropertyAccessor resolving ECQL property names
      * (`"$.json.a.b" = 30` — AccumuloDataStoreJsonTest:57). */
    private def resolve(name: String): Column =
      props.getOrElse(name, {
        // a namespace-qualified name falls back to its local part, the
        // way GeoTools property accessors ignore an unmatched namespace
        val local = name.substring(name.lastIndexOf(':') + 1)
        props.getOrElse(local,
          if (name.startsWith("$.")) jsonPathColumn(name) else col(local))
      })

    private def functionCall(): Column = {
      val name = next().asInstanceOf[TIdent].s
      expectOp("(")
      val args = Vector.newBuilder[Column]
      val raw = Vector.newBuilder[Tok] // for functions needing literal args
      if (!(peek match { case TOp(")", _, _) => true; case _ => false })) {
        raw += peek; args += expr()
        while (peek match { case TOp(",", _, _) => pos += 1; true; case _ => false }) {
          raw += peek
          args += expr()
        }
      }
      expectOp(")")
      applyFunction(name, args.result(), raw.result())
    }

    private def applyFunction(name: String, args: Vector[Column], raw: Vector[Tok]): Column = {
      // st_* registry, case-insensitive
      StFunctions.all.collectFirst {
        case (n, f) if n.equalsIgnoreCase(name) => f(args: _*)
      }.getOrElse(name.toLowerCase match {
        case "geometrytype" => StFunctions.fn("st_geometryType")(args.head)
        case "currentdate" =>
          // currentDate(['-P1D']) — now() shifted by a signed ISO period
          // (geotools FilterFunction_currentDate); micros arithmetic so
          // the shift stays a plan-evaluable codegen expression
          if (raw.isEmpty) current_timestamp()
          else raw.head match {
            case TStr(p, _, _) =>
              val micros = (parsePeriod(p).approxSeconds * 1e6).toLong
              timestamp_micros(unix_micros(current_timestamp()) + lit(micros))
            case _ => fail("currentDate expects a quoted ISO period")
          }
        case "jsonpath" => raw.head match {
          case TStr(p, _, _) => jsonPathColumn(p)
          case _ => fail("jsonPath expects a quoted path")
        }
        case "abs" => abs(args.head)
        case "ceil" | "ceiling" => ceil(args.head)
        case "floor" => floor(args.head)
        case "strtouppercase" => upper(args.head)
        case "strtolowercase" => lower(args.head)
        case "strconcat" => concat(args: _*)
        case "strlength" => length(args.head)
        case "strtrim" => trim(args.head)
        case "strsubstring" => args.head.substr(args(1) + lit(1), args(2) - args(1))
        case "proxyid" =>
          // the reference's ProxyIdFunction (geomesa-filter/.../function/
          // ProxyIdFunction.scala:20-60): a stable int proxy for the
          // feature id — murmur3 string hash, or for uuid-typed ids the
          // seed-0 murmur mix of the uuid's four ints (parse failures
          // throw, like the reference's uuid mode). Mode is an explicit
          // 'uuid' argument here; the reference reads it from sft config.
          val uuidMode = raw.headOption.exists {
            case TStr(s, _, _) => s.equalsIgnoreCase("uuid")
            case _ => false
          }
          val f =
            if (uuidMode) udf { (s: String) =>
              if (s == null) null
              else {
                val u = java.util.UUID.fromString(s)
                val (msb, lsb) = (u.getMostSignificantBits, u.getLeastSignificantBits)
                import scala.util.hashing.MurmurHash3._
                Int.box(finalizeHash(mixLast(mix(mix(mix(0, msb.toInt), (msb >>> 32).toInt),
                  lsb.toInt), (lsb >>> 32).toInt), 16))
              }
            }
            else udf((s: String) =>
              if (s == null) null else Int.box(scala.util.hashing.MurmurHash3.stringHash(s)))
          f.withName("proxyId")(resolve(idColumn))
        case _ => sys.error(s"unknown CQL function '$name'")
      })
    }

    /** GeoMesa's jsonPath('$.col.segment...') — the first path segment
      * names the attribute, the rest is the JSON path inside it, with
      * the reference's FULL grammar (functions/JsonPath.scala): bracket
      * names (CQL-escaped as [''name'']), indices/slices, wildcards,
      * deep scans, trailing min()/max()/avg()/length(). Definite paths
      * (attributes + single indices) stay on codegen get_json_object;
      * only the indefinite forms pay a per-row Jackson walk. */
    private def jsonPathColumn(path: String): Column = {
      import graft.functions.{JsonPath => JP}
      val parsed =
        try JP.parse(path)
        catch { case e: IllegalArgumentException => fail(e.getMessage) }
      parsed.headOption match {
        case Some(JP.PathAttribute(colName, _)) =>
          val rest = parsed.tail
          if (rest.isEmpty) resolve(colName)
          else if (JP.isDefinite(rest)) {
            val jsonPath = rest.map {
              case JP.PathAttribute(s, _) => if (IdentRe.matches(s)) s".$s" else s"['$s']"
              case JP.PathIndex(ix) => s"[$ix]"
              case other => sys.error(s"unreachable: $other")
            }.mkString("$", "", "")
            get_json_object(resolve(colName), jsonPath)
          } else {
            val evalUdf = udf((s: String) => JP.render(s, rest))
            evalUdf(resolve(colName))
          }
        case _ => fail(s"jsonPath must start with an attribute: $path")
      }
    }
  }

  // ---- instant / period helpers --------------------------------------

  private[graft] def parseInstant(s: String): Instant = {
    val t = s.trim
    try OffsetDateTime.parse(t).toInstant
    catch {
      case _: Exception =>
        if (t.matches("""\d{4}-\d{2}-\d{2}""")) // date-only → midnight UTC
          OffsetDateTime.parse(s"${t}T00:00:00Z").toInstant
        else if (t.matches("""\d{4}-\d{2}-\d{2}T.*""") && !t.matches(""".*(Z|[+-]\d{2}:?\d{2})$"""))
          OffsetDateTime.parse(s"${t}Z").toInstant // no offset → UTC
        else sys.error(s"unparseable instant: $s")
    }
  }

  /** ISO-8601 period with both date and time parts; accepts the
    * reference's shorthand T1S (no leading P). */
  private final case class Iso8601Period(datePart: Period, timePart: Duration, negative: Boolean) {
    def negated: Iso8601Period = copy(negative = !negative)
    def approxSeconds: Double = {
      val d = datePart.getYears * 365.2425 * 86400.0 +
        datePart.getMonths * 30.436875 * 86400.0 +
        datePart.getDays * 86400.0
      val s = d + timePart.getSeconds + timePart.getNano / 1e9
      if (negative) -s else s
    }
  }

  private def parsePeriod(s: String): Iso8601Period = {
    var t = s.trim
    val neg = t.startsWith("-")
    if (neg) t = t.substring(1)
    if (t.startsWith("T")) t = "P" + t // reference shorthand: T1S
    require(t.startsWith("P"), s"unparseable ISO period: $s")
    val tIdx = t.indexOf('T')
    val (dateStr, timeStr) =
      if (tIdx < 0) (t, "") else (t.substring(0, tIdx), t.substring(tIdx))
    val datePart = if (dateStr == "P") Period.ZERO else Period.parse(dateStr)
    val timePart = if (timeStr.isEmpty) Duration.ZERO else Duration.parse("P" + timeStr)
    Iso8601Period(datePart, timePart, neg)
  }

  private def plus(i: Instant, p: Iso8601Period): Instant = {
    val odt = i.atOffset(ZoneOffset.UTC)
    val shifted =
      if (p.negative) odt.minus(p.datePart).minus(p.timePart)
      else odt.plus(p.datePart).plus(p.timePart)
    shifted.toInstant
  }

  private def ts(i: Instant): Timestamp = Timestamp.from(i)
}
