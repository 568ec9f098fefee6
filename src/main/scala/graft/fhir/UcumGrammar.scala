package graft.fhir

import java.math.{BigDecimal => JBD, MathContext, RoundingMode}

/** UCUM unit-expression grammar (README.md:367-381 defines the
  * canonicalization MECHANISM; the unit algebra itself is the public UCUM
  * specification, ucum.org §4-5). `FhirAnnotations.ucumTable` is its
  * output for 24 clinical codes at 6 dp; the parser covers the GRAMMAR — any
  * product/quotient of prefixed metric atoms, integer exponents,
  * parenthesized terms, `10*n`/`10^n` power atoms, integer factors, and
  * `{annotation}` comments — so codes the clinical table leaves
  * unconverted (the golden Observation data itself carries `fL`, `pg`,
  * `10*3/uL`, `10*6/uL`, `kg/m2`, `{score}`) canonicalize too.
  *
  * Canonical form: a dimension vector over the UCUM base units
  * (g, m, s, K, mol, A, cd — gram-based, as UCUM defines) plus a decimal
  * factor; rendering prefers the clinical aliases (Pa, N, J, W, L, g/L,
  * mol/L, /s, /L, 1) and falls back to a systematic `g.m-2`-style base
  * expression. Temperature OFFSETS exist only for the lone units
  * Cel / [degF] (an offset inside a compound is meaningless); arbitrary
  * units ([iU]) carry their own dimension and never cross-convert — both
  * per the UCUM spec.
  *
  * All arithmetic is exact BigDecimal except non-terminating quotients
  * (1/60, 5/9), computed at 30 significant digits; conversion tables emit
  * IEEE doubles, whose decimal→double rounding is identical in every
  * engine.
  */
object UcumGrammar {

  private val mc = new MathContext(30, RoundingMode.HALF_EVEN)

  /** factor · Π base^dim, with an optional additive offset (lone Cel/degF).
    * `dim` maps base-unit symbol → integer exponent; zero entries pruned.
    */
  final case class U(factor: JBD, dim: Map[String, Int], offset: JBD = JBD.ZERO)

  private def bd(s: String): JBD = new JBD(s)
  private def norm(d: Map[String, Int]) = d.filter(_._2 != 0)
  private def mul(a: U, b: U): U =
    U(a.factor.multiply(b.factor, mc),
      norm((a.dim.keySet ++ b.dim.keySet)
        .map(k => k -> (a.dim.getOrElse(k, 0) + b.dim.getOrElse(k, 0))).toMap))
  private def div(a: U, b: U): U =
    U(a.factor.divide(b.factor, mc),
      norm((a.dim.keySet ++ b.dim.keySet)
        .map(k => k -> (a.dim.getOrElse(k, 0) - b.dim.getOrElse(k, 0))).toMap))
  private def pow(a: U, e: Int): U = {
    val f =
      if (e >= 0) a.factor.pow(e, mc)
      else JBD.ONE.divide(a.factor.pow(-e, mc), mc)
    U(f, norm(a.dim.map { case (k, v) => k -> v * e }))
  }

  /** Metric prefixes: symbol → decimal power of ten. Two-char `da` must
    * match before one-char prefixes.
    */
  private val prefixes: Seq[(String, Int)] = Seq(
    "da" -> 1, "h" -> 2, "k" -> 3, "M" -> 6, "G" -> 9, "T" -> 12,
    "P" -> 15, "E" -> 18, "Z" -> 21, "Y" -> 24,
    "d" -> -1, "c" -> -2, "m" -> -3, "u" -> -6, "n" -> -9, "p" -> -12,
    "f" -> -15, "a" -> -18, "z" -> -21, "y" -> -24)

  /** Atom table: symbol → (value in g-based base units, dim, metric?).
    * Metric atoms accept prefixes; the customary/bracketed ones do not
    * (except the meter-of-mercury/water column atoms, which UCUM defines
    * as metric — that is what makes `mm[Hg]` prefix `m` + atom `m[Hg]`).
    */
  private val atoms: Map[String, (JBD, Map[String, Int], Boolean)] = Map(
    "m" -> (JBD.ONE, Map("m" -> 1), true),
    "g" -> (JBD.ONE, Map("g" -> 1), true),
    "s" -> (JBD.ONE, Map("s" -> 1), true),
    "K" -> (JBD.ONE, Map("K" -> 1), true),
    "mol" -> (JBD.ONE, Map("mol" -> 1), true),
    "A" -> (JBD.ONE, Map("A" -> 1), true),
    "cd" -> (JBD.ONE, Map("cd" -> 1), true),
    // dimensionless / counting
    "rad" -> (JBD.ONE, Map.empty[String, Int], true),
    "sr" -> (JBD.ONE, Map.empty[String, Int], true),
    "%" -> (bd("0.01"), Map.empty[String, Int], false),
    "[ppm]" -> (bd("1E-6"), Map.empty[String, Int], false),
    "[ppb]" -> (bd("1E-9"), Map.empty[String, Int], false),
    // derived metric (values include the kg→g factor 1000 where mass enters)
    "Hz" -> (JBD.ONE, Map("s" -> -1), true),
    "N" -> (bd("1000"), Map("g" -> 1, "m" -> 1, "s" -> -2), true),
    "Pa" -> (bd("1000"), Map("g" -> 1, "m" -> -1, "s" -> -2), true),
    "J" -> (bd("1000"), Map("g" -> 1, "m" -> 2, "s" -> -2), true),
    "W" -> (bd("1000"), Map("g" -> 1, "m" -> 2, "s" -> -3), true),
    "C" -> (JBD.ONE, Map("A" -> 1, "s" -> 1), true),
    "V" -> (bd("1000"), Map("g" -> 1, "m" -> 2, "s" -> -3, "A" -> -1), true),
    "L" -> (bd("0.001"), Map("m" -> 3), true),
    "l" -> (bd("0.001"), Map("m" -> 3), true),
    "t" -> (bd("1E6"), Map("g" -> 1), true),
    "bar" -> (bd("1E8"), Map("g" -> 1, "m" -> -1, "s" -> -2), true),
    "eq" -> (JBD.ONE, Map("mol" -> 1), true),
    "osm" -> (JBD.ONE, Map("mol" -> 1), true),
    "u" -> (bd("1.66053906660E-24"), Map("g" -> 1), true),
    "m[Hg]" -> (bd("1.33322387415E8"), Map("g" -> 1, "m" -> -1, "s" -> -2), true),
    "m[H2O]" -> (bd("9.80665E6"), Map("g" -> 1, "m" -> -1, "s" -> -2), true),
    // customary time (non-metric: no prefixes)
    "min" -> (bd("60"), Map("s" -> 1), false),
    "h" -> (bd("3600"), Map("s" -> 1), false),
    "d" -> (bd("86400"), Map("s" -> 1), false),
    "wk" -> (bd("604800"), Map("s" -> 1), false),
    "mo" -> (bd("2629800"), Map("s" -> 1), false),
    "a" -> (bd("31557600"), Map("s" -> 1), false),
    // temperature (offsets attach only when the unit stands alone)
    "Cel" -> (JBD.ONE, Map("K" -> 1), true),
    "[degF]" -> (bd("0.555555555555555555555555555556"), Map("K" -> 1), false),
    // arbitrary units: own dimension, never cross-convert (UCUM §24)
    "[iU]" -> (JBD.ONE, Map("iU" -> 1), false),
    "[IU]" -> (JBD.ONE, Map("iU" -> 1), false))

  /** UCUM SPECIAL units (ucum.org §21-23) — measured on non-ratio scales:
    * logarithmic (bel `B` and its suffixed forms, neper `Np`) and pH
    * (`[pH]`, negative log of molar concentration). They convert through
    * y = f(x) (log₁₀, ln), NOT through a linear factor(+offset), so no
    * (canonicalCode, factor, offset) triple can represent them — a linear
    * "conversion" would be silently wrong for every value. `parse` /
    * `canonical` therefore return None for any expression containing one
    * (an EXPLICIT classification, not an unknown-atom accident), which
    * under A8's left-join contract leaves the `__<q>_canonical`
    * group NULL — flagged, never mis-converted. [[classify]] distinguishes
    * this case from a genuinely unknown atom so conformance reporting can
    * name the reason.
    *
    * The set covers the FULL UCUM special-units table (ucum.org
    * §§21-23, "special units" rows), not just the bel/neper/pH family —
    * prism diopter `[p'diop]` (tan), slope `%[slope]` (100·tan),
    * the homeopathic potency series `[hp'_X/C/M/Q]` (decimal/centesimal
    * retired + hahnemannian `[hp_X/C/M/Q]`... the spec marks both primes
    * and non-primes special) plus korsakovian `[kp_X/C/M/Q]`, bit
    * logarithmus dualis `bit_s` (ld), and Réaumur `[degRe]` (the spec
    * models it via the `degre` function pair, so it rides the special list
    * even though the function is affine). `Cel`/`[degF]` are ALSO on the
    * spec's special list but have exact affine function pairs, which this
    * grammar represents directly via [[loneOffsets]] — they classify
    * "linear" by design (converted correctly when standalone, refused in
    * compounds).
    */
  val specialAtoms: Set[String] = Set(
    "B", "Np", "[pH]", "B[SPL]", "B[V]", "B[mV]", "B[uV]", "B[10.nV]",
    "B[W]", "B[kW]",
    "[p'diop]", "%[slope]", "bit_s", "[degRe]",
    "[hp'_X]", "[hp'_C]", "[hp'_M]", "[hp'_Q]",
    "[hp_X]", "[hp_C]", "[hp_M]", "[hp_Q]",
    "[kp_X]", "[kp_C]", "[kp_M]", "[kp_Q]")

  /** The metric subset of [[specialAtoms]] — only these accept UCUM
    * prefixes (`dB`, `cNp`). The bracket-initial and non-metric atoms
    * (`[pH]`, `%[slope]`, `bit_s`, the potency series) never prefix, so
    * generating `d%[slope]`-style codes would admit invalid UCUM into the
    * special IN-list and mislabel them "special-nonlinear" over "unknown".
    */
  private val metricSpecialAtoms: Set[String] = Set(
    "B", "Np", "B[SPL]", "B[V]", "B[mV]", "B[uV]", "B[10.nV]",
    "B[W]", "B[kW]")

  /** Split a code into component tokens (operators outside brackets),
    * exponent digits stripped — just enough resolution to recognize a
    * special atom inside a compound or behind a metric prefix.
    */
  private def componentTokens(code: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inBr = false
    code.foreach {
      case '[' => inBr = true; sb += '['
      case ']' => inBr = false; sb += ']'
      case '.' | '/' if !inBr => out += sb.result(); sb.clear()
      case c => sb += c
    }
    out += sb.result()
    out.toSeq.map(_.replaceAll("[+-]?\\d+$", "")).filter(_.nonEmpty)
  }

  /** True iff the code contains a special (non-ratio-scale) atom, bare or
    * metric-prefixed (`dB`, `mB[SPL]`).
    */
  def isSpecial(code: String): Boolean =
    componentTokens(code.trim).exists(t =>
      specialAtoms.contains(t) || prefixes.exists { case (p, _) =>
        t.startsWith(p) && metricSpecialAtoms.contains(t.substring(p.length))
      })

  /** Lone-code special vocabulary for conformance IN-list checks: the
    * special atoms plus every metric-prefixed form (`dB`, `cNp`, `mB[SPL]`
    * — prefixes never apply to bracket-initial atoms like `[pH]`). An
    * IN-list keeps the rule expressible identically in Spark `isin` and
    * DuckDB `IN`, with this sorted sequence as the single source.
    */
  lazy val specialLoneCodes: Seq[String] =
    (specialAtoms.toSeq ++ (for {
      (p, _) <- prefixes
      a <- metricSpecialAtoms.toSeq
    } yield p + a)).distinct.sorted

  /** Three-way classification for conformance reporting: "linear"
    * (canonicalizable to factor·Π base^dim (+offset)), "special-nonlinear"
    * (logarithmic / pH — representable only as y = f(x), flagged), or
    * "unknown" (no grammar derivation).
    */
  def classify(code: String): String =
    if (parse(code).isDefined) "linear"
    else if (isSpecial(code)) "special-nonlinear"
    else "unknown"

  /** Offsets for the lone temperature units (exponent 1, no compounding). */
  private val loneOffsets: Map[String, (U, JBD)] = Map(
    "Cel" -> (U(JBD.ONE, Map("K" -> 1)), bd("273.15")),
    "[degF]" -> (U(bd("0.555555555555555555555555555556"), Map("K" -> 1)),
      bd("255.372222222222222222222222222")))

  /** Parse a UCUM code to its canonical (factor, dim, offset); None if the
    * expression does not parse or uses an unknown atom.
    */
  def parse(code: String): Option[U] = {
    val trimmed = code.trim
    if (trimmed.isEmpty) return None
    loneOffsets.get(trimmed) match {
      case Some((u, off)) => return Some(U(u.factor, u.dim, off))
      case None =>
    }
    try Some(parseTerm(trimmed)) catch { case _: Exception => None }
  }

  private def parseTerm(s: String): U = {
    var i = 0
    var acc = U(JBD.ONE, Map.empty)
    var op = '.'
    if (s.startsWith("/")) { op = '/'; i = 1 }
    while (i < s.length) {
      val (comp, j0) = parseComponent(s, i)
      // a {annotation} suffixed to a unit (mg{total}) is dimensionless glue
      var j = j0
      while (j < s.length && s.charAt(j) == '{') {
        val end = s.indexOf('}', j)
        if (end < 0) sys.error("unbalanced annotation")
        j = end + 1
      }
      acc = if (op == '.') mul(acc, comp) else div(acc, comp)
      if (j < s.length) {
        op = s.charAt(j) match {
          case c @ ('.' | '/') => c
          case c => sys.error(s"expected operator at $j, got '$c'")
        }
        i = j + 1
        if (i >= s.length) sys.error("dangling operator")
      } else i = j
    }
    acc
  }

  private def parseComponent(s: String, start: Int): (U, Int) = s.charAt(start) match {
    case '(' =>
      var depth = 1; var i = start + 1
      while (depth > 0) {
        if (i >= s.length) sys.error("unbalanced parenthesis")
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
      val inner = parseTerm(s.substring(start + 1, i - 1))
      val (e, j) = trailingExponent(s, i)
      (pow(inner, e), j)
    case '{' =>
      val end = s.indexOf('}', start)
      if (end < 0) sys.error("unbalanced annotation")
      (U(JBD.ONE, Map.empty), end + 1)
    case _ =>
      // scan the unit token up to the next operator / parenthesis /
      // annotation, keeping bracketed spans ([Hg], [degF]) atomic
      var i = start
      var inBracket = false
      while (i < s.length && (inBracket || !"./({".contains(s.charAt(i)))) {
        s.charAt(i) match {
          case '[' => inBracket = true
          case ']' => inBracket = false
          case _ =>
        }
        i += 1
      }
      val tok = s.substring(start, i)
      // a trailing {annotation} binds to the unit; handled by the caller
      // loop as a separate dimensionless component
      (resolveToken(tok), i)
  }

  private def trailingExponent(s: String, from: Int): (Int, Int) = {
    var i = from
    if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-') &&
      i + 1 < s.length && s.charAt(i + 1).isDigit) i += 1
    while (i < s.length && s.charAt(i).isDigit) i += 1
    if (i == from) (1, from) else (s.substring(from, i).toInt, i)
  }

  /** token = unit + optional exponent; unit may be a pure integer factor,
    * a `10*n` / `10^n` power atom, or a (possibly prefixed) atom. Exponent
    * digits can only be split off OUTSIDE brackets.
    */
  private def resolveToken(tok: String): U = {
    if (tok.isEmpty) sys.error("empty component")
    if (tok.forall(_.isDigit)) return U(bd(tok), Map.empty)
    if (tok.startsWith("10*") || tok.startsWith("10^")) {
      val rest = tok.substring(3)
      val e = if (rest.isEmpty) 1 else rest.toInt
      return pow(U(bd("10"), Map.empty), e)
    }
    val (unit, e) =
      if (tok.endsWith("]")) (tok, 1)
      else {
        val m = "^(.*?)([+-]?\\d+)$".r.findFirstMatchIn(tok)
        m match {
          case Some(g) if g.group(1).nonEmpty => (g.group(1), g.group(2).toInt)
          case _ => (tok, 1)
        }
      }
    if (specialAtoms.contains(unit))
      sys.error(s"special (non-ratio-scale) atom '$unit' — not linear-canonicalizable")
    val base = atoms.get(unit) match {
      case Some((f, dm, _)) => U(f, dm)
      case None =>
        // longest-prefix match against metric atoms
        prefixes.collectFirst {
          case (p, k) if unit.startsWith(p) && unit.length > p.length &&
            atoms.get(unit.substring(p.length)).exists(_._3) =>
            val (f, dm, _) = atoms(unit.substring(p.length))
            U(f.multiply(JBD.TEN.pow(math.abs(k), mc) match {
              case t if k >= 0 => t
              case t => JBD.ONE.divide(t, mc)
            }, mc), dm)
        }.getOrElse(sys.error(s"unknown atom '$unit'"))
    }
    pow(base, e)
  }

  /** Preferred canonical renderings (dim → (code, value of that code in
    * g-based units)); first match wins, otherwise a systematic base
    * expression with factor relative to the bases themselves.
    */
  private val aliases: Seq[(Map[String, Int], String, JBD)] = Seq(
    (Map.empty[String, Int], "1", JBD.ONE),
    (Map("g" -> 1), "g", JBD.ONE),
    (Map("m" -> 1), "m", JBD.ONE),
    (Map("s" -> 1), "s", JBD.ONE),
    (Map("K" -> 1), "K", JBD.ONE),
    (Map("mol" -> 1), "mol", JBD.ONE),
    (Map("s" -> -1), "/s", JBD.ONE),
    (Map("m" -> 3), "L", bd("0.001")),
    (Map("m" -> -3), "/L", bd("1000")),
    (Map("g" -> 1, "m" -> -3), "g/L", bd("1000")),
    (Map("mol" -> 1, "m" -> -3), "mol/L", bd("1000")),
    (Map("g" -> 1, "m" -> -1, "s" -> -2), "Pa", bd("1000")),
    (Map("g" -> 1, "m" -> 1, "s" -> -2), "N", bd("1000")),
    (Map("g" -> 1, "m" -> 2, "s" -> -2), "J", bd("1000")),
    (Map("g" -> 1, "m" -> 2, "s" -> -3), "W", bd("1000")))

  private val baseOrder = Seq("g", "m", "s", "K", "mol", "A", "cd", "iU")

  /** (canonicalCode, factor, offset) for a code in exact decimal form, or
    * None if unparseable. Non-terminating quotients carry 30 significant
    * digits.
    */
  def canonicalExact(code: String): Option[(String, JBD, JBD)] =
    parse(code).map { u =>
      val (cc, cf) = aliases.find(_._1 == u.dim) match {
        case Some((_, c, av)) => (c, u.factor.divide(av, mc))
        case None =>
          val sys = baseOrder.filter(u.dim.contains).map { b =>
            val e = u.dim(b)
            if (e == 1) b else s"$b$e"
          }.mkString(".")
          (sys, u.factor)
      }
      (cc, cf, u.offset)
    }

  /** [[canonicalExact]] as doubles — single decimal→IEEE rounding,
    * identical in every engine.
    */
  def canonical(code: String): Option[(String, Double, Double)] =
    canonicalExact(code).map { case (cc, f, o) => (cc, f.doubleValue, o.doubleValue) }

  /** The demonstration vocabulary for the grammar-canonicalization query:
    * every quantity code present in the golden Observation data plus the
    * common clinical codes a deployment hits — all rows generated by the
    * PARSER (the mechanism), never hand-curated. A code outside the
    * vocabulary is simply left unconverted by the query, mirroring the
    * curated-table behavior for unknown codes.
    */
  val vocabulary: Seq[String] = Seq(
    // golden Observation codes
    "%", "cm", "/min", "{score}", "kg", "fL", "10*3/uL", "10*6/uL",
    "kg/m2", "g/dL", "pg",
    // common clinical panel units
    "mg/dL", "ug/L", "ng/mL", "umol/L", "mmol/L", "meq/L", "mm[Hg]",
    "cm[H2O]", "kPa", "/uL", "10*9/L", "km/h", "mg/kg", "Cel", "[degF]",
    "pmol/L", "g/L", "mL/min", "u", "kg.m/s2")

  /** Parsed vocabulary: (code, canonicalCode, factor, offset). */
  lazy val vocabTable: Seq[(String, String, Double, Double)] =
    vocabulary.flatMap(c => canonical(c).map { case (cc, f, o) => (c, cc, f, o) })

  /** DuckDB VALUES literal over the parsed vocabulary (the oracle mirror —
    * same doubles, printed via Java's shortest-round-trip toString, which
    * both engines parse back to the identical IEEE value).
    */
  def vocabValuesSql: String =
    vocabTable.map { case (c, cc, f, o) =>
      s"('$c', '$cc', CAST(${f.toString} AS DOUBLE), CAST(${o.toString} AS DOUBLE))"
    }.mkString("(VALUES ", ", ", ") AS ucum(code, canon, factor, off)")
}
