package graft

import graft.fhir.{FhirAnnotations, UcumGrammar}
import org.scalatest.funsuite.AnyFunSuite

/** UCUM grammar parser: worked examples over the full expression grammar,
  * the clinical conversion table generated from it, and
  * coverage of every quantity code in the golden Observation data (where
  * the golden files are present).
  */
class UcumSpec extends AnyFunSuite {

  private def canon(code: String): (String, Double, Double) =
    UcumGrammar.canonical(code).getOrElse(fail(s"'$code' did not parse"))

  test("grammar: prefixes, exponents, quotients, powers, annotations") {
    assert(canon("fL") == ("L", 1e-15, 0.0))
    assert(canon("pg") == ("g", 1e-12, 0.0))
    assert(canon("kg") == ("g", 1000.0, 0.0))
    assert(canon("10*3/uL") == ("/L", 1e9, 0.0))
    assert(canon("10*6/uL") == ("/L", 1e12, 0.0))
    assert(canon("kg/m2") == ("g.m-2", 1000.0, 0.0))
    assert(canon("{score}") == ("1", 1.0, 0.0))
    assert(canon("%") == ("1", 0.01, 0.0))
    // derived-unit recomposition: kg·m/s² IS the newton
    assert(canon("kg.m/s2") == ("N", 1.0, 0.0))
    // parenthesized quotient ≡ flat quotient
    assert(canon("kg/(m.s2)") == canon("kg/m/s2"))
    // dimensionless mass ratio
    assert(canon("mg/kg") == ("1", 1e-6, 0.0))
    // systematic fallback rendering for an alias-less dimension
    val (kmh, f, _) = canon("km/h")
    assert(kmh == "m.s-1" && math.abs(f - 1000.0 / 3600.0) < 1e-12)
    // annotation suffixed to a unit is dimensionless glue
    assert(canon("mg{total}") == ("g", 0.001, 0.0))
    // unknown atom and dangling operator must NOT parse
    assert(UcumGrammar.canonical("furlong").isEmpty)
    assert(UcumGrammar.canonical("mg/").isEmpty)
  }

  test("grammar: special (logarithmic/pH) units flagged non-linear, never mis-converted (round 13)") {
    // bel, neper, pH convert via log, not a linear factor(+offset): any
    // (canon, factor, offset) triple would be silently wrong, so parse and
    // canonical must return None — A8's left join then leaves the
    // __<q>_canonical group NULL (flagged, not converted)
    for (c <- Seq("B", "Np", "[pH]", "dB", "B[SPL]", "mB[SPL]", "cNp"))
      assert(UcumGrammar.canonical(c).isEmpty, s"special unit '$c' must not canonicalize")
    // classification names the reason, distinguishing special from unknown
    assert(UcumGrammar.classify("B") == "special-nonlinear")
    assert(UcumGrammar.classify("[pH]") == "special-nonlinear")
    assert(UcumGrammar.classify("dB/m") == "special-nonlinear")
    assert(UcumGrammar.classify("furlong") == "unknown")
    assert(UcumGrammar.classify("mg/dL") == "linear")
    // the conformance IN-list covers bare and metric-prefixed forms but
    // never prefixes a bracket-initial atom
    assert(UcumGrammar.specialLoneCodes.contains("dB"))
    assert(UcumGrammar.specialLoneCodes.contains("[pH]"))
    assert(!UcumGrammar.specialLoneCodes.exists(c => c.endsWith("[pH]") && c != "[pH]"))
    // golden vocabulary untouched: every code still parses linear
    assert(UcumGrammar.vocabTable.size == UcumGrammar.vocabulary.size)
  }

  test("grammar: temperature offsets only on the lone units") {
    val (cc, cf, co) = canon("Cel")
    assert(cc == "K" && cf == 1.0 && co == 273.15)
    val (fc, ff, fo) = canon("[degF]")
    assert(fc == "K" && math.abs(ff - 5.0 / 9.0) < 1e-12 &&
      math.abs(fo - 459.67 * 5.0 / 9.0) < 1e-9)
    // inside a compound the offset is meaningless and must be dropped
    val (_, _, off) = canon("Cel/min")
    assert(off == 0.0)
  }

  test("clinical table: grammar factors and offsets rounded once to 6 dp") {
    val table = FhirAnnotations.ucumTable.map { case (c, f, o, k) => c -> (k, f, o) }.toMap
    assert(FhirAnnotations.ucumTable.size == 24 && table.size == 24)
    // the non-terminating factors and the mercury column, exactly
    assert(table("/min") == (("/s", "0.016667", "0")))
    assert(table("/h") == (("/s", "0.000278", "0")))
    assert(table("[degF]") == (("K", "0.555556", "255.372222")))
    assert(table("mm[Hg]") == (("Pa", "133.322387", "0")))
    assert(table("Cel") == (("K", "1", "273.15")))
    assert(table("wk") == (("s", "604800", "0")))
    // every row lies within half a unit of the 6th place of its exact value
    val halfUlp = new java.math.BigDecimal("0.0000005")
    FhirAnnotations.ucumTable.foreach { case (code, f, o, k) =>
      val (cc, ef, eo) = UcumGrammar.canonicalExact(code).get
      assert(cc == k, s"$code: canon $cc != table $k")
      assert(ef.subtract(new java.math.BigDecimal(f)).abs.compareTo(halfUlp) <= 0,
        s"$code: factor $f vs exact $ef")
      assert(eo.subtract(new java.math.BigDecimal(o)).abs.compareTo(halfUlp) <= 0,
        s"$code: offset $o vs exact $eo")
    }
  }

  test("every golden Observation quantity code is in the parsed vocabulary") {
    // the whole vocabulary parses (vocabTable drops failures silently)
    assert(UcumGrammar.vocabTable.size == UcumGrammar.vocabulary.size,
      s"unparsed vocabulary entries: ${
        UcumGrammar.vocabulary.toSet -- UcumGrammar.vocabTable.map(_._1).toSet}")
    // the vocabulary lists the golden codes by name, so the coverage claim
    // is about the golden bytes themselves
    SparkTestBase.assumeGolden()
    val spark = SparkTestBase.spark
    import org.apache.spark.sql.functions.col
    val codes = Tables.t(spark, Tables.goldenDir, "Observation")
      .where(col("valueQuantity.value").isNotNull)
      .select(col("valueQuantity.code")).distinct()
      .collect().map(_.getString(0)).toSet
    val vocab = UcumGrammar.vocabTable.map(_._1).toSet
    assert(codes.subsetOf(vocab),
      s"golden codes missing from vocabulary: ${codes -- vocab}")
  }

  test("grammar algebra: product, quotient, and exponent compose exactly") {
    // Exhaustive (deterministic) sweep: the parser must satisfy the unit
    // algebra itself — parse(a.b) = parse(a)·parse(b), parse(a/b) =
    // parse(a)/parse(b), parse(aⁿ) = parse(a)ⁿ — over every prefix × atom
    // combination in play. A parser bug that mangles a specific prefix,
    // exponent sign, or operator shows up as an algebra violation here
    // without hand-writing a case for it.
    val atoms = Seq("m", "g", "s", "mol", "Pa", "L", "N", "J", "W", "Hz")
    val prefixes = Seq("", "k", "m", "u", "c", "d", "n", "p", "f", "M", "G")
    val units = for {
      p <- prefixes; a <- atoms
      u = p + a if UcumGrammar.parse(u).isDefined
    } yield u
    assert(units.size > 80, s"only ${units.size} prefixed units parse")
    def close(x: java.math.BigDecimal, y: java.math.BigDecimal): Boolean = {
      val (xd, yd) = (x.doubleValue, y.doubleValue)
      math.abs(xd - yd) <= 1e-9 * math.max(math.abs(xd), math.abs(yd))
    }
    // pair the list against a rotation of itself: every unit participates
    // on both sides without the full quadratic sweep
    val pairs = units.zip(units.drop(7) ++ units.take(7))
    pairs.foreach { case (a, b) =>
      val (ua, ub) = (UcumGrammar.parse(a).get, UcumGrammar.parse(b).get)
      val prod = UcumGrammar.parse(s"$a.$b").get
      val quot = UcumGrammar.parse(s"$a/$b").get
      assert(close(prod.factor, ua.factor.multiply(ub.factor)) &&
        prod.dim == (ua.dim.keySet ++ ub.dim.keySet)
          .map(k => k -> (ua.dim.getOrElse(k, 0) + ub.dim.getOrElse(k, 0)))
          .toMap.filter(_._2 != 0),
        s"product law broken for $a.$b")
      assert(close(quot.factor,
        ua.factor.divide(ub.factor, java.math.MathContext.DECIMAL64)) &&
        quot.dim == (ua.dim.keySet ++ ub.dim.keySet)
          .map(k => k -> (ua.dim.getOrElse(k, 0) - ub.dim.getOrElse(k, 0)))
          .toMap.filter(_._2 != 0),
        s"quotient law broken for $a/$b")
    }
    units.foreach { a =>
      val ua = UcumGrammar.parse(a).get
      Seq(2, 3, -2).foreach { e =>
        val pw = UcumGrammar.parse(s"$a$e").get
        val expF =
          if (e >= 0) ua.factor.pow(e)
          else java.math.BigDecimal.ONE.divide(ua.factor.pow(-e),
            java.math.MathContext.DECIMAL64)
        assert(close(pw.factor, expF) &&
          pw.dim == ua.dim.map { case (k, v) => k -> v * e },
          s"exponent law broken for $a$e")
      }
      // self-quotient is exactly dimensionless unity
      val unity = UcumGrammar.parse(s"$a/$a").get
      assert(unity.dim.isEmpty && close(unity.factor, java.math.BigDecimal.ONE),
        s"$a/$a is not unity")
    }
  }

  test("fhir_ucum_grammar_canonical: vocabulary broadcasts; golden rows all convert") {
    val spark = SparkTestBase.spark
    val df = SparkEntry.queries("fhir_ucum_grammar_canonical")(spark, SparkTestBase.sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // every value-bearing golden row joins a vocabulary code — the grammar
    // covers codes the curated table leaves unconverted
    import org.apache.spark.sql.functions.col
    val total = SparkTestBase.fhir("Observation")
      .where(col("valueQuantity.value").isNotNull).count()
    assert(df.count() == total, "grammar canonicalization dropped golden rows")
  }
}
