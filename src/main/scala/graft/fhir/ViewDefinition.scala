package graft.fhir

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import scala.jdk.CollectionConverters._

/** SQL-on-FHIR v2 ViewDefinition evaluator: the flattening subset plus
  * `where`, `constant` and the reference-key functions listed below.
  *
  * The reference format exists to serve analytic views (README.md:301-309:
  * annotations are "derived forms of element values that may be useful for
  * querying"); the public SQL-on-FHIR v2 ViewDefinition resource is the
  * standard consumer of exactly this columnar layout. Supported:
  *
  *   - `select[].column[]`: FHIRPath-lite column paths — dotted struct
  *     navigation (`maritalStatus.text`), a `first()` terminal or mid-path
  *     step for repeating elements (`given.first()`), `ofType(Type)`
  *     choice-type steps (`value.ofType(Quantity).value` addresses the
  *     layout's flattened `valueQuantity` column; primitive type names
  *     capitalize — `value.ofType(string)` → `valueString`), string
  *     literals (`'claim'`), view constants (`%name`), `getResourceKey()`
  *     (the resource's `id`), and `<ref>.getReferenceKey(Type?)` (the id
  *     part of a relative literal reference, null when the prefix is not
  *     the requested type).
  *   - `select[].forEach` / `forEachOrNull`: one output row per element of
  *     a repeating element (explode / explode_outer); nested `select`
  *     recurses relative to the iterated element. Sibling selects compose
  *     as the per-resource Cartesian product, per the spec.
  *   - `select[].unionAll[]`: each branch is a select evaluated against
  *     the current row context; branches must produce identical column
  *     name lists and their rows concatenate (UNION ALL). Composes with
  *     sibling columns/selects like any other select.
  *   - `constant[]`: view-level named values (`valueString`/`valueCode`/
  *     `valueInteger`/`valueDecimal`/`valueBoolean`), referenced as
  *     `%name` in column paths and where operands.
  *   - `where[].path`: `path.exists()` (array paths test non-emptiness —
  *     FHIRPath exists() is false for the empty collection, so an empty
  *     repeating element must not pass an isNotNull test), `path.empty()`
  *     (true for missing scalars, null arrays and empty arrays alike),
  *     postfix `.not()` over either function form, bare boolean paths,
  *     and binary comparisons `path OP operand` with OP in `= != > >= < <=`
  *     and operand a string literal, number, boolean or `%constant`.
  *
  * Spark-first posture: a ViewDefinition compiles to a single declarative
  * plan (getField projections + generate + filter + union), so Catalyst
  * prunes the unused resource columns at the parquet scan and the whole
  * view stays inside WholeStageCodegen — flattening 100 TB of resources is
  * exactly a scan-shaped job, no shuffle.
  *
  * Still out of scope (fail loudly rather than mis-evaluate): FHIRPath
  * functions beyond first()/exists()/empty()/not()/ofType()/
  * getResourceKey()/getReferenceKey(), where paths that traverse (rather
  * than terminate at) a repeating element, and non-literal where operands.
  */
object ViewDefinition {

  final case class VdColumn(path: String, name: String)
  final case class VdSelect(
      column: Seq[VdColumn],
      forEach: Option[String],
      forEachOrNull: Option[String],
      select: Seq[VdSelect],
      unionAll: Seq[VdSelect])
  final case class Vd(
      resource: String,
      select: Seq[VdSelect],
      where: Seq[String],
      constants: Map[String, Column])

  /** Parse a ViewDefinition JSON document (Jackson tree API — jackson-databind
    * ships with Spark). Unknown top-level fields are ignored; unsupported
    * constructs throw at parse or compile time, never mis-evaluate.
    */
  def parse(json: String): Vd = {
    val root = new ObjectMapper().readTree(json)
    def sels(n: JsonNode): Seq[VdSelect] =
      Option(n).map(_.elements().asScala.map(sel).toSeq).getOrElse(Nil)
    def sel(n: JsonNode): VdSelect =
      VdSelect(
        column = Option(n.get("column"))
          .map(_.elements().asScala.map(c =>
            VdColumn(c.get("path").asText, c.get("name").asText)).toSeq)
          .getOrElse(Nil),
        forEach = Option(n.get("forEach")).map(_.asText),
        forEachOrNull = Option(n.get("forEachOrNull")).map(_.asText),
        select = sels(n.get("select")),
        unionAll = sels(n.get("unionAll")))
    val constants = Option(root.get("constant"))
      .map(_.elements().asScala.map { c =>
        val name = c.get("name").asText
        val v: Column =
          if (c.has("valueString")) lit(c.get("valueString").asText)
          else if (c.has("valueCode")) lit(c.get("valueCode").asText)
          else if (c.has("valueInteger")) lit(c.get("valueInteger").asInt)
          else if (c.has("valueDecimal")) lit(new java.math.BigDecimal(c.get("valueDecimal").asText))
          else if (c.has("valueBoolean")) lit(c.get("valueBoolean").asBoolean)
          else throw new IllegalArgumentException(
            s"ViewDefinition constant '$name': unsupported value[x] type")
        name -> v
      }.toMap)
      .getOrElse(Map.empty)
    Vd(
      resource = root.get("resource").asText,
      select = sels(root.get("select")),
      where = Option(root.get("where"))
        .map(_.elements().asScala.map(_.get("path").asText).toSeq)
        .getOrElse(Nil),
      constants = constants)
  }

  private val StrLit = """'(.*)'""".r
  private val ConstRef = """%(\w+)""".r
  private val RefKey = """getReferenceKey\((\w*)\)""".r
  private val OfType = """ofType\((\w+)\)""".r

  /** Fold choice-type steps into the flattened column name the reference
    * layout uses (README.md:139-172: `value[x]` ships as one column per
    * realized type — `valueQuantity`, `valueString`, …): `value.ofType(
    * Quantity)` addresses `valueQuantity`; FHIR primitive type names are
    * lowercase in FHIRPath, so the first letter capitalizes
    * (`value.ofType(string)` → `valueString`). An `ofType()` with no
    * preceding plain name segment (path head, or after a function step)
    * has no column to fold into and is rejected loudly.
    */
  private def foldOfType(segs: List[String], full: String): List[String] =
    segs match {
      case a :: OfType(t) :: rest if !a.contains("(") =>
        foldOfType((a + t.capitalize) :: rest, full)
      case OfType(_) :: _ =>
        throw new IllegalArgumentException(
          s"ViewDefinition path '$full': ofType() must directly follow a " +
            "choice element name")
      case a :: rest => a :: foldOfType(rest, full)
      case Nil => Nil
    }

  private def splitPath(path: String): List[String] =
    foldOfType(path.split("\\.").toList, path)

  /** Resolve a FHIRPath-lite path relative to an optional iterated-element
    * alias: dotted getField navigation, `first()` = element_at(_, 1),
    * literals/constants/key functions per the header doc.
    */
  private def ref(prefix: Option[String], path: String, constants: Map[String, Column]): Column =
    path match {
      case StrLit(s) => lit(s)
      case ConstRef(name) =>
        constants.getOrElse(name, throw new IllegalArgumentException(
          s"ViewDefinition: undefined constant %$name"))
      case "getResourceKey()" =>
        // the root resource's opaque row key — this layout's `id`; valid in
        // any context (the key is per-RESOURCE even inside a forEach)
        col("id")
      case _ =>
        val segs = splitPath(path)
        val head: Column = prefix match {
          case Some(p) => col(p).getField(segs.head)
          case None => col(segs.head)
        }
        segs.tail.foldLeft(head) { (c, seg) =>
          seg match {
            case "first()" => element_at(c, 1)
            case RefKey(rtype) =>
              // c is a Reference element: take the id part of a RELATIVE
              // literal reference ("Type/id"). With an argument, null
              // unless the prefix names that type; without, any one-level
              // relative reference. Absolute URLs/urn:uuid forms stay null
              // (conservative — resolving those needs context we don't
              // have, and the spec allows null for unresolvable keys).
              val r = c.getField("reference")
              if (rtype.nonEmpty)
                when(r.startsWith(s"$rtype/"), regexp_replace(r, s"^$rtype/", ""))
              else
                when(r.rlike("^[A-Za-z]+/[^/]+$"), regexp_replace(r, "^[A-Za-z]+/", ""))
            case _ => c.getField(seg)
          }
        }
    }

  /** Dotted-path type resolution against the resource schema — drives the
    * array-aware exists() compilation. Traversing THROUGH a repeating
    * element in a where path is rejected loudly (FHIRPath would flatten;
    * getField would silently map element-wise and mis-evaluate).
    */
  private def pathType(schema: DataType, segs: List[String], full: String): DataType =
    segs match {
      case Nil => schema
      case seg :: rest =>
        schema match {
          case st: StructType => pathType(st(seg).dataType, rest, full)
          case _: ArrayType => throw new IllegalArgumentException(
            s"ViewDefinition where-path '$full' traverses a repeating element " +
              "before its final segment — unsupported (use forEach + a nested where)")
          case other => throw new IllegalArgumentException(
            s"ViewDefinition where-path '$full': cannot navigate '$seg' in $other")
        }
    }

  private val Cmp = """(.+?)\s*(!=|>=|<=|=|>|<)\s*(.+)""".r
  private val NumLit = """-?\d+(\.\d+)?""".r

  /** where-clause predicate subset (see header doc). */
  private def predicate(schema: StructType, path: String,
      constants: Map[String, Column]): Column = {
    def operand(tok: String): Column = tok.trim match {
      case StrLit(s) => lit(s)
      case ConstRef(name) =>
        constants.getOrElse(name, throw new IllegalArgumentException(
          s"ViewDefinition: undefined constant %$name"))
      case "true" => lit(true)
      case "false" => lit(false)
      case n if NumLit.pattern.matcher(n).matches() =>
        lit(new java.math.BigDecimal(n))
      case other => throw new IllegalArgumentException(
        s"ViewDefinition where operand '$other': only literals and %constants are supported")
    }
    // existence as a TRUE BOOLEAN (never null), so `.not()` composes:
    // FHIRPath exists() is false for the EMPTY collection — an empty array
    // is not null, so isNotNull would mis-evaluate telecom: [] — and a
    // MISSING repeating element (null array) must read
    // exists()=false / empty()=true, so size() is coalesced to 0 rather
    // than left null (null would filter correctly bare, but negate wrong).
    def existsCol(base: String, full: String): Column =
      pathType(schema, splitPath(base), full) match {
        case _: ArrayType =>
          coalesce(size(ref(None, base, constants)), lit(0)) > 0
        case _ => ref(None, base, constants).isNotNull
      }
    path match {
      case p if p.endsWith(".not()") =>
        // postfix negation over the boolean function forms only — a bare
        // comparison has no .not() spelling in this subset
        val inner = p.stripSuffix(".not()")
        if (inner.endsWith(".exists()"))
          !existsCol(inner.stripSuffix(".exists()"), p)
        else if (inner.endsWith(".empty()"))
          existsCol(inner.stripSuffix(".empty()"), p)
        else throw new IllegalArgumentException(
          s"ViewDefinition where-path '$p': not() is supported only after " +
            "exists() or empty()")
      case p if p.endsWith(".exists()") =>
        existsCol(p.stripSuffix(".exists()"), p)
      case p if p.endsWith(".empty()") =>
        // FHIRPath empty() ≡ the collection has no elements — true for a
        // missing scalar, a null array AND an empty array
        !existsCol(p.stripSuffix(".empty()"), p)
      case Cmp(lhs, op, rhs) =>
        // same traversal guard as exists(): a plain dotted LHS must not
        // cross a repeating element (getField would map element-wise and
        // the comparison would mis-typecheck or mis-evaluate)
        if (!lhs.replaceAll("""ofType\(\w+\)""", "").contains("(")) {
          pathType(schema, splitPath(lhs.trim), path) match {
            case _: ArrayType => throw new IllegalArgumentException(
              s"ViewDefinition where-path '$path' compares a repeating element — unsupported")
            case _ => ()
          }
        }
        val l = ref(None, lhs.trim, constants)
        val r = operand(rhs)
        op match {
          case "=" => l === r
          case "!=" => l =!= r
          case ">" => l > r
          case ">=" => l >= r
          case "<" => l < r
          case "<=" => l <= r
        }
      case p => ref(None, p, constants) === lit(true)
    }
  }

  /** Evaluate a parsed ViewDefinition against the resource DataFrame. */
  def evaluate(df: DataFrame, vd: Vd): DataFrame = {
    val filtered = vd.where.foldLeft(df)((d, w) =>
      d.where(predicate(df.schema, w, vd.constants)))
    val ids = Iterator.from(0)
    // Walk the select tree, threading the DataFrame (each forEach adds one
    // generate, each unionAll one union) and accumulating output columns.
    // Sibling selects multiply rows (Cartesian within a resource), matching
    // the spec's semantics. Each select's columns are MATERIALIZED
    // (withColumn under a collision-proof temp alias) adjacent to its own
    // generate rather than deferred to one final projection: deferring
    // nested-field paths across two stacked generates trips Catalyst's
    // nested-column aliasing during analysis (_extract_* attributes
    // resolved against the wrong side); materializing keeps every nested
    // extraction local to the level that introduced its source.
    def walk(d0: DataFrame, prefix: Option[String],
        s: VdSelect): (DataFrame, Seq[(String, String)]) = {
      val (d1, pfx) = s.forEach.map((_, false)).orElse(s.forEachOrNull.map((_, true))) match {
        case Some((fe, orNull)) =>
          val alias = s"__vd_fe${ids.next()}"
          val gen = if (orNull) explode_outer(ref(prefix, fe, vd.constants))
                    else explode(ref(prefix, fe, vd.constants))
          (d0.withColumn(alias, gen), Some(alias))
        case None => (d0, prefix)
      }
      var cur = d1
      val own = s.column.map { c =>
        val tmp = s"__vd_c${ids.next()}"
        cur = cur.withColumn(tmp, ref(pfx, c.path, vd.constants))
        tmp -> c.name
      }
      val (d2, cs2) = s.select.foldLeft((cur, own)) { case ((d, cs), sub) =>
        val (dn, csn) = walk(d, pfx, sub)
        (dn, cs ++ csn)
      }
      if (s.unionAll.isEmpty) (d2, cs2)
      else {
        // Each branch evaluates against the CURRENT row context (d2/pfx);
        // rows concatenate. Branches may differ in shape (one adds plain
        // columns, another explodes a repeating element), so each branch's
        // result is normalized back to d2's columns plus the branch output
        // under SHARED temp names before the union — the union's plan is
        // then a plain UNION ALL of per-branch projections, which Catalyst
        // pushes the parquet scan pruning through.
        val walked = s.unionAll.map(b => walk(d2, pfx, b))
        val nameLists = walked.map(_._2.map(_._2))
        require(nameLists.distinct.size == 1,
          s"ViewDefinition unionAll branches must produce identical column " +
            s"name lists; got ${nameLists.map(_.mkString("(", ",", ")")).mkString(" vs ")}")
        val shared = nameLists.head.map(n => s"__vd_u${ids.next()}" -> n)
        val baseCols = d2.columns.toSeq
        val branches = walked.map { case (db, cs) =>
          db.select((baseCols.map(col) ++
            cs.zip(shared).map { case ((tmp, _), (u, _)) => col(tmp).as(u) }): _*)
        }
        (branches.reduce(_.unionAll(_)), cs2 ++ shared)
      }
    }
    val (exploded, cols) = vd.select.foldLeft((filtered, Seq.empty[(String, String)])) {
      case ((d, cs), s) =>
        val (d2, cs2) = walk(d, None, s)
        (d2, cs ++ cs2)
    }
    require(cols.nonEmpty, "ViewDefinition produced no columns")
    exploded.select(cols.map { case (tmp, name) => col(tmp).as(name) }: _*)
  }

  def evaluate(df: DataFrame, json: String): DataFrame = evaluate(df, parse(json))
}
