package graft.fhir

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** SURVEY §2 A1 (second half) — DEFINITION-driven schema derivation: the
  * spec's opening sentence derives the schema "from a resource definition"
  * (reference README.md:8-9), i.e. a FHIR StructureDefinition, not from data.
  * Types come from the §1.2 element-type table (README.md:61-82) even for
  * fields absent in any sample; repeating elements (max ≠ 0..1) become LISTs
  * (README.md:110-111); choice elements (`value[x]`) resolve per requested
  * concrete name; complex datatypes expand through a registry of core R4
  * type definitions. Expansion is driven by the REQUESTED field paths — the
  * spec's field-optionality clause (README.md:16-18) means a deployment
  * derives exactly the fields its data set uses, which also makes the
  * recursive Extension type terminate naturally.
  *
  * Everything here is driver-side metadata work on a few-KB JSON document;
  * nothing touches executors.
  */
object FhirDefinitions {

  /** One snapshot element: relative dotted path (choice paths keep `[x]`),
    * type codes, repeated flag.
    */
  final case class ElementDef(path: String, types: Seq[String], repeated: Boolean)

  final case class Definition(resourceType: String, elements: Map[String, ElementDef])

  private val mapper = new ObjectMapper()

  /** Parse a StructureDefinition JSON (snapshot preferred, differential
    * fallback) into a relative-path element table.
    */
  def parseStructureDefinition(json: String): Definition = {
    val root = mapper.readTree(json)
    val rt = root.path("type").asText()
    require(rt.nonEmpty, "StructureDefinition has no type")
    val elems = Option(root.path("snapshot").path("element"))
      .filter(_.isArray).filter(_.size > 0)
      .getOrElse(root.path("differential").path("element"))
    val defs = elems.elements().asScala.flatMap { e =>
      val full = e.path("path").asText()
      if (full == rt || !full.startsWith(s"$rt.")) None
      else {
        val rel = full.stripPrefix(s"$rt.")
        val max = Option(e.path("max").asText(null)).getOrElse("1")
        val types = e.path("type").elements().asScala
          .map(t => normalizeTypeCode(t.path("code").asText())).toSeq.distinct
        Some(rel -> ElementDef(rel, types, max == "*" || (max != "" && max != "0" && max != "1")))
      }
    }.toMap
    Definition(rt, defs)
  }

  /** Real R4 snapshots carry FHIRPath system codes for primitive shadows
    * (`http://hl7.org/fhirpath/System.String`); normalize them to FHIR
    * primitive names so authored and published definitions both parse.
    */
  private def normalizeTypeCode(code: String): String =
    if (code.startsWith("http://hl7.org/fhirpath/System.")) {
      val n = code.stripPrefix("http://hl7.org/fhirpath/System.")
      n.substring(0, 1).toLowerCase + n.substring(1)
    } else code

  /** README.md:61-82 primitive table (+ xhtml from Narrative.div; documented
    * deviations per SURVEY §7.5: signed int32 for positiveInt/unsignedInt).
    * FHIR decimal keeps original text (StringType) with the decimal marker
    * metadata so the codec re-emits raw JSON numbers.
    */
  private def primitiveType(code: String): Option[DataType] = code match {
    case "boolean" => Some(BooleanType)
    case "integer" | "positiveInt" | "unsignedInt" => Some(IntegerType)
    case "integer64" => Some(LongType)
    case "base64Binary" => Some(BinaryType)
    case "decimal" | "canonical" | "code" | "date" | "dateTime" | "id" | "instant" |
        "markdown" | "oid" | "string" | "time" | "uri" | "url" | "uuid" | "xhtml" =>
      Some(StringType)
    case _ => None
  }

  private def isDecimal(code: String) = code == "decimal"

  /** The R4 open type list (any-type choice elements: Extension.value[x],
    * ElementDefinition.defaultValue[x]/fixed[x]/pattern[x]/example.value[x]).
    */
  private val openTypeChoice =
    "CHOICE:base64Binary,boolean,canonical,code,date,dateTime,decimal,id,instant,integer,markdown,oid,positiveInt,string,time,unsignedInt,uri,url,uuid,Address,Age,Annotation,Attachment,CodeableConcept,Coding,ContactPoint,Count,Distance,Duration,HumanName,Identifier,Money,Period,Quantity,Range,Ratio,Reference,SampledData,Signature,Timing,ContactDetail,Contributor,DataRequirement,Expression,ParameterDefinition,RelatedArtifact,TriggerDefinition,UsageContext,Dosage,Meta"

  /** Core R4 complex-datatype element tables (field → (type, repeated)),
    * transcribed from the published FHIR R4 datatypes page. Every complex
    * type additionally inherits Element: `id` (string) and `extension`
    * (Extension, repeated) — resolved as a fallback below.
    */
  private val complexTypes: Map[String, Map[String, (String, Boolean)]] = Map(
    "Meta" -> Map(
      "versionId" -> ("id", false), "lastUpdated" -> ("instant", false),
      "source" -> ("uri", false), "profile" -> ("canonical", true),
      "security" -> ("Coding", true), "tag" -> ("Coding", true)),
    "Narrative" -> Map(
      "status" -> ("code", false), "div" -> ("xhtml", false)),
    "Extension" -> Map(
      "url" -> ("uri", false), "extension" -> ("Extension", true),
      // full R4 value[x] arm list (datatypes the registry can now expand)
      "value[x]" -> (openTypeChoice, false)),
    "Identifier" -> Map(
      "use" -> ("code", false), "type" -> ("CodeableConcept", false),
      "system" -> ("uri", false), "value" -> ("string", false),
      "period" -> ("Period", false), "assigner" -> ("Reference", false)),
    "HumanName" -> Map(
      "use" -> ("code", false), "text" -> ("string", false),
      "family" -> ("string", false), "given" -> ("string", true),
      "prefix" -> ("string", true), "suffix" -> ("string", true),
      "period" -> ("Period", false)),
    "ContactPoint" -> Map(
      "system" -> ("code", false), "value" -> ("string", false),
      "use" -> ("code", false), "rank" -> ("positiveInt", false),
      "period" -> ("Period", false)),
    "Address" -> Map(
      "use" -> ("code", false), "type" -> ("code", false),
      "text" -> ("string", false), "line" -> ("string", true),
      "city" -> ("string", false), "district" -> ("string", false),
      "state" -> ("string", false), "postalCode" -> ("string", false),
      "country" -> ("string", false), "period" -> ("Period", false)),
    "CodeableConcept" -> Map(
      "coding" -> ("Coding", true), "text" -> ("string", false)),
    "Coding" -> Map(
      "system" -> ("uri", false), "version" -> ("string", false),
      "code" -> ("code", false), "display" -> ("string", false),
      "userSelected" -> ("boolean", false)),
    "Period" -> Map(
      "start" -> ("dateTime", false), "end" -> ("dateTime", false)),
    "Quantity" -> Map(
      "value" -> ("decimal", false), "comparator" -> ("code", false),
      "unit" -> ("string", false), "system" -> ("uri", false),
      "code" -> ("code", false)),
    "Money" -> Map(
      "value" -> ("decimal", false), "currency" -> ("code", false)),
    "Reference" -> Map(
      "reference" -> ("string", false), "type" -> ("uri", false),
      "identifier" -> ("Identifier", false), "display" -> ("string", false)),
    "Range" -> Map(
      "low" -> ("Quantity", false), "high" -> ("Quantity", false)),
    "Ratio" -> Map(
      "numerator" -> ("Quantity", false), "denominator" -> ("Quantity", false)),
    "Annotation" -> Map(
      "author[x]" -> ("CHOICE:Reference,string", false),
      "time" -> ("dateTime", false), "text" -> ("markdown", false)),
    "SampledData" -> Map(
      "origin" -> ("Quantity", false), "period" -> ("decimal", false),
      "factor" -> ("decimal", false), "lowerLimit" -> ("decimal", false),
      "upperLimit" -> ("decimal", false), "dimensions" -> ("positiveInt", false),
      "data" -> ("string", false)),
    "Attachment" -> Map(
      "contentType" -> ("code", false), "language" -> ("code", false),
      "data" -> ("base64Binary", false), "url" -> ("url", false),
      "size" -> ("unsignedInt", false), "hash" -> ("base64Binary", false),
      "title" -> ("string", false), "creation" -> ("dateTime", false)),
    "Timing" -> Map(
      "event" -> ("dateTime", true), "repeat" -> ("Timing.repeat", false),
      "code" -> ("CodeableConcept", false)),
    // Backbone children INSIDE datatypes are registered as dotted
    // pseudo-types ("Timing.repeat") — the resolver treats any
    // non-primitive code as a registry key, so nesting terminates the same
    // way top-level complex types do.
    "Timing.repeat" -> Map(
      "bounds[x]" -> ("CHOICE:Duration,Range,Period", false),
      "count" -> ("positiveInt", false), "countMax" -> ("positiveInt", false),
      "duration" -> ("decimal", false), "durationMax" -> ("decimal", false),
      "durationUnit" -> ("code", false), "frequency" -> ("positiveInt", false),
      "frequencyMax" -> ("positiveInt", false), "period" -> ("decimal", false),
      "periodMax" -> ("decimal", false), "periodUnit" -> ("code", false),
      "dayOfWeek" -> ("code", true), "timeOfDay" -> ("time", true),
      "when" -> ("code", true), "offset" -> ("unsignedInt", false)),
    "Signature" -> Map(
      "type" -> ("Coding", true), "when" -> ("instant", false),
      "who" -> ("Reference", false), "onBehalfOf" -> ("Reference", false),
      "targetFormat" -> ("code", false), "sigFormat" -> ("code", false),
      "data" -> ("base64Binary", false)),
    // R4 metadata types (metadatatypes.html)
    "ContactDetail" -> Map(
      "name" -> ("string", false), "telecom" -> ("ContactPoint", true)),
    "Contributor" -> Map(
      "type" -> ("code", false), "name" -> ("string", false),
      "contact" -> ("ContactDetail", true)),
    "DataRequirement" -> Map(
      "type" -> ("code", false), "profile" -> ("canonical", true),
      "subject[x]" -> ("CHOICE:CodeableConcept,Reference", false),
      "mustSupport" -> ("string", true),
      "codeFilter" -> ("DataRequirement.codeFilter", true),
      "dateFilter" -> ("DataRequirement.dateFilter", true),
      "limit" -> ("positiveInt", false),
      "sort" -> ("DataRequirement.sort", true)),
    "DataRequirement.codeFilter" -> Map(
      "path" -> ("string", false), "searchParam" -> ("string", false),
      "valueSet" -> ("canonical", false), "code" -> ("Coding", true)),
    "DataRequirement.dateFilter" -> Map(
      "path" -> ("string", false), "searchParam" -> ("string", false),
      "value[x]" -> ("CHOICE:dateTime,Period,Duration", false)),
    "DataRequirement.sort" -> Map(
      "path" -> ("string", false), "direction" -> ("code", false)),
    "Expression" -> Map(
      "description" -> ("string", false), "name" -> ("id", false),
      "language" -> ("code", false), "expression" -> ("string", false),
      "reference" -> ("uri", false)),
    "ParameterDefinition" -> Map(
      "name" -> ("code", false), "use" -> ("code", false),
      "min" -> ("integer", false), "max" -> ("string", false),
      "documentation" -> ("string", false), "type" -> ("code", false),
      "profile" -> ("canonical", false)),
    "RelatedArtifact" -> Map(
      "type" -> ("code", false), "label" -> ("string", false),
      "display" -> ("string", false), "citation" -> ("markdown", false),
      "url" -> ("url", false), "document" -> ("Attachment", false),
      "resource" -> ("canonical", false)),
    "TriggerDefinition" -> Map(
      "type" -> ("code", false), "name" -> ("string", false),
      "timing[x]" -> ("CHOICE:Timing,Reference,date,dateTime", false),
      "data" -> ("DataRequirement", true), "condition" -> ("Expression", false)),
    "UsageContext" -> Map(
      "code" -> ("Coding", false),
      "value[x]" -> ("CHOICE:CodeableConcept,Quantity,Range,Reference", false)),
    "Dosage" -> Map(
      "sequence" -> ("integer", false), "text" -> ("string", false),
      "additionalInstruction" -> ("CodeableConcept", true),
      "patientInstruction" -> ("string", false), "timing" -> ("Timing", false),
      "asNeeded[x]" -> ("CHOICE:boolean,CodeableConcept", false),
      "site" -> ("CodeableConcept", false), "route" -> ("CodeableConcept", false),
      "method" -> ("CodeableConcept", false),
      "doseAndRate" -> ("Dosage.doseAndRate", true),
      "maxDosePerPeriod" -> ("Ratio", false),
      "maxDosePerAdministration" -> ("Quantity", false),
      "maxDosePerLifetime" -> ("Quantity", false)),
    "Dosage.doseAndRate" -> Map(
      "type" -> ("CodeableConcept", false),
      "dose[x]" -> ("CHOICE:Range,Quantity", false),
      "rate[x]" -> ("CHOICE:Ratio,Range,Quantity", false)),
    // special-purpose medicinal-product types
    "MarketingStatus" -> Map(
      "country" -> ("CodeableConcept", false), "jurisdiction" -> ("CodeableConcept", false),
      "status" -> ("CodeableConcept", false), "dateRange" -> ("Period", false),
      "restoreDate" -> ("dateTime", false)),
    "Population" -> Map(
      "age[x]" -> ("CHOICE:Range,CodeableConcept", false),
      "gender" -> ("CodeableConcept", false), "race" -> ("CodeableConcept", false),
      "physiologicalCondition" -> ("CodeableConcept", false)),
    "ProductShelfLife" -> Map(
      "type" -> ("CodeableConcept", false), "period" -> ("Quantity", false),
      "specialPrecautionsForStorage" -> ("CodeableConcept", true)),
    "ProdCharacteristic" -> Map(
      "height" -> ("Quantity", false), "width" -> ("Quantity", false),
      "depth" -> ("Quantity", false), "weight" -> ("Quantity", false),
      "nominalVolume" -> ("Quantity", false), "externalDiameter" -> ("Quantity", false),
      "shape" -> ("string", false), "color" -> ("string", true),
      "imprint" -> ("string", true), "image" -> ("Attachment", true),
      "scoring" -> ("CodeableConcept", false)),
    "SubstanceAmount" -> Map(
      "amount[x]" -> ("CHOICE:Quantity,Range,string", false),
      "amountType" -> ("CodeableConcept", false),
      "amountText" -> ("string", false),
      "referenceRange" -> ("SubstanceAmount.referenceRange", false)),
    "SubstanceAmount.referenceRange" -> Map(
      "lowLimit" -> ("Quantity", false), "highLimit" -> ("Quantity", false)),
    // ElementDefinition (elementdefinition.html) — the datatype that makes
    // StructureDefinition resources themselves derivable: a FHIR tooling
    // pipeline stores definitions AS DATA, and its tables need schemas too.
    "ElementDefinition" -> Map(
      "path" -> ("string", false), "representation" -> ("code", true),
      "sliceName" -> ("string", false), "sliceIsConstraining" -> ("boolean", false),
      "label" -> ("string", false), "code" -> ("Coding", true),
      "slicing" -> ("ElementDefinition.slicing", false),
      "short" -> ("string", false), "definition" -> ("markdown", false),
      "comment" -> ("markdown", false), "requirements" -> ("markdown", false),
      "alias" -> ("string", true), "min" -> ("unsignedInt", false),
      "max" -> ("string", false), "base" -> ("ElementDefinition.base", false),
      "contentReference" -> ("uri", false),
      "type" -> ("ElementDefinition.type", true),
      "defaultValue[x]" -> (openTypeChoice, false),
      "meaningWhenMissing" -> ("markdown", false),
      "orderMeaning" -> ("string", false),
      "fixed[x]" -> (openTypeChoice, false),
      "pattern[x]" -> (openTypeChoice, false),
      "example" -> ("ElementDefinition.example", true),
      "minValue[x]" -> ("CHOICE:date,dateTime,instant,time,decimal,integer,positiveInt,unsignedInt,Quantity", false),
      "maxValue[x]" -> ("CHOICE:date,dateTime,instant,time,decimal,integer,positiveInt,unsignedInt,Quantity", false),
      "maxLength" -> ("integer", false), "condition" -> ("id", true),
      "constraint" -> ("ElementDefinition.constraint", true),
      "mustSupport" -> ("boolean", false), "isModifier" -> ("boolean", false),
      "isModifierReason" -> ("string", false), "isSummary" -> ("boolean", false),
      "binding" -> ("ElementDefinition.binding", false),
      "mapping" -> ("ElementDefinition.mapping", true)),
    "ElementDefinition.slicing" -> Map(
      "discriminator" -> ("ElementDefinition.slicing.discriminator", true),
      "description" -> ("string", false), "ordered" -> ("boolean", false),
      "rules" -> ("code", false)),
    "ElementDefinition.slicing.discriminator" -> Map(
      "type" -> ("code", false), "path" -> ("string", false)),
    "ElementDefinition.base" -> Map(
      "path" -> ("string", false), "min" -> ("unsignedInt", false),
      "max" -> ("string", false)),
    "ElementDefinition.type" -> Map(
      "code" -> ("uri", false), "profile" -> ("canonical", true),
      "targetProfile" -> ("canonical", true), "aggregation" -> ("code", true),
      "versioning" -> ("code", false)),
    "ElementDefinition.example" -> Map(
      "label" -> ("string", false), "value[x]" -> (openTypeChoice, false)),
    "ElementDefinition.constraint" -> Map(
      "key" -> ("id", false), "requirements" -> ("markdown", false),
      "severity" -> ("code", false), "human" -> ("string", false),
      "expression" -> ("string", false), "xpath" -> ("string", false),
      "source" -> ("canonical", false)),
    "ElementDefinition.binding" -> Map(
      "strength" -> ("code", false), "description" -> ("string", false),
      "valueSet" -> ("canonical", false)),
    "ElementDefinition.mapping" -> Map(
      "identity" -> ("id", false), "language" -> ("code", false),
      "map" -> ("string", false), "comment" -> ("string", false)))

  /** Quantity specializations share Quantity's element table verbatim
    * (R4 datatypes.html: Age, Count, Distance, Duration, SimpleQuantity,
    * MoneyQuantity are profiles, not distinct structures).
    */
  private val quantityProfiles =
    Set("Age", "Count", "Distance", "Duration", "SimpleQuantity", "MoneyQuantity")

  private def typeTable(t: String): Option[Map[String, (String, Boolean)]] =
    complexTypes.get(if (quantityProfiles(t)) "Quantity" else t)

  /** Derive the spec StructType for `fields` (dotted, concrete choice names)
    * from a StructureDefinition JSON. `resourceType` (required STRING) is
    * always present; all other fields optional; alphabetical order.
    */
  def deriveFromDefinition(sdJson: String, fields: Seq[String]): StructType = {
    val d = parseStructureDefinition(sdJson)
    val tree = buildTree(fields.map(_.split('.').toList).filter(_.nonEmpty), ResourceCtx(d))
    val withRt = StructField("resourceType", StringType, nullable = false) +:
      tree.filterNot(_.name == "resourceType")
    StructType(withRt.sortBy(_.name))
  }

  /** Load one of the bundled definitions (classpath: /fhir/). */
  def bundled(resource: String): String = {
    val in = getClass.getResourceAsStream(s"/fhir/StructureDefinition-$resource.json")
    require(in != null, s"no bundled StructureDefinition for $resource")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  // ------------------------------------------------------------ resolution

  /** Lookup context: a resource SD's element table walks dotted Backbone
    * paths; a complex datatype uses the registry table.
    */
  private sealed trait Ctx
  private final case class ResourceCtx(d: Definition, prefix: String = "") extends Ctx
  private final case class TypeCtx(name: String) extends Ctx

  /** (resolved type code, repeated) for field `name` in `ctx`, handling
    * choice elements: `valueQuantity` matches element `value[x]` when one of
    * its type codes capitalizes to the `Quantity` suffix.
    */
  private def resolveField(ctx: Ctx, name: String): (String, Boolean, Ctx) = {
    def choiceMatch(base: String, codes: Seq[String]): Option[String] =
      if (!name.startsWith(base) || name.length == base.length) None
      else {
        val suffix = name.drop(base.length)
        codes.find(c => c.substring(0, 1).toUpperCase + c.substring(1) == suffix)
      }
    ctx match {
      case ResourceCtx(d, prefix) =>
        val rel = if (prefix.isEmpty) name else s"$prefix.$name"
        d.elements.get(rel) match {
          case Some(e) =>
            val code = e.types.headOption.getOrElse("BackboneElement")
            (code, e.repeated, if (code == "BackboneElement") ResourceCtx(d, rel) else TypeCtx(code))
          case None =>
            // choice elements: a direct-child `<base>[x]` whose type list
            // covers the requested concrete suffix
            val pfx = if (prefix.isEmpty) "" else s"$prefix."
            val hit = d.elements.values.iterator
              .filter(e => e.path.startsWith(pfx) && e.path.endsWith("[x]"))
              .map(e => (e.path.drop(pfx.length).dropRight(3), e))
              .filter { case (local, _) => !local.contains('.') }
              .flatMap { case (base, e) =>
                choiceMatch(base, e.types).map(code => (code, e.repeated))
              }
              .nextOption()
            hit match {
              case Some((code, rep)) => (code, rep, TypeCtx(code))
              case None => elementFallback(name)
            }
        }
      case TypeCtx(t) =>
        typeTable(t).flatMap { table =>
          table.get(name).map { case (code, rep) => (code, rep, TypeCtx(code)) }
            .orElse(table.collectFirst {
              case (p, (spec, rep)) if p.endsWith("[x]") && spec.startsWith("CHOICE:") &&
                  choiceMatch(p.stripSuffix("[x]"), spec.stripPrefix("CHOICE:").split(',').toSeq).isDefined =>
                (choiceMatch(p.stripSuffix("[x]"), spec.stripPrefix("CHOICE:").split(',').toSeq).get, rep, null)
            }.map { case (code, rep, _) => (code, rep, TypeCtx(code)) })
        }.getOrElse(elementFallback(name))
    }
  }

  /** Element base-class fields every FHIR type inherits. */
  private def elementFallback(name: String): (String, Boolean, Ctx) = name match {
    case "extension" | "modifierExtension" => ("Extension", true, TypeCtx("Extension"))
    case "id" => ("string", false, TypeCtx("string"))
    case other => throw new IllegalArgumentException(s"unknown element $other")
  }

  /** Recursive grouped build: requested paths → alphabetical StructFields. */
  private def buildTree(paths: Seq[List[String]], ctx: Ctx): Seq[StructField] =
    paths.filter(_.nonEmpty).groupBy(_.head).toSeq.sortBy(_._1).map { case (name, group) =>
      val (code, repeated, childCtx) = resolveField(ctx, name)
      val rest = group.map(_.tail).filter(_.nonEmpty)
      val base: DataType = primitiveType(code) match {
        case Some(p) =>
          require(rest.isEmpty, s"primitive $name has child paths ${rest.map(_.mkString("."))}")
          p
        case None =>
          require(rest.nonEmpty, s"complex element $name requested without any child field")
          StructType(buildTree(rest, childCtx))
      }
      val dt = if (repeated) ArrayType(base, containsNull = true) else base
      val meta =
        if (isDecimal(code)) FhirSchema.DecimalMeta
        else Metadata.empty
      StructField(name, dt, nullable = true, metadata = meta)
    }
}
