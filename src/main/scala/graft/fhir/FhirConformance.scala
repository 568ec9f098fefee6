package graft.fhir

import org.apache.spark.sql.types.StructType

/** FHIR R4 primitive value-format rules (reference README.md:84-86 defers to
  * hl7.org/fhir/datatypes.html — these are that page's published regex
  * patterns, kept to the RE2-compatible subset so the identical text runs in
  * Spark `rlike` and DuckDB `regexp_matches`), plus the resource-types
  * ValueSet membership rule (README.md:29-32) and the annotation-collision
  * rule (README.md:311-312).
  */
object FhirConformance {

  /** The FHIR R4 resource-types CodeSystem (hl7.org/fhir/R4/valueset-
    * resource-types.html) — the ValueSet README.md:29-32 requires
    * `resourceType` values to be drawn from. Abstract types (Resource,
    * DomainResource) included: the ValueSet enumerates the full code system.
    */
  val resourceTypes: Set[String] = Set(
    "Account", "ActivityDefinition", "AdverseEvent", "AllergyIntolerance",
    "Appointment", "AppointmentResponse", "AuditEvent", "Basic", "Binary",
    "BiologicallyDerivedProduct", "BodyStructure", "Bundle",
    "CapabilityStatement", "CarePlan", "CareTeam", "CatalogEntry",
    "ChargeItem", "ChargeItemDefinition", "Claim", "ClaimResponse",
    "ClinicalImpression", "CodeSystem", "Communication",
    "CommunicationRequest", "CompartmentDefinition", "Composition",
    "ConceptMap", "Condition", "Consent", "Contract", "Coverage",
    "CoverageEligibilityRequest", "CoverageEligibilityResponse",
    "DetectedIssue", "Device", "DeviceDefinition", "DeviceMetric",
    "DeviceRequest", "DeviceUseStatement", "DiagnosticReport",
    "DocumentManifest", "DocumentReference", "DomainResource",
    "EffectEvidenceSynthesis", "Encounter", "Endpoint", "EnrollmentRequest",
    "EnrollmentResponse", "EpisodeOfCare", "EventDefinition", "Evidence",
    "EvidenceVariable", "ExampleScenario", "ExplanationOfBenefit",
    "FamilyMemberHistory", "Flag", "Goal", "GraphDefinition", "Group",
    "GuidanceResponse", "HealthcareService", "ImagingStudy", "Immunization",
    "ImmunizationEvaluation", "ImmunizationRecommendation",
    "ImplementationGuide", "InsurancePlan", "Invoice", "Library", "Linkage",
    "List", "Location", "Measure", "MeasureReport", "Media", "Medication",
    "MedicationAdministration", "MedicationDispense", "MedicationKnowledge",
    "MedicationRequest", "MedicationStatement", "MedicinalProduct",
    "MedicinalProductAuthorization", "MedicinalProductContraindication",
    "MedicinalProductIndication", "MedicinalProductIngredient",
    "MedicinalProductInteraction", "MedicinalProductManufactured",
    "MedicinalProductPackaged", "MedicinalProductPharmaceutical",
    "MedicinalProductUndesirableEffect", "MessageDefinition",
    "MessageHeader", "MolecularSequence", "NamingSystem", "NutritionOrder",
    "Observation", "ObservationDefinition", "OperationDefinition",
    "OperationOutcome", "Organization", "OrganizationAffiliation",
    "Parameters", "Patient", "PaymentNotice", "PaymentReconciliation",
    "Person", "PlanDefinition", "Practitioner", "PractitionerRole",
    "Procedure", "Provenance", "Questionnaire", "QuestionnaireResponse",
    "RelatedPerson", "RequestGroup", "ResearchDefinition",
    "ResearchElementDefinition", "ResearchStudy", "ResearchSubject",
    "Resource", "RiskAssessment", "RiskEvidenceSynthesis", "Schedule",
    "SearchParameter", "ServiceRequest", "Slot", "Specimen",
    "SpecimenDefinition", "StructureDefinition", "StructureMap",
    "Subscription", "Substance", "SubstanceNucleicAcid", "SubstancePolymer",
    "SubstanceProtein", "SubstanceReferenceInformation",
    "SubstanceSourceMaterial", "SubstanceSpecification", "SupplyDelivery",
    "SupplyRequest", "Task", "TerminologyCapabilities", "TestReport",
    "TestScript", "ValueSet", "VerificationResult", "VisionPrescription")

  /** The dotted paths of annotation fields that collide with the spec's
    * annotation namespace (README.md:311-312): a standard kind whose type
    * does not fit it (a `__field_start` that is not a timestamp), or any
    * annotation whose base element is absent from the same group, since an
    * annotation is "a derived form of an element value" (README.md:302-303).
    * Names and type rules are the `FhirAnnotations` vocabulary's.
    */
  def annotationCollisions(schema: StructType): Seq[String] =
    FhirSchema.walk(schema).flatMap { case (path, f, owner) =>
      FhirAnnotations.parseAnnotation(f.name).flatMap { a =>
        a.kind.filterNot(_.fits(f.dataType))
          .map(_ => s"$path: standard annotation '${a.suffix}' with non-conforming type ${f.dataType.simpleString}")
          .orElse(Option.when(!owner.fieldNames.contains(a.base))(
            s"$path: annotation '${a.suffix}' has no base element '${a.base}'"))
      }
    }

  /** (golden table, field path, FHIR primitive type) — every string-typed
    * primitive with a format rule present in the three golden tables.
    */
  val checks: Seq[(String, String, String)] = Seq(
    ("Patient", "birthDate", "date"),
    ("Patient", "deceasedDateTime", "dateTime"),
    ("Patient", "id", "id"),
    ("Patient", "gender", "code"),
    ("Observation", "effectiveDateTime", "dateTime"),
    ("Observation", "issued", "instant"),
    ("Observation", "valueQuantity.value", "decimal"),
    ("Observation", "valueQuantity.system", "uri"),
    ("Observation", "id", "id"),
    ("Observation", "status", "code"),
    ("ExplanationOfBenefit", "created", "dateTime"),
    ("ExplanationOfBenefit", "billablePeriod.start", "dateTime"),
    ("ExplanationOfBenefit", "id", "id"),
    ("ExplanationOfBenefit", "status", "code"))

  private val year = "([0-9]([0-9]([0-9][1-9]|[1-9]0)|[1-9]00)|[1-9]000)"
  private val tz = "(Z|(\\+|-)((0[0-9]|1[0-3]):[0-5][0-9]|14:00))"
  private val hms = "([01][0-9]|2[0-3]):[0-5][0-9]:([0-5][0-9]|60)(\\.[0-9]+)?"

  def regex(fhirType: String): String = fhirType match {
    case "date" =>
      s"$year(-(0[1-9]|1[0-2])(-(0[1-9]|[1-2][0-9]|3[0-1]))?)?"
    case "dateTime" =>
      s"$year(-(0[1-9]|1[0-2])(-(0[1-9]|[1-2][0-9]|3[0-1])(T$hms$tz)?)?)?"
    case "instant" =>
      s"$year-(0[1-9]|1[0-2])-(0[1-9]|[1-2][0-9]|3[0-1])T$hms$tz"
    case "time" =>
      hms
    case "decimal" =>
      "-?(0|[1-9][0-9]*)(\\.[0-9]+)?([eE][+-]?[0-9]+)?"
    case "id" =>
      "[A-Za-z0-9\\-\\.]{1,64}"
    case "oid" =>
      "urn:oid:[0-2](\\.(0|[1-9][0-9]*))+"
    case "uuid" =>
      "urn:uuid:[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    // R4's published base64Binary pattern omits '/', an acknowledged erratum
    // (R5 includes it); kept here so real base64 payloads validate.
    case "base64Binary" =>
      "(\\s*[0-9a-zA-Z\\+/=]{4}\\s*)+"
    case "code" =>
      "[^\\s]+(\\s[^\\s]+)*"
    case "uri" | "url" | "canonical" =>
      "\\S*"
    case "integer" =>
      "[0]|[-+]?[1-9][0-9]*"
    case "positiveInt" =>
      "[1-9][0-9]*"
    case "unsignedInt" =>
      "0|[1-9][0-9]*"
    case other =>
      throw new IllegalArgumentException(s"no format rule for FHIR type $other")
  }
}
