"""Seeded generator of Synthea-shaped FHIR R4 NDJSON: Patient, Observation
and ExplanationOfBenefit, one resource per line, one file per type.

The shapes and quirks follow FIXTURES.md §1:
  - decimals are JSON numbers whose text keeps trailing zeros (36.50);
  - dateTimes carry TZ offsets, and ExplanationOfBenefit.created mixes full
    and partial precision (2015, 2015-06, 2015-06-01T08:30:00+10:00);
  - quantities are UCUM-coded;
  - Patient carries the live multipleBirth[x] choice (Boolean on most rows,
    Integer on twins and triplets);
  - Observation.subject and ExplanationOfBenefit.patient are Patient/<id>
    references.

Objects are written with keys in sorted order and without nulls or empty
arrays, which is the canonical form FhirCodec.decode emits, so a lossless
ingest gives back the input byte for byte. The same (seed, patients)
always gives byte-identical files.

    python3 perfbench/gen/fhir.py <out_dir> --seed 7 --patients 1000
"""
import argparse
import os
import random


class Dec(str):
    """A FHIR decimal: written as a bare JSON number with its exact text."""


def dumps(v):
    if isinstance(v, Dec):
        return str(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if isinstance(v, list):
        return "[" + ",".join(dumps(e) for e in v) + "]"
    return "{" + ",".join(f'"{k}":{dumps(v[k])}' for k in sorted(v)) + "}"


LOINC = "http://loinc.org"
UCUM = "http://unitsofmeasure.org"
CATEGORY = "http://terminology.hl7.org/CodeSystem/observation-category"
# (code, display, unit, low, high, decimals, category)
VITALS = [
    ("8310-5", "Body temperature", "Cel", 35.5, 39.5, 2, "vital-signs"),
    ("29463-7", "Body Weight", "kg", 3.0, 140.0, 1, "vital-signs"),
    ("8302-2", "Body Height", "cm", 45.0, 200.0, 1, "vital-signs"),
    ("8867-4", "Heart rate", "/min", 45.0, 140.0, 1, "vital-signs"),
    ("2339-0", "Glucose", "mg/dL", 60.0, 200.0, 2, "laboratory"),
    ("2093-3", "Total Cholesterol", "mg/dL", 120.0, 300.0, 2, "laboratory"),
    ("718-7", "Hemoglobin", "g/dL", 9.0, 18.0, 2, "laboratory"),
    ("39156-5", "Body mass index", "kg/m2", 15.0, 45.0, 2, "vital-signs"),
]
BP = ("85354-9", "Blood pressure panel")
SMOKING = ("72166-2", "Tobacco smoking status")
FAMILY = ["Smith", "Jones", "Nguyen", "Brown", "Wilson", "Taylor", "Lee", "Martin", "Walker", "Young"]
GIVEN = ["Anne", "James", "Mia", "Noah", "Olivia", "Liam", "Ava", "Jack", "Chloe", "Ethan", "Zoe", "Leo"]
CITIES = [("Sydney", "NSW", -33.87, 151.21), ("Melbourne", "VIC", -37.81, 144.96),
          ("Brisbane", "QLD", -27.47, 153.03), ("Perth", "WA", -31.95, 115.86),
          ("Hobart", "TAS", -42.88, 147.33)]
MARITAL = [("M", "Married"), ("S", "Never Married"), ("D", "Divorced"), ("W", "Widowed")]
OFFSETS = ["+10:00", "+11:00", "+09:30", "+08:00", "-05:00", "Z"]


class Gen:
    def __init__(self, seed):
        self.r = random.Random(seed)

    def uuid(self):
        h = "%032x" % self.r.getrandbits(128)
        return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"

    def dec(self, lo, hi, places):
        # keeps trailing zeros: 36.50, 70.10
        return Dec(f"{self.r.uniform(lo, hi):.{places}f}")

    def date(self, y0, y1):
        return f"{self.r.randint(y0, y1):04d}-{self.r.randint(1, 12):02d}-{self.r.randint(1, 28):02d}"

    def datetime(self, y0, y1):
        t = f"{self.r.randint(0, 23):02d}:{self.r.randint(0, 59):02d}:{self.r.randint(0, 59):02d}"
        return f"{self.date(y0, y1)}T{t}{self.r.choice(OFFSETS)}"

    def coding(self, system, code, display):
        return {"coding": [{"code": code, "display": display, "system": system}], "text": display}

    def quantity(self, value, unit):
        return {"code": unit, "system": UCUM, "unit": unit, "value": value}

    def patient(self):
        r = self.r
        pid = self.uuid()
        city, state, lat, lon = r.choice(CITIES)
        p = {
            "resourceType": "Patient",
            "id": pid,
            "meta": {"profile": ["http://hl7.org/fhir/us/core/StructureDefinition/us-core-patient"]},
            "text": {"div": '<div xmlns="http://www.w3.org/1999/xhtml">Generated</div>', "status": "generated"},
            "extension": [
                {"url": "http://hl7.org/fhir/us/core/StructureDefinition/us-core-race",
                 "extension": [
                     {"url": "ombCategory", "valueCoding": {
                         "code": "2106-3", "display": "White", "system": "urn:oid:2.16.840.1.113883.6.238"}},
                     {"url": "text", "valueString": "White"}]},
                {"url": "http://hl7.org/fhir/StructureDefinition/patient-birthPlace",
                 "valueAddress": {"city": city, "country": "AU", "state": state}},
                {"url": "http://synthetichealth.github.io/synthea/disability-adjusted-life-years",
                 "valueDecimal": self.dec(0.0, 9.0, 4)},
                {"url": "http://synthetichealth.github.io/synthea/quality-adjusted-life-years",
                 "valueDecimal": self.dec(20.0, 80.0, 2)},
            ],
            "identifier": [{"system": "https://github.com/synthetichealth/synthea", "value": pid},
                           {"system": "http://hl7.org/fhir/sid/us-ssn",
                            "type": self.coding("http://terminology.hl7.org/CodeSystem/v2-0203", "SS",
                                                "Social Security Number"),
                            "value": f"999-{r.randint(10, 99)}-{r.randint(1000, 9999)}"}],
            "name": [{"family": r.choice(FAMILY), "given": [r.choice(GIVEN)] + ([r.choice(GIVEN)] if r.random() < 0.4 else []),
                      "prefix": [r.choice(["Mr.", "Mrs.", "Ms."])], "use": "official"}],
            "telecom": [{"system": "phone", "use": "home", "value": f"555-{r.randint(100, 999)}-{r.randint(1000, 9999)}"}],
            "gender": r.choice(["female", "male"]),
            "birthDate": self.date(1930, 2015),
            "address": [{"city": city, "country": "AU", "line": [f"{r.randint(1, 999)} {r.choice(FAMILY)} Street"],
                         "postalCode": f"{r.randint(2000, 7999)}", "state": state,
                         "extension": [{"url": "http://hl7.org/fhir/StructureDefinition/geolocation",
                                        "extension": [{"url": "latitude", "valueDecimal": self.dec(lat - 0.5, lat + 0.5, 6)},
                                                      {"url": "longitude", "valueDecimal": self.dec(lon - 0.5, lon + 0.5, 6)}]}]}],
            "communication": [{"language": self.coding("urn:ietf:bcp:47", "en-AU", "English (Australia)")}],
        }
        if r.random() < 0.7:
            code, disp = r.choice(MARITAL)
            p["maritalStatus"] = self.coding("http://terminology.hl7.org/CodeSystem/v3-MaritalStatus", code, disp)
        if r.random() < 0.1:
            p["deceasedDateTime"] = self.datetime(2016, 2023)
        births = r.random()
        if births < 0.05:
            p["multipleBirthInteger"] = r.choice([2, 3])
        elif births < 0.9:
            p["multipleBirthBoolean"] = births < 0.06
        return p

    def observation(self, pid):
        r = self.r
        o = {
            "resourceType": "Observation",
            "id": self.uuid(),
            "meta": {"profile": ["http://hl7.org/fhir/us/core/StructureDefinition/us-core-observation-lab"]},
            "status": r.choice(["final", "final", "final", "amended"]),
            "subject": {"reference": f"Patient/{pid}"},
            "encounter": {"reference": f"Encounter/{self.uuid()}"},
            "effectiveDateTime": self.datetime(2010, 2023),
        }
        o["issued"] = o["effectiveDateTime"][:19] + f".{r.randint(0, 999):03d}" + o["effectiveDateTime"][19:]
        kind = r.random()
        if kind < 0.8:
            code, disp, unit, lo, hi, places, cat = r.choice(VITALS)
            o["code"] = self.coding(LOINC, code, disp)
            o["valueQuantity"] = self.quantity(self.dec(lo, hi, places), unit)
        elif kind < 0.9:
            code, disp = BP
            cat = "vital-signs"
            o["code"] = self.coding(LOINC, code, disp)
            o["component"] = [
                {"code": self.coding(LOINC, "8480-6", "Systolic Blood Pressure"),
                 "valueQuantity": self.quantity(self.dec(95, 180, 1), "mm[Hg]")},
                {"code": self.coding(LOINC, "8462-4", "Diastolic Blood Pressure"),
                 "valueQuantity": self.quantity(self.dec(55, 110, 1), "mm[Hg]")},
                {"code": self.coding(LOINC, "8478-0", "Posture"),
                 "valueCodeableConcept": {"text": r.choice(["sitting", "standing"])}}]
        elif kind < 0.96:
            code, disp = SMOKING
            cat = "survey"
            o["code"] = self.coding(LOINC, code, disp)
            o["valueCodeableConcept"] = self.coding("http://snomed.info/sct", "266919005", "Never smoker")
        else:
            cat = "survey"
            o["code"] = self.coding(LOINC, "11331-6", "History of Alcohol use")
            o["valueString"] = r.choice(["none", "occasional", "weekly"])
        o["category"] = [{"coding": [{"code": cat, "display": cat, "system": CATEGORY}]}]
        return o

    def eob(self, pid):
        r = self.r
        money = lambda lo, hi: {"currency": "USD", "value": self.dec(lo, hi, 2)}
        items = []
        for seq in range(1, r.randint(1, 4) + 1):
            net = self.dec(10, 900, 2)
            items.append({
                "sequence": seq,
                "productOrService": self.coding("http://snomed.info/sct", str(r.randint(100000, 999999)),
                                                r.choice(["General examination", "Vaccination", "Blood test", "Imaging"])),
                "servicedPeriod": {"end": self.datetime(2012, 2023), "start": self.datetime(2012, 2023)},
                "encounter": [{"reference": f"Encounter/{self.uuid()}"}],
                "informationSequence": [1],
                "diagnosisSequence": [seq],
                "net": {"currency": "USD", "value": net},
                "adjudication": [
                    {"amount": {"currency": "USD", "value": net},
                     "category": {"coding": [{"code": "submitted", "system": "http://terminology.hl7.org/CodeSystem/adjudication"}]}},
                    {"amount": money(0, 900),
                     "category": {"coding": [{"code": "benefit", "system": "http://terminology.hl7.org/CodeSystem/adjudication"}]}}],
            })
        precision = r.random()
        created = self.datetime(1998, 2023)
        if precision < 0.1:
            created = created[:4]
        elif precision < 0.2:
            created = created[:7]
        return {
            "resourceType": "ExplanationOfBenefit",
            "id": self.uuid(),
            "status": "active",
            "use": "claim",
            "outcome": "complete",
            "created": created,
            "type": {"coding": [{"code": r.choice(["institutional", "professional"]),
                                 "system": "http://terminology.hl7.org/CodeSystem/claim-type"}]},
            "patient": {"reference": f"Patient/{pid}"},
            "provider": {"display": "General Practice", "reference": f"Organization/{self.uuid()}"},
            "billablePeriod": {"end": self.datetime(2012, 2023), "start": self.datetime(2012, 2023)},
            "careTeam": [{"provider": {"reference": f"Practitioner/{self.uuid()}"}, "sequence": 1,
                          "role": {"coding": [{"code": "primary", "system": "http://terminology.hl7.org/CodeSystem/claimcareteamrole"}]}}],
            "insurance": [{"coverage": {"display": "Medicare"}, "focal": True}],
            "item": items,
            "payment": {"amount": money(0, 2000)},
            "total": [{"amount": money(0, 3000),
                       "category": {"coding": [{"code": "submitted", "system": "http://terminology.hl7.org/CodeSystem/adjudication"}]}}],
        }


def write(out_dir, seed, patients, obs_per_patient=8, eob_per_patient=2):
    """Writes <out_dir>/<Resource>.ndjson; returns {resource: count}."""
    os.makedirs(out_dir, exist_ok=True)
    g = Gen(seed)
    lines = {"Patient": [], "Observation": [], "ExplanationOfBenefit": []}
    for _ in range(patients):
        p = g.patient()
        lines["Patient"].append(dumps(p))
        for _ in range(g.r.randint(1, 2 * obs_per_patient - 1)):
            lines["Observation"].append(dumps(g.observation(p["id"])))
        for _ in range(g.r.randint(0, 2 * eob_per_patient)):
            lines["ExplanationOfBenefit"].append(dumps(g.eob(p["id"])))
    for name, ls in lines.items():
        with open(os.path.join(out_dir, f"{name}.ndjson"), "w", encoding="utf-8") as f:
            f.write("\n".join(ls) + "\n")
    return {k: len(v) for k, v in lines.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--patients", type=int, default=1000)
    a = ap.parse_args()
    print(write(a.out_dir, a.seed, a.patients))


if __name__ == "__main__":
    main()
