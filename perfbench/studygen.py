"""Seeded synthetic study for the ``study_etl`` workload.

Writes a complete study the ``play`` pipeline accepts: participant,
specimen, embedded file-manifest and grouped visit CSVs, the participant
data dictionary, the harmony concept-map CSV, a custom projector library
(Patient + Specimen builders) and the study YAML. The participant table
carries ``N_ENUMS`` harmonised enumerations and ``N_MEDS`` ``med_``
aggregator columns.

:func:`expected_resources` gives the resource count per type that the
pipeline must emit for a study of a given size; it follows from what the
generator writes, not from running the pipeline.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import yaml

N_ENUMS = 12
N_MEDS = 6
SPECIMENS_PER_PARTICIPANT = 2
FILES_PER_SPECIMEN = 1
#: codes per enumeration; every code has a harmony row
N_CODES = 4
_SAMPLE_TYPES = ["blood", "saliva", "tissue", "urine"]
_FILE_TYPES = ["bam", "cram", "vcf"]

_PROJECTOR = '''"""Patient and Specimen builders for the synthetic study."""

from pyspark.sql import functions as F

from ncpi_whistler_spark.functions.harmonize import (
    harmonize_as_code,
    key_identifier,
    reference_key_identifier,
    study_meta,
)
from ncpi_whistler_spark.operators.harmonize import harmonize


def build_patients(spark, dataset, study):
    df = harmonize(
        dataset.tables["participant"], "enum_01", "enum_01",
        dataset.concept_map, output_col="_sex_codings",
    )
    return df.select(
        F.lit("patient").alias("module"),
        F.lit("Patient").alias("resourceType"),
        F.struct(F.array(study_meta(study.study_id)).alias("tag")).alias("meta"),
        F.array(
            key_identifier("participant_id", study.identifier_prefix, "Patient")
        ).alias("identifier"),
        harmonize_as_code("_sex_codings").alias("gender"),
    )


def build_specimens(spark, dataset, study):
    df = dataset.tables["specimen"]
    return df.select(
        F.lit("specimen").alias("module"),
        F.lit("Specimen").alias("resourceType"),
        F.struct(F.array(study_meta(study.study_id)).alias("tag")).alias("meta"),
        F.array(
            key_identifier("sample_id", study.identifier_prefix, "Specimen")
        ).alias("identifier"),
        reference_key_identifier(
            "participant_id", study.identifier_prefix, "Patient"
        ).alias("subject"),
        F.struct(F.struct(F.col("sample_type").alias("text")).alias("type")).alias(
            "collection"
        ),
        F.transform(
            "file_manifest",
            lambda f: F.struct(
                F.lit("https://example.org/fhir/StructureDefinition/sample-file").alias("url"),
                f["file_name"].alias("valueString"),
            ),
        ).alias("extension"),
    )
'''


def _enum_name(i: int) -> str:
    return f"enum_{i + 1:02d}"


def _write_csv(path: str, header: list[str], rows) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def write_study(out_dir: str, seed: int, participants: int) -> str:
    """Write the study under ``out_dir``; returns the study YAML path."""
    os.makedirs(os.path.join(out_dir, "projector"), exist_ok=True)
    rng = np.random.default_rng(seed)
    n = participants
    pids = [f"P{i:07d}" for i in range(n)]

    enums = rng.integers(1, N_CODES + 1, (n, N_ENUMS))
    ages = rng.integers(0, 100, n)
    # medication doses: ~30% missing, as in real intake forms
    meds = rng.integers(1, 500, (n, N_MEDS))
    med_missing = rng.random((n, N_MEDS)) < 0.3
    header = (
        ["Participant ID"]
        + [f"Enum {i + 1:02d}" for i in range(N_ENUMS)]
        + ["Age (years)"]
        + [f"med_drug{j + 1}" for j in range(N_MEDS)]
    )
    _write_csv(
        os.path.join(out_dir, "participant.csv"),
        header,
        (
            [pids[i]]
            + [str(v) for v in enums[i]]
            + [str(ages[i])]
            + ["NA" if med_missing[i, j] else str(meds[i, j]) for j in range(N_MEDS)]
            for i in range(n)
        ),
    )
    enumerations = ";".join(f"{c}=Value {c}" for c in range(1, N_CODES + 1))
    _write_csv(
        os.path.join(out_dir, "participant-dd.csv"),
        ["variable_name", "description", "data_type", "enumerations", "min", "max", "units"],
        [["Participant ID", "Participant identifier", "identifier", "", "", "", ""]]
        + [
            [f"Enum {i + 1:02d}", f"Enumerated answer {i + 1}", "enumeration",
             enumerations, "", "", ""]
            for i in range(N_ENUMS)
        ]
        + [["Age (years)", "Age at enrollment", "integer", "", "0", "120", "years"]],
    )
    _write_csv(
        os.path.join(out_dir, "harmony.csv"),
        ["local code", "text", "local code system", "code", "display",
         "code system", "table_name", "parent_varname", "comment"],
        [
            [str(c), f"Value {c}", _enum_name(i), f"H{i + 1:02d}-{c}",
             f"Harmonised {i + 1}.{c}", f"https://example.org/cs/enum{i + 1:02d}",
             "participant", _enum_name(i), ""]
            for i in range(N_ENUMS)
            for c in range(1, N_CODES + 1)
        ],
    )

    n_spec = n * SPECIMENS_PER_PARTICIPANT
    sids = [f"S{i:08d}" for i in range(n_spec)]
    types = rng.integers(0, len(_SAMPLE_TYPES), n_spec)
    volumes = np.round(rng.uniform(0.1, 10.0, n_spec), 2)
    _write_csv(
        os.path.join(out_dir, "specimen.csv"),
        ["sample_id", "participant_id", "sample_type", "volume"],
        (
            [sids[k], pids[k // SPECIMENS_PER_PARTICIPANT],
             _SAMPLE_TYPES[types[k]], str(volumes[k])]
            for k in range(n_spec)
        ),
    )
    ftypes = rng.integers(0, len(_FILE_TYPES), n_spec * FILES_PER_SPECIMEN)
    sizes = rng.integers(1, 5000, n_spec * FILES_PER_SPECIMEN)
    _write_csv(
        os.path.join(out_dir, "file_manifest.csv"),
        ["sample_id", "file_name", "file_type", "size_mb"],
        (
            [sids[k // FILES_PER_SPECIMEN], f"f{k:08d}.{_FILE_TYPES[ftypes[k]]}",
             _FILE_TYPES[ftypes[k]], str(sizes[k])]
            for k in range(n_spec * FILES_PER_SPECIMEN)
        ),
    )
    visits = rng.integers(1, 5, n)
    _write_csv(
        os.path.join(out_dir, "visit.csv"),
        ["participant_id", "visit_num", "systolic", "diastolic"],
        (
            [pids[i], str(v), str(rng.integers(90, 180)), str(rng.integers(50, 110))]
            for i in range(n)
            for v in range(1, visits[i] + 1)
        ),
    )
    with open(os.path.join(out_dir, "projector", "study_projectors.py"), "w") as fh:
        fh.write(_PROJECTOR)

    def path(name: str) -> str:
        return os.path.join(out_dir, name)

    config = {
        "study_id": "BENCHSTUDY",
        "study_title": "Synthetic benchmark study",
        "identifier_prefix": "https://example.org/benchstudy",
        "id_colname": "participant_id",
        "projector_lib": path("projector"),
        "curies": {},
        "active_tables": {"ALL": True},
        "dataset": {
            "participant": {
                "filename": path("participant.csv"),
                "code_harmonization": path("harmony.csv"),
                "aggregators": {"medications": "^med_"},
                "aggregator-splitter": "_",
                "data_dictionary": {"filename": path("participant-dd.csv")},
            },
            "specimen": {"filename": path("specimen.csv")},
            "file_manifest": {
                "filename": path("file_manifest.csv"),
                "embed": {"dataset": "specimen", "colname": "sample_id"},
            },
            "visit": {"filename": path("visit.csv"), "group_by": "participant_id"},
        },
    }
    cfg_path = path("study.yaml")
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(config, fh, sort_keys=False)
    return cfg_path


def expected_resources(participants: int) -> dict[str, int]:
    """Resource count per resourceType for a study of this size.

    Data-driven types: one Patient, one source-data Observation and one
    QuestionnaireResponse per participant row (participant is the only
    table with a data dictionary), one Specimen per specimen row. The
    dictionary-driven types follow the participant DD: a CodeSystem for
    the table and one per enumerated variable, a ValueSet per enumerated
    variable, an ObservationDefinition per variable, one
    ActivityDefinition and one Questionnaire; the harmony file adds the
    study ConceptMap and its sources/targets ValueSets."""
    n_vars = 1 + N_ENUMS + 1
    return {
        "Patient": participants,
        "Observation": participants,
        "QuestionnaireResponse": participants,
        "Specimen": participants * SPECIMENS_PER_PARTICIPANT,
        "CodeSystem": 1 + N_ENUMS,
        "ValueSet": N_ENUMS + 2,
        "ObservationDefinition": n_vars,
        "ActivityDefinition": 1,
        "Questionnaire": 1,
        "ConceptMap": 1,
    }
