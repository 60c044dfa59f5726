"""Harmony CSV → ConceptMap (SURVEY.md §2.1 S4, §2.4 A5/A6/A7, §2.3 J3).

Reference pipeline (wstlr/conceptmap.py:380-550): read one or more harmony
CSVs (lowercased headers; required columns ``local code, text, local code
system, code, display, code system``), union them, dedupe exact mappings on
the 4-tuple (local system, local code, system, code), curie-prefix target
codes, and emit a nested ConceptMap with an implicit ``self`` group whose
display is the local text.

Spark design: the ConceptMap is a *small* mapping DataFrame — it exists to
be broadcast. ``codings_df()`` pre-groups it to one row per
(local_code, local_system) with a deterministically-sorted
``array<struct<code,display,system>>``, so harmonizing a 100 TB fact column
is a single broadcast-hash join with no shuffle of the fact side.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ncpi_whistler_spark.functions.core import curie_prefix_col
from ncpi_whistler_spark.functions.harmonize import SELF_SYSTEM

#: harmony CSV headers → engine column names
_HARMONY_COLS = {
    "local code": "local_code",
    "text": "text",
    "local code system": "local_system",
    "code": "code",
    "display": "display",
    "code system": "system",
}


def scan_harmony_csv(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Scan harmony CSV(s) into the normalized mapping frame
    (reference column contract: docs/ref/harmony_files.md:6-32)."""
    if isinstance(paths, str):
        paths = [p.strip() for p in paths.split(",") if p.strip()]
    raw = (
        spark.read.option("header", True).option("quote", '"').csv(paths)
    )
    lower = {c.lower().strip(): c for c in raw.columns}
    missing = [k for k in _HARMONY_COLS if k not in lower]
    if missing:
        raise ValueError(f"harmony file missing required columns: {missing}")
    cols = [F.col(lower[src]).alias(dst) for src, dst in _HARMONY_COLS.items()]
    # optional grouping columns (used by the harmony ValueSets, G5):
    # absent files get empty strings, matching the reference's defaults
    for opt in ("table_name", "parent_varname"):
        cols.append(
            F.coalesce(F.col(lower[opt]), F.lit("")).alias(opt)
            if opt in lower
            else F.lit("").alias(opt)
        )
    return raw.select(*cols)


def read_code_details(paths: str | list[str]) -> dict[str, str]:
    """The extractor's code_details map: local code → display, last
    occurrence wins, keyed by VALUE ONLY (not scoped per column) —
    reference-exact (wstlr/extractor.py:274-282). Driver-side: harmony
    files are config-scale and the last-wins rule depends on file order."""
    import csv

    if isinstance(paths, str):
        paths = [p.strip() for p in paths.split(",") if p.strip()]
    details: dict[str, str] = {}
    for path in paths:
        with open(path, newline="") as fh:
            for row in csv.DictReader(fh, delimiter=",", quotechar='"'):
                row = {(k or "").lower(): v for k, v in row.items()}
                details[row["local code"]] = row.get("display", "")
    return details


#: ``ConceptMap.mappings`` columns, in order
_MAPPING_COLS = (*_HARMONY_COLS.values(), "table_name", "parent_varname")


class ConceptMap:
    """A harmonization dictionary backed by a small mapping DataFrame.

    ``mappings`` columns: local_code, text, local_system, code, display,
    system, table_name, parent_varname — one row per (local → target)
    edge, already deduped.
    """

    #: cap for compiling the map into a literal (`codings_lookup`).
    #: Reference concept maps are human-authored harmony CSVs — config
    #: scale, never data scale — so this only guards against misuse.
    MAX_DRIVER_ROWS = 10_000

    def __init__(self, mappings: DataFrame, curies: Mapping[str, str] | None = None):
        mappings = mappings.dropDuplicates(
            ["local_system", "local_code", "system", "code"]
        )  # A5, wstlr/conceptmap.py:410-428
        if curies:
            mappings = mappings.withColumn(
                "code", curie_prefix_col(F.col("code"), F.col("system"), curies)
            )  # F6, wstlr/conceptmap.py:83-85
        self.mappings = mappings
        # driver-side caches (config-scale maps only)
        self._rows: list[dict] | None = None
        self._over_cap: int | None = None  # a cap the map is known to exceed
        self._lookup_cache: dict[str, dict[str, list[tuple]]] = {}

    @classmethod
    def from_csv(
        cls,
        spark: SparkSession,
        paths: str | list[str],
        curies: Mapping[str, str] | None = None,
    ) -> "ConceptMap":
        return cls(scan_harmony_csv(spark, paths), curies)

    @classmethod
    def from_rows(
        cls,
        spark: SparkSession,
        rows: list[tuple[str, str, str, str, str, str]],
        curies: Mapping[str, str] | None = None,
    ) -> "ConceptMap":
        """Build from (local_code, text, local_system, code, display,
        system) tuples — used for config-literal maps and tests. The
        grouping columns table_name/parent_varname are empty."""
        rows = [(*r, "", "") for r in rows]
        df = spark.createDataFrame(
            rows, ", ".join(f"{c} string" for c in _MAPPING_COLS)
        )
        cm = cls(df, curies)
        if not curies:
            # rows are already on the driver — prefill the cache so the
            # literal-map path never runs a Spark job (same keep-one
            # dedupe as __init__'s dropDuplicates)
            seen: set[tuple] = set()
            deduped = []
            for row in rows:
                lc, _text, ls, code, _display, system = row[:6]
                if (ls, lc, system, code) not in seen:
                    seen.add((ls, lc, system, code))
                    deduped.append(dict(zip(_MAPPING_COLS, row)))
            cm._rows = deduped
        return cm

    def codings_df(self) -> DataFrame:
        """One row per (local_code, local_system) with all target codings
        *plus* the self coding (code=local_code, display=text,
        system='self'; reference: wstlr/conceptmap.py:445-447).

        The array is sorted by (system, code) — the reference relies on
        file order (A7, wstlr/conceptmap.py:455-469); a distributed engine
        needs an explicit deterministic order instead.
        """
        m = self.mappings
        targets = m.select(
            "local_code",
            "local_system",
            F.struct("code", "display", "system").alias("coding"),
        )
        selfs = m.select("local_code", "local_system", "text").dropDuplicates(
            ["local_code", "local_system"]
        ).select(
            "local_code",
            "local_system",
            F.struct(
                F.col("local_code").alias("code"),
                F.col("text").alias("display"),
                F.lit(SELF_SYSTEM).alias("system"),
            ).alias("coding"),
        )
        return (
            targets.unionByName(selfs)
            .groupBy("local_code", "local_system")
            .agg(F.array_sort(F.collect_list("coding")).alias("codings"))
        )

    def _collected(self, cap: int | None = None) -> list[dict] | None:
        """Mapping rows on the driver, as dicts of all 8 columns. With a
        ``cap``: None when the map has more rows than that — only
        ``cap + 1`` rows are fetched to find out, so a data-scale map is
        never pulled whole onto the driver."""
        if self._rows is None:
            if cap is not None and self._over_cap == cap:
                return None
            df = self.mappings if cap is None else self.mappings.limit(cap + 1)
            got = [r.asDict() for r in df.collect()]
            if cap is not None and len(got) > cap:
                self._over_cap = cap
                return None
            self._rows = got
        if cap is not None and len(self._rows) > cap:
            return None
        return self._rows

    def codings_lookup(self, local_system: str) -> dict[str, list[tuple]] | None:
        """Driver-side twin of ``codings_df`` for one local_system:
        ``local_code → [(code, display, system), ...]`` with the self
        coding included and the exact ordering ``array_sort`` would give
        (struct field order (code, display, system); null fields first,
        matching Spark's ascending null-first struct comparison).

        Returns None when the map exceeds MAX_DRIVER_ROWS; used by
        ``operators.harmonize`` to compile config-scale maps into literal
        ``create_map`` expressions — zero joins, zero extra jobs."""
        if local_system in self._lookup_cache:
            return self._lookup_cache[local_system]
        rows = self._collected(self.MAX_DRIVER_ROWS)
        if rows is None:
            return None
        out: dict[str, list[tuple]] = {}
        texts: dict[str, str] = {}
        for r in rows:
            if r["local_system"] != local_system:
                continue
            lc = r["local_code"]
            out.setdefault(lc, []).append((r["code"], r["display"], r["system"]))
            texts.setdefault(lc, r["text"])
        key = lambda t: tuple((x is not None, x or "") for x in t)  # noqa: E731
        for lc, codings in out.items():
            codings.append((lc, texts[lc], SELF_SYSTEM))
            codings.sort(key=key)
        self._lookup_cache[local_system] = out
        return out


#: reference's default terminology url base (wstlr/__init__.py:14)
SYSTEM_BASE = "https://nih-ncpi.github.io/ncpi-fhir-ig"


def whistle_harmony_obj(
    path: str,
    curies: Mapping[str, str] | None = None,
    consent_group: str | None = None,
    url_base: str = SYSTEM_BASE,
) -> dict:
    """One harmony CSV → the whistle-input document's nested harmony
    object (source_codes / target_codes / mappings), reference-shape-exact
    (wstlr/conceptmap.py:35-219: per-(system,table,parent) source
    value-set components with curie-prefixed codes, last-wins target
    codings, first-wins mapping elements, file order preserved).

    Driver-side by design: this object IS part of the single JSON
    inter-stage document (S8), and harmony files are config-scale. The
    engine's scale path — the broadcast ConceptMap DataFrame — never
    routes through here.
    """
    import csv

    from ncpi_whistler_spark.functions.core import dd_system_url

    curies = curies or {}

    def prefixed(code: str, system: str) -> str:
        return f"{curies[system]}:{code}" if system in curies else code

    vs_sources: dict[tuple[str, str, str], list[dict]] = {}
    targets: dict[str, dict[str, dict]] = {}
    mappings: dict[str, dict] = {}
    with open(path, newline="") as fh:
        for line in csv.DictReader(fh, delimiter=",", quotechar='"'):
            table = line["table_name"]
            if table.strip() == "":
                continue
            local_cs, local_code = line["local code system"], line["local code"]
            target_cs, target_code = line["code system"], line["code"]
            parent = line["parent_varname"]

            vs_sources.setdefault((local_cs, table, parent), []).append(
                {"code": prefixed(local_code, local_cs), "display": line["text"]}
            )
            targets.setdefault(target_cs, {})[target_code] = {
                "code": prefixed(target_code, target_cs),
                "display": line["display"],
            }
            m = mappings.setdefault(
                local_cs, {"table": table, "parent": parent, "group": {}}
            )
            codes = m["group"].setdefault(target_cs, {})
            el = codes.setdefault(
                local_code, {"display": line["text"], "target": {}}
            )
            el["target"][target_code] = line["display"]

    obj: dict = {"source_codes": [], "target_codes": [], "mappings": []}
    for (local_cs, table, parent), codes in vs_sources.items():
        obj["source_codes"].append(
            {
                "system": dd_system_url(
                    url_base, "CodeSystem", consent_group, table, local_cs
                ),
                "table_name": table,
                "parent_varname": parent,
                "codes": list(codes),
            }
        )
    for target_cs, code_map in targets.items():
        obj["target_codes"].append(
            {
                "system": target_cs,
                "table_name": "",
                "parent_varname": "",
                "codes": [
                    {"code": c["code"], "display": c["display"]}
                    for c in code_map.values()
                ],
            }
        )
    for local_cs, m in mappings.items():
        src_url = dd_system_url(
            url_base, "CodeSystem", consent_group, m["table"], local_cs
        )
        for target_cs, codes in m["group"].items():
            obj["mappings"].append(
                {
                    "source": src_url,
                    "table": m["table"],
                    "parent": m["parent"],
                    "target": target_cs,
                    "element": [
                        {
                            "code": code,
                            "display": el["display"],
                            "target": [
                                {"code": tc, "display": td}
                                for tc, td in el["target"].items()
                            ],
                        }
                        for code, el in codes.items()
                    ],
                }
            )
    return obj
