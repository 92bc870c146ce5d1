"""Seeded inputs for the three workloads, and the ground truth kept beside them.

Every generator takes a seed and writes parquet files with pyarrow; the
package under test only ever sees those files. Ground truth (which GDC column
a messy source column came from, which GDC value a messy cell value came
from, the reference digest of a materialized plan) stays in the returned
Python objects.

``python3 perfbench/gen.py --selftest`` checks that one seed gives
byte-identical files and another seed different ones.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import sys
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GDC_JSON = os.path.join(
    ROOT, "biomedical_data_integration_spark", "resources", "gdc_schema.json"
)

# GDC enumerated columns of the clinical tables, by table index: small
# domains (4 to 38 values), so value matching stays on the driver-local
# kernel and dictionaries stay literal. The seed draws names, values and
# rows; which columns a table holds depends on its index only, so every
# seed asks the same matching questions and runs differ in content, not in
# difficulty.
CLINICAL_TABLES = [
    ("ethnicity", "race", "gender"),
    ("vital_status", "ajcc_pathologic_stage", "marital_status"),
    ("figo_stage", "laterality", "menopause_status"),
    ("education_level", "alcohol_history", "cause_of_death"),
]


def load_gdc_domains() -> Dict[str, List[str]]:
    """GDC column -> enumerated values, read straight from the bundled JSON
    (independently of the package's standards layer)."""
    with open(GDC_JSON) as f:
        raw = json.load(f)
    return {c: list((e.get("value_data") or {}).keys()) for c, e in raw.items()}


# ---------------------------------------------------------------------------
# messy names and values
# ---------------------------------------------------------------------------

def messy_column_name(name: str, rng: random.Random) -> str:
    words = name.split("_")
    kind = rng.randrange(5)
    if kind == 0:
        return " ".join(w.capitalize() for w in words)
    if kind == 1:
        return "_".join(words).upper()
    if kind == 2:
        return words[0] + "".join(w.capitalize() for w in words[1:])
    if kind == 3:
        return "-".join(words).capitalize()
    return "pt_" + "_".join(words)


def _messy_value(value: str, rng: random.Random) -> str:
    kind = rng.randrange(7)
    if kind == 0:
        return value.upper()
    if kind == 1:
        return value.title()
    if kind == 2:
        return value.replace(" ", "_")
    if kind == 3 and len(value) > 6:
        i = rng.randrange(1, len(value) - 1)
        return value[:i] + value[i + 1:]
    if kind == 4 and len(value) > 6:
        i = rng.randrange(1, len(value) - 2)
        return value[:i] + value[i + 1] + value[i] + value[i + 2:]
    if kind == 5:
        return "  " + value + " "
    return value.lower()


def messy_values(
    origins: List[str], domain: List[str], per_value: int, rng: random.Random
) -> Dict[str, str]:
    """Messy variant -> the domain value it came from.

    Variants are compared as the package keys them (trimmed). A variant
    whose key equals another domain value, or one already claimed by
    another origin, falls back to the origin itself, so every key has
    exactly one true origin."""
    keyed = {v.strip(): v for v in domain}
    claimed: Dict[str, str] = {}
    out: Dict[str, str] = {}
    for origin in origins:
        for _ in range(per_value):
            variant = _messy_value(origin, rng)
            key = variant.strip()
            if keyed.get(key, origin) != origin or claimed.get(key, origin) != origin:
                variant, key = origin, origin.strip()
            claimed[key] = origin
            out[variant] = origin
    return out


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# clinical_gdc
# ---------------------------------------------------------------------------

@dataclass
class ClinicalTable:
    path: str
    rows: int
    schema_truth: Dict[str, str]          # messy source column -> GDC column
    value_truth: Dict[str, Dict[str, str]]  # source column -> {trimmed value: origin}
    numeric_column: str


def gen_clinical(seed: int, out_dir: str, n_tables: int, rows: int) -> List[ClinicalTable]:
    domains = load_gdc_domains()
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    tables = []
    for t in range(n_tables):
        gdc_cols = CLINICAL_TABLES[t % len(CLINICAL_TABLES)]
        arrays, names = [], []
        schema_truth, value_truth = {}, {}
        for gcol in gdc_cols:
            domain = domains[gcol]
            origins = rng.sample(domain, min(len(domain), 30))
            variants = messy_values(origins, domain, 2, rng)
            pool = sorted(variants)
            idx = nrng.integers(0, len(pool), rows)
            col = pa.array([pool[i] for i in idx], pa.string())
            name = messy_column_name(gcol, rng)
            arrays.append(col)
            names.append(name)
            schema_truth[name] = gcol
            value_truth[name] = {v.strip(): o for v, o in variants.items()}
        numeric = "BMI"
        arrays.append(pa.array(np.round(nrng.normal(26.0, 4.0, rows), 1)))
        names.append(numeric)
        text = "Clinician Notes"
        words = ["stable", "follow-up", "scheduled", "reviewed", "imaging", "pending"]
        arrays.append(pa.array(
            [f"{words[a]} {words[b]}" for a, b in zip(
                nrng.integers(0, 6, rows), nrng.integers(0, 6, rows))],
            pa.string(),
        ))
        names.append(text)
        path = os.path.join(out_dir, f"clinical_{t:02d}.parquet")
        write_table(pa.Table.from_arrays(arrays, names), path)
        tables.append(ClinicalTable(path, rows, schema_truth, value_truth, numeric))
    return tables


# ---------------------------------------------------------------------------
# vocab_large
# ---------------------------------------------------------------------------

# Column pairs of one request, all under planning.LOCAL_DOMAIN_LIMIT with
# the generated source sizes (driver-local kernel). A pair set over the
# limit, such as therapeutic_agents + morphology (5,635 target values),
# takes the distributed kernel at 22-27 s a request warm and 44 s cold on
# 4 cores: more than one run of this benchmark can hold.
VOCAB_SHAPES: List[Tuple[str, ...]] = [
    ("therapeutic_agents",),
    ("primary_diagnosis", "morphology"),
    ("primary_diagnosis",),
]


# Cells that came from no vocabulary value, as real columns carry. Their
# best match usually scores under the 0.3 threshold, so they stay unmatched
# and keep the threshold check and the coverage ratio meaningful. They have
# no ground truth and are left out of accuracy.
JUNK_VALUES = [
    "n/a", "pending review", "see notes", "declined to answer", "tbd",
    "other, specify", "entered in error", "free text",
]


def domain_keys(domain: List[str]) -> set:
    return {v.strip() for v in domain}


@dataclass
class VocabRequest:
    path: str
    rows: int
    mapping: List[Tuple[str, str]]        # (source column, GDC column), given
    value_truth: Dict[str, Dict[str, str]]
    source_keys: Dict[str, set]           # every distinct trimmed value, junk included
    top_k: int                            # 1 -> match_values, else top_value_matches
    n_source: int                         # distinct trimmed source values, all pairs
    n_target: int                         # distinct trimmed target values, all pairs


def gen_vocab(seed: int, out_dir: str, n_requests: int, values_per_column: int,
              shapes: List[Tuple[str, ...]] = VOCAB_SHAPES) -> List[VocabRequest]:
    domains = load_gdc_domains()
    rng = random.Random(seed)
    out = []
    for r in range(n_requests):
        shape = shapes[r % len(shapes)]
        # alternate so that even a short run sends both kinds of request
        top_k = 1 if r % 2 == 0 else 5
        arrays, names, mapping, value_truth, source_keys = [], [], [], {}, {}
        n_source = n_target = 0
        columns = []
        for gcol in shape:
            domain = domains[gcol]
            origins = rng.sample(domain, values_per_column)
            variants = messy_values(origins, domain, 1, rng)
            name = messy_column_name(gcol, rng)
            junk = [j for j in rng.sample(JUNK_VALUES, 2) if j.strip() not in domain_keys(domain)]
            cells = [v for v in sorted(variants) + junk for _ in range(2)]
            rng.shuffle(cells)
            columns.append((name, cells))
            mapping.append((name, gcol))
            value_truth[name] = {v.strip(): o for v, o in variants.items()}
            source_keys[name] = set(value_truth[name]) | {j.strip() for j in junk}
            n_source += len(source_keys[name])
            n_target += len(domain_keys(domain))
        rows = max(len(c) for _, c in columns)
        for name, cells in columns:
            cells = cells + [None] * (rows - len(cells))
            arrays.append(pa.array(cells, pa.string()))
            names.append(name)
        path = os.path.join(out_dir, f"vocab_{r:02d}.parquet")
        write_table(pa.Table.from_arrays(arrays, names), path)
        out.append(VocabRequest(path, rows, mapping, value_truth, source_keys, top_k,
                                n_source, n_target))
    return out


# ---------------------------------------------------------------------------
# bulk_materialize
# ---------------------------------------------------------------------------

GENDER_CODES = {"F": "female", "M": "male", "U": "unknown", "NR": "not reported"}
RACE_CODES = {
    "1": "white", "2": "black or african american", "3": "asian",
    "4": "american indian or alaska native",
    "5": "native hawaiian or other pacific islander", "9": "unknown",
}
SITES = ["Lung, NOS", " Breast, NOS", "Colon, NOS ", "Kidney, NOS", "Liver", "Skin, NOS"]


@dataclass
class BulkInput:
    path: str                              # directory of parquet part files
    rows: int
    input_bytes: int
    specimen_dict: Dict[str, str] = field(repr=False)


def gen_bulk(seed: int, out_dir: str, rows: int, n_files: int,
             specimen_ids: int, specimen_dict_size: int) -> BulkInput:
    nrng = np.random.default_rng(seed)
    path = os.path.join(out_dir, "bulk")
    specimen_names = np.array([f"S{i:06d}" for i in range(specimen_ids)], dtype=object)
    mapped = nrng.permutation(specimen_ids)[:specimen_dict_size]
    specimen_dict = {
        specimen_names[i]: f"specimen-{(int(i) * 7919) % 1_000_003}" for i in sorted(mapped)
    }
    gender = pa.array(sorted(GENDER_CODES) + ["X"], pa.string())
    race = pa.array(sorted(RACE_CODES) + ["7"], pa.string())
    sites = pa.array(SITES, pa.string())
    specimens = pa.array(specimen_names, pa.string())
    per_file = rows // n_files
    total_bytes = 0
    for f in range(n_files):
        n = per_file if f < n_files - 1 else rows - per_file * (n_files - 1)
        start = f * per_file
        table = pa.table({
            "patient_id": pa.array(np.arange(start, start + n, dtype=np.int64)),
            "gender_code": pa.DictionaryArray.from_arrays(
                pa.array(nrng.integers(0, len(gender), n, dtype=np.int32)), gender),
            "race_code": pa.DictionaryArray.from_arrays(
                pa.array(nrng.integers(0, len(race), n, dtype=np.int32)), race),
            "specimen_code": pa.DictionaryArray.from_arrays(
                pa.array(nrng.integers(0, specimen_ids, n, dtype=np.int32)), specimens),
            "site_raw": pa.DictionaryArray.from_arrays(
                pa.array(nrng.integers(0, len(sites), n, dtype=np.int32)), sites),
            "age_years": pa.array(np.round(nrng.uniform(18.0, 90.0, n), 1)),
        })
        part = os.path.join(path, f"part-{f:03d}.parquet")
        write_table(table, part)
        total_bytes += os.path.getsize(part)
    return BulkInput(path, rows, total_bytes, specimen_dict)


# ---------------------------------------------------------------------------
# self-test
# ---------------------------------------------------------------------------

def _digest_dir(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _generate_all(seed: int, out_dir: str) -> None:
    gen_clinical(seed, out_dir, n_tables=2, rows=500)
    gen_vocab(seed, out_dir, n_requests=4, values_per_column=20)
    gen_bulk(seed, out_dir, rows=20_000, n_files=2, specimen_ids=2_500,
             specimen_dict_size=2_000)


def selftest(work: str) -> int:
    a, b, c = (os.path.join(work, x) for x in ("a", "b", "c"))
    try:
        _generate_all(7, a)
        _generate_all(7, b)
        _generate_all(8, c)
        same = _digest_dir(a) == _digest_dir(b)
        differ = _digest_dir(a) != _digest_dir(c)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"same seed -> identical bytes: {same}")
    print(f"other seed -> different bytes: {differ}")
    return 0 if same and differ else 1


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--selftest", action="store_true", required=True)
    args = ap.parse_args()
    sys.exit(selftest(os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")))
