"""The three workloads: their inputs, warm-up, one request, and its checks.

A request is what one closed-loop client sends and waits for. Every call
into the package sits in a tracer span named after the layer it enters.
``Request`` records what the run reports: latency, operations attempted
and failed, accuracy counts and the per-request layer facts.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Dict, List

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import checks
import gen


def format_bmi(value: float) -> str:
    """User mapper of the clinical plan (a Python function mapper)."""
    return f"{value:.1f}"


def normalize_site(value: str) -> str:
    """User mapper of the bulk plan (a Python function mapper)."""
    return value.strip().lower().replace(", ", "_").replace(" ", "_")


AGE_DAYS_EXPR = "cast(floor({col} * 365.25) as int)"
THRESHOLD = 0.3  # the value-match threshold the API applies by default


@dataclass
class Request:
    latency_s: float = 0.0
    rows: int = 0
    ops: int = 0
    failed: int = 0
    problems: List[str] = field(default_factory=list)
    correct: int = 0          # ground-truth decisions right
    judged: int = 0           # ground-truth decisions made
    schema_correct: int = 0
    schema_judged: int = 0
    value_correct: int = 0
    value_judged: int = 0
    matched: int = 0          # distinct source values given a target
    distinct: int = 0         # distinct source values value-matched
    kernels: List[str] = field(default_factory=list)
    udf_columns: int = 0
    broadcast_join_columns: int = 0
    bytes_written: int = 0
    input_bytes: int = 0

    def op(self, problems: List[str]) -> None:
        self.ops += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total


def _distinct_keys(path: str) -> Dict[str, set]:
    """String column -> its distinct trimmed non-null values (the keys the
    package matches on), read from the generated parquet."""
    table = pq.read_table(path)
    out = {}
    for name in table.column_names:
        col = table.column(name)
        if col.type == "string" or str(col.type).startswith("dictionary"):
            out[name] = {v.strip() for v in col.unique().to_pylist() if v is not None}
    return out


class Workload:
    name = ""

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.domains = gen.load_gdc_domains()
        self.domain_sets = {c: set(v) for c, v in self.domains.items()}
        self.bdi = None
        self.spark = None
        self.planning = None
        self.writers = None

    def bind(self, bdi, spark) -> None:
        """Use this (re)imported package and session from now on."""
        import importlib

        self.bdi = bdi
        self.spark = spark
        self.planning = importlib.import_module("biomedical_data_integration_spark.planning")
        self.writers = importlib.import_module(
            "biomedical_data_integration_spark.sources.writers"
        )

    def input_sizes(self) -> dict:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def request(self, i: int) -> Request:
        raise NotImplementedError

    def _kernel(self, n_source: int, n_target: int) -> str:
        return self.planning.value_match_kernel(n_source, n_target)

    def _n_target(self, gdc_column: str) -> int:
        return len(gen.domain_keys(self.domains.get(gdc_column, [])))

    def _value_rows(self, df, mapping, top_k: int):
        with self.tracer.span("value_matching"):
            if top_k == 1:
                out = self.bdi.match_values(df, "gdc", mapping)
            else:
                out = self.bdi.top_value_matches(df, "gdc", mapping, top_k=top_k)
            return [r.asDict() for r in out.collect()]

    def _plan_facts(self, req: Request, plan) -> None:
        for entry in plan:
            m = entry["mapper"]
            if isinstance(m, self.bdi.FunctionValueMapper):
                req.udf_columns += 1
            elif isinstance(m, self.bdi.DictionaryMapper) and m.is_large():
                req.broadcast_join_columns += 1

    def _score_values(self, req: Request, rows, value_truth) -> None:
        best = checks.top1(rows)
        req.distinct += len(best)
        req.matched += sum(1 for v in best.values() if v is not None)
        for col, truth in value_truth.items():
            for key, origin in truth.items():
                req.value_judged += 1
                req.value_correct += best.get((col, key)) == origin


# ---------------------------------------------------------------------------


class ClinicalGdc(Workload):
    """Harmonize seeded clinical tables end to end against GDC."""

    name = "clinical_gdc"
    TABLES = 8
    ROWS = 20_000
    WARMUP_ROWS = 500

    def __init__(self, seed, work, tracer):
        super().__init__(seed, work, tracer)
        self.tables = gen.gen_clinical(seed, os.path.join(work, "in"), self.TABLES, self.ROWS)
        self.warm = gen.gen_clinical(seed + 1_000_003, os.path.join(work, "warm"), 1,
                                     self.WARMUP_ROWS)[0]
        self.keys = {t.path: _distinct_keys(t.path) for t in self.tables + [self.warm]}
        self.gdc_columns = set(self.domains)

    def input_sizes(self) -> dict:
        return {
            "tables": len(self.tables),
            "rows_per_table": self.ROWS,
            "enumerated_columns_per_table": len(self.tables[0].schema_truth),
            "gdc_columns": len(self.gdc_columns),
            "source_distinct_per_table": [
                {c: len(k) for c, k in self.keys[t.path].items()} for t in self.tables
            ],
        }

    def warmup(self) -> None:
        self._harmonize(self.warm, os.path.join(self.work, "out", "warm"))

    def request(self, i: int) -> Request:
        table = self.tables[i % len(self.tables)]
        return self._harmonize(table, os.path.join(self.work, "out", f"r{i}"))

    def _harmonize(self, table: gen.ClinicalTable, out_path: str) -> Request:
        bdi, tr = self.bdi, self.tracer
        req = Request(rows=table.rows, input_bytes=os.path.getsize(table.path))
        keys = self.keys[table.path]
        t0 = time.perf_counter()
        with tr.span("request"):
            df = self.spark.read.parquet(table.path)
            with tr.span("schema_matching"):
                schema = [(r["source"], r["target"]) for r in bdi.match_schema(df, "gdc").collect()]
            pairs = [(s, t) for s, t in schema if t]
            rows = self._value_rows(df, pairs, 1) if pairs else []
            matches = defaultdict(list)
            for r in rows:
                if r["target_value"] is not None:
                    matches[(r["source_column"], r["target_column"])].append(
                        (r["source_value"], r["target_value"])
                    )
            user = [{"source": table.numeric_column, "target": "bmi", "mapper": format_bmi}]
            # the user mapping owns the `bmi` output; a computed pair onto it
            # would give the harmonized table two `bmi` columns
            computed = [
                {"source": s, "target": t, "matches": matches[(s, t)]}
                if matches[(s, t)] else {"source": s, "target": t}
                for s, t in pairs
                if t != "bmi"
            ]
            with tr.span("plans.merge"):
                plan = bdi.merge_mappings(computed, user)
            with tr.span("plans.build"):
                out = bdi.materialize_mapping(df, plan)
            with tr.span("plans.write"):
                self.writers.write_parquet(out, out_path, mode="overwrite")
        req.latency_s = time.perf_counter() - t0

        req.op(checks.check_schema_match(schema, list(df.columns), self.gdc_columns))
        for src, tgt in table.schema_truth.items():
            req.schema_judged += 1
            req.schema_correct += (src, tgt) in schema
        string_pairs = [(s, t) for s, t in pairs if s in keys]
        expected = {(s, t): keys[s] for s, t in string_pairs}
        req.op(checks.check_value_match(rows, expected, self.domain_sets, THRESHOLD, 1))
        self._score_values(req, rows, table.value_truth)
        req.kernels.append(self._kernel(
            sum(len(keys[s]) for s, _ in string_pairs),
            sum(self._n_target(t) for _, t in string_pairs),
        ) if string_pairs else "none")
        mapped = {t: self.domains[t] for (s, t), m in matches.items() if m and t != "bmi"}
        req.op(checks.check_harmonized(out_path, table.rows, mapped))
        self._plan_facts(req, plan)
        req.bytes_written = _dir_bytes(out_path)
        shutil.rmtree(out_path, ignore_errors=True)
        req.correct = req.schema_correct + req.value_correct
        req.judged = req.schema_judged + req.value_judged
        return req


# ---------------------------------------------------------------------------


class VocabLarge(Workload):
    """match_values / top_value_matches(k=5) against GDC's largest domains."""

    name = "vocab_large"
    REQUESTS = 8
    VALUES_PER_COLUMN = 20
    WARMUP_VALUES = 5

    def __init__(self, seed, work, tracer):
        super().__init__(seed, work, tracer)
        self.reqs = gen.gen_vocab(seed, os.path.join(work, "in"), self.REQUESTS,
                                  self.VALUES_PER_COLUMN)
        self.warm = gen.gen_vocab(seed + 1_000_003, os.path.join(work, "warm"), 1,
                                  self.WARMUP_VALUES, [("morphology",)])[0]

    def input_sizes(self) -> dict:
        return {
            "requests": [
                {"rows": r.rows, "mapping": r.mapping, "top_k": r.top_k,
                 "n_source": r.n_source, "n_target": r.n_target}
                for r in self.reqs
            ],
            "local_domain_limit": self.planning.LOCAL_DOMAIN_LIMIT,
        }

    def warmup(self) -> None:
        self._match(self.warm)

    def request(self, i: int) -> Request:
        return self._match(self.reqs[i % len(self.reqs)])

    def _match(self, vr: gen.VocabRequest) -> Request:
        req = Request(rows=vr.rows, input_bytes=os.path.getsize(vr.path))
        t0 = time.perf_counter()
        with self.tracer.span("request"):
            df = self.spark.read.parquet(vr.path)
            rows = self._value_rows(df, vr.mapping, vr.top_k)
        req.latency_s = time.perf_counter() - t0
        expected = {(s, t): vr.source_keys[s] for s, t in vr.mapping}
        req.op(checks.check_value_match(rows, expected, self.domain_sets, THRESHOLD,
                                        vr.top_k))
        self._score_values(req, rows, vr.value_truth)
        req.kernels.append(self._kernel(vr.n_source, vr.n_target))
        req.correct, req.judged = req.value_correct, req.value_judged
        return req


# ---------------------------------------------------------------------------


class BulkMaterialize(Workload):
    """A fixed plan of five mapper kinds over a large seeded table."""

    name = "bulk_materialize"
    ROWS = 2_000_000
    FILES = 8
    WARMUP_ROWS = 50_000
    SPECIMEN_IDS = 25_000
    SPECIMEN_DICT = 20_000

    def __init__(self, seed, work, tracer):
        super().__init__(seed, work, tracer)
        self.input = gen.gen_bulk(seed, os.path.join(work, "in"), self.ROWS, self.FILES,
                                  self.SPECIMEN_IDS, self.SPECIMEN_DICT)
        self.warm = gen.gen_bulk(seed + 1_000_003, os.path.join(work, "warm"),
                                 self.WARMUP_ROWS, 2, self.SPECIMEN_IDS, self.SPECIMEN_DICT)
        self.reference = self._reference_digests(self.input)

    def input_sizes(self) -> dict:
        return {
            "rows": self.input.rows,
            "files": self.FILES,
            "input_bytes": self.input.input_bytes,
            "specimen_dict_entries": len(self.input.specimen_dict),
            "literal_dict_entries": [len(gen.GENDER_CODES), len(gen.RACE_CODES)],
        }

    def _plan_specs(self, bulk: gen.BulkInput):
        computed = [
            {"source": "patient_id", "target": "submitter_id"},
            {"source": "gender_code", "target": "gender", "mapper": dict(gen.GENDER_CODES)},
            {"source": "race_code", "target": "race", "mapper": dict(gen.RACE_CODES)},
            {"source": "specimen_code", "target": "specimen", "mapper": bulk.specimen_dict},
            {"source": "age_years", "target": "age_at_index_days", "mapper": AGE_DAYS_EXPR},
        ]
        user = [{"source": "site_raw", "target": "site", "mapper": normalize_site}]
        return computed, user

    @staticmethod
    def _reference_frame(bulk: gen.BulkInput) -> pd.DataFrame:
        """The same plan applied with pandas to the generated parquet."""
        t = pq.read_table(bulk.path).to_pandas()
        return pd.DataFrame({
            "site": t["site_raw"].map(normalize_site),
            "submitter_id": t["patient_id"],
            "gender": t["gender_code"].map(gen.GENDER_CODES),
            "race": t["race_code"].map(gen.RACE_CODES),
            "specimen": t["specimen_code"].map(bulk.specimen_dict),
            "age_at_index_days": np.floor(t["age_years"] * 365.25).astype(np.int32),
        })

    def _reference_digests(self, bulk: gen.BulkInput) -> dict:
        ref = self._reference_frame(bulk)
        return {
            "rows": checks.frame_digest(ref),
            "columns": {c: checks.frame_digest(ref[[c]]) for c in ref.columns},
        }

    def warmup(self) -> None:
        ref = self._reference_digests(self.warm)
        self._materialize(self.warm, ref, os.path.join(self.work, "out", "warm"))

    def request(self, i: int) -> Request:
        return self._materialize(self.input, self.reference,
                                 os.path.join(self.work, "out", f"r{i}"))

    def _materialize(self, bulk: gen.BulkInput, ref: dict, out_path: str) -> Request:
        bdi, tr = self.bdi, self.tracer
        req = Request(rows=bulk.rows, input_bytes=bulk.input_bytes)
        computed, user = self._plan_specs(bulk)
        t0 = time.perf_counter()
        with tr.span("request"):
            df = self.spark.read.parquet(bulk.path)
            with tr.span("plans.merge"):
                plan = bdi.merge_mappings(computed, user)
            with tr.span("plans.build"):
                out = bdi.materialize_mapping(df, plan)
            with tr.span("plans.write"):
                self.writers.write_parquet(out, out_path, mode="overwrite")
        req.latency_s = time.perf_counter() - t0

        got = pq.read_table(out_path).to_pandas(strings_to_categorical=True)
        problems = []
        if checks.frame_digest(got) != ref["rows"]:
            problems.append("materialized digest differs from the pandas reference")
        req.op(problems)
        req.judged = len(ref["columns"])
        req.correct = sum(
            c in got.columns and checks.frame_digest(got[[c]]) == d
            for c, d in ref["columns"].items()
        )
        self._plan_facts(req, plan)
        req.bytes_written = _dir_bytes(out_path)
        shutil.rmtree(out_path, ignore_errors=True)
        return req


WORKLOADS = {w.name: w for w in (ClinicalGdc, VocabLarge, BulkMaterialize)}
