"""Registry contract tests: the queries()/oracle_sql() surface the round
driver consumes, and the _DRIVER_PRIORITY ordering knob (ADVICE r2: the
list is coupled to driver behavior and would silently rot — stale names
are ignored at runtime, so a typo would quietly waste a coverage slot)."""

from __future__ import annotations

import ast
import pathlib
from collections import Counter

from cours_datalake_dwh_td_kafka_spark import registry


def test_driver_priority_names_all_registered():
    qs = registry.queries()
    stale = [n for n in registry._DRIVER_PRIORITY if n not in qs]
    assert stale == [], f"stale _DRIVER_PRIORITY names: {stale}"


def test_driver_priority_no_duplicates():
    names = registry._DRIVER_PRIORITY
    assert len(names) == len(set(names))


def test_priority_names_lead_iteration_order():
    qs = registry.queries()
    head = list(qs)[: len(registry._DRIVER_PRIORITY)]
    assert head == list(registry._DRIVER_PRIORITY)


def test_every_oracle_has_a_query():
    qs, osql = registry.queries(), registry.oracle_sql()
    assert set(osql) <= set(qs)
    # both views present the same ordering contract
    assert [n for n in qs if n in osql] == list(osql)


def test_approx_family_is_oracle_paired():
    """Round-3 requirement: the approx sketches carry a value oracle
    (exact value + bounded-error boolean) instead of rows-only."""
    osql = registry.oracle_sql()
    assert "approx_quantiles" in osql
    assert "approx_distinct_count" in osql


def test_protocol_lane_names_all_registered():
    """PROTOCOL_QUERIES drives the bench's two-lane split; a stale name
    would silently misclassify lane subtotals."""
    qs = registry.queries()
    stale = [n for n in registry.PROTOCOL_QUERIES if n not in qs]
    assert stale == [], f"stale PROTOCOL_QUERIES names: {stale}"
    # the lane is a strict minority: the operator lane stays the headline
    assert len(registry.PROTOCOL_QUERIES) < len(qs) / 4


# Public top-level package functions and classes that no registered
# query, tool, benchmark script or other package code reaches, each with
# the reason it stays. Anything else reached only from tests/ is surface
# to delete, not to keep.
_TEST_ONLY_ALLOWED = {
    # course-mapped API (SURVEY.md §2.1 S-rows)
    "read_csv": "course-mapped API: S1-S4 CSV scans",
    "read_json": "course-mapped API: S5 JSON scan",
    "read_parquet": "course-mapped API: S6 parquet scan",
    "write_csv": "course-mapped API: S7 CSV sink",
    "write_parquet": "course-mapped API: S8 parquet sink",
    "write_json": "course-mapped API: S9 partitioned JSON sink",
    "load_lake": "course-mapped API: S20 temp-view registration",
    "decode_kafka_value": "course-mapped API: S10 Kafka value decoding",
    "read_kafka_stream": "course-mapped API: S10 Kafka streaming source",
    "write_kafka_stream": "course-mapped API: S11 Kafka streaming sink",
    "write_kafka_batch": "course-mapped API: S12 Kafka batch sink",
    "parse_kafka_json": "course-mapped API: T1 Kafka JSON parse",
    "write_stream_to_lake": "course-mapped API: S16 partitioned lake sink",
    "register_all": "course-mapped API: SQL string entry (SURVEY §3.3)",
    # tests use these as the reference for another function
    "range_join_nlj": "test reference for the range joins",
    "rfm_segments_ntile": "test reference for rfm_segments",
    "ann_topk_lambda": "test reference for the BLAS ANN top-k",
    "jpeg_entropy_decode": "test reference for the JPEG encoder",
    "encode_jfif": "test reference: builds the JPEG decoder's inputs",
    "bpe_train": "test entry to the BPE core the registered rows share",
    "sketch_merge": "test reference: the union the quantile_sketch rows do",
    # plan checks run against registered rows
    "count_local_checkpoints": "plan check run against registered rows",
    "low_cardinality_keyed_windows": "plan check run against registered rows",
    "unbounded_global_windows": "plan check run against registered rows",
    # ROADMAP open items that will use them
    "consume_lake_changes_stream": "ROADMAP item 5 runs it as a CDC consumer",
    "sessions_maintenance_stream": "ROADMAP item 5 runs it as a CDC consumer",
    "compact_if_needed": "ROADMAP item 5's maintenance daemon runs it",
    "compact_if_drifted": "ROADMAP item 5's maintenance daemon runs it",
}


def _identifiers(node) -> Counter:
    """Every identifier ``node`` uses: names, attributes, imported names
    and identifier-shaped string constants (getattr/registry keys)."""
    out = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
        ):
            out[n.value] += 1
    return out


def _reached_only_from_tests() -> list[str]:
    """Public top-level defs and classes of the package that no
    registered query, package module (outside the def's own body),
    ``tools/`` script, ``perfbench/`` file, ``bench.py`` or
    ``__spark_entry__.py`` names."""
    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = sorted((root / "cours_datalake_dwh_td_kafka_spark").rglob("*.py"))
    others = [
        *sorted((root / "tools").glob("*.py")),
        *sorted((root / "perfbench").rglob("*.py")),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]
    trees = {p: ast.parse(p.read_text()) for p in pkg + others}
    total = Counter()
    for t in trees.values():
        total += _identifiers(t)
    found = []
    for p in pkg:
        for n in trees[p].body:
            if not isinstance(n, (ast.FunctionDef, ast.ClassDef)):
                continue
            if n.name.startswith("_") or any(
                isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register"
                for d in n.decorator_list
            ):
                continue
            own = _identifiers(n)[n.name]
            if total[n.name] - own == 0:
                found.append(f"{p.relative_to(root)}::{n.name}")
    return found


def test_no_public_surface_reached_only_from_tests():
    """Test-only library surface cannot grow back: a new public function
    that only its own tests call fails here until a query, a tool or the
    allowlist above (with its reason) claims it."""
    found = _reached_only_from_tests()
    unlisted = [f for f in found if f.split("::")[1] not in _TEST_ONLY_ALLOWED]
    assert unlisted == [], f"reached only from tests/: {unlisted}"
    stale = set(_TEST_ONLY_ALLOWED) - {f.split("::")[1] for f in found}
    assert stale == set(), f"allowlisted but reached outside tests: {stale}"
