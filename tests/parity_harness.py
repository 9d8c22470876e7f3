"""Shared YAML-expectation evaluator for reference golden-trace parity.

Reimplements the comparison semantics of the reference's YAML test driver
(indexer/tests/utils/generic_yaml_test.py:17-194) against the plain action
dicts our classifier produces:

* dotted paths with ``[n]`` array indexing traverse nested dicts/lists;
* ``{{ ... }}`` expected values are Jinja conditions evaluated with the
  actual value bound as ``value``;
* expected lists match iff lengths are equal and every expected item
  matches *some* actual item (unordered);
* expected dicts recurse per key (missing key = failure);
* everything else compares by equality.

Exactly one action of the expected type must match (after the optional
Jinja ``selector``), as in the reference driver (generic_yaml_test.py:186).
"""

from __future__ import annotations

import pathlib
import re
from typing import Any

import yaml

try:
    from jinja2 import Template
except ImportError:  # pragma: no cover - jinja2 is present in CI image
    Template = None

REF_TESTS = pathlib.Path("/root/reference/indexer/tests")
TRACES_DIR = REF_TESTS / "traces"
CASES_DIR = REF_TESTS / "test_cases"

# size of the reference's shipped golden set: 122 lz4 trace fixtures and
# 121 YAML cases (SURVEY.md "Classifier correctness"; README)
REF_TRACE_FIXTURES = 122
REF_YAML_CASES = 121


def reference_params(params: list, found_in: pathlib.Path, n_cases: int,
                     n_args: int = 1) -> list:
    """``params`` unchanged, or — when ``found_in`` is absent — one
    explicitly skipped parameter saying which path is missing and how many
    cases did not run (instead of pytest's silent empty parameter set)."""
    if found_in.is_dir():
        return params
    import pytest

    return [pytest.param(
        *([None] * n_args), id="reference-absent",
        marks=pytest.mark.skip(
            reason=f"{found_in} is absent: {n_cases} reference golden "
            "cases did not run"),
    )]

_IDX = re.compile(r"(.+?)\[(\d+)\](.*)$")


class ParityError(AssertionError):
    pass


def get_path(obj: Any, path: str) -> Any:
    for part in path.split("."):
        m = _IDX.match(part)
        key, idx = (m.group(1), int(m.group(2))) if m else (part, None)
        if isinstance(obj, dict):
            obj = obj.get(key)
        else:
            obj = getattr(obj, key, None)
        if idx is not None:
            obj = obj[idx] if isinstance(obj, (list, tuple)) and len(obj) > idx else None
        if obj is None:
            return None
    return obj


def _jinja_ok(expr: str, value: Any) -> bool:
    res = Template(expr).render(value=value)
    if res.lower() == "true":
        return True
    if res.lower() == "false":
        return False
    return bool(res)


def check_value(actual: Any, expected: Any, path: str) -> None:
    if isinstance(expected, str) and expected.startswith("{{") and expected.endswith("}}"):
        if not _jinja_ok(expected, actual):
            raise ParityError(
                f"{path}: condition {expected!r} failed for {actual!r}")
    elif isinstance(expected, list) and isinstance(actual, list):
        if len(actual) != len(expected):
            raise ParityError(
                f"{path}: length {len(actual)} != {len(expected)} "
                f"(actual {actual!r}, expected {expected!r})")
        for item in expected:
            if not any(_matches(a, item, path) for a in actual):
                raise ParityError(
                    f"{path}: expected item {item!r} not in {actual!r}")
    elif isinstance(expected, dict) and isinstance(actual, dict):
        for k, v in expected.items():
            if k not in actual:
                raise ParityError(
                    f"{path}.{k}: missing (actual keys {sorted(actual)})")
            check_value(actual[k], v, f"{path}.{k}")
    else:
        if actual != expected:
            raise ParityError(
                f"{path}: {actual!r} != expected {expected!r}")


def _matches(actual: Any, expected: Any, path: str) -> bool:
    try:
        check_value(actual, expected, path)
        return True
    except AssertionError:
        return False


def load_cases(yaml_name: str) -> dict[str, dict]:
    with open(CASES_DIR / yaml_name) as f:
        return (yaml.safe_load(f) or {}).get("cases", {})


def run_case(case: dict, actions: list[dict]) -> None:
    """Assert one YAML case's expected-actions over classified actions."""
    for exp in case.get("expected-actions", []):
        a_type = exp["type"]
        cands = [a for a in actions
                 if (a.get("type") or "").lower() == a_type.lower()]
        sel = exp.get("selector")
        if sel and cands:
            cands = [a for a in cands if _jinja_ok(sel, a)][:1] or []
            if not cands:
                raise ParityError(
                    f"no {a_type} action matched selector {sel!r}; "
                    f"candidates: {[a.get('action_id') for a in actions if (a.get('type') or '').lower() == a_type.lower()]}")
        if len(cands) != 1:
            raise ParityError(
                f"expected 1 action of type {a_type}, found {len(cands)} "
                f"(all types: {[a.get('type') for a in actions]})")
        for path, expected in (exp.get("values") or {}).items():
            check_value(get_path(cands[0], path), expected, path)


def audit_extras(yaml_name: str, case_name: str, case: dict,
                 actions: list[dict]) -> None:
    """Beyond-reference tripwire: the multiset of TOP-LEVEL action types not
    named by the YAML expectations must equal the pinned snapshot
    (tests/parity_extras.py).  The reference driver never counts total
    actions, so an over- or under-claiming matcher could pass its checks;
    this pins the full emission per fixture.  Regenerate deliberately with
    tests/regen_parity_extras.py after intentional matcher changes."""
    from parity_extras import EXTRA_TOP_LEVEL

    expected_types = {
        e["type"].lower() for e in case.get("expected-actions", [])
    }
    top = [a for a in actions if a.get("parent_action_id") is None]
    extra = tuple(sorted(
        (a.get("type") or "") for a in top
        if (a.get("type") or "").lower() not in expected_types
    ))
    pinned = EXTRA_TOP_LEVEL.get((yaml_name, case_name), ())
    if extra != pinned:
        raise ParityError(
            f"extra top-level actions changed: emitted {extra!r}, "
            f"pinned {pinned!r} — if intentional, rerun "
            f"tests/regen_parity_extras.py and review the diff")


def run_yaml_case(yaml_name: str, case_name: str) -> None:
    from ton_indexer_spark.classifier.fixture_replay import replay_fixture

    case = load_cases(yaml_name)[case_name]
    trace_id = case["trace-id"]
    actions = replay_fixture(TRACES_DIR / f"{trace_id}.lz4")
    run_case(case, actions)
    audit_extras(yaml_name, case_name, case, actions)
