"""Golden-trace parity against the reference's own shipped fixtures.

Replays the reference's real-chain trace fixtures
(indexer/tests/traces/*.lz4 — lz4-framed msgpack, decoded by the in-repo
clean-room codec) through this engine's classifier and asserts the
reference's own YAML expectations (indexer/tests/test_cases/*.yaml) with
the same comparison semantics as its test driver
(indexer/tests/utils/generic_yaml_test.py).

Every (yaml, case) pair is parametrized.  Cases in KNOWN_GAPS are
xfail(strict) — they document matcher/decoder deltas still being closed;
the strictness means a silently-fixed case fails the suite until it is
removed from the list, so the list can only shrink.
"""

from __future__ import annotations

import pytest

from parity_harness import (
    CASES_DIR,
    REF_YAML_CASES,
    load_cases,
    reference_params,
    run_yaml_case,
)

# (yaml file, case name) pairs not yet at parity.  Shrink, never grow.
KNOWN_GAPS: set[tuple[str, str]] = {
}


def _all_cases() -> list[tuple[str, str]]:
    out = []
    for yf in sorted(CASES_DIR.glob("*.yaml")):
        for name in load_cases(yf.name):
            out.append((yf.name, name))
    return out


@pytest.mark.parametrize(
    "yaml_name,case_name",
    reference_params(
        [
            pytest.param(
                y, c,
                id=f"{y.removesuffix('.yaml')}:{c}",
                marks=(
                    [pytest.mark.xfail(
                        reason="documented parity gap", strict=True)]
                    if (y, c) in KNOWN_GAPS else []
                ),
            )
            for y, c in _all_cases()
        ],
        CASES_DIR, REF_YAML_CASES, n_args=2,
    ),
)
def test_reference_golden_case(yaml_name, case_name):
    run_yaml_case(yaml_name, case_name)
