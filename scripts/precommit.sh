#!/bin/sh
# Pre-commit smoke: the JVM-free classifier checks (~3 s).  Round-5
# post-mortem: a snapshot commit with an unresolved name in the matcher
# library silently broke ALL classification; these tests execute every
# matcher body without Spark, so that class of breakage fails the commit.
# Install:  ln -sf ../../scripts/precommit.sh .git/hooks/pre-commit
set -e
cd "$(git rev-parse --show-toplevel)"
# + the query-registry contract (imports, 85+ specs, oracles present,
# rotation names resolve) — a broken registration otherwise only
# surfaces at driver time
# + opcode-indexed dispatch ≡ full scan, so a wrong @opcodes declaration
# fails the commit
# + every package attribute the ingest benchmark wraps by name still
# exists, so an ingest refactor cannot silently blind traced runs
exec python -m pytest tests/test_classifier_smoke.py tests/test_bench_hooks.py \
  tests/test_registry_sanity.py tests/test_dispatch_parity.py \
  -q -x --no-header -p no:cacheprovider
