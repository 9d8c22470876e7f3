"""Each check of the benchmark accepts a correct output and rejects a
corrupted one.

    python3 -m pytest perfbench/test_checks.py -q

The checksum test starts a Spark session; the rest need none.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, run, wl_api, wl_ingest  # noqa: E402


@pytest.fixture(scope="module")
def store(tmp_path_factory):
    from tests.fixture_gen import generate

    return generate(str(tmp_path_factory.mktemp("ton")), n_traces=300, seed=3)


def test_trace_partition_rejects_a_moved_member(store):
    truth = wl_ingest._rows(f"{store}/transactions.parquet",
                            ["trace_id", "hash"])
    states = dict(wl_ingest._rows(f"{store}/traces.parquet",
                                  ["trace_id", "state"]))
    final = [(t, h) for t, h in truth if states[t] != "pending"]
    broken = {t for t, s in states.items() if s == "broken"}
    cut = wl_ingest.cut_pieces(store, final, broken)
    ids = sorted({t for t, _ in final})
    assert checks.check_trace_partition(final, final, cut, ids) == []

    sizes: dict = {}
    for t, _ in final:
        sizes[t] = sizes.get(t, 0) + 1

    def first_member(want_broken: bool) -> int:
        return next(i for i, (t, _) in enumerate(final)
                    if sizes[t] > 1 and (t in broken) == want_broken)

    # one member of a complete trace moved into another trace
    i = first_member(False)
    other = next(t for t in ids if t != final[i][0])
    moved = list(final)
    moved[i] = (other, moved[i][1])
    assert checks.check_trace_partition(moved, final, cut, ids)

    # a trace split in two pieces within one drop is rejected, broken or not
    for want_broken in (False, True):
        i = first_member(want_broken)
        split = list(final)
        split[i] = ("piece", split[i][1])
        assert checks.check_trace_partition(split, final, cut,
                                            ids + ["piece"])


def test_broken_trace_passes_only_when_cut_at_the_drop_boundary():
    # broken trace b: r -> x -> z and r -> y; r staged in drop 0, the rest
    # in drop 1.  Cut at the boundary it falls into {r}, {x, z} and {y}.
    edges = [("r", "x"), ("r", "y"), ("x", "z")]
    drop_of = {"r": 0, "x": 1, "y": 1, "z": 1}
    truth = [("b", h) for h in "rxyz"]
    cut = {"b": checks.drop_pieces({"r", "x", "y", "z"}, edges, drop_of)}
    assert sorted(map(sorted, cut["b"])) == [["r"], ["x", "z"], ["y"]]

    def partition(*pieces):
        final = [(f"f{i}", h) for i, p in enumerate(pieces) for h in p]
        return checks.check_trace_partition(
            final, truth, cut, [f"f{i}" for i in range(len(pieces))])

    assert partition("rxyz") == []            # whole
    assert partition("r", "xz", "y") == []    # cut at the boundary
    assert partition("r", "x", "z", "y")      # also cut inside drop 1
    assert partition("rxz", "y")              # a piece spans both drops
    assert partition("r", "xyz")              # drop 1's pieces merged


def test_conservation_rejects_a_lost_transaction():
    assert checks.check_conservation(100, 90, 10) == []
    assert checks.check_conservation(100, 89, 10)


def test_latest_states_and_actions_reject_a_changed_row():
    rows = [("a", "h1", 5, "t1", 1), ("b", "h2", 7, "t2", 2)]
    assert checks.check_latest_states(rows, list(reversed(rows))) == []
    assert checks.check_latest_states([rows[0], ("b", "h2", 6, "t2", 2)], rows)
    acts = [("tr", "ton_transfer", 1), ("tr", "ton_transfer", 1)]
    assert checks.check_actions(acts, acts) == []
    assert checks.check_actions(acts[:1], acts)  # duplicates count


def test_api_check_rejects_a_swapped_page_row(store):
    con = wl_api._duck(store)
    page = wl_api.expected_page(con, "messages", {})
    acc = wl_api.expected_page(con, "account_traces", {
        "account": con.execute("SELECT account FROM transactions LIMIT 1")
        .fetchone()[0]})
    con.close()
    assert len(page) > 1
    responses = [("messages", page), ("account_traces", acc)]
    assert checks.check_responses(responses, [page, acc]) == []
    swapped = [page[1], page[0], *page[2:]]
    assert checks.check_responses([("messages", swapped), responses[1]],
                                  [page, acc])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import harness

    s = harness.start_spark(str(tmp_path_factory.mktemp("spark")))
    yield s
    harness.stop_spark(s)


def test_checksum_rejects_a_changed_oracle_row(spark, tmp_path, monkeypatch):
    """The analytics check end to end: DuckDB answers an oracle over a small
    store, the answer is matched to the Spark output's types and
    checksummed, and compared with the checksum of the Spark output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench import wl_analytics

    monkeypatch.setattr(wl_analytics, "ORACLE_CACHE", str(tmp_path / "cache"))
    data = tmp_path / "store"
    data.mkdir()
    rows = {"r_regionkey": list(range(40)),
            "r_name": [f"region-{i % 7}" for i in range(40)],
            "r_comment": [f"{i / 3!r}" for i in range(40)]}
    pq.write_table(pa.table(rows), str(data / "region.parquet"))
    out = spark.read.parquet(str(data / "region.parquet")).selectExpr(
        "r_regionkey", "r_name", "cast(r_regionkey as double) / 3 AS third")
    got = wl_analytics.checksum(out)
    sql = "SELECT r_regionkey, r_name, r_regionkey / 3 AS third FROM region"
    changed = sql.replace("r_name,", "CASE WHEN r_regionkey = 17 THEN "
                          "r_name || 'x' ELSE r_name END AS r_name,")
    for name, oracle, ok in (("same", sql, True), ("changed", changed, False)):
        want, typing = wl_analytics.oracle_checksum(spark, name, oracle,
                                                    str(data), out.schema)
        assert typing == []
        assert (checks.check_checksum(name, got, want) == []) is ok
    # an output narrowed to another kind of type is reported, not cast:
    # casting the oracle's 17/3 to bigint would agree with a truncated
    # output
    truncated = out.withColumn("third", out["third"].cast("bigint"))
    _, typing = wl_analytics.oracle_checksum(spark, "trunc", sql, str(data),
                                             truncated.schema)
    assert typing and "third" in typing[0]
    # narrowing between integer widths is cast, but a value the narrow
    # type cannot hold reads as NULL, so the checksums differ
    big = sql.replace("r_regionkey, r_name", "r_regionkey * 4294967296 + "
                      "r_regionkey AS r_regionkey, r_name")
    narrow = out.withColumn("r_regionkey", out["r_regionkey"].cast("int"))
    want, typing = wl_analytics.oracle_checksum(spark, "narrow", big,
                                                str(data), narrow.schema)
    assert typing == []
    assert checks.check_checksum("narrow", wl_analytics.checksum(narrow),
                                 want)
    # a duplicated row does not cancel out of the checksum
    doubled = out.unionByName(out.limit(1)).unionByName(out.limit(1))
    assert checks.check_checksum("q", wl_analytics.checksum(doubled), got)


def test_benchmark_json_names_the_reported_metrics():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "cpu_ms_per_op"}
