"""Workload ``analytics``: a fixed subset of the registered query specs
over the sf0.1 store, each consumed through a full-column checksum, with
Spark's cache cleared before each query.

The subset holds two of the costliest specs of the bench set and one spec per
operator family, so ``operators``, ``dedup`` and ``similarity`` do their
work here on data large enough for operator time to matter.  The store is
fixed and the queries run in a fixed order, since whichever query runs
first in a session pays for compiling shared operators and starting Python
workers; the seed therefore changes nothing here.
"""

from __future__ import annotations

import hashlib
import json
import os

from perfbench import checks
from perfbench.harness import CACHE_DIR, median

# dedup_cluster_canonical runs the shingle-Jaccard pair join of
# dedup_ngram_jaccard and the connected_components operator as its two
# stages, so those two specs are not run on their own
QUERIES = (
    "dedup_cluster_canonical", "classify_actions", "join_enrich", "group_agg",
    "sessionize", "filter_sort_page", "embed_ivf_topk",
)
ORACLE_CACHE = os.path.join(CACHE_DIR, "oracle")


def sf_dir() -> str:
    """``$SPARK_GRAFT_SF_DIR`` as in bench.py, else the sf0.1 store beside
    the sf0.01 one that the test suite reads."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    from tests.conftest import SF_MED

    return os.path.join(os.path.dirname(SF_MED), "sf0.1")


def checksum(df) -> tuple[int, int, int]:
    """(rows, bit_xor, sum) of xxhash64 over every output column, computed
    JVM-side.  Unlike a count, it cannot be pruned to a row-count plan, so
    every column materializes; the sum keeps duplicate rows from cancelling
    out of the xor."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[df[c] for c in df.columns]).alias("_h")
    row = df.select(h).agg(
        F.count(F.lit(1)), F.expr("bit_xor(_h)"),
        F.sum(F.col("_h").cast("decimal(38,0)"))).collect()[0]
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


def _input_key(path: str) -> str:
    """Names and sizes of the store's files: a changed store changes it."""
    parts = []
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(root, f)
            parts.append(f"{os.path.relpath(p, path)}:{os.path.getsize(p)}")
    return "\n".join(parts)


def _cast_to(col, src, dst):
    """``col`` of the oracle's type ``src`` as the spec's type ``dst``, or
    None where the cast could change a value.  The oracle is only widened,
    or narrowed between integer widths; a value that the narrow type cannot
    hold reads as NULL (``try_cast``), so the checksums differ."""
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if src == dst:
        return col
    if isinstance(src, integral) and isinstance(dst, integral):
        return col.try_cast(dst)
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType) \
            and dst.scale >= src.scale \
            and dst.precision - dst.scale >= src.precision - src.scale:
        return col.cast(dst)
    if isinstance(src, T.FloatType) and isinstance(dst, T.DoubleType):
        return col.cast(dst)
    return None


def oracle_checksum(spark, name: str, sql: str, data: str,
                    schema) -> tuple[tuple, list[str]]:
    """The checksum of the spec's DuckDB oracle answer, with the problems
    found in matching its columns to the spec's output types.  A column is
    cast only where no value can change (``_cast_to``): a spec that returns
    a narrower or other kind of type than its oracle is reported, never
    rounded into agreement.  Cached under ``.cache/oracle`` by the SQL
    text, the input files and the output schema."""
    key = hashlib.sha256("\0".join(
        (sql, _input_key(data), schema.json())).encode()).hexdigest()[:24]
    path = os.path.join(ORACLE_CACHE, f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        return tuple(cached["checksum"]), cached["problems"]
    import duckdb

    from tests.oracle_harness import register_duck_views

    os.makedirs(ORACLE_CACHE, exist_ok=True)
    answer = os.path.join(ORACLE_CACHE, f"{name}-{key}.parquet")
    con = duckdb.connect()
    register_duck_views(con, data)
    con.execute(f"COPY ({sql.strip().rstrip(';')}) TO '{answer}' "
                "(FORMAT PARQUET)")
    con.close()
    odf = spark.read.parquet(answer)
    have = {f.name: f.dataType for f in odf.schema.fields}
    cols, problems = [], []
    for f in schema.fields:
        c = (_cast_to(odf[f.name], have[f.name], f.dataType)
             if f.name in have else None)
        if c is None:
            problems.append(
                f"{name}: column {f.name} is {f.dataType.simpleString()}, "
                f"its oracle's is "
                f"{have[f.name].simpleString() if f.name in have else 'absent'}")
        else:
            cols.append(c.alias(f.name))
    value = checksum(odf.select(*cols)) if not problems else (0, 0, 0)
    with open(path, "w") as fh:
        json.dump({"checksum": list(value), "problems": problems}, fh)
    return value, problems


def run(ctx):
    data = sf_dir()
    spark = ctx.start_spark()
    from ton_indexer_spark.catalog import Catalog
    from ton_indexer_spark.queries import all_specs

    specs = {q: all_specs()[q] for q in QUERIES}
    cat = Catalog(spark, data)
    for t in cat.available():  # catalog warm-up: schemas from the footers
        cat.table(t)

    tr = ctx.tracer
    per_query: list[float] = []
    round_s: list[float] = []
    build: dict[str, list[float]] = {q: [] for q in QUERIES}
    runs: dict[str, list[float]] = {q: [] for q in QUERIES}
    got: dict[str, list[tuple]] = {q: [] for q in QUERIES}
    schemas: dict = {}
    counts: list[dict] = []
    rounds = failed = attempted = 0
    ctx.begin_measure()
    while True:
        r0 = ctx.measure_elapsed()
        for q in QUERIES:
            attempted += 1
            tr.op_id = f"query-{q}"
            cnt: dict = {}
            spark.catalog.clearCache()
            try:
                with ctx.job_group(tr.op_id, cnt), \
                        tr.span("analytics.query", query=q):
                    t0 = ctx.clock.now()
                    with tr.span("analytics.build"):
                        df = specs[q].builder(spark, data)
                    t1 = ctx.clock.now()
                    with tr.span("analytics.run"):
                        got[q].append(checksum(df))
                    t2 = ctx.clock.now()
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                failed += 1
                ctx.log(f"query {q} failed: {exc!r}")
                continue
            schemas[q] = df.schema
            build[q].append(t1 - t0)
            runs[q].append(t2 - t1)
            per_query.append(t2 - t0)
            counts.append(cnt)
        rounds += 1
        round_s.append(ctx.measure_elapsed() - r0)
        if ctx.measure_elapsed() >= ctx.seconds:
            break
    wall = ctx.end_measure()
    tr.op_id = None
    spark.catalog.clearCache()

    problems: list[str] = []
    for q in schemas:
        want, typing = oracle_checksum(spark, q, specs[q].oracle, data,
                                       schemas[q])
        problems += typing
        for value in [] if typing else got[q]:
            problems += checks.check_checksum(q, value, want)

    # a round's queries are different operations, so its wall time, not
    # a median across them, is the latency figure
    e2e = {"cpu_ms_per_op": ctx.cpu_ms_per_op(attempted)}
    layer = {"analytics.round_s": median(round_s),
             "analytics.queries_per_s": len(per_query) / wall}
    if tr.enabled:
        layer["spark.jobs_per_query"] = (sum(c["jobs"] for c in counts)
                                         / max(1, len(counts)))
        for q in QUERIES:
            layer[f"analytics.build_s.{q}"] = median(build[q])
            layer[f"analytics.run_s.{q}"] = median(runs[q])
    ctx.log(f"{rounds} round(s), {len(per_query)} queries in {wall:.2f}s, "
            f"{ctx.cpu_s:.1f} CPU s, {len(problems)} problems; last round: "
            + ", ".join(f"{q} {build[q][-1] + runs[q][-1]:.2f}s"
                        for q in QUERIES if runs[q]))
    return problems, attempted, failed, e2e, layer
