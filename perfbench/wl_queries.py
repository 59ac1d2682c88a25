"""declared_queries: every declared query over seeded relational tables.

Set-up writes the tables, starts the session on them (so it sizes
shuffle partitions, AQE and the heap from their volume, as ``bench.py``
does) and caches ``documents`` and ``embeddings`` as ``bench.py`` does.
The timed pass then builds all 58 ``plans.QUERIES`` in declaration order
and collects their rows: the JVM's first pass, as a nightly job that
starts a session and runs the queries once sees it. Afterwards the rows
are hash-compared against DuckDB running each query's oracle SQL over
the same parquet files. Read-only: nothing is fetched and no state is
written.
"""

from __future__ import annotations

import gc
import os
import statistics
import time

from perfbench import gen

def setup(ctx) -> dict:
    tables = gen.relational_tables(ctx.seed)
    data = os.path.join(ctx.work, "tables")
    gen.write_tables(tables, data)
    ctx.input_checksum = gen.tables_checksum(tables)
    from eea_crawler_spark.plans import QUERIES

    # declaration order, as bench.py runs them: in a first pass a
    # seed-permuted order moves JIT warm-up between queries and makes
    # the q1-q32 share order noise
    return {"data_dir": data, "order": list(QUERIES), "rows": {}}


def warm(ctx, state: dict) -> None:
    from eea_crawler_spark.sources.tables import cache_tables

    cache_tables(ctx.spark, state["data_dir"], ("documents", "embeddings"))


def run(ctx, state: dict) -> None:
    from tests import oracle_utils as OU  # the repo's oracle compare, read-only

    from eea_crawler_spark.plans import CORE_QUERIES, ORACLE, QUERIES

    ms, minstr = {}, {}
    with ctx.timed("queries_pass"):
        for q in state["order"]:
            i0, t0 = ctx.instructions.read(), time.perf_counter()
            with ctx.tracer.span(f"plans.{q}.build"):
                df = QUERIES[q](ctx.spark, state["data_dir"])
            with ctx.tracer.span(f"plans.{q}.exec"):
                try:
                    state["rows"][q] = ([tuple(r) for r in df.collect()], df.columns)
                except Exception as ex:  # noqa: BLE001 - a failed check, not a crash
                    state["rows"][q] = ex
            ms[q] = (time.perf_counter() - t0) * 1000
            minstr[q] = (ctx.instructions.read() - i0) / 1e6
            # as bench.py: drop the plan so its checkpoint blocks can be
            # released before the next query (unmeasured)
            del df
            gc.collect()
    pass_s = sum(ms.values()) / 1000
    core_s = sum(v for q, v in ms.items() if q in CORE_QUERIES) / 1000

    con = OU.duckdb_connect(state["data_dir"])
    try:
        for q in state["order"]:
            got, what = state["rows"][q], f"oracle mismatch: {q}"
            try:
                if isinstance(got, Exception):
                    raise got
                ok = True
                if q in ORACLE:
                    rows, cols = got
                    exp_rows, exp_cols = OU.run_oracle(con, ORACLE[q])
                    ok = sorted(cols) == sorted(exp_cols) and OU.canon_rows(
                        rows, cols
                    ) == OU.canon_rows(exp_rows, exp_cols)
            except Exception as ex:  # noqa: BLE001 - a failed check, not a crash
                ok = False
                what = f"{q} ({type(ex).__name__}: {ex})"[:300]
            ctx.check(ok, what)
    finally:
        con.close()

    ctx.metrics.update(
        {
            "bulk_ginstr": sum(minstr.values()) / 1000,
            "step_ginstr": sum(v for q, v in minstr.items() if q in CORE_QUERIES) / 1000,
            # geometric mean: the per-query counts span three orders of
            # magnitude, and a C2 compilation lands in whichever query runs
            # beside it (the median query read 3.4-3.9 G over five seeds,
            # the geometric mean 3.8-4.0 G)
            "op_minstr": statistics.geometric_mean(minstr.values()),
        }
    )
    ctx.detail.update(
        {
            "queries_pass_s": pass_s,
            "queries_core_s": core_s,
            "query_p50_ms": statistics.median(ms.values()),
            "queries": len(ms),
            "oracle_checked": sum(1 for q in ms if q in ORACLE),
            "query_ms": {q: round(v, 1) for q, v in ms.items()},
            "query_minstr": {q: round(v, 1) for q, v in minstr.items()},
        }
    )
