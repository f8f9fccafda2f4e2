#!/usr/bin/env python
"""Interleaved Spark-vs-DuckDB A/B over the bench headline set.

Host wall timings drift 25-40% with hypervisor load, so only
same-window ratios are meaningful (PERFORMANCE.md). This runner
alternates Spark and DuckDB executions per query within one window:
for each query it runs [spark, duck, spark, duck, spark, duck] and
records each engine's min, then prints per-query and total ratios.

Materialization protocol (r8, VERDICT r7 item 1): SYMMETRIC full
Arrow materialization — Spark ``.toArrow()`` vs DuckDB ``.arrow()``.
Both engines execute every output expression (no count()-style
pruning) and both hand the complete result to client-side Arrow; see
bench.py's module docstring for the measurements behind rejecting
collect()-vs-fetchall() (pickled-Row construction is a client-binding
artifact that charges Spark +0.15 s on a 53k-row result for work
DuckDB's C tuple builder does in 0.03 s).

Session sizing and warm-up are IMPORTED from bench.py (sized_session /
warm_up) so the A/B always measures under the configuration the bench
records — a policy change there cannot silently diverge this tool.

Usage: python tools/ab.py [query ...]   (default: bench HEADLINE set)
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import HEADLINE, sized_session, warm_up  # noqa: E402
from tests.oracle_harness import duck_con  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or list(HEADLINE)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = sized_session(sf_dir, app_name="ab")
    con = duck_con(sf_dir)
    warm_up(spark, sf_dir)

    rows = []
    for name in names:
        fn = queries[name]
        sql = oracles.get(name)
        # one untimed warm execution per engine: whole-stage-codegen
        # compilation and JIT for THIS query's plan settle outside the
        # timed region (the shared warm_up only exercises generic
        # machinery). Symmetric — DuckDB's first run warms its caches
        # the same way; what the window then measures is steady-state
        # per-query cost, the quantity that extrapolates.
        s_best = d_best = float("inf")
        # per-query landed confs ride the queries themselves since r16
        # (session.conf_pinned_session) — nothing to wrap here
        fn(spark, sf_dir).toArrow()
        if sql is not None:
            con.sql(sql).arrow()
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).toArrow()
            s_best = min(s_best, time.perf_counter() - t0)
            if sql is not None:
                t0 = time.perf_counter()
                con.sql(sql).arrow()
                d_best = min(d_best, time.perf_counter() - t0)
        rows.append((name, s_best, d_best if sql else float("nan")))
        ratio = s_best / d_best if sql else float("nan")
        print(f"{name:40s} spark {s_best:7.3f}  duck {d_best:7.3f}  ratio {ratio:6.2f}x",
              flush=True)

    s_tot = sum(r[1] for r in rows)
    d_tot = sum(r[2] for r in rows if r[2] == r[2])
    try:
        load = round(os.getloadavg()[0], 2)
    except OSError:
        load = None
    print(json.dumps({
        "spark_total": round(s_tot, 3),
        "duck_total": round(d_tot, 3),
        "ratio": round(s_tot / d_tot, 3) if d_tot else None,
        "n_queries": len(rows),
        "load_avg_1m": load,
    }))


if __name__ == "__main__":
    main()
