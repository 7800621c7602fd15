"""``batch_headline`` workload: 15 of the ``bench.py`` HEADLINE queries
(``layers.HEADLINE``), one at a time, as a closed loop with one client.

Input: seeded star-schema tables (``tables.py``). Setup writes them,
then runs every query once untimed into a noop sink: this compiles each
plan's code paths, starts the Python workers, and lets the flagship
write on its first call the generated turns table it reads.

Timed: each query's ``collect()``, which runs the whole plan and hands
the rows to the client; a pass is the sum over the queries, repeated
while the run has time left. The rows are hashed after the timed region
and compared with the query's DuckDB ``oracle_sql()`` result, hashed
with ``tools/check_correctness.py``'s normalisation. The oracle runs
after the timed region, outside ``setup_s``.

Streaming state, streaming sinks and the stream stages are not called.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

import duckdb

from layers import HEADLINE
from tables import write_tables

def _value_hash():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "check_correctness.py",
    )
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def run(run, top) -> dict:
    spark = run.spark
    sf = write_tables(run.seed, run.path("sf"))
    from spamscope_spark.plans import queries as q

    # The flagship writes its generated turns under a fixed /tmp path;
    # keep the run's writes inside its work directory.
    fixed_path = q._FLAGSHIP_TURNS_PATH
    q._FLAGSHIP_TURNS_PATH = run.path("flagship_turns")
    import __spark_entry__ as entry

    qs = entry.queries()
    run.log("tables written")
    for name in HEADLINE:
        try:
            qs[name](spark, sf).write.format("noop").mode("overwrite").save()
        except Exception:  # the timed pass runs it again and reports it
            pass
    run.setup_done()
    run.log("warm queries done")

    passes: list[dict[str, float]] = []
    results: list[dict[str, tuple]] = []
    t_start = time.monotonic()
    while True:
        times, rows = {}, {}
        for name in HEADLINE:
            with run.tracer.span(f"query:{name}", top):
                t = time.monotonic()
                try:
                    df = qs[name](spark, sf)
                    rows[name] = (df.columns, [tuple(r) for r in df.collect()])
                except Exception as e:  # a failed query is reported, not fatal
                    rows[name] = e
                times[name] = time.monotonic() - t
        passes.append(times)
        results.append(rows)
        spent = time.monotonic() - t_start
        if spent >= run.seconds or time.monotonic() + 2 * sum(times.values()) > run.deadline:
            break
    run.measured_done()
    run.log(f"{len(passes)} pass(es) done")

    value_hash = _value_hash()
    con = duckdb.connect()
    for f in os.listdir(sf):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{sf}/{f}'")
    oracles = entry.oracle_sql()
    for name in HEADLINE:
        sql = oracles[name].replace(fixed_path, q._FLAGSHIP_TURNS_PATH)
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        expected = value_hash(res.fetchall(), ocols)
        for rows in results:
            got = rows[name]
            if isinstance(got, Exception):
                run.check(False, f"{name}: {str(got)[:300]}")
                continue
            cols, r = got
            ok = sorted(cols) == sorted(ocols) and value_hash(r, cols) == expected
            run.check(ok, f"{name}: hash differs from its DuckDB oracle")

    run.log("oracle checks done")

    headline = statistics.median([sum(p.values()) for p in passes])
    report = {
        "end_to_end": {"work_s": (headline, "s", len(passes))},
        "extra": {"headline_s": (headline, "s", len(passes))},
    }
    if run.traced:
        report["per_layer"] = {
            f"plans.{n}_s": statistics.median(p[n] for p in passes) for n in HEADLINE
        }
    return report
