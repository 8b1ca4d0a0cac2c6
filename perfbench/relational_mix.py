"""Workload `relational_mix`: one closed-loop client runs a mix of relational
registry faces over TPC-H-like tables generated from the seed, in a
seed-permuted order each pass. One operation is one face: its DataFrame is
built with the registry's `fn` and fetched to the client with `toPandas`.
Every result is checked, exactly and order-insensitively, against DuckDB
running the face's registry `oracle` SQL on the same parquet files.
"""
from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np

import common

NAME = "relational_mix"
# six faces that together read lineitem, orders, events and documents:
# a multi-aggregate, a fact-fact join, an as-of join and a session window
# with ~1e4-row results (client fetch), an md5 dedup and regex tokenizing
FACES = ("agg_pricing_summary", "join_sortmerge_large", "join_asof",
         "win_session", "dedup_exact", "text_token_counts")
SIZES = {
    "full": {"customers": 3000, "orders": 30000, "events": 20000,
             "documents": 2000},
    "tiny": {"customers": 60, "orders": 300, "events": 300,
             "documents": 60},
}
WORDS = ("spark batch part line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data the and of vector join customer").split()
# a run times at least this many passes (~13-15 s on a 4-core box, more
# than --seconds): queries still speed up from pass to pass, so a loop cut
# by time alone would make a slow run's average come from earlier passes
MIN_PASSES = 6
# queries are ~20 % faster in the second pass than in the first and still
# get ~15 % faster over the next four; the loop starts after that
WARMUP_PASSES = 5
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
US_PER_DAY = 86_400_000_000


def _tables(sz: dict, rng: np.random.Generator) -> dict:
    """The four tables the faces read, schemas as in the registry's
    testdata. Prices are whole numbers and discounts multiples of 1/64, so
    every sum the faces take is exact in doubles and the comparison with
    DuckDB does not depend on summation order."""
    import pyarrow as pa

    ts = pa.timestamp("us")
    n_o = sz["orders"]
    o_date = (np.datetime64("1992-01-01", "us")
              + rng.integers(0, 7 * 365, n_o) * np.timedelta64(1, "D"))
    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, sz["customers"], n_o),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": rng.integers(1_000, 400_000, n_o).astype(np.float64),
        "o_orderdate": pa.array(o_date, type=ts),
        "o_orderpriority": rng.choice(PRIORITIES, n_o),
    })
    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    l_date = (np.repeat(o_date, lines)
              + rng.integers(1, 122, n_l) * np.timedelta64(1, "D"))
    lineitem = pa.table({
        "l_orderkey": np.repeat(np.arange(n_o, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, 20_000, n_l),
        "l_suppkey": rng.integers(0, 1_000, n_l),
        "l_linenumber": (np.arange(n_l) - np.repeat(np.cumsum(lines) - lines,
                                                    lines) + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": qty * rng.integers(900, 2_100, n_l),
        "l_discount": rng.integers(0, 7, n_l) / 64.0,
        "l_tax": rng.integers(0, 9, n_l) / 64.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": pa.array(l_date, type=ts),
    })
    n_e = sz["events"]
    # distinct instants over two weeks, so no two events tie on ts
    e_us = np.sort(rng.choice(14 * US_PER_DAY, n_e, replace=False))
    events = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + e_us.astype("timedelta64[us]"), type=ts),
        "user_id": rng.integers(0, sz["customers"], n_e),
        "event_type": rng.choice(["view", "click", "signup", "error"], n_e),
        "value": rng.integers(0, 20_000, n_e) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    texts = []
    for d in range(sz["documents"]):
        if d > 10 and rng.random() < 0.05:          # a near-verbatim copy
            src = texts[int(rng.integers(0, d))]
            texts.append("  " + src.upper().replace(" ", " \t", 3) + " ")
            continue
        words = list(rng.choice(WORDS, int(rng.integers(8, 60))))
        for k in rng.integers(0, len(words), int(rng.integers(0, 4))):
            words[k] = rng.choice([str(rng.integers(0, 1000)), "x-1", "(a)",
                                   "ok.", "v2,"])
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "zh"], len(texts)),
        "source": rng.choice(["src0", "src1", "src2"], len(texts)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"orders": orders, "lineitem": lineitem, "events": events,
            "documents": documents}


def make_inputs(size: str, seed: int, work: str) -> dict:
    """The tables as one parquet file each, and a seed-permuted face order
    per pass (enough passes for any loop)."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    data_dir = os.path.join(work, "tables")
    os.makedirs(data_dir)
    for name, table in _tables(SIZES[size], rng).items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
    orders = [list(rng.permutation(FACES)) for _ in range(1000)]
    return {"dir": data_dir, "orders": orders,
            "size": f"{size}: " + ", ".join(
                f"{k} {v}" for k, v in SIZES[size].items())}


def import_registry() -> dict:
    """Import every registry module (the registry's own set-up cost)."""
    from process_nwb_spark.relational.core import all_queries

    return all_queries()


def _oracle_check():
    """The registry's DuckDB comparison (exact, order-insensitive)."""
    sys.path.insert(0, os.path.join(common.REPO, "tests"))
    import run_oracle_check
    return run_oracle_check


def expected(inputs: dict) -> dict:
    """Each face's oracle SQL run once by DuckDB on the same files."""
    import duckdb

    from process_nwb_spark.relational.core import all_queries

    registry = all_queries()
    con = duckdb.connect()
    for f in os.listdir(inputs["dir"]):
        con.sql(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM "
                f"'{os.path.join(inputs['dir'], f)}'")
    want = {n: con.sql(registry[n].oracle).df() for n in FACES}
    con.close()
    return want


def query(spark, data_dir: str, name: str):
    """One operation: build the face's DataFrame and fetch it."""
    from process_nwb_spark.relational.core import all_queries

    return all_queries()[name].fn(spark, data_dir).toPandas()


def measure(spark, ctx, inputs: dict, seconds: float, label: str) -> dict:
    """Whole passes over the faces, each in its own seed-permuted order,
    until `seconds` have passed and at least MIN_PASSES are done. Results
    are kept and checked after the loop."""
    from process_nwb_spark.relational.core import clear_persist_slots

    times, outs, names = [], [], []
    t_end = time.perf_counter() + seconds
    for order in inputs["orders"]:
        if (len(times) >= MIN_PASSES * len(FACES)
                and time.perf_counter() >= t_end):
            break
        for name in order:
            group = f"{NAME}.{label}.q{len(times)}"
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"{NAME}.query"), \
                        common.job_group(spark, group):
                    pdf = query(spark, inputs["dir"], name)
            except Exception:       # a failed query; the loop goes on
                traceback.print_exc()
                pdf = None
            times.append(time.perf_counter() - t0)
            outs.append((pdf, group))
            names.append(name)
            clear_persist_slots()
    return {"op_times": times, "wall": sum(times), "outputs": outs,
            "names": names}


def op_p50(result: dict) -> float:
    """`op_p50_s`: the mean over the faces of each face's median query time.
    The faces take from ~0.3 s to ~0.8 s each, so the median pooled over the
    mix falls in a gap between two faces' times and jumps across it from
    run to run; each face's own median does not."""
    per_face: dict[str, list[float]] = {}
    for t, name in zip(result["op_times"], result["names"]):
        per_face.setdefault(name, []).append(t)
    return sum(common.median(v) for v in per_face.values()) / len(per_face)


def verify(result: dict, want: dict, corrupt: bool = False) -> list:
    """One verdict per query; `corrupt` perturbs the first result."""
    compare = _oracle_check().compare
    ok = []
    for i, ((pdf, _), name) in enumerate(zip(result["outputs"],
                                             result["names"])):
        if pdf is None:
            ok.append(False)
            continue
        if corrupt and i == 0:
            pdf = pdf.iloc[1:] if len(pdf) > 1 else pdf.iloc[:0]
        problems, _ = compare(name, pdf, want[name])
        ok.append(not problems)
    return ok


def warm_up(spark, inputs: dict, work: str) -> None:
    """WARMUP_PASSES passes over the faces: a face's first run in a JVM
    compiles its plan's generated code, and the JIT keeps making queries
    faster for several passes after that."""
    from process_nwb_spark.relational.core import clear_persist_slots

    for _ in range(WARMUP_PASSES):
        for name in FACES:
            query(spark, inputs["dir"], name)
            clear_persist_slots()


def layers(spark, ctx, inputs: dict, result: dict) -> tuple[dict, dict]:
    """Per-layer numbers for the traced run: for each face, the plan build
    (the registry `fn` call), the execution alone (a noop write) and the
    exchange count, medians over `reps` runs; the client fetch is the
    traced loop's query time minus build and execution."""
    from process_nwb_spark.plans.inspect import count_exchanges
    from process_nwb_spark.relational.core import (all_queries,
                                                   clear_persist_slots)

    registry, reps = all_queries(), 3
    build, run, exchanges = {}, {}, {}
    for name in FACES:
        b, r = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            with ctx.tracer.span(f"relational.build.{name}"):
                df = registry[name].fn(spark, inputs["dir"])
            t1 = time.perf_counter()
            with ctx.tracer.span(f"relational.execute.{name}"), \
                    common.job_group(spark, f"{NAME}.cut.{name}"):
                common.noop_write(df)
            b.append(t1 - t0)
            r.append(time.perf_counter() - t1)
            clear_persist_slots()
        build[name], run[name] = common.median(b), common.median(r)
        exchanges[name] = count_exchanges(df)
    per_face_q = {}
    for t, name in zip(result["op_times"], result["names"]):
        per_face_q.setdefault(name, []).append(t)
    fetch = {n: common.median(per_face_q[n]) - build[n] - run[n]
             for n in FACES}
    bases = {"client.to_pandas_s":
             "sum over the faces of (median toPandas query - median build "
             "- median noop execution); per face: " + ", ".join(
                 f"{n} {fetch[n]:.4f} s" for n in FACES),
             "relational.plan_build_s": "sum over the faces of the median "
             "registry fn call"}
    return {
        **{f"relational.{n}_s": run[n] for n in FACES},
        **{f"relational.{n}.exchanges": exchanges[n] for n in FACES},
        "relational.plan_build_s": sum(build.values()),
        "client.to_pandas_s": sum(fetch.values()),
    }, bases
