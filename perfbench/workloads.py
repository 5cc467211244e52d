"""The benchmark's three workloads: their op panels, inputs and checks.

Every op is one closed-loop request: a call into the package's public
functions plus the step that materialises its result. Each op's result
is checked against a truth computed outside timing:

- ``wiki_etl``: ``pipeline.snapshot_from_dumps`` then
  ``pipeline.write_snapshots`` over seeded ``.7z`` history shards; the
  written Parquet must equal the first-revision-per-(page, day) rows the
  generator derived itself.
- ``sql_mix``: a fixed panel of declared queries that neither stream
  nor write at rest, each collected with Arrow ``toPandas()``.
- ``stream_store``: a fixed panel of streaming drains and store-at-rest
  writers, collected the same way.

Query results must equal the canonical result of the query's DuckDB
oracle SQL on the same generated tables.
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import os
import re
import shutil

import numpy as np
import pandas as pd

import gen

TABLE_SF = 0.01
# Queries that write Parquet at rest; with the streaming drains they
# make up the stream_store family, and sql_mix is everything else.
STORE_AT_REST = (
    "q120", "q121", "q122", "q124", "q146", "q148", "q152", "q155",
    "q156", "q183", "q184", "q189",
)
# Every SQL_MIX_STRIDE-th of the ~178 sql_mix queries in query-number
# order: an unbiased, fixed sample whose warm-up fits one run's budget.
SQL_MIX_STRIDE = 36
# A streaming drain with a state store (q101), a partitioned
# write_snapshots sink (q121) and an incremental snapshot merge (q152).
# The snapshot-store refresh q155 is left out: 8 s cold does not fit one
# run's budget.
STREAM_STORE_PANEL = ("q101", "q121", "q152")
DUMP_FILES = 8
DUMP_MB = 12.0
DUMP_STAGE = os.path.join(".perfbench_tmp", "dumps")
# Seconds one warm pass over each panel takes at 4 cores. The timed loop
# runs round(--seconds / this) passes: a fixed amount of work per run, so
# every run's samples come from the same point of the warm-up curve.
NOMINAL_PASS_S = {"wiki_etl": 2.4, "sql_mix": 3.0, "stream_store": 3.0}


def sql_mix_panel() -> tuple[str, ...]:
    from diachronic_spark.plans import QUERIES
    from diachronic_spark.plans.streaming_queries import STREAM_QUERIES

    names = sorted(
        (q for q in QUERIES if q not in STREAM_QUERIES and q not in STORE_AT_REST),
        key=lambda q: int(q[1:]),
    )
    return tuple(names[::SQL_MIX_STRIDE])


def panel(workload: str) -> tuple[str, ...]:
    return sql_mix_panel() if workload == "sql_mix" else STREAM_STORE_PANEL


# --------------------------------------------------------- canonical form


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "<N>"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "<N>" if math.isnan(v) else repr(round(v, 6) + 0.0)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def canon_digest(cols: list[str], columns: list[list]) -> str:
    """Digest of a result given column-wise: columns ordered by name,
    cells canonicalised, rows sorted. NULL and NaN share one token."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(zip(*[[_cell(v) for v in columns[i]] for i in order]))
    blob = json.dumps([[cols[i] for i in order], rows])
    return hashlib.sha256(blob.encode()).hexdigest()


_INTEGRAL = ("ByteType", "ShortType", "IntegerType", "LongType")


def pandas_digest(schema, pdf: pd.DataFrame) -> str:
    """``canon_digest`` of a ``toPandas()`` result. Integral columns that
    pandas widened to float because of NULLs are narrowed back."""
    columns = []
    for i, field in enumerate(schema.fields):
        values = pdf.iloc[:, i].tolist()
        if type(field.dataType).__name__ in _INTEGRAL:
            values = [
                int(v) if isinstance(v, float) and not math.isnan(v) else v
                for v in values
            ]
        columns.append(values)
    return canon_digest([f.name for f in schema.fields], columns)


# ------------------------------------------------------------------ inputs


def _build_oracle(out: str, seed: int, tables: str, names: tuple[str, ...]) -> dict:
    import duckdb

    from diachronic_spark.plans import ORACLE

    con = duckdb.connect()
    for t in os.listdir(tables):
        if t.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(tables, t)}')"
            )
    expected = {}
    for q in names:
        rel = con.sql(ORACLE[q])
        rows = rel.fetchall()
        expected[q] = canon_digest(list(rel.columns), [list(c) for c in zip(*rows)]
                                   if rows else [[] for _ in rel.columns])
    con.close()
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(expected, f)
    return {"queries": len(expected)}


def prepare(workload: str, seed: int) -> dict:
    """Generate (or re-use) the seeded inputs and their truth. Untimed."""
    if workload == "wiki_etl":
        root, meta = gen.cached(
            "dumps", seed, f"{DUMP_FILES}x{DUMP_MB:g}mb",
            functools.partial(gen.build_dumps, n_files=DUMP_FILES, total_mb=DUMP_MB),
        )
        # The parse assigns shards to tasks by hashing their paths, so the
        # shards are read from one fixed directory whatever the seed;
        # otherwise the task balance would change from seed to seed.
        shutil.rmtree(DUMP_STAGE, ignore_errors=True)
        os.makedirs(DUMP_STAGE)
        for f in meta["files"]:
            os.link(os.path.join(root, f), os.path.join(DUMP_STAGE, f))
        return {
            "paths": [os.path.abspath(os.path.join(DUMP_STAGE, f)) for f in meta["files"]],
            "truth": meta,
        }
    from diachronic_spark.plans import ORACLE

    names = panel(workload)
    tables, _ = gen.cached(
        "tables", seed, f"sf{TABLE_SF:g}",
        functools.partial(gen.build_tables, sf=TABLE_SF),
    )
    sql_hash = hashlib.sha256(
        json.dumps([[q, ORACLE[q]] for q in names]).encode()
    ).hexdigest()[:12]
    oracle_dir, _ = gen.cached(
        "oracle", seed, f"{workload}-sf{TABLE_SF:g}-{sql_hash}",
        functools.partial(_build_oracle, tables=tables, names=names),
    )
    with open(os.path.join(oracle_dir, "oracle.json")) as f:
        expected = json.load(f)
    return {
        "tables": os.path.abspath(tables),
        "expected": expected,
        "read": _tables_read([ORACLE[q] for q in names]),
    }


def _tables_read(sqls: list[str]) -> list[str]:
    """Input tables the panel reads, as named by its oracle SQL."""
    from diachronic_spark.catalog import TABLES

    return [
        t for t in TABLES
        if any(re.search(rf"\b{t}\b", sql, re.IGNORECASE) for sql in sqls)
    ]


def cache_tables(spark, inputs: dict) -> None:
    """Drop every cached relation, then cache the panel's input tables."""
    from diachronic_spark.catalog import load
    from diachronic_spark.operators import _cache

    spark.catalog.clearCache()
    _cache.release()
    for t in inputs.get("read", ()):
        load(spark, inputs["tables"], t).persist().count()


# --------------------------------------------------------------------- ops


class Op:
    """One request: ``run(tracer)`` is timed, ``check(result)`` is not and
    returns an error message or None."""

    def __init__(self, name: str, run, check):
        self.name, self.run, self.check = name, run, check


def query_op(spark, sf_dir: str, name: str, expected: str) -> Op:
    from diachronic_spark.plans import QUERIES

    fn = QUERIES[name]

    def run(tr):
        with tr.span("plans.build"):
            df = fn(spark, sf_dir)
        with tr.span("collect.arrow"):
            pdf = df.toPandas()
        return df, pdf

    def check(result):
        df, pdf = result
        if pandas_digest(df.schema, pdf) != expected:
            return f"{name}: {len(pdf)} rows differ from the oracle result"
        return None

    return Op(name, run, check)


def etl_op(spark, paths: list[str], out_dir: str, truth: dict) -> Op:
    import pyarrow.parquet as pq

    from diachronic_spark.pipeline import snapshot_from_dumps, write_snapshots

    def run(tr):
        with tr.span("plans.build"):
            df = snapshot_from_dumps(spark, paths)
        with tr.span("pipeline.write"):
            write_snapshots(df, out_dir)
        return df, None

    def check(result):
        cols = ["namespace", "title", "timestamp", "text"]
        t = pq.read_table(out_dir, columns=cols)
        rows = zip(*(t.column(c).to_pylist() for c in cols))
        if t.num_rows != truth["snapshot_rows"]:
            return f"wiki_etl: {t.num_rows} rows, expected {truth['snapshot_rows']}"
        if gen.snapshot_digest(rows) != truth["snapshot_digest"]:
            return "wiki_etl: snapshot rows differ from the generator's truth"
        return None

    return Op("etl", run, check)


def make_ops(workload: str, spark, inputs: dict, scratch: str) -> list[Op]:
    if workload == "wiki_etl":
        # A pass runs the job twice: the job needs about six runs to reach
        # steady state, so three set-up passes of one job were too few.
        job = etl_op(spark, inputs["paths"], os.path.join(scratch, "snapshots"),
                     inputs["truth"])
        return [job, job]
    return [
        query_op(spark, inputs["tables"], q, inputs["expected"][q])
        for q in panel(workload)
    ]
