"""The benchmark's workloads and their output checks.

Each workload drives the program only through its public entry points:
``OrchestratorManager.execute_pipeline`` / ``backfill`` for pipelines
registered in a ``MetadataStore``, and the operator-library calls that
``__spark_entry__`` builds. The seed picks only the generated pipeline
constants and orderings; the source tables and the work per operation
stay the same for every seed.

A workload has four steps, which ``run.py`` times separately:
``register`` (catalog set-up), ``warm_up``, ``unit`` (one unit of the
closed loop: one pipeline run, or one pass over a fixed list of
operations) and ``check`` (compare outputs with DuckDB, outside the
timed region; returns a list of mismatches).
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path
from time import perf_counter
from typing import Any, Iterator

import duckdb
import pandas as pd

from datagen import EVENT_DAYS, TABLES
from spans import OP_LAYER, Tracer

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# operator-library keys, with the source tables each one reads
OPS_KEYS = {
    "recsys_als_factors": ("orders", "lineitem"),
    "graph_louvain_copurchase": ("lineitem",),
    "graph_betweenness_ring": (),
    "glm_cv_logit_orders": ("orders",),
    "graph_pagerank_parts": ("lineitem",),
}


@dataclass
class OpRecord:
    op_id: str
    name: str
    seconds: float
    rows: int
    source_bytes: int
    failed: bool


@dataclass
class Recorder:
    """Times every operation; with a tracer, opens its root span."""

    tracer: Tracer | None = None
    records: list[OpRecord] = field(default_factory=list)
    _n: int = 0

    @contextmanager
    def op(self, name: str, rows: int, source_bytes: int) -> Iterator[None]:
        self._n += 1
        op_id = f"op{self._n}"
        t = self.tracer
        if t is not None:
            t.op = op_id
        failed = True
        t0 = perf_counter()
        try:
            with t.span(OP_LAYER, name) if t is not None else nullcontext():
                yield
            failed = False
        finally:
            self.records.append(
                OpRecord(op_id, name, perf_counter() - t0, rows, source_bytes, failed)
            )
            if t is not None:
                t.op = None

    def layer(self, layer: str, name: str):
        """A span inside the current operation (no-op when not tracing)."""
        return self.tracer.span(layer, name) if self.tracer else nullcontext()


@dataclass
class Run:
    """What a workload needs from the run: session, inputs, scratch space."""

    spark: Any
    data_dir: Path
    work_dir: Path

    def rows(self, tables: tuple[str, ...]) -> int:
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(self.data_dir / f"{t}.parquet").metadata.num_rows
            for t in tables
        )

    def nbytes(self, tables: tuple[str, ...]) -> int:
        return sum((self.data_dir / f"{t}.parquet").stat().st_size for t in tables)

    def duck(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )
        return con


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- ETL


class _Etl:
    tables: tuple[str, ...] = ()

    def _catalog(self, run: Run):
        from metadata_etl_framework_spark.catalog.store import MetadataStore
        from metadata_etl_framework_spark.orchestrator.manager import (
            OrchestratorManager,
        )

        self.store = MetadataStore(":memory:")
        self.mgr = OrchestratorManager(run.spark, self.store)
        self.op_rows = run.rows(self.tables)
        self.op_bytes = run.nbytes(self.tables)

    def _sources(self, pid: int, data_dir: Path) -> None:
        for t in self.tables:
            self.store.register_source(
                pid, t, "parquet", {"path": str(data_dir / f"{t}.parquet")}
            )


class EtlFact(_Etl):
    """lineitem ⋈ orders ⋈ customer fact load with row and dataset DQ."""

    name = "etl_fact"
    tables = ("lineitem", "orders", "customer")

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.max_discount = rng.choice((0.05, 0.06, 0.07, 0.08, 0.09))
        self.priorities = sorted(rng.sample(PRIORITIES, rng.randint(2, 4)))
        self.big_order = float(rng.choice((100_000, 200_000, 300_000, 400_000)))
        self.results: list[dict] = []

    def rules(self) -> list[dict]:
        return [
            {"name": "segment_present", "type": "not_null", "column": "c_mktsegment"},
            {"name": "discount_range", "type": "value_range", "column": "l_discount",
             "min": 0.0, "max": self.max_discount},
            {"name": "priority_known", "type": "allowed_values",
             "column": "o_orderpriority", "allowed_values": self.priorities},
            {"name": "line_key_unique", "type": "primary_key_unique",
             "columns": ["l_orderkey", "l_linenumber"]},
        ]

    def register(self, run: Run) -> None:
        self._catalog(run)
        self.target = run.work_dir / "fact"
        self.pid = self._register("fact_lineitem", run.data_dir, self.target)

    def _register(self, name: str, data_dir: Path, target: Path) -> int:
        pid = self.store.register_pipeline(name, "fact load")
        self._sources(pid, data_dir)
        self.store.register_transformation(
            pid,
            steps=[
                {"type": "join", "config": {"right_source": "orders",
                                            "left_on": "l_orderkey",
                                            "right_on": "o_orderkey"}},
                {"type": "join", "config": {"right_source": "customer",
                                            "left_on": "o_custkey",
                                            "right_on": "c_custkey"}},
                {"type": "map", "config": {"derive": {
                    "net_price": "l_extendedprice * (1 - l_discount)",
                    "big_order": f"o_totalprice > {self.big_order}",
                }}},
                {"type": "window", "config": {"function": "rank",
                                              "partition_by": ["l_orderkey"],
                                              "order_by": ["l_linenumber"],
                                              "output_col": "line_rank"}},
            ],
            primary_source="lineitem",
        )
        self.store.register_target(pid, "fact", "parquet", {"path": str(target)})
        for rule in self.rules():
            self.store.register_dq_rule(pid, rule)
        self.store.register_sla(pid, "execution_time", 600.0)
        self.store.register_sla(pid, "quality_score", 50.0)
        self.store.register_sla(pid, "row_count", 1.0)
        return pid

    def warm_up(self, run: Run) -> None:
        # the first run pays class loading and code generation; the JIT
        # keeps speeding up the second one
        for _ in range(2):
            self.mgr.execute_pipeline(self.pid)

    def unit(self, run: Run, rec: Recorder) -> None:
        try:
            with rec.op(self.name, self.op_rows, self.op_bytes):
                result = self.mgr.execute_pipeline(self.pid)
            self.results.append(result)
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            _log(f"{self.name} run failed: {exc!r}")

    def expected_sql(self) -> str:
        return f"""
            SELECT l.*, o.* EXCLUDE (o_orderkey), c.* EXCLUDE (c_custkey),
                   l.l_extendedprice * (1 - l.l_discount) AS net_price,
                   o.o_totalprice > {self.big_order} AS big_order,
                   rank() OVER (PARTITION BY l.l_orderkey
                                ORDER BY l.l_linenumber) AS line_rank
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey"""

    def check(self, run: Run) -> list[str]:
        if not self.results:
            return ["etl_fact: no successful run to check"]
        con = run.duck()
        try:
            con.execute(f"CREATE TEMP TABLE expected AS {self.expected_sql()}")
            problems = check_table(con, "SELECT * FROM expected", self.target, "etl_fact")
            want = expected_dq(con, self.rules())
        finally:
            con.close()
        for i, result in enumerate(self.results):
            got = {r["rule_name"]: r["failed_rows"] for r in result["dq"]["results"]}
            for name, n in want.items():
                if got.get(name) != n:
                    problems.append(
                        f"etl_fact run {i + 1}: DQ {name} failed_rows {got.get(name)} != {n}"
                    )
        return problems


class EtlBackfill(_Etl):
    """``backfill`` of a daily events pipeline over every event day."""

    name = "etl_backfill"
    tables = ("events",)
    warm_days = 6

    def __init__(self, seed: int):
        days = [f"2024-01-{d:02d}" for d in range(1, EVENT_DAYS + 1)]
        random.Random(seed).shuffle(days)
        self.days = days
        self.passes: list[tuple[int, Path]] = []
        self.problems: list[str] = []
        self.rec: Recorder | None = None

    def register(self, run: Run) -> None:
        self._catalog(run)
        self.work_dir = run.work_dir
        mgr = self.mgr

        def execute_pipeline(*args, **kwargs):
            # one backfilled partition = one timed operation
            run_op = type(mgr).execute_pipeline
            if self.rec is None:
                return run_op(mgr, *args, **kwargs)
            with self.rec.op(self.name, self.op_rows, self.op_bytes):
                return run_op(mgr, *args, **kwargs)

        mgr.execute_pipeline = execute_pipeline

    def _register_pass(self, run: Run, tag: str) -> tuple[int, Path]:
        """A fresh pipeline and append target per pass, so no pass can
        resume past work an earlier pass did."""
        target = self.work_dir / f"daily_{tag}"
        pid = self.store.register_pipeline(f"daily_events_{tag}", "daily backfill")
        self._sources(pid, run.data_dir)
        self.store.register_transformation(
            pid,
            steps=[
                {"type": "filter",
                 "config": {"condition": "to_date(ts) = date '{partition}'"}},
                {"type": "map", "config": {"derive": {
                    "event_day": "date '{partition}'",
                    "value_cents": "cast(round(value * 100) as bigint)",
                }}},
                {"type": "aggregate", "config": {
                    "group_by": ["event_day", "event_type"],
                    "aggregations": {"value_cents": ["sum", "count", "max"]},
                }},
            ],
            primary_source="events",
        )
        self.store.register_target(
            pid, "daily", "parquet", {"path": str(target)}, load_type="append"
        )
        self.store.register_dq_rule(
            pid, {"name": "type_present", "type": "not_null", "column": "event_type"}
        )
        self.store.register_sla(pid, "execution_time", 60.0)
        return pid, target

    def _success_rows(self, pid: int) -> int:
        return len(self.store.query(
            "SELECT run_id FROM PIPELINE_RUNS WHERE pipeline_id = ? AND status = 'SUCCESS'",
            (pid,),
        ))

    def warm_up(self, run: Run) -> None:
        pid, _ = self._register_pass(run, "warmup")
        self.mgr.backfill(pid, self.days[: self.warm_days], resume=False)

    def unit(self, run: Run, rec: Recorder) -> None:
        pid, target = self._register_pass(run, str(len(self.passes)))
        self.rec = rec
        n0 = len(rec.records)
        try:
            res = self.mgr.backfill(pid, self.days, resume=False)
        finally:
            self.rec = None
        attempted = len(rec.records) - n0
        added = self._success_rows(pid)
        if (
            attempted != len(self.days)
            or res["succeeded"] + len(res["failed"]) != attempted
            or added != res["succeeded"]
        ):
            self.problems.append(
                f"etl_backfill pass {pid}: {attempted} runs timed, "
                f"{res['succeeded']} succeeded, {added} SUCCESS rows added"
            )
        if not res["failed"]:
            self.passes.append((pid, target))
        for pv, err in res["failed"]:
            _log(f"{self.name} partition {pv} failed: {err}")

    def check(self, run: Run) -> list[str]:
        problems = list(self.problems)
        if not self.passes:
            return problems + ["etl_backfill: no complete pass to check"]
        expected = """
            SELECT CAST(ts AS DATE) AS event_day, event_type,
                   sum(CAST(round(value * 100) AS BIGINT)) AS value_cents_sum,
                   count(*) AS value_cents_count,
                   max(CAST(round(value * 100) AS BIGINT)) AS value_cents_max
            FROM events GROUP BY ALL"""
        con = run.duck()
        try:
            for pid, target in self.passes:
                problems += check_table(con, expected, target, f"etl_backfill pass {pid}")
        finally:
            con.close()
        return problems


# ----------------------------------------------------------------- ops


class Ops:
    """One unit = every operator key in a seed-permuted order, then again
    in reverse, so each key is timed after two different predecessors."""

    def __init__(self, seed: int, name: str, gate: bool):
        self.name = name
        self.gate = gate
        keys = list(OPS_KEYS)
        random.Random(seed).shuffle(keys)
        self.keys = keys
        self.results: dict[str, list[pd.DataFrame]] = {}

    def register(self, run: Run) -> None:
        import __spark_entry__ as entry

        if self.gate:
            os.environ.pop("SPARK_GRAFT_DRIVER_GATE", None)
        else:
            os.environ["SPARK_GRAFT_DRIVER_GATE"] = "0"
        builders = {**entry.queries(), **entry.extra_queries()}
        self.builders = {k: builders[k] for k in self.keys}
        self.oracles = {**entry.oracle_sql(), **entry.extra_oracle_sql()}
        self.op_rows = {k: run.rows(OPS_KEYS[k]) for k in self.keys}
        self.op_bytes = {k: run.nbytes(OPS_KEYS[k]) for k in self.keys}

    def _call(self, run: Run, key: str, rec: Recorder) -> pd.DataFrame:
        with rec.layer("ops", f"ops.{key}"):
            df = self.builders[key](run.spark, str(run.data_dir))
        return df.toPandas()

    def warm_up(self, run: Run) -> None:
        # the cold pass pays class loading and code generation; calls keep
        # getting faster through the pass after it, so that one is untimed too
        for key in self.keys + self.keys[::-1]:
            self._call(run, key, Recorder())

    def unit(self, run: Run, rec: Recorder) -> None:
        for key in self.keys + self.keys[::-1]:
            try:
                with rec.op(key, self.op_rows[key], self.op_bytes[key]):
                    got = self._call(run, key, rec)
                self.results.setdefault(key, []).append(got)
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                _log(f"{self.name} {key} failed: {exc!r}")

    def check(self, run: Run) -> list[str]:
        problems = [f"{self.name}: {k} never succeeded" for k in self.keys
                    if k not in self.results]
        con = run.duck()
        try:
            for key, results in self.results.items():
                want = oracle_frame(con, self.oracles[key], run.data_dir)
                for i, got in enumerate(results):
                    problem = compare_frames(got, want)
                    if problem:
                        problems.append(f"{self.name}: {key} call {i + 1}: {problem}")
        finally:
            con.close()
        return problems


def make(name: str, seed: int):
    if name == "etl_fact":
        return EtlFact(seed)
    if name == "etl_backfill":
        return EtlBackfill(seed)
    if name == "ops_twin":
        return Ops(seed, name, gate=True)
    if name == "ops_distributed":
        return Ops(seed, name, gate=False)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("etl_fact", "etl_backfill", "ops_twin", "ops_distributed")


# ------------------------------------------------------------- checks


def oracle_frame(con, sql: str, data_dir: Path) -> pd.DataFrame:
    """DuckDB's result of ``sql`` over the tables in ``data_dir``. It is
    computed once per input set and query text and kept beside the
    inputs, so later runs of the same checkout skip the reference work."""
    digest = hashlib.sha256(sql.encode()).hexdigest()[:20]
    path = data_dir.parent / "oracle" / f"{data_dir.name}-{digest}.pkl"
    if path.is_file():
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    path.parent.mkdir(exist_ok=True)
    tmp = path.with_name(f".{path.name}.{os.getpid()}")
    df.to_pickle(tmp)
    tmp.rename(path)
    return df


def check_table(con, expected_sql: str, target: Path, label: str) -> list[str]:
    """Compare a written parquet directory with a DuckDB query, as
    multisets of rows over the expected columns (timestamps compared as
    plain TIMESTAMP)."""
    files = sorted(str(p) for p in Path(target).glob("*.parquet"))
    if not files:
        return [f"{label}: no parquet written under {target.name}"]
    con.execute(f"CREATE OR REPLACE TEMP VIEW want AS {expected_sql}")
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM read_parquet({files!r})")
    want_cols = {r[0]: r[1] for r in con.execute("DESCRIBE want").fetchall()}
    got_cols = {r[0] for r in con.execute("DESCRIBE got").fetchall()}
    if set(want_cols) != got_cols:
        return [f"{label}: columns {sorted(got_cols)} != {sorted(want_cols)}"]
    cols = ", ".join(
        f'CAST("{c}" AS TIMESTAMP) AS "{c}"' if "TIMESTAMP" in t or t == "DATE"
        else f'"{c}"'
        for c, t in sorted(want_cols.items())
    )
    n_want, n_got = (con.execute(f"SELECT count(*) FROM {v}").fetchone()[0]
                     for v in ("want", "got"))
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got)"
    ).fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want)"
    ).fetchone()[0]
    if n_want != n_got or missing or extra:
        return [f"{label}: {n_got} rows written, {n_want} expected; "
                f"{missing} missing, {extra} unexpected"]
    return []


def expected_dq(con, rules: list[dict]) -> dict[str, int]:
    """Failed-row counts per rule over the ``expected`` temp table."""
    out = {}
    for r in rules:
        c = r.get("column")
        if r["type"] == "not_null":
            where = f"{c} IS NULL"
        elif r["type"] == "value_range":
            where = f"{c} IS NOT NULL AND ({c} < {r['min']} OR {c} > {r['max']})"
        elif r["type"] == "allowed_values":
            allowed = ", ".join(f"'{v}'" for v in r["allowed_values"])
            where = f"{c} IS NOT NULL AND {c} NOT IN ({allowed})"
        elif r["type"] == "primary_key_unique":
            keys = ", ".join(r["columns"])
            out[r["name"]] = con.execute(
                f"SELECT coalesce(sum(n), 0) FROM (SELECT count(*) AS n FROM expected "
                f"GROUP BY {keys} HAVING count(*) > 1)"
            ).fetchone()[0]
            continue
        else:
            raise ValueError(r["type"])
        out[r["name"]] = con.execute(
            f"SELECT count(*) FROM expected WHERE {where}"
        ).fetchone()[0]
    return out


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """The normalisation of tests/test_oracle_parity.py: sorted columns,
    objects as str, timestamps at microsecond resolution, sorted rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype) == "object":
            df[c] = df[c].astype(str)
        if "datetime" in str(df[c].dtype):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    try:
        pd.testing.assert_frame_equal(
            _normalize(got), _normalize(want), check_dtype=False, check_exact=True
        )
    except AssertionError as exc:
        return str(exc).splitlines()[0]
    return None
