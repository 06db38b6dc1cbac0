"""The two ledger workloads: `ledger_read` and `ledger_ingest`.

Both drive the reference's task API (`ledger.tasks`) and the SQL client
(`client.SparkQueryClient`) as one orchestrator would: one client, each
call issued after the previous one returns.  Every answer is checked,
untimed, against DuckDB SQL over the parquet files the run wrote; the
DuckDB copy is reloaded from those files after every append.
"""

from __future__ import annotations

import datetime as dt
import glob
import random
import sys
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from sample_data_pipeline_project_spark.client import SparkQueryClient
from sample_data_pipeline_project_spark.ledger import tasks as T
from sample_data_pipeline_project_spark.ledger.derive import derived_ledger
from sample_data_pipeline_project_spark.schema import PIPELINE_RUNS_SCHEMA, PIPELINE_STATUSES
from sample_data_pipeline_project_spark.sources.ledger_io import read_ledger, write_ledger

from tracer import Tracer, p50, plan_ms

READ_KINDS = ("count", "oldest", "latest", "gaps", "pairs", "input", "scalar")
PIPELINES = ("click", "error", "purchase", "signup", "view")
INDEXES = ("idx_0", "idx_1", "idx_2")
TABLE = "ledger_runs"
SCALAR_SQL = (
    f"SELECT COUNT(*) FROM {TABLE} WHERE pipeline_name = :p AND index_name = :i"
    " AND query_window_start_day = CAST(:d AS DATE)"
)
# Ledger columns in the catalog table's order (partition column last).
COLUMNS = [f.name for f in PIPELINE_RUNS_SCHEMA.fields if f.name != "query_window_start_day"] + [
    "query_window_start_day"
]


def _day(rng: random.Random) -> str:
    return f"2024-01-{rng.randint(1, 30):02d}"


def read_op(rng: random.Random, kind: str) -> tuple[str, dict[str, Any]]:
    """One seeded read call of `kind`."""
    if kind in ("count", "oldest", "latest"):
        return kind, {"status": rng.choice(PIPELINE_STATUSES)}
    p = {"pipeline": rng.choice(PIPELINES), "index": rng.choice(INDEXES), "day": _day(rng)}
    if kind == "input":
        start = dt.datetime.fromisoformat(p["day"]) + dt.timedelta(minutes=rng.randrange(0, 20 * 60, 5))
        p["start"] = start.isoformat()
        p["end"] = (start + dt.timedelta(minutes=rng.choice((30, 60, 120, 240)))).isoformat()
    return kind, p


def read_list(rng: random.Random, per_kind: int) -> list[tuple[str, dict[str, Any]]]:
    """`per_kind` calls of each read kind in seeded order: the mix is fixed,
    because the kinds' latencies differ 2-3x."""
    ops = [read_op(rng, k) for k in READ_KINDS for _ in range(per_kind)]
    rng.shuffle(ops)
    return ops


def ingest_cycle(rng: random.Random, c: int) -> list[tuple[str, dict[str, Any]]]:
    """One orchestrator cycle: append the runs of a new window (alternately
    through `sources.write_ledger` and a client INSERT), re-open the ledger,
    then read the latest record, that day's gaps and overlapping windows,
    and the overlap with the next window."""
    pipeline, index, day = rng.choice(PIPELINES), rng.choice(INDEXES), _day(rng)
    start = dt.datetime.fromisoformat(day) + dt.timedelta(minutes=rng.randrange(0, 20 * 60, 5))
    rows = []
    for j in range(4):
        s = start + dt.timedelta(minutes=5 * j, seconds=rng.choice((0, 0, 20)))
        e = s + dt.timedelta(minutes=5)
        status = rng.choice(PIPELINE_STATUSES)
        rows.append((10**9 + 10 * c + j, pipeline, index, status, s, e, e.date(), s.date()))
    nxt = rows[-1][5]
    return [
        ("append_df" if c % 2 == 0 else "append_sql", {"rows": rows}),
        ("reopen", {}),
        ("refresh", {}),
        ("latest", {"status": rng.choice(PIPELINE_STATUSES)}),
        ("gaps", {"pipeline": pipeline, "index": index, "day": day}),
        ("pairs", {"pipeline": pipeline, "index": index, "day": day}),
        (
            "input",
            {
                "pipeline": pipeline,
                "index": index,
                "start": nxt.isoformat(),
                "end": (nxt + dt.timedelta(minutes=30)).isoformat(),
            },
        ),
    ]


# --------------------------------------------------------------------------
# Expected answers (DuckDB)
# --------------------------------------------------------------------------
_EXPECTED_SQL = {
    "count": "SELECT COUNT(*) FROM L WHERE pipeline_status = $status",
    "oldest": "SELECT * FROM L WHERE pipeline_status = $status "
    "ORDER BY query_window_start_ts, run_id LIMIT 1",
    "latest": "SELECT * FROM L WHERE pipeline_status = $status "
    "ORDER BY query_window_start_ts DESC, run_id DESC LIMIT 1",
    "gaps": """SELECT prev_end, s FROM (
        SELECT query_window_start_ts AS s,
               LAG(query_window_end_ts) OVER (ORDER BY query_window_start_ts, run_id) AS prev_end
        FROM L WHERE pipeline_name = $pipeline AND index_name = $index
          AND query_window_start_day = CAST($day AS DATE))
        WHERE prev_end IS NOT NULL AND s <> prev_end""",
    "pairs": """WITH d AS (
        SELECT * FROM L WHERE pipeline_name = $pipeline AND index_name = $index
          AND query_window_start_day <= CAST($day AS DATE)
          AND query_window_end_day >= CAST($day AS DATE)
          AND query_window_start_ts < CAST($day AS DATE) + INTERVAL 1 DAY
          AND query_window_end_ts > CAST($day AS TIMESTAMP))
        SELECT a.run_id, b.run_id FROM d a JOIN d b
          ON a.query_window_start_ts < b.query_window_end_ts
         AND a.query_window_end_ts > b.query_window_start_ts AND a.run_id <> b.run_id""",
    "input": """SELECT run_id FROM L WHERE pipeline_name = $pipeline AND index_name = $index
          AND query_window_start_day <= CAST(CAST($end AS TIMESTAMP) AS DATE)
          AND query_window_end_day >= CAST(CAST($start AS TIMESTAMP) AS DATE)
          AND query_window_start_ts < CAST($end AS TIMESTAMP)
          AND query_window_end_ts > CAST($start AS TIMESTAMP)""",
    "scalar": "SELECT COUNT(*) FROM L WHERE pipeline_name = $pipeline AND index_name = $index "
    "AND query_window_start_day = CAST($day AS DATE)",
}


def _iso(v: Any) -> Any:
    return v.isoformat() if isinstance(v, (dt.datetime, dt.date)) else v


def expected(con: Any, kind: str, p: dict[str, Any]) -> Any:
    """The answer DuckDB computes for one call, in `normalize` form."""
    sql = _EXPECTED_SQL[kind]
    params = {k: v for k, v in p.items() if f"${k}" in sql}
    cur = con.execute(sql, params)
    rows = cur.fetchall()
    if kind in ("count", "scalar"):
        return rows[0][0]
    if kind in ("oldest", "latest"):
        cols = [d[0] for d in cur.description]
        return {c: _iso(v) for c, v in zip(cols, rows[0])} if rows else None
    if kind == "gaps":
        return sorted((_iso(a), _iso(b)) for a, b in rows)
    if kind == "pairs":
        return sorted(rows)
    return sorted(r[0] for r in rows)


def normalize(kind: str, raw: Any) -> Any:
    """The engine's answer in a form comparable with `expected`."""
    if kind in ("count", "scalar", "oldest", "latest"):
        return raw
    if kind == "gaps":
        return sorted((d["missing_from_ts"], d["missing_until_ts"]) for d in raw)
    if kind == "pairs":
        return sorted((r["source_run_id"], r["overlaps_with_run_id"]) for r in raw)
    return sorted(r["run_id"] for r in raw)


# --------------------------------------------------------------------------
# The run
# --------------------------------------------------------------------------
@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    warmup_s: float = 0.0
    calls: list[tuple[str, float]] = field(default_factory=list)  # measured (kind, seconds)


class LedgerRun:
    """A written, opened ledger plus the calls an orchestrator makes on it."""

    def __init__(self, spark: Any, tr: Tracer, work: str, data_dir: str, corrupt: str | None) -> None:
        self.spark, self.tr, self.corrupt = spark, tr, corrupt
        self.path = f"{work}/ledger"
        self.client = SparkQueryClient(spark)
        runs, _ = tr.call("ledger.derived_ledger", derived_ledger, spark, data_dir)
        _, self.write_s = tr.call("sources.write_ledger", write_ledger, runs, self.path, mode="overwrite")
        cols = ", ".join(
            f"{c} {PIPELINE_RUNS_SCHEMA[c].dataType.simpleString()}" for c in COLUMNS
        )
        tr.call(
            "client.control",
            self.client.execute_control_command,
            f"CREATE TABLE {TABLE} ({cols}) USING parquet "
            f"PARTITIONED BY (query_window_start_day) LOCATION '{self.path}'",
        )
        tr.call("client.control", self.client.execute_control_command, f"ALTER TABLE {TABLE} RECOVER PARTITIONS")
        self.reopen_s: list[float] = []
        self.ledger, s = tr.call("sources.read_ledger", read_ledger, spark, self.path)
        self.reopen_s.append(s)
        self.con: Any = None
        self.plan_ms: list[float] = []
        self.overhead_ms: list[float] = []
        self.rows_out = 0

    def start_checks(self) -> None:
        """Load the written ledger into DuckDB, the checker of every answer.
        The benchmark's own cost: the runner calls it after set-up is timed."""
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self._reload()

    def _reload(self) -> None:
        self.con.execute(
            "CREATE OR REPLACE TABLE L AS SELECT * FROM "
            f"read_parquet('{self.path}/*/*.parquet', hive_partitioning = true)"
        )

    def files(self) -> int:
        return len(glob.glob(f"{self.path}/*/*.parquet"))

    # -- one call ----------------------------------------------------------
    def _api(self, kind: str, p: dict[str, Any]) -> tuple[str, Callable[[], Any]]:
        L = self.ledger
        if kind == "count":
            return "ledger.count", lambda: T.count_records_by_pipeline_status(L, p["status"])["row_count"]
        if kind == "oldest":
            return "ledger.oldest", lambda: T.get_oldest_record_by_status(L, p["status"])["record"]
        if kind == "latest":
            return "ledger.latest", lambda: T.get_latest_record_by_status(L, p["status"])["record"]
        if kind == "gaps":
            return "ledger.gaps", lambda: T.get_discontinuous_query_windows(
                L, p["day"], p["pipeline"], p["index"]
            )["discontinuities"]
        if kind == "pairs":
            return "ledger.pairs", lambda: T.find_overlapping_query_windows(
                L, p["pipeline"], p["index"], p["day"]
            )["data"].collect()
        if kind == "input":
            return "ledger.input", lambda: T.find_overlapping_records_for_input(
                L, p["pipeline"], p["index"], p["start"], p["end"]
            )["data"].collect()
        if kind == "scalar":
            params = {"p": p["pipeline"], "i": p["index"], "d": p["day"]}
            return "client.scalar", lambda: self.client.execute_scalar_query(SCALAR_SQL, params=params)["data"]
        raise ValueError(kind)

    def _bare(self, kind: str, p: dict[str, Any]) -> Any:
        """The DataFrame the API call builds, with the action it runs: the
        call minus its envelope."""
        L = self.ledger
        if kind == "count":
            return T.status_count_df(L, p["status"]).limit(1)
        if kind in ("oldest", "latest"):
            return T.picked_record_df(L, p["status"], latest=kind == "latest")
        if kind == "gaps":
            return T.gaps_df(L, p["day"], p["pipeline"], p["index"])
        if kind == "pairs":
            return T.overlap_pairs_df(L, p["pipeline"], p["index"], p["day"]).orderBy(
                "source_window_start_ts", "overlaps_with_start_ts", "source_run_id"
            )
        if kind == "input":
            return T.overlap_input_df(L, p["pipeline"], p["index"], p["start"], p["end"])
        params = {"p": p["pipeline"], "i": p["index"], "d": p["day"]}
        return self.spark.sql(SCALAR_SQL, args=params).limit(1)

    def _append(self, kind: str, rows: list[tuple]) -> Callable[[], Any]:
        if kind == "append_df":
            df = self.spark.createDataFrame(
                [(r[0], r[1], r[2], r[3], r[4], r[5], r[7], r[6]) for r in rows], PIPELINE_RUNS_SCHEMA
            )
            return lambda: write_ledger(df, self.path, mode="append")
        values = ", ".join(
            f"({r[0]}, '{r[1]}', '{r[2]}', '{r[3]}', TIMESTAMP_NTZ'{r[4]}', "
            f"TIMESTAMP_NTZ'{r[5]}', DATE'{r[6]}', DATE'{r[7]}')"
            for r in rows
        )
        sql = f"INSERT INTO {TABLE} ({', '.join(COLUMNS)}) VALUES {values}"
        return lambda: self.client.execute_dml_query(sql)["rows_affected"]

    def run_op(self, kind: str, p: dict[str, Any], measured: bool, res: Result) -> float | None:
        """Issue one call, time it, check its answer; a call that raises or
        answers wrongly is counted failed and left out of the latencies."""
        res.attempted += 1
        try:
            if kind.startswith("append"):
                name, fn = f"sources.{kind}" if kind == "append_df" else "client.dml", self._append(kind, p["rows"])
            elif kind == "reopen":
                name, fn = "sources.read_ledger", lambda: read_ledger(self.spark, self.path)
            elif kind == "refresh":
                name, fn = "client.control", lambda: self.client.execute_control_command(f"REFRESH TABLE {TABLE}")
            else:
                name, fn = self._api(kind, p)
            raw, secs = self.tr.call(name, fn)
            ok = self._check(kind, p, raw)
        except Exception as exc:  # noqa: BLE001 - a failed call is a result, not a crash
            print(f"layerbench: {kind} {p} failed: {exc!r}"[:400], file=sys.stderr)
            res.failed += 1
            return None
        if not ok:
            print(f"layerbench: wrong answer for {kind} {p}"[:400], file=sys.stderr)
            res.failed += 1
            return None
        if kind == "reopen":
            self.ledger = raw
            self.reopen_s.append(secs)
        if measured:
            res.calls.append((kind, secs))
            if self.tr.traced and kind in READ_KINDS:
                self.rows_out += 1 if kind in ("count", "scalar", "oldest", "latest") else max(1, len(raw))
                # Every third measured call of a kind is re-run bare: enough
                # samples for the medians, at a third of the cost.
                if sum(k == kind for k, _ in res.calls) % 3 == 1:
                    self._trace_bare(kind, p, secs)
        return secs

    def _check(self, kind: str, p: dict[str, Any], raw: Any) -> bool:
        if kind.startswith("append"):
            self._reload()
            ids = [r[0] for r in p["rows"]]
            sql = "SELECT COUNT(*) FROM L WHERE list_contains(?, run_id)"
            (landed,) = self.con.execute(sql, [ids]).fetchone()
            return landed == len(ids) and (kind == "append_df" or raw == len(ids))
        if kind in ("reopen", "refresh"):
            return True
        got = normalize(kind, raw)
        if self.corrupt == kind:
            got = ["corrupted", got]
        return got == expected(self.con, kind, p)

    def _trace_bare(self, kind: str, p: dict[str, Any], api_s: float) -> None:
        df = self._bare(kind, p)
        _, bare_s = self.tr.call(f"bare.{kind}", df.collect)
        self.plan_ms.append(plan_ms(df))
        self.overhead_ms.append((api_s - bare_s) * 1000)


def run(lr: LedgerRun, workload: str, seed: int, seconds: int) -> Result:
    """Run the fixed warm-up list, then the measured list, sized from
    `seconds` at the nominal rates of 5 read calls or 0.6 ingest cycles
    per second."""
    rng = random.Random(seed)
    if workload == "ledger_read":
        warm = read_list(rng, 4)
        measured = read_list(rng, max(1, round(seconds * 5 / len(READ_KINDS))))
    else:
        warm = read_list(rng, 2) + [op for c in range(2) for op in ingest_cycle(rng, c)]
        measured = [op for c in range(2, 2 + max(2, round(seconds * 0.6))) for op in ingest_cycle(rng, c)]
    res = Result()
    with lr.tr.span("warmup"):
        # The calls' own time: the untimed checks between them are left out.
        res.warmup_s = sum(lr.run_op(kind, p, False, res) or 0.0 for kind, p in warm)
    with lr.tr.span("measure"):
        for kind, p in measured:
            lr.run_op(kind, p, True, res)
    return res


def layer_metrics(lr: LedgerRun, res: Result) -> dict[str, float]:
    """Per-layer figures the ledger run can give without the event log."""
    by = lambda *ks: [s * 1000 for k, s in res.calls if k in ks]  # noqa: E731
    out = {f"ledger.{k}_p50_ms": p50(by(k)) for k in ("count", "oldest", "latest", "gaps", "pairs", "input")}
    out.update(
        {
            "sources.write_ledger_s": lr.write_s,
            "sources.append_p50_ms": p50(by("append_df")),
            "sources.read_ledger_p50_ms": p50([s * 1000 for s in lr.reopen_s]),
            "sources.ledger_files": lr.files(),
            "client.scalar_p50_ms": p50(by("scalar")),
            "client.dml_p50_ms": p50(by("append_sql")),
            "envelope.overhead_ms": p50(lr.overhead_ms),
            "plans.plan_ms_p50": p50(lr.plan_ms),
        }
    )
    return out
