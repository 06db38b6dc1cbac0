"""The member workload `dedup_stream`.

A pass builds each member through its registered builder (the
`workloads` layer: construction-time jobs run here), then collects it
(the sink), and clears the session's caches before the next member.
Every result is checked, untimed, against the member's registry oracle
run by DuckDB over the same input tables, both sides canonicalized with
`tools/check_oracle.canon_frame`.
"""

from __future__ import annotations

import re
import sys
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from tools.check_oracle import canon_frame

from tracer import Tracer, p50, persisted_mb, plan_ms

# The members, in pass order (README.md gives the members left out, and why).
MEMBERS = ("stream_ledger_gaps_ooo", "dedup_minhash_incremental")
INPUTS = ("events", "documents")

# A non-recursive CTE head at the start of a line: `name AS (`.
_CTE = re.compile(r"(?m)^(\s*(?:WITH\s+)?)(\w+) AS \(")


def materialized(sql: str) -> str:
    """The oracle with every plain CTE MATERIALIZED, so DuckDB evaluates
    the unrolled graph rounds once each instead of inlining them into
    every reference (results are the same either way)."""
    return _CTE.sub(r"\1\2 AS MATERIALIZED (", sql)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    warmup_s: float = 0.0
    calls: list[tuple[str, float]] = field(default_factory=list)  # measured (member, seconds)
    pass_s: float = 0.0  # the measured pass, when every member in it succeeded
    build_s: list[float] = field(default_factory=list)
    sink_s: list[float] = field(default_factory=list)
    plan_ms: list[float] = field(default_factory=list)
    persisted_mb: float = 0.0


class Oracle:
    """Registry oracles over the input tables, computed once per run."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in INPUTS:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self.cache: dict[str, tuple] = {}

    def canon(self, name: str, sql: str) -> tuple:
        if name not in self.cache:
            self.cache[name] = canon_frame(self.con.sql(materialized(sql)).df())
        return self.cache[name]


class MemberRun:
    """Builds, collects and checks registered members in one session."""

    def __init__(
        self,
        spark: Any,
        tr: Tracer,
        registry: dict[str, Any],
        data_dir: str,
        corrupt: str | None,
    ) -> None:
        self.spark, self.tr, self.registry, self.data_dir = spark, tr, registry, data_dir
        self.corrupt = corrupt
        self.oracle = Oracle(data_dir)

    def member(self, name: str, measured: bool, res: Result) -> float | None:
        """Build and collect one member, check it; return its seconds, or
        None when it raised or answered wrongly (counted failed)."""
        spark, tr = self.spark, self.tr
        res.attempted += 1
        w = self.registry[name]
        try:
            df, b = tr.call(f"workloads.build.{name}", w.fn, spark, self.data_dir)
            pdf, s = tr.call(f"workloads.sink.{name}", df.toPandas)
            if tr.traced and measured:
                res.plan_ms.append(plan_ms(df))
                res.persisted_mb = max(res.persisted_mb, persisted_mb(spark.sparkContext))
            spark.catalog.clearCache()
            got = canon_frame(pdf)
            if self.corrupt == name:
                got = (got[0] + 1, *got[1:])
            ok = got == self.oracle.canon(name, w.oracle)
        except Exception as exc:  # noqa: BLE001 - a failed member is a result, not a crash
            print(f"layerbench: {name} failed: {exc!r}"[:400], file=sys.stderr)
            spark.catalog.clearCache()
            res.failed += 1
            return None
        if not ok:
            print(f"layerbench: wrong answer for {name}", file=sys.stderr)
            res.failed += 1
            return None
        if measured:
            res.calls.append((name, b + s))
            res.build_s.append(b)
            res.sink_s.append(s)
        return b + s


def run(mr: MemberRun, warmup: Callable[[], float]) -> Result:
    """Run the warm-up (the first scan of each input table), then one
    measured pass.  No member runs before it: a pipeline job starts in a
    fresh process, so the pass includes the JIT cost such a job pays."""
    res = Result()
    with mr.tr.span("warmup"):
        res.warmup_s = warmup()
    with mr.tr.span("measure"):
        times = [mr.member(m, True, res) for m in MEMBERS]
    if None not in times:
        res.pass_s = sum(times)
    return res


def layer_metrics(res: Result) -> dict[str, float]:
    out = {f"member.{m}_s": p50([s for k, s in res.calls if k == m]) for m in MEMBERS}
    out.update(
        {
            "workloads.build_s": sum(res.build_s),
            "workloads.sink_s": sum(res.sink_s),
            "plans.plan_ms_sum": sum(res.plan_ms),
            "operators.persisted_mb": res.persisted_mb,
        }
    )
    return out
