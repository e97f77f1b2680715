"""Operation records shared by the workloads."""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass, field


@dataclass
class QueryRun:
    """One query: the wall of the query-function call (construction), the
    wall of its collect (action), and the rows it returned."""

    columns: list[str] = field(default_factory=list)
    rows: list[tuple] | None = None
    construct_s: float = 0.0
    action_s: float = 0.0
    df: object = None
    construct_span: object = None
    action_span: object = None

    @property
    def wall_s(self) -> float:
        return self.construct_s + self.action_s


@dataclass
class Op:
    """One checked operation of a pass."""

    name: str
    seconds: float
    ok: bool
    query: QueryRun | None = None


def timed_query(tracer, label: str, build) -> QueryRun:
    """Build a DataFrame with ``build()`` and collect it, timing the two
    halves. A failure leaves ``rows`` as None and prints the traceback."""
    q = QueryRun()
    with tracer.span(f"query:{label}"):
        t0 = time.perf_counter()
        try:
            with tracer.span("construct") as q.construct_span:
                q.df = build()
            t1 = time.perf_counter()
            with tracer.span("action") as q.action_span:
                rows = q.df.collect()
            t2 = time.perf_counter()
        except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
            traceback.print_exc()
            q.construct_s = time.perf_counter() - t0
            return q
    q.construct_s, q.action_s = t1 - t0, t2 - t1
    q.columns = list(q.df.columns)
    q.rows = [tuple(r) for r in rows]
    return q
