"""Spark-free pieces of the layered benchmark: the op log and its
end-to-end summary, the tail-percentile rule, metric-name checks,
plan-shape counters, the in-memory span tracer and the process-tree
sampler. Kept apart from ``workloads`` so the tests of the benchmark's own
logic run without a JVM."""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Optional

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

#: the tail rule needs this many samples strictly beyond the reported one
TAIL_BEYOND = 10


def check_metric_name(name: str) -> str:
    if not METRIC_NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def tail_latency(samples: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile that still has at least
    ``TAIL_BEYOND`` samples beyond it: ``(value, percentile, n_samples)``.

    With n sorted samples the value is the one at 0-based rank
    ``n - 1 - TAIL_BEYOND`` and the percentile is the share of samples at or
    below it. Fewer than ``TAIL_BEYOND + 1`` samples have no such percentile;
    that is an error, not a silently smaller tail."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(f"tail needs > {TAIL_BEYOND} samples, got {n}")
    rank = n - 1 - TAIL_BEYOND
    return sorted(samples)[rank], 100.0 * (rank + 1) / n, n


@dataclass
class OpRecord:
    kind: str
    seconds: float
    docs: int
    ok: bool
    detail: str = ""


@dataclass
class OpLog:
    """Closed-loop op results. A wrong result is a failed op: it is kept in
    ``attempted`` and counted in ``failed``, and its detail is printed."""
    ops: list[OpRecord] = field(default_factory=list)

    def record(self, kind: str, seconds: float, docs: int,
               mismatch: Optional[str] = None) -> OpRecord:
        rec = OpRecord(kind, seconds, docs, mismatch is None, mismatch or "")
        self.ops.append(rec)
        return rec

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not r.ok for r in self.ops)


def end_to_end(timed: list[OpRecord], setup_s: float,
               peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    """End-to-end metrics from the timed ops. The cold first op and the
    warm-up ops are not among them."""
    secs = [r.seconds for r in timed]
    return {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (sum(r.docs for r in timed) / sum(secs), "1/s"),
        "op_p50_s": (statistics.median(secs), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The benchmark's last stdout line."""
    out = {}
    for name, (value, unit) in metrics.items():
        check_metric_name(name)
        if not UNIT_RE.fullmatch(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        out[name] = {"value": float(value), "unit": unit}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": out})


# -- plan shape -------------------------------------------------------------

_NODE_RE = re.compile(r"^[\s:+|\-]*(?:\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")
#: the argument tail of a resolved lambda, ``lambdafunction(body, lambda
#: x#1[, lambda y#2], false)``; an auto-generated column name repeats the
#: lambda with ``namedlambdavariable()`` arguments and does not match
_LAMBDA_RE = re.compile(r"(?:, lambda \w+#\d+)+, (?:true|false)\)")
_PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                      "MapInArrow", "FlatMapGroupsInPandas",
                      "FlatMapCoGroupsInPandas")


def node_names(plan: str) -> list[str]:
    """Operator names of a physical-plan tree string, one per line."""
    out = []
    for line in plan.splitlines():
        m = _NODE_RE.match(line)
        if m:
            out.append(m.group(1))
    return out


def plan_shape(plan: str) -> dict[str, int]:
    """Plan-shape invariants of an executed-plan string (the
    ``treeString`` of a QueryExecution's executed plan). An adaptive plan
    prints its final plan and then its initial one; only the final plan
    counts."""
    plan = plan.split("== Initial Plan ==")[0]
    names = node_names(plan)
    return {
        "lambda_count": len(_LAMBDA_RE.findall(plan)),
        "exchange_count": sum(n in ("Exchange", "BroadcastExchange")
                              for n in names),
        "python_eval_count": sum(n in _PYTHON_EVAL_NODES for n in names),
        "schema_of_variant_count": len(re.findall(r"schemaOfVariant|"
                                                  r"schema_of_variant", plan)),
        "rlike_count": len(re.findall(r"\bRLIKE\b", plan)),
    }


# -- tracing ----------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]
    op_id: int
    span_id: int
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written out once, when the run ends. A
    disabled tracer records nothing and costs one branch per span.
    ``own_s`` accumulates the time tracing itself spends (span bookkeeping
    and what callers add with :meth:`charge`), which is what a traced op
    pays over an untraced one."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.own_s = 0.0
        self._stack: list[int] = []

    def charge(self, seconds: float) -> None:
        self.own_s += seconds

    @contextmanager
    def span(self, name: str, op_id: int, **attrs: Any):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(name, 0.0, 0.0, parent, op_id, sid, attrs)
        self.spans.append(sp)
        self._stack.append(sid)
        sp.start = time.perf_counter()
        self.own_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.own_s += time.perf_counter() - sp.end

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent,
                                    "op_id": s.op_id, "span_id": s.span_id,
                                    **({"attrs": s.attrs} if s.attrs
                                       else {})}) + "\n")


# -- process tree -----------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, rss_bytes, cpu_ticks) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        # fields after the comm: state ppid ... utime(12) stime(13) ... rss(22)
        table[int(name)] = (int(rest[1]), int(rest[21]) * _PAGE,
                            int(rest[11]) + int(rest[12]))
    return table


def descendants(root: int, table: dict) -> list[int]:
    """Every descendant of ``root`` in a :func:`proc_table`."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _rss, _cpu) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for kid in kids.get(todo.pop(), ()):
            out.append(kid)
            todo.append(kid)
    return out


def tree_usage(root: int) -> tuple[float, float]:
    """(rss_mb, cpu_seconds) summed over ``root`` and its descendants."""
    table = proc_table()
    rss = cpu = 0
    for pid in [root] + descendants(root, table):
        if pid not in table:
            continue
        ppid, prss, pcpu = table[pid]
        # a child the JVM spawns shares its parent's memory until it execs
        # and reads the same RSS meanwhile; count that memory once
        if pid == root or table.get(ppid, (0, -1))[1] != prss:
            rss += prss
        cpu += pcpu
    return rss / 2**20, cpu / _TICK


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_usage(pid)[0])
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
