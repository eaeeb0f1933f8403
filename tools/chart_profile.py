"""Per-chart profile of the ``dashboard`` benchmark workload.

    python3 tools/chart_profile.py [--seed N] [--ops N] [chart ...]

Builds the dashboard set-up of ``perfbench`` (``perfbench.dashboard.
Dashboard``: the same generated warehouse, CSV.gz exports and warm-up,
on the same pinned Spark settings), then runs each chart type ``--ops``
times on ONE client session, one op at a time, with its ``{{interval}}``
drawn as the benchmark draws it.  For each chart type it prints the
median per op of:

- ``build_ms``: table read, dotted view and ``chsql.run_sql`` (the
  driver-side work before the plan is executed);
- ``exec_ms``: physical planning plus ``collect()``;
- ``py4j``: py4j call and reflection commands sent while building;
- ``jobs``: Spark jobs run for the op (its job group);
- ``compile_ms``: Janino compile time, the change of
  ``CodeGenerator.compileTime()`` over the op.  Spark caches generated
  classes by their source text, so 0 means the op's generated code
  was already compiled: it does not depend on the interval.

One client keeps the JVM-wide compile counter attributable to the op.
The benchmark package is used read-only; its scratch directory
(``.bench_work/``) is removed at exit.  Run from the repository root.
"""

from __future__ import annotations

import argparse
import collections
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import dashboard, harness  # noqa: E402

# spans of Dashboard.run_op that build the plan, and those that run it
BUILD = ("warehouse.read", "metrica.dotted_view", "csvgz.read", "plans.run_sql")
EXEC = ("engine.plan", "engine.execute")


class _Profile:
    """A stand-in for perfbench's tracer: ``Dashboard.run_op`` reports
    its phases through ``span``; each span adds its wall time and, for
    the build spans, the py4j commands sent, to the current op."""

    def __init__(self) -> None:
        self.enabled = True
        self.op: collections.Counter = collections.Counter()
        self._in_build = 0

    @contextmanager
    def span(self, name: str, _op=None):
        t = time.perf_counter()
        self._in_build += name in BUILD
        try:
            yield
        finally:
            self._in_build -= name in BUILD
            self.op[name] += (time.perf_counter() - t) * 1e3

    @contextmanager
    def extra(self):
        yield

    def count(self, kind: str) -> None:
        if self._in_build and kind in "cr":
            self.op["py4j"] += 1


def _count_py4j(prof: _Profile) -> None:
    import py4j.clientserver as cs

    send = cs.ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        prof.count(command[0])
        return send(self, command, *args, **kwargs)

    cs.ClientServerConnection.send_command = counted


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=101)
    p.add_argument("--ops", type=int, default=8, help="ops per chart type")
    p.add_argument("charts", nargs="*", help="chart types (default: the whole mix)")
    args = p.parse_args(argv)
    names = args.charts or [n for n, _ in dashboard.MIX]
    unknown = set(names) - {n for n, _ in dashboard.MIX}
    if unknown:
        p.error(f"unknown chart types: {sorted(unknown)}")

    import numpy as np

    work = harness.prepare_process("chart-profile")
    prof = _Profile()
    sessions = []

    def spark_factory():
        sessions.append(harness.start_spark(work))
        return sessions[-1]

    try:
        d, _setup = harness.set_up(
            spark_factory, lambda sp: dashboard.Dashboard(sp, work, args.seed, prof), prof
        )
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.session import tune

        sp = tune(d.spark.newSession(), harness.NPROC)
        codegen = sp._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        _count_py4j(prof)
        rng = np.random.default_rng([args.seed, 200])
        cols = ("build_ms", "exec_ms", "py4j", "jobs", "compile_ms")
        print(f"{'chart':<18}" + "".join(f"{c:>12}" for c in cols))
        for name in names:
            per_op = collections.defaultdict(list)
            for i in range(args.ops):
                group = f"profile-{name}-{i}"
                sp.sparkContext.setJobGroup(group, name)
                prof.op = collections.Counter()
                c0 = codegen.compileTime()
                d.run_op(sp, name, dashboard.draw_interval(rng), group)
                per_op["compile_ms"].append((codegen.compileTime() - c0) / 1e6)
                per_op["build_ms"].append(sum(prof.op[s] for s in BUILD))
                per_op["exec_ms"].append(sum(prof.op[s] for s in EXEC))
                per_op["py4j"].append(prof.op["py4j"])
                per_op["jobs"].append(harness.job_counts(sp, group)[0])
            print(f"{name:<18}" + "".join(
                f"{statistics.median(per_op[c]):>12.1f}" for c in cols
            ), flush=True)
    finally:
        for s in sessions:
            harness.stop_spark(s)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
