"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds its inputs from
``--seed``, sets the workload up several times (``setup_s`` is the
median), then runs whole rounds of ops with one client and no think
time for at least ``--seconds`` seconds, checking every result.

Standard output: one ``metric`` line per figure (name, value, unit,
sample count), then, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` every op runs inside spans and the metrics are the
per-layer ones, followed in the text lines by a table per span.

All scratch data lives under ``perfbench/_work`` in the checkout and is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _clear_stale(work_root: Path) -> None:
    """Remove scratch left by earlier runs whose process is gone."""
    for d in work_root.glob("*-*-*"):
        try:
            os.kill(int(d.name.rsplit("-", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass  # another user's live process


def _pin_env(work: Path) -> dict:
    """The run environment, pinned before Spark starts and recorded with
    the result: cores, scratch and temp dirs, profile, time zone."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),  # what nproc prints
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "APPLICATION_ENVIRONMENT": "Production",
        "TMPDIR": str(work / "tmp"),
        "TZ": "UTC",
        # executor Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        Path(env[k]).mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    time.tzset()
    return env


def _spark(work: Path):
    from otrrentetl_spark.session import get_spark

    tmp = work / "tmp"
    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "20000",
    })


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def end_to_end(setups, run) -> dict:
    from perfbench.core import geomean, median

    kinds: dict = {}
    for op in run.ops:
        kinds.setdefault(op.kind, []).append(op.wall_s)
    return {
        "setup_s": (median(setups), "s"),
        "op_geomean_s": (geomean(median(v).value for v in kinds.values()), "s"),
        "round_p50_s": (median(run.rounds), "s"),
    }


def per_layer(run) -> dict:
    from perfbench.core import COUNTERS, Stat, median

    roots = [op.span for op in run.ops if op.span is not None]
    counters = [sp.counters() for sp in roots]
    out = {}
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "shuffle_bytes": "bytes", "spill_bytes": "bytes", "input_bytes": "bytes"}
    for key in COUNTERS:
        out[f"op.{key}"] = (median(c[key] for c in counters), units.get(key, "s"))
    # per round: the sum over the round's ops
    per_round, i = [], 0
    n_ops = len(run.ops) // len(run.rounds)
    for _ in run.rounds:
        chunk = counters[i: i + n_ops]
        i += n_ops
        per_round.append({k: sum(c[k] for c in chunk) for k in ("jobs", "driver_s", "executor_run_s")})
    for key, unit in (("jobs", "count"), ("driver_s", "s"), ("executor_run_s", "s")):
        out[f"round.{key}"] = (median(r[key] for r in per_round), unit)
    op_wall = sum(op.wall_s for op in run.ops)
    out["trace.overhead_s"] = (median(sp.total_overhead() for sp in roots), "s")
    out["trace.overhead_share"] = (
        Stat(sum(sp.total_overhead() for sp in roots) / op_wall, len(roots)), "ratio")
    return out


def span_table(tracer) -> list[str]:
    """One line per span name: medians of its counters."""
    from perfbench.core import median

    by_name: dict = {}

    def walk(sp):
        by_name.setdefault(sp.name, []).append(sp.counters())
        for c in sp.children:
            walk(c)

    for r in tracer.roots:
        walk(r)
    lines = []
    for name, rows in by_name.items():
        cells = " ".join(
            f"{k}={_fmt(median(r[k] for r in rows).value)}"
            for k in ("wall_s", "self_s", "jobs", "tasks", "driver_s", "executor_run_s",
                      "shuffle_bytes"))
        lines.append(f"span {name} n={len(rows)} {cells}")
    spill = sum(r.total("spill_bytes") for r in tracer.roots)
    lines.append(f"span spark.spill_bytes total={spill}")
    return lines


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ROOT / "otrrentetl_spark" / "__init__.py").is_file():
        _fail(f"no otrrentetl_spark package under {ROOT}: run from a checkout of the repository")
    if not (ROOT / "tools" / "verify_oracle.py").is_file():
        _fail("tools/verify_oracle.py is missing: the olap oracle check needs it")

    work_root = HERE / "_work"
    _clear_stale(work_root)
    work = work_root / f"{args.workload}-{args.seed}-{os.getpid()}"
    env = _pin_env(work)
    sys.path.insert(0, str(ROOT))

    from perfbench.core import Tracer, closed_loop

    spark = None
    try:
        t_session = time.perf_counter()
        spark = _spark(work)
        spark.range(1).collect()  # JVM and scheduler start-up, before any set-up
        session_s = time.perf_counter() - t_session
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        wl.prepare()
        prepare_s = time.perf_counter() - t0 - gen_s
        setup_errors: list = []
        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep, setup_errors)
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = [closed_loop(0, wl.round) for _ in range(getattr(wl, "warmup_rounds", 0))]
        warmup_s = time.perf_counter() - t0
        tracer.roots.clear()
        run = closed_loop(args.seconds, wl.round)
        report = wl.report(run)

        checked = run.ops + [op for w in warm for op in w.ops]
        failed = sum(not op.ok for op in checked)
        attempted = len(checked)
        import duckdb

        recorded = {
            **env, "spark": spark.version, "duckdb": duckdb.__version__,
            "session_start_s": session_s, "generate_s": gen_s, "prepare_s": prepare_s,
            "setups_s": setups, "warmup_s": warmup_s, "rounds_s": run.rounds,
        }
        lines = [
            f"env {json.dumps(recorded)}",
            f"metric error_rate {_fmt(failed / attempted)} ratio n={attempted}",
        ]
        if args.trace:
            metrics = per_layer(run)
            extras = getattr(wl, "layer_extras", dict)()
            metrics.update({k: (v, "count" if k.endswith("files") else "ratio")
                            for k, v in extras.items()})
            declared = spec["per_layer"]
            lines += span_table(tracer)
        else:
            metrics = end_to_end(setups, run)
            declared = spec["end_to_end"]
        for name, stat, unit in report:
            lines.append(f"metric {name} " + (
                f"{_fmt(stat.value)} {unit} n={stat.n}" if stat else f"- {unit}"))
        for name, (stat, unit) in metrics.items():
            lines.append(f"metric {name} {_fmt(stat.value)} {unit} n={stat.n}")
        for e in (setup_errors + [e for w in warm for e in w.errors] + run.errors)[:20]:
            lines.append(f"error {e}")
        units = {m["name"]: m["unit"] for m in declared}
        result = {
            "correct": failed == 0 and not setup_errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": metrics[name][0].value, "unit": units[name]}
                        for name in units if name in metrics},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        if work_root.is_dir() and not any(work_root.iterdir()):
            work_root.rmdir()
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
