"""Profile registry queries: one record per query, in one session.

    python tools/measure.py --sf DIR [--runs 3] [--duck-runs 3] [--sink collect|parquet]
        [--budget FIXTURE] [--out FILE] [name ... | headline]

No name: the whole registry; ``headline``: ``bench.HEADLINE``. Per query:

- timed: a warm-up run, then min-of-``--runs`` fresh-plan runs that
  collect (or write parquet); the best run also gives the walls of the
  registry ``fn()`` call (``build_s``) and of ``executedPlan()`` (``plan_s``);
- noop: one run to the noop sink; ``fetch_s`` is best minus noop;
- trace: one run in a ``perfbench.core.Tracer`` span, last, so that it
  sees a warm query's jobs: jobs, stages, tasks, executor time, shuffle,
  spill and input bytes, the driver residual, each job's callsite, the
  AQE final plan's exchanges, broadcasts and Python evals (collect mode
  only), and the own jobs of each ``STEPS`` method and of the query;
- duck: min-of-``--duck-runs`` DuckDB runs of the oracle SQL, and the ratio.

``fn()`` runs inside every timed region: re-collecting one DataFrame
reuses its shuffle files. The JVM is GC'd after every Spark run to reclaim
the shuffle files of dropped plans. A failing query is recorded and the
loop goes on; the tool then exits 1, as it does with ``--budget FIXTURE``
when a best wall exceeds its ``tools/budgets.json`` row for the fixture.
"""

from __future__ import annotations

import argparse
import functools
import json
import re
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]
BUDGETS = REPO / "tools" / "budgets.json"
sys.path.insert(0, str(REPO))

from perfbench.core import COUNTERS, Tracer  # noqa: E402

# the engine methods whose own jobs the trace reports, by class
STEPS = {
    "KeyedParquetTable": (
        "overwrite", "_overwrite_unlocked", "upsert_replace_partitions", "delete_by_keys",
        "compact", "compact_if", "expire_history", "vacuum", "_cow_split", "_arrow_write",
        "_commit_snapshot", "_distributed_file_stats", "changes", "read"),
    "AnnLshIndex": ("build", "apply_changes", "maintain", "topk", "knn_join_bulk", "_driver_knn"),
    "ChangeFeed": ("poll",),
}
STEPS["IvfIndex"] = STEPS["AnnLshIndex"]


def check_budgets(results: dict[str, float], budgets: dict, fixture: str) -> list[str]:
    """Return one violation line per timed query whose wall exceeds
    its budget for this fixture label; empty list = within budget.
    Pure, so it is unit-testable without a Spark session. A row holds
    a wall in seconds or a ratio, so its numbers print unitless."""
    out = []
    for name, wall in results.items():
        row = budgets.get(name)
        if row and row.get("fixture") == fixture and wall > row["budget_s"]:
            out.append(
                f"BUDGET EXCEEDED: {name} at {fixture}: {wall:.4g} > "
                f"{row['budget_s']:g} (pin {row['pinned_s']:g}, r{row['pinned_round']})"
            )
    return out


def failures(out: dict[str, dict], budgets: dict, fixture: str | None) -> list[str]:
    """The lines that fail a run: each query that raised (it has no wall
    to check, budgeted or not), then each best wall over its budget."""
    bad = [f"FAILED: {n}: {r['error']}" for n, r in out.items() if "error" in r]
    timed = {n: r["best_s"] for n, r in out.items() if r.get("best_s") is not None}
    return bad + (check_budgets(timed, budgets, fixture) if fixture else [])


def exit_on(bad: list[str], ok: str) -> None:
    """Print the failing lines and exit 1 if there are any, else ``ok``."""
    print("\n".join(bad or [ok]))
    if bad:
        sys.exit(1)


def enforce_budgets(results: dict[str, float], fixture: str) -> None:
    """Gate ``results`` on their ``tools/budgets.json`` rows for ``fixture``."""
    values = ", ".join(f"{n} {v:.4g}" for n, v in results.items())
    exit_on(check_budgets(results, json.loads(BUDGETS.read_text()), fixture),
            f"budgets OK for fixture {fixture}: {values}")


def final_plan(df) -> tuple[str, str]:
    """``df``'s formatted plan and the tree of its AQE final plan alone
    (the initial plan repeats every operator before run time)."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    text = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")  # noqa: SLF001
    tree = text.split("\n\n")[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==")[1]
        tree = tree.split("+- == Initial Plan ==")[0]
    return tree, text


def plan_counts(tree: str) -> dict:
    ops = [op for op, _ in set(re.findall(r"(\w+) \((\d+)\)", tree))]
    return {
        "exchanges": ops.count("Exchange"),
        "broadcasts": ops.count("BroadcastExchange"),
        "python_evals": sum(bool(re.search("Python|Pandas|InArrow", op)) for op in ops),
    }


_tracer: Tracer | None = None  # the steps' spans; enabled only while tracing


def _wrap(cls, name: str) -> None:
    """Run ``cls.name`` inside a span of ``_tracer`` labelled by the
    class it was called on. A method inherited by several wrapped
    classes is wrapped once, on the class that defines it."""
    owner = next((c for c in cls.__mro__ if name in c.__dict__), None)
    raw = owner and owner.__dict__[name]
    is_cm = isinstance(raw, classmethod)
    orig = raw.__func__ if is_cm else raw
    if orig is None or getattr(orig, "_step", False):
        return

    @functools.wraps(orig)
    def step(*args, **kwargs):
        of = args[0] if is_cm else type(args[0])
        with _tracer.span(f"{of.__name__}.{name}"):
            return orig(*args, **kwargs)

    step._step = True
    setattr(owner, name, classmethod(step) if is_cm else step)


def _run(spark, fn, sf: str, sink: str | None):
    """One fresh plan to its sink: (wall, ``fn()`` wall, plan wall, rows,
    the DataFrame); no plan wall for a write, which plans its own command."""
    if sink:
        shutil.rmtree(sink, ignore_errors=True)
    t0 = time.perf_counter()
    df = fn(spark, sf)
    t1 = time.perf_counter()
    if not sink:
        df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    t2 = time.perf_counter()
    rows = df.write.parquet(sink) if sink else len(df.collect())
    wall = time.perf_counter() - t0
    if sink:
        rows = sum(pq.read_metadata(p).num_rows for p in Path(sink).glob("*.parquet"))
    return wall, t1 - t0, None if sink else t2 - t1, rows, df


def _trace(spark, tracer: Tracer, fn, sf: str, sink: str | None) -> dict:
    global _tracer
    quiet, _tracer = _tracer, tracer
    try:
        with tracer.span("query") as root:
            *_, rows, df = _run(spark, fn, sf, sink)
    finally:
        _tracer = quiet
    c = root.counters()
    out = {k: c[k] for k in COUNTERS}
    out.update(rows=rows, overhead_s=root.total_overhead(), body_jobs=len(root.jobs))
    # a parquet write plans and runs its own command: ``df`` never ran
    counts = dict.fromkeys(("exchanges", "broadcasts", "python_evals"))
    out.update(counts if sink else plan_counts(final_plan(df)[0]), steps={}, callsites=[])

    def walk(sp, label):
        for jid in sp.jobs:
            out["callsites"].append([jid, label, tracer.store.job(jid).name()])
        for ch in sp.children:
            row = out["steps"].setdefault(ch.name, {"jobs": 0, "calls": 0})
            row["jobs"] += len(ch.jobs)
            row["calls"] += 1
            walk(ch, ch.name)

    walk(root, "body")
    out["callsites"].sort()
    return out


def _reclaim(spark) -> None:
    # a dropped plan's shuffle files go only when the JVM GCs its RDDs
    # (ContextCleaner); at corpus-scale fixtures one run leaves 10+ GB
    spark._jvm.System.gc()  # noqa: SLF001
    time.sleep(1)


def _duck(con, sql: str, sink: str | None) -> float:
    if sink:
        Path(sink).unlink(missing_ok=True)
        sql = f"COPY ({sql}) TO '{sink}' (FORMAT PARQUET)"
    t0 = time.perf_counter()
    con.execute(sql).fetchall()
    return time.perf_counter() - t0


def measure(spark, tracer, con, name: str, args, sink_root: str | None) -> dict:
    from otrrentetl_spark.registry import ORACLES, QUERIES

    fn, sf = QUERIES[name], args.sf
    sink = sink_root and f"{sink_root}/{name}"
    runs = []
    for _ in range(args.runs + 1):  # the first run is the warm-up
        runs.append(_run(spark, fn, sf, sink)[:3])
        _reclaim(spark)
    runs = runs[1:]
    best, build, plan = min(runs, default=(None, None, None))
    rec = {"runs": [r[0] for r in runs], "best_s": best, "build_s": build, "plan_s": plan}
    t0 = time.perf_counter()
    fn(spark, sf).write.format("noop").mode("overwrite").save()
    rec["noop_s"] = time.perf_counter() - t0
    _reclaim(spark)
    rec.update(fetch_s=best and best - rec["noop_s"], duck_s=None, ratio=None)
    rec["trace"] = _trace(spark, tracer, fn, sf, sink)
    _reclaim(spark)
    sql = con and ORACLES.get(name)
    if sql:
        rec["duck_s"] = min(_duck(con, sql, sink and f"{sink}.duck") for _ in range(args.duck_runs))
        rec["ratio"] = best and best / rec["duck_s"]
    return json.loads(json.dumps(rec), parse_float=lambda s: round(float(s), 4))


def _report(name: str, rec: dict) -> None:
    if "error" in rec:
        return print(f"{name:35s} ERROR {rec['error']}", flush=True)
    t = rec["trace"]
    walls = " ".join(f"{k}={rec[k]}" for k in ("best_s", "noop_s", "build_s", "plan_s", "ratio"))
    layers = " ".join(f"{k}={t[k]}" for k in (
        "jobs", "stages", "tasks", "executor_run_s", "driver_s", "exchanges", "broadcasts"))
    print(f"{name:35s} {walls} | {layers}", flush=True)
    for label, row in sorted(t["steps"].items(), key=lambda kv: -kv[1]["jobs"]):
        print(f"    {label:48s} jobs={row['jobs']:3d} calls={row['calls']:3d}")
    if t["steps"]:
        print(f"    {'(query body)':48s} jobs={t['body_jobs']:3d}")
    for jid, label, site in t["callsites"]:
        print(f"      job {jid:5d} {label:46s} {site}")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("names", nargs="*", help="none: the registry; headline: bench.HEADLINE")
    p.add_argument("--sf", required=True, help="directory of the registry's parquet tables")
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--duck-runs", type=int, default=3)
    p.add_argument("--sink", choices=("collect", "parquet"), default="collect")
    p.add_argument("--budget", help="enforce the tools/budgets.json rows of this fixture")
    p.add_argument("--out", help="write the records here as JSON")
    args = p.parse_args()

    import bench
    from otrrentetl_spark.operators.annindex import AnnLshIndex, IvfIndex
    from otrrentetl_spark.operators.merge import KeyedParquetTable
    from otrrentetl_spark.registry import QUERIES
    from otrrentetl_spark.session import get_spark
    from otrrentetl_spark.streaming.changefeed import ChangeFeed
    from tools.verify_oracle import duck_connect

    names = args.names or list(QUERIES)
    if names == ["headline"]:
        names = [n for n in bench.HEADLINE if n in QUERIES]
    global _tracer
    for cls in (KeyedParquetTable, AnnLshIndex, IvfIndex, ChangeFeed):
        for step in STEPS[cls.__name__]:
            _wrap(cls, step)
    spark = get_spark("measure", extra_conf={"spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "10000", "spark.ui.retainedStages": "20000"})
    # one enabled Tracer per session: its job groups are numbered per
    # instance, so a second one would read the first one's jobs
    _tracer, tracer = Tracer(spark, False), Tracer(spark, True)
    con = duck_connect(args.sf) if args.duck_runs > 0 else None
    sink_root = tempfile.mkdtemp(prefix="measure_sink_") if args.sink == "parquet" else None
    out: dict[str, dict] = {}
    for name in names:
        try:
            out[name] = measure(spark, tracer, con, name, args, sink_root)
        except Exception as ex:  # noqa: BLE001 — a failing query is data
            traceback.print_exc()
            out[name] = {"error": f"{type(ex).__name__}: {str(ex)[:300]}"}
        _report(name, out[name])
    timed = [r["best_s"] for r in out.values() if r.get("best_s") is not None]
    print(f"TOTAL best={sum(timed):.3f}s over {len(timed)} queries")
    if args.out:
        Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
    if sink_root:
        shutil.rmtree(sink_root, ignore_errors=True)
    spark.stop()
    ok = f"budgets OK for fixture {args.budget}" if args.budget else "no query failed"
    exit_on(failures(out, json.loads(BUDGETS.read_text()), args.budget), ok)


if __name__ == "__main__":
    main()
