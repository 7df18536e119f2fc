"""Benchmark of the validation engine's user-facing runs.

    python3 perfbench/run.py --workload validate_full --seed 1 --seconds 10 --trace 0

One run is one fresh process: it starts a Spark session, generates its
inputs from ``--seed``, then calls one public entry point in a closed
loop with a single caller (the next call starts when the previous one
returned): a first call in the fresh JVM, then later calls until
``--seconds`` have passed since the first later call began, and at
least the workload's ``later_calls`` of them. Every call's outputs are
checked (checks.py). The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the Spark
event log is on, public functions are wrapped in job groups
(tracing.py), and the metrics are the per-layer ones. The line before it
holds reference readings of the host (steal, external CPU load) that
are not metrics.

Work files go to ``.perfbench_work/<pid>`` under the current directory
and are removed at exit, as is every process the run started.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import gen  # noqa: E402
import procstat  # noqa: E402
import tracing  # noqa: E402

VALIDATE_ROWS = 10_000
DELTA_ROWS = 500
PREP_DOCS = 600
PACK_CAPACITY = 2048  # prep_corpus default


def _env() -> None:
    """Engine sizing for the host it runs on, and the package on the Python
    workers' path (prep_corpus's UDFs import it)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(mem_gb // 4)))}g"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")


class Workload:
    """One entry point called in a loop. ``call`` returns the report;
    ``check`` returns failure messages (computed apart from the
    program); ``done`` removes the call's output. A run makes at least
    ``later_calls`` calls after the first."""

    later_calls = 1

    def __init__(self, spark, work: Path, seed: int, tracer) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.con = checks.connect()

    def out(self, k: int) -> str:
        return str(self.work / f"out{k}")

    def before(self, k: int) -> None:
        """Untimed preparation of call ``k``."""

    def done(self, k: int) -> None:
        shutil.rmtree(self.out(k), ignore_errors=True)


def _suite():
    from teleharvest_spark.config import CheckSuite

    return CheckSuite(**{k: tuple(v) if isinstance(v, list) else v for k, v in gen.SUITE.items()})


def _files_literal(paths) -> str:
    return "[" + ", ".join(f"'{p}'" for p in sorted(paths)) + "]"


class ValidateFull(Workload):
    """cli.run into a fresh output: drift, emit_valid, key_index,
    corpus_states; the suite bans tokens and restricts sources."""

    def prepare(self) -> None:
        self.inp = str(self.work / "in")
        self.plan = gen.sequences(self.inp, self.seed, VALIDATE_ROWS)
        self.suite = _suite()

    def run_cli(self, out: str, run_id: str, resume: bool = False) -> dict:
        from teleharvest_spark import cli

        return cli.run(
            self.spark, self.inp, out, self.suite, run_id, resume=resume,
            drift=True, emit_valid=f"{out}/certified", key_index=True,
            corpus_states=True,
        )

    def call(self, k: int) -> dict:
        return self.run_cli(self.out(k), f"c{k}")

    def check(self, k: int, report: dict) -> list[str]:
        files = _files_literal(Path(self.inp).glob("*.parquet"))
        return checks.validate_full(self.con, files, self.out(k), f"c{k}")


class ValidateResume(ValidateFull):
    """Set-up seeds the output with one validate_full-shaped run, then a
    small file lands in one source; each call restores the seeded output
    (untimed) and runs cli.run(resume=True) with the same flags."""

    def prepare(self) -> None:
        super().prepare()
        self.seed_files = _files_literal(Path(self.inp).glob("*.parquet"))
        seed_out = str(self.work / "seed")
        self.run_cli(seed_out, "seed")
        fails = checks.validate_full(self.con, self.seed_files, seed_out, "seed")
        if fails:
            raise RuntimeError(f"seeding run failed its checks: {fails}")
        self.seed_out = seed_out
        self.seed_certified = checks.file_digests(f"{seed_out}/certified")
        others = self.con.execute(
            f"SELECT doc_id FROM read_parquet({self.seed_files}) "
            "WHERE source <> ? ORDER BY doc_id",
            [gen.CHANGED],
        ).fetchall()
        gen.delta(self.inp, self.seed, DELTA_ROWS, [r[0] for r in others], self.plan)
        self.final_files = _files_literal(Path(self.inp).glob("*.parquet"))

    def before(self, k: int) -> None:
        shutil.copytree(self.seed_out, self.out(k))

    def call(self, k: int) -> dict:
        return self.run_cli(self.out(k), f"c{k}", resume=True)

    def check(self, k: int, report: dict) -> list[str]:
        return checks.validate_resume(
            self.con, self.seed_files, self.final_files, self.out(k), report,
            self.plan, self.seed_certified,
        )


class PrepCorpus(Workload):
    """pipeline.prep_corpus with its default stages into a fresh output.
    Two later calls: its ~80 short jobs and Python workers make one call
    follow the host's steal more than a validate call does, and the
    median of two spans twice the time."""

    later_calls = 2

    def prepare(self) -> None:
        self.docs = str(self.work / "docs")
        self.plan = gen.documents(self.docs, self.seed, PREP_DOCS)

    def call(self, k: int) -> dict:
        from teleharvest_spark import pipeline

        t0 = time.time()
        report = pipeline.prep_corpus(self.spark, self.docs, self.out(k), f"c{k}")
        if self.tracer is not None:
            self.tracer.stage_intervals(k, t0, report)
        return report

    def check(self, k: int, report: dict) -> list[str]:
        return checks.prep_corpus(self.con, self.docs, self.out(k), self.plan, PACK_CAPACITY)


WORKLOADS = {
    "validate_full": ValidateFull,
    "validate_resume": ValidateResume,
    "prep_corpus": PrepCorpus,
}


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait until no descendant
    process is left (the Python workers exit with the JVM)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = None
    deadline = time.time() + 30
    while len(procstat.tree_pids()) > 1:
        if time.time() > deadline:
            for pid in procstat.tree_pids()[1:]:
                os.kill(pid, 9)
            break
        time.sleep(0.1)
    for pid in procstat.tree_pids()[1:]:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _env()
    work = Path.cwd() / ".perfbench_work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir()
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass


def _run(args, work: Path) -> int:
    host0, tree0 = procstat.host_cpu(), procstat.tree_cpu_s()
    with procstat.RssSampler() as rss:
        from teleharvest_spark.session import get_spark

        conf = {
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            (work / "events").mkdir()
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = str(work / "events")
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        t_sess = time.time()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        tracer = None
        if args.trace:
            tracer = tracing.Tracer(spark)
            tracer.sc.setLocalProperty(tracing.GROUP_KEY, f"{tracing.SESSION}|session")
        spark.range(1).count()
        setup_s = procstat.process_age_s()
        try:
            if tracer is not None:
                tracer.sc.setLocalProperty(tracing.GROUP_KEY, None)
                tracer.spans.append(("session", tracing.SESSION, t_sess, time.time()))
                tracer.install()
            wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
            wl.prepare()
            calls = _loop(wl, tracer, args.seconds)
            # read before the stop: workers that exit with the JVM are
            # not reaped into this tree's counters
            host1, tree1 = procstat.host_cpu(), procstat.tree_cpu_s()
        finally:
            _stop(spark)

    ok = [c for c in calls if c["error"] is None]
    later = [c for c in ok if c["k"] > 0]
    fails = [f for c in calls for f in c["fails"]]
    for c in calls:
        if c["error"]:
            print(f"call {c['k']} raised: {c['error']}", file=sys.stderr)
    for f in fails:
        print(f"check failed: {f}", file=sys.stderr)
    first = [c for c in ok if c["k"] == 0]
    e2e = {
        "setup_s": (setup_s, "s"),
        "first_call_s": (first[0]["wall"] if first else float("nan"), "s"),
        "call_s": (_median(c["wall"] for c in later), "s"),
        "call_cpu_s": (_median(c["cpu"] for c in later), "s"),
    }
    if args.trace:
        jobs = tracing.read_event_log(str(work / "events"))
        spans = {c["k"]: (c["t0"], c["t1"]) for c in calls}
        acc = tracer.layers(jobs, spans, [c["k"] for c in later])
        metrics = _per_layer(acc, wl, later)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    busy = host1["busy"] - host0["busy"]
    print(
        json.dumps(
            {
                "host": {
                    "steal_s": round(host1["steal"] - host0["steal"], 2),
                    "peak_rss_mb": round(rss.peak_mb, 1),
                    "external_cpu_s": round(busy - (tree1 - tree0), 2),
                    "calls": len(calls),
                    "call_walls": [round(c["wall"], 3) for c in calls],
                    "traced_call_s": e2e["call_s"][0] if args.trace else None,
                }
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": not fails,
                "attempted": len(calls),
                "failed": len(calls) - len(ok),
                "metrics": metrics,
            }
        )
    )
    return 0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else float("nan")


def _loop(wl, tracer, seconds: float) -> list[dict]:
    calls: list[dict] = []
    t_later = None
    k = 0
    while k < 1 + wl.later_calls or time.time() - t_later < seconds:
        wl.before(k)
        if tracer is not None:
            tracer.call = k
        cpu0 = procstat.tree_cpu_s()
        t0 = time.time()
        if k == 1:
            t_later = t0
        error, report = None, None
        try:
            report = wl.call(k)
        except Exception as exc:  # a failed call is counted, not fatal
            error = f"{type(exc).__name__}: {exc}"
        t1 = time.time()
        cpu = procstat.tree_cpu_s() - cpu0
        fails = wl.check(k, report) if error is None else []
        calls.append(
            {"k": k, "t0": t0, "t1": t1, "wall": t1 - t0, "cpu": cpu,
             "error": error, "fails": [f"call {k}: {f}" for f in fails],
             "report": report}
        )
        wl.done(k)
        k += 1
    return calls


def _per_layer(acc: dict, wl, later: list[dict]) -> dict:
    out = {}
    for layer, fields in acc.items():
        for f, v in fields.items():
            if f"{layer}.{f}" not in tracing.DROPPED:
                unit = {"wall_s": "s", "cpu_s": "s", "jobs": "count", "tasks": "count"}.get(f, "MB")
                out[f"{layer}.{f}"] = {"value": v, "unit": unit}
    table_mb = 0.0
    if hasattr(wl, "inp"):
        table_mb = sum(p.stat().st_size for p in Path(wl.inp).glob("*.parquet")) / 2**20
    suite_in = acc["plans.suite"]["input_mb"]
    out["plans.suite.scan_ratio"] = {
        "value": suite_in / table_mb if table_mb else 0.0, "unit": "ratio"
    }
    shares = [
        c["report"]["validated_rows"] / wl.plan.rows
        for c in later
        if isinstance(c["report"], dict) and "validated_rows" in c["report"]
    ]
    out["cli.pending_share"] = {"value": _median(shares) if shares else 0.0, "unit": "ratio"}
    return out


if __name__ == "__main__":
    sys.exit(main())
