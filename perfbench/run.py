"""tric_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 40 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
(measured with tracing off); ``--trace 1`` makes the separate traced run and
prints the per-layer metrics. Lines before the last are the run's record:
pinned environment, fixture, load average at each pass start, per-pass
times. The last line is the result object. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

NPROC = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "2g"
# independent fresh-JVM set-ups per run; setup_s is their median
SETUPS = 2
# nominal pass cost on a 4-core box: the pass count is
# max(2, seconds // nominal) -- a function of --seconds only, so both sides
# of a comparison time the same pass indices
NOMINAL_PASS_S = 13.0
TRACE_PASSES = 2  # traced run: cold pass, then the traced warm pass


def log(kind: str, **fields) -> None:
    print(json.dumps({"record": kind, **fields}, default=str), flush=True)


def pin_environment() -> dict:
    """Fix every knob both sides of a comparison must share; return them."""
    local, tmp = os.path.join(WORK, "local"), os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=ROOT + (os.pathsep + pythonpath if pythonpath else ""),
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return {
        "nproc": NPROC,
        "master": f"local[{NPROC}]",
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_heap": f"-Xms{DRIVER_MEM} -Xmx{DRIVER_MEM}",
        "spark_local_dirs": local,
        "python": sys.version.split()[0],
    }


def spark_conf(event_log: str | None) -> dict:
    conf = {
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Session:
    """A Spark session in a fresh JVM, opened on the workload's input."""

    def __init__(self, wl, path: str, event_log: str | None = None):
        from tric_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{wl.name}", cores=NPROC,
            shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=spark_conf(event_log),
        )
        self.start_s = time.perf_counter() - t0
        self.inp = wl.open(self.spark, path)
        self.setup_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and so its workers) to exit, so
        the next session starts in a fresh JVM."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def fresh_setup(wl, path: str) -> float:
    s = Session(wl, path)
    s.stop()
    return s.setup_s


class Runner:
    """Runs passes of one workload in one session and checks each."""

    def __init__(self, wl, exp: dict, session: Session, tag: str):
        self.wl, self.exp, self.s = wl, exp, session
        self.tag = tag
        self.attempted = self.failed = 0
        self.passes: list[dict] = []
        self.tracer = None

    def run_pass(self, i: int, keep: bool = False) -> dict:
        from probe import cpu_probe, cpu_seconds, loadavg_1m

        wl, sc = self.wl, self.s.sc
        pass_dir = os.path.join(WORK, "passes", f"{self.tag}-{i}")
        shutil.rmtree(pass_dir, ignore_errors=True)
        os.makedirs(pass_dir)
        group = f"{self.tag}-pass{i}"
        rec = {"pass": i, "loadavg_1m": loadavg_1m(), "cpu_probe_hps": cpu_probe(), "errors": []}
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.set_prefix(f"p{i}:")
        else:
            sc.setJobGroup(group, group)
        res = None
        cpu0 = cpu_seconds(self.s.jvm_pid)
        t0 = time.perf_counter()
        try:
            res = wl.run(self.s.spark, self.s.inp, pass_dir)
        except Exception:
            rec["errors"].append(traceback.format_exc(limit=3))
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = cpu_seconds(self.s.jvm_pid) - cpu0
        sc.setJobGroup(f"{self.tag}-check", "check")
        if res is not None:
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group)) if self.tracer is None else None
            rec["commits"] = wl.commits(res)
            rec["directed_edges"] = wl.directed_edges(res)
            try:
                rec["errors"] += wl.check(res, self.exp)
            except Exception:
                rec["errors"].append(traceback.format_exc(limit=3))
            if self.passes and "commits" in self.passes[0]:
                rec["errors"] += isolation_errors(self.passes[0], rec)
        if rec["errors"]:
            self.failed += 1
        log("pass", workload=wl.name, session=self.tag, **rec)
        self.passes.append(rec)
        rec["res"] = res
        if not keep:
            self.cleanup(rec)
        return rec

    def cleanup(self, rec: dict) -> None:
        self.s.spark.catalog.clearCache()
        shutil.rmtree(os.path.join(WORK, "passes", f"{self.tag}-{rec['pass']}"), ignore_errors=True)
        rec["res"] = None


def isolation_errors(first: dict, rec: dict) -> list[str]:
    """A pass must redo pass 1's work: the same committed checkpoints, and
    the same Spark job count up to one job in a hundred. (AQE makes the
    count drift by one between passes of identical work, e.g. 346 vs 347
    of crawl_pipeline; a pass resumed from a done checkpoint runs a
    fraction of the jobs.)"""
    errors = []
    if rec["commits"] != first["commits"]:
        errors.append(f"pass isolation: {rec['commits']} commits, pass 1 made {first['commits']}")
    if first["jobs"] is not None and abs(rec["jobs"] - first["jobs"]) > max(1, first["jobs"] // 100):
        errors.append(f"pass isolation: {rec['jobs']} Spark jobs, pass 1 ran {first['jobs']}")
    return errors


def n_passes(seconds: int) -> int:
    return max(2, int(seconds // NOMINAL_PASS_S))


def run_untraced(wl, path: str, exp: dict, seconds: int) -> tuple[dict, int, int]:
    from probe import RssWatcher

    s = Session(wl, path)
    log("setup", i=1, setup_s=s.setup_s, session_start_s=s.start_s)
    r = Runner(wl, exp, s, "run")
    with RssWatcher(s.jvm_pid) as rss:
        for i in range(1, n_passes(seconds) + 1):
            r.run_pass(i)
    s.stop()
    log("peak_rss", peak_mb=rss.peak_mb, **rss.peak_split)
    setups = [s.setup_s]
    for i in range(2, SETUPS + 1):
        setups.append(fresh_setup(wl, path))
        log("setup", i=i, setup_s=setups[-1])
    if r.failed:
        return {}, r.attempted, r.failed
    warm = r.passes[1:]
    warm_s = statistics.median(p["wall_s"] for p in warm)
    metrics = {
        "job_s": (r.passes[0]["wall_s"], "s"),
        "warm_job_s": (warm_s, "s"),
        "teps": (r.passes[0]["directed_edges"] / warm_s, "1/s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in warm), "s"),
        "setup_s": (statistics.median(setups), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    return metrics, r.attempted, r.failed


def run_traced(wl, path: str, exp: dict) -> tuple[dict, int, int]:
    """Untraced baseline session, then the traced session; per-layer
    metrics come from the traced session's warm pass and probes."""
    from probe import Tracer, read_event_log

    from layers import layer_metrics

    base = Session(wl, path)
    rb = Runner(wl, exp, base, "base")
    for i in range(1, TRACE_PASSES + 1):
        rb.run_pass(i)
    base.stop()

    event_log = os.path.join(WORK, "eventlog", str(os.getpid()))
    shutil.rmtree(event_log, ignore_errors=True)
    s = Session(wl, path, event_log=event_log)
    rt = Runner(wl, exp, s, "traced")
    tracer = rt.tracer = Tracer(s.spark)
    for module, attr, name in wl.trace_wraps():
        tracer.wrap(module, attr, name)
    tracer.count_barriers(type(s.spark.range(1)))
    for i in range(1, TRACE_PASSES):
        rt.run_pass(i)
    last = rt.run_pass(TRACE_PASSES, keep=True)
    counts, errors = {}, []
    if last["res"] is not None:
        tracer.set_prefix("probe:")
        try:
            counts, errors = wl.layer_probes(s.spark, s.inp, tracer, last["res"], exp)
        except Exception:
            errors = [traceback.format_exc(limit=3)]
    if errors:
        log("probe_errors", errors=errors)
        rt.failed += 1
    rt.cleanup(last)
    tracer.restore()
    s.stop()
    attempted, failed = rb.attempted + rt.attempted, rb.failed + rt.failed
    if failed:
        return {}, attempted, failed
    groups = read_event_log(event_log)
    shutil.rmtree(event_log, ignore_errors=True)
    metrics = layer_metrics(
        wl, tracer.spans, groups, counts, last, base_session=base,
        untraced_warm_s=rb.passes[-1]["wall_s"], cores=NPROC,
    )
    return metrics, attempted, failed


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("crawl_pipeline", "rmat_tric"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=40)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tric_spark", "__init__.py")):
        print(f"perfbench: no tric_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    env = pin_environment()
    sys.path[:0] = [ROOT, HERE]
    log("environment", **env, workload=args.workload, seed=args.seed,
        seconds=args.seconds, trace=args.trace)

    import fixtures

    path, exp = fixtures.load(os.path.join(WORK, "fixtures"), args.workload, args.seed)
    log("fixture", path=os.path.relpath(path, ROOT), gen_s=exp["gen_s"],
        **{k: v for k, v in exp.items() if k not in ("tpv", "components", "gen_s")})

    from jobs import WORKLOADS

    wl = WORKLOADS[args.workload]
    if args.trace:
        metrics, attempted, failed = run_traced(wl, path, exp)
    else:
        metrics, attempted, failed = run_untraced(wl, path, exp, args.seconds)
    shutil.rmtree(os.path.join(WORK, "passes"), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
