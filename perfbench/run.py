"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload curation|lake_rw --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. A run reads the sf0.001 tables in
perfbench/data, sets up in one Spark driver process (session start plus
the workload's prebuild, timed as `setup_s`), and once that process has
exited measures in a fresh one on local[nproc]: pass 0 over the
workload's operations is the cold pass, then come the steady passes
`--seconds` buys. One closed-loop client issues the operations. Outputs
are checked after the last pass.

`--trace 0` prints the end-to-end metrics. `--trace 1` traces the timed
process and prints the per-layer metrics, with the tracing overhead
against the untraced runs this checkout has stored for the same code
(or, with none, an untraced process it measures itself); its spans go
to `.perfbench/spans-<workload>-<seed>.json`.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; the line before it holds every
figure of the run, per-pass times and host noise included. Everything
is written under `.perfbench/` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("curation", "lake_rw")
DATA_DIR = os.path.join(HERE, "data", "sf0.001")  # the engine's sf0.001 test tables
RUN_LIMIT_S = 170       # a run must end well inside 180 s
# untraced figures a traced run reports as per-layer metrics
WALL_METRICS = ("cold_s", "steady_s", "op_p50_s", "op_tail_s", "peak_rss_mb")


def tail_pct(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it."""
    return max(50, int(100 * (1 - 10 / n))) if n else 50


def percentile(xs: list[float], pct: int) -> float:
    xs = sorted(xs)
    if not xs:
        return float("nan")
    return xs[min(len(xs) - 1, max(0, -(-pct * len(xs) // 100) - 1))]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args):
        self.args = args
        self.base = os.path.join(ROOT, ".perfbench")
        self.dir = os.path.join(
            self.base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
        self.deadline = time.monotonic() + RUN_LIMIT_S
        self.env = dict(os.environ)
        tmp = os.path.join(self.dir, "tmp")
        cpus = str(len(os.sched_getaffinity(0)))
        self.env.update({
            "PYTHONPATH": ROOT + os.pathsep + self.env.get("PYTHONPATH", ""),
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_IDX_ROOT": os.path.join(self.dir, "idx"),
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "spark-local"),
            "TMPDIR": tmp,
            # keep JVM temporary files (and its perf-data file) in the run dir
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        self.env.pop("PYSPARK_SUBMIT_ARGS", None)
        self.env.pop("SPARK_GRAFT_SF_DIR", None)
        self.procs: list[subprocess.Popen] = []

    def start(self, role: str, trace: int = 0, tag: str = "") -> tuple:
        """Launch one driver process in its own process group."""
        name = f"{role}{tag}"
        cfg = {
            "role": role, "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": trace,
            "data_dir": DATA_DIR,
            "idx_root": os.path.join(self.dir, "idx"),
            "lake_seed": os.path.join(self.dir, "lake_seed"),
            "setup_out": os.path.join(self.dir, "setup.json"),
            "out": os.path.join(self.dir, f"{name}.json"),
            "spans": os.path.join(
                self.base, f"spans-{self.args.workload}-{self.args.seed}.json"),
            "eventlog_dir": os.path.join(self.dir, f"evlog{tag}"),
        }
        if self.args.workload == "lake_rw":
            cfg["lake"] = os.path.join(self.dir, f"lake{tag}")
        env = dict(self.env)
        if trace:
            from tracing import eventlog_submit_args

            os.makedirs(cfg["eventlog_dir"])
            env["PYSPARK_SUBMIT_ARGS"] = eventlog_submit_args(cfg["eventlog_dir"])
        cfg_path = os.path.join(self.dir, f"{name}.cfg.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        log_path = os.path.join(self.dir, f"{name}.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "child.py"), cfg_path],
                cwd=self.dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True)
        self.procs.append(proc)
        return proc, name, cfg["out"], log_path

    def finish(self, launched: tuple) -> dict:
        proc, name, out, log_path = launched
        try:
            code = proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        _kill_group(proc)
        if code != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            raise RuntimeError(f"{name} process failed (exit {code})")
        with open(out) as f:
            return json.load(f)

    def execute(self, need_plain: bool) -> tuple[dict, dict | None, dict | None]:
        """Set-up, then the timed process once set-up has exited, so
        neither JVM shares the cores with the other. A traced run
        measures the traced process, then an untraced one only if
        `need_plain` (no stored untraced runs of this code)."""
        os.makedirs(os.path.join(self.dir, "tmp"))
        trace = self.args.trace
        try:
            setup = self.finish(self.start("setup"))
            first = self.finish(self.start(
                "timed", trace=trace, tag="_traced" if trace else ""))
            if not trace:
                return setup, first, None
            plain = self.finish(self.start("timed")) if need_plain else None
        finally:
            for proc in self.procs:
                _kill_group(proc)
        return setup, plain, first


def code_version() -> str:
    """Hash of the engine package, the benchmark and the oracle compare
    it uses: stored untraced runs count only for the code that made them."""
    import hashlib

    h = hashlib.sha1()
    files = [os.path.join(ROOT, "tools", "check_oracle.py")]
    for top in (os.path.join(ROOT, "aws_data_pipeline_ads_spark"), HERE):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".py", ".parquet"))]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _untraced_path(base: str, args, version: str, seed) -> str:
    return os.path.join(
        base, f"untraced-{args.workload}-s{args.seconds:g}-{version}-{seed}.json")


def store_untraced(base: str, args, version: str, metrics: dict, info: dict) -> None:
    """Keep an untraced run's figures: traced runs of the same code
    measure against them. Written whole or not at all."""
    keep = {k: info[k] for k in WALL_METRICS}
    path = _untraced_path(base, args, version, args.seed)
    with open(f"{path}.tmp-{os.getpid()}", "w") as f:
        json.dump({**metrics, **keep}, f)
    os.replace(f"{path}.tmp-{os.getpid()}", path)


def untraced_runs(base: str, args, version: str) -> list[dict]:
    import glob

    out = []
    for path in glob.glob(_untraced_path(base, args, version, "*")):
        with open(path) as f:
            out.append(json.load(f))
    return out


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the child's whole process group (JVM and Python workers)
    and wait for the child."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


# -- metrics -------------------------------------------------------------------

def end_to_end(setup: dict, t: dict) -> tuple[dict, dict]:
    passes = [p["s"] for p in t["passes"]]
    steady = [op for op in t["ops"] if op["pass_no"] > 0]
    lat = [op["s"] for op in steady if not op.get("error")]
    pct = tail_pct(len(lat))
    cpu = [p["cpu_s"] for p in t["passes"]]
    m = {
        "setup_s": setup["session_start_s"] + setup["prebuild_s"],
        "cold_cpu_s": cpu[0],
        # the mean: steady passes keep warming, and across runs the mean
        # of many varies less than their median
        "steady_cpu_s": statistics.fmean(cpu[1:]),
    }
    by_kind: dict[str, list[float]] = {}
    for op in t["ops"]:
        by_kind.setdefault(op["kind"], []).append(round(op["s"], 3))
    # reported, not gated (see README.md): wall times of the timed
    # process and peak RSS spread wider than any bound on a host with
    # CPU steal, and one run has too few operations for a far tail
    info = {"cold_s": passes[0], "steady_s": _median(passes[1:]),
            "op_p50_s": percentile(lat, 50),
            "op_tail_s": percentile(lat, pct), "op_tail_pct": pct,
            "op_n": len(lat), "peak_rss_mb": t["peak_rss_bytes"] / 2**20,
            "pass_s": passes, "pass_cpu_s": cpu, "op_s_by_kind": by_kind}
    return m, info


def failures(t: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages): operations plus final-state checks."""
    errs = [f"{op['id']}: {op['error'].strip().splitlines()[-1]}"
            for op in t["ops"] if op.get("error")]
    errs += t.get("final_errors", [])
    return len(t["ops"]) + t.get("final_checks", 0), len(errs), errs


def per_layer(setup: dict, t: dict, traced_info: dict, untraced: list[dict]) -> dict:
    """Per-layer figures of the traced process, per steady pass (the
    median over steady passes), unless named as a total; untraced runs
    give the tail latency, memory and the tracing overhead's base."""
    from tracing import outermost_seconds

    steady_passes = range(1, len(t["passes"]))
    ops_of = {p: {op["id"] for op in t["ops"] if op["pass_no"] == p}
              for p in steady_passes}
    spans = t["spans"]

    def span_s(name: str) -> float:
        return _median([outermost_seconds(spans, name, ops_of[p])
                        for p in steady_passes])

    def op_s(kinds: set) -> float:
        return _median([sum(op["s"] for op in t["ops"]
                            if op["pass_no"] == p and op["kind"] in kinds)
                        for p in steady_passes])

    def scan_files(key: str) -> float:
        return _median([sum(s.get(key, 0) for s in spans
                            if s["name"] == "lake.scan_prune" and s["op"] in ops_of[p])
                        for p in steady_passes])

    ev: dict[tuple[int, str], dict] = {}
    for group, acc in t["eventlog"].items():
        op_id, _, phase = group.rpartition("|")  # "p<pass>/<i>:<kind>|<phase>"
        if op_id.startswith("p"):
            key = (int(op_id[1:].split("/")[0]), phase)
            tot = ev.setdefault(key, {})
            for k, v in acc.items():
                tot[k] = tot.get(k, 0) + v

    def ev_sum(phases: tuple, key: str) -> float:
        return _median([sum(ev.get((p, ph), {}).get(key, 0) for ph in phases)
                        for p in steady_passes])

    allp = ("build", "plan", "exec")
    steady_ops = [op for op in t["ops"] if op["pass_no"] > 0 and not op.get("error")]
    rw = {k: [op["s"] for op in steady_ops if op["rw"] == k] for k in ("read", "write")}
    lake = t.get("lake", {})
    attempted, failed, _ = failures(t)
    m = {
        "session.start_s": setup["session_start_s"],
        "setup.prebuild_s": setup["prebuild_s"],
        "index.build_s": setup["index_build_s"],
        "index.built_in_timed": t["index_built_in_timed"],
        "build.s": span_s("build"),
        "build.jobs": ev_sum(("build",), "jobs"),
        "build.tasks": ev_sum(("build",), "tasks"),
        "plan.s": span_s("plan"),
        "exec.s": span_s("exec"),
        "exec.jobs": ev_sum(("exec",), "jobs"),
        "exec.stages": ev_sum(("exec",), "stages"),
        "exec.tasks": ev_sum(("exec",), "tasks"),
    }
    for k in ("scan.input_bytes", "exchange.shuffle_write_bytes",
              "exchange.shuffle_read_bytes", "exchange.fetch_wait_s",
              "python.bytes_to_worker", "python.bytes_from_worker",
              "python.run_s", "python.start_s", "task.run_s", "task.cpu_s", "jvm.gc_s",
              "spill.bytes"):
        m[k] = ev_sum(allp, k)
    m.update({
        "lake.commit_s": span_s("lake.commit"),
        "lake.merge_s": span_s("lake.merge"),
        "lake.delete_s": span_s("lake.delete"),
        "lake.compact_s": span_s("lake.compact") + span_s("lake.checkpoint"),
        "lake.files_written": _median([p.get("files", 0) for p in t["passes"][1:]]),
        "lake.log_entries": _median([p.get("versions", 0) for p in t["passes"][1:]]),
        "lake.bytes_stored": lake.get("bytes", 0),
        "lake.scan_s": span_s("lake.scan"),
        "lake.scan_prune_s": span_s("lake.scan_prune"),
        "lake.scan_files_read": scan_files("files_read"),
        "lake.scan_files_total": scan_files("files_total"),
        "mv.refresh_single_s": span_s("mv.refresh_single"),
        "mv.refresh_join_s": span_s("mv.refresh_join"),
        "mv.read_s": op_s({"mv_read", "jmv_read"}),
        "pipeline.ingest_s": op_s({"ingest"}),
        "pipeline.records": _median([sum(op.get("records", 0) for op in t["ops"]
                                         if op["pass_no"] == p)
                                     for p in steady_passes]),
        "write_p50_s": percentile(rw["write"], 50) if rw["write"] else 0.0,
        "write_tail_s": (percentile(rw["write"], tail_pct(len(rw["write"])))
                         if rw["write"] else 0.0),
        "read_p50_s": percentile(rw["read"], 50) if rw["read"] else 0.0,
        "read_tail_s": (percentile(rw["read"], tail_pct(len(rw["read"])))
                        if rw["read"] else 0.0),
        "stored_bytes_per_input_byte": (lake["bytes"] / t["input_bytes"]
                                        if lake else 0.0),
        "failed_frac": failed / attempted,
        "host.steal_frac": t["host"]["steal_frac"],
        "host.other_busy_frac": t["host"]["other_busy_frac"],
        "trace.overhead_frac": (traced_info["steady_s"]
                                / _median([u["steady_s"] for u in untraced]) - 1),
    })
    for k in WALL_METRICS:
        m[k] = _median([u[k] for u in untraced])
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "aws_data_pipeline_ads_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2

    # a terminated run still stops its driver processes (in `execute`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    version = code_version()
    stored = untraced_runs(run.base, args, version) if args.trace else []
    try:
        setup, plain, traced = run.execute(need_plain=not stored)
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "setup": setup}
    if traced is None:
        kind = "end_to_end"
        metrics, info = end_to_end(setup, plain)
        attempted, failed, errs = failures(plain)
        if failed == 0:
            store_untraced(run.base, args, version, metrics, info)
        detail.update({"end_to_end": metrics, **info, "host": plain["host"]})
    else:
        # the overhead base: this run's untraced process, or else the
        # median of the untraced runs of this code stored at the same
        # --seconds
        kind = "per_layer"
        if plain is not None:
            base, base_info = end_to_end(setup, plain)
            stored = [{**base, **base_info}]
        traced_e2e, traced_info = end_to_end(setup, traced)
        metrics = per_layer(setup, traced, traced_info, stored)
        attempted, failed, errs = failures(traced)
        if plain is not None:
            p_att, p_failed, p_errs = failures(plain)
            attempted, failed, errs = attempted + p_att, failed + p_failed, errs + p_errs
        detail.update({"per_layer": metrics, "traced_end_to_end": traced_e2e,
                       **traced_info, "overhead_base_runs": len(stored),
                       "host": traced["host"]})
    detail["errors"] = errs[:20]
    units = {m["name"]: m["unit"] for m in spec[kind]}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics do not match BENCHMARK.json {kind}: "
                           f"{sorted(set(units) ^ set(metrics))}")
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
