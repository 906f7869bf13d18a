"""One Spark driver process of a benchmark run: `setup` or `timed`.

    python3 perfbench/child.py <config.json>

`setup` starts a session and builds what the workload's operations
read (serving indexes for `curation`, fresh lake tables and views for
`lake_rw`), timing both. `timed` starts a fresh session and runs the
cold pass and the steady passes over the workload's operations.
Outputs are checked after the last pass, outside every timed region.
Results go to the JSON file named in the config.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing as tr  # noqa: E402
import workloads as wl  # noqa: E402

from aws_data_pipeline_ads_spark.session import get_session  # noqa: E402

PKG = "aws_data_pipeline_ads_spark"


# -- set-up --------------------------------------------------------------------

def patch_index_builds(stats: dict) -> None:
    """Time the build callable of every `indexcache.index_path` call
    that builds (outermost builds only: a builder may ask for another
    index while it runs)."""
    import aws_data_pipeline_ads_spark.queries  # noqa: F401  (every query module)
    from aws_data_pipeline_ads_spark.queries import indexcache

    orig = indexcache.index_path
    depth = [0]

    def index_path(kind, sf_dir, build):
        def timed_build(path):
            depth[0] += 1
            t0 = time.perf_counter()
            try:
                build(path)
            finally:
                depth[0] -= 1
                if depth[0] == 0:
                    stats["index_build_s"] += time.perf_counter() - t0
                stats["index_builds"][kind] = time.perf_counter() - t0
        return orig(kind, sf_dir, timed_build)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PKG):
            for name, value in list(vars(mod).items()):
                if value is orig:  # also catches `import index_path as ...`
                    setattr(mod, name, index_path)


def lake_tables(spark, root: str):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeJoinMaterializedView, LakeMaterializedView,
    )

    fact = LakeTable(spark, f"{root}/fact")
    dim = LakeTable(spark, f"{root}/dim")
    mv = LakeMaterializedView(spark, fact, f"{root}/mv", key="o_orderkey",
                              group_cols=["status"], measures=["price"])
    jmv = LakeJoinMaterializedView(spark, fact, dim, f"{root}/jmv",
                                   fact_key="o_orderkey", join_key="custkey",
                                   group_cols=["seg"], measures=["price"])
    return fact, dim, mv, jmv


def setup(cfg: dict) -> dict:
    t0 = time.perf_counter()
    spark = get_session("perfbench-setup")
    out = {"session_start_s": time.perf_counter() - t0,
           "index_build_s": 0.0, "index_builds": {}}
    t1 = time.perf_counter()
    if cfg["workload"] == "curation":
        from aws_data_pipeline_ads_spark.queries import REGISTRY

        patch_index_builds(out)
        # building each query (without its final action) builds every
        # serving index it reads; index.built_in_timed checks that
        for name in wl.CURATION:
            REGISTRY[name].build(spark, cfg["data_dir"])
    else:
        inputs = wl.LakeInputs(cfg["data_dir"])
        fact, dim, mv, jmv = lake_tables(spark, cfg["lake_seed"])
        fact.commit(_df(spark, inputs.order_slice(0, wl.ORDERS_INITIAL)))
        dim.commit(_df(spark, inputs.customer))
        mv.refresh()
        jmv.refresh()
        out["fact_head"] = fact.current_version()
    out["prebuild_s"] = time.perf_counter() - t1
    spark.stop()
    return out


def _df(spark, table):
    return spark.createDataFrame(table.to_pandas())


# -- timed passes ----------------------------------------------------------------

class QueryRunner:
    def __init__(self, spark, cfg, tracer):
        from aws_data_pipeline_ads_spark.queries import REGISTRY

        self.spark, self.cfg, self.tracer = spark, cfg, tracer
        self.registry = REGISTRY

    def ops(self, pass_no: int) -> list[dict]:
        return [{"kind": name, "rw": "read"} for name in
                wl.query_order(self.cfg["seed"], pass_no, wl.CURATION)]

    def run(self, op: dict, group: str) -> None:
        t = self.tracer
        t.job_group(f"{group}|build")
        with t.span("build"):
            df = self.registry[op["kind"]].build(self.spark, self.cfg["data_dir"])
        if t.enabled:
            t.job_group(f"{group}|plan")
            with t.span("plan"):
                df._jdf.queryExecution().executedPlan()
        t.job_group(f"{group}|exec")
        with t.span("exec"):
            op["result"] = df.toPandas()

    def check(self, done: list[dict]) -> None:
        """Each result against the query's DuckDB oracle (the canon and
        compare of tools/check_oracle.py); a query without an oracle
        gets a rows-only check."""
        import duckdb

        from aws_data_pipeline_ads_spark.catalog import TABLES
        from tools.check_oracle import compare

        con = duckdb.connect()
        con.execute("SET threads=1")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.cfg['data_dir']}/{t}.parquet'")
        oracle = {}
        for op in done:
            if op.get("error"):
                continue
            res = op.pop("result")
            sql = self.registry[op["kind"]].oracle
            if sql is None:
                if len(res) == 0:
                    op["error"] = "rows-only query returned 0 rows"
                continue
            if op["kind"] not in oracle:
                oracle[op["kind"]] = con.sql(sql).df()
            err = compare(res, oracle[op["kind"]])
            if err:
                op["error"] = f"wrong result: {err}"[:2000]

    def after(self, op: dict) -> None:
        pass


class LakeRunner:
    """Runs lake_rw operations against tables set up by `setup`."""

    def __init__(self, spark, cfg, tracer, setup_out):
        self.spark, self.cfg, self.tracer = spark, cfg, tracer
        self.root = cfg["lake"]
        self.inputs = wl.LakeInputs(cfg["data_dir"])
        self.plan = wl.LakePlan(cfg["seed"])
        self.fact, self.dim, self.mv, self.jmv = lake_tables(spark, self.root)
        self.heads = [setup_out["fact_head"]]
        self.input_bytes = (self.inputs.order_slice(0, wl.ORDERS_INITIAL).nbytes
                            + self.inputs.customer.nbytes)
        self.ingested = 0

    def ops(self, pass_no: int) -> list[dict]:
        return self.plan.iteration(pass_no, list(self.heads))

    def _commit_input(self, table):
        self.input_bytes += table.nbytes
        return _df(self.spark, table)

    def run(self, op: dict, group: str) -> None:
        self.tracer.job_group(f"{group}|exec")
        with self.tracer.span("exec"):
            self._run(op)

    def _run(self, op: dict) -> None:
        from pyspark.sql import functions as F

        from aws_data_pipeline_ads_spark.pipeline import runner, sink

        k, inp = op["kind"], self.inputs
        if k == "append":
            sink.lake_sink(self._commit_input(inp.order_slice(op["lo"], op["hi"])),
                           self.fact, "orders", wl.ingest_as_of(op["pass_no"]).date())
        elif k == "merge":
            self.fact.merge(self._commit_input(inp.order_rows(op["keys"], op["bump"])),
                            "o_orderkey")
        elif k == "delete":
            self.fact.delete({"o_orderkey": (op["lo"], op["hi"])})
        elif k == "refresh_single":
            self.mv.refresh()
        elif k == "refresh_join":
            self.jmv.refresh()
        elif k == "compact":
            self.fact.compact()
            self.fact.checkpoint()
        elif k == "ingest":
            payload = wl.posts_payload(inp, op)
            self.input_bytes += len(payload)
            run = runner.run_pipeline(
                self.spark, ingest_config(), f"{self.root}/ingest",
                as_of=wl.ingest_as_of(op["day"]),
                http_get=lambda url, timeout: (200, payload))
            self.ingested += run.total_records
            op["records"] = run.total_records
            if run.errors or run.total_records != wl.INGEST_RECORDS:
                raise RuntimeError(f"ingest: {run.errors} "
                                   f"({run.total_records} records)")
        elif k == "scan":
            # the pruning call and the read it returns
            with self.tracer.span("lake.scan"):
                r = self.fact.scan({"o_orderkey": (op["lo"], op["hi"])}).agg(
                    F.count("*"), F.sum(F.col("price").cast("decimal(38,6)"))).collect()
            op["result"] = wl.norm_rows(r)
        elif k == "time_travel":
            op["result"] = [(self.fact.read(version=op["version"]).count(),)]
        elif k == "mv_read":
            op["result"] = wl.norm_rows(self.mv.read().select(
                "status", "n_rows", "n_price", "sum_price").collect())
        elif k == "jmv_read":
            op["result"] = wl.norm_rows(self.jmv.read().select(
                "seg", "n_rows", "n_price", "sum_price").collect())
        elif k == "changes":
            # the feed since the append: the merge and delete steps
            self.fact.changes(self.heads[-3], self.heads[-1],
                              "o_orderkey", ["price"]).count()
        else:
            raise ValueError(f"unknown lake op {k}")

    def after(self, op: dict) -> None:
        """Bookkeeping outside the op's timed region."""
        if op["kind"] in ("append", "merge", "delete", "compact") and not op.get("error"):
            op["head_after"] = self.fact.current_version()
            self.heads.append(op["head_after"])

    def check(self, done: list[dict]) -> None:
        """Replay the completed writes in DuckDB; compare every read at
        its point in the sequence, then the final tables and views."""
        replay = wl.LakeReplay(self.inputs)
        replay.note_head(self.heads[0])
        for op in done:
            if op.get("error"):
                continue
            if op["rw"] == "write":
                replay.apply(op)
                if "head_after" in op:
                    replay.note_head(op["head_after"])
                continue
            want = replay.expected(op)
            got = op.pop("result", None)
            if want is not None and got != want:
                op["error"] = f"wrong result: got {got!r}, want {want!r}"[:2000]
        self.final_errors = []
        self.final_checks = 5  # fact, dim, both views, ingested rows
        finals = {"fact": self.fact, "dim": self.dim}
        for name, table in finals.items():
            got = wl.norm_rows(table.read().select(*wl.FINAL_COLS[name]).collect())
            if got != replay.rows(wl.FINAL_SQL[name]):
                self.final_errors.append(f"final {name} differs from replay")
        for name, view, sql, grp in (("mv", self.mv, wl.MV_SQL, "status"),
                                     ("jmv", self.jmv, wl.JMV_SQL, "seg")):
            got = wl.norm_rows(view.read().select(
                grp, "n_rows", "n_price", "sum_price").collect())
            if got != replay.rows(sql):
                self.final_errors.append(f"final {name} differs from replay")
        n = self.spark.read.parquet(f"{self.root}/ingest/data").count() \
            if self.ingested else 0
        if n != self.ingested:
            self.final_errors.append(f"ingest holds {n} rows, {self.ingested} ingested")


def ingest_config():
    from aws_data_pipeline_ads_spark.sources.registry import (
        PipelineConfig, RetryConfig, SourceConfig,
    )

    return PipelineConfig(sources={"sales": SourceConfig(
        name="sales", url="http://perfbench.invalid/posts",  # never fetched
        limit_param="_limit", default_limit=wl.INGEST_RECORDS,
        max_records=100, retry=RetryConfig(max_retries=0, retry_delay=0.0))})


def install_lake_spans(tracer: tr.Tracer) -> None:
    """Spans around the public lake, view and pipeline calls (traced
    run only). `LakeTable.scan` only prunes the file list on the driver
    and returns a lazy DataFrame: its span is `lake.scan_prune`. After
    the operation, the files that DataFrame opens are counted against
    the files of the version it reads."""
    from aws_data_pipeline_ads_spark import lakelog, lakemv
    from aws_data_pipeline_ads_spark.pipeline import runner, sink

    def scan_files(rec, table, df, args, kwargs):
        # runs before the next operation: a scan without a version read
        # the head, which no write has moved since
        version = kwargs.get("version", args[2] if len(args) > 2 else None)
        rec["files_read"] = len(df.inputFiles())
        rec["files_total"] = len(table.read(version).inputFiles())

    lt = lakelog.LakeTable
    for attr in ("commit", "merge", "delete", "compact", "checkpoint",
                 "read", "changes"):
        tracer.wrap(lt, attr, f"lake.{attr}")
    tracer.wrap(lt, "scan", "lake.scan_prune", after=scan_files)
    tracer.wrap(lakemv.LakeMaterializedView, "refresh", "mv.refresh_single")
    tracer.wrap(lakemv.LakeJoinMaterializedView, "refresh", "mv.refresh_join")
    tracer.wrap(runner, "run_pipeline", "pipeline.run_pipeline")
    tracer.wrap(sink, "lake_sink", "pipeline.lake_sink")


def lake_files(root: str) -> dict:
    """Data files, committed log versions and bytes under `root`."""
    files = versions = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
        if os.path.basename(d) == "_log":
            heads = [int(n[:-5]) for n in names if n[:-5].isdigit()]
            if "_checkpoint.json" in names:
                with open(os.path.join(d, "_checkpoint.json")) as f:
                    heads.append(json.load(f)["through"])
            versions += max(heads, default=-1) + 1
    return {"files": files, "versions": versions, "bytes": size}


def measure(cfg: dict, runner, tracer: tr.Tracer, out: dict) -> None:
    """The cold pass and the steady passes `seconds` buys (see
    workloads.PASS_BUDGET_S); one closed-loop client, errors counted."""
    lake = cfg.get("lake") if tracer.enabled else None
    steady = max(1, int(cfg["seconds"] // wl.PASS_BUDGET_S[cfg["workload"]]))
    start = time.perf_counter()
    for pass_no in range(1 + steady):
        p0, cpu0 = time.perf_counter(), tr.tree_cpu_s()
        files0 = lake_files(lake) if lake else None
        for i, op in enumerate(runner.ops(pass_no)):
            op.update(pass_no=pass_no, id=f"p{pass_no}/{i}:{op['kind']}")
            tracer.op = op["id"]
            t1 = time.perf_counter()
            try:
                with tracer.span("op", kind=op["kind"], rw=op["rw"]):
                    runner.run(op, op["id"])
            except Exception:  # noqa: BLE001 — count it, keep the loop going
                op["error"] = traceback.format_exc(limit=8)[-2000:]
            op["s"] = time.perf_counter() - t1
            tracer.settle(f"{op['id']}|count")
            runner.after(op)
            out["ops"].append(op)
        rec = {"s": time.perf_counter() - p0, "cpu_s": tr.tree_cpu_s() - cpu0}
        if files0 is not None:
            files1 = lake_files(lake)
            rec.update({k: files1[k] - files0[k] for k in files0})
        out["passes"].append(rec)
    out["measured_s"] = time.perf_counter() - start


def timed(cfg: dict) -> dict:
    """Start a fresh session (set-up has exited), then measure."""
    trace = bool(cfg["trace"])
    out: dict = {"passes": [], "ops": []}
    with tr.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_session("perfbench-timed")
        out["session_start_s"] = time.perf_counter() - t0
        with open(cfg["setup_out"]) as f:
            setup_out = json.load(f)
        if cfg["workload"] == "lake_rw":
            shutil.copytree(cfg["lake_seed"], cfg["lake"])
        idx = cfg["idx_root"]
        markers0 = _markers(idx)
        tracer = tr.Tracer(trace, spark.sparkContext)
        if trace:
            install_lake_spans(tracer)
        if cfg["workload"] == "curation":
            runner = QueryRunner(spark, cfg, tracer)
        else:
            runner = LakeRunner(spark, cfg, tracer, setup_out)
        with tr.HostNoise() as noise:
            measure(cfg, runner, tracer, out)
    tracer.job_group("checks")
    runner.check(out["ops"])
    if isinstance(runner, LakeRunner):
        out["final_errors"] = runner.final_errors
        out["final_checks"] = runner.final_checks
        out["input_bytes"] = runner.input_bytes
        out["lake"] = lake_files(cfg["lake"])
    spark.stop()
    out["peak_rss_bytes"] = rss.peak
    out["host"] = noise.result
    out["index_built_in_timed"] = len(_markers(idx) - markers0)
    if trace:
        tracer.write(cfg["spans"])
        out["spans"] = tracer.spans
        out["eventlog"] = {k: dict(v) for k, v in
                           tr.parse_eventlog(cfg["eventlog_dir"]).items()}
    return out


def _markers(root: str) -> set[str]:
    return {d for d, _, names in os.walk(root) if "_BUILT" in names}


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    out = setup(cfg) if cfg["role"] == "setup" else timed(cfg)
    with open(cfg["out"], "w") as f:
        json.dump(out, f, default=str)


if __name__ == "__main__":
    main()
