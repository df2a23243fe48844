"""The repository benchmark: seeded workloads over the KG pipeline.

    python3 perfbench/run.py --workload build --seed 1 --seconds 30 --trace 0

Run from the repository root. Workloads (BENCHMARK.json says why each
was chosen):

- build: plans.pipeline.run_pipeline over the seeded pages corpus,
  writing triples, nodes, edges and chunks to parquet;
- delta: plans.pipeline.run_incremental over the same corpus against a
  seeded indexed snapshot (5% changed, 2% added, 1% deleted urls) and a
  prior triples table holding stale rows, written to parquet.

Every timed call runs in a fresh Spark process (perfbench/job.py) on
local[<cores>], so no session cache carries over between calls; calls
repeat until --seconds have passed (at least one). Outputs are checked
after each call, outside the timed region. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics under --trace 0 and the per-layer metrics under
--trace 1, where one traced call (Spark event log on, every span under
its own job group) runs, followed by the layer probes. The tracing
overhead is trace.wall_s of a traced run minus wall_s of untraced runs.

Inputs are generated from --seed and cached under .perfbench_cache/ in
the working directory, which also holds every file a run writes.
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

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
JOB = os.path.join(HERE, "job.py")
# every run exits within 180 s: jobs still running past this are killed
RUN_LIMIT_S = 170
# time the local[1] session of build.eff_1to4 needs, with margin
EFF_RESERVE_S = 45
PAGE = os.sysconf("SC_PAGE_SIZE")

# spans of the traced session, after the workload call itself
TRACE_SPANS = {
    "build": ("op.triples", "op.chunks", "calib"),
    "delta": ("reconcile", "op.triples", "dedup.simhash", "dedup.resolution",
              "textstats.cooccur", "textstats.domain_cap", "search", "calib"),
}
WRITES = ("triples", "nodes", "edges", "chunks")
CALIB_ROWS = 2_000_000


def _group_rss(pgid: int) -> list[int]:
    """RSS bytes of every live (non-zombie) process in group pgid."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(fields[21]) * PAGE)
    return out


def _stop_group(pgid: int) -> None:
    """Give the group 5 s to exit on its own, then SIGKILL it; return
    once no process of it is left."""
    t = time.monotonic()
    while _group_rss(pgid):
        waited = time.monotonic() - t
        if waited > 30:
            raise RuntimeError(f"process group {pgid} did not stop")
        if waited > 5:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                return
        time.sleep(0.1)


def run_job(spec: dict, work: str, cores: int, deadline: float) -> dict:
    """Run job.py on ``spec`` in a fresh process group, killed at
    ``deadline`` (time.monotonic()); sample the group's summed RSS
    every 250 ms. Returns the job's result with setup_s,
    session_start_s, worker_warm_s and peak_rss_mb added."""
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spec = dict(spec, cores=cores, result=os.path.join(work, "result.json"),
                out_dir=os.path.join(work, "out"))
    spec["conf"] = {"spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": tmp,
                    "spark.sql.warehouse.dir": os.path.join(tmp, "wh"),
                    **spec.get("conf", {})}
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
               SPARK_SUBMIT_OPTS=(os.environ.get("SPARK_SUBMIT_OPTS", "")
                                  + f" -Djava.io.tmpdir={tmp}").strip())
    log_path = os.path.join(work, "job.log")
    peak = 0
    launch = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen([sys.executable, JOB, spec_path], cwd=ROOT,
                             env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            while p.poll() is None:
                if time.monotonic() > deadline:
                    raise RuntimeError("job ran past the run's time limit")
                peak = max(peak, sum(_group_rss(p.pid)))
                time.sleep(0.25)
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
            _stop_group(p.pid)
    if p.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"job failed (exit {p.returncode}):\n{tail}")
    with open(spec["result"]) as f:
        res = json.load(f)
    res.update(setup_s=res["ready_ts"] - launch,
               session_start_s=res["session_ts"] - launch,
               worker_warm_s=res["ready_ts"] - res["session_ts"],
               peak_rss_mb=peak / 2**20)
    return res


def _calib_parquet(cache: str) -> str:
    """Seed-independent input of the calibration scan-aggregate."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = os.path.join(cache, "calib.parquet")
    if not os.path.exists(path):
        i = pa.array(range(CALIB_ROWS), pa.int64())
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(pa.table({
            "k": pc.bit_wise_and(i, 1023),
            "v": i, "w": pc.multiply(i, 0.5)}), tmp,
            row_group_size=CALIB_ROWS // 16)
        os.replace(tmp, path)
    return path


class Bench:
    def __init__(self, workload: str, seed: int, cores: int) -> None:
        import inputs

        self.deadline = time.monotonic() + RUN_LIMIT_S
        self.workload, self.cores = workload, cores
        self.inputs = inputs.ensure(seed)
        with open(os.path.join(self.inputs, "meta.json")) as f:
            self.meta = json.load(f)
        self.cache = inputs.cache_root()
        self.runs = os.path.join(self.cache, f"run-{os.getpid()}")
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.n = 0

    def job(self, spans: list[str], cores: int | None = None,
            conf: dict | None = None) -> dict:
        self.n += 1
        work = os.path.join(self.runs, str(self.n))
        spec = {"workload": self.workload, "spans": spans,
                "inputs": self.inputs,
                "kg_dir": os.path.join(self.inputs, "kg"),
                "calib": _calib_parquet(self.cache),
                "queries": self.meta["queries"], "conf": conf or {}}
        try:
            return run_job(spec, work, cores or self.cores, self.deadline)
        finally:
            shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    def record(self, fails: list[str]) -> bool:
        self.attempted += 1
        if fails:
            self.failed += 1
            self.errors.extend(fails)
        return not fails

    def call(self, spans: tuple[str, ...] = (),
             conf: dict | None = None) -> dict | None:
        """The workload call in a fresh session (then ``spans`` in the
        same session), its output checked after. Returns the job result
        with 'rows' (triples written) and 'ok', or None if it raised."""
        import checks

        try:
            res = self.job([self.workload, *spans], conf=conf)
        except RuntimeError as e:
            self.record([f"{self.workload} session: {e}"])
            return None
        span = res["spans"][self.workload]
        out = os.path.join(self.runs, str(self.n), "out")
        if self.workload == "build":
            fails = checks.build(out, self.inputs, self.meta, span["counts"])
            res["rows"] = span["counts"].get("triples", 0)
        else:
            fails, res["rows"] = checks.delta(out, self.inputs)
        shutil.rmtree(out, ignore_errors=True)
        res["ok"] = self.record(fails)
        return res

    def measure(self, seconds: float) -> tuple[dict, int]:
        """End-to-end metrics {name: (value, unit)} and the number of
        calls they are medians of: repeat the call until ``seconds``
        passed."""
        deadline = time.monotonic() + seconds
        done = []
        while True:
            res = self.call()
            if res is not None and res["ok"]:
                done.append(res)
            if time.monotonic() >= deadline:
                break
        if not done:
            raise SystemExit("\n".join(["no call succeeded:"] + self.errors))
        wall = statistics.median(r["spans"][self.workload]["s"]
                                 for r in done)
        rows = statistics.median(r["rows"] for r in done)
        return {
            "setup_s": (statistics.median(r["setup_s"] for r in done), "s"),
            "wall_s": (wall, "s"),
            "pages_per_s": (self.meta["n_pages"] / wall, "1/s"),
            "triples_per_s": (rows / wall, "1/s"),
        }, len(done)

    def trace(self, names: list[str]) -> dict:
        """Per-layer metrics ``names``: a traced call followed by the
        layer spans, kernel probes and (build) a local[1] run. A layer
        this workload's traced run does not exercise reads 0."""
        import eventlog
        import kernels

        log_dir = os.path.join(self.runs, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        res = self.call(TRACE_SPANS[self.workload], conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir})
        if res is None:
            raise SystemExit("\n".join(self.errors))
        spans = res["spans"]
        ev = eventlog.read(eventlog.find_app(log_dir, res["app_id"]))
        m = dict.fromkeys(names, 0.0)
        m.update(kernels.probe(os.path.join(self.inputs, "kg")))
        call = spans[self.workload]["s"]
        m.update({
            "session.start_s": res["session_start_s"],
            "session.worker_warm_s": res["worker_warm_s"],
            "fixture.gen_s": self.meta["gen_s"],
            "host.calib_s": spans["calib"]["best_s"],
            "spark.persisted_rdds_after": res["persisted_rdds_after"],
            "process.peak_rss_mb": res["peak_rss_mb"],
            "trace.wall_s": call,
        })
        g = ev["groups"].get(self.workload)
        if g is not None:
            m.update({
                "spark.executor_cpu_s": g.executor_cpu_s,
                "spark.cpu_busy_frac": g.executor_cpu_s / (call * self.cores),
                "spark.shuffle_fetch_wait_s": g.shuffle_fetch_wait_s,
                "spark.shuffle_read_bytes": g.shuffle_read_bytes,
                "spark.shuffle_write_bytes": g.shuffle_write_bytes,
                "spark.spill_bytes": g.spill_bytes,
                "spark.peak_exec_mem_bytes": g.peak_exec_mem_bytes,
                "spark.n_jobs": len(g.jobs),
                "spark.n_tasks": g.tasks,
                "spark.failed_tasks": g.failed_tasks,
            })
        call_sql = [x for x in ev["sql"] if x["group"] == self.workload]
        canon = [x for x in call_sql if x["write"] is None
                 and "entities.parquet" in x["plan"]]
        m["operators.canonicalize.wall_s"] = sum(x["duration_s"]
                                                 for x in canon)
        m["operators.canonicalize.n_jobs"] = sum(len(x["jobs"])
                                                 for x in canon)
        for x in call_sql:
            table = "triples" if x["write"] == "delta" else x["write"]
            if table in WRITES:
                pre = f"plans.pipeline.write_{table}"
                m[f"{pre}_s"] += x["duration_s"]
                m[f"{pre}_shuffle_write_bytes"] += \
                    x["metrics"].shuffle_write_bytes
                m[f"{pre}_spill_bytes"] += x["metrics"].spill_bytes
                m[f"{pre}_task_skew"] = max(m[f"{pre}_task_skew"],
                                            x["metrics"].task_skew())
        for op, span in (("triples", "op.triples"), ("extract", "op.chunks")):
            if span in spans:
                g = ev["groups"][span]
                m[f"operators.{op}.wall_s"] = spans[span]["s"]
                m[f"operators.{op}.rows_out"] = spans[span]["rows_out"]
                for key, v in g.python.items():
                    m[f"operators.{op}.{key}"] = v
        if "reconcile" in spans:
            m["sources.tables.reconcile_s"] = spans["reconcile"]["s"]
            m["sources.tables.shuffle_bytes"] = \
                ev["groups"]["reconcile"].shuffle_write_bytes
        if "dedup.simhash" in spans:
            m.update(self._curate(spans))
        if "search" in spans:
            m.update(self._search(spans["search"]))
        if self.workload == "build":
            m["build.eff_1to4"] = self._eff_1to4(spans)
        return m

    def _curate(self, spans: dict) -> dict:
        import pyarrow.parquet as pq

        import checks

        docs = pq.read_table(os.path.join(self.inputs, "docs.parquet"))
        ref = checks.simhash_reference(docs.column("doc_id").to_pylist(),
                                       docs.column("text").to_pylist())
        self.record(checks.curate(spans, self.inputs, self.meta, ref))
        return {
            "operators.dedup.simhash_s": spans["dedup.simhash"]["s"],
            "operators.dedup.simhash_candidates": ref["candidates"],
            "operators.dedup.simhash_pairs":
                len(spans["dedup.simhash"]["pairs"]),
            "operators.dedup.resolution_s": spans["dedup.resolution"]["s"],
            "operators.textstats.cooccur_s": spans["textstats.cooccur"]["s"],
            "operators.textstats.domain_cap_s":
                spans["textstats.domain_cap"]["s"],
        }

    def _search(self, span: dict) -> dict:
        import checks

        self.record(checks.search(span))
        qs = span["queries"]
        m = {f"plans.search.{p}_ms":
             statistics.median(q[p]["s"] for q in qs) * 1e3
             for p in ("high", "balanced", "fast", "hybrid")}
        m["plans.search.plan_ms"] = statistics.median(
            q["high"]["plan_s"] for q in qs) * 1e3
        m["plans.search.materialize_s"] = span["materialize_s"]
        for p in ("balanced", "fast"):
            m[f"plans.search.recall_{p}"] = statistics.mean(
                len({tuple(r[:2]) for r in q[p]["top"]}
                    & {tuple(r[:2]) for r in q["high"]["top"]})
                / max(1, len(q["high"]["top"])) for q in qs)
        return m

    def _eff_1to4(self, spans: dict) -> float:
        """Triples extraction into noop at local[1] over local[cores] x
        cores; 1.0 is linear scaling. Skipped (0) when the run's time
        limit leaves no room for one more session."""
        if self.deadline - time.monotonic() < EFF_RESERVE_S:
            print("build.eff_1to4 skipped: run time limit", file=sys.stderr)
            return 0.0
        one = self.job(["op.triples"], cores=1)["spans"]
        return one["op.triples"]["s"] / (self.cores
                                         * spans["op.triples"]["s"])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(TRACE_SPANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "code_indexer_spark")):
        sys.exit("run from the repository root: code_indexer_spark/ "
                 "not found")
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    cores = len(os.sched_getaffinity(0))
    bench = Bench(args.workload, args.seed, cores)
    try:
        if args.trace:
            metrics = bench.trace(list(per_layer))
            out = {k: {"value": float(metrics[k]), "unit": u}
                   for k, u in per_layer.items()}
        else:
            metrics, samples = bench.measure(args.seconds)
            out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
            print(f"{args.workload}: {samples} call(s) on local[{cores}], "
                  f"{bench.meta['n_pages']} pages, seed {args.seed}")
    finally:
        shutil.rmtree(bench.runs, ignore_errors=True)
    for e in bench.errors:
        print(f"FAILED: {e}", file=sys.stderr)
    rate = bench.failed / bench.attempted
    for k, v in out.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(f"  error_rate = {rate:.6g} ({bench.failed}/{bench.attempted})")
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted, "failed": bench.failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
