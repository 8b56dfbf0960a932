"""KG-build benchmark: one run of one workload, result as a JSON line.

    python3 kgbench/run.py --workload small_world --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. A run

1. writes the workload's ``documents.parquet`` from ``--seed``
   (``kgbench/inputs.py``) into a run directory under ``.kgbench/runs``;
2. computes the reference digest with the DuckDB twin of the pipeline on
   that file, cached under ``.kgbench/twin`` by file content and twin SQL;
3. starts ``kgbench/worker.py`` in a process of its own with a private
   world cache, Spark scratch dir and temp dir, tracks its process tree
   (and, in traced runs, the tree's PSS), and stops it if the run's time
   limit comes;
4. kills and waits for every process of that tree still alive, removes the
   run directory and checks each build's triple-set digest against the
   reference;
5. prints the end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``) as the last line of standard output.

See ``kgbench/README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kgbench import procfs  # noqa: E402
from kgbench.digest import twin_digest  # noqa: E402
from kgbench.inputs import write_documents  # noqa: E402

STATE = os.path.join(ROOT, ".kgbench")
TIME_LIMIT_S = 165.0   # a run must end within 180 s
SAMPLE_EVERY_S = 0.5

# name → generated documents and fixture world scale
WORKLOADS = {
    "small_world": {"docs": 500, "world_scale": 1},
    "large_world": {"docs": 2000, "world_scale": 4},
}
END_TO_END = {  # name → unit
    "setup_s": "s", "build_s": "s", "triples_per_s": "1/s",
    "build_cpu_s": "s", "ok_ratio": "ratio",
}
LAYERS = ("fixtures.corpus", "linking", "plans.authors", "plans.works",
          "plans.relations", "plans.merge", "plans.canonicalize", "plans.align")


def driver_memory() -> str:
    """A quarter of the host's memory, 1-4 GiB (the session defaults to
    48g, more than many hosts have)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (4 << 20)))}g"


class TreeWatch(threading.Thread):
    """Remembers every process of a tree it sees, so the ones that outlive
    their parent can be reaped, and with ``pss`` samples the tree's PSS
    (reading ``smaps_rollup`` walks the JVM's page tables, so untraced runs
    leave it off)."""

    def __init__(self, root_pid: int, pss: bool):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.pss = pss
        self.peak_mb = 0.0
        self.seen: dict[int, int] = {}  # pid → start time
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            t = procfs.tree(self.root_pid)
            for pid, st in t.items():
                self.seen.setdefault(pid, procfs.start_time(st))
            if self.pss:
                self.peak_mb = max(self.peak_mb, procfs.pss_mb(t))
            self._stop_evt.wait(SAMPLE_EVERY_S)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    def reap(self, timeout_s: float = 15.0) -> None:
        """SIGKILL every process seen that is still the same process, and
        wait until all are gone."""

        def alive() -> list[int]:
            out = []
            for pid, start in self.seen.items():
                st = procfs.stat(pid)
                if st is not None and procfs.start_time(st) == start and st[0] != "Z":
                    out.append(pid)
            return out

        deadline = time.monotonic() + timeout_s
        while (pids := alive()) and time.monotonic() < deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)


def reference_digest(doc_path: str, world_scale: int, threads: int) -> dict:
    from wikidata_to_cidoc_crm_spark.fixtures import make_world_scaled
    from wikidata_to_cidoc_crm_spark.pipeline_sql import pipeline_sql

    h = hashlib.sha256()
    with open(doc_path, "rb") as f:
        h.update(f.read())
    h.update(pipeline_sql(make_world_scaled(world_scale)).encode())
    cache = os.path.join(STATE, "twin", h.hexdigest() + ".json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    d = twin_digest(doc_path, world_scale, threads)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "w") as f:
        json.dump(d, f)
    os.replace(cache + ".tmp", cache)
    return d


def run_worker(cfg: dict, env: dict, deadline: float,
               reference) -> tuple[dict, float, bool]:
    """Worker result, peak PSS in MB, and whether it ended in time.

    ``reference`` (the twin digest) starts on a thread once the worker
    reports its timed part done, so it overlaps the untimed digests and
    the session's shutdown."""
    log = open(os.path.join(cfg["run_dir"], "worker.log"), "w")
    proc = subprocess.Popen([sys.executable, "-m", "kgbench.worker", json.dumps(cfg)],
                            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    watch = TreeWatch(proc.pid, pss=bool(cfg["trace"]))
    watch.start()
    in_time = True
    try:
        while proc.poll() is None:
            if time.monotonic() > deadline:
                in_time = False
                proc.kill()
                proc.wait()
                break
            if reference.ident is None and _done(cfg):
                reference.start()
            time.sleep(0.2)
    finally:
        watch.stop()
        watch.reap()
        log.close()
    result = {"builds": []}
    if os.path.exists(cfg["result"]):
        # the raw record of the latest run of each workload stays for reading
        last = os.path.join(STATE, f"last-{cfg['workload']}-trace{cfg['trace']}.json")
        shutil.copyfile(cfg["result"], last)
        with open(last) as f:
            result = json.load(f)
    if proc.returncode != 0 or not in_time:
        with open(log.name) as f:
            sys.stderr.write(f.read()[-4000:])
    return result, watch.peak_mb, in_time


def _done(cfg: dict) -> bool:
    try:
        with open(cfg["result"]) as f:
            return "timed_done" in json.load(f)["marks"]
    except (OSError, ValueError, KeyError):
        return False


class Reference(threading.Thread):
    """The twin digest, computed on a thread so it can overlap the end of
    the worker."""

    def __init__(self, doc_path: str, world_scale: int, threads: int):
        super().__init__(daemon=True)
        self.args = (doc_path, world_scale, threads)
        self.digest: dict | None = None
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            self.digest = reference_digest(*self.args)
        except Exception as e:  # re-raised by result(), on the main thread
            self.error = e

    def result(self) -> dict:
        if self.ident is None:
            self.start()
        self.join()
        if self.error is not None:
            raise self.error
        return self.digest


def same(d: dict | None, ref: dict) -> bool:
    return bool(d) and d["sha256"] == ref["sha256"] and d["rows"] == ref["rows"] \
        and ref["rows"] == ref["distinct"]


def end_to_end(res: dict, ref: dict) -> tuple[dict, int, int]:
    builds = res["builds"]
    ok = sum(1 for b in builds if b.get("ok") and same(b.get("digest"), ref))
    m = {}
    if "populate_s" in res:
        m["setup_s"] = res["session_start_s"] + res["populate_s"]
    if builds and builds[0].get("ok"):
        first = builds[0]
        m["build_s"] = first["build_s"]
        m["triples_per_s"] = first["triples"] / first["build_s"]
        m["build_cpu_s"] = first["cpu_s"]
    if builds:
        m["ok_ratio"] = ok / len(builds)
    return m, len(builds), len(builds) - ok


def per_layer(res: dict, ref: dict, peak_mb: float) -> tuple[dict, int, int]:
    checks = [b.get("digest") if b.get("ok") else None for b in res["builds"][:2]]
    checks += [res.get("serial", {}).get("digest")]
    checks += [res.get("extras", {}).get("sink_digest")]
    failed = sum(1 for d in checks if not same(d, ref))
    if failed or "groups" not in res:
        return {}, len(checks), failed
    layers = res["serial"]["layers"]
    groups, extras = res["groups"], res["extras"]
    m = {"session.start_s": (res["session_start_s"], "s"),
         "session.peak_pss_mb": (peak_mb, "MB"),
         "fixtures.world_s": (layers["fixtures.world"]["world_s"], "s")}
    for name in LAYERS:
        g = groups.get(name, {})
        st = layers[name]
        m.update({f"{name}.plan_s": (st["plan_s"], "s"),
                  f"{name}.exec_s": (st["exec_s"], "s"),
                  f"{name}.task_s": (g.get("task_s", 0.0), "s"),
                  f"{name}.tasks": (g.get("tasks", 0), "count"),
                  f"{name}.shuffle_mb": (g.get("shuffle_mb", 0.0), "MB"),
                  f"{name}.rows": (st["rows"][0], "count")})
    m["linking.hit_ratio"] = (layers["linking"]["rows"][0] / extras["text_spans"], "ratio")
    m["plans.relations.dedup_ratio"] = (
        layers["plans.relations"]["rows"][0] / extras["relations_emitted"], "ratio")
    m["sources.sinks.write_s"] = (extras["sink_write_s"], "s")
    m["sources.sinks.read_s"] = (extras["sink_read_s"], "s")
    m["sources.sinks.bytes"] = (extras["sink_bytes"], "bytes")
    m["sources.sinks.files"] = (extras["sink_files"], "count")
    m["sources.sinks.bytes_per_triple"] = (extras["sink_bytes"] / extras["sink_rows"], "bytes")
    serial_s, pipelined_s = res["serial"]["wall_s"], res["builds"][1]["build_s"]
    m["pipeline.pipelined_s"] = (pipelined_s, "s")
    m["pipeline.serial_s"] = (serial_s, "s")
    m["pipeline.overlap_s"] = (serial_s - pipelined_s, "s")
    m["trace.overhead_s"] = (res["serial"]["hook_s"], "s")
    return m, len(checks), failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    if not os.path.isfile(os.path.join(ROOT, "wikidata_to_cidoc_crm_spark", "pipeline.py")):
        print("kgbench: the wikidata_to_cidoc_crm_spark package is not in "
              f"{ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    for d in (input_dir, os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")):
        os.makedirs(d)
    try:
        doc_path = os.path.join(input_dir, "documents.parquet")
        write_documents(doc_path, wl["docs"], args.seed)
        reference = Reference(doc_path, wl["world_scale"], cores)
        cfg = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "seconds": args.seconds, "cores": cores,
               "world_scale": wl["world_scale"], "input_dir": input_dir,
               "run_dir": run_dir, "tmp": os.path.join(run_dir, "tmp"),
               "result": os.path.join(run_dir, "result.json"),
               "trace_out": os.path.join(STATE, "traces",
                                         f"{args.workload}-seed{args.seed}.json")}
        env = {k: v for k, v in os.environ.items()
               if not k.startswith("SPARK_GRAFT_") and k != "PYSPARK_SUBMIT_ARGS"}
        env.update({"PYTHONPATH": ROOT, "TMPDIR": cfg["tmp"],
                    "PYSPARK_PYTHON": sys.executable,
                    "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
                    "SPARK_DRIVER_MEM": driver_memory(),
                    "SPARK_GRAFT_CPUS": str(cores)})
        res, peak_mb, in_time = run_worker(cfg, env, t_start + TIME_LIMIT_S,
                                           reference)
        ref = reference.result()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        metrics, attempted, failed = per_layer(res, ref, peak_mb)
        names = None
    else:
        raw, attempted, failed = end_to_end(res, ref)
        metrics = {k: (v, END_TO_END[k]) for k, v in raw.items()}
        names = END_TO_END
    attempted = max(attempted, 1)
    complete = bool(metrics) and (names is None or set(metrics) == set(names))
    print(json.dumps({
        "correct": failed == 0 and in_time and complete,
        "attempted": attempted,
        "failed": failed if complete else attempted,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if complete else 1


if __name__ == "__main__":
    sys.exit(main())
