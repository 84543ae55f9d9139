#!/usr/bin/env python3
"""Run one benchmark workload against the spider_spark engine.

    python3 perfbench/run.py --workload steady_recrawl --seed 1 \
        --seconds 15 --trace 0

Runs at ``local[nproc]`` from the root of a source checkout, keeps every
file it writes under ``.perfbench_work/`` there, checks the engine's output
against an independent reference, and prints as its last stdout line one
JSON object: ``correct``, ``attempted``, ``failed`` (operations: crawl
rounds, compactions, resumes, dedup stages) and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` turns on the Spark event log
and the py4j call counter, replays single layers on committed state, and
reports the per-layer metrics plus the tracing overhead (traced minus
untraced end-to-end values). Lines before the last one give each workload's
own names for its metrics (crawl_urls_per_s, round_p50_s, dedup_docs_per_s,
failed_frac, ...), the context stamp and any output-check mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("steady_recrawl", "corpus_dedup")



def metric_units(kind: str) -> dict[str, str]:
    """Metric name → unit for ``end_to_end`` or ``per_layer``, as declared
    in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One run: session lifecycle, work dirs, spans, operation accounting."""

    def __init__(self, workload: str, seed: int, traced: bool):
        from perfbench.trace import Py4jCounter, Tracer

        self.workload, self.seed, self.traced = workload, seed, traced
        self.run_id = f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}"
        self.inputs_dir = os.path.join(WORK, "inputs")
        self.run_dir = os.path.join(WORK, "runs", self.run_id)
        self.log_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(self.inputs_dir, exist_ok=True)
        os.makedirs(self.log_dir)
        self.tracer = Tracer(f"{workload}/{self.run_id}")
        self.counter = Py4jCounter() if self.traced else None
        self.tracer.counter = self.counter
        self.spark_version = None
        self.spark = None
        self.session_start_s = None
        self.ops: list[dict] = []
        self.notes: list[str] = []
        self.master = f"local[{nproc()}]"

    # -- session ------------------------------------------------------------
    def _conf(self) -> dict:
        tmp = os.environ["TMPDIR"]
        conf = {
            # a fixed-size heap: the JVM's footprint then does not depend
            # on when G1 chose to grow it
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Xms2g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.log_dir,
                "spark.eventLog.logBlockUpdates.enabled": "true",
            })
        return conf

    def _new_session(self):
        from spider_spark.session import get_spark

        return get_spark(app=f"perfbench-{self.workload}", master=self.master,
                         shuffle_partitions=nproc(),
                         extra_conf=self._conf())

    def start_session(self):
        with self.tracer.span("session.start") as s:
            self.spark = self._new_session()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = s["dur"]
        self.spark_version = self.spark.version
        if self.counter is not None:
            self.counter.install()
        return self.spark

    def restart_session(self):
        """Stop the session and start a fresh SparkContext: nothing cached,
        no engine object carried over. A module-level pandas UDF keeps the
        JVM function it built on first use, and that function reports
        accumulator updates to the stopped context's server; dropping the
        handle makes the new context build its own, as a new process
        would."""
        with self.tracer.span("session.restart"):
            self.spark.stop()
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "") or "").startswith(
                        "spider_spark"):
                    for obj in vars(mod).values():
                        udf = getattr(obj, "_unwrapped", None)
                        if hasattr(udf, "_judf_placeholder"):
                            udf._judf_placeholder = None
            self.spark = self._new_session()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """End this process's Spark entirely: session, gateway and JVM."""
        self.stop()
        shutdown_jvm()

    def event_log(self):
        """Stops the session (so the log is complete), parses every
        application log of this run, then deletes the logs."""
        from perfbench.trace import EventLog

        self.stop()
        ev = EventLog(self.log_dir)
        shutil.rmtree(self.log_dir, ignore_errors=True)
        return ev

    # -- bookkeeping ----------------------------------------------------------
    def op(self, name: str, ok: bool, detail: str) -> None:
        self.ops.append({"op": name, "ok": bool(ok), "detail": detail})
        if not ok:
            self.note(f"CHECK FAILED {name}: {detail}")

    def note(self, msg: str) -> None:
        self.notes.append(msg)
        print(msg, flush=True)

    @staticmethod
    def load_json(path: str):
        with open(path) as f:
            return json.load(f)


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def record_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(WORK, "results", f"{workload}-s{seed}-t{trace}.json")


def untraced_record(args) -> dict:
    """The untraced run to subtract: this checkout's untraced run of the
    same workload, length and seed, else its latest one of the same
    workload and length; with none, one is made first, in a subprocess."""
    results = os.path.join(WORK, "results")
    recs = []
    if os.path.isdir(results):
        recs = [Bench.load_json(os.path.join(results, n))
                for n in os.listdir(results)
                if n.startswith(f"{args.workload}-s")
                and n.endswith("-t0.json")]
        recs = [r for r in recs if r["seconds"] == args.seconds]
    if recs:
        return max(recs, key=lambda r: (r["seed"] == args.seed,
                                        r["finished"]))
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload",
         args.workload, "--seed", str(args.seed), "--seconds",
         str(args.seconds), "--trace", "0"],
        check=True, stdout=subprocess.DEVNULL, timeout=170)
    return Bench.load_json(record_path(args.workload, args.seed, 0))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "spider_spark")):
        print(f"no spider_spark package under {ROOT}: run from the root of "
              "a source checkout", file=sys.stderr)
        return 2

    # every file Spark, the JVM and Python workers write stays in the
    # checkout
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    import pyspark

    from perfbench import corpus, crawl

    module = {"steady_recrawl": crawl, "corpus_dedup": corpus}[args.workload]
    untraced = untraced_record(args) if args.trace else None

    from perfbench.trace import MemSampler

    bench = Bench(args.workload, args.seed, bool(args.trace))
    load_before = os.getloadavg()
    try:
        with MemSampler() as mem:
            res = module.run(bench, args.seed, args.seconds)
    finally:
        bench.shutdown()
        shutil.rmtree(bench.run_dir, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    e2e = dict(res["e2e"], peak_pss_mb=mem.peak_bytes / 1e6)
    bench.note(f"peak_pss_mb {e2e['peak_pss_mb']:.1f} MB")
    attempted = len(bench.ops)
    failed = sum(not o["ok"] for o in bench.ops)
    bench.note(f"failed_frac {failed / attempted:.4f} "
               f"({failed} of {attempted} operations)")

    e2e_units, layer_units = (metric_units("end_to_end"),
                              metric_units("per_layer"))
    if args.trace:
        absent = sorted(k for k in layer_units if k not in res["layers"]
                        and k != "session.start_s"
                        and not k.startswith("trace."))
        bench.note(f"layers that do not run in {args.workload} (reported "
                   f"as 0): {', '.join(absent)}")
        layers = dict.fromkeys(absent, 0)
        layers.update(res["layers"])
        layers["session.start_s"] = bench.session_start_s
        for k, v in e2e.items():
            layers[f"trace.overhead.{k}"] = v - untraced["e2e"][k]
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in e2e_units.items()}

    context = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": nproc(),
        "master": bench.master, "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "spark": bench.spark_version, "pyspark": pyspark.__version__,
        "python": platform.python_version(), "commit": git_commit(),
        "finished": time.time(),
    }
    if untraced is not None:
        context["overhead_vs_seed"] = untraced["seed"]
    bench.note("context " + json.dumps(context))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(record_path(args.workload, args.seed, args.trace), "w") as f:
        json.dump({**context, "e2e": e2e, "layers": res["layers"],
                   "ops": bench.ops, "notes": bench.notes}, f, indent=1)
    bench.tracer.dump(os.path.join(
        WORK, "results",
        f"{args.workload}-s{args.seed}-t{args.trace}.spans.json"))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
