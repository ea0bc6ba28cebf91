"""Layer-attributed near-duplicate benchmark.

    python3 perfbench/run.py --workload {stream_ingest,curate_rewrite} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process drives ``local[4]`` in a
closed loop: one micro-batch or one job at a time. The corpus is generated
from ``--seed`` (perfbench/corpus.py); the program reads only the pages.

``--trace 0`` times operations for ``--seconds`` (at least one) after a
warm-up and prints the end-to-end metrics. ``--trace 1`` runs one untraced
and one traced operation on the same inputs with Spark's event log on,
and prints per-layer metrics (perfbench/layers.py). Every operation's
output is checked; a failed check counts the operation as failed.

End-to-end metrics:

* ``setup_s`` — session start + warm-up + the median of ``SETUP_REPS``
  corpus generate/write/load repetitions;
* ``docs_per_s`` — pages over the wall of the timed work (the sum of the
  micro-batch walls on stream_ingest), median over operations;
* ``batch_s.p50``/``.p90`` — walls of one micro-batch (stream_ingest) or
  one ``run_curation`` call (curate_rewrite), pooled over the run;
* ``curate_s`` — the ``curate_state`` wall (median of passes) on
  stream_ingest; the ``run_curation`` wall minus its ``run_dedup`` call on
  curate_rewrite;
* ``peak_rss_mb`` — JVM plus Python workers, sampled during operations;
* ``pair_recall``/``pair_precision`` — from the contingency table of
  output clusters against planted clusters;
* ``ok_frac`` — 1 − failed / attempted operations.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` ({name: {value, unit}}). Details (environment,
corpus properties, checks, per-layer table) go to stderr. Everything the
run writes stays under ``.bench_work/`` in the checkout and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import sys
import threading
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
JIT_FLAG = "-XX:-DontCompileHugeMethods"
WORKLOAD_NAMES = ("stream_ingest", "curate_rewrite")
SETUP_REPS = 3

E2E = {  # name → unit
    "setup_s": "s",
    "docs_per_s": "1/s",
    "batch_s.p50": "s",
    "batch_s.p90": "s",
    "curate_s": "s",
    "peak_rss_mb": "MB",
    "pair_recall": "ratio",
    "pair_precision": "ratio",
    "ok_frac": "ratio",
}
LAYER_FIELDS = {"wall_s": "s", "task_cpu_s": "s", "shuffle_write_mb": "MB",
                "spill_mb": "MB", "jobs": "count", "idle_s": "s"}
EXTRA = {
    "kernel.docs_per_s": "1/s", "kernel.mb_per_s": "MB/s", "codegen.overhead": "ratio",
    "lsh.band_rows": "count", "lsh.capped_buckets": "count",
    "lsh.candidate_pairs": "count", "lsh.pair_yield": "ratio",
    "cluster.edges_in": "count", "ingest.probe_files": "count",
    "ingest.state_mb_per_kdoc": "MB/kdoc", "substring.anchors": "count",
    "substring.anchors_df_capped": "count", "substring.pair_yield": "ratio",
    "semantic.pairs_scored": "count", "semantic.list_max": "count",
    "semantic.pair_yield": "ratio", "trace.wall_s": "s",
    "trace.overhead_s": "s", "trace.unattributed_s": "s",
}


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(1, math.ceil(len(s) * q / 100)) - 1]


class RssSampler:
    """Peak summed RSS of the JVM and its Python workers, sampled every
    0.1 s while active. The process tree is rescanned once a second (the
    Python workers are reused, so they are long-lived); in between only
    the known processes are read, which keeps the sampler's own CPU use,
    and its share of this process's GIL, small."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self.peak_procs: list[int] = []
        self._pids: list[int] = []
        self._scanned = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        out, todo = [self.jvm_pid], list(children.get(self.jvm_pid, []))
        while todo:
            p = todo.pop()
            todo.extend(children.get(p, []))
            # only the Python workers: a shell command the JVM forks
            # briefly reports the JVM's own pages as its RSS
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    if b"pyspark.daemon" in f.read():
                        out.append(p)
            except OSError:
                continue
        return out

    def _rss_kb(self) -> list[int]:
        if time.monotonic() - self._scanned >= 1.0:
            self._pids, self._scanned = self._tree(), time.monotonic()
        out = []
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/status") as f:
                    m = re.search(r"^VmRSS:\s+(\d+)", f.read(), re.M)
            except OSError:
                continue
            if m:
                out.append(int(m.group(1)))
        return out

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(0.1) and not self._stop.is_set():
                rss = self._rss_kb()
                if sum(rss) > self.peak_kb:
                    self.peak_kb, self.peak_procs = sum(rss), rss
                time.sleep(0.1)

    def active(self, on: bool) -> None:
        (self._on.set if on else self._on.clear)()

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)


def prepare_env(work: str) -> None:
    """Keep every file the run writes (Spark scratch, JVM and Python temp
    files) inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a 1 GB heap saturates early, so the JVM's share of peak_rss_mb is
    # steady between runs (and the run stays small on a shared host)
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def env_guard(spark) -> dict:
    """Record the environment; refuse to run when the session's JVM lacks
    the JIT flag (it is silently lost when a JVM gateway already exists)."""
    import numpy
    import pyarrow
    import pyspark

    jvm_args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    info = {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "cores_used": CORES,
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "jit_flag": JIT_FLAG in jvm_args,
    }
    if not info["jit_flag"]:
        raise SystemExit(f"environment guard: JVM started without {JIT_FLAG}: {jvm_args}")
    return info


def kernel_rate(pdf) -> dict:
    """The kernel on one core, on the workload's pages: the same batch
    functions the codegen stage calls, in 2048-row batches."""
    from iscc_specs_spark.kernel.batch import content_text_batch, data_instance_batch, meta_batch

    texts = pdf["text"].tolist()
    htmls = [bytes(h) for h in pdf["html"]]
    titles = (pdf["html"].map(bytes).str.decode("utf-8")
              .str.extract(r"(?is)<title[^>]*>(.*?)</title>", expand=False).fillna("").tolist())
    t0 = time.perf_counter()
    for i in range(0, len(texts), 2048):
        meta_batch(titles[i:i + 2048])
        content_text_batch(texts[i:i + 2048])
        data_instance_batch(htmls[i:i + 2048])
    secs = time.perf_counter() - t0
    mb = (sum(len(t.encode()) for t in texts) + sum(len(h) for h in htmls)) / 1e6
    return {"secs": secs, "docs": len(texts), "kernel.docs_per_s": len(texts) / secs,
            "kernel.mb_per_s": mb / secs}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def run(args, work: str) -> tuple[dict, int]:
    t_session = time.perf_counter()
    from iscc_specs_spark.session import get_spark

    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + event_dir,
        })
    spark = get_spark("perfbench", cores=CORES, shuffle_partitions=2 * CORES, extra_conf=extra)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        env = env_guard(spark)
        t_session = time.perf_counter() - t_session
        log(json.dumps({"env": env}))
        return measure(spark, args, work, t_session, event_dir)
    finally:
        if spark.sparkContext._jsc is not None:
            stop_spark(spark)


def measure(spark, args, work, t_session, event_dir) -> tuple[dict, int]:
    from perfbench import corpus, layers
    from perfbench.workloads import WORKLOADS

    # set-up: corpus generation + parquet write + load, repeated; the
    # median rep is added to the one-off session start and warm-up
    reps = []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        cdir = os.path.join(work, f"corpus{i}")
        truth, props = corpus.write_corpus(args.workload, args.seed, cdir)
        spark.read.parquet(os.path.join(cdir, "pages")).count()
        reps.append(time.perf_counter() - t0)
    wl = WORKLOADS[args.workload](spark, cdir, work, truth, props)
    log(json.dumps({"corpus": props}))
    t0 = time.perf_counter()
    wl.warmup()
    t_warm = time.perf_counter() - t0
    setup_s = t_session + statistics.median(reps) + t_warm
    log(json.dumps({"setup": {"session_s": t_session, "corpus_s": reps, "warmup_s": t_warm}}))

    sampler = RssSampler(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    outs, failures, attempted, failed = [], [], 0, 0

    def one(tracer=None):
        nonlocal attempted, failed
        sampler.active(True)
        try:
            out = wl.op(tracer)
        except Exception:  # noqa: BLE001 — an operation failure is a result
            sampler.active(False)
            log(traceback.format_exc())
            attempted += 1
            failed += 1
            failures.append("operation raised")
            return None
        sampler.active(False)
        attempted += out["ops"]
        bad = wl.check(out)
        if bad:
            failed += out["ops"]
            failures.extend(bad)
        outs.append(out)
        return out

    metrics = {}
    if not args.trace:
        t_start = time.perf_counter()
        while True:
            one()
            if time.perf_counter() - t_start >= args.seconds:
                break
        sampler.close()
        log(json.dumps({"operations": [
            {"op_s": o["op_s"], "curate_s": o.get("curate_s", [o["curate_wall"]])} for o in outs]}))
        if outs:
            if len({o["fingerprint"] for o in outs}) != 1:
                failures.append("outputs differ between operations")
                failed += attempted - failed
            op_s = [s for o in outs for s in o["op_s"]]
            metrics = {
                "setup_s": setup_s,
                "docs_per_s": statistics.median(o["docs_per_s"] for o in outs),
                "batch_s.p50": statistics.median(op_s),
                "batch_s.p90": percentile(op_s, 90),
                "curate_s": statistics.median(o["curate_wall"] for o in outs),
                "peak_rss_mb": sampler.peak_kb / 1024,
                "pair_recall": outs[-1]["recall"],
                "pair_precision": outs[-1]["precision"],
            }
        metrics["ok_frac"] = (attempted - failed) / max(attempted, 1)
        units = E2E
    else:
        untraced = one()
        run_id = uuid.uuid4().hex
        tracer = layers.Tracer(spark.sparkContext, run_id)
        tracer.install()
        try:
            traced = one(tracer)
        finally:
            tracer.uninstall()
        sampler.close()
        if untraced and traced and untraced.get("fingerprint") != traced.get("fingerprint"):
            failures.append("traced output differs from untraced output")
            failed += traced["ops"]
        counts = wl.outside_in() if traced else {}
        kern = kernel_rate(wl.pages_pdf())
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
        jobs = layers.job_metrics(os.path.join(event_dir, app_id), run_id)
        table = layers.layer_table(tracer.spans, jobs, CORES)
        root = next(s for s in tracer.spans if s["parent"] is None)
        t_wall = root["end"] - root["start"]
        log(json.dumps({"spans": [{**sp, "start": sp["start"] - root["start"],
                                    "end": sp["end"] - root["start"]} for sp in tracer.spans]}))
        log(format_table(table, t_wall))
        log(json.dumps({"layer_targets": layers.LAYER_TARGETS}))
        for layer in layers.SPARK_LAYERS:
            for field in LAYER_FIELDS:
                metrics[f"{layer}.{field}"] = table[layer][field]
        codegen_per_doc = table["codegen"]["task_run_s"] / max((traced or {}).get("coded_docs", 0), 1)
        metrics.update({
            "kernel.docs_per_s": kern["kernel.docs_per_s"],
            "kernel.mb_per_s": kern["kernel.mb_per_s"],
            "codegen.overhead": codegen_per_doc / (kern["secs"] / kern["docs"]),
            **counts,
            "trace.wall_s": t_wall,
            "trace.overhead_s": t_wall - untraced["wall"] if untraced else 0.0,
            "trace.unattributed_s": table[layers.ROOT]["wall_s"],
        })
        units = {**{f"{l}.{f}": u for l in layers.SPARK_LAYERS for f, u in LAYER_FIELDS.items()},
                 **EXTRA}
    log(json.dumps({"peak_rss_kb_by_process": sampler.peak_procs}))
    log(json.dumps({"checks": failures or "ok",
                    "digest": outs[-1]["digest"] if outs and "digest" in outs[-1] else None}))
    result = {
        "correct": not failures,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    return result, 0 if outs else 1


def format_table(table: dict, wall: float) -> str:
    lines = [f"traced wall {wall:.3f} s; layer self times sum to "
             f"{sum(r['wall_s'] for r in table.values()):.3f} s",
             f"{'layer':<11}{'wall_s':>9}{'task_s':>9}{'cpu_s':>9}{'shufW_MB':>10}"
             f"{'spill_MB':>9}{'jobs':>6}{'idle_s':>9}"]
    for layer, r in table.items():
        lines.append(f"{layer:<11}{r['wall_s']:>9.3f}{r['task_run_s']:>9.3f}{r['task_cpu_s']:>9.3f}"
                     f"{r['shuffle_write_mb']:>10.3f}{r['spill_mb']:>9.3f}{r['jobs']:>6}"
                     f"{r['idle_s']:>9.3f}")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "iscc_specs_spark", "__init__.py")):
        log(f"perfbench: no iscc_specs_spark package under {ROOT}; run from a full checkout")
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        prepare_env(work)
        result, code = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
