"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of this repository. Inputs are generated
from ``--seed`` and cached under ``.perfbench_work/`` in the checkout;
every file the run writes (Spark scratch, temp files, outputs) stays
there too. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` measures the end-to-end metrics: the time of the set-up
(launching the JVM in build_spark, package shipping, one warm-up run),
then, after WARM_REPEATS untimed repeats, repeats the workload for
``--seconds`` and reports the median records per second and the median
per-repeat peak resident memory of the driver JVM and its Python
workers, then checks the output of a run against the reference. Times
are wall times less the share the hypervisor stole (Repeat.run_s).

``--trace 1`` measures the per-layer metrics: spans around each layer's
public functions (all four workloads' layers, each on its own
workload's inputs), in-process kernel spans, derived ratios, and the
tracing overhead on the chosen workload. The spans are written to
``.perfbench_work/traces/<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from contextlib import nullcontext
from pathlib import Path
from typing import NamedTuple

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

#: untimed repeats between the set-up and the timed ones: time per
#: repeat still falls over the first runs of a fresh JVM (JIT, Python
#: worker imports)
WARM_REPEATS = 3
MIN_REPEATS = 6
REPEAT_TIMEOUT_S = 90
OVERHEAD_PAIRS = 1

WORKLOAD_NAMES = ("extract_bulk", "ingest_files", "training_set", "vector_dedup")

#: records_per_s and setup_s are taken over wall time less the share the
#: hypervisor stole (Repeat.run_s): on a shared 4-vCPU virtual machine
#: that share swings between 0 and 30% within minutes, and plain wall
#: throughput of the same code spread up to 3.5 times as much between
#: runs as the corrected figure. The summary line prints the plain wall
#: rate and the CPU-time rate too
END_TO_END = {
    "records_per_s": "records/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "result_bytes_per_record": "B/record",
}

#: every stage span a traced run records, in pipeline order per workload
STAGES = (
    "arrow_engine.extract_arrow",
    "resolve.read_binary_dir",
    "layout.layout_parse",
    "api.parse",
    "lineage.write_lineage",
    "textstats.text_profile_fast",
    "dedup.dedup_exact",
    "dedup.lsh_jaccard_pairs",
    "dedup.near_dedup",
    "dedup.decontaminate",
    "packing.sample_stratified",
    "packing.pack_sequences",
    "similarity.semantic_dedup",
    "similarity.ivfpq_topk",
)
STAGE_SUFFIXES = {
    "wall_s": ("s", "lower"),
    "task_s": ("s", "lower"),
    "wait_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "rows_out": ("rows", "higher"),
}
KERNELS = (
    "arrow_engine.extract_batch",
    "classify.classify_frame",
    "layout.split_blocks",
    "pdf_text.extract_pdf_blocks",
)
DERIVED = {
    "arrow_engine.boundary_s": ("s", "lower"),
    "layout.boundary_s": ("s", "lower"),
    "arrow_engine.rows_per_batch": ("rows", "higher"),
    "resolve.files_per_task": ("files", "higher"),
    "dedup.lsh_jaccard_pairs.verified_frac": ("ratio", "higher"),
    "similarity.semantic_dedup.pairs_scored": ("count", "lower"),
    "similarity.semantic_dedup.max_cell_frac": ("ratio", "lower"),
    "similarity.ivfpq_topk.rows_scored_per_query": ("rows", "lower"),
    "packing.pack_sequences.fill_frac": ("ratio", "higher"),
    "catalyst.plan_s": ("s", "lower"),
    "box.control_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
    "trace.task_core_share": ("ratio", "higher"),
    "trace.kernel_core_share": ("ratio", "higher"),
}

#: driver-side kernel spans whose work a workload's Python workers do
WORKLOAD_KERNELS = {
    "extract_bulk": ("arrow_engine.extract_batch",),
    "ingest_files": ("layout.split_blocks",),
    "training_set": (),
    "vector_dedup": (),
}


def per_layer_spec() -> dict[str, tuple[str, str]]:
    """name -> (unit, better) for every per-layer metric."""
    spec = {
        f"{s}.{suf}": ub for s in STAGES for suf, ub in STAGE_SUFFIXES.items()
    }
    for k in KERNELS:
        spec[f"{k}.wall_s"] = ("s", "lower")
        spec[f"{k}.rows"] = ("rows", "higher")
    spec.update(DERIVED)
    return spec


def _isolate_env() -> None:
    """Keep every file the run writes inside the checkout: Python temp
    files, the JVM's temp dir, and no hsperfdata file in /tmp."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_spark(nproc: int):
    """build_spark with its own defaults (driver heap, Arrow batch size,
    partitions), except that Spark's scratch and warehouse stay inside
    the checkout: build_spark would put spark.local.dir in /dev/shm."""
    from agentic_doc_spark.config import build_spark

    spark = build_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None else None


def _cpu() -> float:
    from perfbench.sparkstats import cpu_seconds

    pid = _jvm_pid()
    if pid is None:
        own = os.times()
        return own.user + own.system
    return cpu_seconds(pid)


class Repeat(NamedTuple):
    wall: float
    #: CPU seconds of the program's processes
    cpu: float
    #: share of a busy CPU's time that the hypervisor gave to other
    #: guests (sparkstats.stolen_share)
    stolen: float
    ok: bool

    @property
    def run_s(self) -> float:
        """Wall seconds with the stolen share taken out: the repeat's
        wall time had the CPUs run whenever the program had work for
        them. Idle cores and waits stay in it (a waiting CPU is not
        stolen from)."""
        return self.wall * (1.0 - self.stolen)


def _timed_repeat(spark, wl, i: int) -> Repeat:
    """Run repeat ``i``. A repeat past REPEAT_TIMEOUT_S is cancelled and
    counts as failed."""
    from perfbench.sparkstats import cpu_ticks, stolen_share

    wl.before(i)
    watchdog = threading.Timer(REPEAT_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    watchdog.start()
    c0 = _cpu()
    k0 = cpu_ticks()
    t0 = time.perf_counter()
    try:
        wl.run(i)
        ok = True
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    finally:
        watchdog.cancel()
    wall = time.perf_counter() - t0
    return Repeat(wall, _cpu() - c0, stolen_share(k0, cpu_ticks(), wall), ok)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _check(wl, ref) -> tuple[list[str], int]:
    try:
        return wl.check(ref)
    except Exception as ex:
        traceback.print_exc(file=sys.stderr)
        return [f"check raised {ex!r}"], 0


def measure(name: str, seed: int, seconds: float, nproc: int, inputs, ref, scratch) -> dict:
    from perfbench import sparkstats
    from perfbench.workloads import WORKLOADS

    # the set-up, in this process's first JVM: one per run, because the
    # JVM launch and a cold warm-up run take 20-35 s on a 4-vCPU virtual
    # machine, and a second would not fit the time a run may take. Like
    # a repeat, it is timed with the hypervisor's stolen share taken out
    c0 = _cpu()
    k0 = sparkstats.cpu_ticks()
    t_start = time.perf_counter()
    spark = start_spark(nproc)
    wl = WORKLOADS[name](spark, inputs, scratch, seed)
    wl.before(0)
    wl.run(0)
    wall = time.perf_counter() - t_start
    setup = Repeat(wall, _cpu() - c0, sparkstats.stolen_share(k0, sparkstats.cpu_ticks(), wall), True)

    attempts, failed, warm = 0, 0, []
    for _ in range(WARM_REPEATS):
        attempts += 1
        r = _timed_repeat(spark, wl, attempts)
        warm.append(r.wall)
        failed += not r.ok
    sampler = sparkstats.RssSampler(_jvm_pid()).start()
    sampler.take_peak()
    timed, peaks, spent = [], [], 0.0
    while attempts < WARM_REPEATS + MIN_REPEATS or spent < seconds:
        attempts += 1
        r = _timed_repeat(spark, wl, attempts)
        spent += r.wall
        if r.ok:
            timed.append(r)
            peaks.append(sampler.take_peak())
        else:
            failed += 1
    sampler.stop()
    t_timed = time.perf_counter()
    control = sparkstats.control_seconds(spark)
    bad, nbytes = _check(wl, ref)
    t_check = time.perf_counter()
    stop_jvm(spark)
    print(
        f"perfbench phases: setup+timed={t_timed - t_start:.1f}s"
        f" control+check={t_check - t_timed:.1f}s stop={time.perf_counter() - t_check:.1f}s",
        file=sys.stderr,
    )

    records = wl.records
    metrics = {
        "records_per_s": statistics.median(records / r.run_s for r in timed) if timed else 0.0,
        "setup_s": setup.run_s,
        "peak_rss_mb": statistics.median(peaks) / 2**20 if peaks else 0.0,
        "result_bytes_per_record": nbytes / records,
    }
    for b in bad:
        print(f"perfbench: {name} output mismatch: {b}", file=sys.stderr)
    attempted = attempts + wl.extra_check_run
    n_failed = failed + (1 if bad else 0)
    print(
        f"perfbench {name} seed={seed} nproc={nproc} repeats={len(timed)}"
        f" setup_wall_s={setup.wall:.4f} setup_cpu_s={setup.cpu:.4f}"
        f" setup_stolen={setup.stolen:.3f} warm_walls={[round(w, 3) for w in warm]}"
        f" failed_frac={n_failed / attempted:.4f} box.control_s={control:.4f} "
        + " ".join(f"{k}={v:.6g}" for k, v in metrics.items())
        + f" records_per_wall_s={_median(records / r.wall for r in timed):.6g}"
        f" records_per_cpu_s={_median(records / r.cpu for r in timed):.6g}"
        f" walls={[round(r.wall, 3) for r in timed]} cpus={[round(r.cpu, 3) for r in timed]}"
        f" stolen={[round(r.stolen, 3) for r in timed]}"
        f" peaks_mb={[round(x / 2**20) for x in peaks]}"
    )
    return {
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()},
    }


def profile_stages(spark, wl, tracer, mat_dir: Path) -> dict[str, float]:
    """One span per layer function on the previous stage's materialized
    output; each call is forced in its own job group."""
    import pyarrow.parquet as pq
    from pyspark.sql import DataFrame

    from perfbench import sparkstats
    from perfbench.workloads import layer_span, noop

    out_metrics: dict[str, float] = {}
    mat: dict = {}
    first = len(tracer.spans)
    with tracer.span(f"layers.{wl.name}"):
        for name, call, written in wl.stage_chain():
            with layer_span(spark, tracer, name) as s:
                out = call(mat)
                if written is None:
                    noop(out)
            plan = sparkstats.plan_seconds(out) if isinstance(out, DataFrame) else 0.0
            res = written() if written is not None else out
            path = mat_dir / name
            res.write.mode("overwrite").parquet(str(path))
            mat[name] = spark.read.parquet(str(path))
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in path.glob("*.parquet"))
            c = s.counts
            c.update(plan_s=plan, rows_out=rows)
            out_metrics.update(
                {
                    f"{name}.wall_s": s.duration,
                    f"{name}.task_s": c["task_s"],
                    f"{name}.wait_s": c["task_s"] - c["cpu_s"],
                    f"{name}.jobs": c["jobs"],
                    f"{name}.shuffle_bytes": c["shuffle_bytes"],
                    f"{name}.rows_out": rows,
                }
            )
        out_metrics.update(wl.derived(mat, {sp.name: sp for sp in tracer.spans[first:]}))
    return out_metrics


def kernel_spans(tracer, spark, seed: int) -> dict[str, float]:
    """The kernels the stage spans run inside Python workers, run here on
    the driver over the same inputs, one span each (compute without the
    JVM<->Python boundary)."""
    import pandas as pd
    import pyarrow.parquet as pq

    from agentic_doc_spark.arrow_engine import extract_batch
    from agentic_doc_spark.functions.classify import classify_frame
    from agentic_doc_spark.sources.layout import split_blocks
    from agentic_doc_spark.sources.pdf_text import extract_pdf_blocks
    from perfbench import gen
    from perfbench.workloads import SETTINGS

    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    raw = gen.stage("extract_bulk", seed, WORK) / "raw"
    batches = [
        b for f in sorted(raw.glob("*.parquet")) for b in pq.ParquetFile(f).iter_batches(batch_size=batch)
    ]
    frames = []
    for b in batches:
        flat = b.column("spans").flatten()
        frames.append(
            pd.DataFrame(
                {k: flat.field(k).to_pandas() for k in ("kind", "text", "media_ref")}
            )
        )
    files = sorted((gen.stage("ingest_files", seed, WORK) / "files").iterdir())
    docs = [
        (f.read_bytes(), {".pdf": "pdf", ".html": "html"}.get(f.suffix, "image"))
        for f in files
    ]
    pdfs = [d for d, t in docs if t == "pdf"]
    out = {}
    for name, run, n in (
        ("arrow_engine.extract_batch", lambda: [extract_batch(b, SETTINGS) for b in batches], sum(b.num_rows for b in batches)),
        ("classify.classify_frame", lambda: [classify_frame(f) for f in frames], sum(len(f) for f in frames)),
        ("layout.split_blocks", lambda: [split_blocks(d, t) for d, t in docs], len(docs)),
        ("pdf_text.extract_pdf_blocks", lambda: [extract_pdf_blocks(d) for d in pdfs], len(pdfs)),
    ):
        with tracer.span(name) as s:
            run()
        s.counts["rows"] = n
        out[f"{name}.wall_s"] = s.duration
        out[f"{name}.rows"] = n
    return out


def profile(name: str, seed: int, nproc: int, inputs, ref, scratch) -> dict:
    from perfbench import gen, sparkstats
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(run_id=f"{name}-s{seed}-p{os.getpid()}")
    spark = start_spark(nproc)
    plain = WORKLOADS[name](spark, inputs, scratch, seed)
    traced = WORKLOADS[name](spark, inputs, scratch, seed, tracer)
    plain.before(0)
    plain.run(0)
    failed, attempts = 0, 0
    # warm as far as the untraced run's timed repeats are
    for _ in range(WARM_REPEATS):
        attempts += 1
        failed += not _timed_repeat(spark, plain, attempts).ok

    # tracing overhead on the chosen workload: alternate plain and traced
    walls_plain, walls_traced = [], []
    repeat_spans = []
    for _ in range(OVERHEAD_PAIRS):
        for wl, walls in ((plain, walls_plain), (traced, walls_traced)):
            attempts += 1
            with tracer.span(f"workload.{name}") if wl is traced else nullcontext() as top:
                r = _timed_repeat(spark, wl, attempts)
            if r.ok:
                walls.append(r.wall)
            else:
                failed += 1
            if top is not None:
                repeat_spans.append(top)

    metrics: dict[str, float] = {}
    for wname, cls in WORKLOADS.items():
        w_in = gen.stage(wname, seed, WORK)
        wl = cls(spark, w_in, scratch / wname, seed, tracer)
        metrics.update(profile_stages(spark, wl, tracer, scratch / "mat" / wname))
    metrics.update(kernel_spans(tracer, spark, seed))
    metrics["arrow_engine.boundary_s"] = (
        metrics["arrow_engine.extract_arrow.task_s"] - metrics["arrow_engine.extract_batch.wall_s"]
    )
    metrics["layout.boundary_s"] = (
        metrics["layout.layout_parse.task_s"] - metrics["layout.split_blocks.wall_s"]
    )
    metrics["catalyst.plan_s"] = sum(
        s.counts.get("plan_s", 0.0) for s in tracer.spans if s.name in STAGES
    )
    metrics["box.control_s"] = sparkstats.control_seconds(spark)
    metrics["trace.overhead_frac"] = (
        statistics.median(walls_traced) / statistics.median(walls_plain) - 1
        if walls_plain and walls_traced
        else 0.0
    )
    # how much of the box a repeat of the chosen workload keeps busy: its
    # Spark tasks' run time, and the driver-side wall of the kernels its
    # Python workers run, each over nproc x the repeat's wall (what is
    # left is driver-side fixed cost, waits and idle cores)
    ids = {t.id for t in repeat_spans}
    metrics["trace.task_core_share"] = sum(
        s.counts.get("task_s", 0.0) for s in tracer.spans if s.parent in ids
    ) / (nproc * sum(t.duration for t in repeat_spans))
    metrics["trace.kernel_core_share"] = sum(
        metrics[f"{k}.wall_s"] for k in WORKLOAD_KERNELS[name]
    ) / (nproc * statistics.median(walls_plain))
    bad, _ = _check(traced, ref)  # the last repeat ran traced
    attempts += traced.extra_check_run
    stop_jvm(spark)

    tracer.write(
        WORK / "traces" / f"{name}-s{seed}.json",
        meta={"workload": name, "seed": seed, "nproc": nproc},
    )
    for b in bad:
        print(f"perfbench: {name} output mismatch: {b}", file=sys.stderr)
    spec = per_layer_spec()
    missing = sorted(set(spec) - set(metrics))
    if missing:
        raise RuntimeError(f"per-layer metrics not produced: {missing}")
    print(
        f"perfbench {name} seed={seed} nproc={nproc} traced: "
        + " ".join(f"{k}={metrics[k]:.6g}" for k in sorted(spec))
    )
    return {
        "correct": not bad and failed == 0,
        "attempted": attempts,
        "failed": failed + (1 if bad else 0),
        "metrics": {
            k: {"value": float(metrics[k]), "unit": spec[k][0]} for k in sorted(spec)
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "agentic_doc_spark" / "__init__.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(
            f"perfbench: no agentic_doc_spark checkout at {ROOT}; run from the "
            "root of a checkout of the repository",
            file=sys.stderr,
        )
        return 2

    _isolate_env()
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    from perfbench import gen, reference

    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    inputs = gen.stage(args.workload, args.seed, WORK)
    ref = reference.reference(args.workload, args.seed, inputs, WORK)
    print(f"perfbench phases: inputs+reference={time.perf_counter() - t0:.1f}s", file=sys.stderr)
    scratch = WORK / "scratch" / f"{args.workload}-p{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    try:
        if args.trace:
            result = profile(args.workload, args.seed, nproc, inputs, ref, scratch)
        else:
            result = measure(args.workload, args.seed, args.seconds, nproc, inputs, ref, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for m in result["metrics"].values():
        if not math.isfinite(m["value"]):
            raise RuntimeError(f"non-finite metric in {result}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
