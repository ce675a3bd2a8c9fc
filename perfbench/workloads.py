"""The four workloads: the timed call, its untimed per-repeat set-up,
the output check against the reference, and the chain of layer stages
that a traced run profiles one public function at a time.

Layer spans come only from this file, around calls into the package's
public functions; nothing inside ``agentic_doc_spark`` is instrumented.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from contextlib import contextmanager
from pathlib import Path
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import gen, reference, sparkstats
from perfbench.trace import Tracer

from agentic_doc_spark.config import Settings

SETTINGS = Settings()  # the arrow engine with the reference defaults


def noop(df: DataFrame) -> None:
    """Force full computation without a driver collect or file output."""
    df.write.mode("overwrite").format("noop").save()


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file() and not f.name.startswith((".", "_")))


def read_dir(path: Path, columns: list[str] | None = None) -> pa.Table:
    files = sorted(p for p in path.rglob("*.parquet"))
    return pa.concat_tables(
        [pq.read_table(p, columns=columns) for p in files]
    ) if files else pa.table({})


@contextmanager
def layer_span(spark: SparkSession, tracer: Tracer | None, name: str):
    """A span around one call into a layer. When tracing, the call's jobs
    run in their own job group and the group's stage totals are read
    from the status store after the span has closed."""
    if tracer is None:
        yield None
        return
    sc = spark.sparkContext
    group = f"{tracer.run_id}-{len(tracer.spans)}"
    sc.setJobGroup(group, name)
    try:
        with tracer.span(name) as s:
            yield s
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    s.counts.update(sparkstats.group_metrics(spark, group))


class Workload:
    """One workload bound to a session and its staged inputs."""

    name = ""
    #: 1 when check() runs the workload once more (the timed repeats
    #: write nothing it could read), 0 when it reads the last repeat's
    #: own output
    extra_check_run = 1

    def __init__(
        self,
        spark: SparkSession,
        inputs: Path,
        scratch: Path,
        seed: int,
        tracer: Tracer | None = None,
    ) -> None:
        self.spark = spark
        self.inputs = inputs
        self.scratch = scratch
        self.seed = seed
        self.tracer = tracer
        self.meta = json.loads((inputs / "meta.json").read_text())

    @property
    def records(self) -> int:
        return int(self.meta["records"])

    def layer(self, name: str):
        return layer_span(self.spark, self.tracer, name)

    def before(self, i: int) -> None:
        """Untimed set-up of repeat ``i``."""

    def run(self, i: int) -> None:
        """One timed execution of the workload."""
        raise NotImplementedError

    def check(self, ref: dict[str, pa.Table]) -> tuple[list[str], int]:
        """Compare an untimed run's output with the reference. Returns
        (mismatch descriptions, bytes of result written)."""
        raise NotImplementedError

    def derived(self, mat: dict[str, DataFrame], spans: dict) -> dict[str, float]:
        """Per-layer ratios computed from the stage chain's materialized
        outputs (``mat``) and its spans (by name)."""
        return {}

    def stage_chain(self) -> list[tuple[str, Callable, Callable | None]]:
        """Layer functions a traced run profiles, in pipeline order:
        (span name, call(materialized outputs by span name) -> DataFrame
        or None, and for a call that writes its own output, a reader of
        that output; None means the span forces the call to noop)."""
        raise NotImplementedError


def _diff(label: str, got: list, want: list) -> list[str]:
    if got == want:
        return []
    gs, ws = set(got), set(want)
    ex = sorted(gs ^ ws, key=repr)[:1]
    return [
        f"{label}: {len(ws - gs)} expected rows missing, {len(gs - ws)} unexpected"
        f" (of {len(want)}); e.g. {ex}"
    ]


def _md5(s: str | None) -> str:
    return hashlib.md5((s or "").encode()).hexdigest()


# --------------------------------------------------------------------------


class ExtractBulk(Workload):
    name = "extract_bulk"

    def _raw(self) -> DataFrame:
        return self.spark.read.parquet(str(self.inputs / "raw"))

    def run(self, i: int) -> None:
        from agentic_doc_spark.pipeline import extract

        with self.layer("pipeline.extract"):
            noop(extract(self._raw(), SETTINGS))

    def check(self, ref):
        from agentic_doc_spark.pipeline import extract

        out = self.scratch / "check"
        shutil.rmtree(out, ignore_errors=True)
        extract(self._raw(), SETTINGS).write.parquet(str(out))
        t = read_dir(out, ["doc_id", "markdown", "spans", "end_page_idx", "errors"])
        ids = [int(x) for x in t.column("doc_id").to_pylist()]
        md = [_md5(x) for x in t.column("markdown").to_pylist()]
        n_sp = pc.list_value_length(t.column("spans")).to_pylist()
        endp = t.column("end_page_idx").to_pylist()
        got = {d: (m, n, e) for d, m, n, e in zip(ids, md, n_sp, endp)}
        bad = []
        if sorted(ids) != list(range(gen.EXTRACT_DOCS)):
            bad.append(f"extract: {len(ids)} rows for {gen.EXTRACT_DOCS} documents")
        merge = ref["merge"].to_pylist()
        bad += _diff(
            "extract_merge",
            sorted((r["doc_id"], got.get(r["doc_id"])) for r in merge),
            sorted((r["doc_id"], (r["md"], r["n_spans"], r["end_page_idx"])) for r in merge),
        )
        boiler = ref["boiler"].to_pylist()
        bad += _diff(
            "boilerplate_strip",
            sorted((r["doc_id"], got.get(r["doc_id"], (0, None))[1]) for r in boiler),
            sorted((r["doc_id"], r["n_kept"]) for r in boiler),
        )
        empty = [d for d in range(gen.EXTRACT_DOCS) if gen.is_empty_doc(d)]
        bad += _diff(
            "empty documents",
            sorted((d, got.get(d)) for d in empty),
            sorted((d, (_md5(""), 0, 0)) for d in empty),
        )
        errs = sorted(
            (int(d), e["page_num"], e["error"], e["error_code"])
            for d, es in zip(t.column("doc_id").to_pylist(), t.column("errors").to_pylist())
            for e in es or []
        )
        bad += _diff(
            "errdoc_errors",
            errs,
            sorted(
                (r["doc_id"], r["page_num"], r["error"], r["error_code"])
                for r in ref["errors"].to_pylist()
            ),
        )
        return bad, dir_bytes(out)

    def derived(self, mat, spans):
        # Arrow batches the kernel received: each task's scan rows cut at
        # the session's maxRecordsPerBatch
        batch = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        recs = [r for r in spans["arrow_engine.extract_arrow"].counts["task_input_records"] if r]
        n_batches = sum(-(-r // batch) for r in recs)
        return {"arrow_engine.rows_per_batch": sum(recs) / max(n_batches, 1)}

    def stage_chain(self):
        from agentic_doc_spark.arrow_engine import extract_arrow

        return [
            ("arrow_engine.extract_arrow", lambda m: extract_arrow(self._raw(), SETTINGS), None),
        ]


# --------------------------------------------------------------------------


class IngestFiles(Workload):
    name = "ingest_files"
    extra_check_run = 0
    last = None

    def _dirs(self, i) -> tuple[Path, Path]:
        base = self.scratch / "ingest" / str(i)
        return base / "result", base / "lineage"

    def before(self, i: int) -> None:
        # a fresh result and lineage location per repeat: parse() appends
        # to an existing result table, and a reused lineage path would
        # mark every document completed before the repeat runs
        shutil.rmtree(self.scratch / "ingest", ignore_errors=True)
        self._dirs(i)[0].parent.mkdir(parents=True)

    def run(self, i: int) -> None:
        from agentic_doc_spark.api import parse
        from agentic_doc_spark.operators.lineage import write_lineage

        self.last = i
        result, lineage = self._dirs(i)
        with self.layer("api.parse"):
            parse(self.spark, str(self.inputs / "files"), result_save_dir=str(result))
        with self.layer("lineage.write_lineage"):
            write_lineage(
                self.spark.read.parquet(str(result)),
                str(lineage),
                run_id=f"repeat-{i}",
                input_snapshot_id=f"seed-{self.seed}",
            )

    def check(self, ref):
        # the last repeat's own result table and lineage
        result, lineage = self._dirs(self.last)
        t = read_dir(result, ["doc_id", "markdown", "spans", "errors"])
        names = [p.rsplit("/", 1)[-1] for p in t.column("doc_id").to_pylist()]
        n_sp = pc.list_value_length(t.column("spans")).to_pylist()
        md = [_md5(x) for x in t.column("markdown").to_pylist()]
        exp = ref["expected"].to_pylist()
        bad = _diff(
            "ingest blocks",
            sorted(zip(names, n_sp, md)),
            sorted((r["name"], r["n_spans"], r["md"]) for r in exp),
        )
        n_err = sum(len(e or []) for e in t.column("errors").to_pylist())
        if n_err:
            bad.append(f"ingest: {n_err} page errors on decodable files")
        lin = read_dir(lineage, ["doc_ids_completed", "span_count"])
        done = sorted(
            p.rsplit("/", 1)[-1] for ps in lin.column("doc_ids_completed").to_pylist() for p in ps
        )
        bad += _diff("lineage doc ids", done, sorted(r["name"] for r in exp))
        spans = sum(lin.column("span_count").to_pylist())
        if spans != sum(r["n_spans"] for r in exp):
            bad.append(f"lineage span_count {spans} != {sum(r['n_spans'] for r in exp)}")
        return bad, dir_bytes(result) + dir_bytes(lineage)

    def derived(self, mat, spans):
        n_files = sum(1 for _ in (self.inputs / "files").iterdir())
        tasks = spans["resolve.read_binary_dir"].counts["tasks"]
        return {"resolve.files_per_task": n_files / max(tasks, 1)}

    def stage_chain(self):
        from agentic_doc_spark.api import parse
        from agentic_doc_spark.operators.lineage import write_lineage
        from agentic_doc_spark.sources.layout import layout_parse, route_doc_types
        from agentic_doc_spark.sources.resolve import read_binary_dir

        files = str(self.inputs / "files")
        result, lineage = self._dirs("stages")
        self.before("stages")
        return [
            ("resolve.read_binary_dir", lambda m: read_binary_dir(self.spark, files), None),
            (
                "layout.layout_parse",
                lambda m: layout_parse(route_doc_types(m["resolve.read_binary_dir"]), SETTINGS),
                None,
            ),
            (
                "api.parse",
                lambda m: parse(self.spark, files, result_save_dir=str(result)),
                lambda: self.spark.read.parquet(str(result)),
            ),
            (
                "lineage.write_lineage",
                lambda m: write_lineage(
                    m["api.parse"], str(lineage), run_id="stages", input_snapshot_id=f"seed-{self.seed}"
                ),
                lambda: self.spark.read.parquet(str(lineage)),
            ),
        ]


# --------------------------------------------------------------------------


class TrainingSet(Workload):
    name = "training_set"

    def _corpus(self) -> DataFrame:
        return self.spark.read.parquet(str(self.inputs / "corpus"))

    def _eval(self) -> DataFrame:
        return self.spark.read.parquet(str(self.inputs / "eval.parquet"))

    def _build(self) -> DataFrame:
        from agentic_doc_spark.pipeline_llm import build_training_set

        return build_training_set(
            self._corpus(), benchmark=self._eval(), **reference.TRAIN_PARAMS
        )

    def run(self, i: int) -> None:
        with self.layer("pipeline_llm.build_training_set"):
            noop(self._build())

    def check(self, ref):
        out = self.scratch / "check"
        shutil.rmtree(out, ignore_errors=True)
        self._build().select(
            "doc_id",
            "pred_lang",
            F.round(F.col("quality").cast("double"), 6).alias("quality"),
            "n_tokens",
            F.col("running").cast("long").alias("running"),
            "bin_id",
        ).write.parquet(str(out))
        cols = ["doc_id", "pred_lang", "quality", "n_tokens", "running", "bin_id"]
        got = read_dir(out, cols).to_pylist()
        want = ref["out"].to_pylist()
        key = lambda r: tuple(r[c] for c in cols)  # noqa: E731
        return _diff("training_set", sorted(map(key, got)), sorted(map(key, want))), dir_bytes(out)

    @staticmethod
    def _gated(m):
        q = reference.TRAIN_PARAMS["min_quality"]
        return m["textstats.text_profile_fast"].filter(F.col("quality") >= q)

    def _exact_survivors(self, m):
        canon = m["dedup.dedup_exact"].filter("is_canonical").select("doc_id")
        return self._gated(m).join(canon, "doc_id", "left_semi")

    def derived(self, mat, spans):
        from agentic_doc_spark.operators.dedup import minhash_candidate_pairs

        candidates = minhash_candidate_pairs(
            self._exact_survivors(mat).select("doc_id", "text")
        ).count()
        kept = spans["dedup.lsh_jaccard_pairs"].counts["rows_out"]
        packed = mat["packing.pack_sequences"].agg(
            F.sum("n_tokens").alias("t"), F.max("bin_id").alias("b")
        ).first()
        budget = reference.TRAIN_PARAMS["pack_budget"]
        return {
            "dedup.lsh_jaccard_pairs.verified_frac": kept / max(candidates, 1),
            "packing.pack_sequences.fill_frac": packed["t"] / ((packed["b"] + 1) * budget),
        }

    def stage_chain(self):
        from agentic_doc_spark.functions.textstats import text_profile_fast, token_count_ws
        from agentic_doc_spark.operators.dedup import (
            decontaminate,
            dedup_exact,
            lsh_jaccard_pairs,
            near_dedup,
        )
        from agentic_doc_spark.operators.packing import pack_sequences, sample_stratified

        p = reference.TRAIN_PARAMS
        gated, exact_survivors = self._gated, self._exact_survivors
        return [
            (
                "textstats.text_profile_fast",
                lambda m: text_profile_fast(self._corpus().select("doc_id", "text")),
                None,
            ),
            ("dedup.dedup_exact", lambda m: dedup_exact(gated(m)), None),
            (
                "dedup.lsh_jaccard_pairs",
                lambda m: lsh_jaccard_pairs(
                    exact_survivors(m).select("doc_id", "text"),
                    threshold=p["near_dup_threshold"],
                ),
                None,
            ),
            (
                "dedup.near_dedup",
                lambda m: near_dedup(exact_survivors(m), m["dedup.lsh_jaccard_pairs"].select("a", "b")),
                None,
            ),
            (
                "dedup.decontaminate",
                lambda m: decontaminate(m["dedup.near_dedup"], self._eval(), k=p["decon_k"]),
                None,
            ),
            (
                "packing.sample_stratified",
                lambda m: sample_stratified(
                    m["dedup.decontaminate"],
                    p["lang_rates"],
                    "pred_lang",
                    "doc_id",
                    default_rate=p["default_lang_rate"],
                ),
                None,
            ),
            (
                "packing.pack_sequences",
                lambda m: pack_sequences(
                    m["packing.sample_stratified"].withColumn(
                        "n_tokens", token_count_ws(F.col("text")).cast("long")
                    ),
                    p["pack_budget"],
                ),
                None,
            ),
        ]


# --------------------------------------------------------------------------


class VectorDedup(Workload):
    name = "vector_dedup"

    def _emb(self) -> DataFrame:
        return self.spark.read.parquet(str(self.inputs / "embeddings")).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )

    def _semantic(self) -> DataFrame:
        from agentic_doc_spark.operators.similarity import semantic_dedup

        return semantic_dedup(self._emb(), threshold=gen.VEC_THRESHOLD)

    def _topk(self) -> DataFrame:
        from agentic_doc_spark.operators.similarity import ivfpq_topk

        emb = self._emb()
        queries = emb.filter(F.col("vec_id") < gen.VEC_QUERIES)
        return ivfpq_topk(emb, queries, **reference.IVFPQ_PARAMS)

    def run(self, i: int) -> None:
        with self.layer("similarity.semantic_dedup"):
            noop(self._semantic())
        with self.layer("similarity.ivfpq_topk"):
            noop(self._topk())

    def check(self, ref):
        sem, top = self.scratch / "check_sem", self.scratch / "check_topk"
        for d in (sem, top):
            shutil.rmtree(d, ignore_errors=True)
        self._semantic().write.parquet(str(sem))
        self._topk().write.parquet(str(top))
        got_sem = read_dir(sem, ["vec_id", "cell"]).to_pylist()
        bad = _diff(
            "semantic_dedup",
            sorted((r["vec_id"], r["cell"]) for r in got_sem),
            sorted((r["vec_id"], r["cell"]) for r in ref["survivors"].to_pylist()),
        )
        cols = ["query_id", "neighbor_id", "adist", "rank"]
        got_top = read_dir(top, cols).to_pylist()
        bad += _diff(
            "ann_ivfpq",
            sorted((r["query_id"], r["rank"], r["neighbor_id"], round(r["adist"], 6)) for r in got_top),
            sorted(
                (r["query_id"], r["rank"], r["neighbor_id"], round(r["adist"], 6))
                for r in ref["topk"].to_pylist()
            ),
        )
        return bad, dir_bytes(sem) + dir_bytes(top)

    def derived(self, mat, spans):
        # cell populations and centroids from the DuckDB twin's IVF
        # assignment (the same cells as the program's, by oracle parity)
        import numpy as np

        cells = reference.ivf_cells(self.inputs, self.scratch).to_pylist()
        n = np.array([c["n"] for c in cells], dtype=np.float64)
        cents = np.array([c["centroid"] for c in cells], dtype=np.float64)
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        q = read_dir(self.inputs / "embeddings").filter(
            pc.less(pc.field("vec_id"), gen.VEC_QUERIES)
        )
        qv = np.array(q.column("embedding").to_pylist(), dtype=np.float64)
        qv /= np.linalg.norm(qv, axis=1, keepdims=True)
        probe = np.argsort(-(qv @ cents.T), axis=1, kind="stable")[:, : reference.IVFPQ_PARAMS["n_probe"]]
        return {
            "similarity.semantic_dedup.pairs_scored": float((n * (n - 1) / 2).sum()),
            "similarity.semantic_dedup.max_cell_frac": float(n.max() / n.sum()),
            "similarity.ivfpq_topk.rows_scored_per_query": float(n[probe].sum(axis=1).mean() - 1),
        }

    def stage_chain(self):
        return [
            ("similarity.semantic_dedup", lambda m: self._semantic(), None),
            ("similarity.ivfpq_topk", lambda m: self._topk(), None),
        ]


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (ExtractBulk, IngestFiles, TrainingSet, VectorDedup)
}
