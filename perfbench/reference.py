"""Independent references for every workload's output, computed outside
any timed region and cached per seed.

The SQL references are the DuckDB twins of ``__spark_entry__.oracle_sql()``
run on the generated inputs: extract_merge, errdoc_errors and
boilerplate_strip verbatim; semantic_dedup and ann_ivfpq with the
workload's threshold and query block substituted for the twins'
constants; training_set composed from the training_set and
near_dup_survivors twins' fragments in the order ``build_training_set``
runs its stages (near-dup removal between exact dedup and
decontamination, 8-token decontamination against the eval split).
ingest_files is checked against the generator's own expected blocks.
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

#: build_training_set parameters of the training_set workload
TRAIN_PARAMS = dict(
    min_quality=0.3,
    near_dup_threshold=0.8,
    decon_k=8,
    lang_rates={"en": 0.6, "de": 0.8, "fr": 0.8, "es": 0.8},
    default_lang_rate=0.5,
    pack_budget=2048,
)
#: ivfpq_topk parameters of the vector_dedup workload (the ann_ivfpq
#: twin's constants)
IVFPQ_PARAMS = dict(k=3, n_cells=8, n_probe=3, m=32, pq_k=16)


def _connect(work: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    tmp = work / "duckdb_tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute(f"SET threads = {max(1, os.cpu_count() or 1)}")
    return con


def _substitute(sql: str, old: str, new: str, count: int) -> str:
    if sql.count(old) != count:
        raise RuntimeError(f"twin SQL changed: expected {count}x {old!r}")
    return sql.replace(old, new)


def _view(con, name: str, sql: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW {name} AS {sql}")


def _extract_bulk(con, inputs: Path) -> dict[str, pa.Table]:
    import __spark_entry__ as entry

    twins = entry.oracle_sql()
    docs = f"read_parquet('{inputs / 'documents.parquet'}')"
    out = {}
    _view(
        con,
        "documents",
        f"SELECT * FROM {docs} WHERE doc_id % 13 <> 0 AND doc_id % 4 <> 1",
    )
    out["merge"] = con.execute(
        "SELECT doc_id, md5(markdown) AS md, CAST(n_spans AS BIGINT) AS n_spans,"
        f" CAST(end_page_idx AS BIGINT) AS end_page_idx FROM ({twins['extract_merge']})"
    ).arrow()
    _view(con, "documents", f"SELECT * FROM {docs}")
    out["errors"] = con.execute(
        "SELECT doc_id, CAST(page_num AS BIGINT) AS page_num, error,"
        f" CAST(error_code AS BIGINT) AS error_code FROM ({twins['errdoc_errors']})"
    ).arrow()
    _view(
        con,
        "documents",
        f"SELECT * FROM {docs} WHERE doc_id % 13 <> 0 AND doc_id % 4 = 1",
    )
    out["boiler"] = con.execute(
        "SELECT doc_id, CAST(n_kept AS BIGINT) AS n_kept"
        f" FROM ({twins['boilerplate_strip']})"
    ).arrow()
    return out


def _ingest_files(con, inputs: Path) -> dict[str, pa.Table]:
    exp = pq.read_table(inputs / "expected.parquet")
    return {
        "expected": con.execute(
            "SELECT name, n_spans, md5(markdown) AS md FROM exp"
        ).arrow()
    }


def _shingles(k: int) -> str:
    """k-token shingle set over ``nw`` (the _SHINGLES twin fragment for
    any k: one whole-text shingle when a text has fewer than k words)."""
    return (
        "list_distinct(list_transform("
        f"range(0, greatest(len(nw) - {k - 1}, 1)), "
        f"i -> array_to_string(list_slice(nw, i + 1, i + {k}), ' ')))"
    )


def training_set_steps() -> list[tuple[str, str]]:
    """The composed twin as (table, SELECT) steps, each materialized
    before the next (DuckDB would otherwise re-inline every CTE into
    each consumer, and the recursive component walk would re-derive the
    whole pair set per iteration)."""
    import __spark_entry__ as e

    p = TRAIN_PARAMS
    words = e._SQL_WORDS.format(src=e._NORM)
    rates = " ".join(
        f"WHEN pred_lang = '{k}' THEN {v}" for k, v in sorted(p["lang_rates"].items())
    )
    return [
        ("q", f"""
            SELECT * FROM (
              SELECT doc_id, text, {e._LANG_EXPR} AS pred_lang,
                     {e._QUALITY_EXPR} AS quality
              FROM documents
            ) WHERE quality >= {p['min_quality']}
        """),
        ("d1", f"""
            WITH canon AS (
              SELECT min(doc_id) AS doc_id FROM q GROUP BY md5({e._NORM})
            )
            SELECT q.* FROM q JOIN canon USING (doc_id)
        """),
        ("s", f"""
            SELECT doc_id, {e._SHINGLES} AS sh
            FROM (SELECT doc_id, {words} AS nw FROM d1)
        """),
        ("verified", f"""
            WITH h AS (
              SELECT doc_id, {e._MINHASH_HV} AS hv FROM s
            ), sig AS (
              SELECT doc_id, {e._MINHASH_SIG} AS sig FROM h
            ), banded AS (
              SELECT doc_id, u.b AS band_idx,
                     md5(array_to_string(
                         list_slice(sig, u.b * 4 + 1, u.b * 4 + 4), '_'))
                       AS band_key
              FROM sig, unnest(range(0, 4)) AS u(b)
            ), cand AS (
              SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
              FROM banded l JOIN banded r
                ON l.band_idx = r.band_idx AND l.band_key = r.band_key
              WHERE l.doc_id < r.doc_id
            ), e AS (
              SELECT doc_id, len(sh) AS n_sh, u.g AS shingle
              FROM s, unnest(sh) AS u(g)
            ), shared AS (
              SELECT c.a, c.b, l.n_sh AS na, r.n_sh AS nb, count(*) AS shared
              FROM cand c
              JOIN e l ON l.doc_id = c.a
              JOIN e r ON r.doc_id = c.b AND r.shingle = l.shingle
              GROUP BY 1, 2, 3, 4
            )
            SELECT a, b FROM shared
            WHERE shared * 1.0 / (na + nb - shared) >= {p['near_dup_threshold']}
        """),
        ("losers", """
            WITH RECURSIVE sym AS (
              SELECT a AS src, b AS dst FROM verified
              UNION
              SELECT b AS src, a AS dst FROM verified
            ), walk(v, r) AS (
              SELECT src, dst FROM sym
              UNION
              SELECT w.v, s2.dst FROM walk w JOIN sym s2 ON w.r = s2.src
            )
            SELECT v FROM walk GROUP BY v HAVING v > least(v, min(r))
        """),
        ("d1b", "SELECT * FROM d1 WHERE doc_id NOT IN (SELECT v FROM losers)"),
        ("dirty", f"""
            WITH de AS (
              SELECT doc_id, u.g AS shingle
              FROM (SELECT doc_id, {_shingles(p['decon_k'])} AS sh
                    FROM (SELECT doc_id, {words} AS nw FROM d1b)),
                   unnest(sh) AS u(g)
            ), bench AS (
              SELECT DISTINCT u.g AS shingle
              FROM (SELECT {_shingles(p['decon_k'])} AS sh
                    FROM (SELECT {words} AS nw FROM eval)),
                   unnest(sh) AS u(g)
            )
            SELECT DISTINCT doc_id FROM de
            WHERE shingle IN (SELECT shingle FROM bench)
        """),
        ("out", f"""
            WITH d3 AS (
              SELECT * FROM d1b
              WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
                AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                    / 1152921504606846976.0
                    < CASE {rates} ELSE {p['default_lang_rate']} END
            ), t AS (
              SELECT doc_id, pred_lang, quality,
                     CAST(len({e._WS_WORDS}) AS BIGINT) AS n_tokens
              FROM d3
            ), r AS (
              SELECT *, SUM(n_tokens) OVER (ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) AS running
              FROM t
            )
            SELECT doc_id, pred_lang,
                   round(CAST(quality AS DOUBLE), 6) AS quality, n_tokens,
                   CAST(running AS BIGINT) AS running,
                   CAST(floor((running - n_tokens) / {p['pack_budget']}.0)
                        AS BIGINT) AS bin_id
            FROM r
        """),
    ]


def _training_set(con, inputs: Path) -> dict[str, pa.Table]:
    _view(con, "documents", f"SELECT * FROM read_parquet('{inputs / 'corpus'}/*.parquet')")
    _view(con, "eval", f"SELECT * FROM read_parquet('{inputs / 'eval.parquet'}')")
    for name, sql in training_set_steps():
        con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {sql}")
    return {"out": con.execute("SELECT * FROM out").arrow()}


def _vector_dedup(con, inputs: Path) -> dict[str, pa.Table]:
    import __spark_entry__ as entry

    twins = entry.oracle_sql()
    _view(
        con,
        "embeddings",
        f"SELECT * FROM read_parquet('{inputs / 'embeddings'}/*.parquet')",
    )
    sem = _substitute(
        twins["semantic_dedup"],
        "list_cosine_similarity(a.v, b.v) >= 0.3",
        f"list_cosine_similarity(a.v, b.v) >= {gen.VEC_THRESHOLD}",
        1,
    )
    ann = _substitute(
        twins["ann_ivfpq"], "q.vec_id < 5", f"q.vec_id < {gen.VEC_QUERIES}", 2
    )
    return {
        "survivors": con.execute(f"SELECT vec_id, cell FROM ({sem})").arrow(),
        "topk": con.execute(
            "SELECT query_id, neighbor_id, adist, CAST(rank AS BIGINT) AS rank"
            f" FROM ({ann})"
        ).arrow(),
    }


def ivf_cells(inputs: Path, work: Path) -> pa.Table:
    """(cell, centroid, n): the ann_ivf / semantic_dedup twins' IVF cells
    and their populations, ordered by cell."""
    import __spark_entry__ as entry

    con = _connect(work)
    try:
        _view(
            con,
            "embeddings",
            f"SELECT * FROM read_parquet('{inputs / 'embeddings'}/*.parquet')",
        )
        return con.execute(
            entry._SQL_IVF_ASSIGNED
            + " SELECT c.cell, c.centroid, count(a.vec_id) AS n"
            " FROM cents c LEFT JOIN assigned a USING (cell) GROUP BY 1, 2 ORDER BY 1"
        ).arrow()
    finally:
        con.close()


_BUILDERS = {
    "extract_bulk": _extract_bulk,
    "ingest_files": _ingest_files,
    "training_set": _training_set,
    "vector_dedup": _vector_dedup,
}


def reference(workload: str, seed: int, inputs: Path, work: Path) -> dict[str, pa.Table]:
    """The workload's reference tables for ``seed``, computed once and
    cached as parquet beside the inputs."""
    import __spark_entry__

    key = gen.code_digest(gen, sys.modules[__name__], __spark_entry__)
    final = work / "refs" / f"{workload}-s{seed}-{key}"
    if not (final / "_DONE").exists():
        tmp = final.with_name(f"{final.name}.tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        con = _connect(work)
        try:
            tables = _BUILDERS[workload](con, inputs)
        finally:
            con.close()
        for name, t in tables.items():
            pq.write_table(t, tmp / f"{name}.parquet")
        (tmp / "_DONE").write_text("")
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    return {
        p.stem: pq.read_table(p) for p in sorted(final.glob("*.parquet"))
    }
