"""Seeded input generators for the four workloads.

Every generator is a pure function of ``seed``: it draws content from
numpy's PCG64 stream seeded with ``[seed, <workload salt>]`` (sizes of
extract_bulk and ingest_files come from SHAPE_SEED) and writes plain
files (parquet tables, or raw txt/md/html/pdf files for ingest). The
program under test only ever receives these files. ``stage`` caches a
workload's inputs per seed under the work directory and publishes them
with an atomic rename, so generation is never inside a timed region and
a second run with the same seed reuses the same bytes.

The vocabulary is synthetic (consonant-vowel syllables over a, e, o, u):
no word is a language marker, a boilerplate phrase or a roman-numeral
folio, so every marker, boilerplate line and folio in a corpus is one
the generator planted on purpose. Word frequencies follow a Zipf law, so
shingles behave like natural text rather than the repo's 35-word fixture
vocabulary, on which MinHash-LSH would collide on every pair.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: seed of the size draws (span counts, block and word counts): every
#: seed gets inputs of the same shape, so runs with different seeds
#: differ in content only and their timings are comparable
SHAPE_SEED = 1009

#: parquet files per staged table: fixes scan parallelism independently
#: of the box, so the same seed gives the same bytes everywhere
N_PARTS = 8

EXTRACT_DOCS = 6000
INGEST_FILES = 120
#: file types of ingest_files, cycled by file number: half are PDFs, and
#: PDFs of 4-15 pages carry nearly all of the layout decode's work
INGEST_EXTS = ("txt", "pdf", "md", "pdf", "html", "pdf")
INGEST_PDF_PAGES = (4, 16)
INGEST_PDF_BLOCKS = (8, 25)
TRAIN_DOCS = 1000
TRAIN_EVAL = 120
VEC_N = 2000
VEC_DIM = 64
VEC_CLUSTERS = 16
VEC_QUERIES = 32

#: extract_bulk document classes, keyed on doc_id like the DuckDB twins
#: they are checked against (errdoc_errors: doc_id % 13 == 0 carries a
#: corrupt first span; boilerplate_strip: offset % 11 == 5 rewritten to
#: a cookie banner)
COOKIE = "Accept all cookies to continue"
ROMAN = ("ii", "iv", "vi", "ix", "xi", "xiv", "xl", "lx", "cd", "mcm")


def is_errdoc(doc_id: int) -> bool:
    return doc_id % 13 == 0


def is_empty_doc(doc_id: int) -> bool:
    return doc_id % 41 == 7 and not is_errdoc(doc_id)


def is_boiler_doc(doc_id: int) -> bool:
    return doc_id % 4 == 1 and not is_errdoc(doc_id) and not is_empty_doc(doc_id)


_CONS = "bcdfghjkmnprstvwz"
_VOWS = "aeou"
LANG_MARKERS = {
    "en": ("the", "of", "and", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "les", "et", "dans", "est"),
    "de": ("der", "die", "und", "das", "ist"),
}


def vocabulary(n: int = 4000) -> np.ndarray:
    """Fixed synthetic vocabulary (independent of the seed)."""
    rng = np.random.default_rng(20240)
    syl = np.array([c + v for c in _CONS for v in _VOWS])
    markers = {w for ws in LANG_MARKERS.values() for w in ws}
    seen: dict[str, None] = {}
    while len(seen) < n:
        k = int(rng.integers(2, 4))
        w = "".join(syl[rng.integers(0, len(syl), k)])
        if w not in markers:
            seen[w] = None
    return np.array(list(seen), dtype=object)


def zipf_probs(n: int, s: float = 1.05) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _write_parts(table: pa.Table, dest: Path, name: str) -> None:
    dest.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, N_PARTS + 1).astype(int)
    for i in range(N_PARTS):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            dest / f"{name}-{i:02d}.parquet",
        )


# --------------------------------------------------------------------------
# extract_bulk: documents_raw with mixed span counts
# --------------------------------------------------------------------------


def gen_extract_bulk(seed: int, dest: Path) -> dict:
    """``raw/`` (documents_raw: doc_id string, spans list<struct>) and
    ``documents.parquet`` (doc_id, text) whose 8-token split is exactly
    ``raw``'s spans, so the DuckDB twins run on the same corpus.

    Span counts mix short (1-9), medium (10-39) and multi-part (40-159,
    more than one 10-page part) documents. Classes by doc_id: corrupt
    first span (errdoc), no spans at all (empty), cookie-banner spans
    (boilerplate); every fifth document ends in a folio line
    ("page N") and every fifth in a roman-numeral folio."""
    shape = np.random.default_rng(SHAPE_SEED)
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary()
    probs = zipf_probs(len(vocab))
    n = EXTRACT_DOCS
    size_class = shape.choice(3, size=n, p=[0.6, 0.3, 0.1])
    n_spans = np.where(
        size_class == 0,
        shape.integers(1, 10, n),
        np.where(size_class == 1, shape.integers(10, 40, n), shape.integers(40, 160, n)),
    )
    last_len = shape.integers(1, 9, n)  # tokens in the final span
    n_tok = (n_spans - 1) * 8 + last_len
    words = vocab[rng.choice(len(vocab), size=int(n_tok.sum()), p=probs)]
    folio_no = rng.integers(1, 400, n)
    roman = rng.integers(0, len(ROMAN), n)

    doc_ids, texts = [], []
    span_kind, span_text, span_off = [], [], []
    list_off = [0]
    pos = 0
    for d in range(n):
        toks = list(words[pos : pos + n_tok[d]])
        pos += n_tok[d]
        if d % 5 == 2:  # folio tail: the last span is exactly "page N"
            toks = toks[: (n_spans[d] - 1) * 8] + ["page", str(folio_no[d])]
        elif d % 5 == 3:  # roman-numeral folio as a one-token last span
            toks = toks[: (n_spans[d] - 1) * 8] + [ROMAN[roman[d]]]
        did = str(d)
        doc_ids.append(did)
        if is_empty_doc(d):
            list_off.append(list_off[-1])
            continue
        texts.append((d, " ".join(toks)))
        spans = [" ".join(toks[i : i + 8]) for i in range(0, len(toks), 8)]
        for off, s in enumerate(spans):
            kind = "raw"
            if is_errdoc(d) and off == 0:
                kind = "corrupt"
            elif is_boiler_doc(d) and off % 11 == 5:
                s = COOKIE
            span_kind.append(kind)
            span_text.append(s)
            span_off.append(off)
        list_off.append(list_off[-1] + len(spans))

    spans_arr = pa.ListArray.from_arrays(
        pa.array(list_off, pa.int32()),
        pa.StructArray.from_arrays(
            [
                pa.array(span_kind, pa.string()),
                pa.array(span_text, pa.string()),
                pa.nulls(len(span_text), pa.string()),
                pa.array(span_off, pa.int32()),
            ],
            names=["kind", "text", "media_ref", "offset"],
        ),
    )
    raw = pa.table({"doc_id": pa.array(doc_ids, pa.string()), "spans": spans_arr})
    _write_parts(raw, dest / "raw", "raw")
    docs = pa.table(
        {
            "doc_id": pa.array([d for d, _ in texts], pa.int64()),
            "text": pa.array([t for _, t in texts], pa.string()),
        }
    )
    pq.write_table(docs, dest / "documents.parquet")
    return {"records": n, "spans": len(span_text)}


# --------------------------------------------------------------------------
# ingest_files: a directory of txt / md / html / text-layer PDF files
# --------------------------------------------------------------------------


def _pdf_bytes(pages: list[list[str]]) -> bytes:
    """Graph-less text-layer PDF: one Flate content stream per page, one
    BT/ET text object per block (the fixture shape sources/pdf_text.py
    reads page by page)."""
    out = [b"%PDF-1.4\n"]
    for i, blocks in enumerate(pages):
        content = "\n".join(f"BT ({b}) Tj ET" for b in blocks).encode("latin-1")
        body = zlib.compress(content)
        out.append(
            b"%d 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n"
            % (i + 1, len(body))
            + body
            + b"\nendstream\nendobj\n"
        )
    out.append(b"%%EOF\n")
    return b"".join(out)


def gen_ingest_files(seed: int, dest: Path) -> dict:
    """``files/NNNNNN.{txt,md,html,pdf}`` plus ``expected.parquet``: the
    generator's own blocks per file (name, n_spans, markdown)."""
    shape = np.random.default_rng(SHAPE_SEED)
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary()
    cdf = np.cumsum(zipf_probs(len(vocab)))
    cdf[-1] = 1.0
    files = dest / "files"
    files.mkdir(parents=True)

    def sentence() -> str:
        k = int(shape.integers(5, 30))
        return " ".join(vocab[np.searchsorted(cdf, rng.random(k), side="right")]) + "."

    names, n_spans, markdowns = [], [], []
    for i in range(INGEST_FILES):
        ext = INGEST_EXTS[i % len(INGEST_EXTS)]
        name = f"{i:06d}.{ext}"
        if ext == "pdf":
            pages = [
                [sentence() for _ in range(int(shape.integers(*INGEST_PDF_BLOCKS)))]
                for _ in range(int(shape.integers(*INGEST_PDF_PAGES)))
            ]
            blocks = [b for p in pages for b in p]
            data = _pdf_bytes(pages)
        else:
            blocks = [sentence() for _ in range(int(shape.integers(2, 14)))]
            if ext == "md":
                blocks[0] = "# " + blocks[0].rstrip(".")
                data = "\n\n".join(blocks).encode()
            elif ext == "html":
                body = "".join(f"<p>{b}</p>" for b in blocks[1:])
                data = (
                    f"<html><body><h1>{blocks[0]}</h1>{body}</body></html>"
                ).encode()
            else:
                data = "\n\n".join(blocks).encode()
        (files / name).write_bytes(data)
        names.append(name)
        n_spans.append(len(blocks))
        markdowns.append("\n\n".join(blocks))
    pq.write_table(
        pa.table(
            {
                "name": pa.array(names, pa.string()),
                "n_spans": pa.array(n_spans, pa.int64()),
                "markdown": pa.array(markdowns, pa.string()),
            }
        ),
        dest / "expected.parquet",
    )
    return {"records": INGEST_FILES, "spans": int(sum(n_spans))}


# --------------------------------------------------------------------------
# training_set: Zipf text corpus with dups, near-dups, languages, eval split
# --------------------------------------------------------------------------

TRAIN_LANGS = ("en", "de", "fr", "es", "und")
TRAIN_LANG_P = (0.5, 0.15, 0.15, 0.1, 0.1)
EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.08
CONTAM_RATE = 0.03
JUNK_RATE = 0.04


def gen_training_set(seed: int, dest: Path) -> dict:
    """``corpus/`` (doc_id bigint, text) and ``eval.parquet`` (text).

    Per document: a language (its marker words make up ~25% of tokens;
    'und' has none), 30-159 Zipf tokens. Then, in id order: junk rows
    (short symbol strings the quality gate drops), exact duplicates of
    an earlier document (case / whitespace variants: same normalized
    fingerprint), near duplicates (1-2 substituted words, Jaccard of
    3-shingles well above 0.8) and contaminated rows (a 12-word passage
    of an eval text spliced in; found by 8-token decontamination)."""
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary()
    probs = zipf_probs(len(vocab))

    def body(k: int) -> list[str]:
        return list(vocab[rng.choice(len(vocab), size=k, p=probs)])

    evals = [" ".join(body(int(rng.integers(30, 60)))) for _ in range(TRAIN_EVAL)]
    texts: list[str] = []
    for d in range(TRAIN_DOCS):
        u = rng.random()
        if d > 10 and u < EXACT_DUP_RATE:
            src = texts[int(rng.integers(0, d))]
            texts.append(src.upper() if rng.random() < 0.5 else src.replace(" ", "  "))
            continue
        if d > 10 and u < EXACT_DUP_RATE + NEAR_DUP_RATE:
            toks = texts[int(rng.integers(0, d))].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(toks))
            continue
        if u > 1.0 - JUNK_RATE:
            texts.append(" ".join("#$%&"[int(rng.integers(0, 4))] * 4 for _ in range(4)))
            continue
        lang = TRAIN_LANGS[int(rng.choice(len(TRAIN_LANGS), p=TRAIN_LANG_P))]
        toks = body(int(rng.integers(30, 160)))
        if lang != "und":
            marks = LANG_MARKERS[lang]
            hit = rng.random(len(toks)) < 0.25
            pick = rng.integers(0, len(marks), len(toks))
            toks = [marks[p] if h else t for t, h, p in zip(toks, hit, pick)]
        if rng.random() < CONTAM_RATE / (1.0 - EXACT_DUP_RATE - NEAR_DUP_RATE):
            ev = evals[int(rng.integers(0, TRAIN_EVAL))].split()
            at = int(rng.integers(0, len(ev) - 12))
            cut = int(rng.integers(0, len(toks)))
            toks = toks[:cut] + ev[at : at + 12] + toks[cut:]
        texts.append(" ".join(toks))
    corpus = pa.table(
        {
            "doc_id": pa.array(np.arange(TRAIN_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    _write_parts(corpus, dest / "corpus", "corpus")
    pq.write_table(pa.table({"text": pa.array(evals, pa.string())}), dest / "eval.parquet")
    return {"records": TRAIN_DOCS}


# --------------------------------------------------------------------------
# vector_dedup: clustered 64-d embeddings with ~10% near-duplicates
# --------------------------------------------------------------------------

VEC_DUP_RATE = 0.10
VEC_NOISE = 0.9
VEC_DUP_NOISE = 0.02
#: cosine threshold for semantic dedup: near-duplicates sit at ~0.9995,
#: distinct members of one cluster below ~0.85 (VEC_NOISE), so no pair
#: lands near the threshold where float summation order could flip it
VEC_THRESHOLD = 0.95


def gen_vector_dedup(seed: int, dest: Path) -> dict:
    """``embeddings/`` (vec_id bigint, embedding list<float>): VEC_CLUSTERS
    unit centres with Zipf-uneven populations, members at VEC_NOISE,
    and VEC_DUP_RATE of all rows near-copies of another row. Ids are a
    random permutation, so the query block (vec_id < VEC_QUERIES) is a
    random sample of the corpus."""
    rng = np.random.default_rng([seed, 4])
    n_dup = int(VEC_N * VEC_DUP_RATE)
    n_base = VEC_N - n_dup
    centres = rng.standard_normal((VEC_CLUSTERS, VEC_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    w = zipf_probs(VEC_CLUSTERS, 0.8)
    member = rng.choice(VEC_CLUSTERS, size=n_base, p=w)
    base = centres[member] + VEC_NOISE * rng.standard_normal((n_base, VEC_DIM)) / np.sqrt(VEC_DIM)
    src = rng.integers(0, n_base, n_dup)
    scale = np.linalg.norm(base[src], axis=1, keepdims=True)
    dups = base[src] + VEC_DUP_NOISE * scale * rng.standard_normal((n_dup, VEC_DIM)) / np.sqrt(VEC_DIM)
    vecs = np.vstack([base, dups]).astype(np.float32)
    ids = rng.permutation(VEC_N).astype(np.int64)
    order = np.argsort(ids)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs[order].ravel()), VEC_DIM)
    table = pa.table(
        {
            "vec_id": pa.array(ids[order]),
            "embedding": emb.cast(pa.list_(pa.float32())),
        }
    )
    _write_parts(table, dest / "embeddings", "embeddings")
    return {"records": VEC_N, "queries": VEC_QUERIES}


GENERATORS = {
    "extract_bulk": gen_extract_bulk,
    "ingest_files": gen_ingest_files,
    "training_set": gen_training_set,
    "vector_dedup": gen_vector_dedup,
}


def code_digest(*modules) -> str:
    """Short digest of the given modules' source: cache keys change when
    the code that produced a cached file changes."""
    h = hashlib.sha256()
    for m in modules:
        h.update(Path(m.__file__).read_bytes())
    return h.hexdigest()[:12]


def stage(workload: str, seed: int, root: Path) -> Path:
    """Generate ``workload``'s inputs for ``seed`` under ``root`` once;
    later calls return the cached directory. The directory appears only
    when complete (rename of a private temp dir)."""
    import sys

    key = code_digest(sys.modules[__name__])
    final = root / "inputs" / f"{workload}-s{seed}-{key}"
    if (final / "meta.json").exists():
        return final
    tmp = final.with_name(f"{final.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    meta = GENERATORS[workload](seed, tmp)
    (tmp / "meta.json").write_text(json.dumps(meta, sort_keys=True))
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final
